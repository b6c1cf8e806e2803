package graft.examples

/** Regenerates `src/main/resources/graft/golden_mm.txt` lines after an
  * INTENTIONAL decode-kernel change (r18, VERDICT item 5): computes
  * [[graft.ext.GoldenHash]] canonical hashes for every kernel at each
  * given fixture dir and prints the `<sfTag> <query> <md5>` lines to
  * paste into the committed file.
  *
  * Usage: runMain graft.examples.GoldenWrite [sfDir ...]
  * (defaults: sf0.001 + sf0.01 — the two gate scales).
  */
object GoldenWrite {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
    val spark = graft.GraftSession()
    val lines = for (d <- dirs; name <- graft.ext.GoldenHash.kernels) yield {
      val h = graft.ext.GoldenHash.canonicalHash(
        graft.SparkEntry.queries(name)(spark, d))
      s"${graft.ext.GoldenHash.sfTag(d)} $name $h"
    }
    println("[goldenwrite-begin]")
    lines.foreach(println)
    println("[goldenwrite-end]")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/golden_mm_generated.txt"),
      lines.mkString("", "\n", "\n"))
    spark.stop()
  }
}
