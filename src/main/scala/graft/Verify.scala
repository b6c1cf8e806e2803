package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg (local iteration only; the driver passes 2):
    // comma-separated query names — restrict the dump + oracle json
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').toSet) else None
    def keep(n: String) = only.forall(_.contains(n))
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // several pipelines cache() intermediates; don't let 100+ queries'
      // caches accumulate and thrash the shared JVM
      spark.catalog.clearCache(); graft.ext.Caches.releaseAll(spark)
    }
    def q(s: String): String = Json.str(s)
    val json = SparkEntry.oracleSqlFor(spark, sfDir).filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Golden-hash gate for the six no-DuckDB decode kernels (r18,
    // VERDICT item 5): hash each kernel's full raw output against the
    // COMMITTED hashes in src/main/resources/graft/golden_mm.txt so a
    // JDK/ImageIO drift fails loudly instead of silently shifting
    // spec-only rows. `examples.GoldenWrite` regenerates the lines
    // after an INTENTIONAL kernel change.
    // The gate's contract (r18 ADVICE, medium): golden_check.json is
    // ALWAYS written when the gate is in scope — a crash writes an
    // explicit {"error": ...} record instead of silently leaving the
    // file absent, so downstream tooling can distinguish "gate failed"
    // from "gate never ran".
    if (only.isEmpty) try {
      val checks = graft.ext.GoldenHash.check(spark, sfDir)
      val gj = checks.map(c =>
        s"${q(c.name)}: {${q("computed")}: ${q(c.computed)}, " +
        s"${q("committed")}: ${c.expected.map(q).getOrElse("null")}, " +
        s"${q("match")}: ${c.ok}}").mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/golden_check.json"), gj)
      checks.foreach { c =>
        if (c.ok) println(s"[golden] ${c.name} ok")
        else System.err.println(s"[golden] ${c.name} MISMATCH: computed " +
          s"${c.computed}, committed ${c.expected.getOrElse("<absent>")}")
      }
    } catch { case e: Throwable =>
      System.err.println(s"[golden] check failed: ${e.getMessage}")
      try Files.writeString(Paths.get(s"$outDir/golden_check.json"),
        s"{${q("error")}: ${q(Option(e.getMessage).getOrElse(e.getClass.getName))}}")
      catch { case _: Throwable => () }
    }
    spark.stop()
  }
}
