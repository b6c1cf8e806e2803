package graft.examples

import org.apache.spark.sql.execution.ExplainMode

/** Print one or more registered queries' formatted plans (plan-hygiene
  * audits). Usage: runMain graft.examples.ExplainOne <name[,name...]>
  * [sfDir] [outDir [suffix]] — with outDir set, each plan is written to
  * outDir/<name>_<suffix>.txt instead of stdout (the plans/rNN
  * before/after artifact loop). */
object ExplainOne {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 2) Some(args(2)) else None
    val suffix = if (args.length > 3) args(3) else "plan"
    val spark = graft.GraftSession()
    names.foreach { name =>
      val q = graft.SparkEntry.defs.find(_.name == name)
        .getOrElse(sys.error(s"no such query: $name"))
      val plan = q.run(spark, sfDir).queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      outDir match {
        case Some(dir) =>
          new java.io.File(dir).mkdirs()
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$dir/${name}_$suffix.txt"), plan)
          System.err.println(s"[explain] wrote $dir/${name}_$suffix.txt")
        case None => println(plan)
      }
      spark.catalog.clearCache(); graft.ext.Caches.releaseAll(spark)
    }
    spark.stop()
  }
}
