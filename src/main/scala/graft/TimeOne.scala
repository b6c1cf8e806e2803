package graft

/** Times a single registered query (same GraftSession + noop sink as
  * Bench, caches cleared between reps) — the per-query iteration loop
  * for performance work.
  * Usage: runMain graft.TimeOne <queryName> [sfDir] [reps]
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 1
    val spark = GraftSession()
    // comma-separated names share one JVM (a fork costs ~30 s; a batch
    // of rows in one session is the practical iteration loop)
    name.split(",").map(_.trim).filter(_.nonEmpty).foreach { n =>
      val q = SparkEntry.defs.find(_.name == n)
        .getOrElse(sys.error(s"no such query: $n"))
      var best = Double.MaxValue
      (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
        val s = (System.nanoTime() - t0) / 1e9
        best = math.min(best, s)
        spark.catalog.clearCache(); graft.ext.Caches.releaseAll(spark)
        println(f"[timeone] $n rep $i: $s%.2f s")
      }
      println(f"[timeone] $n BEST: $best%.2f s")
    }
    spark.stop()
  }
}
