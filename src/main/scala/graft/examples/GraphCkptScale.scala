package graft.examples

import org.apache.spark.sql.DataFrame

import graft.GraftSession
import graft.examples.Probe._
import graft.ext.Checkpoints.CutOps

/** Reliable-checkpoint mode over the ITERATIVE graph family at scale
  * (r18, VERDICT r17 item 2). r17 priced the `graft.checkpoint.dir`
  * toggle on the 5-cut corpus-build composite only; the multi-sweep
  * graph jobs are what an executor loss actually kills — PageRank's
  * per-sweep cuts, connected components' ~10 label-propagation rounds,
  * Borůvka's ceil(log2 n)+1 contraction rounds each truncate lineage
  * into (by default) unrecoverable block-manager blocks. This main
  * runs the three shapes at the given factor in BOTH modes in one
  * session and reports wall, the checkpoint-directory footprint after
  * each reliable job (with `spark.cleaner.referenceTracking.
  * cleanCheckpoints=true`, so growth across rounds shows whether the
  * cleaner keeps up), and an order-insensitive distributed hash of
  * each result so bit-identity across modes is CHECKED at scale, not
  * assumed from the fixture-scale CheckpointModeSpec pin.
  *
  * Rows: PageRank over the `graph_pagerank_scale` synthetic graph at
  * `factor` (20000·f nodes, 6·n directed edges — 120M at 1000×; the
  * REGISTRY ext_pagerank's orders⋈lineitem prologue at 1000× is a
  * 600M-row batch join whose shuffle spill exceeds this box's disk —
  * measured: SPILL_OUT_OF_MEMORY at 60 GB free — and the prologue is
  * a one-shot batch stage, not the iterative surface the checkpoint
  * toggle protects; the sweeps are identical either way), a planted
  * 1000-chains + 8-cliques CC graph at 5M nodes (the `cc_scale`
  * discipline — ext_entity_components' operator; its registry row's ER
  * candidate join is brand-blocked and replicas grow blocks, so the
  * planted graph is the honest scale vehicle for the CC loop), and
  * `ext_mst_backbone` (registry row over the replicated lineitem
  * fixture; the session-cached kNN-fixture prologue is warmed once
  * untimed so both modes measure the Borůvka contraction, which is
  * where the per-round cuts live).
  *
  * Usage: runMain graft.examples.GraphCkptScale [factor] [partitions]
  * [local|reliable|both] (default 1000 / data-scaled / both; fixtures
  * under target/sfx<factor>). One [graphckpt-json] line per run. For
  * the adjudicated tax, run each mode in its OWN JVM (see the mode
  * note in main) and compare the per-mode minima across the two logs.
  */
object GraphCkptScale {

  def main(args: Array[String]): Unit = {
    val factor = if (args.nonEmpty) args(0).toInt else 1000
    val src = "/root/testdata/sf0.1"
    val out = s"target/sfx$factor"
    // Shuffle partitions SCALE WITH THE DATA (arg 2 overrides): at
    // factor 1000 the pagerank pairs-distinct hash-aggregates ~600M
    // rows — at fixture-scale partition counts that is ~19M rows per
    // task and 32 concurrent spill-merges in an 8g heap (measured OOM
    // in HashAggregateExec.finishAggregate). 256 partitions is the
    // cluster-shaped setting (partitions ∝ data, AQE coalesces the
    // small stages back down) and keeps every task's working set
    // bounded at the same heap.
    val cpus = GraftSession.defaultCpus()
    val shufflePartitions =
      if (args.length > 1) args(1).toInt
      else math.max(cpus, if (factor >= 100) 256 else cpus)
    // lz4 the reliable-checkpoint stream and let the cleaner reclaim
    // it — core confs, fixed at session build
    val spark = GraftSession(cpus, extra = Map(
      "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true",
      "spark.checkpoint.compress" -> "true"))
    spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)

    ScaleStress.buildLineitemFixture(spark, src, out, factor)
    val ckptDir = s"target/relckpt-graph-$factor"

    // warm the session-cached kNN fixture once (untimed) so both modes
    // measure the Borůvka contraction, not the shared prologue
    try {
      noop(graft.SparkEntry.queries("ext_mst_backbone")(spark, out))
      println("[graphckpt] mst kNN fixture warmed")
    } catch { case e: Throwable =>
      System.err.println(s"[graphckpt] mst warm failed: ${e.getMessage}")
    }
    graft.ext.Caches.releaseAll(spark); spark.catalog.clearCache()

    // (sec is MIN over passes per (row, mode) — see pass note below)
    val results = scala.collection.mutable.LinkedHashMap[
      (String, String), (Double, String, Long)]()
    // Mode selection (r19): arg 3 restricts the run to ONE mode so the
    // A/B can run in SEPARATE JVMs. The r18 same-JVM two-pass protocol
    // handled warmup (pass 1 warms, pass 2 reports) but not SESSION
    // AGING: measured r19, the same pagerank row ran 59.5 → 122 → 118
    // → 147 s across one session REGARDLESS of mode (ckpt bytes 0 in
    // all four) — accumulated block-manager/page-cache state swamped
    // the toggle. One JVM per mode + min-over-passes per mode is the
    // same discipline as the bench fold (separate JVMs, minima).
    // Cross-JVM identity is checked on the hashes carried in the JSON.
    val modes =
      if (args.length > 2 && args(2) != "both") Seq(args(2))
      else Seq("local", "reliable")
    for (pass <- 1 to 2; mode <- modes) {
      if (mode == "reliable")
        spark.conf.set("graft.checkpoint.dir", ckptDir)
      else spark.conf.unset("graft.checkpoint.dir")

      def run(row: String)(mk: => DataFrame): Unit = {
        val t0 = System.nanoTime()
        val h = distHash(mk)
        val sec = (System.nanoTime() - t0) / 1e9
        val ck = dirBytes(ckptDir)
        // identity must hold across passes AND (same-JVM) modes
        results.get((row, "local")).foreach { case (_, h0, _) =>
          require(h0 == h, s"$row: result hash drifted ($h0 -> $h)") }
        val best = results.get((row, mode)).map(_._1.min(sec)).getOrElse(sec)
        results((row, mode)) = (best, h, ck)
        println(f"[graphckpt] $row%-22s $mode%-8s pass$pass $sec%8.1f s  " +
          f"hash=$h  ckptMiB=${ck / 1024 / 1024}")
        graft.ext.Caches.releaseAll(spark); spark.catalog.clearCache()
      }

      run("pagerank_synth") {
        // 6n directed edges, known exactly (ADVICE r19: the hint keeps
        // the >=10M-row pin single-copy instead of the two-phase
        // repartition that transiently doubled peak storage)
        graft.ext.Graph.pageRank(pageRankEdges(spark, 20000L * factor), iters = 3,
          edgeRowsHint = Some(6L * 20000L * factor))
      }
      run("cc_planted_5m") {
        // edges are loop-invariant: pinned (lineage kept), not cut
        graft.ext.Dedup.connectedComponents(
          plantedCcEdges(spark, 2500000L).pinInvariant())
      }
      run("ext_mst_backbone") {
        graft.SparkEntry.queries("ext_mst_backbone")(spark, out)
      }
    }

    val rows = Seq("pagerank_synth", "cc_planted_5m", "ext_mst_backbone")
    val js = rows.map { r =>
      val cells = modes.flatMap { m =>
        results.get((r, m)).map { case (sec, h, ck) =>
          f""""${m}Sec":$sec%.1f,"${m}Hash":"$h","${m}CkptMiB":${ck / 1024 / 1024}"""
        }
      }
      val tax = for {
        (ls, lh, _) <- results.get((r, "local"))
        (rs, rh, _) <- results.get((r, "reliable"))
      } yield {
        val same = lh == rh
        println(f"[graphckpt] $r%-22s local $ls%7.1f s  reliable $rs%7.1f s " +
          f"(tax ${100 * (rs - ls) / ls}%+.1f%%)  identical=$same")
        s""""identical":$same"""
      }
      s""""$r":{${(cells ++ tax).mkString(",")}}"""
    }.mkString("{", ",", "}")
    println(s"""[graphckpt-json] {"factor":$factor,"modes":"${modes.mkString("+")}","rows":$js}""")
    spark.stop()
  }
}
