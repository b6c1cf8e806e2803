package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.api.{SamsaStream, StoreType}
import graft.io.ChangelogSink
import graft.streaming.{KeyedRecord, StatefulStore}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** One benchmark run of one workload in one JVM.
  *
  * Arguments are `key=value` pairs (see `run.py`, which generates the
  * inputs and computes the reported metrics). The harness times the
  * program's public entry points, dumps what the correctness checks need,
  * and writes one JSON result file. Lines starting with `@@` on stdout
  * tell `run.py` where the run is: `@@READY` ends set-up, `@@DONE` ends
  * the run.
  */
object Harness {
  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    new Harness(a).run()
  }

  val IterativeQueries: Seq[String] = Seq(
    "ext_entity_components", "ext_label_prop", "ext_pagerank")

  val recordSchema = Encoders.product[KeyedRecord].schema
}

final class Harness(a: Map[String, String]) {
  private def arg(k: String): String = a.getOrElse(k, sys.error(s"missing argument $k"))
  private val workload = arg("workload")
  private val work = arg("work")
  private val seconds = arg("seconds").toDouble
  private val trace = arg("trace") == "1"
  private val cores = arg("cores").toInt
  private val seed = arg("seed").toLong

  private val spans = new Spans
  private val res = mutable.LinkedHashMap[String, Any]()
  private val layers = mutable.LinkedHashMap[String, Double]()
  private val errors = mutable.ArrayBuffer[String]()
  private var attempted = 0L
  private var counters: Option[LayerCounters] = None
  private var codegen: Option[CodegenFallbacks] = None
  private var spark: SparkSession = _

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9
  private def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  private def session(n: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.maxPlanStringLength", "1000000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      // Spark's status store keeps job, stage and SQL history for a UI that
      // is off; bounded, it stops adding seed-dependent bulk to the heap.
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def fail(what: String, e: Throwable): Unit =
    errors += s"$what: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(300)}"

  /** Counter snapshot after all pending listener events are delivered. */
  private def snap(): Map[String, Long] = counters.fold(Map.empty[String, Long]) { c =>
    ListenerBusDrain(spark.sparkContext); c.snapshot()
  }

  private def say(line: String): Unit = { println(s"@@$line"); System.out.flush() }

  def run(): Unit = {
    spark = session(cores)
    if (trace) {
      counters = Some(LayerCounters.attach(spark))
      codegen = Some(CodegenFallbacks.attach())
    }
    try workload match {
      case "iterative" => iterative()
      case "state_ingest" => stateIngest()
      case w => sys.error(s"unknown workload $w")
    } catch { case e: Throwable => fail("workload", e); e.printStackTrace() }
    res("attempted") = attempted
    res("errors") = errors.toSeq
    res("layers") = layers
    noteLiveHeap()
    res("heap_live_mb") = liveHeapMb
    layers("jvm.rss_peak_mb") = rssPeakMb()
    Files.writeString(Paths.get(arg("out")), Json.of(res).render)
    if (trace) Files.writeString(Paths.get(s"$work/spans.json"), spans.toJson.render)
    spark.stop()
    say("DONE")
  }

  /** The largest heap still in use after a full collection, over the
    * points where the run calls this (never inside a timed region): what
    * the program keeps alive. The resident set instead follows how far the
    * collector let the heap grow, which varies from run to run. */
  private var liveHeapMb = 0.0
  private def noteLiveHeap(): Unit = {
    // Spark's ContextCleaner drops broadcast and shuffle blocks on its own
    // thread once a collection finds them unreachable; the second
    // collection frees what it dropped.
    System.gc()
    Thread.sleep(500)
    System.gc()
    liveHeapMb = liveHeapMb max
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  // ------------------------------------------------------------ iterative

  /** Runs one query through `QueryDef.run` into the noop sink. Returns its
    * wall time in ms and the build (QueryDef.run) part in ms, or None if it
    * threw: a failed query is never timed. */
  private def timeQuery(q: graft.QueryDef, data: String): Option[(Double, Double)] =
    spans(q.name) {
      attempted += 1
      val t0 = now()
      try {
        val df = spans("build")(q.run(spark, data))
        val t1 = now()
        spans("execute")(df.write.format("noop").mode("overwrite").save())
        val t2 = now()
        if (trace) recordPhases()
        Some((ms(t0, t2), ms(t0, t1)))
      } catch { case e: Throwable => fail(q.name, e); None }
      finally release()
    }

  private def release(): Unit = {
    spark.catalog.clearCache()
    graft.ext.Caches.releaseAll(spark)
  }

  /** Catalyst phases of the actions just run, as spans under the open one. */
  private def recordPhases(): Unit = {
    ListenerBusDrain(spark.sparkContext)
    val off = System.currentTimeMillis() * 1000000L - now()
    counters.foreach(_.takePhases().foreach { case (p, s, e) =>
      spans.record(p, s * 1000000L - off, e * 1000000L - off)
    })
  }

  /** Set-up dumps every result; then at least `min_passes` passes over the
    * queries, in a seeded order, are timed; then `ext_label_prop` is timed
    * after each session restart. */
  private def iterative(): Unit = {
    val names = Harness.IterativeQueries
    val data = arg("data")
    val defs = SparkEntry.defs.filter(d => names.contains(d.name)).map(d => d.name -> d).toMap
    val missing = names.filterNot(defs.contains)
    require(missing.isEmpty, s"queries not in the registry: ${missing.mkString(",")}")
    val order = new scala.util.Random(seed).shuffle(names)

    // Set-up: one pass in the timed order that writes every result for the
    // oracle comparison. It also warms the JVM on the timed sequence of
    // queries; it is never timed.
    spans("setup") {
      val oracle = names.map { n =>
        val q = defs(n)
        n -> q.oracle.orElse(q.oracleGen.map(_(spark, data)))
      }
      Files.writeString(Paths.get(s"$work/oracle_sql.json"), Json.of(oracle.toMap).render)
      order.foreach { n =>
        try defs(n).run(spark, data).write.mode("overwrite").parquet(s"$work/dump/$n")
        catch { case e: Throwable => fail(s"dump $n", e) }
        finally release()
      }
    }
    say("READY")

    val lat = names.map(_ -> mutable.ArrayBuffer[Double]()).toMap
    val passes = mutable.ArrayBuffer[Double]()
    val minPasses = arg("min_passes").toInt
    var buildMs = 0.0
    val c0 = snap(); val g0 = codegen.fold(0L)(_.count.get)
    val t0 = now()
    do {
      val p0 = now()
      spans("pass")(order.foreach { n =>
        timeQuery(defs(n), data).foreach { case (t, b) => lat(n) += t; buildMs += b }
      })
      passes += secs(p0, now())
    } while (passes.size < minPasses || secs(t0, now()) < seconds)
    val wall = secs(t0, now())
    noteLiveHeap()
    res("query_ms") = lat.map { case (n, l) => n -> l.toSeq }
    res("work_units") = lat.values.map(_.size).sum
    res("window_s") = wall
    if (trace) {
      val d = LayerCounters.diff(c0, snap())
      val n = passes.size.toDouble
      layers("queries.build_s") = buildMs / 1e3 / n
      layers("catalyst.codegen_fallbacks") = (codegen.fold(0L)(_.count.get) - g0) / n
      engineLayers(d, wall, n)
    }

    // Recovery: a new session in this JVM, then the probe query until its
    // result is written. A recovery that throws is not timed. The first
    // one warms the session start-up and counts as set-up time.
    val probe = defs("ext_label_prop")
    def recover(): Option[Double] = spans("recover") {
      spark.stop()
      val r0 = now()
      spark = session(cores)
      try {
        probe.run(spark, data).write.format("noop").mode("overwrite").save()
        Some(secs(r0, now()))
      } catch { case e: Throwable => fail(s"recover ${probe.name}", e); None }
      finally release()
    }
    val wu0 = now()
    recover()
    res("warm_s") = secs(wu0, now())
    res("recover_s") = (0 until 2).flatMap { _ => attempted += 1; recover() }

    if (trace) baseline1(passes.sum / passes.size) {
      val p0 = now()
      order.foreach(n => timeQuery(defs(n), data))
      secs(p0, now())
    }
  }

  /** Scheduler, executor and shuffle layers from a counter delta, per
    * unit (a pass, or the whole measured phase when `per` is 1). */
  private def engineLayers(d: Map[String, Long], wallS: Double, per: Double): Unit = {
    def g(k: String) = d.getOrElse(k, 0L).toDouble
    layers("catalyst.analysis_ms") = g("analysis_ms") / per
    layers("catalyst.optimization_ms") = g("optimization_ms") / per
    layers("catalyst.planning_ms") = g("planning_ms") / per
    layers("sched.jobs") = g("jobs") / per
    layers("sched.stages") = g("stages") / per
    layers("sched.tasks") = g("tasks") / per
    layers("exec.task_run_s") = g("task_run_ms") / 1e3 / per
    layers("exec.task_cpu_s") = g("task_cpu_ns") / 1e9 / per
    layers("exec.gc_s") = g("gc_ms") / 1e3 / per
    layers("exec.busy_frac") = g("task_run_ms") / 1e3 / (wallS * cores)
    layers("shuffle.write_mb") = g("shuffle_write_b") / 1e6 / per
    layers("shuffle.read_mb") = g("shuffle_read_b") / 1e6 / per
    layers("shuffle.spill_mb") = g("spill_b") / 1e6 / per
  }

  /** The single-threaded baseline: `body` repeats work timed earlier at
    * local[cores] (`reference` seconds) on a fresh local[1] session and
    * returns its own seconds. */
  private def baseline1(reference: Double)(body: => Double): Unit = spans("baseline_1core") {
    spark.stop()
    spark = session(1)
    counters = None
    val t = body
    layers("baseline_1core.work_s") = t
    layers("baseline_1core.slowdown") = t / reference
  }

  /** Micro-batches as spans, from each progress report's trigger time and
    * `durationMs`; the phases are laid out in execution order. */
  private def batchSpans(bs: Seq[StreamingQueryProgress]): Unit = if (trace) {
    val off = System.currentTimeMillis() * 1000000L - now()
    bs.foreach { p =>
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L - off
      val id = spans.record(s"batch ${p.batchId}", t0,
        t0 + p.durationMs.get("triggerExecution").toLong * 1000000L)
      var t = t0
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
        .foreach { k =>
          val d = Option(p.durationMs.get(k)).fold(0L)(_.toLong) * 1000000L
          spans.recordUnder(id, k, t, t + d); t += d
        }
    }
  }

  // ---------------------------------------------------------------- state

  private def readStream(src: String): DataFrame =
    spark.readStream.schema(Harness.recordSchema).option("maxFilesPerTrigger", 1L).parquet(src)

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    }

  private def treeBytes(p: Path): Long =
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  private def move(from: String, to: String): Unit =
    Files.move(Paths.get(from), Paths.get(to), StandardCopyOption.ATOMIC_MOVE)

  private val ioNs = new java.util.concurrent.atomic.AtomicLong

  private def stream(): SamsaStream = {
    val ss = SamsaStream(Seq("bench"), "perfbench", "bench", store = StoreType.RocksDB)
    ss.configure(spark, arg("state_bytes").toLong)
    ss
  }

  private def startIngest(ss: SamsaStream, src: String, ckpt: String, changelog: String): StreamingQuery = {
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val write = ChangelogSink.toParquet(changelog, "bench", parts)
    val sink: (Dataset[Row], Long) => Unit = (b, id) => {
      val t0 = now(); write(b, id); ioNs.addAndGet(now() - t0)
    }
    ss.materialize(ss.recordsFrom(readStream(src))).toDF()
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch(sink)
      .start()
  }

  /** Starts a query, waits until it has committed every available file,
    * stops it. Returns (seconds from start() to that commit, progress). */
  private def runToEnd(start: => StreamingQuery): (Double, Seq[StreamingQueryProgress]) = {
    val t0 = now()
    val q = start
    try { q.processAllAvailable(); (secs(t0, now()), q.recentProgress.toSeq) }
    finally q.stop()
  }

  private def stateIngest(): Unit = {
    val ss = stream()
    val restores = arg("restores").toInt
    // Set-up warms the timed drain on inputs of its own: a drain, then a
    // restore from a copy of its checkpoint. Without it the JIT is still
    // compiling through the timed phases, and a slower host stretches that
    // warm-up as well as the work.
    spans("setup") {
      val w = runToEnd(startIngest(ss, s"$work/warm", s"$work/ckpt_warm", s"$work/changelog_warm"))
      batchSpans(w._2)
      copyTree(Paths.get(s"$work/ckpt_warm"), Paths.get(s"$work/ckpt_warm_r"))
      move(s"$work/warm_extra/w.parquet", s"$work/warm/w.parquet")
      batchSpans(runToEnd(
        startIngest(ss, s"$work/warm", s"$work/ckpt_warm_r", s"$work/changelog_warm_r"))._2)
    }
    say("READY")

    val c0 = snap(); ioNs.set(0)
    val (drainS, prog) = spans("drain") {
      val r = runToEnd(startIngest(ss, s"$work/in", s"$work/ckpt", s"$work/changelog"))
      batchSpans(r._2); r
    }
    noteLiveHeap()
    val d = LayerCounters.diff(c0, snap())
    val batches = prog.filter(_.numInputRows > 0)
    attempted += batches.size
    res("batch_rows") = batches.map(_.numInputRows)
    res("batch_ms") = batches.map(_.durationMs.get("triggerExecution").toDouble)
    res("ckpt_mb") = treeBytes(Paths.get(s"$work/ckpt")) / 1e6
    if (trace) {
      engineLayers(d, drainS, 1.0)
      streamLayers(batches)
      layers("io.changelog_write_ms") = ioNs.get / 1e6 / batches.size
      layers("io.changelog_rows") =
        spark.read.parquet(s"$work/changelog").count().toDouble / batches.size
    }

    // Each restart takes a fresh copy of the drained checkpoint and one new
    // file, so every restore replays the same changelog. Returns the seconds
    // from start() to the new file's commit, and that batch's progress.
    def restore(r: Int): (Double, Seq[StreamingQueryProgress]) = {
      val ck = s"$work/ckpt_r$r"
      copyTree(Paths.get(s"$work/ckpt"), Paths.get(ck))
      move(s"$work/extra/e$r.parquet", s"$work/in/e$r.parquet")
      val (t, p) = spans("restore") {
        val x = runToEnd(startIngest(ss, s"$work/in", ck, s"$work/changelog_r$r"))
        batchSpans(x._2); x
      }
      move(s"$work/in/e$r.parquet", s"$work/extra/e$r.parquet")
      (t, p.filter(_.numInputRows > 0).take(1))
    }
    // Point lookups through SamsaStream.query on the drained checkpoint,
    // cycling through the key list. A lookup that throws is not timed; its
    // slot in `found` marks it.
    val keys = Files.readAllLines(Paths.get(s"$work/lookup_keys.txt")).asScala.toSeq
    val found = mutable.ArrayBuffer[Any]()
    val lat = mutable.ArrayBuffer[Double]()
    val lookupCounts = mutable.Map[String, Long]().withDefaultValue(0L)
    def lookup(): Unit = spans("lookup") {
      val k = keys(found.size % keys.size)
      attempted += 1
      val c = snap()
      val t0 = now()
      try {
        val v = ss.query(spark, s"$work/ckpt", k).orNull
        lat += ms(t0, now())
        found += v
      } catch { case e: Throwable => fail(s"lookup $k", e); found += "<error>" }
      LayerCounters.diff(c, snap()).foreach { case (n, x) => lookupCounts(n) += x }
    }

    // The JIT is still speeding both paths up after the drain, so one
    // restore (of its own new file) and `warm_lookups` lookups run first,
    // untimed; their time counts as set-up.
    val wu0 = now()
    spans("warm-up") {
      restore(restores)
      keys.take(arg("warm_lookups").toInt).foreach(k => ss.query(spark, s"$work/ckpt", k))
    }
    res("warm_s") = secs(wu0, now())

    // Restores and lookups alternate: each restore is followed by its share
    // of `seconds` of lookups. The host's speed drifts within a run, and
    // spreading both metrics' samples over the whole phase averages that
    // drift instead of sampling one stretch of it.
    val restoreProg = mutable.ArrayBuffer[StreamingQueryProgress]()
    val recover = mutable.ArrayBuffer[Double]()
    var lookupS = 0.0
    (0 until restores).foreach { r =>
      attempted += 1
      val (t, p) = restore(r)
      recover += t
      restoreProg ++= p
      val s0 = now()
      do lookup() while (lookupS + secs(s0, now()) < seconds * (r + 1) / restores)
      lookupS += secs(s0, now())
    }
    res("recover_s") = recover.toSeq
    res("ops_ms") = lat.toSeq
    res("lookups") = found.toSeq
    if (trace) {
      restoreLayers(restoreProg.toSeq)
      layers("lookup.jobs") = lookupCounts("jobs").toDouble / found.size
      layers("lookup.rows_examined") = lookupCounts("scan_rows").toDouble / found.size
    }

    StatefulStore.readState(spark, s"$work/ckpt")
      .select(col("key.value").as("key"), col("value.value").as("value"))
      .write.parquet(s"$work/final_state")

    if (trace) baseline1(drainS) {
      val s1 = stream()
      runToEnd(startIngest(s1, s"$work/in", s"$work/ckpt_1core", s"$work/changelog_1core"))._1
    }
  }

  // ------------------------------------------------------- stream layers

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.size / 2) }

  private def custom(p: StreamingQueryProgress, k: String): Double =
    p.stateOperators.flatMap(o => Option(o.customMetrics.get(k)).map(_.toDouble)).sum

  private def streamLayers(bs: Seq[StreamingQueryProgress]): Unit = {
    def dur(k: String) = mean(bs.map(p => Option(p.durationMs.get(k)).fold(0.0)(_.toDouble)))
    Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
      .foreach(k => layers(s"mb.${k}_ms") = dur(k))
    layers("mb.batches") = bs.size
    val ms = bs.map(_.durationMs.get("triggerExecution").toDouble)
    layers("mb.batch_p50_ms") = median(ms)
    layers("mb.batch_p90_ms") = if (ms.isEmpty) 0.0 else ms.sorted.apply((ms.size * 9) / 10 min (ms.size - 1))
    layers("io.source_rows_per_batch") = mean(bs.map(_.numInputRows.toDouble))
    val last = bs.lastOption
    layers("state.rows") = last.fold(0.0)(_.stateOperators.map(_.numRowsTotal).sum.toDouble)
    layers("state.mem_mb") = last.fold(0.0)(_.stateOperators.map(_.memoryUsedBytes).sum / 1e6)
    layers("state.commit_ms") = mean(bs.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble))
    layers("state.update_ms") = mean(bs.map(_.stateOperators.map(_.allUpdatesTimeMs).sum.toDouble))
    layers("rocksdb.changelog_commit_ms") = mean(bs.map(custom(_, "rocksdbChangeLogWriterCommitLatencyMs")))
    layers("rocksdb.file_sync_ms") = mean(bs.map(custom(_, "rocksdbCommitFileSyncLatencyMs")))
    layers("rocksdb.put_count") = mean(bs.map(custom(_, "rocksdbPutCount")))
    layers("rocksdb.get_count") = mean(bs.map(custom(_, "rocksdbGetCount")))
    val hit = bs.map(custom(_, "rocksdbReadBlockCacheHitCount")).sum
    val miss = bs.map(custom(_, "rocksdbReadBlockCacheMissCount")).sum
    layers("rocksdb.cache_hit_ratio") = if (hit + miss > 0) hit / (hit + miss) else 0.0
    layers("rocksdb.sst_mb") = last.fold(0.0)(custom(_, "rocksdbSstFileSize") / 1e6)
  }

  private def restoreLayers(first: Seq[StreamingQueryProgress]): Unit = {
    layers("rocksdb.load_ms") = mean(first.map(custom(_, "rocksdbLoadLatencyMs")))
    layers("rocksdb.replay_changelog_ms") = mean(first.map(custom(_, "rocksdbReplayChangeLogLatencyMs")))
    layers("rocksdb.replay_files") = mean(first.map(custom(_, "rocksdbNumReplayChangelogFiles")))
  }
}
