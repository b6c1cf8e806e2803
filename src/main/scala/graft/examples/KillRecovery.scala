package graft.examples

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{GraftSession, Json}
import graft.examples.Probe._

/** Executor-loss recovery drills: actually LOSE an executor mid-job
  * under `local-cluster[2,8,12288]` — two REAL standalone executor JVMs,
  * not local[*] threads — by `kill -9`ing one at ~half the undisturbed
  * wall, and check the result against the undisturbed run's
  * order-insensitive fingerprint. The standalone master relaunches the
  * lost executor; what survives is the claim under test.
  *
  * `batch` — PageRank over the `graph_pagerank_scale` synthetic graph,
  * per-sweep cuts on (stride 1), so truncated lineage is always live
  * when the kill lands:
  *   - RELIABLE mode (`graft.checkpoint.dir`) must COMPLETE with the
  *     undisturbed hash: checkpoint files live on the shared filesystem
  *     and retried tasks re-read the cut lineage from disk.
  *   - LOCAL mode (localCheckpoint, the default) is expected to FAIL:
  *     localCheckpoint truncates lineage into the dead executor's block
  *     manager (the Spark-scaladoc caveat Checkpoints.scala documents).
  *     The failure is captured, not asserted; if Spark survives (the
  *     kill landed before a truncated block was needed) the run reports
  *     survived=true.
  *
  * `stream` — samsa's changelog design exists so a consumer that dies
  * mid-stream rebuilds its store and carries on. A staged keyed event
  * stream (events × factor, disjoint keys per replica, ~125k-row files,
  * 4 files per micro-batch) runs through [[graft.streaming.ChangeDetector]]
  * (RocksDB transformWithState, changelog checkpointing) to a parquet
  * sink. If task retry absorbs the loss the query completes in place;
  * if it dies, it is RESTARTED on the same checkpoint (the restart-replay
  * path). Either way the committed output (read through the sink's
  * `_spark_metadata` manifest, so orphaned attempt files are invisible)
  * and the final per-key state (read out-of-stream via the state data
  * source) must equal the undisturbed run's: bit-identity is the
  * exactly-once test. The stream ships a real Scala closure to the
  * executors, which deserialize it only from a JAR on their task
  * classloader: run `sbt package` first (SPARK_GRAFT_JAR overrides the
  * jar path).
  *
  * Usage: runMain graft.examples.KillRecovery [batch|stream] [factor]
  * (default batch, factor 100: 2M nodes / 12M directed edges; stream
  * mode replicates the events of the fixture dir in SPARK_GRAFT_SF_DIR —
  * 10M events over ~1.5M keys from sf0.01).
  * One [killrecovery-json] line at the end.
  */
object KillRecovery {

  /** PIDs of live executor JVMs (CoarseGrainedExecutorBackend children
    * of the in-process standalone workers). /proc scan — no shelling
    * out, no dependence on ps formatting. */
  private def executorPids(): Seq[Long] =
    Option(new java.io.File("/proc").listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isDirectory && f.getName.forall(_.isDigit))
      .flatMap { f =>
        try {
          val cmd = new String(Files.readAllBytes(
            java.nio.file.Paths.get(f.getPath, "cmdline")), "UTF-8")
          if (cmd.contains("CoarseGrainedExecutorBackend")) Some(f.getName.toLong)
          else None
        } catch { case _: Throwable => None }
      }

  private def firstLine(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName)
      .linesIterator.take(1).mkString.take(300)

  /** One drill run: wall seconds, the killed executor pid (-1 if none)
    * and the failure line ("" when the body completed). */
  final case class Run(wall: Double, killedPid: Long, failed: String)

  /** Runs `body`, SIGKILLing one executor JVM `killAtSec` into it from a
    * driver-side daemon thread (0 = undisturbed). */
  private def underKill(tag: String, killAtSec: Double)(body: => Unit): Run = {
    val killed = new java.util.concurrent.atomic.AtomicLong(-1L)
    val killer = new Thread(() =>
      try {
        Thread.sleep((killAtSec * 1000).toLong)
        executorPids().sorted.headOption match {
          case Some(pid) =>
            ProcessHandle.of(pid).ifPresent(h => { h.destroyForcibly(); () })
            killed.set(pid)
            println(f"[killrecovery] $tag: killed executor pid=$pid at $killAtSec%.1f s")
          case None =>
            println(s"[killrecovery] $tag: no executor pid found to kill")
        }
      } catch { case _: InterruptedException => () })
    killer.setDaemon(true)
    if (killAtSec > 0) killer.start()
    val t0 = System.nanoTime()
    val failed = try { body; "" } catch { case e: Throwable => firstLine(e) }
    killer.interrupt()
    Run((System.nanoTime() - t0) / 1e9, killed.get, failed)
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("batch")
    require(mode == "batch" || mode == "stream", s"mode must be batch|stream: $mode")
    val factor = if (args.length > 1) args(1).toInt else 100
    // executors inherit the forked driver's java.class.path via the
    // in-process Worker, but not its JDK17 module opens (spark-submit
    // would inject them); spark.* flags are forbidden in
    // extraJavaOptions, so only the opens go there
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar")
      .map(p => s"--add-opens $p=ALL-UNNAMED").mkString(" ")
    val modeConf =
      if (mode == "batch") Map(
        "spark.checkpoint.compress" -> "true",
        "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true")
      else {
        val appJar = sys.env.getOrElse("SPARK_GRAFT_JAR",
          new java.io.File("target/scala-2.13/samsaspark_2.13-0.1.0.jar").getAbsolutePath)
        require(new java.io.File(appJar).exists(),
          s"app jar not found at $appJar — run `sbt package` (or set SPARK_GRAFT_JAR)")
        Map("spark.jars" -> appJar)
      }
    // task/stage retry budgets stay at their defaults: they ARE the
    // in-place recovery path under test
    val spark = GraftSession(16, master = Some("local-cluster[2,8,12288]"),
      extra = modeConf + ("spark.executor.extraJavaOptions" -> addOpens))
    spark.conf.set("spark.sql.shuffle.partitions", if (mode == "batch") "64" else "32")
    val fields = if (mode == "batch") batchDrill(spark, factor) else streamDrill(spark, factor)
    println(s"""[killrecovery-json] {"mode":"$mode","factor":$factor,${fields.mkString(",")}}""")
    spark.stop()
  }

  /** Returns the drill's JSON fields. */
  private def batchDrill(spark: SparkSession, factor: Int): Seq[String] = {
    val ckptDir = new java.io.File(s"target/killrecovery-ckpt-$factor").getAbsolutePath
    val n = 20000L * factor
    def runOnce(ckptMode: String, killAtSec: Double): (Run, String) = {
      if (ckptMode == "reliable") spark.conf.set("graft.checkpoint.dir", ckptDir)
      else spark.conf.unset("graft.checkpoint.dir")
      spark.conf.set("graft.checkpoint.stride", "1")
      var hash = ""
      val r = underKill(ckptMode, killAtSec) {
        hash = distHash(graft.ext.Graph.pageRank(pageRankEdges(spark, n), iters = 6,
          edgeRowsHint = Some(6L * n)))
      }
      spark.catalog.clearCache(); graft.ext.Caches.releaseAll(spark)
      println(f"[killrecovery] $ckptMode kill@$killAtSec%.1f: wall=${r.wall}%.1f s " +
        s"hash=$hash killedPid=${r.killedPid} " +
        (if (r.failed.nonEmpty) s"FAILED: ${r.failed}" else "ok"))
      (r, hash)
    }
    // undisturbed runs first, local before reliable so JIT warmup does
    // not land on the reliable baseline
    val (localBase, localHash) = runOnce("local", 0)
    val (relBase, relHash) = runOnce("reliable", 0)
    require(relBase.failed.isEmpty && localBase.failed.isEmpty,
      "undisturbed runs must complete")
    require(relHash == localHash, s"modes disagree undisturbed: $localHash vs $relHash")
    val (relKill, relKillHash) = runOnce("reliable", relBase.wall * 0.5)
    val (locKill, _) = runOnce("local", localBase.wall * 0.5)
    val recovered = relKill.failed.isEmpty && relKillHash == relHash
    val localSurvived = locKill.failed.isEmpty
    println(f"[killrecovery] reliable recovered bit-identically: $recovered" +
      f" (wall ${relBase.wall}%.1f -> ${relKill.wall}%.1f s)")
    println(s"[killrecovery] local-mode job survived kill: $localSurvived" +
      (if (!localSurvived) s" (failed as documented: ${locKill.failed})" else ""))
    Seq(""""iters":6""",
      f""""localSec":${localBase.wall}%.1f""", f""""reliableSec":${relBase.wall}%.1f""",
      f""""reliableKillSec":${relKill.wall}%.1f""", s""""reliableRecovered":$recovered""",
      s""""reliableKillPid":${relKill.killedPid}""",
      s""""reliableKillError":${Json.str(relKill.failed)}""",
      f""""localKillSec":${locKill.wall}%.1f""", s""""localKillPid":${locKill.killedPid}""",
      s""""localSurvivedKill":$localSurvived""",
      s""""localKillError":${Json.str(locKill.failed)}""")
  }

  /** Returns the drill's JSON fields. */
  private def streamDrill(spark: SparkSession, factor: Int): Seq[String] = {
    import spark.implicits._
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("stream mode reads events.parquet from SPARK_GRAFT_SF_DIR"))
    val tmp = Files.createTempDirectory(s"streamkill-$factor").toString
    val ev = graft.Tables.events(spark, sfDir)
      .crossJoin(spark.range(factor.toLong).toDF("rep"))
      .select(
        (col("user_id") + col("rep") * lit(10000000L)).cast("string").as("key"),
        col("event_type").as("value"),
        lit("bench").as("topic"), lit(0).as("partition"),
        col("ts").cast("timestamp").as("ts"))
    val nEvents = ev.count()
    val nFiles = math.max(16L, nEvents / 125000L).toInt
    ev.repartition(nFiles).write.mode("overwrite").parquet(s"$tmp/in")
    println(s"[killrecovery] staged $nEvents events in $nFiles files")

    def awaitQuery(ckpt: String, outDir: String): Unit =
      graft.streaming.ChangeDetector(spark.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 4).parquet(s"$tmp/in")
          .as[graft.streaming.KeyedRecord]).toDF()
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()

    /** (run, output hash, state hash, first error when restarted). */
    def runOnce(name: String, killAtSec: Double): (Run, String, String, String) = {
      val ckpt = s"$tmp/ckpt-$name"
      val outDir = s"$tmp/out-$name"
      var died = ""
      val r = underKill(name, killAtSec) {
        try awaitQuery(ckpt, outDir)
        catch { case e: Throwable =>
          // the in-place retry budget did not absorb the loss: restart on
          // the SAME checkpoint — the commit log replays the uncommitted
          // batch, RocksDB reloads its last committed version
          died = firstLine(e)
          println(s"[killrecovery] $name: query died ($died); restarting on same checkpoint")
          awaitQuery(ckpt, outDir)
        }
      }
      val outHash = distHash(spark.read.parquet(outDir)
        .select("key", "previous", "current", "change"))
      val stateHash = distHash(graft.streaming.StatefulStore
        .readState(spark, ckpt, stateVarName = "lastValue")
        .select(col("key.value").as("k"), col("value.value").as("v")))
      println(f"[killrecovery] $name: wall=${r.wall}%.1f s out=$outHash " +
        s"state=$stateHash restarted=${died.nonEmpty}" +
        (if (r.failed.nonEmpty) s" err=${r.failed}" else ""))
      (r, outHash, stateHash, died)
    }

    val (base, baseOut, baseState, _) = runOnce("base", 0)
    require(base.failed.isEmpty, s"undisturbed run must complete: ${base.failed}")
    val (kill, killOut, killState, died) = runOnce("kill", base.wall * 0.5)
    val outMatch = killOut == baseOut
    val stateMatch = killState == baseState
    println(s"[killrecovery] output identical: $outMatch; state identical: $stateMatch " +
      f"(wall ${base.wall}%.1f -> ${kill.wall}%.1f s)")
    val killError = Seq(died, kill.failed).filter(_.nonEmpty).mkString(" | restart: ")
    Seq(s""""events":$nEvents""",
      f""""baseSec":${base.wall}%.1f""", f""""killSec":${kill.wall}%.1f""",
      s""""killedPid":${kill.killedPid}""",
      s""""survivedInPlace":${died.isEmpty}""", s""""restarted":${died.nonEmpty}""",
      s""""outMatch":$outMatch""", s""""stateMatch":$stateMatch""",
      s""""killError":${Json.str(killError)}""")
  }
}
