package perfbench

import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a timed region of the benchmark, nested under `parent`. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** In-memory span recorder. Spans are written once, when the run ends. */
final class Spans {
  private val done = mutable.ArrayBuffer[Span]()
  private val open = mutable.Stack[(Int, String, Long)]()
  private var next = 1

  def apply[T](name: String)(body: => T): T = {
    val id = next; next += 1
    open.push((id, name, System.nanoTime()))
    try body
    finally {
      val (_, _, t0) = open.pop()
      add(id, name, t0, System.nanoTime())
    }
  }

  /** A span measured elsewhere (a Catalyst phase, a micro-batch from its
    * progress report), placed under the innermost open span. */
  def record(name: String, startNs: Long, endNs: Long): Int = {
    val id = next; next += 1
    add(id, name, startNs, endNs); id
  }

  def recordUnder(parent: Int, name: String, startNs: Long, endNs: Long): Unit = {
    done += Span(next, parent, name, startNs, endNs); next += 1
  }

  private def add(id: Int, name: String, t0: Long, t1: Long): Unit =
    done += Span(id, if (open.isEmpty) 0 else open.top._1, name, t0, t1)

  /** Spans with self time: duration minus the union of the children's
    * intervals, clipped to the span. */
  def toJson: Json = {
    val kids = done.groupBy(_.parent)
    Json.arr(done.sortBy(_.startNs).map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var end = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a >= end) { covered += b - a; end = b }
        else if (b > end) { covered += b - end; end = b }
      }
      Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startNs / 1e6, "dur_ms" -> (s.endNs - s.startNs) / 1e6,
        "self_ms" -> (s.endNs - s.startNs - covered) / 1e6)
    }.toSeq)
  }
}

/** Scheduler, executor and shuffle counters from a SparkListener, plus
  * Catalyst phase times and scanned rows from a QueryExecutionListener.
  * Attached only in traced runs. */
final class LayerCounters extends SparkListener with QueryExecutionListener {
  private val c = mutable.LinkedHashMap[String, LongAdder]()
  private def add(k: String, v: Long): Unit =
    c.synchronized(c.getOrElseUpdate(k, new LongAdder)).add(v)

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("task_run_ms", m.executorRunTime)
      add("task_cpu_ns", m.executorCpuTime)
      add("gc_ms", m.jvmGCTime)
      add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
      add("spill_b", m.diskBytesSpilled)
    }
  }

  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()

  /** Catalyst phases (name, start ms, end ms) reported since the last call. */
  def takePhases(): Seq[(String, Long, Long)] =
    Iterator.continually(phases.poll()).takeWhile(_ != null).toSeq

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      ph.get(p).foreach { s =>
        add(s"${p}_ms", s.durationMs)
        phases.add((p, s.startTimeMs, s.endTimeMs))
      }
    }
    add("scan_rows", LayerCounters.leaves(qe.executedPlan)
      .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum)
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def snapshot(): Map[String, Long] = c.synchronized(c.map { case (k, v) => k -> v.sum }.toMap)
}

object LayerCounters {
  def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case s: QueryStageExec => leaves(s.plan)
    case _ if p.children.isEmpty => Seq(p)
    case _ => p.children.flatMap(leaves)
  }

  def attach(spark: SparkSession): LayerCounters = {
    val l = new LayerCounters
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    l
  }

  /** Counter deltas between two snapshots. */
  def diff(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    (a.keySet ++ b.keySet).map(k => k -> (b.getOrElse(k, 0L) - a.getOrElse(k, 0L))).toMap
}

/** Counts whole-stage and expression codegen fallbacks: Spark logs one
  * warning each time generated code fails to compile and it runs the
  * interpreted path instead. */
final class CodegenFallbacks
    extends AbstractAppender("perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
  val count = new AtomicLong
  override def append(e: LogEvent): Unit = {
    val m = e.getMessage.getFormattedMessage
    if (m != null && (m.contains("Whole-stage codegen disabled") ||
        m.contains("falling back to interpreter mode"))) count.incrementAndGet()
  }
}

object CodegenFallbacks {
  def attach(): CodegenFallbacks = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val a = new CodegenFallbacks
    a.start()
    ctx.getConfiguration.getRootLogger.addAppender(a, Level.WARN, null)
    ctx.updateLoggers()
    a
  }
}
