package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession configuration of every main and of the test
  * suite, so Bench, TimeOne, Verify and the example mains cannot drift
  * onto different engine settings:
  *   - `local[cpus]`, `cpus` = SPARK_GRAFT_CPUS, else the JVM's processor
  *     count;
  *   - shuffle partitions = SPARK_GRAFT_SHUFFLE_PARTITIONS, else `cpus`
  *     (factor>=100 fixtures want partitions ∝ data at a fixed thread
  *     count; AQE coalesces the small stages back down);
  *   - UTC session time zone; `nanosAsLong`, because `events.parquet`
  *     carries nanosecond timestamps (`Tables.events` truncates them);
  *     AQE on; UI off; log level WARN;
  *   - the RocksDB state-store provider with changelog checkpointing
  *     (transformWithState requires RocksDB; samsa-parity engine choice).
  *
  * `master` overrides `local[cpus]` (the `local-cluster` kill drill);
  * `extra` adds SparkContext confs that must be fixed at build time,
  * such as the reliable-checkpoint compress/clean pair.
  */
object GraftSession {

  def defaultCpus(env: Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_CPUS").flatMap(_.trim.toIntOption).filter(_ > 0)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The shared confs for a session of `cpus` cores. */
  def conf(cpus: Int, env: Map[String, String] = sys.env): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" ->
      env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus.toString),
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

  def apply(cpus: Int = defaultCpus(), master: Option[String] = None,
      extra: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder().master(master.getOrElse(s"local[$cpus]"))
    (conf(cpus) ++ extra).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
