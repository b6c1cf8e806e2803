package graft.examples

import graft.GraftSession
import graft.api.{SamsaStream, StoreType}
import graft.io.ChangelogSink
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The README scenario (/root/reference/README.md:27-52) end-to-end on the
  * public API: replay `events.parquet` as a file-source stream, detect
  * per-user status changes against durable state, stop mid-stream, restart
  * from checkpoint, and replicate state writes to changelog topics
  * (parquet-backed here — no broker in this environment).
  *
  * Run: sbt "runMain graft.examples.ChangeDetectionDemo /root/testdata/sf0.001"
  */
object ChangeDetectionDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession()

    val stream = SamsaStream(
      topics = Seq("nodes.status"), groupId = "demo", tableName = "nodes",
      store = StoreType.RocksDB)
    stream.configure(spark)

    // stage events as two file batches to exercise stop/restart
    val input = Files.createTempDirectory("demo-in").toString
    val ckpt = Files.createTempDirectory("demo-ckpt").toString
    val outDir = Files.createTempDirectory("demo-out").toString
    val changelogDir = Files.createTempDirectory("demo-changelog").toString

    val events = graft.Tables.events(spark, sfDir)
      .select(
        col("user_id").cast("string").as("key"),
        col("event_type").as("value"),
        lit("nodes.status").as("topic"), lit(0).as("partition"), col("ts"))
      .orderBy("ts").cache()
    val n = events.count()
    events.limit((n / 2).toInt).coalesce(1).write.parquet(s"$input/batch0")

    val schema = events.schema
    def start() = {
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$input/*")
      stream.detectChanges(stream.recordsFrom(src)).toDF()
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          b.toDF().withColumn("batch_id", lit(id)).write.mode("append").parquet(outDir)
        }
        .start()
    }

    val q1 = start(); q1.processAllAvailable(); q1.stop()
    println(s"[demo] run 1 processed ${spark.read.parquet(outDir).count()} change events")

    // second half lands while the query is DOWN; restart must resume state
    events.exceptAll(events.limit((n / 2).toInt)).coalesce(1)
      .write.parquet(s"$input/batch1")
    val q2 = start(); q2.processAllAvailable(); q2.stop()

    val out = spark.read.parquet(outDir)
    val initials = out.filter(col("change") === "initial").count()
    val users = events.select("key").distinct().count()
    println(s"[demo] total=${out.count()} initial=$initials distinct_users=$users " +
      s"(state survived restart: ${initials == users})")
    out.groupBy("change").count().orderBy("change").show()

    // changelog replication of the materialized store (R6/R8)
    val q3 = graft.streaming.StatefulStore.upsert(
        stream.recordsFrom(spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$input/*"))).toDF()
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("demo-ckpt2").toString)
      .foreachBatch(ChangelogSink.toParquet(changelogDir, "nodes", 4))
      .outputMode("update")
      .start()
    q3.processAllAvailable(); q3.stop()
    println("[demo] changelog topics:")
    spark.read.parquet(changelogDir).groupBy("topic").count().orderBy("topic").show(false)

    spark.stop()
  }
}
