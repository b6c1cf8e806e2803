package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites: the mains' GraftSession at 4 cores
  * (UTC, AQE, RocksDB state store with changelog checkpointing).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  override def afterAll(): Unit = () // shared session — never stopped per-suite
}

object SparkSpec {
  /** Four cores whatever the host, so plan-shape and partition-count
    * assertions see the same layout everywhere. */
  val cpus = 4

  lazy val session: SparkSession = GraftSession(cpus, extra = Map(
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
}
