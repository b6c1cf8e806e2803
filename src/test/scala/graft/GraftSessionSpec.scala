package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** GraftSession is the one session configuration: the test session
  * carries its confs, the core-count default follows SPARK_GRAFT_CPUS,
  * and no other main source builds a SparkSession. */
class GraftSessionSpec extends SparkSpec {

  test("the test session carries GraftSession's conf for every shared key") {
    // the build-time SparkConf: suites may retune runtime SQL confs
    // (shuffle partitions, state store) on the shared session
    val built = spark.sparkContext.getConf
    assert(spark.sparkContext.master == s"local[${SparkSpec.cpus}]")
    GraftSession.conf(SparkSpec.cpus).foreach { case (k, v) =>
      assert(built.getOption(k).contains(v), s"$k: ${built.getOption(k)} != $v")
    }
  }

  test("cpus default: SPARK_GRAFT_CPUS when set, else the processor count") {
    val nproc = Runtime.getRuntime.availableProcessors
    assert(GraftSession.defaultCpus(Map.empty) == nproc)
    assert(GraftSession.defaultCpus(Map("SPARK_GRAFT_CPUS" -> "3")) == 3)
    assert(GraftSession.defaultCpus(Map("SPARK_GRAFT_CPUS" -> "x")) == nproc)
    assert(GraftSession.conf(3, Map.empty)("spark.sql.shuffle.partitions") == "3")
    assert(GraftSession.conf(3, Map("SPARK_GRAFT_SHUFFLE_PARTITIONS" -> "256"))(
      "spark.sql.shuffle.partitions") == "256")
  }

  test("SparkSession.builder appears in src/main only inside GraftSession.scala") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the project root: ${root.toAbsolutePath}")
    val st = Files.walk(root)
    val builders =
      try st.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains("SparkSession.builder"))
        .map((p: Path) => p.getFileName.toString).toList
      finally st.close()
    assert(builders == List("GraftSession.scala"))
  }
}
