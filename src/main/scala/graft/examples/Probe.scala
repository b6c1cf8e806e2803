package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Helpers shared by the scale and recovery mains: fingerprints, on-disk
  * footprints, synthetic graphs, key-shift replicas and best-of timing. */
object Probe {

  /** Order-insensitive distributed fingerprint: per-row md5 over the
    * cells, folded by an executor-side SUM of the first 60 bits (exact
    * as DECIMAL) plus a row count — one pass, nothing collected. Nulls
    * are rendered as a sentinel containing the \u0001 field separator,
    * because concat_ws skips null cells: (null,'a') and ('a',null)
    * would otherwise hash alike. */
  def distHash(df: DataFrame): String = {
    val rowHash = md5(concat_ws("\u0001",
      df.columns.map(c =>
        coalesce(col(c).cast("string"), lit("\u0001NULL\u0001"))): _*))
    val r = df.select(
      sum(conv(substring(rowHash, 1, 15), 16, 10).cast("decimal(38,0)"))
        .cast("string").as("h"),
      count(lit(1)).as("n")).collect()(0)
    s"${r.getString(0)}/${r.getLong(1)}"
  }

  /** Bytes of every regular file under `p` (0 if absent). */
  def dirBytes(p: String): Long = {
    val root = java.nio.file.Paths.get(p)
    if (!java.nio.file.Files.exists(root)) return 0L
    val st = java.nio.file.Files.walk(root)
    try st.filter(java.nio.file.Files.isRegularFile(_: java.nio.file.Path))
      .mapToLong(java.nio.file.Files.size(_: java.nio.file.Path)).sum()
    finally st.close()
  }

  /** Synthetic PageRank graph on `n` nodes: two hash-derived out-edges
    * and a ring edge per node, symmetrized — 6n directed (src, dst)
    * edges, so no node dangles. */
  def pageRankEdges(spark: SparkSession, n: Long): DataFrame = {
    val id = col("id")
    def edge(dst: org.apache.spark.sql.Column) = struct(id.as("src"), dst.as("dst"))
    val edges = spark.range(n).select(explode(array(
        edge(pmod(xxhash64(id, lit(1)), lit(n))),
        edge(pmod(xxhash64(id, lit(2)), lit(n))),
        edge((id + 1) % n))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    edges.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
  }

  /** Planted connected-components graph over 2·`half` nodes: 1000-node
    * chains (the O(diameter) shape) on [0, half), 8-node cliques (the
    * near-dup blob shape) on [half, 2·half). Returns (doc_a, doc_b). */
  def plantedCcEdges(spark: SparkSession, half: Long): DataFrame = {
    import spark.implicits._
    val chains = spark.range(half - 1).filter(col("id") % 1000 =!= 999)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    val bs = 8
    val pairs = (for { i <- 0 until bs; j <- (i + 1) until bs }
      yield (i, j)).toDF("i", "j")
    val cliques = spark.range(half / bs).crossJoin(pairs)
      .select((lit(half) + col("id") * bs + col("i")).as("doc_a"),
        (lit(half) + col("id") * bs + col("j")).as("doc_b"))
    chains.unionByName(cliques)
  }

  /** Runs `build` unless `out/marker` exists, then creates the marker. */
  def once(out: String, marker: String)(build: => Unit): Unit = {
    val m = new java.io.File(s"$out/$marker")
    if (m.exists()) return
    new java.io.File(out).mkdirs()
    build
    m.createNewFile(): Unit
  }

  /** Key-shift replica: writes `factor` copies of `base` to
    * out/<table>.parquet, replica i adding i·stride to each key column
    * in `strides`; every other column rides unchanged. */
  def replicate(base: DataFrame, table: String, out: String, factor: Int,
      strides: Map[String, Long]): Unit =
    (0 until factor).map { i =>
      base.select(base.columns.map(c => strides.get(c) match {
        case Some(s) => (col(c) + lit(i.toLong * s)).as(c)
        case None => col(c)
      }): _*)
    }.reduce(_ unionByName _).write.mode("overwrite").parquet(s"$out/$table.parquet")

  /** Materializes every row and column of `df` without collecting it. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Min wall seconds of `reps` runs of `body`, caches cleared after each. */
  def bestOf(spark: SparkSession, reps: Int = 2)(body: => Unit): Double =
    (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      try { body; (System.nanoTime() - t0) / 1e9 }
      finally { spark.catalog.clearCache(); graft.ext.Caches.releaseAll(spark) }
    }.min
}
