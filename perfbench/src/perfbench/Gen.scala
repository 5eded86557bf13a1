package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded generator for the curation corpus: the `documents` and
  * `embeddings` tables with the schemas of the driver tables described in
  * FIXTURES.md, so registry rows and their DuckDB oracles run on them
  * unchanged. Every value is a pure function of (seed, row id, column
  * stream), so one seed writes the same rows on any core count. (The
  * ingest batches are generated by [[Ingest]] itself.)
  */
object Gen {

  private val Frac = 1L << 40

  /** Uniform double in [0, 1) for row `id`, column stream `k`. */
  def u(seed: Long, k: Int, id: Column = col("id")): Column =
    pmod(xxhash64(id, lit(seed), lit(k)), lit(Frac)).cast("double") / Frac.toDouble

  def intIn(seed: Long, k: Int, lo: Long, hi: Long, id: Column = col("id")): Column =
    (lit(lo) + floor(u(seed, k, id) * (hi - lo + 1))).cast("long")

  private def write(df: DataFrame, dir: String, name: String): Unit =
    df.write.mode("overwrite").parquet(s"$dir/$name.parquet")

  val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** 2024-01-01T00:00:00Z in epoch microseconds — the start of the events clock. */
  val EventsEpochMicros: Long = 1704067200L * 1000000L

  val Vocab: Seq[String] = Seq("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")

  /** The words of base text `j`: 8 to 100 words drawn from [[Vocab]]. */
  private def baseText(seed: Long, j: Column): Column = {
    val vocab = array(Vocab.map(lit): _*)
    val n     = intIn(seed, 71, 8, 100, j)
    array_join(transform(sequence(lit(1L), n), k =>
      element_at(vocab, (pmod(xxhash64(j, lit(seed), k), lit(Vocab.size.toLong)) + 1).cast("int"))), " ")
  }

  /** The `documents` corpus: 4.5% near-duplicates (an earlier doc's text
    * plus a trailing marker word), 0.5% exact duplicates, 3% carrying PII
    * (an email address and a phone number) for the redaction stage. Rows
    * are written in an order drawn from `orderSeed`, so the corpus content
    * is fixed while its physical order varies.
    */
  def documents(spark: SparkSession, dir: String, n: Long, seed: Long, orderSeed: Long,
                parts: Int): Unit = {
    val kind = u(seed, 72)
    val src  = when(col("id") > 0, pmod(xxhash64(col("id"), lit(seed), lit(73)), col("id")))
      .otherwise(lit(0L))
    val text = when(col("id") > 0 && kind < 0.045, concat(baseText(seed, src), lit(" dup")))
      .when(col("id") > 0 && kind < 0.05, baseText(seed, src))
      .when(kind < 0.08, concat(baseText(seed, col("id")),
        format_string(" contact user%d@example.org or +1-555-%03d-%04d", col("id"),
          pmod(col("id"), lit(1000L)), pmod(col("id") * 7, lit(10000L)))))
      .otherwise(baseText(seed, col("id")))
    val langs = array(Seq("en", "en", "en", "en", "de", "es", "fr", "zh").map(lit): _*)
    val docs = spark.range(0, n, 1, parts).select(
      col("id").as("doc_id"), text.as("text"),
      element_at(langs, intIn(seed, 74, 1, 8).cast("int")).as("lang"),
      concat(lit("src"), pmod(col("id"), lit(20L)).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .orderBy(xxhash64(col("doc_id"), lit(orderSeed)))
    write(docs, dir, "documents")
  }

  /** The `embeddings` table: unit-norm 64-d vectors in 10 labelled clusters,
    * 3% of them near-copies of an earlier vector, written in an order drawn
    * from `orderSeed`.
    */
  def embeddings(spark: SparkSession, dir: String, n: Int, seed: Long, orderSeed: Long): Unit = {
    val rnd  = new scala.util.Random(seed)
    val dim  = 64
    def unit(v: Array[Double]): Array[Float] = {
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / norm).toFloat)
    }
    val centroids = Array.fill(10)(Array.fill(dim)(rnd.nextGaussian()))
    val vecs = new Array[Array[Float]](n)
    val labels = new Array[Int](n)
    for (i <- 0 until n) {
      if (i > 10 && rnd.nextDouble() < 0.03) {
        val j = rnd.nextInt(i)
        vecs(i) = unit(vecs(j).map(_ + rnd.nextGaussian() * 0.01))
        labels(i) = labels(j)
      } else {
        labels(i) = rnd.nextInt(10)
        vecs(i) = unit(centroids(labels(i)).map(_ + rnd.nextGaussian() * 1.2))
      }
    }
    val order = new scala.util.Random(orderSeed).shuffle((0 until n).toVector)
    val rows  = order.map(i => Row(i.toLong, vecs(i).toSeq, labels(i)))
    val schema = StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    write(spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema),
      dir, "embeddings")
  }
}
