package graft

/** The Graft facade: SQL views round-trip oracle-style SQL, cosine_sim is
  * pre-registered, events' nanos timestamps read transparently.
  */
class GraftSessionSpec extends SparkSpec {

  test("registerViews lets spark.sql run oracle-shaped SQL against table names") {
    Graft.registerViews(spark, sf0001)
    val n = spark.sql(
      "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY 1 ORDER BY 1").collect()
    assert(n.map(_.getString(0)).toSeq == Seq("A", "N", "R"))
    // events view exposes a usable timestamp despite nanos parquet
    val ev = spark.sql("SELECT min(unix_millis(ts)) FROM events").first().getLong(0)
    assert(ev > 1700000000000L)
    // the custom expression is SQL-callable after registration
    graft.plans.CosineSimilarity.register(spark)
    val self = spark.sql(
      "SELECT cosine_sim(embedding, embedding) FROM embeddings WHERE vec_id = 1").first().getDouble(0)
    assert(math.abs(self - 1.0) < 1e-9)
  }

  test("the test session carries the engine's codegen cache size") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      Graft.CodegenCacheEntries.toString)
    assert(org.apache.spark.sql.internal.SQLConf.get.codegenCacheMaxEntries ==
      Graft.CodegenCacheEntries)
  }
}
