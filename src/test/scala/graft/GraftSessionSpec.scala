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

  test("the test session and a Graft.session bind filter keys; registerAll still resolves the functions") {
    import org.apache.spark.sql.SparkSession
    assert(spark.sessionState.columnarRules.contains(graft.plans.BindLiterals))
    // a second session on the same context, built as `Graft.session` builds
    // one: the builder's extensions apply to every session it creates
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val other = try Graft.session("local[4]", 4) finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
    assert(other ne spark)
    assert(other.sessionState.columnarRules.contains(graft.plans.BindLiterals))
    // the builder injects the four functions, and registerAll (which
    // Graft.session also calls) replaces them with temp functions that
    // resolve the same way
    Seq(spark, other).foreach { s =>
      GraftExtensions.registerAll(s)
      Seq("cosine_sim", "int8_dot", "simhash_agg", "mg_freq").foreach(f =>
        assert(s.catalog.functionExists(f), f))
      val row = s.sql(
        """SELECT cosine_sim(array(1.0F, 0.0F), array(1.0F, 0.0F)),
          |       int8_dot(array(1Y, 2Y), array(3Y, 4Y)),
          |       (SELECT simhash_agg(t) FROM VALUES ('a'), ('b') AS v(t)),
          |       (SELECT mg_freq(t, 4)['a'] FROM VALUES ('a'), ('a'), ('b') AS v(t))""".stripMargin)
        .first()
      assert(row.getDouble(0) == 1.0 && row.getLong(1) == 11L && !row.isNullAt(2) &&
        row.getLong(3) == 2L, row)
    }
  }
}
