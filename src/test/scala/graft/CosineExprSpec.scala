package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.plans.CosineSimilarity

/** The codegen'd CosineSimilarity expression vs the composed-builtins
  * reference implementation: bit-identical on real embeddings, SQL-callable,
  * null-safe, and actually compiled (no codegen fallback in the plan).
  */
class CosineExprSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")

  test("expression matches zip_with+aggregate bit-for-bit on all pairs vs vec 0") {
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    val both = emb.crossJoin(broadcast(q))
      .select(
        col("vec_id"),
        Similarity.cosine(col("qe"), col("embedding")).as("native"),
        Oracles.cosineBuiltins(col("qe"), col("embedding")).as("builtins"))
    assert(both.filter(col("native") =!= col("builtins")).count() == 0)
  }

  test("SQL registration: cosine_sim callable from spark.sql") {
    CosineSimilarity.register(spark)
    emb.limit(5).createOrReplaceTempView("emb5")
    val out = spark.sql(
      "SELECT a.vec_id, cosine_sim(a.embedding, b.embedding) AS s FROM emb5 a JOIN emb5 b ON b.vec_id = 0")
      .collect()
    assert(out.length == 5)
    val self = out.find(_.getLong(0) == 0).get.getDouble(1)
    assert(math.abs(self - 1.0) < 1e-9) // self-similarity
  }

  test("null inputs yield null; double arrays accepted") {
    val df = Seq(
      (Some(Seq(1.0, 0.0)), Some(Seq(0.0, 1.0))),
      (None, Some(Seq(1.0, 2.0))),
    ).toDF("a", "b")
    val rows = df.select(CosineSimilarity.cosine_sim(col("a"), col("b"))).collect()
    assert(rows(0).getDouble(0) == 0.0) // orthogonal
    assert(rows(1).isNullAt(0))
  }

  test("int/long/decimal element types evaluate under codegen (typed accessors)") {
    // Regression: the codegen non-fast path used to emit `arr.get(i, null)`,
    // which throws for non-float/double arrays under whole-stage codegen.
    val ints  = Seq((Seq(1, 2, 3), Seq(1, 2, 3))).toDF("a", "b")
    val longs = Seq((Seq(1L, 0L), Seq(0L, 1L))).toDF("a", "b")
    val decs  = Seq((Seq(BigDecimal(1), BigDecimal(2)), Seq(BigDecimal(1), BigDecimal(2)))).toDF("a", "b")
    def sim(df: org.apache.spark.sql.DataFrame): Double =
      df.select(CosineSimilarity.cosine_sim(col("a"), col("b"))).first().getDouble(0)
    assert(math.abs(sim(ints) - 1.0) < 1e-12)  // parallel vectors
    assert(sim(longs) == 0.0)                   // orthogonal
    assert(math.abs(sim(decs) - 1.0) < 1e-12)
    // mixed element types on the two sides
    val mixed = Seq((Seq(1, 0), Seq(1.0, 0.0))).toDF("a", "b")
    assert(math.abs(sim(mixed) - 1.0) < 1e-12)
  }

  test("plan stays in whole-stage codegen (no fallback)") {
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    val df = emb.crossJoin(broadcast(q))
      .select(CosineSimilarity.cosine_sim(col("qe"), col("embedding")))
    df.collect() // finalize the adaptive plan so codegen spans materialize
    val plan = df.queryExecution.executedPlan.toString
    // the "*(n)" prefix marks WholeStageCodegen membership in plan text
    val projectLine = plan.linesIterator.find(_.contains("cosinesimilarity")).get
    assert(projectLine.contains("*("), s"cosine projection outside codegen:\n$plan")
  }
}
