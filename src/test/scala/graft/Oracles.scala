package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Similarity.cosine

/** Reference implementations that specs compare the engine's kernels
  * against: composed Spark builtins with the same semantics as the
  * codegen'd expressions and aggregates, and exact brute-force top-k as
  * the baseline for the approximate searches.
  */
object Oracles {

  /** dot(a, b) in double precision, sequential fold (engine-reproducible). */
  private def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  private def norm(a: Column): Column = sqrt(dot(a, a))

  /** The composed-builtins form (zip_with + aggregate) kept as the
    * reference implementation the expression is spec-tested against.
    */
  def cosineBuiltins(a: Column, b: Column): Column =
    round(dot(a, b) / (norm(a) * norm(b)), 6)

  /** Composed-builtins reference implementation for the spec cross-check
    * (cast up per element — byte arithmetic would wrap at 127).
    */
  def sq8DotBuiltins(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("long") * y.cast("long")),
      lit(0L),
      (acc, x) => acc + x)

  /** Exact brute-force cosine top-k over any query set (the x9 ranking). */
  def bruteForceTopK(embeddings: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val c = embeddings.select(col("vec_id"), col("embedding").as("ce"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
    c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), cosine(col("qe"), col("ce")).as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  /** The composed-builtins form (64 shift-mask sum columns) kept as the
    * reference implementation the aggregate is spec-tested against.
    */
  def simhashOfBuiltins(docs: DataFrame): DataFrame = {
    val tok  = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tk"))
    val h    = xxhash64(col("tk"))
    val bits = (0 until 64).map { i =>
      sum(when(shiftright(h, i).bitwiseAND(1L) === 1L, 1).otherwise(-1)).as(s"b$i")
    }
    val fp = (0 until 64)
      .map(i => when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(0L))
      .reduce((a, b) => a.bitwiseOR(b))
    tok.groupBy("doc_id").agg(bits.head, bits.tail: _*)
      .select(col("doc_id"), fp.as("simhash"))
  }
}
