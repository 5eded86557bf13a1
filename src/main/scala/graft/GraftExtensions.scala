package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.plans.{BindLiterals, CosineSimilarity, FreqItemsAgg, Int8Dot, SimHashAgg}

/** The cluster deployment surface for graft's custom Catalyst functions:
  * `--conf spark.sql.extensions=graft.GraftExtensions` makes every
  * session on the cluster resolve them in plain SQL — no per-session
  * registration code, which is how a shared 1000-executor platform
  * actually ships UDF-free extensions. The same builders back
  * [[registerAll]], the programmatic per-session path `Graft.session`
  * uses locally (temp-function registry), so SQL and Column forms are
  * one implementation.
  *
  * Functions injected:
  *   - cosine_sim(a, b)     — codegen'd float-array cosine (x9 family)
  *   - int8_dot(a, b)       — codegen'd int8-code dot product (x31)
  *   - simhash_agg(token)   — one-pass SimHash-64 aggregate (x4)
  *   - mg_freq(item, k)     — Misra-Gries heavy hitters, k a literal (x46)
  *
  * Physical rule injected: [[graft.plans.BindLiterals]], which binds a
  * filter's primitive keys so a new key reuses a compiled class.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.builders.foreach { case (name, doc, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name, doc),
        builder))
    }
    ext.injectColumnar(_ => BindLiterals)
  }
}

object GraftExtensions {

  /** `mg_freq`'s capacity must be a foldable int literal — it sizes the
    * aggregation buffer, which exists before any row is seen.
    */
  private def literalInt(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, _)   => v
    case other                =>
      throw new IllegalArgumentException(
        s"$fn: capacity must be an INT literal, got $other")
  }

  val builders: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", "cosine similarity of two float arrays",
      exprs => CosineSimilarity(exprs(0), exprs(1))),
    ("int8_dot", "integer dot product of two tinyint-array codes",
      exprs => Int8Dot(exprs(0), exprs(1))),
    ("simhash_agg", "one-pass SimHash-64 fingerprint aggregate",
      exprs => SimHashAgg(exprs(0))),
    ("mg_freq", "Misra-Gries heavy-hitters map with literal capacity k",
      exprs => FreqItemsAgg(exprs(0), literalInt(exprs(1), "mg_freq"))),
  )

  /** Per-session programmatic registration (temp functions) — the local
    * path when the session is built in-process rather than from conf.
    */
  def registerAll(spark: SparkSession): Unit =
    builders.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}
