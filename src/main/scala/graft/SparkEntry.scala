package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 is registered here as a
  * named query; those with an ANSI-SQL equivalent also carry the DuckDB
  * oracle text (column names matched exactly — the driver sorts columns by
  * name and hash-compares values).
  */
object SparkEntry {

  /** All registered queries, in module order, each stamped with its
    * defining module (the generated-inventory seam — see tools.CoverageGen).
    *
    * Correctness instruments (bench splits their cost into
    * `total_instruments`, separate from the `total_production` headline)
    * are marked at their DEFINITION sites via `Q.instrument` — there is no
    * name list here to drift when a query is renamed (VERDICT r10 ask #7):
    * (a) md5-bridge renderings whose only purpose is giving DuckDB an
    * expressible oracle for hash-family logic (xxhash64/sign-LSH shingles
    * have no DuckDB counterpart) — each has a production sibling (x2_fast /
    * x3 / x4 / x10 / x26_fast / x27_fast / x29_fast) that IS the path a
    * user runs; (b) st6_stream_replay / j3_stream_replay, the micro-batch
    * replay HARNESSES that drive the live streaming paths through forced
    * batches so they have driver oracles — wall time dominated by replans +
    * state-store commits + the driver-side feed, overhead a real deployment
    * amortizes over a continuous stream. BASELINE.md §"bridge rows" records
    * the rationale once.
    */
  val registry: Seq[Q] =
    Seq(
      "Relational" -> Relational.all, "WindowOps" -> WindowOps.all,
      "TimeWindows" -> TimeWindows.all, "ScalarFuncs" -> ScalarFuncs.all,
      "TextAnalysis" -> TextAnalysis.all, "Dedup" -> Dedup.all,
      "Similarity" -> Similarity.all, "TrainPrep" -> TrainPrep.all,
      "Extras" -> Extras.all, "ApiQueries" -> ApiQueries.all,
      "GraphQueries" -> GraphQueries.all, "TraceQueries" -> TraceQueries.all,
      "Multimodal" -> Multimodal.all, "TemporalJoins" -> TemporalJoins.all,
      "Rollup" -> Rollup.all, "LayoutOps" -> LayoutOps.all,
      "ScaleJoins" -> ScaleJoins.all, "Profiling" -> Profiling.all,
      "DataQuality" -> DataQuality.all, "Analytics" -> Analytics.all,
      "HybridRetrieval" -> HybridRetrieval.all,
      "SnapshotQueries" -> SnapshotQueries.all,
      "VariantEvents" -> VariantEvents.all,
      "QualityModels" -> QualityModels.all,
    ).flatMap { case (m, qs) => qs.map(_.inModule(m)) }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The §7.2 minimum slice: scan -> filter -> broadcast star join -> hash
    * agg -> sort (TPC-H Q5 shape).
    */
  def entry(spark: SparkSession): DataFrame =
    Relational.j5_star_join.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops (those
    * get the driver's rows-only check).
    */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
