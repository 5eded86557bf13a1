package graft

import org.apache.spark.sql.functions._

import graft.operators.SnapshotQueries

/** m18/m19: the rows self-guard their machinery (schema shapes, exactly-once
  * rejection) with in-row requires; this spec pins the RESULT semantics the
  * oracle alone can't express as invariants — era coverage and exhaustiveness
  * for schema evolution, insert-only feed + completeness for the stream sink.
  *
  * m12/m15/m21/m22: the footer-pruned reads. Running them here also runs
  * their in-row skip guards (m15 opens at most 2 of 16 files per lookup,
  * m21 halves the files it opens, m22 compacts to at most 2), and each
  * result must equal the plain filter over the source table.
  */
class LakehouseRowsSpec extends SparkSpec {

  private def tables = Tables(spark, sf0001)

  test("m18: both eras survive evolution and the buckets are exhaustive") {
    val res = SnapshotQueries.m18_schema_evolution.run(spark, sf0001)
    val buckets = res.select("lang_bucket").collect().map(_.getString(0)).toSet
    assert(buckets.contains("_pre_evolution"))
    assert(buckets.size >= 3, s"expected pre-evolution + real langs, got $buckets")
    val total = res.agg(sum("n_docs")).head().getLong(0)
    assert(total === tables.documents.count())
    // the pre-evolution bucket is exactly the pre-evolution commit's rows
    val pre = res.filter(col("lang_bucket") === "_pre_evolution")
      .select("n_docs").head().getLong(0)
    assert(pre === tables.documents.filter(col("doc_id") < 300).count())
  }

  test("m19: the feed across the batch window is insert-only and complete") {
    val res = SnapshotQueries.m19_stream_sink.run(spark, sf0001)
    val feedRows = res.filter(col("bucket").startsWith("feed_")).collect()
    assert(feedRows.map(_.getString(0)).toSet === Set("feed_insert"),
      "appends must surface as inserts only — no updates/deletes in an append-only window")
    assert(feedRows.head.getLong(1) ===
      tables.documents.filter(col("doc_id") % 3 =!= 0).count())
    val finalTotal = res.filter(col("bucket").startsWith("final_"))
      .agg(sum("n_rows")).head().getLong(0)
    assert(finalTotal === tables.documents.count())
  }

  private def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq

  test("m12: the footer-pruned range read equals the plain filter") {
    val got  = SnapshotQueries.m12_stats_pruning.run(spark, sf0001)
    val want = tables.orders
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") <= lit("1997-06-30").cast("timestamp"))
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
      .orderBy("priority")
    assert(rows(want).nonEmpty)
    assert(rows(got) === rows(want))
  }

  test("m15: Bloom-pruned point lookups equal the plain filter") {
    val got  = SnapshotQueries.m15_bloom_index.run(spark, sf0001)
    val want = tables.documents.filter(col("doc_id").isin(7L, 113L, 229L, 331L, 433L))
      .select("doc_id", "lang", "n_chars").orderBy("doc_id")
    assert(rows(want).nonEmpty)
    assert(rows(got) === rows(want))
  }

  private def byLang(docs: org.apache.spark.sql.DataFrame, total: String) =
    docs.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
      .crossJoin(tables.documents.agg(count(lit(1)).as(total)))
      .orderBy("lang")

  test("m21: the z-ordered 2-D box read equals the plain filter") {
    val got = graft.operators.LayoutOps.m21_zorder_optimize.run(spark, sf0001)
    val n   = tables.documents.agg(max(col("doc_id"))).head().getLong(0) + 1L
    val want = byLang(tables.documents.filter(
      col("doc_id").between(n / 10L, 3L * n / 20L - 1L) && col("n_chars").between(150L, 300L)),
      "n_before")
    assert(rows(want).nonEmpty)
    assert(rows(got) === rows(want))
  }

  test("m22: fold, compaction and the pruned read equal the plain filter") {
    val got  = SnapshotQueries.m22_ingest_compaction.run(spark, sf0001)
    val want = byLang(tables.documents.filter(col("doc_id").between(100L, 399L)), "n_rows")
    assert(rows(want).nonEmpty)
    assert(rows(got) === rows(want))
  }
}
