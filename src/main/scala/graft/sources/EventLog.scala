package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.RawEvent

/** Error-tolerant JSONL event-log source + append/overwrite sinks
  * (SURVEY S1/S2/S7/S8; reference readers: trace_aggregator.py:82-96,
  * routers/sessions.py:1306-1326 — blank and malformed lines are skipped,
  * processing continues).
  *
  * Lines are read as text and fields pulled with get_json_object, which
  * returns NULL on malformed JSON — the PERMISSIVE-skip behavior without a
  * second parse pass. `line_no` preserves within-file order (the
  * reference's implicit event order) as the equal-timestamp tiebreaker.
  *
  * Scale: text scan is splittable; zipWithIndex adds one lightweight pass
  * (count-per-partition) before the data pass. At 100 TB the log would be
  * date/session-partitioned directories; ordering only ever matters within
  * one session, so per-file indexes remain valid tiebreakers.
  */
object EventLog {

  /** Read a JSONL event log as RawEvent rows. Blank/malformed lines drop
    * out (event is NULL for both). `sessionIdFallback` stamps rows whose
    * lines carry no session_id (reference: per-session files imply it).
    */
  def readJsonl(spark: SparkSession, path: String, sessionIdFallback: String = "")(
      implicit d: DummyImplicit): Dataset[RawEvent] = {
    import spark.implicits._
    val lines = spark.sparkContext.textFile(path).zipWithIndex().toDF("line", "line_no")
    lines
      .filter(length(trim(col("line"))) > 0)
      .select(
        coalesce(get_json_object(col("line"), "$.session_id"), lit(sessionIdFallback))
          .as("sessionId"),
        coalesce(get_json_object(col("line"), "$.ts"), lit("")).as("ts"),
        get_json_object(col("line"), "$.event").as("event"),
        coalesce(get_json_object(col("line"), "$.data"), lit("{}")).as("data"),
        col("line_no").as("lineNo"))
      .filter(col("event").isNotNull) // malformed JSON -> NULL -> skipped
      .as[RawEvent]
  }

  /** Schema'd JSONL read with corrupt-record capture — the PERMISSIVE path
    * for consumers that want typed columns plus a dead-letter column
    * (SURVEY S1 / ST8).
    */
  def readJsonlPermissive(spark: SparkSession, path: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read
      .schema(schema.add("_corrupt_record", org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)

  /** S7: append-only sink — one job commit per append, the coarser (and
    * strictly safer) analog of the reference's per-line file append.
    */
  def appendParquet(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Append).parquet(path)

  /** S8: atomic whole-entity overwrite — Spark's commit protocol plays the
    * reference's tmp-file+rename (sessions/manager.py:519-522).
    */
  def overwriteParquet(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** The 100 TB layout: events partitioned by natural keys (date here) so
    * time-ranged queries prune whole directories before any I/O — verify
    * with explain: the scan carries PartitionFilters, not just
    * PushedFilters.
    */
  def writeDatePartitioned(df: DataFrame, path: String, tsCol: String = "ts"): Unit =
    df.withColumn("event_date", to_date(col(tsCol)))
      .write
      .mode(SaveMode.Overwrite)
      .partitionBy("event_date")
      .parquet(path)
}
