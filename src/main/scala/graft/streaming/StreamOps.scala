package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, StreamingQuery}

/** Streaming semantics (SURVEY §2.9): the reference's SSE fan-out /
  * token-folding / tagging / dead-letter behaviors on Structured Streaming.
  *
  * Scale notes: every stateful op here keys by session/user id (the state
  * store partitions on it); watermarks bound state growth (the reference
  * never needs them because it rescans finite files — documented deviation
  * ST8). Fan-out = N independent writeStream queries against one source, or
  * one query multi-writing in foreachBatch when per-batch atomicity across
  * sinks matters.
  */
object StreamOps {

  /** ST2: hook-event tagging — re-emit with a prefixed event type and a
    * phase envelope column (reference: hooks/__init__.py:76-127).
    */
  def tagEvents(df: DataFrame, prefix: String): DataFrame =
    df.withColumn("event", concat(lit(prefix), col("event")))

  /** ST1: multi-subscriber fan-out inside one query: each micro-batch is
    * persisted once and written to every sink — the engine-side analog of
    * the per-subscriber queue emitter (streaming.py:89-132). Use separate
    * writeStream queries instead when subscribers need independent pace.
    */
  def fanOutForeachBatch(
      df: DataFrame,
      sinks: Seq[DataFrame => Unit],
      checkpoint: String,
  ): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.persist()
        try sinks.foreach(_(batch))
        finally { batch.unpersist(); () }
      }
      .start()

  /** Point-in-time dimension lookup for a FACT STREAM against a static
    * SCD2 serving view (`TemporalJoins.scd2Serve` output: disjoint
    * half-open validity intervals per key) — the streaming rendering of
    * x38. Because validity intervals partition time within a key, the
    * stream-static equi-join on the key plus the containment residual
    * matches AT MOST ONE version per fact: no dedup, no window, no
    * streaming state at all (stream-static joins keep nothing across
    * batches), and the static side broadcasts when small or
    * shuffle-matches per batch when not. `how = "left_outer"` keeps
    * pre-history facts with a null version (x38's null semantics).
    */
  def pointInTimeLookup(facts: DataFrame, dim: DataFrame, key: String,
                        factMs: String, how: String = "left_outer"): DataFrame = {
    val bound = col(factMs) >= col("valid_from_ms") &&
      (col("valid_to_ms").isNull || col(factMs) < col("valid_to_ms"))
    facts.join(dim, facts(key) === dim(key) && bound, how)
      .drop(dim(key))
  }

  /** Streaming drift monitor — the live half of DataQuality.psiByBucket:
    * score each micro-batch's bucket histogram against a STATIC reference
    * histogram (edges and counts frozen from the training/approval
    * window — recomputing the reference per batch would let drift
    * normalize itself away). Zero streaming state: the batch histogram is
    * a per-batch aggregate inside foreachBatch, the reference is a static
    * broadcast, and each batch lands its one (psi) row in its own
    * `outPath/batch_id=<id>` partition — the alerting trail, with batch_id
    * as a partition column. Writing per-batch partitions with overwrite
    * (not a flat append) makes the sink idempotent under replay: when
    * Structured Streaming re-runs a batch after a mid-write failure, the
    * rewrite lands on the same partition instead of duplicating the row.
    * At any ingest volume the per-batch cost is one scan of the batch + a
    * constant-keyspace join.
    *
    * `refCounts`: (bucket, n_ref) from the reference window.
    * `bucketOf`: the SAME frozen bucketizer both populations use.
    */
  def driftMonitor(
      stream: DataFrame,
      refCounts: DataFrame,
      bucketOf: Column,
      nBuckets: Int,
      outPath: String,
      checkpoint: String,
  ): StreamingQuery = {
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val cur = batch.select(bucketOf.as("bucket"))
          .groupBy("bucket").agg(count(lit(1)).as("n_cur"))
        val joined = refCounts
          .join(cur, Seq("bucket"), "full_outer")
          .select(col("bucket"),
            coalesce(col("n_ref"), lit(0L)).as("n_ref"),
            coalesce(col("n_cur"), lit(0L)).as("n_cur"))
        val totals = joined.agg(
          sum("n_ref").as("tot_ref"), sum("n_cur").as("tot_cur"))
        val p = (col("n_ref") + 0.5) / (col("tot_ref") + 0.5 * nBuckets)
        val q = (col("n_cur") + 0.5) / (col("tot_cur") + 0.5 * nBuckets)
        val psi = joined.crossJoin(broadcast(totals))
          .agg(sum((p - q) * log(p / q)).as("psi"))
          .select(round(col("psi"), 6).as("psi"))
        psi.write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
      }
      .start()
  }

  /** Streaming rendering of x58's rolling z-score: per-key anomaly
    * flagging with BOUNDED custom state — exactly the last `lookback`
    * values per key ride in the state store (a few hundred bytes per
    * open key at any ingest volume; the batch window's frame, made
    * explicit). Each micro-batch's rows are sorted (ts, event_id) inside
    * the group before folding, so batch boundaries can't reorder the
    * series; cross-batch order is the ingest contract (same as the
    * sessionizer: event time monotone per key at the source).
    *
    * Parity with the batch operator: the preceding-frame mean/stddev are
    * computed from the identical value window and the z rounded to the
    * same 4dp before thresholding, so a planted anomaly flags in the
    * stream exactly when the batch query would flag it (spec-pinned on
    * the shared corpus). The current row never joins its own baseline,
    * and the cnt >= 2 / sd > 0 guards match the batch form.
    *
    * Late data is DETECTED, not silently absorbed: the state carries the
    * last-applied (tsMs, eventId) per key, and any row at-or-before that
    * point (a cross-batch stray or a duplicate) is dropped — never folded
    * out of order into the ring, which would corrupt the baseline with no
    * trace. Drops are counted per key in the state (`lateDropped`) and,
    * when the caller passes `lateCounter`, in a job-visible accumulator —
    * the monitoring hook for "my ingest contract broke". The batch-parity
    * contract is preserved exactly for in-order ingest.
    */
  def streamingZscore(
      points: Dataset[ZPoint],
      lookback: Int,
      threshold: Double,
      lateCounter: Option[org.apache.spark.util.LongAccumulator] = None,
  ): Dataset[ZFlag] = {
    import points.sparkSession.implicits._
    points
      .groupByKey(_.userId)
      .flatMapGroupsWithState[ZRingState, ZFlag](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid, rows, state: org.apache.spark.sql.streaming.GroupState[ZRingState]) =>
          val st0    = state.getOption.getOrElse(ZRingState(Vector.empty))
          var recent = st0.recent
          var lastTs = st0.lastTsMs
          var lastId = st0.lastEventId
          var late   = st0.lateDropped
          val out    = scala.collection.mutable.ListBuffer.empty[ZFlag]
          rows.toSeq.sortBy(p => (p.tsMs, p.eventId)).foreach { p =>
            // at-or-before the last applied point = late stray or duplicate
            if (p.tsMs < lastTs || (p.tsMs == lastTs && p.eventId <= lastId)) {
              late += 1
              lateCounter.foreach(_.add(1))
            } else {
              val n = recent.size
              if (n >= 2) {
                val mu = recent.sum / n
                val sd = math.sqrt(recent.map(v => (v - mu) * (v - mu)).sum / (n - 1))
                if (sd > 0) {
                  val z = BigDecimal((p.value - mu) / sd)
                    .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
                  if (math.abs(z) > threshold) out += ZFlag(uid, p.eventId, z)
                }
              }
              recent = (recent :+ p.value).takeRight(lookback)
              lastTs = p.tsMs
              lastId = p.eventId
            }
          }
          state.update(ZRingState(recent, lastTs, lastId, late))
          out.iterator
      }
  }

  /** ST5/A8: token stream -> assembled message. Tokens arrive as
    * (messageId, seq, token); the fold is collect_list sorted by seq inside
    * the group — Complete/Update-mode agg keyed by messageId.
    */
  def foldTokens(tokens: DataFrame): DataFrame =
    tokens
      .groupBy("message_id")
      .agg(
        concat_ws("", array_sort(collect_list(struct(col("seq"), col("token"))))
          .getField("token")).as("content"),
        count(lit(1)).as("n_tokens"))

  /** Tumbling/sliding windowed aggregation with watermark — the idiomatic-
    * Spark expression of the reference's time-bucketed views (SURVEY §2.9
    * note). Works identically on batch and streaming frames.
    */
  def windowedCounts(events: DataFrame, width: String, slide: String, watermark: String): DataFrame = {
    val withWm =
      if (events.isStreaming) events.withWatermark("ts", watermark) else events
    withWm
      .groupBy(window(col("ts"), width, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        unix_millis(col("window.start")).as("window_start_ms"),
        col("event_type"),
        col("n"))
  }

  /** ST8/J3: watermarked stream-stream pre/post correlation — tool:pre
    * events joined to their tool:post within `toleranceSeconds`, keyed by
    * (name, group). Both sides carry watermarks so unmatched state is GC'd
    * — the documented deviation from the reference, which re-scans finite
    * files and so matches arbitrarily late posts (SURVEY ST8).
    */
  def prePostStreamJoin(
      pre: DataFrame,  // (name, group_id, ts [, carryCols...])
      post: DataFrame, // (name, group_id, ts)
      watermark: String,
      toleranceSeconds: Int,
      // Extra PRE-side columns carried verbatim into the output (e.g. the
      // pre event's id, so downstream can count matches per pre event).
      carryCols: Seq[String] = Nil,
  ): DataFrame = {
    val carry = carryCols.map(col)
    val l = pre
      .withWatermark("ts", watermark)
      .select(Seq(col("name"), col("group_id")) ++ carry :+ col("ts").as("pre_ts"): _*)
    val r = post
      .withWatermark("ts", watermark)
      .select(col("name").as("r_name"), col("group_id").as("r_group_id"), col("ts").as("post_ts"))
    l.join(
      r,
      col("name") === col("r_name") && col("group_id") === col("r_group_id") &&
        col("post_ts") >= col("pre_ts") &&
        col("post_ts") <= col("pre_ts") + expr(s"INTERVAL $toleranceSeconds SECONDS"))
      .select(
        Seq(col("name"), col("group_id")) ++ carry ++ Seq(
          col("pre_ts"), col("post_ts"),
          (unix_millis(col("post_ts")) - unix_millis(col("pre_ts"))).as("duration_ms")): _*)
  }

  /** ST8: dead-letter split — valid rows one way, corrupt rows the other
    * (trace_aggregator.py:88-92 skip-and-log, upgraded to a side channel).
    */
  def deadLetterSplit(df: DataFrame, corruptCol: String = "_corrupt_record"): (DataFrame, DataFrame) =
    (df.filter(col(corruptCol).isNull).drop(corruptCol),
      df.filter(col(corruptCol).isNotNull))

  /** Streaming exact dedup-on-ingest (the a5/x19 dedup stage as a live
    * pipeline step): drop rows whose `dedupCols` key was already seen
    * within the watermark window. `dropDuplicatesWithinWatermark` keeps
    * the key in the state store only until the watermark passes it, so
    * state is bounded by (ingest rate x watermark) instead of growing with
    * the corpus — the correct trade for at-least-once sources, where
    * duplicates arrive close together (connector retries, producer
    * re-sends); far-apart content dups are the batch dedup stage's job
    * (x19). Key by a content hash column for content dedup or an event id
    * for delivery dedup.
    */
  def dedupWithinWatermark(
      df: DataFrame,
      tsCol: String,
      watermark: String,
      dedupCols: Seq[String],
  ): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(dedupCols)

  /** ST3: liveness ticks — a rate-source heartbeat stream to union under a
    * quiet source (the SSE keepalive analog, routers/events.py:68-84).
    */
  def keepaliveTicks(spark: SparkSession, intervalSeconds: Int): DataFrame =
    // The rate source parses rowsPerSecond with toLong, so sub-1 rates are
    // unrepresentable (and "0.5" throws at stream start). Emit 1 row/sec and
    // keep every intervalSeconds-th tick — `value` is the monotonically
    // increasing row counter, so the filter yields exactly one row per
    // interval.
    spark.readStream
      .format("rate")
      .option("rowsPerSecond", 1L)
      .load()
      .filter(col("value") % intervalSeconds === 0)
      .select(
        col("timestamp").as("ts"),
        lit("keepalive").as("event"),
        lit("{}").as("data"))
}

/** One metered observation for [[StreamOps.streamingZscore]]. */
final case class ZPoint(userId: Long, eventId: Long, tsMs: Long, value: Double)

/** Flagged anomaly (z already rounded to 4dp, the batch contract). */
final case class ZFlag(userId: Long, eventId: Long, z: Double)

/** The per-key state: the last `lookback` values in arrival order — the
  * explicit, bounded rendering of the batch window frame — plus the
  * last-applied (tsMs, eventId) high-water mark (late/duplicate rows at or
  * before it are dropped, not folded out of order) and the running count
  * of such drops for this key.
  */
final case class ZRingState(
    recent: Vector[Double],
    lastTsMs: Long = Long.MinValue,
    lastEventId: Long = Long.MinValue,
    lateDropped: Long = 0L,
)
