package graft.operators

import org.apache.spark.sql.functions._

import graft.Q

/** Driver-stamped snapshot-store machinery (the r10 extension of the m9
  * MERGE story toward a table format): m10_time_travel runs TWO real
  * [[graft.sources.MultiStore]] commits — an initial rollup snapshot and
  * a full-refresh second snapshot — then TIME-TRAVELS back to the first
  * manifest and reports the before/after/delta per group. The store root,
  * version dirs, numbered manifests, atomic publishes, history listing,
  * and `readAt` all execute for real on every run (a fresh temp root per
  * invocation, deleted before the query returns — the tiny result is
  * eagerly checkpointed first so nothing re-reads the store); only the
  * CONTENT is what
  * DuckDB replays, since both snapshots are pure functions of the orders
  * table and a fixed cutoff. A broken commit, a torn manifest, or a
  * time-travel read resolving the wrong version all break the hash.
  * Reference anchor: the session-store versioned read-back
  * (sessions/manager.py:502-525) promoted to snapshot grain.
  */
object SnapshotQueries {

  val m10_time_travel = Q(
    "m10_time_travel",
    """WITH b AS (
      |  SELECT o_orderpriority AS priority, count(*) AS n_before
      |  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01' GROUP BY 1),
      |a AS (SELECT o_orderpriority AS priority, count(*) AS n_after FROM orders GROUP BY 1)
      |SELECT a.priority, COALESCE(b.n_before, 0) AS n_before, a.n_after,
      |       a.n_after - COALESCE(b.n_before, 0) AS delta
      |FROM a LEFT JOIN b ON a.priority = b.priority
      |ORDER BY a.priority""".stripMargin,
  ) { t =>
    val spark = t.spark
    import graft.sources.MultiStore
    val root = java.nio.file.Files.createTempDirectory("graft-timetravel").toString + "/snap"
    val cutoff = lit("1998-01-01").cast("timestamp")
    // snapshot 1: the pre-cutoff rollup
    MultiStore.commit(root, Map("rollup" ->
      t.orders.filter(col("o_orderdate") < cutoff)
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n"))))
    // snapshot 2: the full refresh (a later maintenance pass)
    MultiStore.commit(root, Map("rollup" ->
      t.orders
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n"))))
    val history = MultiStore.manifests(spark, root)
    val before  = MultiStore.readAt(spark, root, "rollup", history.head)
      .select(col("priority"), col("n").as("n_before"))
    val after = MultiStore.readAt(spark, root, "rollup", history.last)
      .select(col("priority"), col("n").as("n_after"))
    val result = after.join(before, Seq("priority"), "left")
      .select(
        col("priority"),
        coalesce(col("n_before"), lit(0L)).as("n_before"),
        col("n_after"),
        (col("n_after") - coalesce(col("n_before"), lit(0L))).as("delta"))
      .orderBy("priority")
      // eager checkpoint (priority-count-sized, a handful of rows)
      // truncates the lineage so the temp store can be deleted NOW —
      // bench repeats were accumulating orphan graft-timetravel dirs in
      // /tmp across rounds (r10 ADVICE)
      .localCheckpoint(true)
    graft.sources.AtomicFs.deleteRecursively(java.nio.file.Paths.get(root).getParent)
    result
  }

  /** Shared temp-store harness: build a fresh MultiStore root, run `body`,
    * eagerly checkpoint the (small) result so the store can be deleted
    * before the query returns — no temp dirs accumulate across bench
    * repeats (the m10 lesson, r10 ADVICE).
    */
  private[graft] def withTempStore(prefix: String)(
      body: String => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val tmp  = java.nio.file.Files.createTempDirectory(prefix)
    val root = tmp.toString + "/store"
    try body(root).localCheckpoint(true)
    finally graft.sources.AtomicFs.deleteRecursively(tmp)
  }

  /** m11: merge-on-read row-level DELETE — the lakehouse delete path that
    * rewrites NOTHING: the matched doc_ids land in an equality-delete key
    * store (KB-sized), the data version is untouched, and the read
    * subtracts the keys with an anti-join. Every run executes the real
    * machinery — a data commit, a deleteWhere commit, a merged read, PLUS
    * a time-travel read back to the pre-delete manifest whose count guards
    * that the delete never touched the data version. DuckDB replays the
    * end state as a plain NOT-filter, and the pre-delete count as an
    * unfiltered count.
    */
  val m11_row_delete = Q(
    "m11_row_delete",
    """WITH kept AS (
      |  SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars
      |  FROM documents WHERE NOT (n_chars < 200) GROUP BY lang),
      |tot AS (SELECT count(*) AS n_before FROM documents)
      |SELECT lang, n_docs, chars, tot.n_before
      |FROM kept, tot ORDER BY lang""".stripMargin,
  ) { t =>
    val spark = t.spark
    import graft.sources.MultiStore
    withTempStore("graft-rowdelete") { root =>
      MultiStore.commit(root, Map("docs" ->
        t.documents.select("doc_id", "lang", "n_chars")))
      val preDelete = MultiStore.manifests(spark, root).last
      MultiStore.deleteWhere(spark, root, "docs",
        col("n_chars") < lit(200L), Seq("doc_id"))
      // the pre-delete snapshot must still hold EVERY row (deletes are
      // key files, not data rewrites — a rewrite would break this count
      // and with it the hash)
      val before = MultiStore.readMergedAt(spark, root, "docs", preDelete)
        .agg(count(lit(1)).as("n_before"))
      MultiStore.readMerged(spark, root, "docs")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
        .crossJoin(before)
        .orderBy("lang")
    }
  }

  /** m12: footer-driven file pruning — a range-clustered commit leaves
    * each file's footer with a tight min/max per column; the range read
    * opens only intersecting files. The result must equal the plain filter (pruning is a superset
    * + residual), which is exactly what the oracle checks; the spec
    * (MultiStoreSpec) additionally asserts the file-skip actually
    * happened — fewer files opened than committed.
    */
  val m12_stats_pruning = Q(
    "m12_stats_pruning",
    """SELECT o_orderpriority AS priority, count(*) AS n_orders,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      |  AND o_orderdate <= TIMESTAMP '1997-06-30'
      |GROUP BY 1 ORDER BY 1""".stripMargin,
  ) { t =>
    val spark = t.spark
    import graft.sources.MultiStore
    withTempStore("graft-statsprune") { root =>
      MultiStore.commit(root,
        Map("orders" -> t.orders.repartitionByRange(8, col("o_orderdate"))))
      MultiStore.readPruned(spark, root, "orders", "o_orderdate",
          lit("1997-01-01").cast("timestamp"), lit("1997-06-30").cast("timestamp"))
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n_orders"),
          // decimal-exact sum, then one cast: addition order cannot move
          // the double (the float-sum determinism rule every money row
          // in Relational follows)
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
        .orderBy("priority")
    }
  }

  /** m13: the transactional ingest — the round-11 pieces composed into the
    * write path a 100 TB corpus maintainer actually runs. Per invocation,
    * ALL REAL: (1) the corpus (even doc_ids) is committed as a store;
    * (2) the incoming batch (odd doc_ids) is probed with the x72
    * incremental span dedup against the corpus gram set — docs carrying a
    * >=16-word corpus-duplicated span are quarantined, the rest accepted;
    * (3) accepted docs and the quarantine table land through
    * [[graft.sources.MultiStore.commitBatch]] in ONE manifest with the
    * batch-id marker; (4) the SAME batch id is then replayed with poison
    * writes — the exactly-once guard must apply NOTHING (if it ever did,
    * the poison rows change the counts and the oracle hash breaks).
    * DuckDB replays only the end state, which is a pure function of the
    * documents table and the span threshold.
    */
  val m13_txn_ingest = Q(
    "m13_txn_ingest",
    """WITH shb AS (
      |  SELECT doc_id, CAST(i AS INT) AS pos, array_to_string(w[i:i+7], ' ') AS g
      |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 7)) AS i
      |        FROM (SELECT doc_id, string_split(text, ' ') AS w
      |              FROM documents WHERE doc_id % 2 <> 0))),
      |shc AS (
      |  SELECT DISTINCT array_to_string(w[i:i+7], ' ') AS g
      |  FROM (SELECT w, unnest(generate_series(1, len(w) - 7)) AS i
      |        FROM (SELECT string_split(text, ' ') AS w
      |              FROM documents WHERE doc_id % 2 = 0))),
      |hits AS (SELECT b.doc_id, b.pos FROM shb b JOIN shc c USING (g)),
      |isl AS (
      |  SELECT doc_id, pos,
      |         SUM(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
      |                  THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY doc_id ORDER BY pos) AS island
      |  FROM (SELECT doc_id, pos,
      |               max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      |        FROM hits)),
      |flagged AS (
      |  SELECT doc_id FROM isl GROUP BY doc_id, island
      |  HAVING max(pos) + 7 - min(pos) + 1 >= 16),
      |fl AS (SELECT DISTINCT doc_id FROM flagged)
      |SELECT bucket, n_docs, chars FROM (
      |  SELECT 'accepted' AS bucket, count(*) AS n_docs,
      |         CAST(sum(n_chars) AS BIGINT) AS chars
      |  FROM documents d
      |  WHERE doc_id % 2 = 0
      |     OR (doc_id % 2 <> 0 AND doc_id NOT IN (SELECT doc_id FROM fl))
      |  UNION ALL
      |  SELECT 'quarantine' AS bucket, count(*) AS n_docs,
      |         CAST(sum(n_chars) AS BIGINT) AS chars
      |  FROM documents WHERE doc_id % 2 <> 0
      |    AND doc_id IN (SELECT doc_id FROM fl))
      |ORDER BY bucket""".stripMargin,
  ) { t =>
    val spark = t.spark
    import graft.sources.MultiStore
    import graft.operators.Dedup
    withTempStore("graft-txningest") { root =>
      val slim   = Seq("doc_id", "lang", "n_chars").map(col)
      val corpus = t.documents.filter(col("doc_id") % 2 === 0)
      val batch  = t.documents.filter(col("doc_id") % 2 =!= 0)
      MultiStore.commit(root, Map("docs" -> corpus.select(slim: _*)))
      val flagged = Dedup
        .incrementalSpans(batch, Dedup.corpusGramSet(corpus, 8, fingerprints = false),
          k = 8, fingerprints = false)
        .groupBy("doc_id").agg(max(col("span_words")).as("m"))
        .filter(col("m") >= 16).select("doc_id")
      val accepted    = batch.join(flagged, Seq("doc_id"), "left_anti").select(slim: _*)
      val quarantined = batch.join(flagged, Seq("doc_id"), "left_semi").select(slim: _*)
      val applied = MultiStore.commitBatch(root, "ingest", 0L, Map(
        "docs"       -> MultiStore.read(spark, root, "docs").unionByName(accepted),
        "quarantine" -> quarantined))
      // crash-restart re-delivery: poison writes MUST NOT apply (they would
      // shift the counts below and break the oracle hash)
      val replayed = MultiStore.commitBatch(root, "ingest", 0L, Map(
        "docs" -> t.documents.limit(5).select(slim: _*)))
      require(applied && !replayed,
        s"exactly-once violated: applied=$applied replayed=$replayed")
      def summarize(store: String, bucket: String) =
        MultiStore.read(spark, root, store).agg(
          count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
          .select(lit(bucket).as("bucket"), col("n_docs"), col("chars"))
      summarize("docs", "accepted")
        .unionByName(summarize("quarantine", "quarantine"))
        .orderBy("bucket")
    }
  }

  /** m14: OPTIMIZE — small-file bin-packing compaction as a snapshot
    * commit. Every run executes the real machinery: a deliberately
    * fragmented ingest (32 files), then [[graft.sources.MultiStore.optimize]]
    * rewriting the SAME rows into 4 range-clustered files whose footers
    * hold tight min/max, then (a) a driver-side guard that the live layout
    * really shrank, (b) a footer-pruned range read over the OPTIMIZED layout
    * feeding the result (a broken rewrite or broken pruning breaks the
    * hash), and
    * (c) a time-travel count back to the fragmented manifest proving
    * OPTIMIZE never rewrote history — the compaction is a new version, not
    * a mutation. DuckDB replays the end state, a pure function of the
    * documents table.
    */
  val m14_optimize = Q(
    "m14_optimize",
    """WITH cur AS (
      |  SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars
      |  FROM documents WHERE doc_id >= 100 AND doc_id <= 399 GROUP BY lang),
      |tot AS (SELECT count(*) AS n_before FROM documents)
      |SELECT lang, n_docs, chars, tot.n_before
      |FROM cur, tot ORDER BY lang""".stripMargin,
  ) { t =>
    val spark = t.spark
    import graft.sources.MultiStore
    withTempStore("graft-optimize") { root =>
      // fragmented ingest: 32 tiny files (what a micro-batch sink leaves)
      MultiStore.commit(root, Map("docs" ->
        t.documents.select("doc_id", "lang", "n_chars").repartition(32)))
      val preOpt       = MultiStore.manifests(spark, root).last
      val nFilesBefore = MultiStore.read(spark, root, "docs").inputFiles.length
      MultiStore.optimize(spark, root, "docs", targetFiles = 4,
        clusterBy = Seq("doc_id"))
      val nFilesAfter = MultiStore.read(spark, root, "docs").inputFiles.length
      require(nFilesAfter < nFilesBefore,
        s"optimize did not compact: $nFilesBefore -> $nFilesAfter files")
      // the fragmented version is still a readable snapshot (time travel)
      val before = MultiStore.readAt(spark, root, "docs", preOpt)
        .agg(count(lit(1)).as("n_before"))
      // serve a range query pruned by the optimized layout's footers
      MultiStore.readPruned(spark, root, "docs", "doc_id", lit(100L), lit(399L))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
        .crossJoin(before)
        .orderBy("lang")
    }
  }

  /** m15: Bloom point-lookup pruning — the file-skipping story for
    * HIGH-CARDINALITY equality predicates, where min/max ranges are useless
    * by construction: the store is hash-distributed (every file's doc_id
    * range spans the whole corpus), so a min/max-pruned read would open
    * every file, but each doc_id lands in ~one file's Bloom filter. Every
    * run commits the store with a native parquet Bloom filter on doc_id in
    * each file, runs five real point lookups through
    * [[graft.sources.MultiStore.readPrunedEqMulti]], and guards driver-side
    * that the Bloom filters actually skipped (≤2 files opened per
    * lookup out of 16). False positives are stripped by the residual
    * equality filter, which is exactly what the oracle checks.
    */
  val m15_bloom_index = Q(
    "m15_bloom_index",
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE doc_id IN (7, 113, 229, 331, 433) ORDER BY doc_id""".stripMargin,
  ) { t =>
    val spark = t.spark
    import graft.sources.MultiStore
    withTempStore("graft-bloomidx") { root =>
      MultiStore.commit(root,
        Map("docs" -> t.documents.select("doc_id", "lang", "n_chars")
          .repartition(16, col("doc_id") * 2654435761L % 1000)), // hash-scattered
        bloom = Map("docs" -> Seq("doc_id")))
      val keys = Seq(7L, 113L, 229L, 331L, 433L)
      // batched point-lookup API: snapshot, listing and footers read once
      // for the key set, per-key pruning and the opened-files guard
      // unchanged
      val lookups = MultiStore
        .readPrunedEqMulti(spark, root, "docs", "doc_id", keys.map(lit(_)))
        .zip(keys).map { case (hit, k) =>
          val opened = hit.inputFiles.length
          require(opened <= 2,
            s"bloom index failed to skip: doc_id=$k opened $opened of 16 files")
          hit
        }
      lookups.reduce(_.unionByName(_)).orderBy("doc_id")
    }
  }

  /** m16: the change feed — Delta's `table_changes` over MultiStore
    * manifests. Every run executes the real history: an initial commit,
    * then a full-refresh second commit carrying updates (+1 char count on
    * doc_id % 10 = 1) and inserts (negative-keyed rows for % 10 = 2), then
    * a REAL row-level `deleteWhere` of % 10 = 0 — and
    * `TemporalJoins.changeFeed` diffs the merged views at the first and
    * last manifests, so equality-delete rows surface as `delete` changes
    * exactly like data rewrites. DuckDB replays the classification as a
    * pure function of the documents table; the key-sum checksum makes a
    * misclassified or missed row break the hash.
    */
  val m16_change_feed = Q(
    "m16_change_feed",
    """WITH olds AS (SELECT doc_id, n_chars FROM documents),
      |news AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 10 = 1 THEN n_chars + 1 ELSE n_chars END AS n_chars
      |  FROM documents WHERE doc_id % 10 <> 0
      |  UNION ALL
      |  SELECT -doc_id, n_chars FROM documents WHERE doc_id % 10 = 2),
      |diff AS (
      |  SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
      |         CASE WHEN o.doc_id IS NULL THEN 'insert'
      |              WHEN n.doc_id IS NULL THEN 'delete'
      |              WHEN o.n_chars <> n.n_chars THEN 'update'
      |              ELSE 'unchanged' END AS change_type
      |  FROM olds o FULL OUTER JOIN news n ON o.doc_id = n.doc_id)
      |SELECT change_type, count(*) AS n_rows, CAST(sum(doc_id) AS BIGINT) AS key_sum
      |FROM diff WHERE change_type <> 'unchanged'
      |GROUP BY change_type ORDER BY change_type""".stripMargin,
  ) { t =>
    val spark = t.spark
    import graft.sources.MultiStore
    withTempStore("graft-changefeed") { root =>
      val slim = t.documents.select("doc_id", "n_chars")
      // keep=4: the feed's FROM manifest must survive the two later
      // commits (retention is what bounds how far back a CDF can reach)
      MultiStore.commit(root, Map("docs" -> slim), keep = 4)
      val mFrom = MultiStore.manifests(spark, root).last
      // full-refresh second version: updates + inserts (deletes of
      // % 10 = 0 go through the REAL row-level delete path below)
      val refreshed = slim
        .withColumn("n_chars",
          when(col("doc_id") % 10 === 1, col("n_chars") + 1).otherwise(col("n_chars")))
        .unionByName(slim.filter(col("doc_id") % 10 === 2)
          .select((-col("doc_id")).as("doc_id"), col("n_chars")))
      MultiStore.commit(root, Map("docs" -> refreshed), keep = 4)
      MultiStore.deleteWhere(spark, root, "docs",
        col("doc_id") % 10 === 0 && col("doc_id") >= 0, Seq("doc_id"), keep = 4)
      val mTo = MultiStore.manifests(spark, root).last
      TemporalJoins.changeFeed(spark, root, "docs", mFrom, mTo, "doc_id", Seq("n_chars"))
        .groupBy("change_type")
        .agg(count(lit(1)).as("n_rows"), sum(col("doc_id")).as("key_sum"))
        .orderBy("change_type")
    }
  }

  /** m18: schema evolution as a first-class driver-stamped verb — the
    * `ALTER TABLE ADD COLUMN` story of a root-pointer table format,
    * previously only spec-pinned (MultiStoreSpec, r11). Every run executes
    * the real three-commit history: (1) the pre-evolution table (two
    * columns); (2) the MIGRATION commit adding a NULL-backfilled `lang`
    * column — in a full-snapshot format evolution is a plain commit, no
    * side-channel schema registry, no reader contract change; (3) a
    * post-evolution ingest whose rows carry the new column populated.
    * Driver guards pin what the oracle cannot see: the pre-evolution
    * manifest still serves the OLD two-column shape through time travel
    * (readers at m1 never learn about `lang`), and the live read carries
    * the evolved schema. DuckDB replays the end state — pre-evolution rows
    * surface in a dedicated `_pre_evolution` bucket (their lang is NULL by
    * backfill), so a migration that invents or drops values breaks the
    * hash, and the min/max doc ids pin that BOTH eras survived evolution.
    */
  val m18_schema_evolution = Q(
    "m18_schema_evolution",
    """WITH v AS (
      |  SELECT CASE WHEN doc_id < 300 THEN '_pre_evolution' ELSE lang END AS lang_bucket,
      |         n_chars, doc_id
      |  FROM documents)
      |SELECT lang_bucket, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars,
      |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM v GROUP BY 1 ORDER BY 1""".stripMargin,
  ) { t =>
    val spark = t.spark
    import graft.sources.MultiStore
    withTempStore("graft-schemaevo") { root =>
      val preEvo = t.documents.filter(col("doc_id") < 300).select("doc_id", "n_chars")
      MultiStore.commit(root, Map("docs" -> preEvo), keep = 4)
      val m1 = MultiStore.manifests(spark, root).last
      // the migration commit: ALTER TABLE ADD COLUMN lang (NULL backfill)
      MultiStore.commit(root, Map("docs" ->
        MultiStore.read(spark, root, "docs")
          .withColumn("lang", lit(null).cast("string"))), keep = 4)
      // post-evolution ingest: new rows arrive with the column populated
      val batch = t.documents.filter(col("doc_id") >= 300)
        .select("doc_id", "n_chars", "lang")
      MultiStore.commit(root, Map("docs" ->
        MultiStore.read(spark, root, "docs").unionByName(batch)), keep = 4)
      // time travel across the schema boundary: the pre-evolution manifest
      // must still serve the OLD shape — if evolution rewrote history,
      // this schema (or the count) changes and the run fails loudly
      val atM1 = MultiStore.readAt(spark, root, "docs", m1)
      require(atM1.schema.fieldNames.toSeq == Seq("doc_id", "n_chars"),
        s"m18: pre-evolution manifest leaked the evolved schema: ${atM1.schema.fieldNames.mkString(",")}")
      val live = MultiStore.read(spark, root, "docs")
      require(live.schema.fieldNames.contains("lang"),
        "m18: live read lost the evolved column")
      live
        .groupBy(coalesce(col("lang"), lit("_pre_evolution")).as("lang_bucket"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy("lang_bucket")
    }
  }

  private[operators] final case class IngestDoc(doc_id: Long, lang: String, n_chars: Long)

  /** m19: the streaming lakehouse ingest loop, end to end — a REAL
    * Structured Streaming query (MemoryStream source, three forced
    * micro-batches) writing through `foreachBatch` into the exactly-once
    * MultiStore sink, then the change feed consumed ACROSS the batch
    * window, then a re-delivered final batch that the idempotence marker
    * must reject. This is the composition a 100 TB corpus maintainer runs
    * continuously: Kafka → foreachBatch → commitBatch (one atomic manifest
    * per micro-batch, batch-id marker carried in the same commit) →
    * downstream consumers reading table_changes between the manifests
    * their last run saw. Registered as an INSTRUMENT: the MemoryStream
    * feed and forced micro-batch drain are replay harness (the per-batch
    * production path is m13's commitBatch, already a production row);
    * what this row buys is the driver-oracle stamp on the streaming
    * engine driving that path — a torn manifest, a double-applied batch,
    * or a feed misclassification all break the hash. DuckDB replays the
    * end state as a pure function of the documents table and the
    * doc_id%3 batch split.
    */
  val m19_stream_sink = Q.instrument(
    "m19_stream_sink",
    """SELECT * FROM (
      |  SELECT 'feed_insert' AS bucket, count(*) AS n_rows,
      |         CAST(sum(doc_id) AS BIGINT) AS id_sum
      |  FROM documents WHERE doc_id % 3 <> 0
      |  UNION ALL
      |  SELECT 'final_' || lang AS bucket, count(*) AS n_rows,
      |         CAST(sum(doc_id) AS BIGINT) AS id_sum
      |  FROM documents GROUP BY lang)
      |ORDER BY bucket""".stripMargin,
  ) { t =>
    implicit val spark: org.apache.spark.sql.SparkSession = t.spark
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.sources.MultiStore
    withTempStore("graft-streamsink") { root =>
      val docs = t.documents
        .select(col("doc_id"), col("lang"), col("n_chars")).as[IngestDoc]
      // deterministic batch split: micro-batch b carries doc_id % 3 == b
      val batches = (0 to 2).map(b => docs.filter(col("doc_id") % 3 === b).collect())
      val input = MemoryStream[IngestDoc]
      val query = input.toDS().writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[IngestDoc], id: Long) =>
          val incoming = batch.toDF()
          val merged =
            if (MultiStore.snapshot(spark, root).contains("docs"))
              MultiStore.read(spark, root, "docs").unionByName(incoming)
            else incoming
          MultiStore.commitBatch(root, "ingest", id, Map("docs" -> merged), keep = 8)
          ()
        }
        .start()
      try {
        batches.foreach { chunk =>
          input.addData(chunk.toIndexedSeq)
          query.processAllAvailable()
        }
      } finally query.stop()
      val ms = MultiStore.manifests(spark, root)
      val (mFrom, mTo) = (ms.head, ms.last) // after batch 0 / after batch 2
      // crash-restart re-delivery of the last batch with poison rows: the
      // batch-id marker must reject it (an applied poison write shifts the
      // final_* buckets and breaks the oracle hash)
      val replayed = MultiStore.commitBatch(root, "ingest", 2L,
        Map("docs" -> t.documents.limit(3).select("doc_id", "lang", "n_chars")),
        keep = 8)
      require(!replayed, "m19: exactly-once violated on re-delivered batch 2")
      val feed = TemporalJoins
        .changeFeed(spark, root, "docs", mFrom, mTo, "doc_id", Seq("n_chars"))
        .groupBy(concat(lit("feed_"), col("change_type")).as("bucket"))
        .agg(count(lit(1)).as("n_rows"), sum(col("doc_id")).as("id_sum"))
      val fin = MultiStore.read(spark, root, "docs")
        .groupBy(concat(lit("final_"), col("lang")).as("bucket"))
        .agg(count(lit(1)).as("n_rows"), sum(col("doc_id")).as("id_sum"))
      feed.unionByName(fin).orderBy("bucket")
    }
  }

  /** m20: RESTORE — the rollback verb of the table format (Delta's
    * `RESTORE TABLE ... TO VERSION`). Every run executes the real
    * machinery: a base commit, a BAD maintenance pass (an equality-delete
    * that matched far too much — the classic fat-fingered DELETE), a
    * pointer-only [[graft.sources.MultiStore.restore]] back to the
    * pre-delete manifest, and a merged read of the restored state. The
    * restore must (a) bring the deleted rows back by REMOVING the delete
    * set that did not exist at the target manifest, (b) rewrite no data —
    * guarded in-row by the version-dir count staying flat, and (c) keep
    * the bad state in history — guarded by reading its count back through
    * time travel AFTER the restore. DuckDB replays the restored state as
    * the plain documents aggregate and the bad state as the NOT-filter.
    */
  val m20_restore = Q(
    "m20_restore",
    """WITH restored AS (
      |  SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars
      |  FROM documents GROUP BY lang),
      |bad AS (SELECT count(*) AS n_bad FROM documents WHERE NOT (n_chars < 400))
      |SELECT lang, n_docs, chars, bad.n_bad
      |FROM restored, bad ORDER BY lang""".stripMargin,
  ) { t =>
    val spark = t.spark
    import graft.sources.MultiStore
    withTempStore("graft-restore") { root =>
      def nVersionDirs: Int = {
        import scala.jdk.CollectionConverters._
        val p = java.nio.file.Paths.get(root, "docs")
        val s = java.nio.file.Files.list(p)
        try s.iterator().asScala.count(_.getFileName.toString.startsWith("v="))
        finally s.close()
      }
      MultiStore.commit(root, Map("docs" ->
        t.documents.select("doc_id", "lang", "n_chars")), keep = 4)
      val good = MultiStore.manifests(spark, root).last
      // the bad maintenance pass: meant to trim short docs, deleted most
      // of the corpus instead
      MultiStore.deleteWhere(spark, root, "docs", col("n_chars") < 400,
        Seq("doc_id"), keep = 4)
      val bad      = MultiStore.manifests(spark, root).last
      val dirsPre  = nVersionDirs
      MultiStore.restore(spark, root, "docs", good, keep = 4)
      require(nVersionDirs == dirsPre,
        s"restore must be pointer-only, but version dirs went $dirsPre -> $nVersionDirs")
      // the bad state stays queryable history (restore deletes nothing)
      val nBad = MultiStore.readMergedAt(spark, root, "docs", bad)
        .agg(count(lit(1)).as("n_bad"))
      MultiStore.readMerged(spark, root, "docs")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
        .crossJoin(nBad)
        .orderBy("lang")
    }
  }

  /** m22: compaction of a streaming sink's per-batch stores — the
    * maintenance-cadence answer to the question the x92/x94/x101 scaladocs
    * raise (per-batch `flags_*`/`scores_*`/`matches_*` tables accumulate
    * one per micro-batch FOREVER unless something folds them). Every run
    * executes the full lifecycle: (1) three exactly-once `commitBatch`
    * ingests, each landing its own per-batch store (x92's append shape,
    * deliberately fragmented at 8 files/batch — what a real micro-batch
    * sink leaves); (2) the FOLD — one CAS commit replacing the N
    * per-batch tables with a single `flags` table (the fold reads
    * O(accumulated) once, on the maintenance cadence, never inside the
    * ingest loop); (3) m14's OPTIMIZE verb on the folded store —
    * bin-packed to 2 range-clustered files whose footers hold tight
    * min/max, guarded in-row; (4) time travel back to the pre-fold manifest proving
    * the fragmented per-batch view is still a readable snapshot (its row
    * count rides the output as `n_rows`); (5) the final answer served
    * through `readPruned` over the compacted layout, so the oracle checks
    * content survived ingest → fold → rewrite → pruned read bit for bit.
    * At 100 TB: the fold+OPTIMIZE cost is one pass over the accumulated
    * verdicts (data that had to be written once anyway), and retention
    * eventually sweeps the fragmented versions — bounded store growth
    * with unbounded streaming ingest.
    */
  val m22_ingest_compaction = Q(
    "m22_ingest_compaction",
    """WITH cur AS (
      |  SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars
      |  FROM documents WHERE doc_id >= 100 AND doc_id <= 399 GROUP BY lang),
      |tot AS (SELECT count(*) AS n_rows FROM documents)
      |SELECT lang, n_docs, chars, tot.n_rows
      |FROM cur, tot ORDER BY lang""".stripMargin,
  ) { t =>
    val spark = t.spark
    import graft.sources.MultiStore
    withTempStore("graft-ingest-compact") { root =>
      // (1) micro-batch ingest: one per-batch store per commitBatch, each
      // fragmented the way a real streaming sink fragments
      (0L to 2L).foreach { id =>
        MultiStore.commitBatch(root, "ingest", id,
          Map(s"flags_$id" -> t.documents.filter(col("doc_id") % 3 === id)
            .select("doc_id", "lang", "n_chars").repartition(8)), keep = 8)
      }
      val batchStores = MultiStore.snapshot(spark, root).keys
        .filter(_.startsWith("flags_")).toSeq.sorted
      val frag = batchStores.map(MultiStore.read(spark, root, _)).reduce(_ unionByName _)
      val nFrag = frag.inputFiles.length
      val preM  = MultiStore.manifests(spark, root).last
      // (2) the fold: N per-batch tables -> one table, one CAS commit
      MultiStore.commit(root, Map("flags" -> frag), keep = 8)
      // (3) m14's OPTIMIZE on the folded store: bin-pack, range-clustered
      MultiStore.optimize(spark, root, "flags", targetFiles = 2,
        clusterBy = Seq("doc_id"), keep = 8)
      val nAfter = MultiStore.read(spark, root, "flags").inputFiles.length
      require(nAfter <= 2 && nAfter < nFrag,
        s"compaction did not compact: $nFrag fragmented files -> $nAfter")
      // (4) the pre-fold manifest still serves the fragmented view
      require(!MultiStore.snapshotAt(spark, root, preM).contains("flags"),
        "pre-fold snapshot must not see the folded table")
      val travel = batchStores
        .map(MultiStore.readAt(spark, root, _, preM)).reduce(_ unionByName _)
        .agg(count(lit(1)).as("n_rows"))
      // (5) serve the range query pruned by the compacted layout's footers
      MultiStore.readPruned(spark, root, "flags", "doc_id", lit(100L), lit(399L))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
        .crossJoin(travel)
        .orderBy("lang")
    }
  }

  val all: Seq[Q] = Seq(m10_time_travel, m11_row_delete, m12_stats_pruning,
    m13_txn_ingest, m14_optimize, m15_bloom_index, m16_change_feed,
    m18_schema_evolution, m19_stream_sink, m20_restore, m22_ingest_compaction)
}
