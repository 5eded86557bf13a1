package graft.operators

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.api.{model, AutomationStore, SessionStore}

/** Driver-checkable queries for the API-facade operators (SURVEY §2 rows
  * F7/F8/F11/F12, A4, O6/O7, J6, M1/M8) that round 1 left spec-only. Each
  * derives the reference's entity shape (Session / Automation /
  * ExecutionRecord) from the driver's test tables with pure column maps —
  * replicated verbatim in the oracle SQL — then runs the REAL
  * `api.Lakehouse` / `Maintenance` / `GraphOps` code, so the CORRECTNESS row
  * pins the production path, not a re-expression of it.
  *
  * Timestamps cross the oracle boundary as epoch millis (unix_millis /
  * DuckDB epoch_ms) per the WindowOps convention.
  */
object ApiQueries {

  /** Sessions derived from `orders` (one session per order; parent = the
    * enclosing group-of-10 root, reference session trees are shallow).
    */
  private def sessionsOf(t: Tables) = {
    val o = t.orders
    o.select(
      col("o_orderkey").cast("string").as("session_id"),
      col("o_orderpriority").as("name"),
      when(col("o_orderkey") % 10 =!= 0,
        (col("o_orderkey") - col("o_orderkey") % 10).cast("string")).as("parent_session_id"),
      col("o_orderpriority").as("amplified_dir"),
      when(col("o_orderstatus") === "O", "active")
        .when(col("o_orderstatus") === "F", "completed")
        .otherwise("created").as("status"),
      // parquet dates surface as TIMESTAMP_NTZ in Spark 4; the session TZ
      // is UTC, so the cast to instant-typed TIMESTAMP is value-preserving
      // (and unix_millis requires it)
      col("o_orderdate").cast("timestamp").as("created_at"),
      lit(null).cast("timestamp").as("ended_at"),
      col("o_orderpriority").as("profile_name"),
      (col("o_orderkey") % 100).as("message_count"),
      (col("o_orderkey") % 1000).as("token_usage"),
      (col("o_orderkey") % 7 === 0).as("is_unread"),
    ).as(Encoders.product[model.Session])
  }

  /** Automations derived from `part`. */
  private def automationsOf(t: Tables) =
    t.part.select(
      col("p_partkey").cast("string").as("id"),
      col("p_brand").as("project_id"),
      col("p_name").as("name"),
      when(col("p_partkey") % 3 === 0, "cron")
        .when(col("p_partkey") % 3 === 1, "interval")
        .otherwise("once").as("schedule_type"),
      lit("5m").as("schedule_value"),
      (col("p_partkey") % 2 === 0).as("enabled"),
    ).as(Encoders.product[model.Automation])

  /** Execution records derived from `events` (automation = user_id mod 20;
    * executed_at truncated to millis so ordering is engine-identical).
    */
  private def executionsOf(t: Tables) =
    t.events.select(
      (col("user_id") % 20).cast("string").as("automation_id"),
      col("event_id").cast("string").as("session_id"),
      timestamp_millis(unix_millis(col("ts"))).as("executed_at"),
      when(col("event_type") === "error", "failed").otherwise("success").as("status"),
      when(col("event_type") === "error", "boom").as("error"),
    ).as(Encoders.product[model.ExecutionRecord])

  val f7_automation_filters = Q(
    "f7_automation_filters",
    """SELECT CAST(p_partkey AS VARCHAR) AS id, p_brand AS project_id, p_name AS name,
      |       CASE p_partkey % 3 WHEN 0 THEN 'cron' WHEN 1 THEN 'interval' ELSE 'once' END AS schedule_type,
      |       '5m' AS schedule_value, p_partkey % 2 = 0 AS enabled
      |FROM part WHERE p_brand = 'Brand#13' AND p_partkey % 2 = 0 ORDER BY id""".stripMargin,
  ) { t =>
    // SURVEY F7: automation listing filters (automations/manager.py:105-118)
    // — project + enabled conjunction through AutomationStore.list.
    AutomationStore(automationsOf(t), executionsOf(t))
      .list(projectId = Some("Brand#13"), enabledOnly = true)
      .toDF()
      .orderBy("id")
  }

  val f8_history_page = Q(
    "f8_history_page",
    """SELECT automation_id, session_id, executed_ms, status, error FROM (
      |  SELECT *, row_number() OVER (ORDER BY executed_ms DESC, session_id DESC) AS rn
      |  FROM (SELECT CAST(user_id % 20 AS VARCHAR) AS automation_id,
      |               CAST(event_id AS VARCHAR) AS session_id,
      |               CAST(epoch_ms(ts) AS BIGINT) AS executed_ms,
      |               CASE WHEN event_type = 'error' THEN 'failed' ELSE 'success' END AS status,
      |               CASE WHEN event_type = 'error' THEN 'boom' END AS error
      |        FROM events WHERE user_id % 20 = 7))
      |WHERE rn > 10 AND rn <= 30 ORDER BY executed_ms DESC, session_id DESC""".stripMargin,
  ) { t =>
    // SURVEY F8+O2: execution history page (automations/manager.py:337-350)
    // through AutomationStore.history — newest-first, offset/limit.
    AutomationStore(automationsOf(t), executionsOf(t))
      .history("7", limit = 20, offset = 10)
      .toDF()
      .select(
        col("automation_id"), col("session_id"),
        unix_millis(col("executed_at")).as("executed_ms"),
        col("status"), col("error"))
      .orderBy(col("executed_ms").desc, col("session_id").desc)
  }

  val f11_unread_counts = Q(
    "f11_unread_counts",
    """SELECT o_orderpriority AS amplified_dir, count(*) AS unread_count
      |FROM orders WHERE o_orderkey % 7 = 0 GROUP BY 1 ORDER BY 1""".stripMargin,
  ) { t =>
    // SURVEY F11+A1: unread counts per project (routers/sessions.py:774-785)
    // through SessionStore.unreadCounts.
    SessionStore(sessionsOf(t)).unreadCounts.orderBy("amplified_dir")
  }

  val f12_multi_dim_filter = Q(
    "f12_multi_dim_filter",
    """SELECT session_id, status, profile_name, created_ms FROM (
      |  SELECT CAST(o_orderkey AS VARCHAR) AS session_id, 'active' AS status,
      |         o_orderpriority AS profile_name,
      |         CAST(epoch_ms(o_orderdate) AS BIGINT) AS created_ms, o_orderdate
      |  FROM orders
      |  WHERE o_orderstatus = 'O' AND o_orderpriority = '1-URGENT'
      |    AND o_orderdate >= TIMESTAMP '1996-01-01')
      |ORDER BY o_orderdate DESC, session_id LIMIT 50""".stripMargin,
  ) { t =>
    // SURVEY F12: the multi-dimension GET /sessions listing (§3.1) through
    // SessionStore.list — status ∧ profile ∧ since, newest-first, limit.
    SessionStore(sessionsOf(t))
      .list(
        status = Some("active"),
        profileName = Some("1-URGENT"),
        since = Some(Timestamp.from(Instant.parse("1996-01-01T00:00:00Z"))),
        limit = 50)
      .toDF()
      .select(
        col("session_id"), col("status"), col("profile_name"),
        unix_millis(col("created_at")).as("created_ms"))
  }

  val a4_group_max_order = Q(
    "a4_group_max_order",
    """SELECT user_id, max(CAST(epoch_ms(ts) AS BIGINT)) AS latest_ms, count(*) AS n_events
      |FROM events GROUP BY user_id ORDER BY latest_ms DESC, user_id""".stripMargin,
  ) { t =>
    // SURVEY A4: groups ordered by max member activity — the "recent
    // sessions by latest child" sort key (RecentSessionsTable.tsx:38-92).
    t.events
      .groupBy("user_id")
      .agg(max(unix_millis(col("ts"))).as("latest_ms"), count(lit(1)).as("n_events"))
      .orderBy(col("latest_ms").desc, col("user_id"))
  }

  val o6_ci_children_sort = Q(
    "o6_ci_children_sort",
    """SELECT p_brand AS parent,
      |       row_number() OVER (PARTITION BY p_brand ORDER BY lower(p_name), p_partkey) AS pos,
      |       p_partkey AS id, p_name AS name
      |FROM part ORDER BY parent, pos""".stripMargin,
  ) { t =>
    // SURVEY O6: case-insensitive hierarchical child sort (treeUtils.ts:
    // 62-80) — the REAL GraphOps.childrenByParent aggregate, flattened back
    // to rows so the in-array ordering is driver-checkable.
    GraphOps.childrenByParent(t.part, "p_partkey", "p_brand", "p_name")
      .select(col("parent"), posexplode(col("children")).as(Seq("pos0", "c")))
      .select(
        col("parent"),
        (col("pos0") + 1).cast("long").as("pos"),
        col("c.id").as("id"),
        col("c.name").as("name"))
      .orderBy("parent", "pos")
  }

  val o7_children_desc = Q(
    "o7_children_desc",
    """SELECT parent, session_id, created_ms,
      |       row_number() OVER (PARTITION BY parent ORDER BY created_ms DESC, session_id DESC) AS pos
      |FROM (SELECT CAST(o_orderkey - (o_orderkey % 10) AS VARCHAR) AS parent,
      |             CAST(o_orderkey AS VARCHAR) AS session_id,
      |             CAST(epoch_ms(o_orderdate) AS BIGINT) AS created_ms
      |      FROM orders WHERE o_orderkey % 10 <> 0)
      |ORDER BY parent, pos""".stripMargin,
  ) { t =>
    // SURVEY O7: children newest-first under each parent — the child
    // ordering inside SessionStore.recentWithChildren's sort_array(desc),
    // flattened via a rank so the driver can hash it.
    val kids = sessionsOf(t).toDF()
      .filter(col("parent_session_id").isNotNull)
      .select(
        col("parent_session_id").as("parent"),
        col("session_id"),
        unix_millis(col("created_at")).as("created_ms"))
    val w = Window.partitionBy("parent").orderBy(col("created_ms").desc, col("session_id").desc)
    kids.withColumn("pos", row_number().over(w)).orderBy("parent", "pos")
  }

  val j6_marker_join = Q(
    "j6_marker_join",
    """SELECT d.doc_id, m.marker_id, m.marker_source
      |FROM (SELECT doc_id, doc_id - (doc_id % 50) AS mk FROM documents) d
      |JOIN (SELECT doc_id AS marker_id, source AS marker_source
      |      FROM documents WHERE doc_id % 50 = 0) m ON d.mk = m.marker_id
      |ORDER BY d.doc_id""".stripMargin,
  ) { t =>
    // SURVEY J6: marker-directory ↔ entity metadata join (amplified_
    // directory discovery, FileCatalog.joinMarkers shape): every entity
    // resolves its governing marker via a derived key; the marker side is
    // registry-sized -> broadcast, no shuffle on the big side.
    val markers = t.documents
      .filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("marker_id"), col("source").as("marker_source"))
    t.documents
      .select(col("doc_id"), (col("doc_id") - col("doc_id") % 50).as("mk"))
      .join(broadcast(markers), col("mk") === col("marker_id"))
      .select(col("doc_id"), col("marker_id"), col("marker_source"))
      .orderBy("doc_id")
  }

  val m1_update_where = Q(
    "m1_update_where",
    """SELECT o_orderkey,
      |       CASE WHEN o_orderstatus = 'O' THEN o_totalprice * 1.1 ELSE o_totalprice END AS o_totalprice
      |FROM orders ORDER BY o_orderkey""".stripMargin,
  ) { t =>
    // SURVEY M1: read-modify-write of rows matching a predicate
    // (session rename / status PATCH, manager.py:254-284) via the REAL
    // Maintenance.updateWhere. IEEE double multiply is engine-identical.
    Maintenance
      .updateWhere(
        t.orders,
        col("o_orderstatus") === "O",
        _.withColumn("o_totalprice", col("o_totalprice") * 1.1))
      .select("o_orderkey", "o_totalprice")
      .orderBy("o_orderkey")
  }

  val m8_delete_last = Q(
    "m8_delete_last",
    """SELECT user_id, event_id FROM (
      |  SELECT user_id, event_id,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY CAST(epoch_ms(ts) AS BIGINT) DESC, event_id DESC) AS rn
      |  FROM events) WHERE rn > 1 ORDER BY user_id, event_id""".stripMargin,
  ) { t =>
    // SURVEY M8: pop the transcript tail (sessions/manager.py:293-325) via
    // the REAL Maintenance.deleteLastPerGroup.
    Maintenance
      .deleteLastPerGroup(
        t.events.select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms")),
        "user_id",
        Seq(col("ms"), col("event_id")))
      .select("user_id", "event_id")
      .orderBy("user_id", "event_id")
  }

  val m9_merge = Q(
    "m9_merge",
    """WITH batch AS (
      |  SELECT o_orderkey, 'M' AS o_orderstatus, o_totalprice + 1000 AS o_totalprice,
      |         strftime(o_orderdate, '%Y-%m') AS o_month
      |  FROM orders WHERE o_orderkey % 97 = 0
      |  UNION ALL
      |  SELECT o_orderkey + 10000000, 'N', o_totalprice, strftime(o_orderdate, '%Y-%m')
      |  FROM orders WHERE o_orderkey % 97 = 0)
      |SELECT o_orderkey, o_orderstatus, o_totalprice, o_month FROM batch
      |UNION ALL
      |SELECT o_orderkey, o_orderstatus, o_totalprice, strftime(o_orderdate, '%Y-%m')
      |FROM orders WHERE o_orderkey % 97 <> 0
      |ORDER BY o_orderkey""".stripMargin,
  ) { t =>
    // The generic MERGE verb (Delta MERGE semantics over partitioned
    // parquet, reference anchor sessions/manager.py:502-525), exercised
    // END-TO-END on disk: a month-partitioned copy of orders takes a batch
    // of updates (matched keys: status->'M', price+1000) and inserts (new
    // keys), through the REAL Maintenance.merge — partition-pruned read,
    // staging write, per-partition atomic swap — and the read-back must
    // equal the oracle's row-level CASE/UNION rendering of the same merge.
    // The partitioned copy materializes once per (table dir, mtime) — the
    // s1 setup-hoist pattern; the merge itself re-runs every repeat and is
    // idempotent by construction (same batch upsert -> same content), so
    // the row is deterministic AND times the mutation verb, which IS a
    // write. MergeSpec asserts the untouched-partition bytes and the
    // pruned scan; this row pins the semantics.
    val src   = new java.io.File(t.dir, "orders.parquet")
    val stamp = java.lang.Long.toHexString(src.lastModified())
    val table = new java.io.File(
      sys.props("java.io.tmpdir"),
      "graft_m9_" + t.dir.replaceAll("[^A-Za-z0-9.]", "_") + "_" + stamp).toString
    val withMonth = t.orders
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
    if (!new java.io.File(table, "_SUCCESS").exists())
      withMonth.write.mode("overwrite").partitionBy("o_month").parquet(table)
    val hit = withMonth.filter(col("o_orderkey") % 97 === 0)
    val batch = hit
      .withColumn("o_orderstatus", lit("M"))
      .withColumn("o_totalprice", col("o_totalprice") + 1000)
      .unionByName(
        hit.withColumn("o_orderkey", col("o_orderkey") + 10000000L)
          .withColumn("o_orderstatus", lit("N")))
    Maintenance.merge(t.spark, table, batch, Seq("o_orderkey"), "o_month")
    t.spark.read.parquet(table)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"), col("o_month"))
      .orderBy("o_orderkey")
  }

  val all: Seq[Q] = Seq(
    f7_automation_filters, f8_history_page, f11_unread_counts, f12_multi_dim_filter,
    a4_group_max_order, o6_ci_children_sort, o7_children_desc, j6_marker_join,
    m1_update_where, m8_delete_last, m9_merge,
  )
}
