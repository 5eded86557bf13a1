package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Q

/** Relational core: projections, filters, joins, aggregations, sorts, set ops
  * (SURVEY.md §2.2, §2.3, §2.4, §2.6, §2.7), expressed over the driver test
  * tables so every query round-trips to the DuckDB oracle.
  *
  * Cross-engine determinism rules used throughout this codebase:
  *   - Money/quantity aggregates go through DECIMAL(18,2): the double columns
  *     carry 2-decimal values exactly, decimal addition is exact and
  *     order-independent, and the final CAST back to DOUBLE lands on the same
  *     IEEE value in Spark and DuckDB. Plain SUM(double) is order-dependent
  *     and would flap under 32-way partial aggregation.
  *   - Averages are `CAST(decimal-sum AS DOUBLE) / COUNT` — one double
  *     division on identical operands, never AVG(double).
  *   - Every query ends in a total ORDER BY on a unique key set.
  *   - Window orderings always carry a unique tiebreaker column.
  *
  * Scale notes (100 TB): filters/projections push to the parquet scan
  * (verified via `.explain` — PushedFilters / ReadSchema); dimension joins
  * (region/nation/customer at TPC-H ratios) are broadcast explicitly;
  * fact-fact joins shuffle on the join key and AQE handles skew.
  */
object Relational {

  /** Exact, order-independent sum of a 2-decimal double column. */
  private def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast(DoubleType)
  private val DSUM = "CAST(SUM(CAST(%s AS DECIMAL(18,2))) AS DOUBLE)"

  // ===== Projections (P1-P3) =====

  val p1_index_projection = Q(
    "p1_index_projection",
    """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      |FROM customer ORDER BY c_custkey""".stripMargin,
  ) { t =>
    // SURVEY P1: SessionMetadata -> SessionIndexEntry narrow projection
    // (reference: amplifier_library/sessions/manager.py:546-560). Column
    // pruning reaches the scan: ReadSchema lists exactly these five columns.
    t.customer
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .orderBy("c_custkey")
  }

  val p2_exclude_last = Q(
    "p2_exclude_last",
    """SELECT l_orderkey, l_linenumber, l_quantity FROM (
      |  SELECT l_orderkey, l_linenumber, l_quantity,
      |         row_number() OVER (PARTITION BY l_orderkey
      |                            ORDER BY l_linenumber DESC, l_partkey, l_suppkey,
      |                                     l_extendedprice, l_quantity) AS rn
      |  FROM lineitem) WHERE rn > 1
      |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin,
  ) { t =>
    // SURVEY P2/W4: history = all but the most recent row per group
    // (reference: amplifier_library/execution/runner.py:83-86).
    // (l_orderkey, l_linenumber) is NOT unique in the generated data, so the
    // window order carries the remaining columns as tiebreakers — full rows
    // are unique, which makes the dropped row engine-deterministic.
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("l_orderkey").orderBy(
      col("l_linenumber").desc, col("l_partkey"), col("l_suppkey"),
      col("l_extendedprice"), col("l_quantity"))
    t.lineitem
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") > 1)
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber", "l_quantity")
  }

  val p3_rename_projection = Q(
    "p3_rename_projection",
    """SELECT s_suppkey AS supplier_id, s_name AS supplier_name, s_acctbal AS account_balance
      |FROM supplier ORDER BY supplier_id""".stripMargin,
  ) { t =>
    // SURVEY P3: snake_case -> camelCase output aliasing
    // (reference: amplifier_library/models/base.py:8-14).
    t.supplier
      .select(
        col("s_suppkey").as("supplier_id"),
        col("s_name").as("supplier_name"),
        col("s_acctbal").as("account_balance"),
      )
      .orderBy("supplier_id")
  }

  // ===== Filters (F1-F10) =====

  val f1_conjunctive_filter = Q(
    "f1_conjunctive_filter",
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
      |FROM orders
      |WHERE o_orderstatus = 'F' AND o_totalprice > 200000.0
      |  AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
      |ORDER BY o_orderkey""".stripMargin,
  ) { t =>
    // SURVEY F1: conjunctive equality/range filter stack
    // (reference: sessions/manager.py:385-396). All three predicates push
    // down to the parquet scan as PushedFilters.
    t.orders
      .filter(
        col("o_orderstatus") === "F" &&
          col("o_totalprice") > 200000.0 &&
          col("o_orderdate") >= lit("1998-01-01").cast(TimestampType))
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
      .orderBy("o_orderkey")
  }

  val f3_case_normalized_filter = Q(
    "f3_case_normalized_filter",
    """SELECT c_custkey, c_mktsegment FROM customer
      |WHERE upper(c_mktsegment) = 'BUILDING' ORDER BY c_custkey""".stripMargin,
  ) { t =>
    // SURVEY F3: case-normalized equality (routers/sessions.py:1388-1390).
    t.customer
      .filter(upper(col("c_mktsegment")) === "BUILDING")
      .select("c_custkey", "c_mktsegment")
      .orderBy("c_custkey")
  }

  val f4_prefix_filter = Q(
    "f4_prefix_filter",
    """SELECT event_id, event_type FROM events
      |WHERE event_type LIKE 's%' ORDER BY event_id""".stripMargin,
  ) { t =>
    // SURVEY F4: event-type prefix filter ("tool:" style, sessions.py:1391-93).
    t.events
      .filter(col("event_type").startsWith("s"))
      .select("event_id", "event_type")
      .orderBy("event_id")
  }

  val f6_set_membership_classify = Q(
    "f6_set_membership_classify",
    """SELECT CASE WHEN p_type IN ('ECONOMY','STANDARD') THEN 'basic'
      |            WHEN p_type IN ('LARGE','MEDIUM','SMALL') THEN 'sized'
      |            ELSE 'other' END AS type_class,
      |       count(*) AS n, count(DISTINCT p_brand) AS n_brands
      |FROM part GROUP BY 1 ORDER BY type_class""".stripMargin,
  ) { t =>
    // SURVEY F6: extension-set viewability classifier as CASE WHEN
    // (reference: routers/directories.py:205-283).
    t.part
      .withColumn(
        "type_class",
        when(col("p_type").isin("ECONOMY", "STANDARD"), "basic")
          .when(col("p_type").isin("LARGE", "MEDIUM", "SMALL"), "sized")
          .otherwise("other"))
      .groupBy("type_class")
      .agg(count(lit(1)).as("n"), countDistinct(col("p_brand")).as("n_brands"))
      .orderBy("type_class")
  }

  val f10_age_cutoff = Q(
    "f10_age_cutoff",
    """SELECT o_orderstatus, count(*) AS n FROM orders
      |WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND o_orderstatus NOT IN ('P')
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
  ) { t =>
    // SURVEY F10: retention cutoff predicate (manager.py:468-487) — age
    // threshold plus protected-status exclusion.
    t.orders
      .filter(
        col("o_orderdate") < lit("1997-01-01").cast(TimestampType) &&
          !col("o_orderstatus").isin("P"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"))
      .orderBy("o_orderstatus")
  }

  // ===== Joins (J1-J7) =====

  val j1_join_group = Q(
    "j1_join_group",
    s"""SELECT c_custkey, c_name, count(*) AS n_orders,
       |       ${DSUM.format("o_totalprice")} AS total_spend
       |FROM customer JOIN orders ON o_custkey = c_custkey
       |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin,
  ) { t =>
    // SURVEY J1: parent<->child hash join + per-parent aggregation
    // (reference: RecentSessionsTable.tsx:38-74). customer is the smaller
    // side at TPC-H ratios (1:10 vs orders) but GROWS with the corpus, so
    // it carries no broadcast hint: AQE broadcasts it while it fits (it
    // does at sf0.1) and degrades to sort-merge past the 8 GB limit
    // instead of OOMing the driver at 100x.
    t.orders
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .groupBy("c_custkey", "c_name")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_spend"))
      .orderBy("c_custkey")
  }

  val j2_anti_join = Q(
    "j2_anti_join",
    """SELECT c_custkey FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin,
  ) { t =>
    // SURVEY J2: orphan detection as left-anti (RecentSessionsTable.tsx:68-72).
    t.customer
      .join(t.orders, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey")
      .orderBy("c_custkey")
  }

  val j3_semi_join = Q(
    "j3_semi_join",
    """SELECT c_custkey FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
      |ORDER BY c_custkey""".stripMargin,
  ) { t =>
    // SURVEY J3-shape as left-semi: customers with at least one qualifying
    // order (the tool:pre/tool:post existence check reduces to semi-join).
    t.customer
      .join(
        t.orders.filter(col("o_totalprice") > 400000.0),
        col("c_custkey") === col("o_custkey"),
        "left_semi")
      .select("c_custkey")
      .orderBy("c_custkey")
  }

  val j4_outer_join = Q(
    "j4_outer_join",
    s"""SELECT c_custkey, count(o_orderkey) AS n_orders,
       |       COALESCE(${DSUM.format("o_totalprice")}, 0.0) AS total_spend
       |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
       |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
  ) { t =>
    // SURVEY J4 + C12: left-outer lookup with COALESCE defaults
    // (treeUtils.ts:13-43; manager.py:485).
    t.customer
      .join(t.orders, col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        coalesce(dsum(col("o_totalprice")), lit(0.0)).as("total_spend"))
      .orderBy("c_custkey")
  }

  val j5_star_join = Q(
    "j5_star_join",
    """SELECT r_name, n_name,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |       count(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
  ) { t =>
    // TPC-H Q5-shaped star join carrying the SURVEY §2.3 matrix: the two
    // facts (lineitem/orders) meet in a shuffled join on orderkey; the
    // FIXED dimensions (nation/region — 25/5 rows at every SF) are pinned
    // broadcast, while customer grows with the corpus and is left to AQE
    // (broadcast while it fits, sort-merge past the 8 GB limit at 100x).
    // Revenue in exact decimal, cast to double last.
    val revenue = sum(
      col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1) - col("l_discount").cast(DecimalType(18, 2)))).cast(DoubleType)
    t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(revenue.as("revenue"), count(lit(1)).as("n_items"))
      .orderBy("r_name", "n_name")
  }

  val j7_latest_per_key = Q(
    "j7_latest_per_key",
    """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
      |         row_number() OVER (PARTITION BY o_custkey
      |                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |  FROM orders) WHERE rn = 1
      |ORDER BY o_custkey""".stripMargin,
  ) { t =>
    // SURVEY J7/W5: latest execution per automation == newest order per
    // customer (automation_scheduler.py:204-209). Single shuffle on the
    // partition key; o_orderkey breaks date ties deterministically.
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    t.orders
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
      .orderBy("o_custkey")
  }

  // ===== Aggregations (A1-A10) =====

  val a1_groupby_count = Q(
    "a1_groupby_count",
    """SELECT l_returnflag, l_linestatus, count(*) AS n
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin,
  ) { t =>
    // SURVEY A1: the unread-counts group-by (routers/sessions.py:774-785) —
    // the §7.2 minimum end-to-end slice. Partial aggregation happens
    // map-side; only 6 groups cross the exchange.
    t.lineitem
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val a1_pricing_summary = Q(
    "a1_pricing_summary",
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
      |  count(*) AS count_order
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin,
  ) { t =>
    // TPC-H Q1-shaped pricing summary (BENCH headline). All sums in exact
    // decimal; the charge product is re-quantized to DECIMAL(18,4) between
    // multiplies so both engines stay inside 38-digit precision; averages
    // are decimal-sum / count in double.
    val d2  = (c: Column) => c.cast(DecimalType(18, 2))
    val qty = sum(d2(col("l_quantity"))).cast(DoubleType)
    val base = sum(d2(col("l_extendedprice"))).cast(DoubleType)
    val disc = sum(d2(col("l_extendedprice")) * (lit(1) - d2(col("l_discount")))).cast(DoubleType)
    val charge = sum(
      (d2(col("l_extendedprice")) * (lit(1) - d2(col("l_discount"))))
        .cast(DecimalType(18, 4)) * (lit(1) + d2(col("l_tax")))).cast(DoubleType)
    t.lineitem
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        qty.as("sum_qty"),
        base.as("sum_base_price"),
        disc.as("sum_disc_price"),
        charge.as("sum_charge"),
        (qty / count(lit(1))).as("avg_qty"),
        (base / count(lit(1))).as("avg_price"),
        count(lit(1)).as("count_order"),
      )
      .orderBy("l_returnflag", "l_linestatus")
  }

  val a2_count_avg = Q(
    "a2_count_avg",
    s"""SELECT event_type, count(*) AS n,
       |       ${DSUM.format("value")} / count(*) AS avg_value
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
  ) { t =>
    // SURVEY A2: count + avg per group (useExecutionState.ts:84-112).
    t.events
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), (dsum(col("value")) / count(lit(1))).as("avg_value"))
      .orderBy("event_type")
  }

  val a3_argmax = Q(
    "a3_argmax",
    """SELECT event_type, event_id, value FROM (
      |  SELECT event_type, event_id, value,
      |         row_number() OVER (PARTITION BY event_type
      |                            ORDER BY value DESC, event_id ASC) AS rn
      |  FROM events) WHERE rn = 1 ORDER BY event_type""".stripMargin,
  ) { t =>
    // SURVEY A3: arg-max — longest tool per session (useExecutionState.ts:
    // 95-104). row_number with an event_id tiebreak instead of max_by so
    // ties resolve identically in both engines.
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy(col("value").desc, col("event_id").asc)
    t.events
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("event_type", "event_id", "value")
      .orderBy("event_type")
  }

  val a6_distinct = Q(
    "a6_distinct",
    "SELECT DISTINCT event_type FROM events ORDER BY event_type",
  ) { t =>
    // SURVEY A6: distinct event types (EventLogViewer.tsx:43-94).
    t.events.select("event_type").distinct().orderBy("event_type")
  }

  val a7_total_counts = Q(
    "a7_total_counts",
    """SELECT (SELECT count(*) FROM lineitem) AS n_lineitem,
      |       (SELECT count(*) FROM orders) AS n_orders,
      |       (SELECT count(*) FROM customer) AS n_customer""".stripMargin,
  ) { t =>
    // SURVEY A7: total-count for pagination metadata (sessions.py:1396-98).
    t.lineitem
      .agg(count(lit(1)).as("n_lineitem"))
      .crossJoin(t.orders.agg(count(lit(1)).as("n_orders")))
      .crossJoin(t.customer.agg(count(lit(1)).as("n_customer")))
  }

  val a9_metrics_recompute = Q(
    "a9_metrics_recompute",
    s"""SELECT user_id, count(*) AS n_events,
       |       ${DSUM.format("value")} AS sum_value,
       |       CAST(epoch_ms(max(ts)) AS BIGINT) AS last_event_ms
       |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
  ) { t =>
    // SURVEY A9: session counters recomputed from the log instead of
    // mutated in place (manager.py:286-291). Timestamps leave as epoch-ms
    // longs: the events table is nanosecond-precision parquet and the two
    // engines truncate differently at sub-millisecond.
    t.events
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        dsum(col("value")).as("sum_value"),
        unix_millis(max(col("ts"))).as("last_event_ms"))
      .orderBy("user_id")
  }

  val a10_rollup = Q(
    "a10_rollup",
    """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
      |       COALESCE(l_linestatus, 'ALL') AS linestatus,
      |       count(*) AS n,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin,
  ) { t =>
    // ROLLUP extension (SURVEY §2.4 note). NULL grouping keys are projected
    // to 'ALL' so ORDER BY sees no NULLs (Spark sorts NULLS FIRST, DuckDB
    // NULLS LAST — the sentinel sidesteps the divergence).
    t.lineitem
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n"),
        col("sum_qty"))
      .orderBy("returnflag", "linestatus")
  }

  val a13_cube = Q(
    "a13_cube",
    """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
      |       COALESCE(l_linestatus, 'ALL') AS linestatus,
      |       count(*) AS n,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin,
  ) { t =>
    // CUBE extension: the full grouping-set lattice (adds the
    // linestatus-only marginals ROLLUP omits) — physically one Expand +
    // one aggregation, NOT four scans. Same NULL->'ALL' sentinel as a10.
    t.lineitem
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n"),
        col("sum_qty"))
      .orderBy("returnflag", "linestatus")
  }

  val a14_grouping_sets = Q(
    "a14_grouping_sets",
    """SELECT l_returnflag, l_linestatus,
      |       CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
      |       CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
      |       count(*) AS n,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY g_rf, g_ls, l_returnflag, l_linestatus""".stripMargin,
  ) { t =>
    // Explicit GROUPING SETS — the a10/a13 lattice family's general form:
    // EXACTLY the requested marginals (two one-dimension slices + grand
    // total), skipping the (rf, ls) cells CUBE would also compute. Still
    // one Expand + one aggregation physically — each input row replicates
    // only #sets times. grouping() disambiguates "NULL because aggregated"
    // from a genuinely NULL group value — the reason the a10/a13 'ALL'
    // sentinel isn't needed here.
    t.lineitem
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping(col("l_returnflag")).cast("int").as("g_rf"),
        grouping(col("l_linestatus")).cast("int").as("g_ls"),
        count(lit(1)).as("n"),
        dsum(col("l_quantity")).as("sum_qty"))
      .select("l_returnflag", "l_linestatus", "g_rf", "g_ls", "n", "sum_qty")
      .orderBy("g_rf", "g_ls", "l_returnflag", "l_linestatus")
  }

  val q3_shipping_priority = Q(
    "q3_shipping_priority",
    """SELECT o_orderkey,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |       o_orderdate, o_orderpriority
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
      |GROUP BY o_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
  ) { t =>
    // TPC-H Q3 shape (BENCH headline): segment-filtered customer joined
    // into orders (unhinted — the filtered set is still ~1/5 of customer
    // and grows with the corpus; AQE broadcasts it at sf0.1), date filters
    // pushed to both fact scans, top-10 by revenue via
    // TakeOrderedAndProject after one shuffled agg.
    val revenue = sum(
      col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1) - col("l_discount").cast(DecimalType(18, 2)))).cast(DoubleType)
    t.lineitem
      .filter(col("l_shipdate") > lit("1998-06-01").cast(TimestampType))
      .join(
        t.orders.filter(col("o_orderdate") < lit("1998-06-01").cast(TimestampType)),
        col("l_orderkey") === col("o_orderkey"))
      .join(
        t.customer.filter(col("c_mktsegment") === "BUILDING"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
      .agg(revenue.as("revenue"))
      .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  val q6_forecast_revenue = Q(
    "q6_forecast_revenue",
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |       count(*) AS n
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_discount >= 0.05 AND l_discount <= 0.07
      |  AND l_quantity < 24.0""".stripMargin,
  ) { t =>
    // TPC-H Q6 shape: pure scan-filter-aggregate; all four predicates push
    // to the parquet scan, single partial+final agg, no join.
    t.lineitem
      .filter(
        col("l_shipdate") >= lit("1997-01-01").cast(TimestampType) &&
          col("l_shipdate") < lit("1998-01-01").cast(TimestampType) &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24.0)
      .agg(
        sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
          col("l_discount").cast(DecimalType(18, 2))).cast(DoubleType).as("revenue"),
        count(lit(1)).as("n"))
  }

  val q17_below_avg = Q(
    "q17_below_avg",
    """SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly,
      |       count(*) AS n
      |FROM lineitem l
      |JOIN (SELECT l_partkey,
      |             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty
      |      FROM lineitem GROUP BY l_partkey) pa
      |  ON l.l_partkey = pa.l_partkey
      |WHERE l.l_quantity < 0.5 * pa.avg_qty""".stripMargin,
  ) { t =>
    // TPC-H Q17 shape: the correlated "below this part's average" subquery
    // decorrelated into an aggregate self-join — the plan Catalyst's
    // subquery decorrelation would produce, written directly. The per-part
    // average is small (one row per part) so AQE broadcasts it back onto
    // the fact.
    val perPart = t.lineitem
      .groupBy(col("l_partkey").as("pk"))
      .agg((sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType) / count(lit(1)))
        .as("avg_qty"))
    t.lineitem
      .join(perPart, col("l_partkey") === col("pk"))
      .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
      .agg(
        (sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast(DoubleType) / 7.0)
          .as("avg_yearly"),
        count(lit(1)).as("n"))
  }

  val q18_having = Q(
    "q18_having",
    s"""SELECT o_custkey, count(*) AS n_orders,
       |       ${DSUM.format("o_totalprice")} AS total_spend
       |FROM orders GROUP BY o_custkey
       |HAVING ${DSUM.format("o_totalprice")} > 3000000.0
       |ORDER BY o_custkey""".stripMargin,
  ) { t =>
    // TPC-H Q18 shape: post-aggregation predicate (HAVING) — a filter above
    // the hash aggregate, pruning groups before the presentation sort.
    t.orders
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_spend"))
      .filter(col("total_spend") > 3000000.0)
      .orderBy("o_custkey")
  }

  val q4_exists_semi = Q(
    "q4_exists_semi",
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders o
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey
      |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
  ) { t =>
    // TPC-H Q4 shape: correlated EXISTS decorrelated to a left-semi join
    // whose condition references both sides (late-shipping lineitem within
    // the order window). Catalyst plans the semi join on orderkey with the
    // date comparison as the join residual — the fact table is filtered
    // once, never re-scanned per outer row.
    t.orders
      .filter(
        col("o_orderdate") >= lit("1996-01-01").cast(TimestampType) &&
          col("o_orderdate") < lit("1996-07-01").cast(TimestampType))
      .join(
        t.lineitem.select("l_orderkey", "l_shipdate"),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  val q12_priority_split = Q(
    "q12_priority_split",
    """SELECT l_returnflag,
      |       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
  ) { t =>
    // TPC-H Q12 shape: fact-fact join + two-way conditional counting in one
    // aggregation pass (CASE inside SUM — no per-branch re-aggregation or
    // union). The shipdate filter pushes to the lineitem scan before the
    // join.
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    t.lineitem
      .filter(
        col("l_shipdate") >= lit("1996-01-01").cast(TimestampType) &&
          col("l_shipdate") < lit("1997-01-01").cast(TimestampType))
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(
        sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy("l_returnflag")
  }

  val q14_promo_share = Q(
    "q14_promo_share",
    """SELECT CAST(100.0 AS DOUBLE)
      |       * CAST(SUM(CASE WHEN p_type = 'PROMO'
      |                       THEN CAST(l_extendedprice AS DECIMAL(18,2))
      |                            * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) END) AS DOUBLE)
      |       / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |                  * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS promo_share
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'""".stripMargin,
  ) { t =>
    // TPC-H Q14 shape: conditional revenue share — an unhinted part join
    // (part grows with the corpus; AQE broadcasts it while it fits), one
    // aggregation with a guarded numerator, and a SINGLE double division at
    // the end. Revenue stays exact decimal through the sums (the §7.4
    // determinism rule), so the ratio is engine-identical.
    val rev = col("l_extendedprice").cast(DecimalType(18, 2)) *
      (lit(1).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2)))
    t.lineitem
      .filter(
        col("l_shipdate") >= lit("1997-01-01").cast(TimestampType) &&
          col("l_shipdate") < lit("1998-01-01").cast(TimestampType))
      .join(t.part.select("p_partkey", "p_type"), col("l_partkey") === col("p_partkey"))
      .agg(
        (lit(100.0) *
          sum(when(col("p_type") === "PROMO", rev)).cast(DoubleType) /
          sum(rev).cast(DoubleType)).as("promo_share"))
  }

  // ===== Sorts / limits (O1-O5) =====

  val o1_topk = Q(
    "o1_topk",
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
  ) { t =>
    // SURVEY O1: sort desc + limit (manager.py:408-414). Catalyst plans
    // TakeOrderedAndProject — per-partition top-k, no global sort shuffle.
    t.orders
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .select("o_orderkey", "o_totalprice")
      .limit(10)
  }

  val o2_pagination = Q(
    "o2_pagination",
    """SELECT o_orderkey, o_totalprice FROM (
      |  SELECT o_orderkey, o_totalprice,
      |         row_number() OVER (ORDER BY o_orderkey) AS rn
      |  FROM orders) WHERE rn > 40 AND rn <= 60 ORDER BY o_orderkey""".stripMargin,
  ) { t =>
    // SURVEY O2: offset/limit pagination (sessions.py:1395-1400), expressed
    // as a row_number band so page boundaries are engine-independent.
    // NOTE: the unpartitioned window pulls the table through one task —
    // demo/presentation shape only. The scale path is o2b_keyset_pagination
    // below: filter + top-k keeps the scan distributed and prunes at the
    // source.
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("o_orderkey")
    t.orders
      .select(col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") > 40 && col("rn") <= 60)
      .select("o_orderkey", "o_totalprice")
      .orderBy("o_orderkey")
  }

  val o2b_keyset_pagination = Q(
    "o2b_keyset_pagination",
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |WHERE o_orderkey > 1000 ORDER BY o_orderkey LIMIT 20""".stripMargin,
  ) { t =>
    // SURVEY O2 (scale form): keyset pagination — WHERE key > last_seen
    // ORDER BY key LIMIT n. The predicate pushes to the parquet scan
    // (min/max row-group pruning) and the limit plans as
    // TakeOrderedAndProject: per-partition top-k, no single-partition
    // window, no global sort. This is the shape that survives 100 TB.
    t.orders
      .filter(col("o_orderkey") > 1000)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey")
      .limit(20)
  }

  val o4_two_key_sort = Q(
    "o4_two_key_sort",
    """SELECT p_partkey, p_brand, p_name FROM part
      |ORDER BY p_brand, lower(p_name), p_partkey LIMIT 50""".stripMargin,
  ) { t =>
    // SURVEY O4/O5: dirs-first, case-insensitive-name sort with early-exit
    // top-k (routers/directories.py:168, 187-188).
    t.part
      .select("p_partkey", "p_brand", "p_name")
      .orderBy(col("p_brand"), lower(col("p_name")), col("p_partkey"))
      .limit(50)
  }

  // ===== Set ops (U1-U3) =====

  val u1_union_all = Q(
    "u1_union_all",
    """SELECT event_id, 'purchase' AS src FROM events WHERE event_type = 'purchase'
      |UNION ALL
      |SELECT event_id, 'signup' AS src FROM events WHERE event_type = 'signup'
      |ORDER BY src, event_id""".stripMargin,
  ) { t =>
    // SURVEY U1: union-all of per-entity logs with a lineage column
    // (routers/sessions.py:1369-1384).
    val a = t.events.filter(col("event_type") === "purchase")
      .select(col("event_id"), lit("purchase").as("src"))
    val b = t.events.filter(col("event_type") === "signup")
      .select(col("event_id"), lit("signup").as("src"))
    a.unionByName(b).orderBy("src", "event_id")
  }

  val u2_except = Q(
    "u2_except",
    """SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |EXCEPT
      |SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
      |ORDER BY o_custkey""".stripMargin,
  ) { t =>
    // SURVEY U2: visited-set difference as EXCEPT (mention_loader.py:102-106).
    def year(y: Int) = t.orders
      .filter(
        col("o_orderdate") >= lit(s"$y-01-01").cast(TimestampType) &&
          col("o_orderdate") < lit(s"${y + 1}-01-01").cast(TimestampType))
      .select("o_custkey")
    year(1997).except(year(1998)).orderBy("o_custkey")
  }

  val u3_intersect = Q(
    "u3_intersect",
    """SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |INTERSECT
      |SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
      |ORDER BY o_custkey""".stripMargin,
  ) { t =>
    // SURVEY U3: distinct-union/queue-membership as INTERSECT
    // (mention_loader.py:119-124).
    def year(y: Int) = t.orders
      .filter(
        col("o_orderdate") >= lit(s"$y-01-01").cast(TimestampType) &&
          col("o_orderdate") < lit(s"${y + 1}-01-01").cast(TimestampType))
      .select("o_custkey")
    year(1997).intersect(year(1998)).orderBy("o_custkey")
  }

  val q13_order_dist = Q(
    "q13_order_dist",
    """WITH oc AS (
      |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n FROM orders
      |  WHERE o_orderpriority <> '1-URGENT' GROUP BY o_custkey)
      |SELECT coalesce(oc.n, 0) AS n_orders, count(*) AS n_cust
      |FROM customer c LEFT JOIN oc ON oc.o_custkey = c.c_custkey
      |GROUP BY 1 ORDER BY n_cust DESC, n_orders DESC""".stripMargin,
  ) { t =>
    // TPC-H Q13 shape: customer-order-count distribution INCLUDING
    // zero-order customers — the outer join no inner form can express.
    // Aggregate-below-join: orders collapse to one (custkey, n) row per
    // customer BEFORE the outer join, so the join probes |customers| x 1
    // instead of streaming every order row through it, and the collapsed
    // side broadcasts under AQE at dimension-like sizes.
    val perCust = t.orders
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n"))
    t.customer
      .join(perCust, col("o_custkey") === col("c_custkey"), "left")
      .select(coalesce(col("n"), lit(0L)).as("n_orders"))
      .groupBy("n_orders")
      .agg(count(lit(1)).as("n_cust"))
      .orderBy(col("n_cust").desc, col("n_orders").desc)
  }

  val q16_supplier_cnt = Q(
    "q16_supplier_cnt",
    """SELECT p_brand, p_type, p_size, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      |WHERE p.p_brand <> 'Brand#45' AND p.p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
      |  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY 1, 2, 3 ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
  ) { t =>
    // TPC-H Q16 shape (partsupp rendered as lineitem's (part, supplier)
    // pairs — the testdata ships no partsupp table): filtered dim join +
    // blacklist anti-join + count-distinct per group. The part predicate
    // prunes the joined side BEFORE the join (both part- and
    // supplier-derived frames are unhinted — they grow with the corpus, so
    // AQE picks broadcast only while they fit); the distinct collapses
    // (brand, type, size, suppkey) map-side before the count.
    val parts = t.part
      .filter(col("p_brand") =!= "Brand#45" &&
        col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    val badSupp = t.supplier.filter(col("s_acctbal") < 0).select("s_suppkey")
    t.lineitem.select("l_partkey", "l_suppkey")
      .join(parts, col("p_partkey") === col("l_partkey"))
      .join(badSupp, col("s_suppkey") === col("l_suppkey"), "left_anti")
      .groupBy("p_brand", "p_type", "p_size")
      .agg(count_distinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  val q19_disjunctive = Q(
    "q19_disjunctive",
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |       count(*) AS n
      |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      |WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5  AND l.l_quantity BETWEEN 1 AND 11)
      |   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10 AND l.l_quantity BETWEEN 10 AND 20)
      |   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 20 AND 30)""".stripMargin,
  ) { t =>
    // TPC-H Q19 shape: disjunction of brand/size/quantity conjuncts over
    // a join. The join key is COMMON to all three disjuncts, so this
    // stays one equi-join with an OR residual — never a union of three
    // joins (3x the probe) — while Catalyst extracts the disjunct-common
    // bounds (l_quantity in [1,30], p_size in [1,15]) as pushable scan
    // filters on each side.
    val branchTable = Seq(
      ("Brand#12", 5, 1.0, 11.0),
      ("Brand#23", 10, 10.0, 20.0),
      ("Brand#34", 15, 20.0, 30.0))
    val residual = branchTable.map { case (brand, szHi, qLo, qHi) =>
      col("p_brand") === brand && col("p_size").between(1, szHi) &&
        col("l_quantity").between(qLo, qHi)
    }.reduce(_ || _)
    t.lineitem
      .join(t.part, col("p_partkey") === col("l_partkey"))
      .filter(residual)
      .agg(
        sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
          (lit(1) - col("l_discount")).cast(DecimalType(18, 2)))
          .cast(DoubleType).as("revenue"),
        count(lit(1)).as("n"))
  }

  val q21_waiting_supplier = Q(
    "q21_waiting_supplier",
    """WITH rl AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem WHERE l_returnflag = 'R'),
      |al AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
      |SELECT rl.l_suppkey AS s_suppkey, CAST(count(*) AS BIGINT) AS numwait
      |FROM rl
      |WHERE EXISTS (SELECT 1 FROM al WHERE al.l_orderkey = rl.l_orderkey AND al.l_suppkey <> rl.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM rl r2 WHERE r2.l_orderkey = rl.l_orderkey AND r2.l_suppkey <> rl.l_suppkey)
      |GROUP BY 1 ORDER BY numwait DESC, s_suppkey LIMIT 20""".stripMargin,
  ) { t =>
    // TPC-H Q21 shape (returnflag standing in for the absent
    // receipt/commit dates): the sole at-fault supplier per multi-supplier
    // order — a correlated EXISTS (another supplier participated) plus a
    // correlated NOT EXISTS (no OTHER supplier is also at fault), both
    // with inequality correlation. Rendered as one orderkey-keyed shuffle:
    // semi/anti on "another supplier exists" reduce to per-order supplier
    // counts, which the (l_orderkey, l_suppkey)-distinct frames already
    // carry — no row-vs-row theta join at any scale.
    val rl = t.lineitem.filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_suppkey").distinct()
    val allCnt = t.lineitem.select("l_orderkey", "l_suppkey").distinct()
      .groupBy("l_orderkey").agg(count(lit(1)).as("n_supp"))
    val rCnt = rl.groupBy("l_orderkey").agg(count(lit(1)).as("n_fault"))
    rl
      .join(allCnt, Seq("l_orderkey"))
      .join(rCnt, Seq("l_orderkey"))
      .filter(col("n_supp") > 1 && col("n_fault") === 1)
      .groupBy(col("l_suppkey").as("s_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey"))
      .limit(20)
  }

  val q15_top_supplier = Q(
    "q15_top_supplier",
    """WITH rev AS (
      |  SELECT l_suppkey,
      |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS total_rev
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s.s_suppkey, s.s_name, r.total_rev
      |FROM supplier s JOIN rev r ON r.l_suppkey = s.s_suppkey
      |WHERE r.total_rev = (SELECT max(total_rev) FROM rev)
      |ORDER BY s_suppkey""".stripMargin,
  ) { t =>
    // TPC-H Q15 shape: the revenue "view" consumed twice — once for its
    // max (a 1-row broadcast), once as the join input — with an EXACT
    // equality between the two consumptions. Safe only because total_rev
    // is an exact DECIMAL sum cast once to double: a float-summed revenue
    // would make `rev = max(rev)` flap under partial aggregation. The
    // quarter's revenue agg is one keyed shuffle over the date-pruned
    // scan; the supplier join is unhinted (AQE broadcasts while it fits).
    val rev = t.lineitem
      .filter(col("l_shipdate") >= lit("1997-01-01").cast(TimestampType) &&
        col("l_shipdate") < lit("1997-04-01").cast(TimestampType))
      .groupBy("l_suppkey")
      .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1) - col("l_discount")).cast(DecimalType(18, 2)))
        .cast(DoubleType).as("total_rev"))
    val top = rev.agg(max("total_rev").as("m"))
    t.supplier.select("s_suppkey", "s_name")
      .join(rev, col("l_suppkey") === col("s_suppkey"))
      .crossJoin(broadcast(top))
      .filter(col("total_rev") === col("m"))
      .select("s_suppkey", "s_name", "total_rev")
      .orderBy("s_suppkey")
  }

  val q20_dominant_supplier = Q(
    "q20_dominant_supplier",
    """WITH sq AS (SELECT l_partkey, l_suppkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS q
      |            FROM lineitem GROUP BY 1, 2),
      |pq AS (SELECT l_partkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS tq
      |       FROM lineitem GROUP BY 1),
      |dominant AS (
      |  SELECT DISTINCT sq.l_suppkey FROM sq JOIN pq USING (l_partkey)
      |  JOIN part p ON p.p_partkey = sq.l_partkey
      |  WHERE p.p_type = 'PROMO' AND sq.q > 0.15 * pq.tq)
      |SELECT s_suppkey, s_name FROM supplier
      |WHERE s_suppkey IN (SELECT l_suppkey FROM dominant) ORDER BY s_suppkey""".stripMargin,
  ) { t =>
    // TPC-H Q20 shape (availqty rendered as shipped-quantity share —
    // no partsupp table ships): the nested-subquery chain
    // part-filter -> per-(part,supplier) threshold -> supplier semi-join.
    // Both quantity aggregates share the l_partkey grain, so the
    // (part, supplier) agg and the part total reuse one shuffle lineage;
    // the PROMO filter semi-joins onto the agg output, and the final
    // IN becomes a left-semi against the dominant set — both unhinted
    // (part/supplier-derived frames grow with the corpus; AQE broadcasts
    // them while they fit).
    val sq = t.lineitem
      .groupBy("l_partkey", "l_suppkey")
      .agg(dsum(col("l_quantity")).as("q"))
    val pq = t.lineitem
      .groupBy(col("l_partkey").as("pk"))
      .agg(dsum(col("l_quantity")).as("tq"))
    val promo = t.part.filter(col("p_type") === "PROMO").select("p_partkey")
    val dominant = sq
      .join(pq, col("pk") === col("l_partkey"))
      .join(promo, col("p_partkey") === col("l_partkey"), "left_semi")
      .filter(col("q") > lit(0.15) * col("tq"))
      .select("l_suppkey").distinct()
    t.supplier.select("s_suppkey", "s_name")
      .join(dominant, col("l_suppkey") === col("s_suppkey"), "left_semi")
      .orderBy("s_suppkey")
  }

  val q22_idle_balance = Q(
    "q22_idle_balance",
    """WITH thr AS (
      |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS t
      |  FROM customer WHERE c_acctbal > 0.0)
      |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
      |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
      |FROM customer, thr
      |WHERE c_acctbal > thr.t
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
  ) { t =>
    // TPC-H Q22 shape: scalar-subquery threshold + anti-join ("wealthy
    // customers with no urgent orders" — every testdata customer has
    // SOME order, so the urgent slice keeps the anti-join selective).
    // The threshold is the positive-balance mean computed in exact
    // DECIMAL sum / count — one broadcast scalar, bit-identical in both
    // engines, so the > compare can't flap. Anti side pre-projects to
    // distinct urgent custkeys before the shuffle.
    val thr = t.customer.filter(col("c_acctbal") > 0.0)
      .agg((dsum(col("c_acctbal")) / count(lit(1))).as("t"))
    val urgent = t.orders.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey")).distinct()
    t.customer
      .crossJoin(broadcast(thr))
      .filter(col("c_acctbal") > col("t"))
      .join(urgent, col("o_custkey") === col("c_custkey"), "left_anti")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal")).as("totacctbal"))
      .orderBy("c_nationkey")
  }

  /** Exact decimal line revenue — extendedprice * (1 - discount), the §7.4
    * determinism rule shared by the round-10 TPC-H shapes below.
    */
  private def lineRev: Column =
    col("l_extendedprice").cast(DecimalType(18, 2)) *
      (lit(1).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2)))
  private val RevSql =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"

  val q2_min_cost_supplier = Q(
    "q2_min_cost_supplier",
    s"""WITH ps AS (
       |  SELECT l_partkey, l_suppkey, SUM($RevSql) AS cost
       |  FROM lineitem GROUP BY 1, 2),
       |mn AS (SELECT l_partkey, min(cost) AS mincost FROM ps GROUP BY 1)
       |SELECT p_partkey, s_suppkey, s_name, CAST(cost AS DOUBLE) AS cost
       |FROM ps JOIN mn USING (l_partkey)
       |JOIN part ON l_partkey = p_partkey JOIN supplier ON l_suppkey = s_suppkey
       |WHERE p_size >= 30 AND cost = mincost
       |ORDER BY p_partkey, s_suppkey""".stripMargin,
  ) { t =>
    // TPC-H Q2 shape (partsupp-less adaptation): the correlated
    // "= (SELECT min(..) WHERE same part)" subquery, decorrelated as a
    // window min over the part key — one aggregate, no second aggregate,
    // no join back, no broadcast of a part-sized frame (the r10 verdict's
    // worst-case growing-side broadcast). The ps aggregate is already
    // hash-partitioned by l_partkey (a superset of the window key would
    // not be, but groupBy(l_partkey, l_suppkey) then window-by-l_partkey
    // re-shuffles once on the narrower key — still one exchange fewer
    // than aggregate+join, and nothing is pinned to the driver at 100x).
    // Cost stays exact DECIMAL through the min/equality compare (double
    // only at output), so ties resolve identically in both engines — all
    // tied minimum suppliers survive, as in the spec query. Part and
    // supplier lookups are left unhinted: they grow with the corpus, so
    // AQE decides broadcast vs shuffle at runtime (it broadcasts at sf0.1).
    val ps = t.lineitem
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(lineRev).as("cost"))
    val byPart = org.apache.spark.sql.expressions.Window.partitionBy("l_partkey")
    ps.withColumn("mincost", min(col("cost")).over(byPart))
      .where(col("cost") === col("mincost"))
      .join(t.part.where(col("p_size") >= 30).select("p_partkey"),
        col("l_partkey") === col("p_partkey"))
      .join(t.supplier.select("s_suppkey", "s_name"),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("p_partkey"), col("s_suppkey"), col("s_name"),
        col("cost").cast(DoubleType).as("cost"))
      .orderBy("p_partkey", "s_suppkey")
  }

  val q5_local_volume = Q(
    "q5_local_volume",
    s"""SELECT n_name, CAST(SUM($RevSql) AS DOUBLE) AS revenue
       |FROM customer JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name = 'ASIA'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
       |GROUP BY n_name ORDER BY n_name""".stripMargin,
  ) { t =>
    // TPC-H Q5 shape: local-supplier volume by nation. The distinguishing
    // constraint is c_nationkey = s_nationkey — the plan is NOT a star
    // (customer nation must match the line's supplier nation), so the
    // second join predicate rides the customer equi-join as a residual.
    // Dimension chain region→nation→supplier collapses to one
    // region-restricted supplier frame tagged with n_name (only the fixed
    // region table is pinned broadcast; the supplier-derived frame is
    // unhinted because supplier grows with the corpus); lineitem shrinks
    // at that join before the orders shuffle; the date window is pushed
    // to the orders scan.
    val asiaSup = t.supplier
      .join(
        t.nation.join(broadcast(t.region.where(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    val ord = t.orders
      .where(col("o_orderdate") >= lit("1996-01-01").cast(TimestampType) &&
        col("o_orderdate") < lit("1999-01-01").cast(TimestampType))
      .select("o_orderkey", "o_custkey")
    t.lineitem
      .join(asiaSup, col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(t.customer.select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(lineRev).cast(DoubleType).as("revenue"))
      .orderBy("n_name")
  }

  val q7_volume_shipping = Q(
    "q7_volume_shipping",
    s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       |       CAST(year(l_shipdate) AS INT) AS l_year, CAST(SUM($RevSql) AS DOUBLE) AS revenue
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey JOIN nation cn ON c_nationkey = cn.n_nationkey
       |JOIN supplier ON l_suppkey = s_suppkey JOIN nation sn ON s_nationkey = sn.n_nationkey
       |WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
       |    OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
       |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
       |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
  ) { t =>
    // TPC-H Q7 shape: bilateral trade volume. The nation-pair disjunction
    // is pushed INTO the dimension sides before the fact joins — supplier
    // and customer are each pre-filtered to the two nations (unhinted:
    // 2/25 of a corpus-growing table still grows; AQE broadcasts while it
    // fits), so lineitem shrinks ~2/25 at the first join and only the
    // surviving rows shuffle for the orders equi-join.
    val nations = Seq("NATION_1", "NATION_2")
    val supN = t.supplier
      .join(t.nation.where(col("n_name").isin(nations: _*)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cusN = t.customer
      .join(t.nation.where(col("n_name").isin(nations: _*)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    t.lineitem
      .where(col("l_shipdate") >= lit("1996-01-01").cast(TimestampType) &&
        col("l_shipdate") < lit("1998-01-01").cast(TimestampType))
      .join(supN, col("l_suppkey") === col("s_suppkey"))
      .join(t.orders.select("o_orderkey", "o_custkey"), col("l_orderkey") === col("o_orderkey"))
      .join(cusN, col("o_custkey") === col("c_custkey"))
      .where((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
        (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"), year(col("l_shipdate")).as("l_year"))
      .agg(sum(lineRev).cast(DoubleType).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  val q8_market_share = Q(
    "q8_market_share",
    s"""SELECT o_year,
       |       coalesce(CAST(SUM(CASE WHEN nation = 'NATION_3' THEN rev END) AS DOUBLE), 0.0)
       |         / CAST(SUM(rev) AS DOUBLE) AS mkt_share
       |FROM (
       |  SELECT CAST(year(o_orderdate) AS INT) AS o_year, $RevSql AS rev, sn.n_name AS nation
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation cn ON c_nationkey = cn.n_nationkey
       |  JOIN region ON cn.n_regionkey = r_regionkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation sn ON s_nationkey = sn.n_nationkey
       |  WHERE r_name = 'ASIA' AND p_type = 'PROMO')
       |GROUP BY o_year ORDER BY o_year""".stripMargin,
  ) { t =>
    // TPC-H Q8 shape: one nation's share of a region's PROMO revenue per
    // year — the 6-way snowflake with a guarded numerator over the same
    // aggregate. Every dimension frame (part filtered to PROMO, customers
    // semi-reduced to the ASIA region, suppliers tagged with their nation)
    // is unhinted — they all grow with the corpus, so AQE broadcasts them
    // only while they fit; lineitem shuffles once for the orders join. The
    // share is
    // numerator/denominator of the SAME exact-decimal sum, divided once in
    // double.
    val promoParts = t.part.where(col("p_type") === "PROMO").select("p_partkey")
    val asiaCust = t.customer
      .join(t.nation, col("c_nationkey") === col("n_nationkey"))
      .join(t.region.where(col("r_name") === "ASIA"), col("n_regionkey") === col("r_regionkey"))
      .select("c_custkey")
    val supN = t.supplier
      .join(t.nation.select(col("n_nationkey").as("sn_key"), col("n_name").as("nation")),
        col("s_nationkey") === col("sn_key"))
      .select(col("s_suppkey"), col("nation"))
    t.lineitem
      .join(promoParts, col("l_partkey") === col("p_partkey"))
      .join(supN, col("l_suppkey") === col("s_suppkey"))
      .join(t.orders.select("o_orderkey", "o_custkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(asiaCust, col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg((coalesce(sum(when(col("nation") === "NATION_3", lineRev)).cast(DoubleType), lit(0.0)) /
        sum(lineRev).cast(DoubleType)).as("mkt_share"))
      .orderBy("o_year")
  }

  val q9_product_profit = Q(
    "q9_product_profit",
    s"""SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
       |       CAST(SUM($RevSql
       |                - CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
       |         AS profit
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |JOIN supplier ON l_suppkey = s_suppkey JOIN nation ON s_nationkey = n_nationkey
       |JOIN orders ON l_orderkey = o_orderkey
       |WHERE p_name LIKE '%widget%'
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
  ) { t =>
    // TPC-H Q9 shape (supplycost proxied by retailprice x quantity): profit
    // by supplier nation and order year for one product family. The
    // substring filter prunes part BEFORE its (unhinted, AQE-decided)
    // join, the profit expression
    // stays exact decimal end-to-end (product scales widen, subtraction is
    // exact), and the only fact shuffle is the orders equi-join.
    val widgetParts = t.part.where(col("p_name").contains("widget"))
      .select("p_partkey", "p_retailprice")
    val supN = t.supplier
      .join(t.nation, col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    val profit = lineRev -
      col("p_retailprice").cast(DecimalType(18, 2)) * col("l_quantity").cast(DecimalType(18, 2))
    t.lineitem
      .join(widgetParts, col("l_partkey") === col("p_partkey"))
      .join(supN, col("l_suppkey") === col("s_suppkey"))
      .join(t.orders.select("o_orderkey", "o_orderdate"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(sum(profit).cast(DoubleType).as("profit"))
      .orderBy("nation", "o_year")
  }

  val q10_returned_items = Q(
    "q10_returned_items",
    s"""SELECT c_custkey, c_name, n_name, CAST(SUM($RevSql) AS DOUBLE) AS revenue
       |FROM customer JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey JOIN nation ON c_nationkey = n_nationkey
       |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
       |  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
       |  AND l_returnflag = 'R'
       |GROUP BY 1, 2, 3
       |ORDER BY CAST(SUM($RevSql) AS DOUBLE) DESC, c_custkey LIMIT 20""".stripMargin,
  ) { t =>
    // TPC-H Q10 shape: top-20 customers by returned revenue in a quarter.
    // The quarter predicate pushes to the orders scan, the returnflag
    // predicate to the lineitem scan; only the fixed nation table is
    // pinned broadcast — the customer-derived frame is AQE's call. Top-20 is
    // ordered on the CAST-to-double revenue in BOTH engines with a custkey
    // tiebreak, so the cut is deterministic.
    val custN = t.customer
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey", "c_name", "n_name")
    t.lineitem.where(col("l_returnflag") === "R")
      .join(
        t.orders.where(col("o_orderdate") >= lit("1997-01-01").cast(TimestampType) &&
          col("o_orderdate") < lit("1997-04-01").cast(TimestampType))
          .select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(custN, col("o_custkey") === col("c_custkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(sum(lineRev).cast(DoubleType).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  val q11_important_value = Q(
    "q11_important_value",
    s"""WITH pv AS (
       |  SELECT l_partkey AS p_partkey, SUM($RevSql) AS val
       |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation ON s_nationkey = n_nationkey
       |  WHERE n_name IN ('NATION_4', 'NATION_5') GROUP BY 1)
       |SELECT p_partkey, CAST(val AS DOUBLE) AS val FROM pv
       |WHERE CAST(val AS DOUBLE) > (SELECT CAST(SUM(val) AS DOUBLE) / count(*) * 2.5 FROM pv)
       |ORDER BY p_partkey""".stripMargin,
  ) { t =>
    // TPC-H Q11 shape: parts whose value exceeds a GLOBAL aggregate
    // threshold — the scalar-subquery HAVING. The per-part aggregate runs
    // once and the one-row total joins back as a broadcast (Catalyst's own
    // decorrelation for an uncorrelated scalar subquery); the threshold
    // compare happens in double on identically-derived operands. The spec
    // query's fraction-of-total cut is 0.0001/SF — SF-dependent by design;
    // the MEAN-relative rendering (2.5x the average part value) keeps the
    // identical plan shape while selecting a stable tail at every SF.
    val supN = t.supplier
      .join(t.nation.where(col("n_name").isin("NATION_4", "NATION_5")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey")
    val pv = t.lineitem
      .join(supN, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey").as("p_partkey"))
      .agg(sum(lineRev).as("val"))
    val total = pv.agg(
      (sum(col("val")).cast(DoubleType) / count(lit(1)) * 2.5).as("threshold"))
    pv.crossJoin(broadcast(total))
      .where(col("val").cast(DoubleType) > col("threshold"))
      .select(col("p_partkey"), col("val").cast(DoubleType).as("val"))
      .orderBy("p_partkey")
  }

  val all: Seq[Q] = Seq(
    p1_index_projection, p2_exclude_last, p3_rename_projection,
    f1_conjunctive_filter, f3_case_normalized_filter, f4_prefix_filter,
    f6_set_membership_classify, f10_age_cutoff,
    j1_join_group, j2_anti_join, j3_semi_join, j4_outer_join, j5_star_join,
    j7_latest_per_key, q2_min_cost_supplier, q3_shipping_priority, q4_exists_semi,
    q5_local_volume, q6_forecast_revenue, q7_volume_shipping, q8_market_share, q9_product_profit,
    q10_returned_items, q11_important_value,
    q12_priority_split, q13_order_dist, q14_promo_share, q15_top_supplier,
    q16_supplier_cnt, q17_below_avg, q18_having, q19_disjunctive,
    q20_dominant_supplier, q21_waiting_supplier, q22_idle_balance,
    a1_groupby_count, a1_pricing_summary, a2_count_avg, a3_argmax, a6_distinct,
    a7_total_counts, a9_metrics_recompute, a10_rollup, a13_cube, a14_grouping_sets,
    o1_topk, o2_pagination, o2b_keyset_pagination, o4_two_key_sort,
    u1_union_all, u2_except, u3_intersect,
  )
}
