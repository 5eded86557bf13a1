package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, ScalarSubquery}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.types.DecimalType
import graft.Q

/** Scale-path join utilities (the 100 TB design notes made executable):
  * salting for skewed keys, bucketing for shuffle-free co-located
  * fact-fact joins, and Bloom-prefiltered semi-joins (the runtime-filter
  * pattern made explicit). AQE's skew-join handles moderate skew
  * automatically; salting is the explicit dial for pathological hot keys,
  * bucketing the amortizer when one join key dominates a workload, and the
  * Bloom prefilter the shuffle-volume killer when a fact table joins a
  * selective dimension subset.
  */
object ScaleJoins {

  /** Skew-safe equi-join: each left row gets a random-but-deterministic
    * salt in [0, saltFactor) derived from `rowDiscriminator` (any unique
    * column); the right side replicates saltFactor times. A hot left key
    * then spreads over saltFactor reducers instead of one.
    */
  def saltedJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      rowDiscriminator: Column,
      saltFactor: Int,
      joinType: String = "inner",
  ): DataFrame = {
    val saltedLeft = left.withColumn("__salt", pmod(xxhash64(rowDiscriminator), lit(saltFactor)).cast("int"))
    val saltedRight = right.withColumn("__salt", explode(sequence(lit(0), lit(saltFactor - 1))))
    saltedLeft
      .join(saltedRight, Seq(key, "__salt"), joinType)
      .drop("__salt")
  }

  /** Join two pre-bucketed tables; with matching bucket specs Catalyst
    * plans a SortMergeJoin with NO Exchange on either side.
    */
  def bucketedJoin(spark: SparkSession, leftTable: String, rightTable: String, key: String): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), Seq(key))

  /** Bloom-prefiltered exact semi-join: build a Bloom filter over the dim
    * side's keys (Catalyst's own [[BloomFilterAggregate]], the sketch
    * Spark's `InjectRuntimeFilter` uses), attach it as a scalar subquery,
    * and drop non-matching fact rows BEFORE the join shuffle with the
    * codegen'd [[BloomFilterMightContain]] predicate. The trailing exact
    * left-semi join removes the Bloom's false positives, so the result is
    * byte-identical to the plain semi-join — the prefilter only changes how
    * many fact rows reach the exchange.
    *
    * Why make it explicit when `spark.sql.optimizer.runtimeFilter.bloomFilter`
    * exists: the injected filter fires only under creation-side-cost
    * heuristics and never across a pre-aggregated or non-join boundary.
    * This operator is the deterministic dial — at 100 TB a fact-side
    * shuffle of 10 TB vs 200 GB (a 2% -selective dim) is the difference
    * between a job and an incident, and the Bloom costs one extra scan of
    * the (small) dim side plus `numBits/8` bytes broadcast to executors.
    *
    * The subquery materializes the sketch once on the driver (bounded by
    * `numBits/8` — 256 KiB at the 2^21-bit default here, NOT data-sized)
    * and re-publishes it as a literal to every executor — the same bounded
    * driver roundtrip Spark's own runtime filter performs.
    */
  def bloomPrefilterSemiJoin(
      fact: DataFrame,
      dim: DataFrame,
      key: String,
      estimatedDimKeys: Long,
      numBits: Long = 1L << 21,
  ): DataFrame = {
    // hash BOTH sides in the dim key's type: xxhash64 is type-sensitive
    // (INT 7 and BIGINT 7 hash differently), and a fact key arriving in a
    // different width would bloom-false-NEGATIVE — matching fact rows
    // silently dropped before the semi-join can see them
    val keyType = dim.schema(key).dataType
    val bloomDf = dim.agg(
      GraftColumnBridge
        .column(new BloomFilterAggregate(
          GraftColumnBridge.expression(xxhash64(col(key))),
          Literal(estimatedDimKeys),
          Literal(numBits)).toAggregateExpression())
        .as("bloom"))
    val mightContain = GraftColumnBridge.column(
      BloomFilterMightContain(
        ScalarSubquery(bloomDf.queryExecution.analyzed),
        GraftColumnBridge.expression(xxhash64(fact(key).cast(keyType)))))
    fact
      .where(mightContain)
      .join(dim.select(key).distinct(), Seq(key), "left_semi")
  }

  val x41_salted_join = Q(
    "x41_salted_join",
    """WITH dim AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id)
      |SELECT e.event_type, count(*) AS n,
      |       CAST(SUM(d.n_events) AS BIGINT) AS weight
      |FROM events e JOIN dim d ON e.user_id = d.user_id
      |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,
  ) { t =>
    // The salting IDENTITY, oracle-checked: a salted equi-join must
    // produce byte-identical rows to the plain join (the oracle replays
    // the plain join in DuckDB) — salting only changes WHERE rows meet
    // (shuffle keys become (key, salt), spreading a hot key over
    // saltFactor reducers), never WHAT matches. The dim side replicates
    // saltFactor times: the explicit trade — saltFactor x dim shuffle
    // volume buys hot-key parallelism AQE's skew split can't give when a
    // single key exceeds one reducer. event_id is the discriminator
    // (unique per fact row -> deterministic salt assignment).
    val e = t.events.select("event_id", "user_id", "event_type")
    val dim = e.groupBy("user_id").agg(count(lit(1)).as("n_events"))
    saltedJoin(e, dim, key = "user_id", rowDiscriminator = col("event_id"), saltFactor = 8)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("n_events").as("weight"))
      .orderBy("event_type")
  }

  val x44_bloom_prefilter = Q(
    "x44_bloom_prefilter",
    """SELECT l_returnflag, count(*) AS n,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
  ) { t =>
    // Urgent-order revenue: lineitem (the 100 TB side) semi-joined to the
    // ~20%-selective urgent subset of orders. The oracle replays the PLAIN
    // semi-join — the Bloom prefilter must be invisible in the result
    // (false positives die in the exact semi-join; false negatives are
    // impossible). BloomPrefilterSpec asserts the might_contain predicate
    // lands in the fact-side Filter BEFORE the join exchange.
    val urgent = t.orders.where(col("o_orderpriority") === "1-URGENT")
    bloomPrefilterSemiJoin(
      t.lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
      urgent.select("o_orderkey"),
      key = "o_orderkey",
      estimatedDimKeys = 1L << 16)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("revenue"))
      .orderBy("l_returnflag")
  }

  val m17_dpp_prune = Q(
    "m17_dpp_prune",
    """WITH yr AS (
      |  SELECT CAST(year(o_orderdate) AS INT) AS o_year, o_orderpriority,
      |         CAST(o_totalprice AS DECIMAL(18,2)) AS price, o_totalprice
      |  FROM orders),
      |top AS (
      |  SELECT DISTINCT o_year FROM yr
      |  WHERE o_totalprice = (SELECT max(o_totalprice) FROM orders))
      |SELECT y.o_year, y.o_orderpriority AS priority, count(*) AS n_orders,
      |       CAST(sum(y.price) AS DOUBLE) AS revenue
      |FROM yr y JOIN top USING (o_year)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
  ) { t =>
    // Dynamic partition pruning, driver-stamped: the fact table is written
    // as a REAL date-partitioned layout (o_year= Hive dirs — the shape any
    // 100 TB fact table has), and the probe side is the year of the
    // max-price order, which the planner CANNOT know statically — no
    // constant-folded partition filter is possible, so only Spark's DPP
    // subquery keeps the scan from reading all seven years. The in-row
    // guard requires the dynamicpruningexpression to actually land in the
    // scan's partition filters; at 100 TB this is the difference between
    // reading one year and reading the decade.
    //
    // Probe shape matters — measured, not guessed (DppSpec pins the skip):
    // a window-rank probe (`rank() over (order by rev desc) = 1`) gets the
    // DPP subquery INSERTED but then dropped (dynamicpruningexpression
    // folds to `true`): with reuseBroadcastOnly the physical rule demands
    // the freshly-planned probe be `sameResult` with the join's build
    // side, and window plans fail that match; an agg+crossjoin probe
    // (`rev = max(rev)`) never inserts at all — the optimizer folds the
    // attr=attr filter into the join condition, leaving no selective
    // Filter for isLikelySelective to find. A literal-filtered probe
    // passes both gates. The literal is the global max price via ONE
    // bounded driver scalar (8 bytes — exactly what a scalar subquery
    // materializes; the x69 codebook-seed pattern).
    val spark = t.spark
    val tmp = java.nio.file.Files.createTempDirectory("graft-dpp")
    try {
      val dir = tmp.toString + "/orders_by_year"
      // r16 (guide §6 small files, §2.4 one exchange): partitionBy straight
      // off the scan's default parallelism wrote up to (tasks x years) tiny
      // files — ~224 at local[32] (measured: 5.8 s at 32 cores vs 0.8 s at
      // 8, the file-count difference being the only variable) — then paid
      // per-file open cost scanning them back. One hash repartition on the
      // partition column makes each year ONE task -> ONE file (7 total):
      // cheaper write AND a cheaper pruned read-back at every core count.
      // At 100 TB the same repartition is the standard pre-partitionBy
      // cluster step (guide §6 write.distribution-mode=hash); a year with
      // more rows than one task should hold would add a salt term here,
      // which this bench-scale layout doesn't need.
      t.orders
        .withColumn("o_year", year(col("o_orderdate")))
        .repartition(col("o_year"))
        .write.partitionBy("o_year").mode("overwrite").parquet(dir)
      val fact = spark.read.parquet(dir)
      val pmax = t.orders.agg(max(col("o_totalprice"))).head().getDouble(0)
      val top = t.orders
        .filter(col("o_totalprice") === lit(pmax))
        .select(year(col("o_orderdate")).as("o_year"))
        .distinct()
      val res = fact
        .join(broadcast(top), Seq("o_year"))
        .groupBy(col("o_year"), col("o_orderpriority").as("priority"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("revenue"))
        .orderBy("o_year", "priority")
      // the stamp: a partitioned-layout scan joined on its partition column
      // against a runtime-only probe MUST carry a LIVE DPP subquery — not
      // the `dynamicpruningexpression(true)` husk left when the physical
      // rule drops it. If this ever plans as a full scan + post-filter,
      // fail loudly rather than silently reading every partition at scale.
      val planStr = res.queryExecution.executedPlan.toString
      require(
        planStr.contains("dynamicpruningexpression(") &&
          !planStr.contains("dynamicpruningexpression(true)"),
        "m17_dpp_prune: dynamic partition pruning did not fire — the " +
          "partitioned scan would read every o_year= directory")
      res.localCheckpoint(true)
    } finally {
      graft.sources.AtomicFs.deleteRecursively(tmp)
    }
  }

  val all: Seq[Q] = Seq(x41_salted_join, x44_bloom_prefilter, m17_dpp_prune)
}
