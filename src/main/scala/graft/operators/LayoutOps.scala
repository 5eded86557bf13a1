package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.IntegralDivide
import org.apache.spark.sql.functions._
import graft.Q

/** Multi-dimensional data layout — Z-order (Morton) clustering, the
  * standard lakehouse answer to "queries filter on EITHER of two keys":
  * interleave the bits of the rank-scaled dimensions and range-partition
  * by the interleaved value, so every output file covers a small 2-D tile
  * and its parquet min/max footer prunes on BOTH columns. A layout sorted
  * by one key alone prunes perfectly on it and not at all on the other;
  * at 100 TB the difference is reading one file vs every file.
  *
  * Everything here is exact integer arithmetic (rank-scale by measured
  * min/max, shift/mask interleave) — codegen'd column expressions, no UDF
  * — so DuckDB replays the tile assignment bit-for-bit and the x37 tile
  * stats are hash-checkable, while the write path (`clusterByZ`) is the
  * production seam spec-checked for per-file span bounds (LayoutSpec).
  *
  * Reference anchor: the reference stores JSONL per-entity and scans
  * directories (amplifierd file layout); its only layout lever is the
  * directory tree. Z-order is the columnar-era generalization the builder
  * brief's "would this survive 100x" test asks for.
  */
object LayoutOps {

  /** Interleave the low `bits` bits of each column (round-robin, col 0 at
    * bit 0): Morton code. Columns must already be non-negative and fit in
    * `bits` bits — pair with [[rankScale]]. Total bits must stay < 63.
    */
  def interleaveBits(xs: Seq[Column], bits: Int): Column = {
    require(xs.nonEmpty && bits * xs.size < 63, s"interleave of ${xs.size} x $bits bits")
    (0 until bits).flatMap { i =>
      xs.zipWithIndex.map { case (c, j) =>
        shiftleft(shiftrightunsigned(c.cast("long"), i).bitwiseAND(lit(1L)),
          i * xs.size + j)
      }
    }.reduce(_ bitwiseOR _)
  }

  /** SQL `div` (integral divide) as a Column — `/` on Columns is double
    * division, whose 1-ulp rounding can cross an integer boundary and
    * break the exact-arithmetic contract with the oracle.
    */
  private def intDiv(a: Column, b: Column): Column =
    GraftColumnBridge.column(IntegralDivide(
      GraftColumnBridge.expression(a.cast("long")),
      GraftColumnBridge.expression(b.cast("long")),
      evalMode = org.apache.spark.sql.catalyst.expressions.EvalMode.LEGACY))

  /** Scale `c` from its measured [minC, maxC] onto [0, 2^bits): integer
    * div, monotone, exact. The per-column min/max come from one 1-row
    * aggregate broadcast (the a9 crossJoin idiom) — one extra scan-agg at
    * write time, amortized over every pruned read after.
    *
    * Overflow precondition: the numerator is (c - minC) * 2^bits in Long
    * arithmetic, so (maxC - minC + 1) * 2^bits must stay < 2^63. The
    * `bits <= 31` bound guarantees that for any column whose range fits in
    * an Int (and 2^31 tiles is already far past useful zone-map
    * granularity); wider ranges still have 2^63 / range headroom.
    */
  def rankScale(c: Column, minC: Column, maxC: Column, bits: Int): Column = {
    require(bits > 0 && bits <= 31, s"rankScale bits=$bits outside (0, 31]")
    intDiv((c - minC) * (1L << bits), maxC - minC + 1L).cast("long")
  }

  /** The write-side verb: range-partition by the Morton code into
    * `numFiles` files, each internally sorted by it — every file is a
    * contiguous z-range = a bounded 2-D tile, and parquet's min/max
    * footers become a 2-D zone map. Pruning then happens for free in any
    * engine that reads the footers (Spark, DuckDB, Trino alike).
    */
  def clusterByZ(df: DataFrame, z: Column, numFiles: Int): DataFrame =
    df.repartitionByRange(numFiles, z).sortWithinPartitions(z)

  /** The oracle-side SQL rendering of the same interleave. */
  private def interleaveSql(cols: Seq[String], bits: Int): String =
    (0 until bits).flatMap { i =>
      cols.zipWithIndex.map { case (c, j) =>
        s"((($c >> $i) & 1) << ${i * cols.size + j})"
      }
    }.mkString("(", " + ", ")")

  val x37_zorder_tiles = Q(
    "x37_zorder_tiles",
    s"""WITH mm AS (
       |  SELECT min(l_partkey) AS pmin, max(l_partkey) AS pmax,
       |         min(l_suppkey) AS smin, max(l_suppkey) AS smax
       |  FROM lineitem),
       |n AS (
       |  SELECT l_partkey, l_suppkey,
       |         ((l_partkey - pmin) * 256) // (pmax - pmin + 1) AS px,
       |         ((l_suppkey - smin) * 256) // (smax - smin + 1) AS sx
       |  FROM lineitem, mm),
       |z AS (
       |  SELECT l_partkey, l_suppkey,
       |         ${interleaveSql(Seq("px", "sx"), 8)} AS zval
       |  FROM n)
       |SELECT zval // 1024 AS tile, count(*) AS n_rows,
       |       min(l_partkey) AS min_part, max(l_partkey) AS max_part,
       |       min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp
       |FROM z GROUP BY tile ORDER BY tile""".stripMargin,
  ) { t =>
    // Tile audit of the z-layout: 8 bits per dim, tile = top 3 bits of
    // each (an 8x8 grid). The oracle-checked min/max per tile ARE the
    // zone map the layout buys: every tile's part span AND supp span are
    // ~1/8 of their ranges (a partkey-sorted layout gets full supp range
    // in every file). The 1-row min/max frame broadcasts (crossJoin of an
    // aggregate — the a9 idiom); everything else is map-side integer math
    // plus one 64-key aggregate.
    val li = t.lineitem.select("l_partkey", "l_suppkey")
    val mm = li.agg(
      min("l_partkey").as("pmin"), max("l_partkey").as("pmax"),
      min("l_suppkey").as("smin"), max("l_suppkey").as("smax"))
    val scaled = li.crossJoin(broadcast(mm))
      .withColumn("px", rankScale(col("l_partkey"), col("pmin"), col("pmax"), 8))
      .withColumn("sx", rankScale(col("l_suppkey"), col("smin"), col("smax"), 8))
    scaled
      .withColumn("zval", interleaveBits(Seq(col("px"), col("sx")), 8))
      .withColumn("tile", intDiv(col("zval"), lit(1024L)).cast("long"))
      .groupBy("tile")
      .agg(
        count(lit(1)).as("n_rows"),
        min("l_partkey").as("min_part"), max("l_partkey").as("max_part"),
        min("l_suppkey").as("min_supp"), max("l_suppkey").as("max_supp"))
      .orderBy("tile")
  }

  /** Clamped rank-scale for INCREMENTAL layout maintenance: a z-layout
    * freezes its min/max at creation (they are the layout's metadata — at
    * a real lakehouse, table properties next to the tile files), and later
    * batches scale against the FROZEN bounds, clamping overflow into the
    * edge cells. Re-measuring bounds per batch would shift every z-value
    * and force a full rewrite — the one thing incremental maintenance
    * exists to avoid. Out-of-range rows land in edge tiles whose footer
    * min/max still bound them, so pruning stays CORRECT (merely less tight
    * until the next full re-cluster).
    */
  def clampScale(c: Column, minC: Column, maxC: Column, bits: Int): Column =
    rankScale(greatest(least(c, maxC), minC), minC, maxC, bits)

  /** Incremental z-maintenance split (the OPTIMIZE-merge verb): given the
    * persisted layout and a batch both carrying `tile`, return
    * (untouched, rewritten) — untouched tiles pass through BYTE-IDENTICAL
    * (anti-join, never sorted, never shuffled beyond the semi/anti
    * probe with the batch's tile list broadcast), and only affected tiles
    * union the batch and re-sort. A daily batch touching k of N tiles
    * rewrites k files; the other N-k never leave disk at a real lakehouse.
    */
  def zMergeSplit(layout: DataFrame, batchZ: DataFrame,
                  tile: String = "tile"): (DataFrame, DataFrame) = {
    val aff = batchZ.select(col(tile)).distinct()
    val untouched = layout.join(broadcast(aff), Seq(tile), "left_anti")
    val rewritten = layout.join(broadcast(aff), Seq(tile), "left_semi")
      .unionByName(batchZ)
    (untouched, rewritten)
  }

  val x40_zorder_merge = Q(
    "x40_zorder_merge",
    s"""WITH mm AS (
       |  SELECT min(l_partkey) AS pmin, max(l_partkey) AS pmax,
       |         min(l_suppkey) AS smin, max(l_suppkey) AS smax
       |  FROM lineitem WHERE l_orderkey % 5 <> 0),
       |n AS (
       |  SELECT l_partkey, l_suppkey, (l_orderkey % 5 = 0) AS is_batch,
       |         ((least(greatest(l_partkey, pmin), pmax) - pmin) * 256) // (pmax - pmin + 1) AS px,
       |         ((least(greatest(l_suppkey, smin), smax) - smin) * 256) // (smax - smin + 1) AS sx
       |  FROM lineitem, mm),
       |z AS (
       |  SELECT l_partkey, l_suppkey, is_batch,
       |         ${interleaveSql(Seq("px", "sx"), 8)} // 1024 AS tile
       |  FROM n),
       |aff AS (SELECT DISTINCT tile FROM z WHERE is_batch)
       |SELECT tile, tile IN (SELECT tile FROM aff) AS rewritten,
       |       count(*) AS n_rows,
       |       min(l_partkey) AS min_part, max(l_partkey) AS max_part,
       |       min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp
       |FROM z GROUP BY tile ORDER BY tile""".stripMargin,
  ) { t =>
    // Incremental OPTIMIZE: the persisted layout (80% of lineitem,
    // z-clustered at creation with bounds frozen then) absorbs a daily
    // batch (the other 20%) — batch rows z-encode against the FROZEN
    // bounds, only tiles the batch actually hits go through the
    // semi-join + union + re-sort path, every other tile passes through
    // the anti branch untouched. The oracle replays the whole merge
    // (frozen bounds, clamping, tile assignment, affected-set) in exact
    // integer math; the output is the post-merge zone map with each
    // tile's rewritten flag — wrong routing, lost rows, or a bounds
    // re-measure all break the hash. Plan: one broadcast tile-list probe
    // per branch + one 64-key aggregate; the batch-side banding is
    // map-side only.
    val li    = t.lineitem.select("l_orderkey", "l_partkey", "l_suppkey")
    val base  = li.filter(col("l_orderkey") % 5 =!= 0)
    val batch = li.filter(col("l_orderkey") % 5 === 0)
    val mm = base.agg(
      min("l_partkey").as("pmin"), max("l_partkey").as("pmax"),
      min("l_suppkey").as("smin"), max("l_suppkey").as("smax"))
    def zTiles(df: DataFrame): DataFrame =
      df.crossJoin(broadcast(mm))
        .withColumn("px", clampScale(col("l_partkey"), col("pmin"), col("pmax"), 8))
        .withColumn("sx", clampScale(col("l_suppkey"), col("smin"), col("smax"), 8))
        .withColumn("tile", intDiv(interleaveBits(Seq(col("px"), col("sx")), 8), lit(1024L)))
        .select("l_partkey", "l_suppkey", "tile")
    val (untouched, rewritten) = zMergeSplit(zTiles(base), zTiles(batch))
    untouched.withColumn("rewritten", lit(false))
      .unionByName(rewritten.withColumn("rewritten", lit(true)))
      .groupBy("tile", "rewritten")
      .agg(
        count(lit(1)).as("n_rows"),
        min("l_partkey").as("min_part"), max("l_partkey").as("max_part"),
        min("l_suppkey").as("min_supp"), max("l_suppkey").as("max_supp"))
      .select("tile", "rewritten", "n_rows", "min_part", "max_part", "min_supp", "max_supp")
      .orderBy("tile")
  }

  /** OPTIMIZE ZORDER BY — Delta's multi-dimensional compaction verb, the
    * composition of the CAS-pinned rewrite behind
    * [[graft.sources.MultiStore.optimize]] (`MultiStore.rewritePinned`)
    * with this file's Morton machinery: read the live
    * version, rank-scale each dimension by its measured min/max (one
    * 1-row aggregate), interleave, range-cluster into `targetFiles`
    * internally-sorted files, and commit. Each file's footer then holds
    * tight min/max on EVERY z-dimension. A `clusterBy` (lexicographic
    * range) layout prunes on its first column and not the rest; the
    * z-layout's files are bounded
    * 2-D tiles, so a box filter on [[graft.sources.MultiStore.read]] skips
    * on ALL dimensions at once. CAS-pinned to the version it read — an
    * OPTIMIZE racing a data commit loses loudly (the m14 contract).
    */
  def optimizeZorder(spark: org.apache.spark.sql.SparkSession, root: String,
                     store: String, targetFiles: Int, zCols: Seq[String],
                     bits: Int, keep: Int = 2): Map[String, Long] = {
    require(zCols.size >= 2, "optimizeZorder: z-order needs at least two dimensions")
    graft.sources.MultiStore.rewritePinned(spark, root, store, keep) { (data, _) =>
      val aggs = zCols.flatMap(c =>
        Seq(min(col(c)).cast("long").as(s"mn_$c"), max(col(c)).cast("long").as(s"mx_$c")))
      val mm = data.agg(aggs.head, aggs.tail: _*).head()
      val scaled = zCols.zipWithIndex.map { case (c, i) =>
        rankScale(col(c), lit(mm.getLong(2 * i)), lit(mm.getLong(2 * i + 1)), bits)
      }
      Map(store -> clusterByZ(
        data.withColumn("__z", interleaveBits(scaled, bits)), col("__z"), targetFiles)
        .drop("__z")) // projection after the exchange: partitioning survives
    }
  }

  /** m21: OPTIMIZE ZORDER driver-stamped — a hash-scattered ingest layout
    * (every file spans the full range of BOTH dimensions, so its zone maps
    * prune nothing) is re-clustered by [[optimizeZorder]], then a 2-D box
    * query runs as a box filter on the read. In-row guards pin the
    * point: the same boxed read opens at most half the files it did
    * pre-optimize (enforced at >=500 rows; below that the box holds too
    * few rows for skipping to be meaningful), rows are identical either
    * way (the oracle's check), and the box bounds derive from max(doc_id)
    * so the claim holds at every scale factor. DuckDB replays the box
    * aggregate directly — integer-div bounds included.
    */
  val m21_zorder_optimize = Q(
    "m21_zorder_optimize",
    """WITH mx AS (SELECT max(doc_id) + 1 AS n FROM documents),
      |cur AS (
      |  SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars
      |  FROM documents, mx
      |  WHERE doc_id BETWEEN n // 10 AND (3 * n) // 20 - 1
      |    AND n_chars BETWEEN 150 AND 300
      |  GROUP BY lang),
      |tot AS (SELECT count(*) AS n_before FROM documents)
      |SELECT lang, n_docs, chars, tot.n_before
      |FROM cur, tot ORDER BY lang""".stripMargin,
  ) { t =>
    val spark = t.spark
    import graft.sources.MultiStore
    SnapshotQueries.withTempStore("graft-zorderopt") { root =>
      // hash-scattered ingest: every footer's min/max exists, it is just
      // USELESS on this layout, which is the point
      MultiStore.commit(root, Map("docs" ->
        t.documents.select("doc_id", "lang", "n_chars").repartition(16, col("doc_id"))))
      // box bounds from max(doc_id)+1, mirroring the oracle's mx CTE
      val nRows = MultiStore.read(spark, root, "docs")
        .agg(max(col("doc_id"))).head().getLong(0) + 1L
      val lo = nRows / 10L
      val hi = 3L * nRows / 20L - 1L
      val box = col("doc_id") >= lo && col("doc_id") <= hi &&
        col("n_chars") >= 150L && col("n_chars") <= 300L
      val beforeFiles = MultiStore.scannedFiles(MultiStore.read(spark, root, "docs").filter(box))
      optimizeZorder(spark, root, "docs", targetFiles = 16,
        Seq("doc_id", "n_chars"), bits = 8)
      val pruned     = MultiStore.read(spark, root, "docs").filter(box)
      val afterFiles = MultiStore.scannedFiles(pruned)
      require(afterFiles <= beforeFiles,
        s"z-order made pruning WORSE: $beforeFiles -> $afterFiles files")
      if (nRows >= 500)
        require(afterFiles * 2 <= beforeFiles,
          s"z-order skip too weak at $nRows rows: $beforeFiles -> $afterFiles files")
      val nBefore = MultiStore.read(spark, root, "docs")
        .agg(count(lit(1)).as("n_before"))
      pruned
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
        .crossJoin(nBefore)
        .orderBy("lang")
    }
  }

  val all: Seq[Q] = Seq(x37_zorder_tiles, x40_zorder_merge, m21_zorder_optimize)
}
