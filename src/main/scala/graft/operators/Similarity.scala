package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Q

/** Similarity search over the `embeddings` table (builder contract):
  * brute-force cosine top-k as the exact baseline, LSH-bucketed cosine as
  * the scale path.
  *
  * Scale design (100 TB): brute force is O(|Q| x |C|) — fine for a bounded
  * query set against a broadcast candidate block, wrong for all-pairs. The
  * LSH variant buckets by random-hyperplane signature so the join shuffles
  * on (band, signature) and only bucket-mates are scored — the standard
  * recall/cost dial (more bands = higher recall, more candidates).
  */
object Similarity {

  /** dot(a, b) in double precision, sequential fold (engine-reproducible). */
  private def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  private def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity, rounded to 6dp: double rounding absorbs the
    * engine-side summation-order difference (~1e-15) while preserving
    * ranking granularity. Backed by the codegen'd CosineSimilarity
    * expression (same sequential-fold semantics as dot/norm above, without
    * materializing the zip_with product array per comparison).
    */
  def cosine(a: Column, b: Column): Column =
    round(graft.plans.CosineSimilarity.cosine_sim(a, b), 6)

  /** The composed-builtins form (zip_with + aggregate) kept as the
    * reference implementation the expression is spec-tested against.
    */
  def cosineBuiltins(a: Column, b: Column): Column =
    round(dot(a, b) / (norm(a) * norm(b)), 6)

  val x9_cosine_topk = Q(
    "x9_cosine_topk",
    """SELECT query_id, vec_id, sim FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
      |         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                                      CAST(c.embedding AS DOUBLE[])), 6) AS sim,
      |         row_number() OVER (
      |           PARTITION BY q.vec_id
      |           ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                                                 CAST(c.embedding AS DOUBLE[])), 6) DESC,
      |                    c.vec_id) AS rn
      |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      |  WHERE q.vec_id < 10)
      |WHERE rn <= 5 ORDER BY query_id, rn, vec_id""".stripMargin,
  ) { t =>
    // Brute-force cosine top-5 for 10 query vectors. The query block is the
    // broadcast side; candidates stream map-side, ranked per query with a
    // vec_id tiebreak (deterministic under rounded-score ties).
    val q = t.embeddings.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val c = t.embeddings.select(col("vec_id"), col("embedding").as("ce"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
    c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), cosine(col("qe"), col("ce")).as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select("query_id", "vec_id", "sim")
      .orderBy("query_id", "rn", "vec_id")
  }

  /** Evaluate a `planes` x `dim` hyperplane-component table ONCE (a
    * single-row Spark job; the components are a pure function of
    * (plane, dim-index)) and return it as one literal array per plane.
    * The signature scan's per-row work becomes a pure arithmetic
    * zip_with instead of planes*dim hash calls PER ROW — the same move
    * as broadcasting a dim table instead of recomputing it per probe
    * (measured at sf0.1: x10b 3.2s -> 1.2s). The values are identical
    * by construction: `comp` is evaluated by Spark either way.
    */
  private def literalPlanes[T](
      spark: org.apache.spark.sql.SparkSession,
      planes: Int,
      dim: Int,
      comp: (Int, Int) => Column,
      get: (org.apache.spark.sql.Row, Int) => Seq[T],
  ): IndexedSeq[Seq[T]] = {
    val row = spark.range(1)
      .select((0 until planes).map(p => array((0 until dim).map(i => comp(p, i)): _*).as(s"p$p")): _*)
      .head()
    (0 until planes).map(p => get(row, p))
  }

  /** Sign-LSH signature: bit i = sign(dot(v, plane_i)) where plane
    * components are pseudo-random in [-0.5, 0.5), derived from
    * xxhash64(plane, dim) — deterministic everywhere, no stored model.
    * `dim` is the (fixed) embedding width; components are precomputed
    * once via literalPlanes.
    */
  private def signBits(spark: org.apache.spark.sql.SparkSession, vec: Column, planes: Int, dim: Int): Seq[Column] = {
    val comps = literalPlanes[Double](
      spark, planes, dim,
      (p, i) => (pmod(xxhash64(lit(p), lit(i)), lit(1000000L)).cast("double") / 1000000.0) - 0.5,
      (row, p) => row.getSeq[Double](p))
    comps.map { plane =>
      val proj = aggregate(
        zip_with(vec, array(plane.map(lit): _*), (x, c) => x.cast("double") * c),
        lit(0.0),
        (acc, x) => acc + x)
      when(proj >= 0, 1L).otherwise(0L)
    }
  }

  val x10_ann_lsh_pairs = Q.noOracle("x10_ann_lsh_pairs") { t =>
    // Scale-path ANN: 2 bands x 8 hyperplanes. Vectors sharing a full 8-bit
    // band signature become candidates (cosine-LSH: P[bit match] =
    // 1 - angle/pi); candidates are then scored exactly with `cosine`.
    // Rows-only check here (no xxhash64 in DuckDB); SimilaritySpec asserts
    // recall against x9's exact top-k.
    val dim  = t.embeddings.select(size(col("embedding"))).head.getInt(0)
    val bits = signBits(t.spark, col("embedding"), 16, dim)
    val bandCols = (0 until 2).map { b =>
      bits.slice(8 * b, 8 * b + 8).zipWithIndex
        .map { case (bit, i) => bit * (1L << i) }
        .reduce(_ + _)
    }
    // single projection computes both band signatures; posexplode fans out
    // (unioned selects would evaluate all 16 hyperplane dots per band).
    // localCheckpoint: both self-join sides consume sigs, and its lineage
    // is the 16-hyperplane projection — materialize it once.
    val sigs = t.embeddings
      .select(col("vec_id"), col("embedding"), posexplode(array(bandCols: _*)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "sig"))
      .localCheckpoint()
    sigs.as("a")
      .join(
        sigs.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("vec_a"),
        col("b.vec_id").as("vec_b"),
        cosine(col("a.embedding"), col("b.embedding")).as("sim"))
      .distinct()
      .orderBy("vec_a", "vec_b")
  }

  val x10b_ann_md5 = Q.instrument(
    "x10b_ann_md5",
    """WITH dims AS (
      |  SELECT vec_id, i, CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS qx
      |  FROM (SELECT vec_id, embedding, unnest(generate_series(1, len(embedding))) AS i
      |        FROM embeddings)),
      |terms AS (
      |  SELECT vec_id, p,
      |    qx * ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 1048576
      |        + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 65536
      |        + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 4096
      |        + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 256
      |        + (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 16
      |        + (strpos('0123456789abcdef', substr(h, 6, 1)) - 1)
      |        - 8388608) AS term
      |  FROM (SELECT d.vec_id, d.qx, pl.p,
      |               md5(CAST(pl.p AS VARCHAR) || '|' || CAST(d.i AS VARCHAR)) AS h
      |        FROM dims d, (SELECT unnest(generate_series(0, 15)) AS p) pl)),
      |bits AS (
      |  SELECT vec_id, p, CASE WHEN SUM(term) >= 0 THEN 1 ELSE 0 END AS bit
      |  FROM terms GROUP BY vec_id, p),
      |sigs AS (
      |  SELECT vec_id, p // 8 AS band, SUM(bit * (1 << (p % 8))) AS sig
      |  FROM bits GROUP BY vec_id, p // 8),
      |pairs AS (
      |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      |  FROM sigs a JOIN sigs b
      |    ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id)
      |SELECT p.vec_a, p.vec_b,
      |       round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
      |                                    CAST(eb.embedding AS DOUBLE[])), 6) AS sim
      |FROM pairs p
      |JOIN embeddings ea ON ea.vec_id = p.vec_a
      |JOIN embeddings eb ON eb.vec_id = p.vec_b
      |ORDER BY vec_a, vec_b""".stripMargin,
  ) { t =>
    // Sign-LSH ANN with an md5-derived hyperplane family — the ORACLE-
    // CHECKED bridge for the x10 pipeline (the x3b trick applied to
    // random-hyperplane LSH). Two tricks make the bit decisions engine-
    // exact rather than float-fragile:
    //  1. plane components are INTEGERS: component(p, i) = first 6 md5 hex
    //     nibbles of "p|i" as an int, centered on 2^23 — uniform in
    //     [-2^23, 2^23), same value in both engines;
    //  2. the vector is QUANTIZED to integers (floor(x * 1000)) before the
    //     dot product, so the projection is exact 64-bit integer math —
    //     no summation-order sensitivity, unlike a double SUM whose sign
    //     near 0 could differ between engines.
    // Products are bounded by 2^10 * 2^23 = 2^33; a 64-dim sum stays under
    // 2^39 — no overflow. Quantization only perturbs WHICH side of the
    // plane a borderline vector falls on, identically in both engines, so
    // bucketing still approximates angle locality while the comparison is
    // bit-exact. x10 (xxhash64 planes, full float precision) remains the
    // scale path; exact cosine on candidates reuses the x9-proven parity.
    val qvec = transform(col("embedding"), x => floor(x.cast("double") * 1000).cast("long"))
    // plane components precomputed ONCE as literal arrays (see
    // literalPlanes) — the oracle recomputes the same md5 per row, but
    // Spark needn't: the table is a pure function of (plane, 1-based dim
    // index), identical values either way (measured: 3.2s -> 1.2s sf0.1).
    val dim = t.embeddings.select(size(col("embedding"))).head.getInt(0)
    val comps = literalPlanes[Long](
      t.spark, 16, dim,
      (p, i) =>
        conv(substring(md5(lit(s"$p|${i + 1}")), 1, 6), 16, 10).cast("long") - lit(8388608L),
      (row, p) => row.getSeq[Long](p))
    val bits = comps.map { plane =>
      val proj = aggregate(
        zip_with(qvec, array(plane.map(lit): _*), (x, c) => x * c),
        lit(0L),
        (acc, x) => acc + x)
      when(proj >= 0, 1L).otherwise(0L)
    }
    val bandCols = (0 until 2).map { b =>
      bits.slice(8 * b, 8 * b + 8).zipWithIndex
        .map { case (bit, j) => bit * (1L << j) }
        .reduce(_ + _)
    }
    val sigs = t.embeddings
      .select(col("vec_id"), col("embedding"), posexplode(array(bandCols: _*)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "sig"))
      .localCheckpoint()
    sigs.as("a")
      .join(
        sigs.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("vec_a"),
        col("b.vec_id").as("vec_b"),
        cosine(col("a.embedding"), col("b.embedding")).as("sim"))
      .distinct()
      .orderBy("vec_a", "vec_b")
  }

  /** IVF-flat ANN: partition vectors into `nCells` inverted lists keyed by
    * their nearest centroid; a query scores only the `nProbe` cells whose
    * centroids are closest. Centroids are sampled deterministically (lowest
    * vec_ids) — the train-free IVF variant; swap in k-means centroids for
    * tighter cells without touching the query path.
    *
    * Scale: assignment is a broadcast join against the (tiny) centroid set;
    * the probe join shuffles on cell id, so each query scores |data|·nProbe
    * /nCells candidates instead of |data|.
    */
  /** Train-free centroid sample: the nCells lowest vec_ids. */
  def trainFreeCentroids(embeddings: DataFrame, nCells: Int): DataFrame =
    embeddings.orderBy("vec_id").limit(nCells)
      .select(col("vec_id").as("cell"), col("embedding").as("centroid"))

  /** Inverted-list assignment: every vector to its nearest centroid —
    * broadcast join against the tiny centroid table, per-row argmax. Row-
    * LOCAL given frozen centroids, which is what makes the incremental
    * ingest path ([[assignBatchIncremental]]) exactly equal a full
    * rebuild: assigning a batch in isolation produces the same (cell,
    * vec_id) rows the batch would get inside a from-scratch assignment.
    */
  def assignCells(vectors: DataFrame, cents: DataFrame): DataFrame = {
    val wAssign = Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cell"))
    vectors
      .join(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("cell"),
        cosine(col("embedding"), col("centroid")).as("csim"))
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
      .select(col("cell"), col("vec_id"), col("embedding"), col("csim"))
  }

  /** Probe + score against prebuilt inverted lists. */
  def probeTopK(
      assigned: DataFrame,
      queries: DataFrame,
      cents: DataFrame,
      k: Int,
      nProbe: Int,
  ): DataFrame = {
    // each query probes its nProbe nearest cells
    val wProbe = Window.partitionBy("query_id").orderBy(col("qsim").desc, col("cell"))
    val probes = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      .join(broadcast(cents))
      .withColumn("qsim", cosine(col("qe"), col("centroid")))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nProbe)
      .select(col("query_id"), col("qe"), col("cell"))
    // score only candidates in probed cells
    val wTop = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
    probes
      .join(assigned.select("cell", "vec_id", "embedding"), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), cosine(col("qe"), col("embedding")).as("sim"))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  def ivfTopK(
      embeddings: DataFrame,
      queries: DataFrame,
      k: Int,
      nCells: Int,
      nProbe: Int,
      kmeans: Boolean = false,
  ): DataFrame = {
    val cents =
      if (kmeans) kmeansCentroids(embeddings, nCells)
      else trainFreeCentroids(embeddings, nCells)
    probeTopK(assignCells(embeddings, cents), queries, cents, k, nProbe)
  }

  /** Incremental IVF maintenance — the x27 daily-ingest pattern for the
    * ANN family: new vectors are assigned to the EXISTING (frozen)
    * centroids and appended to the persisted inverted lists; the corpus
    * is never re-read and nothing retrains. Cost is one broadcast join
    * over the BATCH (|batch| x nCells comparisons) — independent of
    * corpus size, the property that makes a 100 TB vector index
    * maintainable at all. Because assignment is row-local under frozen
    * centroids, serving over (corpus lists ∪ batch lists) is EXACTLY the
    * index a full rebuild would produce (IvfIncrementalSpec pins both
    * the equality and the batch-only probe plan); centroid refresh is a
    * periodic offline retrain + full reassign, the same cadence split as
    * the reference's rebuild-vs-probe index discipline
    * (trace_aggregator.py's incremental fold vs full recompute).
    */
  def assignBatchIncremental(batch: DataFrame, cents: DataFrame): DataFrame =
    assignCells(batch, cents)

  /** K-means-trained IVF centroids (spark.ml KMeans, fixed seed): tighter,
    * balanced cells on clustered corpora vs the train-free lowest-vec_id
    * sample — same (cell, centroid) shape, so the ivfTopK query path is
    * unchanged. Training is one pass over a SAMPLE at corpus scale (k-means
    * on 100 TB is never run on the full data); here the corpus is small
    * enough to train on directly. Cell ids are centroid indices.
    */
  def kmeansCentroids(embeddings: DataFrame, nCells: Int, seed: Long = 7L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val feats = embeddings.select(array_to_vector(col("embedding")).as("features"))
    // cosine distance, matching the cosine cell-assignment in ivfTopK —
    // Euclidean-trained centroids on ~unit-norm vectors collapse toward
    // the global mean and invert the recall win (measured: 0.62 vs 0.94
    // train-free at 16 cells/nProbe 4; cosine training restores it).
    val model = new KMeans().setK(nCells).setSeed(seed).setMaxIter(20)
      .setDistanceMeasure("cosine").fit(feats)
    val spark = embeddings.sparkSession
    import spark.implicits._
    model.clusterCenters.toSeq.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toArray.map(_.toFloat)) }
      .toDF("cell", "centroid")
  }

  /** SQ8 scalar quantization — the memory/bandwidth move for corpus-scale
    * ANN: one global scale 127/max|x| maps every component to an int8 code
    * `floor(x * scale)` in [-128, 127]. At 100 TB the codes column is 4x
    * smaller than the float32 embeddings (25 TB scanned/shuffled instead of
    * 100), the candidate-ranking dot product becomes exact 64-bit integer
    * math (SIMD-able, and — like x10b's quantized projections — bit-equal
    * across engines, no summation-order sensitivity), and the floats are
    * touched only to rescore the k winners per query. floor (not round) is
    * deliberate: round's half-way tie-break differs between engines;
    * floor is exact on any double.
    *
    * One scalar scale (not per-dimension) keeps the dequantization
    * implicit: code dot products are proportional to quantized float dot
    * products, so ranking needs no scale correction at all. Per-dimension
    * scales (classic SQ8) squeeze more precision from anisotropic
    * dimensions but make the dot a weighted sum; this corpus is isotropic
    * by construction and recall@5 is already 0.98 (spec), so the simpler
    * form wins.
    */
  def sq8Scale(embeddings: DataFrame): Double = {
    // one map-side-combined aggregate -> a scalar; the only driver-side
    // value, same metadata-sized collect as literalPlanes' dim probe.
    val maxAbs = embeddings
      .select(max(array_max(transform(col("embedding"), x => abs(x.cast("double"))))).as("m"))
      .head.getDouble(0)
    127.0 / maxAbs
  }

  /** (vec_id, c: array<tinyint>, n2: long) — the compact code table. n2 is
    * the code self-dot (persisted alongside, so probes never recompute
    * corpus norms). Zero-norm codes (a vector whose every component
    * quantizes to 0) are dropped on BOTH engines — they cannot be ranked
    * by cosine and 0/0 NaN semantics differ across engines.
    */
  def sq8Codes(embeddings: DataFrame, scale: Double): DataFrame =
    embeddings
      .select(
        col("vec_id"),
        transform(col("embedding"), x => floor(x.cast("double") * lit(scale)).cast("byte")).as("c"))
      .withColumn("n2", sq8Dot(col("c"), col("c")))
      .filter(col("n2") > 0)

  /** Exact integer dot over int8 code arrays, backed by the codegen'd
    * Int8Dot expression (the higher-order zip_with+aggregate form runs
    * outside whole-stage codegen and was 3.5x slower on the ranking join —
    * kept below as the reference the expression is spec-pinned against).
    * Bounded by 128^2 * dim ~ 2^20 at dim 64: exactly representable in
    * double, so the DuckDB oracle's double-list inner product is bit-equal.
    */
  def sq8Dot(a: Column, b: Column): Column =
    graft.plans.Int8Dot.int8_dot(a, b)

  /** Composed-builtins reference implementation for the spec cross-check
    * (cast up per element — byte arithmetic would wrap at 127).
    */
  def sq8DotBuiltins(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("long") * y.cast("long")),
      lit(0L),
      (acc, x) => acc + x)

  /** SQ8 ANN top-k: rank ALL candidates by integer code similarity, rescore
    * only the k winners per query against the float embeddings. `coded` is
    * sq8Codes output (persisted once at ingest, 4x smaller than the
    * floats); `queries` selects query_ids from it.
    */
  def sq8TopK(coded: DataFrame, queryFilter: Column, k: Int): DataFrame = {
    val q = coded.filter(queryFilter)
      .select(col("vec_id").as("query_id"), col("c").as("qc"), col("n2").as("qn2"))
    val w = Window.partitionBy("query_id").orderBy(col("qsim").desc, col("vec_id"))
    coded.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id"),
        round(
          sq8Dot(col("qc"), col("c")).cast("double") /
            (sqrt(col("qn2").cast("double")) * sqrt(col("n2").cast("double"))), 6).as("qsim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  val x31_sq8_topk = Q(
    "x31_sq8_topk",
    """WITH m AS (
      |  SELECT CAST(127 AS DOUBLE) / max(abs(CAST(x AS DOUBLE))) AS scale
      |  FROM (SELECT unnest(embedding) AS x FROM embeddings)),
      |codes AS (
      |  SELECT vec_id,
      |         list_transform(CAST(embedding AS DOUBLE[]), x -> floor(x * m.scale)) AS c
      |  FROM embeddings, m),
      |normed AS (
      |  SELECT vec_id, c, list_inner_product(c, c) AS n2 FROM codes
      |  WHERE list_inner_product(c, c) > 0),
      |ranked AS (
      |  SELECT q.vec_id AS query_id, d.vec_id AS vec_id,
      |         round(list_inner_product(q.c, d.c) / (sqrt(q.n2) * sqrt(d.n2)), 6) AS qsim,
      |         row_number() OVER (
      |           PARTITION BY q.vec_id
      |           ORDER BY round(list_inner_product(q.c, d.c) / (sqrt(q.n2) * sqrt(d.n2)), 6) DESC,
      |                    d.vec_id) AS rn
      |  FROM normed q JOIN normed d ON d.vec_id <> q.vec_id
      |  WHERE q.vec_id < 10)
      |SELECT r.query_id, r.vec_id AS vec_id, r.qsim,
      |       round(list_cosine_similarity(CAST(eq.embedding AS DOUBLE[]),
      |                                    CAST(ed.embedding AS DOUBLE[])), 6) AS sim
      |FROM ranked r
      |JOIN embeddings eq ON eq.vec_id = r.query_id
      |JOIN embeddings ed ON ed.vec_id = r.vec_id
      |WHERE r.rn <= 5
      |ORDER BY r.query_id, r.rn, r.vec_id""".stripMargin,
  ) { t =>
    // Scalar-quantized (SQ8) ANN, oracle-checked end-to-end: the scale,
    // every int8 code, the integer candidate ranking, AND the float rescore
    // of the winners replay exactly in DuckDB (floor quantization makes the
    // codes engine-exact; integer dots are exactly representable in the
    // oracle's double-list inner product — the x10b argument). Completes
    // the ANN family's storage axis: x9 exact / x10 LSH / x18 IVF prune
    // CANDIDATES, SQ8 shrinks BYTES — at 100 TB the ranking pass scans the
    // 25 TB code table and only 10*k float rows are ever fetched. Recall@5
    // vs exact cosine: 0.98 (spec-asserted >= 0.9).
    val scale = sq8Scale(t.embeddings)
    val coded = sq8Codes(t.embeddings, scale)
    val winners = sq8TopK(coded, col("vec_id") < 10, k = 5)
    // rescore the 50 winners against the floats: both joins broadcast the
    // tiny side, so the embeddings table is probed, never shuffled.
    val eq = t.embeddings.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val ed = t.embeddings.select(col("vec_id"), col("embedding").as("ce"))
    val enriched = eq.join(broadcast(winners), Seq("query_id"))
    ed.join(broadcast(enriched), Seq("vec_id"))
      .select(
        col("query_id"), col("vec_id"), col("qsim"),
        cosine(col("qe"), col("ce")).as("sim"), col("rn"))
      .orderBy("query_id", "rn", "vec_id")
      .drop("rn")
  }

  /** Exact brute-force top-k as a reusable API (not just the oracle query). */
  def bruteForceTopK(embeddings: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val c = embeddings.select(col("vec_id"), col("embedding").as("ce"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
    c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), cosine(col("qe"), col("ce")).as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  val x18_ivf_topk = Q(
    "x18_ivf_topk",
    """WITH cents AS (
      |  SELECT vec_id AS cell, embedding AS centroid
      |  FROM embeddings ORDER BY vec_id LIMIT 16),
      |assigned AS (
      |  SELECT cell, vec_id, embedding FROM (
      |    SELECT c.cell, e.vec_id, e.embedding,
      |           row_number() OVER (
      |             PARTITION BY e.vec_id
      |             ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
      |                                                   CAST(c.centroid AS DOUBLE[])), 6) DESC,
      |                      c.cell) AS rn
      |    FROM embeddings e, cents c) WHERE rn = 1),
      |probes AS (
      |  SELECT query_id, qe, cell FROM (
      |    SELECT q.vec_id AS query_id, q.embedding AS qe, c.cell,
      |           row_number() OVER (
      |             PARTITION BY q.vec_id
      |             ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                                                   CAST(c.centroid AS DOUBLE[])), 6) DESC,
      |                      c.cell) AS rn
      |    FROM embeddings q, cents c WHERE q.vec_id < 10) WHERE rn <= 4)
      |SELECT query_id, vec_id, sim FROM (
      |  SELECT p.query_id, a.vec_id,
      |         round(list_cosine_similarity(CAST(p.qe AS DOUBLE[]),
      |                                      CAST(a.embedding AS DOUBLE[])), 6) AS sim,
      |         row_number() OVER (
      |           PARTITION BY p.query_id
      |           ORDER BY round(list_cosine_similarity(CAST(p.qe AS DOUBLE[]),
      |                                                 CAST(a.embedding AS DOUBLE[])), 6) DESC,
      |                    a.vec_id) AS rn
      |  FROM probes p JOIN assigned a USING (cell)
      |  WHERE a.vec_id <> p.query_id)
      |WHERE rn <= 5 ORDER BY query_id, vec_id""".stripMargin,
  ) { t =>
    // The REAL ivfTopK (train-free centroids: 16 lowest vec_ids, nProbe=4,
    // k=5) oracle-checked end-to-end — cell assignment, probe selection,
    // and candidate ranking all replay in DuckDB over the same rounded
    // cosine (parity established by x9), with `cell` / `vec_id` tiebreaks
    // making every row_number deterministic in both engines. Together with
    // x9 (brute force) and x10b (sign-LSH bridge) this makes the whole ANN
    // family driver-checked, not just spec'd.
    ivfTopK(
      t.embeddings, t.embeddings.filter(col("vec_id") < 10),
      k = 5, nCells = 16, nProbe = 4)
      .orderBy("query_id", "vec_id")
  }

  val x13_cosine_neardup = Q(
    "x13_cosine_neardup",
    """SELECT a.label AS label, a.vec_id AS vec_a, b.vec_id AS vec_b,
      |       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                                    CAST(b.embedding AS DOUBLE[])), 6) AS sim
      |FROM embeddings a JOIN embeddings b
      |  ON a.label = b.label AND a.vec_id < b.vec_id
      |WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                                   CAST(b.embedding AS DOUBLE[])), 6) >= 0.3
      |ORDER BY vec_a, vec_b""".stripMargin,
  ) { t =>
    // Embedding-cosine near-duplicate pairs (builder contract's dedup
    // family): exact pair scoring BLOCKED on the label column, so the join
    // key is (label) — candidates per block are |block|^2, never corpus^2.
    // At 100 TB the block key is a cheap partitioner (cluster id from IVF
    // assignment, LSH band, or an upstream dedup bucket); x10's sign-LSH is
    // the unblocked scale path. The |block|^2 contract is MEASURED, not
    // theoretical: at a 30x scaled-up directory (fixed label vocabulary,
    // so blocks grow 30x) this query ran 78.5s vs 0.63s at sf0.1 — see
    // SCALE.md's 30x capstone (its `graft.ScaleUp` generator was last in
    // commit 04b8133). Blocks must be bounded by construction. The
    // driver's synthetic embeddings are near-orthogonal (within-label max
    // sim ≈ 0.47), so the demo threshold is 0.3; production near-dup sits
    // at 0.9+.
    val e = t.embeddings.select(col("label"), col("vec_id"), col("embedding"))
    e.as("a")
      .join(e.as("b"), col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.label").as("label"),
        col("a.vec_id").as("vec_a"),
        col("b.vec_id").as("vec_b"),
        cosine(col("a.embedding"), col("b.embedding")).as("sim"))
      .filter(col("sim") >= 0.3)
      .orderBy("vec_a", "vec_b")
  }

  /** Per-group element-wise embedding mean — class prototypes: nearest-
    * centroid classification, cluster summarization, semantic-blocking
    * seeds (the deterministic cousin of the k-means step x18's trained
    * variant uses). Long-shape output (group, pos, value) rather than an
    * array column: it keeps the aggregation a plain (group, pos) groupBy
    * — map-side partial sums, one 640-key exchange — instead of a
    * collect_list rebuild, and it is directly joinable for the
    * nearest-centroid scoring pass.
    *
    * Exactness across engines: float components are summed as
    * floor(v*1e6) integer micros (exact under any re-association; floor,
    * not round — round's half-case tie-break differs between engines on
    * negative values), and the mean divides once in double at the end.
    */
  val x49_embed_centroid = Q(
    "x49_embed_centroid",
    """SELECT label, pos,
      |       CAST(SUM(CAST(floor(CAST(v AS DOUBLE) * 1e6) AS BIGINT)) AS DOUBLE) / count(*)
      |         AS centroid_micro
      |FROM (SELECT label, unnest(embedding) AS v,
      |             unnest(range(len(embedding))) AS pos
      |      FROM embeddings)
      |GROUP BY label, pos ORDER BY label, pos""".stripMargin,
  ) { t =>
    t.embeddings
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg((sum(floor(col("v").cast("double") * 1e6).cast("long")).cast("double") /
        count(lit(1))).as("centroid_micro"))
      .orderBy("label", "pos")
  }

  /** One Lloyd iteration, assignment half: every vector to its
    * highest-cosine centroid (round-6 sim, cell-id tiebreak — the x9
    * ranking idiom, so any engine reproduces the argmax bit-for-bit).
    * Centroids are a broadcast (k rows); the corpus never shuffles — the
    * per-vector argmax is a rank-1 window over the k-way expansion, which
    * Spark prunes map-side via WindowGroupLimit.
    */
  def assignToCentroids(embeddings: DataFrame, centroids: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id").orderBy(col("sim").desc, col("cell"))
    embeddings
      .crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("cell"), col("embedding"),
        cosine(col("embedding"), col("centroid")).as("sim"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .drop("rn")
  }

  /** One Lloyd iteration, update half: per-cell mean in MICRO-QUANTIZED
    * fixed point — each component contributes floor(v * 1e6) as an
    * integer, summed exactly (order-independent, unlike double sums under
    * partial aggregation), divided once at the end. The x49 trick, here
    * load-bearing for convergence REPLAY: both engines derive the
    * IDENTICAL iteration-2 centroid doubles, so the next assignment pass
    * agrees everywhere. The result stays in MICRO units (1e6 x the data
    * scale) — deliberately not divided back down: cosine assignment is
    * scale-invariant, and skipping the rescale skips a rounding step.
    * Precision cost vs a float mean is < 1e-6 per (rescaled) component —
    * noise against cosine's round-6 compare (spec-pinned).
    *
    * Shape: posexplode to (cell, pos) partials (map-side combined),
    * then a k*dim-row reassembly — both aggregates tiny after the first
    * exchange.
    */
  def quantizedMeanCentroids(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("cell", "pos")
      .agg((sum(floor(col("v").cast("double") * 1e6).cast("long")).cast("double") /
        count(lit(1))).as("cv"))
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("pos"), col("cv")))).as("pc"))
      .select(col("cell"), expr("transform(pc, x -> x.cv)").as("centroid"))

  /** `iters` full Lloyd iterations from `seeds`; returns the final
    * assignment (vec_id, cell, sim). At corpus scale each iteration is
    * one broadcast-expand + one keyed aggregate — k-means over 100 TB is
    * exactly this loop on a sample (kmeansCentroids' note), and this
    * variant's engine-exact arithmetic makes the whole trajectory
    * oracle-replayable, which spark.ml's float kernels are not.
    */
  def lloyd(embeddings: DataFrame, seeds: DataFrame, iters: Int): DataFrame = {
    var centroids = seeds
    var assigned  = assignToCentroids(embeddings, centroids)
    (2 to iters).foreach { _ =>
      centroids = quantizedMeanCentroids(assigned)
      assigned = assignToCentroids(embeddings, centroids)
    }
    assigned.drop("embedding")
  }

  val x56_kmeans_lloyd = Q(
    "x56_kmeans_lloyd",
    """WITH seeds AS (
      |  SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS c FROM embeddings WHERE vec_id < 8),
      |a1 AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT e.vec_id, s.cell,
      |           row_number() OVER (
      |             PARTITION BY e.vec_id
      |             ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.c), 6) DESC,
      |                      s.cell) AS rn
      |    FROM embeddings e CROSS JOIN seeds s) WHERE rn = 1),
      |m AS (
      |  SELECT cell, pos,
      |         CAST(sum(CAST(floor(CAST(v AS DOUBLE) * 1e6) AS BIGINT)) AS DOUBLE) / count(*) AS cv
      |  FROM (SELECT a1.cell, unnest(e.embedding) AS v, unnest(range(len(e.embedding))) AS pos
      |        FROM a1 JOIN embeddings e USING (vec_id))
      |  GROUP BY cell, pos),
      |c1 AS (SELECT cell, list(cv ORDER BY pos) AS c FROM m GROUP BY cell),
      |a2 AS (
      |  SELECT vec_id, cell, sim FROM (
      |    SELECT e.vec_id, c1.cell,
      |           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c1.c), 6) AS sim,
      |           row_number() OVER (
      |             PARTITION BY e.vec_id
      |             ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c1.c), 6) DESC,
      |                      c1.cell) AS rn
      |    FROM embeddings e CROSS JOIN c1) WHERE rn = 1)
      |SELECT vec_id, cell, sim FROM a2 ORDER BY vec_id""".stripMargin,
  ) { t =>
    // 2 Lloyd iterations, k = 8, seeds = the 8 lowest vec_ids (the same
    // train-free choice x18 starts from) — the oracle replays the full
    // trajectory: seed assignment, quantized mean update, reassignment.
    val seeds = t.embeddings.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cell"),
        transform(col("embedding"), v => v.cast("double")).as("centroid"))
    lloyd(t.embeddings, seeds, iters = 2).orderBy("vec_id")
  }

  val x67_ivf_incremental = Q(
    "x67_ivf_incremental",
    """WITH cents AS (
      |  SELECT vec_id AS cell, embedding AS centroid
      |  FROM embeddings WHERE vec_id < 400 ORDER BY vec_id LIMIT 16)
      |SELECT vec_id, cell, csim FROM (
      |  SELECT e.vec_id, c.cell,
      |         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
      |                                      CAST(c.centroid AS DOUBLE[])), 6) AS csim,
      |         row_number() OVER (
      |           PARTITION BY e.vec_id
      |           ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
      |                                                 CAST(c.centroid AS DOUBLE[])), 6) DESC,
      |                    c.cell) AS rn
      |  FROM embeddings e, cents c WHERE e.vec_id >= 400) WHERE rn = 1
      |ORDER BY vec_id""".stripMargin,
  ) { t =>
    // Incremental IVF ingest, oracle-checked: the corpus is vec_id < 400,
    // its frozen train-free centroids the 16 lowest vec_ids; the batch
    // (vec_id >= 400) is assigned to those centroids WITHOUT touching the
    // corpus lists. DuckDB replays every assignment (same rounded cosine
    // and (csim desc, cell) argmax as x18), so the row certifies the
    // exact daily-ingest kernel; the rebuild-equality and probe-cost
    // properties live in IvfIncrementalSpec.
    val corpus = t.embeddings.filter(col("vec_id") < 400)
    val batch  = t.embeddings.filter(col("vec_id") >= 400)
    val cents  = trainFreeCentroids(corpus, 16)
    assignBatchIncremental(batch, cents)
      .select(col("vec_id"), col("cell"), col("csim"))
      .orderBy("vec_id")
  }

  /** Product quantization with ADC (asymmetric distance computation) — the
    * canonical billion-vector index kernel (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011; the FAISS
    * default), completing the index lineup next to SQ8 (x31), IVF (x18)
    * and sign-LSH (x10): M=4 subspaces x K=8 codewords compress each
    * 64-float vector to 4 code bytes (64x), and a query scores ANY
    * candidate with 4 table lookups instead of 64 multiplies.
    *
    * Shape — the at-scale ADC scan, not a join: the codebook (8 seed
    * vectors, a bounded metadata collect) is folded into LITERAL arrays,
    * so encoding is a pure per-row codegen expression (argmin over 8
    * round-6 L2 distances per subspace — `array_min` over (d, c) structs,
    * the x9 tiebreak idiom); the per-query lookup tables (10 x 4 x 8
    * micro-quantized longs, computed by a tiny Spark job with the SAME
    * distance expression for arithmetic parity, then collected — bounded)
    * are literal `element_at` lookups. One corpus pass, zero joins; the
    * only exchange is the per-query top-k window, which Spark 4 prunes
    * map-side via WindowGroupLimit (≤5 rows per query per partition
    * survive the shuffle). ADC sums integer micro-units (floor(d*1e6) as
    * long — the x56 fixed-point trick), so ranking is engine-exact and
    * the DuckDB oracle replays codebook, codes, LUT and top-5 bit-for-bit.
    * Training the codebook is x56's lloyd (train-free seeds here, the
    * x18/x67 convention); exact rescoring of the survivors is x9's kernel.
    */
  private val PqM = 4; private val PqK = 8; private val PqSub = 16; private val PqNq = 10

  /** Encode stage + per-query lookup tables for x69. The codebook
    * (subvectors of the 8 lowest vec_ids) and the LUT (NQ x M x K
    * micro-quantized distances, computed by a tiny Spark job with the SAME
    * distance expression for arithmetic parity) are bounded metadata
    * collects folded into literals, so the encode is a pure per-row
    * codegen expression — one corpus pass, zero joins, zero shuffles.
    */
  private def pqEncodeAndLut(t: graft.Tables): (DataFrame, Map[Long, Array[Array[Long]]]) = {
    val seedRows = t.embeddings.filter(col("vec_id") < PqK)
      .select("vec_id", "embedding").collect().sortBy(_.getLong(0))
    val cw: Array[Array[Array[Double]]] = Array.tabulate(PqM, PqK) { (m, c) =>
      seedRows(c).getSeq[Float](1).slice(m * PqSub, (m + 1) * PqSub).map(_.toDouble).toArray
    }
    def sub(v: Column, m: Int): Column = slice(v, m * PqSub + 1, PqSub)
    // Round-6 L2 to a literal codeword (round absorbs summation-order
    // jitter, same contract as `cosine`).
    def dist(v: Column, m: Int, c: Int): Column =
      round(sqrt(aggregate(
        zip_with(sub(v, m), typedLit(cw(m)(c).toSeq),
          (x, cc) => { val d = x.cast("double") - cc; d * d }),
        lit(0.0), (acc, x) => acc + x)), 6)
    def code(v: Column, m: Int): Column =
      array_min(array((0 until PqK).map(c =>
        struct(dist(v, m, c).as("d"), lit(c.toLong).as("c"))): _*)).getField("c")
    val lutRows = t.embeddings.filter(col("vec_id") < PqNq)
      .select(col("vec_id") +: (for { m <- 0 until PqM; c <- 0 until PqK } yield
        floor(dist(col("embedding"), m, c) * 1e6).cast("long").as(s"du_${m}_$c")): _*)
      .collect()
    val lut: Map[Long, Array[Array[Long]]] = lutRows.map { r =>
      r.getLong(0) -> Array.tabulate(PqM, PqK)((m, c) => r.getLong(1 + m * PqK + c))
    }.toMap
    val encoded = t.embeddings.select(
      col("vec_id") +: (0 until PqM).map(m => code(col("embedding"), m).as(s"c$m")): _*)
    (encoded, lut)
  }

  /** Test seam: the x69 encode output (vec_id, c0..c3). */
  private[graft] def x69EncodeForTest(t: graft.Tables): DataFrame = pqEncodeAndLut(t)._1

  val x69_pq_topk = Q(
    "x69_pq_topk",
    """WITH cb AS (
      |  SELECT m.m, s.vec_id AS c,
      |         CAST(s.embedding AS DOUBLE[])[m.m*16+1 : m.m*16+16] AS cw
      |  FROM (SELECT unnest(range(4)) AS m) m
      |  CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8) s),
      |codes AS (
      |  SELECT vec_id, m, c FROM (
      |    SELECT e.vec_id, cb.m, cb.c,
      |           row_number() OVER (PARTITION BY e.vec_id, cb.m
      |             ORDER BY round(list_distance(
      |                        CAST(e.embedding AS DOUBLE[])[cb.m*16+1 : cb.m*16+16],
      |                        cb.cw), 6), cb.c) AS rn
      |    FROM embeddings e CROSS JOIN cb) WHERE rn = 1),
      |lut AS (
      |  SELECT q.vec_id AS query_id, cb.m, cb.c,
      |         CAST(floor(round(list_distance(
      |                      CAST(q.embedding AS DOUBLE[])[cb.m*16+1 : cb.m*16+16],
      |                      cb.cw), 6) * 1e6) AS BIGINT) AS du
      |  FROM embeddings q CROSS JOIN cb WHERE q.vec_id < 10),
      |adc AS (
      |  SELECT l.query_id, codes.vec_id, CAST(sum(l.du) AS BIGINT) AS adc
      |  FROM codes JOIN lut l ON l.m = codes.m AND l.c = codes.c
      |  WHERE codes.vec_id <> l.query_id
      |  GROUP BY 1, 2)
      |SELECT query_id, vec_id, adc FROM (
      |  SELECT query_id, vec_id, adc,
      |         row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rn
      |  FROM adc) WHERE rn <= 5 ORDER BY query_id, adc, vec_id""".stripMargin,
  ) { t =>
    val (encoded, lut) = pqEncodeAndLut(t)
    val M = PqM; val TOPK = 5
    val perQuery = lut.keys.toSeq.sorted.map { q =>
      val adc = (0 until M).map(m =>
        element_at(typedLit(lut(q)(m).toSeq), (col(s"c$m") + 1).cast("int"))).reduce(_ + _)
      struct(lit(q).as("query_id"), adc.as("adc"))
    }
    val w = Window.partitionBy("query_id").orderBy(col("adc"), col("vec_id"))
    encoded
      .select(col("vec_id"), explode(array(perQuery: _*)).as("qa"))
      .select(col("qa.query_id").as("query_id"), col("vec_id"), col("qa.adc").as("adc"))
      .where(col("vec_id") =!= col("query_id"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= TOPK)
      .select("query_id", "vec_id", "adc")
      .orderBy("query_id", "adc", "vec_id")
  }

  /** Embedding-space near-duplicate PRUNING — the SemDeDup architecture
    * (Abbas et al. 2023): cluster the corpus (k centroids), score cosine
    * pairs ONLY within a cluster, keep one representative per duplicate
    * relation. Completes the dedup family's embedding axis: x13 scores
    * label-blocked pairs, x10 buckets by sign-LSH; this row is the
    * published centroid-blocked pipeline that DROPS rows — the form a
    * training-data curator actually runs.
    *
    * Keep rule: v survives unless some SAME-CLUSTER u < v has
    * round-6 cosine ≥ τ (keep-lowest-id — declarative and engine-exact,
    * vs the paper's keep-farthest-from-centroid which needs the same
    * blocked pair set). The transitive-closure variant (dup CLUSTERS, not
    * dup relations) is x26's union-find on the text side; this is its
    * one-join embedding analog.
    *
    * Scale: assignment is a broadcast argmax (k rows; WindowGroupLimit
    * map-side prune), the pair join shuffles on cell so candidates are
    * |cluster|² never corpus² — at 100 TB k grows with the corpus
    * (k ≈ √N keeps clusters bounded; the measured |block|² contract is
    * x13's 30x capstone), and the anti-join is a broadcast of the dup-id
    * set. τ = 0.35 for the driver's near-orthogonal synthetic embeddings
    * (within-cluster max sim ≈ 0.5); production near-dup sits at 0.9+.
    */
  val x70_semdedup = Q(
    "x70_semdedup",
    """WITH seeds AS (
      |  SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS c
      |  FROM embeddings WHERE vec_id < 8),
      |asn AS (
      |  SELECT vec_id, cell, embedding FROM (
      |    SELECT e.vec_id, s.cell, e.embedding,
      |           row_number() OVER (PARTITION BY e.vec_id
      |             ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.c), 6) DESC,
      |                      s.cell) AS rn
      |    FROM embeddings e CROSS JOIN seeds s) WHERE rn = 1),
      |dupes AS (
      |  SELECT DISTINCT b.vec_id
      |  FROM asn a JOIN asn b ON a.cell = b.cell AND a.vec_id < b.vec_id
      |  WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                                     CAST(b.embedding AS DOUBLE[])), 6) >= 0.35)
      |SELECT vec_id, cell FROM asn
      |WHERE vec_id NOT IN (SELECT vec_id FROM dupes) ORDER BY vec_id""".stripMargin,
  ) { t => semDedup(t.embeddings, k = 8, tau = 0.35) }

  /** The x70 pipeline with the centroid count as a parameter — the knob its
    * 100 TB contract turns: cluster size must stay bounded, so k grows with
    * the corpus. See [[x70b_semdedup_scaled]].
    */
  def semDedup(emb: DataFrame, k: Int, tau: Double): DataFrame = {
    val seeds = emb.filter(col("vec_id") < k)
      .select(col("vec_id").as("cell"),
        transform(col("embedding"), v => v.cast("double")).as("centroid"))
    val assigned = assignToCentroids(emb, seeds)
      .select(col("vec_id"), col("cell"), col("embedding"))
    val dupes = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id") &&
          cosine(col("a.embedding"), col("b.embedding")) >= tau)
      .select(col("b.vec_id").as("vec_id")).distinct()
    assigned.join(dupes, Seq("vec_id"), "left_anti")
      .select("vec_id", "cell").orderBy("vec_id")
  }

  val x70b_semdedup_scaled = Q(
    "x70b_semdedup_scaled",
    // Same replay as x70: at EVERY driver SF (500 / 2000 vectors) the
    // adaptive k = max(8, N/250) resolves to 8, so the k=8 oracle pins the
    // adaptive row exactly where an oracle exists; the adaptive path only
    // diverges on self-scaled corpora (SCALE.md decades), where no oracle
    // runs and the POINT is the k growth keeping clusters ~250 rows.
    """WITH seeds AS (
      |  SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS c
      |  FROM embeddings WHERE vec_id < 8),
      |asn AS (
      |  SELECT vec_id, cell, embedding FROM (
      |    SELECT e.vec_id, s.cell, e.embedding,
      |           row_number() OVER (PARTITION BY e.vec_id
      |             ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.c), 6) DESC,
      |                      s.cell) AS rn
      |    FROM embeddings e CROSS JOIN seeds s) WHERE rn = 1),
      |dupes AS (
      |  SELECT DISTINCT b.vec_id
      |  FROM asn a JOIN asn b ON a.cell = b.cell AND a.vec_id < b.vec_id
      |  WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                                     CAST(b.embedding AS DOUBLE[])), 6) >= 0.35)
      |SELECT vec_id, cell FROM asn
      |WHERE vec_id NOT IN (SELECT vec_id FROM dupes) ORDER BY vec_id""".stripMargin,
  ) { t =>
    // SemDeDup at scale holds CLUSTER SIZE constant (~250 vectors), not k:
    // pair work is N·clusterSize — linear in the corpus — where a fixed k
    // would be N²/k. The count is one columnar metadata aggregate, the
    // same AQE-class driver lookup as the salting/shard-count rows.
    val n = t.embeddings.count()
    val k = math.max(8L, n / 250L).toInt
    semDedup(t.embeddings, k, tau = 0.35)
  }

  /** x75: ANN index-quality evaluation — recall@k of the real IVF probe
    * (x18's parameters) against the exact cosine top-k (x9's path) on the
    * same probe set, the measurement loop that tells a 100 TB index
    * operator whether nProbe/nCells are set right BEFORE queries degrade.
    * Both generators run for real; the intersection is a (query, vec)
    * semi-join; recall = hits/k is exact fifths so both engines agree
    * bit-for-bit. Plan: the exact side is probe-bounded (10 broadcast
    * queries streamed against the corpus map-side — cost ∝ corpus, never
    * corpus², and ∝ sample size when probes are a sample, which is how the
    * evaluation runs at scale); the IVF side is the production probe
    * itself. Generator-agnostic: swap the IVF frame for x10 sign-LSH, x31
    * SQ8, or x69 PQ output and the eval is unchanged. The oracle replays
    * BOTH generators (the x18 and x9 CTE chains verbatim) plus the
    * intersection.
    */
  val x75_ann_recall = Q(
    "x75_ann_recall",
    """WITH cents AS (
      |  SELECT vec_id AS cell, embedding AS centroid
      |  FROM embeddings ORDER BY vec_id LIMIT 16),
      |assigned AS (
      |  SELECT cell, vec_id, embedding FROM (
      |    SELECT c.cell, e.vec_id, e.embedding,
      |           row_number() OVER (
      |             PARTITION BY e.vec_id
      |             ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
      |                                                   CAST(c.centroid AS DOUBLE[])), 6) DESC,
      |                      c.cell) AS rn
      |    FROM embeddings e, cents c) WHERE rn = 1),
      |iprobes AS (
      |  SELECT query_id, qe, cell FROM (
      |    SELECT q.vec_id AS query_id, q.embedding AS qe, c.cell,
      |           row_number() OVER (
      |             PARTITION BY q.vec_id
      |             ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                                                   CAST(c.centroid AS DOUBLE[])), 6) DESC,
      |                      c.cell) AS rn
      |    FROM embeddings q, cents c WHERE q.vec_id < 10) WHERE rn <= 4),
      |ivf AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT p.query_id, a.vec_id,
      |           row_number() OVER (
      |             PARTITION BY p.query_id
      |             ORDER BY round(list_cosine_similarity(CAST(p.qe AS DOUBLE[]),
      |                                                   CAST(a.embedding AS DOUBLE[])), 6) DESC,
      |                      a.vec_id) AS rn
      |    FROM iprobes p JOIN assigned a USING (cell)
      |    WHERE a.vec_id <> p.query_id)
      |  WHERE rn <= 5),
      |exact AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
      |           row_number() OVER (
      |             PARTITION BY q.vec_id
      |             ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                                                   CAST(c.embedding AS DOUBLE[])), 6) DESC,
      |                      c.vec_id) AS rn
      |    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      |    WHERE q.vec_id < 10)
      |  WHERE rn <= 5),
      |hits AS (
      |  SELECT i.query_id, count(*) AS n_hits
      |  FROM ivf i JOIN exact e ON i.query_id = e.query_id AND i.vec_id = e.vec_id
      |  GROUP BY i.query_id)
      |SELECT q.vec_id AS query_id,
      |       COALESCE(h.n_hits, 0) AS n_hits,
      |       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / 5 AS recall
      |FROM (SELECT vec_id FROM embeddings WHERE vec_id < 10) q
      |LEFT JOIN hits h ON h.query_id = q.vec_id
      |ORDER BY query_id""".stripMargin,
  ) { t =>
    val probes = t.embeddings.filter(col("vec_id") < 10)
    val q = probes.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val c = t.embeddings.select(col("vec_id"), col("embedding").as("ce"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
    val exact = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), cosine(col("qe"), col("ce")).as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select("query_id", "vec_id")
    val ivf = ivfTopK(t.embeddings, probes, k = 5, nCells = 16, nProbe = 4)
      .select("query_id", "vec_id")
    val hits = ivf.join(exact, Seq("query_id", "vec_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    probes.select(col("vec_id").as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(
        col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / 5).as("recall"))
      .orderBy("query_id")
  }

  /** x77: the ANN family meets the table format — a PERSISTED, VERSIONED
    * vector index: centroids and inverted lists live as MultiStore tables,
    * a batch of new vectors lands through the incremental path
    * ([[assignBatchIncremental]] against the FROZEN stored centroids, one
    * union append — corpus lists never re-read), the index advances
    * through one atomic snapshot commit, and the SAME queries are served
    * at BOTH manifests via time travel. Every run executes the real
    * machinery: two commits, a readAt-resolved centroid+list pair per
    * version, the x18 probe over each. The pre-batch serving is the
    * time-travel proof — if readAt resolved the wrong version, post-batch
    * vectors would leak into index_version 0 and break the hash. At
    * 100 TB this is the index maintenance story: ingest appends
    * batch-sized lists under a snapshot pointer, queries pin a manifest
    * (consistent reads during ingest), retention ages old index versions
    * out. The oracle replays both versions' assignment, probe, and
    * ranking from the frozen even-id centroids.
    */
  val x77_versioned_ann = Q(
    "x77_versioned_ann",
    """WITH cents AS (
      |  SELECT vec_id AS cell, embedding AS centroid FROM embeddings
      |  WHERE vec_id % 2 = 0 ORDER BY vec_id LIMIT 16),
      |a0 AS (
      |  SELECT cell, vec_id, embedding FROM (
      |    SELECT c.cell, e.vec_id, e.embedding,
      |           row_number() OVER (
      |             PARTITION BY e.vec_id
      |             ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
      |                                                   CAST(c.centroid AS DOUBLE[])), 6) DESC,
      |                      c.cell) AS rn
      |    FROM embeddings e, cents c WHERE e.vec_id % 2 = 0) WHERE rn = 1),
      |a1 AS (
      |  SELECT cell, vec_id, embedding FROM (
      |    SELECT c.cell, e.vec_id, e.embedding,
      |           row_number() OVER (
      |             PARTITION BY e.vec_id
      |             ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
      |                                                   CAST(c.centroid AS DOUBLE[])), 6) DESC,
      |                      c.cell) AS rn
      |    FROM embeddings e, cents c) WHERE rn = 1),
      |pr AS (
      |  SELECT query_id, qe, cell FROM (
      |    SELECT q.vec_id AS query_id, q.embedding AS qe, c.cell,
      |           row_number() OVER (
      |             PARTITION BY q.vec_id
      |             ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                                                   CAST(c.centroid AS DOUBLE[])), 6) DESC,
      |                      c.cell) AS rn
      |    FROM embeddings q, cents c WHERE q.vec_id < 10) WHERE rn <= 4),
      |t0 AS (
      |  SELECT CAST(0 AS BIGINT) AS index_version, query_id, vec_id, sim FROM (
      |    SELECT p.query_id, a.vec_id,
      |           round(list_cosine_similarity(CAST(p.qe AS DOUBLE[]),
      |                                        CAST(a.embedding AS DOUBLE[])), 6) AS sim,
      |           row_number() OVER (
      |             PARTITION BY p.query_id
      |             ORDER BY round(list_cosine_similarity(CAST(p.qe AS DOUBLE[]),
      |                                                   CAST(a.embedding AS DOUBLE[])), 6) DESC,
      |                      a.vec_id) AS rn
      |    FROM pr p JOIN a0 a USING (cell) WHERE a.vec_id <> p.query_id)
      |  WHERE rn <= 5),
      |t1 AS (
      |  SELECT CAST(1 AS BIGINT) AS index_version, query_id, vec_id, sim FROM (
      |    SELECT p.query_id, a.vec_id,
      |           round(list_cosine_similarity(CAST(p.qe AS DOUBLE[]),
      |                                        CAST(a.embedding AS DOUBLE[])), 6) AS sim,
      |           row_number() OVER (
      |             PARTITION BY p.query_id
      |             ORDER BY round(list_cosine_similarity(CAST(p.qe AS DOUBLE[]),
      |                                                   CAST(a.embedding AS DOUBLE[])), 6) DESC,
      |                      a.vec_id) AS rn
      |    FROM pr p JOIN a1 a USING (cell) WHERE a.vec_id <> p.query_id)
      |  WHERE rn <= 5)
      |SELECT * FROM t0 UNION ALL SELECT * FROM t1
      |ORDER BY index_version, query_id, vec_id""".stripMargin,
  ) { t =>
    val spark = t.spark
    import graft.sources.MultiStore
    SnapshotQueries.withTempStore("graft-vecindex") { root =>
      val base  = t.embeddings.filter(col("vec_id") % 2 === 0)
      val batch = t.embeddings.filter(col("vec_id") % 2 =!= 0)
      val cents = trainFreeCentroids(base, 16)
      MultiStore.commit(root, Map(
        "centroids" -> cents,
        "lists"     -> assignCells(base, cents)), keep = 4)
      val m0 = MultiStore.manifests(spark, root).last
      // incremental ingest: the batch assigned to the FROZEN stored
      // centroids, appended to the stored lists, committed as one snapshot
      val storedCents = MultiStore.read(spark, root, "centroids")
      MultiStore.commit(root, Map("lists" ->
        MultiStore.read(spark, root, "lists")
          .unionByName(assignBatchIncremental(batch, storedCents))), keep = 4)
      val m1 = MultiStore.manifests(spark, root).last
      val queries = t.embeddings.filter(col("vec_id") < 10)
      def serveAt(m: Long, version: Long) =
        probeTopK(
          MultiStore.readAt(spark, root, "lists", m),
          queries,
          MultiStore.readAt(spark, root, "centroids", m),
          k = 5, nProbe = 4)
          .select(lit(version).as("index_version"),
            col("query_id"), col("vec_id"), col("sim"))
      serveAt(m0, 0L).unionByName(serveAt(m1, 1L))
        .orderBy("index_version", "query_id", "vec_id")
    }
  }

  /** Embedding-space eval-set decontamination — the semantic sibling of
    * the n-gram paths (x16 exact containment, x79 fuzzy shingle Jaccard):
    * a PARAPHRASED benchmark leak shares no shingles with its source, but
    * its embedding still lands next to it. Corpus and eval vectors are
    * both assigned to the frozen centroid grid (one broadcast join each —
    * x18/x67's kernel), candidates are corpus⋈eval WITHIN a cell (cluster-
    * sized × eval-density, never corpus×eval), and a corpus doc is flagged
    * with its hit count and max similarity when any eval vector scores
    * cosine ≥ `tau`. Cell blocking is the approximation contract (a pair
    * split across cells is missed — at scale, probe multiple cells the
    * x18 nProbe way); the oracle replays the SAME blocked semantics, so
    * the row is exact about what the operator promises.
    *
    * k is the 100 TB knob (the x70b rule): within-cell pairs grow as
    * corpus×eval/k, so cell POPULATION must stay bounded, not k — the
    * registered row computes k = max(8, N/250) from one corpus count
    * (resolving to 8 at every driver SF, so the k=8 oracle pins the
    * adaptive path exactly where an oracle exists; on self-scaled corpora
    * the growth keeps cells ~250 vectors — SCALE.md decade).
    */
  def semanticDecontam(emb: DataFrame, evalPred: Column, k: Int, tau: Double): DataFrame = {
    val seeds = emb.filter(col("vec_id") < k)
      .select(col("vec_id").as("cell"),
        transform(col("embedding"), v => v.cast("double")).as("centroid"))
    val assigned = assignToCentroids(emb, seeds)
      .select(col("vec_id"), col("cell"), col("embedding"))
    val corpus = assigned.filter(!evalPred)
    val eval   = assigned.filter(evalPred)
    corpus.as("c")
      .join(eval.as("v"), col("c.cell") === col("v.cell"))
      .select(col("c.vec_id").as("vec_id"),
        cosine(col("c.embedding"), col("v.embedding")).as("sim"))
      .filter(col("sim") >= tau)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_hits"), max(col("sim")).as("max_sim"))
      .orderBy("vec_id")
  }

  val x85_semantic_decontam = Q(
    "x85_semantic_decontam",
    """WITH seeds AS (
      |  SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS c
      |  FROM embeddings WHERE vec_id < 8),
      |asn AS (
      |  SELECT vec_id, cell, embedding FROM (
      |    SELECT e.vec_id, s.cell, e.embedding,
      |           row_number() OVER (PARTITION BY e.vec_id
      |             ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.c), 6) DESC,
      |                      s.cell) AS rn
      |    FROM embeddings e CROSS JOIN seeds s) WHERE rn = 1),
      |hits AS (
      |  SELECT c.vec_id,
      |         round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
      |                                      CAST(v.embedding AS DOUBLE[])), 6) AS sim
      |  FROM asn c JOIN asn v ON c.cell = v.cell
      |  WHERE c.vec_id % 10 <> 0 AND v.vec_id % 10 = 0
      |    AND round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
      |                                     CAST(v.embedding AS DOUBLE[])), 6) >= 0.35)
      |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_hits, max(sim) AS max_sim
      |FROM hits GROUP BY vec_id ORDER BY vec_id""".stripMargin,
  ) { t =>
    // eval set = every tenth vector; ADAPTIVE k = max(8, N/250) — the
    // x70b rule holding cell population (~250 vectors) constant as the
    // corpus grows, so within-cell pair work stays linear in N. The count
    // is one columnar metadata aggregate (the same AQE-class driver lookup
    // as x70b); at every driver SF it resolves to k = 8, which is what the
    // oracle's seed CTE pins. tau = 0.35, inside the corpus's measured
    // similarity band.
    val n = t.embeddings.count()
    val k = math.max(8L, n / 250L).toInt
    semanticDecontam(t.embeddings, col("vec_id") % 10 === 0, k = k, tau = 0.35)
  }

  private[graft] final case class EmbRow(vec_id: Long, embedding: Array[Float])

  /** x84: STREAMING ingest into the versioned ANN index — the composition
    * of m19 (exactly-once foreachBatch → commitBatch), x67 (frozen-centroid
    * incremental assignment), and x77 (snapshot-served index reads). A
    * MemoryStream of embeddings drains in three forced micro-batches, each
    * assigned to the FROZEN stored centroids and appended to the inverted
    * lists through one atomic batch-marked commit; the pre-ingest manifest
    * is served MID-STREAM (after batch 0's commit has already advanced the
    * snapshot) — if readAt leaked a streamed vector into index_version 0,
    * the hash breaks; a crash-restart re-delivery of the last batch with
    * poison rows must be rejected by the batch-id marker. Registered as an
    * INSTRUMENT (the MemoryStream feed and forced drain are replay
    * harness; the per-batch production paths are m13/x67/x77 rows). The
    * oracle is x77's: the exactly-once streamed end state must equal the
    * one-shot batch commit bit for bit.
    */
  val x84_stream_ann = Q.instrument(
    "x84_stream_ann",
    """WITH cents AS (
      |  SELECT vec_id AS cell, embedding AS centroid FROM embeddings
      |  WHERE vec_id % 2 = 0 ORDER BY vec_id LIMIT 16),
      |a0 AS (
      |  SELECT cell, vec_id, embedding FROM (
      |    SELECT c.cell, e.vec_id, e.embedding,
      |           row_number() OVER (
      |             PARTITION BY e.vec_id
      |             ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
      |                                                   CAST(c.centroid AS DOUBLE[])), 6) DESC,
      |                      c.cell) AS rn
      |    FROM embeddings e, cents c WHERE e.vec_id % 2 = 0) WHERE rn = 1),
      |a1 AS (
      |  SELECT cell, vec_id, embedding FROM (
      |    SELECT c.cell, e.vec_id, e.embedding,
      |           row_number() OVER (
      |             PARTITION BY e.vec_id
      |             ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
      |                                                   CAST(c.centroid AS DOUBLE[])), 6) DESC,
      |                      c.cell) AS rn
      |    FROM embeddings e, cents c) WHERE rn = 1),
      |pr AS (
      |  SELECT query_id, qe, cell FROM (
      |    SELECT q.vec_id AS query_id, q.embedding AS qe, c.cell,
      |           row_number() OVER (
      |             PARTITION BY q.vec_id
      |             ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                                                   CAST(c.centroid AS DOUBLE[])), 6) DESC,
      |                      c.cell) AS rn
      |    FROM embeddings q, cents c WHERE q.vec_id < 10) WHERE rn <= 4),
      |t0 AS (
      |  SELECT CAST(0 AS BIGINT) AS index_version, query_id, vec_id, sim FROM (
      |    SELECT p.query_id, a.vec_id,
      |           round(list_cosine_similarity(CAST(p.qe AS DOUBLE[]),
      |                                        CAST(a.embedding AS DOUBLE[])), 6) AS sim,
      |           row_number() OVER (
      |             PARTITION BY p.query_id
      |             ORDER BY round(list_cosine_similarity(CAST(p.qe AS DOUBLE[]),
      |                                                   CAST(a.embedding AS DOUBLE[])), 6) DESC,
      |                      a.vec_id) AS rn
      |    FROM pr p JOIN a0 a USING (cell) WHERE a.vec_id <> p.query_id)
      |  WHERE rn <= 5),
      |t1 AS (
      |  SELECT CAST(1 AS BIGINT) AS index_version, query_id, vec_id, sim FROM (
      |    SELECT p.query_id, a.vec_id,
      |           round(list_cosine_similarity(CAST(p.qe AS DOUBLE[]),
      |                                        CAST(a.embedding AS DOUBLE[])), 6) AS sim,
      |           row_number() OVER (
      |             PARTITION BY p.query_id
      |             ORDER BY round(list_cosine_similarity(CAST(p.qe AS DOUBLE[]),
      |                                                   CAST(a.embedding AS DOUBLE[])), 6) DESC,
      |                      a.vec_id) AS rn
      |    FROM pr p JOIN a1 a USING (cell) WHERE a.vec_id <> p.query_id)
      |  WHERE rn <= 5)
      |SELECT * FROM t0 UNION ALL SELECT * FROM t1
      |ORDER BY index_version, query_id, vec_id""".stripMargin,
  ) { t =>
    implicit val spark: org.apache.spark.sql.SparkSession = t.spark
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.sources.MultiStore
    SnapshotQueries.withTempStore("graft-streamann") { root =>
      val base  = t.embeddings.filter(col("vec_id") % 2 === 0)
      val cents = trainFreeCentroids(base, 16)
      MultiStore.commit(root, Map(
        "centroids" -> cents,
        "lists"     -> assignCells(base, cents)), keep = 8)
      val m0 = MultiStore.manifests(spark, root).last
      // odd vec_ids stream in as three deterministic micro-batches
      val batches = (0 to 2).map(b =>
        t.embeddings.filter(col("vec_id") % 2 =!= 0 && (col("vec_id") - 1) / 2 % 3 === b)
          .select("vec_id", "embedding").as[EmbRow].collect())
      val input = MemoryStream[EmbRow]
      // the static side of every batch's stream-static assignment: the
      // centroids are FROZEN at stream start (nothing updates them), so
      // resolve the store read once — re-resolving the snapshot and
      // re-scanning the same 16-row parquet per micro-batch was pure
      // per-batch constant (r16, guide §1.2); the LISTS read stays inside
      // the loop because each batch's commit advances it.
      val storedCents = MultiStore.read(spark, root, "centroids").localCheckpoint()
      val query = input.toDS().writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[EmbRow], id: Long) =>
          // assignment against the frozen centroids — batch-sized work,
          // the corpus lists are appended to, never re-scored
          val merged = MultiStore.read(spark, root, "lists")
            .unionByName(assignBatchIncremental(batch.toDF(), storedCents))
          MultiStore.commitBatch(root, "ann_ingest", id,
            Map("lists" -> merged), keep = 8)
          ()
        }
        .start()
      val queries = t.embeddings.filter(col("vec_id") < 10)
      def serveAt(m: Long, version: Long) =
        probeTopK(
          MultiStore.readAt(spark, root, "lists", m),
          queries,
          MultiStore.readAt(spark, root, "centroids", m),
          k = 5, nProbe = 4)
          .select(lit(version).as("index_version"),
            col("query_id"), col("vec_id"), col("sim"))
      val served0 =
        try {
          input.addData(batches(0).toIndexedSeq)
          query.processAllAvailable()
          // MID-STREAM time-travel read: batch 0's commit has already
          // advanced the snapshot — serving pinned at m0 must still see
          // ONLY the base index (materialized NOW, while ingest continues)
          val s0 = serveAt(m0, 0L).localCheckpoint(true)
          batches.drop(1).foreach { chunk =>
            input.addData(chunk.toIndexedSeq)
            query.processAllAvailable()
          }
          s0
        } finally query.stop()
      // crash-restart re-delivery of the last batch with poison rows: the
      // batch-id marker must make it a no-op on the index stores
      val mBefore = MultiStore.manifests(spark, root).last
      val replayed = MultiStore.commitBatch(root, "ann_ingest", 2L,
        Map("lists" -> assignCells(t.embeddings.limit(3),
          MultiStore.read(spark, root, "centroids"))), keep = 8)
      require(!replayed && MultiStore.manifests(spark, root).last == mBefore,
        "x84: exactly-once violated — re-delivered batch mutated the index")
      served0.unionByName(serveAt(MultiStore.manifests(spark, root).last, 1L))
        .orderBy("index_version", "query_id", "vec_id")
    }
  }

  /** x95: rank-aware retrieval evaluation — nDCG@5 + MRR + recall@5 of
    * the real IVF probe against the exact cosine ranking, extending x75's
    * set-overlap recall to metrics that SEE rank order: recall cannot
    * tell an index that returns the true top-5 in order from one that
    * returns them reversed, and at 100 TB the nProbe/nCells tradeoff is
    * tuned against exactly these curves before queries degrade. Graded
    * relevance comes from the exact ranking itself (rel = 6 − exact rank
    * for the true top-5, 0 otherwise — integer by construction), DCG uses
    * the standard ln-based log2 discount, IDCG is the perfect-order
    * constant computed with the SAME discount expression, MRR is the
    * reciprocal of the first relevant position. All inputs to the doubles
    * are small integers and 6dp-rounded cosines, so both engines walk
    * identical arithmetic (the x91 AUC discipline, rank edition).
    * Generator-agnostic like x75: swap the IVF frame for x10/x31/x69
    * output and the eval is unchanged. Plan: exact side is probe-bounded
    * (10 broadcast queries map-side against the corpus); the IVF side is
    * the production probe; everything after is probe×k-sized.
    */
  val x95_retrieval_eval = Q(
    "x95_retrieval_eval",
    """WITH cents AS (
      |  SELECT vec_id AS cell, embedding AS centroid
      |  FROM embeddings ORDER BY vec_id LIMIT 16),
      |assigned AS (
      |  SELECT cell, vec_id, embedding FROM (
      |    SELECT c.cell, e.vec_id, e.embedding,
      |           row_number() OVER (
      |             PARTITION BY e.vec_id
      |             ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
      |                                                   CAST(c.centroid AS DOUBLE[])), 6) DESC,
      |                      c.cell) AS rn
      |    FROM embeddings e, cents c) WHERE rn = 1),
      |iprobes AS (
      |  SELECT query_id, qe, cell FROM (
      |    SELECT q.vec_id AS query_id, q.embedding AS qe, c.cell,
      |           row_number() OVER (
      |             PARTITION BY q.vec_id
      |             ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                                                   CAST(c.centroid AS DOUBLE[])), 6) DESC,
      |                      c.cell) AS rn
      |    FROM embeddings q, cents c WHERE q.vec_id < 10) WHERE rn <= 4),
      |ivf AS (
      |  SELECT query_id, vec_id, rn AS pos FROM (
      |    SELECT p.query_id, a.vec_id,
      |           row_number() OVER (
      |             PARTITION BY p.query_id
      |             ORDER BY round(list_cosine_similarity(CAST(p.qe AS DOUBLE[]),
      |                                                   CAST(a.embedding AS DOUBLE[])), 6) DESC,
      |                      a.vec_id) AS rn
      |    FROM iprobes p JOIN assigned a USING (cell)
      |    WHERE a.vec_id <> p.query_id)
      |  WHERE rn <= 5),
      |exact AS (
      |  SELECT query_id, vec_id, rn FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
      |           row_number() OVER (
      |             PARTITION BY q.vec_id
      |             ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                                                   CAST(c.embedding AS DOUBLE[])), 6) DESC,
      |                      c.vec_id) AS rn
      |    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      |    WHERE q.vec_id < 10)
      |  WHERE rn <= 5),
      |lab AS (
      |  SELECT i.query_id, i.pos, COALESCE(6 - e.rn, 0) AS rel
      |  FROM ivf i LEFT JOIN exact e
      |    ON e.query_id = i.query_id AND e.vec_id = i.vec_id),
      |idcg AS (SELECT sum((6 - p) * ln(2) / ln(p + 1)) AS idcg
      |         FROM unnest(generate_series(1, 5)) t(p)),
      |perq AS (
      |  SELECT query_id,
      |         CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
      |         sum(rel * ln(2) / ln(pos + 1)) AS dcg,
      |         min(CASE WHEN rel > 0 THEN pos END) AS first_hit
      |  FROM lab GROUP BY 1)
      |SELECT q.vec_id AS query_id,
      |       COALESCE(p.n_hits, 0) AS n_hits,
      |       round(COALESCE(p.n_hits, 0) / 5.0, 6) AS recall,
      |       round(COALESCE(p.dcg, 0) / i.idcg, 6) AS ndcg,
      |       round(COALESCE(1.0 / p.first_hit, 0), 6) AS mrr
      |FROM (SELECT vec_id FROM embeddings WHERE vec_id < 10) q
      |CROSS JOIN idcg i
      |LEFT JOIN perq p ON p.query_id = q.vec_id
      |ORDER BY query_id""".stripMargin,
  ) { t =>
    retrievalEval(t.embeddings, nQueries = 10, k = 5, nCells = 16, nProbe = 4)
  }

  /** The x95 eval kernel with its grid EXPOSED (the r14 verdict's #5):
    * per-query recall@k / nDCG@k / MRR of the IVF probe vs the exact
    * cosine ranking, for any (nQueries, k, nCells, nProbe). The registry
    * row pins (10, 5, 16, 4) for oracle compactness; the eval's value at
    * scale is SWEEPING nProbe against these curves before queries degrade
    * — SCALE.md records the recall/nDCG-vs-nProbe table at the 30× decade
    * (`graft.tools.RetrievalSweep` ran that sweep; commit 04b8133 was the
    * last to have it). Plan shape is grid-independent: exact side is
    * probe-bounded (nQueries broadcast queries map-side against the
    * corpus), the IVF side is the production probe, everything after is
    * nQueries×k-sized.
    */
  def retrievalEval(emb: DataFrame, nQueries: Int, k: Int,
                    nCells: Int, nProbe: Int): DataFrame =
    retrievalEvalProbes(emb, emb.filter(col("vec_id") < nQueries), k, nCells, nProbe)

  /** [[retrievalEval]] with the probe frame EXPLICIT — (vec_id, embedding)
    * rows that need not be corpus members (probe ids outside the corpus id
    * space no-op the self-exclusion), such as the cross-cluster midpoints
    * of `RetrievalSweep --mixed` (last in commit 04b8133): corpus-member
    * probes saturate recall on a tightly-clustered corpus (their top-k
    * cohabits their own cell), while a midpoint's exact top-k straddles two
    * cells — the query class an nProbe curve exists to price.
    */
  def retrievalEvalProbes(emb: DataFrame, probes: DataFrame, k: Int,
                          nCells: Int, nProbe: Int): DataFrame = {
    val q = probes.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val c = emb.select(col("vec_id"), col("embedding").as("ce"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
    val exact = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), cosine(col("qe"), col("ce")).as("sim"))
      .withColumn("e_rank", row_number().over(w))
      .filter(col("e_rank") <= k)
      .select("query_id", "vec_id", "e_rank")
    val approx = ivfTopK(emb, probes, k = k, nCells = nCells, nProbe = nProbe)
      .withColumn("pos", row_number().over(w))
      .select("query_id", "vec_id", "pos")
    val labeled = approx.join(exact, Seq("query_id", "vec_id"), "left")
      .withColumn("rel", coalesce(lit(k + 1) - col("e_rank"), lit(0)))
    val perQ = labeled.groupBy("query_id").agg(
      sum(when(col("rel") > 0, 1L).otherwise(0L)).as("n_hits"),
      sum(col("rel") * log(lit(2.0)) / log(col("pos") + lit(1.0))).as("dcg"),
      min(when(col("rel") > 0, col("pos"))).as("first_hit"))
    // the perfect-order constant, same ln-based discount as the dcg
    val idcg = (1 to k).map(p => (k + 1 - p) * math.log(2.0) / math.log(p + 1.0)).sum
    probes.select(col("vec_id").as("query_id"))
      .join(perQ, Seq("query_id"), "left")
      .select(
        col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)) / lit(k.toDouble), 6).as("recall"),
        round(coalesce(col("dcg"), lit(0.0)) / lit(idcg), 6).as("ndcg"),
        round(coalesce(lit(1.0) / col("first_hit"), lit(0.0)), 6).as("mrr"))
      .orderBy("query_id")
  }

  /** x98: cluster-quality evaluation — the SIMPLIFIED (centroid-based)
    * silhouette of Hruschka et al.: per point, a = cosine distance to its
    * own (nearest) centroid, b = distance to the second-nearest centroid,
    * s = (b − a) / max(a, b) — which closes to (c1 − c2) / (1 − c2) in
    * similarity terms since nearest-assignment guarantees a ≤ b (so the
    * simplified score is ≥ 0 by construction; the full pairwise
    * silhouette can go negative only for misassigned points, which
    * nearest-assignment excludes). The centroid form is the one that
    * exists at 100 TB: O(N·k) against broadcast centroids instead of the
    * O(N²) pairwise definition — the same reduction x49/x56 build on.
    * ONE pass: corpus × broadcast(centroids), top-2 similarities per
    * point via the rank window (map-side WindowGroupLimit under the
    * vec_id partitioning), then a k-key aggregate. Completes the
    * clustering family the way x75/x95 complete ANN and x91 completes the
    * quality scorers: train (x56), serve (x18/x67), now MEASURE.
    *
    * Centroids here are the deterministic first-k grid (x85's seeds) so
    * DuckDB replays them exactly; production centroids come from x56's
    * quantized Lloyd pass through the same frame. Similarities are 6dp
    * (the cosine() contract), so c1 − c2 and the final division see
    * bit-identical inputs in both engines; per-point s is re-rounded to
    * 6dp before the per-cluster mean.
    */
  /** The x98 kernel over an arbitrary (cell, centroid) frame: per-point
    * top-2 centroid similarities via the rank window, s = (c1−c2)/(1−c2),
    * aggregated per owning cell. Exposed so the spec can measure the SAME
    * metric over x56's Lloyd-trained centroids and compare against the
    * raw seed grid (train → measure, one code path).
    */
  def silhouetteByCell(emb: DataFrame, centroids: DataFrame): DataFrame = {
    // k = 1 has no second-nearest centroid: c2 is null, the c2 >= 1 guard
    // falls through to the otherwise branch with a null operand, and every
    // s (and mean_sil) comes back silently null. Misuse must fail loudly
    // (an ADVICE r14 fix); the count is a k-row metadata collect.
    require(centroids.count() >= 2,
      "silhouetteByCell needs >= 2 centroids (k = 1 has no second-nearest)")
    val w = Window.partitionBy("vec_id").orderBy(col("sim").desc, col("cell"))
    emb
      .crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("cell"),
        cosine(col("embedding"), col("centroid")).as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .groupBy("vec_id")
      .agg(
        max(when(col("rn") === 1, col("cell"))).as("cell"),
        max(when(col("rn") === 1, col("sim"))).as("c1"),
        max(when(col("rn") === 2, col("sim"))).as("c2"))
      .select(col("cell"),
        when(col("c2") >= 1, lit(0.0))
          .otherwise(round((col("c1") - col("c2")) / (lit(1) - col("c2")), 6)).as("s"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_points"), round(avg(col("s")), 6).as("mean_sil"))
      .select(col("cell").cast("long").as("cell"), col("n_points"), col("mean_sil"))
      .orderBy("cell")
  }

  val x98_silhouette = Q(
    "x98_silhouette",
    """WITH seeds AS (
      |  SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS c
      |  FROM embeddings WHERE vec_id < 8),
      |d AS (
      |  SELECT e.vec_id, s.cell,
      |         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.c), 6) AS sim,
      |         row_number() OVER (PARTITION BY e.vec_id
      |           ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.c), 6) DESC,
      |                    s.cell) AS rn
      |  FROM embeddings e CROSS JOIN seeds s),
      |pv AS (
      |  SELECT vec_id,
      |         max(CASE WHEN rn = 1 THEN cell END) AS cell,
      |         max(CASE WHEN rn = 1 THEN sim END) AS c1,
      |         max(CASE WHEN rn = 2 THEN sim END) AS c2
      |  FROM d WHERE rn <= 2 GROUP BY vec_id),
      |sil AS (
      |  SELECT cell,
      |         CASE WHEN c2 >= 1 THEN 0.0
      |              ELSE round((c1 - c2) / (1 - c2), 6) END AS s
      |  FROM pv)
      |SELECT CAST(cell AS BIGINT) AS cell, CAST(count(*) AS BIGINT) AS n_points,
      |       round(avg(s), 6) AS mean_sil
      |FROM sil GROUP BY cell ORDER BY cell""".stripMargin,
  ) { t =>
    val seeds = t.embeddings.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cell"),
        transform(col("embedding"), v => v.cast("double")).as("centroid"))
    silhouetteByCell(t.embeddings, seeds)
  }

  /** x100 kernel: embedding-distribution drift as PSI over frozen-centroid
    * cell populations — the "retrain the index?" ops signal. Both
    * populations assign to the SAME frozen centroids (one broadcast pass),
    * collapse to k cell counts, and the drift math is x59's smoothed PSI
    * verbatim (DataQuality.psiByBucket — one discipline for tabular and
    * embedding drift). At 100 TB: populations never meet row-wise; the
    * only state that crosses days is the k-row centroid frame, and the
    * comparison is k-keyed regardless of corpus size.
    */
  def embeddingDriftPsi(emb: DataFrame, centroids: DataFrame, isRef: Column): DataFrame = {
    val k = centroids.count().toInt
    DataQuality.psiByBucket(assignToCentroids(emb, centroids), isRef, col("cell"), nBuckets = k)
  }

  val x100_embedding_drift = Q(
    "x100_embedding_drift",
    """WITH seeds AS (
      |  SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS c
      |  FROM embeddings WHERE vec_id < 8),
      |asn AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT e.vec_id, s.cell,
      |           row_number() OVER (PARTITION BY e.vec_id
      |             ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.c), 6) DESC,
      |                      s.cell) AS rn
      |    FROM embeddings e CROSS JOIN seeds s) WHERE rn = 1),
      |c AS (
      |  SELECT cell AS bucket,
      |         CAST(count(*) FILTER (WHERE vec_id % 2 = 0) AS BIGINT) AS n_ref,
      |         CAST(count(*) FILTER (WHERE vec_id % 2 <> 0) AS BIGINT) AS n_cur
      |  FROM asn GROUP BY cell),
      |t AS (SELECT sum(n_ref) AS tot_ref, sum(n_cur) AS tot_cur FROM c)
      |SELECT bucket, n_ref, n_cur,
      |       round(((n_ref + 0.5) / (tot_ref + 4.0) - (n_cur + 0.5) / (tot_cur + 4.0))
      |             * ln(((n_ref + 0.5) / (tot_ref + 4.0)) / ((n_cur + 0.5) / (tot_cur + 4.0))), 6)
      |         AS psi_contrib
      |FROM c CROSS JOIN t ORDER BY bucket""".stripMargin,
  ) { t =>
    // Even vec_ids are the "reference" corpus, odd the "current" batch
    // (production: yesterday's index population vs today's arrivals);
    // centroids are the frozen first-8 grid (production: the stored x56/
    // x77 centroids — frozen is the point: drift is measured against the
    // geometry the index was BUILT with, the same reason x67/x84 assign
    // incrementally under frozen centroids).
    val seeds = t.embeddings.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cell"),
        transform(col("embedding"), v => v.cast("double")).as("centroid"))
    embeddingDriftPsi(t.embeddings, seeds, col("vec_id") % 2 === 0)
  }

  /** x102: the drift loop COMPOSED end to end — the r14 verdict's #6,
    * closing the ops cycle x100's scaladoc describes: x56's quantized
    * Lloyd pass TRAINS the centroids, they are committed to a versioned
    * store (the x77 discipline — the index geometry an ops loop owns,
    * snapshot-isolated), and x100's PSI runs against the centroids READ
    * BACK FROM THE STORE — genuinely stored output, not a recompute, so
    * the row certifies the handoff every "retrain the index?" monitor
    * depends on: drift is measured against the exact geometry the serving
    * index was built with, via the store both sides share. At 100 TB: the
    * train pass is one broadcast-expand + keyed aggregate per iteration,
    * the store traffic is a k-row frame, and the drift compare is k-keyed
    * — nothing corpus-sized crosses days. DuckDB replays the trajectory
    * (seed assign, micro-quantized mean) and the PSI over it in closed
    * form, so a store that corrupted so much as one centroid component
    * would break the hash.
    */
  val x102_drift_loop = Q(
    "x102_drift_loop",
    """WITH seeds AS (
      |  SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS c
      |  FROM embeddings WHERE vec_id < 8),
      |a1 AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT e.vec_id, s.cell,
      |           row_number() OVER (PARTITION BY e.vec_id
      |             ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.c), 6) DESC,
      |                      s.cell) AS rn
      |    FROM embeddings e CROSS JOIN seeds s) WHERE rn = 1),
      |m AS (
      |  SELECT cell, pos,
      |         CAST(sum(CAST(floor(CAST(v AS DOUBLE) * 1e6) AS BIGINT)) AS DOUBLE) / count(*) AS cv
      |  FROM (SELECT a1.cell, unnest(e.embedding) AS v, unnest(range(len(e.embedding))) AS pos
      |        FROM a1 JOIN embeddings e USING (vec_id))
      |  GROUP BY cell, pos),
      |c1 AS (SELECT cell, list(cv ORDER BY pos) AS c FROM m GROUP BY cell),
      |asn AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT e.vec_id, c1.cell,
      |           row_number() OVER (PARTITION BY e.vec_id
      |             ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c1.c), 6) DESC,
      |                      c1.cell) AS rn
      |    FROM embeddings e CROSS JOIN c1) WHERE rn = 1),
      |c AS (
      |  SELECT cell AS bucket,
      |         CAST(count(*) FILTER (WHERE vec_id % 2 = 0) AS BIGINT) AS n_ref,
      |         CAST(count(*) FILTER (WHERE vec_id % 2 <> 0) AS BIGINT) AS n_cur
      |  FROM asn GROUP BY cell),
      |t AS (SELECT sum(n_ref) AS tot_ref, sum(n_cur) AS tot_cur FROM c)
      |SELECT bucket, n_ref, n_cur,
      |       round(((n_ref + 0.5) / (tot_ref + 4.0) - (n_cur + 0.5) / (tot_cur + 4.0))
      |             * ln(((n_ref + 0.5) / (tot_ref + 4.0)) / ((n_cur + 0.5) / (tot_cur + 4.0))), 6)
      |         AS psi_contrib
      |FROM c CROSS JOIN t ORDER BY bucket""".stripMargin,
  ) { t =>
    import graft.sources.MultiStore
    val spark = t.spark
    SnapshotQueries.withTempStore("graft-drift-loop") { root =>
      // TRAIN: one quantized Lloyd update from the x56 seeds (= the
      // oracle's c1 frame — x56's own trajectory, first update)
      val seeds = t.embeddings.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cell"),
          transform(col("embedding"), v => v.cast("double")).as("centroid"))
      val trained = quantizedMeanCentroids(assignToCentroids(t.embeddings, seeds))
      // STORE: the geometry the serving index was built with, committed
      MultiStore.commit(root, Map("centroids" -> trained), keep = 8)
      // MEASURE: drift of today's arrivals (odd vec_ids) vs the index
      // population (even), under the STORED centroids read back
      val stored = MultiStore.read(spark, root, "centroids")
      embeddingDriftPsi(t.embeddings, stored, col("vec_id") % 2 === 0)
    }
  }

  /** The drift-triggered retrain cycle as one function — measure PSI of
    * the current arrivals against the SERVING centroid version read from
    * the store, retrain + commit a new version only when the trigger
    * fires, then serve through whatever version is current. Returns
    * (psiTotal rounded 6dp, number of store versions, serving answer).
    * The row drives the fire branch (the synthetic odd/even split drifts
    * structurally, PSI ≈ 0.09 at sf0.01); DriftRetrainSpec drives the
    * no-fire branch with a duplicated-population feed (PSI 0) and pins
    * that nothing was committed and serving stayed on v1. Driver-side
    * state is two scalars (the PSI sum over k buckets and a manifest
    * count) — the corpus never leaves the cluster.
    */
  def driftRetrainServe(
      root: String,
      emb: DataFrame,
      seeds: DataFrame,
      isRef: Column,
      threshold: Double,
      queries: DataFrame,
      k: Int,
      nProbe: Int,
  ): (Double, Int, DataFrame) = {
    import graft.sources.MultiStore
    val spark = emb.sparkSession
    // v1: the serving geometry, committed before anything is measured
    MultiStore.commit(root, Map("centroids" -> seeds), keep = 8)
    val v1 = MultiStore.read(spark, root, "centroids")
    // MEASURE against the stored serving version (k-row drift frame; the
    // sum over k buckets is the only driver-side value)
    val psiRaw = embeddingDriftPsi(emb, v1, isRef)
      .agg(sum(col("psi_contrib")).as("s")).head.getDouble(0)
    val psiTotal = BigDecimal(psiRaw)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    if (psiTotal > threshold) {
      // RETRAIN: one quantized Lloyd update from the serving centroids
      // over the full current population; COMMIT as the next version —
      // the store's CAS swap is the serve-path cutover
      val trained = quantizedMeanCentroids(assignToCentroids(emb, v1))
      MultiStore.commit(root, Map("centroids" -> trained), keep = 8)
    }
    val nVersions = MultiStore.manifests(spark, root).length
    // SERVE through whatever version is now current, read back
    val cur = MultiStore.read(spark, root, "centroids")
    val answer = probeTopK(assignToCentroids(emb, cur), queries, cur, k, nProbe)
    (psiTotal, nVersions, answer)
  }

  /** x103: the self-healing index — x102 ends at the drift NUMBER; this
    * row closes the actuation: PSI of today's arrivals (odd vec_ids)
    * against the stored serving centroids (v1 = the x56 seeds) crosses
    * the ops threshold, ONE quantized Lloyd retrain commits as v2, and
    * the final top-k probe serves through v2 READ BACK FROM THE STORE —
    * detect → retrain → version → serve, each stage through the store
    * both sides share. The output carries the trigger evidence
    * (psi_total) and the served version alongside every neighbor row, so
    * the oracle certifies the cutover happened AND the post-cutover
    * answers: DuckDB replays seed assignment, the PSI sum, the
    * micro-quantized retrain, re-assignment under the retrained
    * centroids, and the nProbe=2/k=5 probe in closed form. At 100 TB:
    * the measure is one assignment pass (broadcast k centroids), the
    * retrain one more + a k-row commit, the serve probe-bounded — the
    * whole loop prices at two corpus scans on the retrain day and zero
    * extra on quiet days (the x100/x102 rows are the quiet-day cost).
    */
  val x103_drift_retrain = Q(
    "x103_drift_retrain",
    """WITH seeds AS (
      |  SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS c
      |  FROM embeddings WHERE vec_id < 8),
      |asn0 AS MATERIALIZED (
      |  SELECT vec_id, cell FROM (
      |    SELECT e.vec_id, s.cell,
      |           row_number() OVER (PARTITION BY e.vec_id
      |             ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.c), 6) DESC,
      |                      s.cell) AS rn
      |    FROM embeddings e CROSS JOIN seeds s) WHERE rn = 1),
      |c0 AS (
      |  SELECT cell,
      |         CAST(count(*) FILTER (WHERE vec_id % 2 = 0) AS BIGINT) AS n_ref,
      |         CAST(count(*) FILTER (WHERE vec_id % 2 <> 0) AS BIGINT) AS n_cur
      |  FROM asn0 GROUP BY cell),
      |t0 AS (SELECT sum(n_ref) AS tot_ref, sum(n_cur) AS tot_cur FROM c0),
      |psi AS (
      |  SELECT round(sum(round(((n_ref + 0.5) / (tot_ref + 4.0) - (n_cur + 0.5) / (tot_cur + 4.0))
      |           * ln(((n_ref + 0.5) / (tot_ref + 4.0)) / ((n_cur + 0.5) / (tot_cur + 4.0))), 6)), 6)
      |           AS psi_total
      |  FROM c0 CROSS JOIN t0),
      |m AS (
      |  SELECT cell, pos,
      |         CAST(sum(CAST(floor(CAST(v AS DOUBLE) * 1e6) AS BIGINT)) AS DOUBLE) / count(*) AS cv
      |  FROM (SELECT asn0.cell, unnest(e.embedding) AS v, unnest(range(len(e.embedding))) AS pos
      |        FROM asn0 JOIN embeddings e USING (vec_id))
      |  GROUP BY cell, pos),
      |c1 AS MATERIALIZED (SELECT cell, list(cv ORDER BY pos) AS c FROM m GROUP BY cell),
      |asn1 AS MATERIALIZED (
      |  SELECT vec_id, cell FROM (
      |    SELECT e.vec_id, c1.cell,
      |           row_number() OVER (PARTITION BY e.vec_id
      |             ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c1.c), 6) DESC,
      |                      c1.cell) AS rn
      |    FROM embeddings e CROSS JOIN c1) WHERE rn = 1),
      |probes AS (
      |  SELECT query_id, cell FROM (
      |    SELECT q.vec_id AS query_id, c1.cell,
      |           row_number() OVER (PARTITION BY q.vec_id
      |             ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), c1.c), 6) DESC,
      |                      c1.cell) AS rn
      |    FROM embeddings q CROSS JOIN c1 WHERE q.vec_id % 97 = 5) WHERE rn <= 2)
      |SELECT query_id, vec_id, sim, served_version, psi.psi_total FROM (
      |  SELECT p.query_id, a.vec_id,
      |         round(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
      |                                      CAST(ce.embedding AS DOUBLE[])), 6) AS sim,
      |         CAST(2 AS BIGINT) AS served_version,
      |         row_number() OVER (
      |           PARTITION BY p.query_id
      |           ORDER BY round(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
      |                                                 CAST(ce.embedding AS DOUBLE[])), 6) DESC,
      |                    a.vec_id) AS rn
      |  FROM probes p
      |  JOIN asn1 a USING (cell)
      |  JOIN embeddings qe ON qe.vec_id = p.query_id
      |  JOIN embeddings ce ON ce.vec_id = a.vec_id
      |  WHERE a.vec_id <> p.query_id)
      |CROSS JOIN psi WHERE rn <= 5 ORDER BY query_id, vec_id""".stripMargin,
  ) { t =>
    SnapshotQueries.withTempStore("graft-drift-retrain") { root =>
      val seeds = t.embeddings.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cell"),
          transform(col("embedding"), v => v.cast("double")).as("centroid"))
      val (psiTotal, nVersions, answer) = driftRetrainServe(
        root, t.embeddings, seeds,
        isRef = col("vec_id") % 2 === 0, threshold = 0.001,
        queries = t.embeddings.filter(col("vec_id") % 97 === 5),
        k = 5, nProbe = 2)
      require(nVersions == 2,
        s"drift trigger must have fired and committed v2 (psi=$psiTotal, versions=$nVersions)")
      answer
        .withColumn("served_version", lit(nVersions.toLong))
        .withColumn("psi_total", lit(psiTotal))
        .orderBy("query_id", "vec_id")
        .localCheckpoint(true)
    }
  }

  val all: Seq[Q] =
    Seq(x9_cosine_topk, x10_ann_lsh_pairs, x10b_ann_md5, x13_cosine_neardup, x18_ivf_topk,
      x31_sq8_topk, x49_embed_centroid, x56_kmeans_lloyd, x67_ivf_incremental,
      x69_pq_topk, x70_semdedup, x70b_semdedup_scaled, x75_ann_recall, x77_versioned_ann,
      x84_stream_ann, x85_semantic_decontam, x95_retrieval_eval, x98_silhouette,
      x100_embedding_drift, x102_drift_loop, x103_drift_retrain)
}
