package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Q

/** Deduplication operators for a training-data pipeline (builder contract):
  * exact (hash group-by), n-gram Jaccard, MinHash+LSH banding, SimHash.
  *
  * Scale design (100 TB): exact dedup is one shuffle on a 64-hex key —
  * perfectly partitionable. Jaccard/MinHash avoid the O(n^2) cross join:
  * candidate pairs come from an equi-join on shingle (resp. band bucket),
  * which shuffles on the shingle/bucket key; only candidates reach the
  * verify step. Hashes are Spark's xxhash64 with literal seeds — fully
  * deterministic across runs and executors (no Math.random, no uuid).
  */
object Dedup {

  /** Distinct word-k-shingles per document: (doc_id, sh). */
  private def shingles(docs: DataFrame, k: Int): DataFrame = {
    // tokens materialized as an ATTRIBUTE before the k-gram lambda: a
    // lambda that captures an inline split() re-evaluates it PER ELEMENT —
    // O(tokens² · chars) per document, measured 3x slower at sf0.1 (the
    // r13 x87 lesson, applied family-wide)
    val w = col("__w")
    val sh = when(
      size(w) >= k,
      array_distinct(
        transform(
          sequence(lit(1), size(w) - (k - 1)),
          i => array_join(slice(w, i, lit(k)), " "))))
      .otherwise(array().cast("array<string>"))
    docs.select(col("doc_id"), split(col("text"), " ").as("__w"))
      .select(col("doc_id"), explode(sh).as("sh"))
  }

  /** Distinct shingle FINGERPRINTS per document: (doc_id, sh) with sh a
    * 64-bit xxhash64 of the shingle string — the standard shingle-
    * fingerprinting step. Every downstream op (DF cap, set sizes, the
    * candidate equi-join, MinHash slots) only needs equality/ordering, so
    * hashing first cuts the shuffled key from a ~30-char string to 8 bytes
    * and makes the per-slot MinHash hashing integer-only (measured: x2
    * 3.7s -> 2.8s, x3 signatures 2.3s -> 1.3s at sf0.1). A 64-bit collision
    * (~1e-7 at 10M distinct shingles, deterministic given the corpus) would
    * merge two shingles; the oracle-checked x2 row stays hash-exact on the
    * test corpora, and at 100 TB a collision shifts one Jaccard by <1/|set|.
    */
  /** The document's distinct shingle-fingerprint ARRAY as one expression —
    * the single source of the fingerprinting scheme, shared by the
    * exploded rendering (shingleHashes) and the per-row stateless one
    * (fastBandsStateless) so the hashing can never drift between them.
    */
  private def shingleFpArray(w: Column, k: Int): Column =
    // `w` must be a materialized token ATTRIBUTE, not an inline split():
    // the lambda captures it, and captured expressions re-evaluate per
    // element (the r13 x87 lesson — measured 3x on this exact shape)
    when(
      size(w) >= k,
      array_distinct(
        transform(
          sequence(lit(1), size(w) - (k - 1)),
          i => xxhash64(array_join(slice(w, i, lit(k)), " ")))))
      .otherwise(array().cast("array<long>"))

  private def shingleHashes(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("__w"))
      .select(col("doc_id"), explode(shingleFpArray(col("__w"), k)).as("sh"))

  val a5_exact_dedup = Q(
    "a5_exact_dedup",
    """SELECT content_hash, count(*) AS n_copies, min(doc_id) AS canonical_doc
      |FROM (SELECT doc_id, sha256(text) AS content_hash FROM documents)
      |GROUP BY content_hash ORDER BY content_hash""".stripMargin,
  ) { t =>
    // SURVEY A5: content-addressed dedup (content_deduplicator.py:36-68) —
    // one row per distinct content hash, min doc_id as the canonical copy
    // (collect_set of paths is kept in the Dedup.exactGroups API; the oracle
    // form uses min/count because set ordering is engine-specific).
    t.documents
      .select(col("doc_id"), sha2(col("text"), 256).as("content_hash"))
      .groupBy("content_hash")
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("canonical_doc"))
      .orderBy("content_hash")
  }

  /** Document-frequency cap for the shingle self-join: a shingle shared by
    * more than this many documents is boilerplate, not near-dup signal, and
    * its join-key fan-out is quadratic in its frequency (k docs -> k^2
    * candidate rows). Dropping those shingles BEFORE the join bounds the
    * worst key at maxDF^2 — the standard MinHash-era trick. The cap removes
    * the shingle from both the intersection and the set sizes, so the
    * Jaccard is exact over the capped sets (oracle SQL applies the same
    * cap; recall trade documented in SCALE.md).
    */
  private val MaxShingleDF = 100

  val x2_ngram_jaccard = Q.instrument(
    "x2_ngram_jaccard",
    """WITH sh0 AS (
      |  SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS sh FROM (
      |    SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS i
      |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))),
      |rare AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) <= 100),
      |sh AS (SELECT s.doc_id, s.sh FROM sh0 s JOIN rare r ON s.sh = r.sh),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b,
      |       CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
      |FROM inter
      |JOIN sz sa ON sa.doc_id = doc_a
      |JOIN sz sb ON sb.doc_id = doc_b
      |WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.1
      |ORDER BY doc_a, doc_b""".stripMargin,
  ) { t =>
    // Oracle-checked row carries RAW STRING shingles so the comparison with
    // the DuckDB oracle (string shingles by construction) is structurally
    // collision-free; x2_fast below is the identical plan over 64-bit
    // fingerprints — the scale path. See ngramJaccardPairs for plan notes.
    ngramJaccardPairs(t.documents, fingerprints = false)
  }

  val x2_fast_ngram_jaccard = Q.noOracle("x2_fast_ngram_jaccard") { t =>
    // Scale path: identical plan to x2 but shingles carried as 64-bit
    // xxhash64 fingerprints (8-byte shuffle keys, integer joins; measured
    // 3.7s -> 2.8s at sf0.1). Rows-only by design — a 64-bit collision
    // (~1e-7 at 10M distinct shingles) would shift one Jaccard by <1/|set|,
    // which is fine for dedup but would permanently fail a hash-exact
    // oracle. DedupSimilaritySpec asserts pair-set equality against the
    // string-shingle x2 on the test corpus.
    ngramJaccardPairs(t.documents, fingerprints = true)
  }

  /** Shared x2 plan: word 5-shingles; candidate pairs via shingle
    * equi-join (no cross join), exact |A∩B| / |A∪B| filter over the
    * DF-capped shingle sets. The single double division makes the score
    * engine-exact.
    *
    * NOTE (measured, sf0.1): carrying set sizes through the exploded rows
    * instead of the separate `sz` aggregation looks cheaper on paper but
    * is 2.7x SLOWER — CollapseProject inlines the shingle-array expression
    * into both size() and explode(), computing the transform twice per
    * row. The size table costs one small aggregation that AQE broadcasts.
    *
    * The DF cap is groupBy(sh) + left_semi rather than a count() window:
    * the groupBy gets map-side partial aggregation (hot shingles collapse
    * per-mapper), while a window would buffer every row of a hot key in
    * one task. Both the semi join and the candidate self-join shuffle on
    * sh, so the exchange is reused between them.
    *
    * The raw shingle explode is localCheckpoint'ed: it feeds the DF
    * aggregation AND (via the semi join) the size table and both sides of
    * the candidate self-join — without the checkpoint each consumer
    * re-runs the transform/slice/array_join pipeline (measured 1.7x
    * slower at sf0.1: 6.0s vs 3.6s). At cluster scale this is the
    * "materialize the shingle table once" step of every MinHash-era
    * pipeline; swap localCheckpoint for a parquet stage write there.
    */
  private[graft] def ngramJaccardPairs(
      docs: DataFrame,
      fingerprints: Boolean,
      maxDf: Int = MaxShingleDF): DataFrame = {
    val sh0 = (if (fingerprints) shingleHashes(docs, 5) else shingles(docs, 5))
      .localCheckpoint()
    val rare = sh0.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("sh")
    val sh = sh0.join(rare, Seq("sh"), "left_semi")
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.as("a")
      .join(sh.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("c"))
    val jac = col("c").cast("double") / (col("sa.n") + col("sb.n") - col("c"))
    inter
      .join(sz.as("sa"), col("sa.doc_id") === col("doc_a"))
      .join(sz.as("sb"), col("sb.doc_id") === col("doc_b"))
      .select(col("doc_a"), col("doc_b"), jac.as("jaccard"))
      .filter(col("jaccard") >= 0.1)
      .orderBy("doc_a", "doc_b")
  }

  /** MinHash signature columns: min over shingles of xxhash64(seed_i, sh). */
  private def minhashAgg(nHashes: Int): Seq[Column] =
    (0 until nHashes).map(i => min(xxhash64(lit(i), col("sh"))).as(s"mh$i"))

  /** Bucket-size safety valve for band-bucket joins: a (band, bucket) shared
    * by k docs emits ~k^2/2 candidate pairs, so one degenerate bucket (e.g.
    * the all-empty-text signature at corpus scale) can dominate the whole
    * job. Buckets above the cap are dropped before the self-join — at the
    * cap the worst bucket is bounded at maxBucket^2 pairs, and a bucket that
    * large is a "everything matches everything" cluster better handled by
    * exact dedup upstream. Does not bind at test scale (buckets are <=5
    * docs); at 100 TB it is the difference between a skew straggler and a
    * bounded join.
    */
  private def capBuckets(bands: DataFrame, keys: Seq[String], maxBucket: Int): DataFrame = {
    // The banded frame feeds the bucket-size aggregation, the semi-join
    // probe, and (downstream) both sides of the candidate self-join; its
    // lineage is the full signature aggregation, so materialize it once —
    // at cluster scale this is the signature-table stage write.
    val b = bands.localCheckpoint()
    val small = b.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bk_n")).filter(col("bk_n") <= maxBucket)
      .select(keys.map(col): _*)
    b.join(small, keys, "left_semi")
  }

  val x3_minhash_signatures = Q.noOracle("x3_minhash_signatures") { t =>
    // MinHash signatures (shingle fingerprint -> 16 hash slots).
    // xxhash64(seed, fp) is deterministic; DuckDB has no xxhash64 so this
    // is a rows-only check — the MinhashSpec unit test validates signature
    // stability and the LSH recall property against x2's exact Jaccard
    // instead. Slots hash the 8-byte fingerprint, not the shingle string —
    // integer-width hashing per slot (see shingleHashes).
    shingleHashes(t.documents, 5)
      .groupBy("doc_id")
      .agg(minhashAgg(16).head, minhashAgg(16).tail: _*)
      .orderBy("doc_id")
  }

  /** Fan a 16-slot signature frame `(doc_id, mh0..mh15)` out to its 4
    * xxhash64 band-bucket rows — the single source of the band geometry
    * (4 bands of 4 rows, threshold ~ (1/4)^(1/4) ≈ 0.71 Jaccard), shared
    * by both band-table renderings so it can never drift between them.
    * posexplode fans the 4 buckets out of a single projection (a per-band
    * union would re-run the whole signature computation once per band).
    */
  private def fastBandRows(sig: DataFrame): DataFrame = {
    val bucketCols = (0 until 4).map { b =>
      xxhash64((4 * b until 4 * b + 4).map(i => col(s"mh$i")): _*)
    }
    sig
      .select(col("doc_id"), posexplode(array(bucketCols: _*)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket"))
  }

  /** The xxhash64-family LSH band table `(doc_id, band, bucket)` — the
    * index a production corpus persists (partitioned/bucketed by (band,
    * bucket) at write time so incremental probes shuffle only the batch),
    * and the band frame whose self-join yields candidate pairs: docs
    * sharing any full band land in the same bucket, so the equi-join is
    * the 100 TB path — shuffle on (band, bucket-hash), never n^2. One
    * aggregation pass computes all 16 slots.
    */
  private[graft] def fastBandTable(docs: DataFrame): DataFrame =
    fastBandRows(
      shingleHashes(docs, 5)
        .groupBy("doc_id")
        .agg(minhashAgg(16).head, minhashAgg(16).tail: _*))

  /** fastBandTable computed per-row with higher-order array functions
    * instead of explode+groupBy: the MinHash slots are min() over the
    * document's own fingerprint ARRAY (`array_min(transform(...))`), so
    * the whole banding is a stateless projection — no shuffle, no
    * aggregation state. Identical output to fastBandTable (spec-pinned);
    * kept as a separate rendering because the explode+groupBy form's
    * partial aggregation is friendlier to very long documents (the array
    * form materializes each doc's full fingerprint set in one row).
    *
    * Being stateless is what makes the incremental probe STREAMABLE: a
    * readStream of arriving documents can be banded row-by-row and
    * stream-static-joined against the persisted corpus index with zero
    * watermark/state bookkeeping.
    */
  private[graft] def fastBandsStateless(docs: DataFrame): DataFrame = {
    // docs too short for one shingle have no band rows (same as the
    // explode path, where they contribute zero shingle rows)
    val sig = docs
      .select(col("doc_id"), split(col("text"), " ").as("__w"))
      .select(col("doc_id"), shingleFpArray(col("__w"), 5).as("fps"))
      .filter(size(col("fps")) > 0)
      .select(
        col("doc_id") +: (0 until 16).map(i =>
          array_min(transform(col("fps"), f => xxhash64(lit(i), f))).as(s"mh$i")): _*)
    fastBandRows(sig)
  }

  /** Streaming rendering of the incremental probe: band each arriving
    * document statelessly (fastBandsStateless) and left-semi join the
    * static corpus index — a stream-static join, which Structured
    * Streaming executes with NO state store at all. Emits each dup
    * candidate once per matching band (up to 4); collapse multiples with
    * `dedupWithinWatermark` or a sink-side distinct. Runs identically on
    * a batch frame (the spec compares it against x27_fast's flags).
    */
  def incrementalNeardupStream(arriving: DataFrame, corpusBands: DataFrame): DataFrame =
    fastBandsStateless(arriving)
      .join(corpusBands.select("band", "bucket"), Seq("band", "bucket"), "left_semi")
      .select("doc_id")

  private[operators] def minhashFastPairs(docs: DataFrame): DataFrame = {
    val bands = capBuckets(fastBandTable(docs), Seq("band", "bucket"), maxBucket = 200)
    bands.as("a")
      .join(
        bands.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  val x3_minhash_lsh_pairs = Q.noOracle("x3_minhash_lsh_pairs") { t =>
    // See minhashFastPairs for the banding geometry. DuckDB has no
    // xxhash64 so this is rows-only; the x3b md5 bridge oracle-checks the
    // same banding/bucketing/pair-join logic.
    minhashFastPairs(t.documents).orderBy("doc_a", "doc_b")
  }

  /** DuckDB CTE chain computing the md5 LSH band table `bands<sfx>(doc_id,
    * band, bucket)` over `documents` restricted by `where` (empty = whole
    * corpus). The suffix lets one query carry several band tables (the
    * x27 incremental probe builds corpus and batch tables side by side).
    */
  private[operators] def md5BandsSqlCtes(sfx: String, where: String): String = {
    val slots = (0 until 16)
      .map(i => s"    min(substr(md5('${i / 4}|' || sh), ${1 + 8 * (i % 4)}, 8)) AS mh$i")
      .mkString(",\n")
    val bandExprs = (0 until 4)
      .map(b => s"md5(${(4 * b until 4 * b + 4).map(i => s"mh$i").mkString(" || '|' || ")})")
      .mkString(",\n                 ")
    s"""wd$sfx AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents $where),
       |sh$sfx AS (
       |  SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS sh FROM (
       |    SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS i FROM wd$sfx)),
       |sig$sfx AS (
       |  SELECT doc_id,
       |$slots
       |  FROM sh$sfx GROUP BY doc_id),
       |bands$sfx AS (
       |  SELECT doc_id,
       |         unnest(generate_series(0, 3)) AS band,
       |         unnest([$bandExprs]) AS bucket
       |  FROM sig$sfx)""".stripMargin
  }

  /** DuckDB CTE chain producing the x3b candidate pairs as `pairs(doc_a,
    * doc_b)` — the oracle rendering of [[minhashMd5Pairs]]. Shared by the
    * x3b registry row and TrainPrep's x26 near-dup pipeline (which embeds
    * it under its WITH RECURSIVE prologue).
    */
  private[operators] val minhashMd5PairsSqlCtes: String =
    s"""${md5BandsSqlCtes("", "")},
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)""".stripMargin

  /** The md5-family LSH band table `(doc_id, band, bucket)` — the
    * persistable per-document index rows of the md5 rendering, and the
    * band frame [[minhashMd5Pairs]] self-joins for the oracle-checkable
    * x3b/x26 pair geometry. Mirrors md5BandsSqlCtes exactly: md5 exists
    * in both engines and emits fixed-width lowercase hex, so min() over
    * signatures and the band-bucket equality are engine-identical
    * (lexicographic hex order == unsigned numeric order at fixed width).
    * The xxhash64 renderings remain the fast path (integer hashing, no
    * string materialization).
    *
    * 16 slots come from FOUR md5 calls, each split into four 8-hex chunks
    * (the standard one-hash-many-slots trick: disjoint bit ranges of a
    * 128-bit hash are independent slots). The original 16-md5 form spent
    * 4x the hashing for identical LSH quality — measured 4.4s -> ~1.5s at
    * sf0.1. Spark evaluates the shared md5(seed|sh) once per seed via
    * subexpression elimination in the partial-agg projection.
    */
  private[operators] def md5BandTable(docs: DataFrame): DataFrame = {
    val sh = shingles(docs, 5).localCheckpoint()
    val mins = (0 until 16).map { i =>
      val h = md5(concat_ws("|", lit((i / 4).toString), col("sh")))
      min(substring(h, 1 + 8 * (i % 4), 8)).as(s"mh$i")
    }
    val sig = sh.groupBy("doc_id").agg(mins.head, mins.tail: _*)
    val bucketCols = (0 until 4).map { b =>
      md5(concat_ws("|", (4 * b until 4 * b + 4).map(i => col(s"mh$i")): _*))
    }
    sig
      .select(col("doc_id"), posexplode(array(bucketCols: _*)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket"))
  }

  /** MinHash+LSH candidate pairs on the md5 family: the [[md5BandTable]]
    * band frame, materialized once, self-joined on (band, bucket).
    */
  private[operators] def minhashMd5Pairs(docs: DataFrame): DataFrame = {
    val bands = md5BandTable(docs).localCheckpoint()
    bands.as("a")
      .join(
        bands.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  val x3b_minhash_md5 = Q.instrument(
    "x3b_minhash_md5",
    s"""WITH $minhashMd5PairsSqlCtes
       |SELECT doc_a, doc_b FROM pairs ORDER BY doc_a, doc_b""".stripMargin,
  ) { t =>
    // The ORACLE-CHECKED bridge for the x3 pipeline: this row pins the
    // banding/bucketing/pair-join logic itself to the driver signal (see
    // minhashMd5Pairs for the geometry and hashing notes).
    minhashMd5Pairs(t.documents).orderBy("doc_a", "doc_b")
  }

  val x4_simhash = Q.noOracle("x4_simhash") { t =>
    // SimHash-64: per token, xxhash64 gives 64 bits; each bit votes +1/-1;
    // the sign vector of the summed votes is the fingerprint. Computed by
    // the one-pass SimHashAgg typed aggregate; explode(tokens) +
    // groupBy(doc), one shuffle on doc_id.
    simhashOf(t.documents).orderBy("doc_id")
  }

  /** SimHash fingerprints for an arbitrary documents frame (doc_id, text),
    * via the one-pass SimHashAgg typed aggregate (graft.plans) — one
    * 64-counter buffer per group instead of 64 independent sum states.
    * Bit-identical to the composed-builtins form (same xxhash64 seed;
    * DedupSimilaritySpec compares them).
    */
  def simhashOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tk"))
      .groupBy("doc_id")
      .agg(graft.plans.SimHashAgg.simhash_agg(col("tk")).as("simhash"))

  /** The composed-builtins form (64 shift-mask sum columns) kept as the
    * reference implementation the aggregate is spec-tested against.
    */
  def simhashOfBuiltins(docs: DataFrame): DataFrame = {
    val tok  = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tk"))
    val h    = xxhash64(col("tk"))
    val bits = (0 until 64).map { i =>
      sum(when(shiftright(h, i).bitwiseAND(1L) === 1L, 1).otherwise(-1)).as(s"b$i")
    }
    val fp = (0 until 64)
      .map(i => when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(0L))
      .reduce((a, b) => a.bitwiseOR(b))
    tok.groupBy("doc_id").agg(bits.head, bits.tail: _*)
      .select(col("doc_id"), fp.as("simhash"))
  }

  /** SimHash near-dup pairs: band the 64-bit fingerprint into 8 bytes;
    * docs sharing ANY band become candidates (pigeonhole: hamming <= 7
    * guarantees one intact band), then exact hamming via bit_count(xor)
    * filters to `maxHamming`. Shuffles on (band, byte) — never n^2.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 7): DataFrame = {
    require(maxHamming <= 7, "8-band banding only guarantees recall for hamming <= 7")
    val fp = simhashOf(docs)
    val bandCols = (0 until 8).map(b => shiftright(col("simhash"), 8 * b).bitwiseAND(0xffL))
    val bands = capBuckets(
      fp
        .select(col("doc_id"), col("simhash"), posexplode(array(bandCols: _*)))
        .withColumnsRenamed(Map("pos" -> "band", "col" -> "byte")),
      Seq("band", "byte"), maxBucket = 200)
    bands.as("a")
      .join(
        bands.as("b"),
        col("a.band") === col("b.band") && col("a.byte") === col("b.byte") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  val x4_simhash_pairs = Q.noOracle("x4_simhash_pairs") { t =>
    simhashPairs(t.documents, maxHamming = 7)
  }

  /** x4b oracle SQL, generated (32 vote sums / 32 bit cases would be ~70
    * hand-maintained lines). Same structure as the Spark plan below.
    */
  private val x4bOracleSql: String = {
    val votes = (0 until 32)
      .map(b => s"  SUM(CASE WHEN substr(h, ${b + 1}, 1) >= '8' THEN 1 ELSE -1 END) AS v$b")
      .mkString(",\n")
    val fpBits = (0 until 32)
      .map(b => s"(CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents),
       |h AS (SELECT doc_id, md5(tk) AS h FROM tok),
       |v AS (SELECT doc_id,
       |$votes
       |  FROM h GROUP BY doc_id),
       |fp AS (SELECT doc_id, $fpBits AS fp FROM v),
       |seg AS (
       |  SELECT doc_id, fp, band, (fp >> (band * 16)) & 65535 AS seg
       |  FROM (SELECT doc_id, fp, unnest(generate_series(0, 1)) AS band FROM fp))
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
       |FROM seg a JOIN seg b
       |  ON a.band = b.band AND a.seg = b.seg AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.fp, b.fp)) <= 1
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  val x4b_simhash_md5 = Q.instrument("x4b_simhash_md5", x4bOracleSql) { t =>
    // SimHash with md5 as the hash family — the ORACLE-CHECKED bridge for
    // the x4 pipeline (the x3b trick applied to SimHash): md5 exists in
    // both engines, so the per-token bit votes, sign fingerprint, banding,
    // and hamming filter are all pinned to the driver signal. Bit b of a
    // token's hash = the high bit of md5 hex nibble b (hex digit >= '8').
    //
    // Geometry chosen from the measured corpus (common vocabulary makes
    // simhash bits strongly correlated): 32 bits / 2 bands x 16 bits /
    // hamming <= 1. Pigeonhole: hamming <= 1 can't corrupt both 16-bit
    // halves, so banding loses no qualifying pair in either engine. At
    // sf0.1 this is 349k candidate rows and 25.6k result rows — measured
    // against 7.5M candidates for 4x8 banding and 3.3M results for a
    // 16-bit/hamming<=3 variant. The 64-bit xxhash64 x4 remains the scale
    // path; no bucket cap here because the oracle must see the exact same
    // candidate set.
    val tok = t.documents.select(col("doc_id"), explode(split(col("text"), " ")).as("tk"))
    val h   = md5(col("tk"))
    val votes = (0 until 32).map { b =>
      sum(when(substring(h, b + 1, 1) >= "8", 1).otherwise(-1)).as(s"v$b")
    }
    val fpCol = (0 until 32)
      .map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _) // disjoint bit positions: + == OR
    val fp = tok.groupBy("doc_id").agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), fpCol.as("fp"))
    val segCols = (0 until 2).map(b => shiftright(col("fp"), 16 * b).bitwiseAND(lit(0xffffL)))
    val seg = fp
      .select(col("doc_id"), col("fp"), posexplode(array(segCols: _*)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "seg"))
      .localCheckpoint()
    seg.as("a")
      .join(
        seg.as("b"),
        col("a.band") === col("b.band") && col("a.seg") === col("b.seg") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"),
        bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).cast("long").as("hamming"))
      .filter(col("hamming") <= 1)
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** Incremental near-dup probe — the daily-ingest pattern: flag each doc
    * in `batch` that shares any LSH (band, bucket) with an already-indexed
    * corpus. `corpusBands` is the PERSISTED index (fastBandTable /
    * md5BandTable rows written once when the corpus landed); only the new
    * batch is shingled and hashed, so a 100 TB corpus is never re-read —
    * the probe cost is O(batch) + a semi-join against the index, which a
    * production layout partitions/buckets by (band, bucket) so only batch
    * rows shuffle ([[writeBandIndex]]/[[probePersistedIndex]] are that
    * layout). Unlike pair GENERATION, the probe needs no hot-bucket cap: a
    * left-semi join's output is bounded by the batch band rows, so a viral
    * bucket inflates probe time, never output size.
    *
    * Above-cap contract: because the probe is uncapped while
    * [[minhashFastPairs]] drops buckets over its cap (200), a doc whose
    * ONLY shared bucket is over-cap is flagged here but pairless there.
    * That asymmetry is deliberate — flag-don't-drop is the right answer
    * for "is this new vs the corpus" (an over-cap bucket means MANY corpus
    * near-copies, the strongest possible dup signal), while the generator
    * drops it to bound its quadratic output. The pair-set-restriction
    * equivalence DedupSimilaritySpec pins holds only while no bucket
    * exceeds the cap (true at test scale).
    *
    * Output: `batch` with `dup_of_corpus` appended (batch-internal
    * duplicates are deliberately NOT flagged — run the x26 pipeline within
    * the batch for that; this op answers "is it new vs the corpus").
    */
  def incrementalNeardupFlags(
      batch: DataFrame,
      batchBands: DataFrame,
      corpusBands: DataFrame): DataFrame = {
    val dup = batchBands
      .join(corpusBands.select("band", "bucket"), Seq("band", "bucket"), "left_semi")
      .select("doc_id").distinct()
      .withColumn("dup_of_corpus", lit(true))
    batch
      .join(dup, Seq("doc_id"), "left")
      .withColumn("dup_of_corpus", coalesce(col("dup_of_corpus"), lit(false)))
  }

  /** Number of physical shards the persisted band index is partitioned
    * into. A shard = pmod(xxhash64(bucket), BandIndexShards): bounded,
    * uniform (bucket is already a hash), and type-agnostic (works for the
    * xxhash64 long buckets and the md5 hex-string buckets alike).
    */
  val BandIndexShards = 64

  private def bucketShard(shards: Int): Column =
    pmod(xxhash64(col("bucket")), lit(shards.toLong)).cast("int")

  /** Persist a band table as THE corpus index the incremental probe reads:
    * parquet partitioned by `bucket_shard` so a probe touches only the
    * shards its batch buckets hash into — on a 100 TB corpus the index is
    * written once at ingest and a daily batch reads a pruned fraction of
    * it instead of the whole thing. (With only `band` as the partition key
    * there would be nothing to prune: every batch carries all 4 bands;
    * sharding the bucket hash is what makes small-batch pruning real.)
    * One task per shard via the repartition, i.e. compacted at write time.
    * The shard count is written into the index as a `_graft_shards`
    * marker, so probes can never silently disagree with the layout.
    *
    * Durability audit (r9): the overwrite here is a from-scratch REBUILD
    * from the corpus band table — never a read-modify-write of the index
    * itself — so a crash mid-write loses only derived data, rebuildable by
    * re-running this call. A store whose only copy is itself (the CC
    * labeling, the partials table) must instead go through
    * [[graft.sources.MultiStore]] / per-batch partitions; see
    * GraphOps.foldLabelsBatch and Rollup.foldPartialsBatch.
    */
  def writeBandIndex(bands: DataFrame, path: String, shards: Int = BandIndexShards): Unit = {
    bands
      .withColumn("bucket_shard", bucketShard(shards))
      .repartition(col("bucket_shard"))
      .write.mode("overwrite").partitionBy("bucket_shard").parquet(path)
    val p  = new org.apache.hadoop.fs.Path(path, "_graft_shards")
    val fs = p.getFileSystem(bands.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(shards.toString.getBytes("UTF-8")) finally out.close()
  }

  def readBandIndex(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** The modulus the index at `path` was sharded with — read from the
    * `_graft_shards` marker [[writeBandIndex]] leaves, so a probe computes
    * batch shards with the exact layout constant of the index it reads
    * (a mismatched modulus would silently drop corpus partitions from the
    * semi-join and flag near-dups as new).
    */
  def indexShards(spark: org.apache.spark.sql.SparkSession, path: String): Int = {
    val p  = new org.apache.hadoop.fs.Path(path, "_graft_shards")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8").trim.toInt
    finally in.close()
  }

  /** The incremental probe against a PERSISTED index at `path` (written by
    * [[writeBandIndex]]): derive the batch's shard list — with the modulus
    * read from the index's own marker — and push it as a static IN filter
    * on the partition column, so the index scan is partition-pruned
    * (PartitionFilters in the plan) before the semi-join runs. The shard
    * list is a driver-side collect, but of AT MOST `shards` small ints —
    * bounded by the layout constant, never by data volume (the same class
    * of metadata collect AQE itself performs). The batch band table is
    * deliberately NOT checkpointed: it is evaluated twice (shard list +
    * probe), both O(batch) passes, which beats pinning unevictable
    * checkpoint blocks in a long-lived ingest session (the exact leak
    * Checkpoints.scala documents). Output contract matches
    * [[incrementalNeardupFlags]].
    */
  def probePersistedIndex(
      batch: DataFrame,
      batchBands: DataFrame,
      spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val shards = indexShards(spark, path)
    val shardList = batchBands.select(bucketShard(shards).as("s")).distinct()
      .collect().map(_.getInt(0)).toSeq
    incrementalNeardupFlags(
      batch, batchBands,
      readBandIndex(spark, path).filter(col("bucket_shard").isin(shardList: _*)))
  }

  val x27_incremental_neardup = Q.instrument(
    "x27_incremental_neardup",
    s"""WITH ${md5BandsSqlCtes("_c", "WHERE doc_id % 2 = 0")},
       |${md5BandsSqlCtes("_b", "WHERE doc_id % 2 <> 0")},
       |dup AS (
       |  SELECT DISTINCT b.doc_id FROM bands_b b
       |  JOIN bands_c c ON b.band = c.band AND b.bucket = c.bucket)
       |SELECT d.doc_id, d.lang, (dup.doc_id IS NOT NULL) AS dup_of_corpus
       |FROM documents d LEFT JOIN dup ON d.doc_id = dup.doc_id
       |WHERE d.doc_id % 2 <> 0
       |ORDER BY d.doc_id""".stripMargin,
  ) { t =>
    // Oracle-checked rendering of the incremental probe on the md5 family:
    // even doc_ids play the indexed corpus, odd doc_ids the incoming
    // batch; the oracle rebuilds both band tables in DuckDB and replays
    // the same semi-join. Pins the probe semantics (band-table reuse,
    // flag-not-drop, batch-internal dups ignored) to the driver signal.
    val corpus = t.documents.filter(col("doc_id") % 2 === 0)
    val batch  = t.documents.filter(col("doc_id") % 2 =!= 0)
    incrementalNeardupFlags(
      batch.select("doc_id", "lang"),
      md5BandTable(batch), md5BandTable(corpus))
      .orderBy("doc_id")
  }

  val x27_fast_incremental = Q.noOracle("x27_fast_incremental") { t =>
    // The xxhash64 production rendering of x27 (rows-only: DuckDB lacks
    // xxhash64); DedupSimilaritySpec proves both renderings equal the
    // mixed-parity restriction of their full-corpus pair sets.
    val corpus = t.documents.filter(col("doc_id") % 2 === 0)
    val batch  = t.documents.filter(col("doc_id") % 2 =!= 0)
    incrementalNeardupFlags(
      batch.select("doc_id", "lang"),
      fastBandTable(batch), fastBandTable(corpus))
      .orderBy("doc_id")
  }

  /** Edit-distance fuzzy matching — the entity-resolution member of the
    * dedup family (typo'd names, OCR noise; the near-dup ops above need
    * token overlap, this one survives single-character corruption).
    * Two scale moves make it tractable:
    *
    *  1. DICTIONARY level, not row level: match DISTINCT values (the
    *     name dictionary is orders of magnitude smaller than the fact —
    *     64 vs 2000 here, ~thousands vs billions at corpus scale); rows
    *     re-attach by an exact equi-join afterwards when needed.
    *  2. Blocking before distance: candidates come from an equi-join on
    *     a cheap key (last token here; phonetic/prefix keys generalize),
    *     so levenshtein — O(len²) per pair, unindexable — runs only on
    *     block-mates, never n².
    *
    * Levenshtein is integer-exact and identically defined in both
    * engines, so the oracle replays pairs and distances verbatim.
    */
  def fuzzyPairs(values: DataFrame, valueCol: String, block: Column,
      maxDist: Int): DataFrame = {
    val dict = values.select(col(valueCol)).distinct()
      .select(col(valueCol).as("name_a"), block.as("blk"))
    val other = dict.select(col("name_a").as("name_b"), col("blk"))
    dict
      .join(other, Seq("blk"))
      .where(col("name_a") < col("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")).cast("long"))
      .where(col("dist").between(1, maxDist))
      .select("name_a", "name_b", "dist")
      .orderBy("name_a", "name_b")
  }

  val x66_fuzzy_match = Q(
    "x66_fuzzy_match",
    """WITH n AS (SELECT DISTINCT p_name FROM part),
      |p AS (SELECT p_name, string_split(p_name, ' ')[-1] AS blk FROM n)
      |SELECT a.p_name AS name_a, b.p_name AS name_b,
      |       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
      |FROM p a JOIN p b ON a.blk = b.blk AND a.p_name < b.p_name
      |WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 2
      |ORDER BY name_a, name_b""".stripMargin,
  ) { t =>
    fuzzyPairs(
      t.part, "p_name",
      element_at(split(col("p_name"), " "), -1), maxDist = 2)
  }

  /** Every word-k-gram of the document WITH its 1-based start position —
    * the positioned variant of `shingles` (no distinct: span excision needs
    * every occurrence, including within-doc repeats). `fingerprints` swaps
    * the join/group key from the gram string to its xxhash64 — the scale
    * path, identical plan (8-byte shuffle keys; a 64-bit collision merges
    * two grams and can only ADD a duplicated position, shifting one span
    * boundary — SpanDedupSpec pins fast==exact spans on the test corpus).
    */
  private def positionedGrams(docs: DataFrame, k: Int, fingerprints: Boolean): DataFrame = {
    // tokens materialized as an attribute before the lambda (the r13 x87
    // lesson: a captured inline split() re-evaluates per element — 3x)
    val w = col("__w")
    val grams = transform(
      sequence(lit(1), size(w) - (k - 1)),
      i => struct(i.as("pos"), array_join(slice(w, i, lit(k)), " ").as("g")))
    docs
      .select(col("doc_id"), split(col("text"), " ").as("__w"))
      .where(size(w) >= k) // sequence(1, n<1) would run DESCENDING in Spark
      .select(col("doc_id"), explode(grams).as("s"))
      .select(col("doc_id"), col("s.pos").as("pos"),
        (if (fingerprints) xxhash64(col("s.g")) else col("s.g")).as("g"))
  }

  /** Exact substring-span dedup (the "dedup training data at the substring
    * level" operator: find every maximal token span whose k-grams all occur
    * elsewhere in the corpus — the spans an excision pass would cut).
    *
    * Plan, in corpus-scale order: (1) positioned k-grams, one row per
    * occurrence; (2) duplicated grams = one hash-aggregate on the gram key
    * (map-side combined — count>1, never a self-join); (3) mark positions
    * via LEFT SEMI join on the gram key (fan-out is linear in occurrences,
    * never quadratic); (4) merge overlapping/adjacent hit positions into
    * maximal spans with one per-doc gaps-and-islands window (running
    * max(pos+k-1) over the preceding rows; island increments where the gap
    * exceeds 1). Total data movement: two shuffles on the gram key + one
    * window shuffle on doc_id — at 100 TB each is partitionable with no
    * skew beyond gram frequency, and the semi-join probe side carries only
    * (doc_id, pos, g).
    *
    * Returns (doc_id, span_start, span_end, span_words), 1-based inclusive
    * word positions, ordered.
    */
  def duplicatedSpans(docs: DataFrame, k: Int, fingerprints: Boolean): DataFrame = {
    val sh = positionedGrams(docs, k, fingerprints)
    val dup = sh.groupBy(col("g")).agg(count(lit(1)).as("n"))
      .where(col("n") > 1).select("g")
    spansFromHits(sh.join(dup, Seq("g"), "left_semi"), k)
  }

  /** Gaps-and-islands merge of hit positions into maximal spans — the
    * shared back half of every span-dedup rendering (whole-corpus x71,
    * incremental x72): `hits` is (doc_id, pos) rows whose k-gram was
    * judged duplicated by the caller's front half.
    */
  private def spansFromHits(hits: DataFrame, k: Int): DataFrame = {
    val byDoc   = Window.partitionBy("doc_id").orderBy("pos")
    val prevEnd = max(col("pos") + (k - 1))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    hits
      .withColumn("island",
        sum(when(prevEnd.isNull || col("pos") > prevEnd + 1, 1).otherwise(0))
          .over(byDoc))
      .groupBy(col("doc_id"), col("island"))
      .agg(
        min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + (k - 1)).cast("long").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_words"))
      .orderBy("doc_id", "span_start")
  }

  /** Incremental span dedup — x71's front half re-pointed at a CORPUS gram
    * set, the daily-ingest rendering (the x27 pattern at substring grain):
    * a batch position is a hit when its k-gram occurs ANYWHERE in the
    * corpus, so the semi-join probes the corpus's DISTINCT gram table and
    * the corpus documents are never re-read, re-exploded, or re-windowed —
    * at 100 TB the gram set is a persisted index ([[writeGramIndex]] /
    * [[probePersistedGramIndex]]: hash-sharded partitions, probe pruned to
    * the batch's shards) and per-ingest cost is O(batch grams), not
    * O(corpus). Batch-internal duplication is deliberately ignored (two
    * new docs sharing a span are both new text — run whole-corpus x71 on
    * the merged corpus for that), matching x27's flag-not-drop contract.
    */
  def incrementalSpans(batch: DataFrame, corpusGrams: DataFrame, k: Int,
                       fingerprints: Boolean): DataFrame =
    spansFromHits(
      positionedGrams(batch, k, fingerprints)
        .join(corpusGrams.select("g").distinct(), Seq("g"), "left_semi"), k)

  /** The corpus gram SET (distinct k-grams, no positions — positions only
    * matter on the batch side) as [[incrementalSpans]] probes it.
    */
  def corpusGramSet(corpus: DataFrame, k: Int, fingerprints: Boolean): DataFrame =
    positionedGrams(corpus, k, fingerprints).select("g").distinct()

  private val GramIndexShards = 64

  /** Persist the corpus gram set hash-sharded on the gram key, with the
    * shard modulus recorded in a marker — the substring-grain analog of
    * [[writeBandIndex]] (same durability stance: a from-scratch rebuild of
    * derived data, crash-safe by re-run). 64 shards keeps each partition
    * directory listable while giving the probe's IN-filter real pruning.
    */
  def writeGramIndex(corpusGrams: DataFrame, path: String,
                     shards: Int = GramIndexShards): Unit = {
    corpusGrams
      .withColumn("gram_shard", pmod(xxhash64(col("g")), lit(shards)).cast("int"))
      .repartition(col("gram_shard"))
      .write.mode("overwrite").partitionBy("gram_shard").parquet(path)
    val p  = new org.apache.hadoop.fs.Path(path, "_graft_shards")
    val fs = p.getFileSystem(corpusGrams.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(shards.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Incremental span probe against a PERSISTED gram index: the batch's
    * gram shards (a driver-side collect of AT MOST `shards` small ints —
    * bounded by the layout constant, never by data) become a static IN
    * filter on the partition column, so the index scan is partition-pruned
    * before the semi-join. Mirrors [[probePersistedIndex]], including the
    * no-checkpoint stance on the twice-evaluated batch gram table.
    */
  def probePersistedGramIndex(batch: DataFrame,
                              spark: org.apache.spark.sql.SparkSession,
                              path: String, k: Int,
                              fingerprints: Boolean): DataFrame = {
    val shards = indexShards(spark, path)
    val bg = positionedGrams(batch, k, fingerprints)
    val shardList = bg
      .select(pmod(xxhash64(col("g")), lit(shards)).cast("int").as("s")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val idx = spark.read.parquet(path).filter(col("gram_shard").isin(shardList: _*))
    spansFromHits(bg.join(idx.select("g").distinct(), Seq("g"), "left_semi"), k)
  }

  val x71_span_dedup = Q(
    "x71_span_dedup",
    """WITH sh AS (
      |  SELECT doc_id, CAST(i AS INT) AS pos, array_to_string(w[i:i+7], ' ') AS g
      |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 7)) AS i
      |        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))),
      |dup AS (SELECT g FROM sh GROUP BY g HAVING count(*) > 1),
      |hits AS (SELECT s.doc_id, s.pos FROM sh s JOIN dup d USING (g)),
      |isl AS (
      |  SELECT doc_id, pos,
      |         SUM(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
      |                  THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY doc_id ORDER BY pos) AS island
      |  FROM (SELECT doc_id, pos,
      |               max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      |        FROM hits))
      |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
      |       CAST(max(pos) + 7 AS BIGINT) AS span_end,
      |       CAST(max(pos) + 7 - min(pos) + 1 AS BIGINT) AS span_words
      |FROM isl GROUP BY doc_id, island
      |ORDER BY doc_id, span_start""".stripMargin,
  ) { t =>
    // Oracle row carries RAW STRING grams (structurally collision-free vs
    // the string-gram DuckDB replay); x71_fast below is the identical plan
    // over xxhash64 fingerprints — the scale path. k=8 mirrors the
    // substring-dedup practice of requiring a long verbatim overlap before
    // cutting (at ~54-word docs, 8 words is proportionate to the 50-token
    // threshold used on web corpora).
    duplicatedSpans(t.documents, k = 8, fingerprints = false)
  }

  val x71_fast_span_dedup = Q.noOracle("x71_fast_span_dedup") { t =>
    // Scale path: 8-byte gram fingerprints on the two gram-key shuffles.
    // Rows-only by design (a 64-bit collision could legitimately add a
    // position); SpanDedupSpec asserts span-set equality vs x71 on the
    // test corpus.
    duplicatedSpans(t.documents, k = 8, fingerprints = true)
  }

  /** Span EXCISION — the write half of substring dedup: given the maximal
    * duplicated spans from [[duplicatedSpans]], emit each document with
    * those spans cut out (every flagged occurrence is removed; the policy
    * that keeps corpora free of verbatim repeats rather than keeping one
    * canonical copy — the keep-one policy is a per-gram argmin away and
    * deliberately out of scope here).
    *
    * Plan: spans collapse to one array per doc (tiny — spans per doc is
    * bounded by doc length / k), LEFT-join back onto the corpus on doc_id,
    * and the cut itself is a per-row codegen'd higher-order filter
    * (position-indexed `filter` + `exists` over the span array) — zero
    * extra shuffles beyond duplicatedSpans' own, and docs without spans
    * stream through the join untouched.
    *
    * Returns (doc_id, clean_text, kept_words, removed_words).
    */
  def exciseSpans(docs: DataFrame, k: Int, fingerprints: Boolean): DataFrame = {
    val spanArr = duplicatedSpans(docs, k, fingerprints)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"))
    val w = split(col("text"), " ")
    val kept = filter(col("w"), (_, i) =>
      !exists(col("spans"), s =>
        (i + 1) >= s.getField("span_start") && (i + 1) <= s.getField("span_end")))
    docs
      .join(spanArr, Seq("doc_id"), "left")
      .select(col("doc_id"), w.as("w"),
        coalesce(col("spans"),
          array().cast("array<struct<span_start:bigint,span_end:bigint>>"))
          .as("spans"))
      .select(col("doc_id"), col("w"), kept.as("kept"))
      .select(
        col("doc_id"),
        array_join(col("kept"), " ").as("clean_text"),
        size(col("kept")).cast("long").as("kept_words"),
        (size(col("w")) - size(col("kept"))).cast("long").as("removed_words"))
      .orderBy("doc_id")
  }

  val x71b_span_excise = Q(
    "x71b_span_excise",
    """WITH sh AS (
      |  SELECT doc_id, CAST(i AS INT) AS pos, array_to_string(w[i:i+7], ' ') AS g
      |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 7)) AS i
      |        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))),
      |dup AS (SELECT g FROM sh GROUP BY g HAVING count(*) > 1),
      |hits AS (SELECT s.doc_id, s.pos FROM sh s JOIN dup d USING (g)),
      |isl AS (
      |  SELECT doc_id, pos,
      |         SUM(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
      |                  THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY doc_id ORDER BY pos) AS island
      |  FROM (SELECT doc_id, pos,
      |               max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      |        FROM hits)),
      |spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
      |          FROM isl GROUP BY doc_id, island),
      |covered AS (SELECT DISTINCT doc_id, unnest(generate_series(s, e)) AS pos
      |            FROM spans),
      |words AS (
      |  SELECT doc_id, CAST(i AS INT) AS pos, w[i] AS word, len(w) AS n
      |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i
      |        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))),
      |kept AS (
      |  SELECT w.doc_id, w.pos, w.word, w.n
      |  FROM words w LEFT JOIN covered c ON w.doc_id = c.doc_id AND w.pos = c.pos
      |  WHERE c.pos IS NULL)
      |SELECT d.doc_id,
      |       coalesce(string_agg(k.word, ' ' ORDER BY k.pos), '') AS clean_text,
      |       CAST(count(k.pos) AS BIGINT) AS kept_words,
      |       CAST(len(string_split(d.text, ' ')) - count(k.pos) AS BIGINT)
      |         AS removed_words
      |FROM documents d LEFT JOIN kept k ON d.doc_id = k.doc_id
      |GROUP BY d.doc_id, d.text
      |ORDER BY d.doc_id""".stripMargin,
  ) { t =>
    // Exact (string-gram) rendering for the oracle; SpanDedupSpec pins the
    // fingerprinted scale path text-equal on the test corpus.
    exciseSpans(t.documents, k = 8, fingerprints = false)
  }

  /** Build the corpus gram set's Bloom filter (Catalyst's own
    * BloomFilterAggregate, the sketch Spark's runtime filter uses) as a
    * driver-held byte array — bounded by numBits/8 (2 MiB at the 2^24
    * default), never by corpus size. This is the shippable form of the
    * gram index for STATELESS consumers: embed it as a literal and
    * membership becomes a per-row expression.
    */
  def corpusGramBloom(corpusGrams: DataFrame, expectedKeys: Long,
                      numBits: Long = 1L << 24): Array[Byte] = {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    corpusGrams
      .agg(GraftColumnBridge.column(
        new BloomFilterAggregate(
          // gram columns may be string (exact) or long (fingerprint); the
          // bloom hashes a LONG, so normalize through xxhash64 either way
          GraftColumnBridge.expression(xxhash64(col("g"))),
          Literal(expectedKeys), Literal(numBits)).toAggregateExpression()).as("bloom"))
      .head().getAs[Array[Byte]](0)
  }

  /** Streaming span monitor — the zero-state rendering of x72 for a
    * readStream of arriving documents: every gram of a document lives in
    * ITS OWN row, so corpus-span detection needs no join, no shuffle, and
    * no state store at all. The corpus gram set rides along as a Bloom
    * filter LITERAL ([[corpusGramBloom]]); per row, a higher-order filter
    * marks corpus-known gram positions and a fold merges them
    * gaps-and-islands style into the longest span, exactly x71/x72's merge
    * rule evaluated inside one expression tree. Output: (doc_id,
    * max_span_words, flagged).
    *
    * Approximation contract: the Bloom admits false POSITIVES (a clean
    * gram may be marked corpus-known, inflating a span) but never false
    * negatives — flagged is a strict superset of the exact x72 verdict,
    * the correct polarity for a quarantine gate (route flagged docs to the
    * exact batch probe; never let a true dup through unflagged). That
    * polarity holds ONLY if the probe grams are built by the same pipeline
    * (same `fingerprints` mode, hence same Catalyst TYPE) as the corpus
    * bloom: xxhash64 is type-sensitive, so a string probe against a
    * fingerprint-long corpus sketch would false-NEGATIVE everything. At the
    * 2^24 default and ~1e6 corpus grams the FP rate is ~1e-4 per gram.
    * Runs identically on a batch frame (SpanDedupSpec pins it against
    * exact x72 flags).
    */
  def spanMonitor(arriving: DataFrame, corpusBloom: Array[Byte], k: Int,
                  minSpanWords: Int): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.types.BinaryType
    def known(gram: Column): Column = GraftColumnBridge.column(
      BloomFilterMightContain(
        Literal(corpusBloom, BinaryType),
        GraftColumnBridge.expression(xxhash64(gram))))
    val toks = split(col("text"), " ")
    val hitPositions = when(
      size(toks) >= k,
      filter(
        sequence(lit(1), size(toks) - (k - 1)),
        i => known(array_join(slice(toks, i, lit(k)), " "))))
      .otherwise(array().cast("array<int>"))
    // fold: positions ascend by construction; a position p extends the
    // current island when p <= prev_end + 1 (same adjacency rule as
    // spansFromHits), else starts a new one at [p, p + k - 1]
    val best = aggregate(
      hitPositions,
      struct(lit(-2).as("prev_end"), lit(0).as("cur_start"), lit(0).as("best")),
      (acc, p) => {
        val newIsland = p > acc.getField("prev_end") + 1
        val curStart  = when(newIsland, p).otherwise(acc.getField("cur_start"))
        val prevEnd   = greatest(acc.getField("prev_end"), p + (k - 1))
        struct(
          prevEnd.as("prev_end"),
          curStart.as("cur_start"),
          greatest(acc.getField("best"), prevEnd - curStart + 1).as("best"))
      },
      acc => acc.getField("best"))
    arriving.select(
      col("doc_id"),
      best.cast("long").as("max_span_words"),
      (best >= minSpanWords).as("flagged"))
  }

  val x72_incremental_spans = Q(
    "x72_incremental_spans",
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
      |        FROM hits))
      |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
      |       CAST(max(pos) + 7 AS BIGINT) AS span_end,
      |       CAST(max(pos) + 7 - min(pos) + 1 AS BIGINT) AS span_words
      |FROM isl GROUP BY doc_id, island
      |ORDER BY doc_id, span_start""".stripMargin,
  ) { t =>
    // Incremental span dedup, x27's corpus/batch carve at substring grain:
    // even doc_ids play the indexed corpus (gram SET only — no positions,
    // no re-window), odd doc_ids the incoming batch whose spans of
    // corpus-known grams are the excision candidates. String grams so the
    // DuckDB replay is structurally collision-free; x72_fast below is the
    // fingerprinted scale path.
    val corpus = t.documents.filter(col("doc_id") % 2 === 0)
    val batch  = t.documents.filter(col("doc_id") % 2 =!= 0)
    incrementalSpans(batch, corpusGramSet(corpus, 8, fingerprints = false),
      k = 8, fingerprints = false)
  }

  val x72_fast_incremental_spans = Q.noOracle("x72_fast_incremental_spans") { t =>
    // xxhash64 rendering (rows-only: DuckDB lacks xxhash64); SpanDedupSpec
    // pins it span-equal to x72 on the test corpus, and pins the persisted
    // gram-index probe (partition-pruned) span-equal to both.
    val corpus = t.documents.filter(col("doc_id") % 2 === 0)
    val batch  = t.documents.filter(col("doc_id") % 2 =!= 0)
    incrementalSpans(batch, corpusGramSet(corpus, 8, fingerprints = true),
      k = 8, fingerprints = true)
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003 —
    * the MOSS algorithm): hash every word-k-gram, slide a window of `w`
    * consecutive gram hashes per document, select each full window's
    * MINIMUM as a fingerprint, and keep the distinct (doc, fp) set. The
    * guarantee that makes it the plagiarism-detection classic: any run of
    * ≥ k+w-1 shared tokens between two documents forces at least one
    * SHARED fingerprint (both windows covering the run see the same
    * minimum) — position-shift-robust, unlike fixed-stride chunk hashing,
    * while selecting only ~1/w of all grams. Fingerprints whose document
    * frequency exceeds `maxDf` are dropped (ubiquitous boilerplate minima
    * — the same DF-cap discipline as x2's shingles, and the bound that
    * keeps the pair join's buckets small at 100 TB).
    *
    * Plan: positioned grams (one explode), md5-nibble gram hash (the
    * engine-portable family, so DuckDB replays it), one per-doc window
    * min + one per-doc max (both ride a single doc-key shuffle), a
    * DF-cap aggregate, and a semi-join — no all-pairs anywhere until the
    * caller's fingerprint equi-join, whose buckets the cap bounds.
    */
  /** Per-doc winnow fingerprints BEFORE the document-frequency cap — the
    * batch-side kernel of [[winnowProbe]] (a probe batch is batch-sized
    * by definition; the DF cap is an artifact of the INDEX side, where
    * hot boilerplate fingerprints would otherwise blow up bucket joins).
    */
  def winnowFingerprintsRaw(docs: DataFrame, k: Int, w: Int): DataFrame = {
    // Positioned grams with the gram COUNT carried from the pre-explode
    // array size (r16): the r15 form recomputed it per doc as a second
    // whole-partition max() WindowExec pass over every gram row; the
    // count is free before the explode, so the full-windows cutoff
    // becomes a plain column compare and the plan keeps ONE Window.
    // Deliberately NOT an all-array rendering: moving the md5 gram hash
    // into a transform() lambda removes the one doc_id exchange but makes
    // the hash interpreted per element (higher-order functions are
    // CodegenFallback) — measured 1.40 -> 2.01 s median on x93, so the
    // hash stays a codegen'd projection AFTER the explode, exactly the
    // r13 x87 lesson in reverse. The (doc_id, fp) distinct needs no
    // second exchange either way: hashpartitioning(doc_id) from the
    // window already satisfies its clustering (the r15 CC dedup-fold
    // rule), which the plan confirms.
    val wa = col("__w")
    val grams = transform(
      sequence(lit(1), size(wa) - (k - 1)),
      i => struct(i.as("pos"), array_join(slice(wa, i, lit(k)), " ").as("g")))
    val g = docs
      .select(col("doc_id"), split(col("text"), " ").as("__w"))
      .where(size(wa) >= k) // sequence(1, n<1) would run DESCENDING in Spark
      .select(col("doc_id"), (size(wa) - (k - 1)).as("n_grams"), explode(grams).as("s"))
      .select(col("doc_id"), col("n_grams"), col("s.pos").as("pos"),
        Curation.hashBucket(col("s.g"), "win|", 1 << 24).as("h"))
    val sliding = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    g
      .withColumn("fp", min(col("h")).over(sliding))
      .filter(col("pos") <= col("n_grams") - (w - 1)) // full windows only
      .select(col("doc_id"), col("fp")).distinct()
  }

  def winnowFingerprints(docs: DataFrame, k: Int, w: Int, maxDf: Int): DataFrame = {
    val fps = winnowFingerprintsRaw(docs, k, w)
      .localCheckpoint() // feeds the DF cap AND the kept set
    val kept = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("fp")
    // the USING-join puts fp first; restore (doc_id, fp)
    fps.join(kept, Seq("fp"), "left_semi").select("doc_id", "fp")
  }

  /** Incremental winnowing probe — the x27/x72/x83b daily-ingest pattern
    * at the MOSS granularity: an arriving batch is fingerprinted (batch-
    * sized work, no cap) and matched against the CORPUS fingerprint index
    * (DF-capped at build time, the persisted artifact a production
    * pipeline maintains); a (batch, corpus) pair is reported with its
    * shared-fingerprint count when it reaches `minShared`. Candidates
    * come from the fp equi-join — batch-fps × bucket, never batch×corpus.
    */
  def winnowProbe(corpus: DataFrame, batch: DataFrame, k: Int, w: Int,
                  maxDf: Int, minShared: Int): DataFrame = {
    val idx  = winnowFingerprints(corpus, k, w, maxDf)
    val bfps = winnowFingerprintsRaw(batch, k, w)
    bfps.as("b")
      .join(idx.as("c"), col("b.fp") === col("c.fp"))
      .groupBy(col("b.doc_id").as("doc_id"), col("c.doc_id").as("match_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Suspect pairs from shared winnow fingerprints: (src, dst, n_shared)
    * for pairs sharing at least `minShared`.
    */
  def winnowPairs(docs: DataFrame, k: Int, w: Int, maxDf: Int, minShared: Int): DataFrame = {
    val fps = winnowFingerprints(docs, k, w, maxDf).localCheckpoint()
    fps.as("a")
      .join(fps.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("src"), col("b.doc_id").as("dst"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  val x93_winnowing = Q(
    "x93_winnowing",
    s"""WITH wd AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |g AS (SELECT doc_id, i AS pos,
       |             ${TrainPrep.md5BucketSql("'win|' || array_to_string(w[i:i+2], ' ')")} AS h
       |      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM wd)),
       |mx AS (SELECT doc_id, max(pos) AS pmax FROM g GROUP BY 1),
       |win AS (SELECT g.doc_id, g.pos,
       |               min(h) OVER (PARTITION BY g.doc_id ORDER BY g.pos
       |                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
       |        FROM g),
       |fps AS (SELECT DISTINCT w.doc_id, w.fp
       |        FROM win w JOIN mx ON mx.doc_id = w.doc_id WHERE w.pos <= mx.pmax - 3),
       |kept AS (SELECT fp FROM (SELECT fp, count(*) AS df FROM fps GROUP BY 1) WHERE df <= 50),
       |fpk AS (SELECT f.doc_id, f.fp FROM fps f JOIN kept USING (fp))
       |SELECT a.doc_id AS src, b.doc_id AS dst, CAST(count(*) AS BIGINT) AS n_shared
       |FROM fpk a JOIN fpk b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= 3
       |ORDER BY src, dst""".stripMargin,
  ) { t =>
    // Winnowing near-dup detection at k=3 grams, window w=4 (guaranteed
    // detection of any >= 6-token shared run), DF cap 50, report pairs
    // sharing >= 3 fingerprints. The third TEXT dedup granularity: x2/x3
    // score whole documents, x71 excises exact spans, winnowing flags
    // partial-overlap pairs at ~1/w the fingerprint volume of full
    // shingling — the MOSS shape.
    winnowPairs(t.documents, k = 3, w = 4, maxDf = 50, minShared = 3)
      .orderBy("src", "dst")
  }

  val x93b_winnow_probe = Q(
    "x93b_winnow_probe",
    s"""WITH wd AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |g AS (SELECT doc_id, i AS pos,
       |             ${TrainPrep.md5BucketSql("'win|' || array_to_string(w[i:i+2], ' ')")} AS h
       |      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM wd)),
       |mx AS (SELECT doc_id, max(pos) AS pmax FROM g GROUP BY 1),
       |win AS (SELECT g.doc_id, g.pos,
       |               min(h) OVER (PARTITION BY g.doc_id ORDER BY g.pos
       |                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
       |        FROM g),
       |fps AS (SELECT DISTINCT w.doc_id, w.fp
       |        FROM win w JOIN mx ON mx.doc_id = w.doc_id WHERE w.pos <= mx.pmax - 3),
       |cfps AS (SELECT doc_id, fp FROM fps WHERE doc_id % 2 = 0),
       |kept AS (SELECT fp FROM (SELECT fp, count(*) AS df FROM cfps GROUP BY 1) WHERE df <= 50),
       |idx AS (SELECT c.doc_id, c.fp FROM cfps c JOIN kept USING (fp)),
       |bfps AS (SELECT doc_id, fp FROM fps WHERE doc_id % 2 <> 0)
       |SELECT b.doc_id, i.doc_id AS match_id, CAST(count(*) AS BIGINT) AS n_shared
       |FROM bfps b JOIN idx i ON b.fp = i.fp
       |GROUP BY 1, 2 HAVING count(*) >= 3
       |ORDER BY b.doc_id, match_id""".stripMargin,
  ) { t =>
    // The incremental rendering of x93 (even ids = indexed corpus, odd =
    // arriving batch — the x27 convention): the index carries the DF cap,
    // the batch is fingerprinted raw, and only the fp equi-join touches
    // both sides. Closes the daily-ingest story for the third text-dedup
    // granularity: x27 whole-doc, x72 exact spans, x93b partial overlap.
    winnowProbe(
      t.documents.filter(col("doc_id") % 2 === 0),
      t.documents.filter(col("doc_id") % 2 =!= 0),
      k = 3, w = 4, maxDf = 50, minShared = 3)
      .orderBy("doc_id", "match_id")
  }

  val all: Seq[Q] = Seq(
    a5_exact_dedup, x2_ngram_jaccard, x2_fast_ngram_jaccard,
    x3_minhash_signatures, x3_minhash_lsh_pairs, x3b_minhash_md5,
    x4_simhash, x4_simhash_pairs, x4b_simhash_md5,
    x27_incremental_neardup, x27_fast_incremental, x66_fuzzy_match,
    x71_span_dedup, x71_fast_span_dedup, x71b_span_excise,
    x72_incremental_spans, x72_fast_incremental_spans, x93_winnowing,
    x93b_winnow_probe,
  )
}
