package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** User-facing training-data curation API — the library surface behind the
  * x14-x24 registry rows (which pin each function to the DuckDB oracle
  * with the test corpus's parameters). Generalizes the reference's dedup
  * mandate (`services/content_deduplicator.py:31-88`) to the full curation
  * chain a pretraining corpus runs.
  *
  * Design rules (100 TB):
  *  - every per-document decision is a pure column expression (codegen'd,
  *    no UDFs, no shuffles);
  *  - every corpus-level step is a single keyed shuffle or a broadcast
  *    probe, never an all-pairs join;
  *  - every sampling/split decision is a salted hash of a stable key —
  *    reruns, retried tasks, and other engines reproduce it bit-for-bit
  *    (`rand()` is none of those).
  */
object Curation {

  /** Salted uniform hash of `key` into [0, mod): first 6 md5 hex nibbles
    * as an integer. Engine-portable (md5 is everywhere), deterministic,
    * and independent across salts — the basis for sampling (one salt) and
    * split assignment (another).
    */
  def hashBucket(key: Column, salt: String, mod: Int): Column =
    conv(substring(md5(concat(lit(salt), key.cast("string"))), 1, 6), 16, 10)
      .cast("long") % mod

  /** Keep rows whose salted hash bucket falls under `keepPct` (a per-row
    * Column in [0,100] — pass a CASE over strata for stratified rates).
    */
  def sampleByHash(df: DataFrame, key: Column, keepPct: Column, salt: String = "s|"): DataFrame =
    df.filter(hashBucket(key, salt, 100) < keepPct)

  /** Deterministic per-epoch training-order shuffle: every row gets a
    * `shard` (epoch-salted hash of the stable key, mod `nShards`) and a
    * `pos` (its rank within the shard by the full hash tag, key
    * tiebreak). Each epoch's salt yields a fresh statistically
    * independent permutation that is REPRODUCIBLE across runs, engines,
    * and retried tasks — the training-order contract `orderBy(rand())`
    * cannot give. The plan is the 100 TB one: shard assignment is pure
    * map-side, the within-shard rank is a window on the shard key — ONE
    * hash shuffle total, never a global sort/rank (each data-loader
    * reads its shard in (pos) order with no cross-shard coordination;
    * a downstream epoch writer is `partitionBy(shard) sortWithinPartitions
    * (pos)`, still zero extra shuffles).
    */
  def epochShuffle(df: DataFrame, key: Column, epoch: Int, nShards: Int): DataFrame = {
    require(nShards > 0, "epochShuffle: nShards must be positive")
    val tag = md5(concat(lit(s"e$epoch|"), key.cast("string")))
    df.withColumn("__tag", tag)
      .withColumn("shard", conv(substring(col("__tag"), 1, 6), 16, 10).cast("long") % nShards)
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("shard")).orderBy(col("__tag"), key)))
      .drop("__tag")
  }

  /** Fixed-size uniform sample PER GROUP — the "n examples from every
    * stratum" verb (eval-set drawing, per-domain inspection samples,
    * few-shot pools). Deterministic reservoir equivalent: rank rows
    * inside each group by a salted hash of the row key and keep the n
    * smallest — every subset of equal size is equally likely under the
    * hash, the selection is stable across runs/engines, and (unlike a
    * true sequential reservoir) it is re-runnable on any row order.
    *
    * Scale shape: ONE shuffle on the group key. The rank predicate is a
    * rank-limited window, which Spark plans with WindowGroupLimit — each
    * map task pre-prunes to its local top-n per group BEFORE the
    * exchange, so the shuffle carries at most n * groups * tasks rows,
    * not the corpus (plan-asserted in the spec). Salt isolation: a
    * different salt draws an independent sample (the x14 property).
    */
  def samplePerGroup(df: DataFrame, groupCols: Seq[String], key: Column,
      n: Int, salt: String = "r|"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tag = md5(concat(lit(salt), key.cast("string")))
    val w = Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(tag.asc, key.asc)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= n)
      .drop("__rn")
  }

  /** Budget-driven mixture rates: per-stratum admission rates (basis
    * points) such that the admitted corpus approximates the target token
    * mixture `weightsPm` (per-mille, e.g. en→400 = 40% of the budget)
    * under a total budget of `budgetTokens`. One map-side-combined
    * aggregate over (stratum → sum tokens) — the measure pass; the output
    * is #strata rows. All arithmetic is exact bigint division, so any
    * engine reproduces every rate bit-for-bit. A stratum with fewer
    * available tokens than its target caps at 10000 bp (keep everything);
    * the under-fill is visible in the returned `avail_tokens` vs the
    * budget share — deliberately reported, never silently re-balanced
    * onto other strata (re-balancing changes the mixture, which is the
    * one thing the caller asked to control). A stratum absent from
    * `weightsPm` gets rate 0 (admit nothing, still reported).
    *
    * Output: (stratum, avail_tokens, rate_bp).
    */
  def mixtureRates(
      docs: DataFrame,
      stratum: String,
      tokens: Column,
      weightsPm: Map[String, Long],
      budgetTokens: Long): DataFrame =
    docs
      .groupBy(col(stratum))
      .agg(sum(tokens).as("avail_tokens"))
      .withColumn("w_pm", coalesce(element_at(typedLit(weightsPm), col(stratum)), lit(0L)))
      .withColumn(
        "rate_bp",
        least(
          lit(10000L),
          expr(s"(((CAST($budgetTokens AS BIGINT) * w_pm) div 1000) * 10000) div avail_tokens")))
      .drop("w_pm")

  /** The admit pass for [[mixtureRates]]: broadcast the #strata-row rates
    * frame onto the corpus and keep rows whose salted hash bucket falls
    * under their stratum's rate — a pure per-row decision (no corpus
    * shuffle, rerun-stable, engine-portable like [[sampleByHash]]).
    * Together the two passes are the standard "hit a target domain
    * mixture under a token budget" step of pretraining-corpus assembly;
    * at 100 TB the measure pass is a map-side agg on a handful of keys
    * and this pass never shuffles the corpus at all.
    */
  def admitByMixture(
      docs: DataFrame,
      stratum: String,
      key: Column,
      rates: DataFrame,
      salt: String = "m|"): DataFrame =
    docs
      .join(broadcast(rates.select(col(stratum), col("rate_bp"))), Seq(stratum))
      .filter(hashBucket(key, salt, 10000) < col("rate_bp"))
      .drop("rate_bp")

  /** Deterministic 80/10/10 train/val/test assignment from a stable key. */
  def assignSplit(key: Column, salt: String = "p|"): Column = {
    val b = hashBucket(key, salt, 10)
    when(b < 8, "train").when(b === 8, "val").otherwise("test")
  }

  /** Whitespace token count of `text` as a long. */
  def tokenCount(text: Column): Column = size(split(text, " ")).cast("long")

  /** Concat-and-chunk sequence packing: with rows ordered by `orderCol`
    * within each stratum, a row's bin is the `window`-token context its
    * first token lands in. Adds `cum` and `bin`. One shuffle (stratum
    * key); integer-exact, so any engine agrees on every bin.
    */
  def packBins(
      df: DataFrame,
      strata: Seq[String],
      tokensCol: String,
      orderCol: String,
      window: Int,
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(strata.map(col): _*).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("cum", sum(col(tokensCol)).over(w))
      .withColumn("bin", expr(s"(cum - $tokensCol) div $window"))
  }

  /** Distinct word-k-grams per row: (idCol, sh). Rows shorter than k
    * tokens contribute nothing.
    */
  def wordGrams(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    // tokens materialized as an attribute before the lambda (the r13 x87
    // lesson: a captured inline split() re-evaluates per element — 3x)
    val w = col("__w")
    val sh = when(
      size(w) >= k,
      array_distinct(
        transform(
          sequence(lit(1), size(w) - (k - 1)),
          i => array_join(slice(w, i, lit(k)), " "))))
      .otherwise(array().cast("array<string>"))
    df.select(col(idCol), split(col(textCol), " ").as("__w"))
      .select(col(idCol), explode(sh).as("sh"))
  }

  /** Near-dup decontamination: training docs whose word-k-gram Jaccard
    * against ANY eval doc reaches `tau` — the fuzzy counterpart of
    * [[decontaminate]] for the paraphrased-benchmark leak an exact n-gram
    * containment check misses. One row per contaminated training doc:
    * (idCol, n_eval_matches, best_jaccard).
    *
    * Plan shape: shingle both sides once (checkpointed — each feeds its
    * size aggregation AND the intersection join, the x2 lesson), equi-join
    * on the shingle, aggregate intersections per (train, eval) pair, exact
    * |A∩B|/|A∪B| with a single double division (engine-exact). The join is
    * corpus×eval on the shingle key: only MATCHED shingles reach the
    * exchange, and AQE broadcasts the eval side when it is small. A real
    * benchmark suite is fixed-size and broadcast-hintable; this rendering
    * deliberately leaves the choice to AQE because the stand-in eval split
    * (a doc_id residue class) GROWS with the corpus — pinning a broadcast
    * on a corpus-growing frame is the r10 scale killer. At 100 TB, add the
    * x2 document-frequency cap on shingles to bound hot keys before the
    * join.
    */
  def fuzzyDecontaminate(
      corpus: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      tau: Double,
  ): DataFrame = {
    val trsh = wordGrams(corpus, idCol, textCol, k).localCheckpoint()
    val evsh = wordGrams(eval, idCol, textCol, k)
      .withColumnsRenamed(Map(idCol -> "__ev_id")).localCheckpoint()
    val trsz = trsh.groupBy(idCol).agg(count(lit(1)).as("__tn"))
    val evsz = evsh.groupBy("__ev_id").agg(count(lit(1)).as("__en"))
    val inter = trsh.join(evsh, Seq("sh"))
      .groupBy(col(idCol), col("__ev_id")).agg(count(lit(1)).as("__c"))
    val jac = col("__c").cast("double") / (col("__tn") + col("__en") - col("__c"))
    inter.join(trsz, Seq(idCol)).join(evsz, Seq("__ev_id"))
      .select(col(idCol), jac.as("jaccard"))
      .filter(col("jaccard") >= tau)
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_eval_matches"), max(col("jaccard")).as("best_jaccard"))
  }

  /** BPE tokenizer training over the corpus: the first `k` merge rules by
    * weighted pair frequency, computed the way every production BPE trainer
    * does — ONE corpus pass builds the word-frequency table, then each
    * merge round runs over the VOCAB-sized symbol-sequence table, never the
    * corpus. Returns one row per round: (round, left_sym, right_sym,
    * pair_count). Ties break on the pair string ascending, so the
    * trajectory is engine-exact.
    *
    * Symbol-sequence encoding (the part both engines must agree on
    * byte-for-byte): every symbol is PRECEDED by one space and TERMINATED
    * by '|', e.g. "cat" -> " c| a| t|". A pair pattern " a| b|" can then
    * neither share a delimiter with an adjacent match (left-to-right
    * non-overlapping literal replace — the reference BPE application
    * order) nor match a partial symbol (the terminator pins the symbol
    * end; a bare space-separated encoding fails BOTH ways — measured
    * before this representation was chosen). Words containing '|' are
    * excluded symmetrically in both engines.
    *
    * Scale: the corpus pass is a map-side-combined word count; each round
    * is one aggregation + one argmax (a single-row driver scalar, the
    * Lloyd-iteration pattern of kmeansLloyd) + one projection over the
    * vocab table, localCheckpoint'ed so the per-round lineage stays flat.
    * At 100 TB the vocab is ~1e7 rows — round cost is independent of
    * corpus size after the first pass.
    */
  def bpeMerges(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeTrain(docs, textCol, k)
      .toDF("round", "left_sym", "right_sym", "pair_count")
  }

  private def bpeTrain(docs: DataFrame, textCol: String, k: Int)
      : Seq[(Int, String, String, Long)] = {
    val words = docs
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) >= 2 && !col("word").contains("|"))
      .groupBy("word").agg(count(lit(1)).as("n"))
    var seqs = words.select(
      col("word"),
      concat(
        lit(" "),
        array_join(
          transform(
            // drop the empty fragments Java's zero-width split can emit
            filter(split(col("word"), ""), c => c =!= ""),
            c => concat(c, lit("|"))),
          " ")).as("seq"),
      col("n")).localCheckpoint()
    val rounds = Seq.newBuilder[(Int, String, String, Long)]
    for (r <- 1 to k) {
      val topRows = seqs
        .select(split(trim(col("seq")), " ").as("s"), col("n"))
        // a word fully merged to ONE symbol contributes no pairs; without
        // this guard sequence(1, size-1) = sequence(1, 0) is DESCENDING in
        // Spark ([1,0]) and element_at(s, 0) throws — DuckDB's
        // generate_series(1, 0) is empty, so the filter also keeps the two
        // engines' pair sets identical
        .filter(size(col("s")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(s) - 1), i -> concat(element_at(s, i), ' ', element_at(s, i + 1)))")).as("pair"),
          col("n"))
        .groupBy("pair").agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(1).collect() // ONE row: the round's merge rule
      // fail loud, not with an index error: a vocab with no adjacent pairs
      // left (corpus of single-char words, or every word already merged to
      // one symbol) cannot honor the requested k
      require(topRows.nonEmpty,
        s"bpeMerges: no candidate pairs left at round $r of $k — " +
          "the vocabulary is exhausted; lower k or enlarge the corpus")
      val top = topRows(0)
      val Array(l, rt) = top.getString(0).split(" ")
      rounds += ((r, l.stripSuffix("|"), rt.stripSuffix("|"), top.getLong(1)))
      // literal left-to-right non-overlapping replace — identical semantics
      // in java.lang.String.replace (Spark) and DuckDB replace(); the last
      // round's merge is never read, so it is not applied
      if (r < k)
        seqs = seqs
          .withColumn("seq",
            replace(col("seq"), lit(" " + l + " " + rt), lit(" " + l.stripSuffix("|") + rt)))
          .localCheckpoint()
    }
    rounds.result()
  }

  /** Driver-local BPE trainer for REALISTIC k (hundreds-thousands of
    * merges): ONE distributed corpus pass reduces the corpus to the
    * weighted vocab (word, count) — top `maxVocab` words by count, the
    * frequency cap every production BPE trainer applies — which is
    * collected once; the merge loop then runs in driver memory over an
    * occurrence-indexed incremental pair count (only words containing the
    * merged pair are touched per round, the standard trainer structure),
    * and the result broadcasts back as a vocab-sized frame. The
    * distributed per-round loop ([[bpeMerges]]) pays one Spark job + one
    * single-row collect PER ROUND — fine at k=12, k jobs of pure
    * scheduling overhead at k=1024; here rounds cost microseconds and the
    * wall is the corpus pass (SCALE.md records the k=1024 measurement).
    * Semantics are EXACTLY the distributed loop's — weighted multiset
    * pair counts, ties on the '|'-terminated encoded pair string,
    * left-to-right non-overlapping merges, single-symbol words
    * contributing no pairs — so the k=12 oracle row pins equivalence
    * (BpeSpec pins it against the from-scratch JVM reference too).
    * `strict=false` stops at vocabulary exhaustion instead of failing —
    * the realistic-k mode, where k is a budget, not a promise.
    */
  private[graft] def bpeTrainCollected(
      vocab: Array[(String, Long)],
      k: Int,
      strict: Boolean,
  ): (Vector[(Int, String, String, Long)], Array[(String, Int)]) = {
    import scala.collection.mutable
    val words  = vocab.map(_._1.split("").filter(_.nonEmpty))
    val symSeq = mutable.ArrayBuffer.from(words.map(w => mutable.ArrayBuffer.from(w)))
    val weight = vocab.map(_._2)
    val counts = mutable.HashMap.empty[(String, String), Long]
    val index  = mutable.HashMap.empty[(String, String), mutable.BitSet]
    def tally(w: Int, sign: Long): Unit = {
      val s = symSeq(w)
      var i = 0
      while (i < s.length - 1) {
        val p = (s(i), s(i + 1))
        val c = counts.getOrElse(p, 0L) + sign * weight(w)
        if (c == 0L) counts.remove(p) else counts.update(p, c)
        if (sign > 0L) index.getOrElseUpdate(p, mutable.BitSet.empty) += w
        i += 1
      }
    }
    symSeq.indices.foreach(tally(_, 1L))
    val merges = Vector.newBuilder[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= k && !exhausted) {
      if (counts.isEmpty) {
        require(!strict,
          s"bpeMerges: no candidate pairs left at round $r of $k — " +
            "the vocabulary is exhausted; lower k or enlarge the corpus")
        exhausted = true
      } else {
        val ((l, rt), cnt) = counts.minBy { case ((a, b), c) => (-c, s"$a| $b|") }
        merges += ((r, l, rt, cnt))
        // occurrence index may hold stale word ids (pairs vacated by an
        // earlier merge) — harmless: tally(-1)/merge/tally(+1) on a word
        // without the pair is a net no-op
        index.remove((l, rt)).getOrElse(mutable.BitSet.empty).foreach { w =>
          tally(w, -1L)
          val s   = symSeq(w)
          val out = new mutable.ArrayBuffer[String](s.length)
          var i = 0
          while (i < s.length) {
            if (i < s.length - 1 && s(i) == l && s(i + 1) == rt) {
              out += (l + rt); i += 2 // left-to-right, non-overlapping
            } else { out += s(i); i += 1 }
          }
          symSeq.update(w, out)
          tally(w, 1L)
        }
        r += 1
      }
    }
    (merges.result(), vocab.indices.map(w => (vocab(w)._1, symSeq(w).length)).toArray)
  }

  /** The one corpus pass feeding the driver-local trainer: weighted vocab,
    * frequency-capped at `maxVocab` rows (count desc, word asc — a
    * deterministic top-k, so the cap is reproducible), collected once.
    */
  private def collectVocab(docs: DataFrame, textCol: String, maxVocab: Int)
      : Array[(String, Long)] =
    docs
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) >= 2 && !col("word").contains("|"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(maxVocab)
      .collect().map(r => (r.getString(0), r.getLong(1)))

  /** [[bpeMerges]]'s realistic-k sibling: identical output, driver-local
    * rounds. Same (round, left_sym, right_sym, pair_count) frame.
    */
  def bpeMergesLocal(docs: DataFrame, textCol: String, k: Int,
                     maxVocab: Int = 1000000, strict: Boolean = true): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeTrainCollected(collectVocab(docs, textCol, maxVocab), k, strict)._1
      .toDF("round", "left_sym", "right_sym", "pair_count")
  }

  /** The encode side of BPE at realistic k: the (word, n_tokens) vocab
    * map from the driver-local trainer, handed back as a frame the encode
    * join consumes — vocab-sized, so AQE broadcasts it.
    */
  def bpeTokenCountsLocal(docs: DataFrame, textCol: String, k: Int,
                          maxVocab: Int = 1000000, strict: Boolean = true): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeTrainCollected(collectVocab(docs, textCol, maxVocab), k, strict)._2.toSeq
      .toDF("word", "n_tokens")
  }

  /** Training docs sharing any word n-gram with `eval`: (idCol, n_hits).
    * The eval shingle set broadcasts — the corpus side never shuffles for
    * the join, the only viable shape at corpus scale.
    */
  def decontaminate(
      corpus: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
  ): DataFrame =
    wordGrams(corpus, idCol, textCol, n)
      .join(broadcast(wordGrams(eval, idCol, textCol, n).select("sh").distinct()), "sh")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_hits"))

  /** Mask emails, IPv4 addresses, and phone numbers (that order — the
    * chain is a fixpoint, property-tested in FunctionProps). Patterns from
    * TrainPrep (RE2 ∩ java.util.regex).
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, TrainPrep.EmailRe, "[EMAIL]"),
        TrainPrep.Ipv4Re, "[IP]"),
      TrainPrep.PhoneRe, "[PHONE]")

  /** Per-class PII counts, computed on the unredacted text. */
  def piiCounts(text: Column): Seq[Column] = Seq(
    regexp_count(text, lit(TrainPrep.EmailRe)).cast("long").as("n_email"),
    regexp_count(text, lit(TrainPrep.PhoneRe)).cast("long").as("n_phone"),
    regexp_count(text, lit(TrainPrep.Ipv4Re)).cast("long").as("n_ip"))

  /** URL host, RE2-safe (same value as parse_url(url,'HOST') for these
    * shapes; the regex spelling keeps cross-engine parity).
    */
  def hostOf(url: Column): Column =
    regexp_extract(url, "^[a-z]+://([^/:?#]+)", 1)

  /** First-failing-rule quality verdict: length bounds, mean word length
    * band, bigram-repetition cap — or 'ok'. All signals are expressions
    * over the text column; one scan, no joins.
    */
  def qualityVerdict(
      text: Column,
      minTokens: Int,
      maxTokens: Int,
      minMeanLen: Double,
      maxMeanLen: Double,
      maxDupFrac: Double,
  ): Column = {
    val toks    = size(split(text, " "))
    // toks >= 2 guard: with one token, sequence(1, 0) produces a
    // DESCENDING [1, 0] and slice(_, 0, 2) throws at runtime. Current
    // oracle-pinned callers can't reach it (the minTokens branch fires
    // first), but the facade accepts arbitrary parameters — a 1-token doc
    // is definitionally non-repetitive, so dupFrac degrades to 0.
    // zip_with over shifted slices, not transform(sequence): this is a
    // Column facade (no frame to materialize a token attribute into), and
    // a transform lambda capturing the inline split() re-evaluates it per
    // ELEMENT (the r13 x87 lesson). zip_with's lambda touches only its
    // two element arguments, so split() evaluates a constant number of
    // times per row.
    val w = split(text, " ")
    val grams = when(
      toks >= 2,
      zip_with(
        slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
        (a, b) => concat(a, lit(" "), b)))
      .otherwise(array().cast("array<string>"))
    val meanLen = (length(text) - toks + 1).cast("double") / toks
    val dupFrac = when(
      toks >= 2,
      lit(1.0) - size(array_distinct(grams)).cast("double") / (toks - 1))
      .otherwise(lit(0.0))
    when(toks < minTokens, "too_short")
      .when(toks > maxTokens, "too_long")
      .when(meanLen < minMeanLen || meanLen > maxMeanLen, "word_length")
      .when(dupFrac > maxDupFrac, "repetitive")
      .otherwise("ok")
  }

  /** Corpus-wide top-k word n-grams by document frequency — the
    * boilerplate-list builder. Map-side-combined count, top-k via
    * TakeOrderedAndProject (no global sort).
    */
  def boilerplateGrams(df: DataFrame, idCol: String, textCol: String, n: Int, k: Int): DataFrame =
    wordGrams(df, idCol, textCol, n)
      .groupBy(col("sh").as("gram"))
      .agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("gram"))
      .limit(k)

  /** Materialize packBins assignments into shard content: one row per
    * (strata..., bin) with the member docs' text concatenated in
    * `orderCol` order — what a training loader actually reads. The
    * in-bin ordering is recovered with sort_array over collected
    * (order, text) structs, so the result is deterministic under any
    * shuffle placement; one aggregation shuffle on (strata, bin).
    */
  def packShards(
      df: DataFrame,
      strata: Seq[String],
      tokensCol: String,
      orderCol: String,
      textCol: String,
      window: Int,
  ): DataFrame =
    packBins(df, strata, tokensCol, orderCol, window)
      .groupBy((strata :+ "bin").map(col): _*)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col(tokensCol)).as("shard_tokens"),
        array_join(
          transform(
            array_sort(collect_list(struct(col(orderCol), col(textCol)))),
            s => s.getField(textCol)),
          " ").as("shard_text"))

  /** Materialize [[packShards]] to disk as the dataset a training loader
    * mounts: parquet partitioned by the strata columns (so a loader
    * reading one (lang, split) touches only that directory — partition
    * pruning, no full scan), one file per stratum (the repartition on the
    * strata key lands each stratum in exactly one task — the writer-side
    * equivalent of running [[Maintenance.compact]] after an incremental
    * append), each row carrying `shard_hash` = md5(shard_text) so a reader
    * can verify shard bytes end-to-end without re-deriving the packing.
    * Returns the frame whose CONTENT was written (including the hash):
    * unmaterialized lineage, so a downstream use RECOMPUTES the packing
    * (deterministically — same rows as on disk) rather than reading the
    * parquet back; use `spark.read.parquet(path)` for a true as-written
    * view that costs a scan instead of the pipeline.
    */
  def writeShards(
      df: DataFrame,
      strata: Seq[String],
      tokensCol: String,
      orderCol: String,
      textCol: String,
      window: Int,
      path: String,
  ): DataFrame = {
    val shards = packShards(df, strata, tokensCol, orderCol, textCol, window)
      .withColumn("shard_hash", md5(col("shard_text")))
    shards
      .repartition(strata.map(col): _*)
      .write.mode("overwrite").partitionBy(strata: _*).parquet(path)
    shards
  }

  /** One row per cluster: the member with the highest `qualityCol` (id as
    * deterministic tiebreak), plus cluster size. `labeled` carries
    * (idCol, qualityCol, componentCol). `idCol` must be numeric (the
    * tiebreak negates it for an ascending-id preference inside max_by).
    */
  def canonicalPerCluster(
      labeled: DataFrame,
      componentCol: String,
      idCol: String,
      qualityCol: String,
  ): DataFrame =
    labeled
      .groupBy(componentCol)
      .agg(
        // typed Column form, not a string expr: survives column names that
        // need quoting and fails at analysis with a real error for
        // non-numeric ids
        max_by(col(idCol), struct(col(qualityCol), negate(col(idCol)))).as("canonical_doc"),
        max(col(qualityCol)).as(qualityCol),
        count(lit(1)).as("n_members"))

  /** Word bigrams per document WITH multiplicity (unlike [[wordGrams]],
    * which is distinct-shingle shaped): one (idCol, bg) row per adjacent
    * token pair. Pure map-side explode; the `size >= 2` guard keeps
    * one-token documents from producing a descending `sequence(1, 0)`
    * (the exact single-symbol crash fixed in bpeTrain — r12 ADVICE).
    */
  private def bigramRows(
      df: DataFrame, idCol: String, textCol: String, keepCols: Seq[String] = Nil): DataFrame = {
    // Tokenize into an ATTRIBUTE first, then pair via zip_with over two
    // shifted slices. The obvious `transform(sequence(1, n-1),
    // i => concat(element_at(toks, i), ...))` form re-evaluates split()
    // per lambda element — O(tokens² · chars) per document, measured 6x
    // slower at sf0.1 (the x8_fingerprint substr lesson, higher-order
    // edition). The `size >= 2` guard keeps one-token documents from
    // producing a negative-length slice.
    val keys = (idCol +: keepCols).map(col)
    val w    = col("__w")
    val bgs = when(
      size(w) >= 2,
      zip_with(
        slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
        (a, b) => concat(a, lit(" "), b)))
      .otherwise(array().cast("array<string>"))
    df.select(keys :+ split(col(textCol), " ").as("__w"): _*)
      .select(keys :+ explode(bgs).as("bg"): _*)
  }

  /** CCNet-style language-model quality scoring: train an add-one-smoothed
    * bigram LM on a trusted reference slice, score each document by its
    * mean negative log-likelihood (the perplexity proxy CCNet thresholds
    * on — low = in-domain fluent text, high = boilerplate/noise/OOD).
    * Returns (idCol, n_bigrams, avg_nll) with avg_nll rounded to 6dp.
    *
    * PRECONDITION: a document needs >= 2 tokens to be scorable — mean NLL
    * over zero bigrams is undefined, so <2-token docs produce NO output
    * row (callers that must keep the token-poor tail should route it
    * through a length gate first — x24's heuristics are the filter that
    * tail actually needs; contrast [[dsirSelect]], whose estimator
    * defines empty-feature docs as log-weight 0 and keeps them).
    *
    * Model: P(w2|w1) = (c(w1 w2) + 1) / (c(w1 ·) + V), with the bigram
    * table PRUNED to the `topK` most frequent bigrams (count-desc, bigram
    * tiebreak — the pruned-LM shape every production scorer ships; a
    * pruned-away bigram scores as unseen). Context counts and V (distinct
    * reference unigrams) stay unpruned — they are vocab-sized, not
    * vocab²-sized.
    *
    * Scale (100 TB): the reference pass is two map-side-combined
    * aggregates; the pruned model is `topK` rows BY CONSTRUCTION, so its
    * probe join is safely broadcast-PINNED (fixed cardinality — the r10
    * de-pinning rule allows exactly this class); the context join is left
    * to AQE (contexts are vocab-sized: usually broadcastable, not
    * guaranteed); scoring is one doc-grain aggregate. Top-K selection is
    * `orderBy.limit` (TakeOrdered — no single-partition window sort).
    */
  /** The FROZEN artifacts of the bigram quality LM, trained once on the
    * reference slice: (pruned model map, context-count frame, vocabulary
    * size). Splitting the train from the score is what lets the same
    * model serve a batch corpus (x87) and a stream (x92) — the serving
    * side is a pure expression chain plus one vocab-sized static join.
    */
  private[graft] def lmModel(
      ref: DataFrame, idCol: String, textCol: String, topK: Int,
  ): (Map[String, Long], DataFrame, Double) = {
    // ONE reference-corpus pass: the bigram-count aggregate feeds the
    // pruned model, the context counts, AND the vocabulary size — all
    // vocab-sized derivations of this checkpoint, never corpus re-reads.
    val refBg = bigramRows(ref, idCol, textCol)
      .groupBy("bg").agg(count(lit(1)).as("cb"))
      .localCheckpoint()
    // the pruned model is topK rows BY CONSTRUCTION -> driver-collected
    // literal map (the bounded-codebook-seed pattern: element_at on a map
    // literal stays inside codegen; a broadcast join here is a whole extra
    // job + build relation for 256 entries)
    val model: Map[String, Long] = refBg
      .orderBy(col("cb").desc, col("bg")).limit(topK)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(model.nonEmpty, "lmQuality: reference corpus produced no bigrams")
    val ctx = refBg
      .groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum("cb").as("cu"))
    // V = distinct words observed in reference bigrams (every token of a
    // >=2-token document appears in one) — a tiny scan of the checkpoint
    val v = refBg
      .select(explode(array(
        substring_index(col("bg"), " ", 1),
        substring_index(col("bg"), " ", -1))).as("w"))
      .agg(countDistinct("w")).collect()(0).getLong(0).toDouble
    (model, ctx, v)
  }

  /** Score `docs` under a frozen LM: (idCol, n_bigrams, avg_nll@6dp). */
  private[graft] def lmScore(
      docs: DataFrame, idCol: String, textCol: String,
      model: Map[String, Long], ctx: DataFrame, v: Double,
  ): DataFrame =
    bigramRows(docs, idCol, textCol)
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(ctx, Seq("w1"), "left") // vocab-sized: AQE broadcasts when it fits
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_bigrams"),
        round(
          sum(log(coalesce(col("cu"), lit(0L)) + lit(v)) -
            log(coalesce(element_at(typedlit(model), col("bg")), lit(0L)) + lit(1L)))
            / count(lit(1)),
          6).as("avg_nll"))

  def lmQuality(
      docs: DataFrame,
      ref: DataFrame,
      idCol: String,
      textCol: String,
      topK: Int,
  ): DataFrame = {
    val (model, ctx, v) = lmModel(ref, idCol, textCol, topK)
    lmScore(docs, idCol, textCol, model, ctx, v)
  }

  /** DSIR (Data Selection via Importance Resampling, Xie et al. 2023):
    * hashed-bigram importance weights target a distribution, Gumbel-top-k
    * turns the weights into a reproducible SAMPLE (not a hard top-k — the
    * published estimator samples ∝ exp(weight), which the Gumbel-max trick
    * realizes exactly; the uniform comes from a salted md5 hash of the doc
    * id, so the "randomness" is deterministic across runs, retries, and
    * engines). Returns the selected n as (sel_rank, idCol, log_weight).
    *
    * Weight: each document's hashed-bigram bucket counts k_b scored
    * against add-one-smoothed bucket distributions, log w(doc) =
    * Σ_b k_b·(ln p_target(b) − ln p_raw(b)). `buckets` bounds BOTH
    * distribution tables at B rows regardless of corpus size — that bound
    * is the whole point of hashed features, and it is what makes the two
    * probe joins safely broadcast-pinned.
    *
    * Scale (100 TB): one explode + one (doc, bucket) aggregate; two B-row
    * broadcast probes; one doc-grain aggregate; final selection is
    * `orderBy.limit` (TakeOrdered). The rank ordering key is the ROUNDED
    * score (6dp) with an id tiebreak, so cross-engine ulp drift cannot
    * reorder the selection boundary.
    */
  def dsirSelect(
      docs: DataFrame,
      isTarget: Column,
      idCol: String,
      textCol: String,
      buckets: Int,
      n: Int,
  ): DataFrame = {
    // ONE corpus pass: (doc, targetFlag, bucket) counts, checkpointed —
    // both bucket distributions and the per-doc scoring read this, never
    // the corpus again.
    val dbg = bigramRows(docs.withColumn("__t", isTarget), idCol, textCol, Seq("__t"))
      .withColumn("b", hashBucket(col("bg"), "dsir|", buckets))
      .groupBy(col(idCol), col("__t"), col("b")).agg(count(lit(1)).as("k"))
      .localCheckpoint()
    // both distributions in ONE vocab-sized aggregate; <= `buckets` rows BY
    // CONSTRUCTION -> driver-collected literal maps (the bounded-codebook
    // pattern — element_at on a map literal needs no join at all)
    val dist = dbg
      .groupBy("b")
      .agg(
        sum("k").as("cr"),
        sum(when(col("__t"), col("k")).otherwise(0L)).as("ct"))
      .collect()
    val crMap = dist.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ctMap = dist.map(r => r.getLong(0) -> r.getLong(2)).toMap
    val nr    = crMap.values.sum.toDouble
    val nt    = ctMap.values.sum.toDouble
    val lwBg = dbg
      .groupBy(idCol)
      .agg(sum(col("k") * (
        log((coalesce(element_at(typedlit(ctMap), col("b")), lit(0L)) + lit(1.0)) / lit(nt + buckets)) -
          log((coalesce(element_at(typedlit(crMap), col("b")), lit(0L)) + lit(1.0)) / lit(nr + buckets))))
        .as("lw"))
    // The published estimator keeps EMPTY-FEATURE documents sampleable at
    // log-weight 0 (Σ over zero buckets): a <2-token doc produces no
    // bigram rows, so left-join the full doc-id set back on and coalesce —
    // without this the token-poor tail silently drops out of the pool.
    val lw = docs.select(col(idCol))
      .join(lwBg, Seq(idCol), "left")
      .withColumn("lw", coalesce(col("lw"), lit(0.0)))
    val u = (hashBucket(col(idCol), "g|", 16777216).cast("double") + lit(0.5)) / lit(16777216.0)
    val scored = lw.select(
      col(idCol),
      round(col("lw"), 6).as("log_weight"),
      round(col("lw") - log(-log(u)), 6).as("__score"))
    val sel = scored.orderBy(col("__score").desc, col(idCol)).limit(n)
    sel
      .withColumn("sel_rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("__score").desc, col(idCol))))
      .select(col("sel_rank"), col(idCol), col("log_weight"))
  }
}
