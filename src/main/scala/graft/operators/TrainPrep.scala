package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Training-data preparation registry rows (builder contract, §2.12
  * extension family): deterministic stratified sampling + train/val/test
  * splitting, sequence packing (concat-and-chunk), eval-set
  * decontamination, PII redaction, domain blocklisting, boilerplate
  * mining, canonical-per-cluster selection, and quality verdicts. The
  * reusable library surface lives in [[Curation]]; each Q row here pins a
  * Curation function to the DuckDB oracle with the test corpus's
  * parameters.
  *
  * Scale design (100 TB): every op here is a map-side expression or a
  * single keyed shuffle —
  *  - sampling/splitting is a pure per-row hash decision (no shuffle, no
  *    `rand()`: reruns and retried tasks get identical assignments, which
  *    is what makes a 100 TB split reproducible);
  *  - packing is one window over (stratum, position) — one shuffle on the
  *    stratum key;
  *  - decontamination shuffles the corpus shingles once against a
  *    broadcast eval-shingle set.
  *
  * All three are oracle-checked: hash decisions use the md5-nibble
  * integer family (the x3b/x4b/x10b bridge trick), so DuckDB reproduces
  * every bucket bit-for-bit.
  */
object TrainPrep {

  /** DuckDB rendering of Curation.hashBucket's pre-mod value (nibble
    * positional sum — DuckDB has no hex->int cast that is guaranteed
    * across versions).
    */
  private[operators] def md5BucketSql(s: String): String =
    (0 until 6)
      .map(j => s"(strpos('0123456789abcdef', substr(md5($s), ${j + 1}, 1)) - 1) * ${math.pow(16, 5 - j).toLong}")
      .mkString("(", " + ", ")")

  val x14_stratified_sample = Q(
    "x14_stratified_sample",
    s"""WITH d AS (
       |  SELECT lang,
       |         ${md5BucketSql("'s|' || CAST(doc_id AS VARCHAR)")} % 100 AS keep_bucket,
       |         ${md5BucketSql("'p|' || CAST(doc_id AS VARCHAR)")} % 10  AS split_bucket,
       |         doc_id,
       |         len(string_split(text, ' ')) AS tokens
       |  FROM documents),
       |kept AS (
       |  SELECT lang, doc_id, tokens,
       |         CASE WHEN split_bucket < 8 THEN 'train'
       |              WHEN split_bucket = 8 THEN 'val' ELSE 'test' END AS split
       |  FROM d
       |  WHERE keep_bucket < (CASE WHEN lang = 'en' THEN 25 ELSE 75 END))
       |SELECT lang, split, count(*) AS n_docs,
       |       CAST(sum(tokens) AS BIGINT) AS sum_tokens,
       |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM kept GROUP BY lang, split ORDER BY lang, split""".stripMargin,
  ) { t =>
    // Deterministic stratified sampling + split assignment, the first step
    // of corpus curation: downsample over-represented strata (here: en to
    // 25%, the rest to 75%) and deal docs into train/val/test 80/10/10 —
    // BOTH from salted content-independent hashes of the stable doc key,
    // so membership is reproducible across runs, engines, and retried
    // tasks (`rand()` is none of those), and the two decisions are
    // independent (different salts). Pure map-side: the only shuffle is
    // the reporting aggregation.
    Curation
      .sampleByHash(t.documents, col("doc_id"), when(col("lang") === "en", 25).otherwise(75))
      .select(
        col("lang"),
        Curation.assignSplit(col("doc_id")).as("split"),
        col("doc_id"),
        Curation.tokenCount(col("text")).as("tokens"))
      .groupBy("lang", "split")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("tokens")).as("sum_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("lang", "split")
  }

  val x15_sequence_packing = Q(
    "x15_sequence_packing",
    """WITH d AS (
      |  SELECT lang, doc_id, len(string_split(text, ' ')) AS tokens FROM documents),
      |c AS (
      |  SELECT lang, doc_id, tokens,
      |         SUM(tokens) OVER (PARTITION BY lang ORDER BY doc_id
      |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM d),
      |b AS (SELECT lang, doc_id, tokens, (cum - tokens) // 512 AS bin FROM c)
      |SELECT lang, CAST(bin AS BIGINT) AS bin, count(*) AS n_docs,
      |       CAST(sum(tokens) AS BIGINT) AS bin_tokens,
      |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM b GROUP BY lang, bin ORDER BY lang, bin""".stripMargin,
  ) { t =>
    // Sequence packing, concat-and-chunk form (the GPT-style pretraining
    // layout): per stratum (lang), documents are concatenated in stable
    // doc_id order and cut into fixed 512-token context windows; a doc's
    // bin is the window its first token lands in. One window function =
    // one shuffle on the stratum key; the running sum is integer-exact so
    // both engines agree bit-for-bit. (True greedy bin-packing — capacity
    // resets per bin — is sequential by nature; concat-and-chunk is the
    // standard scalable approximation and what training loaders actually
    // consume.) doc_id is unique, so the window order is total.
    // integer `div` inside packBins, not `/` (double division would
    // round, not floor)
    Curation.packBins(
        t.documents.select(
          col("lang"), col("doc_id"),
          Curation.tokenCount(col("text")).as("tokens")),
        Seq("lang"), "tokens", "doc_id", 512)
      .groupBy("lang", "bin")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("tokens")).as("bin_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("lang", "bin")
  }

  val x16_decontamination = Q(
    "x16_decontamination",
    """WITH ev AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 50 = 11),
      |evsh AS (
      |  SELECT DISTINCT array_to_string(w[i:i+7], ' ') AS sh FROM (
      |    SELECT w, unnest(generate_series(1, len(w) - 7)) AS i
      |    FROM (SELECT string_split(text, ' ') AS w FROM ev))),
      |tr AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 11),
      |trsh AS (
      |  SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS sh FROM (
      |    SELECT doc_id, w, unnest(generate_series(1, len(w) - 7)) AS i
      |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM tr)))
      |SELECT t.doc_id, count(*) AS n_hits
      |FROM trsh t JOIN evsh e ON t.sh = e.sh
      |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,
  ) { t =>
    // Eval-set decontamination: flag training docs sharing any word
    // 8-gram with a held-out eval set (here: doc_id % 50 == 11 as the
    // stand-in benchmark — a residue class the synthetic corpus actually
    // has cross-set overlap for at every sf), reporting the
    // overlapping-shingle count per contaminated doc. The eval shingle set is tiny relative to the
    // corpus — it BROADCASTS, so the corpus-side shingle explode never
    // shuffles: each task probes the hash set locally and only the
    // per-doc hit counts aggregate. At 100 TB that is the only viable
    // shape (shuffling corpus shingles on the join key would move the
    // whole exploded corpus); n-gram width 8 keeps incidental overlap
    // near zero, the standard decontamination setting.
    val eval  = t.documents.filter(col("doc_id") % 50 === 11)
    val train = t.documents.filter(col("doc_id") % 50 =!= 11)
    Curation.decontaminate(train, eval, "doc_id", "text", 8)
      .orderBy("doc_id")
  }

  val x79_fuzzy_decontam = Q(
    "x79_fuzzy_decontam",
    """WITH ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 11),
      |tr AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 50 <> 11),
      |evsh AS (SELECT DISTINCT doc_id AS ev_id, array_to_string(w[i:i+4], ' ') AS sh FROM (
      |  SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS i
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM ev))),
      |trsh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS sh FROM (
      |  SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS i
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM tr))),
      |evsz AS (SELECT ev_id, count(*) AS n FROM evsh GROUP BY 1),
      |trsz AS (SELECT doc_id, count(*) AS n FROM trsh GROUP BY 1),
      |inter AS (SELECT t.doc_id, e.ev_id, count(*) AS c
      |          FROM trsh t JOIN evsh e USING (sh) GROUP BY 1, 2),
      |j AS (SELECT i.doc_id, CAST(c AS DOUBLE) / (ts.n + es.n - c) AS jac
      |      FROM inter i JOIN trsz ts ON ts.doc_id = i.doc_id
      |                   JOIN evsz es ON es.ev_id = i.ev_id),
      |fl AS (SELECT doc_id, count(*) AS n_eval_matches, max(jac) AS best_jaccard
      |       FROM j WHERE jac >= 0.5 GROUP BY doc_id)
      |SELECT f.doc_id, t.lang, f.n_eval_matches, f.best_jaccard
      |FROM fl f JOIN tr t ON t.doc_id = f.doc_id
      |ORDER BY f.doc_id""".stripMargin,
  ) { t =>
    // Fuzzy (near-dup-grain) decontamination — the leak x16's exact n-gram
    // containment misses: a PARAPHRASED benchmark document shares few exact
    // 8-grams with its training twin but sits at high shingle Jaccard. A
    // training doc is contaminated when its word-5-gram Jaccard against any
    // eval doc reaches 0.5 (the near-dup threshold of the x26 curation
    // flagship). Cross-set, never self-join: candidate volume is
    // |corpus ∩ eval| shingle matches, not corpus², and only matches reach
    // the exchange. Reported per contaminated doc with its match count and
    // best score — the audit artifact a decontamination run files.
    val eval  = t.documents.filter(col("doc_id") % 50 === 11)
    val train = t.documents.filter(col("doc_id") % 50 =!= 11)
    Curation.fuzzyDecontaminate(train, eval, "doc_id", "text", 5, 0.5)
      .join(t.documents.select("doc_id", "lang"), Seq("doc_id"))
      .select("doc_id", "lang", "n_eval_matches", "best_jaccard")
      .orderBy("doc_id")
  }

  /** x80's oracle: the identical 12-round merge trajectory as chained
    * DuckDB CTEs. `AS MATERIALIZED` is load-bearing — each round references
    * the previous round's table twice (pair counting + replacement), so
    * inlined CTEs re-expand the base scan 2^k times ("too many open files"
    * at k=12, measured); materialization makes the replay linear in k.
    */
  private def bpeOracleSql(k: Int, finalSelect: String): String = {
    val rounds = (1 to k).map { r =>
      s"""p$r AS MATERIALIZED (
         |  SELECT s[i] || ' ' || s[i+1] AS pair, CAST(sum(n) AS BIGINT) AS cnt
         |  FROM (SELECT string_split(trim(seq), ' ') AS s, n FROM q${r - 1}),
         |       unnest(generate_series(1, len(s) - 1)) t(i)
         |  GROUP BY 1),
         |t$r AS MATERIALIZED (SELECT pair, cnt FROM p$r ORDER BY cnt DESC, pair LIMIT 1),
         |q$r AS MATERIALIZED (
         |  SELECT word, replace(seq, ' ' || (SELECT pair FROM t$r),
         |           ' ' || replace(split_part((SELECT pair FROM t$r), ' ', 1), '|', '') ||
         |           split_part((SELECT pair FROM t$r), ' ', 2)) AS seq, n
         |  FROM q${r - 1})""".stripMargin
    }
    s"""WITH words AS MATERIALIZED (
       |  SELECT w AS word, count(*) AS n
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE len(w) >= 2 AND w NOT LIKE '%|%' GROUP BY 1),
       |q0 AS MATERIALIZED (
       |  SELECT word, ' ' || array_to_string(list_transform(regexp_split_to_array(word, ''), c -> c || '|'), ' ') AS seq, n
       |  FROM words),
       |${rounds.mkString(",\n")}
       |$finalSelect""".stripMargin
  }

  private def bpeMergesSelect(k: Int): String = {
    val unions = (1 to k).map { r =>
      s"""SELECT $r AS round, replace(split_part(pair, ' ', 1), '|', '') AS left_sym,
         |       replace(split_part(pair, ' ', 2), '|', '') AS right_sym,
         |       cnt AS pair_count FROM t$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""SELECT * FROM (
       |$unions) ORDER BY round""".stripMargin
  }

  val x80_bpe_merges = Q.instrument(
    "x80_bpe_merges",
    bpeOracleSql(12, bpeMergesSelect(12)),
  ) { t =>
    // Tokenizer induction: the first 12 BPE merge rules learned from the
    // corpus, engine-exact (weighted pair counts are integers, ties break
    // on the pair string). 12 rounds reach REAL recursive merges on this
    // corpus — later rounds merge previously-merged symbols ('p'+'ar',
    // 'jo'+'in'), exercising the multi-symbol path, not just char pairs.
    // INSTRUMENT since x80b landed: this distributed k-round loop exists
    // to give DuckDB a bit-identical merge trajectory (12 driver rounds ×
    // localCheckpoint — the md5-bridge trade of speed for cross-engine
    // determinism); the PRODUCTION trainer is x80b's collected path
    // (Curation.bpeTrainCollected — one corpus pass, k merges driver-local).
    Curation.bpeMerges(t.documents, "text", 12)
  }

  val x80b_bpe_local = Q(
    "x80b_bpe_local",
    bpeOracleSql(12, bpeMergesSelect(12)),
  ) { t =>
    // The realistic-k trainer (Curation.bpeTrainCollected): one corpus
    // pass collects the weighted vocab, the merge loop runs driver-local
    // over an occurrence-indexed incremental pair count. SAME oracle as
    // x80 — the two engines' trajectories must be bit-identical at k=12;
    // what this path buys is k=1024 costing one corpus pass instead of
    // 1024 Spark jobs (SCALE.md).
    Curation.bpeMergesLocal(t.documents, "text", 12)
  }

  val x81_bpe_encode = Q(
    "x81_bpe_encode",
    bpeOracleSql(12,
      """,enc AS MATERIALIZED (
        |  SELECT word, CAST(len(string_split(trim(seq), ' ')) AS INT) AS n_tokens FROM q12),
        |perw AS (
        |  SELECT lang, w AS word, count(*) AS cnt
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY 1, 2)
        |SELECT lang,
        |       CAST(sum(cnt) AS BIGINT) AS ws_tokens,
        |       CAST(sum(cnt * COALESCE(n_tokens, 1)) AS BIGINT) AS bpe_tokens,
        |       CAST(sum(cnt * COALESCE(n_tokens, 1)) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) AS tokens_per_word
        |FROM perw LEFT JOIN enc USING (word)
        |GROUP BY lang ORDER BY lang""".stripMargin),
  ) { t =>
    // The ENCODE side: tokenize the whole corpus under the 12 learned
    // merges and report per-lang whitespace-vs-BPE token counts — the
    // vocab-fertility audit a tokenizer run files. The 100 TB plan shape
    // is the point: merges are applied ONCE over the vocab table
    // (Curation.bpeTokenCountsLocal), the corpus reduces to (lang, word, cnt)
    // grain with map-side combine, and tokenization is a single join
    // against the vocab-sized map — the corpus is never re-processed per
    // merge rule. Words outside the trained vocab (length < 2) count as
    // one token, mirrored in the oracle's COALESCE. No broadcast pin on
    // the vocab map: it grows with the corpus; AQE decides (it broadcasts
    // at every tested scale). The vocab map comes from the driver-local
    // trainer (bpeTokenCountsLocal) — the realistic-k path; x80/x80b pin
    // its equivalence to the distributed per-round loop.
    val enc = Curation.bpeTokenCountsLocal(t.documents, "text", 12)
    t.documents
      .select(col("lang"), explode(split(col("text"), " ")).as("word"))
      .groupBy("lang", "word").agg(count(lit(1)).as("cnt"))
      .join(enc, Seq("word"), "left")
      .groupBy("lang")
      .agg(
        sum(col("cnt")).as("ws_tokens"),
        sum(col("cnt") * coalesce(col("n_tokens").cast("long"), lit(1L))).as("bpe_tokens"))
      .select(
        col("lang"), col("ws_tokens"), col("bpe_tokens"),
        (col("bpe_tokens").cast("double") / col("ws_tokens").cast("double")).as("tokens_per_word"))
      .orderBy("lang")
  }

  val x19_curation_pipeline = Q(
    "x19_curation_pipeline",
    s"""WITH corpus AS (
       |  SELECT * FROM documents
       |  WHERE doc_id % 50 <> 11
       |    AND source NOT IN ('src3', 'src7', 'src11', 'src16')),
       |ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 11),
       |dedup AS (
       |  SELECT doc_id, lang, text FROM (
       |    SELECT doc_id, lang, text,
       |           row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
       |    FROM corpus) WHERE rn = 1),
       |q AS (
       |  SELECT doc_id, lang, text, len(string_split(text, ' ')) AS tokens
       |  FROM dedup WHERE len(string_split(text, ' ')) >= 20),
       |bg AS (
       |  SELECT doc_id, array_to_string(w[i:i+1], ' ') AS g FROM (
       |    SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
       |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM q))),
       |dupf AS (
       |  SELECT doc_id, round(1.0 - CAST(count(DISTINCT g) AS DOUBLE) / count(*), 6) AS dup_frac
       |  FROM bg GROUP BY doc_id),
       |q2 AS (SELECT q.* FROM q JOIN dupf USING (doc_id) WHERE dupf.dup_frac <= 0.10),
       |evsh AS (
       |  SELECT DISTINCT array_to_string(w[i:i+7], ' ') AS sh FROM (
       |    SELECT w, unnest(generate_series(1, len(w) - 7)) AS i
       |    FROM (SELECT string_split(text, ' ') AS w FROM ev))),
       |qsh AS (
       |  SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS sh FROM (
       |    SELECT doc_id, w, unnest(generate_series(1, len(w) - 7)) AS i
       |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM q2))),
       |contam AS (SELECT DISTINCT t.doc_id FROM qsh t JOIN evsh e ON t.sh = e.sh),
       |clean AS (SELECT * FROM q2 WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
       |sampled AS (
       |  SELECT doc_id, lang, tokens,
       |         CASE WHEN ${md5BucketSql("'p|' || CAST(doc_id AS VARCHAR)")} % 10 < 8 THEN 'train'
       |              WHEN ${md5BucketSql("'p|' || CAST(doc_id AS VARCHAR)")} % 10 = 8 THEN 'val'
       |              ELSE 'test' END AS split
       |  FROM clean
       |  WHERE ${md5BucketSql("'s|' || CAST(doc_id AS VARCHAR)")} % 100 < 75),
       |packed AS (
       |  SELECT lang, split, doc_id, tokens,
       |         (SUM(tokens) OVER (PARTITION BY lang, split ORDER BY doc_id
       |                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |          - tokens) // 512 AS bin
       |  FROM sampled)
       |SELECT lang, split, count(*) AS n_docs,
       |       CAST(sum(tokens) AS BIGINT) AS sum_tokens,
       |       CAST(max(bin) + 1 AS BIGINT) AS n_bins
       |FROM packed GROUP BY lang, split ORDER BY lang, split""".stripMargin,
  ) { t =>
    // The FLAGSHIP composition: the full curation chain a pretraining
    // corpus goes through, as ONE oracle-checked dataflow —
    //   source blocklist -> holdout -> exact dedup -> quality gates ->
    //   decontamination -> hash sample + split -> sequence packing ->
    //   reporting
    // (the blocklist is x21's source gate applied at the source column —
    // the host mapping is 1:1 — so blocked domains never reach dedup;
    // (thresholds from the measured corpus: tokens >= 20 drops ~p10,
    // dup_bigram <= 0.10 drops ~p99 outliers). Stage plans are the
    // individually-verified x-row shapes (a5 dedup as a keyed window,
    // x17's gram exprs, x16's broadcast anti-join, x14's salted buckets,
    // x15's packing window); each stage's output feeds the next with no
    // driver round-trips, so at 100 TB this is one pipelined job: two
    // window shuffles (hash, stratum), one histogram-free quality scan,
    // one broadcast anti-join, one final aggregation.
    val toks = split(col("text"), " ")
    val corpus = t.documents
      .filter(col("doc_id") % 50 =!= 11)
      .filter(!col("source").isin("src3", "src7", "src11", "src16"))
    val eval   = t.documents.filter(col("doc_id") % 50 === 11)
    // 1. exact dedup: canonical copy = min doc_id per content hash.
    // groupBy(hash).agg(min) + semi-join, NOT a window over the hash: the
    // window form shuffles every row's full text on the hash key; here
    // only (hash, doc_id) pairs cross the aggregation exchange (map-side
    // partial) and text moves at most once for the semi-join — which AQE
    // broadcasts at test scale and degrades to a doc_id-shuffled semi at
    // corpus scale (canonical ids are ~all ids, never forced broadcast).
    val canonicalIds = corpus
      .select(sha2(col("text"), 256).as("content_hash"), col("doc_id"))
      .groupBy("content_hash")
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val deduped = corpus.join(canonicalIds, Seq("doc_id"), "left_semi")
    // 2. quality gates (gram array referenced once — the x17 lesson).
    // localCheckpoint: the quality frame feeds BOTH the contamination
    // probe and the final anti-join; without it each consumer re-runs
    // dedup + the gram expressions (the x2 shared-lineage lesson; at
    // cluster scale this is the stage write between curation phases).
    // zip_with, not transform(sequence): a lambda capturing the inline
    // split() re-evaluates it per ELEMENT (the r13 x87 lesson)
    val grams = zip_with(
      slice(toks, lit(1), size(toks) - 1), slice(toks, lit(2), size(toks) - 1),
      (a, b) => concat(a, lit(" "), b))
    val quality = deduped
      .withColumn("tokens", size(toks).cast("long"))
      .filter(col("tokens") >= 20)
      .withColumn(
        "dup_frac",
        round(lit(1.0) - size(array_distinct(grams)).cast("double") / (col("tokens") - 1), 6))
      .filter(col("dup_frac") <= 0.10)
      .select("doc_id", "lang", "text", "tokens")
      .localCheckpoint()
    // 3. decontamination: drop docs overlapping the holdout on any 8-gram
    val contaminated = Curation.decontaminate(quality, eval, "doc_id", "text", 8)
      .select("doc_id")
    val clean = quality.join(contaminated, Seq("doc_id"), "left_anti")
    // 4. hash sample (75%) + train/val/test split (salted buckets, x14)
    val sampled = Curation
      .sampleByHash(clean, col("doc_id"), lit(75))
      .select(
        col("doc_id"), col("lang"), col("tokens"),
        Curation.assignSplit(col("doc_id")).as("split"))
    // 5. pack each (lang, split) stratum into 512-token windows (x15)
    Curation.packBins(sampled, Seq("lang", "split"), "tokens", "doc_id", 512)
      .groupBy("lang", "split")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("tokens")).as("sum_tokens"),
        (max(col("bin")) + 1).as("n_bins"))
      .orderBy("lang", "split")
  }

  // PII patterns shared by x20's engine and oracle sides. Written to the
  // RE2 ∩ java.util.regex common subset (no lookaround, no backrefs) so the
  // exact same pattern string runs in both engines. private[graft] so the
  // redaction property test drives the identical patterns + order.
  private[graft] val EmailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private[graft] val Ipv4Re  = """\b(\d{1,3}\.){3}\d{1,3}\b"""
  // trailing \b: a "phone" whose last group runs on into more digits is
  // not a phone — and, more important, without it the phone pass could
  // bite a 4-digit prefix out of a longer digit run and leave an
  // IP-shaped remnant that only becomes boundary-visible after
  // replacement (found by the redaction property test; e.g.
  // "+1-415-555-00255.2.5.2"). With \b the email→IP→phone chain is a
  // fixpoint: no pass can create a match for a later-or-same pass.
  private[graft] val PhoneRe = """\+\d{1,2}-\d{3}-\d{3}-\d{4}\b"""

  /** The x20 redaction as a plain-JVM function: same patterns, same order
    * (email → IP → phone) as the Column form — java.util.regex is the
    * exact engine Spark's regexp_replace runs, so properties proven here
    * hold for the query.
    */
  private[graft] def redactPii(s: String): String =
    s.replaceAll(EmailRe, "[EMAIL]").replaceAll(Ipv4Re, "[IP]").replaceAll(PhoneRe, "[PHONE]")

  val x20_pii_redact = Q(
    "x20_pii_redact",
    s"""WITH raw AS (
       |  SELECT doc_id,
       |         text
       |           || CASE WHEN doc_id % 3 = 0
       |                   THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.org'
       |                   ELSE '' END
       |           || CASE WHEN doc_id % 5 = 0
       |                   THEN ' call +1-415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |                   ELSE '' END
       |           || CASE WHEN doc_id % 7 = 0
       |                   THEN ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.3.' || CAST(doc_id % 250 AS VARCHAR)
       |                   ELSE '' END AS text
       |  FROM documents)
       |SELECT doc_id,
       |       CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS n_email,
       |       CAST(len(regexp_extract_all(text, '$PhoneRe')) AS BIGINT) AS n_phone,
       |       CAST(len(regexp_extract_all(text, '$Ipv4Re'))  AS BIGINT) AS n_ip,
       |       regexp_replace(
       |         regexp_replace(
       |           regexp_replace(text, '$EmailRe', '[EMAIL]', 'g'),
       |           '$Ipv4Re', '[IP]', 'g'),
       |         '$PhoneRe', '[PHONE]', 'g') AS redacted
       |FROM raw ORDER BY doc_id""".stripMargin,
  ) { t =>
    // PII redaction, the curation step between quality filtering and
    // packing in a web-corpus pipeline: count and mask emails / phone
    // numbers / IPv4 addresses per document. Pure map-side (zero shuffle
    // until the presentation sort — at 100 TB this runs inside the same
    // scan stage as the quality gates). The synthetic corpus carries no
    // PII, so spans are injected deterministically from doc_id on BOTH
    // engine and oracle sides; the regex logic under test is real.
    // Replacement order matters only for overlap classes — IP before
    // phone, so a dotted-quad is never half-eaten by the phone pattern.
    val injected = concat(
      col("text"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"), lit("@mail.example.org")))
        .otherwise(""),
      when(col("doc_id") % 5 === 0,
        concat(lit(" call +1-415-555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise(""),
      when(col("doc_id") % 7 === 0,
        concat(lit(" from 10."), (col("doc_id") % 200).cast("string"), lit(".3."), (col("doc_id") % 250).cast("string")))
        .otherwise(""))
    t.documents
      .select(col("doc_id"), injected.as("text"))
      .select(
        Seq(col("doc_id")) ++ Curation.piiCounts(col("text")) :+
          Curation.redactPii(col("text")).as("redacted"): _*)
      .orderBy("doc_id")
  }

  val x21_domain_blocklist = Q(
    "x21_domain_blocklist",
    """WITH urls AS (
      |  SELECT doc_id, lang,
      |         'https://' || source || '.example.com/docs/' || CAST(doc_id AS VARCHAR) AS url
      |  FROM documents),
      |hosts AS (
      |  SELECT doc_id, lang,
      |         regexp_extract(url, '^[a-z]+://([^/:?#]+)', 1) AS host
      |  FROM urls),
      |block AS (SELECT * FROM (VALUES
      |  ('src3.example.com'), ('src7.example.com'), ('src11.example.com'),
      |  ('src16.example.com')) AS b(host))
      |SELECT h.host, CAST(h.host IN (SELECT host FROM block) AS BOOLEAN) AS blocked,
      |       count(*) AS n_docs, count(DISTINCT h.lang) AS n_langs
      |FROM hosts h
      |GROUP BY h.host, blocked ORDER BY h.host""".stripMargin,
  ) { t =>
    // Domain blocklist filtering (the C4/RefinedWeb source gate): derive
    // each document's URL host, classify it against a blocklist table, and
    // report per-host disposition. The blocklist is a genuinely separate
    // (tiny) table joined with an explicit broadcast LEFT join — at 100 TB
    // the corpus side never shuffles; every task probes the broadcast hash
    // set in place. Host extraction is the same RE2-safe regex in both
    // engines (DuckDB has no parse_url; a regex keeps the oracle exact —
    // Spark's parse_url(url,'HOST') produces the identical value here and
    // stays the production spelling for query-string URLs).
    val spark = t.documents.sparkSession
    import spark.implicits._
    val blocklist = Seq(
      "src3.example.com", "src7.example.com", "src11.example.com", "src16.example.com")
      .toDF("host").withColumn("blocked_hit", lit(true))
    t.documents
      .select(
        col("doc_id"), col("lang"),
        concat(lit("https://"), col("source"), lit(".example.com/docs/"), col("doc_id").cast("string")).as("url"))
      .withColumn("host", Curation.hostOf(col("url")))
      .join(broadcast(blocklist), Seq("host"), "left")
      .withColumn("blocked", coalesce(col("blocked_hit"), lit(false)))
      .groupBy("host", "blocked")
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("lang")).as("n_langs"))
      .orderBy("host")
  }

  val x22_boilerplate_ngrams = Q(
    "x22_boilerplate_ngrams",
    """WITH sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS sh FROM (
      |    SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
      |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)))
      |SELECT sh AS gram, count(*) AS doc_freq
      |FROM sh GROUP BY sh
      |ORDER BY doc_freq DESC, gram LIMIT 20""".stripMargin,
  ) { t =>
    // Corpus-wide boilerplate detection: the top-k word 3-grams by document
    // frequency — how navigation/footer/license boilerplate lists are built
    // before a removal pass. Distinct-per-doc first (a gram repeated inside
    // one doc counts once), then one partial-aggregated count shuffle on
    // the gram key, then top-k via TakeOrderedAndProject — the global sort
    // never materializes, so at 100 TB the only full-data movement is the
    // map-side-combined gram count. Deterministic total order: doc_freq
    // desc, gram asc.
    Curation.boilerplateGrams(t.documents, "doc_id", "text", 3, 20)
  }

  val x23_cluster_canonical = Q(
    "x23_cluster_canonical",
    """WITH comp AS (
      |  SELECT doc_id, doc_id - doc_id % 7 AS component FROM documents),
      |scored AS (
      |  SELECT c.component, d.doc_id, len(string_split(d.text, ' ')) AS tokens
      |  FROM comp c JOIN documents d USING (doc_id)),
      |ranked AS (
      |  SELECT component, doc_id, tokens,
      |         row_number() OVER (PARTITION BY component
      |                            ORDER BY tokens DESC, doc_id) AS rn,
      |         count(*) OVER (PARTITION BY component) AS n_members
      |  FROM scored)
      |SELECT CAST(component AS BIGINT) AS component, doc_id AS canonical_doc,
      |       CAST(tokens AS BIGINT) AS tokens, n_members
      |FROM ranked WHERE rn = 1 ORDER BY component""".stripMargin,
  ) { t =>
    // Canonical-document selection, the step that CONSUMES near-dup
    // clustering: given duplicate clusters (the real min-label
    // GraphOps.connectedComponents loop over the g7 chain edges, whose
    // component label has the closed form doc_id - doc_id % 7 the oracle
    // replays), keep the highest-quality member per cluster — max token
    // count, doc_id as the deterministic tiebreak. One shuffle on the
    // component key after the label join; max_by never materializes a
    // per-cluster sort. At 100 TB the cluster labels come off the dedup
    // pass and this is the single keyed aggregation that shrinks the
    // corpus to its canonical set.
    // LEFT join + coalesce inside clusterLabeledDocs: connectedComponents
    // only labels nodes that touch an edge, so an isolated doc (e.g. the
    // max doc_id when it's a multiple of 7 — no successor to reach it as
    // dst) has no label row; its singleton component is itself. An inner
    // join would silently drop it and diverge from the oracle's closed form.
    Curation.canonicalPerCluster(clusterLabeledDocs(t), "component", "doc_id", "tokens")
      .orderBy("component")
  }

  /** x96: duplicate-aware REWEIGHTING — soft dedup. Hard dedup (x23/x26)
    * drops copies; but when packing order, shard layout, or provenance
    * must be preserved, the curator instead keeps every copy and weights
    * it 1/|cluster| so the training distribution equals sampling ONE copy
    * per cluster in expectation (Σ weights = n_clusters; Σ eff_tokens =
    * the expected token mass of that sample — the spec pins the first
    * identity). The
    * weight column feeds the samplers (x14 stratified / x30 mixture /
    * x57 reservoir) unchanged. Clusters come from the REAL min-label CC
    * loop over the chain-edge graph (clusterLabeledDocs — the x23
    * machinery, singleton fallback included); one window over the
    * component key is the only added shuffle. The oracle replays the
    * chain component's closed form (doc_id − doc_id % 7).
    */
  val x96_softdedup_weights = Q(
    "x96_softdedup_weights",
    """WITH comp AS (
      |  SELECT doc_id, doc_id - doc_id % 7 AS component FROM documents),
      |scored AS (
      |  SELECT c.component, d.doc_id, len(string_split(d.text, ' ')) AS tokens
      |  FROM comp c JOIN documents d USING (doc_id)),
      |sized AS (
      |  SELECT component, doc_id, tokens,
      |         count(*) OVER (PARTITION BY component) AS cluster_size
      |  FROM scored)
      |SELECT CAST(component AS BIGINT) AS component, doc_id,
      |       CAST(cluster_size AS BIGINT) AS cluster_size,
      |       round(1.0 / cluster_size, 6) AS weight,
      |       round(CAST(tokens AS DOUBLE) / cluster_size, 6) AS eff_tokens
      |FROM sized ORDER BY doc_id""".stripMargin,
  ) { t =>
    val w = org.apache.spark.sql.expressions.Window.partitionBy("component")
    clusterLabeledDocs(t)
      .withColumn("cluster_size", count(lit(1)).over(w))
      .select(
        col("component").cast("long").as("component"), col("doc_id"),
        col("cluster_size"),
        round(lit(1.0) / col("cluster_size"), 6).as("weight"),
        round(col("tokens").cast("double") / col("cluster_size"), 6).as("eff_tokens"))
      .orderBy("doc_id")
  }

  val x24_quality_verdicts = Q(
    "x24_quality_verdicts",
    """WITH d AS (
      |  SELECT lang, text,
      |         len(string_split(text, ' ')) AS toks,
      |         CAST(len(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
      |           / len(string_split(text, ' ')) AS mean_len
      |  FROM documents),
      |bg AS (
      |  SELECT lang, text, toks, mean_len,
      |         (SELECT count(DISTINCT array_to_string(w[i:i+1], ' '))
      |          FROM (SELECT string_split(text, ' ') AS w) t,
      |               unnest(generate_series(1, len(w) - 1)) u(i)) AS uniq_bg
      |  FROM d),
      |v AS (
      |  SELECT lang,
      |         CASE WHEN toks < 25 THEN 'too_short'
      |              WHEN toks > 90 THEN 'too_long'
      |              WHEN mean_len < 4.15 OR mean_len > 4.9 THEN 'word_length'
      |              WHEN 1.0 - CAST(uniq_bg AS DOUBLE) / (toks - 1) > 0.09 THEN 'repetitive'
      |              ELSE 'ok' END AS verdict
      |  FROM bg)
      |SELECT lang, verdict, count(*) AS n_docs
      |FROM v GROUP BY lang, verdict ORDER BY lang, verdict""".stripMargin,
  ) { t =>
    // Rule-based quality filtering with verdict ATTRIBUTION (the
    // Gopher-rule report shape): each document gets its first failing
    // rule — length bounds, mean word length, bigram repetition — or
    // 'ok', and the report is the per-(lang, verdict) histogram a
    // curation run emits before the drop decision. All signals are
    // map-side expressions over one scan (no joins, no windows); the
    // only shuffle is the final histogram aggregation, so at 100 TB
    // this is a single pass. Thresholds sit inside the measured corpus
    // distribution so every verdict class is exercised (toks p10≈21,
    // p90=88; mean_len 4.15/4.9 are the ~p2/p98 of the mid-length band; dup_frac p99≈0.10). mean_len counts
    // separator chars out: (chars - (toks-1)) / toks over the
    // single-space-joined corpus — both engines derive it from the same
    // two integers, so the doubles compare identically.
    t.documents
      .select(
        col("lang"),
        Curation.qualityVerdict(col("text"), 25, 90, 4.15, 4.9, 0.09).as("verdict"))
      .groupBy("lang", "verdict")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "verdict")
  }

  val x25_pack_shards = Q(
    "x25_pack_shards",
    """WITH d AS (
      |  SELECT lang, doc_id, text, len(string_split(text, ' ')) AS tokens FROM documents),
      |c AS (
      |  SELECT lang, doc_id, text, tokens,
      |         SUM(tokens) OVER (PARTITION BY lang ORDER BY doc_id
      |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM d),
      |b AS (SELECT lang, doc_id, text, tokens, (cum - tokens) // 512 AS bin FROM c)
      |SELECT lang, CAST(bin AS BIGINT) AS bin, count(*) AS n_docs,
      |       CAST(sum(tokens) AS BIGINT) AS shard_tokens,
      |       md5(string_agg(text, ' ' ORDER BY doc_id)) AS shard_hash
      |FROM b GROUP BY lang, bin ORDER BY lang, bin""".stripMargin,
  ) { t =>
    // Shard materialization — the step that turns x15's bin ASSIGNMENTS
    // into the shard CONTENT a training loader reads: per (lang, bin),
    // member docs concatenated in doc_id order. The registry row carries
    // md5(shard_text) instead of the text itself (shards are row-sized
    // blobs; the hash pins every byte and both engines md5 the same
    // string). Ordering inside a bin is recovered with sort_array over
    // collected (doc_id, text) structs — deterministic under any shuffle
    // placement, equivalent to DuckDB's ORDER BY inside string_agg.
    Curation.packShards(
        t.documents.select(
          col("lang"), col("doc_id"), col("text"),
          Curation.tokenCount(col("text")).as("tokens")),
        Seq("lang"), "tokens", "doc_id", "text", 512)
      .select(
        col("lang"), col("bin"), col("n_docs"), col("shard_tokens"),
        md5(col("shard_text")).as("shard_hash"))
      .orderBy("lang", "bin")
  }

  val x26_neardup_pipeline = Q.instrument(
    "x26_neardup_pipeline",
    s"""WITH RECURSIVE ${Dedup.minhashMd5PairsSqlCtes},
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION
       |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
       |reach AS (
       |  SELECT src AS node, src AS lbl FROM edges
       |  UNION
       |  SELECT e.dst AS node, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
       |comp AS (SELECT node AS doc_id, min(lbl) AS component FROM reach GROUP BY node),
       |scored AS (
       |  SELECT doc_id, lang, len(string_split(text, ' ')) AS tokens FROM documents),
       |labeled AS (
       |  SELECT s.doc_id, s.lang, s.tokens,
       |         coalesce(c.component, s.doc_id) AS component
       |  FROM scored s LEFT JOIN comp c USING (doc_id)),
       |canon AS (
       |  SELECT component, doc_id, lang, tokens,
       |         row_number() OVER (PARTITION BY component
       |                            ORDER BY tokens DESC, doc_id) AS rn
       |  FROM labeled),
       |sampled AS (
       |  SELECT doc_id, lang, tokens,
       |         CASE WHEN ${md5BucketSql("'p|' || CAST(doc_id AS VARCHAR)")} % 10 < 8 THEN 'train'
       |              WHEN ${md5BucketSql("'p|' || CAST(doc_id AS VARCHAR)")} % 10 = 8 THEN 'val'
       |              ELSE 'test' END AS split
       |  FROM canon
       |  WHERE rn = 1 AND ${md5BucketSql("'s|' || CAST(doc_id AS VARCHAR)")} % 100 < 75),
       |packed AS (
       |  SELECT lang, split, doc_id, tokens,
       |         (SUM(tokens) OVER (PARTITION BY lang, split ORDER BY doc_id
       |                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |          - tokens) // 512 AS bin
       |  FROM sampled)
       |SELECT lang, split, count(*) AS n_docs,
       |       CAST(sum(tokens) AS BIGINT) AS sum_tokens,
       |       CAST(max(bin) + 1 AS BIGINT) AS n_bins
       |FROM packed GROUP BY lang, split ORDER BY lang, split""".stripMargin,
  ) { t =>
    // The NEAR-DUP flagship — x19's exact-dedup mandate generalized the way
    // a real pretraining corpus runs it (the fuzzy form of the reference's
    // content_deduplicator.py:31-88 semantics), as ONE oracle-checked
    // dataflow composing four individually-green stages:
    //   MinHash+LSH candidate pairs (x3b md5 geometry)
    //     -> connectedComponents over the pair graph (g7 loop)
    //     -> canonical-per-cluster selection (x23 shape: max tokens,
    //        min doc_id tiebreak; unpaired docs are their own singletons)
    //     -> hash sample 75% + 80/10/10 split (x14 salted buckets)
    //     -> 512-token sequence packing per (lang, split) (x15 window)
    // The oracle replays the ENTIRE chain in DuckDB — the LSH pair set
    // md5-exactly, the clustering as a recursive-CTE min-label closure
    // (DuckDB's equivalent of the Spark propagation loop), then the same
    // canonical/sample/pack SQL shapes x23/x14/x15 already pin.
    //
    // Scale shape (100 TB): pair generation is the banded equi-join (never
    // n^2), clustering is one keyed shuffle per round over EDGES (pair
    // count ~ corpus dup rate, not corpus size), canonical selection is
    // one max_by aggregation on the component key, sampling is a pure
    // per-row hash decision, packing is one window on the stratum key. The
    // md5 hash family is the correctness instrument; x26_fast_neardup below
    // IS the xxhash64 production rendering — same chain, same plan shapes.
    neardupReport(t, Dedup.minhashMd5Pairs(t.documents))
  }

  val x26_fast_neardup = Q.noOracle("x26_fast_neardup") { t =>
    // The PRODUCTION rendering of the near-dup flagship: the identical
    // chain to x26, with candidate pairs from the xxhash64 MinHash family
    // (Dedup.minhashFastPairs — integer hashing, no per-shingle string
    // materialization in the hot aggregation). DuckDB has no xxhash64, so
    // the driver records a rows-only check; TrainPrepSpec replays the full
    // chain with a JVM union-find seeded by the same xxhash64 pair set and
    // matches the report cell-for-cell, and x26 pins the composition logic
    // to the DuckDB oracle on the md5 family. This is the query a 100 TB
    // run actually executes.
    neardupReport(t, Dedup.minhashFastPairs(t.documents))
  }

  /** The near-dup chain shared by x26_neardup_pipeline (md5 oracle
    * instrument) and x26_fast_neardup (xxhash64 production path). `pairs`
    * is the candidate-generator output `(doc_a, doc_b)`; every stage
    * downstream of pair generation is hash-family agnostic.
    */
  private def neardupReport(t: Tables, pairs: DataFrame): DataFrame = {
    val scored = t.documents
      .select(col("doc_id"), col("lang"), Curation.tokenCount(col("text")).as("tokens"))
      .localCheckpoint() // feeds labeling AND the canonical semi-join probe
    val edges = pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val labels = GraphOps.connectedComponents(edges, t.spark)
      .withColumnsRenamed(Map("node" -> "doc_id"))
    // left + coalesce: docs in no candidate pair never enter the edge set;
    // they are their own singleton clusters (same rule as x23).
    val labeled = scored
      .join(labels, Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
    val canonicalIds = Curation
      .canonicalPerCluster(labeled, "component", "doc_id", "tokens")
      .select(col("canonical_doc").as("doc_id"))
    val canonical = scored.join(canonicalIds, Seq("doc_id"), "left_semi")
    val sampled = Curation
      .sampleByHash(canonical, col("doc_id"), lit(75))
      .select(
        col("doc_id"), col("lang"), col("tokens"),
        Curation.assignSplit(col("doc_id")).as("split"))
    Curation.packBins(sampled, Seq("lang", "split"), "tokens", "doc_id", 512)
      .groupBy("lang", "split")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("tokens")).as("sum_tokens"),
        (max(col("bin")) + 1).as("n_bins"))
      .orderBy("lang", "split")
  }

  val x29_ingest_pipeline = Q.instrument(
    "x29_ingest_pipeline",
    s"""WITH ${Dedup.md5BandsSqlCtes("_c", "WHERE doc_id % 2 = 0")},
       |${Dedup.md5BandsSqlCtes("_b", "WHERE doc_id % 2 <> 0")},
       |dup AS (
       |  SELECT DISTINCT b.doc_id FROM bands_b b
       |  JOIN bands_c c ON b.band = c.band AND b.bucket = c.bucket),
       |surv AS (
       |  SELECT d.doc_id, d.lang, d.text FROM documents d
       |  LEFT JOIN dup ON d.doc_id = dup.doc_id
       |  WHERE d.doc_id % 2 <> 0 AND dup.doc_id IS NULL),
       |feat AS (
       |  SELECT doc_id, lang, text,
       |         len(string_split(text, ' ')) AS toks,
       |         CAST(len(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
       |           / len(string_split(text, ' ')) AS mean_len,
       |         (SELECT count(DISTINCT array_to_string(w[i:i+1], ' '))
       |          FROM (SELECT string_split(text, ' ') AS w) t,
       |               unnest(generate_series(1, len(w) - 1)) u(i)) AS uniq_bg
       |  FROM surv),
       |v AS (
       |  SELECT doc_id, lang, text, toks,
       |         CASE WHEN toks < 25 THEN 'too_short'
       |              WHEN toks > 90 THEN 'too_long'
       |              WHEN mean_len < 4.15 OR mean_len > 4.9 THEN 'word_length'
       |              WHEN 1.0 - CAST(uniq_bg AS DOUBLE) / (toks - 1) > 0.09 THEN 'repetitive'
       |              ELSE 'ok' END AS verdict
       |  FROM feat)
       |SELECT doc_id, lang,
       |       CASE WHEN ${md5BucketSql("'p|' || CAST(doc_id AS VARCHAR)")} % 10 < 8 THEN 'train'
       |            WHEN ${md5BucketSql("'p|' || CAST(doc_id AS VARCHAR)")} % 10 = 8 THEN 'val'
       |            ELSE 'test' END AS split,
       |       CAST(toks AS BIGINT) AS tokens,
       |       md5(regexp_replace(
       |             regexp_replace(
       |               regexp_replace(text, '$EmailRe', '[EMAIL]', 'g'),
       |               '$Ipv4Re', '[IP]', 'g'),
       |             '$PhoneRe', '[PHONE]', 'g')) AS content_hash
       |FROM v WHERE verdict = 'ok' ORDER BY doc_id""".stripMargin,
  ) { t =>
    // The incremental-ingest WRITE path as ONE dataflow — what lands a
    // daily batch into an already-curated 100 TB corpus (the composition
    // x27 probes and x19/x26 curate; the reference's ingest analog is the
    // content-addressed admit decision in content_deduplicator.py:31-88):
    //   probe the corpus band index (only the BATCH is shingled; the
    //   corpus side is the persisted index, here rebuilt inline so the
    //   oracle can replay it) → drop near-dups of the corpus → quality
    //   verdict on the survivors, admit only 'ok' → split assignment +
    //   token count + redacted-content hash for the admitted docs (the
    //   content_hash is what a content-addressed store files the doc
    //   under — md5 pins every redacted byte to the oracle).
    // Plan shape: batch-sized banding aggregation + semi-join against the
    // index, then pure map-side expressions — no corpus scan, no window,
    // one presentation sort. At scale the index probe is
    // Dedup.probePersistedIndex against the parquet index (BandIndexSpec
    // round-trips it); every other stage is embarrassingly parallel.
    val corpus = t.documents.filter(col("doc_id") % 2 === 0)
    val batch  = t.documents.filter(col("doc_id") % 2 =!= 0)
    ingestAdmit(
      Dedup.incrementalNeardupFlags(
        batch.select("doc_id", "lang", "text"),
        Dedup.md5BandTable(batch), Dedup.md5BandTable(corpus)))
  }

  /** The shared admit chain of both x29 renderings (single source, so the
    * oracle-checked md5 row pins the exact composition the fast row runs):
    * drop corpus dups → verdict gate → split/tokens/redacted-hash.
    */
  private def ingestAdmit(flagged: DataFrame): DataFrame =
    flagged
      .filter(!col("dup_of_corpus"))
      .withColumn("verdict", Curation.qualityVerdict(col("text"), 25, 90, 4.15, 4.9, 0.09))
      .filter(col("verdict") === "ok")
      .select(
        col("doc_id"), col("lang"),
        Curation.assignSplit(col("doc_id")).as("split"),
        Curation.tokenCount(col("text")).as("tokens"),
        md5(Curation.redactPii(col("text"))).as("content_hash"))
      .orderBy("doc_id")

  val x29_fast_ingest = Q.noOracle("x29_fast_ingest") { t =>
    // The xxhash64 production rendering of x29 (rows-only: DuckDB lacks
    // xxhash64). Identical admit chain by construction (ingestAdmit);
    // only the band family differs — TrainPrepSpec pins this rendering's
    // admitted set against its independently-verified components
    // (x27_fast's dup flags ∩ the oracle-checked verdict gate).
    val corpus = t.documents.filter(col("doc_id") % 2 === 0)
    val batch  = t.documents.filter(col("doc_id") % 2 =!= 0)
    ingestAdmit(
      Dedup.incrementalNeardupFlags(
        batch.select("doc_id", "lang", "text"),
        Dedup.fastBandTable(batch), Dedup.fastBandTable(corpus)))
  }

  val x30_mixture_budget = Q(
    "x30_mixture_budget",
    s"""WITH toks AS (
       |  SELECT doc_id, lang,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
       |  FROM documents),
       |avail AS (
       |  SELECT lang, CAST(SUM(tokens) AS BIGINT) AS avail_tokens
       |  FROM toks GROUP BY lang),
       |w(lang, w_pm) AS (VALUES ('en', 400), ('zh', 150), ('es', 150), ('de', 150), ('fr', 150)),
       |rates AS (
       |  SELECT a.lang, a.avail_tokens,
       |         LEAST(10000, (((CAST(20000 AS BIGINT) * COALESCE(w.w_pm, 0)) // 1000) * 10000)
       |                        // a.avail_tokens) AS rate_bp
       |  FROM avail a LEFT JOIN w ON a.lang = w.lang),
       |adm AS (
       |  SELECT t.lang, t.tokens
       |  FROM toks t JOIN rates r ON t.lang = r.lang
       |  WHERE ${md5BucketSql("'m|' || CAST(doc_id AS VARCHAR)")} % 10000 < r.rate_bp)
       |SELECT r.lang, r.avail_tokens, CAST(r.rate_bp AS BIGINT) AS rate_bp,
       |       CAST(COALESCE(g.n_admitted, 0) AS BIGINT) AS n_admitted,
       |       CAST(COALESCE(g.admitted_tokens, 0) AS BIGINT) AS admitted_tokens
       |FROM rates r LEFT JOIN (
       |  SELECT lang, count(*) AS n_admitted,
       |         CAST(SUM(tokens) AS BIGINT) AS admitted_tokens
       |  FROM adm GROUP BY lang) g ON r.lang = g.lang
       |ORDER BY r.lang""".stripMargin,
  ) { t =>
    // Budget-driven mixture sampling — the step AFTER x14's fixed-rate
    // stratified sampling in corpus assembly: given a total token budget
    // and target per-stratum weights (en 40%, the rest 15% each of a
    // 20k-token budget), COMPUTE each stratum's admission rate from the
    // measured supply, then admit per-row by salted hash. Two passes,
    // neither shuffles the corpus: the measure pass is a map-side-combined
    // aggregate on #strata keys; the admit pass is a broadcast of the
    // 5-row rates frame + a per-row hash decision. Rates are exact bigint
    // arithmetic (basis points), so DuckDB reproduces every admission
    // bit-for-bit; an under-supplied stratum caps at 10000 bp and the
    // under-fill is visible in the output (never silently re-balanced —
    // that would change the mixture, the one thing the op controls).
    val weights = Map("en" -> 400L, "zh" -> 150L, "es" -> 150L, "de" -> 150L, "fr" -> 150L)
    val toks = t.documents.select(
      col("doc_id"), col("lang"), Curation.tokenCount(col("text")).as("tokens"))
    val rates = Curation.mixtureRates(toks, "lang", col("tokens"), weights, budgetTokens = 20000L)
    val admitted = Curation.admitByMixture(toks, "lang", col("doc_id"), rates)
    rates
      .join(
        admitted.groupBy("lang").agg(
          count(lit(1)).as("n_admitted"),
          sum(col("tokens")).as("admitted_tokens")),
        Seq("lang"), "left")
      .select(
        col("lang"), col("avail_tokens"), col("rate_bp"),
        coalesce(col("n_admitted"), lit(0L)).as("n_admitted"),
        coalesce(col("admitted_tokens"), lit(0L)).as("admitted_tokens"))
      .orderBy("lang")
  }

  /** DuckDB rendering of the x97 multiplicative-weights trajectory:
    * chained CTEs, one (update, renormalize) pair per round over the
    * G-row domain table. `AS MATERIALIZED` is load-bearing (the
    * bpeOracleSql lesson): each round reads its predecessor twice (the
    * FROM plus the mixture-average scalar subquery), so inlined CTEs
    * re-expand the base scan 2^rounds times — "Too many open files" at
    * rounds=8, measured. Per-round 10dp quantization in BOTH engines
    * (the x90 discipline) resets the ~1e-16 summation-order drift that
    * an iterated loop would otherwise compound.
    */
  /** The one place the x97 round count lives: the oracle builders, the
    * trajectory loop, and x97b's final-step selection all derive from it
    * (an ADVICE r14 fix — a literal `8` in any one of those four sites
    * would let a round-count change silently hand x97b a non-final step).
    */
  private val DoremiRounds = 8
  private val DoremiEta    = 0.5

  private def doremiCtes(rounds: Int, eta: Double): String = {
    val steps = (1 to rounds).map { r =>
      s"""u$r AS MATERIALIZED (
         |  SELECT lang, L, w * (1 + $eta * (L - (SELECT sum(w * L) FROM w${r - 1}))) AS u
         |  FROM w${r - 1}),
         |w$r AS MATERIALIZED (
         |  SELECT lang, L, round(u / (SELECT sum(u) FROM u$r), 10) AS w FROM u$r)""".stripMargin
    }
    s"""WITH st AS MATERIALIZED (
       |  SELECT lang,
       |         round((CAST(sum(n_chars) AS DOUBLE) - sum(toks) + count(*)) / sum(toks), 6) AS L
       |  FROM (SELECT lang, n_chars,
       |               CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
       |        FROM documents)
       |  GROUP BY lang),
       |w0 AS MATERIALIZED (
       |  SELECT lang, L, round(1.0 / (SELECT count(*) FROM st), 10) AS w FROM st),
       |${steps.mkString(",\n")}""".stripMargin
  }

  private def doremiOracleSql(rounds: Int, eta: Double): String = {
    val out = (0 to rounds)
      .map(r => s"SELECT $r AS step, lang, round(w, 6) AS weight FROM w$r")
      .mkString("\nUNION ALL\n")
    s"""${doremiCtes(rounds, eta)}
       |SELECT CAST(step AS BIGINT) AS step, lang, weight FROM (
       |$out) ORDER BY step, lang""".stripMargin
  }

  /** The x97 MWU loop: one corpus pass to G (lang, loss) rows, then
    * `rounds` driver-local linearized multiplicative-weight updates with
    * per-round 10dp quantization. Returns the FULL-PRECISION (10dp)
    * trajectory — x97 renders it at 6dp, x97b consumes the final step's
    * weights. Shared so the two rows cannot walk different trajectories.
    */
  private def doremiTrajectory(t: Tables, rounds: Int, eta: Double): Seq[(Long, String, Double)] = {
    def r10(x: Double): Double =
      BigDecimal(x).setScale(10, BigDecimal.RoundingMode.HALF_UP).toDouble
    val stats = t.documents
      .groupBy("lang")
      .agg(
        sum(col("n_chars")).as("chars"),
        sum(Curation.tokenCount(col("text"))).as("toks"),
        count(lit(1)).as("n"))
      .select(col("lang"),
        round((col("chars").cast("double") - col("toks") + col("n")) / col("toks"), 6)
          .as("L"))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .sortBy(_._1)
    val langs = stats.map(_._1)
    val losses = stats.map(_._2)
    var w = Array.fill(stats.length)(r10(1.0 / stats.length))
    val traj = Seq.newBuilder[(Long, String, Double)]
    langs.indices.foreach(i => traj += ((0L, langs(i), w(i))))
    (1 to rounds).foreach { r =>
      val mix = langs.indices.map(i => w(i) * losses(i)).sum
      val u = langs.indices.map(i => w(i) * (1 + eta * (losses(i) - mix)))
      val z = u.sum
      w = u.map(x => r10(x / z)).toArray
      langs.indices.foreach(i => traj += ((r.toLong, langs(i), w(i))))
    }
    traj.result()
  }

  val x97_doremi_weights = Q(
    "x97_doremi_weights",
    doremiOracleSql(rounds = DoremiRounds, eta = DoremiEta),
  ) { t =>
    // LEARNED domain mixture weights — the step BEFORE x30's budget
    // admission: x30 takes target weights as GIVEN; DoReMi (Xie et al.
    // 2023, arXiv:2305.10429) learns them by Group-DRO multiplicative
    // weights, upweighting domains whose loss exceeds the current
    // mixture's average. The engine contract is the UPDATE SHAPE, which
    // is what survives at 100 TB: ONE corpus pass reduces each domain to
    // three exact integer sums (chars, tokens, docs — map-side combined,
    // G keys), the T-round update then runs driver-local over G doubles
    // per round (the x80b philosophy: corpus-sized work distributed
    // exactly once, tiny-state iteration on the driver), and the full
    // weight trajectory is emitted for the audit trail a mixture decision
    // needs. The per-domain loss here is an oracle-expressible surrogate
    // (token-weighted mean word length — derived from the same two
    // integers as x24's mean_len, so both engines see identical doubles);
    // in a real deployment it is the proxy-vs-reference model loss gap,
    // swapped in through the same G-row frame. The update is the
    // LINEARIZED rule w·(1 + eta·excess) rather than w·exp(eta·excess):
    // first-order identical, and it keeps cross-engine libm exp() out of
    // an iterated loop entirely (x90 has to quantize exp drift away per
    // step; here there is none to quantize). Weights are renormalized and
    // rounded to 10dp each round in both engines, reported at 6dp.
    val spark = t.spark
    import spark.implicits._
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    doremiTrajectory(t, rounds = DoremiRounds, eta = DoremiEta)
      .map { case (s, l, w) => (s, l, r6(w)) }
      .toDF("step", "lang", "weight")
      .orderBy("step", "lang")
  }

  val x97b_mixture_from_learned = Q(
    "x97b_mixture_from_learned",
    s"""${doremiCtes(rounds = DoremiRounds, eta = DoremiEta)},
       |wpm AS (SELECT lang, CAST(round(w * 1000, 0) AS BIGINT) AS w_pm FROM w$DoremiRounds),
       |toks AS (
       |  SELECT doc_id, lang,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
       |  FROM documents),
       |avail AS (
       |  SELECT lang, CAST(SUM(tokens) AS BIGINT) AS avail_tokens
       |  FROM toks GROUP BY lang),
       |rates AS (
       |  SELECT a.lang, a.avail_tokens,
       |         LEAST(10000, (((CAST(20000 AS BIGINT) * COALESCE(w.w_pm, 0)) // 1000) * 10000)
       |                        // a.avail_tokens) AS rate_bp
       |  FROM avail a LEFT JOIN wpm w ON a.lang = w.lang),
       |adm AS (
       |  SELECT t.lang, t.tokens
       |  FROM toks t JOIN rates r ON t.lang = r.lang
       |  WHERE ${md5BucketSql("'m|' || CAST(doc_id AS VARCHAR)")} % 10000 < r.rate_bp)
       |SELECT r.lang, r.avail_tokens, CAST(r.rate_bp AS BIGINT) AS rate_bp,
       |       CAST(COALESCE(g.n_admitted, 0) AS BIGINT) AS n_admitted,
       |       CAST(COALESCE(g.admitted_tokens, 0) AS BIGINT) AS admitted_tokens
       |FROM rates r LEFT JOIN (
       |  SELECT lang, count(*) AS n_admitted,
       |         CAST(SUM(tokens) AS BIGINT) AS admitted_tokens
       |  FROM adm GROUP BY lang) g ON r.lang = g.lang
       |ORDER BY r.lang""".stripMargin,
  ) { t =>
    // The COMPOSITION: x97's learned weights driving x30's budget
    // admission end to end — optimizer output becomes sampler input with
    // no human in between, which is how a mixture decision actually ships.
    // The final-step 10dp weights quantize to per-mille integers (the
    // mixtureRates contract; both engines round the same 10dp doubles, so
    // the integer weights — and therefore every admission bit — agree),
    // then the two x30 passes run unchanged: a G-key measure aggregate
    // and a broadcast per-row hash admit. Same plan shape as x30 plus the
    // one G-row stats aggregate the optimizer needs — learning the
    // mixture adds nothing corpus-sized over being told the mixture.
    val weightsPm: Map[String, Long] = doremiTrajectory(t, rounds = DoremiRounds, eta = DoremiEta)
      .filter(_._1 == DoremiRounds.toLong)
      .map { case (_, lang, w) => lang -> math.round(w * 1000) }
      .toMap
    val toks = t.documents.select(
      col("doc_id"), col("lang"), Curation.tokenCount(col("text")).as("tokens"))
    val rates = Curation.mixtureRates(toks, "lang", col("tokens"), weightsPm, budgetTokens = 20000L)
    val admitted = Curation.admitByMixture(toks, "lang", col("doc_id"), rates)
    rates
      .join(
        admitted.groupBy("lang").agg(
          count(lit(1)).as("n_admitted"),
          sum(col("tokens")).as("admitted_tokens")),
        Seq("lang"), "left")
      .select(
        col("lang"), col("avail_tokens"), col("rate_bp"),
        coalesce(col("n_admitted"), lit(0L)).as("n_admitted"),
        coalesce(col("admitted_tokens"), lit(0L)).as("admitted_tokens"))
      .orderBy("lang")
  }

  val x57_reservoir_sample = Q(
    "x57_reservoir_sample",
    """SELECT lang, source, doc_id FROM (
      |  SELECT lang, source, doc_id,
      |         row_number() OVER (
      |           PARTITION BY lang, source
      |           ORDER BY md5('r|' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents) WHERE rn <= 3
      |ORDER BY lang, source, doc_id""".stripMargin,
  ) { t =>
    // 3 docs per (lang, source) stratum, hash-ranked (x14's md5 idiom, so
    // the oracle replays the ordering byte-for-byte). Complements
    // x14/x30: those control a RATE per stratum, this one a fixed COUNT.
    Curation.samplePerGroup(
      t.documents, Seq("lang", "source"), col("doc_id"), n = 3)
      .select("lang", "source", "doc_id")
      .orderBy("lang", "source", "doc_id")
  }

  /** x26_fast expressed as PURE `spark.sql` — the engine's SQL surface
    * proven end-to-end on its flagship: every transformation is SQL text
    * over the `Graft.registerViews` table names and Spark's own builtins
    * (xxhash64 minhash slots, higher-order array shingling, window-capped
    * buckets, md5 sampling/split, packed-window bins). The one thing SQL
    * text cannot express in Spark 4.1 is the connected-components
    * FIXPOINT: recursive CTEs exist but only with UNION ALL, which
    * diverges on the (cyclic) pair graph — so the label-propagation loop
    * drives repeated `spark.sql` rounds from the host, exactly how any
    * SQL warehouse scripts iterative graph closure. SqlSurfaceSpec
    * asserts row-equality with the DataFrame rendering (x26_fast), which
    * in turn is chain-verified against the DuckDB oracle via x26.
    *
    * Shingling uses the stateless array form (fastBandsStateless —
    * spec-pinned identical to the explode+groupBy banding); seeds are INT
    * literals in both renderings, so every xxhash64 agrees bit-for-bit.
    */
  def neardupReportSql(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    graft.Graft.registerViews(spark, dir)
    val cp = graft.Checkpoints.scope(spark)
    // LSH candidate pairs: shingle -> 16 minhash slots -> 4 banded buckets
    // -> window DF-cap 200 -> banded self-join (never n^2)
    val pairs = cp.checkpoint(spark.sql(
      """WITH tok AS (
        |  -- tokens materialized BEFORE the shingle lambda: a lambda
        |  -- capturing an inline split() re-evaluates it per element
        |  -- (the r13 x87 lesson), in SQL text exactly as in the DSL
        |  SELECT doc_id, split(text, ' ') AS w FROM documents),
        |fps AS (
        |  SELECT doc_id,
        |         CASE WHEN size(w) >= 5 THEN
        |           array_distinct(transform(
        |             sequence(1, size(w) - 4),
        |             i -> xxhash64(array_join(slice(w, i, 5), ' '))))
        |         ELSE CAST(array() AS ARRAY<BIGINT>) END AS fps
        |  FROM tok),
        |sig AS (
        |  SELECT doc_id,
        |         transform(sequence(0, 15),
        |                   i -> array_min(transform(fps, f -> xxhash64(i, f)))) AS mh
        |  FROM fps WHERE size(fps) > 0),
        |bands AS (
        |  SELECT doc_id, pos AS band, col AS bucket
        |  FROM sig LATERAL VIEW posexplode(array(
        |    xxhash64(mh[0],  mh[1],  mh[2],  mh[3]),
        |    xxhash64(mh[4],  mh[5],  mh[6],  mh[7]),
        |    xxhash64(mh[8],  mh[9],  mh[10], mh[11]),
        |    xxhash64(mh[12], mh[13], mh[14], mh[15]))) b),
        |capped AS (
        |  SELECT doc_id, band, bucket FROM (
        |    SELECT doc_id, band, bucket,
        |           count(*) OVER (PARTITION BY band, bucket) AS bk_n FROM bands)
        |  WHERE bk_n <= 200)
        |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |FROM capped a JOIN capped b
        |  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id""".stripMargin))
    pairs.createOrReplaceTempView("nd_pairs")
    val edges = cp.checkpoint(spark.sql(
      """SELECT doc_a AS src, doc_b AS dst FROM nd_pairs
        |UNION
        |SELECT doc_b AS src, doc_a AS dst FROM nd_pairs""".stripMargin))
    edges.createOrReplaceTempView("nd_edges")
    // min-label propagation to fixpoint: each round is ONE SQL statement
    var labels = cp.checkpoint(spark.sql(
      "SELECT DISTINCT src AS node, src AS component FROM nd_edges"))
    def propagateRound(): DataFrame = {
      labels.createOrReplaceTempView("nd_labels")
      cp.checkpoint(spark.sql(
        """SELECT node, min(component) AS component, min(old_component) AS old_component FROM (
          |  SELECT e.dst AS node, l.component, CAST(NULL AS BIGINT) AS old_component
          |  FROM nd_labels l JOIN nd_edges e ON e.src = l.node
          |  UNION ALL
          |  SELECT node, component, component AS old_component FROM nd_labels)
          |GROUP BY node""".stripMargin))
    }
    var changed = true
    var iter    = 0
    while (changed && iter < 20) {
      iter += 1
      val next = propagateRound()
      changed = !next.filter(col("component") =!= col("old_component")).isEmpty
      labels = cp.checkpoint(next.select("node", "component"))
      cp.retain(labels, edges) // edges feeds every round; prior labels are dead
    }
    // Same non-convergence contract as GraphOps.connectedComponents,
    // including the r10 ADVICE boundary case: a fixpoint landing exactly
    // at the cap is converged, so one extra probe round runs before the
    // loud failure.
    if (changed) {
      val probe = propagateRound()
      changed = !probe.filter(col("component") =!= col("old_component")).isEmpty
      if (changed)
        throw new IllegalStateException(
          s"neardupReportSql label propagation did not converge within $iter rounds")
      labels = cp.checkpoint(probe.select("node", "component"))
      cp.retain(labels, edges)
    }
    labels.createOrReplaceTempView("nd_components")
    // canonical-per-cluster -> 75% hash sample -> 80/10/10 split -> 512-
    // token packing -> stratum report (the exact x26 tail, as SQL text)
    spark.sql(
      """WITH scored AS (
        |  SELECT doc_id, lang, CAST(size(split(text, ' ')) AS BIGINT) AS tokens
        |  FROM documents),
        |labeled AS (
        |  SELECT s.doc_id, s.lang, s.tokens,
        |         coalesce(c.component, s.doc_id) AS component
        |  FROM scored s LEFT JOIN nd_components c ON s.doc_id = c.node),
        |canon_ids AS (
        |  SELECT max_by(doc_id, struct(tokens, -doc_id)) AS doc_id
        |  FROM labeled GROUP BY component),
        |canonical AS (
        |  SELECT s.doc_id, s.lang, s.tokens FROM scored s
        |  LEFT SEMI JOIN canon_ids c ON s.doc_id = c.doc_id),
        |sampled AS (
        |  SELECT doc_id, lang, tokens,
        |         CASE WHEN CAST(conv(substring(md5(concat('p|', CAST(doc_id AS STRING))), 1, 6), 16, 10) AS BIGINT) % 10 < 8 THEN 'train'
        |              WHEN CAST(conv(substring(md5(concat('p|', CAST(doc_id AS STRING))), 1, 6), 16, 10) AS BIGINT) % 10 = 8 THEN 'val'
        |              ELSE 'test' END AS split
        |  FROM canonical
        |  WHERE CAST(conv(substring(md5(concat('s|', CAST(doc_id AS STRING))), 1, 6), 16, 10) AS BIGINT) % 100 < 75),
        |packed AS (
        |  SELECT lang, split, tokens,
        |         (sum(tokens) OVER (PARTITION BY lang, split ORDER BY doc_id
        |                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          - tokens) div 512 AS bin
        |  FROM sampled)
        |SELECT lang, split, count(*) AS n_docs, sum(tokens) AS sum_tokens,
        |       max(bin) + 1 AS n_bins
        |FROM packed GROUP BY lang, split ORDER BY lang, split""".stripMargin)
  }

  /** x74: deterministic per-epoch training-order shuffle — the data-loader
    * feed verb: each epoch deals every doc into one of 8 shards by an
    * epoch-salted hash and ranks it within the shard by the full hash tag,
    * giving a fresh reproducible permutation per epoch with ONE hash
    * shuffle and no global sort (`Curation.epochShuffle`; the window
    * partitions by the same key the reporting aggregate groups on, so both
    * ride one Exchange). The oracle replays shard dealing AND the complete
    * within-shard ORDER: `order_checksum = Σ pos·doc_id` changes under any
    * transposition of two docs, so a wrong permutation — not just a wrong
    * membership — breaks the hash. Two epochs are unioned to pin that the
    * salt really re-deals (their checksums differing is implied by both
    * hashing green against independently computed oracles).
    */
  val x74_epoch_shuffle = Q(
    "x74_epoch_shuffle",
    s"""WITH ep AS (SELECT 0 AS epoch UNION ALL SELECT 1),
       |d AS (
       |  SELECT epoch, doc_id,
       |         md5('e' || epoch || '|' || CAST(doc_id AS VARCHAR)) AS tag,
       |         ${md5BucketSql("'e' || epoch || '|' || CAST(doc_id AS VARCHAR)")} % 8 AS shard
       |  FROM documents, ep),
       |p AS (
       |  SELECT epoch, shard, doc_id,
       |         row_number() OVER (PARTITION BY epoch, shard ORDER BY tag, doc_id) AS pos
       |  FROM d)
       |SELECT epoch, CAST(shard AS BIGINT) AS shard, count(*) AS n_docs,
       |       CAST(sum(pos * doc_id) AS BIGINT) AS order_checksum,
       |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM p GROUP BY epoch, shard ORDER BY epoch, shard""".stripMargin,
  ) { t =>
    (0 to 1).map { e =>
      Curation.epochShuffle(t.documents.select("doc_id"), col("doc_id"), e, 8)
        .groupBy("shard")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("pos") * col("doc_id")).as("order_checksum"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .select(lit(e).as("epoch"), col("shard"), col("n_docs"),
          col("order_checksum"), col("first_doc"), col("last_doc"))
    }.reduce(_.unionByName(_)).orderBy("epoch", "shard")
  }

  val x78_leakage_split = Q(
    "x78_leakage_split",
    s"""WITH comp AS (
       |  SELECT doc_id, doc_id - doc_id % 7 AS component FROM documents),
       |dealt AS (
       |  SELECT c.component, d.doc_id, d.lang,
       |         len(string_split(d.text, ' ')) AS tokens,
       |         CASE WHEN ${md5BucketSql("'p|' || CAST(component AS VARCHAR)")} % 10 < 8 THEN 'train'
       |              WHEN ${md5BucketSql("'p|' || CAST(component AS VARCHAR)")} % 10 = 8 THEN 'val'
       |              ELSE 'test' END AS split
       |  FROM comp c JOIN documents d USING (doc_id))
       |SELECT split, lang, count(*) AS n_docs,
       |       count(DISTINCT component) AS n_components,
       |       CAST(sum(tokens) AS BIGINT) AS sum_tokens
       |FROM dealt GROUP BY split, lang ORDER BY split, lang""".stripMargin,
  ) { t =>
    // Leakage-safe train/val/test split: the x14 hash-deal applied at
    // NEAR-DUP-CLUSTER grain instead of document grain. A doc-grain deal
    // puts two near-duplicates on opposite sides of the train/test wall —
    // the eval set then contains paraphrases of training documents and the
    // benchmark is contaminated by construction. Dealing on the cluster
    // label (the same real min-label connectedComponents loop x23 consumes;
    // the oracle replays its closed form) makes straddling IMPOSSIBLE:
    // split = f(component), so every member of a cluster lands together.
    // Cost at 100 TB: the labels already exist from the dedup pass; the
    // deal itself is map-side, and the only shuffles are the label join
    // and the report aggregation. LeakageSplitSpec proves the contrast:
    // the doc-grain deal leaves straddling clusters on this corpus, the
    // cluster-grain deal leaves zero.
    val labeled = clusterLabeledDocs(t)
    labeled
      .withColumn("split", Curation.assignSplit(col("component")))
      .groupBy("split", "lang")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("component")).as("n_components"),
        sum(col("tokens")).as("sum_tokens"))
      .orderBy("split", "lang")
  }

  /** Documents with their near-dup component labels (the x23 chain-edge
    * graph: doc_id -> doc_id-1 within each run of 7, closed form
    * `doc_id - doc_id % 7`), via the REAL connectedComponents loop;
    * isolated docs fall back to singleton components.
    */
  private[graft] def clusterLabeledDocs(t: graft.Tables): DataFrame = {
    val edges = t.documents
      .filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id").as("src"), (col("doc_id") - 1).as("dst"))
    val labels = GraphOps.connectedComponents(edges, t.spark)
      .withColumnsRenamed(Map("node" -> "doc_id"))
    t.documents
      .select(col("doc_id"), col("lang"), Curation.tokenCount(col("text")).as("tokens"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
  }

  val x87_lm_quality = Q(
    "x87_lm_quality",
    """WITH ref AS (SELECT text FROM documents WHERE lang = 'en'),
      |rbg AS (SELECT array_to_string(w[i:i+1], ' ') AS bg
      |        FROM (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
      |              FROM (SELECT string_split(text, ' ') AS w FROM ref) WHERE len(w) >= 2)),
      |cb0 AS (SELECT bg, count(*) AS cb FROM rbg GROUP BY 1),
      |model AS (SELECT bg, cb FROM (
      |  SELECT bg, cb, row_number() OVER (ORDER BY cb DESC, bg) AS rn FROM cb0) WHERE rn <= 256),
      |ctx AS (SELECT split_part(bg, ' ', 1) AS w1, sum(cb) AS cu FROM cb0 GROUP BY 1),
      |v AS (SELECT count(DISTINCT x) AS v FROM (
      |  SELECT split_part(bg, ' ', 1) AS x FROM cb0
      |  UNION SELECT split_part(bg, ' ', 2) FROM cb0)),
      |dbg AS (SELECT doc_id, array_to_string(w[i:i+1], ' ') AS bg, count(*) AS k
      |        FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
      |              FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |              WHERE len(w) >= 2)
      |        GROUP BY 1, 2),
      |sc AS (SELECT d.doc_id, sum(d.k) AS n_bigrams,
      |              sum(d.k * (ln(coalesce(c.cu, 0) + v.v) - ln(coalesce(m.cb, 0) + 1))) / sum(d.k) AS nll
      |       FROM dbg d LEFT JOIN model m USING (bg)
      |                  LEFT JOIN ctx c ON c.w1 = split_part(d.bg, ' ', 1)
      |                  CROSS JOIN v
      |       GROUP BY 1)
      |SELECT s.doc_id, t.lang, CAST(s.n_bigrams AS BIGINT) AS n_bigrams,
      |       round(s.nll, 6) AS avg_nll,
      |       CASE WHEN round(s.nll, 6) <= 5.0 THEN 'keep' ELSE 'drop' END AS verdict
      |FROM sc s JOIN documents t USING (doc_id) ORDER BY s.doc_id""".stripMargin,
  ) { t =>
    // CCNet-style LM quality filter (Wenzek et al. 2020): train a pruned
    // add-one bigram LM on the trusted slice (lang='en' stands in for the
    // Wikipedia reference corpus), score EVERY document by mean NLL, keep
    // the fluent tail. The length/punct heuristics (x24) catch garbage;
    // the LM catches fluent-but-off-distribution text those ratios pass.
    // On this corpus the en slice scores visibly lower (in-domain) than
    // the other langs — the spec pins that separation. Verdict compares
    // the ROUNDED score so both engines threshold identical values.
    val scored = Curation.lmQuality(
      t.documents, t.documents.filter(col("lang") === "en"), "doc_id", "text", 256)
    scored
      .join(t.documents.select("doc_id", "lang"), Seq("doc_id"))
      .select(
        col("doc_id"), col("lang"), col("n_bigrams"), col("avg_nll"),
        when(col("avg_nll") <= 5.0, "keep").otherwise("drop").as("verdict"))
      .orderBy("doc_id")
  }

  /** x104: the quality-ANNEALED training schedule — the published
    * end-of-training practice (Llama 3 / MiniCPM tech reports: the final
    * fraction of the token budget trains on an upsampled high-quality
    * slice) composed from machinery the registry already certifies. x30
    * answers WHAT to mix and x97 LEARNS the mixture; this row answers
    * WHEN: main-phase epochs shuffle the full corpus (x74's salted-hash
    * deal, one hash shuffle per epoch, no global sort), then the anneal
    * epoch draws ONLY documents at or below the corpus's exact
    * interpolated 25th-percentile mean-NLL under the x87 CCNet-style LM
    * scorer — the cut is a 1-row percentile aggregate (a11's
    * Spark-percentile ≡ DuckDB-quantile_cont parity) broadcast into a
    * filter, never a global rank. Output is the loader's contract: per
    * (phase, epoch, shard) doc counts, the order checksum that pins the
    * exact within-shard sequence, and the phase's mean NLL in quantized
    * integer space (the a12 discipline — double sums flap under 32-way
    * partial aggregation) proving the anneal slice is strictly
    * higher-quality. At 100 TB: the score pass is x87's (bounded model
    * broadcast), each phase is map-side tagging + ONE hash shuffle, and
    * the anneal filter is a broadcast scalar compare.
    */
  val x104_anneal_schedule = Q(
    "x104_anneal_schedule",
    s"""WITH ref AS (SELECT text FROM documents WHERE lang = 'en'),
       |rbg AS (SELECT array_to_string(w[i:i+1], ' ') AS bg
       |        FROM (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
       |              FROM (SELECT string_split(text, ' ') AS w FROM ref) WHERE len(w) >= 2)),
       |cb0 AS MATERIALIZED (SELECT bg, count(*) AS cb FROM rbg GROUP BY 1),
       |model AS (SELECT bg, cb FROM (
       |  SELECT bg, cb, row_number() OVER (ORDER BY cb DESC, bg) AS rn FROM cb0) WHERE rn <= 256),
       |ctx AS (SELECT split_part(bg, ' ', 1) AS w1, sum(cb) AS cu FROM cb0 GROUP BY 1),
       |v AS (SELECT count(DISTINCT x) AS v FROM (
       |  SELECT split_part(bg, ' ', 1) AS x FROM cb0
       |  UNION SELECT split_part(bg, ' ', 2) FROM cb0)),
       |dbg AS (SELECT doc_id, array_to_string(w[i:i+1], ' ') AS bg, count(*) AS k
       |        FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
       |              FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
       |              WHERE len(w) >= 2)
       |        GROUP BY 1, 2),
       |sc2 AS MATERIALIZED (
       |  SELECT d.doc_id,
       |         round(sum(d.k * (ln(coalesce(c.cu, 0) + v.v) - ln(coalesce(m.cb, 0) + 1))) / sum(d.k), 6) AS avg_nll
       |  FROM dbg d LEFT JOIN model m USING (bg)
       |             LEFT JOIN ctx c ON c.w1 = split_part(d.bg, ' ', 1)
       |             CROSS JOIN v
       |  GROUP BY 1),
       |thr AS (SELECT quantile_cont(avg_nll, 0.25) AS thr FROM sc2),
       |d0 AS (SELECT 'main' AS phase, 0 AS epoch, doc_id, avg_nll FROM sc2),
       |d1 AS (SELECT 'main' AS phase, 1 AS epoch, doc_id, avg_nll FROM sc2),
       |d2 AS (SELECT 'anneal' AS phase, 2 AS epoch, s.doc_id, s.avg_nll
       |       FROM sc2 s CROSS JOIN thr WHERE s.avg_nll <= thr.thr),
       |d AS (
       |  SELECT phase, epoch, doc_id, avg_nll,
       |         md5('e' || epoch || '|' || CAST(doc_id AS VARCHAR)) AS tag,
       |         ${md5BucketSql("'e' || epoch || '|' || CAST(doc_id AS VARCHAR)")} % 8 AS shard
       |  FROM (SELECT * FROM d0 UNION ALL SELECT * FROM d1 UNION ALL SELECT * FROM d2)),
       |p AS (
       |  SELECT phase, epoch, shard, doc_id, avg_nll,
       |         row_number() OVER (PARTITION BY phase, epoch, shard ORDER BY tag, doc_id) AS pos
       |  FROM d)
       |SELECT phase, CAST(epoch AS BIGINT) AS epoch, CAST(shard AS BIGINT) AS shard,
       |       count(*) AS n_docs,
       |       CAST(sum(pos * doc_id) AS BIGINT) AS order_checksum,
       |       round(CAST(sum(CAST(round(avg_nll * 1e6) AS BIGINT)) AS DOUBLE) / count(*) / 1e6, 6) AS mean_nll
       |FROM p GROUP BY 1, 2, 3 ORDER BY phase, epoch, shard""".stripMargin,
  ) { t =>
    val scored = Curation.lmQuality(
      t.documents, t.documents.filter(col("lang") === "en"), "doc_id", "text", 256)
      .select(col("doc_id"), col("avg_nll"))
    val thr = scored.agg(percentile(col("avg_nll"), lit(0.25)).as("thr"))
    val annealDocs = scored.crossJoin(broadcast(thr))
      .filter(col("avg_nll") <= col("thr")).select("doc_id", "avg_nll")
    def phase(name: String, epoch: Int, docs: DataFrame): DataFrame =
      Curation.epochShuffle(docs, col("doc_id"), epoch, 8)
        .groupBy("shard")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("pos") * col("doc_id")).as("order_checksum"),
          round(sum(round(col("avg_nll") * 1e6, 0).cast("long")).cast("double") /
            count(lit(1)) / 1e6, 6).as("mean_nll"))
        .select(lit(name).as("phase"), lit(epoch.toLong).as("epoch"), col("shard"),
          col("n_docs"), col("order_checksum"), col("mean_nll"))
    phase("main", 0, scored)
      .unionByName(phase("main", 1, scored))
      .unionByName(phase("anneal", 2, annealDocs))
      .orderBy("phase", "epoch", "shard")
  }

  val x88_dsir_select = Q(
    "x88_dsir_select",
    s"""WITH dbg AS (
       |  SELECT doc_id, ${md5BucketSql("'dsir|' || array_to_string(w[i:i+1], ' ')")} % 64 AS b,
       |         count(*) AS k
       |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
       |        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
       |        WHERE len(w) >= 2)
       |  GROUP BY 1, 2),
       |tgt AS (SELECT d.b, sum(d.k) AS ct FROM dbg d JOIN documents t USING (doc_id)
       |        WHERE t.lang = 'en' GROUP BY 1),
       |raw AS (SELECT b, sum(k) AS cr FROM dbg GROUP BY 1),
       |nt AS (SELECT sum(ct) AS nt FROM tgt), nr AS (SELECT sum(cr) AS nr FROM raw),
       |sc AS (SELECT d.doc_id,
       |              sum(d.k * (ln((coalesce(t.ct, 0) + 1.0) / (nt.nt + 64))
       |                       - ln((coalesce(r.cr, 0) + 1.0) / (nr.nr + 64)))) AS lw
       |       FROM dbg d LEFT JOIN tgt t USING (b) LEFT JOIN raw r USING (b)
       |            CROSS JOIN nt CROSS JOIN nr
       |       GROUP BY 1),
       |sc0 AS (SELECT d.doc_id, coalesce(s.lw, 0.0) AS lw
       |        FROM documents d LEFT JOIN sc s USING (doc_id)),
       |g AS (SELECT doc_id, round(lw, 6) AS log_weight,
       |             round(lw - ln(-ln((${md5BucketSql("'g|' || CAST(doc_id AS VARCHAR)")} + 0.5) / 16777216.0)), 6) AS score_r
       |      FROM sc0),
       |rk AS (SELECT doc_id, log_weight,
       |              row_number() OVER (ORDER BY score_r DESC, doc_id) AS sel_rank FROM g)
       |SELECT CAST(r.sel_rank AS INT) AS sel_rank, r.doc_id, t.lang, r.log_weight
       |FROM rk r JOIN documents t USING (doc_id)
       |WHERE r.sel_rank <= 60 ORDER BY r.sel_rank""".stripMargin,
  ) { t =>
    // DSIR data selection (Xie et al. 2023): importance weights from
    // hashed-bigram bucket distributions (target = the en slice, raw =
    // the whole corpus), then Gumbel-top-k RESAMPLING — sampling ∝
    // exp(weight) rather than hard top-k, with the Gumbel uniforms drawn
    // from salted md5 of the doc id so the sample is reproducible across
    // runs, retries, and engines (the published method's rand() replaced
    // by the registry's hash-deal discipline). Both bucket distributions
    // are 64 rows by construction — broadcast-pinned probes; selection
    // enriches the target slice above its base rate (spec-pinned).
    Curation.dsirSelect(
      t.documents, col("lang") === "en", "doc_id", "text", 64, 60)
      .join(t.documents.select("doc_id", "lang"), Seq("doc_id"))
      .select(col("sel_rank"), col("doc_id"), col("lang"), col("log_weight"))
      .orderBy("sel_rank")
  }

  val all: Seq[Q] = Seq(
    x14_stratified_sample, x15_sequence_packing, x16_decontamination,
    x19_curation_pipeline, x20_pii_redact, x21_domain_blocklist,
    x22_boilerplate_ngrams, x23_cluster_canonical, x24_quality_verdicts, x96_softdedup_weights,
    x25_pack_shards, x26_neardup_pipeline, x26_fast_neardup,
    x29_ingest_pipeline, x29_fast_ingest, x30_mixture_budget,
    x97_doremi_weights, x97b_mixture_from_learned,
    x57_reservoir_sample, x74_epoch_shuffle, x78_leakage_split,
    x79_fuzzy_decontam, x80_bpe_merges, x80b_bpe_local, x81_bpe_encode, x104_anneal_schedule,
    x87_lm_quality, x88_dsir_select)
}
