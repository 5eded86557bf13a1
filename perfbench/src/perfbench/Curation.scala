package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Curation => Cur, Dedup, GraphOps, Similarity}

/** `curation`: repeated full passes of the LLM-data pipeline over the
  * generated `documents` and `embeddings`, one client. Each stage is one
  * public operator call whose output is materialized (localCheckpoint)
  * inside the stage, so its cost lands on its own operation and span; a
  * pass's latency is the wall time of its stages. The corpus content is
  * fixed and the seed draws its physical row order, so every pass must
  * produce the digest shipped in `expected/curation.tsv` whatever the
  * seed: the pipeline's output may not depend on input order. The digest
  * is an untimed check after the stages. The text stage runs the registry
  * row `x55_chunk_overlap` through `Q.run`, so the registry's build path is
  * measured too; the warm-up pass also digests that stage's full result,
  * which `oracle_check.py` checked against the row's DuckDB oracle.
  *
  * The corpus has the sizes of the driver's sf0.1 tables (FIXTURES.md):
  * 5 000 documents of 8 to 100 words from the same 30-word vocabulary
  * (about 300 characters each) and 2 000 64-d embeddings.
  */
final class Curation(seed: Long, expectedFile: String, emitFile: Option[String]) extends Workload {

  val NDocs    = 5000L
  val NVectors = 2000
  val DataSeed = 42L

  override val latencyKind = "pass"

  private var spark: SparkSession = _
  private var dir: String         = _
  private var done                = 0.0
  private val expected            = Main.readTsv(expectedFile)
  private val chunkRow = graft.SparkEntry.registry.find(_.name == "x55_chunk_overlap")
    .getOrElse(throw new IllegalStateException("registry row x55_chunk_overlap is gone"))

  def work: Double = done

  def generate(s: SparkSession, d: String): Unit = {
    Gen.documents(s, d, NDocs, DataSeed, seed, s.sparkContext.defaultParallelism)
    Gen.embeddings(s, d, NVectors, DataSeed, seed)
    // Decontamination eval slice: paraphrases (first word dropped) of a
    // fixed 1% of the corpus, under ids the corpus does not use.
    s.read.parquet(s"$d/documents.parquet")
      .filter(col("doc_id") % 97 === 5)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        regexp_replace(col("text"), "^\\S+ ", "").as("text"))
      .write.mode("overwrite").parquet(s"$d/eval.parquet")
  }

  /** Opens the corpus, the vectors and the eval slice. */
  def setup(s: SparkSession, d: String, scratch: String): Unit = {
    spark = s
    dir = d
    Seq("documents", "embeddings", "eval").foreach(t => s.read.parquet(s"$d/$t.parquet").schema)
  }

  /** One pipeline pass as a sequence of timed stage operations, then the
    * untimed check of its digest (and, in the warm-up pass, of the text
    * stage's full result). Returns the digests seen.
    */
  private def pass(run: Run, warmUp: Boolean): Seq[(String, String)] = {
    def stage(name: String, layer: String)(f: => DataFrame): DataFrame = {
      var out: DataFrame = null
      run.op(name, "stage") { out = Trace.span(layer)(f.localCheckpoint()); true }
      out
    }
    val t0 = System.nanoTime()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb  = spark.read.parquet(s"$dir/embeddings.parquet")
    val eval = spark.read.parquet(s"$dir/eval.parquet")

    val chunks = stage("chunk", "TextAnalysis")(
      Trace.span("SparkEntry.build")(chunkRow.run(spark, dir)))
    val cleaned = stage("redact_verdict", "Curation")(docs.select(
      col("doc_id"), col("lang"), Cur.redactPii(col("text")).as("text"),
      Cur.tokenCount(col("text")).as("tokens"),
      Cur.qualityVerdict(col("text"), 25, 90, 4.15, 4.9, 0.09).as("verdict")))
    val pairs = stage("simhash_pairs", "Dedup")(Dedup.simhashPairs(cleaned, maxHamming = 7))
    val labels = stage("connected_components", "GraphOps")(GraphOps.connectedComponents(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")), spark))
    val canonical = stage("canonical", "Curation")(Cur.canonicalPerCluster(
      cleaned.join(labels.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
        .withColumn("component", coalesce(col("component"), col("doc_id"))),
      "component", "doc_id", "tokens"))
    val kept = cleaned.join(canonical.select(col("canonical_doc").as("doc_id")),
      Seq("doc_id"), "left_semi")
    val excised = stage("excise_spans", "Dedup")(
      Dedup.exciseSpans(kept.select("doc_id", "text"), k = 8, fingerprints = true))
    val contaminated = stage("decontaminate", "Curation")(Cur.fuzzyDecontaminate(
      excised.select(col("doc_id"), col("clean_text").as("text")), eval, "doc_id", "text", 5, 0.5))
    val probes = emb.filter(col("vec_id") < 20)
    val topk = stage("ivf_topk", "Similarity")(
      Similarity.ivfTopK(emb, probes, k = 5, nCells = 16, nProbe = 4))
    val semKept = stage("sem_dedup", "Similarity")(Similarity.semDedup(emb, k = 8, tau = 0.35))
    val output = stage("sample_split_pack", "Curation") {
      val clean = excised
        .join(contaminated.select("doc_id"), Seq("doc_id"), "left_anti")
        .join(cleaned.filter(col("verdict") === "ok").select("doc_id", "lang"), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("kept_words").as("tokens"))
      val sampled = Cur.sampleByHash(clean, col("doc_id"), lit(75))
        .withColumn("split", Cur.assignSplit(col("doc_id")))
      Cur.packBins(sampled, Seq("lang", "split"), "tokens", "doc_id", 512)
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("sum_tokens"),
          (max(col("bin")) + 1).as("n_bins"))
    }
    run.sample("pass", (System.nanoTime() - t0) / 1e9)
    var digests = Seq.empty[(String, String)]
    def check(name: String)(digest: => String): Unit = run.check(name, {
      val d = digest
      digests :+= name -> d
      emitFile.nonEmpty || expected.get(name).contains(d)
    })
    check("pass") {
      val parts = Seq(
        "chunks" -> chunks.agg(count(lit(1)), sum("n_tokens")),
        "pairs" -> pairs.select("doc_a", "doc_b"),
        "canonical" -> canonical.select("canonical_doc", "n_members"),
        "excised" -> excised.select("doc_id", "kept_words", "removed_words"),
        "contaminated" -> contaminated.select("doc_id", "n_eval_matches"),
        "topk" -> topk.select("query_id", "vec_id"),
        "sem_kept" -> semKept.select("vec_id", "cell"),
        "output" -> output)
      val ds = parts.map { case (n, df) => n -> Digest.of(df) }
      Trace.count("rows_out", ds.last._2.takeWhile(_ != ':').toDouble)
      ds.map { case (n, d) => s"$n=$d" }.mkString(" ")
    }
    if (warmUp) check(chunkRow.name)(Digest.of(chunks))
    run.op("sweep", "maintain") { Main.sweep(spark); true }
    digests
  }

  def warm(run: Run): Unit = {
    val ds = pass(run, warmUp = true)
    emitFile.foreach { f =>
      Main.writeTsv(f, ds)
      val out = new java.io.PrintWriter(f + ".oracle.json", "UTF-8")
      try out.println(chunkRow.oracle.map(q => s"{${Json.str(chunkRow.name)}:${Json.str(q)}}")
        .getOrElse("{}"))
      finally out.close()
    }
  }

  val unitSeconds = 12.0

  def unit(run: Run): Unit = {
    pass(run, warmUp = false)
    done += NDocs
  }

  def finish(run: Run): Unit = ()
}
