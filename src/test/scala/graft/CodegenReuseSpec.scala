package graft

import graft.operators.{Curation, Dedup, GraphOps, Similarity}
import org.apache.spark.sql.functions._

/** A repeated curation pipeline reuses its compiled generated classes:
  * Spark's JVM-wide codegen cache must hold one pass's working set, or
  * every pass evicts the previous pass's classes and Janino compiles them
  * all again (see [[Graft.session]]). Compiles are counted with
  * [[SparkSpec.compiles]].
  */
class CodegenReuseSpec extends SparkSpec {

  /** One pass of the curation operators over the sf0.001 tables, each
    * result materialized as the benchmark's stages are.
    */
  private def pass(): Unit = {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("lang"), col("text"),
        Curation.tokenCount(col("text")).as("tokens"))
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val eval = docs.filter(col("doc_id") % 7 === 3)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        regexp_replace(col("text"), "^\\S+ ", "").as("text"))
    val pairs = Dedup.simhashPairs(docs, maxHamming = 7).localCheckpoint()
    val labels = GraphOps.connectedComponents(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")), spark).localCheckpoint()
    val canonical = Curation.canonicalPerCluster(
      docs.join(labels.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
        .withColumn("component", coalesce(col("component"), col("doc_id"))),
      "component", "doc_id", "tokens").localCheckpoint()
    val kept = docs.join(canonical.select(col("canonical_doc").as("doc_id")),
      Seq("doc_id"), "left_semi")
    val excised = Dedup.exciseSpans(kept.select("doc_id", "text"), k = 8, fingerprints = true)
      .localCheckpoint()
    Curation.fuzzyDecontaminate(
      excised.select(col("doc_id"), col("clean_text").as("text")), eval, "doc_id", "text", 5, 0.5)
      .localCheckpoint()
    Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 20), k = 5, nCells = 16, nProbe = 4)
      .localCheckpoint()
    Similarity.semDedup(emb, k = 8, tau = 0.35).localCheckpoint()
    Curation.packBins(excised.join(docs.select("doc_id", "lang"), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("kept_words").as("tokens")),
      Seq("lang"), "tokens", "doc_id", 512).localCheckpoint()
  }

  // A repeat is not held to exactly 0: adaptive execution re-plans a query
  // as its shuffle stages finish, and the order they finish in on 4 task
  // threads can give a stage a different codegen id or join strategy, so a
  // repeat may compile a few variants it has not seen yet (up to 8 seen
  // here). A cold run compiles about 190 classes, and a cache smaller than
  // that recompiles most of them on every repeat. Earlier suites in the
  // same JVM may have cached some of run 1's classes, so run 1's count is
  // only reported.
  private val FewVariants = 20

  test("a repeated curation pipeline reuses the classes its first run compiled") {
    val counts = (1 to 3).map { _ =>
      val c = compiles
      pass()
      compiles - c
    }
    assert(counts.tail.forall(_ < FewVariants),
      s"runs 2 and 3 recompiled generated classes: compiles per run $counts")
  }
}
