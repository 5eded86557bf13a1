package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Invariants for the PQ/ADC index (x69) and embedding-space near-dup
  * pruning (x70) on the real sf0.001 embeddings (500 x 64 floats).
  */
class PqSemdedupSpec extends SparkSpec {

  private def emb = spark.read.parquet(s"$sf0001/embeddings.parquet")

  test("x69: exactly top-5 per query, self excluded, adc ascending, deterministic") {
    val rows = Similarity.x69_pq_topk.run(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byQ = rows.groupBy(_._1)
    assert(byQ.keySet == (0L until 10L).toSet)
    byQ.foreach { case (q, rs) =>
      assert(rs.length == 5, s"query $q returned ${rs.length} rows")
      assert(!rs.exists(_._2 == q), s"query $q retrieved itself")
      // driver preserves the orderBy; adc non-decreasing within a query
      assert(rs.map(_._3).sameElements(rs.map(_._3).sorted))
    }
    val again = Similarity.x69_pq_topk.run(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == again.toSeq)
  }

  test("x69: a codeword vector encodes to itself in every subspace") {
    // Seeds ARE the codewords: their subvector distance to codeword c ==
    // vec_id is exactly 0, and no distinct codeword can also be at 0, so
    // the (d, c) argmin must pick c == vec_id for all 4 subspaces. This
    // pins the encode argmin (distance arithmetic + tiebreak) end to end.
    import Similarity.x69EncodeForTest
    val codes = x69EncodeForTest(Tables(spark, sf0001)).filter(col("vec_id") < 8)
      .collect()
    assert(codes.length == 8)
    codes.foreach { r =>
      val id = r.getLong(0)
      (1 to 4).foreach(m => assert(r.getLong(m) == id,
        s"seed $id encoded to ${r.getLong(m)} in subspace ${m - 1}"))
    }
  }

  test("x70: drop set is exactly {v : exists same-cluster u<v with sim>=0.35}, via the builtins cosine") {
    // Independent replay of the keep rule with cosineBuiltins (the
    // composed zip_with+aggregate form) instead of the codegen'd
    // expression: identical survivor set.
    val seeds = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cell"),
        transform(col("embedding"), v => v.cast("double")).as("centroid"))
    val asn = Similarity.assignToCentroids(emb, seeds)
      .select(col("vec_id"), col("cell"), col("embedding"))
    val dup = asn.as("a").join(asn.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id") &&
          Oracles.cosineBuiltins(col("a.embedding"), col("b.embedding")) >= 0.35)
      .select(col("b.vec_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    val survivors = Similarity.x70_semdedup.run(spark, sf0001)
      .collect().map(_.getLong(0)).toSet
    val all = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(survivors == all -- dup)
    assert(dup.nonEmpty, "fixture should contain embedding near-duplicates at tau=0.35")
  }

  test("x85: flagged set replayed independently via the builtins cosine; eval never flagged") {
    val seeds = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cell"),
        transform(col("embedding"), v => v.cast("double")).as("centroid"))
    val asn = Similarity.assignToCentroids(emb, seeds)
      .select(col("vec_id"), col("cell"), col("embedding"))
    val expect = asn.as("c").join(asn.as("v"),
        col("c.cell") === col("v.cell") &&
          col("c.vec_id") % 10 =!= 0 && col("v.vec_id") % 10 === 0 &&
          Oracles.cosineBuiltins(col("c.embedding"), col("v.embedding")) >= 0.35)
      .groupBy(col("c.vec_id")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Similarity.x85_semantic_decontam.run(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expect)
    assert(got.nonEmpty, "fixture should contain semantic eval leaks at tau=0.35")
    assert(got.keySet.forall(_ % 10 != 0), "eval vectors must never be flagged")
  }

  test("x70b: adaptive k resolves to 8 at driver SFs, so scaled == fixed row for row") {
    // n=500 -> max(8, 500/250)=8: the oracle-pinned regime. The adaptive
    // path only diverges on self-scaled corpora (SCALE.md decades).
    val fixed  = Similarity.x70_semdedup.run(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val scaled = Similarity.x70b_semdedup_scaled.run(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(scaled == fixed)
  }

  test("x70: larger k still partitions the corpus and keeps every cluster minimum") {
    // The decade path (k grows with N): every vector lands in exactly one
    // cluster, cluster count == k reachable seeds, minima survive.
    val out = Similarity.semDedup(emb, k = 40, tau = 0.35).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val survivors = out.map(_._1).toSet
    assert(out.map(_._1).distinct.length == out.length, "a vector survived twice")
    out.groupBy(_._2).foreach { case (cell, rs) =>
      assert(cell >= 0 && cell < 40)
      assert(survivors.contains(rs.map(_._1).min), s"cluster $cell lost its minimum")
    }
  }

  test("x70: the lowest vec_id of every cluster always survives") {
    val out = Similarity.x70_semdedup.run(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val survivors = out.map(_._1).toSet
    // cluster minima have no lower-id cluster-mate, so the keep rule can
    // never drop them — their presence pins the anti-join direction
    out.groupBy(_._2).foreach { case (cell, rs) =>
      assert(survivors.contains(rs.map(_._1).min), s"cluster $cell lost its minimum")
    }
  }
}
