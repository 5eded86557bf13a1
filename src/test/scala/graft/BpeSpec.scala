package graft

import scala.collection.mutable

import graft.operators.{Curation, TrainPrep}

/** x80/x81: the distributed BPE trainer and encoder must reproduce a
  * canonical from-scratch JVM reference — symbol VECTORS and an explicit
  * left-to-right non-overlapping merge scan, no shared encoding or replace
  * tricks — so a defect in the engines' symbol-string representation
  * (delimiter sharing, partial-symbol matches) cannot hide behind oracle
  * agreement.
  */
class BpeSpec extends SparkSpec {

  private def tables = Tables(spark, sf0001)

  /** Canonical trainer: returns the k merge rules and the final
    * (word -> symbol count) vocabulary.
    */
  private def referenceTrain(texts: Seq[String], k: Int)
      : (Seq[(Int, String, String, Long)], Map[String, Int]) = {
    val wordCounts = mutable.Map.empty[String, Long].withDefaultValue(0L)
    texts.foreach(_.split(" ", -1)
      .filter(w => w.length >= 2 && !w.contains("|"))
      .foreach(w => wordCounts(w) += 1L))
    var vocab: Map[String, (Vector[String], Long)] = wordCounts.toMap.map {
      case (w, n) => w -> (w.split("").filter(_.nonEmpty).toVector, n)
    }
    val merges = (1 to k).map { r =>
      val counts = mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
      vocab.values.foreach { case (syms, n) =>
        (0 until syms.length - 1).foreach(i => counts((syms(i), syms(i + 1))) += n)
      }
      // max count; ties on the ENCODED pair string ascending — the exact
      // comparator both engines use (symbols are '|'-terminated there)
      val ((l, rt), cnt) = counts.minBy { case ((a, b), c) => (-c, s"$a| $b|") }
      def merge(syms: Vector[String]): Vector[String] = {
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == rt) {
            out += (l + rt); i += 2 // left-to-right, non-overlapping
          } else { out += syms(i); i += 1 }
        }
        out.result()
      }
      vocab = vocab.map { case (w, (syms, n)) => w -> (merge(syms), n) }
      (r, l, rt, cnt)
    }
    (merges, vocab.map { case (w, (syms, _)) => w -> syms.length })
  }

  test("12-round merge trajectory equals the canonical JVM reference") {
    val res = Curation.bpeMerges(tables.documents, "text", 12)
      .orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    val texts = tables.documents.select("text").collect().map(_.getString(0)).toSeq
    assert(res.toSeq === referenceTrain(texts, 12)._1)
  }

  test("bpeMerges runs no job after the last round's merge rule is known") {
    // the vocab's checkpoint (2 jobs), then per round the top-pair collect
    // (2 jobs) and, on every round but the last, whose merge nothing reads,
    // the merged vocab's localCheckpoint (1 job): 2 + 3 * 2 + 2 * 1
    import spark.implicits._
    val docs = Seq("low lower lowest", "newer wider new", "slow slower").toDF("text")
    val jobs = jobsOf(Curation.bpeMerges(docs, "text", 3))
    assert(jobs == 10, s"bpeMerges(k = 3) ran $jobs jobs")
  }

  test("a word fully merged to one symbol stops contributing pairs, not the training") {
    // "in" fully merges at round 1 (i+n, count 4) and from then on is a
    // single-symbol word: sequence(1, size-1) would be the DESCENDING
    // [1, 0] and element_at(s, 0) threw before the size>=2 guard. Rounds
    // 2-3 must proceed on "abc" alone: (a,b) wins its tie with (b,c) on
    // the encoded-pair comparator, then (ab,c).
    import spark.implicits._
    val docs = Seq("in in in in", "abc abc").toDF("text")
    val res = Curation.bpeMerges(docs, "text", 3)
      .orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(res.toSeq === Seq((1, "i", "n", 4L), (2, "a", "b", 2L), (3, "ab", "c", 2L)))
    // and with every word merged to one symbol the exhaustion require is
    // now REACHABLE — a loud domain error, not an array-index crash
    val ex = intercept[IllegalArgumentException] {
      Curation.bpeMerges(docs, "text", 4).collect()
    }
    assert(ex.getMessage.contains("vocabulary is exhausted"))
  }

  test("driver-local trainer: trajectory and vocabulary equal the canonical reference") {
    val texts = tables.documents.select("text").collect().map(_.getString(0)).toSeq
    val (refMerges, refVocab) = referenceTrain(texts, 12)
    val local = Curation.bpeMergesLocal(tables.documents, "text", 12)
      .orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(local.toSeq === refMerges)
    val vocabMap = Curation.bpeTokenCountsLocal(tables.documents, "text", 12)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(vocabMap === refVocab)
  }

  test("driver-local trainer at realistic k: strict fails loud, lenient stops at exhaustion") {
    import spark.implicits._
    val docs = Seq("in in in in", "abc abc").toDF("text")
    val ex = intercept[IllegalArgumentException] {
      Curation.bpeMergesLocal(docs, "text", 1024).collect()
    }
    assert(ex.getMessage.contains("vocabulary is exhausted"))
    // lenient mode: the k budget outruns the vocab — return every merge
    // learnable, exactly the distributed/reference trajectory prefix
    val lenient = Curation.bpeMergesLocal(docs, "text", 1024, strict = false)
      .orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(lenient.toSeq === Seq((1, "i", "n", 4L), (2, "a", "b", 2L), (3, "ab", "c", 2L)))
  }

  test("x81 encode: per-lang token counts equal the reference vocabulary applied word by word") {
    val res = TrainPrep.x81_bpe_encode.run(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val rows = tables.documents.select("lang", "text").collect()
    val (_, refVocab) = referenceTrain(rows.map(_.getString(1)).toSeq, 12)
    val expected = mutable.Map.empty[String, (Long, Long)].withDefaultValue((0L, 0L))
    rows.foreach { row =>
      val (lang, words) = (row.getString(0), row.getString(1).split(" ", -1))
      val bpe = words.map(w => refVocab.getOrElse(w, 1).toLong).sum
      val (ws0, bpe0) = expected(lang)
      expected(lang) = (ws0 + words.length, bpe0 + bpe)
    }
    assert(res === expected.toMap)
  }
}
