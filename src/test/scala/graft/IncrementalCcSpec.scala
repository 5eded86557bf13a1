package graft

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.operators.GraphOps

/** x53: mergeNewEdges(labels(base), batch) must equal
  * connectedComponents(base ∪ batch) — on randomized graphs, including
  * batches that chain multiple existing components together and batches
  * introducing brand-new nodes; x54's count conservation rides along.
  */
class IncrementalCcSpec extends SparkSpec {

  import spark.implicits._

  private def ccMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.as[(Long, Long)].collect().toMap

  test("incremental merge equals full recompute on randomized graphs") {
    val rnd = new Random(42)
    for (trial <- 1 to 3) {
      val n     = 60
      val base  = Seq.fill(70)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // batch: random edges + edges touching unseen nodes (>= n)
      val batch = Seq.fill(15)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)) ++
        Seq.fill(5)((rnd.nextInt(n).toLong, (n + rnd.nextInt(10)).toLong))
      val batchOk = batch.filter { case (a, b) => a != b }

      val baseDf  = base.toDF("src", "dst")
      val batchDf = batchOk.toDF("src", "dst")

      val incremental = ccMap(
        GraphOps.mergeNewEdges(GraphOps.connectedComponents(baseDf, spark), batchDf, spark))
      val full = ccMap(
        GraphOps.connectedComponents(baseDf.unionByName(batchDf), spark))

      // full recompute only covers edge-touched nodes; the incremental
      // result additionally keeps base labels — compare on the union
      // domain: every full node must agree, and incremental-only nodes
      // must be consistent singletons or base-component members.
      full.foreach { case (node, comp) =>
        assert(incremental(node) === comp, s"trial $trial node $node: ${incremental(node)} != $comp")
      }
      // same partition structure: equal label <=> equal label
      val sharedNodes = full.keySet.toSeq.sorted
      for (a <- sharedNodes; b <- sharedNodes if a < b)
        assert((full(a) == full(b)) === (incremental(a) == incremental(b)),
          s"trial $trial: partition disagreement on ($a, $b)")
    }
  }

  test("local union-find merge path equals the distributed CC fixpoint (r16)") {
    // mergeNewEdges takes the driver union-find path when the label-pair
    // set fits under spark.graft.cc.localMergeMaxPairs and the distributed
    // CC loop above it; the two must produce IDENTICAL labelings. Cap=0
    // forces the distributed path on the same inputs.
    val rnd = new Random(7)
    for (trial <- 1 to 3) {
      val n     = 50
      val base  = Seq.fill(60)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val batch = (Seq.fill(20)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)) ++
        Seq.fill(5)((rnd.nextInt(n).toLong, (n + rnd.nextInt(8)).toLong)))
        .filter { case (a, b) => a != b }
      val labels = GraphOps.connectedComponents(base.toDF("src", "dst"), spark)
        .localCheckpoint()
      val viaLocal = ccMap(GraphOps.mergeNewEdges(labels, batch.toDF("src", "dst"), spark))
      spark.conf.set("spark.graft.cc.localMergeMaxPairs", "0")
      val viaDistributed =
        try ccMap(GraphOps.mergeNewEdges(labels, batch.toDF("src", "dst"), spark))
        finally spark.conf.unset("spark.graft.cc.localMergeMaxPairs")
      assert(viaLocal === viaDistributed, s"trial $trial: local/distributed labelings diverged")
    }
  }

  test("empty batch returns the base labeling unchanged") {
    val base   = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("src", "dst")
    val labels = GraphOps.connectedComponents(base, spark)
    val merged = GraphOps.mergeNewEdges(labels, spark.emptyDataset[(Long, Long)].toDF("src", "dst"), spark)
    assert(ccMap(merged) === ccMap(labels))
  }

  test("streaming label maintenance converges to the full recompute") {
    import java.nio.file.Files
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val base = Seq((1L, 2L), (4L, 5L), (7L, 8L)).toDF("src", "dst")
    val dir  = Files.createTempDirectory("cc-labels").toString + "/labels"
    graft.sources.MultiStore.commit(dir, Map("labels" -> GraphOps.connectedComponents(base, spark)))

    val input = MemoryStream[(Long, Long)]
    val query = GraphOps.streamingLabelMaintenance(
      input.toDF().toDF("src", "dst"), dir,
      Files.createTempDirectory("cc-ckpt").toString)
    try {
      input.addData((2L, 4L))           // chains {1,2} with {4,5}
      query.processAllAvailable()
      input.addData((5L, 7L), (9L, 10L)) // chains into {7,8}; new component
      query.processAllAvailable()
    } finally query.stop()

    val got  = ccMap(graft.sources.MultiStore.read(spark, dir, "labels"))
    val full = ccMap(GraphOps.connectedComponents(
      base.unionByName(Seq((2L, 4L), (5L, 7L), (9L, 10L)).toDF("src", "dst")), spark))
    assert(got.keySet === full.keySet)
    val nodes = full.keySet.toSeq.sorted
    for (a <- nodes; b <- nodes if a < b)
      assert((full(a) == full(b)) === (got(a) == got(b)), s"partition disagreement on ($a, $b)")
  }

  test("x54 transition counts conserve the event total") {
    val events = Tables(spark, sf0001).events
    val m = graft.operators.Analytics.transitionMatrix(events)
    assert(m.agg(sum("n")).as[Long].head() === events.count())
    assert(m.where(col("prev_type") === "_start").agg(sum("n")).as[Long].head() ===
      events.select("user_id").distinct().count())
  }
}
