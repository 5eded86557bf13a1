package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Checkpoints

/** Graph / recursive operators (SURVEY §2.10). Spark has no WITH RECURSIVE,
  * so these are iterative DataFrame loops: frontier -> join edges ->
  * anti-join visited -> union. Each iteration is one shuffle round;
  * `localCheckpoint` every few rounds cuts the lineage chain so plans stay
  * bounded at depth (SURVEY §7.4 "recursive queries").
  *
  * Scale: frontier/visited are (key) DataFrames partitioned by the join
  * key; BFS depth on the reference's graphs (mention docs, session trees)
  * is shallow (<= ~10), so the loop count — not the data volume — is small.
  */
object GraphOps {

  private val CheckpointEvery = 3

  /** Size cap (oriented edge rows, also the driver-row output bail for the
    * non-deduplicating walks) under which the iterative walk operators run
    * as one bounded collect + a driver traversal instead of an O(depth)
    * distributed loop — the connectedComponents `localEdgesMax` discipline
    * (r16) applied to the walk family. 100k edge rows ≈ 1.6 MB on the
    * driver: the budget class of the broadcast relations every loop round
    * already ships. Over the cap (every corpus-shaped graph at 100 TB) the
    * distributed loops below run exactly as before; the cutover is a Spark
    * conf, never baked to the bench.
    */
  private def walkLocalMax(spark: SparkSession): Int =
    spark.conf.get("spark.graft.graph.localEdgesMax", "100000").toInt

  /** Bounded materialization probe: Some(rows) iff `df` holds at most `cap`
    * rows. Callers probe an already-persisted frame, so an over-cap graph
    * pays at most one cached/partial partition evaluation.
    */
  private def collectUnder(df: DataFrame, cap: Int): Option[Array[org.apache.spark.sql.Row]] = {
    val head = df.limit(cap + 1).collect()
    if (head.length <= cap) Some(head) else None
  }

  /** Materialize a driver-walk result with the distributed loop's exact
    * column types (node types are caller-supplied — the spec suite drives
    * these walks with string ids, so the local path stays type-generic).
    */
  private def localRows(
      spark: SparkSession,
      fields: Seq[(String, org.apache.spark.sql.types.DataType)],
      rows: Seq[org.apache.spark.sql.Row]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(
      fields.map { case (n, t) => org.apache.spark.sql.types.StructField(n, t) })
    spark.createDataFrame(rows.asJava, schema)
  }

  /** G1: BFS reachability with cycle detection over an edge table
    * (src, dst), starting from `roots` (single column `node`). Returns
    * (node, depth) of every reached node — visited-set semantics exactly
    * like the reference's mention loader (mention_loader.py:58-129): a node
    * is visited once at its first (shallowest) depth; cycles terminate
    * because the frontier anti-joins the visited set.
    */
  def bfs(edges: DataFrame, roots: DataFrame, maxDepth: Int = 100): DataFrame = {
    // The edge table is scanned once per round: persist it for the loop's
    // lifetime (at 100 TB the edge projection is far smaller than the doc
    // table it derives from; MEMORY_AND_DISK spills rather than OOMs).
    // Every frontier is eagerly localCheckpoint'ed — frontiers are
    // wavefront-sized, and materializing them makes the per-round isEmpty
    // probe and the next join read cached rows instead of re-running the
    // whole lineage (the round-1 form re-evaluated the chain every round,
    // turning an O(depth) loop into O(depth^2) work).
    val e = edges.select(col("src"), col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cp = Checkpoints.scope(roots.sparkSession)
    try {
      // r16 small-graph fast path (guide §1.2; the CC localEdgesMax
      // discipline at the walk entries): under the cap the O(depth) loop —
      // per-round join, distinct, anti-join, checkpoint lifecycle —
      // collapses to one bounded collect + a driver visited-set BFS with
      // identical min-depth semantics (spec-checked local==distributed on
      // randomized cyclic graphs). Over the cap the loop below runs
      // exactly as before.
      val localMax = walkLocalMax(roots.sparkSession)
      if (localMax > 0) {
        (collectUnder(e, localMax),
          collectUnder(roots.select(col("node")), localMax)) match {
          case (Some(es), Some(rs)) =>
            val adj = scala.collection.mutable.Map
              .empty[Any, scala.collection.mutable.ArrayBuffer[Any]]
            es.foreach { r =>
              adj.getOrElseUpdate(r.get(0),
                scala.collection.mutable.ArrayBuffer.empty[Any]) += r.get(1)
            }
            val depthOf = scala.collection.mutable.LinkedHashMap.empty[Any, Int]
            var frontier: Seq[Any] = rs.map(_.get(0)).distinct.toSeq
            frontier.foreach(n => depthOf(n) = 0)
            var depth = 0
            while (depth < maxDepth && frontier.nonEmpty) {
              depth += 1
              frontier = frontier.iterator
                .flatMap(n => adj.getOrElse(n, Nil)).toSeq.distinct
                .filterNot(depthOf.contains)
              frontier.foreach(n => depthOf(n) = depth)
            }
            return localRows(
              roots.sparkSession,
              Seq("node" -> roots.select(col("node")).schema.head.dataType,
                "depth" -> org.apache.spark.sql.types.IntegerType),
              depthOf.toSeq.map { case (n, d) => org.apache.spark.sql.Row(n, d) })
          case _ => ()
        }
      }
      var visited  = cp.checkpoint(roots.select(col("node")).distinct()
        .withColumn("depth", lit(0)))
      var frontier = visited
      var depth    = 0
      while (depth < maxDepth && !frontier.isEmpty) {
        depth += 1
        // depth comes from the frontier COLUMN, not lit(depth): a literal
        // bakes the round number into the generated code, so every round
        // recompiles 3-4 codegen stages (~200ms/round of pure Janino time);
        // with column arithmetic the plan is byte-identical across rounds
        // and the codegen cache hits after round 1.
        val next = cp.checkpoint(frontier
          .select(col("node").as("src"), (col("depth") + 1).as("depth"))
          .join(e, Seq("src"))
          .select(col("dst").as("node"), col("depth"))
          .distinct()
          .join(visited.select("node"), Seq("node"), "left_anti"))
        frontier = next
        // visited is a union of checkpointed frontiers — the plan is flat,
        // but re-checkpoint periodically so the union fan-in stays bounded,
        // then release the superseded generation: once the new snapshot is
        // materialized, only it and the live frontier hold needed blocks.
        visited = visited.unionByName(frontier)
        if (depth % CheckpointEvery == 0) {
          visited = cp.checkpoint(visited)
          cp.retain(visited, frontier)
        }
      }
      visited
    } finally { e.unpersist(false); () }
  }

  /** G2/G3 support: transitive closure of descendants under `roots` over a
    * parent->child edge table — the set a recursive clone copies or a
    * cascade delete removes (routers/sessions.py:368-516;
    * sessions/manager.py:422-452). Output: (node, depth), roots at 0.
    *
    * Generic form: delegates to [[bfs]], whose per-round visited anti-join
    * gives cycle tolerance and cross-path dedup on arbitrary graphs.
    */
  def descendants(parentChild: DataFrame, roots: DataFrame, maxDepth: Int = 100): DataFrame =
    bfs(parentChild.select(col("parent").as("src"), col("child").as("dst")), roots, maxDepth)

  /** [[descendants]] specialized to PARENT-POINTER TREES — the shape every
    * session-tree caller actually has (parent_session_id is a scalar, so
    * each child has exactly one parent, and a clone/cascade walks from one
    * root). On that contract a node is reachable by AT MOST ONE path, so
    * the per-round `distinct()` and visited anti-join that [[bfs]] pays
    * for cycle tolerance are provably no-ops — dropping them turns each
    * round from three sequential stage waves (broadcast join + frontier
    * exchange + growing visited exchange) into ONE broadcast-join wave
    * (r15 measurement: the anti-join re-shuffled the GROWING visited set
    * every round — O(depth x subtree) shuffled bytes on a ~19-deep sf0.1
    * tree; guide §2.4 "remove shuffles outright"). Same loop discipline as
    * [[ancestorWalk]], which never needed the anti-join for the same
    * reason.
    *
    * Contract: each child has at most one parent, and `roots` must be an
    * antichain (no root a descendant of another) — both hold for every
    * caller (single-root clone/cascade over session trees). Cycles cannot
    * be silently mislabeled: a parent-pointer cycle reachable from a root
    * keeps the frontier non-empty until `maxDepth`, which now throws
    * loudly (the CC convergence-guard discipline) instead of returning a
    * wrong closure.
    */
  def descendantsTree(parentChild: DataFrame, roots: DataFrame, maxDepth: Int = 100): DataFrame = {
    val e = parentChild.select(col("parent").as("src"), col("child").as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cp = Checkpoints.scope(roots.sparkSession)
    try {
      // r16 small-graph fast path (the bfs/CC localEdgesMax discipline).
      // The driver walk replicates the loop below EXACTLY: no frontier
      // dedup (the tree contract — a contract-violating DAG multiplies
      // rows identically on both paths, and the localMax row bail below
      // falls back to the distributed loop before the driver holds more
      // than cap rows), and the same loud cycle/depth throw, including the
      // at-cap completeness probe (frontier empty OR childless => the
      // closure in acc is complete).
      val localMax = walkLocalMax(roots.sparkSession)
      if (localMax > 0) {
        (collectUnder(e, localMax),
          collectUnder(roots.select(col("node")).distinct(), localMax)) match {
          case (Some(es), Some(rs)) =>
            val adj = scala.collection.mutable.Map
              .empty[Any, scala.collection.mutable.ArrayBuffer[Any]]
            es.foreach { r =>
              adj.getOrElseUpdate(r.get(0),
                scala.collection.mutable.ArrayBuffer.empty[Any]) += r.get(1)
            }
            val acc = scala.collection.mutable.ArrayBuffer.empty[(Any, Int)]
            var frontier: Seq[Any] = rs.map(_.get(0)).toSeq
            frontier.foreach(n => acc += ((n, 0)))
            var depth    = 0
            var overflow = false
            while (depth < maxDepth && frontier.nonEmpty && !overflow) {
              depth += 1
              frontier = frontier.iterator.flatMap(n => adj.getOrElse(n, Nil)).toSeq
              frontier.foreach(n => acc += ((n, depth)))
              overflow = acc.length > localMax
            }
            if (!overflow) {
              if (frontier.nonEmpty && frontier.exists(adj.contains))
                throw new IllegalStateException(
                  s"descendantsTree hit maxDepth=$maxDepth with a live frontier — " +
                    "the input has a cycle or is deeper than the cap; use descendants() " +
                    "for cyclic graphs or raise maxDepth")
              return localRows(
                roots.sparkSession,
                Seq("node" -> roots.select(col("node")).schema.head.dataType,
                  "depth" -> org.apache.spark.sql.types.IntegerType),
                acc.toSeq.map { case (n, d) => org.apache.spark.sql.Row(n, d) })
            }
          case _ => ()
        }
      }
      var acc      = cp.checkpoint(roots.select(col("node")).distinct()
        .withColumn("depth", lit(0)))
      var frontier = acc
      var depth    = 0
      while (depth < maxDepth && !frontier.isEmpty) {
        depth += 1
        // depth from the frontier column, not lit(depth) — the bfs codegen-
        // cache rule: byte-identical plans across rounds.
        val next = cp.checkpoint(frontier
          .select(col("node").as("src"), (col("depth") + 1).as("depth"))
          .join(e, Seq("src"))
          .select(col("dst").as("node"), col("depth")))
        frontier = next
        acc = acc.unionByName(frontier)
        if (depth % CheckpointEvery == 0) {
          acc = cp.checkpoint(acc)
          cp.retain(acc, frontier)
        }
      }
      // Cap-boundary disambiguation (ADVICE r15, the CC extra-probe
      // discipline at lines ~330): a tree whose deepest level lands EXACTLY
      // at maxDepth exits the loop with that level still in `frontier` —
      // but `acc` already contains it, so the closure is complete iff the
      // live frontier has no children. One extra broadcast-join probe (only
      // on the at-cap path, never in a normal run) separates "complete at
      // the cap" from "cycle or genuinely deeper".
      if (!frontier.isEmpty &&
          !frontier.select(col("node").as("src")).join(e, Seq("src")).isEmpty)
        throw new IllegalStateException(
          s"descendantsTree hit maxDepth=$maxDepth with a live frontier — " +
            "the input has a cycle or is deeper than the cap; use descendants() " +
            "for cyclic graphs or raise maxDepth")
      acc
    } finally { e.unpersist(false); () }
  }

  /** G3: cascade delete = anti-join survivors against the closure, then
    * overwrite (the DELETE WHERE idiom without Delta). Session tables are
    * parent-pointer trees, so the closure walks via [[descendantsTree]]
    * (duplicate doomed rows from overlapping roots would be absorbed by
    * the anti-join anyway; the tree walk just never produces them).
    *
    * CONTRACT (ADVICE r15): `parentChild` must be a parent-pointer TREE —
    * each child has at most one parent and no duplicate edge rows. A DAG
    * (child with 2+ parents) or duplicated edges multiply frontier rows
    * per level in the tree walk (up to exponential in path count), and a
    * reachable cycle throws instead of converging. For DAG- or
    * cycle-shaped edges, walk the closure with [[descendants]] (bfs:
    * per-round dedup + visited anti-join) and anti-join survivors
    * yourself.
    */
  def cascadeDeleteSurvivors(all: DataFrame, idCol: String, parentChild: DataFrame, roots: DataFrame): DataFrame = {
    val doomed = descendantsTree(parentChild, roots).select(col("node").as(idCol))
    all.join(doomed, Seq(idCol), "left_anti")
  }

  /** G5: nearest marked ancestor — explode each path's prefixes, join the
    * marker set, keep the deepest hit (amplified_directory_service.py:71-95).
    * The marker side is small (registry-sized) -> broadcast.
    */
  def nearestMarkedAncestor(paths: DataFrame, pathCol: String, markers: DataFrame, markerCol: String): DataFrame = {
    import graft.functions.TextFunctions.pathPrefixes
    val exploded = paths
      .select(col(pathCol), explode(pathPrefixes(col(pathCol))).as("prefix"))
    exploded
      .join(broadcast(markers.select(col(markerCol).as("prefix"))), Seq("prefix"))
      .groupBy(col(pathCol))
      .agg(max_by(col("prefix"), length(col("prefix"))).as("nearest_marker"))
  }

  /** G5: per-start ancestor chains — walk parent links from every start
    * node to its root (sessions/manager.py:422-452 get-ancestors). Unlike
    * `bfs`, chains are NOT deduplicated across starts: each start owns its
    * full lineage, exactly the WITH RECURSIVE per-row expansion. Input
    * `childParent` has columns (child, parent); output (start, node, depth)
    * with the start itself at depth 0. Terminates when no child edge exists
    * for the frontier node (tree/DAG reaching a root); `maxDepth` bounds
    * pathological cycles.
    */
  def ancestorWalk(childParent: DataFrame, starts: DataFrame, maxDepth: Int = 100): DataFrame = {
    // Same persist + eager-checkpoint discipline as `bfs` (see there).
    val e = childParent.select(col("child"), col("parent"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cp = Checkpoints.scope(starts.sparkSession)
    try {
      // r16 small-graph fast path (the bfs/CC localEdgesMax discipline).
      // Chains stay per-start with NO cross-start dedup, exactly like the
      // loop below (a multi-parent DAG branches identically on both
      // paths); the localMax row bail falls back to the distributed loop
      // before the driver holds more than cap output rows.
      val localMax = walkLocalMax(starts.sparkSession)
      if (localMax > 0) {
        (collectUnder(e, localMax),
          collectUnder(starts.select(col("start")).distinct(), localMax)) match {
          case (Some(es), Some(ss)) =>
            val adj = scala.collection.mutable.Map
              .empty[Any, scala.collection.mutable.ArrayBuffer[Any]]
            es.foreach { r =>
              adj.getOrElseUpdate(r.get(0),
                scala.collection.mutable.ArrayBuffer.empty[Any]) += r.get(1)
            }
            val acc = scala.collection.mutable.ArrayBuffer.empty[(Any, Any, Int)]
            var frontier: Seq[(Any, Any)] = ss.map(r => (r.get(0), r.get(0))).toSeq
            frontier.foreach { case (s, n) => acc += ((s, n, 0)) }
            var depth    = 0
            var overflow = false
            while (depth < maxDepth && frontier.nonEmpty && !overflow) {
              depth += 1
              frontier = frontier.iterator.flatMap { case (s, n) =>
                adj.getOrElse(n, Nil).iterator.map(p => (s, p))
              }.toSeq
              frontier.foreach { case (s, n) => acc += ((s, n, depth)) }
              overflow = acc.length > localMax
            }
            if (!overflow) {
              val startType = starts.select(col("start")).schema.head.dataType
              return localRows(
                starts.sparkSession,
                Seq("start" -> startType,
                  "node" -> e.schema("parent").dataType,
                  "depth" -> org.apache.spark.sql.types.IntegerType),
                acc.toSeq.map { case (s, n, d) => org.apache.spark.sql.Row(s, n, d) })
            }
          case _ => ()
        }
      }
      var acc      = cp.checkpoint(starts.select(col("start")).distinct()
        .withColumn("node", col("start")).withColumn("depth", lit(0)))
      var frontier = acc
      var depth    = 0
      while (depth < maxDepth && !frontier.isEmpty) {
        depth += 1
        // depth from the frontier column, not lit(depth) — same codegen-
        // cache reasoning as in `bfs`.
        val next = cp.checkpoint(frontier
          .select(col("start"), col("node").as("child"), (col("depth") + 1).as("depth"))
          .join(e, Seq("child"))
          .select(col("start"), col("parent").as("node"), col("depth")))
        frontier = next
        acc = acc.unionByName(frontier)
        if (depth % CheckpointEvery == 0) {
          acc = cp.checkpoint(acc)
          cp.retain(acc, frontier) // superseded generations' blocks die here
        }
      }
      acc
    } finally { e.unpersist(false); () }
  }

  /** G6/J1: materialize one tree level — children collected under each
    * parent, sorted per the reference's root-first, case-insensitive order
    * (treeUtils.ts:62-80; collect via groupBy + sort_array keeps the sort
    * inside the aggregated struct, no extra shuffle).
    */
  def childrenByParent(nodes: DataFrame, idCol: String, parentCol: String, nameCol: String): DataFrame =
    nodes
      .groupBy(col(parentCol).as("parent"))
      .agg(
        // ICU base-sensitivity sort key (case- AND accent-insensitive) —
        // the exact localeCompare(sensitivity:'base') semantics of
        // treeUtils.ts:71, via Spark 4's native UNICODE_CI_AI collation
        // (CollationSpec pins the non-ASCII behavior lower() missed; on
        // pure-ASCII names the two orderings coincide, which keeps the o6
        // DuckDB oracle expressible as lower()).
        sort_array(collect_list(struct(collate(col(nameCol), "UNICODE_CI_AI").as("sort_key"),
          col(idCol).as("id"), col(nameCol).as("name")))).as("children"))

  /** J2-flavored orphan detection over the same parent-child table:
    * children whose parent id never appears as a node id.
    */
  def orphans(nodes: DataFrame, idCol: String, parentCol: String): DataFrame = {
    val ids = nodes.select(col(idCol).as("pid")).distinct()
    nodes
      .filter(col(parentCol).isNotNull)
      .join(ids, col(parentCol) === col("pid"), "left_anti")
  }

  /** Triangle enumeration per apex (smallest vertex) — the clustering /
    * spam-density primitive. Input edges may be directed, duplicated,
    * either orientation; canonicalized to a < b and deduped first, so a
    * triangle {a,b,c} (a<b<c) is counted exactly once, at apex a.
    *
    * Shape: two equi-joins over the oriented edge table — wedge build
    * (e1.b = e2.a, producing a<b<c paths) then wedge close (does edge
    * (a, c) exist?). Each is a keyed shuffle join; the orientation is the
    * scale guard: every vertex's out-edges go only to HIGHER ids, so a
    * hub of degree d contributes wedges from its higher-id out-degree
    * only — the classic compact-forward bound (sum of C(out_deg, 2)
    * ~ m^1.5 worst case, vs C(d, 2) per hub unoriented). For power-law
    * graphs, orient by (degree, id) instead of raw id to push hub
    * out-degrees toward the minimum; id-orientation is exact and
    * sufficient for the near-uniform-degree graphs here.
    */
  def trianglesPerApex(edges: DataFrame): DataFrame = {
    val oriented = edges
      .select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
    val wedges = oriented
      .join(
        oriented.select(col("a").as("b"), col("b").as("c")), Seq("b"))
    wedges
      .join(oriented.select(col("a"), col("b").as("c")), Seq("a", "c"), "left_semi")
      .groupBy("a")
      .agg(count(lit(1)).as("n_triangles"))
      .select(col("a").as("apex"), col("n_triangles"))
      .orderBy("apex")
  }

  /** Connected components over undirected edges via alternating min-label
    * propagation — the scalable "group near-duplicates into clusters" step
    * after Dedup's pair generation. Converges in O(diameter) rounds.
    *
    * Why not large-star/small-star or per-round pointer jumping (O(log d)
    * rounds)? The workload: near-dup clusters are small and dense (LSH
    * pairs within a dup family), so component diameter is tiny and the
    * round count is already 3-7; a jump step adds a labels-self-join
    * shuffle to EVERY round to save rounds this graph shape doesn't have.
    * For a general large-diameter graph the star algorithms win — this
    * implementation deliberately optimizes the dedup shape.
    */
  def connectedComponents(edges: DataFrame, spark: SparkSession, maxIter: Int = 20): DataFrame = {
    // symmetric closure, every node starts as its own component. The closure
    // is scanned every round -> persist; each round's labels are consumed
    // twice (convergence probe + next propagation) -> eager checkpoint, so
    // neither re-runs the prior rounds' lineage.
    //
    // r15: the closure is repartitioned by `src` (the key every round's
    // join probes) with the dedup clustered into the SAME exchange —
    // hashpartitioning(src) satisfies the (src, dst) clustering the
    // dedup aggregate needs, so this costs the one shuffle `distinct()`
    // already paid, and the cached partitioning then serves all O(diameter)
    // propagation joins without a per-round edge exchange (guide §2.4:
    // operations keyed the same way share one exchange). A/B'd label-
    // identical vs the `.distinct()` form; g7 wall 1.55 -> 1.47 s median.
    val sym = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src"))
      .dropDuplicates("src", "dst")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cp = Checkpoints.scope(spark)
    try {
      // r16 small-graph fast path (guide §1.2; the mergeNewEdges size-signal
      // discipline applied at the generic entry): when the deduped closure
      // fits under spark.graft.cc.localEdgesMax (default 100k oriented
      // edges = 1.6 MB on the driver — the same budget class as the
      // broadcast relations every round of the loop already ships), the
      // whole O(diameter) fixpoint — labels-init distinct, ~3-7 aggregate
      // rounds, convergence probes, checkpoint lifecycle — collapses to ONE
      // bounded collect off the just-persisted closure plus a driver
      // union-find with min-label representatives (identical labels;
      // spec-checked local==distributed on randomized graphs). The size
      // probe reads the PERSISTED sym, so on an over-cap graph it costs at
      // most one cached/shuffle-reused partition evaluation before the
      // distributed loop runs exactly as before; the cap is a Spark conf,
      // so the scale cutover stays parameterized, not baked to the bench.
      val localMax = spark.conf.get("spark.graft.cc.localEdgesMax", "100000").toInt
      val longCols = sym.schema.fields.forall(_.dataType ==
        org.apache.spark.sql.types.LongType)
      if (longCols && localMax > 0) {
        val head = sym.limit(localMax + 1).collect()
        if (head.length <= localMax) {
          import spark.implicits._
          return localMinLabel(head.map(r => (r.getLong(0), r.getLong(1))))
            .toSeq.toDF("node", "component")
        }
      }
      var labels = cp.checkpoint(sym.select(col("src").as("node")).distinct()
        .withColumn("component", col("node")))
      // Convergence is detected INSIDE the propagation aggregate: each
      // node's own prior label rides along tagged `own`, so the old label
      // is min(component WHERE own) of the same group — no per-round
      // labels-vs-next probe join (that join was a second shuffle round
      // and its own codegen stage).
      def propagate(l: DataFrame): DataFrame = cp.checkpoint(sym
        .select(col("src").as("node"), col("dst"))
        .join(l, Seq("node"))
        .select(col("dst").as("node"), col("component"), lit(false).as("own"))
        .unionByName(l.select(col("node"), col("component"), lit(true).as("own")))
        .groupBy("node")
        .agg(
          min("component").as("component"),
          min(when(col("own"), col("component"))).as("old_component")))
      var changed = true
      var iter    = 0
      while (changed && iter < maxIter) {
        iter += 1
        val next = propagate(labels)
        changed = !next.filter(col("component") =!= col("old_component")).isEmpty
        labels = next.select("node", "component")
        cp.retain(next) // the prior round's label blocks are dead now
      }
      // A silent exit at the cap would return a WRONG (non-converged)
      // labeling — a component chain deeper than maxIter rounds must be
      // loud, not subtly mislabeled. 20 rounds covers diameter ~2^0-grade
      // dedup clusters with a wide margin; a legitimate deep graph raises
      // maxIter explicitly. `changed` only says the LAST permitted round
      // still made updates — a graph whose fixpoint lands exactly at round
      // maxIter is converged, not deep, so one extra probe round (cheap:
      // the same aggregate once more) distinguishes the two before
      // throwing (r10 ADVICE boundary case).
      if (changed) {
        val probe = propagate(labels)
        changed = !probe.filter(col("component") =!= col("old_component")).isEmpty
        if (changed)
          throw new IllegalStateException(
            s"connectedComponents did not converge within $maxIter rounds — " +
              "component diameter exceeds the cap; raise maxIter for this graph")
        labels = probe.select("node", "component")
        cp.retain(probe)
      }
      labels.select("node", "component")
    } finally { sym.unpersist(false); () }
  }

  /** PageRank, fixed iteration count — node importance over the mention/
    * link graph (the global ranking the reference's mention resolver has
    * no batch analog for). Probability formulation: ranks start uniform
    * at 1/N and each round every node gets (1-d)/N teleport mass plus d
    * times the rank inflow of its in-neighbors (rank/out-degree each) —
    * the simplified variant without dangling-mass redistribution (leaf
    * rank leaks; acceptable for RANKING, and it keeps the recurrence a
    * pure per-edge dataflow).
    *
    * Scale shape per round: edges (persisted once, the loop's only big
    * table) join ranks on src — one keyed shuffle — then a groupBy dst
    * with map-side partial sums; rank frames are node-sized, checkpointed
    * eagerly and released a generation behind (the g7 Scope discipline),
    * so lineage and block-manager pressure stay O(1) in the iteration
    * count. The N scalar rides along as a 1-row broadcast, never a
    * driver-side collect.
    *
    * Cross-engine exactness note (why the oracle can hash-match a float
    * fixpoint): every arithmetic step is an IEEE double op both engines
    * evaluate identically, and on the oracle's tree-plus-back-edge graph
    * every in-degree is <= 2, so the inflow "sum" never re-associates
    * more than a pair — bit-identical across 32-way partial aggregation.
    */
  def pagerank(edges: DataFrame, iters: Int, damping: Double = 0.85): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cp = Checkpoints.scope(edges.sparkSession)
    try {
      val nodes = cp.checkpoint(
        e.select(col("src").as("node"))
          .unionByName(e.select(col("dst").as("node")))
          .distinct())
      val nTotal = nodes.agg(count(lit(1)).as("n_nodes"))
      val deg    = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
      var ranks = cp.checkpoint(
        nodes.crossJoin(broadcast(nTotal))
          .select(col("node"), (lit(1.0) / col("n_nodes")).as("r")))
      var i = 0
      while (i < iters) {
        i += 1
        val inflow = e
          .join(deg, Seq("src"))
          .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
          .select(col("dst").as("node"), (col("r") / col("outdeg")).as("c"))
          .groupBy("node")
          .agg(sum("c").as("inflow"))
        val next = cp.checkpoint(
          nodes
            .join(inflow, Seq("node"), "left")
            .crossJoin(broadcast(nTotal))
            .select(
              col("node"),
              ((lit(1.0) - lit(damping)) / col("n_nodes") +
                lit(damping) * coalesce(col("inflow"), lit(0.0))).as("r")))
        ranks = next
        cp.retain(next, nodes) // prior generation's blocks are dead; nodes stays live
      }
      ranks
    } finally { e.unpersist(false); () }
  }

  /** Sentinel distance for nodes not yet reached by [[ssspRounds]] —
    * integer arithmetic end to end, so cross-engine replay is exact.
    */
  val Unreached: Long = 999999999L

  /** Bounded-round single-source shortest paths — Bellman-Ford relaxation
    * as `rounds` synchronous sweeps: after round k every node within k
    * hops of the source carries its true shortest integer distance (full
    * SSSP needs diameter rounds; the bounded form IS the distributed
    * pattern — a Pregel superstep per round — and makes the recurrence
    * exactly unrollable by the oracle, the x50 trick). Per round: ONE
    * keyed shuffle (candidates aggregated on dst, merged back on node via
    * `least`); edges persisted once; distance generations checkpointed
    * and released a generation behind (the g7/x50 Scope discipline), so
    * plan depth and storage stay O(1) in `rounds`. Weights must be
    * non-negative integers; unreached nodes hold [[Unreached]].
    */
  def ssspRounds(edges: DataFrame, source: Long, rounds: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cp = Checkpoints.scope(edges.sparkSession)
    try {
      val nodes = cp.checkpoint(
        e.select(col("src").as("node"))
          .unionByName(e.select(col("dst").as("node")))
          .distinct())
      var dist = cp.checkpoint(
        nodes.select(col("node"),
          when(col("node") === source, lit(0L)).otherwise(lit(Unreached)).as("dist")))
      var i = 0
      while (i < rounds) {
        i += 1
        val relaxed = e
          .join(dist.withColumnRenamed("node", "src"), Seq("src"))
          .select(col("dst").as("node"), (col("dist") + col("w")).as("cand"))
          .groupBy("node")
          .agg(min("cand").as("cand"))
        val next = cp.checkpoint(
          dist.join(relaxed, Seq("node"), "left")
            .select(col("node"),
              least(col("dist"), coalesce(col("cand"), lit(Unreached))).as("dist")))
        dist = next
        cp.retain(next, nodes)
      }
      dist
    } finally { e.unpersist(false); () }
  }

  /** Incremental connected components — the graph member of the
    * affected-only maintenance family (x35 SCD2 keys, x40 z-layout tiles,
    * x36 rollup partials): fold a batch of NEW edges into an existing
    * labeling without re-running the fixpoint over the corpus.
    *
    * The iterative loop runs only on the LABEL-PAIR graph the batch
    * induces (<= 2x batch-size nodes — each new edge collapses to the
    * pair of its endpoints' current labels); the corpus is touched by
    * exactly three broadcast-joined scans (two endpoint-label lookups,
    * one relabel) and ZERO corpus-sized shuffles. Correct because
    * component merging is a congruence: contracting each existing
    * component to its label preserves exactly the connectivity the new
    * edges add, and min-label CC on the contracted graph yields the same
    * final labels as a from-scratch run (spec-checked against full
    * recompute on randomized graphs).
    *
    * `labels`: (node, component) from a prior [[connectedComponents]]
    * run; batch endpoints unseen by it enter as singleton labels.
    */
  def mergeNewEdges(labels: DataFrame, newEdges: DataFrame, spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val ends = newEdges.select(col("src").as("node"))
      .unionByName(newEdges.select(col("dst").as("node")))
      .distinct()
    val allLabels = labels.unionByName(
      ends.join(labels.select("node"), Seq("node"), "left_anti")
        .select(col("node"), col("node").as("component")))
    val withSrc = allLabels
      .select(col("node").as("src"), col("component").as("src_comp"))
      .join(broadcast(newEdges), Seq("src"))
    val labelPairs = allLabels
      .select(col("node").as("dst"), col("component").as("dst_comp"))
      .join(broadcast(withSrc), Seq("dst"))
      .select(col("src_comp").as("src"), col("dst_comp").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
    // r16 (guide §1.2 "don't pay for work the data doesn't need"): the
    // label-pair graph is batch-bounded BY CONSTRUCTION (<= 2 labels per
    // new edge — the broadcast of `newEdges` above already commits to a
    // driver-manageable batch), yet the prior code paid the full
    // distributed CC loop — persist + labels-init + O(diameter) aggregate
    // rounds, ~0.8 s of pure sequential stage-wave latency at bench scale —
    // to relabel a handful of pairs. The SAME single job the old
    // `isEmpty` probe paid now collects up to localMergeMaxPairs+1 pairs;
    // under the cap the fixpoint runs as a driver union-find with
    // min-label representatives (exactly connectedComponents' min-label
    // fixpoint semantics, spec-checked local==distributed on randomized
    // graphs), over the cap — a genuinely large batch at 100 TB — the
    // distributed loop runs exactly as before. The cap is a Spark conf
    // (spark.graft.cc.localMergeMaxPairs, default 100k pairs = 1.6 MB on
    // the driver), so the scale decision stays parameterized, not baked
    // to the bench.
    val localMax = spark.conf.get("spark.graft.cc.localMergeMaxPairs", "100000").toInt
    val longPairs = labelPairs.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.LongType)
    val head =
      if (longPairs) labelPairs.limit(localMax + 1).collect()
      else if (labelPairs.isEmpty) Array.empty[org.apache.spark.sql.Row]
      else null // non-long labels: skip the local path, keep the old loop
    if (head != null && head.isEmpty) allLabels
    else {
      val remap =
        if (head != null && head.length <= localMax) {
          import spark.implicits._
          localMinLabel(head.map(r => (r.getLong(0), r.getLong(1))))
            .toSeq.toDF("old_comp", "new_comp")
        } else
          connectedComponents(labelPairs, spark)
            .select(col("node").as("old_comp"), col("component").as("new_comp"))
      allLabels
        .join(broadcast(remap), allLabels("component") === remap("old_comp"), "left")
        .select(col("node"), coalesce(col("new_comp"), col("component")).as("component"))
    }
  }

  /** Driver-side min-label connected components over an edge list — the
    * union-find rendering of [[connectedComponents]]'s min-label fixpoint
    * (each node maps to the MINIMUM node id of its component), used by
    * [[mergeNewEdges]] for batch-bounded label-pair graphs. Path-halving
    * find + union by attaching the larger root under the smaller keeps the
    * representative the component minimum at every step.
    */
  private[graft] def localMinLabel(edges: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x0: Long): Long = {
      var x = x0
      parent.getOrElseUpdate(x, x)
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    parent.keys.map(n => n -> find(n)).toMap
  }

  /** The store a label-maintenance root keeps its (node, component)
    * labeling in; [[streamingLabelMaintenance]] also uses it as the sink
    * id of its `labels.txn` batch marker.
    */
  private val LabelsStore = "labels"

  /** `batch`'s edges folded into the live labeling at `root` via
    * [[mergeNewEdges]].
    */
  private def foldedLabels(batch: DataFrame, root: String): DataFrame = {
    val spark = batch.sparkSession
    mergeNewEdges(graft.sources.MultiStore.read(spark, root, LabelsStore), batch, spark)
  }

  /** One micro-batch of label maintenance, exposed for direct testing and
    * for batch-mode catchup: fold `edgesBatch` into the labeling at the
    * [[graft.sources.MultiStore]] `root` and commit it together with any
    * `companions` (rollup partials, batch bookkeeping — any table that must
    * stay consistent with the labels) as ONE snapshot. The live version's
    * files are never touched by the write, so a crash at ANY point —
    * mid-merge, mid-write, before the manifest lands — leaves the previous
    * complete labeling (and companions) readable, and no reader can
    * observe new labels beside old companions. Re-running a batch is
    * harmless: merging already-known edges yields the identical labeling
    * (empty label-pair set), just as a fresh version. Seed with
    * `MultiStore.commit(root, Map("labels" -> initial, ...))`.
    */
  def foldLabelsBatch(edgesBatch: DataFrame, root: String,
                      companions: Map[String, DataFrame] = Map.empty): Unit = {
    graft.sources.MultiStore.commit(root,
      companions + (LabelsStore -> foldedLabels(edgesBatch, root)))
    ()
  }

  /** Streaming half of the x53 contract: keep a persisted (node,
    * component) labeling current as edges land. Each micro-batch folds its
    * edges into the labeling as [[foldLabelsBatch]] does — batch-bound
    * fixpoint, corpus relabel by broadcast — and commits it through
    * `MultiStore.commitBatch` under foreachBatch's batch id, so a batch
    * re-delivered after a crash-restart writes nothing. foreachBatch, not
    * a stateful streaming agg: the labeling is bounded by the node count,
    * not stream history, so there is no watermark/state question — zero
    * streaming state, same discipline as Rollup.streamingPartials and the
    * stateless near-dup ingest probe.
    *
    * `root` is a [[graft.sources.MultiStore]] root (seed it with
    * `MultiStore.commit(root, Map("labels" -> initialLabels))`); read the
    * live labeling with `MultiStore.read(spark, root, "labels")`.
    */
  def streamingLabelMaintenance(
      edges: DataFrame,
      root: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    edges.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.sources.MultiStore.commitBatch(root, LabelsStore, batchId,
          Map(LabelsStore -> foldedLabels(batch, root)))
        ()
      }
      .start()
}
