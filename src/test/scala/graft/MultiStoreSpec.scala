package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.{expr, lit}

import graft.sources.MultiStore

/** Multi-table snapshot commits: N stores advance through ONE manifest
  * rename, so no crash window can expose a mixed snapshot. The specs
  * simulate the crash windows directly (partial version dirs, orphaned
  * claims, a manifest name taken underneath a committer) and race real
  * committers, readers and maintainers against each other.
  */
class MultiStoreSpec extends SparkSpec {

  import spark.implicits._

  private def root(): String =
    Files.createTempDirectory("mstore").toString + "/snap"

  test("two stores commit and read as one snapshot; partial commits carry forward") {
    val r = root()
    val s1 = MultiStore.commit(r, Map(
      "labels"   -> Seq((1L, 10L)).toDF("node", "component"),
      "partials" -> Seq(("a", 1L)).toDF("k", "n")))
    assert(s1 == Map("labels" -> 0L, "partials" -> 0L))
    // update only labels: partials carried forward by reference
    val s2 = MultiStore.commit(r, Map("labels" -> Seq((1L, 11L)).toDF("node", "component")))
    assert(s2 == Map("labels" -> 1L, "partials" -> 0L))
    assert(MultiStore.read(spark, r, "labels").as[(Long, Long)].collect().toSet == Set((1L, 11L)))
    assert(MultiStore.read(spark, r, "partials").as[(String, Long)].collect().toSet == Set(("a", 1L)))
  }

  test("crash between store data writes and manifest publish never exposes a mixed snapshot") {
    val r = root()
    MultiStore.commit(r, Map(
      "labels"   -> Seq((1L, 10L)).toDF("node", "component"),
      "partials" -> Seq(("a", 1L)).toDF("k", "n")))
    // simulate commit #2 dying AFTER the labels data landed but BEFORE the
    // manifest: a fully-written v=1 dir (with parquet _SUCCESS) + its claim
    Seq((1L, 99L)).toDF("node", "component").write.parquet(s"$r/labels/v=1")
    Files.write(new java.io.File(s"$r/labels/_graft_claim_v=1").toPath, Array.emptyByteArray)
    // readers remain on the OLD snapshot for BOTH stores — all-old, not mixed
    assert(MultiStore.snapshot(spark, r) == Map("labels" -> 0L, "partials" -> 0L))
    assert(MultiStore.read(spark, r, "labels").as[(Long, Long)].collect().toSet == Set((1L, 10L)))
    // the re-run commits BOTH stores; the orphaned claim forces a fresh dir
    val s = MultiStore.commit(r, Map(
      "labels"   -> Seq((1L, 11L)).toDF("node", "component"),
      "partials" -> Seq(("a", 2L)).toDF("k", "n")))
    assert(s("labels") == 2L, s"claimed version reused: $s")
    assert(MultiStore.read(spark, r, "labels").as[(Long, Long)].collect().toSet == Set((1L, 11L)))
    assert(MultiStore.read(spark, r, "partials").as[(String, Long)].collect().toSet == Set(("a", 2L)))
  }

  test("a concurrent committer taking the manifest number forces a loud retry, not a torn state") {
    val r = root()
    MultiStore.commit(r, Map("labels" -> Seq((1L, 10L)).toDF("node", "component")))
    // another committer publishes manifest m=1 under us (carrying forward
    // the current snapshot) — our rename onto m=1 must fail and retry to m=2
    Files.write(new java.io.File(s"$r/_graft_manifest_m=1").toPath, "labels=0\n".getBytes("UTF-8"))
    val s = MultiStore.commit(r, Map("labels" -> Seq((1L, 11L)).toDF("node", "component")))
    assert(MultiStore.snapshot(spark, r) == s)
    assert(MultiStore.read(spark, r, "labels").as[(Long, Long)].collect().toSet == Set((1L, 11L)))
    val manifests = new java.io.File(r).listFiles().map(_.getName).filter(_.startsWith("_graft_manifest_m="))
    assert(manifests.contains("_graft_manifest_m=2"), manifests.mkString(","))
  }

  test("label store + companion advance as one snapshot through foldLabelsBatch") {
    import graft.operators.GraphOps
    import graft.sources.MultiStore
    val r = root()
    val base = Seq((1L, 2L), (4L, 5L)).toDF("src", "dst")
    MultiStore.commit(r, Map(
      "labels"    -> GraphOps.connectedComponents(base, spark),
      "companion" -> Seq(("batch", 0L)).toDF("k", "v")))
    val before = MultiStore.read(spark, r, "labels").as[(Long, Long)].collect().toMap

    GraphOps.foldLabelsBatch(Seq((2L, 4L)).toDF("src", "dst"), r,
      companions = Map("companion" -> Seq(("batch", 1L)).toDF("k", "v")))
    val after = MultiStore.read(spark, r, "labels").as[(Long, Long)].collect().toMap
    assert(after.values.toSet.size == before.values.toSet.size - 1, "components merged")
    assert(MultiStore.read(spark, r, "companion").as[(String, Long)].collect().toSet
      == Set(("batch", 1L)), "companion did not advance with the labels")
    // the snapshot names both new versions together — one manifest, no skew
    val snap = MultiStore.snapshot(spark, r)
    assert(snap("labels") == snap("companion"), s"stores advanced separately: $snap")
  }

  test("label store survives a crashed maintenance batch and replaying a batch is a no-op") {
    import graft.operators.GraphOps
    val r    = root()
    val base = Seq((1L, 2L), (4L, 5L)).toDF("src", "dst")
    MultiStore.commit(r, Map("labels" -> GraphOps.connectedComponents(base, spark)))
    def labels() = MultiStore.read(spark, r, "labels").as[(Long, Long)].collect().toMap
    val before = labels()

    // batch 1 applies
    GraphOps.foldLabelsBatch(Seq((2L, 4L)).toDF("src", "dst"), r)
    val after = labels()
    assert(after.values.toSet.size == before.values.toSet.size - 1, "components merged")

    // crash during batch 2's write: a claimed, partial version dir appears
    // that no manifest names — the store is unharmed
    val partial = new java.io.File(s"$r/labels/v=9")
    partial.mkdirs()
    Files.write(partial.toPath.resolve("part-junk.parquet"), Array[Byte](0))
    Files.write(new java.io.File(s"$r/labels/_graft_claim_v=9").toPath, Array.emptyByteArray)
    assert(labels() == after)

    // a direct re-run of batch 1 folds the same edges to the identical
    // labeling (a fresh version, same content)
    GraphOps.foldLabelsBatch(Seq((2L, 4L)).toDF("src", "dst"), r)
    assert(labels() == after, "replaying a batch changed the labeling")

    // the streaming path commits each batch under its foreachBatch id:
    // a re-delivered id is refused and publishes no manifest at all
    val edges = Seq((5L, 7L)).toDF("src", "dst")
    def deliver(id: Long) = MultiStore.commitBatch(r, "labels", id, Map("labels" ->
      GraphOps.mergeNewEdges(MultiStore.read(spark, r, "labels"), edges, spark)))
    assert(deliver(0L))
    val applied   = labels()
    val manifests = MultiStore.manifests(spark, r)
    assert(!deliver(0L), "a re-delivered batch id must be refused")
    assert(MultiStore.manifests(spark, r) == manifests, "a refused replay published a manifest")
    assert(labels() == applied)
  }

  test("time travel: every retained manifest is a complete readable snapshot") {
    val r = root()
    MultiStore.commit(r, Map(
      "labels"   -> Seq((1L, 10L)).toDF("node", "component"),
      "partials" -> Seq(("a", 1L)).toDF("k", "n")))
    MultiStore.commit(r, Map("labels" -> Seq((1L, 11L)).toDF("node", "component")))
    MultiStore.commit(r, Map("partials" -> Seq(("a", 2L)).toDF("k", "n")))
    val hist = MultiStore.manifests(spark, r)
    assert(hist.size == 2, s"keep=2 should retain 2 manifests: $hist") // keep=2 default
    // the older retained snapshot: labels already at v1, partials still v0
    assert(MultiStore.readAt(spark, r, "labels", hist.head)
      .as[(Long, Long)].collect().toSet == Set((1L, 11L)))
    assert(MultiStore.readAt(spark, r, "partials", hist.head)
      .as[(String, Long)].collect().toSet == Set(("a", 1L)))
    // the live snapshot
    assert(MultiStore.readAt(spark, r, "partials", hist.last)
      .as[(String, Long)].collect().toSet == Set(("a", 2L)))
    // a pruned manifest is rejected loudly, not resolved to garbage
    intercept[IllegalArgumentException] {
      MultiStore.snapshotAt(spark, r, hist.head - 1)
    }
    ()
  }

  test("pruning keeps the last `keep` manifests and every version they reference") {
    val r = root()
    (0 to 3).foreach { i =>
      MultiStore.commit(r, Map(
        "labels"   -> Seq((1L, i.toLong)).toDF("node", "component"),
        "partials" -> Seq(("a", i.toLong)).toDF("k", "n")), keep = 2)
    }
    val files = new java.io.File(r).listFiles().map(_.getName).toSet
    assert(!files.contains("_graft_manifest_m=0") && !files.contains("_graft_manifest_m=1"))
    assert(files.contains("_graft_manifest_m=2") && files.contains("_graft_manifest_m=3"))
    val labelDirs = new java.io.File(s"$r/labels").listFiles().map(_.getName)
      .filter(_.startsWith("v=")).toSet
    assert(labelDirs == Set("v=2", "v=3"), labelDirs.mkString(","))
    // both retained snapshots still readable
    assert(MultiStore.read(spark, r, "labels").as[(Long, Long)].collect().toSet == Set((1L, 3L)))
  }

  test("an orphan version numbered ABOVE every retained reference is swept after the grace") {
    val r = root()
    MultiStore.commit(r, Map(
      "labels" -> Seq((1L, 10L)).toDF("node", "component"),
      "other"  -> Seq(("a", 1L)).toDF("k", "n")))
    // a loser committer wrote labels v=7 (claim + data) then died without a
    // manifest; labels is never written again (carried forward by
    // reference), so its minimum retained version NEVER climbs past 7 —
    // the exact leak of the pre-r11 below-the-minimum-only sweep
    Seq((1L, 99L)).toDF("node", "component").write.parquet(s"$r/labels/v=7")
    Files.write(new java.io.File(s"$r/labels/_graft_claim_v=7").toPath, Array.emptyByteArray)
    def labelEntries() =
      new java.io.File(s"$r/labels").listFiles().map(_.getName)
        .filter(n => n.startsWith("v=") || n.startsWith("_graft_claim_v=")).toSet
    // within the grace window the orphan is indistinguishable from an
    // in-flight commit — the next commit's prune must NOT touch it
    MultiStore.commit(r, Map("other" -> Seq(("a", 2L)).toDF("k", "n")))
    assert(labelEntries().contains("v=7"), s"fresh orphan swept inside grace: ${labelEntries()}")
    // past the grace (graceMs=0 makes every file 'old') it is swept, claim
    // included, even though labels' retained reference is still v=0 < 7
    MultiStore.commit(r, Map("other" -> Seq(("a", 3L)).toDF("k", "n")), pruneGraceMs = 0L)
    val after = labelEntries()
    assert(!after.contains("v=7") && !after.contains("_graft_claim_v=7"),
      s"orphan above the retained range leaked: $after")
    // live snapshot untouched throughout
    assert(MultiStore.read(spark, r, "labels").as[(Long, Long)].collect().toSet == Set((1L, 10L)))
  }

  test("optimize: compacts files, preserves rows, regenerates stats, leaves history intact") {
    val r = root()
    val data = spark.range(0, 1000).selectExpr("id", "id % 7 AS grp")
    MultiStore.commit(r, Map("t" -> data.repartition(16)))
    val preOpt = MultiStore.manifests(spark, r).last
    assert(MultiStore.read(spark, r, "t").inputFiles.length >= 8)
    MultiStore.optimize(spark, r, "t", targetFiles = 2, clusterBy = Seq("id"))
    val after = MultiStore.read(spark, r, "t")
    assert(after.inputFiles.length <= 2)
    // same rows, new layout
    assert(after.as[(Long, Long)].collect().toSet ==
      data.as[(Long, Long)].collect().toSet)
    // the rewritten footers serve a pruned read over the clustered layout
    val pruned = MultiStore.readPruned(spark, r, "t", "id", lit(0L), lit(99L))
    assert(MultiStore.scannedFiles(pruned) == 1)
    assert(pruned.count() == 100L)
    // the fragmented version remains a readable snapshot until retention
    assert(MultiStore.readAt(spark, r, "t", preOpt).count() == 1000L)
    assert(MultiStore.readAt(spark, r, "t", preOpt).inputFiles.length >= 8)
  }

  test("optimize races a data commit: the CAS loses loudly instead of rolling back the write") {
    val r = root()
    MultiStore.commit(r, Map("t" -> spark.range(0, 100).toDF("id")))
    val vRead = MultiStore.snapshot(spark, r)("t")
    // a concurrent writer lands between optimize's read and its publish —
    // simulated by committing now and then replaying optimize's commitIf
    // against the stale expectation (what its internals would carry)
    MultiStore.commit(r, Map("t" -> spark.range(0, 200).toDF("id")))
    intercept[java.util.ConcurrentModificationException] {
      MultiStore.commitIf(r,
        Map("t" -> MultiStore.readAt(spark, r, "t",
          MultiStore.manifests(spark, r).head).repartition(1)),
        Map("t" -> Some(vRead)))
    }
    // the concurrent writer's rows are intact
    assert(MultiStore.read(spark, r, "t").count() == 200L)
  }

  test("bloom filter: point lookups open only might-contain files; misses open none") {
    val r = root()
    // hash-scattered layout: every file's id RANGE spans the corpus, so
    // zone pruning cannot skip — exactly the case the bloom index exists for
    val data = spark.range(0, 800).toDF("id")
    MultiStore.commit(r, Map("t" -> data.repartition(8, expr("id * 2654435761 % 997"))),
      bloom = Map("t" -> Seq("id")))
    val total = MultiStore.read(spark, r, "t").inputFiles.length
    assert(total == 8)
    Seq(3L, 250L, 777L).foreach { k =>
      val hit    = MultiStore.readPrunedEq(spark, r, "t", "id", lit(k))
      val opened = MultiStore.scannedFiles(hit)
      assert(opened <= 2, s"key $k opened $opened of $total")
      assert(hit.as[Long].collect().toSeq == Seq(k))
    }
    // an absent key: the sketches reject it without opening ANY data file
    val miss = MultiStore.readPrunedEq(spark, r, "t", "id", lit(123456L))
    assert(MultiStore.scannedFiles(miss) == 0 && miss.count() == 0L)
    // a probe whose LITERAL type differs from the stored column (INT 250
    // vs BIGINT id) must still hit: xxhash64 is type-sensitive, and an
    // uncast probe would bloom-false-NEGATIVE — zero files opened, rows
    // silently lost with no residual-filter recovery — so the probe is cast
    // as Spark's own filter casts it
    val intProbe = MultiStore.readPrunedEq(spark, r, "t", "id", lit(250))
    assert(intProbe.as[Long].collect().toSeq == Seq(250L))
  }

  test("one read serves many point lookups, each pruned as readPrunedEq prunes") {
    import org.apache.spark.sql.functions.col
    val r = root()
    val data = spark.range(0, 800).toDF("id")
    MultiStore.commit(r, Map("t" -> data.repartition(8, expr("id * 2654435761 % 997"))),
      bloom = Map("t" -> Seq("id")))
    val keys = Seq(3L, 250L, 777L, 123456L) // three hits + one bloom miss
    val t    = MultiStore.read(spark, r, "t")
    keys.foreach { k =>
      val shared = t.filter(col("id") === k)
      val single = MultiStore.readPrunedEq(spark, r, "t", "id", lit(k))
      assert(MultiStore.scannedFiles(shared) == MultiStore.scannedFiles(single),
        s"key $k: the shared read pruned a different file count")
      assert(shared.as[Long].collect().toSeq == single.as[Long].collect().toSeq)
    }
    // the type-cast contract holds on the shared read too (INT vs BIGINT)
    assert(t.filter(col("id") === lit(250)).as[Long].collect().toSeq == Seq(250L))
  }

  test("a readMerged point read scans only the files whose footers may hold the key") {
    import org.apache.spark.sql.functions.col
    val r = root()
    // range-clustered: each of the 8 files owns a 100-id slice
    MultiStore.commit(r, Map("t" -> spark.range(0, 800).toDF("id").repartitionByRange(8, col("id"))))
    assert(MultiStore.read(spark, r, "t").inputFiles.length == 8)
    Seq(0L, 333L, 799L).foreach { k =>
      val point  = MultiStore.readMerged(spark, r, "t").filter(col("id") === k)
      val opened = MultiStore.scannedFiles(point)
      assert(opened == 1, s"key $k scanned $opened of 8 files")
      assert(point.as[Long].collect().toSeq == Seq(k))
    }
    // the same read over a non-empty delete set still answers exactly
    MultiStore.deleteWhere(spark, r, "t", col("id") === 333L, Seq("id"))
    assert(MultiStore.readMerged(spark, r, "t").filter(col("id") === 333L).count() == 0L)
    assert(MultiStore.readMerged(spark, r, "t").filter(col("id") === 334L)
      .as[Long].collect().toSeq == Seq(334L))
  }

  test("two reads of one version are one relation: the second hits the first's cache") {
    import org.apache.spark.storage.StorageLevel
    val r = root()
    MultiStore.commit(r, Map("t" -> spark.range(0, 100).toDF("id").repartition(4)))
    val first = MultiStore.read(spark, r, "t").cache()
    try {
      assert(first.count() == 100L)
      val second = MultiStore.read(spark, r, "t")
      assert(second.storageLevel == first.storageLevel && second.storageLevel != StorageLevel.NONE)
      assert(second.queryExecution.withCachedData.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation]))
      // a new version is a new relation
      MultiStore.commit(r, Map("t" -> spark.range(0, 50).toDF("id")))
      assert(MultiStore.read(spark, r, "t").storageLevel == StorageLevel.NONE)
    } finally first.unpersist()
  }

  test("an in-flight write BELOW a later-published version survives a default-grace prune") {
    val r = root()
    // Committer A claims v=0 and is still writing: claim file + a data dir
    // containing only the committer's _temporary scratch — no manifest has
    // ever named v=0. (This is the deterministic replay of the concurrent
    // deleteWhere flake: A claims 0, B therefore claims 1, B publishes and
    // prunes; the pre-r12 below-the-minimum sweep deleted A's dir MID-WRITE
    // and A's Spark job died on the vanished _temporary.)
    assert(new java.io.File(s"$r/labels").mkdirs())
    Files.write(new java.io.File(s"$r/labels/_graft_claim_v=0").toPath, Array.emptyByteArray)
    assert(new java.io.File(s"$r/labels/v=0/_temporary").mkdirs())
    // Committer B: sees claim v=0 taken, claims v=1, publishes, prunes
    // twice (default grace) — A's fresh in-flight v=0 must NOT be touched
    MultiStore.commit(r, Map("labels" -> Seq((1L, 200L)).toDF("node", "component")))
    MultiStore.commit(r, Map("labels" -> Seq((1L, 201L)).toDF("node", "component")))
    assert(new java.io.File(s"$r/labels/v=0/_temporary").exists(),
      "prune deleted an in-flight write inside the grace window")
    // and B landed on versions above the claim
    assert(MultiStore.snapshot(spark, r)("labels") >= 1L)
  }

  test("commit-vs-prune race: a retrying committer's eventual manifest never references a pruned version") {
    val r = root()
    MultiStore.commit(r, Map("labels" -> Seq((1L, 0L)).toDF("node", "component")))
    // committer B starts: writes data for v=1... and loses the manifest
    // race to committer A, who commits AND prunes with graceMs=0 — the
    // harshest pruner a retrying committer can meet. The loop below
    // replays B's retry protocol by hand (what commit() does internally):
    // every attempt re-claims a FRESH version and re-writes the data, so
    // the version its manifest finally names was written AFTER the last
    // prune that could have seen it unreferenced.
    Seq((1L, 100L)).toDF("node", "component").write.parquet(s"$r/labels/v=1")
    Files.write(new java.io.File(s"$r/labels/_graft_claim_v=1").toPath, Array.emptyByteArray)
    // A commits twice with immediate pruning — B's in-flight v=1 is
    // unreferenced and (graceMs=0) gets swept mid-retry
    MultiStore.commit(r, Map("labels" -> Seq((1L, 200L)).toDF("node", "component")),
      pruneGraceMs = 0L)
    MultiStore.commit(r, Map("labels" -> Seq((1L, 201L)).toDF("node", "component")),
      pruneGraceMs = 0L)
    assert(!new java.io.File(s"$r/labels/v=1").exists(), "B's stale attempt should be pruned")
    // B retries through the real commit path: fresh claim, fresh data,
    // manifest over A's latest snapshot
    val s = MultiStore.commit(r, Map("labels" -> Seq((1L, 300L)).toDF("node", "component")))
    // B's published snapshot resolves to real, readable data — its
    // manifest references only the version it just wrote, never v=1
    assert(s("labels") > 1L, s"retry must re-claim a fresh version: $s")
    assert(MultiStore.read(spark, r, "labels").as[(Long, Long)].collect().toSet == Set((1L, 300L)))
    // and every retained manifest still resolves completely
    MultiStore.manifests(spark, r).foreach { m =>
      MultiStore.readAt(spark, r, "labels", m).collect()
    }
  }

  test("schema evolution: versions are self-contained, so old manifests read old schemas") {
    val r = root()
    MultiStore.commit(r, Map("t" -> Seq((1L, "a")).toDF("id", "v")))
    val m0 = MultiStore.manifests(spark, r).last
    // the next version adds a column — no migration step, the new
    // snapshot simply carries the new schema (full-snapshot versions make
    // ADD/DROP/RENAME column a plain commit)
    MultiStore.commit(r, Map("t" -> Seq((1L, "a", 9L)).toDF("id", "v", "extra")))
    assert(MultiStore.read(spark, r, "t").columns.toSeq == Seq("id", "v", "extra"))
    // time travel still reads the OLD shape — a snapshot is immutable,
    // schema included
    assert(MultiStore.readAt(spark, r, "t", m0).columns.toSeq == Seq("id", "v"))
  }

  test("commitIf: CAS on the read version — stale expectations throw, disjoint stores rebase") {
    val r = root()
    MultiStore.commit(r, Map("a" -> Seq((1L, "x")).toDF("id", "v")))
    // expectation holds: the CAS commit lands
    val s1 = MultiStore.commitIf(r, Map("a" -> Seq((2L, "y")).toDF("id", "v")),
      Map("a" -> Some(0L)))
    assert(s1("a") == 1L)
    // a maintainer that read a=0 and tries to publish over a=1 is the
    // lost-update race — detected, not silently overwritten
    intercept[java.util.ConcurrentModificationException] {
      MultiStore.commitIf(r, Map("a" -> Seq((3L, "z")).toDF("id", "v")),
        Map("a" -> Some(0L)))
    }
    assert(MultiStore.read(spark, r, "a").as[(Long, String)].collect().toSet ==
      Set((2L, "y")), "the conflicting write must not have landed")
    // absent-store expectation: create-if-not-exists semantics
    intercept[java.util.ConcurrentModificationException] {
      MultiStore.commitIf(r, Map("a" -> Seq((4L, "w")).toDF("id", "v")),
        Map("a" -> None))
    }
    // a DISJOINT store carries no expectation on 'a' and lands over any
    // concurrent 'a' traffic (serializable at store grain)
    val s2 = MultiStore.commitIf(r, Map("b" -> Seq(("k", 1L)).toDF("k", "n")),
      Map("b" -> None))
    assert(s2("b") == 0L && s2("a") == 1L)
  }

  test("deleteWhere removes rows at read time without rewriting the data version") {
    import org.apache.spark.sql.functions._
    val r = root()
    MultiStore.commit(r, Map("docs" ->
      Seq((1L, "keep"), (2L, "drop"), (3L, "keep"), (4L, "drop"))
        .toDF("id", "tag")))
    val preDelete = MultiStore.manifests(spark, r).last
    MultiStore.deleteWhere(spark, r, "docs", col("tag") === "drop", Seq("id"))
    // merged view subtracts the keys
    assert(MultiStore.readMerged(spark, r, "docs").as[(Long, String)].collect().toSet ==
      Set((1L, "keep"), (3L, "keep")))
    // the DATA version is untouched: docs still points at v=0 and the
    // pre-delete manifest still reads all four rows
    assert(MultiStore.snapshot(spark, r)("docs") == 0L,
      "a delete must not rewrite the data version")
    assert(MultiStore.readMergedAt(spark, r, "docs", preDelete).count() == 4L)
    // deletes accumulate across calls
    MultiStore.deleteWhere(spark, r, "docs", col("id") === 3L, Seq("id"))
    assert(MultiStore.readMerged(spark, r, "docs").as[(Long, String)].collect().toSet ==
      Set((1L, "keep")))
    // a second delete with DIFFERENT key columns is rejected loudly
    intercept[IllegalArgumentException] {
      MultiStore.deleteWhere(spark, r, "docs", col("id") === 1L, Seq("tag"))
    }
    ()
  }

  test("compactDeletes folds the delete set into the data in one consistent snapshot") {
    import org.apache.spark.sql.functions._
    val r = root()
    MultiStore.commit(r, Map("docs" ->
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "tag")))
    MultiStore.deleteWhere(spark, r, "docs", col("id") === 2L, Seq("id"))
    val mergedBefore = MultiStore.readMerged(spark, r, "docs")
      .as[(Long, String)].collect().toSet
    MultiStore.compactDeletes(spark, r, "docs")
    // the merged view is unchanged, but now the PLAIN read matches it too
    // (data rewritten) and the delete set is empty
    assert(MultiStore.readMerged(spark, r, "docs")
      .as[(Long, String)].collect().toSet == mergedBefore)
    assert(MultiStore.read(spark, r, "docs")
      .as[(Long, String)].collect().toSet == mergedBefore)
    assert(MultiStore.read(spark, r, "docs.deletes").count() == 0L)
    // post-compaction deletes start a fresh cycle
    MultiStore.deleteWhere(spark, r, "docs", col("id") === 3L, Seq("id"))
    assert(MultiStore.readMerged(spark, r, "docs")
      .as[(Long, String)].collect().toSet == Set((1L, "a")))
  }

  test("zone-map stats: commit records per-file min/max; readPruned opens only intersecting files") {
    import org.apache.spark.sql.functions._
    val r = root()
    // range-cluster 100 rows over 8 files so each file owns a tight id range
    val data = spark.range(0, 100).toDF("id")
      .withColumn("payload", concat(lit("row"), col("id")))
      .repartitionByRange(8, col("id"))
    MultiStore.commit(r, Map("t" -> data), stats = Map("t" -> Seq("id")))
    val nFiles = MultiStore.read(spark, r, "t").inputFiles.length
    assert(nFiles == 8, s"expected 8 data files, got $nFiles")
    // a narrow range must open strictly fewer files than the table has
    val pruned = MultiStore.readPruned(spark, r, "t", "id", lit(10L), lit(20L))
    val opened = MultiStore.scannedFiles(pruned)
    assert(opened < nFiles, s"no file skipping: opened $opened of $nFiles")
    // and the result equals the plain filter (pruning is a superset + residual)
    val expected = MultiStore.read(spark, r, "t")
      .filter(col("id") >= 10L && col("id") <= 20L)
      .as[(Long, String)].collect().toSet
    assert(pruned.as[(Long, String)].collect().toSet == expected)
    // a disjoint range returns empty with the data schema, zero files opened
    val none = MultiStore.readPruned(spark, r, "t", "id", lit(1000L), lit(2000L))
    assert(MultiStore.scannedFiles(none) == 0)
    assert(none.count() == 0L)
    assert(none.columns.toSeq == Seq("id", "payload"))
    // the footers are the only stats: no stats_v=/bloom_v= entry is ever
    // written, whatever a commit asks for
    MultiStore.commit(r, Map("t" -> data), stats = Map("t" -> Seq("id")),
      bloom = Map("t" -> Seq("id")), keep = 2)
    MultiStore.optimize(spark, r, "t", targetFiles = 8, clusterBy = Seq("id"),
      stats = Seq("id"), bloom = Seq("id"), keep = 2)
    val entries = new java.io.File(s"$r/t").listFiles().map(_.getName).toSet
    assert(!entries.exists(n => n.startsWith("stats_v=") || n.startsWith("bloom_v=")),
      s"a sidecar was written: $entries")
    assert(!entries.contains("v=0"), s"retention did not sweep v=0: $entries")
    assert(MultiStore.readPruned(spark, r, "t", "id", lit(10L), lit(20L))
      .as[(Long, String)].collect().toSet == expected)
  }

  test("concurrent deleteWhere: both deletes land — the CAS retry unions instead of losing updates") {
    import org.apache.spark.sql.functions._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val r = root()
    MultiStore.commit(r, Map("docs" ->
      (1L to 20L).map(i => (i, s"v$i")).toDF("id", "v")))
    // two maintainers delete disjoint key sets at the same time; under
    // last-writer-wins one delete set would silently vanish — under the
    // CAS loop the loser re-derives from the winner's snapshot and the
    // final delete set is ALWAYS the union, whatever the interleaving
    val a = Future(MultiStore.deleteWhere(spark, r, "docs",
      col("id") <= 5L, Seq("id")))
    val b = Future(MultiStore.deleteWhere(spark, r, "docs",
      col("id") >= 16L, Seq("id")))
    Await.result(a, 120.seconds)
    Await.result(b, 120.seconds)
    val remaining = MultiStore.readMerged(spark, r, "docs")
      .select("id").as[Long].collect().toSet
    assert(remaining == (6L to 15L).toSet,
      s"a concurrent delete was lost: remaining=$remaining")
    assert(MultiStore.read(spark, r, "docs.deletes").as[Long].collect().toSet ==
      ((1L to 5L) ++ (16L to 20L)).toSet)
  }

  test("commitBatch: a replayed micro-batch is a no-op — exactly-once application over the log") {
    val r = root()
    def batchDf(ids: Long*) = ids.toDF("id")
    assert(MultiStore.commitBatch(r, "sinkA", 0L, Map("rows" -> batchDf(1L, 2L))))
    assert(MultiStore.commitBatch(r, "sinkA", 1L, Map("rows" ->
      MultiStore.read(spark, r, "rows").unionByName(batchDf(3L)))))
    // crash-restart re-delivery of batch 1: MUST apply nothing
    assert(!MultiStore.commitBatch(r, "sinkA", 1L, Map("rows" -> batchDf(99L))))
    assert(MultiStore.read(spark, r, "rows").as[Long].collect().toSet == Set(1L, 2L, 3L))
    // and the data version did not advance on the replay
    assert(MultiStore.snapshot(spark, r)("rows") == 1L)
    // a DIFFERENT sink id has its own marker lineage
    assert(MultiStore.commitBatch(r, "sinkB", 0L, Map("other" -> batchDf(7L))))
    // the marker store is a store like any other: time travel sees the
    // batch frontier as of each manifest
    val hist = MultiStore.manifests(spark, r)
    assert(MultiStore.readAt(spark, r, "sinkA.txn", hist.last).head().getLong(0) == 1L)
  }

  test("commitBatch: driver-side marker read sees exactly the value the store read sees") {
    // r16: "did batch N apply?" is resolved by a driver-side parquet read
    // of the one-row marker instead of a scheduled Spark job. The marker
    // FILES and manifest chain are unchanged — assert the replay gate
    // still keys off the same committed value the Spark read path returns,
    // including after a version bump and across sink ids.
    val r = root()
    assert(MultiStore.commitBatch(r, "s1", 3L, Map("rows" -> Seq(1L).toDF("id"))))
    assert(MultiStore.read(spark, r, "s1.txn").head().getLong(0) == 3L)
    // at-or-below the marker: rejected (reads marker via the driver path)
    assert(!MultiStore.commitBatch(r, "s1", 3L, Map("rows" -> Seq(9L).toDF("id"))))
    assert(!MultiStore.commitBatch(r, "s1", 2L, Map("rows" -> Seq(9L).toDF("id"))))
    // above the marker: applies, and both read paths agree on the new value
    assert(MultiStore.commitBatch(r, "s1", 7L, Map("rows" -> Seq(2L).toDF("id"))))
    assert(MultiStore.read(spark, r, "s1.txn").head().getLong(0) == 7L)
    assert(!MultiStore.commitBatch(r, "s1", 7L, Map("rows" -> Seq(9L).toDF("id"))))
    // each batch's write replaced the store version; the rejected batch-9
    // payloads must never have landed
    assert(MultiStore.read(spark, r, "rows").as[Long].collect().toSet == Set(2L))
  }

  test("commitBatch: two CONCURRENT deliveries of one batch — exactly one applies") {
    // the foreachBatch zombie scenario: a task declared dead re-delivers
    // batch 1 while its replacement is applying the same batch with a
    // (possibly different) payload. The CAS-pinned marker must admit
    // exactly one — a double apply duplicates rows, a double reject
    // loses the batch.
    val r = root()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    assert(MultiStore.commitBatch(r, "sink", 0L, Map("rows" -> Seq(0L).toDF("id"))))
    def delivery(payload: Long) = Future(
      MultiStore.commitBatch(r, "sink", 1L, Map("rows" ->
        MultiStore.read(spark, r, "rows").unionByName(Seq(payload).toDF("id")))))
    val (a, b) = (delivery(1L), delivery(2L))
    val (ra, rb) = (Await.result(a, 120.seconds), Await.result(b, 120.seconds))
    assert(ra ^ rb, s"exactly one delivery must apply: a=$ra b=$rb")
    val ids = MultiStore.read(spark, r, "rows").as[Long].collect().toSet
    assert(ids == Set(0L, 1L) || ids == Set(0L, 2L),
      s"winner's payload must land exactly once: $ids")
    assert(MultiStore.read(spark, r, "sink.txn").head().getLong(0) == 1L)
  }

  test("multi-column zone pruning over a Z-ordered layout skips in BOTH dimensions") {
    import org.apache.spark.sql.functions._
    val r = root()
    // a 32x32 grid Z-ordered into 16 files: each file's (x, y) zone is a
    // tight box, so a small 2-D window must survive only a few files
    val grid = spark.range(0, 1024).toDF("i")
      .select((col("i") % 32).as("x"), (col("i") / 32).cast("long").as("y"))
    val z = graft.operators.LayoutOps.interleaveBits(
      Seq(col("x").cast("int"), col("y").cast("int")), bits = 5)
    val data = graft.operators.LayoutOps.clusterByZ(grid.withColumn("z", z), col("z"), 16)
      .drop("z")
    MultiStore.commit(r, Map("g" -> data))
    val total = MultiStore.read(spark, r, "g").inputFiles.length
    assert(total == 16)
    val xRange = col("x") >= 4L && col("x") <= 7L
    val pruned = MultiStore.read(spark, r, "g").filter(xRange && col("y") >= 4L && col("y") <= 7L)
    val opened = MultiStore.scannedFiles(pruned)
    assert(opened < 4, s"2-D skip too weak: opened $opened of $total files")
    assert(pruned.count() == 16L) // the 4x4 window
    // single-dimension pruning alone cannot reach that skip rate on this
    // layout — the second range is what cuts the candidate set down
    val oneDim = MultiStore.read(spark, r, "g").filter(xRange)
    assert(MultiStore.scannedFiles(oneDim) > opened,
      "adding the y-range must strictly tighten the file set")
  }

  test("optimizeZorder: a hash-scattered grid re-clusters so a 2-D window opens few files; CAS loses loudly to a racing commit") {
    import graft.operators.LayoutOps
    val r = root()
    val grid = for (x <- 0L until 16L; y <- 0L until 16L) yield (x, y, x * 16 + y)
    MultiStore.commit(r, Map("g" ->
      grid.toDF("x", "y", "payload").repartition(16, expr("payload"))))
    val box    = expr("x BETWEEN 4 AND 7 AND y BETWEEN 4 AND 7")
    val before = MultiStore.scannedFiles(MultiStore.read(spark, r, "g").filter(box))
    assert(before > 8, s"scattered layout should defeat zone maps, opened only $before")
    LayoutOps.optimizeZorder(spark, r, "g", targetFiles = 16, Seq("x", "y"), bits = 4)
    val pruned = MultiStore.read(spark, r, "g").filter(box)
    val opened = MultiStore.scannedFiles(pruned)
    assert(opened < 4, s"z-order skip too weak: opened $opened of 16")
    assert(pruned.count() == 16L) // the 4x4 window, rows exact
    // an OPTIMIZE racing a data commit must lose loudly, not clobber it
    val vNow = MultiStore.snapshot(spark, r)("g")
    MultiStore.commit(r, Map("g" -> grid.take(8).toDF("x", "y", "payload")))
    intercept[java.util.ConcurrentModificationException] {
      // stale read: re-run the optimize pinned to the pre-commit version
      MultiStore.commitIf(r, Map("g" -> MultiStore.read(spark, r, "g")),
        Map("g" -> Some(vNow)))
    }
  }

  test("restore rolls pointers back without rewriting data, drops the later delete set, and leaves other stores alone") {
    val r = root()
    MultiStore.commit(r, Map(
      "docs"  -> Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v"),
      "other" -> Seq(("a", 1L)).toDF("k", "n")), keep = 5)
    val good = MultiStore.manifests(spark, r).last
    // bad pass: equality-delete wipes most rows; other store also advances
    MultiStore.deleteWhere(spark, r, "docs", expr("v >= 20"), Seq("id"), keep = 5)
    MultiStore.commit(r, Map("other" -> Seq(("a", 2L)).toDF("k", "n")), keep = 5)
    assert(MultiStore.readMerged(spark, r, "docs").count() == 1L)

    def versionDirs(store: String): Set[String] = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(r, store))
      try s.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("v=")).toSet
      finally s.close()
    }
    val dirsPre = versionDirs("docs")
    val snap    = MultiStore.restore(spark, r, "docs", good, keep = 5)
    // pointer-only: no new docs version dir, delete-set pointer gone
    assert(versionDirs("docs") == dirsPre)
    assert(!snap.contains("docs.deletes"), s"restore must drop the later delete set: $snap")
    assert(MultiStore.readMerged(spark, r, "docs").count() == 3L)
    // the other store keeps its LATEST state, not its state at `good`
    assert(MultiStore.read(spark, r, "other").as[(String, Long)].collect().toSet == Set(("a", 2L)))
    // history preserved: the bad snapshot is still time-travel-readable
    val bad = MultiStore.manifests(spark, r).dropRight(1).last
    assert(MultiStore.readMergedAt(spark, r, "docs", bad).count() == 1L)
    // restoring to a pruned-away manifest fails loudly
    MultiStore.commit(r, Map("other" -> Seq(("a", 3L)).toDF("k", "n")), keep = 2)
    intercept[IllegalArgumentException] {
      MultiStore.restore(spark, r, "docs", good, keep = 2)
    }
  }

  test("restore re-validates inside the publish loop: a swept target version dir aborts, never resurrects") {
    val r = root()
    MultiStore.commit(r, Map("docs" -> Seq((1L, 10L)).toDF("id", "v")), keep = 5)
    val good = MultiStore.manifests(spark, r).last
    val v0   = MultiStore.snapshot(spark, r)("docs")
    MultiStore.commit(r, Map("docs" -> Seq((1L, 11L)).toDF("id", "v")), keep = 5)
    // simulate the concurrent prune that the entry-time snapshotAt check
    // cannot see: the target's v= dir vanishes between validation and
    // publish (manifest `good` itself is still listed)
    graft.sources.AtomicFs.deleteRecursively(java.nio.file.Paths.get(r, "docs", s"v=$v0"))
    val ex = intercept[IllegalArgumentException] {
      MultiStore.restore(spark, r, "docs", good, keep = 5)
    }
    assert(ex.getMessage.contains("swept"), ex.getMessage)
    // the head manifest still serves the LIVE version — nothing published
    assert(MultiStore.read(spark, r, "docs").as[(Long, Long)].collect().toSet == Set((1L, 11L)))
  }

  test("m22 lifecycle: per-batch stores fold into one, OPTIMIZE compacts it, rows survive exactly, time travel keeps the fragmented view") {
    val r = root()
    // three exactly-once per-batch ingests, deliberately fragmented
    val rows = (0L until 90L).map(i => (i, s"v$i"))
    (0L to 2L).foreach { id =>
      assert(MultiStore.commitBatch(r, "ingest", id,
        Map(s"flags_$id" -> rows.filter(_._1 % 3 == id).toDF("k", "v").repartition(6)),
        keep = 8))
    }
    val frag = (0L to 2L).map(id => MultiStore.read(spark, r, s"flags_$id"))
      .reduce(_ unionByName _)
    val nFrag = frag.inputFiles.length
    assert(nFrag >= 9, s"ingest should fragment: $nFrag files")
    val preM = MultiStore.manifests(spark, r).last
    // the fold + the OPTIMIZE verb
    MultiStore.commit(r, Map("flags" -> frag), keep = 8)
    MultiStore.optimize(spark, r, "flags", targetFiles = 2,
      clusterBy = Seq("k"), keep = 8)
    val compacted = MultiStore.read(spark, r, "flags")
    assert(compacted.inputFiles.length <= 2)
    // exact row survival through fold + rewrite (independent of any oracle)
    assert(compacted.as[(Long, String)].collect().toSet == rows.toSet)
    // the pre-fold manifest: no folded table, per-batch stores intact
    assert(!MultiStore.snapshotAt(spark, r, preM).contains("flags"))
    val travel = (0L to 2L).map(id => MultiStore.readAt(spark, r, s"flags_$id", preM))
      .reduce(_ unionByName _).as[(Long, String)].collect().toSet
    assert(travel == rows.toSet)
    // the compacted layout's footers actually skip: a narrow range opens 1 of 2 files
    val hit = MultiStore.readPruned(spark, r, "flags", "k", lit(0L), lit(10L))
    assert(hit.as[(Long, String)].collect().toSet == rows.filter(_._1 <= 10).toSet)
    assert(MultiStore.scannedFiles(hit) == 1,
      s"zone maps did not skip: ${MultiStore.scannedFiles(hit)} of 2")
  }

  test("readMerged resolves data and delete set from one manifest: a racing compactDeletes never resurrects a deleted row") {
    import org.apache.spark.sql.functions._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val r = root()
    // keep is large so retention never sweeps a version out from under a
    // reader that resolved it moments before (the race under test is the
    // data/delete-set pairing, not retention)
    val keep = 1000
    MultiStore.commit(r, Map("docs" -> spark.range(0, 200).toDF("id")), keep = keep)
    // every id <= deletedUpTo has been deleted: a read that STARTS after
    // that must not return it, whatever compaction lands mid-read
    val deletedUpTo = new java.util.concurrent.atomic.AtomicLong(-1L)
    val done        = new java.util.concurrent.atomic.AtomicBoolean(false)
    val maintainer = Future {
      try (0L until 16L).foreach { k =>
        MultiStore.deleteWhere(spark, r, "docs", col("id") === k, Seq("id"), keep = keep)
        deletedUpTo.set(k)
        MultiStore.compactDeletes(spark, r, "docs", keep = keep)
      } finally done.set(true)
    }
    val resurrected = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    var reads = 0
    while (!done.get()) {
      val floor = deletedUpTo.get()
      val back = MultiStore.readMerged(spark, r, "docs")
        .filter(col("id") <= floor).as[Long].collect().toSeq
      if (back.nonEmpty) resurrected += (floor -> back)
      reads += 1
    }
    Await.result(maintainer, 300.seconds)
    assert(reads > 0)
    assert(resurrected.isEmpty,
      s"deleted rows came back in ${resurrected.size} of $reads reads " +
        s"(floor -> ids): ${resurrected.take(5).mkString(", ")}")
    assert(MultiStore.readMerged(spark, r, "docs").as[Long].collect().toSet == (16L until 200L).toSet)
  }

  test("compactDeletes races a commitBatch: the CAS loses loudly instead of dropping the batch") {
    import org.apache.spark.sql.functions._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val r = root()
    MultiStore.commit(r, Map("docs" -> spark.range(0, 3000000L).toDF("id").repartition(4)))
    MultiStore.deleteWhere(spark, r, "docs", col("id") < 10L, Seq("id"))
    // the compaction claims docs v=1 only AFTER it has read the snapshot it
    // rewrites; a batch committed from that moment lands between its read
    // and its publish — the lost-update window
    val claim = new java.io.File(s"$r/docs/_graft_claim_v=1")
    val compaction = Future(MultiStore.compactDeletes(spark, r, "docs",
      stats = Map("docs" -> Seq("id"))))
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (!claim.exists() && !compaction.isCompleted && System.nanoTime() < deadline)
      Thread.sleep(1)
    assert(claim.exists(), "the compaction never claimed its version")
    val batch = Seq(-1L, -2L).toDF("id")
    assert(MultiStore.commitBatch(r, "ingest", 0L, Map("docs" -> batch)))
    intercept[java.util.ConcurrentModificationException] {
      Await.result(compaction, 300.seconds)
    }
    // the winner's rows survive and its batch id stays applied
    assert(MultiStore.readMerged(spark, r, "docs").as[Long].collect().toSet == Set(-1L, -2L))
    assert(!MultiStore.commitBatch(r, "ingest", 0L, Map("docs" -> batch)))
  }

  test("a sink's read-derived commitBatch is pinned to the version it read: a compactDeletes in between throws, deleted rows never come back") {
    import org.apache.spark.sql.functions.col
    val r = root()
    MultiStore.commit(r, Map("docs" -> spark.range(0, 100).toDF("id")))
    MultiStore.deleteWhere(spark, r, "docs", col("id") < 10L, Seq("id"))
    // the sink reads docs v=0, deleted rows included (`read` is the raw data)
    val batch = Seq(-1L, -2L).toDF("id")
    val stale = MultiStore.read(spark, r, "docs").unionByName(batch)
    // the compaction folds the deletes into docs v=1 and resets the delete set
    MultiStore.compactDeletes(spark, r, "docs")
    val history = MultiStore.manifests(spark, r)
    intercept[java.util.ConcurrentModificationException] {
      MultiStore.commitBatch(r, "ingest", 0L, Map("docs" -> stale))
    }
    assert(MultiStore.manifests(spark, r) == history, "the stale batch published a manifest")
    // the caller re-reads and rebuilds the batch, which applies once
    val fresh = MultiStore.read(spark, r, "docs").unionByName(batch)
    assert(MultiStore.commitBatch(r, "ingest", 0L, Map("docs" -> fresh)))
    assert(!MultiStore.commitBatch(r, "ingest", 0L, Map("docs" -> fresh)))
    assert(MultiStore.readMerged(spark, r, "docs").as[Long].collect().toSet ==
      (10L until 100L).toSet ++ Set(-1L, -2L))
    // a blind write (no input files of its store) stays unpinned
    assert(MultiStore.commitBatch(r, "ingest", 1L, Map("docs" -> Seq(5L).toDF("id"))))
  }

  test("opening a version runs no Spark job: schema, manifest and probe hash resolve on the driver") {
    // building a read runs no job; collecting a point read over an empty
    // delete set, a range read or a Bloom hit runs exactly one; a read that
    // keeps no file runs no task
    import org.apache.spark.sql.functions.col
    val r = root()
    MultiStore.commit(r, Map("t" -> spark.range(0, 200).toDF("id").repartition(4)),
      bloom = Map("t" -> Seq("id")))
    MultiStore.deleteWhere(spark, r, "t", col("id") < 5L, Seq("id"))
    val m = MultiStore.manifests(spark, r).last
    // frames are only built, never collected: the listing, footers and
    // delete-set row count all resolve on the driver
    assert(jobsOf(MultiStore.read(spark, r, "t")) == 0)
    assert(jobsOf(MultiStore.readAt(spark, r, "t", m)) == 0)
    assert(jobsOf(MultiStore.readMerged(spark, r, "t")) == 0)
    assert(jobsOf(MultiStore.readMergedAt(spark, r, "t", m)) == 0)
    assert(jobsOf(MultiStore.readPruned(spark, r, "t", "id", lit(10L), lit(20L))) == 0)
    assert(jobsOf(MultiStore.readPrunedEq(spark, r, "t", "id", lit(42L))) == 0)
    // planning prunes the files on the driver, still without a job
    assert(jobsOf(MultiStore.scannedFiles(
      MultiStore.readMerged(spark, r, "t").filter(col("id") === 42L))) == 0)
    // collected: each read is one scan job
    def point() = MultiStore.readMerged(spark, r, "t").filter(col("id") === 42L).collect()
    assert(jobsOf(MultiStore.readPruned(spark, r, "t", "id", lit(10L), lit(20L)).collect()) == 1)
    assert(jobsOf(MultiStore.readPrunedEq(spark, r, "t", "id", lit(42L)).collect()) == 1)
    // a non-empty delete set adds the anti-join's broadcast job
    assert(jobsOf(point()) == 2)
    // a read that keeps no file scans none: Spark still posts one job for
    // the empty scan, with no task
    val miss = MultiStore.readPrunedEq(spark, r, "t", "id", lit(123456L))
    assert(MultiStore.scannedFiles(miss) == 0)
    assert(jobsAndTasks(miss.collect())._2 == 0)
    val disjoint = MultiStore.readPruned(spark, r, "t", "id", lit(1000L), lit(2000L))
    assert(MultiStore.scannedFiles(disjoint) == 0)
    assert(jobsAndTasks(disjoint.collect())._2 == 0)
    // a NULL probe matches nothing: the optimizer drops the scan
    val nullProbe = MultiStore.readPrunedEq(spark, r, "t", "id", lit(null))
    assert(jobsOf(assert(nullProbe.collect().isEmpty)) == 0)
    // the empty delete set compactDeletes resets to is never joined
    MultiStore.compactDeletes(spark, r, "t")
    assert(jobsOf(point()) == 1)
    assert(point().map(_.getLong(0)).toSeq == Seq(42L))
    // the counter does see jobs
    assert(jobsOf(MultiStore.read(spark, r, "t").collect()) >= 1)
  }

  test("a footer-read schema equals Spark's inferred one for every type, the empty reset delete set included") {
    import java.math.BigDecimal
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = false),
      StructField("ts", TimestampType),
      StructField("ntz", TimestampNTZType),
      StructField("day", DateType),
      StructField("amount", DecimalType(18, 2)),
      StructField("wide", DecimalType(38, 10), nullable = false),
      StructField("blob", BinaryType),
      StructField("tags", ArrayType(StringType, containsNull = false)),
      StructField("props", MapType(StringType, IntegerType, valueContainsNull = true)),
      StructField("geo", StructType(Seq(
        StructField("lat", DoubleType, nullable = false),
        StructField("tags", ArrayType(ShortType)))))))
    val rows = Seq(
      Row(1L, "a", java.sql.Timestamp.valueOf("2024-01-02 03:04:05.123456"),
        java.time.LocalDateTime.parse("2024-01-02T03:04:05"), java.sql.Date.valueOf("2024-01-02"),
        new BigDecimal("12.34"), new BigDecimal("1234567890.0123456789"), Array[Byte](1, 2, 3),
        Seq("x", "y"), Map("k" -> 1, "n" -> null), Row(1.5, Seq(1.toShort, null))),
      Row(2L, "b", null, null, null, null, new BigDecimal("0E-10"), null, Seq.empty[String],
        null, Row(-2.5, null)),
      Row(3L, "c", java.sql.Timestamp.valueOf("1970-01-01 00:00:00"), null, null,
        new BigDecimal("-0.01"), new BigDecimal("-1.5"), Array.emptyByteArray, Seq("z"),
        Map.empty[String, Int], null))
    val r = root()
    MultiStore.commit(r, Map("t" -> spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .repartition(2)))
    MultiStore.deleteWhere(spark, r, "t", col("id") === 2L, Seq("id"))
    MultiStore.compactDeletes(spark, r, "t")
    val snap = MultiStore.snapshot(spark, r)
    // the compacted data and the EMPTY delete set compactDeletes resets to
    assert(MultiStore.read(spark, r, "t.deletes").count() == 0L)
    Seq("t", "t.deletes").foreach { store =>
      val dir      = s"$r/$store/v=${snap(store)}"
      val got      = MultiStore.read(spark, r, store)
      val inferred = spark.read.parquet(dir)
      assert(got.schema == inferred.schema, s"$store: footer schema differs from inference")
      assert(got.orderBy("id").collect().toSeq == inferred.orderBy("id").collect().toSeq)
    }
    val v0 = MultiStore.readAt(spark, r, "t", MultiStore.manifests(spark, r).head)
    assert(v0.schema == spark.read.parquet(s"$r/t/v=0").schema)
    assert(v0.orderBy("id").collect().toSeq == spark.read.parquet(s"$r/t/v=0").orderBy("id").collect().toSeq)
    assert(v0.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(MultiStore.readMerged(spark, r, "t").orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 3L))
  }

  test("footer pruning never drops a matching row: ranges and Bloom probes over every pushable type, NULLs and row groups") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.{Column, Row}
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    import org.scalacheck.{Gen, Prop, Test}
    import org.scalacheck.rng.Seed
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false), StructField("l", LongType),
      StructField("i", IntegerType), StructField("d", DateType),
      StructField("ts", TimestampType), StructField("s", StringType),
      StructField("dec", DecimalType(10, 2)), StructField("dbl", DoubleType)))
    // every column rises with id, so a range-clustered file holds a tight
    // min/max in each; a tenth of each column is NULL
    val rnd = new scala.util.Random(7)
    def orNull[A](a: A): Any = if (rnd.nextInt(10) == 0) null else a
    def value(c: String, id: Long): Any = c match {
      case "l"   => id * 10 + rnd.nextInt(10)
      case "i"   => (id / 3).toInt + rnd.nextInt(3)
      case "d"   => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(18000 + id / 2))
      case "ts"  => new java.sql.Timestamp(1600000000000L + id * 1000000L + rnd.nextInt(1000))
      case "s"   => f"k${id / 4}%04d" + "aé~z"(rnd.nextInt(4))
      case "dec" => java.math.BigDecimal.valueOf(id * 125 + rnd.nextInt(100), 2)
      case "dbl" => id * 0.5 + rnd.nextDouble()
    }
    val cols = schema.fieldNames.toSeq.tail
    def rows(ids: Seq[Long], nulls: Boolean) = spark.createDataFrame(ids.map { id =>
      Row.fromSeq(id +: cols.map(c => if (nulls) null else orNull(value(c, id))))
    }.asJava, schema)
    val live = rows(0L until 600L, nulls = false)
    val r    = root()
    // store "t", written by hand into a v=0 dir plus its manifest, holds
    // range-clustered files, one file of many row groups and one all-NULL
    // file, with Bloom filters on the string and long columns
    def bloomed(w: org.apache.spark.sql.DataFrameWriter[Row]) =
      w.option("parquet.bloom.filter.enabled#s", "true")
        .option("parquet.bloom.filter.enabled#l", "true")
    bloomed(live.filter(col("id") < 400).repartitionByRange(4, col("id")).write)
      .parquet(s"$r/t/v=0")
    bloomed(live.filter(col("id") >= 400).coalesce(1).write.mode("append"))
      .option("parquet.block.size", "1")
      .option("parquet.page.size.row.check.min", "10")
      .option("parquet.page.size.row.check.max", "10")
      .parquet(s"$r/t/v=0")
    bloomed(rows(600L until 650L, nulls = true).coalesce(1).write.mode("append"))
      .parquet(s"$r/t/v=0")
    Files.write(new java.io.File(s"$r/_graft_manifest_m=0").toPath, "t=0\n".getBytes("UTF-8"))
    val all = live.unionByName(rows(600L until 650L, nulls = true))
    // "plain" is committed without stats or bloom, "blm" with a Bloom
    // filter on the string column
    MultiStore.commit(r, Map("plain" -> all.repartitionByRange(6, col("id"))))
    MultiStore.commit(r, Map("blm" -> all.repartitionByRange(6, col("dec"))),
      bloom = Map("blm" -> Seq("s")))
    val stores = Seq("t", "plain", "blm")
    val rowGroups = MultiStore.read(spark, r, "t").inputFiles.map { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f), spark.sessionState.newHadoopConf()))
      try reader.getRowGroups.size finally reader.close()
    }
    assert(rowGroups.max > 1, s"no file of several row groups: ${rowGroups.toSeq}")

    // each store's rows with their file, held on the driver: the truth is
    // the predicate evaluated over a local relation, untouched by parquet
    val local = stores.map { st =>
      val withFile = MultiStore.read(spark, r, st)
        .select(col("*"), col("_metadata.file_name").as("file"))
      st -> spark.createDataFrame(withFile.collect().toSeq.asJava, withFile.schema)
    }.toMap
    // a delete set on every store, so readMerged plans its anti-join
    val deleted = col("id") % 13 === 5
    stores.foreach(st => MultiStore.deleteWhere(spark, r, st, deleted, Seq("id")))
    val nFiles = stores.map(st => st -> MultiStore.read(spark, r, st).inputFiles.length).toMap
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").collect().map(_.getLong(0)).toSeq.sorted
    var prunedFiles = 0L
    def check(st: String, pred: Column): Boolean = {
      val truth   = local(st).filter(pred)
      val read    = MultiStore.read(spark, r, st).filter(pred)
      val merged  = MultiStore.readMerged(spark, r, st).filter(pred)
      val opened  = MultiStore.scannedFiles(read)
      val needed  = truth.select("file").distinct().count()
      prunedFiles += nFiles(st) - opened
      val ok = ids(read) == ids(truth) && opened >= needed &&
        ids(merged) == ids(truth.filter(!deleted))
      if (!ok) println(s"$st $pred: scanned $opened, needed $needed, " +
        s"got ${ids(read)}, want ${ids(truth)}")
      ok
    }

    // a probe of each column's type, drawn from its own values or past
    // its ends, with an INT literal standing in for a BIGINT one at times
    def probe(c: String): Gen[Column] = Gen.choose(-20L, 680L).flatMap { id =>
      val v = value(c, id)
      c match {
        case "l" => Gen.oneOf(lit(v), lit(v.asInstanceOf[Long].toInt))
        case _   => Gen.const(lit(v))
      }
    }
    val sample = for {
      c  <- Gen.oneOf(cols)
      lo <- probe(c)
      hi <- probe(c)
      p1 <- probe(c)
      p2 <- probe(c)
    } yield (c, lo, hi, Seq(p1, p2))
    val prop = Prop.forAll(sample) { case (c, lo, hi, probes) =>
      stores.forall { st =>
        check(st, col(c) >= lo && col(c) <= hi) && probes.forall(p => check(st, col(c) === p))
      }
    }
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(20).withInitialSeed(Seed(11L)), prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
    assert(prunedFiles > 0, "no read pruned a file: the property checked nothing")
  }
}
