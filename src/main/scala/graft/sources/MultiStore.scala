package graft.sources

import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.StructType

/** Multi-table snapshot commits over immutable parquet store versions —
  * the repository's ONLY versioned-store protocol: every self-maintained
  * store whose only copy is itself (the x53 CC label store, its companion
  * stores, ingest tables) commits through it, one store or many. It is the
  * transaction-log shape a lakehouse user expects when two stores must
  * advance TOGETHER (a reader must never see new labels beside old
  * partials).
  *
  * Layout under one `root`:
  *
  *   root/<store>/v=<n>/...       immutable data versions per store
  *   root/_graft_manifest_m=<m>   numbered manifest files, each the FULL
  *                                snapshot: one `store=version` line per
  *                                store
  *   root/<store>/_graft_claim_v=<n>  exclusive version claims
  *                                ([[AtomicFs.claim]])
  *
  * The commit is ONE atomic rename of a tmp file into the next numbered
  * manifest name — readers resolve the highest complete manifest, so a
  * crash anywhere in a multi-store commit (after any subset of data
  * writes, before the manifest lands) leaves every reader on the previous
  * manifest: all-old or all-new, never mixed. Numbered manifests (rather
  * than one mutable pointer file) remove the delete-then-rename window a
  * single pointer would reintroduce for the multi-store case, and make
  * concurrent committers conflict LOUDLY: rename onto an existing
  * manifest name fails, and the committer retries against the refreshed
  * snapshot (bounded attempts), giving last-writer-wins at manifest grain
  * with no torn state. This is structurally Iceberg's root-pointer commit
  * generalized to N tables under one root — what a transaction log does.
  * Writers that must not lose updates use [[commitIf]] (compare-and-swap
  * on the stores they read: conflicts on the SAME store throw, disjoint
  * stores rebase automatically); plain [[commit]] keeps last-writer-wins
  * for refresh-style writers whose output does not depend on the previous
  * version. Reference anchor: the session-store tmp+rename discipline
  * (sessions/manager.py:519-522) promoted from one file to one snapshot.
  *
  * Scale: a commit writes only the stores it changes; unchanged stores
  * are carried forward in the manifest by reference (a text line, not a
  * data copy). Manifest files are bytes-sized; data versions are pruned
  * only when no retained manifest references them.
  *
  * Metadata stays on the driver, in the parquet footers the data files
  * already carry: the manifest, each opened version's schema, the row
  * count of a delete set, the file pruning of range and Bloom reads (footer
  * min/max and native Bloom filters, see [[readPrunedRanges]]) and the txn
  * marker resolve without a Spark job, and no sidecar repeats what a
  * footer holds. Only row data (scans, writes) runs as Spark jobs.
  */
object MultiStore {

  private val ManifestPrefix = "_graft_manifest_m="

  private def hfs(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def manifestNumbers(fs: org.apache.hadoop.fs.FileSystem,
                              rootP: org.apache.hadoop.fs.Path): Seq[Long] =
    if (!fs.exists(rootP)) Seq.empty
    else
      fs.listStatus(rootP).toSeq
        .map(_.getPath.getName)
        .collect { case s if s.startsWith(ManifestPrefix) => s.stripPrefix(ManifestPrefix).toLong }
        .sorted

  private def readManifest(fs: org.apache.hadoop.fs.FileSystem,
                           rootP: org.apache.hadoop.fs.Path, m: Long): Map[String, Long] = {
    val in = fs.open(new org.apache.hadoop.fs.Path(rootP, ManifestPrefix + m))
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](4096)
      var n   = in.read(tmp)
      while (n > 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
      new String(buf.toByteArray, "UTF-8").split("\n").iterator
        .map(_.trim).filter(_.nonEmpty)
        .map { line =>
          val i = line.lastIndexOf('=')
          line.substring(0, i) -> line.substring(i + 1).toLong
        }
        .toMap
    } finally in.close()
  }

  /** The live snapshot: {store -> version} of the highest manifest, or
    * empty before the first commit.
    */
  def snapshot(spark: SparkSession, root: String): Map[String, Long] = {
    val (fs, rootP) = hfs(spark, root)
    manifestNumbers(fs, rootP).lastOption
      .map(readManifest(fs, rootP, _))
      .getOrElse(Map.empty)
  }

  /** `root/<store>/v=<v>`: the data files of one store version. */
  private def versionDir(root: String, store: String, v: Long): String =
    s"${root.stripSuffix("/")}/$store/v=$v"

  /** The one live-version lookup: `store`'s version in an already-read
    * snapshot. Every reader and rewriter resolves through a snapshot it
    * read ONCE, so the data and delete set it opens come from the same
    * manifest.
    */
  private def version(root: String, snap: Map[String, Long], store: String): Long =
    snap.getOrElse(store,
      throw new IllegalStateException(s"MultiStore at $root has no committed store '$store'"))

  /** The data files of a version dir: every entry but the `_`- and
    * `.`-prefixed ones the writer leaves beside them (`_SUCCESS`, `.crc`
    * checksums), the rule Spark's file index applies. Listing a file
    * yields the file itself.
    */
  private def dataFiles(fs: org.apache.hadoop.fs.FileSystem,
                        p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(p).toSeq.filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }

  /** The one driver-side footer reader: lists the data files of the
    * version dir `dir` once and opens each at most once, lazily and in
    * listing order, handing `f` the file, its Spark schema and its open
    * reader. Every file opens under ONE Hadoop conf, carried by
    * `HadoopReadOptions`: the `ParquetFileReader.open(InputFile)` overload
    * without options builds a fresh `Configuration` per file, which costs
    * more than the footer read itself.
    */
  private def footers[T](spark: SparkSession, dir: String)(
      f: (org.apache.hadoop.fs.FileStatus, StructType, ParquetFileReader) => T): Iterator[T] = {
    val (fs, p)  = hfs(spark, dir)
    val conf     = spark.sessionState.newHadoopConf()
    val options  = HadoopReadOptions.builder(conf).build()
    dataFiles(fs, p).iterator.map { st =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf), options)
      try f(st, GraftParquetBridge.schema(spark, st.getPath, reader), reader)
      finally reader.close()
    }
  }

  /** Every parquet scan in this module: `paths` read under a footer-read
    * `schema`, so Spark runs no schema-inference job.
    */
  private def scan(spark: SparkSession, schema: StructType, paths: String*): DataFrame =
    spark.read.schema(schema).parquet(paths: _*)

  /** A version dir read whole, its schema from the first footer. All files
    * of a version come from one write, so one footer speaks for all of
    * them. Every dir this module writes holds a footer (an empty write
    * still leaves one schema-only file), so there is no fallback to
    * inference.
    */
  private def open(spark: SparkSession, dir: String): DataFrame =
    scan(spark, footers(spark, dir)((_, schema, _) => schema).nextOption().getOrElse(
      throw new IllegalStateException(s"MultiStore: $dir holds no parquet data file")), dir)

  private def readIn(spark: SparkSession, root: String, snap: Map[String, Long],
                     store: String): DataFrame =
    open(spark, versionDir(root, store, version(root, snap, store)))

  /** Read one store at the live snapshot. */
  def read(spark: SparkSession, root: String, store: String): DataFrame =
    readIn(spark, root, snapshot(spark, root), store)

  /** Retained manifest numbers, ascending — the snapshot HISTORY. Each is
    * a complete, immutable, readable snapshot until pruning drops it
    * (keep=N retains the last N), which is the whole time-travel contract
    * of a root-pointer table format: old snapshots stay queryable because
    * commits never mutate data, only publish new pointers.
    */
  def manifests(spark: SparkSession, root: String): Seq[Long] = {
    val (fs, rootP) = hfs(spark, root)
    manifestNumbers(fs, rootP)
  }

  /** The full {store -> version} snapshot as of manifest `m`. */
  def snapshotAt(spark: SparkSession, root: String, m: Long): Map[String, Long] = {
    val (fs, rootP) = hfs(spark, root)
    require(manifestNumbers(fs, rootP).contains(m),
      s"MultiStore at $root: manifest m=$m is not retained (history: ${manifestNumbers(fs, rootP).mkString(",")})")
    readManifest(fs, rootP, m)
  }

  /** Time-travel read: one store as of manifest `m`. */
  def readAt(spark: SparkSession, root: String, store: String, m: Long): DataFrame =
    readIn(spark, root, snapshotAt(spark, root, m), store)

  // ---- row-level deletes (merge-on-read equality deletes) -----------------

  /** The delete set of `store` is itself a store named `<store>.deletes`,
    * whose rows ARE the equality-delete keys (its schema records the key
    * columns, so readers need no side channel). Everything a store already
    * has — atomic multi-table commits, snapshot isolation, time travel,
    * version pruning, the claim protocol — applies to the delete set for
    * free, and a delete commits BOTH stores' pointers in one manifest.
    */
  private def deletesStore(store: String): String = store + ".deletes"

  /** Delete rows matching `cond` WITHOUT rewriting the data — the
    * merge-on-read half of a lakehouse DELETE (Iceberg's equality-delete
    * files): the matched rows' `keyCols` values are appended to the
    * store's delete set (a tiny parquet of keys), and [[readMerged]]
    * subtracts them with an anti-join at read time. At 100 TB this is the
    * difference between deleting 0.1% of rows by writing KBs of keys
    * versus rewriting the table; the read-time anti-join stays cheap
    * because the delete side is broadcast-sized until [[compactDeletes]]
    * folds it in. Rows whose key columns are NULL are never matched by the
    * anti-join (equality-delete semantics) — use non-null keys.
    *
    * Concurrency: the read-modify-write of the delete set runs through
    * [[commitIf]] pinned to the delete-set version it read, so a
    * concurrent deleteWhere cannot be silently overwritten (the classic
    * lost update of last-writer-wins): the loser's CAS throws, the keys
    * are re-derived from the winner's snapshot, and the retry commits the
    * UNION — both deletes land.
    */
  def deleteWhere(spark: SparkSession, root: String, store: String,
                  cond: Column, keyCols: Seq[String], keep: Int = 2): Map[String, Long] = {
    require(keyCols.nonEmpty, "deleteWhere: at least one key column")
    var attempts = 0
    while (true) {
      val snap     = snapshot(spark, root)
      val existing = deletesIn(spark, root, snap, store)
      val newKeys  = mergedIn(spark, root, snap, store)
        .filter(cond).select(keyCols.map(col): _*).distinct()
      val allKeys = existing match {
        case Some(del) =>
          require(del.columns.sorted.toSeq == keyCols.sorted,
            s"deleteWhere: key columns ${keyCols.mkString(",")} differ from the " +
              s"store's existing delete schema ${del.columns.mkString(",")}")
          del.unionByName(newKeys).distinct()
        case None => newKeys
      }
      try return commitIf(root, Map(deletesStore(store) -> allKeys),
        Map(deletesStore(store) -> snap.get(deletesStore(store))), keep)
      catch {
        case e: java.util.ConcurrentModificationException =>
          attempts += 1
          if (attempts > 20) throw e // live delete contention — surface it
      }
    }
    sys.error("unreachable")
  }

  /** Read one store at the live snapshot with its delete set applied —
    * what a SELECT sees after [[deleteWhere]]. No delete set committed =
    * plain [[read]].
    */
  def readMerged(spark: SparkSession, root: String, store: String): DataFrame =
    mergedIn(spark, root, snapshot(spark, root), store)

  /** Time-travel [[readMerged]]: the data AND the delete set as of
    * manifest `m` — a delete is as time-travel-visible as a write.
    */
  def readMergedAt(spark: SparkSession, root: String, store: String, m: Long): DataFrame =
    mergedIn(spark, root, snapshotAt(spark, root, m), store)

  private def deletesIn(spark: SparkSession, root: String, snap: Map[String, Long],
                        store: String): Option[DataFrame] =
    snap.get(deletesStore(store)).map(_ => readIn(spark, root, snap, deletesStore(store)))

  /** Data minus delete set, both resolved from the ONE snapshot `snap`: a
    * [[compactDeletes]] landing mid-read can never pair the pre-compaction
    * data with the reset (empty) delete set and resurrect deleted rows.
    * The anti-join is planned only when the delete set's footers count a
    * row, so the empty set [[compactDeletes]] resets to costs a footer read
    * instead of a broadcast job.
    */
  private def mergedIn(spark: SparkSession, root: String, snap: Map[String, Long],
                       store: String): DataFrame = {
    val data = readIn(spark, root, snap, store)
    snap.get(deletesStore(store)).fold(data) { v =>
      val dir   = versionDir(root, deletesStore(store), v)
      val files = footers(spark, dir)((_, schema, reader) => (schema, reader.getRecordCount)).toSeq
      if (files.map(_._2).sum == 0L) data
      else {
        val del = scan(spark, files.head._1, dir)
        data.join(del, del.columns.toSeq, "left_anti")
      }
    }
  }

  /** Fold the delete set into the data: rewrite the store as its merged
    * view and reset the delete set to empty, in ONE snapshot commit (a
    * reader time-traveling to any manifest still sees a consistent
    * data-minus-deletes pair). This is the maintenance pass that keeps the
    * read-time anti-join side broadcast-sized — run it when the delete set
    * grows past broadcast scale or on a compaction schedule. CAS-pinned
    * (see [[rewritePinned]]) to the data and delete-set versions it read:
    * a micro-batch committed mid-compaction makes this call throw instead
    * of being overwritten by the stale compacted rows. `stats` writes
    * nothing, as in [[commit]].
    */
  def compactDeletes(spark: SparkSession, root: String, store: String,
                     keep: Int = 2,
                     stats: Map[String, Seq[String]] = Map.empty): Map[String, Long] =
    rewritePinned(spark, root, store, keep) { (data, deletes) =>
      val del = deletes().getOrElse(throw new IllegalArgumentException(
        s"compactDeletes: store '$store' has no delete set to fold in"))
      Map(store                -> data.join(del, del.columns.toSeq, "left_anti"),
          deletesStore(store)  -> del.filter(lit(false)))
    }

  /** The one CAS-pinned rewrite behind [[compactDeletes]], [[optimize]]
    * and `LayoutOps.optimizeZorder`: resolve `store`'s data (and, on
    * demand, its delete set) from ONE snapshot, let `reshape` derive the
    * writes from them, and publish through [[commitIf]] pinned to the
    * version every written store had in that snapshot. A rewrite racing a data commit LOSES (throws
    * [[java.util.ConcurrentModificationException]]; the caller re-runs
    * over the fresh snapshot) rather than publishing a rewrite of stale
    * data over the winner — rewrites that change no rows still change
    * pointers.
    */
  private[graft] def rewritePinned(spark: SparkSession, root: String, store: String,
                                   keep: Int, bloom: Map[String, Seq[String]] = Map.empty)(
      reshape: (DataFrame, () => Option[DataFrame]) => Map[String, DataFrame]): Map[String, Long] = {
    val snap   = snapshot(spark, root)
    val writes = reshape(readIn(spark, root, snap, store), () => deletesIn(spark, root, snap, store))
    commitIf(root, writes, writes.keys.map(s => s -> snap.get(s)).toMap, keep, bloom = bloom)
  }

  /** Driver-side read of the one-row txn marker. The marker is a KB-sized
    * single-row parquet this module itself wrote; resolving "did batch N
    * apply?" through `spark.read.parquet(...).head()` paid a full Catalyst
    * analysis + a scheduled one-task cluster job PER MICRO-BATCH just to
    * fetch one long (guide §5: the driver should do metadata work
    * driver-side). Reading the part files directly keeps the protocol
    * byte-identical — same marker files, same manifest chain, same value —
    * and costs one FS listing plus one footer/page read, at any scale.
    */
  private def readTxnMarker(spark: SparkSession, root: String, store: String, v: Long): Long = {
    val (fs, dirP) = hfs(spark, versionDir(root, store, v))
    val parts = dataFiles(fs, dirP).map(_.getPath)
    val conf = spark.sessionState.newHadoopConf()
    val ids = parts.flatMap { p =>
      val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), p)
        .withConf(conf)
        .build()
      try Iterator.continually(reader.read()).takeWhile(_ != null)
        .map(_.getLong("batch_id", 0)).toList
      finally reader.close()
    }
    require(ids.size == 1,
      s"MultiStore at $root: txn marker $store/v=$v must hold exactly one row, found ${ids.size}")
    ids.head
  }

  /** Idempotent micro-batch commit — the streaming→transaction-log bridge
    * (Delta's `txn` appId/version marker, expressed as a store): `writes`
    * land together with a one-row `<sinkId>.txn` marker store holding the
    * batch id, in ONE manifest, so "did batch N apply?" is answered by the
    * same atomic pointer that published its data. Structured Streaming's
    * `foreachBatch` re-delivers a batch after a crash-restart; replaying
    * an id at-or-below the marker returns false and writes NOTHING, which
    * upgrades at-least-once delivery to exactly-once application. The
    * marker advance goes through [[commitIf]] pinned to the marker version
    * read, so two racing sinks with the same sinkId cannot both apply one
    * batch — the CAS loser re-reads and sees the batch already applied.
    *
    * A write derived from its own store (the `read ∪ batch` sink) is also
    * pinned to the version it read ([[readVersions]]): if a rewrite such as
    * [[compactDeletes]] moved that store meanwhile, the call throws
    * [[java.util.ConcurrentModificationException]] at once, and the caller
    * re-reads and rebuilds the batch. Without the pin the stale rows would
    * overwrite the rewrite, and rows it had folded out would come back.
    *
    * Batch ids must be monotonically increasing per sinkId (foreachBatch's
    * contract). Returns true iff this call applied the batch. `stats`
    * writes nothing, as in [[commit]].
    */
  def commitBatch(root: String, sinkId: String, batchId: Long,
                  writes: Map[String, DataFrame], keep: Int = 2,
                  stats: Map[String, Seq[String]] = Map.empty): Boolean = {
    require(writes.nonEmpty, "commitBatch: no stores to write")
    val spark    = writes.head._2.sparkSession
    val txnStore = sinkId + ".txn"
    import spark.implicits._
    lazy val pins = readVersions(spark, root, writes)
    var attempts = 0
    while (true) {
      val snap       = snapshot(spark, root)
      val txnVersion = snap.get(txnStore)
      val lastId     = txnVersion.map(readTxnMarker(spark, root, txnStore, _))
      if (lastId.exists(_ >= batchId)) return false // already applied
      // a moved pinned store fails every retry alike: surface it now
      pins.foreach { case (s, v) =>
        if (!snap.get(s).contains(v)) throw casConflict(root, s, snap.get(s), Some(v))
      }
      try {
        commitIf(root,
          writes + (txnStore -> Seq(batchId).toDF("batch_id")),
          pins.map { case (s, v) => s -> Some(v) } + (txnStore -> txnVersion), keep)
        return true
      } catch {
        case e: java.util.ConcurrentModificationException =>
          attempts += 1
          if (attempts > 20) throw e // live same-sink contention — surface it
      }
    }
    sys.error("unreachable")
  }

  /** The version each write read of its own store: the `v=<n>` of the
    * frame's input files under `root/<store>/`, the newest if it scans
    * several. A write that scans none of its store's files (a blind write,
    * or a checkpointed frame) gets no entry.
    */
  private def readVersions(spark: SparkSession, root: String,
                           writes: Map[String, DataFrame]): Map[String, Long] = {
    val (fs, rootP) = hfs(spark, root)
    val qualified   = fs.makeQualified(rootP)
    writes.flatMap { case (store, df) =>
      val storeP = new org.apache.hadoop.fs.Path(qualified, store)
      df.inputFiles.toSeq
        .map(f => new org.apache.hadoop.fs.Path(new java.net.URI(f)).getParent)
        .collect { case d if d.getParent == storeP && d.getName.startsWith("v=") =>
          d.getName.stripPrefix("v=").toLong
        }
        .maxOption.map(store -> _)
    }
  }

  // ---- file pruning from footers: ranges and Bloom point lookups -----------

  /** Range read that opens ONLY the files whose footer min/max for `c` may
    * intersect `[lo, hi]`: file skipping from the statistics every parquet
    * footer already records for every column, so it works on any version,
    * however it was committed. The residual predicate is still applied
    * (footer ranges are a superset); on a range-clustered table (writer
    * used `repartitionByRange(c)`) the skip rate approaches the
    * selectivity. The file list is resolved on the driver (see
    * [[readPrunedRanges]]): building the frame runs no Spark job, and
    * collecting it runs one.
    */
  def readPruned(spark: SparkSession, root: String, store: String,
                 c: String, lo: Column, hi: Column): DataFrame =
    readPrunedRanges(spark, root, store, Seq((c, lo, hi)))

  /** Conjunctive multi-column range pruning: a file survives only if EVERY
    * range may intersect its footer min/max. Pairs naturally with a
    * Z-ordered writer (`LayoutOps.clusterByZ` interleaves the dimensions,
    * so each file's per-column min/max boxes are tight in all of them
    * simultaneously) — the footers turn the Z-layout into genuine
    * multi-dimensional file skipping, the Delta/Iceberg `ZORDER BY` + stats
    * combination.
    *
    * The pruning is Spark's own row-group test, run on the driver: the
    * predicate goes through the optimizer and Spark's Catalyst-to-parquet
    * translation (`ParquetFilters`), and a file is kept if parquet's
    * `RowGroupFilter` keeps at least one of its row groups
    * ([[GraftParquetBridge.mayMatch]]). Spark's reader applies the same
    * test to every row group inside the scan task, so pruning only drops
    * files whose row groups the scan would skip anyway. A predicate or type
    * the translation does not cover keeps every file. A read that keeps no
    * file is a schema-only local frame with no input files, which collects
    * without a Spark job.
    */
  def readPrunedRanges(spark: SparkSession, root: String, store: String,
                       ranges: Seq[(String, Column, Column)]): DataFrame = {
    require(ranges.nonEmpty, "readPrunedRanges: at least one range")
    val pred = ranges.map { case (c, lo, hi) => col(c) >= lo && col(c) <= hi }.reduce(_ && _)
    prunedScans(spark, root, store, Seq(pred)).head
  }

  /** Equality (point-lookup) read that opens ONLY the files whose footer
    * min/max and native parquet Bloom filter for `c` may contain `value` —
    * the Delta "bloom filter index" path for high-cardinality columns where
    * min/max ranges are useless (a hash-distributed id intersects every
    * file's range, but lands in ~one file's Bloom filter). The filters are
    * the ones [[commit]] writes for its `bloom` columns; a file without one
    * is pruned by min/max alone. The probe is cast as Spark's filter casts
    * it, so an INT probe against a BIGINT column hashes as a BIGINT. False
    * positives are stripped by the residual equality filter, so the result
    * equals the plain filter by construction; a NULL probe matches no row.
    * Pruning runs as in [[readPrunedRanges]]: no Spark job to build, one to
    * collect a hit, none to collect a miss.
    */
  def readPrunedEq(spark: SparkSession, root: String, store: String,
                   c: String, value: Column): DataFrame =
    readPrunedEqMulti(spark, root, store, c, Seq(value)).head

  /** Batched point lookup: [[readPrunedEq]] for several probe values of
    * the SAME column against the SAME live version, returning one pruned
    * frame per value (order preserved). The snapshot, the listing and each
    * file's footer are read ONCE for the whole batch instead of once per
    * key. Per-key semantics are unchanged: each returned frame opens only
    * the files that may contain its value, with the residual equality
    * filter on top.
    */
  def readPrunedEqMulti(spark: SparkSession, root: String, store: String,
                        c: String, values: Seq[Column]): Seq[DataFrame] =
    prunedScans(spark, root, store, values.map(col(c) === _))

  /** One pruned scan per predicate over `store`'s live version, from one
    * pass over its footers. Each predicate is translated once per schema
    * (one optimizer run; all files of a version come from one write, so
    * once) and tested against every file.
    */
  private def prunedScans(spark: SparkSession, root: String, store: String,
                          preds: Seq[Column]): Seq[DataFrame] = {
    val dir    = versionDir(root, store, version(root, snapshot(spark, root), store))
    val pushed = scala.collection.mutable.Map.empty[StructType, Seq[Option[Seq[sources.Filter]]]]
    val files  = footers(spark, dir) { (st, schema, reader) =>
      val filters = pushed.getOrElseUpdate(schema,
        preds.map(GraftParquetBridge.pushedFilters(spark, schema, _)))
      (st.getPath.toString, schema,
        filters.map(_.exists(GraftParquetBridge.mayMatch(spark, reader, _))))
    }.toSeq
    val schema = files.headOption.map(_._2).getOrElse(
      throw new IllegalStateException(s"MultiStore: $dir holds no parquet data file"))
    preds.zipWithIndex.map { case (pred, i) =>
      files.collect { case (f, _, keep) if keep(i) => f } match {
        case Seq() => spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
        case kept  => scan(spark, schema, kept: _*).filter(pred)
      }
    }
  }

  // ---- OPTIMIZE (bin-packing compaction) -----------------------------------

  /** Expected distinct values per file that sizes the native parquet Bloom
    * filter [[commit]] writes for each `bloom` column (the writer option
    * `parquet.bloom.filter.expected.ndv`): at parquet's default 1%
    * false-positive rate, a 128 KiB filter per (file, column).
    */
  val BloomExpectedItems: Long = 1L << 16

  /** OPTIMIZE — the small-file bin-packing compaction every lakehouse
    * needs once streaming/batch ingest has fragmented a store: rewrite the
    * live data version's ROWS (unchanged) into `targetFiles` files,
    * range-clustered by `clusterBy` when given (so footer min/max ranges
    * stay tight — the `ZORDER`-lite layout half of the Delta OPTIMIZE
    * verb), and commit the rewrite as a NEW version with Bloom filters on
    * the `bloom` columns. `stats` writes nothing, as in [[commit]]. Old
    * manifests still reference the fragmented version — time travel is
    * unaffected, and retention eventually sweeps it.
    *
    * CAS-pinned to the version it read ([[rewritePinned]]): an OPTIMIZE
    * racing a data commit loses loudly.
    */
  def optimize(spark: SparkSession, root: String, store: String,
               targetFiles: Int, clusterBy: Seq[String] = Nil,
               stats: Seq[String] = Nil, bloom: Seq[String] = Nil,
               keep: Int = 2): Map[String, Long] = {
    require(targetFiles > 0, "optimize: targetFiles must be positive")
    rewritePinned(spark, root, store, keep,
      bloom = if (bloom.nonEmpty) Map(store -> bloom) else Map.empty) { (data, _) =>
      Map(store -> (
        if (clusterBy.nonEmpty) data.repartitionByRange(targetFiles, clusterBy.map(col): _*)
        else data.repartition(targetFiles)))
    }
  }

  /** RESTORE (Delta's `RESTORE TABLE ... TO VERSION`): roll `store` back
    * to its state at retained manifest `m` — data pointer AND
    * equality-delete-set pointer together, since the visible table state
    * is their merge — by publishing a NEW manifest. Pointer-only: no data
    * is rewritten or deleted, so a 100 TB restore costs one manifest file;
    * the bad commits stay in history (still time-travel-queryable) and the
    * restored version is re-referenced by the new head, which is what
    * keeps the pruner protecting its files. A delete set that did not
    * exist at `m` is REMOVED from the new snapshot (its rows come back);
    * stores other than `store` are carried forward untouched. Restoring
    * past the retention horizon is refused — `m` must still be retained
    * (Delta's "cannot restore beyond VACUUM" rule), validated at snapshot
    * AND re-validated before every publish attempt, since a concurrent
    * commit's prune can drop m (and sweep the target version dirs) after
    * the first check.
    *
    * Concurrency: last-writer-wins through the same manifest-name race as
    * [[commit]] — a concurrent commit landing first forces a re-read of
    * its snapshot, so the restore never silently rolls back pointers it
    * merely carried forward (the lost-update rule of `publish`).
    */
  def restore(spark: SparkSession, root: String, store: String, m: Long,
              keep: Int = 2): Map[String, Long] = {
    val target = snapshotAt(spark, root, m) // validates m is retained
    require(target.contains(store),
      s"MultiStore at $root: store '$store' absent at manifest m=$m — nothing to restore")
    val touched = Seq(store, deletesStore(store))
    val (fs, _) = hfs(spark, root)
    publish(spark, root, keep, DefaultPruneGraceMs) { (baseNums, base) =>
      // Re-validate on EVERY publish attempt (time-of-check/time-of-use): a
      // concurrent commit that won a race may have pruned manifest m — and
      // swept the target version dirs it alone protected — between our
      // snapshotAt above and this publish attempt. Publishing then would
      // resurrect pointers to deleted files; fail loudly instead (the
      // caller re-reads history and decides, same as losing commitIf).
      require(baseNums.contains(m),
        s"MultiStore at $root: manifest m=$m fell past the retention horizon " +
          "during restore (a concurrent commit pruned it) — aborting")
      touched.foreach { s =>
        target.get(s).foreach { v =>
          require(fs.exists(new org.apache.hadoop.fs.Path(versionDir(root, s, v))),
            s"MultiStore at $root: restore target $s/v=$v was swept by a " +
              "concurrent prune — aborting")
        }
      }
      (base -- touched) ++ touched.flatMap(s => target.get(s).map(s -> _))
    }
  }

  /** Commit `writes` as ONE snapshot: every data version lands first (each
    * in a fresh claimed dir, never touching live data), then a single
    * rename publishes the manifest that names them all plus every
    * unchanged store carried forward. Returns the committed snapshot.
    *
    * `bloom` names, per store, the columns to give a native parquet Bloom
    * filter (writer options `parquet.bloom.filter.enabled#<c>` and
    * `parquet.bloom.filter.expected.ndv#<c>`, sized by
    * [[BloomExpectedItems]]), stored in each data file beside its footer,
    * where [[readPrunedEq]] reads it. `stats` writes nothing: every parquet
    * footer already records min/max for every column, which is what
    * [[readPrunedRanges]] prunes by. A commit writes its data files and
    * the manifest, and no sidecar.
    */
  def commit(root: String, writes: Map[String, DataFrame], keep: Int = 2,
             pruneGraceMs: Long = DefaultPruneGraceMs,
             stats: Map[String, Seq[String]] = Map.empty,
             bloom: Map[String, Seq[String]] = Map.empty): Map[String, Long] =
    doCommit(root, writes, keep, pruneGraceMs, bloom, expected = Map.empty)

  /** Compare-and-swap commit — the conflict-DETECTING half a transaction
    * log adds over last-writer-wins: the commit publishes only if every
    * store in `expected` still resolves to the stated version (`None` =
    * "store must not exist yet") at publish time. A concurrent writer who
    * bumped one of those stores makes this commit throw
    * [[java.util.ConcurrentModificationException]] instead of silently
    * recommitting over the winner — the caller re-derives its writes from
    * the fresh snapshot and retries, which is exactly what read-modify-
    * write maintainers ([[deleteWhere]]) do. Stores NOT named in
    * `expected` are unconstrained; concurrent commits to DISJOINT stores
    * therefore rebase and land automatically (serializable at store
    * grain). Data written before a detected conflict is an unreferenced
    * version; the grace-window prune sweeps it like any dead orphan.
    */
  def commitIf(root: String, writes: Map[String, DataFrame],
               expected: Map[String, Option[Long]], keep: Int = 2,
               bloom: Map[String, Seq[String]] = Map.empty): Map[String, Long] =
    doCommit(root, writes, keep, DefaultPruneGraceMs, bloom, expected)

  private def casConflict(root: String, store: String, cur: Option[Long],
                          want: Option[Long]) =
    new java.util.ConcurrentModificationException(
      s"MultiStore at $root: store '$store' is at version " +
        s"${cur.fold("<absent>")(_.toString)}, expected " +
        s"${want.fold("<absent>")(_.toString)} — a concurrent commit won; " +
        "re-derive writes from the fresh snapshot and retry")

  private def doCommit(root: String, writes: Map[String, DataFrame], keep: Int,
                       pruneGraceMs: Long, bloom: Map[String, Seq[String]],
                       expected: Map[String, Option[Long]]): Map[String, Long] = {
    require(writes.nonEmpty, "MultiStore.commit: no stores to write")
    val spark = writes.head._2.sparkSession
    publish(spark, root, keep, pruneGraceMs) { (_, base) =>
      // 0. CAS validation — checked against every refreshed snapshot, so a
      // conflict that lands during a manifest-race retry is caught too;
      // the publish-time rename keeps the check authoritative (a conflict
      // arriving between here and the rename forces a retry, which
      // re-validates before trying again)
      expected.foreach { case (store, want) =>
        val cur = base.get(store)
        if (cur != want) throw casConflict(root, store, cur, want)
      }
      // 1. data first: claim + write a fresh immutable version per store
      base ++ writes.map { case (store, df) =>
        val storeRoot = s"${root.stripSuffix("/")}/$store"
        val (sfs, sp) = hfs(spark, storeRoot)
        if (!sfs.exists(sp)) sfs.mkdirs(sp)
        val existing = sfs.listStatus(sp).toSeq.map(_.getPath.getName)
          .collect { case s if s.startsWith("v=") => s.stripPrefix("v=").toLong }
        var next = (existing :+ base.getOrElse(store, -1L)).max + 1
        // AtomicFs.claim, not fs.create(overwrite=false): the local-FS
        // "exclusive" create is check-then-act, and two committers that
        // both claim one version number proceed to write the SAME v= dir —
        // the lost-update / _temporary-collision the concurrent-deleteWhere
        // race test caught before this went through O_EXCL.
        while (!AtomicFs.claim(sfs, new org.apache.hadoop.fs.Path(sp, s"_graft_claim_v=$next")))
          next += 1
        bloom.getOrElse(store, Nil)
          .foldLeft(df.write.mode(org.apache.spark.sql.SaveMode.Overwrite)) { (w, c) =>
            w.option(s"parquet.bloom.filter.enabled#$c", "true")
              .option(s"parquet.bloom.filter.expected.ndv#$c", BloomExpectedItems)
          }
          .parquet(versionDir(root, store, next))
        store -> next
      }
    }
  }

  /** The one manifest publish, shared by every commit verb and
    * [[restore]]. Each attempt lists the manifests ONCE and hands the
    * numbers and the head snapshot to `next`, which validates (it may
    * throw) and returns the snapshot to publish — a commit writes its data
    * versions first. The publish targets exactly head + 1: a concurrent
    * commit landing in between makes the install FAIL (name taken) and the
    * attempt repeats over the refreshed head, instead of publishing a
    * stale base on top of it. Re-reading the number at publish time is the
    * lost-update hole the concurrent-deleteWhere race test caught: a loser
    * that re-lists after the winner's publish gets a FRESH number,
    * installs cleanly, and silently rolls back every pointer the winner
    * advanced that this commit merely carried forward. A win prunes.
    */
  private def publish(spark: SparkSession, root: String, keep: Int, pruneGraceMs: Long)(
      next: (Seq[Long], Map[String, Long]) => Map[String, Long]): Map[String, Long] = {
    val (fs, rootP) = hfs(spark, root)
    if (!fs.exists(rootP)) fs.mkdirs(rootP)
    var attempts = 0
    while (true) {
      val baseNums = manifestNumbers(fs, rootP)
      val base     = baseNums.lastOption.map(readManifest(fs, rootP, _)).getOrElse(Map.empty[String, Long])
      val snap     = next(baseNums, base)
      val m        = baseNums.lastOption.getOrElse(-1L) + 1
      // tmp name must be unique PER COMMITTER, not just per (m, attempt):
      // two committers racing the same manifest number would share one tmp
      // file — the winner's publish consumes it out from under the loser
      val tmp = new org.apache.hadoop.fs.Path(rootP,
        s".manifest_attempt_${m}_${attempts}_${java.util.UUID.randomUUID().toString.take(8)}.tmp")
      val out = fs.create(tmp, true)
      try out.write(snap.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }
        .mkString("", "\n", "\n").getBytes("UTF-8"))
      finally out.close()
      // AtomicFs.publish, not fs.rename: local-FS rename's fail-if-exists
      // is an exists() check before rename(2) — two concurrent publishes
      // to one manifest name could BOTH report success, the second
      // silently replacing the first committer's manifest. The publish
      // must be a genuinely atomic install-iff-absent (link(2) locally,
      // native rename on HDFS), or the manifest race detection that the
      // whole retry/CAS story rests on has a hole exactly under contention.
      if (AtomicFs.publish(fs, tmp, new org.apache.hadoop.fs.Path(rootP, ManifestPrefix + m))) {
        prune(fs, rootP, root, keep, pruneGraceMs)
        return snap
      }
      // a concurrent committer took manifest m: retry over its snapshot
      attempts += 1
      if (attempts > 100)
        throw new IllegalStateException(
          s"MultiStore at $root: lost the manifest race $attempts times — live contention")
    }
    sys.error("unreachable")
  }

  /** A retrying committer re-claims a FRESH version on every attempt, so
    * its manifest, when it finally lands, never references a version a
    * concurrent pruner could have seen unreferenced. The one thing it
    * relies on (the retention floor): the gap between writing a data
    * version and publishing the manifest that references it must stay
    * inside this grace window, because a concurrent committer's prune
    * sweeps unreferenced versions only once their files are older than
    * the grace. 15 min covers any realistic write-to-publish gap; tests
    * pass 0 to make orphan sweeps immediate.
    */
  val DefaultPruneGraceMs: Long = 15 * 60 * 1000L

  /** Drop manifests beyond the last `keep` and any data version no
    * retained manifest references — REGARDLESS of version number: a
    * committer that lost the manifest race (or crashed after claiming and
    * writing) leaves an orphan version that may be numbered ABOVE every
    * retained reference, so a below-the-minimum sweep alone leaks it
    * forever (r10 ADVICE). The age guard (`graceMs`) is what keeps the
    * wider sweep safe: an IN-FLIGHT commit's freshly written version is
    * also unreferenced until its manifest rename lands, and is
    * distinguishable from a dead orphan only by file age.
    */
  private def prune(fs: org.apache.hadoop.fs.FileSystem,
                    rootP: org.apache.hadoop.fs.Path, root: String, keep: Int,
                    graceMs: Long): Unit = {
    val all      = manifestNumbers(fs, rootP)
    val retained = all.takeRight(keep)
    // References of the manifests being dropped, read BEFORE deleting them:
    // a version one of them names was PUBLISHED (it cannot be an in-flight
    // write), so once no retained manifest references it either, it is
    // sweepable immediately — the keep=N retention semantics. Versions no
    // manifest ever named are indistinguishable from a commit mid-publish
    // and get only the age-guarded sweep below.
    val droppedRefs: Map[String, Set[Long]] = all.dropRight(keep)
      .flatMap(m => readManifest(fs, rootP, m).toSeq)
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    all.dropRight(keep).foreach(m =>
      fs.delete(new org.apache.hadoop.fs.Path(rootP, ManifestPrefix + m), false))
    val referenced: Map[String, Set[Long]] = retained
      .flatMap(m => readManifest(fs, rootP, m).toSeq)
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val cutoff = System.currentTimeMillis() - graceMs
    fs.listStatus(rootP).toSeq.filter(_.isDirectory).foreach { st =>
      val store = st.getPath.getName
      referenced.get(store).foreach { keepVersions =>
        val superseded = droppedRefs.getOrElse(store, Set.empty)
        fs.listStatus(st.getPath).toSeq.foreach { entry =>
          val name = entry.getPath.getName
          // A dropped manifest's reference was committed — sweep it the
          // moment retention drops it. A version NO manifest ever named may
          // be a concurrent committer's write in flight (it claims its
          // number before any publish — the pre-r12 below-the-minimum
          // "nothing can be in-flight" shortcut was false exactly here: a
          // later committer can publish a HIGHER version while an earlier
          // claim is still writing, and an unguarded sweep then deletes the
          // write out from under its job), hence the age guard.
          def sweepable(v: Long, mtime: Long): Boolean =
            !keepVersions.contains(v) && (superseded.contains(v) || mtime < cutoff)
          if (name.startsWith("v=")) {
            val v = name.stripPrefix("v=").toLong
            if (sweepable(v, entry.getModificationTime)) {
              fs.delete(entry.getPath, true)
              val claim = new org.apache.hadoop.fs.Path(st.getPath, s"_graft_claim_v=$v")
              if (fs.exists(claim)) fs.delete(claim, false)
            }
          } else if (name.startsWith("_graft_claim_v=")) {
            // claim with no data dir: a committer died between claim and
            // write — same rules before reclaiming the name
            val v = name.stripPrefix("_graft_claim_v=").toLong
            if (sweepable(v, entry.getModificationTime) &&
                !fs.exists(new org.apache.hadoop.fs.Path(st.getPath, s"v=$v")))
              fs.delete(entry.getPath, false)
          }
        }
      }
    }
  }
}
