package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mutation / table-maintenance surface (SURVEY §2.11). No Delta in this
  * environment, so point mutations are expressed as the overwrite idioms
  * that Spark's commit protocol makes atomic: read -> transform ->
  * overwrite. At 100 TB the unit is a partition (overwrite only the
  * partitions whose rows changed — dynamic partition overwrite), never the
  * whole table; these helpers take and return DataFrames so the write
  * granularity stays the caller's choice.
  */
object Maintenance {

  /** M1: read-modify-write of entities matching a predicate. UPDATE ... WHERE
    * keeps rows whose predicate evaluates to NULL untouched, so the split is
    * on a null-safe predicate — filter(p) / filter(!p) would both reject
    * NULL rows and silently drop them from the table.
    */
  def updateWhere(table: DataFrame, predicate: Column, transform: DataFrame => DataFrame): DataFrame = {
    val hit = coalesce(predicate, lit(false))
    transform(table.filter(hit)).unionByName(table.filter(!hit))
  }

  /** M3: retention cleanup — drop rows older than the cutoff unless their
    * status is protected (sessions/manager.py:454-498).
    */
  def retentionSweep(
      table: DataFrame,
      ageCol: String,
      fallbackAgeCol: String,
      cutoff: Column,
      statusCol: String,
      protectedStatuses: Seq[String],
  ): DataFrame =
    table.filter(
      !(coalesce(col(ageCol), col(fallbackAgeCol)) < cutoff &&
        !col(statusCol).isin(protectedStatuses: _*)))

  /** M6: duplicate-key guard — true when (keys) already exist, the
    * pre-insert semi-join check (automations/manager.py:84-87).
    */
  def existsByKey(table: DataFrame, candidate: DataFrame, keys: Seq[String]): Boolean =
    !candidate.join(table, keys, "left_semi").isEmpty

  /** M8: delete-last-row per group (pop the transcript tail,
    * sessions/manager.py:293-325): drop the max-ordered row per key.
    */
  def deleteLastPerGroup(table: DataFrame, keyCol: String, orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(orderCols.map(_.desc): _*)
    table.withColumn("__rn", row_number().over(w)).filter(col("__rn") > 1).drop("__rn")
  }

  /** Upsert-by-overwrite (the MERGE substitute): rows in `updates` replace
    * same-key rows in `base`; everything else is kept. One shuffle on the
    * key; write back with dynamic partition overwrite at scale.
    */
  def upsert(base: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame =
    updates.unionByName(base.join(updates.select(keys.map(col): _*), keys, "left_anti"))

  /** The generic MERGE verb over a partitioned parquet table — as close to
    * Delta's `MERGE INTO` (whenMatched update-all / whenNotMatched
    * insert-all) as the no-transaction-log environment allows. The x35
    * affected-keys discipline generalized: only the partitions the batch
    * touches are READ (a typed IN filter on the partition column — the
    * scan shows `PartitionFilters`, never a full-table read) and only
    * those partitions are REWRITTEN (dynamic partition overwrite: the
    * written frame contains exactly the affected partitions, so Spark's
    * commit protocol swaps those directories and leaves every other
    * partition's files byte-untouched). A daily batch touching 1% of
    * partitions reads and rewrites 1% of the table — the 100 TB merge
    * pattern. Reference: the read-modify-write session update
    * (sessions/manager.py:502-525), whose grain — one file per entity —
    * becomes one partition per batch-day here.
    *
    * Contract: `batch` carries `partitionCol`, and a key's partition value
    * is STABLE (a key never moves partitions — the standard dimension
    * layout, partition derived from an immutable attribute). A key that
    * DID move would leave its old-partition row in place (this merge
    * never scans unaffected partitions, by design); key relocation is a
    * backfill over both partitions, not a merge — same boundary as
    * scd2Merge's append-only-per-key contract.
    *
    * Mechanics: the merged frame lands in a STAGING dir first (Spark
    * cannot — and must not — overwrite a path its own plan is lazily
    * reading), then each affected `part=value` directory swaps into the
    * table by a RECOVERABLE three-step: rename the live dir aside to a
    * `_graft_old_<part>` backup, rename the staging dir in, delete the
    * backup last. Backups are underscore-prefixed so Spark's partition
    * discovery never sees them. A crash at ANY point leaves a state the
    * entry-time recovery scan repairs before the next merge reads the
    * table: a backup with no live dir rolls back (crash landed between
    * the two renames), a backup beside a live dir is dropped (swap
    * completed, cleanup didn't). Across CRASH AND RECOVERY every
    * partition is therefore fully old or fully new, and re-running the
    * same merge after any crash is safe and idempotent. This is a
    * crash-recovery guarantee, NOT reader snapshot isolation: a reader
    * scanning concurrently with a live merge can catch the instant
    * between the two renames and silently miss that partition's rows.
    * Readers that must be isolated from in-place swaps read through
    * [[graft.sources.MultiStore]] (manifest snapshots) instead.
    *
    * Concurrency: a `_graft_merge_lock` marker (exclusive create, deleted
    * on commit) makes a second concurrent merge FAIL LOUDLY instead of
    * interleaving partition swaps. A crash leaves the lock behind by
    * design — the failure message names it, and a re-run with
    * `takeoverLock = true` (after confirming no live writer) reclaims it
    * and runs the recovery scan.
    *
    * Contract: `partitionCol` values must be non-null — `partitionBy`
    * would route null rows to Hive's default-partition dir, outside the
    * `part=value` swap set, silently dropping them. The driver-side
    * distinct already in hand makes this check free, so merge FAILS FAST
    * on a null partition value instead.
    *
    * Returns the affected partition values (metadata-class: bounded by
    * the partition count, the same collect class as AQE's own statistics
    * and the x27 shard list).
    */
  def merge(
      spark: SparkSession,
      tablePath: String,
      batch: DataFrame,
      keys: Seq[String],
      partitionCol: String,
      takeoverLock: Boolean = false,
  ): Seq[Any] = {
    val tableP = new org.apache.hadoop.fs.Path(tablePath)
    val fs     = tableP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    acquireMergeLock(fs, tableP, takeoverLock)
    try {
      recoverSwaps(fs, tableP)
      val parts: Seq[Any] = batch.select(col(partitionCol)).distinct()
        .collect().map(_.get(0)).toSeq
      require(
        !parts.contains(null),
        s"merge: batch contains NULL $partitionCol values — partitionBy would " +
          "stage them under the Hive default partition, outside the swap set; " +
          "null partition keys are not mergeable")
      val affected = spark.read.parquet(tablePath)
        .filter(col(partitionCol).isin(parts: _*))
      // Explicit schema contract (r10): a batch missing table columns
      // cannot express whenMatched-update-ALL — and a batch carrying NEW
      // columns would have them silently dropped by the projection below,
      // which is data loss wearing a success exit code. Schema evolution
      // on a parquet-only table is a full-table rewrite (every untouched
      // partition's footers lack the column), not a merge — fail fast
      // with the exact column sets instead.
      val missing = affected.columns.toSet -- batch.columns.toSet
      val extra   = batch.columns.toSet -- affected.columns.toSet
      require(missing.isEmpty && extra.isEmpty,
        s"merge: batch schema differs from table schema — missing ${missing.toSeq.sorted
          .mkString("[", ",", "]")}, extra ${extra.toSeq.sorted.mkString("[", ",", "]")}; " +
          "schema evolution is a full-table rewrite, not a merge")
      val merged = upsert(affected, batch.select(affected.columns.map(col): _*), keys)
      val staging = tablePath.stripSuffix("/") + "__merge_tmp"
      // r16 (guide §6 small files): partitionBy straight off the upsert's
      // shuffle parallelism wrote one file per (task x partition-value) —
      // measured ~3 files per dir, 238 total on m9's 80-month workload —
      // paying per-file commit on the write AND per-file open on every
      // read-back. Clustering by the partition column first makes each
      // affected partition ONE task -> ONE file; at 100 TB this is the
      // standard hash write-distribution for a partitioned staging write
      // (a single partition bigger than one task should hold would add a
      // within-partition salt, which month-grain merges don't need).
      merged.repartition(col(partitionCol))
        .write.mode(SaveMode.Overwrite).partitionBy(partitionCol).parquet(staging)
      // swap by directory NAME (partitionBy's own value encoding): rename
      // the live dir aside, rename staging in, drop the backup last
      fs.listStatus(new org.apache.hadoop.fs.Path(staging)).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(partitionCol + "="))
        .foreach { s =>
          val name   = s.getPath.getName
          val dst    = new org.apache.hadoop.fs.Path(tableP, name)
          val backup = new org.apache.hadoop.fs.Path(tableP, BackupPrefix + name)
          if (fs.exists(dst) && !fs.rename(dst, backup))
            throw new java.io.IOException(s"could not set aside partition $name")
          if (!fs.rename(s.getPath, dst))
            throw new java.io.IOException(s"could not swap partition $name")
          fs.delete(backup, true)
        }
      fs.delete(new org.apache.hadoop.fs.Path(staging), true)
      parts
    } finally fs.delete(new org.apache.hadoop.fs.Path(tableP, MergeLock), false)
  }

  private val MergeLock    = "_graft_merge_lock"
  private val BackupPrefix = "_graft_old_"

  private def acquireMergeLock(
      fs: org.apache.hadoop.fs.FileSystem,
      tableP: org.apache.hadoop.fs.Path,
      takeover: Boolean,
  ): Unit = {
    val lock = new org.apache.hadoop.fs.Path(tableP, MergeLock)
    if (takeover) fs.delete(lock, false)
    // AtomicFs.claim: local-FS exclusive create is check-then-act (see
    // AtomicFs scaladoc) — two concurrent merges could both "acquire"
    if (!graft.sources.AtomicFs.claim(fs, lock))
      throw new IllegalStateException(
        s"merge lock held at $lock — another merge may be in flight; re-run " +
          "with takeoverLock=true only after confirming no live writer")
  }

  /** Repair a crashed swap before touching the table: a `_graft_old_<part>`
    * backup with no live `<part>` dir means the crash landed between the
    * set-aside and the swap-in — roll the backup back; a backup BESIDE a
    * live dir means the swap committed and only cleanup was lost — drop it.
    */
  private def recoverSwaps(
      fs: org.apache.hadoop.fs.FileSystem,
      tableP: org.apache.hadoop.fs.Path,
  ): Unit = {
    if (!fs.exists(tableP)) return
    fs.listStatus(tableP).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(BackupPrefix))
      .foreach { b =>
        val live = new org.apache.hadoop.fs.Path(tableP, b.getPath.getName.stripPrefix(BackupPrefix))
        if (!fs.exists(live)) {
          if (!fs.rename(b.getPath, live))
            throw new java.io.IOException(s"could not roll back crashed swap for $live")
        } else fs.delete(b.getPath, true)
      }
  }

  /** Compaction: rewrite a path with a target file count — the OPTIMIZE
    * substitute for append-heavy tables (small-file problem at scale).
    *
    * Same recoverable swap as [[merge]] (the r10 hardening): the live dir
    * is renamed aside to a sibling `__compact_old`, the compacted copy
    * renamed in, the backup dropped last — and a leftover backup from a
    * crashed run is rolled back (no live dir) or discarded (live dir
    * present) on entry. The r9 delete-then-rename form had a window where
    * a crash left NO readable table at `path` while the only good copy
    * sat in the tmp dir readers never look at.
    *
    * Serializes with [[merge]] on the SAME `_graft_merge_lock` (r10
    * ADVICE: an unlocked compact concurrent with a merge could interleave
    * directory renames on one table). The lock file is written into the
    * compacted copy before the swap so it is held continuously across the
    * rename; a crash leaves it behind by design, and `takeoverLock = true`
    * (after confirming no live writer) reclaims it — the same escape
    * hatch as merge. Because the crashed-rollback path restores the lock
    * along with the data, recovery from a crashed compact ALWAYS requires
    * the takeover flag: loud beats silently assuming the writer is dead.
    */
  def compact(spark: SparkSession, path: String, targetFiles: Int,
              takeoverLock: Boolean = false): Unit = {
    val dst    = new org.apache.hadoop.fs.Path(path)
    val fs     = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val backup = new org.apache.hadoop.fs.Path(path.stripSuffix("/") + "__compact_old")
    // Roll back a crashed swap BEFORE acquiring the lock: acquisition
    // would otherwise create the (empty) table dir and make the backup
    // look like completed-swap leftovers.
    if (fs.exists(backup) && !fs.exists(dst)) {
      if (!fs.rename(backup, dst))
        throw new java.io.IOException(s"could not roll back crashed compaction of $path")
    }
    acquireMergeLock(fs, dst, takeoverLock)
    try {
      recoverSwaps(fs, dst)
      if (fs.exists(backup)) fs.delete(backup, true)
      val df  = spark.read.parquet(path)
      val tmp = new org.apache.hadoop.fs.Path(path.stripSuffix("/") + "__compact_tmp")
      df.coalesce(targetFiles).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      // carry the held lock into the copy so the swap never exposes an
      // unlocked live dir to a concurrent merge's exclusive-create
      fs.create(new org.apache.hadoop.fs.Path(tmp, MergeLock), false).close()
      if (!fs.rename(dst, backup))
        throw new java.io.IOException(s"could not set aside $path for compaction")
      if (!fs.rename(tmp, dst))
        throw new java.io.IOException(s"could not swap compacted copy into $path")
      fs.delete(backup, true)
    } finally fs.delete(new org.apache.hadoop.fs.Path(dst, MergeLock), false)
    ()
  }
}
