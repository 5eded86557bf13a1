package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.MultiStore

import scala.collection.mutable

/** `ingest`: micro-batch appends beside reads on one MultiStore root, one
  * client. The benchmark generates `events`-schema batches in its own
  * process and appends each the way the streaming sink does (live data ∪
  * batch, committed with `commitBatch` and its batch-id marker). Work comes
  * in rounds of 1600 rows split into one small (50-150 rows) and one large
  * batch in seeded order, so every round commits the same number of rows;
  * the timed loop runs whole rounds. A seeded tenth of the batches is delivered a
  * second time and must be refused. Each round ends with a retention
  * delete of the keys past the newest 15000 and a compaction that folds
  * the delete set in and OPTIMIZEs the store (range-clustered, zone maps,
  * Bloom sketches on `user_id`), so the live size levels off. After each
  * commit and after the compaction six reads run on keys drawn from the
  * seed, two of each kind: after a commit merged point reads, zone-map
  * range reads and time-travel reads of the previous manifest; after the
  * compaction merged point reads, range reads and Bloom point reads of the
  * freshly sketched version. The generator keeps every row it appended, so each read is
  * checked against the rows that must exist.
  */
final class Ingest(seed: Long) extends Workload {

  override val latencyKind = "read"

  val BaseRows      = 20000
  val RetainRows    = 15000L
  val Users         = 1500
  val RoundRows     = 1600
  val Keep          = 3
  val Stats         = Map("events" -> Seq("event_id"))

  private var spark: SparkSession = _
  private var root: String        = _
  private val rnd                 = new scala.util.Random(seed)

  // The generator's model: every row ever appended, by id.
  private val userOf  = mutable.ArrayBuffer.empty[Long]
  private val valueOf = mutable.ArrayBuffer.empty[Double]
  private val bytesOf = mutable.ArrayBuffer.empty[Int]
  private var nextId  = 0L
  private var cutoff  = 0L // ids below are deleted
  private var physLow = 0L // ids below are gone from the data files
  private var batchId = 0L
  private val physCountAt = mutable.Map.empty[Long, Long]

  private var committedRows = 0.0
  private var replays       = 0L
  private var rejected      = 0L
  private var bytesWritten  = 0.0
  private var filesWritten  = 0.0
  private var compactBytes  = 0.0
  // counts taken only while tracing
  private var tracedCommits     = 0L
  private var tracedCompactions = 0L
  private var tracedReads       = 0L
  private var readFiles         = 0.0
  private var commitUserBytes   = 0.0

  def work: Double = committedRows

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Appends `n` new rows to the model and returns them as a frame. */
  private def newRows(n: Int): (DataFrame, Double) = {
    var bytes = 0.0
    val rows = (0 until n).map { _ =>
      val id    = nextId
      val user  = rnd.nextInt(Users).toLong
      val value = math.round(-math.log1p(-rnd.nextDouble()) * 5000.0) / 100.0
      val kind  = Gen.EventTypes(rnd.nextInt(Gen.EventTypes.size))
      val props = s"""{"k": ${rnd.nextInt(100)}}"""
      // user bytes of a row: four 8-byte fields plus its two strings
      val b = 8 * 4 + kind.length + props.length
      userOf += user
      valueOf += value
      bytesOf += b
      nextId += 1
      bytes += b
      Row(id, new java.sql.Timestamp((Gen.EventsEpochMicros / 1000) + id * 1000L), user, kind,
        value, props)
    }
    (spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema), bytes)
  }

  private def lastManifest: Long = MultiStore.manifests(spark, root).last

  private def recordManifest(): Unit = physCountAt(lastManifest) = nextId - physLow

  /** Batches are generated as the loop runs; nothing to prepare. */
  def generate(s: SparkSession, d: String): Unit = ()

  /** Commits the base table (zone maps and Bloom sketches) to a new root. */
  def setup(s: SparkSession, d: String, scratch: String): Unit = {
    spark = s
    root = s"$scratch/store"
    val (base, _) = newRows(BaseRows)
    MultiStore.commit(root, Map("events" -> base), keep = Keep, stats = Stats,
      bloom = Map("events" -> Seq("user_id")))
    recordManifest()
  }

  /** Bytes and files under the root modified at or after `sinceMs`. */
  private def created(sinceMs: Long): (Double, Double) = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try {
      val fs = scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator()).asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          java.nio.file.Files.getLastModifiedTime(p).toMillis >= sinceMs)
        .map(java.nio.file.Files.size).toSeq
      (fs.sum.toDouble, fs.size.toDouble)
    } finally s.close()
  }

  private def commit(run: Run, n: Int): Unit = {
    val (batch, bytes) = newRows(n)
    batchId += 1
    val id = batchId
    run.op("commit", "commit") {
      val t0 = System.currentTimeMillis() - 1
      val applied = Trace.span("MultiStore.commit") {
        val merged = MultiStore.read(spark, root, "events").unionByName(batch)
        MultiStore.commitBatch(root, "ingest", id, Map("events" -> merged), keep = Keep,
          stats = Stats)
      }
      if (Trace.enabled) {
        val (b, f) = created(t0)
        bytesWritten += b; filesWritten += f; commitUserBytes += bytes; tracedCommits += 1
      }
      applied
    }
    committedRows += n
    recordManifest()
    if (rnd.nextDouble() < 0.1) {
      replays += 1
      run.op("replay", "commit") {
        val again = Trace.span("MultiStore.commit") {
          MultiStore.commitBatch(root, "ingest", id,
            Map("events" -> MultiStore.read(spark, root, "events").unionByName(batch)),
            keep = Keep, stats = Stats)
        }
        if (!again) rejected += 1
        !again
      }
    }
  }

  private def delete(run: Run): Unit = {
    val c = math.max(cutoff, nextId - RetainRows)
    run.op("delete", "maintain") {
      Trace.span("MultiStore.delete") {
        MultiStore.deleteWhere(spark, root, "events", col("event_id") < c, Seq("event_id"),
          keep = Keep)
      }
      true
    }
    cutoff = c
    recordManifest()
  }

  private def compact(run: Run): Unit = {
    run.op("compact", "maintain") {
      val t0 = System.currentTimeMillis() - 1
      Trace.span("MultiStore.compact") {
        MultiStore.compactDeletes(spark, root, "events", keep = Keep, stats = Stats)
        physLow = cutoff
        recordManifest()
        MultiStore.optimize(spark, root, "events", targetFiles = 4, clusterBy = Seq("event_id"),
          stats = Seq("event_id"), bloom = Seq("user_id"), keep = Keep)
      }
      if (Trace.enabled) { compactBytes += created(t0)._1; tracedCompactions += 1 }
      true
    }
    recordManifest()
  }

  private def ids(rows: Array[Row]): Seq[Long] = rows.map(_.getLong(0)).toSeq.sorted

  private def physIds(p: Long => Boolean): Seq[Long] = (physLow until nextId).filter(p)

  private def read(run: Run, kind: String): Unit = {
    def fetch(name: String, df: => DataFrame)(check: Array[Row] => Boolean): Unit =
      run.op(name, "read") {
        val rows = Trace.span("MultiStore.read") {
          val d = df
          if (Trace.enabled) { readFiles += d.inputFiles.length; tracedReads += 1 }
          d.collect()
        }
        Trace.count("rows_out", rows.length)
        check(rows)
      }
    if (kind == "point") {
      // point read of a key the generator knows: live (one row, its values)
      // or expired (no row)
      val id = if (rnd.nextDouble() < 0.9) cutoff + (rnd.nextDouble() * (nextId - cutoff)).toLong
               else (rnd.nextDouble() * math.max(1L, cutoff)).toLong
      fetch("point_read", MultiStore.readMerged(spark, root, "events")
          .filter(col("event_id") === id).select("event_id", "user_id", "value")) { rows =>
        if (id >= cutoff) rows.length == 1 && rows(0).getLong(1) == userOf(id.toInt) &&
          rows(0).getDouble(2) == valueOf(id.toInt)
        else rows.isEmpty
      }
    } else if (kind == "range") {
      val lo = physLow + (rnd.nextDouble() * (nextId - physLow)).toLong
      val hi = lo + 200
      fetch("range_read", MultiStore.readPruned(spark, root, "events", "event_id", lit(lo),
          lit(hi)).select("event_id")) { rows =>
        ids(rows) == physIds(i => i >= lo && i <= hi)
      }
    } else if (kind == "bloom") {
      val user = rnd.nextInt(Users).toLong
      fetch("bloom_read", MultiStore.readPrunedEq(spark, root, "events", "user_id", lit(user))
          .select("event_id")) { rows =>
        ids(rows) == physIds(i => userOf(i.toInt) == user)
      }
    } else {
      val ms = MultiStore.manifests(spark, root)
      val m  = ms(ms.size - 2)
      fetch("time_travel_read", MultiStore.readAt(spark, root, "events", m)
          .agg(count(lit(1)))) { rows =>
        rows(0).getLong(0) == physCountAt(m)
      }
    }
  }

  /** One round: a small and a large batch in seeded order, each commit
    * (and possible re-delivery) followed by its reads, then retention and
    * compaction, followed by reads of the freshly optimized version.
    */
  private def round(run: Run): Unit = {
    val small = 50 + rnd.nextInt(101)
    val sizes = if (rnd.nextBoolean()) Seq(small, RoundRows - small) else Seq(RoundRows - small, small)
    def reads(kinds: String*): Unit =
      rnd.shuffle(kinds ++ kinds).foreach(read(run, _))
    sizes.foreach { n =>
      commit(run, n)
      reads("point", "range", "time_travel")
    }
    delete(run)
    compact(run)
    reads("point", "range", "bloom")
  }

  def warm(run: Run): Unit = round(run)

  val unitSeconds = 11.0

  def unit(run: Run): Unit = round(run)

  def finish(run: Run): Unit = {
    run.check("final_live_rows", {
      val got = ids(MultiStore.readMerged(spark, root, "events").select("event_id").collect())
      got == (cutoff until nextId)
    })
    run.check("replays_rejected", rejected == replays)
  }

  /** Bytes on disk under the root ÷ bytes of the live user rows. */
  def storedPerUserByte: Double = {
    val live = (cutoff until nextId).map(i => bytesOf(i.toInt).toDouble).sum
    Main.treeBytes(java.nio.file.Paths.get(root)) / live
  }

  override def layerMetrics: Map[String, Double] = Map(
    "MultiStore.write_amp" -> bytesWritten / math.max(1.0, commitUserBytes),
    "MultiStore.files_written" -> filesWritten / math.max(1L, tracedCommits),
    "MultiStore.commits" -> tracedCommits.toDouble,
    "MultiStore.replays_rejected" -> rejected.toDouble,
    "MultiStore.files_per_lookup" -> readFiles / math.max(1L, tracedReads),
    "MultiStore.compact_bytes_rewritten" -> compactBytes / math.max(1L, tracedCompactions),
    "MultiStore.stored_bytes_per_user_byte" -> storedPerUserByte)

  override def info: Map[String, Double] = Map(
    "stored_bytes_per_user_byte" -> storedPerUserByte,
    "replays" -> replays.toDouble, "replays_rejected" -> rejected.toDouble)
}
