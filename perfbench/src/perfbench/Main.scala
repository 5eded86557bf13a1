package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One workload of the benchmark: a closed loop with one client. */
trait Workload {
  /** Generates this workload's inputs under `dir`. */
  def generate(spark: SparkSession, dir: String): Unit
  /** The engine-side set-up over the inputs in `dir`; state it creates
    * goes under `scratch`.
    */
  def setup(spark: SparkSession, dir: String, scratch: String): Unit
  /** Untimed pass that runs every operation once and checks its output. */
  def warm(run: Run): Unit
  /** Seconds one unit of work (a curation pass, an ingest round) takes on
    * a 4-core reference box.
    */
  val unitSeconds: Double
  /** Runs one whole unit of timed operations. */
  def unit(run: Run): Unit
  /** Final output checks after the timed loop. */
  def finish(run: Run): Unit
  /** Units of work completed (documents, user rows). */
  def work: Double
  /** The latency kind `latency_p50_s` reports (curation passes, ingest reads). */
  val latencyKind: String
  /** Workload-specific layer metrics for the traced run. */
  def layerMetrics: Map[String, Double] = Map.empty
  /** Workload-specific figures for the info line. */
  def info: Map[String, Double] = Map.empty
}

/** Counts, latencies and failures of one run. */
final class Run {
  var attempted = 0L
  var failed    = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  /** Latencies of the timed loop, by operation kind. */
  val latencies: mutable.Map[String, mutable.ArrayBuffer[Double]] = mutable.Map.empty
  /** Latencies of the timed loop, by operation name. */
  val byName: mutable.Map[String, mutable.ArrayBuffer[Double]] = mutable.Map.empty
  /** Seconds the timed loop spent in [[check]]: benchmark-side work that is
    * taken out of the window.
    */
  var checkSeconds = 0.0
  var timing = false

  /** Runs one operation: counts it, times it when the timed loop is on,
    * and counts an exception or a false check as a failure.
    */
  def op(name: String, kind: String = "op")(body: => Boolean): Unit = {
    attempted += 1
    Trace.op += 1
    val t0 = System.nanoTime()
    val ok =
      try Trace.span("op") { body }
      catch {
        case e: Throwable =>
          fail(s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
          true // already counted
      }
    if (timing) {
      val dt = (System.nanoTime() - t0) / 1e9
      sample(kind, dt)
      byName.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += dt
    }
    if (!ok) fail(s"$name: wrong output")
  }

  /** Records a latency of `kind` measured by the workload itself. */
  def sample(kind: String, seconds: Double): Unit =
    if (timing) latencies.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += seconds

  def fail(msg: String): Unit = {
    failed += 1
    failures += msg
    System.err.println(s"perfbench: FAILED $msg")
  }

  /** Records an output check of the benchmark's own (digests, final
    * state): untimed, and traced as a `check` span outside every layer.
    */
  def check(name: String, ok: => Boolean): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    val good = try Trace.span("check")(ok) catch { case e: Throwable =>
      fail(s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"); true }
    if (timing) checkSeconds += (System.nanoTime() - t0) / 1e9
    if (!good) fail(s"$name: wrong output")
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c    => c.toString
    } + "\""
}

object Stats {
  def quantile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = p * (s.size - 1)
      val lo  = math.floor(pos).toInt
      val hi  = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest of the usual percentiles with at least ten samples beyond
    * it; the median when there are fewer than twenty samples.
    */
  def tailPercentile(n: Int): Double =
    Seq(0.999, 0.99, 0.95, 0.9, 0.8, 0.75).find(p => n * (1 - p) >= 10 - 1e-9).getOrElse(0.5)
}

/** Entry point: `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --root <scratch dir> --cores <n> --expected <dir> [--trace-out <file>]
  * [--emit <file>]`. Prints info lines and, last, the result line, each
  * prefixed for `run.py`. `--emit` writes the digests the warm-up pass saw
  * instead of checking them (how `expected/` is produced).
  */
object Main {

  /** Every per-layer metric with its unit; a layer a workload never enters
    * reads 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "SparkEntry.build_s" -> "s",
    "catalyst.analysis_s" -> "s", "catalyst.optimize_s" -> "s", "catalyst.plan_s" -> "s",
    "catalyst.executions" -> "count",
    "exec.jobs" -> "count", "exec.tasks" -> "count", "exec.task_run_s" -> "s",
    "exec.task_cpu_s" -> "s", "exec.task_gc_s" -> "s", "exec.shuffle_write_bytes" -> "B",
    "exec.shuffle_read_bytes" -> "B", "exec.spill_bytes" -> "B", "exec.input_bytes" -> "B",
    "exec.rows_in_per_row_out" -> "ratio", "exec.scheduler_wait_s" -> "s",
    "TextAnalysis.s" -> "s", "Dedup.s" -> "s", "GraphOps.s" -> "s", "Curation.s" -> "s",
    "Similarity.s" -> "s",
    "Checkpoints.sweep_s" -> "s", "Checkpoints.stored_bytes" -> "B",
    "jvm.gc_s" -> "s", "jvm.heap_live_mb" -> "MB",
    "MultiStore.commit_s" -> "s", "MultiStore.commits" -> "count",
    "MultiStore.write_amp" -> "ratio", "MultiStore.files_written" -> "count",
    "MultiStore.replays_rejected" -> "count",
    "MultiStore.read_s" -> "s", "MultiStore.files_per_lookup" -> "count",
    "MultiStore.rows_scanned_per_row_returned" -> "ratio",
    "MultiStore.delete_s" -> "s", "MultiStore.compact_s" -> "s",
    "MultiStore.compact_bytes_rewritten" -> "B",
    "MultiStore.stored_bytes_per_user_byte" -> "ratio",
    "trace.overhead_s" -> "s")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (opt.contains("train")) return train(opt("root"), opt("cores").toInt)
    val workload = opt("workload")
    val seed     = opt("seed").toLong
    val seconds  = opt("seconds").toDouble
    val trace    = opt.getOrElse("trace", "0") == "1"
    val root     = opt("root")
    val cores    = opt("cores").toInt
    val emit     = opt.get("emit")
    // process start on the nanoTime clock
    val procStart = System.nanoTime() - (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    def since(t: Long): Double = (System.nanoTime() - t) / 1e9

    val wl: Workload = workload match {
      case "curation" => new Curation(seed, s"${opt("expected")}/curation.tsv", emit)
      case "ingest"   => new Ingest(seed)
      case other      => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val run = new Run
    val heap = new HeapPeak

    // Set-up: everything from process start to the first timed operation,
    // i.e. JVM start, the Spark session, the generator, the workload's
    // engine-side set-up and an untimed warm-up pass that runs every
    // operation once and checks its output.
    val jvmS = since(procStart)
    val spark = graft.Graft.session(s"local[$cores]", cores)
    spark.sparkContext.setLogLevel("ERROR")
    // unpersisting a localCheckpointed RDD warns once per block
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)
    val sessionS = since(procStart)
    val inputs = s"$root/inputs"
    wl.generate(spark, inputs)
    val generatedS = since(procStart)
    wl.setup(spark, inputs, s"$root/state")
    val setUpS = since(procStart)
    wl.warm(run)
    sweep(spark)
    val setupS = since(procStart)

    // The timed loop runs a fixed number of whole units, as many as fit in
    // the window on the reference box, so every run does the same work
    // whatever the host's speed. A traced run splits the window in three:
    // untraced, traced, untraced; the traced third's mean latency minus the
    // mean of the untraced thirds' is the tracing overhead, free of the
    // warm-up trend across the run.
    val window = if (trace) seconds / 3 else seconds
    val units  = math.max(1, math.floor(window / wl.unitSeconds + 1e-9).toInt)
    val unitS = mutable.ArrayBuffer.empty[Double] // each unit's seconds, in order
    /** (engine seconds, work done, latencies of the latency kind) */
    def timedWindow(): (Double, Double, Seq[Double]) = {
      run.latencies.clear()
      run.byName.clear()
      run.checkSeconds = 0.0
      run.timing = true
      val w0 = wl.work
      val t0 = System.nanoTime()
      (0 until units).foreach { _ =>
        val c0 = run.checkSeconds
        val u0 = System.nanoTime()
        wl.unit(run)
        unitS += since(u0) - (run.checkSeconds - c0)
      }
      val el = since(t0) - run.checkSeconds
      run.timing = false
      (el, wl.work - w0, run.latencies.getOrElse(wl.latencyKind, Nil).toSeq)
    }
    val (elapsed, work, lat) = timedWindow()
    // a unit's time with every operation at its median latency over the
    // window: a host slow-down that hits a minority of the window's calls
    // of each operation leaves it unchanged
    val unitAtMedians = run.byName.values.map(v => Stats.median(v.toSeq) * v.size).sum / units
    val allLat = run.latencies.map { case (k, v) => k -> v.toSeq }.toMap
    val byName = run.byName.toSeq.sortBy(_._1).map { case (k, v) =>
      Json.str(k) + ":" + Json.num(Stats.median(v.toSeq)) }.mkString("{", ",", "}")
    heap.sample()

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val info    = mutable.LinkedHashMap.empty[String, String]
    info ++= Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "spark_master" -> Json.str(spark.sparkContext.master),
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "spark_version" -> Json.str(spark.version),
      // set-up phases, each in seconds since process start
      "setup_main_entered_s" -> Json.num(jvmS), "setup_session_ready_s" -> Json.num(sessionS),
      "setup_generated_s" -> Json.num(generatedS), "setup_engine_ready_s" -> Json.num(setUpS),
      "setup_warmed_s" -> Json.num(setupS),
      "units" -> units.toString, "window_s" -> Json.num(elapsed),
      "unit_s" -> unitS.map(Json.num).mkString("[", ",", "]"),
      "unit_at_medians_s" -> Json.num(unitAtMedians),
      "latency_kind" -> Json.str(wl.latencyKind))
    allLat.toSeq.sortBy(_._1).foreach { case (k, v) =>
      val tailP = Stats.tailPercentile(v.size)
      info += s"${k}_count" -> v.size.toString
      info += s"${k}_p50_s" -> Json.num(Stats.median(v))
      info += s"${k}_tail_s" -> Json.num(Stats.quantile(v, tailP))
      info += s"${k}_tail_percentile" -> Json.num(tailP)
      info += s"${k}_tail_samples_beyond" -> Json.num(math.floor(v.size * (1 - tailP) + 1e-9))
    }
    info += "p50_s_by_op" -> byName

    if (!trace) {
      wl.finish(run)
      metrics ++= Seq(
        "setup_s" -> (setupS, "s"),
        "work_per_s" -> (work / units / unitAtMedians, "1/s"),
        "latency_p50_s" -> (Stats.median(lat), "s"),
        "heap_live_peak_mb" -> (heap.peakMb, "MB"))
    } else {
      def mean(xs: Seq[Double]): Double = xs.sum / math.max(1, xs.size)
      Trace.start(spark)
      val gc0 = gcSeconds
      val (el2, _, lat2) = timedWindow()
      val gcTraced = gcSeconds - gc0
      heap.sample()
      Trace.stop()
      val (_, _, lat3) = timedWindow()
      wl.finish(run)
      opt.get("trace-out").foreach(Trace.write)
      val spans = Trace.spans.toSeq
      val self  = Trace.selfSeconds
      val ops   = math.max(1, spans.count(_.name == "op"))
      // the benchmark's own checks are no layer's work
      val layerSpans = spans.filterNot(_.name == "check")
      def tot(k: String, in: Seq[Trace.Span] = layerSpans): Double = in.map(_.counters(k)).sum
      def named(n: String): Seq[Trace.Span] = spans.filter(_.name == n)
      def selfOf(n: String): Double = named(n).map(s => self(s.id)).sum
      def perCall(n: String): Double = named(n).map(_.seconds).sum / math.max(1, named(n).size)
      val v = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      v("SparkEntry.build_s") = named("SparkEntry.build").map(_.seconds).sum / ops
      Seq("catalyst.analysis_s", "catalyst.optimize_s", "catalyst.plan_s", "catalyst.executions",
        "exec.jobs", "exec.tasks", "exec.task_run_s", "exec.task_cpu_s", "exec.task_gc_s",
        "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes",
        "exec.input_bytes", "exec.scheduler_wait_s").foreach(k => v(k) = tot(k) / ops)
      v("exec.rows_in_per_row_out") = tot("exec.rows_in") / math.max(1.0, tot("rows_out", spans))
      Seq("TextAnalysis", "Dedup", "GraphOps", "Curation", "Similarity")
        .foreach(l => v(s"$l.s") = selfOf(l) / ops)
      v("Checkpoints.sweep_s") = selfOf("Checkpoints.sweep") / ops
      v("Checkpoints.stored_bytes") =
        tot("checkpoint_bytes") / math.max(1, named("Checkpoints.sweep").size)
      v("jvm.gc_s") = gcTraced / ops
      v("jvm.heap_live_mb") = heap.lastMb
      v("MultiStore.commit_s") = perCall("MultiStore.commit")
      v("MultiStore.read_s") = perCall("MultiStore.read")
      v("MultiStore.delete_s") = perCall("MultiStore.delete")
      v("MultiStore.compact_s") = perCall("MultiStore.compact")
      val readSpans = named("MultiStore.read")
      v("MultiStore.rows_scanned_per_row_returned") =
        tot("exec.rows_in", readSpans) / math.max(1.0, tot("rows_out", readSpans))
      v ++= wl.layerMetrics
      v("trace.overhead_s") = mean(lat2) - (mean(lat) + mean(lat3)) / 2
      PerLayer.foreach { case (k, u) => metrics += k -> (v(k), u) }
      info += "traced_op_wall_s" -> Json.num(el2 / ops)
      printLayerTable(spans, self, ops, el2)
    }
    wl.info.foreach { case (k, x) => info += k -> Json.num(x) }
    info += "failed_frac" -> Json.num(run.failed.toDouble / math.max(1L, run.attempted))
    sweep(spark)
    spark.stop()

    println("PERFBENCH_INFO " + info.map { case (k, x) => Json.str(k) + ":" + x }.mkString("{", ",", "}"))
    run.failures.foreach(f => println("PERFBENCH_FAILURE " + Json.str(f)))
    val ms = metrics.map { case (k, (x, u)) =>
      Json.str(k) + ":{\"value\":" + Json.num(x) + ",\"unit\":" + Json.str(u) + "}" }
    println("PERFBENCH_RESULT {\"correct\":" + (run.failed == 0) + ",\"attempted\":" +
      run.attempted + ",\"failed\":" + run.failed + ",\"metrics\":" + ms.mkString("{", ",", "}") + "}")
  }

  /** A short pass over code paths both workloads load, run once per build
    * to record the JVM's class-data-sharing archive (see run.py).
    */
  def train(root: String, cores: Int): Unit = {
    val spark = graft.Graft.session(s"local[$cores]", cores)
    spark.sparkContext.setLogLevel("ERROR")
    Gen.documents(spark, s"$root/cur", 200, 1L, 1L, cores)
    val docs = spark.read.parquet(s"$root/cur/documents.parquet")
    graft.operators.GraphOps.connectedComponents(
      graft.operators.Dedup.simhashPairs(docs).selectExpr("doc_a AS src", "doc_b AS dst"), spark)
      .collect()
    graft.sources.MultiStore.commit(s"$root/store", Map("d" -> docs), stats = Map("d" -> Seq("doc_id")))
    graft.sources.MultiStore.readPruned(spark, s"$root/store", "d", "doc_id",
      org.apache.spark.sql.functions.lit(0), org.apache.spark.sql.functions.lit(9)).collect()
    graft.Checkpoints.sweepAll(spark)
    spark.stop()
  }

  /** Per-layer self time per op beside the op wall time, for the traced run. */
  private def printLayerTable(spans: Seq[Trace.Span], self: Map[Int, Double], ops: Int,
                              wall: Double): Unit = {
    println(f"PERFBENCH_LAYERS op wall ${wall / ops}%.4f s/op over $ops ops (self time per op below)")
    spans.groupBy(_.name).toSeq.sortBy(-_._2.map(s => self(s.id)).sum).foreach { case (n, ss) =>
      println(f"PERFBENCH_LAYERS   $n%-22s calls=${ss.size}%6d self=${ss.map(s => self(s.id)).sum / ops}%.4f s/op")
    }
  }

  /** Drops every checkpoint/persist block (blocking), as a traced layer. */
  def sweep(spark: SparkSession): Unit = Trace.span("Checkpoints.sweep") {
    if (Trace.enabled)
      Trace.count("checkpoint_bytes",
        spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble)
    graft.Checkpoints.sweepAll(spark)
  }

  def readTsv(path: String): Map[String, String] = {
    val f = new java.io.File(path)
    if (!f.exists) Map.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().filter(_.contains("\t")).map { l =>
        val Array(k, x) = l.split("\t", 2); k -> x }.toMap
      finally src.close()
    }
  }

  def writeTsv(path: String, rows: Seq[(String, String)]): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try rows.sortBy(_._1).foreach { case (k, x) => out.println(s"$k\t$x") } finally out.close()
  }

  def gcSeconds: Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3

  /** Bytes of all regular files under `p`. */
  def treeBytes(p: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
      finally s.close()
    }
}

/** Peak live heap: the heap in use right after a full collection, sampled
  * after each window (not before one: the collections would slow the
  * window's first operations).
  * Spark's ContextCleaner drops broadcast and shuffle blocks only after a
  * collection has cleared their weak references (its queue is polled every
  * 100 ms), so the sample collects twice with a pause between; one
  * collection leaves those blocks in or out depending on timing.
  */
final class HeapPeak {
  var peakMb = 0.0
  var lastMb = 0.0
  def sample(): Unit = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    lastMb = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    peakMb = math.max(peakMb, lastMb)
  }
}
