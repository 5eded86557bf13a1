package graft

/** BENCH harness (driver contract): run every registered query on
  * SPARK_GRAFT_SF_DIR, print ONE JSON metric line. Each query executes via a
  * `noop`-format write: unlike count() — under which ColumnPruning deletes
  * unreferenced projection expressions and EliminateSorts drops the terminal
  * ORDER BY — a noop sink consumes every column of every row, so the timing
  * covers the full plan (hashes, regexes, window sums, presentation sort)
  * without paying parquet-encode cost.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Shuffle fan-out defaults to the thread count; SPARK_GRAFT_SHUFFLE
    // overrides it for scale runs where partitions must track the DATA
    // (SCALE.md 30x protocol), not the box.
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = Graft.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM warmup: one pass of the WHOLE registry on the smallest sf, so
    // every one-time JVM cost — codegen class loading, the first
    // collation-aware lower(), parquet footer readers — is paid before any
    // timed window. (The old 3-query warmup left reproducible ~1 s spikes
    // on the first repeat of whichever query first touched a lazy path:
    // f3's first lower() showed a 0.9-1.1 s first-run spread in every
    // full run while its median sat at 0.2 s.)
    def exec(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    SparkEntry.queries.values.foreach { f =>
      try exec(f(spark, "/root/testdata/sf0.001")) catch { case _: Throwable => }
    }
    // drop the warmup pass's own checkpoint/persist blocks and settle the
    // heap BEFORE the first timed window — otherwise query 1's first
    // repeat runs against ~120 queries of warmup garbage
    Checkpoints.sweepAll(spark)
    System.gc()
    // median-of-3 per query: the later runs reuse compiled codegen classes,
    // so the median isolates plan cost from JIT/classload noise AND from
    // one-off GC/interleaving spikes (the r5 lesson: with 115 queries in
    // one JVM, best-of-2 let unchanged-code queries swing ±50% round over
    // round, hiding real regressions). The max-min spread per query is
    // recorded so a future delta can be read against measured noise.
    // Each run of q.run builds FRESH localCheckpoint/persist blocks (graph
    // loops, shingle/signature tables), so after a run every cached block
    // is garbage — drop them BLOCKING (an async drop leaves the block
    // manager draining into the next timed window), or ~100 queries of
    // leaked blocks raise GC pressure and inflate later queries' times.
    // unpersisting a localCheckpointed RDD logs a (harmless, expected)
    // "lineage has been truncated" WARN per block — silence that logger
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)
    // Broadcasts and shuffle state are cleaned by the ContextCleaner, which
    // only acts when driver GC collects their weak refs — and G1 left to
    // itself eventually takes a multi-second organic full GC in the MIDDLE
    // of some random timed window (measured: a 3.5 s one-off on 0.58 s q3
    // in a GC-free run; the r6 driver's g7 7.4 s median is the same storm).
    // A periodic System.gc() between queries keeps old-gen debt low enough
    // that organic full GCs never fire mid-query, while being cheap on a
    // pinned heap (-Xms=-Xmx, so no shrink/regrow cycle; a full GC after
    // EVERY query on a shrinkable 8 g heap measured ~15% slower overall).
    // SPARK_GRAFT_ISOLATE=1 hardens to a GC between every repeat (the
    // isolated-run protocol recorded in BASELINE.md).
    //
    // r11 root-cause of the x2_fast two-round stall flag: focused repeats
    // (tools.Repeats, 10 reps, identical bhj=13 plans every run) measured
    // x2_fast 2.3-4.0 s with a 20.9 s excursion under the every-10-queries
    // cadence vs a FLAT 2.08-2.47 s (spread 0.38) with a GC between
    // repeats; j5 against a grown-dims 10x directory likewise 2.6-19.9 s
    // bimodal vs flat 2.4-2.8 s. The slow mode is organic full-GC /
    // ContextCleaner debt (each heavy repeat leaves ~0.5 GB of checkpoint
    // blocks + broadcast relations whose weak refs only clear under driver
    // GC) landing INSIDE a later timed window. So: any repeat heavy enough
    // to matter for the clean gate (>0.5 s — the gate's own absolute
    // floor) pays ~80 ms of forced GC right after it, clearing its debt
    // before the next timed window; sub-0.5 s repeats keep the cheap
    // every-10-queries cadence (their windows never trip the gate, and a
    // per-repeat GC tax across 190 queries would cost ~45 s of wall).
    val isolate = sys.env.get("SPARK_GRAFT_ISOLATE").contains("1")
    def betweenRepeats(lastSecs: Double): Unit = {
      Checkpoints.sweepAll(spark)
      if (isolate || lastSecs > 0.5) System.gc()
    }
    // Cadence measured across full runs on the pinned heap: GC every query
    // = 73.3 s total / 0.34 median rel-spread; every 10 queries = 70.5 s /
    // 0.26 — the winner on both axes (every 25 and never both admitted
    // 1-3.5 s one-off stalls into timed windows).
    var sinceGc = 0
    def betweenQueries(): Unit = {
      sinceGc += 1
      if (sinceGc >= 10) { System.gc(); sinceGc = 0 }
    }
    // Optional focus filter for local iteration: SPARK_GRAFT_ONLY=q1,q2
    // benches just those queries (the driver never sets it).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.registry.filter(q => names(q.name))
      case None        => SparkEntry.registry
    }
    case class R(name: String, median: Double, spread: Double, instrument: Boolean)
    // A bench that cannot fail is not a bench (the r7 lesson: 26 queries
    // threw at analysis time and the record published them as ~0 s
    // successes, rc=0). Every per-query Throwable is captured by NAME and
    // error class; any failure makes the run exit nonzero AFTER the JSON
    // line is printed, so the record itself says what broke.
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // The VM host occasionally freezes all cores for 1-6 s (BASELINE.md r7:
    // whole-registry totals swing 70-103 s on identical code). A stall
    // landing in one of 3 repeats corrupts that query's median and spread.
    // Mitigation: when the 3-repeat spread exceeds half the median, take 2
    // more repeats and report the median of 5 with the middle-3 spread —
    // the stall repeat is rejected instead of polluting the record. The
    // retry budget is bounded and the retry count is reported
    // (noisy_retries) so a run that needed many is visibly a noisy run;
    // `retry_denied` counts queries whose trigger fired AFTER the budget
    // ran dry — those medians were never re-measured, which is the one
    // case retries cannot vouch for (see the clean flag below).
    // sized ABOVE the noisiest observed window so denial — the condition
    // the clean gate fails on — stays exceptional. History: r10's noisiest
    // window fired 44 triggers (budget 100 = 50 retries covered it); the
    // r12 host windows run uniformly ~1.3x slower (verified by a focused
    // clean probe on untouched queries) and fire 52-64 triggers — an
    // otherwise-flawless 205-query record (zero stall rows, zero rel rows,
    // spread_median_rel 0.21) failed ONLY because trigger 51 found the
    // budget dry. r14's host (steal-time visible even idle) fires 92-99
    // triggers across 230 queries — two windows whose every median was
    // stable or successfully re-measured failed ONLY on denial again, so
    // the r12 resize was itself stale. The budget is a wall-time bound,
    // not a cleanliness signal (noisy_retries reports the noise; denied
    // retries fail the gate); size it so the gate measures what it claims
    // to: 240 covers 120 retried queries, ~25% above the worst observed.
    var retryBudget = 240
    var retried     = 0
    var denied      = 0
    // Every escalation step, counted globally (r14 verdict ask #4):
    // `retried` counts QUERIES whose trigger fired (the noisy-window
    // indicator the r12-r14 records report), while a query that escalated
    // twice (5 → 7 reps) consumed two budget units but one `retried` — so
    // the record also reports total escalation STEPS, making budget
    // arithmetic (240 = 120 steps) auditable from the JSON alone.
    var escalated = 0
    val results = selected.map { q =>
      def rep(): Double = {
        val t0 = System.nanoTime()
        try exec(q.run(spark, sfDir)) catch {
          case e: Throwable =>
            failed.getOrElseUpdate(q.name, e.getClass.getSimpleName)
            System.err.println(s"[bench] ${q.name} FAILED: ${e.getClass.getName}: ${e.getMessage}")
        }
        val dt = (System.nanoTime() - t0) / 1e9
        betweenRepeats(dt)
        dt
      }
      var times = (1 to 3).map(_ => rep()).sorted
      // trigger needs BOTH a relative and an absolute excursion: fast
      // queries jitter by tens of ms (a pure relative trigger burned the
      // whole retry budget on 0.1 s queries' micro-variance — measured
      // 12/12 slots), while real host excursions are >=0.15 s (a 0.3 s
      // floor let a 0.16 s stall on a 0.13 s query through — measured)
      // Middle window of the current sample: drop one extreme per side
      // beyond 3 reps, so the stall reps a retry was MEANT to reject
      // never count against the re-measured spread.
      def mid(ts: IndexedSeq[Double]): IndexedSeq[Double] = {
        val d = (ts.size - 3) / 2 // 3→0, 5→1, 7→2: middle three
        ts.slice(d, ts.size - d)
      }
      def stallShaped(ts: IndexedSeq[Double]): Boolean = {
        val w = mid(ts)
        w.last - w.head > math.max(0.5 * w(w.size / 2), 0.15)
      }
      // Escalating re-measure (r14: at ~97 stall triggers per 230-query
      // window, TWO stalls landing in one query's 5 reps stopped being
      // exceptional — each full run failed its gate on a different random
      // such row). First trigger adds 2 reps (median-of-5, middle-3
      // spread); if the middle-3 is still stall-shaped, one more
      // escalation to 7 (median-of-7, middle-3-of-7). Same budget, same
      // rejection principle — the gate's criteria are unchanged, the
      // harness just re-measures until the stalls are outvoted or the
      // budget says stop.
      var escalations = 0
      while (stallShaped(times) && escalations < 2) {
        if (retryBudget >= 2) {
          retryBudget -= 2
          if (escalations == 0) retried += 1
          escalations += 1
          escalated += 1
          times = (times ++ (1 to 2).map(_ => rep())).sorted
        } else { denied += 1; escalations = 2 }
      }
      betweenQueries()
      val w      = mid(times)
      val median = w(w.size / 2)
      val spread = w.last - w.head
      R(q.name, median, spread, q.instrument)
    }
    val total = results.map(_.median).sum
    // Headline split (VERDICT r8 #2): the md5-bridge rows are correctness
    // instruments, deliberately slow; their cost must not pollute the number
    // a user's workload predicts from.
    val totalProduction  = results.filterNot(_.instrument).map(_.median).sum
    val totalInstruments = results.filter(_.instrument).map(_.median).sum
    // headline variance indicators: worst and median relative spread
    // ((max-min)/median) across the registry
    val relSpreads = results.map(r => if (r.median > 0) r.spread / r.median else 0.0)
    val spreadMax  = if (relSpreads.isEmpty) 0.0 else relSpreads.max
    val spreadMed  = if (relSpreads.isEmpty) 0.0
                     else relSpreads.sorted.apply(relSpreads.size / 2)
    // Machine-checkable cleanliness (VERDICT r8 #1): the record judges its
    // own instruments so "was this window stall-corrupted?" is a field, not
    // a per-round argument. A run is clean iff (a) no query's spread exceeds
    // BOTH its median and 0.5 s absolute (the signature of a host stall
    // landing inside a timed window — the absolute floor keeps sub-0.1 s
    // queries' micro-jitter from tripping it), (b) among queries with a
    // spread big enough to matter (>=0.15 s), none spread past its own
    // median (rel >= 1.0), and (c) every query whose retry trigger fired
    // actually GOT its retry (retry_denied == 0) — a denied retry is the
    // one median the record cannot vouch for. The raw retry count stays
    // reported (noisy_retries — a noisy-window indicator) but no longer
    // fails the gate by itself: a retry that resolved its query's window
    // (checked by (a)+(b) against the post-retry middle-3 spread) is the
    // mitigation WORKING, not a corruption — the r10 revision of r9's
    // `retried <= 8` proxy, which failed records whose every median was
    // either stable or successfully re-measured. When dirty, every
    // offending row is printed so the re-run decision is mechanical.
    val stallRows = results.filter(r => r.spread > r.median && r.spread > 0.5)
    val relRows   = results.filter(r => r.spread >= 0.15 && r.median > 0 && r.spread / r.median >= 1.0)
    val clean     = stallRows.isEmpty && relRows.isEmpty && denied == 0
    if (!clean) {
      val off = (stallRows ++ relRows).distinct.sortBy(-_.spread)
      System.err.println(s"[bench] NOT CLEAN: noisy_retries=$retried retry_denied=$denied; offending rows:")
      off.foreach(r => System.err.println(
        f"[bench]   ${r.name}%-28s median=${r.median}%.3f spread=${r.spread}%.3f"))
      if (off.isEmpty)
        System.err.println(s"[bench]   (denied retries alone: $denied)")
    }
    // Locale-independent: %.3f under a comma-decimal default locale (de_DE)
    // would emit "1,234" and corrupt the JSON.
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // Full per-query detail goes to a sidecar file; stdout gets ONE compact
    // JSON line. The driver captures only the last ~2000 chars of output
    // (BENCH_r01/r02 both came back parsed:null because the full 100-query
    // map overflowed that window), so the line lists the slowest queries
    // first and stops under a hard char budget — everything else is in the
    // sidecar.
    val full = results.map(r => "\"" + r.name + "\":" + fmt(r.median))
      .mkString("{", ",", "}")
    val fullSpread = results.map(r => "\"" + r.name + "\":" + fmt(r.spread))
      .mkString("{", ",", "}")
    val failedJson = failed.map { case (n, c) => "\"" + n + "\":\"" + c + "\"" }
      .mkString("{", ",", "}")
    // Only a FULL-registry run may replace the committed record — an
    // SPARK_GRAFT_ONLY-focused iteration run must not clobber it with a
    // partial map (learned the hard way).
    if (only.isEmpty) {
      try {
        val w = new java.io.PrintWriter("BENCH_FULL.json")
        try w.println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","total_production":${fmt(totalProduction)},"total_instruments":${fmt(totalInstruments)},"clean":$clean,"repeats":3,"noisy_retries":$retried,"escalations":$escalated,"retry_denied":$denied,"n_queries":${results.size},"n_failed":${failed.size},"failed":$failedJson,"queries":$full,"spread":$fullSpread,"spread_max_rel":${fmt(spreadMax)},"spread_median_rel":${fmt(spreadMed)},"sf":"$sfDir"}""")
        finally w.close()
      } catch { case _: Throwable => }
    }
    val budget  = 1400
    val sorted  = results.sortBy(-_.median)
    val sb      = new StringBuilder
    var taken   = 0
    var full_   = false
    // Stop at the FIRST entry that overflows the budget so the emitted map
    // is a true slowest-first prefix (a shorter-named faster query must not
    // sneak in after a skip).
    sorted.foreach { r =>
      if (!full_) {
        val entry = (if (taken == 0) "" else ",") + "\"" + r.name + "\":" + fmt(r.median)
        if (sb.length + entry.length <= budget) { sb.append(entry); taken += 1 }
        else full_ = true
      }
    }
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","total_production":${fmt(totalProduction)},"total_instruments":${fmt(totalInstruments)},"clean":$clean,"repeats":3,"noisy_retries":$retried,"escalations":$escalated,"retry_denied":$denied,"spread_max_rel":${fmt(spreadMax)},"spread_median_rel":${fmt(spreadMed)},"n_queries":${results.size},"n_failed":${failed.size},"failed":$failedJson,"queries_slowest":$taken,"queries":{${sb.toString}},"sf":"$sfDir"}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
