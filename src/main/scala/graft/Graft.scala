package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.StaticSQLConf

/** Library entry point: one place that builds a correctly-configured
  * session (a codegen cache that holds a curation pass, filter keys
  * bound rather than compiled in, UTC, AQE,
  * 32-way local shuffle, nanos-timestamp events readable, LAST_WIN map
  * merges, custom SQL functions registered via
  * [[GraftExtensions]] — the same builders `spark.sql.extensions=
  * graft.GraftExtensions` injects cluster-wide) and registers the
  * test tables as SQL views so `spark.sql` round-trips the same queries
  * the oracle runs (SURVEY §7.1).
  */
object Graft {

  /** Entries of Spark's JVM-wide cache of compiled generated classes
    * (`spark.sql.codegen.cache.maxEntries`); see [[session]].
    */
  val CodegenCacheEntries: Int = 1000

  /** A session builder carrying the static confs every graft JVM runs
    * with: the codegen cache size ([[CodegenCacheEntries]]) and
    * [[GraftExtensions]] (the SQL functions and the literal-binding rule).
    * `session`, `Verify`, `Bench` and the test session all start from it,
    * so tests, the oracle dump and the benchmark plan and compile the same
    * way.
    */
  def builder(): SparkSession.Builder =
    SparkSession.builder()
      .config(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key, CodegenCacheEntries.toLong)
      .withExtensions(new GraftExtensions)

  /** The engine's session (see the object header for what it sets).
    *
    * Codegen cache. Spark keeps whole-stage and expression classes that
    * Janino compiled in one JVM-wide LRU cache of 100 entries by default.
    * One pass of the curation pipeline (dedup, graph labels, similarity,
    * packing) needs about 250, so at the default each pass evicted the
    * previous pass's classes and compiled them all again: about 204
    * compiles and 2.0-2.2 s of compile time in every timed pass of the
    * benchmark, 929 compiles in a 4-pass run, on a 4-core VM. At
    * [[CodegenCacheEntries]], about 4x that working set, the same run
    * compiles 249 classes, 4 of them in the timed passes; the pass p50
    * fell from 10.5 to 7.3 s (seeds 1-10), for about 3.5 MB more live
    * heap. Two traps:
    *   - the conf is static: `CodeGenerator` reads it once, at the JVM's
    *     first codegen, and `getOrCreate` on a session that already
    *     exists ignores it with a warning. Set it on the builder, as here;
    *   - the cache key pairs the code with a class loader, so in local
    *     mode the driver thread and the task threads each compile a class
    *     once.
    *
    * Filter keys. Spark inlines primitive literals into its generated
    * Java, so a read with a new key (`event_id = 17664L`, `>= 11792L`)
    * used to be a new class, compiled on the driver thread and again on a
    * task thread: two compiles per keyed read, which no cache size helps.
    * [[graft.plans.BindLiterals]] swaps each non-NULL primitive literal
    * that a `FilterExec` condition compares against for a
    * [[graft.plans.BoundLiteral]], whose code reads the value from the
    * class's `references` array; reads that differ only in their keys
    * share one class. It is a columnar rule
    * (`preColumnarTransitions`), not a query-stage prep rule: a scan,
    * filter and collect plan has no exchange, so adaptive execution does
    * not wrap it and stage-prep rules never see it, while the columnar
    * rules run both in the plain preparations and at each adaptive
    * stage. The leaf's equality is its literal's (value and type), so
    * exchange reuse never matches two keys (a `.cache()` lookup compares
    * logical plans, which keep the plain literals), and it prints as the
    * literal does, so `explain` text is unchanged. Scans keep the plain
    * literals in their pushed filters.
    */
  def session(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession = {
    val spark = builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftExtensions.registerAll(spark) // cosine_sim, int8_dot, simhash_agg, mg_freq
    spark
  }

  /** Register every test table as a temp view (events with its timestamp
    * already normalized), so `spark.sql("SELECT ... FROM lineitem")` works
    * against the same names the DuckDB oracle uses.
    */
  def registerViews(spark: SparkSession, dir: String): Unit = {
    val t = Tables(spark, dir)
    Seq(
      "region" -> t.region, "nation" -> t.nation, "customer" -> t.customer,
      "supplier" -> t.supplier, "part" -> t.part, "orders" -> t.orders,
      "lineitem" -> t.lineitem, "events" -> t.events,
      "documents" -> t.documents, "embeddings" -> t.embeddings,
    ).foreach { case (name, df) => df.createOrReplaceTempView(name) }
  }
}
