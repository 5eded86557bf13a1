package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one JVM-wide session (getOrCreate),
  * UTC, small shuffle fan-out to keep 6k-row tests fast, and the engine's
  * static confs from [[Graft.builder]].
  */
trait SparkSpec extends AnyFunSuite {
  lazy implicit val spark: SparkSession = Graft.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir", SparkSpec.warehouse.toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def sf0001 = "/root/testdata/sf0.001"

  /** The Spark jobs and tasks `body` runs, counted by a listener that sees
    * only this call's job group (a job group is inherited by the jobs a
    * query starts on other threads, such as a broadcast).
    */
  def jobsAndTasks(body: => Any): (Int, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
    val sc          = spark.sparkContext
    val group       = s"spec-jobs-${java.util.UUID.randomUUID()}"
    val jobs, tasks = new java.util.concurrent.atomic.AtomicInteger
    def ours(props: java.util.Properties) =
      Option(props).exists(_.getProperty("spark.jobGroup.id") == group)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (ours(e.properties)) jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (ours(e.properties)) tasks.addAndGet(e.stageInfo.numTasks)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "spec job count")
      try body finally sc.clearJobGroup()
      org.apache.spark.GraftListenerBridge.flush(sc)
      (jobs.get(), tasks.get())
    } finally sc.removeSparkListener(listener)
  }

  def jobsOf(body: => Any): Int = jobsAndTasks(body)._1

  /** Janino compiles so far in this JVM: Spark's `CodegenMetrics` records
    * one sample per compile, on any thread. Take the difference around a
    * call to count what it compiled.
    */
  def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Temp dir scoped to `body`, deleted afterwards — specs were leaving
    * hundreds of createTempDirectory dirs behind per `sbt test` sweep.
    */
  def withTempDir[A](prefix: String)(body: java.nio.file.Path => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir)
    finally graft.sources.AtomicFs.deleteRecursively(dir)
  }
}

object SparkSpec {
  /** ONE warehouse dir per test JVM (the trait is mixed into every suite,
    * but only the first builder's conf wins under getOrCreate — per-suite
    * dirs were 800+ leaked empties per sweep), removed at JVM exit.
    */
  private lazy val warehouse: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft-warehouse")
    sys.addShutdownHook(graft.sources.AtomicFs.deleteRecursively(p))
    p
  }
}
