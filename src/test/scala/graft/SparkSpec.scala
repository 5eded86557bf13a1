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
