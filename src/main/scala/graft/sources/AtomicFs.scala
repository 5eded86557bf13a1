package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** Atomic filesystem primitives for claim/publish protocols.
  *
  * The concurrency story of [[MultiStore]] and `Maintenance.merge`
  * rests on two operations being ATOMIC mutual-
  * exclusion points: "create this file iff absent" (version claims, merge
  * locks) and "install this name iff absent" (manifest publish). On HDFS
  * both hold natively (`create(overwrite=false)` and `rename` are
  * serialized fail-if-exists namespace ops on the NameNode). On the LOCAL
  * filesystem Hadoop fakes both with an exists() check followed by the
  * action — check-then-act, NOT atomic — which the concurrent-deleteWhere
  * race test caught in the act: two threads both "exclusively" created
  * `_graft_claim_v=0`, both wrote the same version directory, and their
  * FileOutputCommitter `_temporary` dirs collided (when they didn't
  * silently overwrite each other's rows). These helpers route the local
  * case through real POSIX atomicity — `open(O_CREAT|O_EXCL)` for claims,
  * `link(2)` for publishes — and keep Hadoop's native semantics everywhere
  * else.
  */
object AtomicFs {

  private def isLocal(fs: FileSystem): Boolean = fs.getScheme == "file"

  private def nioPath(p: Path): java.nio.file.Path =
    java.nio.file.Paths.get(p.toUri.getPath)

  /** Atomically create an empty file at `p`; true iff THIS caller created
    * it (the mutual-exclusion win).
    */
  def claim(fs: FileSystem, p: Path): Boolean =
    if (isLocal(fs)) {
      try { java.nio.file.Files.createFile(nioPath(p)); true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: java.nio.file.NoSuchFileException        => // parent missing
          fs.mkdirs(p.getParent)
          try { java.nio.file.Files.createFile(nioPath(p)); true }
          catch { case _: java.nio.file.FileAlreadyExistsException => false }
      }
    } else {
      try { fs.create(p, false).close(); true }
      catch { case _: java.io.IOException => false }
    }

  /** Atomically install the fully-written `tmp` at `target` iff `target`
    * is absent; true iff THIS caller installed it. `tmp` is consumed
    * either way (the caller retries with a fresh tmp). Local FS uses
    * `link(2)` — the one POSIX namespace op that both fails-if-exists and
    * makes the complete content appear in a single step (readers never see
    * a partial or empty target). Cluster FS uses `rename`, whose
    * fail-if-exists is native there.
    */
  def publish(fs: FileSystem, tmp: Path, target: Path): Boolean =
    if (isLocal(fs)) {
      val won =
        try { java.nio.file.Files.createLink(nioPath(target), nioPath(tmp)); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      fs.delete(tmp, false)
      won
    } else {
      val won = fs.rename(tmp, target)
      if (!won) fs.delete(tmp, false)
      won
    }

  /** Recursive local delete that materializes each directory listing and
    * CLOSES the stream before removing entries — Files.list holds a
    * directory fd until closed, and deleting under a live listing is
    * undefined; the per-query temp-store cleanups run every bench repeat,
    * so an unclosed stream is a compounding fd leak.
    */
  def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (java.nio.file.Files.isDirectory(p)) {
      val s = java.nio.file.Files.list(p)
      val children =
        try { import scala.jdk.CollectionConverters._; s.iterator().asScala.toList }
        finally s.close()
      children.foreach(deleteRecursively)
    }
    java.nio.file.Files.deleteIfExists(p)
  }
}
