package graft.util

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import scala.jdk.CollectionConverters._

/** Tiny local-fs helpers (test/bench infrastructure only — production
  * paths would go through Hadoop FileSystem).
  */
object Fs {
  /** Materialize a directory listing and CLOSE the stream. `Files.list`
    * holds an open directory fd until the stream is closed — an
    * unclosed per-batch/per-bucket call leaks fds until the process
    * dies with "Too many open files" (observed in a 10x-scale
    * maintenance loop).
    */
  def listDir(p: Path): List[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toList finally s.close()
  }

  /** Materialize a recursive walk and CLOSE the stream (same fd
    * discipline as [[listDir]]).
    */
  def walkAll(p: Path): List[Path] = {
    val s = Files.walk(p)
    try s.iterator().asScala.toList finally s.close()
  }

  def deleteRecursively(root: String): Unit = {
    val p = Paths.get(root)
    // a background writer (e.g. the compaction daemon) can drop a
    // file into a directory between the walk listing it and the delete
    // reaching it — re-walk a few times instead of failing the caller
    var attempts = 0
    while (Files.exists(p)) {
      attempts += 1
      try {
        walkAll(p).sorted(Ordering.comparatorToOrdering(
          Comparator.reverseOrder[Path]())).foreach(Files.delete)
      } catch {
        case e @ (_: java.nio.file.DirectoryNotEmptyException |
                  _: java.nio.file.NoSuchFileException |
                  _: java.io.UncheckedIOException) => // lazy-walk wrapper
          if (attempts >= 5) throw e
          Thread.sleep(50L * attempts)
      }
    }
  }

  def listParquet(dir: String): Seq[String] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Seq.empty
    else walkAll(p)
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
      .map(_.toString)
  }

  /** Scratch root for temp dirs: GRAFT_TMPDIR if set, else tmpfs
    * (/dev/shm) when the box has one, else java.io.tmpdir. The tmpfs
    * preference is the same rationale Bench documents for
    * `spark.local.dir`: harness scratch (checkpoints, staged files,
    * sink tables — small, deleted per cell) should measure the engine,
    * not this box's single disk; state-store and offset-log commits
    * fsync per micro-batch, which on the sandbox disk costs more than
    * the batch's compute. A real deployment sets GRAFT_TMPDIR (or runs
    * checkpoints on HDFS/object storage entirely outside this helper).
    */
  def scratchRoot: String =
    sys.env.getOrElse("GRAFT_TMPDIR",
      if (Files.isDirectory(Paths.get("/dev/shm"))) "/dev/shm/graft-tmp"
      else System.getProperty("java.io.tmpdir"))

  def tempDir(prefix: String): String = tempDirIn(scratchRoot, prefix)

  /** Runs `body` over a fresh [[tempDir]] and deletes the dir afterwards,
    * whether `body` returns or throws. A result that reads from the dir
    * must be materialized inside `body`.
    */
  def withTempDir[A](prefix: String)(body: String => A): A = {
    val dir = tempDir(prefix)
    try body(dir) finally deleteRecursively(dir)
  }

  def tempDirIn(base: String, prefix: String): String = {
    Files.createDirectories(Paths.get(base))
    Files.createTempDirectory(Paths.get(base), prefix).toString
  }
}
