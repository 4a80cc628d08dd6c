package graft.stream

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Per-segment max-position manifest for the file change log and for
  * wire dumps — the metadata that makes RESTART ALIGNMENT O(segments)
  * instead of a full-log scan.
  *
  * Resume alignment is by content (`CdcJob.runBatchIncremental`,
  * `WireSource.runIncremental`): a segment/group is provably applied iff
  * its max position is at or below the sink's resume point. That max is
  * known to whoever WRITES the segment (the log producer, the emit
  * sink), so it is recorded here at write time — one tiny `.lsn` entry
  * per segment under `<root>/_lsnmanifest/` — and resume reads O(1)
  * metadata per segment. Foreign segments (a dump produced by something
  * that doesn't write the manifest) simply miss an entry and fall back
  * to the original column-pruned content scan, restricted to exactly
  * the missing files; behavior is unchanged either way. The reference
  * keeps the analogous metadata server-side (the syscdc session's
  * restart/oldest-position bookkeeping, `InformixConnection.java:84-120`);
  * a file log needs it beside the files.
  *
  * Entries are keyed by path RELATIVE to the root (URL-encoded into one
  * flat filename), written temp + ATOMIC_MOVE (a torn entry can never be
  * observed; a reader either sees the full entry or falls back to the
  * scan). Formats: native `m:<maxLsn>`; wire `w:<maxCommit>,<maxChange>`.
  * The `_` prefix keeps the sidecar invisible to Spark file sources and
  * to `Fs.listParquet`.
  */
object LsnManifest {

  private val DirName = "_lsnmanifest"

  private def dirOf(root: String): Path = Paths.get(root, DirName)

  private def enc(rel: String): String =
    java.net.URLEncoder.encode(rel, StandardCharsets.UTF_8) + ".lsn"

  private def dec(name: String): String =
    java.net.URLDecoder.decode(name.stripSuffix(".lsn"), StandardCharsets.UTF_8)

  private def relOf(root: String, segment: String): String = {
    val r = Paths.get(root).toAbsolutePath.normalize
    val s = Paths.get(segment).toAbsolutePath.normalize
    if (s.startsWith(r)) r.relativize(s).toString else segment
  }

  private def write(root: String, rel: String, content: String): Unit = {
    val d = dirOf(root)
    Files.createDirectories(d)
    val tmp = Files.createTempFile(d, "entry", ".tmp")
    Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, d.resolve(enc(rel)),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Record a native log segment's max record LSN (writer-side). */
  def recordNative(root: String, segment: String, maxLsn: Long): Unit =
    write(root, relOf(root, segment), s"m:$maxLsn")

  /** Record a wire dump group's max (commit_lsn, change_lsn) — keyed by
    * the producer batch dir name (the atomic consumption unit).
    */
  def recordWire(root: String, groupName: String, maxCommit: Long,
      maxChange: Long): Unit =
    write(root, groupName, s"w:$maxCommit,$maxChange")

  private def entries(root: String): Seq[(String, String)] = {
    val d = dirOf(root)
    if (!Files.isDirectory(d)) Nil
    else graft.util.Fs.listDir(d)
      .filter(p => p.getFileName.toString.endsWith(".lsn"))
      .flatMap { p =>
        // an entry is written atomically, but be permissive on foreign
        // garbage in the dir: unparseable entries are treated as absent
        try Some(dec(p.getFileName.toString) -> new String(
          Files.readAllBytes(p), StandardCharsets.UTF_8).trim)
        catch { case _: Exception => None }
      }.toSeq
  }

  /** All native entries of a log root: ABSOLUTE segment path -> maxLsn. */
  def readNative(root: String): Map[String, Long] = {
    val r = Paths.get(root).toAbsolutePath.normalize
    entries(root).flatMap {
      case (rel, v) if v.startsWith("m:") =>
        try Some(r.resolve(rel).toString -> v.drop(2).toLong)
        catch { case _: NumberFormatException => None }
      case _ => None
    }.toMap
  }

  /** All wire entries of a dump root: group NAME -> (maxCommit, maxChange). */
  def readWire(root: String): Map[String, (Long, Long)] =
    entries(root).flatMap {
      case (name, v) if v.startsWith("w:") =>
        v.drop(2).split(',') match {
          case Array(c, l) =>
            try Some(name -> (c.toLong, l.toLong))
            catch { case _: NumberFormatException => None }
          case _ => None
        }
      case _ => None
    }.toMap

  /** Record the dump's wire format ("json" | "binary") so a resumed
    * consumer doesn't have to probe a data file's footer to pick its
    * read schema. One marker per dump root; idempotent rewrite.
    */
  def recordFormat(root: String, format: String): Unit =
    write(root, "_format", s"f:$format")

  /** The recorded wire format of a dump root, if any. */
  def readFormat(root: String): Option[String] =
    entries(root).collectFirst {
      case ("_format", v) if v.startsWith("f:") => v.drop(2)
    }

  /** Drop a segment's entry (retention GC of the segment). */
  def drop(root: String, segment: String): Unit = {
    Files.deleteIfExists(dirOf(root).resolve(enc(relOf(root, segment))))
    ()
  }
}
