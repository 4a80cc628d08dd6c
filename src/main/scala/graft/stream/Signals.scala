package graft.stream

import com.fasterxml.jackson.databind.ObjectMapper
import graft.icelite.IceLiteTable
import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

/** E7 — the signal channel: Debezium drives incremental/blocking
  * snapshots by inserting rows into a `debezium_signal` table that the
  * connector polls (`IncrementalSnapshotIT.java:42, 131-137`;
  * `InformixConnectorTask.java:173-177`). The lake-native analog is a
  * signal DIRECTORY polled between micro-batches: each JSON file is one
  * request; processed signals are renamed `*.done` (poor-man's exactly
  * once — re-delivery is harmless anyway because snapshot chunks are
  * version-conditional and channel-idempotent).
  *
  * Signal file: {"type": <signal type>, "sourcePath": <parquet dir
  * consistent at pinLsn>, "pinLsn": <long>, "chunks": <int>,
  * "message": <string>} — fields beyond "type" are per-signal optional.
  *
  * Supported types (the reference's signal-action set):
  *   - `incremental-snapshot` / `blocking-snapshot` — start a snapshot
  *     (`ExecuteSnapshot` in Debezium terms).
  *   - `stop-snapshot` — abort the in-flight incremental snapshot
  *     (`StopSnapshot`; `IncrementalSnapshotIT` stop cases).
  *   - `pause-snapshot` / `resume-snapshot` — suspend/continue it
  *     (`PauseIncrementalSnapshot` / `ResumeIncrementalSnapshot`).
  *   - `log` — write a message to the notification channel (Debezium's
  *     `Log` signal action writes to the connector log).
  *
  * An in-flight incremental snapshot persists its chunk cursor in
  * `inflight-snapshot.state` next to the signals, and [[process]]
  * re-scans the directory BETWEEN chunks — the same
  * read-signals-between-chunk-windows contract the reference's
  * incremental snapshot loop has, so a stop/pause arriving mid-snapshot
  * takes effect at the next chunk boundary, and a paused or interrupted
  * snapshot resumes from the persisted cursor (never from scratch:
  * chunks are idempotent, version-conditional batches, so re-applying
  * a completed chunk would be harmless — but skipping straight to the
  * cursor is free).
  */
object Signals {

  /** @param where the reference's ad-hoc-snapshot `additional-condition`
    *              (`IncrementalSnapshotIT` additional-condition cases): a
    *              SQL predicate over the SOURCE columns filtering which
    *              rows the snapshot reads — applied before the global
    *              rowFilter gate, exactly like the extra WHERE Debezium
    *              appends to its chunk SELECT.
    */
  final case class Signal(signalType: String, sourcePath: String, pinLsn: Long,
      chunks: Int, message: String = "", where: String = "")

  /** Persisted cursor of the in-flight incremental snapshot. */
  final case class Inflight(sourcePath: String, pinLsn: Long, chunks: Int,
      nextChunk: Int, paused: Boolean, where: String = "")

  private val mapper = new ObjectMapper()
  private val seq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Write a signal request (what the reference does with an INSERT
    * into the signal table).
    */
  def request(signalDir: String, signal: Signal): Path = {
    Files.createDirectories(Paths.get(signalDir))
    val n = mapper.createObjectNode()
    n.put("type", signal.signalType)
    n.put("sourcePath", signal.sourcePath)
    n.put("pinLsn", signal.pinLsn)
    n.put("chunks", signal.chunks)
    if (signal.message.nonEmpty) n.put("message", signal.message)
    if (signal.where.nonEmpty) n.put("where", signal.where)
    // zero-padded time + a process-wide counter: lexicographic name
    // order == request order even across a digit-count boundary, and two
    // same-nanoTime requests can never collide on one filename
    val p = Paths.get(signalDir,
      f"signal-${System.nanoTime()}%020d-${seq.incrementAndGet()}%06d.json")
    Files.write(p, mapper.writeValueAsString(n).getBytes(StandardCharsets.UTF_8))
    p
  }

  def pending(signalDir: String): Seq[Path] = {
    val d = Paths.get(signalDir)
    if (!Files.isDirectory(d)) Seq.empty
    else graft.util.Fs.listDir(d)
      .filter(p => p.getFileName.toString.endsWith(".json"))
      .sortBy(_.getFileName.toString)
  }

  def parse(p: Path): Signal = {
    val n = mapper.readTree(Files.readAllBytes(p))
    def str(f: String) = if (n.has(f)) n.get(f).asText() else ""
    Signal(n.get("type").asText(), str("sourcePath"),
      if (n.has("pinLsn")) n.get("pinLsn").asLong() else 0L,
      if (n.has("chunks")) n.get("chunks").asInt() else 4,
      str("message"), str("where"))
  }

  // ---- in-flight snapshot cursor (driver-local metadata file) ----

  private def statePath(signalDir: String): Path =
    Paths.get(signalDir, "inflight-snapshot.state")

  def readInflight(signalDir: String): Option[Inflight] = {
    val p = statePath(signalDir)
    if (!Files.exists(p)) None
    else {
      val n = mapper.readTree(Files.readAllBytes(p))
      Some(Inflight(n.get("sourcePath").asText(), n.get("pinLsn").asLong(),
        n.get("chunks").asInt(), n.get("nextChunk").asInt(),
        n.get("paused").asBoolean(),
        if (n.has("where")) n.get("where").asText() else ""))
    }
  }

  def writeInflight(signalDir: String, st: Inflight): Unit = {
    Files.createDirectories(Paths.get(signalDir))
    val n = mapper.createObjectNode()
    n.put("sourcePath", st.sourcePath)
    n.put("pinLsn", st.pinLsn)
    n.put("chunks", st.chunks)
    n.put("nextChunk", st.nextChunk)
    n.put("paused", st.paused)
    if (st.where.nonEmpty) n.put("where", st.where)
    val tmp = Paths.get(signalDir, ".inflight-snapshot.tmp")
    Files.write(tmp, mapper.writeValueAsString(n).getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, statePath(signalDir),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private def clearInflight(signalDir: String): Unit =
    Files.deleteIfExists(statePath(signalDir))

  /** Poll + execute all pending signals, then advance the in-flight
    * incremental snapshot chunk by chunk, re-polling the directory
    * between chunks (called between micro-batches — the reference
    * likewise interleaves snapshot chunks with streaming and reads
    * control signals at chunk boundaries). Returns the number of
    * signal files consumed.
    */
  def process(spark: SparkSession, table: IceLiteTable, signalDir: String,
      rowFilter: Option[org.apache.spark.sql.Column] = None): Int = {
    // the configured Filter-SMT gate applies to snapshot READ events
    // too (Debezium SMTs see every record) — same rule as CdcJob.snapshot
    // additional-condition first (it speaks the SOURCE's column names),
    // then the global Filter-SMT gate (it speaks the envelope's)
    def source(path: String, where: String) = {
      val raw = spark.read.parquet(path)
      CdcJob.gateSource(
        if (where.isEmpty) raw else raw.where(org.apache.spark.sql.functions.expr(where)),
        rowFilter)
    }
    var n = 0
    var progressed = true
    while (progressed) {
      progressed = false
      pending(signalDir).foreach { p =>
        val sig = parse(p)
        sig.signalType match {
          case "blocking-snapshot" =>
            // blocking by definition: runs to completion, not interruptible
            IncrementalSnapshot.blocking(table, source(sig.sourcePath, sig.where), sig.pinLsn)
          case "incremental-snapshot" =>
            readInflight(signalDir) match {
              case Some(_) =>
                // the reference merges additional data collections into the
                // running snapshot; under the single-table closed schema a
                // second request is a duplicate — record and skip
                table.appendNotification("Incremental Snapshot", "SKIPPED",
                  "snapshot already in flight; duplicate request ignored")
              case None =>
                val chunks = math.max(1, sig.chunks)
                writeInflight(signalDir,
                  Inflight(sig.sourcePath, sig.pinLsn, chunks, 0, paused = false,
                    where = sig.where))
                table.appendNotification("Incremental Snapshot", "STARTED",
                  s"pinLsn=${sig.pinLsn} chunks=$chunks")
            }
          case "stop-snapshot" =>
            readInflight(signalDir) match {
              case Some(st) =>
                clearInflight(signalDir)
                table.appendNotification("Incremental Snapshot", "ABORTED",
                  s"stopped at chunk=${st.nextChunk}/${st.chunks}")
              case None =>
                table.appendNotification("Incremental Snapshot", "SKIPPED",
                  "stop-snapshot: no snapshot in flight")
            }
          case "pause-snapshot" =>
            readInflight(signalDir).foreach { st =>
              writeInflight(signalDir, st.copy(paused = true))
              table.appendNotification("Incremental Snapshot", "PAUSED",
                s"chunk=${st.nextChunk}/${st.chunks}")
            }
          case "resume-snapshot" =>
            readInflight(signalDir).foreach { st =>
              writeInflight(signalDir, st.copy(paused = false))
              table.appendNotification("Incremental Snapshot", "RESUMED",
                s"chunk=${st.nextChunk}/${st.chunks}")
            }
          case "log" =>
            table.appendNotification("Signal Log", "LOG", sig.message)
          case other =>
            System.err.println(s"[signals] unknown signal type '$other' in $p — skipped")
        }
        Files.move(p, p.resolveSibling(p.getFileName.toString + ".done"))
        n += 1
      }
      // one chunk per pass, then re-poll: control signals arriving while
      // the snapshot runs take effect at the next chunk boundary
      readInflight(signalDir) match {
        case Some(st) if !st.paused =>
          val stats = IncrementalSnapshot.runChunk(table,
            source(st.sourcePath, st.where), st.pinLsn, st.chunks, st.nextChunk)
          table.appendNotification("Incremental Snapshot", "IN_PROGRESS",
            s"chunk=${st.nextChunk + 1}/${st.chunks} rows=${stats.upserts}")
          if (st.nextChunk + 1 >= st.chunks) {
            clearInflight(signalDir)
            table.appendNotification("Incremental Snapshot", "COMPLETED",
              s"pinLsn=${st.pinLsn} chunks=${st.chunks}")
          } else writeInflight(signalDir, st.copy(nextChunk = st.nextChunk + 1))
          progressed = true
        case _ => ()
      }
    }
    n
  }
}
