package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.icelite.{IceLite, IceLiteTable, IceSnapshot}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Command-line settings. The offered tail rate and the reader's scan
  * cadence have no defaults here: they are frozen in the benchmark's
  * command line, so a run cannot silently use other values.
  */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    scratch: String, out: String, traceOut: String, cores: Int,
    tailFilesPerS: Double, scanEveryMs: Long)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def get(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toInt, get("trace") == "1",
      get("scratch"), get("out"), get("trace-out"), get("cores").toInt,
      get("tail-files-per-s").toDouble, get("scan-every-ms").toLong)
  }
}

/** Samples and counters of one run, and the context every workload
  * shares: the session, the frozen settings and the tracing tools.
  */
final class Run(val spark: SparkSession, val args: Args) {
  val spans = new Spans
  val counters = new SparkCounters
  if (args.trace) spark.sparkContext.addSparkListener(counters)

  private val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val layer = mutable.LinkedHashMap[String, Double]()
  var attempted = 0L
  var failed = 0L

  /** Samples taken while tracing is on are kept apart, under the
    * `traced/` prefix, so the untraced figures stay clean and the two
    * can be compared (the tracing overhead).
    */
  @volatile private var prefix = ""

  def traced[T](on: Boolean)(f: => T): T = {
    spans.on = on; counters.on = on; prefix = if (on) "traced/" else ""
    try f finally { spans.on = false; counters.on = false; prefix = "" }
  }

  /** Run `f` with span recording off and its samples kept with the
    * untraced ones, inside traced work; Spark's counters keep counting.
    */
  def untraced[T](f: => T): T = {
    val was = spans.on
    spans.on = false; prefix = ""
    try f finally { spans.on = was; prefix = if (was) "traced/" else "" }
  }

  def add(name: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(prefix + name, mutable.ArrayBuffer[Double]()) += v; ()
  }
  /** Drop the warm-up's samples; set-up samples (`setup_s` and any
    * named in `keep`) stay.
    */
  def reset(keep: String*): Unit = synchronized {
    samples.filterInPlace((k, _) => k == "setup_s" || keep.contains(k)); ()
  }

  private val started = System.nanoTime()

  /** Progress line on stderr, with seconds since the run started. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%7.2f s] $msg")

  /** Set-ups a run makes: three untraced, for the medians of `setup_s`
    * and `snapshot_s`; one traced, which reports neither.
    */
  def setups: Int = if (args.trace) 1 else 3

  def get(name: String): Seq[Double] = synchronized(samples.get(name).map(_.toList).getOrElse(Nil))
  def setLayer(name: String, v: Double): Unit = synchronized { layer(name) = v; () }
  /** The median of `xs` as layer metric `name`; nothing when `xs` is
    * empty (a layer this workload does not exercise).
    */
  def setMedian(name: String, xs: Seq[Double]): Unit =
    if (xs.nonEmpty) setLayer(name, Stats.median(xs))
  def layers: Map[String, Double] = synchronized(layer.toMap)

  /** Time `f` in milliseconds. */
  def timeMs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Count one operation; one that throws counts as failed (the
    * exception is logged and re-thrown).
    */
  def op[T](what: String)(f: => T): T = {
    synchronized { attempted += 1 }
    try f
    catch {
      case t: Throwable =>
        synchronized { failed += 1 }
        System.err.println(s"[perfbench] $what failed: $t")
        throw t
    }
  }

  /** Count one correctness check; a false one counts as failed. */
  def check(what: String)(ok: Boolean): Unit = {
    synchronized { attempted += 1; if (!ok) failed += 1 }
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED: $what")
  }

  def dir(name: String): String = {
    val p = Paths.get(args.scratch, name)
    Files.createDirectories(p.getParent)
    p.toString
  }
}

object Keys {
  /** The i-th key of a zipf-hot request stream over the generator's
    * document ids (the same skew the generator's updates use).
    */
  def hot(cfg: graft.changelog.ChangeLogConfig)(i: Int): String = {
    import graft.changelog.ChangeLogGen._
    docId(skewKey(h(cfg.seed, 0x5eedL, i.toLong), cfg.nDocs, cfg.zipfAlpha))
  }
}

object Snapshots {
  /** Two more timed samples of the engine's initial snapshot of the
    * source table at `seedDir`, each into a throwaway table (none when
    * tracing: the samples feed only the untraced `snapshot_s`).
    */
  def sample(r: Run, seedDir: String, buckets: Int): Unit =
    (1 to (if (r.args.trace) 0 else 2)).foreach { i =>
      val root = r.dir(s"snapshot$i")
      val cdc = graft.stream.CdcConfig(s"$root/log", s"$root/table", s"$root/ckpt",
        numBuckets = buckets)
      val (_, ms) = r.timeMs(r.op("snapshot")(graft.stream.CdcJob.snapshot(r.spark,
        r.spark.read.parquet(seedDir), cdc, graft.changelog.ChangeLogGen.snapshotLsn)))
      r.add("snapshot_s", ms / 1000)
      graft.util.Fs.deleteRecursively(root)
    }
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def q(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = q(xs, 0.5)
}

object Check {
  /** Order-independent fingerprint of a frame: row count, the xor and
    * the low-32-bit sum of per-row xxhash64 over the given columns.
    */
  def fingerprint(df: DataFrame, cols: Seq[String]): (Long, Long, Long) = {
    val h = xxhash64(cols.map(col): _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), coalesce(bit_xor(col("h")), lit(0L)),
        coalesce(sum(col("h").bitwiseAND(lit(0xffffffffL))), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  val docCols: Seq[String] = Seq("doc_id", "tokens", "n_tok", "source")

  /** A table's live rows in the shape of the generator's documents. */
  def docs(df: DataFrame): DataFrame =
    df.select(col("doc_id"), col("tokens").cast("array<int>").as("tokens"),
      col("n_tok").cast("int").as("n_tok"), col("source"))

  def oracleDocs(spark: SparkSession, state: Map[String, graft.model.TokenDoc]): DataFrame = {
    import spark.implicits._
    docs(state.values.toSeq.toDS().toDF())
  }
}

/** Counts taken from a table's committed snapshot history (version
  * files only; no data is read).
  */
object History {
  final case class Summary(writeFiles: Long, writeBytes: Long, folds: Long,
      bytesRewritten: Long, maxChain: Long, liveFiles: Long, jsonBytes: Long)

  private def size(root: String, rel: String): Long =
    try Files.size(Paths.get(root, rel)) catch { case _: java.io.IOException => 0L }

  def of(root: String, fromExclusive: Long): Summary = {
    val versions = IceLite.retainedVersions(root).filter(_ > fromExclusive)
    val snaps = versions.map(v => IceLite.readSnapshotFile(root, v))
    val written = snaps.flatMap(_.changed.values.flatten)
    var folds = 0L
    var rewritten = 0L
    snaps.foreach { s =>
      if (s.summary.note.startsWith("compact")) {
        folds += 1
        val parent = IceLite.readSnapshotFile(root, s.parentId).base.values.flatten.toSet
        rewritten += s.base.values.flatten.filterNot(parent.contains).map(size(root, _)).sum
      }
    }
    // inline folds ride apply commits: their new base files are the
    // base files the parent did not have
    snaps.filterNot(_.summary.note.startsWith("compact")).foreach { s =>
      val parent = IceLite.readSnapshotFile(root, s.parentId).base.values.flatten.toSet
      val fresh = s.base.values.flatten.filterNot(parent.contains).toSeq
      if (fresh.nonEmpty) { folds += 1; rewritten += fresh.map(size(root, _)).sum }
    }
    val last = snaps.lastOption.getOrElse(IceLite.readLatest(root).get)
    Summary(written.size.toLong, written.map(size(root, _)).sum, folds, rewritten,
      snaps.map(chain).foldLeft(0L)(math.max), last.allFiles.size.toLong,
      Files.size(IceLite.versionFile(root, last.snapshotId)))
  }

  private def chain(s: IceSnapshot): Long =
    if (s.deltas.isEmpty) 0L else s.deltas.values.map(_.size.toLong).max

  /** Median wall time of re-committing `snap` to a scratch root through
    * the engine's atomic snapshot commit.
    */
  def commitMs(run: Run, snap: IceSnapshot, reps: Int = 20): Double = {
    val root = run.dir("commit-probe")
    val ts = (1 to reps).map { i =>
      run.timeMs(IceLite.writeSnapshotAtomic(root, snap.copy(snapshotId = i.toLong)))._2
    }
    graft.util.Fs.deleteRecursively(root)
    Stats.median(ts)
  }
}

/** The serving reads every workload issues against its output table:
  * zipf-hot point lookups (refresh, then rows collected), full
  * merge-on-read counts, and change-feed counts from `feedFrom` (or,
  * when `sliding`, from the version the previous feed read ended at).
  */
final class Reader(run: Run, root: String, hotKey: Int => String, feedFrom: Long,
    sliding: Boolean) {
  private val table: IceLiteTable = IceLite.load(run.spark, root)
  private var lastScanVersion: Long = feedFrom
  private var n = 0

  def lookup(): Unit = run.op("lookup") {
    val key = hotKey(n); n += 1
    val (_, ms) = run.timeMs {
      run.spans("icelite.read.lookup") {
        val s = table.refresh()
        val b = IceLite.bucketOf(key, s.numBuckets)
        run.add("layer.lookup_files",
          (s.base.getOrElse(b, Nil).size + s.deltas.getOrElse(b, Nil).size).toDouble)
        table.lookup(Seq(key)).collect()
      }
    }
    run.add("lookup_ms", ms)
  }

  def scanAndFeed(): Unit = {
    run.op("scan") {
      val (_, ms) = run.timeMs {
        run.spans("icelite.read.scan") {
          val s = table.refresh()
          run.add("layer.scan_files", s.allFiles.size.toDouble)
          table.read().count()
        }
      }
      run.add("scan_ms", ms)
    }
    run.op("cdf") {
      val (_, ms) = run.timeMs {
        run.spans("icelite.read.cdf") {
          val cur = table.refresh().snapshotId
          val from = math.min(lastScanVersion, cur)
          table.changesBetween(from, cur).count()
          if (sliding) lastScanVersion = cur
        }
      }
      run.add("cdf_ms", ms)
    }
  }
}

/** Per-layer samples both workloads take the same way: streaming
  * trigger durations, and counts from the output tables' histories.
  */
object Layers {
  def triggers(r: Run, trig: Seq[TriggerLog#Trigger]): Unit = {
    trig.foreach { t =>
      Seq("triggerExecution" -> "trigger_ms", "queryPlanning" -> "planning_ms",
        "addBatch" -> "add_batch_ms", "walCommit" -> "wal_commit_ms").foreach {
        case (k, name) => r.add(s"layer.$name", t.ms(k).toDouble)
      }
      r.add("layer.rows", t.rows.toDouble)
    }
    r.add("layer.triggers", trig.size.toDouble)
  }

  /** History counts summed over `roots` (versions after `from`), plus
    * the commit probe on `commitRoot`'s current snapshot.
    */
  def tables(r: Run, roots: Seq[String], from: Long, commitRoot: String): Unit = {
    val hs = roots.map(History.of(_, from))
    r.add("layer.write_files", hs.map(_.writeFiles).sum.toDouble)
    r.add("layer.write_bytes", hs.map(_.writeBytes).sum.toDouble)
    r.add("layer.folds", hs.map(_.folds).sum.toDouble)
    r.add("layer.bytes_rewritten", hs.map(_.bytesRewritten).sum.toDouble)
    r.add("layer.delta_chain_max", hs.map(_.maxChain).max.toDouble)
    r.add("layer.files_live", hs.map(_.liveFiles).sum.toDouble)
    r.add("layer.json_bytes", hs.map(_.jsonBytes).max.toDouble)
    r.add("layer.commit_ms", History.commitMs(r, IceLite.readLatest(commitRoot).get))
  }

  def summarize(r: Run): Unit =
    Seq("trigger_ms" -> "ss.trigger.ms_p50", "planning_ms" -> "ss.planning.ms_p50",
      "add_batch_ms" -> "ss.add_batch.ms_p50", "wal_commit_ms" -> "ss.wal_commit.ms_p50",
      "triggers" -> "ss.triggers", "rows" -> "ss.rows_per_trigger",
      "write_files" -> "icelite.write.files", "write_bytes" -> "icelite.write.bytes",
      "commit_ms" -> "icelite.commit.ms", "json_bytes" -> "icelite.commit.json_bytes",
      "folds" -> "icelite.maint.folds", "bytes_rewritten" -> "icelite.maint.bytes_rewritten",
      "delta_chain_max" -> "icelite.delta_chain.max", "files_live" -> "icelite.files.live"
    ).foreach { case (k, name) => r.setMedian(name, r.get(s"traced/layer.$k")) }
}
