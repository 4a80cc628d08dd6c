package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Entry point of the engine benchmark. Runs one workload against the
  * engine's public API in this JVM and writes the run's figures as
  * JSON to `--out`; `perfbench/run.py` builds, launches and reports.
  *
  * End-to-end figures come from untraced work. With `--trace 1` part of
  * the run is traced: it gives the per-layer figures, and the untraced
  * work interleaved with it in the same run gives the tracing overhead.
  */
object Main {
  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"graft-perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the CDC pipeline's plans are explicit (one bucket repartition,
      // one hash aggregate), so adaptive re-planning only adds latency;
      // the engine's own bench runs its CDC sessions the same way
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.local.dir", s"${a.scratch}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.scratch}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val spark = session(args)
    val run = new Run(spark, args)
    val t0 = System.nanoTime()
    var crashed = false
    try {
      args.workload match {
        case "backfill" => Backfill.run(run)
        case "tail_serve" => TailServe.run(run)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } catch {
      case t: Throwable =>
        crashed = true
        System.err.println(s"[perfbench] run aborted: $t")
        t.printStackTrace()
    }
    run.add("heap_retained_mb", Jvm.retainedHeapMb)
    val (values, counts) = if (args.trace) perLayer(run) else endToEnd(run)
    val correct = !crashed && run.failed == 0 && run.attempted > 0
    val json =
      s"""{"correct":$correct,"attempted":${run.attempted},"failed":${run.failed},""" +
        s""""wall_s":${(System.nanoTime() - t0) / 1e9},""" +
        values.map { case (k, v) => s""""$k":${num(v)}""" }.mkString("\"values\":{", ",", "},") +
        counts.map { case (k, v) => s""""$k":$v""" }.mkString("\"samples\":{", ",", "}}")
    Files.write(Paths.get(args.out), json.getBytes(StandardCharsets.UTF_8))
    if (args.trace)
      Files.write(Paths.get(args.traceOut), run.spans.toJson.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).toString

  /** Medians of the untraced samples. A run holds tens of samples per
    * timing, too few for a high percentile with ten samples beyond it,
    * so only medians are reported (sample counts are printed beside).
    */
  private def endToEnd(run: Run): (Seq[(String, Double)], Seq[(String, Int)]) = {
    val series = Seq(
      "setup_s" -> (run.get("setup_s"), 0.5),
      "snapshot_s" -> (run.get("snapshot_s"), 0.5),
      "events_per_s" -> (run.get("events_per_s"), 0.5),
      "lag_ms_p50" -> (run.get("lag_ms"), 0.5),
      "lookup_ms_p50" -> (run.get("lookup_ms"), 0.5),
      "heap_retained_mb" -> (run.get("heap_retained_mb"), 0.5))
    val present = series.filter(_._2._1.nonEmpty)
    (present.map { case (k, (xs, p)) => k -> Stats.q(xs, p) },
      present.map { case (k, (xs, _)) => k -> xs.size })
  }

  /** Per-layer figures from the traced work. Workloads set the ones
    * only they can see; the scheduler counters, read spans and GC time
    * are common, normalised per traced pass or window.
    */
  private def perLayer(run: Run): (Seq[(String, Double)], Seq[(String, Int)]) = {
    val passes = math.max(1, run.get("traced/passes").size)
    val c = run.counters
    def med(xs: Seq[Double]): Option[Double] = if (xs.isEmpty) None else Some(Stats.median(xs))
    val common = Seq(
      "spark.jobs" -> Some(c.jobs.get.toDouble / passes),
      "spark.stages" -> Some(c.stages.get.toDouble / passes),
      "spark.tasks" -> Some(c.tasks.get.toDouble / passes),
      "spark.shuffle.write_bytes" -> Some(c.shuffleWrite.get.toDouble / passes),
      "spark.shuffle.read_bytes" -> Some(c.shuffleRead.get.toDouble / passes),
      "spark.task.busy_share" -> med(run.get("traced/layer.busy_share")),
      "jvm.gc_ms" -> med(run.get("traced/gc_ms")),
      "icelite.read.lookup_ms" -> med(run.spans.ms("icelite.read.lookup")),
      "icelite.read.scan_ms" -> med(run.spans.ms("icelite.read.scan")),
      "icelite.read.cdf_ms" -> med(run.spans.ms("icelite.read.cdf")),
      "icelite.read.lookup_files" -> med(run.get("traced/layer.lookup_files")),
      "icelite.read.scan_files" -> med(run.get("traced/layer.scan_files"))
    ).collect { case (k, Some(v)) => k -> v }
    val all = common ++ run.layers.toSeq.sortBy(_._1)
    val counts = Seq("traced/passes", "traced/layer.lookup_files").map(k => k -> run.get(k).size)
    (all, counts)
  }
}
