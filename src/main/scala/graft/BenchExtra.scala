package graft

import org.apache.spark.sql.SparkSession

/** Extra benchmark main for optimization work (guide §1.4): times an
  * arbitrary subset of the declared queries with the SAME session
  * configuration and action as `Bench` part 1, printing one line per
  * query per repeat. `Bench` itself is frozen for measurement; this
  * main exists so individual cells can be isolated, repeated and
  * diffed without touching the driver's harness.
  *
  * Usage: `runMain graft.BenchExtra <query> [<query> ...]`
  *   SPARK_GRAFT_SF_DIR   data dir (default /root/testdata/sf0.1)
  *   SPARK_GRAFT_CPUS     local core count (default 32)
  *   GRAFT_BENCH_REPEATS  timed repeats per query (default 1)
  *   GRAFT_BENCH_NOOP     "true" = noop-sink write instead of count()
  *                        (times every column, guide §1.4)
  *   GRAFT_EXPLAIN_DIR    if set, writes <dir>/<query>.txt with
  *                        explain("formatted") of the query's plan
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val repeats = sys.env.getOrElse("GRAFT_BENCH_REPEATS", "1").toInt
    val noop = sys.env.get("GRAFT_BENCH_NOOP").exists(_.toBoolean)
    val explainDir = sys.env.get("GRAFT_EXPLAIN_DIR")
    val builder0 = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-extra-$cpus")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("GRAFT_BENCH_SHUFFLE", cpus.toString))
    // GRAFT_QE_LOG=1: per-action planning/execution breakdown (QeLog);
    // static conf so every harness newSession builds its own instance
    val spark = (if (sys.env.get("GRAFT_QE_LOG").exists(_ == "1"))
      builder0.config("spark.sql.queryExecutionListeners", "graft.tools.QeLog")
    else builder0)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir",
        sys.env.getOrElse("GRAFT_TMPDIR",
          if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get("/dev/shm")))
            "/dev/shm/graft-bench"
          else System.getProperty("java.io.tmpdir")))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // same warmup as Bench part 1
    SparkEntry.queries("a2_lww_dedup")(spark, sfDir).count()
    val names = if (args.nonEmpty) args.toSeq else Seq("cdc_merge_apply")
    names.foreach { name =>
      (1 to repeats).foreach { r =>
        spark.sparkContext.setJobDescription(s"bench-extra: $name #$r")
        val classes0 = generatedClasses()
        val t0 = System.nanoTime()
        try {
          val df = SparkEntry.queries(name)(spark, sfDir)
          explainDir.foreach { dir =>
            java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(dir, s"$name.txt"),
              df.queryExecution.explainString(
                org.apache.spark.sql.execution.FormattedMode))
          }
          if (noop) df.write.format("noop").mode("overwrite").save()
          else df.count()
        } catch {
          case e: Throwable => System.err.println(s"[bench-extra] $name: $e")
        }
        println(f"[bench-extra] $name%-28s #$r ${(System.nanoTime() - t0) / 1e9}%8.3f s " +
          s"[codegen: ${generatedClasses() - classes0} new classes]")
      }
    }
    spark.stop()
  }

  /** Classes generated so far in this JVM: an exact counter (one
    * histogram update per generated class), unlike the compile-time
    * histogram's decaying reservoir, whose mean x count is no total.
    */
  private def generatedClasses(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount
}
