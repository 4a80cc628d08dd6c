package perfbench

import graft.changelog.ChangeLogGen
import graft.icelite.{IceLite, IceLiteTable}
import graft.model.{LogRecord, TokenDoc}
import graft.stream.{CdcConfig, CdcJob, Ivm, IvmJoin, Scd2Maintain}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The maintainer tier, measured in the traced runs: fresh maintainers
  * catch up over a fact table's change feed (the `icelite.dsv2`
  * source) from its version 1, each a streaming query whose bounded
  * `maxVersionsPerTrigger` makes it two triggers. `tail_serve` runs
  * `Scd2Maintain` and an `Ivm` aggregate over its tailed table
  * ([[history]]); `backfill` runs `IvmJoin` of its table and a small dim
  * table keyed by the fact's `source`, driven through the engine with a
  * multi-version history of its own, and a cascade `Ivm` on the join
  * view ([[joined]]). Each view must equal its recompute from the final
  * sources, and the SCD2 current rows the source state.
  *
  * One maintainer costs several seconds per trigger on a 4-core
  * machine, so the tier is split over the two traced runs, each of
  * which must end within the benchmark's run limit; see the README.
  */
object Views {
  val factView = Ivm.ViewDef("n_tok", Seq("tokens_total" -> size(col("tokens"))))
  val cascadeView = Ivm.ViewDef("source", Seq(
    "total_tok" -> col("n_tok").cast("long"), "total_w" -> col("d_n_tok").cast("long")))

  /** Dim rows are keyed by the fact's `source` values ("seed" for
    * snapshot rows, "cdc" for streamed ones) plus a spare key; their
    * `n_tok` is the weight the cascade sums.
    */
  def dimDoc(seed: Long, key: String, version: Long): TokenDoc = {
    val t = ChangeLogGen.tokensFor(seed, key.hashCode.toLong, version, 16)
    TokenDoc(key, t, t.size, "dim")
  }

  def dimSeed(seed: Long): Seq[TokenDoc] =
    Seq("seed", "cdc", "spare").map(dimDoc(seed, _, 0L))

  /** One transaction per version: both partners updated (every fact row
    * changes its join partner), the spare row deleted, and one partner
    * deleted and re-created (its facts leave the join view and rejoin).
    */
  def dimLog(seed: Long): Seq[Seq[LogRecord]] = {
    val ops = Seq(Seq("u" -> "seed", "d" -> "spare", "d" -> "cdc"),
      Seq("c" -> "cdc", "u" -> "seed"))
    ops.zipWithIndex.map { case (txOps, k) =>
      val base = 100L * (k + 1)
      val tx = 2000000L + k
      def rec(i: Int, op: String, before: Option[TokenDoc], after: Option[TokenDoc]) =
        LogRecord(base + i, tx, op, -1L, "token_docs", before, after, 1700000000000L + base + i)
      val data = txOps.zipWithIndex.map { case ((op, key), i) =>
        val lsn = base + i + 1
        val stub = Some(TokenDoc(key, Seq.empty, 0, "dim"))
        op match {
          case "d" => rec(i + 1, "d", stub, None)
          case "c" => rec(i + 1, "c", None, Some(dimDoc(seed, key, lsn)))
          case _ => rec(i + 1, "u", stub, Some(dimDoc(seed, key, lsn)))
        }
      }
      (rec(0, "B", None, None) +: data) :+ rec(txOps.size + 1, "C", None, None)
    }
  }

  /** Drive the dim table through the engine: a snapshot of the seed
    * rows, then one applied version per transaction of [[dimLog]].
    */
  def buildDim(r: Run, dir: String): String = {
    val spark = r.spark
    import spark.implicits._
    val seed = r.args.seed
    val dim = CdcConfig(s"$dir/dlog", s"$dir/dim", s"$dir/dckpt", numBuckets = 2)
    ChangeLogGen.stageBatchFiles(spark, dimLog(seed), dim.logDir)
    val d = r.op("dim snapshot")(CdcJob.snapshot(spark, dimSeed(seed).toDS().toDF(), dim, 0L))
    r.op("dim history")(CdcJob.runBatchIncremental(spark, d, dim, filesPerBatch = 1))
    dim.tableRoot
  }

  /** Versions per trigger that make a catch-up from version 1 of the
    * table at `root` take two triggers.
    */
  private def perTrigger(root: String): Long =
    math.max(1L, IceLite.readLatest(root).get.snapshotId / 2)

  /** Run one fresh maintainer, a streaming query on its own session,
    * until it is current.
    */
  private def maintain[T](r: Run, name: String)(f: SparkSession => T): T = {
    val session = r.spark.newSession()
    val log = new TriggerLog
    session.streams.addListener(log)
    val (out, ms) = r.timeMs(r.op(name)(r.spans(s"stream.$name")(f(session))))
    log.awaitEnded()
    r.add(s"layer.$name.ms", ms)
    r.add(s"layer.$name.triggers", log.data.size.toDouble)
    r.log(f"  $name: ${ms / 1000}%.2f s, triggers " +
      log.data.map(_.ms("triggerExecution")).mkString(" ") + " ms")
    out
  }

  private def same(r: Run, what: String, got: IceLiteTable, want: DataFrame): Unit = {
    got.refresh()
    r.check(s"$what equals its recompute")(
      Check.fingerprint(got.read(), want.columns.toSeq) ==
        Check.fingerprint(want, want.columns.toSeq))
  }

  /** `Scd2Maintain` and an `Ivm` aggregate caught up from version 1 of
    * the fact table; the aggregate must equal its recompute from the
    * final fact table, and the SCD2 current rows the fact table's rows.
    */
  def history(r: Run, factRoot: String, dir: String): Unit = {
    val per = perTrigger(factRoot)
    val (scdRep, hist) = maintain(r, "scd2")(s => Scd2Maintain.maintain(s, factRoot,
      s"$dir/scd2rep", s"$dir/hist", s"$dir/scd2ckpt",
      maxVersionsPerTrigger = per, bootstrapAtVersion = Some(1L)))
    val (_, agg) = maintain(r, "ivm")(s => Ivm.maintain(s, factRoot, factView,
      s"$dir/ivmrep", s"$dir/agg", s"$dir/ivmckpt",
      maxVersionsPerTrigger = per, bootstrapAtVersion = Some(1L)))
    val fact = IceLite.load(r.spark, factRoot).read()
    same(r, "fact aggregate", agg, Ivm.aggregateOf(fact, factView))
    val current = Scd2Maintain.view(scdRep, hist).where(col("is_current"))
    r.check("SCD2 current rows equal the source")(
      Check.fingerprint(Check.docs(current), Check.docCols) ==
        Check.fingerprint(Check.docs(fact), Check.docCols))
  }

  /** `IvmJoin` of the fact table and a small dim table ([[buildDim]]),
    * then a cascade `Ivm` on the join view (it reads the join view, so
    * it follows it), each caught up from version 1; both must equal
    * their recompute from the final sources.
    */
  def joined(r: Run, factRoot: String, dir: String): Unit = {
    val dimRoot = buildDim(r, dir)
    val (_, _, join) = maintain(r, "ivm_join")(s => IvmJoin.maintain(s, factRoot, dimRoot,
      "source", s"$dir/jrepf", s"$dir/jrepd", s"$dir/join", s"$dir/joinckpt",
      maxVersionsPerTrigger = perTrigger(factRoot), bootstrapFAt = Some(1L),
      bootstrapDAt = Some(1L)))
    val (_, cascade) = maintain(r, "ivm_cascade")(s => Ivm.maintain(s, join.root, cascadeView,
      s"$dir/crep", s"$dir/cascade", s"$dir/cascadeckpt",
      maxVersionsPerTrigger = perTrigger(join.root), bootstrapAtVersion = Some(1L)))
    val joinedSrc = IvmJoin.joinOf(IceLite.load(r.spark, factRoot).read(),
      IceLite.load(r.spark, dimRoot).read(), "source", "doc_id")
    same(r, "join view", join, joinedSrc)
    same(r, "cascade aggregate", cascade, Ivm.aggregateOf(joinedSrc, cascadeView))
  }

  /** Per-layer figures of the maintainers this run caught up. */
  def summarize(r: Run): Unit = {
    def t(k: String) = r.get(s"traced/layer.$k")
    Seq("scd2", "ivm", "ivm_join", "ivm_cascade").filter(m => t(s"$m.ms").nonEmpty).foreach { m =>
      r.setLayer(s"stream.$m.ms", Stats.median(t(s"$m.ms")))
      r.setLayer(s"stream.$m.triggers", Stats.median(t(s"$m.triggers")))
      r.setLayer(s"stream.$m.ms_per_trigger", t(s"$m.ms").sum / t(s"$m.triggers").sum)
    }
  }
}
