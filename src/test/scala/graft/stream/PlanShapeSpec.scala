package graft.stream

import graft.SparkSpec
import graft.changelog.{ChangeLogConfig, ChangeLogGen}
import graft.model.LogRecord
import graft.util.Fs

/** Physical-plan regression net for the engine's scale claims
  * (PLANS.md): the apply pipeline must stay ONE bucket exchange with a
  * hash-based (ObjectHashAggregate) dedup — never SortAggregate, never
  * an extra payload shuffle. If a refactor silently changes the plan,
  * this fails before any benchmark does.
  */
class PlanShapeSpec extends SparkSpec {

  private def planOf(broadcastAssembly: Boolean): String = {
    val cfg = ChangeLogConfig(nTx = 60, nDocs = 40, seed = 103)
    val base = Fs.tempDir("graft-plan")
    val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt", numBuckets = 8)
    ChangeLogGen.writeLog(spark, cfg, cdc.logDir, 1)
    val table = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
      cdc, ChangeLogGen.snapshotLsn)
    val raw = spark.read.schema(LogRecord.schema)
      .parquet(Fs.listParquet(cdc.logDir).sorted: _*)
    val prepared = CdcJob.prepareRaw(raw, "doc_id", None, Map.empty)
    val events =
      if (broadcastAssembly) TxAssembler.assembleBroadcast(prepared)
      else TxAssembler.assemble(prepared)
    val (plan, _, _, _) = MergeApply.buildDeltaPlan(table.current, events, 0L)
    val s = plan.queryExecution.executedPlan.toString
    Fs.deleteRecursively(base)
    s
  }

  private def count(plan: String, token: String): Int =
    plan.sliding(token.length).count(_ == token)

  /** Run `body` with the merged-read small-path floor set to `v`,
    * restoring the previous value afterwards.
    */
  private def withSmallMergedReadBytes[T](v: Long)(body: => T): T = {
    val prev = graft.icelite.IceLite.smallMergedReadBytes
    graft.icelite.IceLite.smallMergedReadBytes = v
    try body finally graft.icelite.IceLite.smallMergedReadBytes = prev
  }

  test("broadcast assembly: the PAYLOAD shuffles exactly once (the bucket exchange)") {
    val plan = planOf(broadcastAssembly = true)
    // exactly one exchange on the merge key — the payload's only shuffle
    assert(count(plan, "Exchange hashpartitioning(__key") == 1,
      s"expected exactly one payload (key) exchange:\n$plan")
    // any other hash exchange must be the CONTROL-records aggregation
    // (tiny tx metadata feeding the broadcast build side), never payload
    val allEx = count(plan, "Exchange hashpartitioning")
    val txEx = count(plan, "Exchange hashpartitioning(tx_id")
    assert(allEx == 1 + txEx, s"unexpected extra exchange:\n$plan")
    assert(!plan.contains("SortAggregate"),
      s"dedup fell back to SortAggregate (payload sort!):\n$plan")
    assert(plan.contains("ObjectHashAggregate"), s"expected ObjectHashAggregate:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"tx assembly should broadcast control metadata:\n$plan")
  }

  test("windowed assembly: one tx exchange + one bucket exchange, still hash dedup") {
    val plan = planOf(broadcastAssembly = false)
    assert(count(plan, "Exchange hashpartitioning(__key") == 1,
      s"expected exactly one payload (key) exchange:\n$plan")
    assert(count(plan, "Exchange hashpartitioning(tx_id") == 1,
      s"expected exactly one tx (window) exchange:\n$plan")
    assert(count(plan, "Exchange hashpartitioning") == 2,
      s"expected exactly two hash exchanges (tx window + bucket):\n$plan")
    assert(!plan.contains("SortAggregate"),
      s"dedup fell back to SortAggregate (payload sort!):\n$plan")
    assert(plan.contains("ObjectHashAggregate"), s"expected ObjectHashAggregate:\n$plan")
    // exactly ONE Window operator (all assembly expressions share a spec)
    assert(count(plan, "Window [") == 1, s"expected a single Window operator:\n$plan")
  }

  test("merge-on-read: untouched base rows never pass through a shuffle (broadcast-delta read)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
    val cfg = ChangeLogConfig(nTx = 120, nDocs = 80, seed = 131)
    val base = Fs.tempDir("graft-readplan")
    val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt", numBuckets = 8)
    ChangeLogGen.writeLog(spark, cfg, cdc.logDir, 2)
    val table = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
      cdc, ChangeLogGen.snapshotLsn)
    CdcJob.runBatchIncremental(spark, table, cdc, filesPerBatch = 1)
    assert(table.refresh().deltas.values.exists(_.nonEmpty), "fixture needs delta chains")
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // zero the small-read floor: this block pins the AT-SCALE plan
      // shape (a dirty bucket's base at 100 TB always exceeds the
      // floor); the small path is pinned below
      withSmallMergedReadBytes(0L) {
        val plan = table.read().queryExecution.executedPlan
        val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
        // the delta LWW and the touched-rows LWW — both O(delta), never O(table)
        assert(shuffles.size == 2, s"expected exactly 2 delta-scale shuffles:\n$plan")
        // the bulk of the base flows through the broadcast ANTI join straight
        // to the output — it must not sit beneath any exchange
        shuffles.foreach { e =>
          val antiBelow = e.collect {
            case j: BroadcastHashJoinExec if j.joinType == LeftAnti => j
          }
          assert(antiBelow.isEmpty,
            s"untouched-base branch found beneath a shuffle:\n$plan")
        }
        val joinTypes = plan.collect {
          case j: BroadcastHashJoinExec => j.joinType
        }
        assert(joinTypes.contains(LeftAnti) && joinTypes.contains(LeftSemi),
          s"expected broadcast anti+semi split of the base:\n$plan")
        assert(!plan.toString.contains("SortMergeJoin"))
      }

      // small-read fast path (fixture-sized dirty set): ONE global LWW
      // exchange, no broadcast split — and bit-identical rows
      val splitRows = withSmallMergedReadBytes(0L)(table.read().orderBy("doc_id").collect().toSeq)
      withSmallMergedReadBytes(8L << 20) {
        val smallPlanDf = table.read()
        val smallPlan = smallPlanDf.queryExecution.executedPlan
        val smallShuffles = smallPlan.collect { case e: ShuffleExchangeExec => e }
        assert(smallShuffles.size == 1,
          s"small merged read should be ONE global LWW exchange:\n$smallPlan")
        assert(smallPlan.collect { case j: BroadcastHashJoinExec => j }.isEmpty,
          s"small merged read should have no broadcast split:\n$smallPlan")
        assert(smallPlanDf.orderBy("doc_id").collect().toSeq == splitRows,
          "small-path rows must equal broadcast-path rows")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    Fs.deleteRecursively(base)
  }

  test("before-image read is pruned to the merge key") {
    val plan = planOf(broadcastAssembly = true)
    // the parquet ReadSchema must carry before as a single-field struct
    assert(plan.contains("before:struct<doc_id:string>"),
      s"before image not pruned to the key leaf:\n$plan")
  }
}
