package perfbench

import graft.icelite.IceLiteTable
import graft.stream.{CdcJob, MergeApply, TxAssembler}
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Per-stage cost of the apply path for one batch of raw log records,
  * measured from outside the engine: the lazy stages are forced one at
  * a time with a `noop` sink (decode, then decode+assembly, then
  * decode+assembly+LWW fold), and each stage's time is the difference
  * between successive cumulative times. Nothing is written or committed.
  */
object Stages {
  /** Records the stage samples of one batch; returns the cumulative
    * time through the LWW fold.
    */
  def decompose(r: Run, table: IceLiteTable, raw: DataFrame, batch: Long,
      broadcastAssembly: Boolean): Double = {
    def forced(df: DataFrame): Double =
      r.timeMs(df.write.format("noop").mode("overwrite").save())._2
    val recObs = Observation()
    val prepared = CdcJob.prepareRaw(raw, table.current.keyCol, None, Map.empty)
    val decode = r.spans("stream.decode", batch)(
      forced(prepared.observe(recObs, count(lit(1)).as("n"))))
    val events =
      if (broadcastAssembly) TxAssembler.assembleBroadcast(prepared, slim = true)
      else TxAssembler.assemble(prepared)
    val evObs = Observation()
    val assemble = r.spans("stream.assemble", batch)(forced(events.observe(evObs,
      count(when(col("op") =!= TxAssembler.MarkerOp, lit(1))).as("n"))))
    val ((plan, _, planObs, _), planMs) = r.timeMs(r.spans("stream.lww.plan", batch) {
      val p = MergeApply.buildDeltaPlan(table.refresh(), events, batch)
      p._1.queryExecution.executedPlan
      p
    })
    val lww = r.spans("stream.lww", batch)(forced(plan))
    def n(o: Observation, k: String): Double = o.get(k).asInstanceOf[Number].doubleValue
    r.add("layer.decode_ms", decode)
    r.add("layer.decode_records", n(recObs, "n"))
    r.add("layer.assemble_ms", assemble - decode)
    r.add("layer.events", n(evObs, "n"))
    r.add("layer.lww_plan_ms", planMs)
    r.add("layer.lww_ms", lww - assemble)
    r.add("layer.lww_keys", n(planObs, "n_keys"))
    lww
  }

  /** Per-layer figures from the samples [[decompose]] recorded. */
  def summarize(r: Run): Unit = {
    def t(k: String) = r.get(s"traced/layer.$k")
    Seq("decode_ms" -> "stream.decode.ms", "decode_records" -> "stream.decode.records",
      "assemble_ms" -> "stream.assemble.ms", "lww_plan_ms" -> "stream.lww.plan_ms",
      "lww_ms" -> "stream.lww.ms"
    ).foreach { case (k, name) => r.setLayer(name, Stats.median(t(k))) }
    r.setLayer("stream.assemble.events_per_record", t("events").sum / t("decode_records").sum)
    r.setLayer("stream.lww.keys_per_event", t("lww_keys").sum / t("events").sum)
  }
}
