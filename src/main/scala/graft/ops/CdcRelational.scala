package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2 operator inventory, demonstrated as SQL-checkable
  * dataflow stages over the driver's `events` table reinterpreted as a
  * change log (lsn = event_id, tx = user_id, op derived from
  * event_type). Each function is the DataFrame-API form of one
  * reference stage; `SparkEntry.oracleSql` carries the matching ANSI
  * SQL the DuckDB oracle runs. The REAL engine implementations of
  * these stages live in graft.stream / graft.icelite — these are their
  * observable, oracle-checkable projections.
  */
object CdcRelational {

  /** The derived change log: lsn, tx_id, key_id, op ∈ {c,u,d}.
    * `rolled_back` marks transactions to discard (T2).
    */
  def changeLog(events: DataFrame): DataFrame =
    events.select(
      col("event_id").as("lsn"),
      col("user_id").as("tx_id"),
      (((col("user_id") * 37) + (col("event_id") % 101)) % 600).as("key_id"),
      when(col("event_type") === "signup", "c")
        .when(col("event_type") === "error", "d")
        .otherwise("u").as("op"),
      col("event_type"),
      col("value"),
      (col("user_id") % 10 === 3).as("rolled_back"))

  // ---- S: sources / scans ----

  /** S2 — offset pinning: max LSN before snapshot copy
    * (`InformixConnection.java:84-90`).
    */
  def s2OffsetPin(events: DataFrame): DataFrame =
    changeLog(events).agg(
      max(col("lsn")).as("max_lsn"),
      count(lit(1)).as("n_events"))

  // ---- F: filters / projections / transforms ----

  /** F1 — table include/exclude list (`InformixConnectorConfig.java:547-553`). */
  def f1TableFilter(events: DataFrame): DataFrame =
    changeLog(events).where(col("event_type") =!= "error")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  /** F2 — column projection / capture-side pruning
    * (`InformixStreamingChangeEventSource.java:218-234`).
    */
  def f2Projection(events: DataFrame): DataFrame =
    events.select(col("event_id"), col("user_id"))
      .where(col("event_id") < 200).orderBy(col("event_id"))

  /** F3 — column masking / hashing / truncation transforms
    * (`InformixConnectorIT.java:1000-1048`).
    */
  def f3MaskHash(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      md5(concat(lit("salt:"), col("text"))).as("text_hashed"),
      substring(col("text"), 1, 10).as("text_truncated"),
      lit("********").as("text_masked"))
      .orderBy(col("doc_id"))

  /** F4 — message-key extraction (`InformixConnectorIT.java:1050-1076`). */
  def f4MessageKey(events: DataFrame): DataFrame =
    changeLog(events).select(col("lsn"), col("key_id")).orderBy(col("lsn"))

  /** F5 — value conversion matrix (`InformixValueConverters.java:54-156`):
    * numeric modes of the same source value.
    */
  def f5ValueConversion(events: DataFrame): DataFrame =
    events.select(
      col("event_id"),
      col("value").as("v_double"),
      round(col("value") * 100).cast("long").as("v_cents"),
      floor(col("value")).cast("long").as("v_floor"))
      .where(col("event_id") < 500).orderBy(col("event_id"))

  // ---- T: transaction assembly ----

  /** T1 — transaction grouping (`DbzTransactionEngine.java:88-156`). */
  def t1TxGroup(events: DataFrame): DataFrame =
    changeLog(events).groupBy(col("tx_id"))
      .agg(count(lit(1)).as("n_ops"),
        min(col("lsn")).as("begin_lsn"),
        max(col("lsn")).as("commit_lsn"))
      .orderBy(col("tx_id"))

  /** T2 — rollback discard (`DbzTransactionEngine.java:120-127`). */
  def t2RollbackDiscard(events: DataFrame): DataFrame =
    changeLog(events).where(!col("rolled_back"))
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  /** T3 — savepoint partial rollback: drop buffered ops with
    * lsn >= per-tx discard point (`DbzTransactionEngine.java:108-119`).
    */
  def t3SavepointDiscard(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("tx_id"))
    changeLog(events)
      .withColumn("discard_from", max(col("lsn")).over(w) - 100)
      .where(col("lsn") < col("discard_from"))
      .groupBy(col("tx_id")).agg(count(lit(1)).as("n_kept"))
      .orderBy(col("tx_id"))
  }

  /** T4 — empty-transaction suppression (`DbzTransactionEngine.java:137-143`). */
  def t4EmptyTx(events: DataFrame): DataFrame =
    changeLog(events).where(col("op") =!= "d")
      .groupBy(col("tx_id")).agg(count(lit(1)).as("n_ops"))
      .where(col("n_ops") > 0)
      .orderBy(col("tx_id"))

  /** T5 — restart point: lowest BEGIN among in-flight transactions
    * (`DbzTransactionEngine.java:194-196`).
    */
  def t5RestartPoint(events: DataFrame): DataFrame =
    changeLog(events).groupBy(col("tx_id")).agg(min(col("lsn")).as("begin_lsn"))
      .agg(min(col("begin_lsn")).as("restart_lsn"), count(lit(1)).as("open_txs"))

  /** T6 — before/after pairing via lag
    * (`InformixStreamingChangeEventSource.java:328-345`).
    */
  def t6BeforeAfter(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("key_id")).orderBy(col("lsn"))
    changeLog(events)
      .withColumn("before_value", lag(col("value"), 1).over(w))
      .where(col("op") === "u" && col("before_value").isNotNull)
      .select(col("key_id"), col("lsn"), col("before_value"), col("value").as("after_value"))
      .where(col("lsn") < 2000)
      .orderBy(col("lsn"))
  }

  // ---- R: recovery / exactly-once ----

  /** R1 — replay-skip by commit LSN watermark
    * (`InformixStreamingChangeEventSource.java:142-163`).
    */
  def r1ReplaySkip(events: DataFrame): DataFrame = {
    val log = changeLog(events)
    // watermark = half the max LSN (scale-free fixture for the filter)
    val wm = log.agg(floor(max(col("lsn")) / 2).cast("long").as("__wm"))
    log.crossJoin(wm).where(col("lsn") > col("__wm"))
      .groupBy(col("op")).agg(count(lit(1)).as("n"), min(col("lsn")).as("first_lsn"))
      .orderBy(col("op"))
  }

  /** R3 — monotone offset advance: per-tx running max LSN
    * (`TxLogPosition.java:53-60`).
    */
  def r3OffsetAdvance(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("tx_id")).orderBy(col("lsn"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    changeLog(events).where(col("tx_id") < 8)
      .select(col("tx_id"), col("lsn"), max(col("lsn")).over(w).as("offset_after"))
      .orderBy(col("tx_id"), col("lsn"))
  }

  /** Gap-based sessionization of the event stream (30-min inactivity
    * boundary): lag + running sum of session starts — the standard
    * streaming-analytics window pattern over CDC-shaped data.
    */
  def sessionize(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("__ms", unix_millis(col("ts").cast("timestamp")))
      .withColumn("prev_ms", lag(col("__ms"), 1).over(w))
      .withColumn("new_s",
        when(col("prev_ms").isNull ||
          col("__ms") - col("prev_ms") > 1800000L, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_s")).over(wRun))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("event_id")).as("first_event"),
        max(col("event_id")).as("last_event"))
      .orderBy(col("user_id"), col("session_id"))
  }

  // ---- A: aggregates / joins ----

  /** A1 — min/max aggregates (`DbzTransactionEngine.java:194-196`). */
  def a1MinMax(events: DataFrame): DataFrame =
    changeLog(events).groupBy(col("event_type"))
      .agg(min(col("lsn")).as("min_lsn"), max(col("lsn")).as("max_lsn"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  /** A2 — last-writer-wins dedup per key. Query-form (window +
    * row_number, SQL-oracle-expressible); the engine uses the
    * hash-aggregate `lww_max_by` instead — see [[mergeApply]]'s note.
    */
  def a2LwwDedup(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("key_id")).orderBy(col("lsn").desc)
    changeLog(events)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("key_id"), col("lsn").as("last_lsn"), col("op").as("last_op"))
      .orderBy(col("key_id"))
  }

  /** A3 — label -> table dictionary lookup join (broadcast)
    * (`DbzTransactionEngine.java:177-187`).
    */
  def a3LabelJoin(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val labels = Seq(
      ("click", "tbl_interactions"), ("view", "tbl_interactions"),
      ("purchase", "tbl_orders"), ("signup", "tbl_accounts"),
      ("error", "tbl_dlq")).toDF("event_type", "target_table")
    changeLog(events).join(broadcast(labels), Seq("event_type"))
      .groupBy(col("target_table")).agg(count(lit(1)).as("n"))
      .orderBy(col("target_table"))
  }

  // ---- E: emission ----

  /** E1 — envelope op mapping (`InformixChangeRecordEmitter.java:48-61`). */
  def e1Envelope(events: DataFrame): DataFrame =
    changeLog(events).groupBy(col("op")).agg(count(lit(1)).as("n"))
      .orderBy(col("op"))

  /** E2 — tombstones: keys whose final event is a delete
    * (`InformixConnectorIT.java:117-221`).
    */
  def e2Tombstones(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("key_id")).orderBy(col("lsn").desc)
    changeLog(events)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1 && col("op") === "d")
      .select(col("key_id"), col("lsn").as("deleted_at_lsn"))
      .orderBy(col("key_id"))
  }

  /** E5 — transaction metadata: per-tx per-kind event counts with
    * txId:commitLsn key (`InformixTransactionMonitor.java:28-52`).
    */
  def e5TxMetadata(events: DataFrame): DataFrame =
    changeLog(events).groupBy(col("tx_id"), col("op"))
      .agg(count(lit(1)).as("event_count"),
        min(col("lsn")).as("first_lsn"), max(col("lsn")).as("last_lsn"))
      .withColumn("tx_key",
        concat(col("tx_id").cast("string"), lit(":"), col("last_lsn").cast("string")))
      .orderBy(col("tx_id"), col("op"))

  /** E8 — CloudEvents id: "name:<server>;change_lsn:<lsn>;commit_lsn:<lsn>"
    * (`InformixCloudEventsMaker.java:36-45`; the reference's ceId uses
    * the source's server name and the two LSNs). Here commit_lsn = the
    * tx's max LSN.
    */
  def e8CloudEventsId(events: DataFrame, serverName: String = "graft"): DataFrame = {
    val w = Window.partitionBy(col("tx_id"))
    changeLog(events)
      .withColumn("commit_lsn", max(col("lsn")).over(w))
      .select(col("lsn"),
        concat(lit(s"name:$serverName;change_lsn:"), col("lsn").cast("string"),
          lit(";commit_lsn:"), col("commit_lsn").cast("string")).as("ce_id"))
      .where(col("lsn") < 500)
      .orderBy(col("lsn"))
  }

  /** E6 — heartbeat / per-batch lineage rows: LSN range + counts per
    * micro-batch (`InformixConnectorIT.java:1352-1427` + north-star
    * lineage requirement).
    */
  def e6Lineage(events: DataFrame): DataFrame =
    changeLog(events)
      .withColumn("batch_id", floor(col("lsn") / 1000).cast("long"))
      .groupBy(col("batch_id"))
      .agg(min(col("lsn")).as("lsn_lo"), max(col("lsn")).as("lsn_hi"),
        count(lit(1)).as("event_count"),
        sum(when(col("op") === "d", 1L).otherwise(0L)).as("deletes"))
      .orderBy(col("batch_id"))

  // ---- N: snapshot variants ----

  /** N2 — incremental-snapshot chunk boundaries (the SKIP/FIRST pk
    * window analog, `InformixConnection.java:142-151`).
    */
  def n2ChunkBoundaries(documents: DataFrame): DataFrame =
    documents
      .withColumn("chunk", floor(col("doc_id") / 100).cast("long"))
      .groupBy(col("chunk"))
      .agg(min(col("doc_id")).as("key_lo"), max(col("doc_id")).as("key_hi"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("chunk"))

  /** SCD Type-2 query form over the derived change log — the sf-scaled
    * observable of [[graft.ops.Scd2.history]] (which consumes the real
    * envelope schema): snapshot rows open each key's timeline at a pin
    * BELOW the stream (lsn -1), committed events version per key,
    * deletes close their predecessor and emit no row. ONE shuffle (the
    * key window); at 10^10 events this is the same doc_id hash space as
    * the table's bucket layout, and the per-key sort is bounded by a
    * key's version count.
    */
  def scd2Events(events: DataFrame, documents: DataFrame): DataFrame = {
    val snap = documents.select(
      col("doc_id").as("key_id"), lit(-1L).as("lsn"), lit("r").as("op"),
      substring(col("text"), 1, 20).as("content"))
    val chg = changeLog(events).where(!col("rolled_back")).select(
      col("key_id"), col("lsn"), col("op"),
      when(col("op") =!= "d",
        concat(lit("cdc:"), col("lsn").cast("string"))).as("content"))
    val w = Window.partitionBy(col("key_id")).orderBy(col("lsn"))
    snap.unionByName(chg)
      .select(col("*"), lead(col("lsn"), 1).over(w).as("valid_to"))
      .where(col("op") =!= "d")
      .select(col("key_id").as("doc_id"), col("op"), col("content"),
        col("lsn").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
      .orderBy(col("doc_id"), col("valid_from"))
  }

  /** The flagship MERGE: documents + LWW-deduped derived changes ->
    * final upserted state (c/u upsert, d delete, unmatched insert) —
    * the observable form of `MergeApply.applyBatch`.
    *
    * NOTE on shape: this QUERY-FORM uses Window+row_number because the
    * DuckDB oracle must express the identical plan in ANSI SQL. The
    * ENGINE path deliberately avoids that skew-prone shape — it dedups
    * with the map-side-combined `lww_max_by` hash aggregate
    * (`MergeApply.applyBatch`, `plans/LwwMaxBy.scala`). Same semantics,
    * different physical strategy; do not copy this window into an
    * engine path.
    */
  def mergeApply(events: DataFrame, documents: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("key_id")).orderBy(col("lsn").desc)
    val last = changeLog(events).where(!col("rolled_back"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("key_id"), col("op"), col("lsn"))
    documents.as("d")
      .join(last.as("l"), col("d.doc_id") === col("l.key_id"), "full_outer")
      .where(coalesce(col("l.op"), lit("")) =!= "d")
      .select(
        coalesce(col("d.doc_id"), col("l.key_id")).as("doc_id"),
        when(col("l.key_id").isNotNull,
          concat(lit("cdc:"), col("l.lsn").cast("string")))
          .otherwise(substring(col("d.text"), 1, 20)).as("content"),
        when(col("l.key_id").isNotNull, lit("cdc")).otherwise(col("d.source")).as("src"))
      .orderBy(col("doc_id"))
  }
}
