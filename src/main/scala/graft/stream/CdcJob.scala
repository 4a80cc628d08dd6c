package graft.stream

import graft.icelite.{IceLite, IceLiteTable, IceSummary}
import graft.model.LogRecord
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Snapshot modes — the reference's full snapshot.mode surface
  * (`InformixConnectorConfig.java:55-106`) re-expressed for an
  * immutable-snapshot source:
  *   - initial / initial_only: snapshot once, then stream (only);
  *   - no_data: schema + offset pin, no rows;
  *   - always: re-snapshot on every start;
  *   - when_needed: snapshot iff the sink is missing OR the checkpoint
  *     predates the retained log (auto re-snapshot, see
  *     [[CdcJob.validateOrResnapshot]]);
  *   - recovery: the sink MUST already exist — rebuild the schema
  *     metadata from it (the analog of recovering a lost schema-history
  *     topic: data files are intact, history is reconstructed) and
  *     resume streaming from its watermark;
  *   - configuration_based: behavior chosen by the
  *     `configSnapshotData` / `configSnapshotSchema` flags
  *     (`snapshot.mode.configuration.based.*`);
  *   - custom: user-supplied hook ([[CdcConfig.customSnapshot]]), the
  *     analog of `snapshot.mode.custom.name`.
  */
object SnapshotMode extends Enumeration {
  val Initial, InitialOnly, NoData, Always, WhenNeeded,
    Recovery, ConfigurationBased, Custom = Value
}

/** Regex capture filters — the reference's `table.include.list` /
  * `table.exclude.list` / `column.exclude.list` config surface
  * (`InformixConnectorConfig.java:547-553`; behavior pinned by
  * `InformixConnectorIT.java:588-806`). Table patterns match the table
  * name; column patterns match the qualified `<table>.<column>` name.
  * A table is captured iff it matches the include side (always true when
  * no include is configured) and matches no exclude pattern; an excluded
  * column is never captured (its value ships as NULL on every event —
  * the closed-schema analog of the reference omitting the field). The
  * merge key is exempt from column exclusion, as from masking.
  */
final case class CaptureFilters(
    tableIncludeRegex: Option[Seq[String]] = None,
    tableExcludeRegex: Seq[String] = Nil,
    columnExcludeRegex: Seq[String] = Nil) {
  def isEmpty: Boolean =
    tableIncludeRegex.isEmpty && tableExcludeRegex.isEmpty && columnExcludeRegex.isEmpty
}

object CaptureFilters {
  val none: CaptureFilters = CaptureFilters()
  /** One anchored alternation so a row is tested with a single regex. */
  def anchored(patterns: Seq[String]): String =
    patterns.mkString("^(?:", "|", ")$")
}

final case class CdcConfig(
    logDir: String,
    tableRoot: String,
    checkpointDir: String,
    keyCol: String = "doc_id",
    numBuckets: Int = 64,
    maxFilesPerTrigger: Int = 4,
    snapshotMode: SnapshotMode.Value = SnapshotMode.Initial,
    /** Broadcast tx-metadata assembly: payload never shuffles for
      * assembly. Right when transactions are sizeable (txs-per-batch
      * small enough to broadcast); default windowed is always safe. */
    broadcastAssembly: Boolean = false,
    /** Table include list (F1 — the reference's table.include.list,
      * `InformixConnectorConfig.java:547-553`); None = capture all.
      * System tables (sys*) are always excluded, as in the reference.
      */
    tableInclude: Option[Seq[String]] = None,
    /** Regex include/exclude lists for tables and columns (F1/F2 parity
      * with the reference's regex config surface — see [[CaptureFilters]]).
      */
    filters: CaptureFilters = CaptureFilters.none,
    /** Column transforms (F3 — the reference's column.mask.with.N.chars
      * / column.mask.hash.*.with.salt / column.truncate.to.N.chars,
      * asserted by `InformixConnectorIT.java:1000-1048`): column name ->
      * "mask:N" | "sha256:SALT" | "truncate:N", applied to the after
      * image before MERGE. The merge key must not be transformed.
      */
    columnTransforms: Map[String, String] = Map.empty,
    /** Row-level event gate — the analog of Debezium's `Filter` SMT
      * (`io.debezium.transforms.Filter`, filter.condition): a predicate
      * over the AFTER image; a data event ('c'/'u'/'r') whose
      * after-image fails it (or evaluates null) is dropped BEFORE
      * assembly/merge. Event-drop semantics, exactly like the SMT: a
      * failing update is simply not applied (the sink keeps the key's
      * prior version); deletes and control records always pass (no
      * after image). Debezium applies SMTs to EVERY record — snapshot
      * READ events included — so the same predicate also gates the
      * initial snapshot ([[CdcJob.snapshot]]) and signal-driven
      * incremental/blocking snapshot chunks ([[Signals.process]]). The
      * LLM-pipeline use is the ingest-time quality gate: e.g.
      * `length(col("after.text")) >= 32` keeps junk documents from ever
      * entering the corpus sink. */
    rowFilter: Option[Column] = None,
    /** Snapshot statement override — the reference's
      * `snapshot.select.statement.overrides` (Debezium's per-table
      * custom snapshot SELECT: snapshot only a subset of rows/columns,
      * e.g. `WHERE delete_flag = 0`). The engine form is a relational
      * transform applied to the snapshot SOURCE only: the streaming
      * phase is deliberately NOT restricted (exactly the reference's
      * semantics — a row excluded from the snapshot still materializes
      * on its first streamed change event). Runs BEFORE the
      * [[rowFilter]] gate; must preserve the merge key column. */
    snapshotOverride: Option[DataFrame => DataFrame] = None,
    /** Operations to skip on every ingest path — the reference's
      * `skipped.operations` config (values c/u/d/t; Debezium's 'none'
      * = the empty set here). Skipped data events are dropped BEFORE
      * assembly, exactly like the reference drops them before emit;
      * control records (B/C/R/D) always pass — a transaction whose
      * every op is skipped still closes and advances the offset. */
    skippedOperations: Set[String] = Set.empty,
    /** Per-table message-key override on the EMISSION surface — the
      * reference's `message.key.columns`
      * (`<tableRegex>:<col1>,<col2>;...`): first matching regex wins,
      * and the emitted record key becomes the listed after-image
      * fields joined with ':'. The MERGE key is structural and never
      * rewritten (only the outbound record key is). */
    messageKeyColumns: Seq[(String, Seq[String])] = Nil,
    /** Topic routing on the emission surface — the reference's
      * ByLogicalTableRouter SMT (`topic.regex` / `topic.replacement`,
      * Java capture-group backrefs like `$$1` supported): an emitted
      * record's topic = the replacement when the table matches, else
      * the table name itself. */
    topicRouting: Option[(String, String)] = None,
    /** Content-based topic routing on the emission surface — the
      * reference ecosystem's ContentBasedRouter SMT (Debezium
      * scripting: an expression over the record computes the topic).
      * The engine form is a Catalyst [[Column]] over the emitted
      * record (`topic`, `op`, `key`, `table`, `commit_lsn`,
      * `after.*`, `before.*`): a non-null string result reroutes the
      * record, null keeps the [[topicRouting]] (or table-name) topic —
      * the SMT-chain contract. Codegen'd expression, zero extra
      * passes; a delete's tombstone inherits its delete's routed
      * topic. */
    contentRouting: Option[Column] = None,
    /** Signal directory (E7): polled between micro-batches for
      * incremental/blocking snapshot requests — see [[Signals]]. */
    signalDir: Option[String] = None,
    /** Emitted-record sink (the Kafka-topic analog): when set, every
      * micro-batch ALSO writes its committed change events as
      * (key, envelope) records — with `tombstonesOnDelete` applied — to
      * `<emitDir>/batch-N`, and per-transaction metadata rows — with
      * `returnEmptyTransactions` applied — to `<emitDir>/tx-batch-N`
      * (both overwrite-per-batchId, so replays are idempotent). Off by
      * default: emission is a second pass over the batch, for users who
      * chain a compacted topic / downstream consumer off the stream.
      */
    emitDir: Option[String] = None,
    /** Emission parity switches (applied on the [[emitDir]] sink): the
      * reference's `tombstones.on.delete`
      * (`InformixConnectorIT.java:117-221`) and
      * `cdc.return.empty.transactions`
      * (`InformixConnectorConfig.java:377-385`).
      */
    tombstonesOnDelete: Boolean = true,
    returnEmptyTransactions: Boolean = false,
    /** Flatten the emitted record stream — ExtractNewRecordState in the
      * sink chain ([[graft.ops.Unwrap]]): emitted records are plain
      * rows (delete rewrite mode, before image resurrected, `__deleted`
      * marker, `__op`/`__topic`/`__key`/`__lsn` metadata); tombstones
      * are dropped (the SMT's `drop.tombstones` default — a flattened
      * stream has no use for them). Envelope emission is the default. */
    emitFlatten: Boolean = false,
    /** Serialize the emitted record stream to the reference's Kafka
      * wire format ([[graft.ops.WireJson]]): each record becomes
      * (topic, key JSON, value JSON) with the Debezium envelope —
      * before/after/source{commit_lsn, change_lsn, begin_lsn, txId}/op —
      * and deletes are followed by null-value tombstone records. A
      * consumer built for the reference's topics reads this sink
      * unchanged; [[graft.ops.WireJson.fromWire]] ingests it back.
      * Mutually exclusive with [[emitFlatten]]. */
    emitWire: Boolean = false,
    /** Emit wire records with the BINARY value framing
      * ([[graft.ops.WireBinary]] — the Avro-converter analog: ~0.6x
      * the JSON bytes, positional decode). Same topics/keys/tombstone
      * contract as [[emitWire]]. The frames are schema-driven and NOT
      * self-describing: consumers decode with the producer's payload
      * schema, so additive evolution must be coordinated out-of-band
      * (the JSON wire stays the self-describing option). Mutually
      * exclusive with [[emitWire]] and [[emitFlatten]]. */
    emitWireBinary: Boolean = false,
    /** Wire-source schema evolution ([[WireSource]] consumers only):
      * infer additive after-image fields from each micro-batch's JSON
      * and propagate them to the sink schema (E4 over the wire). Costs
      * ~one extra parse pass per batch; disable for fixed-schema
      * topics and widen the sink out-of-band instead. */
    wireInferEvolution: Boolean = true,
    /** Cross-batch open-transaction carryover (the distributed analog of
      * the reference's tx buffering, `DbzTransactionEngine.java:88-156`):
      * records of transactions not yet closed in a batch are staged under
      * `<table>/_pending/batch-N` and prepended to batch N+1, so log
      * files need NOT be aligned to commit boundaries. Requires in-order
      * batch delivery of a transaction's records (the reference reads its
      * log sequentially too). Off by default: it costs one extra small
      * write per batch and is unnecessary when the log writer closes
      * files on commit boundaries (as graft.changelog does). */
    txCarryover: Boolean = false,
    /** Stateful-assembly state bound: max buffered records per open
      * transaction (see [[StatefulAssembly.DefaultMaxBufferedPerTx]]). */
    maxTxRecords: Int = StatefulAssembly.DefaultMaxBufferedPerTx,
    /** Dead-letter dir for poison transactions (stateful path): when
      * set, a transaction exceeding `maxTxRecords` is QUARANTINED — its
      * records land in `<dlqDir>/batch-N` and the stream keeps going —
      * instead of failing the query. */
    dlqDir: Option[String] = None,
    /** Concurrent compaction: fold over-threshold delta chains on a
      * background daemon ([[graft.icelite.Maintenance.CompactionDaemon]])
      * instead of inside the apply — removes the compaction latency
      * spike from the batch that trips `maxDeltaChain`. Conflict-safe
      * (changed-file-set commit check); off by default. */
    asyncCompaction: Boolean = false,
    /** configuration_based mode flags — the reference's
      * `snapshot.mode.configuration.based.snapshot.data` /
      * `...snapshot.schema` (`InformixConnectorConfig.java:55-106`). */
    configSnapshotData: Boolean = true,
    configSnapshotSchema: Boolean = true,
    /** custom mode hook — the analog of `snapshot.mode.custom.name`:
      * given (session, source view, this config, pin LSN), produce the
      * initial table however the deployment needs. */
    customSnapshot: Option[(SparkSession, DataFrame, CdcConfig, Long) => IceLiteTable] = None,
    /** Heartbeat action — the analog of `heartbeat.action.query`
      * (`InformixConnectorTask.java:158-162`): a SQL statement executed
      * once per micro-batch boundary (side effects only; typically an
      * INSERT into a heartbeat table so downstream lag monitors see the
      * pipeline alive even when the source is quiet). */
    heartbeatActionSql: Option[String] = None
)

/** End-to-end CDC ingest job: snapshot-then-stream, the lifecycle of
  * `InformixConnectorTask.start` + `ChangeEventSourceCoordinator`
  * (`InformixConnectorTask.java:84-195`) re-expressed as a batch
  * snapshot write followed by a Structured Streaming query whose
  * micro-batches run assemble -> merge-apply.
  */
object CdcJob {

  /** Phase 1 — consistent snapshot (S1-S4, N1): pin `snapshotLsn` BEFORE
    * copying (analog of `getMaxLsn`,
    * `InformixSnapshotChangeEventSource.java:121-137`), bucket the
    * source rows, commit one atomic snapshot whose watermark is
    * (snapshotLsn, Long.MaxValue) so the stream applies strictly-after
    * events only. Locking (S4) is unnecessary: the source is an
    * immutable table version, which gives the same consistency the
    * reference buys with LOCK TABLE.
    */
  /** Apply the Filter-SMT row gate to a FLAT source view (snapshot
    * paths): the predicate is written against the after image
    * (`col("after.x")`), so the source row is exposed as a transient
    * `after` struct for evaluation. Null = drop, like the stream gate.
    */
  def gateSource(source: DataFrame, rowFilter: Option[Column]): DataFrame =
    rowFilter match {
      case None => source
      case Some(pred) =>
        // the transient struct MUST be named `after` (that is the
        // predicate's contract) — refuse a source that already has one
        // rather than silently clobbering and dropping its data
        require(!source.columns.contains("after"),
          "rowFilter cannot gate a source that itself has a column named 'after' " +
            "(the gate exposes the row as a transient `after` struct)")
        source.withColumn("after", struct(source.columns.map(col).toSeq: _*))
          .where(coalesce(pred, lit(false)))
          .drop("after")
    }

  def snapshot(
      spark: SparkSession,
      sourceRaw: DataFrame,
      cfg: CdcConfig,
      snapshotLsn: Long
  ): IceLiteTable = {
    // snapshot.select.statement.overrides analog: the per-table custom
    // snapshot SELECT, applied to the snapshot source only (streaming is
    // never restricted by it)
    val overridden = cfg.snapshotOverride.fold(sourceRaw) { f =>
      val out = f(sourceRaw)
      require(out.columns.contains(cfg.keyCol),
        s"snapshotOverride must preserve the merge key column '${cfg.keyCol}'")
      out
    }
    // one configured gate covers every ingest path: READ rows the
    // stream lane would drop never enter via the snapshot lane either
    val source = gateSource(overridden, cfg.rowFilter)
    val table = IceLite.create(spark, cfg.tableRoot,
      MergeApply.asNullable(source.schema).asInstanceOf[org.apache.spark.sql.types.StructType],
      cfg.keyCol, cfg.numBuckets)
    val snap = table.current
    // snapshot rows carry version (snapshotLsn, Long.MaxValue): any stream
    // event with commit_lsn > snapshotLsn beats them, events at or before
    // the pin lose — exactly the reference's "stream strictly after the
    // pinned max LSN" rule.
    val rows = source
      .withColumn(IceLite.VC, lit(snapshotLsn))
      .withColumn(IceLite.VL, lit(Long.MaxValue))
      .withColumn(IceLite.TOMB, lit(false))
      .withColumn("__bucket", IceLite.bucketCol(col(cfg.keyCol), cfg.numBuckets))
    val commitRel = "data/base-snapshot"
    // row count observed ON the write — a 100 TB initial snapshot must be
    // exactly ONE pass over the source, never a second count scan.
    // The bucket repartition (the SAME HashPartitioning the delta write
    // uses — pmod(hash(key), n) IS the bucket function) makes the base
    // layout bucket-aligned: ONE file per bucket, instead of the
    // inputPartitions x buckets file explosion a bare partitionBy
    // produces (at cluster scale that is millions of tiny base files;
    // every merged read and compaction pays for them forever). Its
    // write tasks hold whole buckets, at most defaultParallelism of them.
    val obs = org.apache.spark.sql.Observation()
    val files =
      if (cfg.snapshotMode == SnapshotMode.NoData) Map.empty[Int, Seq[String]]
      else IceLite.writeBucketed(
        IceLite.packBuckets(rows.repartition(cfg.numBuckets, col(cfg.keyCol)), cfg.numBuckets)
          .observe(obs, count(lit(1)).as("n")),
        cfg.tableRoot, commitRel)
    val nRows =
      if (cfg.snapshotMode == SnapshotMode.NoData) 0L
      else obs.get.get("n") match {
        case Some(v: java.lang.Number) => v.longValue()
        case _ => -1L
      }
    table.commitNext { cur =>
      if (cur.snapshotId != snap.snapshotId) None
      else Some(cur.copy(
        base = files,
        changed = Map.empty, // snapshot base state is not a change-feed entry
        summary = IceSummary(-1L, -1L, -1L, snapshotLsn, Long.MaxValue,
          snapshotLsn, Long.MaxValue, -1L, -1L,
          -1L, -1L, nRows, 0L, s"snapshot:${cfg.snapshotMode}")))
    }.getOrElse(throw new IllegalStateException("snapshot commit conflict"))
    table
  }

  /** Create-or-load the sink according to the snapshot mode. */
  def ensureTable(
      spark: SparkSession,
      source: => DataFrame,
      cfg: CdcConfig,
      snapshotLsn: Long
  ): IceLiteTable = {
    val exists = IceLite.exists(cfg.tableRoot)
    cfg.snapshotMode match {
      case SnapshotMode.Always =>
        if (exists) {
          // the zone-map daemon may still be writing a sidecar for a
          // just-applied batch of this table — let it land before the
          // recursive delete walks the tree (delete-vs-write race);
          // then drop cached sidecars so the recreated fixed-name
          // snapshot dir isn't pinned to the dead table's stats
          graft.icelite.ZoneMaps.flush()
          graft.util.Fs.deleteRecursively(cfg.tableRoot)
          graft.icelite.ZoneMaps.clearCache()
        }
        snapshot(spark, source, cfg, snapshotLsn)
      case SnapshotMode.Recovery =>
        // the reference's recovery mode rebuilds a lost schema history
        // from current structures: data files must exist; metadata is
        // reconstructed by committing a fresh schema snapshot (additive
        // merge with the live source schema) on top of them
        if (!exists) throw new IllegalStateException(
          "snapshot mode recovery requires an existing sink table " +
            "(reference: recovery rebuilds schema history, never data)")
        val table = IceLite.load(spark, cfg.tableRoot)
        val cur = table.refresh()
        val recovered = MergeApply.mergedSchema(cur.schema,
          MergeApply.asNullable(source.schema).asInstanceOf[org.apache.spark.sql.types.StructType],
          keepTypeFor = Set(cur.keyCol))
        table.commitNext { head =>
          if (head.snapshotId != cur.snapshotId) None
          else Some(head.copy(schema = recovered, changed = Map.empty,
            summary = head.summary.copy(note = "recovery:schema-rebuilt")))
        }.getOrElse(throw new IllegalStateException("recovery commit conflict"))
        table
      case SnapshotMode.ConfigurationBased =>
        if (exists) IceLite.load(spark, cfg.tableRoot)
        else if (cfg.configSnapshotData) snapshot(spark, source, cfg, snapshotLsn)
        else if (cfg.configSnapshotSchema)
          snapshot(spark, source, cfg.copy(snapshotMode = SnapshotMode.NoData), snapshotLsn)
        else throw new IllegalStateException(
          "configuration_based: no sink table and both data and schema snapshots disabled")
      case SnapshotMode.Custom =>
        val hook = cfg.customSnapshot.getOrElse(throw new IllegalStateException(
          "snapshot mode custom requires CdcConfig.customSnapshot " +
            "(the snapshot.mode.custom.name analog)"))
        if (exists) IceLite.load(spark, cfg.tableRoot)
        else hook(spark, source, cfg, snapshotLsn)
      case SnapshotMode.WhenNeeded | SnapshotMode.Initial | SnapshotMode.InitialOnly |
          SnapshotMode.NoData =>
        if (exists) IceLite.load(spark, cfg.tableRoot)
        else snapshot(spark, source, cfg, snapshotLsn)
    }
  }

  /** R4 — offset validation on restart
    * (`InformixConnection.java:105-120`): the resume point (max of the
    * applied watermark and the snapshot pin) must cover everything the
    * log may have garbage-collected. Events with lsn < minRetainedLsn
    * can no longer be read, so they must all already be applied or
    * covered by the snapshot pin: resume >= minRetainedLsn - 1.
    */
  def validateRestartOffset(table: IceLiteTable, cfg: CdcConfig): Boolean = {
    val sm = table.refresh().summary
    val resume = math.max(sm.watermarkCommit, sm.floorCommit)
    resume >= LogRetention.minRetainedLsn(cfg.logDir) - 1
  }

  /** R4 enforcement at stream start: when the checkpointed offset
    * predates the retained log, either run an automatic blocking
    * re-snapshot from a CURRENT consistent source view (snapshot modes
    * when_needed/always — the reference's `when_needed` contract) or
    * refuse to stream (all other modes), exactly like the reference
    * refuses when `restartLsn < minAvailableLsn`.
    *
    * @param currentSource a consistent view of the source as of pinLsn
    *                      (it must reflect every GC'd event)
    */
  def validateOrResnapshot(table: IceLiteTable, cfg: CdcConfig,
      currentSource: => DataFrame, pinLsn: => Long): Boolean = {
    if (validateRestartOffset(table, cfg)) false
    else cfg.snapshotMode match {
      case SnapshotMode.WhenNeeded | SnapshotMode.Always =>
        // reconciling snapshot: upserts AND tombstones for keys whose
        // deletes fell into the GC'd gap — state-complete recovery
        IncrementalSnapshot.reconcile(table, currentSource, pinLsn)
        true
      case _ =>
        val sm = table.current.summary
        throw new IllegalStateException(
          s"restart offset (watermark=${sm.watermarkCommit}, pin=${sm.floorCommit}) predates " +
            s"the log's min retained LSN ${LogRetention.minRetainedLsn(cfg.logDir)}: events were " +
            "garbage-collected before they were applied. Re-snapshot required " +
            "(snapshot mode when_needed re-snapshots automatically).")
    }
  }

  /** Apply F3 column transforms to the after image, preserving nullity
    * of the struct itself and of each field (mask never materializes a
    * value where the source had NULL). Transforms target STRING columns
    * only — rewriting a non-string field to a string would make the
    * delta parquet's physical type conflict with the table schema and
    * corrupt every later read, so that is rejected up front.
    */
  def transformAfter(df: DataFrame, transforms: Map[String, String]): DataFrame = {
    if (transforms.isEmpty) return df
    val afterType = df.schema("after").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    transforms.keys.foreach { name =>
      afterType.fields.find(_.name == name) match {
        case None =>
          throw new IllegalArgumentException(
            s"column transform targets unknown column '$name' (after-image fields: " +
              afterType.fieldNames.mkString(", ") + ")")
        case Some(f) if f.dataType != org.apache.spark.sql.types.StringType =>
          throw new IllegalArgumentException(
            s"column transform '${transforms(name)}' targets non-string column " +
              s"'$name: ${f.dataType.simpleString}' — mask/hash/truncate are defined " +
              "for string columns only (reference: Debezium column.mask/truncate SMTs)")
        case _ => ()
      }
    }
    val rebuilt = struct(afterType.fields.map { f =>
      val c = col("after").getField(f.name)
      (transforms.get(f.name) match {
        case Some(spec) if spec.startsWith("mask:") =>
          when(c.isNull, lit(null).cast("string"))
            .otherwise(lit("*" * spec.stripPrefix("mask:").toInt))
        case Some(spec) if spec.startsWith("sha256:") =>
          sha2(concat(lit(spec.stripPrefix("sha256:")), c.cast("string")), 256)
        case Some(spec) if spec.startsWith("truncate:") =>
          substring(c.cast("string"), 1, spec.stripPrefix("truncate:").toInt)
        case _ => c
      }).as(f.name)
    }.toSeq: _*)
    val rebuiltType = df.select(rebuilt.as("x")).schema("x").dataType
    df.withColumn("after",
      when(col("after").isNull, lit(null).cast(rebuiltType)).otherwise(rebuilt))
  }

  /** The shared raw-record preparation pipeline (F1 filter, before-image
    * pruning, PK-changing-update normalization, F3 transforms) — every
    * ingest path (micro-batch, deterministic runner, stateful assembly)
    * MUST go through this so configured privacy transforms and table
    * filters are never silently skipped.
    *
    * @param prune project the before image down to the merge key (the
    *              only field the engine consults); leave false when the
    *              caller needs full typed LogRecord rows (stateful path)
    */
  def prepareRaw(rawBatch: DataFrame, keyCol: String,
      tableInclude: Option[Seq[String]],
      columnTransforms: Map[String, String],
      prune: Boolean = true,
      filters: CaptureFilters = CaptureFilters.none,
      rowFilter: Option[Column] = None,
      skippedOperations: Set[String] = Set.empty,
      keepBeforeFields: Seq[String] = Nil): DataFrame = {
    // F1 table filter: keep control records (they close transactions for
    // every table) and data ops of captured tables only; sys* always out.
    // Include side = literal list OR regex list (a table passes if it
    // matches either configured form; both absent = capture all); the
    // exclude regexes then remove matches — reference precedence
    // (`InformixConnectorConfig.java:547-553`).
    val filtered0 = rawBatch.where(!col("table").startsWith("sys"))
    val includeTests: Seq[Column] =
      tableInclude.map(incl => col("table").isin(incl.map(x => x: Any): _*)).toSeq ++
        filters.tableIncludeRegex.filter(_.nonEmpty)
          .map(ps => col("table").rlike(CaptureFilters.anchored(ps))).toSeq
    val includeOk =
      if (includeTests.isEmpty) lit(true) else includeTests.reduce(_ || _)
    val excludeHit =
      if (filters.tableExcludeRegex.isEmpty) lit(false)
      else col("table").rlike(CaptureFilters.anchored(filters.tableExcludeRegex))
    val filtered =
      if (includeTests.isEmpty && filters.tableExcludeRegex.isEmpty) filtered0
      else filtered0.where(
        col("op").isin("B", "C", "R", "D") || (includeOk && !excludeHit))
    // F2 column exclusion: an excluded column is never captured — its
    // value is nulled on every before/after image (qualified-name regex;
    // the merge key is exempt, like masking).
    val colFiltered =
      if (filters.columnExcludeRegex.isEmpty) filtered
      else {
        val pat = CaptureFilters.anchored(filters.columnExcludeRegex)
        def scrub(field: String): Column = {
          val st = filtered.schema(field).dataType
            .asInstanceOf[org.apache.spark.sql.types.StructType]
          val rebuilt = struct(st.fields.map { f =>
            val v = col(field).getField(f.name)
            (if (f.name == keyCol) v
             else when(concat(col("table"), lit("." + f.name)).rlike(pat),
               lit(null).cast(f.dataType)).otherwise(v)).as(f.name)
          }.toSeq: _*)
          when(col(field).isNull, lit(null).cast(st)).otherwise(rebuilt)
        }
        filtered.withColumn("before", scrub("before"))
          .withColumn("after", scrub("after"))
      }
    // Filter-SMT row gate: data events failing the after-image predicate
    // (SQL three-valued: null = fail) are dropped here — before pruning,
    // so the predicate may reference any after field.
    val gated0 = rowFilter match {
      case None => colFiltered
      case Some(pred) => colFiltered.where(
        !col("op").isin("c", "u", "r") || coalesce(pred, lit(false)))
    }
    // skipped.operations: drop the configured data ops before assembly
    // (control records pass — a fully-skipped tx still closes, T4-style).
    // Validated loudly: a typo'd control op ("C") would otherwise stop
    // every transaction from ever closing.
    val gated =
      if (skippedOperations.isEmpty) gated0
      else {
        val invalid = skippedOperations -- Set("c", "u", "d", "t", "r")
        require(invalid.isEmpty,
          s"skipped.operations accepts data ops c/u/d/t/r only, got: ${invalid.mkString(",")}")
        gated0.where(!col("op").isin(skippedOperations.toSeq.map(x => x: Any): _*))
      }
    // The before-image is only ever consulted for the merge KEY (deletes
    // carry the key in `before`) plus any fields the EMISSION surface
    // needs from it (message.key.columns overrides must produce the
    // SAME record key on a delete as on the create — a compacted-topic
    // consumer reconciles by key), so the engine path prunes it to just
    // those nested fields right above the scan.
    val beforeFields = (keyCol +: keepBeforeFields).distinct
    val pruned =
      if (!prune) gated
      else gated.select(
        col("lsn"), col("tx_id"), col("op"), col("discard_from"), col("ts_ms"),
        col("table"), col("after"),
        struct(beforeFields.map(f => col("before").getField(f).as(f)): _*).as("before"))
    // PK-changing update -> delete(old key) + insert(new key), matching
    // the reference's envelope contract (a primary-key update arrives as
    // delete+tombstone+insert, `InformixConnectorIT.java:257-352`).
    // Defensive — sources following the contract never produce these —
    // and single-pass: an explode over a 1-or-2 element op array, so the
    // batch is scanned once (a union of filtered branches would scan it
    // three times).
    val bKey = col("before").getField(keyCol)
    val aKey = col("after").getField(keyCol)
    val normalized = pruned
      .withColumn("__pk",
        col("op") === "u" && bKey.isNotNull && aKey.isNotNull && bKey =!= aKey)
      .withColumn("op",
        explode(when(col("__pk"), array(lit("d"), lit("c"))).otherwise(array(col("op")))))
      .withColumn("after", when(col("__pk") && col("op") === "d",
        lit(null).cast(pruned.schema("after").dataType)).otherwise(col("after")))
      .withColumn("before", when(col("__pk") && col("op") === "c",
        lit(null).cast(pruned.schema("before").dataType)).otherwise(col("before")))
      .drop("__pk")
    transformAfter(normalized, columnTransforms - keyCol)
  }

  def processBatch(table: IceLiteTable, rawBatch: DataFrame, batchId: Long,
      broadcastAssembly: Boolean = false,
      tableInclude: Option[Seq[String]] = None,
      columnTransforms: Map[String, String] = Map.empty,
      txCarryover: Boolean = false,
      emitDir: Option[String] = None,
      tombstonesOnDelete: Boolean = true,
      returnEmptyTransactions: Boolean = false,
      emitFlatten: Boolean = false,
      emitWire: Boolean = false,
      emitWireBinary: Boolean = false,
      filters: CaptureFilters = CaptureFilters.none,
      inlineCompact: Boolean = true,
      rowFilter: Option[Column] = None,
      skippedOperations: Set[String] = Set.empty,
      messageKeyColumns: Seq[(String, Seq[String])] = Nil,
      topicRouting: Option[(String, String)] = None,
      contentRouting: Option[Column] = None): MergeApply.MergeStats = {
    val spark = rawBatch.sparkSession
    val keyCol = table.current.keyCol
    // Wire emission carries FULL before images (the reference runs
    // cdc_set_fullrowlogging — its update/delete envelopes have every
    // before field), so the before-image pruning keeps all payload
    // fields when that sink is configured; otherwise just the merge key
    // plus any message.key.columns override fields.
    val anyWire = emitWire || emitWireBinary
    val wireBefore: Seq[String] =
      if (!anyWire) Nil
      else rawBatch.schema("after").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq
    val transformed = prepareRaw(rawBatch, keyCol, tableInclude, columnTransforms,
      prune = true, filters = filters, rowFilter = rowFilter,
      skippedOperations = skippedOperations,
      keepBeforeFields =
        (messageKeyColumns.flatMap(_._2) ++ wireBefore).distinct)

    val input =
      if (!txCarryover) transformed
      else {
        // prepend last batch's unclosed-transaction records, stage this
        // batch's unclosed ones for the next (idempotent per batchId:
        // reprocessing batch N re-reads pending N-1 and overwrites N)
        val pendDir = s"${table.root}/_pending"
        val prev = java.nio.file.Paths.get(s"$pendDir/batch-${batchId - 1}")
        val withPrev =
          if (java.nio.file.Files.isDirectory(prev) &&
            graft.util.Fs.listParquet(prev.toString).nonEmpty)
            transformed.unionByName(
              spark.read.schema(transformed.schema).parquet(prev.toString))
          else transformed
        import org.apache.spark.sql.expressions.Window
        val closed = max(when(col("op").isin("C", "R"), lit(1)))
          .over(Window.partitionBy(col("tx_id")))
        val flagged = withPrev.withColumn("__closed", closed)
        flagged.where(col("__closed").isNull).drop("__closed")
          .write.mode("overwrite").parquet(s"$pendDir/batch-$batchId")
        // GC staged dirs no restart can need anymore (< batchId-1)
        val pd = java.nio.file.Paths.get(pendDir)
        if (java.nio.file.Files.isDirectory(pd)) {
          graft.util.Fs.listDir(pd)
            .filter { q =>
              val n = q.getFileName.toString
              n.startsWith("batch-") &&
                scala.util.Try(n.stripPrefix("batch-").toLong).toOption
                  .exists(_ < batchId - 1)
            }
            .foreach(q => graft.util.Fs.deleteRecursively(q.toString))
        }
        flagged.where(col("__closed") === 1).drop("__closed")
      }

    val events =
      if (broadcastAssembly) TxAssembler.assembleBroadcast(input, slim = true)
      else TxAssembler.assemble(input)
    // E1/E2/E5 outbound sink (opt-in): the emitted record stream and the
    // transaction-metadata stream, with the reference's switches applied.
    // Envelope-complete assembly (slim = false) so ts_ms/begin_lsn are
    // populated on the emitted records.
    require(Seq(emitFlatten, emitWire, emitWireBinary).count(identity) <= 1,
      "emitFlatten / emitWire / emitWireBinary are mutually exclusive emission formats")
    emitDir.foreach { dir =>
      val full =
        if (broadcastAssembly) TxAssembler.assembleBroadcast(input)
        else events
      val recs = TxAssembler.emitRecords(full, tombstonesOnDelete, keyCol,
        messageKeyColumns, topicRouting, contentRouting,
        keepBefore = emitFlatten || anyWire, keepSource = anyWire)
      val outRecs =
        if (emitWire) graft.ops.WireJson.toWire(recs, keyCol)
        else if (emitWireBinary) graft.ops.WireBinary.toWire(recs, keyCol)
        else if (!emitFlatten) recs
        else graft.ops.Unwrap.flatten(recs, addFields = Seq(
          "op" -> "op", "topic" -> "topic", "key" -> "key",
          "commit_lsn" -> "lsn"))
      outRecs.write.mode("overwrite").parquet(f"$dir/batch-$batchId%08d")
      TxAssembler.transactionMetadataAll(input, returnEmptyTransactions)
        .write.mode("overwrite").parquet(f"$dir/tx-batch-$batchId%08d")
      // record the batch's exact max position in the dump manifest so a
      // wire CONSUMER's restart alignment reads O(1) metadata per group
      if (anyWire)
        WireSource.recordEmittedGroup(table.spark, dir, f"batch-$batchId%08d",
          MergeApply.asNullable(table.current.schema)
            .asInstanceOf[org.apache.spark.sql.types.StructType])
    }
    MergeApply.applyBatch(table, events, batchId, inlineCompact = inlineCompact)
  }

  /** Phase 2 — continuous tail of the change log (S5/S6/E9): a
    * Structured Streaming file source over the append-only log, batch
    * size governed by maxFilesPerTrigger (the analog of
    * cdc.max.records/cdc.buffersize batching), exactly-once by SS
    * checkpoint + IceLite batch-id idempotent commits.
    */
  def stream(
      spark: SparkSession,
      table: IceLiteTable,
      cfg: CdcConfig,
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery = {
    // R4: refuse to stream over a retention gap — silent corruption
    // otherwise. Callers with a current consistent source view call
    // validateOrResnapshot first (when_needed auto-resnapshots there).
    if (!validateRestartOffset(table, cfg)) {
      val sm = table.current.summary
      throw new IllegalStateException(
        s"restart offset (watermark=${sm.watermarkCommit}, pin=${sm.floorCommit}) predates " +
          s"the log's min retained LSN ${LogRetention.minRetainedLsn(cfg.logDir)}: events were " +
          "garbage-collected before they were applied — call validateOrResnapshot with a " +
          "current source view (snapshot mode when_needed re-snapshots automatically)")
    }
    graft.plans.LwwMaxBy.register(spark) // clone sessions inherit the registry
    // asyncCompaction: one coalescing daemon for the query's lifetime
    // (daemon thread — dies with the JVM; each sweep is short and
    // conflict-safe, so there is nothing to flush at shutdown)
    val daemon =
      if (!cfg.asyncCompaction) None
      else Some(new graft.icelite.Maintenance.CompactionDaemon(
        table, MergeApply.maxDeltaChain,
        clusterBy = MergeApply.clusterBy,
        maxRowsPerFile = MergeApply.clusterMaxRowsPerFile))
    spark.readStream
      .schema(LogRecord.schema)
      .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger)
      .parquet(cfg.logDir)
      .writeStream
      .queryName("graft-cdc-apply")
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(trigger)
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        cfg.signalDir.foreach(d => Signals.process(spark, table, d, cfg.rowFilter))
        cfg.heartbeatActionSql.foreach(sql => spark.sql(sql).collect())
        processBatch(table, df, batchId, cfg.broadcastAssembly, cfg.tableInclude,
          cfg.columnTransforms, cfg.txCarryover, cfg.emitDir,
          cfg.tombstonesOnDelete, cfg.returnEmptyTransactions,
          emitFlatten = cfg.emitFlatten, emitWire = cfg.emitWire,
          emitWireBinary = cfg.emitWireBinary, filters = cfg.filters,
          inlineCompact = daemon.isEmpty, rowFilter = cfg.rowFilter,
          skippedOperations = cfg.skippedOperations,
          messageKeyColumns = cfg.messageKeyColumns,
          topicRouting = cfg.topicRouting, contentRouting = cfg.contentRouting)
        daemon.foreach(_.poke()); ()
      }
      .start()
  }

  /** Run the stream to completion over whatever log segments exist. */
  def runAvailable(spark: SparkSession, table: IceLiteTable, cfg: CdcConfig): Unit = {
    val q = stream(spark, table, cfg)
    q.awaitTermination()
  }

  /** Deterministic batch-incremental runner (same applyBatch code path,
    * no SS machinery): chunk the sorted segment-file list and apply each
    * chunk as one batch — used by tests to kill/resume at exact batch
    * boundaries.
    *
    * Resume alignment is by CONTENT, not position: a legitimate
    * `LogRetention.truncate` below the watermark deletes applied
    * segments, which both shrinks and RE-GROUPS the file listing, so a
    * positional `drop(lastBatchId + 1)` would silently skip
    * retained-but-unapplied chunks. Instead, on resume each chunk is
    * tested against the applied resume point (one column-pruned scan of
    * the log): a chunk is already applied iff its max record LSN is at
    * or below it. That test is exact because the watermark advances over
    * EVERY closed transaction — rollbacks and empty commits emit
    * position markers ([[TxAssembler.MarkerOp]]) — so an applied
    * commit-aligned segment's last record is always covered; chunks that
    * replay anyway (carryover tails) are harmless since apply is
    * idempotent by row version. Fresh batch ids continue from
    * lastBatchId + 1, preserving the idempotency gate and the
    * carryover-staging chain.
    */
  def runBatchIncremental(
      spark: SparkSession,
      table: IceLiteTable,
      cfg: CdcConfig,
      filesPerBatch: Int,
      stopAfterBatches: Int = Int.MaxValue
  ): Seq[MergeApply.MergeStats] = {
    if (!validateRestartOffset(table, cfg))
      throw new IllegalStateException(
        "restart offset predates the log's min retained LSN — call validateOrResnapshot " +
          "with a current source view (snapshot mode when_needed re-snapshots automatically)")
    val files = graft.util.Fs.listParquet(cfg.logDir).sorted
    val chunks = files.grouped(filesPerBatch).toSeq
    val from = table.refresh().summary.lastBatchId + 1
    val todo: Seq[Seq[String]] =
      if (from <= 0 || files.isEmpty) chunks
      else {
        val sm = table.current.summary
        val resume = math.max(sm.watermarkCommit, sm.floorCommit)
        // the producer-side manifest serves each segment's max LSN as
        // O(1) metadata; only FOREIGN segments (no entry) pay the
        // column-pruned content scan, restricted to exactly those files
        def norm(p: String): String =
          java.nio.file.Paths.get(p).toAbsolutePath.normalize.toString
        val fromManifest = LsnManifest.readNative(cfg.logDir)
        val unknown = files.filterNot(f => fromManifest.contains(norm(f)))
        val scanned: Map[String, Long] =
          if (unknown.isEmpty) Map.empty
          else spark.read
            .schema(LogRecord.schema).parquet(unknown: _*)
            .select(input_file_name().as("f"), col("lsn"))
            .groupBy(col("f")).agg(max(col("lsn")).as("m"))
            .collect()
            .map { r =>
              // input_file_name yields a URI (file:///...); key by plain path
              val raw = r.getString(0)
              val p =
                if (raw.startsWith("file:")) new java.net.URI(raw).getPath else raw
              p -> r.getLong(1)
            }.toMap
        // the watermark advances over EVERY closed transaction (position
        // markers), so an applied commit-aligned segment always has
        // maxLsn <= resume; unknown files replay (idempotent)
        def maxOf(f: String): Long = fromManifest.getOrElse(norm(f),
          scanned.getOrElse(f, Long.MaxValue))
        def needsApply(chunk: Seq[String]): Boolean =
          chunk.exists(f => maxOf(f) > resume)
        chunks.filter(needsApply)
      }
    val daemon =
      if (!cfg.asyncCompaction) None
      else Some(new graft.icelite.Maintenance.CompactionDaemon(
        table, MergeApply.maxDeltaChain,
        clusterBy = MergeApply.clusterBy,
        maxRowsPerFile = MergeApply.clusterMaxRowsPerFile))
    val out = scala.collection.mutable.ArrayBuffer[MergeApply.MergeStats]()
    todo.zipWithIndex.foreach { case (chunk, j) =>
      if (j < stopAfterBatches) {
        cfg.signalDir.foreach(d => Signals.process(spark, table, d, cfg.rowFilter))
        cfg.heartbeatActionSql.foreach(sql => spark.sql(sql).collect())
        val raw = spark.read.schema(LogRecord.schema).parquet(chunk: _*)
        out += processBatch(table, raw, from + j, cfg.broadcastAssembly, cfg.tableInclude,
          cfg.columnTransforms, cfg.txCarryover, cfg.emitDir,
          cfg.tombstonesOnDelete, cfg.returnEmptyTransactions,
          emitFlatten = cfg.emitFlatten, emitWire = cfg.emitWire,
          emitWireBinary = cfg.emitWireBinary, filters = cfg.filters,
          inlineCompact = daemon.isEmpty, rowFilter = cfg.rowFilter,
          skippedOperations = cfg.skippedOperations,
          messageKeyColumns = cfg.messageKeyColumns,
          topicRouting = cfg.topicRouting, contentRouting = cfg.contentRouting)
        daemon.foreach(_.poke())
      }
    }
    daemon.foreach { d => try d.drain() finally d.close() }
    out.toSeq
  }
}
