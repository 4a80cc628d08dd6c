package graft.stream

import graft.icelite.IceLiteTable
import graft.ops.WireJson
import graft.util.Fs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Debezium wire-format INGEST source: the engine consuming a
  * Kafka-topic dump of reference-shaped JSON envelopes — the exact
  * records `WireJson.toWire` (or the reference connector itself,
  * `InformixChangeRecordEmitter` via Kafka Connect's JSON converter)
  * produces — and applying them to an IceLite sink with the same
  * exactly-once guarantees as the native log path.
  *
  * This closes the interchange loop: engine → wire → engine (or
  * reference → wire → engine). Wire records are COMMITTED events (the
  * producer already ran transaction assembly: rollbacks and savepoint
  * discards never reach a topic), so this path needs no tx assembly —
  * each micro-batch parses, floors, LWW-dedups and MERGEs through the
  * standard [[MergeApply.applyBatch]], inheriting the batch-id
  * idempotency gate, row-version LWW, monotone watermark advance, and
  * additive schema evolution.
  *
  * Exactly-once on this path: Structured Streaming's checkpoint tracks
  * which topic files were consumed; the batch-id gate makes re-delivery
  * of a whole batch a no-op; row versions (commit_lsn, change_lsn)
  * make re-delivery of individual records a no-op under LWW. Note the
  * consumer's watermark advances only over DATA events — the producer's
  * position markers (rollback-only / empty commits) are never emitted
  * to a topic — so a resumed consumer may re-read a tail the producer
  * had already passed; those replays are idempotent by construction.
  *
  * Schema evolution OVER THE WIRE: with `inferEvolution` on, each
  * micro-batch runs one schema-inference pass over the batch's JSON
  * values and widens the parse schema with after-image fields the sink
  * does not know yet (additive only — exactly the E4 contract);
  * [[MergeApply.buildDeltaPlan]] then propagates them to the table
  * schema. New columns land with their JSON-inferred types (integral →
  * long, fractional → double — the wire carries no tighter width). The
  * inference pass is O(batch); at production scale either pay it
  * (~one extra parse of the micro-batch) or disable it and widen the
  * sink schema out-of-band before producers start emitting the column.
  *
  * Garbage tolerance: a crawl-scale topic always carries malformed
  * records. Null values (delete tombstones — a log-compaction
  * artifact, not a change) are dropped by contract; unparseable values
  * are dropped and optionally quarantined to `<dlqDir>/wire-records`,
  * partitioned per source file with dynamic partition overwrite
  * (idempotent under any re-delivery or re-chunking — dump files are
  * immutable).
  */
object WireSource {

  /** The Kafka record shape: topic + JSON key/value strings. Parquet
    * dumps with extra columns (the engine's own emit sink rides
    * commit_lsn/change_lsn/emit_seq alongside) project down to this. */
  val wireSchema: StructType = StructType(Seq(
    StructField("topic", StringType),
    StructField("key", StringType),
    StructField("value", StringType)))

  /** The binary-wire record shape ([[graft.ops.WireBinary]] frames).
    * Consumption dispatches on the `value` column's type, so one
    * consumer code path serves both wires; binary topics are
    * fixed-schema (frames are not self-describing — no JSON-style
    * evolution inference; coordinate additive evolution out-of-band). */
  val wireBinSchema: StructType = StructType(Seq(
    StructField("topic", StringType),
    StructField("key", StringType),
    StructField("value", BinaryType)))

  /** Sniff a dump's wire format from its parquet footer (one metadata
    * read, no data scan). */
  private def dumpIsBinary(spark: SparkSession, files: Seq[String]): Boolean =
    spark.read.parquet(files.head).schema.fields
      .find(_.name == "value").exists(_.dataType == BinaryType)

  /** Format of a dump root: the manifest marker when the producer was
    * this engine's emit sink (no data file touched), a one-file footer
    * probe for foreign dumps. */
  /** ONE wire format per dump root. The root-level `_format` marker
    * (or, absent one, a probe of the given files' own footers) is
    * applied to every file under the root, including foreign groups
    * with no manifest entry — a producer appending groups in the OTHER
    * wire format to an engine-written dump is unsupported (ADVICE r5).
    * Misclassified foreign groups fall back to "not applied" and
    * replay idempotently, so the failure mode is wasted work, never
    * corruption; mixed-format topics belong in separate dump roots.
    */
  private def dumpFormatIsBinary(spark: SparkSession, root: String,
      files: Seq[String]): Boolean =
    LsnManifest.readFormat(root) match {
      case Some("binary") => true
      case Some("json")   => false
      case _              => dumpIsBinary(spark, files)
    }

  /** Position-only value schema: enough of the envelope to read the
    * source coordinates without committing to a payload schema. */
  private val posSchema: StructType = StructType(Seq(
    StructField("source", StructType(Seq(
      StructField("commit_lsn", LongType),
      StructField("change_lsn", LongType))))))

  /** The payload (row-image) schema for one batch: the sink's current
    * user schema, widened by after-image fields discovered in the
    * batch's JSON when `inferEvolution` is on. Known columns always
    * keep the TABLE's types (the JSON number width never narrows an
    * existing column). */
  def payloadSchema(wire: DataFrame, tableSchema: StructType,
      inferEvolution: Boolean): StructType = {
    val base = MergeApply.asNullable(tableSchema).asInstanceOf[StructType]
    if (!inferEvolution) base
    else {
      val spark = wire.sparkSession
      import spark.implicits._
      val values = wire.where(col("value").isNotNull).select(col("value").as[String])
      spark.read.json(values).schema.fields.find(_.name == "after").map(_.dataType) match {
        case Some(s: StructType) =>
          // widenNumeric=false: JSON integrals always infer as bigint —
          // widening from an untyped wire would promote every int column
          MergeApply.mergedSchema(base, s, widenNumeric = false)
        case _ => base // tombstones-only / empty batch: nothing to learn
      }
    }
  }

  /** Parse and apply one micro-batch of wire records. Topic filtering
    * (`topicInclude`, anchored regex alternation — the consumer-side
    * analog of a Kafka subscribe pattern) happens BEFORE parsing. */
  def applyWireBatch(table: IceLiteTable, wire0: DataFrame, batchId: Long,
      inferEvolution: Boolean = true,
      dlqDir: Option[String] = None,
      topicInclude: Option[Seq[String]] = None,
      inlineCompact: Boolean = true): MergeApply.MergeStats = {
    val scoped = topicInclude match {
      case Some(ps) if ps.nonEmpty =>
        wire0.where(col("topic").rlike(CaptureFilters.anchored(ps)))
      case _ => wire0
    }
    // inference and/or DLQ mean a second full pass over the batch —
    // persist once (the MultiTable lesson: never re-scan a shared batch)
    // binary frames carry no self-describing schema: reader schema =
    // the sink's (no inference pass — see wireBinSchema)
    val isBinary = scoped.schema("value").dataType == BinaryType
    val infer = inferEvolution && !isBinary
    val multiPass = infer || dlqDir.nonEmpty
    val wire = if (multiPass) scoped.persist(StorageLevel.MEMORY_AND_DISK) else scoped
    try {
      val payload = payloadSchema(wire, table.refresh().schema, infer)
      // Quarantine layout: ONE dataset partitioned per SOURCE FILE with
      // dynamic partition overwrite — dump files are immutable, so
      // re-delivery of a file (SS re-trigger, resume-renumbered batch,
      // a different chunking) rewrites exactly its own partition with
      // identical content: idempotent at file granularity on both
      // consumption paths, never duplicated, never clobbering other
      // files' quarantined records. `src_path` rides inside the rows
      // for humans; the partition key is its hash (path-safe).
      dlqDir.foreach { d =>
        (if (isBinary) graft.ops.WireBinary.badRecords(wire, payload)
         else WireJson.badRecords(wire, payload))
          .withColumn("src_path", input_file_name())
          .withColumn("src_part", abs(xxhash64(input_file_name())).cast("string"))
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy("src_part").parquet(s"$d/wire-records")
      }
      val events =
        if (isBinary) graft.ops.WireBinary.fromWire(wire, payload)
        else WireJson.fromWire(wire, payload)
      MergeApply.applyBatch(table, events, batchId, inlineCompact = inlineCompact)
    } finally if (multiPass) { wire.unpersist(); () }
  }

  /** Continuous wire consumption: tail `cfg.logDir` (here: the topic
    * dump directory — a glob like `dir/batch-*` works) as a file
    * stream, applying each micro-batch through the MERGE path. Same
    * checkpoint/trigger/compaction machinery as [[CdcJob.stream]]. */
  def stream(
      spark: SparkSession,
      table: IceLiteTable,
      cfg: CdcConfig,
      trigger: Trigger = Trigger.AvailableNow(),
      topicInclude: Option[Seq[String]] = None,
      binaryWire: Boolean = false
  ): StreamingQuery = {
    // R4 analog on restart: a resumed consumer over a truncated dump
    // must fail fast, not silently skip history (no-op for fresh
    // consumers — appliedPredicate is None until a batch has applied)
    validateDumpContinuity(spark, table, cfg)
    val env = Driver.Envelope.ungated(spark, Seq(table), cfg)
    Driver.start(
      spark.readStream
        .schema(if (binaryWire) wireBinSchema else wireSchema)
        .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger)
        .parquet(cfg.logDir),
      cfg.checkpointDir, trigger, Some("graft-wire-apply")) { (df, batchId) =>
      env(configuredBatch(table, cfg, topicInclude, df, batchId, _)); ()
    }
  }

  /** One batch of [[stream]] and [[runIncremental]]: [[applyWireBatch]]
    * with `cfg`'s settings. */
  private def configuredBatch(table: IceLiteTable, cfg: CdcConfig,
      topicInclude: Option[Seq[String]], raw: DataFrame, batchId: Long,
      inlineCompact: Boolean): MergeApply.MergeStats =
    applyWireBatch(table, raw, batchId,
      inferEvolution = cfg.wireInferEvolution, dlqDir = cfg.dlqDir,
      topicInclude = topicInclude, inlineCompact = inlineCompact)

  /** One consumption group: all part files under one producer batch
    * dir (a bare file directly under the dump root is its own group).
    * Groups are the ATOMIC unit of consumption and resume alignment —
    * see [[runIncremental]]. */
  private final case class Group(name: String, files: Seq[String])

  /** Group the sorted dump file list by parent dir. */
  private def groupsOf(logDir: String, files: Seq[String]): Seq[Group] = {
    val root = java.nio.file.Paths.get(logDir).toAbsolutePath.normalize
    files.groupBy { f =>
      val parent = java.nio.file.Paths.get(f).toAbsolutePath.normalize.getParent
      if (parent == root) f else parent.toString
    }.toSeq.map { case (key, fs) =>
      Group(java.nio.file.Paths.get(key).getFileName.toString, fs.sorted)
    }.sortBy(_.name)
  }

  /** Max (commit_lsn, change_lsn) present in each file of the dump —
    * one position-only parse. JSON wires need no payload schema
    * (partial from_json); binary frames decode with the sink's
    * payload schema (frames are positional — there is no
    * schema-free partial read). Files with no parseable positions
    * (garbage-only, metadata dumps) are absent. */
  private def positionScan(spark: SparkSession, files: Seq[String],
      payload: StructType, isBin: Boolean): Map[String, (Long, Long)] = {
    val raw = spark.read
      .schema(if (isBin) wireBinSchema else wireSchema).parquet(files: _*)
    val env =
      if (isBin) graft.ops.WireBinary.decodeCol(payload)
      else from_json(col("value"), posSchema)
    raw
      .select(input_file_name().as("f"),
        env.getField("source").getField("commit_lsn").as("c"),
        env.getField("source").getField("change_lsn").as("l"))
      .where(col("c").isNotNull)
      .groupBy(col("f"))
      .agg(max(struct(col("c"), col("l"))).as("m"))
      .collect()
      .map { r =>
        val rawPath = r.getString(0)
        val p =
          if (rawPath.startsWith("file:")) new java.net.URI(rawPath).getPath
          else rawPath
        val m = r.getStruct(1)
        p -> (m.getLong(0), m.getLong(1))
      }.toMap
  }

  /** Writer-side manifest hook for the emit sink: scan ONLY the
    * just-written producer batch dir (O(batch), at write time) for its
    * exact max position and record it in the dump's manifest — the
    * entry every later consumer restart reads instead of re-parsing the
    * whole dump ([[appliedPredicate]]). Exactness matters: the entry
    * must equal what a resume content scan would compute, so external
    * dump retention that GCs by content agrees with the manifest.
    */
  private[stream] def recordEmittedGroup(spark: SparkSession,
      dumpRoot: String, groupName: String, payload: StructType): Unit = {
    val files = Fs.listParquet(s"$dumpRoot/$groupName")
    if (files.nonEmpty) {
      val isBin = dumpIsBinary(spark, files)
      LsnManifest.recordFormat(dumpRoot, if (isBin) "binary" else "json")
      val maxes = positionScan(spark, files, payload, isBin).values
      if (maxes.nonEmpty) {
        val m = maxes.max
        LsnManifest.recordWire(dumpRoot, groupName, m._1, m._2)
      }
    }
  }

  private val BatchDirName = "^batch-(\\d+)$".r

  /** Fail fast on a MID-DUMP truncation (the wire analog of the native
    * path's R4 restart-offset validation): for engine-layout dumps
    * (`batch-<n>` group names — producers emit them contiguously), the
    * still-to-apply groups must continue the applied prefix without an
    * index hole. A hole means retention deleted UNCONSUMED producer
    * batches — applying what survives would silently skip history, the
    * exact corruption the native path refuses. Deletion of an
    * already-consumed prefix is fine (normal dump retention).
    * Non-engine layouts (no batch-N names) carry no index to check;
    * the guard is best-effort there, as documented on [[stream]]. */
  private def continuityGuard(groups: Seq[Group], applied: Group => Boolean): Unit = {
    val indexed = groups.flatMap(g => g.name match {
      case BatchDirName(n) => Some((BigInt(n), g))
      case _ => None
    }).sortBy(_._1)
    val lastApplied = indexed.filter { case (_, g) => applied(g) }
      .map(_._1).maxOption
    val todoIdx = indexed.filter { case (_, g) => !applied(g) }.map(_._1)
    val expectedStart = lastApplied.map(_ + 1)
    todoIdx.headOption.foreach { first =>
      expectedStart.filter(_ < first).foreach { exp =>
        throw new IllegalStateException(
          s"wire dump truncated mid-stream: producer batches $exp..${first - 1} " +
            s"are missing but were never applied (sink resume point is inside " +
            s"batch ${exp - 1}). Re-snapshot the consumer or restore the dump.")
      }
    }
    todoIdx.sliding(2).foreach {
      case Seq(a, b) if b != a + 1 =>
        throw new IllegalStateException(
          s"wire dump truncated mid-stream: producer batches ${a + 1}..${b - 1} " +
            "are missing between surviving unapplied batches. Re-snapshot the " +
            "consumer or restore the dump.")
      case _ => ()
    }
  }

  /** The group-level "already fully applied" predicate against the
    * sink's resume point, or None when the sink has no applied batches
    * (fresh consumer — everything needs apply, nothing to validate). */
  private def appliedPredicate(spark: SparkSession, table: IceLiteTable,
      root: String, groups: Seq[Group]): Option[Group => Boolean] = {
    val from = table.refresh().summary.lastBatchId + 1
    if (from <= 0 || groups.isEmpty) None
    else {
      val sm = table.current.summary
      val (rc, rl) =
        if (sm.watermarkCommit >= sm.floorCommit)
          (sm.watermarkCommit, sm.watermarkChange)
        else (sm.floorCommit, Long.MaxValue)
      // the emit sink records each producer batch's max position in the
      // dump's manifest at write time; only FOREIGN groups (no entry)
      // pay the position-only parse, restricted to their own files
      val manifest = LsnManifest.readWire(root)
      val unknownFiles = groups.filterNot(g => manifest.contains(g.name))
        .flatMap(_.files)
      val maxPerFile =
        if (unknownFiles.isEmpty) Map.empty[String, (Long, Long)]
        else positionScan(spark, unknownFiles,
          MergeApply.asNullable(table.current.schema).asInstanceOf[StructType],
          dumpFormatIsBinary(spark, root, unknownFiles))
      def beyond(pos: (Long, Long)): Boolean =
        pos._1 > rc || (pos._1 == rc && pos._2 > rl)
      Some { g =>
        manifest.get(g.name) match {
          case Some(pos) => !beyond(pos)
          case None =>
            val known = g.files.flatMap(maxPerFile.get)
            known.nonEmpty && !beyond(known.max)
        }
      }
    }
  }

  /** List a dump dir, resolving a trailing glob component (the SS
    * source accepts `dir/batch-*`; this mirrors it for the guard and
    * the deterministic runner's grouping root). */
  private def listDump(logDir: String): (String, Seq[String]) = {
    if (!logDir.contains("*")) (logDir, Fs.listParquet(logDir).sorted)
    else {
      val p = java.nio.file.Paths.get(logDir)
      val parent = p.getParent
      val m = parent.getFileSystem.getPathMatcher("glob:" + p.getFileName.toString)
      val entries =
        if (!java.nio.file.Files.isDirectory(parent)) Nil
        else Fs.listDir(parent)
          .filter(d => m.matches(d.getFileName)).map(_.toString)
      (parent.toString, entries.flatMap(Fs.listParquet).sorted)
    }
  }

  /** Restart-offset validation for wire consumers (the R4 analog,
    * `CdcJob.validateRestartOffset` for the native log): on a RESUMED
    * consumer, verify the surviving dump still contains every producer
    * batch beyond the sink's resume point (engine-layout `batch-<n>`
    * names carry the index to check). Throws [[IllegalStateException]]
    * on a mid-dump truncation instead of silently skipping history.
    * Costs one position-only parse of the dump; no-op for fresh
    * consumers. [[stream]] runs it automatically on resume. */
  def validateDumpContinuity(spark: SparkSession, table: IceLiteTable,
      cfg: CdcConfig): Unit = {
    val (root, files) = listDump(cfg.logDir)
    val groups = groupsOf(root, files)
    appliedPredicate(spark, table, root, groups).foreach { applied =>
      continuityGuard(groups, applied)
    }
  }

  /** Deterministic batch-incremental wire runner (tests / backfills):
    * chunk the dump's GROUPS (producer batch dirs; bare files for flat
    * dumps), apply each chunk as one batch. Resume alignment is by
    * CONTENT at group granularity: part files WITHIN one producer
    * batch dir are written post-shuffle and overlap in position range,
    * so per-file alignment would be unsound (a consumer killed after a
    * partial run could resume past an unapplied sibling file — silent
    * loss); the dirs themselves follow log order (dir N's positions
    * all precede dir N+1's — the emit sink rides the position-aligned
    * log chunks), so a group whose max position is at or below the
    * sink's resume point is provably applied IN FULL, because groups
    * never split across consumer batches. Groups with no parseable
    * positions (garbage-only, metadata dumps) conservatively replay —
    * idempotent no-ops under LWW + the version floor. Flat dumps must
    * keep per-file position ranges disjoint (the same contract the
    * native path requires of log segments). `filesPerBatch` counts
    * groups. */
  def runIncremental(
      spark: SparkSession,
      table: IceLiteTable,
      cfg: CdcConfig,
      filesPerBatch: Int,
      stopAfterBatches: Int = Int.MaxValue,
      topicInclude: Option[Seq[String]] = None
  ): Seq[MergeApply.MergeStats] = {
    val (root, files) = listDump(cfg.logDir)
    val readSchema =
      if (files.nonEmpty && dumpFormatIsBinary(spark, root, files)) wireBinSchema
      else wireSchema
    val groups = groupsOf(root, files)
    val chunks: Seq[Seq[Group]] = groups.grouped(filesPerBatch).toSeq
    val from = table.refresh().summary.lastBatchId + 1
    val todo: Seq[Seq[Group]] = appliedPredicate(spark, table, root, groups) match {
      case None => chunks
      case Some(applied) =>
        continuityGuard(groups, applied)
        chunks.filter(_.exists(g => !applied(g)))
    }
    val env = Driver.Envelope.ungated(spark, Seq(table), cfg)
    val out = todo.take(stopAfterBatches).zipWithIndex.map { case (chunk, j) =>
      val raw = spark.read.schema(readSchema).parquet(chunk.flatMap(_.files): _*)
      env(configuredBatch(table, cfg, topicInclude, raw, from + j, _))
    }
    env.drain()
    out
  }
}
