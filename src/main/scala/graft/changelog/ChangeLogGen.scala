package graft.changelog

import graft.model._
import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}

/** Configuration for the deterministic synthetic CDC log.
  *
  * The generated stream mirrors the record mix the reference's
  * transaction engine consumes (`DbzTransactionEngine.java:88-156`):
  * interleaved BEGIN / data-op / COMMIT-or-ROLLBACK records, optional
  * savepoint DISCARDs, optional TRUNCATE. Everything derives from
  * (seed, txId, slot) via splitmix64 — no RNG state, so generation is
  * embarrassingly parallel and reproducible at any scale.
  *
  * @param interleave  number of concurrently-open transactions; records
  *                    of one "group" of `interleave` txs are round-robin
  *                    interleaved in LSN order, like a real multi-session
  *                    log. Transactions never span groups, so any file
  *                    split on group boundaries contains only whole
  *                    transactions (the reference likewise only ever
  *                    emits closed transactions —
  *                    `DbzTransactionEngine.java:137-143`).
  * @param zipfAlpha   update-key skew: key = floor(nDocs * u^alpha);
  *                    alpha > 1 concentrates traffic on low doc ids
  *                    (hot keys), exercising the salting path.
  */
final case class ChangeLogConfig(
    seed: Long = 42L,
    nDocs: Int = 1000,
    nTx: Long = 1000L,
    maxOpsPerTx: Int = 8,
    interleave: Int = 8,
    insertPct: Int = 15,
    deletePct: Int = 10,
    rollbackPct: Int = 5,
    discardPct: Int = 5,
    truncateAtTx: Long = -1L,
    zipfAlpha: Double = 2.0,
    maxTokens: Int = 64,
    tableName: String = "token_docs"
) {
  /** fixed record slots per tx: BEGIN + ops (+ possible DISCARD) + CLOSE */
  def slotsPerTx: Int = maxOpsPerTx + 3
}

object ChangeLogGen {

  /** splitmix64 finalizer — public-domain mixing constant PRNG. */
  @inline def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  @inline def h(seed: Long, parts: Long*): Long =
    parts.foldLeft(seed)((a, b) => mix(a ^ mix(b)))

  @inline def pct(x: Long): Int = (((x % 100) + 100) % 100).toInt

  def docId(k: Long): String = f"doc$k%09d"

  /** Deterministic token payload for a write identified by (doc, version). */
  def tokensFor(seed: Long, doc: Long, version: Long, maxTokens: Int): Seq[Int] = {
    val base = h(seed, doc, version, 0x70c3L)
    val len = 1 + (((base >>> 8) % maxTokens + maxTokens) % maxTokens).toInt
    val out = new Array[Int](len)
    var i = 0
    while (i < len) { out(i) = ((mix(base + i) >>> 33) % 50000).toInt; i += 1 }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }

  /** LSN layout: emulate Informix log-file rotation (`Lsn.java:54-64`) —
    * logUniq = raw/2^18 + 1 in the high 32 bits, page offset in the low
    * bits. Order-isomorphic to `raw`, so global LSN order == generation
    * order while still exercising the two-part structure.
    */
  @inline def lsnOf(raw: Long): Long = (((raw >>> 18) + 1L) << 32) | (raw & 0x3ffffL)

  /** Skewed target key: floor(nDocs * u^alpha), u uniform in [0,1). */
  @inline def skewKey(u: Long, nDocs: Int, alpha: Double): Long = {
    val x = (u >>> 11).toDouble / (1L << 53).toDouble
    math.min(nDocs - 1L, (nDocs * math.pow(x, alpha)).toLong)
  }

  /** All records of one transaction, already in intra-tx LSN order. */
  def txRecords(cfg: ChangeLogConfig, txIdx: Long): Seq[LogRecord] = {
    val s = cfg.seed
    val nOps =
      if (cfg.truncateAtTx == txIdx) 1
      else 1 + (pct(h(s, txIdx, 1L)) % cfg.maxOpsPerTx)
    val rolledBack = pct(h(s, txIdx, 2L)) < cfg.rollbackPct
    val hasDiscard = !rolledBack && nOps >= 3 && pct(h(s, txIdx, 3L)) < cfg.discardPct
    val group = txIdx / cfg.interleave
    val pos = txIdx % cfg.interleave
    val stride = cfg.slotsPerTx
    @inline def rawOf(slot: Int): Long = (group * stride + slot) * cfg.interleave + pos
    @inline def lsnAt(slot: Int): Long = lsnOf(rawOf(slot))
    val txId = 1000000L + txIdx
    val tsBase = 1700000000000L

    val out = Vector.newBuilder[LogRecord]
    def rec(slot: Int, op: String, discardFrom: Long, before: Option[TokenDoc], after: Option[TokenDoc]): LogRecord =
      LogRecord(lsnAt(slot), txId, op, discardFrom, cfg.tableName, before, after,
        tsBase + rawOf(slot))

    out += rec(0, "B", -1L, None, None)
    // DISCARD sits after the ops it cancels: cancel the last `dk` ops.
    val discardSlot = if (hasDiscard) nOps + 1 else -1
    val discardedFromOp = if (hasDiscard) nOps - 1 else Int.MaxValue // cancels ops at op-index >= this (0-based)
    var op = 0
    while (op < nOps) {
      val slot = op + 1
      val hv = h(s, txIdx, 10L + op)
      val r = pct(hv)
      if (cfg.truncateAtTx == txIdx) {
        out += rec(slot, "t", -1L, None, None)
      } else if (r < cfg.insertPct) {
        // insert a brand-new doc id (disjoint from the initial universe)
        val k = cfg.nDocs + txIdx * cfg.maxOpsPerTx + op
        val d = TokenDoc(docId(k), tokensFor(s, k, lsnAt(slot), cfg.maxTokens),
          0, "cdc")
        out += rec(slot, "c", -1L, None, Some(d.copy(n_tok = d.tokens.size)))
      } else if (r < cfg.insertPct + cfg.deletePct) {
        val k = skewKey(h(s, txIdx, 20L + op), cfg.nDocs, cfg.zipfAlpha)
        out += rec(slot, "d", -1L,
          Some(TokenDoc(docId(k), Seq.empty, 0, "cdc")), None)
      } else {
        val k = skewKey(h(s, txIdx, 20L + op), cfg.nDocs, cfg.zipfAlpha)
        val d = TokenDoc(docId(k), tokensFor(s, k, lsnAt(slot), cfg.maxTokens), 0, "cdc")
        out += rec(slot, "u", -1L,
          Some(TokenDoc(docId(k), Seq.empty, 0, "cdc")),
          Some(d.copy(n_tok = d.tokens.size)))
      }
      op += 1
    }
    if (hasDiscard)
      out += rec(discardSlot, "D", lsnAt(discardedFromOp + 1), None, None)
    out += rec(cfg.maxOpsPerTx + 2, if (rolledBack) "R" else "C", -1L, None, None)
    out.result()
  }

  /** The full log as a distributed Dataset — one `flatMap` over the tx
    * index range; no driver-side loops, scales linearly with cores.
    */
  def logRecords(spark: SparkSession, cfg: ChangeLogConfig): Dataset[LogRecord] = {
    import spark.implicits._
    spark.range(cfg.nTx).flatMap(txIdx => txRecords(cfg, txIdx))
  }

  /** Initial (pre-stream) table for the snapshot phase. All stream LSNs
    * are > 0, so `snapshotLsn = 0` pins the stream start (analog of
    * `InformixConnection.getMaxLsn`, `InformixConnection.java:84-90`).
    */
  def initialTable(spark: SparkSession, cfg: ChangeLogConfig): Dataset[TokenDoc] = {
    import spark.implicits._
    spark.range(cfg.nDocs.toLong).map { k =>
      val t = tokensFor(cfg.seed, k, 0L, cfg.maxTokens)
      TokenDoc(docId(k), t, t.size, "seed")
    }
  }

  val snapshotLsn: Long = 0L

  /** Stage an explicit record list as ONE parquet file
    * `dir/batch-NNN.parquet` — the shared micro-batch staging helper
    * for engine fixtures and specs (the file stream source forms one
    * batch per file).
    */
  def stageBatchFile(spark: SparkSession, recs: Seq[LogRecord], dir: String,
      index: Int = 0): Unit = {
    import spark.implicits._
    val tmp = s"$dir-staging-${java.util.UUID.randomUUID().toString.take(8)}"
    recs.toDS().toDF().coalesce(1).write.parquet(tmp)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.move(
      java.nio.file.Paths.get(graft.util.Fs.listParquet(tmp).head),
      java.nio.file.Paths.get(f"$dir/batch-$index%03d.parquet"))
    graft.util.Fs.deleteRecursively(tmp)
    // the producer knows the segment's max LSN — record it so consumer
    // restart alignment reads O(1) metadata instead of scanning the log
    if (recs.nonEmpty)
      graft.stream.LsnManifest.recordNative(dir,
        f"$dir/batch-$index%03d.parquet", recs.map(_.lsn).max)
  }

  /** Stage MANY per-batch files in ONE Spark job: the union of all
    * batches, tagged with the batch index, written by a single task
    * with `partitionBy` on the tag (one file per batch), then moved
    * into `dir/batch-NNN.parquet` with manifest entries — the same
    * layout [[stageBatchFile]] produces one job at a time. Row order
    * within a staged file is immaterial (consumers order by the LSN
    * columns), so the dynamic-partition writer's internal sort is
    * harmless. Replaces O(batches) driver-serial jobs in the engine
    * harnesses (each was a ~0.1-0.2 s fixed-cost job; scd2/e9 stage
    * 48-100 of them).
    */
  def stageBatchFiles(spark: SparkSession, batches: Seq[Seq[LogRecord]],
      dir: String): Unit = {
    import spark.implicits._
    if (batches.isEmpty) return
    require(batches.forall(_.nonEmpty), "stageBatchFiles: empty batch")
    val tmp = s"$dir-staging-${java.util.UUID.randomUUID().toString.take(8)}"
    batches.zipWithIndex
      .flatMap { case (rs, i) => rs.map(r => (i, r)) }
      .toDS().toDF("__b", "r")
      .select(org.apache.spark.sql.functions.col("__b"),
        org.apache.spark.sql.functions.col("r.*"))
      .coalesce(1)
      .write.partitionBy("__b").parquet(tmp)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    batches.zipWithIndex.foreach { case (rs, i) =>
      val dest = f"$dir/batch-$i%03d.parquet"
      java.nio.file.Files.move(
        java.nio.file.Paths.get(graft.util.Fs.listParquet(s"$tmp/__b=$i").head),
        java.nio.file.Paths.get(dest))
      if (rs.nonEmpty)
        graft.stream.LsnManifest.recordNative(dir, dest, rs.map(_.lsn).max)
    }
    graft.util.Fs.deleteRecursively(tmp)
  }

  /** Write the log as `numFiles` parquet files, range-partitioned on the
    * interleave group so every file holds only whole transactions. A
    * micro-batch reading any subset of files therefore sees only closed
    * transactions — the same contract the reference's engine gives its
    * consumer (`DbzTransactionEngine.java:137-143`).
    */
  def writeLog(spark: SparkSession, cfg: ChangeLogConfig, dir: String, numFiles: Int): Unit = {
    import org.apache.spark.sql.functions._
    val slotSpan = cfg.slotsPerTx.toLong * cfg.interleave
    logRecords(spark, cfg)
      // invert lsnOf: raw = ((logUniq-1) << 18) | logPos; group = raw DIV slotSpan
      .withColumn("grp",
        expr(s"(shiftleft(shiftright(lsn, 32) - 1, 18) + (lsn & 262143)) DIV $slotSpan"))
      .repartitionByRange(numFiles, col("grp"))
      .sortWithinPartitions("lsn")
      .drop("grp")
      .write.mode(SaveMode.Overwrite).parquet(dir)
    // one column-pruned pass AT WRITE TIME records each segment's max
    // LSN, so every later restart aligns on O(1) metadata per segment
    spark.read.parquet(dir)
      .groupBy(input_file_name().as("f")).agg(max(col("lsn")).as("m"))
      .collect()
      .foreach { r =>
        val raw = r.getString(0)
        val p = if (raw.startsWith("file:")) new java.net.URI(raw).getPath else raw
        graft.stream.LsnManifest.recordNative(dir, p, r.getLong(1))
      }
  }
}
