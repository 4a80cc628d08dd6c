package graft.ops

import graft.icelite.{IceLite, IceLiteTable}
import graft.stream.MergeApply
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Streaming NEAR-duplicate detection — the banded-MinHash counterpart
  * of [[DedupIndex]] (which is exact-only): the corpus's LSH state
  * lives in two fingerprint-keyed IceLite sinks, and each micro-batch
  * is checked against it with work proportional to the BATCH, making
  * near-dup (not just exact-dup) detection incremental across batches.
  *
  *   - `bands` table: key = "band:bucket", payload = that bucket's
  *     member doc_ids — SORTED and CAPPED at [[Dedup.DefaultMaxBucket]]
  *     (the same degenerate-corpus discipline as
  *     [[Dedup.minhashCandidates]]; the cap is a window rank, never an
  *     unbounded in-row list).
  *   - `sigs` table: key = doc_id, payload = the full k-permutation
  *     MinHash signature ([[Dedup.MinhashK]] longs, bounded state per
  *     doc), used to verify candidates by signature agreement.
  *
  * Per-batch probe cost: the batch's band keys hash to ≤ numBuckets
  * bucket ids (collected as ints — never keys), only those index
  * file-sets are read, and the batch side broadcasts into every join —
  * the index is never shuffled. A candidate is a batch doc sharing ≥1
  * (band, bucket) with an indexed doc; it is VERIFIED by counting
  * equal signature components (integer-exact, `matches >= minMatches`
  * — no floating-point thresholds, so SQL oracles replay it
  * bit-for-bit; matches/k estimates Jaccard).
  *
  * Within one micro-batch, exact duplicates canonicalize to the min
  * doc_id (as [[DedupIndex]]) and verified NEAR-dups of a lower-id
  * batch doc are dropped too ([[withinBatchNearDups]]): the lowest id
  * of a near-dup cluster arriving together is the one that registers,
  * exactly as if the cluster had arrived spread across batches.
  *
  * Reference anchor: the reference has no near-dup surface (it is a
  * CDC connector); this is part of the training-data curation tier the
  * engine adds on the same storage/apply machinery
  * (`InformixConnectorIT.java` exercises only relational parity).
  */
object NearDupIndex {

  /** Verification threshold: minimum equal signature components
    * (26/128 ≈ 0.2 estimated Jaccard — the same operating point as the
    * batch dedup oracles' 0.2 threshold).
    */
  val DefaultMinMatches: Int = 26

  final case class Index(bands: IceLiteTable, sigs: IceLiteTable)


  /** Per-doc MinHash signatures as one array column (doc_id, sig).
    *
    * Docs that produce NO shingles — fewer than 3 words, or every
    * shingle above the document-frequency cap (mass boilerplate) —
    * would otherwise never register and their EXACT duplicates would
    * pass every future batch unflagged. They fall back to ONE
    * pseudo-shingle, the normalized full text: exact copies then share
    * the whole signature (every band collides, matches = k), while
    * near-dup detection for such docs honestly degrades to exact-only
    * (there is no shingle structure left to compare).
    */
  def signatures(batch: DataFrame, textCol: String = "text"): DataFrame =
    withFallback(batch, realSignatures(batch, textCol), textCol)

  /** The shingled docs' signatures only — the expensive aggregation.
    * Callers that consume the result repeatedly persist THIS frame;
    * [[withFallback]] then builds on the cached plan.
    */
  private[graft] def realSignatures(batch: DataFrame, textCol: String): DataFrame =
    Dedup.sigOfHashRows(Dedup.cappedShingles(batch, textCol = textCol)
      .select(col("doc_id"),
        pmod(TextOps.portableHash(col("shingle")), lit(Dedup.MinhashP)).as("h")))

  /** Union the pseudo-shingle fallback onto the real signatures. The
    * fallback membership anti-joins the AGGREGATED frame — not the
    * shingle lineage, which would re-run the DF-cap aggregation a
    * second time per call (the derived-plan-reuse trap) — and its
    * signature is computed IN-ROW: the min over a single hash h is
    * (a_i*h + b_i) % p itself, a plain 128-term projection (no
    * aggregation, overflow-free: a, h < p = 2^31-1 so a*h < 2^62).
    * Bit-identical to feeding one (doc_id, h) row through
    * [[Dedup.sigOfHashRows]].
    */
  private[graft] def withFallback(batch: DataFrame, real: DataFrame,
      textCol: String): DataFrame = {
    val h = pmod(TextOps.portableHash(TextOps.normalized(col(textCol))),
      lit(Dedup.MinhashP))
    val sigArr = array(Dedup.MinhashA.zip(Dedup.MinhashB).map { case (a, b) =>
      pmod(h * lit(a) + lit(b), lit(Dedup.MinhashP))
    }: _*)
    val fallback = batch
      .join(real.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), sigArr.as("sig"))
    real.unionByName(fallback)
  }

  /** [[signatures]] with a deterministic cache lifetime for the
    * multi-consumer paths (probe, create, update, dedupAndUpdate):
    * persists the real-signature aggregation (so the union's two
    * references to it — the union branch and the fallback anti-join
    * build — compute it once) AND the final union (so the several
    * downstream consumers do not re-run the batch lineage under it).
    * Returns the frame and a release closure that drops both caches.
    */
  private[graft] def signaturesCached(batch: DataFrame,
      textCol: String): (DataFrame, () => Unit) = {
    val real = realSignatures(batch, textCol).persist()
    val sg = withFallback(batch, real, textCol).persist()
    (sg, () => { sg.unpersist(); real.unpersist(); () })
  }

  /** Banded rows (doc_id, band, bucket, bb) from arrayed signatures —
    * the same fold as [[Dedup.bandBucket]]; bb = "band:bucket" is the
    * bands table's merge key.
    */
  def bandRows(sigs: DataFrame): DataFrame = {
    val bandStructs = (0 until Dedup.minhashBands).map { b =>
      struct(lit(b).as("band"),
        Dedup.bandBucket((0 until Dedup.MinhashRowsPerBand).map(j =>
          col("sig").getItem(b * Dedup.MinhashRowsPerBand + j))).as("bucket"))
    }
    sigs.select(col("doc_id"), explode(array(bandStructs: _*)).as("x"))
      .select(col("doc_id"), col("x.band").as("band"), col("x.bucket").as("bucket"),
        concat_ws(":", col("x.band"), col("x.bucket")).as("bb"))
  }

  /** Capped, sorted member lists per bb: rank first (streamed window,
    * bounded memory), collect after — the list is ≤ maxBucket long by
    * construction.
    */
  private def memberLists(rows: DataFrame, maxBucket: Int): DataFrame = {
    val w = Window.partitionBy(col("bb")).orderBy(col("doc_id"))
    rows.select(col("bb"), col("doc_id")).distinct()
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= maxBucket)
      .groupBy(col("bb"))
      .agg(array_sort(collect_list(col("doc_id"))).as("members"))
  }

  private def snapTable(spark: org.apache.spark.sql.SparkSession, root: String,
      rows: DataFrame, key: String, numBuckets: Int): IceLiteTable = {
    val cfg = graft.stream.CdcConfig(
      logDir = s"$root/_nolog", tableRoot = root,
      checkpointDir = s"$root/_nockpt", keyCol = key, numBuckets = numBuckets)
    graft.stream.CdcJob.snapshot(spark, rows, cfg, snapshotLsn = 0L)
  }

  /** Build the index from an initial corpus (one signature pass). */
  def create(spark: org.apache.spark.sql.SparkSession, root: String,
      corpus: DataFrame, textCol: String = "text", numBuckets: Int = 64,
      maxBucket: Int = Dedup.DefaultMaxBucket): Index = {
    // cached signatures: the aggregation (the dominant cost) feeds BOTH
    // tables; create() is eager (snapshot writes), so the caches'
    // lifetime is exactly this call
    val (sg, release) = signaturesCached(corpus, textCol)
    try {
      val bands = memberLists(bandRows(sg), maxBucket)
      Index(
        bands = snapTable(spark, s"$root/bands", bands, "bb", numBuckets),
        sigs = snapTable(spark, s"$root/sigs", sg, "doc_id", numBuckets))
    } finally release()
  }

  /** Load an existing index. */
  def load(spark: org.apache.spark.sql.SparkSession, root: String): Index =
    Index(IceLite.load(spark, s"$root/bands"), IceLite.load(spark, s"$root/sigs"))

  /** Batch docs that are near-dups of INDEXED docs:
    * (doc_id, dup_of, matches) with dup_of = the smallest qualifying
    * indexed owner and matches = its equal-signature-component count.
    * Reads only the index buckets the batch hashes to.
    *
    * Bound: candidates ≤ |batch| x bands x maxBucket (each batch doc
    * meets at most `maxBucket` members in each of its bands' buckets),
    * and the broadcast side is the BATCH-derived candidate set — size
    * your micro-batches (maxFilesPerTrigger) so that bound broadcasts;
    * the corpus-sized index is never shuffled regardless.
    */
  def probe(idx: Index, batch: DataFrame, minMatches: Int = DefaultMinMatches,
      textCol: String = "text"): DataFrame = {
    // cached signatures: standalone probe callers leave the
    // batch-sized caches to Spark's LRU (the result is lazy — an eager
    // release here would just force recomputation downstream)
    val (sg, _) = signaturesCached(batch, textCol)
    probeUsing(idx, sg, minMatches)
  }

  /** probe over ALREADY-CACHED signatures ([[signaturesCached]]) — the
    * shared core: the sg frame feeds the band rows (whose bucket-id
    * collect below materializes the cache) and the sig_a verification
    * join; uncached, the 128-permutation aggregation would run several
    * times per probe.
    */
  private def probeUsing(idx: Index, sg: DataFrame, minMatches: Int): DataFrame =
    probeUsingCand(idx, sg, minMatches)._1

  /** [[probeUsing]] plus the candidate-pair cache handle: eager callers
    * ([[dedupAndUpdate]], once the result is materialized) release it;
    * lazy callers ([[probe]]) leave it to the LRU like the sg caches.
    */
  private def probeUsingCand(idx: Index, sg: DataFrame,
      minMatches: Int): (DataFrame, () => Unit) = {
    val br = bandRows(sg)
    val bsnap = idx.bands.refresh()
    // distinct BUCKET ids (≤ numBuckets ints — driver-safe at any batch
    // size, the DedupIndex.probe discipline)
    val buckets = IceLite.bucketsOf(br, "bb", bsnap.numBuckets)
    val bandIdx = idx.bands.readMerged(buckets)
      .where(!col(IceLite.TOMB)).select(col("bb"), col("members"))
    // persisted: the candidate PAIR list is consumed twice (the bucket-id
    // collect below and the verification join) — uncached, the explode +
    // distinct over the banded index would run twice per probe
    val cand = bandIdx
      .join(broadcast(br.select(col("doc_id"), col("bb"))), Seq("bb"))
      .select(col("doc_id"), explode(col("members")).as("dup_of"))
      .where(col("dup_of") =!= col("doc_id"))
      .distinct()
      .persist()
    val ssnap = idx.sigs.refresh()
    val candBuckets = IceLite.bucketsOf(cand, "dup_of", ssnap.numBuckets)
    val sigIdx = idx.sigs.readMerged(candBuckets)
      .where(!col(IceLite.TOMB))
      .select(col("doc_id").as("dup_of"), col("sig").as("sig_b"))
    // integer verification: count equal components with the codegen'd
    // sig_matches expression (an unrolled 128-term when-chain exceeds
    // janino's 64 KB method limit and silently de-codegens the stage).
    // Broadcast MOVES KEYS, NOT PAYLOADS (guide §8): the pair list is
    // 16 bytes/row, so it broadcasts at any candidate count the bucket
    // cap admits, while the k-long signature arrays ride their own
    // sides — the former shape broadcast cand ⨝ sig_a (the batch's
    // FULL signature payload replicated per candidate: at the
    // degenerate-stress operating point ~1.3M candidates x ~1 KB of
    // array, a GB-scale broadcast build). The index is still never
    // shuffled; sig_a attaches from the batch-sized (cached) sg frame.
    graft.plans.VecMath.register(sg.sparkSession)
    val out = sigIdx.join(broadcast(cand), Seq("dup_of"))
      .join(broadcast(sg.select(col("doc_id"), col("sig").as("sig_a"))), Seq("doc_id"))
      .withColumn("matches", expr("sig_matches(sig_a, sig_b)"))
      .where(col("matches") >= minMatches)
      .groupBy(col("doc_id"))
      .agg(min(col("dup_of")).as("dup_of"),
        min_by(col("matches"), col("dup_of")).as("matches"))
      .select(col("doc_id"), col("dup_of"), col("matches"))
    (out, () => { cand.unpersist(); () })
  }

  /** Register new docs: signatures insert, band member lists
    * read-modify-merged (union, re-sorted, re-capped) — both through
    * the engine's idempotent versioned apply, so replays converge.
    */
  def update(idx: Index, newDocs: DataFrame, batchId: Long, commitLsn: Long,
      textCol: String = "text",
      maxBucket: Int = Dedup.DefaultMaxBucket): Unit = {
    // cached: feeds the sig events AND the band rows; update is eager
    // (two applyBatch calls), so the lifetime is this call
    val (sg, release) = signaturesCached(newDocs, textCol)
    try updateFrom(idx, sg, batchId, commitLsn, maxBucket)
    finally release()
  }

  private def updateFrom(idx: Index, sg: DataFrame, batchId: Long,
      commitLsn: Long, maxBucket: Int): Unit = {
    val sigEvents = sg.select(
      lit("c").as("op"),
      struct(col("doc_id"), col("sig")).as("after"),
      lit(null).cast(StructType(Seq(StructField("doc_id", LongType)))).as("before"),
      graft.plans.StableLit.long(commitLsn).as("commit_lsn"),
      // deterministic per doc (the DedupIndex change_lsn rule)
      TextOps.portableHash(col("doc_id").cast("string")).as("change_lsn"))
    MergeApply.applyBatch(idx.sigs, sigEvents, batchId)

    val br = bandRows(sg)
    val bsnap = idx.bands.refresh()
    val buckets = IceLite.bucketsOf(br, "bb", bsnap.numBuckets)
    val touched = idx.bands.readMerged(buckets)
      .where(!col(IceLite.TOMB)).select(col("bb"), col("members"))
      .join(broadcast(br.select(col("bb")).distinct()), Seq("bb"), "left_semi")
    val merged = memberLists(
      touched.select(col("bb"), explode(col("members")).as("doc_id"))
        .unionByName(br.select(col("bb"), col("doc_id"))),
      maxBucket)
    val bandEvents = merged.select(
      lit("c").as("op"),
      struct(col("bb"), col("members")).as("after"),
      lit(null).cast(StructType(Seq(StructField("bb",
        org.apache.spark.sql.types.StringType)))).as("before"),
      graft.plans.StableLit.long(commitLsn).as("commit_lsn"),
      TextOps.portableHash(col("bb")).as("change_lsn"))
    MergeApply.applyBatch(idx.bands, bandEvents, batchId)
    ()
  }

  /** Structured-Streaming form: tail a document directory and keep the
    * corpus near-dup-free INCREMENTALLY — each micro-batch is deduped
    * against the index (and within itself), survivors register, and
    * the clean rows land in `outDir/batch-N` (overwrite-per-batchId,
    * so replays after a restart are idempotent end to end: the engine
    * applies are batchId-gated and the output dir is rewritten
    * identically). `commitLsn = baseLsn + batchId + 1` keeps index
    * versions monotone across batches.
    */
  def stream(spark: org.apache.spark.sql.SparkSession, idx: Index,
      docsDir: String, checkpointDir: String, outDir: String,
      schema: org.apache.spark.sql.types.StructType,
      minMatches: Int = DefaultMinMatches, textCol: String = "text",
      maxFilesPerTrigger: Int = 1, baseLsn: Long = 0L)
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(docsDir)
      .writeStream
      .queryName("graft-neardup-ingest")
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        val clean = dedupAndUpdate(idx, df, batchId,
          commitLsn = baseLsn + batchId + 1, minMatches = minMatches,
          textCol = textCol)
        try clean.write.mode("overwrite").parquet(f"$outDir/batch-$batchId%08d")
        finally { clean.unpersist(); () }
        ()
      }
      .start()

  /** Batch docs that are VERIFIED near-dups of a lower-id doc in the
    * SAME batch: capped banded candidate pairs (the batch's own LSH,
    * [[Dedup.bucketPairs]]) verified by signature agreement. A doc is
    * flagged iff it has a qualifying lower-id partner — whether or not
    * that partner is itself flagged (a dup CHAIN collapses to its local
    * minima; deterministic, one pass, no iterative component
    * computation). Input is the arrayed-signature frame (batch-sized;
    * every join broadcasts it).
    */
  def withinBatchNearDups(sg: DataFrame, minMatches: Int = DefaultMinMatches,
      maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    graft.plans.VecMath.register(sg.sparkSession)
    val pairs = Dedup.bucketPairs(bandRows(sg), "doc_id", "doc_a", "doc_b", maxBucket)
    pairs
      .join(broadcast(sg.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"))), Seq("doc_a"))
      .join(broadcast(sg.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"))), Seq("doc_b"))
      .where(expr("sig_matches(sig_a, sig_b)") >= minMatches)
      .select(col("doc_b").as("doc_id")).distinct()
  }

  /** The full incremental step: canonicalize EXACT dups within the
    * batch (first — see the frame note in the body), flag the
    * canonicals' near-dups against the index, drop the batch's own
    * verified near-dup tails ([[withinBatchNearDups]] — the lowest id
    * of a near-dup cluster arriving together is the one that
    * registers), register the survivors, and return the clean rows.
    * One signature pass + one probe + one within-batch pass + two
    * engine applies per micro-batch — all batch-bounded. An exact copy
    * of an index-flagged canonical is dropped with it (identical
    * content, identical verdict).
    *
    * The returned frame is MATERIALIZED AND CACHED (its lineage runs
    * through caches this method releases before returning) — the
    * caller owns `unpersist()` once the rows are consumed, as
    * [[stream]] does after writing each micro-batch.
    */
  def dedupAndUpdate(idx: Index, batch: DataFrame, batchId: Long, commitLsn: Long,
      minMatches: Int = DefaultMinMatches, textCol: String = "text",
      maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    // 1. within-batch EXACT canonicalization FIRST (cheap fingerprint
    //    groupBy, no shingles): a mass-duplicated batch must not poison
    //    the shingle-DF statistics — signed raw, every copy's shingles
    //    are hot, the whole cluster degrades to the pseudo-shingle
    //    fallback, and the canonical would register a signature its
    //    later real-shingled copies can never match. Canonical-first is
    //    also simply less work: one text per distinct content is signed.
    val canon = DedupIndex.fingerprints(batch, textCol)
      .groupBy(col(DedupIndex.FpCol)).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val batchCanon = batch.join(broadcast(canon), Seq("doc_id"), "left_semi")
    // 2. ONE cached signature pass over the canonical frame serves the
    //    index probe, the within-batch near-check, AND registration.
    //    (The DF-cap/fallback frame is thus the canonicalized batch;
    //    index-flagged docs' shingles still count toward the cap — a
    //    bounded approximation, each flagged doc is distinct content.)
    val (sgB, release) = signaturesCached(batchCanon, textCol)
    try {
      val (probed, releaseCand) = probeUsingCand(idx, sgB, minMatches)
      try {
        val dups = probed.select(col("doc_id"))
        val clean0 = batchCanon.join(broadcast(dups), Seq("doc_id"), "left_anti")
        val sgC = sgB.join(broadcast(clean0.select(col("doc_id"))),
          Seq("doc_id"), "left_semi")
        val near = withinBatchNearDups(sgC, minMatches, maxBucket).persist()
        try {
          // materialize the clean rows while the upstream caches are hot,
          // then release every per-batch cache deterministically — a
          // long-running stream must not accumulate cached frames. The
          // returned frame itself stays cached (batch-sized); stream()
          // unpersists it after writing.
          val clean = clean0.join(broadcast(near), Seq("doc_id"), "left_anti").persist()
          try clean.count()
          catch { case t: Throwable => clean.unpersist(); throw t }
          updateFrom(idx,
            sgC.join(broadcast(near), Seq("doc_id"), "left_anti"),
            batchId, commitLsn, maxBucket)
          clean
        } finally { near.unpersist(); () }
      } finally releaseCand()
    } finally release()
  }
}
