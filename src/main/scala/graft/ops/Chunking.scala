package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Context-window chunking — the SPLIT side of training-data layout
  * (the complement of [[Packing]]'s concat-and-chunk): every document
  * longer than `maxLen` tokens is cut into overlapping windows of at
  * most `maxLen` tokens whose starts step by `stride` (overlap =
  * maxLen - stride), the standard sliding-window split used to fit
  * long documents into a model's context window without losing the
  * token runs that cross a hard cut.
  *
  * Chunk layout (integer-exact, so any engine reproduces it):
  *   n_chunks = 1                              if n <= maxLen
  *            = ceil((n - maxLen)/stride) + 1  otherwise
  *   chunk i  = tokens[i*stride, min(i*stride + maxLen, n))
  * Every non-last chunk is exactly `maxLen` long; the last chunk ends
  * at the document's last token and is never empty nor fully contained
  * in its predecessor (ceil picks the first window reaching the end).
  *
  * Scale shape: token work never leaves the row — chunk boundaries,
  * lengths, and the order-sensitive fingerprint are all computed from
  * the document's own token array (one `explode` of the doc's
  * n_chunks window ids); [[chunkEmit]] is a pure projection with ZERO
  * exchange, and [[chunkStats]] ships only 4-long per-doc partials
  * into one map-side-combined groupBy (per-doc chunk counts and
  * emitted/overlap token totals have closed forms — no explode at
  * all on the stats path).
  */
object Chunking {

  /** Fingerprint fold of a token id: 2^20 buckets keeps the
    * position-weighted sum inside 63 bits for maxLen up to 2048
    * (positions x fold x terms < 2^62), same discipline as
    * [[Packing]].
    */
  private val FpFold = 1048576L

  private def withLayout(docs: DataFrame, maxLen: Int, stride: Int,
      idCol: String, tokCol: String): DataFrame = {
    require(maxLen > 0 && stride > 0 && stride <= maxLen,
      s"need 0 < stride <= maxLen, got maxLen=$maxLen stride=$stride")
    docs
      .select(col(idCol), transform(col(tokCol),
        t => pmod(t.cast("long"), lit(FpFold))).as("__tv"),
        size(col(tokCol)).cast("long").as("__n"))
      .where(col("__n") > 0)
      .withColumn("n_chunks",
        when(col("__n") <= maxLen, lit(1L)).otherwise(
          floor((col("__n") - maxLen + stride - 1) / lit(stride)) + 1L))
  }

  /** One row per (document, chunk): the chunk's token interval, its
    * length, how many of its tokens are NEW (not re-emitted overlap
    * from the previous chunk), and an order-sensitive content
    * fingerprint (1-based position-in-chunk x folded token id), so a
    * wrong boundary, a wrong overlap, or any reordering breaks the
    * equality — not just wrong totals.
    */
  def chunkEmit(docs: DataFrame, maxLen: Int = 256, stride: Int = 192,
      idCol: String = "doc_id", tokCol: String = "tokens"): DataFrame = {
    val ch = withLayout(docs, maxLen, stride, idCol, tokCol)
      .withColumn("chunk_idx", explode(sequence(lit(0L), col("n_chunks") - 1)))
    val start = col("chunk_idx") * stride
    val end = least(start + maxLen, col("__n"))
    // chunk i-1 is never the last when chunk i exists, so its end is
    // un-truncated (i-1)*stride + maxLen; least() keeps it safe anyway
    val prevEnd = least((col("chunk_idx") - 1) * stride + maxLen, col("__n"))
    ch.select(
      col(idCol),
      col("chunk_idx"),
      start.as("start_tok"),
      (end - start).as("chunk_tok"),
      when(col("chunk_idx") === 0, end - start)
        .otherwise(end - prevEnd).as("new_tok"),
      aggregate(
        transform(slice(col("__tv"), (start + 1).cast("int"), (end - start).cast("int")),
          (x, i) => (i + 1) * x),
        lit(0L), (a, b) => a + b).as("chunk_fp"))
  }

  /** Per-stratum chunking summary without materializing a single
    * chunk: emitted tokens per doc have the closed form
    * n + (n_chunks - 1) * (maxLen - stride), so the overlap cost of a
    * (maxLen, stride) choice is priced from doc lengths alone.
    */
  def chunkStats(docs: DataFrame, maxLen: Int = 256, stride: Int = 192,
      idCol: String = "doc_id", tokCol: String = "tokens",
      strataCol: String = "source"): DataFrame = {
    require(maxLen > 0 && stride > 0 && stride <= maxLen,
      s"need 0 < stride <= maxLen, got maxLen=$maxLen stride=$stride")
    // lengths only — the token arrays themselves are never touched
    val perDoc = docs
      .select(col(strataCol), size(col(tokCol)).cast("long").as("__n"))
      .where(col("__n") > 0)
      .withColumn("n_chunks",
        when(col("__n") <= maxLen, lit(1L)).otherwise(
          floor((col("__n") - maxLen + stride - 1) / lit(stride)) + 1L))
    val emitted = col("__n") + (col("n_chunks") - 1) * (maxLen - stride)
    perDoc
      .select(col(strataCol), col("n_chunks"),
        col("__n"), emitted.as("__e"))
      .groupBy(col(strataCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chunks")).as("n_chunks"),
        max(col("n_chunks")).as("max_chunks"),
        sum(col("__n")).as("corpus_tok"),
        sum(col("__e")).as("emitted_tok"),
        sum(col("__e") - col("__n")).as("overlap_tok"))
      .withColumn("dup_factor",
        round(col("emitted_tok").cast("double") / col("corpus_tok"), 4))
  }
}
