package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Token-sequence packing for pretraining: documents are concatenated
  * in a deterministic order and CHUNKED into fixed `capacity`-token
  * training sequences (document-crossing allowed — the standard
  * "concat-and-chunk" packing), so every sequence except a group's
  * last is exactly full.
  *
  * Scale shape: a single global concatenation order would serialize on
  * one partition (a running sum over the whole corpus), so documents
  * are first spread into `groups` independent packing groups by key
  * hash — each group packs in parallel with its own running offset
  * (one window per group, keys hash-spread, no global sort). At 10^10
  * docs, `groups` scales with the cluster (each group's window is a
  * per-partition scan after the hash exchange). Within a group the
  * order (doc_id) and arithmetic are integer-exact, so any engine
  * reproduces the same layout — the DuckDB oracle replays it.
  *
  * Per document: its packing group, its [start_off, end_off) token
  * interval in the group's concatenated stream, and the first/last
  * sequence (bin) it lands in — everything a writer needs to emit the
  * packed sequences, and everything an index needs to find a doc in
  * them.
  */
object Packing {

  /** Packing-group assignment: the PORTABLE 56-bit hash (md5-derived,
    * non-negative), not Spark's murmur3 — the layout must be
    * bit-reproducible by any engine (the oracles) and across reruns.
    */
  private def grpOf(idCol: String, groups: Int): Column =
    pmod(TextOps.portableHash(col(idCol).cast("string")), lit(groups.toLong))

  def packOffsets(docs: DataFrame, capacity: Int = 2048, groups: Int = 8,
      idCol: String = "doc_id", nTokCol: String = "n_tok"): DataFrame = {
    require(capacity > 0 && groups > 0)
    val g = grpOf(idCol, groups).as("grp")
    val w = Window.partitionBy(col("grp")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = sum(col("__n")).over(w)
    docs.select(col(idCol), col(nTokCol).cast("long").as("__n"), g)
      .withColumn("end_off", cum)
      .withColumn("start_off", col("end_off") - col("__n"))
      .select(
        col(idCol),
        col("grp").cast("long").as("grp"),
        col("start_off"),
        col("end_off"),
        floor(col("start_off") / capacity).cast("long").as("first_seq"),
        // last token of the doc sits at end_off - 1
        floor((col("end_off") - 1) / capacity).cast("long").as("last_seq"))
  }

  /** Fingerprint fold of a token id: 2^20 buckets, so the
    * position-weighted sum below stays inside 63 bits
    * (2048 positions x 2^20 x 2048 terms < 2^62).
    */
  private val FpFold = 1048576L

  /** MATERIALIZED packed sequences — the training-export form of
    * [[packOffsets]]: every capacity-token sequence with its document
    * count, token count, and an ORDER-SENSITIVE content fingerprint
    * (sum of position-in-sequence x folded-token-id), so any engine —
    * and any re-run — must reproduce the exact byte layout a sequence
    * writer would emit, not just the offsets.
    *
    * Scale shape: token work never leaves the row — each document
    * computes its per-sequence fragment summaries from its own token
    * array (one `explode` of the ≤ 1 + n/capacity sequences the doc
    * spans), and the only exchange is the final groupBy on
    * (group, seq): the shuffled rows are fragment PARTIALS (4 longs),
    * never tokens. Fingerprint terms are position-weighted within the
    * sequence, so concatenation order errors (not just content errors)
    * break the equality.
    *
    * `tokCol` is an array of numeric token ids; ids are folded mod 2^20
    * for the fingerprint only (counts/offsets stay exact).
    */
  def packEmit(docs: DataFrame, capacity: Int = 2048, groups: Int = 8,
      idCol: String = "doc_id", tokCol: String = "tokens"): DataFrame = {
    require(capacity > 0 && groups > 0)
    val g = grpOf(idCol, groups).as("grp")
    val w = Window.partitionBy(col("grp")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Decision pass on NARROW rows, payload moved once (guide §8): the
    // running-offset window previously carried every document's token
    // array through an exchange hashed to `groups` partitions — the
    // whole corpus's fragment/fingerprint arithmetic then ran at
    // parallelism `groups` (a packing-layout constant, NOT a cluster
    // width). Now the window sums (doc_id, n) only; the token arrays
    // meet their offsets through an equi-join on the doc id (broadcast
    // while the offset table is small, sort-merge at scale), so the
    // per-token work runs at scan/cluster parallelism and the only
    // exchange of fragment partials is the final (grp, seq) groupBy.
    val lens = docs
      .select(col(idCol), size(col(tokCol)).cast("long").as("__n"), g)
      .where(col("__n") > 0)
      .withColumn("end_off", sum(col("__n")).over(w))
      .select(col(idCol), col("grp"), col("end_off"))
    val base = docs
      .select(col(idCol), transform(col(tokCol),
        t => pmod(t.cast("long"), lit(FpFold))).as("__tv"))
      .join(lens, Seq(idCol))
      .withColumn("__n", size(col("__tv")).cast("long"))
      .withColumn("start_off", col("end_off") - col("__n"))
    val spans = base.withColumn("seq", explode(sequence(
      floor(col("start_off") / capacity).cast("long"),
      floor((col("end_off") - 1) / capacity).cast("long"))))
    // the doc-local token slice [lo, hi) landing in this sequence, and
    // how many of the sequence's tokens precede the fragment
    val lo = greatest(lit(0L), col("seq") * capacity - col("start_off"))
    val hi = least(col("__n"), (col("seq") + 1) * capacity - col("start_off"))
    val pre = col("start_off") + lo - col("seq") * capacity
    val frag = spans.select(
      col("grp").cast("long").as("grp"), col("seq"),
      (hi - lo).as("f_tok"),
      aggregate(
        transform(slice(col("__tv"), (lo + 1).cast("int"), (hi - lo).cast("int")),
          (x, i) => (pre + i + 1) * x),
        lit(0L), (a, b) => a + b).as("f_fp"))
    frag.groupBy(col("grp"), col("seq").as("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("f_tok")).as("n_tok"),
        sum(col("f_fp")).as("seq_fp"))
      .select(col("grp"), col("seq_id"), col("n_docs"), col("n_tok"), col("seq_fp"))
  }

  /** Per-group packing summary: sequences produced and the fill ratio
    * of the (single, final) partially-filled sequence per group.
    */
  def packStats(docs: DataFrame, capacity: Int = 2048, groups: Int = 8,
      idCol: String = "doc_id", nTokCol: String = "n_tok"): DataFrame =
    docs.select(grpOf(idCol, groups).cast("long").as("grp"),
        col(nTokCol).cast("long").as("__n"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__n")).as("total_tokens"))
      .withColumn("n_seqs", ceil(col("total_tokens").cast("double") / capacity).cast("long"))
      .withColumn("tail_fill",
        round((col("total_tokens") - (col("n_seqs") - 1) * capacity).cast("double")
          / capacity, 4))
}
