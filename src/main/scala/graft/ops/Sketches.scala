package graft.ops

import graft.plans.{KmvSketch, MisraGries}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded-state cardinality sketches for corpus-scale profiling.
  *
  * Scale notes: `count(distinct x)` per group ships every distinct
  * value through the shuffle (Expand + two-phase agg). The KMV sketch
  * ([[graft.plans.KmvSketch]]) ships at most `KmvK` longs per group per
  * map task — constant regardless of cardinality — and is map-side
  * combined by ObjectHashAggregate. At 100 TB this is the difference
  * between a distinct-profiling job being O(distinct values) and
  * O(groups * k) on the wire. Everything is integer-exact over the
  * portable 56-bit hash, so a SQL oracle replays the sketch (and its
  * estimate) bit-for-bit: no RNG, no float accumulation.
  */
object Sketches {

  /** Sketch size. The SQL oracles are GENERATED from this constant —
    * change it only here. Relative error ≈ 1/sqrt(k-1) ≈ 12.6%.
    */
  val KmvK: Int = 64

  /** (k-1) * 2^56: the KMV estimator numerator over the 56-bit hash
    * domain. Fits a signed 64-bit integer for k <= 128.
    */
  val KmvEstNum: Long = (KmvK - 1).toLong * (1L << 56)

  /** Per-stratum distinct-content profile of a corpus: exact distinct
    * count (the small-scale comparison column — at production scale you
    * would drop it; that is the point of the sketch), the KMV estimate,
    * and its signed relative error.
    *
    * The estimate is computed with pure integer division (`div`) so it
    * is bit-identical across engines: exact when the stratum has fewer
    * than k distinct values, `(k-1)*2^56 div kth_min` otherwise.
    */
  def distinctProfile(df: DataFrame, strataCol: String = "lang",
      textCol: String = "text", k: Int = KmvK): DataFrame = {
    require(k >= 2 && k <= 128, s"k out of the overflow-safe range: $k")
    val num = (k - 1).toLong * (1L << 56)
    df.select(col(strataCol),
        TextOps.portableHash(TextOps.normalized(col(textCol))).as("__hv"))
      .groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("__hv")).as("n_distinct"),
        KmvSketch.agg(col("__hv"), k).as("__sk"))
      .select(col(strataCol), col("n_docs"), col("n_distinct"),
        col("__sk.n_kept").as("n_kept"),
        expr(s"CASE WHEN __sk.n_kept < $k THEN __sk.n_kept " +
          s"ELSE ${num}L div __sk.kth END").as("est_distinct"))
      .withColumn("rel_err", round(
        (col("est_distinct") - col("n_distinct")).cast("double") /
          col("n_distinct"), 4))
  }

  /** N-WAY shared-content profile across ALL strata at once: for each
    * c in 1..L, how many distinct contents appear in exactly c strata —
    * exact (the small-scale comparison column) AND estimated from ONE
    * union KMV sketch. Pairwise inclusion-exclusion does not scale past
    * a handful of sets (2^L terms); the KMV set-operation estimator
    * does: the bottom-k of the union is a uniform sample of the
    * distinct-content universe, so the number of sample members shared
    * by exactly c strata, scaled by est_union/n_kept, estimates the
    * true count (Beyer et al., "On synopses for distinct-value
    * estimation under multiset operations", SIGMOD'07).
    *
    * Scale shape: one reduce of the corpus to distinct (stratum, hash)
    * rows, one map-side-combined sharing-count aggregation, ONE bounded
    * union sketch (k longs of driver state — the model-state pattern),
    * and one scan with the broadcast `hv <= kth` membership predicate.
    * No global sort, no 2^L expansion, no distinct-set shuffle.
    * Integer-exact: `est_shared = m * (est_union div n_kept)` (the
    * per-member scale is divided FIRST so the product stays in range at
    * any k ≤ 128 — the same expression the generated oracle replays).
    */
  def kwayProfile(df: DataFrame, strataCol: String = "lang",
      textCol: String = "text", k: Int = KmvK): DataFrame = {
    require(k >= 2 && k <= 128, s"k out of the overflow-safe range: $k")
    val num = (k - 1).toLong * (1L << 56)
    val hv = df.select(col(strataCol).as("lang0"),
        TextOps.portableHash(TextOps.normalized(col(textCol))).as("__hv"))
      .distinct()
    val ph = hv.groupBy(col("__hv"))
      .agg(countDistinct(col("lang0")).as("shared_by"))
    val sk = ph.agg(KmvSketch.agg(col("__hv"), k).as("__sk"))
      .select(col("__sk.n_kept").as("n_kept"), col("__sk.kth").as("kth"))
      .collect()(0)
    val nKept = sk.getLong(0)
    val kth = if (sk.isNullAt(1)) 0L else sk.getLong(1)
    val estUnion = if (nKept < k) nKept else num / math.max(1L, kth)
    val perMember = if (nKept == 0L) 0L else estUnion / nKept
    ph.groupBy(col("shared_by"))
      .agg(count(lit(1)).as("n_exact"),
        sum(when(col("__hv") <= kth, 1L).otherwise(0L)).as("m"))
      .select(col("shared_by"), col("n_exact"), col("m"),
        (col("m") * lit(perMember)).as("est_shared"))
  }

  /** Pairwise corpus-overlap matrix between strata, by KMV sketch merge
    * + inclusion-exclusion: for every unordered stratum pair,
    * `est_inter = max(0, est_a + est_b - est_union)` where `est_union`
    * comes from the bottom-k of the pair's UNION of distinct content
    * hashes (KMV sketches are mergeable — the union sketch is just the
    * bottom-k of both sketches' values, which is why one pass suffices).
    *
    * Scale shape: the corpus reduces once to distinct (stratum, hash)
    * rows; each then fans out to its L-1 pairs via a broadcast join
    * against the tiny pair table (L = #strata, so the amplification is
    * bounded and known), and everything else is map-side-combined
    * aggregation. The exact union/intersection columns are the
    * small-scale comparison — at 100 TB you would keep only the
    * sketch estimates (bounded state, no distinct-set shuffle).
    * Integer-exact end to end: the SQL oracle replays every estimate.
    */
  def overlapProfile(df: DataFrame, strataCol: String = "lang",
      textCol: String = "text", k: Int = KmvK): DataFrame = {
    require(k >= 2 && k <= 128, s"k out of the overflow-safe range: $k")
    val num = (k - 1).toLong * (1L << 56)
    def est(nKept: String, kth: String): String =
      s"CASE WHEN $nKept < $k THEN $nKept ELSE ${num}L div $kth END"
    val hv = df.select(col(strataCol).as("lang0"),
        TextOps.portableHash(TextOps.normalized(col(textCol))).as("__hv"))
      .distinct()
    // per-stratum sketch estimates (L rows — broadcast into the pair join)
    val perStratum = hv.groupBy(col("lang0"))
      .agg(KmvSketch.agg(col("__hv"), k).as("__sk"))
      .select(col("lang0"), expr(est("__sk.n_kept", "__sk.kth")).as("est1"))
    val langs = perStratum.select(col("lang0")).collect().map(_.getString(0)).sorted
    val pairs = for (i <- langs.indices; j <- i + 1 until langs.length)
      yield (langs(i), langs(j))
    val spark = df.sparkSession
    import spark.implicits._
    val pairDf = pairs.toDF("lang_a", "lang_b")
    // two broadcast EQUI-joins (unioned) rather than one OR-predicate
    // join: the OR condition has no equi keys, so Spark would plan a
    // BroadcastNestedLoopJoin — every row scanning all L(L-1)/2 pairs.
    // The union keeps the exact same row multiset with hash-join plans
    // (each row hash-probes its lang once per side).
    val expanded = hv.join(broadcast(pairDf), col("lang0") === col("lang_a"))
      .unionByName(hv.join(broadcast(pairDf), col("lang0") === col("lang_b")))
    val perHash = expanded.groupBy(col("lang_a"), col("lang_b"), col("__hv"))
      .agg(countDistinct(col("lang0")).as("__nl"))
    perHash.groupBy(col("lang_a"), col("lang_b"))
      .agg(count(lit(1)).as("n_union"),
        sum(when(col("__nl") === 2, 1L).otherwise(0L)).as("n_inter"),
        KmvSketch.agg(col("__hv"), k).as("__sk"))
      .select(col("lang_a"), col("lang_b"), col("n_union"), col("n_inter"),
        expr(est("__sk.n_kept", "__sk.kth")).as("est_union"))
      .join(broadcast(perStratum.withColumnRenamed("lang0", "lang_a")
        .withColumnRenamed("est1", "est_a")), Seq("lang_a"))
      .join(broadcast(perStratum.withColumnRenamed("lang0", "lang_b")
        .withColumnRenamed("est1", "est_b")), Seq("lang_b"))
      .select(col("lang_a"), col("lang_b"), col("n_union"), col("n_inter"),
        col("est_union"),
        greatest(lit(0L), col("est_a") + col("est_b") - col("est_union"))
          .as("est_inter"))
  }

  /** Heavy hitters over a token stream — candidates from a bounded-state
    * Misra-Gries sketch ([[graft.plans.MisraGries]]), then ONE exact
    * filtered count to verify. Output: exactly the tokens with true
    * frequency > N/(k+1), with their exact counts and integer share in
    * basis points — deterministic regardless of row order, partitioning
    * or merge tree (the MG guarantee is that no such token can be
    * evicted; sub-threshold extras the sketch may carry are removed by
    * the exact verify, so the output never depends on merge-order-
    * sensitive sketch counts).
    *
    * Scale shape: the candidate pass aggregates the ENTIRE stream into
    * ≤ k counters per map task (ObjectHashAggregate, map-side combined
    * — the stream is never shuffled, unlike `groupBy(token)` whose
    * shuffle carries one row per distinct token per map task), and the
    * stream total N rides the SAME pass as a second aggregate; the
    * verify pass joins the broadcast ≤ k candidates (which carry N)
    * and counts only them, so its shuffle is ≤ k rows per map task.
    * Two stream scans total — candidates-then-verify, the same
    * discipline as LSH-then-exact-Jaccard.
    */
  def heavyHitters(tokens: DataFrame, k: Int = 16,
      tokenCol: String = "word"): DataFrame = {
    val tok = tokens.select(col(tokenCol).as("word"))
    val cand = tok
      .agg(MisraGries.agg(col("word"), k).as("__c"), count(lit(1)).as("__t"))
      .select(explode(col("__c")).as("word"), col("__t"))
    tok.join(broadcast(cand), Seq("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"), max(col("__t")).as("__t"))
      .where(col("n") * (k + 1) > col("__t"))
      .select(col("word"), col("n"),
        expr("n * 10000L div __t").as("share_bp"))
  }
}
