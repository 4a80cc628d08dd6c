package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * word-shingle Jaccard, MinHash + LSH banding, SimHash, and
  * embedding-cosine near-dup.
  *
  * Scale notes (the part that matters at 100 TB):
  *   - exact dedup is a single hash `groupBy` on a 56-bit content
  *     fingerprint — map-side combined, skew-free (hash keys).
  *   - every shingle-based operator runs over [[cappedShingles]]: a
  *     shingle whose document frequency exceeds `maxDocFreq` (a stopword
  *     trigram shared by millions of docs — the join-skew bomb: one such
  *     key alone yields df^2 join rows) is dropped BEFORE any join or
  *     signature. The cap is part of the operator's semantics and is
  *     mirrored in the SQL oracles.
  *   - pairwise shingle Jaccard is quadratic in the worst case; it is
  *     the small-scale oracle. The scale path is [[lshVerifiedPairs]]:
  *     MinHash banding proposes candidates via an equi-join on
  *     (band, bucket) — shuffle bounded by collision count, not
  *     |docs|^2 — then exact Jaccard verifies ONLY the candidates.
  *   - embedding near-dup joins only within banded sign-LSH buckets
  *     (integer bucketing, see [[Similarity.bandBuckets]]); the all-pairs
  *     form survives as [[embeddingNearDupsBrute]], the small-scale
  *     recall oracle.
  */
object Dedup {

  import TextOps.portableHash

  /** Default document-frequency cap for shingles (see class note). */
  val DefaultMaxDocFreq: Int = 1000

  /** Per-(band, bucket) membership cap for LSH candidate generation.
    * A degenerate corpus (mass-duplicated boilerplate — the common case
    * in web crawls) can put O(corpus) members into ONE bucket, whose
    * |B|^2 pair explosion lands on a single task; the shingle DF cap
    * does not protect against it (identical docs share every shingle
    * below the cap). The cap keeps each bucket's `DefaultMaxBucket`
    * LOWEST ids (deterministic, so the SQL oracles replay it exactly) —
    * the same discipline as [[DefaultMaxDocFreq]]. Near-dup RECALL is
    * unaffected in the common case: a bucket that overflows the cap is
    * a dup-cluster whose surviving members still pair with each other,
    * and dedup treats a cluster transitively anyway. Known edge: a doc
    * whose EVERY band bucket is full of lower-id members that are NOT
    * its near-dups (adversarial single-band-segment collisions) can be
    * evicted from all lists and become unreachable to later probes —
    * accepted as the price of the bound; compose [[DedupIndex]] (exact,
    * uncapped) upstream where exact-dup completeness is required.
    */
  val DefaultMaxBucket: Int = 256

  /** Exact dedup: group on the normalized-content fingerprint, keep the
    * smallest doc_id as canonical.
    */
  def exact(df: DataFrame, textCol: String = "text"): DataFrame =
    df.select(col("doc_id"), portableHash(TextOps.normalized(col(textCol))).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("canonical_doc_id"), count(lit(1)).as("n_dups"))

  /** Apply exact dedup: keep only each fingerprint group's canonical
    * (min doc_id) document — the "deduplicated corpus" output.
    */
  def applyExact(df: DataFrame, textCol: String = "text"): DataFrame = {
    val canon = exact(df, textCol).select(col("canonical_doc_id").as("doc_id"))
    df.join(canon, Seq("doc_id"), "left_semi")
  }

  /** Distinct word n-gram shingles per document. */
  def shingles(df: DataFrame, n: Int = 3, textCol: String = "text"): DataFrame = {
    val ws = TextOps.words(col(textCol))
    df.select(col("doc_id"), ws.as("ws"))
      .where(size(col("ws")) >= n) // sequence(1, negative) would run backwards
      .select(col("doc_id"), explode(sequence(lit(1), size(col("ws")) - (n - 1))).as("i"),
        col("ws"))
      .select(col("doc_id"),
        concat_ws(" ", (0 until n).map(j => element_at(col("ws"), col("i") + j)): _*)
          .as("shingle"))
      .distinct()
  }

  /** Shingles with the document-frequency cap applied: shingles present
    * in more than `maxDocFreq` documents are dropped. The hot set is by
    * definition small (few shingles can exceed the cap), so the anti-join
    * broadcasts.
    */
  def cappedShingles(df: DataFrame, n: Int = 3, textCol: String = "text",
      maxDocFreq: Int = DefaultMaxDocFreq): DataFrame = {
    val sh = shingles(df, n, textCol)
    val hot = sh.groupBy(col("shingle"))
      .agg(count(lit(1)).as("__df"))
      .where(col("__df") > maxDocFreq)
      .select(col("shingle"))
    sh.join(broadcast(hot), Seq("shingle"), "left_anti")
  }

  /** Pairwise n-gram Jaccard similarity (candidate pairs above the
    * threshold), over the DF-capped shingle sets. Exact but quadratic —
    * the correctness oracle for the MinHash path; at scale run
    * [[lshVerifiedPairs]] instead.
    */
  def ngramJaccardPairs(
      df: DataFrame, n: Int = 3, threshold: Double = 0.2, textCol: String = "text",
      maxDocFreq: Int = DefaultMaxDocFreq
  ): DataFrame = {
    val sh = cappedShingles(df, n, textCol, maxDocFreq).cache()
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    jaccardOf(inter, sizes, threshold)
  }

  private def jaccardOf(inter: DataFrame, sizes: DataFrame, threshold: Double): DataFrame =
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double"), 4))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("jaccard"))

  /** MinHash parameterization — production-class: k = 128 permutations
    * banded as 16 bands of 8 rows (the standard near-dup operating point:
    * 50% candidate probability at jaccard ≈ (1/16)^(1/8) ≈ 0.71, sharp
    * cutoff below). The permutation constants (a*h+b mod p over the
    * portable shingle hash) are derived deterministically from MD5 — the
    * same portable recipe as the sign-LSH plane tables — and are
    * interpolated as LITERALS into the generated SQL oracles, so any
    * engine replays the exact permutations. Override k/rows via
    * `graft.minhash.k` / `graft.minhash.rowsPerBand` system properties
    * (k must stay a multiple of rowsPerBand); the oracle SQL is always
    * generated from the ACTIVE constants.
    */
  val MinhashP: Long = 2147483647L
  val MinhashK: Int = Integer.getInteger("graft.minhash.k", 128)
  val MinhashRowsPerBand: Int = Integer.getInteger("graft.minhash.rowsPerBand", 8)
  require(MinhashK % MinhashRowsPerBand == 0, "k must be a multiple of rowsPerBand")

  /** Deterministic portable constant in [lo, mod): MD5("<tag>:<i>")'s
    * first 14 hex digits, reduced — the recipe any engine can replay.
    */
  private def mhConst(tag: String, i: Int, lo: Long, mod: Long): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$tag:$i".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.substring(0, 14)
    lo + java.lang.Long.parseLong(hex, 16) % (mod - lo)
  }
  val MinhashA: Seq[Long] = (0 until MinhashK).map(i => mhConst("mh_a", i, 1L, MinhashP))
  val MinhashB: Seq[Long] = (0 until MinhashK).map(i => mhConst("mh_b", i, 0L, MinhashP))

  def minhashBands: Int = MinhashA.size / MinhashRowsPerBand

  /** Band-bucket fold modulus: bucket = fold((acc*31 + s_i) % 2^56) over
    * the band's signature components. 2^56 keeps every intermediate
    * product within BIGINT in both engines (acc < 2^56, *31 < 2^61), so
    * the fold is overflow-free and bit-identical in SQL.
    */
  val MinhashBucketMod: Long = 1L << 56

  /** The band's bucket id from its signature component columns. */
  private[graft] def bandBucket(components: Seq[Column]): Column =
    components.foldLeft(lit(0L).cast("long"))((acc, c) =>
      pmod(acc * 31 + c, lit(MinhashBucketMod)))

  /** MinHash signatures as ONE array column (doc_id, sig[k]): the k
    * permutation minima computed by the fused
    * [[graft.plans.MinHashSigs]] TypedImperativeAggregate — one
    * ObjectHashAggregate buffer of k longs per doc, map-side combined,
    * instead of 128 separate codegen'd min-aggregates (which were slow
    * to janino-compile and dominated every signature-based operator's
    * cost). Arithmetic is bit-identical to the column form the SQL
    * oracles replay.
    */
  def minhashSigArray(df: DataFrame, n: Int = 3, textCol: String = "text",
      maxDocFreq: Int = DefaultMaxDocFreq): DataFrame =
    sigOfHashRows(cappedShingles(df, n, textCol, maxDocFreq)
      .select(col("doc_id"), pmod(portableHash(col("shingle")), lit(MinhashP)).as("h")))

  /** The fused signature aggregation over prepared (doc_id, h) rows —
    * h already reduced into [0, MinhashP). Shared with callers that
    * synthesize extra hash rows (NearDupIndex's no-shingle fallback).
    */
  private[graft] def sigOfHashRows(rows: DataFrame): DataFrame = {
    rows.groupBy(col("doc_id"))
      .agg(graft.plans.MinHashSigs.agg(col("h"), MinhashA, MinhashB, MinhashP).as("sig"))
  }

  /** MinHash signatures in the flat (doc_id, s0..s127) shape — the
    * oracle-facing projection of [[minhashSigArray]].
    */
  def minhashSignatures(df: DataFrame, n: Int = 3, textCol: String = "text",
      maxDocFreq: Int = DefaultMaxDocFreq): DataFrame =
    minhashSigArray(df, n, textCol, maxDocFreq).select(
      col("doc_id") +:
        (0 until MinhashK).map(i => element_at(col("sig"), i + 1).as(s"s$i")): _*)

  /** LSH banding: `minhashBands` bands of `MinhashRowsPerBand` signature
    * components each; candidate pairs = docs sharing any band bucket.
    * The equi-join on (band, bucket) is the scale path — no quadratic
    * pair enumeration.
    */
  def minhashCandidates(df: DataFrame, n: Int = 3, textCol: String = "text",
      maxDocFreq: Int = DefaultMaxDocFreq,
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    candidatesOfShingles(cappedShingles(df, n, textCol, maxDocFreq), maxBucket)

  /** [[minhashCandidates]] over an ALREADY-prepared capped-shingle
    * frame, so a caller that also needs the shingles for verification
    * ([[lshVerifiedPairs]]) computes them once and caches one frame.
    */
  private[graft] def candidatesOfShingles(sh: DataFrame,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val sig = sigOfHashRows(
      sh.select(col("doc_id"), pmod(portableHash(col("shingle")), lit(MinhashP)).as("h")))
    val bandStructs = (0 until minhashBands).map { b =>
      struct(lit(b).as("band"),
        bandBucket((0 until MinhashRowsPerBand).map(j =>
          element_at(col("sig"), b * MinhashRowsPerBand + j + 1))).as("bucket"))
    }
    val banded = sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    // pairs within each (band, bucket): ONE groupBy over the banded
    // signatures instead of a self-join — a self-join of a derived plan
    // recomputes the whole signature aggregation for both sides (2x the
    // dominant cost), and shuffles it twice. The membership cap runs as
    // a window row_number BEFORE the list is collected (a streamed
    // rank, never an unbounded in-row list — see [[DefaultMaxBucket]]);
    // the groupBy reuses the window's (band, bucket) partitioning, so
    // the cap costs no extra exchange.
    bucketPairs(banded, "doc_id", "doc_a", "doc_b", maxBucket)
  }

  /** Capped within-bucket pair enumeration shared by the MinHash and
    * sign-LSH candidate generators: rank members per (band, bucket) by
    * id, keep the lowest `maxBucket`, emit ordered distinct pairs.
    */
  private[graft] def bucketPairs(banded: DataFrame, idCol: String,
      outA: String, outB: String, maxBucket: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("band"), col("bucket")).orderBy(col(idCol))
    banded
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= maxBucket)
      .groupBy(col("band"), col("bucket"))
      .agg(collect_list(col(idCol)).as("ds"))
      .where(size(col("ds")) > 1)
      .select(explode(col("ds")).as(outA), col("ds"))
      .select(col(outA), explode(col("ds")).as(outB))
      .where(col(outA) < col(outB))
      .distinct()
  }

  /** The production near-dup shape: MinHash-banded candidate generation
    * followed by exact Jaccard verification of ONLY the candidate pairs
    * — never an all-pairs join. Each candidate pair's intersection is
    * counted by an equi-join of the pair list against the two documents'
    * capped shingle sets.
    */
  def lshVerifiedPairs(df: DataFrame, n: Int = 3, threshold: Double = 0.2,
      textCol: String = "text", maxDocFreq: Int = DefaultMaxDocFreq): DataFrame = {
    // ONE shingle pass feeds both the signature aggregation and the
    // verification joins (guide §1.2 "don't compute things twice"):
    // candidate generation previously re-derived cappedShingles —
    // words + explode + distinct + DF-cap anti-join, the pipeline's
    // single heaviest scan — a second time for the verify side.
    val sh = cappedShingles(df, n, textCol, maxDocFreq).cache()
    val cand = candidatesOfShingles(sh)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = cand
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"),
        col("doc_b") === col("sb.doc_id") && col("sa.shingle") === col("sb.shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    jaccardOf(inter, sizes, threshold)
  }

  /** 16-bit SimHash: per-word portable hash, bitwise weighted vote.
    * Expressed as explode(words) x explode(bits) -> two map-side-
    * combined groupBys; no UDF, no driver loop.
    */
  def simhash16(df: DataFrame, textCol: String = "text"): DataFrame = {
    val wordsDf = df
      .select(col("doc_id"), explode(TextOps.words(col(textCol))).as("w"))
      .withColumn("h", portableHash(col("w")))
    val bits = wordsDf
      .select(col("doc_id"), col("h"), explode(sequence(lit(0), lit(15))).as("b"))
      .withColumn("bit", expr("shiftright(h, cast(b as int)) % 2"))
      .groupBy(col("doc_id"), col("b"))
      .agg(sum(col("bit") * 2 - 1).as("vote"))
    bits.groupBy(col("doc_id"))
      .agg(sum(when(col("vote") > 0, expr("shiftleft(cast(1 as bigint), cast(b as int))"))
        .otherwise(0L)).as("simhash"))
  }

  /** Embedding-cosine near-duplicate pairs, bucketed: candidates share
    * at least one banded sign-LSH bucket (equi-join on (band, bucket) —
    * never corpus x corpus), then exact cosine verifies. Bucketing is
    * integer-exact (see [[Similarity]]), so oracles replay it.
    */
  def embeddingNearDups(emb: DataFrame, threshold: Double = 0.4,
      bands: Int = 8, planesPerBand: Int = 3,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val bb = Similarity.bandBuckets(emb, bands, planesPerBand)
    // same capped one-pass pair generation as minhashCandidates (the
    // self-join it replaces also recomputed bandBuckets' plane dot
    // products for both sides)
    val cand = bucketPairs(bb, "vec_id", "id_a", "id_b", maxBucket)
    val ea = emb.select(col("vec_id").as("id_a"), col("embedding").as("e_a"))
    val eb = emb.select(col("vec_id").as("id_b"), col("embedding").as("e_b"))
    cand.join(ea, "id_a").join(eb, "id_b")
      .withColumn("cos", graft.plans.VecMath.cosineSim(col("e_a"), col("e_b")))
      .where(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos_sim"))
  }

  /** All-pairs embedding near-dup — O(n^2), the small-scale recall
    * oracle for [[embeddingNearDups]]. Never the scale path.
    */
  def embeddingNearDupsBrute(emb: DataFrame, threshold: Double = 0.4): DataFrame = {
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("e_a"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("e_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", graft.plans.VecMath.cosineSim(col("e_a"), col("e_b")))
      .where(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos_sim"))
  }

  /** Connected components over an undirected pair graph — the final
    * stage of a near-dup pipeline. Verified pairs are only EDGES;
    * deduplication needs each document's full duplicate CLUSTER: pair
    * lists (and the local-minimum collapse in
    * [[NearDupIndex.withinBatchNearDups]]) leave transitive chains
    * (a~b, b~c but never a~c) split across keys, so keeping "one doc
    * per pair" still retains duplicates. This operator closes the
    * transitive hull and keys every member by its component's minimum
    * doc id.
    *
    * Scale shape — distributed min-label propagation with POINTER
    * JUMPING, all DataFrame ops:
    *   - each round is two shuffles bounded by |E| and |V| (never a
    *     pair enumeration): (1) every node takes the minimum of its own
    *     label and its neighbours' labels; (2) every label chases its
    *     target's label one step (`l := l(l)`), halving the depth of
    *     any label-reference chain — rounds are O(log n) even on a path
    *     graph, not O(diameter).
    *   - labels are MONOTONE non-increasing, so convergence is detected
    *     exactly by the per-round label sum (one decimal aggregate —
    *     the only driver-side value per round).
    *   - the label table is checkpoint-truncated EVERY round
    *     (`localCheckpoint` — the round's one materializing action
    *     anyway): each round's plan references the previous label frame
    *     four times (twice via the propagate join, twice via the jump
    *     self-join), so an un-truncated logical plan QUADRUPLES per
    *     round and stalls the analyzer within ~10 rounds — persist
    *     caches data but never shrinks the plan. On a real cluster use
    *     `spark.sparkContext.setCheckpointDir` + reliable `checkpoint`
    *     for fault tolerance; the shape is identical.
    *
    * Returns (doc_id, component_id, n_members), one row per node that
    * appears in at least one pair. The returned frame is persisted and
    * caller-owned: `unpersist()` it when done.
    */
  /** Apply near-dup dedup: the corpus with every non-canonical cluster
    * member removed — each [[connectedComponents]] component keeps only
    * its minimum doc id. The victim id set (dup docs only — a small
    * fraction of any reasonable corpus) is materialized and the corpus
    * anti-joins against it; the corpus itself is never shuffled when the
    * victim side broadcasts. The returned frame references the persisted
    * victim set: caller evaluates (or persists) it, then the internal
    * caches are this method's transient cost, not a leak — the victims
    * frame is unpersisted-safe only after the caller is done with the
    * result.
    */
  def applyNearDups(df: DataFrame, n: Int = 3, threshold: Double = 0.2,
      textCol: String = "text",
      maxDocFreq: Int = DefaultMaxDocFreq): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val cc = connectedComponents(
      lshVerifiedPairs(df, n, threshold, textCol, maxDocFreq)
        .select(col("doc_a"), col("doc_b")))
    val victims = cc.where(col("doc_id") =!= col("component_id"))
      .select(col("doc_id")).persist(StorageLevel.MEMORY_AND_DISK)
    victims.count()
    cc.unpersist()
    df.join(broadcast(victims), Seq("doc_id"), "left_anti")
  }

  /** SemDeDup-style semantic dedup apply: embedding near-dup pairs
    * ([[embeddingNearDups]] — banded sign-LSH candidates, exact-cosine
    * verified) → connected components → keep only each cluster's min-id
    * member. Same victim-broadcast discipline as [[applyNearDups]]: the
    * victim set is O(duplicates) and broadcasts; the embedding table is
    * never shuffled.
    */
  def applyEmbeddingNearDups(emb: DataFrame, threshold: Double = 0.4,
      bands: Int = 8, planesPerBand: Int = 3,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val cc = connectedComponents(
      embeddingNearDups(emb, threshold, bands, planesPerBand, maxBucket)
        .select(col("id_a"), col("id_b")),
      aCol = "id_a", bCol = "id_b")
    val victims = cc.where(col("doc_id") =!= col("component_id"))
      .select(col("doc_id").as("vec_id")).persist(StorageLevel.MEMORY_AND_DISK)
    victims.count()
    cc.unpersist()
    emb.join(broadcast(victims), Seq("vec_id"), "left_anti")
  }

  def connectedComponents(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", maxRounds: Int = 50): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // persist the edge list BEFORE symmetrizing: the union references it
    // twice, and `pairs` is typically the whole verified-near-dup
    // pipeline — evaluating it twice doubles the dominant cost
    val e = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
      .where(col("u") =!= col("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // size the loop's shuffles from the EDGE COUNT (guide §2.2): every
    // round is 4 exchanges + an eager checkpoint over frames bounded by
    // |E| and |V|, so a small graph at the session's full partition
    // count pays ~rounds x partitions of pure task fixed cost, while a
    // big graph keeps the session's parallelism (the clamp). The count
    // materializes the persisted edge list — work the first round would
    // have done anyway.
    val nE = e.count()
    val spark = pairs.sparkSession
    val loopParts = graft.util.SessionTune.partitionsFor(spark, nE, 256L << 10)
    graft.util.SessionTune.withShufflePartitions(spark, loopParts) {
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      .distinct().persist(StorageLevel.MEMORY_AND_DISK)
    var labels = sym.select(col("u").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(true)
    // label sums are exact in decimal(38,0) (a Long sum overflows at
    // ~10^10 nodes x 10^10 ids); monotonicity makes equality a proof of
    // fixpoint, not a heuristic
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("label").cast("decimal(38,0)"))).head.getDecimal(0)
    e.unpersist() // sym is materialized by the labels checkpoint above
    var prevSum = labelSum(labels)
    var round = 0
    var converged = prevSum == null // empty graph: nothing to propagate
    while (!converged && round < maxRounds) {
      round += 1
      val nbrMin = sym
        .join(labels.select(col("node").as("v"), col("label").as("vl")), Seq("v"))
        .groupBy(col("u")).agg(min(col("vl")).as("nl"))
      val stepped = labels
        .join(nbrMin.select(col("u").as("node"), col("nl")), Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("label"))
      // pointer jump: l := min(l, label-of-l). Every label IS a node id
      // present in the table (labels start as self and only move to
      // other nodes' labels), so the lookup join always matches.
      val lut = stepped.select(col("node").as("__t"), col("label").as("__tl"))
      val jumped = stepped
        .join(lut, stepped("label") === lut("__t"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("__tl"), col("label"))).as("label"))
      // lineage truncation every round (see class note); eager — it IS
      // the round's materializing action, and the convergence sum rides
      // it as an Observation (CollectMetrics) instead of a second
      // per-round aggregation job
      val obs = org.apache.spark.sql.Observation()
      val next = jumped
        .observe(obs, sum(col("label").cast("decimal(38,0)")).as("s"))
        .localCheckpoint(true)
      val s = obs.get("s").asInstanceOf[java.math.BigDecimal]
      labels.unpersist()
      labels = next
      converged = s.compareTo(prevSum) == 0
      prevSum = s
    }
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("n_members"))
    val out = labels
      .select(col("node").as("doc_id"), col("label").as("component_id"))
      .join(sizes.withColumnRenamed("label", "component_id"), Seq("component_id"))
      .select(col("doc_id"), col("component_id"), col("n_members"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    labels.unpersist()
    sym.unpersist()
    out
    }
  }
}
