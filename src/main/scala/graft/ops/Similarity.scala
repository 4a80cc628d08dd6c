package graft.ops

import graft.plans.VecMath
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the exact baseline, plus two bucketed
  * scale paths (IVF with a trained coarse quantizer, sign-LSH by
  * deterministic hyperplanes) that bound the join to within-bucket
  * candidates.
  *
  * Scoring math is `functions._` higher-order expressions (zip_with +
  * aggregate) in double precision, element order preserved — codegen'd
  * and bit-deterministic. All BUCKETING decisions (LSH signs, k-means
  * training, cell assignment) are computed in INTEGER arithmetic over
  * quantized vectors: integer sums are order-insensitive and exact, so
  * the same bucketing is bit-reproducible by any engine (the SQL
  * oracles replay it) and across any partitioning/shuffle order —
  * floating-point reduction-order drift can never flip a bucket.
  */
object Similarity {

  /** Sequential-order dot product in double precision. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact brute-force cosine top-k: queries x corpus cross join.
    * The query side is tiny and broadcast, so the corpus never
    * shuffles; top-k uses a per-query window (k small). O(|Q|*|C|) —
    * the exactness baseline the bucketed variants are measured against.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val c = corpus.select(col("vec_id"), col("embedding"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("vec_id"))
      .withColumn("cos", VecMath.cosineSim(col("q_emb"), col("embedding")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), round(col("cos"), 4).as("cos_sim"))
  }

  /** IVF-style search with a precomputed coarse assignment (the `label`
    * column stands in for the nearest-centroid id): candidates are
    * restricted to the query's cell, turning the cross join into a
    * per-cell equi-join. [[ivfTrainedTopK]] is the full version with a
    * trained quantizer and nprobe > 1.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int, cellCol: String = "label"): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      col(cellCol).as("cell"))
    val c = corpus.select(col("vec_id"), col("embedding"), col(cellCol).as("cell"))
    val scored = c.join(broadcast(q), Seq("cell"))
      .where(col("query_id") =!= col("vec_id"))
      .withColumn("cos", VecMath.cosineSim(col("q_emb"), col("embedding")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), round(col("cos"), 4).as("cos_sim"))
  }

  // ---------------------------------------------------------------------
  /** Per-label embedding diversity profile: vector count, mean squared
    * quantized norm, and the MEAN PAIRWISE DOT PRODUCT over all
    * distinct vector pairs — computed in ONE linear pass via the
    * sum-of-vectors identity
    *   sum_{i != j} <v_i, v_j>  =  ||sum_i v_i||^2 - sum_i ||v_i||^2,
    * never a pair join (the naive form is |label|^2 rows — exactly the
    * shape the bucketed operators exist to avoid). A tight cluster
    * scores a high mean pairwise dot (redundant vectors); a diverse one
    * scores low — the data-selection signal diversity-aware sampling
    * uses.
    *
    * All sums are INTEGER over the shared [[quantized]] representation
    * (order-insensitive, partitioning-proof), so the statistic is
    * bit-reproducible and the SQL oracle replays it; the only divisions
    * happen once per label row at the end. Values are in quantized
    * units (raw * 1e4, so dots scale by 1e8). Three map-side-combined
    * aggregations, shuffle volume O(labels * dims). The per-dimension
    * component sums stay within Long while |label| * 1e4 < 2^63 — widen
    * to decimal beyond ~10^14 rows per label.
    */
  def diversityProfile(emb: DataFrame, labelCol: String = "label"): DataFrame = {
    val q = emb.select(col(labelCol), quantized(col("embedding")).as("qv"))
    val dims = q.select(col(labelCol), posexplode(col("qv")).as(Seq("pos", "v")))
    val perDim = dims.groupBy(col(labelCol), col("pos"))
      .agg(sum(col("v")).as("s"))
    val sumSq = perDim.groupBy(col(labelCol))
      .agg(sum(col("s") * col("s")).as("ss"))
    val qq = dims.groupBy(col(labelCol))
      .agg(sum(col("v") * col("v")).as("qq"))
    val nn = q.groupBy(col(labelCol)).agg(count(lit(1)).as("n_vecs"))
    nn.join(sumSq, Seq(labelCol)).join(qq, Seq(labelCol))
      .withColumn("mean_sq_norm",
        round(col("qq").cast("double") / col("n_vecs"), 4))
      .withColumn("mean_pair_dot",
        when(col("n_vecs") > 1,
          round((col("ss") - col("qq")).cast("double") /
            (col("n_vecs") * (col("n_vecs") - 1)), 4)))
      .select(col(labelCol), col("n_vecs"), col("mean_sq_norm"), col("mean_pair_dot"))
  }

  // Integer quantization — the shared basis of every bucketing decision
  // ---------------------------------------------------------------------

  /** Quantized embedding: round(v * 10000) per element, as long. */
  def quantized(e: Column): Column =
    transform(e, v => round(v.cast("double") * 10000).cast("long"))

  /** Integer squared L2 distance between two quantized vectors. */
  private def l2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), (acc, v) => acc + v)

  /** Integer floor division (both engines agree: subtract the
    * non-negative remainder, then the division is exact).
    */
  private def fdiv(a: Column, b: Column): Column = ((a - pmod(a, b)) / b).cast("long")

  // ---------------------------------------------------------------------
  // Sign-LSH
  // ---------------------------------------------------------------------

  /** Max embedding dimensionality the precomputed plane tables cover. */
  val MaxDims: Int = 512

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * integer in [-500, 500), derived from the portable MD5 hash —
    * `pmod(parseHex14(md5("<plane>:<dim>")), 1000) - 500` — so any
    * engine can reproduce the bucketing exactly (the SQL oracles
    * recompute the same md5). Computed ONCE here and shipped as a
    * literal array: the hash depends only on (plane, dim), never on
    * data, so evaluating md5 per row would be pure waste (measured 10x
    * slowdown inside interpreted higher-order lambdas).
    */
  def planeComponentValue(plane: Int, dim: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$plane:$dim".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.substring(0, 14)
    java.lang.Long.parseLong(hex, 16) % 1000L - 500L
  }

  private val planeCache = new java.util.concurrent.ConcurrentHashMap[Int, Seq[Long]]()
  private def planeComponents(plane: Int): Seq[Long] =
    planeCache.computeIfAbsent(plane,
      p => (0 until MaxDims).map(i => planeComponentValue(p, i)))

  /** Sign-LSH bucket id from `nPlanes` deterministic hyperplanes
    * starting at `planeBase`: bit p = sign of the INTEGER dot product
    * of the quantized embedding with plane (planeBase + p). Vectors in
    * the same bucket are near-duplicate candidates; search joins only
    * within buckets.
    */
  def lshBucket(emb: Column, nPlanes: Int = 8, planeBase: Int = 0): Column = {
    val q = quantized(emb)
    val bits = (0 until nPlanes).map { p =>
      val comps = slice(typedLit(planeComponents(planeBase + p)), lit(1), size(emb))
      val s = aggregate(zip_with(q, comps, (x, c) => x * c),
        lit(0L), (acc, v) => acc + v)
      when(s > 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** The compiled form of [[lshBucket]]: a
    * [[graft.plans.SignLshBuckets]] with the plane table baked in,
    * `array<long>` of per-band buckets — identical values to the column
    * form, one compiled pass instead of bands x planes interpreted
    * lambdas.
    */
  private def signLshCol(emb: Column, bands: Int, planesPerBand: Int): Column =
    VecMath.signLshBuckets(emb, bands, planesPerBand,
      (0 until bands * planesPerBand).map(planeComponents))

  /** Banded sign-LSH: `bands` independent bucket ids per vector (band b
    * uses planes [b*planesPerBand, (b+1)*planesPerBand)). Candidates =
    * pairs sharing ANY band's bucket — OR-amplification raises recall
    * while every join stays an equi-join on (band, bucket).
    */
  def bandBuckets(emb: DataFrame, bands: Int = 8, planesPerBand: Int = 3,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    emb.select(col(idCol),
        posexplode(signLshCol(col(embCol), bands, planesPerBand)).as(Seq("band", "bucket")))
      .select(col(idCol), col("band"), col("bucket"))

  /** Bucketed ANN: exact cosine ranking within sign-LSH buckets.
    * Recall < 1 by construction; the scale path for 10^10 vectors
    * (bucket equi-join instead of cross join).
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, nPlanes: Int = 8): DataFrame = {
    val cb = corpus.select(col("vec_id"), col("embedding"),
      element_at(signLshCol(col("embedding"), 1, nPlanes), 1).as("bucket"))
    val qb = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      element_at(signLshCol(col("embedding"), 1, nPlanes), 1).as("bucket"))
    val scored = cb.join(broadcast(qb), Seq("bucket"))
      .where(col("query_id") =!= col("vec_id"))
      .withColumn("cos", VecMath.cosineSim(col("q_emb"), col("embedding")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), round(col("cos"), 4).as("cos_sim"))
  }

  // ---------------------------------------------------------------------
  // IVF with a trained coarse quantizer
  // ---------------------------------------------------------------------

  /** Deterministic IVF coarse-quantizer training: Lloyd's k-means over
    * QUANTIZED vectors with integer sums, floor-division centroid
    * updates and lowest-cid tie-breaks — every step is order-insensitive
    * and integer-exact, so training is bit-reproducible across engines
    * and partitionings. Trains on a deterministic sample
    * (vec_id % sampleMod == 0); init = the k lowest-vec_id samples.
    * Returns (cid, c: array<long>) — k rows.
    *
    * At 10^10 scale the sample (not the corpus) bounds training cost;
    * assignment of the full corpus is a shuffle-free projection against
    * the k collected centroids (see [[ivfTrainedTopK]]).
    */
  def trainIvfCentroids(corpus: DataFrame, k: Int = 8, iters: Int = 2,
      sampleMod: Int = 4): DataFrame = {
    val sample = corpus
      .select(col("vec_id"), quantized(col("embedding")).as("q"))
      .where(pmod(col("vec_id"), lit(sampleMod)) === 0)
    val wInit = Window.orderBy(col("vec_id")) // k rows — single partition is fine
    var centroids = sample.orderBy(col("vec_id")).limit(k)
      .select((row_number().over(wInit) - 1).as("cid"), col("q").as("c"))
    for (_ <- 0 until iters) {
      val assigned = sample.crossJoin(broadcast(centroids))
        .withColumn("__d", l2(col("q"), col("c")))
        .groupBy(col("vec_id"))
        .agg(min_by(col("cid"), struct(col("__d"), col("cid"))).as("cid"),
          first(col("q")).as("q"))
      val updated = assigned
        .select(col("cid"), posexplode(col("q")).as(Seq("pos", "v")))
        .groupBy(col("cid"), col("pos"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .groupBy(col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("s"), col("n")))),
          x => fdiv(x.getField("s"), x.getField("n"))).as("cNew"))
      // a cell that lost all members keeps its previous centroid
      centroids = centroids.join(updated, Seq("cid"), "left")
        .select(col("cid"), coalesce(col("cNew"), col("c")).as("c"))
    }
    centroids
  }

  /** Full IVF search: train centroids (sampled integer k-means), assign
    * the corpus to cells via a SHUFFLE-FREE projection against the k
    * collected centroids (k rows of model state — the broadcast-dict
    * pattern), probe each query's `nprobe` nearest cells, rank by exact
    * cosine within the probed cells. The only corpus-wide operations are
    * one projection and one equi-join against the tiny probe set.
    *
    * Assignment/probing run through the compiled
    * [[graft.plans.IvfProbeOrder]] expression (centroid table baked in):
    * one pass per row instead of per-row x per-cell interpreted
    * `aggregate`/`zip_with` lambdas — bit-identical cell choices
    * (integer L2, (distance, cid) tie-break; pinned by VecMathSpec).
    */
  def ivfTrainedTopK(corpus: DataFrame, queries: DataFrame, k: Int = 3,
      kCells: Int = 8, nprobe: Int = 2, iters: Int = 2, sampleMod: Int = 4): DataFrame = {
    val cents: Array[(Int, Seq[Long])] =
      trainIvfCentroids(corpus, kCells, iters, sampleMod).collect()
        .map(r => (r.getInt(0), r.getSeq[Long](1)))
        .sortBy(_._1)
    val centSeqs: Seq[Seq[Long]] = cents.map(_._2).toSeq // index == cid
    def probeOrder(embCol: String): Column = VecMath.ivfProbeOrder(col(embCol), centSeqs)

    val corpusCells = corpus.select(col("vec_id"), col("embedding"),
      element_at(probeOrder("embedding"), 1).as("cell"))
    val probes = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        explode(slice(probeOrder("embedding"), 1, nprobe)).as("cell"))
    val scored = corpusCells.join(broadcast(probes), Seq("cell"))
      .where(col("query_id") =!= col("vec_id"))
      .withColumn("cos", VecMath.cosineSim(col("q_emb"), col("embedding")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), round(col("cos"), 4).as("cos_sim"))
  }

  // ---------------------------------------------------------------------
  // Product quantization (PQ)
  // ---------------------------------------------------------------------

  /** Explode a vector frame into its `m` contiguous quantized
    * subvectors: (vec_id, sub, q) with `q` the integer-quantized slice
    * `[sub*d/m, (sub+1)*d/m)`. Pure projection + bounded explode (m
    * rows per vector) — no shuffle.
    */
  private def subvectors(df: DataFrame, m: Int): DataFrame =
    subvectorsOf(df.select(col("vec_id"), quantized(col("embedding")).as("q")), m)

  /** Subvector split of an already-quantized frame (vec_id, q:
    * array<long>) — shared by the raw-vector and residual (IVFPQ)
    * trainers.
    */
  private def subvectorsOf(qdf: DataFrame, m: Int): DataFrame = {
    val dsub = (size(col("q")) / lit(m)).cast("int")
    qdf.select(col("vec_id"), explode(sequence(lit(0), lit(m - 1))).as("sub"), col("q"))
      .select(col("vec_id"), col("sub"),
        slice(col("q"), col("sub") * dsub + 1, dsub).as("q"))
  }

  /** Deterministic product-quantization codebook training: the
    * [[trainIvfCentroids]] integer-exact Lloyd's k-means, run
    * independently per contiguous subspace (`m` subvectors of d/m dims
    * each) over the same deterministic sample. Init per subspace = the
    * `ksub` lowest-vec_id samples' subvectors; updates are integer sums
    * + floor division with lowest-cid tie-breaks, so codebooks are
    * bit-reproducible across engines and partitionings (the SQL oracle
    * replays the full trainer). Returns (sub, cid, c: array<long>) —
    * m*ksub rows of model state.
    *
    * At 10^10 scale the sample bounds training cost and the codebooks
    * are O(m*ksub*d/m) = O(ksub*d) longs — always driver/broadcast
    * sized; encoding the corpus is a shuffle-free compiled projection
    * (see [[pqCodes]]).
    */
  def trainPqCodebooks(corpus: DataFrame, m: Int = 4, ksub: Int = 16,
      iters: Int = 2, sampleMod: Int = 4): DataFrame =
    trainPqCodebooksOn(
      corpus.where(pmod(col("vec_id"), lit(sampleMod)) === 0)
        .select(col("vec_id"), quantized(col("embedding")).as("q")),
      m, ksub, iters)

  /** The [[trainPqCodebooks]] trainer over an already-quantized sample
    * frame (vec_id, q: array<long>) — no internal sampling or
    * quantization, so the IVFPQ path can feed it coarse-quantizer
    * RESIDUALS. Identical arithmetic and tie-breaks.
    */
  def trainPqCodebooksOn(sampleQ: DataFrame, m: Int, ksub: Int,
      iters: Int): DataFrame = {
    val sample = subvectorsOf(sampleQ, m)
    val wInit = Window.partitionBy(col("sub")).orderBy(col("vec_id"))
    var centroids = sample
      .withColumn("rn", row_number().over(wInit))
      .where(col("rn") <= ksub)
      .select(col("sub"), (col("rn") - 1).cast("int").as("cid"), col("q").as("c"))
    for (_ <- 0 until iters) {
      val assigned = sample.join(broadcast(centroids), Seq("sub"))
        .withColumn("__d", l2(col("q"), col("c")))
        .groupBy(col("vec_id"), col("sub"))
        .agg(min_by(col("cid"), struct(col("__d"), col("cid"))).as("cid"),
          first(col("q")).as("q"))
      val updated = assigned
        .select(col("sub"), col("cid"), posexplode(col("q")).as(Seq("pos", "v")))
        .groupBy(col("sub"), col("cid"), col("pos"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .groupBy(col("sub"), col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("s"), col("n")))),
          x => fdiv(x.getField("s"), x.getField("n"))).as("cNew"))
      // a code cell that lost all members keeps its previous centroid
      centroids = centroids.join(updated, Seq("sub", "cid"), "left")
        .select(col("sub"), col("cid"), coalesce(col("cNew"), col("c")).as("c"))
    }
    centroids
  }

  /** Collect trained codebooks into the nested model shape
    * [[graft.plans.PqEncode]] bakes in: books(sub)(cid) = centroid.
    */
  private def collectBooks(cb: DataFrame, m: Int): Seq[Seq[Seq[Long]]] = {
    val rows = cb.collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Long](2)))
    (0 until m).map(s =>
      rows.filter(_._1._1 == s).sortBy(_._1._2).map(_._2).toIndexedSeq)
  }

  /** PQ-encode the corpus: (vec_id, codes: array<int>) via the compiled
    * [[graft.plans.PqEncode]] projection with the trained codebooks
    * baked in — m small ints per vector instead of d floats (16x+
    * compression at the defaults), zero shuffle. The representation a
    * 10^10-vector ANN scan actually reads.
    */
  def pqCodes(corpus: DataFrame, m: Int = 4, ksub: Int = 16,
      iters: Int = 2, sampleMod: Int = 4): DataFrame = {
    val books = collectBooks(trainPqCodebooks(corpus, m, ksub, iters, sampleMod), m)
    corpus.select(col("vec_id"), VecMath.pqEncode(col("embedding"), books).as("codes"))
  }

  /** Per-subspace code-usage histogram — the quantizer-balance
    * diagnostic (a dead or overloaded code cell means the subspace's
    * codebook is wasting bits). One map-side-combined groupBy over
    * m*ksub distinct keys.
    */
  def pqCodeHist(corpus: DataFrame, m: Int = 4, ksub: Int = 16,
      iters: Int = 2, sampleMod: Int = 4): DataFrame =
    pqCodes(corpus, m, ksub, iters, sampleMod)
      .select(posexplode(col("codes")).as(Seq("sub", "code")))
      .groupBy(col("sub").cast("long").as("sub"), col("code").cast("long").as("code"))
      .agg(count(lit(1)).as("n_vecs"))

  /** PQ asymmetric-distance (ADC) top-k: train codebooks on a sample,
    * encode the corpus with the compiled projection, precompute each
    * query's per-subspace distance table against the m*ksub codebook
    * entries (tiny: queries x m x ksub integer L2s), then score every
    * (vector, query) pair in m TABLE LOOKUPS via the compiled
    * [[graft.plans.PqAdc]] — never touching the original floats. The
    * corpus-side plan is one compiled projection + one broadcast join +
    * one top-k window; the corpus never shuffles on the scoring path.
    *
    * This is the FAISS IndexPQ shape (Jegou et al., "Product
    * Quantization for Nearest Neighbor Search"): at 10^10 vectors the
    * scan reads m bytes-ish per vector instead of 4d, and the distance
    * loop is m integer adds. Integer-exact end to end, so ranking is
    * bit-reproducible and the SQL oracle replays training + encode +
    * ADC exactly. Approximate by construction (quantization error) —
    * recall vs [[bruteForceTopK]] is the quality metric, pinned by
    * PqSpec on clustered synthetic data.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int = 3, m: Int = 4,
      ksub: Int = 16, iters: Int = 2, sampleMod: Int = 4): DataFrame = {
    val spark = corpus.sparkSession
    val books = collectBooks(trainPqCodebooks(corpus, m, ksub, iters, sampleMod), m)
    val ksubEff = books.head.size // == ksub unless the sample is smaller
    val codes = corpus.select(col("vec_id"), VecMath.pqEncode(col("embedding"), books).as("codes"))
    // the collected model as a LOCAL relation: the dt plan must not
    // re-embed (and so re-run) the whole training job
    import spark.implicits._
    val cbLocal = books.zipWithIndex.flatMap { case (cents, sub) =>
      cents.zipWithIndex.map { case (c, cid) => (sub, cid, c) }
    }.toDF("sub", "cid", "c")
    // flattened per-query distance table: dt[sub*ksubEff + cid] =
    // intL2(query subvector, codebook entry) — (sub, cid) struct-sorted
    // so the flat index matches PqAdc's layout
    val dt = subvectors(queries, m).join(broadcast(cbLocal), Seq("sub"))
      .withColumn("d", l2(col("q"), col("c")))
      .groupBy(col("vec_id"))
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("cid"), col("d")))),
        x => x.getField("d")).as("dt"))
      .select(col("vec_id").as("query_id"), col("dt"))
    val scored = codes.join(broadcast(dt), col("query_id") =!= col("vec_id"))
      .withColumn("adc_d", VecMath.pqAdc(col("codes"), col("dt"), ksubEff))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc_d"), col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("adc_d"))
  }

  /** IVFPQ top-k — the FAISS IndexIVFPQ composition (Jegou et al. §IV,
    * the layout billion-vector ANN deployments actually run): a trained
    * coarse quantizer partitions the corpus into `kCells` inverted
    * lists, product quantization compresses each vector's RESIDUAL
    * (vector minus its cell centroid), and queries scan only their
    * `nprobe` nearest cells with per-cell ADC tables built from the
    * QUERY residual against the shared codebooks.
    *
    * vs [[pqTopK]]: the ADC scan shrinks from the whole corpus to
    * ~nprobe/kCells of it (the join is an equi-join on `cell` against a
    * broadcast probe set), and residual quantization spends the
    * codebook's bits on within-cell variance instead of global
    * position. vs [[ivfTrainedTopK]]: the probed cells are scored from
    * m-int codes (m table lookups each), never the original floats.
    *
    * Corpus-side plan at 10^10 vectors: ONE shuffle-free compiled
    * projection ([[graft.plans.IvfPqEncode]]: quantize -> nearest cell
    * -> residual -> m argmin codes, both models baked in) + one
    * broadcast equi-join + one per-query top-k window. Training is
    * sample-bounded; both models are O(kCells*d + ksub*d) longs of
    * driver/broadcast state. Integer-exact end to end — cell choice,
    * residuals, codebooks and ADC sums are bit-reproducible across
    * engines and partitionings, so the SQL oracle replays training,
    * encode and scoring exactly.
    */
  /** Train both IVFPQ models: (coarse centroid table, residual
    * codebooks).
    */
  private def ivfPqModels(corpus: DataFrame, kCells: Int, m: Int, ksub: Int,
      iters: Int, sampleMod: Int): (Seq[Seq[Long]], Seq[Seq[Seq[Long]]]) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // coarse quantizer (shared trainer with ivfTrainedTopK)
    val cents: Array[(Int, Seq[Long])] =
      trainIvfCentroids(corpus, kCells, iters, sampleMod).collect()
        .map(r => (r.getInt(0), r.getSeq[Long](1)))
        .sortBy(_._1)
    val centSeqs: Seq[Seq[Long]] = cents.map(_._2).toSeq
    val centsDf = cents.toSeq.toDF("cell", "c")
    // PQ codebooks trained on the SAMPLE's residuals (sample-bounded)
    val sampleRes = corpus.where(pmod(col("vec_id"), lit(sampleMod)) === 0)
      .select(col("vec_id"), quantized(col("embedding")).as("q"),
        element_at(VecMath.ivfProbeOrder(col("embedding"), centSeqs), 1).as("cell"))
      .join(broadcast(centsDf), Seq("cell"))
      .select(col("vec_id"), zip_with(col("q"), col("c"), (x, y) => x - y).as("q"))
    (centSeqs, collectBooks(trainPqCodebooksOn(sampleRes, m, ksub, iters), m))
  }

  /** The IVFPQ index build: train both models, then encode the corpus
    * as (vec_id, cell, codes) in ONE shuffle-free compiled projection —
    * the inverted-list key plus the m-int compressed payload a
    * 10^10-vector index persists (see [[ivfPqTopK]] for search).
    */
  def ivfPqCodes(corpus: DataFrame, kCells: Int = 8, m: Int = 4,
      ksub: Int = 16, iters: Int = 2, sampleMod: Int = 4): DataFrame = {
    val (centSeqs, books) = ivfPqModels(corpus, kCells, m, ksub, iters, sampleMod)
    corpus.select(col("vec_id"),
        VecMath.ivfPqEncode(col("embedding"), centSeqs, books).as("e"))
      .select(col("vec_id"), col("e.cell").as("cell"), col("e.codes").as("codes"))
  }

  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int = 3,
      kCells: Int = 8, m: Int = 4, ksub: Int = 16, nprobe: Int = 2,
      iters: Int = 2, sampleMod: Int = 4): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (centSeqs, books) = ivfPqModels(corpus, kCells, m, ksub, iters, sampleMod)
    def probeOrder(embCol: String): Column = VecMath.ivfProbeOrder(col(embCol), centSeqs)
    val centsDf = centSeqs.zipWithIndex.map { case (c, cid) => (cid, c) }
      .toDF("cell", "c") // kCells rows of model state
    def residual(q: Column, c: Column): Column = zip_with(q, c, (x, y) => x - y)
    val ksubEff = books.head.size

    // the whole index build as one compiled projection: (cell, codes)
    val codes = corpus.select(col("vec_id"),
        VecMath.ivfPqEncode(col("embedding"), centSeqs, books).as("e"))
      .select(col("vec_id"), col("e.cell").as("cell"), col("e.codes").as("codes"))

    // per-(query, probed cell) ADC table from the QUERY's residual
    // against that cell — tiny (|Q| * nprobe * m * ksub integer L2s)
    val cbLocal = books.zipWithIndex.flatMap { case (cs, sub) =>
      cs.zipWithIndex.map { case (c, cid) => (sub, cid, c) }
    }.toDF("sub", "cid", "c")
    val dsub = (size(col("q")) / lit(m)).cast("int")
    val dt = queries
      .select(col("vec_id").as("query_id"), quantized(col("embedding")).as("q"),
        explode(slice(probeOrder("embedding"), 1, nprobe)).as("cell"))
      .join(broadcast(centsDf), Seq("cell"))
      .select(col("query_id"), col("cell"), residual(col("q"), col("c")).as("q"))
      .select(col("query_id"), col("cell"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"), col("q"))
      .select(col("query_id"), col("cell"), col("sub"),
        slice(col("q"), col("sub") * dsub + 1, dsub).as("q"))
      .join(broadcast(cbLocal), Seq("sub"))
      .withColumn("d", l2(col("q"), col("c")))
      .groupBy(col("query_id"), col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("cid"), col("d")))),
        x => x.getField("d")).as("dt"))

    val scored = codes.join(broadcast(dt), Seq("cell"))
      .where(col("query_id") =!= col("vec_id"))
      .withColumn("adc_d", VecMath.pqAdc(col("codes"), col("dt"), ksubEff))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc_d"), col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("adc_d"))
  }
}
