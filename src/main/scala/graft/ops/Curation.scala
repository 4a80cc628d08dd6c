package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-curation operators for training-data pipelines:
  * benchmark decontamination, deterministic stratified sampling, and
  * mixture (token-budget) weighting.
  *
  * Scale notes:
  *   - decontamination is an equi-join of train shingles against the
  *     eval set's shingles — eval/benchmark sets are small by
  *     definition, so the distinct eval-shingle side BROADCASTS and the
  *     100 TB train side is never shuffled; the document-frequency cap
  *     (shared with [[Dedup.cappedShingles]]) keeps a stopword n-gram
  *     appearing in an eval doc from flagging the whole corpus.
  *   - sampling decisions are pure per-row codegen'd expressions over
  *     the portable MD5 hash ([[TextOps.portableHash]]): no shuffle, no
  *     RNG state, bit-reproducible across engines AND across reruns —
  *     re-sampling a grown corpus keeps previously-kept docs (the
  *     property training-data versioning needs).
  *   - mixture weights aggregate to one row per stratum before the only
  *     non-linear step (the share normalization window runs over
  *     #strata rows, not data).
  */
object Curation {

  import TextOps.portableHash

  /** Deterministic per-document sampling hash in [0, 10000): salted so
    * it is independent of any other hash-derived decision in the
    * pipeline (dedup fingerprints, packing groups).
    */
  private[graft] def samplePct(docId: Column): Column =
    pmod(portableHash(concat(docId.cast("string"), lit(":strat"))), lit(10000L))

  /** Default stratified-sampling parameterization for the documents
    * table (per-language keep rates, basis points out of 10000). The
    * SQL oracles are GENERATED from these constants — change them only
    * here. Down-samples the dominant language, keeps the rare one.
    */
  val SampleRatesBp: Seq[(String, Int)] = Seq("en" -> 2500, "zh" -> 8000)
  val SampleDefaultBp: Int = 5000

  /** Keep-decision column for a stratified sample: keep iff the salted
    * portable hash falls under the stratum's basis-point rate.
    */
  def sampleKeep(docId: Column, stratum: Column,
      ratesBp: Seq[(String, Int)] = SampleRatesBp,
      defaultBp: Int = SampleDefaultBp): Column = {
    val bp = ratesBp.foldRight(lit(defaultBp): Column) { case ((s, r), acc) =>
      when(stratum === s, lit(r)).otherwise(acc)
    }
    samplePct(docId) < bp
  }

  /** The stratified sample itself: input rows whose keep-decision holds.
    * Pure filter — no shuffle, no RNG, reproducible.
    */
  def sampleStratified(df: DataFrame, strataCol: String = "lang",
      ratesBp: Seq[(String, Int)] = SampleRatesBp,
      defaultBp: Int = SampleDefaultBp): DataFrame =
    df.where(sampleKeep(col("doc_id"), col(strataCol), ratesBp, defaultBp))

  /** Per-stratum sampling report: totals, kept counts and the achieved
    * rate (one map-side-combined aggregation).
    */
  def sampleStats(df: DataFrame, strataCol: String = "lang",
      ratesBp: Seq[(String, Int)] = SampleRatesBp,
      defaultBp: Int = SampleDefaultBp): DataFrame =
    df.groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_total"),
        sum(sampleKeep(col("doc_id"), col(strataCol), ratesBp, defaultBp)
          .cast("long")).as("n_kept"))
      .withColumn("rate", round(col("n_kept").cast("double") / col("n_total"), 4))

  /** Default per-source corpus-share cap in basis points (15% — with a
    * handful of roughly equal sources every one of them bites, so the
    * small-scale oracle exercises both branches). The SQL oracle is
    * GENERATED from this constant.
    */
  val SourceCapBp: Int = 1500

  /** Source/domain balancing — the crawl-curation op that keeps any one
    * source (domain, dump, feed) from dominating the training mix: each
    * source's share of the corpus is capped at `maxShareBp`. The keep
    * decision is the [[sampleKeep]] discipline, not a rank: a source
    * over its cap keeps docs whose salted portable hash falls under
    * `rate_bp = floor(cap_n * 10000 / n_source)` — shuffle-free
    * (per-row filter against a broadcast #sources-row rate table) and
    * bit-reproducible. Unlike [[sampleStratified]] (fixed config
    * rates), rates here derive from the data, so a growing source's
    * rate TIGHTENS — but hash-threshold samples are NESTED: the kept
    * set at a lower rate is a subset of the kept set at any higher
    * rate, so growth only sheds docs deterministically, never churns
    * the sample. The achieved count
    * is rate-accurate rather than exactly cap_n — the same trade every
    * hash-sampled system makes, and the per-source sort the exact-rank
    * form needs is a corpus-wide shuffle this op exists to avoid.
    * All arithmetic is integer (`div`), so oracles replay it.
    */
  def sourceCapRates(df: DataFrame, sourceCol: String = "source",
      maxShareBp: Int = SourceCapBp): DataFrame = {
    val counts = df.groupBy(col(sourceCol)).agg(count(lit(1)).as("n_docs"))
    val total = counts.agg(sum(col("n_docs")).as("__tot"))
    counts.crossJoin(broadcast(total))
      .select(col(sourceCol), col("n_docs"),
        expr("n_docs * 10000L div __tot").as("share_bp"),
        expr(s"__tot * $maxShareBp div 10000").as("__cap"))
      .withColumn("rate_bp",
        when(col("n_docs") <= col("__cap"), lit(10000L))
          .otherwise(expr("__cap * 10000L div n_docs")))
      .drop("__cap")
  }

  private def capHash(docId: Column): Column =
    pmod(portableHash(concat(docId.cast("string"), lit(":srccap"))), lit(10000L))

  /** The capped corpus: one broadcast join against the rate table, one
    * per-row hash test — the corpus never shuffles.
    */
  def applySourceCaps(df: DataFrame, sourceCol: String = "source",
      maxShareBp: Int = SourceCapBp): DataFrame = {
    val rates = sourceCapRates(df, sourceCol, maxShareBp)
      .select(col(sourceCol), col("rate_bp"))
    df.join(broadcast(rates), Seq(sourceCol))
      .where(capHash(col("doc_id")) < col("rate_bp"))
      .drop("rate_bp")
  }

  /** Per-source balancing report: size, share, applied rate, kept count
    * — the observable the oracle checks.
    */
  def sourceCapStats(df: DataFrame, sourceCol: String = "source",
      maxShareBp: Int = SourceCapBp): DataFrame = {
    val rates = sourceCapRates(df, sourceCol, maxShareBp)
    val kept = df
      .join(broadcast(rates.select(col(sourceCol), col("rate_bp"))), Seq(sourceCol))
      .groupBy(col(sourceCol))
      .agg(sum(when(capHash(col("doc_id")) < col("rate_bp"), 1L).otherwise(0L))
        .as("n_kept"))
    rates.join(kept, Seq(sourceCol))
      .select(col(sourceCol), col("n_docs"), col("share_bp"),
        col("rate_bp"), col("n_kept"))
  }

  /** Benchmark decontamination: training documents sharing at least one
    * word n-gram shingle with any document of the eval split, with the
    * overlap count. `evalPred` marks the eval split (rows NOT matching
    * it are the training corpus). Shingles are DF-capped over the full
    * input (hot shingles are dropped before the join on BOTH sides).
    */
  def contamination(df: DataFrame, evalPred: Column, n: Int = 3,
      textCol: String = "text",
      maxDocFreq: Int = Dedup.DefaultMaxDocFreq): DataFrame = {
    val sh = Dedup.cappedShingles(df, n, textCol, maxDocFreq)
    val evalSh = sh.where(evalPred).select(col("shingle")).distinct()
    sh.where(!evalPred)
      .join(broadcast(evalSh), Seq("shingle"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_overlap"))
  }

  /** Apply decontamination: the training corpus with every contaminated
    * document removed (eval rows themselves are not part of the output).
    * The contaminated id set is an aggregation output — small — so the
    * anti-join broadcasts; the corpus is never shuffled.
    */
  def decontaminateApply(df: DataFrame, evalPred: Column, n: Int = 3,
      textCol: String = "text",
      maxDocFreq: Int = Dedup.DefaultMaxDocFreq): DataFrame = {
    val dirty = contamination(df, evalPred, n, textCol, maxDocFreq)
      .select(col("doc_id"))
    df.where(!evalPred).join(broadcast(dirty), Seq("doc_id"), "left_anti")
  }

  /** Bloom-gate probe count and demo bitmap size. The demo bitmap is
    * deliberately SMALL (4096 bits) so the small-scale oracle actually
    * exercises false-positive arithmetic (bits colliding across
    * shingles) — with a production-sized bitmap the sf0.01 eval set
    * sets so few bits that no FP ever fires and the bitmap path would
    * be vacuously green. Production sizing: ~10 bits/element for ~1% FP
    * (`mBits` parameter, default 2^20). The SQL oracles are GENERATED
    * from these constants.
    */
  val BloomK: Int = 4
  val BloomDemoBits: Int = 4096

  /** Salted Bloom bit position of a shingle for probe `i` — portable
    * MD5 arithmetic, replayed literally by the SQL oracles.
    */
  private[graft] def bloomPos(shingle: Column, i: Int, mBits: Int): Column =
    pmod(portableHash(concat(shingle, lit(s":bloom$i"))), lit(mBits.toLong))

  /** Bloom-filter decontamination — the O(1)-memory form of
    * [[contamination]] for eval sets too large to ship as a broadcast
    * join side: the eval split's shingles are folded into an `mBits`-bit
    * Bloom bitmap (fixed size regardless of eval cardinality), and every
    * training shingle is tested against it with `k` codegen'd bit
    * probes ([[graft.plans.BloomBit]] — the bitmap rides the expression
    * as a reference object, never a join). No false negatives: every
    * truly contaminated shingle is flagged; false positives are
    * deterministic (salted-hash collisions), so the SQL oracle replays
    * them bit-for-bit.
    *
    * Build cost: the distinct bit-position set is collected to the
    * driver — bounded by `mBits` values (one int per SET bit, ≤ m/8
    * bytes of bitmap), the same bounded-model-collect discipline as the
    * IVF centroid table, NOT an O(corpus) collect.
    *
    * Output: (doc_id, bloom_hits, exact_hits) per bloom-flagged
    * training doc; `bloom_hits >= exact_hits` always, rows with
    * `exact_hits = 0` are the filter's false positives.
    */
  def bloomContamination(df: DataFrame, evalPred: Column, n: Int = 3,
      textCol: String = "text", mBits: Int = 1 << 20, k: Int = BloomK,
      maxDocFreq: Int = Dedup.DefaultMaxDocFreq): DataFrame = {
    require(mBits >= 64 && (mBits & (mBits - 1)) == 0, "mBits must be a power of two")
    val sh = Dedup.cappedShingles(df, n, textCol, maxDocFreq).cache()
    val evalSh = sh.where(evalPred).select(col("shingle")).distinct()
    val posCols = (0 until k).map(i => bloomPos(col("shingle"), i, mBits))
    val positions = evalSh.select(explode(array(posCols: _*)).as("p")).distinct()
      .collect().map(_.getLong(0))
    val words = new Array[Long](mBits / 64)
    positions.foreach(p => words((p >>> 6).toInt) |= (1L << (p & 63)))
    val tr = sh.where(!evalPred)
    val withPos = (0 until k).foldLeft(tr)((d, i) =>
      d.withColumn(s"__bp$i", bloomPos(col("shingle"), i, mBits)))
    val hit = (0 until k).map(i => graft.plans.BloomBit.isSet(col(s"__bp$i"), words))
      .reduce(_ && _)
    val bloomHits = withPos.where(hit)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("bloom_hits"))
    val exact = tr.join(broadcast(evalSh), Seq("shingle"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("exact_hits"))
    bloomHits.join(exact, Seq("doc_id"), "left")
      .select(col("doc_id"), col("bloom_hits"),
        coalesce(col("exact_hits"), lit(0L)).as("exact_hits"))
  }

  /** Exact per-stratum quantiles of the document token-length
    * distribution (the truncation / packing / filter-threshold input).
    *
    * Scale shape: EXACT quantiles without sorting the corpus. A
    * per-stratum sort window would put each stratum's every row in one
    * task — a non-starter at 100 TB. Token counts live in a small
    * integer domain, so the corpus reduces to a (stratum, length) →
    * count HISTOGRAM with one map-side-combined aggregation; the
    * cumulative-rank window then runs over the tiny histogram, and the
    * quantile at q% is the least length whose cumulative count reaches
    * `ceil(total*q/100)` — pure integer arithmetic, bit-identical in
    * any engine (contrast `percentile_approx`, which is neither exact
    * nor portable).
    */
  def lengthQuantiles(df: DataFrame, strataCol: String = "lang",
      textCol: String = "text", qs: Seq[Int] = Seq(25, 50, 75, 95)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = df
      .select(col(strataCol), size(TextOps.words(col(textCol))).cast("long").as("n"))
      .groupBy(col(strataCol), col("n")).agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col(strataCol)).orderBy(col("n"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(col(strataCol))
    val x = h.withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("tot", sum(col("c")).over(wTot))
    val aggs = qs.map(q =>
      min(when(col("cum") >= expr(s"(tot * $q + 99) div 100"), col("n"))).as(s"p$q"))
    x.groupBy(col(strataCol))
      .agg(max(col("tot")).as("n_docs"), aggs: _*)
  }

  /** Per-stratum sample size for sampling-based quantiles. */
  val QuantileSampleK: Int = 64

  /** Sampling-based per-stratum quantiles — the fixed-budget companion
    * to [[lengthQuantiles]] for metrics whose domain is NOT
    * small-integer-bounded (where the exact histogram trick doesn't
    * apply): each stratum is reduced to a bottom-k-by-hash uniform
    * sample via the [[graft.plans.KmvSample]] TypedImperativeAggregate
    * (bounded k-pair state, map-side combined — the shuffle carries at
    * most k longs per group per map task, never the corpus), and exact
    * integer-rank quantiles are computed ON THE SAMPLE (the rank window
    * runs over <= k rows per stratum). Deterministic end to end — the
    * salted portable hash decides membership — so the SQL oracle
    * replays the sample and the quantiles bit-for-bit.
    */
  def sampleQuantiles(df: DataFrame, strataCol: String = "lang",
      textCol: String = "text", k: Int = QuantileSampleK,
      qs: Seq[Int] = Seq(25, 50, 75, 95)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val prepared = df.select(col(strataCol),
      portableHash(concat(col("doc_id").cast("string"), lit(":qsample"))).as("h"),
      size(TextOps.words(col(textCol))).cast("long").as("v"))
    val sampled = prepared.groupBy(col(strataCol))
      .agg(graft.plans.KmvSample.agg(col("h"), col("v"), k).as("sample"))
    val ex = sampled.select(col(strataCol), explode(col("sample")).as("v"))
    val w = Window.partitionBy(col(strataCol)).orderBy(col("v"))
    val wt = Window.partitionBy(col(strataCol))
    val ranked = ex.withColumn("vr", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wt))
    val aggs = qs.map(q =>
      max(when(col("vr") === expr(s"(n * $q + 99) div 100"), col("v"))).as(s"p$q"))
    ranked.groupBy(col(strataCol))
      .agg(max(col("n")).as("n_sample"), aggs: _*)
  }

  /** Deterministic corpus shuffle + sharding — the training-export step
    * that turns a curated corpus into `nShards` shard files whose
    * within-shard order is a reproducible global shuffle (dataloaders
    * read shards sequentially; sources must be well interleaved, and a
    * re-run must produce byte-identical shards).
    *
    * Scale shape: shard id is a pure per-row expression over the salted
    * portable hash (no RNG state, no global sort — a corpus-wide
    * `orderBy(rand())` is a full-data range shuffle AND unreproducible).
    * The within-shard position is a rank over the SAME hash, so the one
    * exchange is `hashpartitioning(shard, nShards)` and each shard sorts
    * locally in its own task — which is exactly the layout the shard
    * writer needs (one sorted file per task, no second shuffle). The
    * contract is the standard sharded-export one: pick `nShards` so a
    * shard fits a task (10^4–10^5 shards at 100 TB), exactly how the
    * shard count of a webdataset/tfrecord export is chosen.
    */
  def shardAssign(df: DataFrame, nShards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = portableHash(concat(col("doc_id").cast("string"), lit(":shard")))
    val w = Window.partitionBy(col("shard")).orderBy(col("__h"), col("doc_id"))
    df.select(col("doc_id"), col("source"), h.as("__h"))
      .withColumn("shard", pmod(col("__h"), lit(nShards.toLong)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .drop("__h")
  }

  /** Shard-balance / interleaving report: per-shard sizes and distinct
    * source counts — the observable that shards are even and sources are
    * mixed (a shard holding one source would starve a dataloader's
    * mixture). One map-side-combined aggregation over the assignment.
    */
  def shardStats(df: DataFrame, nShards: Int): DataFrame =
    shardAssign(df, nShards)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        max(col("pos")).as("max_pos"))

  /** Temperature-scaled mixture weights — the standard multilingual
    * sampling rule (mT5/XLM-R): a stratum's sampling share is
    * p_s ∝ n_s^α with α < 1, boosting low-resource strata without the
    * head drowning the tail. α is restricted to 2^-alphaHalvings
    * (0.5, 0.25, …) so the power is computed by repeated INTEGER
    * square roots: floor(sqrt(x)) of an integer-valued double is the
    * exact isqrt for x < 2^52 (sqrt is correctly rounded and
    * consecutive squares are > 1 apart), so every engine reproduces
    * the weights bit-for-bit — no libm pow() drift. `scale` stretches
    * the integer domain before the first root for resolution;
    * total_tokens * scale must stay < 2^52 (guarded).
    *
    * Scale shape: one map-side-combined groupBy to #strata rows; the
    * empty-frame window runs over those #strata rows only.
    */
  def temperatureWeights(df: DataFrame, alphaHalvings: Int = 1,
      scale: Long = 10000L, strataCol: String = "lang",
      textCol: String = "text"): DataFrame = {
    require(alphaHalvings >= 1 && scale >= 1)
    val agg = df.groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(TextOps.words(col(textCol))).cast("long")).as("total_tokens"))
    val guarded = when(col("total_tokens") * scale < lit(1L << 52),
      col("total_tokens") * scale)
      .otherwise(raise_error(lit("temperatureWeights: total_tokens*scale >= 2^52")))
    val wRaw = (1 to alphaHalvings).foldLeft[Column](guarded) {
      case (x, _) => floor(sqrt(x.cast("double"))).cast("long")
    }
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    agg
      .withColumn("__w", wRaw)
      .withColumn("__tw", sum(col("__w")).over(w))
      .withColumn("__tt", sum(col("total_tokens")).over(w))
      .withColumn("actual_share",
        round(col("total_tokens").cast("double") / col("__tt"), 4))
      .withColumn("temp_share",
        round(col("__w").cast("double") / col("__tw"), 4))
      .withColumn("boost",
        round((col("__w").cast("double") * col("__tt")) /
          (col("__tw").cast("double") * col("total_tokens")), 4))
      .drop("__w", "__tw", "__tt")
  }

  /** Token-budget mixture weights: per-stratum document/token totals,
    * the stratum's share of the corpus tokens, and the resampling weight
    * that would equalize the mixture (target = uniform across strata).
    * weight > 1 means the stratum must be up-sampled to hit its target
    * share of the training token budget.
    */
  def mixtureWeights(df: DataFrame, strataCol: String = "lang",
      textCol: String = "text"): DataFrame = {
    val agg = df.groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(TextOps.words(col(textCol))).cast("long")).as("total_tokens"))
    // #strata rows at this point; the empty-frame window is O(strata)
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    agg
      .withColumn("__tot", sum(col("total_tokens")).over(w))
      .withColumn("__k", count(lit(1)).over(w))
      .withColumn("actual_share",
        round(col("total_tokens").cast("double") / col("__tot"), 4))
      .withColumn("weight",
        round(col("__tot").cast("double") /
          (col("__k") * col("total_tokens")), 4))
      .drop("__tot", "__k")
  }

  /** DSIR-style importance weights (Xie et al., "Data Selection for
    * Language Models via Importance Resampling"): per-doc mean
    * log-ratio of a TARGET unigram LM over the SOURCE (whole-corpus)
    * unigram LM, both add-one smoothed over the shared corpus
    * vocabulary so every corpus word has a defined target probability.
    * High weight = "looks like the target distribution" — the signal
    * importance resampling thresholds to tilt a crawl toward a
    * high-quality seed domain.
    *
    *   w(d) = (1/|d|) Σ_w c_d(w) · [ ln((n_t(w)+1)/(T_t+V))
    *                                − ln((n_s(w)+1)/(T_s+V)) ]
    *
    * Scale shape (same discipline as [[TextOps.unigramLogProb]]): two
    * corpus passes, each a map-side-combined aggregation — (doc, word)
    * counts shuffle distinct pairs, the two vocabularies reduce by
    * word (target counts piggyback on the same pass via a conditional
    * sum, NOT a second explode). The scalar totals (T_t, T_s, V) are a
    * 1-row broadcast; scoring is one hash equi-join on word.
    */
  def dsirWeights(df: DataFrame, targetPred: Column,
      textCol: String = "text"): DataFrame = {
    val tok = df.select(col("doc_id"), targetPred.as("__tgt"),
      explode(TextOps.words(col(textCol))).as("word"))
    val dc = tok.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("c"))
    // one vocabulary pass carries BOTH LMs: corpus count + target count
    val freq = tok.groupBy(col("word")).agg(
      count(lit(1)).as("ns"),
      sum(when(col("__tgt"), 1L).otherwise(0L)).as("nt"))
    val tot = freq.agg(sum(col("ns")).as("ts"), sum(col("nt")).as("tt"),
      count(lit(1)).as("v"))
    dc.join(freq, Seq("word"))
      .crossJoin(broadcast(tot))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_words"),
        (round(sum(col("c").cast("double") *
            ((log((col("nt") + 1).cast("double")) -
              log((col("tt") + col("v")).cast("double"))) -
             (log((col("ns") + 1).cast("double")) -
              log((col("ts") + col("v")).cast("double")))))
          / sum(col("c")).cast("double"), 4) + lit(0.0)).as("logratio"))
  }

  /** DSIR resampling by threshold: keep the top `keepBp`/10000 of the
    * corpus by importance weight. The cut is a THRESHOLD over the
    * rounded-weight histogram — w* = max{w : |{docs with weight ≥ w}| ≥
    * k}, ties at w* all kept — so the rule is integer-exact, the SQL
    * oracle replays it bit-for-bit, and (the scale point) the rank
    * window runs over the bounded histogram of distinct rounded
    * weights, never a corpus sort. The kept-set decision itself is a
    * broadcast 1-row threshold + a map-side filter.
    */
  /** Default DSIR keep share (basis points). Oracles are generated
    * from this constant — change it only here.
    */
  val DsirKeepBp: Int = 2500

  def dsirSample(df: DataFrame, targetPred: Column, keepBp: Int = DsirKeepBp,
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // weights feed BOTH the threshold histogram and the final filter:
    // cache the (doc_id, n_words, logratio) frame — tiny next to the
    // corpus — so the two tokenize passes behind it run once. Ownership:
    // the returned plan holds the cache; callers materializing both this
    // result and a re-derived weights frame may unpersist via catalog.
    val weights = dsirWeights(df, targetPred, textCol).cache()
    val hist = weights.groupBy(col("logratio")).agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy().orderBy(col("logratio").desc)
    val thr = hist
      .withColumn("__cum", sum(col("__c")).over(w))
      .withColumn("__n", sum(col("__c")).over(Window.partitionBy()))
      .where(col("__cum") >= expr(s"(__n * $keepBp + 9999) div 10000"))
      .agg(max(col("logratio")).as("__thr"))
    weights.crossJoin(broadcast(thr))
      .where(col("logratio") >= col("__thr"))
      .join(df.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("n_words"), col("logratio"))
  }

  /** The COMPOSED curation funnel — the FineWeb/CCNet-style pipeline a
    * production crawl runs, in its standard order, as ONE dataflow with
    * per-document FIRST-FAILING-STAGE attribution:
    *
    *   quality rules → exact dedup (canonical among quality survivors)
    *   → benchmark decontamination → stratified sampling → sharding
    *
    * Output: one row per corpus (non-eval) document with its verdict
    * (`quality` / `exact_dup` / `contaminated` / `sampled_out` /
    * `kept`) and, for kept docs, the export shard. Every stage reuses
    * the proven single-op semantics (thresholds, hashes, DF caps,
    * sample rates), so the funnel's SQL oracle is the stacked chain of
    * the already-verified fragments.
    *
    * Scale shape: the quality verdict and the sample decision are
    * per-row projections; the dedup canonical is one fingerprint
    * groupBy (among quality survivors) joined back on the fingerprint
    * (hash equi-join, skew-free keys); contamination is the
    * established broadcast eval-shingle semi-join. The corpus text
    * shuffles only for the fingerprint join — shingle/verdict frames
    * ship hashes and booleans.
    */
  def curationPipeline(df: DataFrame, evalPred: Column, nShards: Int = 8,
      textCol: String = "text", strataCol: String = "lang"): DataFrame = {
    val q = TextOps.qualityFilter(df.where(!evalPred), textCol)
      .select(col("doc_id"), col("kept").as("__q"))
    val base = df.where(!evalPred)
      .select(col("doc_id"), col(strataCol), col(textCol))
      .join(q, Seq("doc_id"))
      .withColumn("__fp", TextOps.portableHash(TextOps.normalized(col(textCol))))
    val canon = base.where(col("__q"))
      .groupBy(col("__fp")).agg(min(col("doc_id")).as("__cid"))
    val dirty = contamination(df, evalPred, 3, textCol)
      .select(col("doc_id"), lit(true).as("__dirty"))
    val keep = sampleKeep(col("doc_id"), col(strataCol))
    val verdict =
      when(!col("__q"), lit("quality"))
        .when(col("doc_id") =!= col("__cid"), lit("exact_dup"))
        .when(coalesce(col("__dirty"), lit(false)), lit("contaminated"))
        .when(!keep, lit("sampled_out"))
        .otherwise(lit("kept"))
    base
      .join(canon, Seq("__fp"), "left")
      .join(dirty, Seq("doc_id"), "left")
      .withColumn("verdict", verdict)
      .select(col("doc_id"), col(strataCol), col("verdict"),
        when(col("verdict") === "kept",
          pmod(portableHash(concat(col("doc_id").cast("string"), lit(":shard"))),
            lit(nShards.toLong)))
          .otherwise(lit(null).cast("long")).as("shard"))
  }

  /** Funnel report over [[curationPipeline]]: per-verdict document and
    * token totals — the attrition table a curation run publishes.
    */
  def curationFunnel(df: DataFrame, evalPred: Column, nShards: Int = 8,
      textCol: String = "text", strataCol: String = "lang"): DataFrame = {
    val n = df.select(col("doc_id"),
      size(TextOps.words(col(textCol))).cast("long").as("__n"))
    curationPipeline(df, evalPred, nShards, textCol, strataCol)
      .join(n, Seq("doc_id"))
      .groupBy(col("verdict"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__n")).as("n_tokens"))
  }
}
