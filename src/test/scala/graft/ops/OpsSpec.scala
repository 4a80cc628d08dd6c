package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Training-data operator specs over the driver-generated tables at
  * sf0.001 (plus synthetic near-dup fixtures where the corpus has no
  * duplicates by construction).
  */
class OpsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def docs: DataFrame = spark.read.parquet(s"$dir/documents.parquet")
  private def embs: DataFrame = spark.read.parquet(s"$dir/embeddings.parquet")

  private def dupFixture: DataFrame = {
    import spark.implicits._
    // doc 1/2 identical, 3 near-dup of 1 (one word changed), 4 disjoint
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again and again"),
      (3L, "the quick brown fox leaps over the lazy dog again and again and again"),
      (4L, "completely different content with nothing shared at all whatsoever here")
    ).toDF("doc_id", "text")
  }

  test("exact dedup: identical texts collapse to one canonical id") {
    val d = Dedup.exact(dupFixture).collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(d(1L) == 2L) // docs 1 and 2 share a fingerprint; canonical = min id
    assert(d.values.sum == 4L)
    // real corpus: 500 distinct docs -> 500 groups
    assert(Dedup.exact(docs).count() == docs.count())
  }

  test("ngram jaccard: near-dups found, disjoint docs not") {
    val pairs = Dedup.ngramJaccardPairs(dupFixture, threshold = 0.2)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash LSH candidates superset high-jaccard pairs; signatures identical for identical docs") {
    val sig = Dedup.minhashSignatures(dupFixture).collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(sig(1L).size == Dedup.MinhashK) // full production signature width
    assert(sig(1L) == sig(2L)) // identical text -> identical signature
    val cands = Dedup.minhashCandidates(dupFixture)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L))) // identical docs collide in every band
    // production banding (16 bands of 8 rows) has its 50% candidate point
    // at jaccard ~ (1/16)^(1/8) = 0.71 — a sharp cutoff by design. A
    // j~0.85 near-dup (one word of 40 changed) must band-collide:
    import spark.implicits._
    val words = (1 to 40).map(i => s"w$i").mkString(" ")
    val hi = Seq((1L, words), (2L, words.replace("w20 ", "zz "))).toDF("doc_id", "text")
    val hiCands = Dedup.minhashCandidates(hi)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hiCands.contains((1L, 2L)), "high-jaccard near-dup must band-collide")
  }

  test("simhash: identical docs equal; near-dups within small hamming distance") {
    val sh = Dedup.simhash16(dupFixture).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(1L), sh(3L)) <= 6, s"got ${hamming(sh(1L), sh(3L))}")
    assert(hamming(sh(1L), sh(4L)) > hamming(sh(1L), sh(3L)))
  }

  test("brute-force ANN top-k: k results per query, self excluded, descending similarity") {
    val res = Similarity.bruteForceTopK(embs, embs.where(col("vec_id") < 3), k = 5).collect()
    assert(res.length == 15)
    res.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      assert(rows.length == 5)
      assert(!rows.exists(_.getLong(2) == q)) // self excluded
      val sims = rows.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("IVF(label) ANN returns only same-cell candidates; LSH buckets are deterministic") {
    val labels = embs.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val res = Similarity.ivfTopK(embs, embs.where(col("vec_id") < 3), k = 3).collect()
    res.foreach(r => assert(labels(r.getLong(2)) == labels(r.getLong(0))))
    val b1 = embs.select(col("vec_id"), Similarity.lshBucket(col("embedding")).as("b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b2 = embs.select(col("vec_id"), Similarity.lshBucket(col("embedding")).as("b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b1 == b2)
    assert(b1.values.toSet.size > 1, "hyperplanes should split the corpus")
  }

  test("sequence packing: contiguous offsets per group, every non-tail sequence exactly full") {
    val withTok = docs.withColumn("n_tok", size(TextOps.words(col("text"))))
    val cap = 512
    val rows = Packing.packOffsets(withTok, capacity = cap, groups = 4)
      .select(col("grp"), col("start_off"), col("end_off"), col("first_seq"), col("last_seq"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    rows.groupBy(_._1).foreach { case (g, rs) =>
      val sorted = rs.sortBy(_._2)
      // contiguous: each doc starts exactly where the previous ended
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._3 == b._2, s"gap in group $g")
        case _ => ()
      }
      assert(sorted.head._2 == 0L)
      // seq bounds consistent with the interval
      sorted.foreach { case (_, s, e, f, l) =>
        assert(f == s / cap && l == (e - 1) / cap && f <= l)
      }
    }
    val stats = Packing.packStats(withTok, capacity = cap, groups = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    stats.foreach { case (g, nDocs, total, nSeqs, tailFill) =>
      val endMax = rows.filter(_._1 == g).map(_._3).max
      assert(total == endMax, s"group $g totals disagree")
      assert(nDocs == rows.count(_._1 == g))
      assert(nSeqs == (total + cap - 1) / cap)
      assert(tailFill > 0.0 && tailFill <= 1.0)
    }
  }

  test("packEmit: sequences are full except tails; fingerprint reproduces a driver-side emit") {
    val cap = 64
    val withTok = docs.withColumn("tokens",
      transform(TextOps.words(col("text")), w => TextOps.portableHash(w)))
    val seqs = Packing.packEmit(withTok, capacity = cap, groups = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))

    // driver-side oracle: actually concatenate the token streams per
    // group in doc_id order and chunk them
    val toks = withTok.select(col("doc_id"),
        pmod(TextOps.portableHash(col("doc_id").cast("string")), lit(4L)).as("grp"),
        col("tokens"))
      .collect()
      .map(r => (r.getLong(1), r.getLong(0), r.getSeq[Long](2)))
    val want = toks.groupBy(_._1).flatMap { case (g, ds) =>
      // (docTag, foldedToken) stream in doc_id order
      val stream = ds.sortBy(_._2)
        .flatMap(d => d._3.map(t => (d._2, math.floorMod(t, 1048576L))))
      stream.zipWithIndex.groupBy(_._2 / cap).map { case (seq, frag) =>
        val fp = frag.map { case ((_, t), i) => (i % cap + 1).toLong * t }.sum
        val nd = frag.map(_._1._1).distinct.size
        (g, seq.toLong, nd.toLong, frag.size.toLong, fp)
      }
    }.toSet
    assert(seqs.toSet == want, "packed layout must equal the sequential emit")
    // all but the per-group tail are exactly full
    seqs.groupBy(_._1).foreach { case (g, rs) =>
      val tail = rs.map(_._2).max
      rs.foreach { case (_, seq, _, nTok, _) =>
        if (seq != tail) assert(nTok == cap, s"non-tail seq $seq in group $g not full")
        else assert(nTok > 0 && nTok <= cap)
      }
    }
  }

  test("shingle DF cap: hot shingles are dropped before any pair join") {
    import spark.implicits._
    // every doc shares the hot trigram "aaa bbb ccc"; pairs 1-2 also share real content
    val corpus = Seq(
      (1L, "aaa bbb ccc unique one text body here padding words extra"),
      (2L, "aaa bbb ccc unique one text body here padding words other"),
      (3L, "aaa bbb ccc totally different third document body content x"),
      (4L, "aaa bbb ccc nothing shared with anyone else at all y")
    ).toDF("doc_id", "text")
    val capped = Dedup.cappedShingles(corpus, maxDocFreq = 3).collect().map(_.getString(0)).toSet
    assert(!capped.contains("aaa bbb ccc"), "hot shingle must be dropped")
    assert(capped.nonEmpty)
    // with the cap, docs 3/4 share NOTHING -> no pair; 1/2 still found
    val pairs = Dedup.ngramJaccardPairs(corpus, threshold = 0.2, maxDocFreq = 3)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("lshVerifiedPairs: candidates-only verification matches the exact pair set on near-dups") {
    val exact = Dedup.ngramJaccardPairs(dupFixture, threshold = 0.2)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val verified = Dedup.lshVerifiedPairs(dupFixture, threshold = 0.2)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified.subsetOf(exact), s"verified pairs must be exact-true: ${verified -- exact}")
    assert(verified.contains((1L, 2L))) // identical docs always collide in every band
  }

  test("degenerate corpus: LSH bucket cap bounds pair fan-out (mass-duplicated boilerplate)") {
    import spark.implicits._
    // 600 identical docs: below the shingle DF cap (1000) so they all
    // reach LSH with identical signatures — every band puts all 600 in
    // ONE bucket. Uncapped that is C(600,2)=179,700 pairs exploding from
    // single tasks; the cap keeps each bucket's 256 lowest ids.
    val boiler = "the quick brown fox jumps over the lazy dog again and again and again"
    val corpus = ((0L until 600L).map(i => (i, boiler)) ++
      (1000L until 1020L).map(i => (i, s"unique text number $i with its own private words w$i x$i y$i z$i")))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashCandidates(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val boilerPairs = pairs.filter(p => p._1 < 600L && p._2 < 600L)
    assert(boilerPairs.size == 256 * 255 / 2,
      s"expected C(256,2)=${256 * 255 / 2} capped pairs, got ${boilerPairs.size}")
    assert(boilerPairs.forall(p => p._1 < 256L && p._2 < 256L),
      "cap must keep the LOWEST doc_ids (deterministic, oracle-replayable)")
    // embedding flavor of the same degeneracy: identical vectors land in
    // one bucket per band
    val dupVecs = (0L until 600L).map(i => (i, Array.fill(8)(0.5f)))
      .toDF("vec_id", "embedding")
    val vp = Dedup.embeddingNearDups(dupVecs, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(vp.size == 256 * 255 / 2, s"embedding cap: got ${vp.size}")
    assert(vp.forall(p => p._1 < 256L && p._2 < 256L))
  }

  test("connected components: transitive hull with min labels, O(log n) rounds on a path") {
    import spark.implicits._
    // chain 1-2-3 (never a direct 1~3 pair), isolated pair 10-11, and a
    // 64-node PATH — diameter 63, so plain neighbor propagation would
    // need >50 rounds; pointer jumping must close it within maxRounds
    val path = (100L until 163L).map(i => (i, i + 1))
    val pairs = (Seq((1L, 2L), (2L, 3L), (10L, 11L)) ++ path).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(pairs)
    val byDoc = cc.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byDoc(1L) == (1L, 3L) && byDoc(2L) == (1L, 3L) && byDoc(3L) == (1L, 3L),
      s"chain must collapse to min id 1: $byDoc")
    assert(byDoc(10L) == (10L, 2L) && byDoc(11L) == (10L, 2L))
    assert(byDoc(100L) == (100L, 64L) && byDoc(163L) == (100L, 64L),
      "64-node path must fully collapse to its min (pointer jumping)")
    assert(cc.count() == 3 + 2 + 64)
    cc.unpersist()
    // empty edge set -> empty result (no crash)
    assert(Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")).count() == 0)
  }

  test("applyNearDups: only each cluster's min-id member survives") {
    import spark.implicits._
    // 1~2 identical -> cluster {1,2} keeps 1. Doc 3 (jaccard ~0.6 vs 1)
    // sits BELOW the 16x8 banding operating point (~0.71 at 50%
    // candidate probability) — by design not a MinHash candidate, so it
    // survives; doc 4 is disjoint.
    val kept = Dedup.applyNearDups(dupFixture)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L), s"got $kept")
    // at the exact-pair level the same apply drops BOTH 2 and 3: feed
    // the quadratic small-scale pair oracle through the same closure
    val cc = Dedup.connectedComponents(
      Dedup.ngramJaccardPairs(dupFixture, threshold = 0.2)
        .select(col("doc_a"), col("doc_b")))
    val canon = cc.where(col("doc_id") === col("component_id"))
      .select("doc_id").as[Long].collect().toSet
    assert(canon == Set(1L), s"got $canon")
    cc.unpersist()
  }

  test("tfidf top-k: rare terms outrank ubiquitous ones; rounded-score rank is deterministic") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "common common common rare"),
      (2L, "common filler words here"),
      (3L, "common more filler text")
    ).toDF("doc_id", "text")
    val top = TextOps.tfidfTop(corpus, k = 2)
    val d1 = top.where(col("doc_id") === 1).orderBy(col("rnk"))
      .select("word", "score").collect().map(r => (r.getString(0), r.getDouble(1)))
    // "rare": tc=1, df=1 -> 1*ln(4/2)=0.6931; "common": tc=3, df=3 ->
    // 3*ln(4/4)=0 — rare wins despite 3x the term count
    assert(d1.head._1 == "rare", s"got ${d1.toSeq}")
    assert(math.abs(d1.head._2 - 0.6931) < 1e-9)
    assert(top.groupBy("doc_id").count().collect().forall(_.getLong(1) <= 2))
  }

  test("diversity profile: linear-pass mean pairwise dot equals the brute pair average") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(0.8f, 0.6f), 0), (3L, Array(0.0f, 1.0f), 0),
      (4L, Array(0.5f, 0.5f), 1)  // singleton label: mean_pair_dot must be null
    ).toDF("vec_id", "embedding", "label")
    val prof = Similarity.diversityProfile(vecs).orderBy("label").collect()
    // quantized: (10000,0), (8000,6000), (0,10000); pair dots:
    // 1·2=8e7, 1·3=0, 2·3=6e7 -> ordered-pair mean = 2*(8+0+6)e7/6
    // the operator rounds to 4 decimals, so compare at that precision
    val expected = BigDecimal(2.0 * (80000000L + 0L + 60000000L) / 6)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(prof(0).getInt(0) == 0 && prof(0).getLong(1) == 3L)
    assert(math.abs(prof(0).getDouble(3) - expected) < 1e-9, prof(0).toString)
    assert(prof(1).getLong(1) == 1L && prof(1).isNullAt(3),
      "singleton label must have null mean_pair_dot")
  }

  test("banded embedding near-dup: no cartesian in the plan; recall vs brute measured") {
    val banded = Dedup.embeddingNearDups(embs)
    val plan = banded.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "bucketed near-dup must never plan a corpus x corpus join")
    val got = banded.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Dedup.embeddingNearDupsBrute(embs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(want), "banded pairs must be true pairs (exact cosine verify)")
    // 8 bands x 3 planes at threshold 0.4 -> expect most true pairs found
    if (want.nonEmpty) {
      val recall = got.size.toDouble / want.size
      info(f"banded near-dup recall vs brute: $recall%.2f (${got.size}/${want.size})")
      assert(recall >= 0.5, f"recall collapsed: $recall%.2f")
    }
  }

  test("embedding dedup apply: exactly the non-min cluster members are dropped") {
    val pairs = Dedup.embeddingNearDups(embs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // expected survivors via a driver-side union-find over the SAME pairs
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val (lo, hi) = (math.min(ra, rb), math.max(ra, rb))
        parent(hi) = lo }
    }
    val victims = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      .filter(x => find(x) != x).toSet
    val kept = Dedup.applyEmbeddingNearDups(embs)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val all = embs.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == all -- victims)
    assert(victims.nonEmpty, "fixture should contain embedding near-dups")
  }

  test("trained IVF: deterministic training, no cartesian over the corpus, recall vs brute") {
    val q = embs.where(col("vec_id") < 10)
    val res1 = Similarity.ivfTrainedTopK(embs, q, k = 3).collect()
    val res2 = Similarity.ivfTrainedTopK(embs, q, k = 3).collect()
    assert(res1.map(_.toString).sorted.sameElements(res2.map(_.toString).sorted))
    assert(res1.length == 30) // 10 queries x k (cells hold >> k vectors)
    val brute = Similarity.bruteForceTopK(embs, q, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val trained = res1.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = trained.intersect(brute).size.toDouble / brute.size
    info(f"ivf nprobe=2 recall@3 vs brute: $recall%.2f")
    assert(recall >= 0.3, f"recall collapsed: $recall%.2f")
    // centroid training is the only corpus aggregation; search is an
    // equi-join against probed cells
    val plan = Similarity.ivfTrainedTopK(embs, q, k = 3).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
  }

  test("text ops: token counts, quality in [0,1], langid over markers, stable fingerprint") {
    val tc = TextOps.tokenCounts(docs).collect()
    tc.foreach { r => assert(r.getInt(1) > 0 && r.getInt(2) >= r.getInt(1) - 1) }
    val q = TextOps.qualityScore(docs).collect()
    q.foreach { r =>
      val quality = r.getDouble(4)
      assert(quality >= 0.0 && quality <= 1.0)
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
    }
    val lang = TextOps.langId(docs).collect()
    assert(lang.forall(r => Set("en", "es", "fr", "de", "und").contains(r.getString(1))))
    val fp1 = TextOps.fingerprint(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // whitespace-normalization invariance
    val mangled = docs.select(col("doc_id"), concat(lit("  "), regexp_replace(col("text"), " ", "   ")).as("text"))
    val fp2 = TextOps.fingerprint(mangled).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp1 == fp2)
  }

  test("vocab coverage: top-k cut breaks ties on the word; counts exact") {
    import spark.implicits._
    // freq: aa=3, bb=3, cc=2, dd=1 — k=2 vocab must be {aa, bb} (tie on
    // cc excluded: count 2 < 3), and a k=3 cut between cc and nothing
    val df = Seq(
      (1L, "aa bb cc", "en"), (2L, "aa bb cc", "en"), (3L, "aa bb dd", "fr")
    ).toDF("doc_id", "text", "lang")
    val out = TextOps.vocabCoverage(df, k = 2).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    assert(out("en") == ((6L, 4L, 2L, 0.6667)))
    assert(out("fr") == ((3L, 2L, 1L, 0.6667)))
    // tie at the cut: ee and ff both freq 1 — k=5 must pick ee (word order)
    val df2 = Seq((1L, "aa aa bb bb cc cc dd dd ee ff", "en")).toDF("doc_id", "text", "lang")
    val o2 = TextOps.vocabCoverage(df2, k = 5).head()
    assert(o2.getAs[Long]("covered_tok") == 9L, "ee in, ff out")
  }

  test("length buckets: exact power-of-two caps, padding accounted") {
    import spark.implicits._
    val df = (Seq(1, 2, 3, 4, 5, 8, 9, 1024, 1025))
      .zipWithIndex
      .map { case (n, i) => (i.toLong, Seq.fill(n)("w").mkString(" ")) }
      .toDF("doc_id", "text")
    val out = TextOps.lengthBuckets(df).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // caps: 1→1, 2→2, 3,4→4, 5,8→8, 9→16, 1024→1024, 1025→2048
    assert(out.keySet == Set(1L, 2L, 4L, 8L, 16L, 1024L, 2048L))
    assert(out(4L) == ((2L, 7L, 1L)))     // n=3,4: pad 1+0
    assert(out(8L) == ((2L, 13L, 3L)))    // n=5,8: pad 3+0
    assert(out(16L) == ((1L, 9L, 7L)))
    assert(out(2048L) == ((1L, 1025L, 1023L)))
    val total = out.values.map(_._2).sum
    assert(total == Seq(1, 2, 3, 4, 5, 8, 9, 1024, 1025).sum.toLong)
  }

  test("plan shapes: filter/parse/unwrap are shuffle-free projections; sharding shuffles once") {
    import spark.implicits._
    def plan(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString
    def exchanges(p: String) = p.sliding("Exchange".length).count(_ == "Exchange")
    // quality verdicts: pure projection — pipelines with the scan
    assert(exchanges(plan(TextOps.qualityFilter(docs))) == 0)
    // URL parse surface: pure projection
    val urls = docs.select(col("doc_id"),
      concat(lit("https://www.x.org/a/"), col("doc_id")).as("url"))
    assert(exchanges(plan(UrlOps.urlFeatures(urls))) == 0)
    // PII scrub: detection + redaction are pure projections
    assert(exchanges(plan(Pii.piiStats(docs))) == 0)
    assert(exchanges(plan(Pii.redact(docs))) == 0)
    // unwrap SMT: projection + filter only
    val env = Seq(("c", 1L)).toDF("op", "commit_lsn")
      .withColumn("after", struct(lit("k").as("k")))
      .withColumn("before", struct(lit("k").as("k")))
    assert(exchanges(plan(Unwrap.flatten(env))) == 0)
    // shard assignment: exactly ONE exchange (the shard-id hash feeding
    // the per-shard rank) — the same layout the shard writer consumes
    assert(exchanges(plan(Curation.shardAssign(docs, 8))) == 1)
  }

  test("lm buckets: terciles partition each lang into ordered disjoint score ranges") {
    val b = TextOps.lmBuckets(docs).collect()
    assert(b.map(_.getLong(2)).sum == docs.count()) // every doc lands in one bucket
    b.groupBy(_.getString(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      // buckets are 1..k contiguous, and ranges are disjoint and ordered:
      // head's worst score is strictly above the next bucket's best
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.size).toSeq)
      sorted.foreach(r => assert(r.getDouble(3) <= r.getDouble(4)))
      sorted.sliding(2).filter(_.size == 2).foreach { w =>
        assert(w(0).getDouble(3) > w(1).getDouble(4))
      }
    }
  }

  test("asof join: latest at-or-before match per key, ties inclusive, no-match null") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    val left = Seq(
      (1L, 10L, ts(100)), // u10: right rows at 50, 100 -> picks 100 (tie)
      (2L, 10L, ts(99)),  // -> picks 50
      (3L, 10L, ts(10)),  // before all -> null
      (4L, 20L, ts(500))  // key with no right rows -> null
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (101L, 10L, ts(50), 1.5), (102L, 10L, ts(100), 2.5)
    ).toDF("click_id", "user_id", "ts", "v")
    val out = Temporal.asofJoin(left, right, Seq("user_id"), "ts", Seq("click_id", "v"))
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(3)).map(_.asInstanceOf[Long]), Option(r.get(4)))).toMap
    assert(out(1L) == ((Some(102L), Some(2.5))))
    assert(out(2L) == ((Some(101L), Some(1.5))))
    assert(out(3L) == ((None, None)))
    assert(out(4L) == ((None, None)))
    // plan: exactly ONE exchange (the window's key partition) — the
    // union-window as-of never plans a non-equi join
    val plan = Temporal.asofJoin(left, right, Seq("user_id"), "ts", Seq("click_id"))
      .queryExecution.executedPlan.toString
    assert(plan.sliding("Exchange".length).count(_ == "Exchange") == 1)
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"))
  }

  test("range join: boundaries inclusive, multi-bucket spans, overlapping intervals, no BNLJ") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    val pts = Seq((1L, ts(100)), (2L, ts(160)), (3L, ts(220)), (4L, ts(221)), (5L, ts(99)))
      .toDF("pt_id", "ts")
    val ivs = Seq((10L, ts(100), ts(220)), (11L, ts(150), ts(170))).toDF("iv_id", "lo", "hi")
    val got = Temporal.rangeJoin(pts, ivs, "ts", "lo", "hi", bucketSec = 60L)
      .select("pt_id", "iv_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // iv 10 spans 3 buckets and catches 1,2,3 (both boundaries inclusive);
    // iv 11 overlaps it and catches 2 — the pair appears exactly once each
    assert(got == Set((1L, 10L), (2L, 10L), (3L, 10L), (2L, 11L)))
    val plan = Temporal.rangeJoin(pts, ivs, "ts", "lo", "hi")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"))
  }

  test("pii: each detector counts its artifact; redaction is sequential and byte-exact") {
    import spark.implicits._
    val d = Seq(
      (1L, "reach me at bob.smith+x@mail.example.org or alice@ex.io thanks"),
      (2L, "server 10.0.0.7 talked to 192.168.12.34 on port 443"),
      (3L, "call +4915112345678 now"),
      (4L, "account 123456789012 charged"),
      (5L, "nothing sensitive here at all")
    ).toDF("doc_id", "text")
    val s = Pii.piiStats(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
    assert(s(1L) == ((2L, 0L, 0L, 0L, true)))
    assert(s(2L) == ((0L, 2L, 0L, 0L, true)))
    // an E.164 phone is ALSO a long digit run — detectors are independent
    assert(s(3L) == ((0L, 0L, 1L, 1L, true)))
    assert(s(4L) == ((0L, 0L, 0L, 1L, true)))
    assert(s(5L) == ((0L, 0L, 0L, 0L, false)))
    // redaction: sequential chain; phone wins over number on overlap
    val red = d.select(col("doc_id"), Pii.redacted(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(red(1L) == "reach me at <EMAIL> or <EMAIL> thanks")
    assert(red(2L) == "server <IP> talked to <IP> on port 443")
    assert(red(3L) == "call <PHONE> now")
    assert(red(4L) == "account <NUM> charged")
    assert(red(5L) == "nothing sensitive here at all")
    // clean text passes through fingerprint-identical
    val fp = Pii.redact(d.where(col("doc_id") === 5L)).select("red_fp").as[Long].head()
    val orig = d.where(col("doc_id") === 5L)
      .select(TextOps.portableHash(col("text"))).as[Long].head()
    assert(fp == orig)
  }

  test("segment dedup apply: later copies of a window are cut, text rebuilt in order") {
    import spark.implicits._
    val boiler = (1 to 16).map(i => s"b$i").mkString(" ") // one full window
    val u1 = (1 to 16).map(i => s"u$i").mkString(" ")
    val u2 = (1 to 16).map(i => s"v$i").mkString(" ")
    val tail = "t1 t2 t3" // partial window
    val d = Seq(
      (1L, s"$boiler $u1 $tail"),        // first owner of boiler + tail
      (2L, s"$u2 $boiler"),              // loses its boiler copy
      (3L, s"$boiler $tail"),            // loses everything
      (4L, "w1 w2")                      // short doc: single partial segment
    ).toDF("doc_id", "text")
    val out = TextOps.segmentDedupApply(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // doc 1 keeps all 3 segments (35 words)
    assert(out(1L)._1 == 3L && out(1L)._2 == 3L && out(1L)._3 == 35L)
    // doc 2: 2 segments, keeps only its unique one (16 words)
    assert(out(2L) == ((2L, 1L, 16L, d.sparkSession.range(1).select(
      TextOps.portableHash(lit(u2))).head().getLong(0))))
    // doc 3 loses both segments -> empty output, sentinel fp 0
    assert(out(3L) == ((2L, 0L, 0L, 0L)))
    // doc 4's partial window is untouched
    assert(out(4L)._2 == 1L && out(4L)._3 == 2L)
    // within-doc duplicate windows also collapse to the first occurrence
    val rep = Seq((9L, s"$boiler $boiler $u1")).toDF("doc_id", "text")
    val r9 = TextOps.segmentDedupApply(rep).collect().head
    assert(r9.getLong(1) == 3L && r9.getLong(2) == 2L && r9.getLong(3) == 32L)
  }

  test("substring dedup: shifted spans are caught at any alignment; self-overlap collapses runs") {
    import spark.implicits._
    def fp(s: String): Long = spark.range(1)
      .select(TextOps.portableHash(lit(s))).head().getLong(0)
    val span = (1 to 16).map(i => s"s$i").mkString(" ")
    val d = Seq(
      (1L, (1 to 8).map(i => s"a$i").mkString(" ") + " " + span), // owner (24 words)
      // the same span at OFFSET 3 — invisible to the fixed 16-grid,
      // caught by stride-1: positions 3..18 cut, edges survive
      (2L, "c1 c2 c3 " + span + " e1 e2"),
      (3L, "w1 w2 w3") // shorter than one window: intact
    ).toDF("doc_id", "text")
    val out = TextOps.substringDedupApply(d).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(1L) == ((24L, 0L, 24L,
      fp((1 to 8).map(i => s"a$i").mkString(" ") + " " + span))))
    assert(out(2L) == ((21L, 1L, 5L, fp("c1 c2 c3 e1 e2"))))
    assert(out(3L) == ((3L, 0L, 3L, fp("w1 w2 w3"))))

    // a 20-token run of one word: windows 1..4 dup window 0 (self-
    // overlap), cutting positions 1..19 — the run collapses to one
    // token ahead of the unique tail
    val run = Seq((9L, Seq.fill(20)("r").mkString(" ") + " " +
      (1 to 16).map(i => s"u$i").mkString(" "))).toDF("doc_id", "text")
    val r9 = TextOps.substringDedupApply(run).collect().head
    assert(r9.getLong(1) == 36L && r9.getLong(2) == 4L && r9.getLong(3) == 17L)
    assert(r9.getLong(4) == fp("r " + (1 to 16).map(i => s"u$i").mkString(" ")))
  }

  test("quality filter: each rule fires on its designed doc, clean doc kept") {
    import spark.implicits._
    val stops = "the a of and" // distinct stopwords to clear low_stop
    val cases = Seq(
      // clean: 20 distinct words, stopwords present, sane lengths
      (0L, stops + " " + (1 to 16).map(i => s"word$i").mkString(" ")),
      (1L, "the a of tiny"), // too_short
      (2L, stops + " " + (1 to 95).map(i => s"w$i").mkString(" ")), // too_long
      (3L, (1 to 30).map(i => s"nostop$i").mkString(" ")), // low_stop
      (4L, stops + " " + Seq.fill(8)("spam").mkString(" ") + " " +
        (1 to 8).map(i => s"x$i").mkString(" ")), // rep_top_word (8/20=40%)
      (5L, stops + " " + Seq.fill(16)("the").mkString(" ")), // dup_words (16/20 repeats)
      (6L, stops + " " + (1 to 16).map(i => "q" * 20 + i).mkString(" ")) // word_shape
    ).toDF("doc_id", "text")
    val v = TextOps.qualityFilter(cases).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(v(0L).getBoolean(8), "clean doc must be kept")
    val ruleIdx = Map("too_short" -> 2, "too_long" -> 3, "low_stop" -> 4,
      "rep_top_word" -> 5, "dup_words" -> 6, "word_shape" -> 7)
    Seq(1L -> "too_short", 2L -> "too_long", 3L -> "low_stop",
      4L -> "rep_top_word", 5L -> "dup_words", 6L -> "word_shape")
      .foreach { case (id, rule) =>
        assert(v(id).getBoolean(ruleIdx(rule)), s"doc $id should fail $rule")
        assert(!v(id).getBoolean(8), s"doc $id must be rejected")
      }
    // stats reconcile with the verdicts
    val st = TextOps.qualityFilterStats(cases).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(st("kept") == 1L)
    assert(ruleIdx.keys.forall(r => st(r) >= 1L), s"got $st")
  }

  test("segment dup stats: a shared 16-token window flags in BOTH docs; short docs excluded") {
    import spark.implicits._
    val shared = (0 until 16).map(i => s"s$i").mkString(" ")
    val segB = (0 until 16).map(i => s"t$i").mkString(" ")
    val segC = (0 until 16).map(i => s"u$i").mkString(" ")
    val out = TextOps.segmentDupStats(Seq(
      (1L, s"$shared $segB"),   // 2 segments; the first is shared with doc 2
      (2L, s"$shared $segC"),
      (3L, "too short")).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out.keySet == Set(1L, 2L), "sub-segment docs are excluded")
    assert(out(1L) == ((2L, 1L)) && out(2L) == ((2L, 1L)))
    // a window repeated WITHIN one doc only is not cross-doc boilerplate
    val within = TextOps.segmentDupStats(Seq(
      (9L, s"$segC $segC")).toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(within.toSeq == Seq((1L, 0L)), "within-doc distinct first: 1 distinct seg, 0 dups")
  }

  test("langid eval: confusion matrix of prediction vs label") {
    import spark.implicits._
    val out = TextOps.langIdEval(Seq(
      (1L, "the cat of a hat", "en"),   // en markers, labeled en -> agree
      (2L, "the dog of a log", "fr"),   // en markers, labeled fr -> confusion cell
      (3L, "xyz qqq zzz", "de")          // no markers -> pred und
    ).toDF("doc_id", "text", "lang"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out == Map(("en", "en") -> 1L, ("fr", "en") -> 1L, ("de", "und") -> 1L))
  }

  test("unigram LM score: hand-computed mean log-prob; rare-token docs score lower") {
    import spark.implicits._
    // corpus: T=5 tokens; freq a=2, b=2, c=1
    val out = TextOps.unigramLogProb(Seq(
      (1L, "a a b"), (2L, "b c")).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    // doc 1: all tokens have p=2/5 -> mean = ln(0.4)
    assert(out(1L) == ((3L, r4(math.log(0.4)))))
    // doc 2: (ln(2/5) + ln(1/5)) / 2
    assert(out(2L) == ((2L, r4((math.log(0.4) + math.log(0.2)) / 2))))
    // a doc full of corpus-rare tokens scores below a corpus-typical one
    assert(out(2L)._2 < out(1L)._2)
  }

  test("multimodal REAL decode: JDK PNG + WAV codecs through the partition path; sentinel on corrupt bytes") {
    import spark.implicits._
    // deterministic 8x5 RGB PNG written with the JDK encoder
    val img = new java.awt.image.BufferedImage(8, 5, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 5; x <- 0 until 8)
      img.setRGB(x, y, new java.awt.Color((x * 40) % 256, (y * 60) % 256, 7).getRGB)
    val png = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos); bos.toByteArray
    }
    val n = 40.0
    val meanR = (0 until 5).flatMap(_ => (0 until 8).map(x => (x * 40) % 256)).sum / n
    val meanG = (0 until 5).flatMap(y => (0 until 8).map(_ => (y * 60) % 256)).sum / n
    val media = Seq(
      (1L, "image/png", png, png.length),
      (2L, "image/png", Array[Byte](1, 2, 3), 3)) // corrupt
      .toDF("doc_id", "mime", "payload", "declared_len")
    val feats = Multimodal.extractImageFeatures(media).collect().map(f => f.doc_id -> f).toMap
    assert(feats(1L).width == 8 && feats(1L).height == 5 && feats(1L).channels == 3)
    assert(math.abs(feats(1L).mean(0) - meanR) < 1e-4, s"meanR ${feats(1L).mean}")
    assert(math.abs(feats(1L).mean(1) - meanG) < 1e-4)
    assert(math.abs(feats(1L).mean(2) - 7.0) < 1e-4)
    assert(feats(2L).width == -1, "corrupt payload surfaces the sentinel, never a task failure")
    // 16-bit mono 8 kHz WAV at constant amplitude 0.5 -> rms 0.5
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val samples = Array.fill(800)((0.5 * 32767).toShort)
    val bb = java.nio.ByteBuffer.allocate(samples.length * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    samples.foreach(bb.putShort)
    val wbos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(bb.array()), fmt, samples.length.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, wbos)
    val wav = wbos.toByteArray
    val am = Seq((10L, "audio/wav", wav, wav.length))
      .toDF("doc_id", "mime", "payload", "declared_len")
    val af = Multimodal.extractAudioFeatures(am).collect()(0)
    assert(af.sample_rate == 8000 && af.channels == 1 && af.frames == 800L, af.toString)
    assert(math.abs(af.rms - 0.5) < 0.01, s"rms ${af.rms}")
    // corrupt audio: sentinel
    val bad = Multimodal.extractAudioFeatures(
      Seq((11L, "audio/wav", Array[Byte](9, 9), 2)).toDF("doc_id", "mime", "payload", "declared_len"))
      .collect()(0)
    assert(bad.sample_rate == -1)
  }

  test("multimodal resize: bilinear downscale keeps aspect, never upscales; frame sampling pages a real GIF") {
    import spark.implicits._
    def rgbPng(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, new java.awt.Color((x * 7) % 256, (y * 11) % 256, 3).getRGB)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos); bos.toByteArray
    }
    val media = Seq(
      (1L, "image/png", rgbPng(100, 60), 0),
      (2L, "image/png", rgbPng(8, 5), 0),          // already small: untouched
      (3L, "image/png", Array[Byte](1, 2), 2))     // corrupt: sentinel
      .toDF("doc_id", "mime", "payload", "declared_len")
    val rs = Multimodal.resizeImages(media, maxDim = 10).collect().map(r => r.doc_id -> r).toMap
    assert((rs(1L).src_w, rs(1L).src_h, rs(1L).out_w, rs(1L).out_h) == ((100, 60, 10, 6)))
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(rs(1L).payload))
    assert(back.getWidth == 10 && back.getHeight == 6, "output payload is a decodable PNG at the new size")
    assert(rs(1L).out_bytes == rs(1L).payload.length)
    assert((rs(2L).out_w, rs(2L).out_h) == ((8, 5)), "never upscales")
    assert(rs(3L).src_w == -1 && rs(3L).n_bytes == 2 && rs(3L).payload.isEmpty)

    // 5-frame animated GIF through the JDK sequence writer
    val gif = {
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      for (f <- 0 until 5) {
        val img = new java.awt.image.BufferedImage(6, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until 4; x <- 0 until 6)
          img.setRGB(x, y, new java.awt.Color((f * 50) % 256, 10, 10).getRGB)
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      }
      writer.endWriteSequence(); ios.close(); writer.dispose()
      bos.toByteArray
    }
    val fm = Seq((20L, "image/gif", gif, gif.length), (21L, "text/plain", Array[Byte](65, 66), 2))
      .toDF("doc_id", "mime", "payload", "declared_len")
    val fs = Multimodal.sampleFramesOf(fm, k = 2).collect().sortBy(f => (f.doc_id, f.frame_idx))
    val g = fs.filter(_.doc_id == 20L)
    assert(g.map(_.frame_idx).toSeq == Seq(0, 2), "k=2 of 5 samples frames floor(j*5/2)")
    assert(g.forall(f => f.n_frames == 5 && f.width == 6 && f.height == 4))
    assert(g.forall(f => f.mean0 >= 0.0 && f.mean0 <= 255.0))
    val s = fs.filter(_.doc_id == 21L)
    assert(s.length == 1 && s(0).n_frames == -1, "unrecognized payload: exactly one sentinel row")
  }

  test("multimodal plumbing: per-partition stub decode matches byte-level truth") {
    val media = Multimodal.toMedia(docs)
    assert(media.schema("payload").dataType == org.apache.spark.sql.types.BinaryType)
    val feats = Multimodal.extractFeatures(media).collect().map(f => f.doc_id -> f).toMap
    val truth = docs.select(col("doc_id"), octet_length(col("text")).as("n"),
      ascii(substring(col("text"), 1, 1)).as("f")).collect()
    truth.foreach { r =>
      val f = feats(r.getLong(0))
      assert(f.n_bytes == r.getInt(1))
      assert(f.first_byte == r.getInt(2))
      assert(f.feature.length == 4)
    }
  }
}
