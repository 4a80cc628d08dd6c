package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.functions._

/** KMV distinct sketch + repetition-signal guards: estimator exactness
  * against a brute-force Scala replay, partition-count invariance (the
  * merge path), both estimator branches, plan shape (ObjectHashAggregate,
  * never SortAggregate), and hand-computed repetition goldens.
  */
class SketchSpec extends SparkSpec {

  import spark.implicits._

  private def docs(n: Int, strata: Int, seed: Long) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      (i.toLong, s"s${i % strata}", s"doc ${rnd.nextInt(1 << 20)} text $i")
    }.toDF("doc_id", "lang", "text")
  }

  test("kmv sketch matches a brute-force bottom-k replay (estimator branch)") {
    val df = docs(800, strata = 4, seed = 7)
    val out = Sketches.distinctProfile(df).collect()
      .map(r => r.getString(0) -> r).toMap
    // brute replay: same hash, same normalization, per stratum
    val hv = df.select(col("lang"),
        TextOps.portableHash(TextOps.normalized(col("text"))).as("h"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val k = Sketches.KmvK
    hv.groupBy(_._1).foreach { case (lang, rows) =>
      val distinct = rows.map(_._2).distinct.sorted
      val r = out(lang)
      assert(r.getLong(2) == distinct.length, s"n_distinct $lang")
      assert(r.getLong(3) == math.min(k, distinct.length), s"n_kept $lang")
      val expectedEst =
        if (distinct.length < k) distinct.length.toLong
        else Sketches.KmvEstNum / distinct(k - 1)
      assert(r.getLong(4) == expectedEst, s"est_distinct $lang")
      // the estimate is an estimate — but it must be in the right ballpark
      val err = math.abs(r.getLong(4) - distinct.length).toDouble / distinct.length
      assert(distinct.length < k || err < 0.5, s"estimator off by ${err} for $lang")
    }
  }

  test("kmv sketch is invariant to input partitioning (merge path)") {
    val df = docs(600, strata = 3, seed = 21)
    val base = Sketches.distinctProfile(df).orderBy("lang").collect().toSeq
    for (p <- Seq(1, 7, 64)) {
      val got = Sketches.distinctProfile(df.repartition(p)).orderBy("lang").collect().toSeq
      assert(got == base, s"partitions=$p changed the sketch")
    }
  }

  test("kmv exact branch: strata under k distinct report the exact count") {
    // 3 strata x 20 distinct docs, duplicated 5x -> n_kept = 20 < k
    val rows = for (s <- 0 until 3; d <- 0 until 20; _ <- 0 until 5)
      yield ((s * 100 + d).toLong, s"s$s", s"stratum $s doc $d")
    val df = rows.toDF("doc_id", "lang", "text")
    Sketches.distinctProfile(df).collect().foreach { r =>
      assert(r.getLong(1) == 100, "n_docs")          // 20 * 5
      assert(r.getLong(2) == 20, "n_distinct")
      assert(r.getLong(3) == 20, "n_kept")
      assert(r.getLong(4) == 20, "est == exact under k")
      assert(r.getDouble(5) == 0.0, "rel_err")
    }
  }

  test("kmv sketch plans as ObjectHashAggregate, never SortAggregate") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = Sketches.distinctProfile(docs(100, 2, 3)).queryExecution.executedPlan
      assert(plan.collect { case a: ObjectHashAggregateExec => a }.nonEmpty,
        "expected ObjectHashAggregate for the sketch")
      assert(plan.collect { case a: SortAggregateExec => a }.isEmpty,
        "SortAggregate fallback in the sketch plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("overlap profile: exact counts right, estimates track a known overlap") {
    // strata A and B each have 400 distinct docs, sharing exactly 200
    val rows =
      (0 until 400).map(i => (i.toLong, "A", s"shared doc $i")) ++          // A: 0..399
      (0 until 200).map(i => (1000L + i, "B", s"shared doc $i")) ++         // B shares 0..199
      (0 until 200).map(i => (2000L + i, "B", s"b only doc $i"))            // B: 200 own
    val df = rows.toDF("doc_id", "lang", "text")
    val out = Sketches.overlapProfile(df).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getString(0) == "A" && r.getString(1) == "B")
    assert(r.getLong(2) == 600, "n_union exact")
    assert(r.getLong(3) == 200, "n_inter exact")
    // KMV with k=64: ~12.6% relative error; allow 3 sigma on the union
    assert(math.abs(r.getLong(4) - 600).toDouble / 600 < 0.4, s"est_union ${r.getLong(4)}")
    // inclusion-exclusion compounds three estimates — generous bound,
    // but the estimate must clearly see the 200-doc overlap
    assert(r.getLong(5) > 40 && r.getLong(5) < 500, s"est_inter ${r.getLong(5)}")
    // partition invariance (merge path)
    val again = Sketches.overlapProfile(df.repartition(13)).collect()(0)
    assert(again.getLong(4) == r.getLong(4) && again.getLong(5) == r.getLong(5))
  }

  test("overlap profile plan: pair expansion is hash-join shaped, never a nested loop") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // 5 strata so the pair table has 10 rows — enough to make a
      // nested-loop expansion visible in the plan if it regressed
      val df = docs(500, strata = 5, seed = 11)
      val plan = Sketches.overlapProfile(df).queryExecution.executedPlan
      assert(plan.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
        "pair expansion regressed to a BroadcastNestedLoopJoin — every row " +
          "would scan all L(L-1)/2 pairs at scale")
      assert(plan.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
        "expected broadcast hash joins for the pair expansion")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("kway profile: exact under k; union-sample scaling tracks a known 3-way sharing layout") {
    // small case (union < k=64): everything exact, est == n_exact
    val small =
      (0 until 10).map(i => (i.toLong, "A", s"all three $i")) ++
        (0 until 10).map(i => (100L + i, "B", s"all three $i")) ++
        (0 until 10).map(i => (200L + i, "C", s"all three $i")) ++
        (0 until 15).map(i => (300L + i, "A", s"a and b $i")) ++
        (0 until 15).map(i => (400L + i, "B", s"a and b $i")) ++
        (0 until 20).map(i => (500L + i, "C", s"c only $i"))
    val s = Sketches.kwayProfile(small.toDF("doc_id", "lang", "text"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(s.keySet == Set(1L, 2L, 3L))
    assert(s(1L) == (20L, 20L)) // c-only: exact AND est exact under k
    assert(s(2L) == (15L, 15L))
    assert(s(3L) == (10L, 10L))
    // large case (union >> k): per-class estimates from the union
    // sample; m sums to k and each class tracks its true share
    val big =
      (0 until 3000).map(i => (i.toLong, "A", s"uni A $i")) ++
        (0 until 3000).map(i => (10000L + i, "B", s"uni B $i")) ++
        (0 until 3000).map(i => (20000L + i, "A", s"duo $i")) ++
        (0 until 3000).map(i => (30000L + i, "B", s"duo $i"))
    val b = Sketches.kwayProfile(big.toDF("doc_id", "lang", "text"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(b(1L)._1 == 6000 && b(2L)._1 == 3000, "exact histogram")
    assert(b.values.map(_._2).sum == Sketches.KmvK, "sample members sum to k")
    // true shares: 6000 vs 3000 of a 9000 union; generous 1-sigma-ish bounds
    assert(math.abs(b(1L)._3 - 6000).toDouble / 6000 < 0.5, s"est1=${b(1L)._3}")
    assert(math.abs(b(2L)._3 - 3000).toDouble / 3000 < 0.6, s"est2=${b(2L)._3}")
    // partition invariance (sketch merge path + deterministic scaling)
    val again = Sketches.kwayProfile(big.toDF("doc_id", "lang", "text").repartition(13))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(again == b.map { case (k2, v) => k2 -> v._3 })
  }

  test("repetition signals match hand-computed goldens") {
    val df = Seq(
      (1L, "a b c d"),            // all unique words, all unique bigrams
      (2L, "a a a a"),            // one word 4x, one bigram "a a" 3x
      (3L, "x y x y x"),          // x:3 of 5; bigrams: "x y":2, "y x":2 of 4
      (4L, "solo")                // single word: no bigrams
    ).toDF("doc_id", "text")
    val got = TextOps.repetition(df).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(got(0) == ((1L, 4L, 0.0, 0.25, 0.3333)))   // top word 1/4; unique bigrams -> 1/3
    assert(got(1) == ((2L, 4L, 0.75, 1.0, 1.0)))
    assert(got(2) == ((3L, 5L, 0.6, 0.6, 0.5)))
    assert(got(3) == ((4L, 1L, 0.0, 1.0, 0.0)))
  }

  test("misra-gries: guarantee holds under any partitioning; heavyHitters output exact") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(7)
    // skewed stream: 3 hot tokens ~10% each, 200 cold tokens share the rest
    val stream = (0 until 20000).map { _ =>
      val r = rnd.nextInt(100)
      if (r < 10) "hotA" else if (r < 20) "hotB" else if (r < 30) "hotC"
      else s"cold${rnd.nextInt(200)}"
    }
    val truth = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = stream.size.toLong
    val k = 16
    val qualifying = truth.filter { case (_, c) => c * (k + 1) > n }.keySet
    assert(qualifying == Set("hotA", "hotB", "hotC")) // fixture sanity
    // candidates must be a superset of the qualifying set under ANY
    // partitioning (the mergeable-summaries guarantee)
    Seq(1, 7, 32).foreach { parts =>
      val df = stream.toDF("word").repartition(parts)
      val cands = df.agg(graft.plans.MisraGries.agg(col("word"), k)).head
        .getSeq[String](0).toSet
      assert(cands.size <= k)
      assert(qualifying.subsetOf(cands), s"parts=$parts")
    }
    // end-to-end: exact qualifying set with exact counts, sketch extras gone
    val hh = Sketches.heavyHitters(stream.toDF("word"), k).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(hh.keySet == qualifying)
    qualifying.foreach { w =>
      assert(hh(w) == ((truth(w), truth(w) * 10000L / n)))
    }
    // plan: the sketch aggregation is ObjectHashAggregate (never Sort)
    val plan = stream.toDF("word").agg(graft.plans.MisraGries.agg(col("word"), k))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"))
  }

  test("repetition signals match a brute Scala replay on random docs") {
    val rnd = new scala.util.Random(99)
    val texts = (0 until 300).map { i =>
      val n = 1 + rnd.nextInt(40)
      (i.toLong, Seq.fill(n)(s"w${rnd.nextInt(8)}").mkString(" "))
    }
    val got = TextOps.repetition(texts.toDF("doc_id", "text"))
      .orderBy("doc_id").collect()
    texts.zip(got).foreach { case ((id, text), r) =>
      val ws = text.trim.split("\\s+").toSeq
      val n = ws.length
      val bg = ws.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
      def rnd4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getLong(0) == id && r.getLong(1) == n)
      assert(r.getDouble(2) == rnd4((n - ws.distinct.length).toDouble / n), s"dup $id")
      assert(r.getDouble(3) == rnd4(ws.groupBy(identity).values.map(_.size).max.toDouble / n), s"topw $id")
      val expB = if (n < 2) 0.0
        else rnd4(bg.groupBy(identity).values.map(_.size).max.toDouble / (n - 1))
      assert(r.getDouble(4) == expB, s"topb $id")
    }
  }
}
