package graft.ops

import graft.SparkSpec
import graft.util.Fs

/** Streaming near-dup detection against the banded-MinHash IceLite
  * index: cross-batch detection with per-batch bounded work.
  */
class NearDupIndexSpec extends SparkSpec {

  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toSeq.toDF("doc_id", "text")

  private val words = (0 until 60).map(i => s"tok$i")
  private val orig = words.mkString(" ")
  private val near = words.updated(30, "changed").mkString(" ")
  private val other = (0 until 40).map(i => s"zebra$i").mkString(" ")

  test("probe flags NEAR-dups (not just exact) of indexed docs, with the smallest owner") {
    val base = Fs.tempDir("graft-ndidx")
    val idx = NearDupIndex.create(spark, s"$base/idx",
      docs(1L -> orig, 2L -> other), numBuckets = 8)
    val got = NearDupIndex.probe(idx, docs(
      100L -> near,                 // one word changed vs doc 1
      101L -> other,                // exact dup of doc 2
      102L -> (0 until 40).map(i => s"fresh$i").mkString(" ")))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.keySet == Set(100L, 101L), s"got $got")
    assert(got(100L)._1 == 1L)
    assert(got(100L)._2 >= NearDupIndex.DefaultMinMatches && got(100L)._2 < 128L,
      s"near-dup should agree on most but not all components: ${got(100L)}")
    assert(got(101L) == (2L, 128L), "exact dup agrees on every component")
    Fs.deleteRecursively(base)
  }

  test("probe leaves no cached frame behind") {
    val base = Fs.tempDir("graft-ndidx")
    val idx = NearDupIndex.create(spark, s"$base/idx",
      docs(1L -> orig, 2L -> other), numBuckets = 8)
    val cached = spark.sparkContext.getPersistentRDDs.keySet
    val got = NearDupIndex.probe(idx, docs(100L -> near, 101L -> other)).collect()
    assert(got.map(_.getLong(0)).toSet == Set(100L, 101L))
    assert(spark.sparkContext.getPersistentRDDs.keySet == cached,
      "probe left cached frames behind")
    Fs.deleteRecursively(base)
  }

  test("cross-batch: a near-dup of a doc REGISTERED by an earlier batch is caught") {
    val base = Fs.tempDir("graft-ndidx")
    val idx = NearDupIndex.create(spark, s"$base/idx", docs(1L -> other), numBuckets = 8)
    // batch 1 introduces fresh content F (doc 10); batch 2 carries a
    // near-dup of F — detection must work across the batch boundary
    val clean1 = NearDupIndex.dedupAndUpdate(idx,
      docs(10L -> orig, 11L -> other), batchId = 1L, commitLsn = 10L)
      .select("doc_id").as[Long].collect().toSet
    assert(clean1 == Set(10L), s"got $clean1") // 11 is an exact dup of indexed 1
    val got2 = NearDupIndex.probe(idx, docs(20L -> near))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got2.map(_._1) == Seq(20L) && got2.head._2 == 10L, s"got $got2")
    // and dedupAndUpdate drops it while registering nothing new for it
    val clean2 = NearDupIndex.dedupAndUpdate(idx,
      docs(20L -> near), batchId = 2L, commitLsn = 20L)
      .select("doc_id").as[Long].collect()
    assert(clean2.isEmpty)
    Fs.deleteRecursively(base)
  }

  test("within-batch NEAR-dups collapse to the lowest id; only it registers") {
    val base = Fs.tempDir("graft-ndidx")
    val idx = NearDupIndex.create(spark, s"$base/idx", docs(1L -> other), numBuckets = 8)
    // orig and its near-dup arrive in ONE batch: only the lower id
    // registers, the tail is dropped — same outcome as arriving split
    val clean = NearDupIndex.dedupAndUpdate(idx,
      docs(40L -> orig, 41L -> near), batchId = 1L, commitLsn = 10L)
      .select("doc_id").as[Long].collect().toSet
    assert(clean == Set(40L), s"got $clean")
    // a future copy of the DROPPED tail still flags (to the registered owner)
    val got = NearDupIndex.probe(idx, docs(50L -> near))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((50L, 40L)), s"got $got")
    Fs.deleteRecursively(base)
  }

  test("update is engine-idempotent; within-batch exact dups canonicalize to min id") {
    val base = Fs.tempDir("graft-ndidx")
    val idx = NearDupIndex.create(spark, s"$base/idx", docs(1L -> other), numBuckets = 8)
    val batch = docs(30L -> orig, 31L -> orig) // same content twice
    val clean = NearDupIndex.dedupAndUpdate(idx, batch, batchId = 1L, commitLsn = 10L)
      .select("doc_id").as[Long].collect().toSet
    assert(clean == Set(30L))
    // replay of the same batchId is a no-op on both tables
    val sigsBefore = idx.sigs.refresh().snapshotId
    val bandsBefore = idx.bands.refresh().snapshotId
    NearDupIndex.update(idx, docs(30L -> orig), batchId = 1L, commitLsn = 10L)
    assert(idx.sigs.refresh().snapshotId == sigsBefore)
    assert(idx.bands.refresh().snapshotId == bandsBefore)
    Fs.deleteRecursively(base)
  }

  test("short docs register via the pseudo-shingle fallback; exact dups caught cross-batch") {
    import spark.implicits._
    val base = Fs.tempDir("graft-ndidx-short")
    val idx = NearDupIndex.create(spark, s"$base/idx", docs(1L -> other), numBuckets = 8)
    // 2 words -> no shingles -> would previously never register
    val clean1 = NearDupIndex.dedupAndUpdate(idx, docs(60L -> "hi there"),
      batchId = 1L, commitLsn = 10L).select("doc_id").as[Long].collect().toSet
    assert(clean1 == Set(60L))
    val got = NearDupIndex.probe(idx, docs(70L -> "hi there", 71L -> "bye now"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((70L, 60L, 128L)), s"got ${got.toSeq}")
    Fs.deleteRecursively(base)
  }

  test("mass-duplicated batch: canonical registers a REAL signature; later near-dups still caught") {
    import spark.implicits._
    val base = Fs.tempDir("graft-ndidx-mass")
    val idx = NearDupIndex.create(spark, s"$base/idx", docs(1L -> other), numBuckets = 8)
    // 1100 exact copies (> DefaultMaxDocFreq): signed raw, every
    // shingle is hot and the whole cluster would degrade to the
    // pseudo-shingle fallback — exact canonicalization runs FIRST, so
    // the one surviving canonical signs with real shingles
    val text = (0 until 24).map(i => s"mass$i").mkString(" ")
    val copies = (100L until 1200L).map(i => (i, text)).toDF("doc_id", "text")
    val clean = NearDupIndex.dedupAndUpdate(idx, copies, batchId = 1L, commitLsn = 10L)
      .select("doc_id").as[Long].collect().toSet
    assert(clean == Set(100L), s"got ${clean.take(5)}")
    // a NEAR-dup (one word changed) in a later batch must flag against
    // the registered canonical — impossible if it had registered under
    // the pseudo-shingle fallback
    val near = text.replace("mass7", "changed")
    val got = NearDupIndex.probe(idx, docs(5000L -> near))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((5000L, 100L)), s"got ${got.toSeq}")
    Fs.deleteRecursively(base)
  }

  test("seeded fuzz: random dup/near-dup/unique mix over random batch splits is self-consistent") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260817L)
    // 12 base contents; docs are exact copies, one-word-changed variants,
    // or unique — shuffled and split into 3 uneven batches
    val bases = (0 until 12).map(b => (0 until 30).map(i => s"base${b}w$i"))
    val docsAll = new scala.util.Random(7).shuffle(
      (0 until 60).map { id =>
        val b = rnd.nextInt(bases.size)
        val kind = rnd.nextInt(3)
        val text = kind match {
          case 0 => bases(b).mkString(" ")                                   // exact copy
          case 1 => bases(b).updated(rnd.nextInt(30), s"chg$id").mkString(" ") // near-dup
          case _ => (0 until 30).map(i => s"uniq${id}w$i").mkString(" ")       // unique
        }
        (id.toLong, text)
      })
    val base = Fs.tempDir("graft-ndidx-fuzz")
    val idx = NearDupIndex.create(spark, s"$base/idx",
      docs(100000L -> (0 until 30).map(i => s"seedw$i").mkString(" ")), numBuckets = 8)
    val cuts = Seq(docsAll.take(20), docsAll.slice(20, 45), docsAll.drop(45))
    cuts.zipWithIndex.foreach { case (chunk, i) =>
      val clean = NearDupIndex.dedupAndUpdate(idx, chunk.toDF("doc_id", "text"),
        batchId = i + 1L, commitLsn = (i + 1) * 10L)
        .select("doc_id").as[Long].collect().toSet
      // INVARIANT 1: whatever was dropped must verify as a near-dup of
      // something ALREADY registered or of a lower-id batch doc
      val dropped = chunk.map(_._1).toSet -- clean
      if (dropped.nonEmpty) {
        val flaggedVsIndex = NearDupIndex.probe(idx, chunk.toDF("doc_id", "text"))
          .select("doc_id").as[Long].collect().toSet
        dropped.foreach { d =>
          assert(flaggedVsIndex.contains(d),
            s"batch $i: dropped doc $d no longer verifies against the index")
        }
      }
      // INVARIANT 2: survivors are now registered — probing them flags
      // every one (each matches its own stored signature exactly)
      if (clean.nonEmpty) {
        val self = NearDupIndex.probe(idx,
          chunk.filter(c => clean.contains(c._1))
            .map { case (id, t) => (id + 500000L, t) }.toDF("doc_id", "text"))
          .select("doc_id").as[Long].collect().toSet
        assert(self.size == clean.size,
          s"batch $i: ${clean.size - self.size} survivors not findable after registration")
      }
    }
    Fs.deleteRecursively(base)
  }

  test("structured-streaming ingest: cross-trigger near-dup dropped, clean stream emitted") {
    import spark.implicits._
    val base = Fs.tempDir("graft-ndidx-ss")
    val idx = NearDupIndex.create(spark, s"$base/idx", docs(1L -> other), numBuckets = 8)
    // two files -> two triggers (maxFilesPerTrigger=1): the near-dup of
    // trigger-1's fresh doc arrives in trigger 2
    val segA = docs(10L -> orig, 11L -> other)           // 11 dups indexed 1
    val segB = docs(20L -> near, 21L -> (0 until 40).map(i => s"solo$i").mkString(" "))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/docs"))
    Seq(segA, segB).zipWithIndex.foreach { case (seg, i) =>
      val tmp = s"$base/stage-$i"
      seg.coalesce(1).write.parquet(tmp)
      java.nio.file.Files.move(
        java.nio.file.Paths.get(Fs.listParquet(tmp).head),
        java.nio.file.Paths.get(f"$base/docs/seg-$i%03d.parquet"))
    }
    NearDupIndex.stream(spark, idx, s"$base/docs", s"$base/ckpt", s"$base/out",
      segA.schema).awaitTermination()
    val clean = spark.read.parquet(s"$base/out/batch-*")
      .select("doc_id").as[Long].collect().toSet
    // 10 fresh; 11 exact-dup of indexed; 20 near-dup of 10 (cross trigger); 21 fresh
    assert(clean == Set(10L, 21L), s"got $clean")
    Fs.deleteRecursively(base)
  }

  test("probe plan shape: batch side broadcasts, no cartesian/BNLJ, compiled sig verify") {
    val base = Fs.tempDir("graft-ndidx-plan")
    val corpus = docs((0L until 50L).map(i =>
      i -> (0 until 20).map(j => s"pl${i}w$j").mkString(" ")): _*)
    val idx = NearDupIndex.create(spark, s"$base/idx", corpus, numBuckets = 8)
    val plan = NearDupIndex.probe(idx, docs(900L -> (0 until 20).map(j => s"pl3w$j").mkString(" ")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"probe must never plan an index x batch cross join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the batch side must broadcast into the index join:\n$plan")
    assert(plan.contains("sig_matches"),
      s"verification must run the compiled sig_matches expression:\n$plan")
    Fs.deleteRecursively(base)
  }

  test("probe reads only the band-table buckets the batch hashes to") {
    val base = Fs.tempDir("graft-ndidx")
    val corpus = docs((0L until 100L).map(i =>
      i -> (0 until 20).map(j => s"corp${i}w$j").mkString(" ")): _*)
    val idx = NearDupIndex.create(spark, s"$base/idx", corpus, numBuckets = 32)
    val one = docs(500L -> (0 until 20).map(j => s"corp7w$j").mkString(" "))
    val full = idx.bands.read().inputFiles.length
    val bsnap = idx.bands.refresh()
    val buckets = NearDupIndex.bandRows(NearDupIndex.signatures(one))
      .select(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.hash(org.apache.spark.sql.functions.col("bb")),
        org.apache.spark.sql.functions.lit(bsnap.numBuckets)).cast("int"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val pruned = idx.bands.readMerged(buckets).inputFiles.length
    assert(pruned < full, s"pruned=$pruned full=$full")
    // and the pruned probe still answers: doc 500 is an exact dup of corpus doc 7
    val got = NearDupIndex.probe(idx, one)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((500L, 7L)), s"got $got")
    Fs.deleteRecursively(base)
  }
}
