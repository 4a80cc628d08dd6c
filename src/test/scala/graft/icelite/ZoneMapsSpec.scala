package graft.icelite

import graft.SparkSpec
import graft.changelog.{ChangeLogConfig, ChangeLogGen}
import graft.icelite.dsv2.IceLiteV2
import graft.model.LogRecord
import graft.stream.{CdcConfig, CdcJob, MergeApply}
import graft.util.Fs
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** Zone maps: per-commit `_zonemaps.json` sidecars of per-file column
  * min/max, consumed by the DSv2 scan to drop whole files at PLANNING
  * time from pushed filters. The contract under test:
  *   - skipping must be a PROOF — absent stats, unknown predicates,
  *     non-ASCII strings, NaN, type mismatches all answer "may match";
  *   - every commit path (snapshot, incremental apply, compaction, v2
  *     append) leaves a sidecar behind;
  *   - a value-selective pushed filter visibly skips files in the scan
  *     AND returns exactly the classic read's filtered rows.
  */
class ZoneMapsSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("n_tok", IntegerType),
    StructField("doc_id", StringType),
    StructField("flag", BooleanType),
    StructField("score", DoubleType)))

  private def stats(cols: (String, ZoneMaps.ColStats)*): Map[String, ZoneMaps.ColStats] =
    cols.toMap

  private def cs(min: String, max: String, nulls: Long = 0, rows: Long = 10) =
    ZoneMaps.ColStats(Option(min), Option(max), nulls, rows)

  test("mayMatch: range predicates skip on proof, keep on possibility") {
    val st = stats("n_tok" -> cs("10", "20"))
    def may(f: Filter) = ZoneMaps.mayMatch(Array(f), st, schema)
    // provably excluded
    assert(!may(GreaterThan("n_tok", 20)))
    assert(!may(GreaterThanOrEqual("n_tok", 21)))
    assert(!may(LessThan("n_tok", 10)))
    assert(!may(LessThanOrEqual("n_tok", 9)))
    assert(!may(EqualTo("n_tok", 25)))
    assert(!may(EqualTo("n_tok", 5)))
    assert(!may(In("n_tok", Array(1, 2, 30))))
    // possibly present — boundaries are inclusive
    assert(may(GreaterThanOrEqual("n_tok", 20)))
    assert(may(LessThanOrEqual("n_tok", 10)))
    assert(may(EqualTo("n_tok", 10)))
    assert(may(EqualTo("n_tok", 20)))
    assert(may(EqualTo("n_tok", 15)))
    assert(may(In("n_tok", Array(1, 15))))
    // conjuncts prune INDEPENDENTLY (the parquet row-group contract):
    // an empty cross-conjunct interval is NOT detected — each conjunct
    // alone is satisfiable by some row in [10,20], so the file stays
    assert(ZoneMaps.mayMatch(
      Array[Filter](GreaterThan("n_tok", 12), LessThan("n_tok", 11)), st, schema))
    // one conjunct impossible on its own → the file goes
    assert(!ZoneMaps.mayMatch(
      Array[Filter](GreaterThan("n_tok", 12), LessThan("n_tok", 8)), st, schema))
    // And/Or composition
    assert(!may(And(GreaterThan("n_tok", 25), LessThan("n_tok", 15))))
    assert(may(Or(GreaterThan("n_tok", 25), EqualTo("n_tok", 12))))
    assert(!may(Or(GreaterThan("n_tok", 25), EqualTo("n_tok", 5))))
  }

  test("mayMatch: null semantics and all-null files") {
    // a file whose column has NO non-null value can never satisfy equality
    val allNull = stats("n_tok" -> ZoneMaps.ColStats(None, None, 10, 10))
    assert(!ZoneMaps.mayMatch(Array[Filter](EqualTo("n_tok", 5)), allNull, schema))
    assert(!ZoneMaps.mayMatch(Array[Filter](GreaterThan("n_tok", 0)), allNull, schema))
    assert(ZoneMaps.mayMatch(Array[Filter](IsNull("n_tok")), allNull, schema))
    assert(!ZoneMaps.mayMatch(Array[Filter](IsNotNull("n_tok")), allNull, schema))
    // no nulls at all: IsNull is impossible, IsNotNull possible
    val noNull = stats("n_tok" -> cs("1", "2", nulls = 0))
    assert(!ZoneMaps.mayMatch(Array[Filter](IsNull("n_tok")), noNull, schema))
    assert(ZoneMaps.mayMatch(Array[Filter](IsNotNull("n_tok")), noNull, schema))
    // some nulls: both possible
    val someNull = stats("n_tok" -> cs("1", "2", nulls = 3))
    assert(ZoneMaps.mayMatch(Array[Filter](IsNull("n_tok")), someNull, schema))
    assert(ZoneMaps.mayMatch(Array[Filter](IsNotNull("n_tok")), someNull, schema))
  }

  test("mayMatch: conservatism — unknown columns, foreign predicates, NaN, non-ASCII") {
    val st = stats("n_tok" -> cs("10", "20"), "doc_id" -> cs("a", "m"),
      "score" -> cs("1.5", "2.5"))
    def may(f: Filter) = ZoneMaps.mayMatch(Array(f), st, schema)
    // column with no stats in the sidecar → keep
    assert(may(EqualTo("flag", true)))
    // predicate kind we don't reason about → keep
    assert(may(StringStartsWith("doc_id", "z")))
    // NaN never proves anything
    assert(may(GreaterThan("score", Double.NaN)))
    // ASCII strings compare; beyond-max skips
    assert(!may(GreaterThan("doc_id", "m")))
    assert(may(GreaterThanOrEqual("doc_id", "m")))
    assert(!may(EqualTo("doc_id", "zz")))
    // the moment either side leaves ASCII, abstain (UTF-8 vs UTF-16 order)
    assert(may(EqualTo("doc_id", "é"))) // é > 'm' in both orders, but we abstain
    val stU = stats("doc_id" -> cs("éa", "éz"))
    assert(ZoneMaps.mayMatch(Array[Filter](EqualTo("doc_id", "aa")), stU, schema))
    // type mismatch between literal and column → keep
    assert(may(EqualTo("n_tok", "not-a-number")))
  }

  test("every commit path writes a sidecar; statsFor round-trips footer stats") {
    val cfg = ChangeLogConfig(nTx = 150, nDocs = 90, seed = 331, deletePct = 10)
    val base = Fs.tempDir("graft-zm")
    val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt", numBuckets = 8)
    // one apply per log file: the maxDeltaChain-th apply folds inline,
    // and the last one leaves live deltas for the compaction to fold
    ChangeLogGen.writeLog(spark, cfg, cdc.logDir, MergeApply.maxDeltaChain + 1)

    // every live data file: its commit dir carries a sidecar, its stats
    // cover its rows, and it is bucket-pure (each row's
    // pmod(hash(key), n) is the __bucket=N dir the file sits in).
    // Returns the live commit dirs.
    def checkLive(table: IceLiteTable): Set[String] = {
      val snap = table.refresh()
      val files = snap.allFiles
      assert(files.nonEmpty)
      val commitDirs = files.map(_.split('/').take(2).mkString("/")).toSet
      commitDirs.foreach { rel =>
        assert(java.nio.file.Files.exists(
          java.nio.file.Paths.get(table.root, rel, ZoneMaps.SidecarName)),
          s"commit $rel is missing its zone-map sidecar")
      }
      files.foreach { rel =>
        val st = ZoneMaps.statsFor(table.root, rel)
        assert(st.isDefined, s"no stats for $rel")
        val n = st.get("n_tok")
        val df = spark.read.schema(IceLite.withMeta(snap.schema)).parquet(s"${table.root}/$rel")
        val actual = df.agg(min("n_tok"), max("n_tok"), count(lit(1))).collect()(0)
        assert(n.min.get.toInt == actual.getInt(0), s"min mismatch for $rel")
        assert(n.max.get.toInt == actual.getInt(1), s"max mismatch for $rel")
        assert(n.rows == actual.getLong(2), s"rows mismatch for $rel")
        val foreign = SparkJobs.foreignKeys(df, rel, "doc_id", snap.numBuckets)
        assert(foreign.isEmpty, s"$rel holds keys of other buckets: ${foreign.take(5)}")
      }
      commitDirs
    }

    val table = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
      cdc, ChangeLogGen.snapshotLsn)
    val seen = scala.collection.mutable.Set.empty[String]
    seen ++= checkLive(table)
    CdcJob.runBatchIncremental(spark, table, cdc, filesPerBatch = 1)
    seen ++= checkLive(table)
    Maintenance.compact(table)
    seen ++= checkLive(table)
    Maintenance.rebucket(table, 4)
    seen ++= checkLive(table)

    // snapshot, apply delta, inline fold, compaction, rebucket
    Seq("data/base-snapshot", "data/delta-", "data/base-0", "data/compact-",
      "data/rebucket-").foreach { prefix =>
      assert(seen.exists(_.startsWith(prefix)), s"no live $prefix commit was checked: $seen")
    }
    Fs.deleteRecursively(base)
  }

  test("v2 scan skips files by value: pushed n_tok filter elides files, result exact") {
    val cfg = ChangeLogConfig(nTx = 200, nDocs = 120, seed = 337, deletePct = 10)
    val base = Fs.tempDir("graft-zmskip")
    val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt", numBuckets = 8)
    ChangeLogGen.writeLog(spark, cfg, cdc.logDir, 4)
    val table = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
      cdc, ChangeLogGen.snapshotLsn)
    CdcJob.runBatchIncremental(spark, table, cdc, filesPerBatch = 1)

    // baseline = the raw stored files (readRaw returns every row
    // version, so the merged read is NOT the comparison surface)
    val snap = table.refresh()
    val allFiles = (snap.base.values.flatten ++ snap.deltas.values.flatten).toSeq
    // tombstone versions carry null n_tok — a pushed comparison never
    // matches them, so the comparison surface is the non-null rows
    val baseline = spark.read
      .parquet(allFiles.map(r => s"${table.root}/$r"): _*)
      .select("doc_id", "n_tok").where(col("n_tok").isNotNull).collect()
      .map(r => (r.getString(0), r.getInt(1)))
    val maxN = baseline.map(_._2).max

    // impossible predicate: every file is provably excluded → zero
    // tasks, and the scan reports the full skip count
    val none = IceLiteV2.readRaw(spark, table.root).where(col("n_tok") > maxN)
    assert(none.rdd.getNumPartitions == 0,
      s"a beyond-max pushed filter must skip every file:\n${none.queryExecution.executedPlan}")
    assert(none.count() == 0)
    assert(none.queryExecution.executedPlan.toString
      .contains(s"zoneSkippedFiles=${allFiles.size}"),
      s"expected all ${allFiles.size} files skipped:\n${none.queryExecution.executedPlan}")

    // selective predicate: surviving row versions exactly match the raw
    // baseline (zone skipping is pure work elision, never semantics)
    val cut = baseline.map(_._2).sorted.apply(baseline.length * 9 / 10)
    val sel = IceLiteV2.readRaw(spark, table.root).where(col("n_tok") > cut)
    val got = sel.select("doc_id", "n_tok").collect()
      .map(r => (r.getString(0), r.getInt(1))).sorted.toSeq
    val want = baseline.filter(_._2 > cut).sorted.toSeq
    assert(got == want, s"extra=${got.diff(want).take(5)} missing=${want.diff(got).take(5)}")
    Fs.deleteRecursively(base)
  }

  test("clustered compaction: per-bucket sorted file splits give disjoint zone ranges that prune range scans") {
    val cfg = ChangeLogConfig(nTx = 250, nDocs = 150, seed = 347, deletePct = 5)
    val base = Fs.tempDir("graft-zmcluster")
    val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt", numBuckets = 4)
    ChangeLogGen.writeLog(spark, cfg, cdc.logDir, 3)
    val table = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
      cdc, ChangeLogGen.snapshotLsn)
    CdcJob.runBatchIncremental(spark, table, cdc, filesPerBatch = 1)
    val before = table.read().collect()
      .map(r => (r.getAs[String]("doc_id"), r.getAs[Int]("n_tok"))).sorted.toSeq

    Maintenance.compact(table, clusterBy = Seq("n_tok"), maxRowsPerFile = 12L)
    val snap = table.refresh()
    assert(snap.deltas.values.forall(_.isEmpty), "compaction must fold all chains")

    // compaction preserves the merged state exactly
    val after = table.read().collect()
      .map(r => (r.getAs[String]("doc_id"), r.getAs[Int]("n_tok"))).sorted.toSeq
    assert(after == before)

    // at least one bucket split into several files, and within every
    // bucket the files' n_tok ranges are pairwise disjoint (the sorted
    // split is what makes zone maps sharp on the cluster column)
    assert(snap.base.values.exists(_.size > 1),
      s"expected multi-file buckets at maxRowsPerFile=12: ${snap.base.view.mapValues(_.size).toMap}")
    snap.base.values.foreach { files =>
      val ranges = files.flatMap(rel => ZoneMaps.statsFor(table.root, rel))
        .flatMap(st => st.get("n_tok"))
        .flatMap(s => for { mn <- s.min; mx <- s.max } yield (mn.toInt, mx.toInt))
      assert(ranges.size == files.size, "every clustered file needs n_tok stats")
      ranges.sorted.sliding(2).foreach {
        case Seq((_, aMax), (bMin, _)) =>
          assert(aMax <= bMin, s"overlapping clustered ranges: $ranges")
        case _ => ()
      }
    }

    // a range predicate now reads a few files, not every file
    val allN = before.map(_._2)
    val hi = allN.sorted.apply(allN.size * 4 / 5)
    val q = IceLiteV2.readRaw(spark, table.root).where(col("n_tok") > hi)
    val desc = q.queryExecution.executedPlan.toString
    assert(desc.contains("zoneSkippedFiles="),
      s"expected zone-map skips on the clustered layout:\n$desc")
    val got = q.select("doc_id", "n_tok").collect()
      .map(r => (r.getString(0), r.getInt(1))).sorted.toSeq
    assert(got == before.filter(_._2 > hi).sorted.toSeq)
    Fs.deleteRecursively(base)
  }

  test("production path: configured clusterBy makes the stream's inline folds clustered") {
    val cfg = ChangeLogConfig(nTx = 220, nDocs = 130, seed = 353, deletePct = 5)
    val base = Fs.tempDir("graft-zmprod")
    val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt", numBuckets = 4)
    ChangeLogGen.writeLog(spark, cfg, cdc.logDir, 4)
    val table = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
      cdc, ChangeLogGen.snapshotLsn)
    // the stream's folds run on a daemon configured with the cluster
    // policy: a chain of 2 folds, sorted by n_tok, 16 rows per file
    val daemon = new Maintenance.CompactionDaemon(table, 2,
      clusterBy = Seq("n_tok"), maxRowsPerFile = 16L)
    try {
      Fs.listParquet(cdc.logDir).sorted.zipWithIndex.foreach { case (f, i) =>
        CdcJob.processBatch(table, spark.read.schema(LogRecord.schema).parquet(f),
          i.toLong, inlineCompact = false)
        daemon.poke()
      }
      daemon.drain()
    } finally daemon.close()

    val snap = table.refresh()
    // daemon-folded buckets (not the unclustered initial base-snapshot)
    val foldedBases = snap.base.filter(_._2.exists(_.contains("/compact-")))
    assert(foldedBases.nonEmpty, "fixture must trip the daemon's fold (chain=2)")
    assert(foldedBases.values.exists(_.size > 1),
      s"need a multi-file fold for the disjointness check: " +
        s"${foldedBases.view.mapValues(_.size).toMap}")
    // every folded bucket's files carry pairwise-disjoint n_tok ranges
    // (live rows; tombstones are all-null and stat-less)
    foldedBases.foreach { case (_, files) =>
      val ranges = files
        .flatMap(rel => ZoneMaps.statsFor(table.root, rel))
        .flatMap(_.get("n_tok"))
        .flatMap(s => for { mn <- s.min; mx <- s.max } yield (mn.toInt, mx.toInt))
      ranges.sorted.sliding(2).foreach {
        case Seq((_, aMax), (bMin, _)) =>
          assert(aMax <= bMin, s"the fold must cluster: $ranges")
        case _ => ()
      }
    }
    // and the merged read is unchanged by the layout
    val live = table.read().collect().map(_.getAs[String]("doc_id")).sorted
    assert(live.distinct.length == live.length && live.nonEmpty)
    Fs.deleteRecursively(base)
  }
}
