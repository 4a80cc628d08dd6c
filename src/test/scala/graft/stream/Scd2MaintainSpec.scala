package graft.stream

import graft.SparkSpec
import graft.icelite.IceLite
import graft.icelite.dsv2.IceLiteV2
import graft.util.Fs

/** Incremental SCD2: the maintained closed-history ∪ open-current view
  * must equal the interval chain over the source's version history —
  * through updates, deletes (close only), reinsertion gaps,
  * within-batch multi-version chains, idempotent replay, and the
  * history-first crash order.
  */
class Scd2MaintainSpec extends SparkSpec {

  private case class V(vc: Long, vl: Long, tomb: Boolean, n: Long)

  /** Model: per key, chain post-pin versions onto the pre-pin winner. */
  private def model(prePin: Map[String, V], post: Seq[(String, V)])
      : Set[(String, Long, Long, Option[Long], Option[Long], Long)] = {
    val byKey = (prePin.toSeq.map { case (k, v) => k -> v } ++ post.map {
      case (k, v) => k -> v
    }).groupBy(_._1)
    byKey.flatMap { case (k, kvs) =>
      val vs = kvs.map(_._2).sortBy(v => (v.vc, v.vl))
      val closed = vs.zip(vs.drop(1)).collect {
        case (a, b) if !a.tomb =>
          (k, a.vc, a.vl, Some(b.vc), Some(b.vl), a.n)
      }
      val open = vs.lastOption.filterNot(_.tomb)
        .map(a => (k, a.vc, a.vl, None: Option[Long], None: Option[Long], a.n))
      closed ++ open
    }.toSet
  }

  private def viewSet(rep: graft.icelite.IceLiteTable,
      hist: graft.icelite.IceLiteTable)
      : Set[(String, Long, Long, Option[Long], Option[Long], Long)] =
    Scd2Maintain.view(rep, hist).collect().map { r =>
      (r.getAs[String]("doc_id"),
        r.getAs[Long]("valid_from_commit"), r.getAs[Long]("valid_from_change"),
        Option(r.getAs[Any]("valid_to_commit")).map(_.asInstanceOf[Long]),
        Option(r.getAs[Any]("valid_to_change")).map(_.asInstanceOf[Long]),
        r.getAs[Number]("n").longValue())
    }.toSet

  test("maintained intervals == version-chain model; deletes close, reinsertions gap, replay idempotent") {
    implicit val s = spark.newSession()
    import s.implicits._
    val base = Fs.tempDir("graft-scd2m")
    try {
      val df0 = Seq(("k1", 1L), ("k2", 2L), ("k3", 3L)).toDF("doc_id", "n")
      val src = IceLite.create(s, s"$base/src", df0.schema, "doc_id", 4)
      IceLiteV2.append(s, src.root, df0, vc = 10L, vl = 0L)
      src.refresh()
      val (repR, histR, cp) = (s"$base/rep", s"$base/hist", s"$base/ckpt")
      val (rep, hist) = Scd2Maintain.maintain(s, src.root, repR, histR, cp)
      val prePin = Map("k1" -> V(10L, 0L, false, 1L),
        "k2" -> V(10L, 0L, false, 2L), "k3" -> V(10L, 0L, false, 3L))
      assert(viewSet(rep, hist) == model(prePin, Nil))

      // one feed version with a MULTI-STEP chain for k1 (two versions in
      // one batch), a delete for k2, and an untouched k3
      IceLiteV2.append(s, src.root, Seq(("k1", 11L)).toDF("doc_id", "n"),
        vc = 20L, vl = 1L)
      IceLiteV2.append(s, src.root, Seq(("k1", 12L)).toDF("doc_id", "n"),
        vc = 20L, vl = 2L)
      IceLiteV2.append(s, src.root, Seq(("k2", 2L)).toDF("doc_id", "n"),
        vc = 21L, vl = 0L, tombstone = true)
      src.refresh()
      Scd2Maintain.maintain(s, src.root, repR, histR, cp)
      val post1 = Seq(
        "k1" -> V(20L, 1L, false, 11L), "k1" -> V(20L, 2L, false, 12L),
        "k2" -> V(21L, 0L, true, 2L))
      assert(viewSet(rep, hist) == model(prePin, post1))

      // reinsertion re-opens k2 with a validity gap; k3 updates
      IceLiteV2.append(s, src.root, Seq(("k2", 22L)).toDF("doc_id", "n"),
        vc = 30L, vl = 0L)
      IceLiteV2.append(s, src.root, Seq(("k3", 33L)).toDF("doc_id", "n"),
        vc = 31L, vl = 0L)
      src.refresh()
      Scd2Maintain.maintain(s, src.root, repR, histR, cp)
      val post2 = post1 ++ Seq("k2" -> V(30L, 0L, false, 22L),
        "k3" -> V(31L, 0L, false, 33L))
      assert(viewSet(rep, hist) == model(prePin, post2))

      // idle re-run commits nothing; full re-drain is a no-op
      val (hv, rv) = (hist.refresh().snapshotId, rep.refresh().snapshotId)
      Scd2Maintain.maintain(s, src.root, repR, histR, cp)
      assert(hist.refresh().snapshotId == hv && rep.refresh().snapshotId == rv)

      // crash order: history applied, replica not — replay finishes the
      // replica only and converges
      val fromV = src.refresh().snapshotId
      IceLiteV2.append(s, src.root, Seq(("k1", 99L)).toDF("doc_id", "n"),
        vc = 40L, vl = 0L)
      src.refresh()
      val fb = src.changesBetween(fromV, src.refresh().snapshotId)
        .drop("_change_type")
      val id = rep.refresh().summary.lastBatchId + 1
      val ev = Scd2Maintain.deltaHistory(rep, fb, id)
      MergeApply.applyBatch(hist, ev, id); ev.unpersist()
      Scd2Maintain.applyScd2Batch(hist, rep, fb, id)
      val post3 = post2 :+ ("k1" -> V(40L, 0L, false, 99L))
      assert(viewSet(rep, hist) == model(prePin, post3))
      // full replay of the applied batch is a no-op on both tables
      val (hv2, rv2) = (hist.refresh().snapshotId, rep.refresh().snapshotId)
      Scd2Maintain.applyScd2Batch(hist, rep, fb, id)
      assert(hist.refresh().snapshotId == hv2 && rep.refresh().snapshotId == rv2)
    } finally Fs.deleteRecursively(base)
  }
}
