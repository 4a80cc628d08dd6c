package graft.stream

import graft.model.{ChangeEvent, LogRecord, TokenDoc}
import org.scalacheck.{Gen, Prop, Properties}

/** The one per-transaction step ([[StatefulAssembly.stepTx]]) over any
  * split of a transaction into triggers, without Spark: folded with
  * flatMapGroupsWithState-style state (the whole buffer rewritten) and
  * with transformWithState-style state (a count plus appended records),
  * both must emit what the whole transaction emits in one piece.
  */
object TxStepProps extends Properties("TxStep") {

  private val TxId = 7L

  private def rec(lsn: Long, op: String, discardFrom: Long = -1L): LogRecord =
    LogRecord(lsn, TxId, op, discardFrom, "token_docs", None,
      if (op == "c" || op == "u") Some(TokenDoc(s"d$lsn", Seq(lsn.toInt), 1, "cdc")) else None,
      lsn * 10L)

  /** B, data ops, an optional savepoint D, more data ops, then C or R. */
  private val txGen: Gen[Seq[LogRecord]] = for {
    before <- Gen.listOf(Gen.oneOf("c", "u", "d"))
    after <- Gen.listOf(Gen.oneOf("c", "u", "d"))
    savepoint <- Gen.oneOf(true, false)
    discardBack <- Gen.chooseNum(0, before.size)
    close <- Gen.oneOf("C", "R")
  } yield {
    val ops = before ++ (if (savepoint) Seq("D") else Nil) ++ after :+ close
    val lsns = (2L to ops.size.toLong + 1L)
    // the savepoint discards the last `discardBack` ops before it
    val dLsn = 2L + before.size
    rec(1L, "B") +: ops.zip(lsns).map { case (op, l) =>
      if (op == "D") rec(l, op, discardFrom = dLsn - discardBack) else rec(l, op)
    }
  }

  /** A tx split at random cut points into triggers, its records in any
    * order except that the close arrives in the last trigger.
    */
  private def triggersOf(tx: Seq[LogRecord]): Gen[Seq[Seq[LogRecord]]] = for {
    cuts <- Gen.someOf(1 until tx.size)
    seed <- Gen.long
  } yield {
    val rnd = new scala.util.Random(seed)
    val arrival = rnd.shuffle(tx.init) :+ tx.last
    val bounds = (0 +: cuts.toSeq.sorted :+ tx.size)
    bounds.zip(bounds.tail).map { case (a, b) => rnd.shuffle(arrival.slice(a, b)) }
  }

  private val txAndTriggers = for {
    tx <- txGen
    triggers <- triggersOf(tx)
  } yield (tx, triggers)

  /** Fold with the whole buffer rewritten every trigger (fMGWS). */
  private def foldRewrite(triggers: Seq[Seq[LogRecord]], cap: Int,
      quarantine: Boolean): Seq[ChangeEvent] = {
    var state: Option[TxBuffer] = None
    triggers.flatMap { t =>
      val b = state.getOrElse(TxBuffer(Nil))
      val (events, next) = StatefulAssembly.stepTx(TxId, cap, quarantine)(
        b.quarantined, b.records.size.toLong, b.records, t.iterator)
      state = next match {
        case TxNext.Cleared => None
        case TxNext.Open(added) => Some(TxBuffer((b.records ++ added).sortBy(_.lsn)))
        case TxNext.Quarantined => Some(TxBuffer(Nil, quarantined = true))
      }
      events.toSeq
    }
  }

  /** Fold with a count plus appended records (TWS). The buffer may be
    * read only by a trigger that closes the tx or passes the cap.
    */
  private def foldAppend(triggers: Seq[Seq[LogRecord]], cap: Int,
      quarantine: Boolean): Seq[ChangeEvent] = {
    var quarantined = false
    var count = 0L
    var buf = Vector.empty[LogRecord]
    triggers.flatMap { t =>
      var read = false
      val (events, next) = StatefulAssembly.stepTx(TxId, cap, quarantine)(
        quarantined, count, { read = true; buf }, t.iterator)
      next match {
        case TxNext.Cleared =>
          quarantined = false; count = 0L; buf = Vector.empty
        case TxNext.Open(added) =>
          assert(!read, "an append read the buffer")
          count += added.size; buf ++= added
        case TxNext.Quarantined =>
          quarantined = true; count = 0L; buf = Vector.empty
      }
      events.toSeq
    }
  }

  private def whole(tx: Seq[LogRecord]): Seq[ChangeEvent] = {
    val (ops, begin, closed) = StatefulAssembly.foldTx(tx.sortBy(_.lsn))
    StatefulAssembly.emitClosed(TxId, ops, begin, closed.get).toSeq
  }

  property("both state styles emit what the whole tx emits, under any split") =
    Prop.forAll(txAndTriggers) { case (tx, triggers) =>
      val want = whole(tx)
      foldRewrite(triggers, Int.MaxValue, quarantine = false) == want &&
        foldAppend(triggers, Int.MaxValue, quarantine = false) == want
    }

  property("past the cap with quarantine, every record reaches the DLQ once and the close one marker") =
    Prop.forAll(txAndTriggers.flatMap { case (tx, ts) =>
      Gen.chooseNum(0, tx.size - 1).map(cap => (tx, ts, cap)) }) { case (tx, triggers, cap) =>
      val got = foldRewrite(triggers, cap, quarantine = true)
      val dlq = got.filter(_.op == StatefulAssembly.DlqOp)
      val markers = got.filter(_.op == TxAssembler.MarkerOp)
      foldAppend(triggers, cap, quarantine = true) == got &&
        dlq.map(_.change_lsn).sorted == tx.map(_.lsn).sorted &&
        markers.map(_.commit_lsn) == tx.filter(StatefulAssembly.isClose).map(_.lsn) &&
        dlq.size + markers.size == got.size
    }

  property("past the cap without quarantine, the step fails naming the poison tx") =
    Prop.forAll(txAndTriggers.flatMap { case (tx, ts) =>
      Gen.chooseNum(0, tx.size - 1).map(cap => (ts, cap)) }) { case (triggers, cap) =>
      val e = scala.util.Try(foldAppend(triggers, cap, quarantine = false)).failed.toOption
      e.exists(x => x.isInstanceOf[IllegalStateException] &&
        x.getMessage.contains(s"transaction $TxId exceeded maxBufferedPerTx=$cap"))
    }
}
