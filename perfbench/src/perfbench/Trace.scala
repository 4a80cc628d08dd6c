package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory span recorder. Spans are taken by the benchmark around its
  * own calls into the engine's layers, never inside the engine. Each
  * span keeps its parent (the enclosing span on the same thread) and
  * the batch or trigger id it belongs to; spans are written out once,
  * when the run ends. Recording is off unless `on` is set, so the
  * untraced measurements pay one volatile read per call.
  */
final class Spans {
  final case class Span(id: Int, parent: Int, name: String, batch: Long,
      startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  @volatile var on: Boolean = false
  private val buf = ArrayBuffer[Span]()
  private val ids = new AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)

  def apply[T](name: String, batch: Long = -1L)(f: => T): T =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      stack.set(id :: outer)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        synchronized { buf += Span(id, outer.headOption.getOrElse(0), name, batch, t0, t1) }
      }
    }

  def all: Seq[Span] = synchronized(buf.toList)

  def ms(name: String): Seq[Double] = all.filter(_.name == name).map(_.ms)

  /** Self time per span name: each span's duration minus the part of
    * its interval that its children cover (children may overlap, so the
    * covered part is the union of their intervals).
    */
  def selfMs: Map[String, Double] = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val iv = kids.getOrElse(s.id, Nil)
          .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var lo = 0L
        var hi = -1L
        iv.foreach { case (a, b) =>
          if (a > hi) { if (hi > lo) covered += hi - lo; lo = a; hi = b }
          else hi = math.max(hi, b)
        }
        if (hi > lo) covered += hi - lo
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }

  def toJson: String = {
    val rows = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","batch":${s.batch},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    val self = selfMs.toSeq.sortBy(_._1).map { case (k, v) => f""""$k":$v%.3f""" }
    rows.mkString("{\"spans\":[", ",\n", "],\n") + self.mkString("\"self_ms\":{", ",", "}}")
  }
}

/** Spark's public scheduler events, summed while `on` is set: jobs,
  * stages, tasks, executor run time and shuffle bytes.
  */
final class SparkCounters extends SparkListener {
  @volatile var on: Boolean = false
  val jobs, stages, tasks, runMs, shuffleWrite, shuffleRead = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (on) { jobs.incrementAndGet(); () }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (on) { stages.incrementAndGet(); () }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (on && e.taskMetrics != null) {
      tasks.incrementAndGet()
      runMs.addAndGet(e.taskMetrics.executorRunTime)
      shuffleWrite.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(e.taskMetrics.shuffleReadMetrics.totalBytesRead)
      ()
    }
}

/** Every trigger's progress of the streaming queries one session
  * starts (a session's listener sees only its own queries).
  */
final class TriggerLog extends StreamingQueryListener {
  import StreamingQueryListener._

  final case class Trigger(batchId: Long, rows: Long, durations: Map[String, Long],
      endMs: Long) {
    def ms(k: String): Long = durations.getOrElse(k, 0L)
  }

  private val started = ConcurrentHashMap.newKeySet[java.util.UUID]()
  private val ended = ConcurrentHashMap.newKeySet[java.util.UUID]()
  private val buf = ArrayBuffer[Trigger]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = { started.add(e.id); () }

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val t = Trigger(p.batchId, p.numInputRows, d, System.currentTimeMillis())
    synchronized { buf += t }
  }

  override def onQueryIdle(e: QueryIdleEvent): Unit = ()

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = { ended.add(e.id); () }

  /** Block until every started query's terminated event (which the bus
    * delivers after the query's last progress event) has arrived.
    */
  def awaitEnded(timeoutMs: Long = 30000L): Unit = {
    val until = System.currentTimeMillis() + timeoutMs
    while (!ended.containsAll(started) && System.currentTimeMillis() < until) Thread.sleep(2)
  }

  /** Triggers that did work (Spark also reports empty polls). */
  def data: Seq[Trigger] = synchronized(buf.toList).filter(_.rows > 0)
}

/** Exact generated-class count from Spark's codegen metrics source (a
  * counter, unlike the decaying compile-time histogram).
  */
object Codegen {
  def classes: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount
}

object Jvm {
  def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Used heap after full collections. */
  def retainedHeapMb: Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    val h = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    h.getUsed / (1024.0 * 1024.0)
  }
}
