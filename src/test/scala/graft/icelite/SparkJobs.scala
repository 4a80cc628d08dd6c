package graft.icelite

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, hash, lit, pmod}

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._

/** Records the Spark jobs and write stages of a test, keyed by the job
  * group they ran under ("" for none). Listener events arrive
  * asynchronously: [[sync]] runs a marker job and waits until the
  * listener has seen it, so every earlier event has been delivered.
  */
final class SparkJobs(sc: SparkContext) extends SparkListener with AutoCloseable {
  private val jobGroups = new ConcurrentLinkedQueue[String]
  private val jobExecutions = new ConcurrentLinkedQueue[(String, String)]
  private val stageGroup = new ConcurrentHashMap[Int, String]
  private val writingStages = ConcurrentHashMap.newKeySet[Int]()
  private val writeStageTasks = new ConcurrentLinkedQueue[(String, Int)]
  private val stageTasks = new ConcurrentLinkedQueue[(String, Int)]
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
    jobGroups.add(g)
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    jobExecutions.add(g -> exec.getOrElse(""))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null && e.taskMetrics.outputMetrics.bytesWritten > 0)
      writingStages.add(e.stageId)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val group = stageGroup.getOrDefault(info.stageId, "")
    stageTasks.add(group -> info.numTasks)
    if (writingStages.contains(info.stageId)) writeStageTasks.add(group -> info.numTasks)
  }

  /** Jobs started under `group`. */
  def jobs(group: String): Int = jobGroups.asScala.count(_ == group)

  /** SQL execution ids of the jobs started under `group` ("" for a
    * job outside any SQL execution).
    */
  def executions(group: String): Set[String] =
    jobExecutions.asScala.collect { case (g, x) if g == group => x }.toSet

  /** Task counts of the stages completed under `group`. */
  def stages(group: String): Seq[Int] =
    stageTasks.asScala.collect { case (g, n) if g == group => n }.toSeq

  /** Task counts of the stages that wrote data files under `group`
    * (a stage counts once one of its tasks reports output bytes).
    */
  def writeStages(group: String): Seq[Int] =
    writeStageTasks.asScala.collect { case (g, n) if g == group => n }.toSeq

  /** Wait until a job of a group matching `p` has started. */
  def awaitJob(p: String => Boolean, timeoutMs: Long = 60000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!jobGroups.asScala.exists(p)) {
      if (System.currentTimeMillis() > deadline)
        throw new AssertionError(s"no matching job within $timeoutMs ms: ${jobGroups.asScala.toSeq}")
      Thread.sleep(10)
    }
  }

  def sync(): Unit = {
    val marker = s"sync-${java.util.UUID.randomUUID()}"
    val t = new Thread(() => {
      sc.setJobGroup(marker, "listener sync")
      sc.parallelize(Seq(1), 1).count(); ()
    })
    t.start()
    t.join()
    awaitJob(_ == marker)
  }

  override def close(): Unit = sc.removeSparkListener(this)
}

object SparkJobs {

  /** Runs `body` with `group` as the calling thread's job group. */
  def inGroup[T](sc: SparkContext, group: String)(body: => T): T = {
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
  }

  /** Keys of `rows` (one data file, read whole) that do not belong to
    * the bucket of the `__bucket=N` directory `rel` sits in: empty for
    * a bucket-pure file.
    */
  def foreignKeys(rows: DataFrame, rel: String, keyCol: String, numBuckets: Int): Seq[String] = {
    val dirBucket = rel.split('/')(2).stripPrefix("__bucket=").toInt
    rows.where(pmod(hash(col(keyCol)), lit(numBuckets)) =!= dirBucket)
      .select(col(keyCol).cast("string")).collect().map(_.getString(0)).toSeq
  }
}
