package org.apache.spark.sql.graft

import org.apache.spark.sql.execution.streaming.state.{StateStore, StateStoreProviderId}

/** Access shim for `private[sql]` and `private[spark]` Spark internals (the package placement
  * is the standard technique OSS Spark libraries use for exactly this).
  *
  * Why it exists: the test/bench reveal-loop harness restarts a
  * streaming query every few seconds over a shared checkpoint. Each
  * restart carries a NEW queryRunId, so the executor-side state store
  * registry (`StateStore.loadedProviders`, keyed by (storeId, runId))
  * accumulates the stopped run's provider instances — they hold the
  * full state maps on heap and are only reclaimed when the periodic
  * maintenance task notices they are inactive. Two consequences in a
  * long single-JVM session: unbounded provider/heap accumulation across
  * hundreds of restarts, and a race where the stale instance's
  * maintenance snapshot and the new instance's write target the same
  * checkpoint file (observed: FileNotFoundException renaming a
  * `.snapshot.crc` tmp, killing the query). Unloading the stopped run's
  * providers between restarts removes both: every run starts with
  * exactly one instance per store, and maintenance only ever sees live
  * instances. Production jobs restart on failure cadence, not every few
  * seconds, and should NOT call this.
  */
object SparkInternals {

  private lazy val loadedProvidersMap = {
    // The registry map is fully private to the StateStore object (no
    // private[sql] accessor), so enumeration goes through reflection;
    // the synchronization discipline below mirrors StateStore's own
    // (`loadedProviders.synchronized`).
    val m = StateStore.getClass.getDeclaredMethod("loadedProviders")
    m.setAccessible(true)
    m.invoke(StateStore)
      .asInstanceOf[scala.collection.mutable.HashMap[StateStoreProviderId, AnyRef]]
  }

  /** Close and deregister every loaded provider belonging to `runId` —
    * the just-stopped streaming query's run, from
    * `StreamingQuery.runId` — leaving any concurrently running query's
    * providers (parallel tests, a bench alongside) untouched. This is
    * the scoped form of [[unloadStateStores]].
    */
  def unloadStateStoresForRun(runId: java.util.UUID): Unit = {
    val map = loadedProvidersMap
    val ids = map.synchronized { map.keys.filter(_.queryRunId == runId).toList }
    ids.foreach(id => StateStore.removeFromLoadedProvidersAndClose(id))
  }

  /** Close and deregister every loaded state store provider in this JVM.
    * JVM-global — yanks state from any concurrently running streaming
    * query too; prefer [[unloadStateStoresForRun]].
    */
  def unloadStateStores(): Unit = StateStore.unloadAll()

  /** Wrap a catalyst expression as a user-facing Column
    * (`ExpressionUtils.column` is `private[sql]`): the engine's own
    * expressions ([[graft.plans]], the apply's stats tap) reach the
    * DataFrame API this way, never through the session's function
    * registry. An aggregate function goes in as its
    * `toAggregateExpression()`.
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** The catalyst expression of a Column (`ExpressionUtils.expression`
    * is `private[sql]`), to pass as a child of an engine expression.
    */
  def expression(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Report a task's written bytes and records in its output metrics
    * (the setters are `private[spark]`). A task that writes files
    * itself, outside Spark's file-format writers, calls this so that
    * listeners and the UI still see its stage as a write stage.
    */
  def setOutputMetrics(bytes: Long, records: Long): Unit = {
    val m = org.apache.spark.TaskContext.get().taskMetrics().outputMetrics
    m.setBytesWritten(bytes)
    m.setRecordsWritten(records)
  }
}
