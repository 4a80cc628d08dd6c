package graft.stream

import org.apache.spark.sql.SparkSession

/** State-store provider selection for the stateful streaming paths
  * (tx assembly, windowed/session aggregation, streaming dedup, the
  * stream-stream joins).
  *
  * Spark's default provider keeps every state row on the executor HEAP
  * (HDFSBackedStateStoreProvider): fine while live state is small, but
  * the 10^10-event deployment can carry millions of open-transaction /
  * join-state rows per partition after a skewed burst, and heap-resident
  * state competes directly with shuffle/execution memory. The RocksDB
  * provider (`rocksdbjni` ships with Spark) spills state to local disk
  * with a block-cache bound, which is the production choice at that
  * scale — same semantics, same checkpoint contract, different storage.
  *
  * Selection is a session conf read at QUERY START, so it composes with
  * every pipeline in this engine without code changes; a checkpoint is
  * provider-specific, so flip it only on fresh checkpoints (the same
  * rule the TxBuffer schema evolution note in NOTES.md documents).
  * RocksDbStateSpec pins output equality between the two providers on
  * the stateful assembly and streaming-dedup paths.
  */
object StateStores {
  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Switches this session's streaming state store to RocksDB. Returns
    * the session for chaining.
    */
  def useRocksDb(spark: SparkSession): SparkSession = {
    spark.conf.set(ProviderKey, RocksDbProvider)
    spark.conf.set(ChangelogKey, "true")
    spark
  }

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  /** Changelog checkpointing: commit writes the batch's CHANGELOG to the
    * checkpoint instead of a full RocksDB snapshot per partition per
    * batch (snapshots still happen, in the background maintenance
    * thread at `minDeltasForSnapshot` cadence). Same recovery contract,
    * amortized O(delta) commit cost instead of O(state) — the
    * production setting for frequent small commits, and measurably the
    * dominant per-batch fixed cost of every transformWithState pipeline
    * here with Spark's default (off).
    */
  private val ChangelogKey =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  /** Runs `body` with this session's provider set to RocksDB, then
    * restores whatever was configured before. Self-contained drains
    * (Funnel, SessionProfile) use this so a shared session's provider
    * does not depend on which pipeline ran last — the provider conf is
    * read at query start, so restoring after the drain is safe.
    */
  def withRocksDb[A](spark: SparkSession)(body: => A): A = {
    val prior = spark.conf.getOption(ProviderKey)
    val priorCl = spark.conf.getOption(ChangelogKey)
    spark.conf.set(ProviderKey, RocksDbProvider)
    spark.conf.set(ChangelogKey, "true")
    try body
    finally {
      def restore(key: String, v: Option[String]): Unit = v match {
        case Some(s) => spark.conf.set(key, s)
        case None    => spark.conf.unset(key)
      }
      restore(ProviderKey, prior)
      restore(ChangelogKey, priorCl)
    }
  }
}
