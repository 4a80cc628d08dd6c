package graft.util

import org.apache.spark.sql.SparkSession

/** Scoped session tuning shared by the batch operators and the staged
  * stream drain: set a conf for the duration of a driver-side loop or
  * query, restore the prior value afterwards, so a shared session never
  * depends on which operator ran last.
  */
object SessionTune {

  /** Run `body` with `spark.sql.shuffle.partitions` set to `n`.
    * Safe only when every job that should see `n` is SUBMITTED inside
    * `body` (the conf is read at plan time).
    */
  def withShufflePartitions[A](spark: SparkSession, n: Int)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, n.toString)
    try body
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Partition count sized from the data (guide §2.2: never a machine
    * constant): `size` (rows or bytes) / perPartition, clamped to
    * [1, session shuffle partitions] — a cluster-sized session keeps its
    * configured parallelism for big inputs; small inputs shed the
    * per-partition fixed costs of iterative loops and state stores.
    */
  def partitionsFor(spark: SparkSession, size: Long, perPartition: Long): Int = {
    val cur = spark.conf.get("spark.sql.shuffle.partitions").toInt
    math.max(1, math.min(cur, ((size + perPartition - 1) / perPartition).toInt))
  }
}
