package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal joins Spark has no native operator for: AS-OF (latest
  * right row at or before each left row's timestamp, per key) and
  * keyless RANGE containment (points joined into intervals). Both are
  * re-expressed as shapes Catalyst plans linearly — the naive forms
  * (non-equi self-joins) fall back to BroadcastNestedLoopJoin and go
  * quadratic at corpus scale.
  */
object Temporal {

  /** AS-OF join (backward): for each left row, the single most recent
    * right row of the same key with `right.ts <= left.ts` — the
    * event-attribution / point-in-time-feature operator.
    *
    * Shape: the UNION-WINDOW as-of. Right rows are tagged 0, left rows
    * 1, unioned on an aligned schema, and one window per key ordered by
    * (ts, tag) carries the last non-null right payload forward; left
    * rows then read their match from the window state. ONE shuffle (the
    * window's hash partition by key), no non-equi join, no range
    * explosion; skew is bounded by the per-key event count. Ties
    * (right.ts == left.ts) match, because tag 0 sorts before tag 1 at
    * equal timestamps — the standard backward-inclusive as-of.
    *
    * `rightCols` are the right-payload columns to attach (emitted as
    * `asof_<name>`, null when no right row is at or before the left
    * row). Right rows must be unique per (key, ts) for a deterministic
    * result — pre-aggregate the right side if they are not.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      tsCol: String, rightCols: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    val key = keyCols.map(col)
    // aligned union: key + ts + tag + opaque payload structs, so any
    // left/right schemas align without column-name collisions
    val rSide = right.select(
      key :+ col(tsCol).as("__ts") :+ lit(0).as("__tag") :+
        struct(rightCols.map(col): _*).as("__rp"): _*)
    val lSide = left.select(
      key :+ col(tsCol).as("__ts") :+ lit(1).as("__tag") :+
        struct(leftCols.map(col): _*).as("__lp"): _*)
    val union = lSide
      .withColumn("__rp", lit(null).cast(rSide.schema("__rp").dataType))
      .unionByName(rSide
        .withColumn("__lp", lit(null).cast(lSide.schema("__lp").dataType)))
    val w = Window.partitionBy(key: _*)
      .orderBy(col("__ts").asc, col("__tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = union
      .withColumn("__m", last(col("__rp"), ignoreNulls = true).over(w))
      .where(col("__tag") === 1)
    val out = leftCols.map(c => col(s"__lp.$c").as(c)) ++
      rightCols.map(c => col(s"__m.$c").as(s"asof_$c"))
    matched.select(out: _*)
  }

  /** Keyless RANGE-containment join, bucketed: join each point row
    * whose `ts` falls inside [lo, hi] of an interval row. Naive Spark
    * plans a BroadcastNestedLoopJoin (every point × every interval);
    * this shape explodes each INTERVAL to the `bucketSec`-second epoch
    * buckets it covers, buckets each point once, and equi-joins on the
    * bucket id — each qualifying (point, interval) pair meets in
    * EXACTLY one bucket (the point's), so no post-join dedup is
    * needed. Cost: one hash shuffle of points + intervals×(span/bucket)
    * rows; pick `bucketSec` near the median interval span so the
    * explosion factor stays O(1).
    */
  def rangeJoin(points: DataFrame, intervals: DataFrame, tsCol: String,
      loCol: String, hiCol: String, bucketSec: Long = 60L): DataFrame = {
    val ib = intervals.withColumn("__b",
      explode(sequence(
        (unix_timestamp(col(loCol)) / bucketSec).cast("long"),
        (unix_timestamp(col(hiCol)) / bucketSec).cast("long"))))
    val pb = points.withColumn("__b",
      (unix_timestamp(col(tsCol)) / bucketSec).cast("long"))
    pb.join(ib, Seq("__b"))
      .where(col(tsCol) >= col(loCol) && col(tsCol) <= col(hiCol))
      .drop("__b")
  }
}
