package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session extension hook — the public `spark.sql.extensions` plug-in
  * point, so a deployment gets the engine's custom Catalyst functions
  * on EVERY session (including foreachBatch clones and thrift/connect
  * sessions) without code:
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions \
  *              --conf spark.sql.catalog.graft=graft.icelite.dsv2.IceLiteCatalog \
  *              --conf spark.sql.sources.v2.bucketing.enabled=true ...
  * }}}
  *
  * Injected: `lww_max_by` (the merge dedup aggregate), `cosine_sim`
  * (vector scoring) and `kmv_sketch` (bounded-state distinct sketch).
  * This is the only place the engine names a function for SQL text:
  * engine code builds its expressions as Columns (the `graft.plans`
  * builders) and registers nothing in a session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("lww_max_by"),
      new ExpressionInfo(classOf[graft.plans.LwwMaxBy].getName, "lww_max_by"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.plans.LwwMaxBy(exprs(0), exprs(1), exprs(2))))
    ext.injectFunction((
      FunctionIdentifier("kmv_sketch"),
      new ExpressionInfo(classOf[graft.plans.KmvSketch].getName, "kmv_sketch"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.plans.KmvSketch(exprs(0),
          exprs(1).eval().asInstanceOf[Number].intValue())))
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[graft.plans.CosineSim].getName, "cosine_sim"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.plans.CosineSim(exprs(0), exprs(1))))
    // point-in-interval joins: rewrite the BNLJ shape to the bucketed
    // equi-join (see graft.plans.RangeJoinRule's scaladoc)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRule)
  }
}
