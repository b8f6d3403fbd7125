package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Declarative registration of the engine's native expressions:
  * `SparkSession.builder.config("spark.sql.extensions",
  * "graft.plans.GraftExtensions")` (or `.withExtensions`). The imperative
  * alternative for sessions we don't build is
  * [[VectorExpressions.ensureRegistered]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    VectorExpressions.functions.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[VectorFoldExpression].getName, name),
        builder))
    }
    // opt-in ANN rewrite: ORDER BY graft_l2sq LIMIT k over an
    // IVF-partitioned table → probe-pruned scan (spark.graft.ivf.nprobe)
    ext.injectOptimizerRule(session => IvfAutoProbe(session))
    // opt-in approximate-distinct rewrite: count(DISTINCT x) → the HLL
    // register pipeline (spark.graft.approxDistinct.m)
    ext.injectOptimizerRule(session => ApproxDistinctRewrite(session))
    // top-k, sort and Project/Filter chains over driver-resident rows
    // fold on the driver (the IVF resident tier)
    ext.injectOptimizerRule(_ => LocalTopK)
  }
}
