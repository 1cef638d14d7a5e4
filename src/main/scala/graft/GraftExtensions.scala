package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Explicit opt-in for the engine's optimizer rules on an ALREADY
  * RUNNING session (the configuration path above only applies at
  * session build time). Deliberately separate from
  * `VectorFunctions.register`: installing a rewrite rule changes
  * query plans session-wide, which a caller asking for SQL functions
  * did not sign up for.
  */
object GraftOptimizations {
  def install(spark: org.apache.spark.sql.SparkSession): Unit =
    if (!spark.experimental.extraOptimizations
        .contains(graft.plans.RankToArgMin))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.RankToArgMin
}

/** SparkSessionExtensions entry point: enable the engine's native
  * Catalyst expressions in any session by configuration —
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * — the same injection mechanism extension libraries such as Delta
  * use, so every function of `VectorFunctions.sqlFunctions` is
  * available in pure SQL without any imperative registration call.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // keep-one-per-group: row_number()=1 filters rewrite to a
    // map-side-combining min_by aggregate (graft.plans.RankToArgMin)
    ext.injectOptimizerRule(_ => graft.plans.RankToArgMin)
    graft.functions.VectorFunctions.sqlFunctions.foreach {
      case (name, cls, build) =>
        ext.injectFunction((FunctionIdentifier(name),
          new ExpressionInfo(cls.getName, name), build))
    }
  }
}
