package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session-extension injection point: makes the whole graft function family
  * available in any session configured with
  * `spark.sql.extensions=graft.functions.GraftExtensions` — the standard
  * library-integration path (no per-session register() call needed). It
  * installs the same [[GraftFunctions.sqlFunctions]] table as `register()`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.sqlFunctions.foreach { case (name, builder) =>
      ext.injectFunction(
        (FunctionIdentifier(name),
          new ExpressionInfo("graft", name),
          builder))
    }
    // spatial predicate → Morton-range pushdown rewrite
    ext.injectOptimizerRule(_ => org.apache.spark.sql.graft.QuadbinRangeRewrite)
    // format("raquet") metadata-row exclusion (see RaquetDataSource.scala)
    ext.injectPostHocResolutionRule(_ =>
      org.apache.spark.sql.graft.RaquetMetadataExclusion)
  }
}
