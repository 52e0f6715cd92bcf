package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.graft.{Native, TopKRewriteRule}

/** Public extension injector: enable with
  * `spark.sql.extensions=graft.functions.GraftExtensions` to get the
  * engine's native SQL functions in any session — the fully-supported
  * registration route (SparkSessionExtensions.injectFunction).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Native.functions.foreach(ext.injectFunction)
    // window-top-k → graft_topk[_rows] partial aggregate (lossless
    // patterns only: row_number/rank/dense_rank, optional payload)
    ext.injectOptimizerRule(_ => TopKRewriteRule)
  }
}
