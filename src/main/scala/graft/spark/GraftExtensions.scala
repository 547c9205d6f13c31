package graft.spark

import org.apache.spark.sql.SparkSessionExtensions

/**
 * Session-extension entry point for spark-submit deployments:
 *
 *   spark-submit --conf spark.sql.extensions=graft.spark.GraftExtensions ...
 *
 * injects every function of [[GraftFunctions.functions]] and every rule of
 * [[GraftFunctions.optimizerRules]] — the same tables
 * `GraftFunctions.register(spark)` adds — at session build time, so SQL
 * users get the whole surface without any driver-side registration call.
 * `register` remains the runtime-idempotent path for sessions built without
 * the extension (`graft.Verify`, the specs).
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.functions.foreach(ext.injectFunction)
    GraftFunctions.optimizerRules.foreach(r => ext.injectOptimizerRule(_ => r))
  }
}
