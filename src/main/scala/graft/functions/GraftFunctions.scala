package graft.functions

/** The engine's native SQL functions. A session built with
  * [[graft.catalog.GraftExtensions]] has them from the start:
  *
  * {{{ SELECT doc_id, explode(graft_shingles(text, 5)) FROM docs }}}
  */
object GraftFunctions {
  /** Register the engine's SQL functions on an already-running session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    org.apache.spark.sql.GraftColumnBridge.registerFunction(
      spark, ShinglesExpr.registration)
    org.apache.spark.sql.GraftColumnBridge.registerFunction(
      spark, CmsAggExpr.registration)
    org.apache.spark.sql.GraftColumnBridge.registerFunction(
      spark, CmsAggExpr.estRegistration)
  }
}
