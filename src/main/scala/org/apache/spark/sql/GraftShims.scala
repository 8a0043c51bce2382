package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.Expression

/** Spark 4 hides Column<->Expression conversion behind private[sql]
  * (`org.apache.spark.sql.classic.ExpressionUtils`). This shim re-exports
  * just those conversions (plus two function-registry hooks with the same
  * visibility) for graft's custom Catalyst expressions — the same approach
  * third-party Spark extension libraries use.
  */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The session's (mutable) function registry — lets a library register
    * SQL functions on an already-built session, mirroring what
    * `spark.sql.extensions` does at session construction.
    */
  def functionRegistry(spark: SparkSession): FunctionRegistry =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry

  /** Apply an extensions object's injected functions to a registry —
    * the exact hook `SparkSession.Builder` invokes; exposed so tests can
    * verify a `SparkSessionExtensions` implementation without building a
    * whole new session.
    */
  def registerInjectedFunctions(ext: SparkSessionExtensions,
                                registry: FunctionRegistry): Unit =
    ext.registerFunctions(registry)

  /** Wrap a custom LogicalPlan as a DataFrame — `Dataset.ofRows` with the
    * same private[sql] visibility; the entry point every library that
    * contributes its own plan nodes needs.
    */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
  : DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `RDD.unpersist(false)` through the `private[spark]` call it wraps,
    * without its truncated-lineage WARN for a locally checkpointed RDD.
    */
  def releaseBlocks(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
