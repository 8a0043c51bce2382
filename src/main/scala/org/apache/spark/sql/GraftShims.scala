package org.apache.spark.sql

import java.util.Date

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapred.JobID
import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.internal.io.SparkHadoopWriterUtils
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.util.SerializableConfiguration

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

  /** A Dataset's query execution: its analyzed, optimized and physical
    * plans, and `toRdd` to run it inside an execution of its own.
    */
  def queryExecution(ds: Dataset[_]): QueryExecution =
    ds.asInstanceOf[classic.Dataset[_]].queryExecution

  /** The Hadoop conf a `DataFrameWriter` write starts from: the context's
    * conf plus the session's SQL conf.
    */
  def newHadoopConf(spark: SparkSession): Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()

  /** `spark.sql.sources.commitProtocolClass`, the committer every file
    * source write instantiates.
    */
  def fileCommitProtocolClass(spark: SparkSession): String =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf.fileCommitProtocolClass

  /** `conf` broadcast to the executors once, for a job whose tasks would
    * otherwise each carry and deserialize it.
    */
  def broadcastConf(sc: SparkContext, conf: Configuration): BroadcastConf =
    new BroadcastConf(SerializableConfiguration.broadcast(sc, conf))

  /** The job tracker id a file write's Hadoop job ids are made from. */
  def jobTrackerId(): String = SparkHadoopWriterUtils.createJobTrackerID(new Date)

  /** The Hadoop job id of the write stage `stageId`, as a file source
    * write names it; the commit coordinator reads the stage from it.
    */
  def hadoopJobId(jobTrackerId: String, stageId: Int): JobID =
    SparkHadoopWriterUtils.createJobID(jobTrackerId, stageId)

  /** Record a write task's output in its task metrics, as a file source
    * write's stats tracker does.
    */
  def reportOutput(ctx: TaskContext, bytes: Long, records: Long): Unit = {
    val m = ctx.taskMetrics().outputMetrics
    m.setBytesWritten(bytes)
    m.setRecordsWritten(records)
  }

  /** `RDD.unpersist(false)` through the `private[spark]` call it wraps,
    * without its truncated-lineage WARN for a locally checkpointed RDD.
    */
  def releaseBlocks(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}

/** A Hadoop conf broadcast once per job. Every task on an executor reads
  * the same `value`, so a task copies it before setting anything.
  */
final class BroadcastConf private[sql] (bc: Broadcast[SerializableConfiguration])
    extends Serializable {
  def value: Configuration = bc.value.value
  def destroy(): Unit = bc.destroy()
}
