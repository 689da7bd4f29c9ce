package org.apache.spark.sql

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/**
 * Bridge into Spark's private[sql] surfaces: the Column↔Expression
 * converters, so the engine can expose custom Catalyst expressions
 * through the public Column API (the supported pattern before Spark
 * split Column from Expression), and the few session internals the
 * engine reads (state-store unload, function registry, artifact
 * manager, SQL conf) or sets (task output metrics).
 */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Unload every state-store provider loaded on this JVM. Spark's
    * provider cache deliberately retains HDFS-backed state maps after
    * a streaming query stops (fast restart on re-load); in a
    * single-JVM benchmark that ran N checkpointed queries the
    * retained maps become pure heap pressure for whatever runs next.
    * Harnesses call this between streaming gates; a provider that is
    * needed again simply re-loads from its checkpoint. */
  def unloadStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.unloadAll()

  /** Whether `spark` holds session-scoped artifacts: jars, classes,
    * files, archives or python includes added to the session itself.
    * First settles the session's own isolation mode, which Spark reads
    * from the conf once, lazily: a later temporary pin of the conf
    * (graft.streaming.StreamStart) can then never become this
    * session's mode. */
  def hasSessionArtifacts(spark: SparkSession): Boolean = {
    val am = classicSession(spark).sessionState.artifactManager
    am.state
    org.apache.spark.sql.artifact.GraftArtifacts.holdsArtifacts(am)
  }

  /** The session's SQL conf (not the thread's active one). */
  def sqlConf(spark: SparkSession): SQLConf = classicSession(spark).sessionState.conf

  /** Report a write task's output as Spark's file writers do
    * (`BasicWriteTaskStatsTracker`): its rows and file bytes. */
  def setOutputMetrics(ctx: org.apache.spark.TaskContext, bytes: Long, records: Long): Unit = {
    val m = ctx.taskMetrics().outputMetrics
    m.setBytesWritten(bytes)
    m.setRecordsWritten(records)
  }

  /** `s` with every field nullable, as a file relation's data schema. */
  def asNullable(s: StructType): StructType = s.asNullable

  private def classicSession(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** Register SQL functions into a live session's function registry
    * (the post-construction analog of injectFunction). */
  def registerFunctions(
      spark: SparkSession,
      fns: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)]): Unit = {
    val registry = classicSession(spark).sessionState.functionRegistry
    fns.foreach { case (id, info, builder) =>
      registry.registerFunction(id, info, builder)
    }
  }
}
