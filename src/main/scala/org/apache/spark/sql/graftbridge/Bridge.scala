package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. ExpressionUtils is private[sql] in Spark 4,
  * so custom Catalyst expressions (graft.functions.*) go through this
  * package-located shim to surface as Columns — the standard pattern for
  * out-of-tree expression libraries.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Session function registry (private[sql]) — lets graft register its
    * native expressions for the SQL surface on an existing session. */
  def functionRegistry(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.catalyst.analysis.FunctionRegistry =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry

  /** Unpersist the RDD behind an eager `localCheckpoint(true)` frame.
    *
    * `Dataset.unpersist()` only clears CacheManager entries (`.persist`/
    * `.cache`); a local checkpoint persists its RDD directly, so a
    * superseded per-iteration checkpoint in a fixpoint loop otherwise
    * lingers until the non-deterministic ContextCleaner gets to it —
    * storage pressure late in a long multi-query session then depends on
    * GC timing (the round-10 q181 adjudication's identified mechanism).
    * The checkpointed Dataset's plan root is a LogicalRDD holding the
    * persisted RDD; no-op on any other plan shape. Safe on frames other
    * live frames were DERIVED from (derivation happened eagerly at their
    * own checkpoint), NOT on frames still lazily referenced. */
  def dropCheckpoint(df: org.apache.spark.sql.Dataset[_]): Unit =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Ids of the RDDs behind every local-checkpoint scan (LogicalRDD) that
    * `df`'s plan reads, subqueries included — the checkpoints a lazy frame
    * still needs when it runs. */
  def checkpointRddIds(df: org.apache.spark.sql.Dataset[_]): Set[Int] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.logical.collectWithSubqueries {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      }.toSet

  /** DataFrame from a LogicalPlan (Dataset.ofRows is private[sql]) — used
    * by specs to execute a plan after applying an optimizer rule by hand. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `df`'s analyzed plan as a frame of `owner`, so every query it runs
    * executes through `owner`'s session state and carries `owner`'s
    * artifact UUID. `df` itself when it already belongs to `owner`. A
    * foreachBatch epoch is a `LogicalRDD` over the epoch's RDD, so the
    * re-rooted frame reads the same rows without planning the stream's
    * query again. */
  def reroot(owner: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    if (df.sparkSession eq owner) df
    else ofRows(owner, df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed)
}
