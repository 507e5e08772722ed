package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge into the `sql` package: `Dataset.ofRows` is
  * private[sql], and wrapping a custom LogicalPlan (graft.plans.*) into
  * a DataFrame requires it. Standard extension-library technique; no
  * Spark internals are modified.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Catalyst expression → Column, and back (`ExpressionUtils` is
    * private[sql]). */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Release the executor blocks held by a `localCheckpoint()`ed frame.
    * The checkpoint persists its internal RDD (MEMORY_AND_DISK) outside
    * the cache manager, so `Dataset.unpersist` cannot reach it; an
    * iterative algorithm that checkpoints per round (lineage truncation)
    * must free superseded generations or storage grows by one full copy
    * per round.
    *
    * Deliberately matches ONLY a frame whose plan root IS the
    * checkpoint's LogicalRDD (what `localCheckpoint()` returns) — a
    * frame merely DERIVED from a checkpoint must not free its
    * ancestor's blocks, because truncated lineage makes them
    * unrecoverable for every other frame sharing that checkpoint.
    * No-op for any other plan shape. */
  def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
