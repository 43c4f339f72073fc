package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Minimal bridge into `private[sql]`/`private[spark]` API (the
  * standard extension-project technique: such members are visible from
  * subpackages of org.apache.spark.sql). Everything else in graft stays
  * on public APIs; only DataFrame-over-custom-LogicalPlan construction
  * and the tracing listeners of `graft.tools.Trace` need this.
  */
object Bridge {

  /** Wrap a (resolved) logical plan as a DataFrame. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Release the block-manager storage behind a `localCheckpoint()`ed
    * DataFrame. `Dataset.unpersist` only touches cacheManager entries;
    * a local checkpoint is a persisted RDD inside the plan's
    * `LogicalRDD`, whose blocks otherwise stay pinned until the RDD
    * object is GC'd — in an iterative algorithm that checkpoints per
    * round, the superseded rounds add up to O(rounds × edges) storage
    * held for the whole session.
    *
    * Deliberately matches ONLY a frame whose root plan is the
    * checkpoint (what `df.localCheckpoint()` returns) — a composite
    * frame built over checkpoints is a no-op rather than a release of
    * storage other live frames still read (checkpoints truncate
    * lineage, so a released block cannot be recomputed).
    */
  def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Block until every event posted so far has reached every listener.
    * Listener counts are complete only after this returns.
    */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)

  /** The action name (`localCheckpoint`, `save`, ...; unnamed for
    * streaming micro-batches) and the query of an ended SQL execution:
    * what a `QueryExecutionListener` is handed for a named execution.
    */
  def endedExecution(e: SparkListenerSQLExecutionEnd)
      : (Option[String], QueryExecution) = (e.executionName, e.qe)
}
