package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, SparkSession}

/** Minimal accessor for the `private[sql]` Dataset.ofRows — the supported
  * way for extension libraries to materialize a DataFrame from a custom
  * LogicalPlan (here: graft.plans.AsOfJoin). Lives under
  * org.apache.spark.sql.* solely for package visibility; no Spark
  * internals are modified.
  */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark, plan)

  /** Re-wrap a checkpointed frame's LogicalRDD WITHOUT its origin
    * constraints. `Dataset.localCheckpoint()` preserves the
    * origin plan's constraint set; when the origin projected a heavy
    * derived column (e.g. IvfIndex.assign's packed argmax over the
    * embedding), `InferFiltersFromConstraints` can resurrect that
    * expression as an inferred predicate on a LATER join against the
    * checkpointed frame — recomputing per row an expression the checkpoint
    * already paid for, and (for higher-order-function expressions) tripping
    * an internal bind error when the inferred predicate lands on a join
    * side that lacks the referenced input column. A checkpoint is a
    * materialization boundary; dropping the origin constraints makes it an
    * optimizer boundary too. No-op on non-checkpointed frames.
    *
    * Origin STATS are kept (re-attached via the public `computeStats()`,
    * since the second-parameter-list field has no accessor): stats are not
    * implicated in the constraint-resurrection bug, and dropping them too
    * made every checkpointed frame fall back to the default sizeInBytes —
    * costing downstream consumers auto-broadcast and AQE sizing that plain
    * `localCheckpoint()` provided (ADVICE r6).
    */
  def dropCheckpointConstraints(df: DataFrame): DataFrame =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        Dataset.ofRows(df.sparkSession.asInstanceOf[SparkSession],
          org.apache.spark.sql.execution.LogicalRDD(
            lr.output, lr.rdd, lr.outputPartitioning, lr.outputOrdering,
            lr.isStreaming, lr.stream)(
            df.sparkSession.asInstanceOf[SparkSession],
            originStats = Some(lr.computeStats()),
            originConstraints = None))
      case _ => df
    }

  /** Release the cached blocks behind a `localCheckpoint()`ed frame.
    * Iterative algorithms (graft.ops.Graph) checkpoint per round; without
    * an explicit unpersist the superseded rounds' blocks pin executor
    * storage until ContextCleaner happens to GC them — at scale that
    * accumulates. Only call once nothing references the frame: a local
    * checkpoint has no lineage to recompute from.
    */
  def unpersistLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** The session's unique id (`private[sql]`): unlike an identity hash, no
    * two sessions share it, so it can key per-session memos.
    */
  def sessionUUID(spark: org.apache.spark.sql.SparkSession): String =
    spark.asInstanceOf[SparkSession].sessionUUID

  /** Drain the async listener bus — lets tests that count scheduler
    * events (e.g. the jobs-per-round pin on PageRank) observe every event
    * already posted. `listenerBus` is `private[spark]`; this shim is the
    * same package-visibility trick as [[ofRows]].
    */
  def awaitListenerBusEmpty(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The JVM's running SparkContext, if any (`getActive` is
    * `private[spark]`). Unlike a thread's active session, which a pool
    * thread inherits at its creation and may outlive, this is never stale.
    */
  def activeContext: Option[org.apache.spark.SparkContext] =
    org.apache.spark.SparkContext.getActive
}
