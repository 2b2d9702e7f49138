package org.apache.spark.sql.graftshim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.streaming.state.StateStore

/** Access shims for plan internals Spark keeps private[sql]. Lives under
  * org.apache.spark.sql purely for access; nothing is modified. */
object PlanShim {

  /** RDD ids backing a (local)checkpointed DataFrame — the LogicalRDD leaves
    * of its analyzed plan. Used by the dedup pipeline's cache cleanup to
    * keep the returned table's checkpoint while unpersisting every internal
    * one. */
  def checkpointRddIds(df: DataFrame): Set[Int] =
    df.asInstanceOf[ClassicDataset[_]].queryExecution.analyzed.collect {
      case l: LogicalRDD => l.rdd.id
    }.toSet

  /** A (local)checkpointed DataFrame with its LogicalRDD leaf rebuilt
    * without the statistics Spark copies into it from the checkpoint's
    * origin plan. Size estimates multiply through joins, so a loop that
    * feeds each checkpoint into the plan of the next compounds them: the
    * carried `sizeInBytes` gains digits geometrically per round until the
    * optimizer's BigInteger arithmetic dominates the driver. The rebuilt
    * leaf keeps the RDD, output, partitioning, ordering and constraints;
    * its size is Spark's default for an unknown relation. */
  def withoutStats(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[ClassicDataset[_]]
    val leaf = ds.logicalPlan.asInstanceOf[LogicalRDD]
    ClassicDataset.ofRows(ds.sparkSession, leaf.copy()(ds.sparkSession, None, Some(leaf.constraints)))
  }

  /** Stop the streaming state-store maintenance thread pool. Called before
    * SparkSession.stop() by drivers that ran a stateful streaming query:
    * otherwise the maintenance task can race the teardown's directory reap
    * and spray a (harmless but ugly) stack trace into the artifact log. */
  def stopStateStoreMaintenance(): Unit = StateStore.stop()

  /** Drain the async listener bus so metrics accumulated by a
    * SparkListener (per-query task seconds in Bench) are complete before
    * they are snapshotted — stage-completed events can lag the action's
    * return by a scheduler tick. */
  def waitListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
