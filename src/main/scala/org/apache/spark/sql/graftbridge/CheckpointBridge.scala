package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Freeing a superseded `localCheckpoint` (`SparkContext.unpersistRDD`
  * is `private[spark]`, hence this bridge — same extension-library
  * pattern as ColumnBridge).
  */
object CheckpointBridge {

  /** Free the executor blocks behind a superseded localCheckpoint.
    * `Dataset.unpersist` can't reach them — the blocks hang off the
    * materialized RDD inside the plan's LogicalRDD leaf, not off a
    * cache-manager entry keyed by the plan. `RDD.unpersist` would log a
    * "locally checkpointed … cannot be recomputed after unpersisting"
    * WARN for every such RDD; the release itself is
    * `SparkContext.unpersistRDD` (drop the persistent-RDD entry, remove
    * the blocks), called here directly. The RDD keeps its storage
    * level, so a later read fails exactly as after `RDD.unpersist`:
    * the checkpoint blocks are gone either way.
    */
  def unpersistCheckpoint(df: DataFrame): Unit =
    ColumnBridge.analyzedPlan(df).collectFirst {
      case l: LogicalRDD => l.rdd
    }.foreach(rdd => rdd.sparkContext.unpersistRDD(rdd.id, blocking = false))
}
