package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Bridge to build a DataFrame from a custom LogicalPlan (Dataset
  * .ofRows is private[sql]). Used by graft.plans to surface custom
  * logical operators (TopKPerKey) through the public API.
  */
object DatasetBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Reliable-checkpoint file of a `Dataset.checkpoint()` result (the
    * `rdd-<id>` directory under the context checkpoint dir), if any.
    * A checkpointed Dataset's plan is a LogicalRDD over the
    * checkpointed internal RDD; `df.rdd` would wrap it in a NEW
    * deserializing RDD whose own checkpoint file is empty, hence the
    * bridge. Used by graft.operators.Dedup to delete superseded
    * per-iteration checkpoints (SparkContext never cleans them unless
    * `spark.cleaner.referenceTracking.cleanCheckpoints` was set at
    * context creation, which a library cannot assume).
    */
  def checkpointFile(df: DataFrame): Option[String] =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.getCheckpointFile
      case _ => None
    }
}
