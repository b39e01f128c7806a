package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions.{col, spark_partition_id}

/** Windows over every row of a small frame (a histogram whose row
  * count a value domain bounds, a per-label or per-cell summary) run
  * in ONE explicit partition: the same single-partition exchange an
  * unpartitioned window plans. Catalyst drops a literal window
  * partition key, and a window without one logs Spark's "No Partition
  * Defined for Window" warning on every plan, so the key is the
  * partition id after the exchange: 0 on every row.
  */
object OnePartition {

  /** `df` in one partition, keyed by `_part` for [[window]]. */
  def apply(df: DataFrame): DataFrame =
    df.repartition(1).withColumn("_part", spark_partition_id())

  /** The window over every row of an [[apply]]d frame. */
  def window: WindowSpec = Window.partitionBy(col("_part"))
}
