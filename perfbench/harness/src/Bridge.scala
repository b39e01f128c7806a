package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The two Spark internals the traced run reads that have no public
  * accessor: draining the listener bus (so listener counts land in the
  * pass/operation/phase that caused them) and the codegen compile count.
  */
object Bridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
