package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private. The
  * traced run drains it between queries (outside every timed span) so
  * that each query's job, stage and execution events have been delivered
  * before the next query starts. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
