package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the SparkContext's listener bus, which Spark keeps package-private:
  * a traced pass drains it so every job, stage and task event of the pass
  * is counted before the pass's counts are read.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
