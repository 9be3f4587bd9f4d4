package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus's drain is `private[spark]`; this shim, compiled into
  * the benchmark only, lets traced runs read complete per-phase counters. */
object BusAccessImpl {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
