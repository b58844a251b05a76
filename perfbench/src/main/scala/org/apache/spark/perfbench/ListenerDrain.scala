package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lives under `org.apache.spark` to reach the `private[spark]`
  * listener bus: the benchmark reads its listener's counters only after
  * every event posted so far has been delivered.
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
