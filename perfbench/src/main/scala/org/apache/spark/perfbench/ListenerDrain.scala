package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Deterministic listener-bus drain. The scheduler posts a job's end
  * event before the action that ran it returns, so once this returns
  * every listener has seen every event of every job finished so far.
  * The bus is `private[spark]`, hence this package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
