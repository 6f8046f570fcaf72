package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark reads
  * its listener only after every event of a pass has been delivered.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
