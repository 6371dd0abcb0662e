package org.apache.spark

/** The listener bus's drain is package-private; the traced run calls it
  * at op boundaries so every event of an op is recorded before the op's
  * numbers are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
