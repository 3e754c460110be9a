package org.apache.spark

/** The listener bus delivers events on its own thread; the benchmark reads
  * its listener's counts only after every event posted so far has been
  * delivered. `listenerBus` is package-private, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
