package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run reads
  * its listener only after every event of the measured operation has been
  * delivered. `waitUntilEmpty` is package-private to Spark, hence this
  * one-line bridge.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
