package org.apache.spark

/** Access to the live listener bus, which Spark keeps package-private.
  * The benchmark waits for it to empty before it reads its listeners, so
  * that the counts of a pass are complete.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
