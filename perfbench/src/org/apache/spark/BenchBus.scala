package org.apache.spark

/** Access to the listener bus's `waitUntilEmpty`, which is package-private:
  * the benchmark reads its listeners only after every event was delivered.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
