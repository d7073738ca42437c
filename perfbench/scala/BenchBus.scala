package org.apache.spark

/** The listener bus's drain is package-private; the benchmark calls it
  * between passes (outside any timed region) so every event of a pass has
  * reached its listeners before the pass is summed up.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
