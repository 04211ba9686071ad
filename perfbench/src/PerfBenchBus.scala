package org.apache.spark

/** Access to Spark's listener bus, which is package-private. The benchmark
  * waits on it outside its timed sections, so that every event of an
  * operation has reached the benchmark's listeners before they are read. */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
