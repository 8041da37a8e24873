package org.apache.spark

/** Drains Spark's listener bus so the benchmark's ledgers have seen
  * every event of the jobs that just finished before they are read.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
