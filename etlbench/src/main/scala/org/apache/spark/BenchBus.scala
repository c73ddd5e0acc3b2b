package org.apache.spark

/** Drains Spark's listener bus so that every event of the work done so
  * far has reached the benchmark's listeners. The bus is package-private
  * to Spark, hence this one-line bridge in Spark's package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
