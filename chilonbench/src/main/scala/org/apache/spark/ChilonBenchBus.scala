package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark reads its
  * task records only after every event of the finished job has arrived.
  * `listenerBus` is package-private to Spark, hence this package.
  */
object ChilonBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
