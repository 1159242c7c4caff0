package org.apache.spark

/** Drains the SparkContext's listener bus. The bus delivers job, stage
  * and streaming-progress events asynchronously; the benchmark waits for
  * it before reading what its listeners collected. `waitUntilEmpty` is
  * package-private, hence this one-method bridge. */
object BenchBus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
