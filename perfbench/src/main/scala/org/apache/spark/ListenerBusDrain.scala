package org.apache.spark

/** The listener bus delivers events asynchronously; the tracer drains it
  * before it reads its counters, so a row's jobs and tasks are all counted
  * before the row is closed. `waitUntilEmpty` is spark-private, hence
  * this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
