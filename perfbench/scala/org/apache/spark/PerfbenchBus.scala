package org.apache.spark

/** Waits until every listener has seen every event posted so far. The
  * listener bus is asynchronous, so the tracer drains it before it reads
  * the counts its listeners gathered; `listenerBus` is package-private,
  * hence this one-method object inside Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
