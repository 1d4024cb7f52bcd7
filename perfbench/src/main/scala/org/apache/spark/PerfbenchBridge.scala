package org.apache.spark

/** The benchmark's one reach into `private[spark]`: drain the listener bus
  * so every stage/task/query event of a finished query has been delivered
  * before its records are read. Kept here rather than reusing the engine's
  * bridge, so the benchmark builds against any commit it compares. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(10000L)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
