package org.apache.spark.scheduler

import org.apache.spark.SparkContext

/** The two scheduler internals the tracer needs, exposed from inside
  * Spark's package: the id the next submitted job will get (so a span
  * owns exactly the jobs submitted while it was open) and a drain of
  * the listener bus (so every event of a closed span has been seen).
  */
object PerfbenchBridge {
  def nextJobId(sc: SparkContext): Int = sc.dagScheduler.nextJobId.get()
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
