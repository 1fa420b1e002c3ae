package org.apache.spark

/** The listener bus drain is package-private to Spark; the benchmark's
  * tracer needs it so that every job event of a finished op has been
  * delivered before the op's layer numbers are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
