package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics

/** The two Spark internals the harness reads that are not public API:
  * the listener bus (to wait for an op's events before reading them)
  * and the Janino compile-time histogram. */
object SparkInternals {

  /** Block until every event posted so far has reached the listeners. */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** (compiles so far, summed compile milliseconds so far). The histogram
    * keeps every sample until its 1028-entry reservoir fills; past that
    * the sum is estimated as count × mean of the retained samples. */
  def codegenTotals(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val n = h.getCount
    val sum =
      if (snap.size >= n) snap.getValues.map(_.toDouble).sum
      else snap.getMean * n
    (n, sum)
  }
}
