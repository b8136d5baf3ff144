package org.apache.spark

import org.apache.spark.metrics.source.CodegenMetrics

/** Reads the JVM-wide Janino compile histogram. The histogram keeps an
  * exact count but only a sample of the per-compile times, so the total
  * compile time of an interval is estimated as count × sample mean. */
object PerfbenchCodegen {
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def meanCompileMs: Double = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
}
