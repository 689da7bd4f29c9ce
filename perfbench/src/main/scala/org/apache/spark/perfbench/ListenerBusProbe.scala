package org.apache.spark.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext

/** Reads the listener bus's own drop counters (one per async event
  * queue, `queue.<name>.numDroppedEvents`). The bus is Spark-internal,
  * hence this file's package. */
object ListenerBusProbe {
  def droppedEvents(sc: SparkContext): Long =
    sc.listenerBus.metrics.metricRegistry.getCounters.asScala
      .collect { case (n, c) if n.endsWith(".numDroppedEvents") => c.getCount }
      .sum
}
