package org.apache.spark

import java.util.concurrent.TimeUnit

/** The one Spark-private call the benchmark needs: wait until every
  * listener event posted so far has been delivered, so a phase's counters
  * are complete before they are read. Spark's default wait is 10 s, which a
  * stalled shared host can exceed; this waits up to two minutes. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(TimeUnit.MINUTES.toMillis(2))
}
