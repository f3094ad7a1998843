package org.apache.spark

/** Waits until every queued listener event has been delivered, so counters
  * read after a span ends include all of that span's jobs, stages, tasks
  * and stream progress events. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
