package org.apache.spark

/** Lets the benchmark's traced run wait until every listener event of
  * the op it just finished has been delivered, so each event is
  * attributed to the op that caused it. The bus is `private[spark]`;
  * this is the benchmark's only reach past the public API, and only the
  * traced run uses it. */
object ClifbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
