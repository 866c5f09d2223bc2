package org.apache.spark

/** Core-side twin of [[org.apache.spark.sql.GraftSqlBridge]]: re-export
  * the one `private[spark]` member tooling needs. `LiveListenerBus
  * .waitUntilEmpty` drains the async listener bus DETERMINISTICALLY —
  * the per-entry job/stage/task attribution in `graft.tools.Inspect`
  * previously relied on fixed `Thread.sleep`s, which skew counts when
  * event delivery is slower than the sleep (round-16 ADVICE item).
  */
object GraftCoreBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
