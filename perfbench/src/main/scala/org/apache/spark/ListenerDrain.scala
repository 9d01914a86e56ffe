package org.apache.spark

/** Waits until every event posted so far has reached the listeners. The bus
  * is package-private, hence this file's package; the harness calls it after
  * each op so a trace never misses the op's last task and job events.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
