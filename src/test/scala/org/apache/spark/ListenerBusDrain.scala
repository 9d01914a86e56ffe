package org.apache.spark

/** Waits until every event posted so far has reached the listeners. The bus
  * is package-private, hence this file's package; specs that count jobs call
  * it before reading their listener.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
