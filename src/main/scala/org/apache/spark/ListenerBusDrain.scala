package org.apache.spark

/** Access to the listener bus drain (`private[spark]`): a listener's
  * counts are read only after every event posted so far is delivered.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
