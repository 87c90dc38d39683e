package org.apache.spark

/** Test access to the `private[spark]` listener bus: listener events are
  * delivered asynchronously, so a spec that counts jobs with a listener
  * waits for every posted event first. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
