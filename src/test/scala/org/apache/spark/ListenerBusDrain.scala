package org.apache.spark

/** Test access to the package-private listener bus: block until every
  * event posted so far has reached the registered listeners, so a test
  * can read what a `SparkListener` saw for the jobs it just ran. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
