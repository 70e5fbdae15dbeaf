package org.apache.spark

/** Test-side drain of the context's listener bus, which Spark keeps
  * package-private: once it returns, every event posted so far has
  * reached every listener.
  */
object ListenerBusProbe {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
