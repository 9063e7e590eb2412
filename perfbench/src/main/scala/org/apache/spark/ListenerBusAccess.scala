package org.apache.spark

/** The listener bus delivers events asynchronously; its drain call is
  * package-private, so the benchmark reaches it from inside the package
  * before it reads listener counters. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
