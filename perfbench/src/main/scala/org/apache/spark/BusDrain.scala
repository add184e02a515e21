package org.apache.spark

/** Blocks until the listener bus has delivered every posted event (the
  * scheduler, SQL-execution and streaming listeners all hang off it), so a
  * counter read after an operation includes that operation. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
