package org.apache.spark

/** Blocks until every event posted so far has reached every listener:
  * listeners see job starts asynchronously, so a spec that counts jobs
  * must drain the bus before it reads its counter. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
