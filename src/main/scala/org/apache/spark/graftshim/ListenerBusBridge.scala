package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** Bridge to the `private[spark]` listener-bus drain. The bus delivers
  * events asynchronously; once `drain` returns, every event posted
  * before the call (the job starts and task ends of an action that has
  * returned) has reached every listener. Lives under org.apache.spark.*
  * solely for access, like the `sql.graftshim` bridges.
  */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
