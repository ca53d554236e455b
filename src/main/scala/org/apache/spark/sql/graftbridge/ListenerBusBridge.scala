package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Bridge to the context's `private[spark]` listener bus. Lives under
  * `org.apache.spark` purely for access; no Spark internals are modified.
  */
object ListenerBusBridge {

  /** Blocks until every event posted so far has been delivered to every
    * listener; throws `TimeoutException` if the bus does not drain.
    */
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
