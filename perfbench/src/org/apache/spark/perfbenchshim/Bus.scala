package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Access to the listener bus's drain, which Spark keeps package-private:
  * listeners see events asynchronously, and a traced run must not read its
  * counts before every event of its timed phase has been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
