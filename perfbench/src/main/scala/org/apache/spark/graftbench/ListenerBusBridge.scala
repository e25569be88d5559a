package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the listener bus drain, which Spark keeps package-private.
  * The tracer drains the bus at each operation boundary so that every
  * job, task and query-execution event of an operation is delivered
  * before the operation's record is closed.
  */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
