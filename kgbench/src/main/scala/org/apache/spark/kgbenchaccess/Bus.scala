package org.apache.spark.kgbenchaccess

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private. The
  * benchmark waits for it to empty before it reads the counts of a
  * span, so that no event of the span is still queued. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
