package org.apache.spark.perfbenchbus

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; the traced run drains
  * it at the end of every span so that listener callbacks for the span's
  * work are attributed before the next span starts. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
