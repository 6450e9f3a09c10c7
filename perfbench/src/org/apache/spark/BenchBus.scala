package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * a traced pass must not detach its listeners while events are queued. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
