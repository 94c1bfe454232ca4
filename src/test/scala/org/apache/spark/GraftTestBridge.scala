package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * a spec that counts jobs with a SparkListener drains the bus before
  * it reads the count, so every event of the measured call has been
  * delivered. */
object GraftTestBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
