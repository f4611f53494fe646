package org.apache.spark

/** The listener bus's drain, which Spark keeps package-private: a test that
  * counts jobs through a `SparkListener` reads its counts only after every
  * event posted so far has been handled.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
