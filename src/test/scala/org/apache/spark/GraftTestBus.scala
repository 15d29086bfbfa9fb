package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: a spec
  * reads its listener counters only after every event posted so far has
  * been delivered, and can count the listeners registered on it.
  */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Listeners on the bus whose class is named `simpleName`. */
  def listenersNamed(sc: SparkContext, simpleName: String): Int = {
    import scala.jdk.CollectionConverters._
    sc.listenerBus.listeners.asScala.count(_.getClass.getSimpleName == simpleName)
  }
}
