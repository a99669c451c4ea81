package org.apache.spark.graftbridge

import scala.reflect.ClassTag
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerInterface

/** Core-side private-API shim (the scheduler twin of
  * [[org.apache.spark.sql.graftbridge.Bridge]]).
  *
  * Spark posts listener events asynchronously; a benchmark that reads a
  * metrics accumulator right after `collect()` races the bus and
  * attributes late task-end events to the NEXT query. `waitUntilEmpty`
  * is `private[spark]`, so the drain lives in an org.apache.spark
  * subpackage — the same access path Spark's own test utilities use.
  */
object CoreBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The listeners of class `T` attached to `sc`. */
  def listeners[T <: SparkListenerInterface: ClassTag](sc: SparkContext): Seq[T] =
    sc.listenerBus.findListenersByClass[T]()
}
