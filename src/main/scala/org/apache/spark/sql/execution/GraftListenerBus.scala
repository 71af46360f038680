package org.apache.spark.sql.execution

import scala.reflect.ClassTag

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerInterface

/** The two listener-bus calls graft needs and Spark keeps
  * `private[spark]` (same escape hatch as `GraftCheckpointStats`):
  * looking up a registered listener by class, so an install can be
  * idempotent, and waiting until every posted event has been
  * delivered, so a reader never guesses how long the asynchronous bus
  * lags behind.
  */
object GraftListenerBus {

  def listeners[T <: SparkListenerInterface: ClassTag](
      sc: SparkContext): Seq[T] =
    sc.listenerBus.findListenersByClass[T]()

  /** Blocks until the bus has delivered every event posted so far.
    * An action's task-end events are posted before the action
    * returns, so after this they have all been seen.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
