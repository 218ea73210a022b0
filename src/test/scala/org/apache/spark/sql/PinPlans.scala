package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The pins a body makes, as a QueryExecutionListener receives them:
  * every [[GraftInternal.pinRecomputable]] runs as one SQL execution
  * named "pin". (In this package to drain the `private[spark]`
  * listener bus before reading them.)
  */
object PinPlans {

  /** The value of `body` and the query executions of the pins it made. */
  def during[T](spark: SparkSession)(body: => T): (T, Seq[QueryExecution]) = {
    val pins = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        if (funcName == "pin") { pins.add(qe); () }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    val bus = spark.sparkContext.listenerBus
    bus.waitUntilEmpty()
    spark.listenerManager.register(listener)
    try {
      val out = body
      bus.waitUntilEmpty()
      import scala.jdk.CollectionConverters._
      (out, pins.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
