package org.apache.spark.graftbridge

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Counts the Spark jobs and the SQL executions a block starts, and the
  * bytes its tasks write.
  * The listener bus delivers events on a thread of its own, so it is
  * drained before the listener is added and again after the block;
  * draining it is `private[spark]`.
  */
object JobCounter {
  def jobsOf(sc: SparkContext)(body: => Unit): Int = {
    val jobs = new AtomicInteger
    listening(sc, new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    })(body)
    jobs.get
  }

  def executionsOf(sc: SparkContext)(body: => Unit): Int = {
    val executions = new AtomicInteger
    listening(sc, new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => executions.incrementAndGet(): Unit
        case _ =>
      }
    })(body)
    executions.get
  }

  def bytesWrittenBy(sc: SparkContext)(body: => Unit): Long = {
    val bytes = new AtomicLong
    listening(sc, new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => bytes.addAndGet(m.outputMetrics.bytesWritten))
    })(body)
    bytes.get
  }

  private def listening(sc: SparkContext, listener: SparkListener)(body: => Unit): Unit = {
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      body
      sc.listenerBus.waitUntilEmpty()
    } finally sc.removeSparkListener(listener)
  }
}
