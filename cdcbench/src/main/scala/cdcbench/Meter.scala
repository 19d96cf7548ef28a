package cdcbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** Engine-side counters, gathered from outside the program by one
  * SparkListener: every figure is a running total, and callers take a
  * [[Meter.Snapshot]] before and after the call they attribute.
  */
final class Meter(sc: SparkContext) {
  private val jobs, tasks, runMs, gcMs, shRead, shWrite, spill, outBytes, outRows =
    new AtomicLong
  // (start ms, end ms) of every finished job, for the driver-gap figure
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val intervals = new ConcurrentLinkedQueue[(Long, Long)]()

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(): Unit
      jobStart.put(e.jobId, e.time): Unit
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach(s => intervals.add((s, e.time)): Unit)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet(): Unit
      val m = e.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime): Unit
        gcMs.addAndGet(m.jvmGCTime): Unit
        shRead.addAndGet(m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead): Unit
        shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten): Unit
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled): Unit
        outBytes.addAndGet(m.outputMetrics.bytesWritten): Unit
        outRows.addAndGet(m.outputMetrics.recordsWritten): Unit
      }
    }
  })

  def snapshot(): Meter.Snapshot = {
    // listener events arrive asynchronously: drain the bus so the
    // totals include every job the measured call has already finished
    Meter.drain(sc)
    Meter.Snapshot(System.currentTimeMillis(), jobs.get, tasks.get, runMs.get,
      gcMs.get, shRead.get, shWrite.get, spill.get, outBytes.get, outRows.get)
  }

  /** Engine figures for the interval between two snapshots. */
  def between(a: Meter.Snapshot, b: Meter.Snapshot): Map[String, Double] = {
    val wall = (b.wallMs - a.wallMs).toDouble
    Map(
      "spark.jobs" -> (b.jobs - a.jobs).toDouble,
      "spark.tasks" -> (b.tasks - a.tasks).toDouble,
      "spark.executor_run_s" -> (b.runMs - a.runMs) / 1e3,
      "spark.driver_gap_s" -> math.max(0.0, wall - covered(a.wallMs, b.wallMs)) / 1e3,
      "spark.gc_s" -> (b.gcMs - a.gcMs) / 1e3,
      "spark.shuffle_read_bytes" -> (b.shRead - a.shRead).toDouble,
      "spark.shuffle_write_bytes" -> (b.shWrite - a.shWrite).toDouble,
      "spark.spill_bytes" -> (b.spill - a.spill).toDouble,
      "spark.output_bytes" -> (b.outBytes - a.outBytes).toDouble,
      "spark.output_rows" -> (b.outRows - a.outRows).toDouble)
  }

  /** Milliseconds of [from, to] covered by at least one job. */
  private def covered(from: Long, to: Long): Double = {
    val clipped = intervals.asScala.iterator
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var total = 0L
    var end = from
    clipped.foreach { case (s, e) =>
      if (e > end) { total += e - math.max(s, end); end = e }
    }
    total.toDouble
  }
}

object Meter {
  final case class Snapshot(wallMs: Long, jobs: Long, tasks: Long, runMs: Long,
                            gcMs: Long, shRead: Long, shWrite: Long, spill: Long,
                            outBytes: Long, outRows: Long)

  val metricNames: Seq[String] = Seq("spark.jobs", "spark.tasks", "spark.executor_run_s",
    "spark.driver_gap_s", "spark.gc_s", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.output_bytes")

  private def drain(sc: SparkContext): Unit =
    org.apache.spark.cdcbench.Bus.waitUntilEmpty(sc)
}
