package graft

import scala.jdk.CollectionConverters._

/** Ad-hoc single-query timing main for perf iteration:
  * `sbt "runMain graft.Time <sfDir> <query> [passes]"` (local cores
  * from `SPARK_GRAFT_CPUS`, default 8) — runs one
  * declared query through the same noop-sink methodology as Bench and
  * prints per-pass seconds, plus per-pass codegen-compilation deltas
  * (new Janino compilations + generated bytecode) and JIT/GC clocks —
  * the counters that separate "the plan is slow" from "the JVM is
  * still warming in on this plan's generated classes" (the round-10
  * graph_hits median-vs-best gap) — and the pass's peak heap: the sum
  * of the heap pools' peak usage since the pass began, an upper bound
  * on the driver's peak, as the pools peak at different moments.
  */
object Time {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val passes = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = graft.session.Sessions.localBench(cpus, cpus, "graft-time")
    val cg = org.apache.spark.metrics.source.CodegenMetrics
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    def gcMs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .stream.mapToLong(_.getCollectionTime).sum
    val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    (1 to passes).foreach { p =>
      val (c0, b0, j0, g0) = (cg.METRIC_COMPILATION_TIME.getCount,
        cg.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount,
        jit.getTotalCompilationTime, gcMs)
      heapPools.foreach(_.resetPeakUsage())
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"[time] $name pass $p: ${(System.nanoTime() - t0) / 1e9}%.3f s  " +
        s"janino_new=${cg.METRIC_COMPILATION_TIME.getCount - c0} " +
        s"classes_new=${cg.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount - b0} " +
        s"jit_ms=${jit.getTotalCompilationTime - j0} gc_ms=${gcMs - g0} " +
        s"heap_peak_mb=${heapPools.map(_.getPeakUsage.getUsed).sum >> 20}")
    }
    spark.stop()
  }
}
