package cdcbench

import org.apache.spark.sql.SparkSession

import graft.session.Sessions

/** One benchmark run: set up, replay days or run query passes in a
  * closed loop for `--seconds`, check the outputs, and write the result
  * object to `<work>/result.json`, its seconds as measured. `run.py`
  * builds and launches this, and scales the end-to-end seconds by the
  * host speed it probes before the run, at the [[pause]] between setup
  * and the timed operations, and after the run (see [[Calib]]).
  *
  * {{{
  * cdcbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <dir> --data <analytics table dir> --fingerprints <file>
  *   [--trace-out <file>] [--write-fingerprints <file>]
  *   [--corrupt-replica drop|alter]
  * }}}
  *
  * `--write-fingerprints` regenerates the analytics fingerprints from
  * the current code; `--corrupt-replica` drops or alters one replica row
  * before the replay gate, to show that the gate rejects it.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, tracing: Boolean,
                        work: String, data: String, fingerprints: String,
                        traceOut: Option[String], writeFingerprints: Option[String],
                        corrupt: Option[String])

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v
      case other => sys.error(s"bad arguments: ${other.mkString(" ")}") }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("data"), need("fingerprints"),
      kv.get("trace-out"), kv.get("write-fingerprints"), kv.get("corrupt-replica"))
  }

  /** Every per-layer metric the traced run reports, on every workload;
    * a layer the workload does not touch reads 0.
    */
  val perLayer: Seq[String] = Seq(
    "jobs.raw_ingest_s", "jobs.daily_merge_s", "jobs.history_merge_s",
    "sources.read_day_s", "sources.overwrite_s", "sources.bytes_written",
    "sources.files_written", "raw.rows_written", "raw.files_written",
    "schema.infer_s", "schema.parse_s",
    "ops.route_s", "ops.lww_s", "ops.merge_s", "ops.events_c", "ops.events_r",
    "ops.events_u", "ops.events_d", "ops.tombstones", "ops.replica_rows_in",
    "ops.replica_rows_out", "ops.keys_touched", "ops.rewrite_ratio", "ops.anti_join_bloom") ++
    Meter.metricNames ++
    Analytics.queries.flatMap(q => Seq(s"query.${q}_s", s"query.$q.gc_s")) ++
    Seq("shared_build.pp_s", "shared_build.p1_s", "shared_build.total_s",
      "trace.op_p50_s", "trace.setup_s", "trace.probe_s", "op.samples")

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors
    // the library's own bench session; its warehouse path is relative, so
    // it lands in the run's work directory, the launcher's working directory
    val spark = Sessions.localBench(cores, cores, "cdcbench")
    val trace = new Trace(args.tracing)
    val meter = new Meter(spark.sparkContext)
    val out =
      try {
        if (Replay.shapes.contains(args.workload))
          replay(spark, args, Replay.shapes(args.workload), jvmStart, meter, trace)
        else if (args.workload == "analytics_heavy") analytics(spark, args, jvmStart, meter, trace)
        else sys.error(s"unknown workload ${args.workload}")
      } finally {
        args.traceOut.foreach(p => trace.write(java.nio.file.Paths.get(p)))
        spark.stop()
        Sessions.cleanupScratch()
      }
    java.nio.file.Files.write(java.nio.file.Paths.get(args.work, "result.json"),
      out.getBytes("UTF-8"))
  }

  private def result(correct: Boolean, attempted: Int, failed: Int,
                     metrics: Map[String, (Double, String)],
                     detail: Seq[(String, Any)]): String =
    Json.obj(Seq("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }.toMap,
      "detail" -> detail.toMap))

  private def unitOf(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("bytes") || name.endsWith("bytes_written")) "bytes"
    else if (name.endsWith("ratio")) "ratio"
    else "count"

  private def layerMetrics(values: Map[String, Double]): Map[String, (Double, String)] =
    perLayer.map(n => n -> (values.getOrElse(n, 0.0), unitOf(n))).toMap

  private def sinceStart(jvmStart: Long): Double =
    (System.currentTimeMillis() - jvmStart) / 1e3

  /** Hand over to the launcher between setup and the timed operations:
    * create `<work>/pause`, then wait for `<work>/resume`. Meanwhile
    * `run.py` stops this JVM (SIGSTOP), probes the host speed from a JVM
    * of its own, and lets this one continue, so nothing this JVM has
    * left running can slow the probe.
    */
  private def pause(work: String): Unit = {
    val resume = new java.io.File(work, "resume")
    require(new java.io.File(work, "pause").createNewFile(), "pause marker exists")
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!resume.exists()) {
      require(System.nanoTime() < deadline, "no resume from the launcher within 60 s")
      Thread.sleep(10)
    }
    resume.delete(): Unit
  }

  // ---------------------------------------------------------------

  private def replay(spark: SparkSession, args: Args, shape: ReplayShape, jvmStart: Long,
                     meter: Meter, trace: Trace): String = {
    val r = new Replay(spark, shape, args.seed, args.work, meter, trace, args.tracing)
    var attempted = 0
    val session = sinceStart(jvmStart)
    val (_, boot) = Stats.time { r.bootstrap(); attempted += 2 }
    // untimed warm-up day: pays codegen and most of the JIT of the merge path
    val (_, warm) = Stats.time { r.generate(1); r.day(1, probe = false); attempted += 3 }
    val setup = sinceStart(jvmStart)
    pause(args.work)

    // Timed days. A traced run probes the layers on every other day and
    // takes its stage spans from the days in between.
    val days = scala.collection.mutable.ArrayBuffer.empty[(Double, r.DayResult, Map[String, Double])]
    // at least four: a median over more than three days, and in a traced
    // run two days of each kind
    val minDays = 4
    val loop0 = System.nanoTime()
    var d = 2
    // never past the generator's key pools
    while ((days.length < minDays || (System.nanoTime() - loop0) / 1e9 < args.seconds) &&
           d <= shape.maxDays) {
      r.generate(d)
      val probed = args.tracing && days.length % 2 == 0
      val t0 = System.nanoTime()
      val (stages, layer) = r.day(d, probed)
      attempted += 3
      val wall = stages.values.map(_._1).sum
      val probeS = if (probed) Map("trace.probe_s" -> ((System.nanoTime() - t0) / 1e9 - wall))
                   else Map.empty[String, Double]
      days += ((wall, stages, layer ++ probeS))
      d += 1
    }
    val last = d - 1
    val (wrong, check) = Stats.time(r.mismatches(last, args.corrupt))
    val (replicaBytes, replicaRows) = r.replicaSize()

    val dayS = days.map(_._1).toSeq
    def stageP50(s: String) = Stats.median(days.map(_._2(s)._1).toSeq)
    val events = days.length.toLong * shape.eventsPerDay
    val written = days.map(_._2.values.map(_._2("spark.output_bytes")).sum).sum
    // per-layer figures: each the median over the days that report it;
    // stage wall time and engine totals from the days without probes
    val clean = days.filterNot(_._3.contains("trace.probe_s"))
    val perDay: Map[String, Double] = (days.flatMap(_._3.toSeq) ++ clean.flatMap { case (_, stages, _) =>
      Meter.metricNames.map(m => m -> stages.values.map(_._2(m)).sum) })
      .groupBy(_._1).map { case (k, vs) => k -> Stats.median(vs.map(_._2).toSeq) }
    val layer = perDay.get("ops.merge_s").fold(perDay)(merge => perDay +
      ("sources.overwrite_s" -> math.max(0.0, perDay("jobs.history_merge_s") - merge)))

    val failed = if (wrong == 0) 0 else 1
    val e2e = Map("setup_s" -> (setup, "s"), "op_p50_s" -> (Stats.median(dayS), "s"))
    val detail = Seq(
      "workload" -> args.workload, "seed" -> args.seed, "replica_keys" -> shape.replicaKeys,
      "setup_session_s" -> session, "setup_bootstrap_s" -> boot, "setup_warmup_s" -> warm,
      "events_per_day" -> shape.eventsPerDay, "inserts_per_day" -> shape.inserts,
      "updates_per_day" -> shape.updates, "deletes_per_day" -> shape.deletes,
      "hot_keys" -> shape.hotKeys, "hot_share" -> shape.hotShare,
      "timed_days" -> days.length, "last_day" -> last, "day_s" -> dayS,
      "stage_s" -> Seq("raw_ingest", "daily_merge", "history_merge")
        .map(st => st -> days.map(_._2(st)._1).toSeq).toMap,
      "day_p50_s" -> Stats.median(dayS),
      "day_tail" -> Stats.tail(dayS).map { case (p, v) => Map(p -> v) }.getOrElse(Map.empty),
      "events_per_s" -> events / dayS.sum,
      "raw_ingest_p50_s" -> stageP50("raw_ingest"),
      "daily_merge_p50_s" -> stageP50("daily_merge"),
      "history_merge_p50_s" -> stageP50("history_merge"),
      "bytes_written_per_event" -> written / events,
      "replica_rows" -> replicaRows, "replica_bytes_per_row" -> replicaBytes.toDouble / replicaRows,
      "replica_mismatched_rows" -> wrong, "check_s" -> check,
      "error_rate" -> failed.toDouble / attempted)
    val metrics =
      if (!args.tracing) e2e
      else layerMetrics(layer ++ Map("trace.op_p50_s" -> Stats.median(clean.map(_._1).toSeq),
        "trace.setup_s" -> setup, "op.samples" -> clean.length.toDouble))
    result(wrong == 0, attempted, failed, metrics, detail)
  }

  // ---------------------------------------------------------------

  private def analytics(spark: SparkSession, args: Args, jvmStart: Long,
                        meter: Meter, trace: Trace): String = {
    val names = Analytics.queries
    val expected = if (args.writeFingerprints.isDefined) Map.empty[String, (Long, String)]
                   else Analytics.readFingerprints(args.fingerprints)
    val order = new scala.util.Random(args.seed)
    var attempted = 0
    var failed = 0
    val wrong = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val got = scala.collection.mutable.Map.empty[String, (Long, String)]

    // One pass runs every query, in a seeded order, materialized through
    // its fingerprint (every row and column is hashed) and checked
    // against the committed one. Query → (seconds, engine counters).
    def pass(p: Int): Map[String, (Double, Map[String, Double])] =
      order.shuffle(names).map { q =>
        attempted += 1
        val s0 = meter.snapshot()
        val (fp, secs) = Stats.time(trace.span(s"query.$q", s"pass-$p")(
          Analytics.fingerprint(Analytics.query(spark, args.data, q))))
        got(q) = fp
        if (args.writeFingerprints.isEmpty && !expected.get(q).contains(fp)) {
          failed += 1
          wrong(q) = s"got $fp, committed ${expected.get(q)}"
        }
        q -> (secs, meter.between(s0, meter.snapshot()))
      }.toMap

    // untimed warm-up pass: pays codegen, most of the JIT and the
    // memoized shared builds
    val warmup = pass(0)
    args.writeFingerprints.foreach(Analytics.writeFingerprints(_, got.toSeq.sortBy(_._1)))
    val shared = graft.SparkEntry.sharedBuildSeconds(spark)
    val setup = sinceStart(jvmStart)
    pause(args.work)

    val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, (Double, Map[String, Double])]]
    val loop0 = System.nanoTime()
    while (passes.length < 2 || (System.nanoTime() - loop0) / 1e9 < args.seconds)
      passes += pass(passes.length + 1)

    val passS = passes.map(_.values.map(_._1).sum).toSeq
    val queryP50 = names.map(q => q -> Stats.median(passes.map(_(q)._1).toSeq)).toMap
    val layer: Map[String, Double] =
      names.flatMap(q => Seq(s"query.${q}_s" -> queryP50(q),
        s"query.$q.gc_s" -> Stats.median(passes.map(_(q)._2("spark.gc_s")).toSeq))).toMap ++
      Meter.metricNames.map(m => m -> Stats.median(passes.map(_.values.map(_._2(m)).sum).toSeq)) ++
      Map("shared_build.total_s" -> shared.values.sum, "trace.op_p50_s" -> Stats.median(passS),
        "trace.setup_s" -> setup, "op.samples" -> passes.length.toDouble) ++
      shared.map { case (tag, s) => s"shared_build.${tag}_s" -> s }

    val detail = Seq(
      "workload" -> args.workload, "seed" -> args.seed, "tables" -> args.data,
      "queries" -> names, "timed_passes" -> passes.length, "pass_s" -> passS,
      "pass_p50_s" -> Stats.median(passS),
      "analytics_total_s" -> queryP50.values.sum,
      "query_p50_s" -> queryP50, "warmup_query_s" -> warmup.map { case (q, (t, _)) => q -> t },
      "shared_build_s" -> shared,
      "fingerprint_mismatches" -> wrong.toMap,
      "error_rate" -> failed.toDouble / attempted)
    val metrics =
      if (!args.tracing)
        Map("setup_s" -> (setup, "s"), "op_p50_s" -> (Stats.median(passS), "s"))
      else layerMetrics(layer)
    result(failed == 0, attempted, failed, metrics, detail)
  }
}
