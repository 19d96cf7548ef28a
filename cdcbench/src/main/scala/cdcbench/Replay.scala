package cdcbench

import java.time.{LocalDate, ZoneOffset}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.jobs.Jobs
import graft.model.TableSpec
import graft.ops.CdcOps
import graft.schema.SchemaProvider
import graft.sources.{Lake, RawSource}

/** Size and op mix of a replay workload.
  *
  * Keys `[0, replicaKeys)` are bootstrapped as snapshot reads on day 0.
  * The first `deletePool` of them are the only keys ever deleted, each at
  * most once; updates land only on the rest (a `hotShare` of them on the
  * first `hotKeys` of the rest); every insert is a fresh key. So no key
  * gets two op kinds in one day, and every event has its own timestamp:
  * the two cases where the reference merge and a latest-event-per-key
  * fold disagree by design never occur.
  */
final case class ReplayShape(replicaKeys: Long, eventsPerDay: Int,
                             insertShare: Double, deleteShare: Double,
                             hotKeys: Long, hotShare: Double, maxDays: Int) {
  val inserts: Int = math.round(eventsPerDay * insertShare).toInt
  val deletes: Int = math.round(eventsPerDay * deleteShare).toInt
  val updates: Int = eventsPerDay - inserts - deletes
  val deletePool: Long = math.max(1L, maxDays.toLong * deletes)
  require(deletePool + math.max(hotKeys, 1L) < replicaKeys, s"$this: key pools overlap")
}

/** Replays generated days of change events through the pipeline entry
  * points in the order the scheduled DAG runs them: raw ingest of the
  * day's envelope files, `dailyMerge(ds)`, then `historyMerge(ds + 1)`,
  * which merges day `ds` into `<table>_history`.
  */
final class Replay(spark: SparkSession, shape: ReplayShape, seed: Long, work: String,
                   meter: Meter, trace: Trace, tracing: Boolean) {
  private val spec = TableSpec("acct", "cdcbench", Seq("ID"),
    s"$work/raw", s"$work/ckpt/raw", "cdc.acct")
  private val inDir = s"$work/in"
  private val base = LocalDate.of(2024, 1, 1)
  private def date(d: Int): LocalDate = base.plusDays(d.toLong)

  // seeded affine permutations: event order within a day, delete order
  private val rnd = new scala.util.Random(seed)
  private def coprime(n: Long): Long =
    Iterator.continually(1L + (rnd.nextLong() & Long.MaxValue) % n)
      .find(a => BigInt(a).gcd(BigInt(n)) == 1).get
  private val eventA = coprime(shape.eventsPerDay)
  private val eventB = (rnd.nextLong() & Long.MaxValue) % shape.eventsPerDay
  private val delA = coprime(shape.deletePool)
  private val delB = (rnd.nextLong() & Long.MaxValue) % shape.deletePool

  private def h(parts: Column*): Column = xxhash64(lit(seed) +: parts: _*)

  /** Day `d`'s change events, structured: `key, ts, op` and the payload
    * columns (null on deletes). Day 0 is the bootstrap snapshot.
    */
  def events(d: Int): DataFrame = {
    val start = date(d).atStartOfDay(ZoneOffset.UTC).toEpochSecond * 1000000L
    val n = if (d == 0) shape.replicaKeys else shape.eventsPerDay.toLong
    val i = col("id")
    val (ins, del) = (shape.inserts.toLong, shape.deletes.toLong)
    val op =
      if (d == 0) lit("r")
      else when(i < ins, "c").when(i < ins + del, "d").otherwise("u")
    val rest = shape.replicaKeys - shape.deletePool
    val updateKey = lit(shape.deletePool) + (
      if (shape.hotKeys > 0)
        when(pmod(h(lit(d), i, lit(1)), lit(1000000L)) < math.round(shape.hotShare * 1e6),
          pmod(h(lit(d), i, lit(2)), lit(shape.hotKeys)))
          .otherwise(pmod(h(lit(d), i, lit(2)), lit(rest)))
      else pmod(h(lit(d), i, lit(2)), lit(rest)))
    val key =
      if (d == 0) i
      else when(i < ins, lit(shape.replicaKeys + (d - 1L) * ins) + i)
        .when(i < ins + del,
          pmod(lit(delA) * (lit((d - 1L) * del) + i - ins) + lit(delB), lit(shape.deletePool)))
        .otherwise(updateKey)
    // one millisecond per event slot, slots permuted: unique timestamps
    val slot = if (d == 0) i else pmod(lit(eventA) * i + lit(eventB), lit(n))
    val live = col("op") =!= "d"
    spark.range(n).select(i, op.as("op"))
      .select(key.as("key"), timestamp_micros(lit(start) + slot * 1000L).as("ts"),
        col("op"),
        when(live, concat(lit("name-"), pmod(h(lit(d), i, lit(3)), lit(1000000L)).cast("string")))
          .as("name"),
        when(live, pmod(h(lit(d), i, lit(4)), lit(1000000000L))).as("balance"),
        when(live, element_at(array(lit("A"), lit("B"), lit("C"), lit("D")),
          (pmod(h(lit(d), i, lit(5)), lit(4L)) + 1).cast("int"))).as("status"),
        when(live, lit(d * 10000000L) + i).as("version"))
  }

  /** The envelopes the program receives: Debezium-style JSON payloads. */
  private def envelopes(d: Int): DataFrame =
    events(d).select(col("ts").as("timestamp"), to_json(struct(
      col("key").as("ID"), col("name").as("NAME"), col("balance").as("BALANCE"),
      col("status").as("STATUS"), col("version").as("VERSION"), col("op").as("__op"),
      (col("op") === "d").cast("string").as("__deleted"))).as("value"))

  /** Write day `d`'s envelope files and move them into the stream's
    * input directory, so the file source never sees a partial file.
    */
  def generate(d: Int): Unit = {
    val staged = s"$work/gen/day-$d"
    envelopes(d).write.parquet(staged)
    val dir = new java.io.File(staged)
    new java.io.File(inDir).mkdirs()
    dir.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      require(f.renameTo(new java.io.File(inDir, f"day-$d%05d-${f.getName}")), s"move $f")
    }
    dir.listFiles().foreach(_.delete())
    dir.delete()
  }

  // ---------------------------------------------------------------
  // the three stages
  // ---------------------------------------------------------------

  /** Stage name → (seconds, engine counters) for one day. */
  type DayResult = Map[String, (Double, Map[String, Double])]

  private def stage(name: String, d: Int)(body: => Unit): (String, (Double, Map[String, Double])) = {
    val s0 = meter.snapshot()
    val (_, secs) = Stats.time(trace.span(s"jobs.$name", s"day-$d")(body))
    name -> (secs, meter.between(s0, meter.snapshot()))
  }

  def bootstrap(): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS ${spec.db}")
    generate(0)
    trace.span("jobs.raw_ingest", "day-0")(Jobs.rawIngest(RawSource.fileStream(spark, inDir), spec))
    // no history table yet: this is the backfill path of historyMerge
    trace.span("jobs.history_merge", "day-0")(Jobs.historyMerge(spark, spec, date(1)))
  }

  /** Run day `d` through the three stages. In a traced run, `probe`
    * also runs the layer probes between ingest and merges; they warm the
    * caches the merges then read, so a probed day's stage spans are not
    * reported, and the `jobs.*` spans come from the days without probes.
    */
  def day(d: Int, probe: Boolean): (DayResult, Map[String, Double]) = {
    val ds = date(d)
    val raw = stage("raw_ingest", d)(Jobs.rawIngest(RawSource.fileStream(spark, inDir), spec))
    val probes =
      if (tracing && probe) trace.span("probe", s"day-$d")(this.probe(d))
      else Map.empty[String, Double]
    val daily = stage("daily_merge", d)(Jobs.dailyMerge(spark, spec, ds))
    // the history merge truncates the daily table: count its files now
    val dailyFiles =
      if (tracing) Files.dataFiles(spark, tableLocation(spec.dailyTable)).length else 0
    val history = stage("history_merge", d)(Jobs.historyMerge(spark, spec, ds.plusDays(1)))
    val result = Map(raw, daily, history)
    val after =
      if (!tracing) Map.empty[String, Double]
      else trace.span("probe.after", s"day-$d")(afterDay(d, result, probes, dailyFiles))
    (result, probes ++ after)
  }

  // ---------------------------------------------------------------
  // layer probes (traced runs only)
  // ---------------------------------------------------------------

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def timed(name: String, d: Int)(body: => Unit): Double =
    Stats.time(trace.span(name, s"day-$d")(body))._2

  /** Materialize each layer's public call on day `d`'s data to the noop
    * sink, before the merges run, so `ops.merge_s` sees the replica the
    * history merge is about to rewrite.
    */
  private def probe(d: Int): Map[String, Double] = {
    val ds = date(d)
    val day = Lake.readDay(spark, spec.dataDir, ds.getYear, ds.getMonthValue,
      ds.getDayOfMonth, spec.format)
    val read = timed("sources.read_day", d)(noop(day))
    val infer = timed("schema.infer", d)(
      SchemaProvider.Inferred.schemaFor(day.drop(Lake.partitionColumns: _*)): Unit)
    val readEvents = timed("jobs.read_day_events", d)(
      Jobs.readDayEvents(spark, spec, ds, lowerNames = true).foreach(noop))
    val ev = Jobs.readDayEvents(spark, spec, ds, lowerNames = true).get
      .distinct().persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val ops = ev.groupBy(CdcOps.OpColumn).count().collect()
        .map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
      val keysTouched = ev.select(spec.primaryKeys.map(col): _*).distinct().count()
      val routed = CdcOps.routeOps(ev, spec.primaryKeys)
      val route = timed("ops.route", d)(
        Seq(routed.inserts, routed.updates, routed.deleteKeys).foreach(noop))
      val lww = timed("ops.lww", d)(
        noop(CdcOps.lastWriterWins(routed.updates, spec.primaryKeys, spec.orderColumns)))
      val tombstones = routed.deleteKeys.unionByName(
        CdcOps.lastWriterWins(routed.updates, spec.primaryKeys, spec.orderColumns)
          .select(spec.primaryKeys.map(col): _*)).count()
      val replica = spark.table(spec.historyTable)
      val rowsIn = replica.count()
      // the same anti-join path the history merge takes at this size
      val beyond = routed.updates.count() + routed.deleteKeys.count() > broadcastLimit
      val merge = timed("ops.merge", d)(noop(CdcOps.mergeBatch(replica, routed,
        spec.primaryKeys, spec.orderColumns, tombstonesBeyondBroadcast = beyond)))
      Map(
        "sources.read_day_s" -> read, "schema.infer_s" -> infer,
        "schema.parse_s" -> math.max(0.0, readEvents - read - infer),
        "ops.route_s" -> route, "ops.lww_s" -> lww, "ops.merge_s" -> merge,
        "ops.events_c" -> ops.getOrElse("c", 0.0), "ops.events_r" -> ops.getOrElse("r", 0.0),
        "ops.events_u" -> ops.getOrElse("u", 0.0), "ops.events_d" -> ops.getOrElse("d", 0.0),
        "ops.tombstones" -> tombstones.toDouble, "ops.replica_rows_in" -> rowsIn.toDouble,
        "ops.keys_touched" -> keysTouched.toDouble,
        "ops.anti_join_bloom" -> (if (beyond) 1.0 else 0.0))
    } finally ev.unpersist(blocking = true)
  }

  private def broadcastLimit: Long =
    spark.conf.getOption("graft.cdc.tombstoneBroadcastLimit").map(_.toLong).getOrElse(1L << 22)

  private def afterDay(d: Int, result: DayResult, probes: Map[String, Double],
                       dailyFiles: Int): Map[String, Double] = {
    val ds = date(d)
    val historyWritten = result("history_merge")._2("spark.output_rows")
    val rawDir = f"${spec.dataDir}/op_year=${ds.getYear}/op_month=${ds.getMonthValue}/op_day=${ds.getDayOfMonth}"
    // a probed day gives the rewrite ratio, a day without probes the stage spans
    val byKind =
      if (probes.nonEmpty)
        Map("ops.rewrite_ratio" -> historyWritten / math.max(1.0, probes("ops.keys_touched")))
      else Seq("raw_ingest", "daily_merge", "history_merge")
        .map(st => s"jobs.${st}_s" -> result(st)._1).toMap
    byKind ++ Map(
      "sources.bytes_written" ->
        (result("daily_merge")._2("spark.output_bytes") + result("history_merge")._2("spark.output_bytes")),
      "sources.files_written" ->
        (dailyFiles + Files.dataFiles(spark, tableLocation(spec.historyTable)).length).toDouble,
      "raw.rows_written" -> result("raw_ingest")._2("spark.output_rows"),
      "raw.files_written" -> Files.dataFiles(spark, rawDir).length.toDouble,
      "ops.replica_rows_out" -> spark.table(spec.historyTable).count().toDouble)
  }

  private def tableLocation(table: String): String =
    spark.sql(s"DESCRIBE TABLE EXTENDED $table").where(col("col_name") === "Location")
      .select("data_type").head().getString(0)

  /** On-disk bytes and live rows of the replica. */
  def replicaSize(): (Long, Long) =
    (Files.dataFiles(spark, tableLocation(spec.historyTable)).map(_._2).sum,
      spark.table(spec.historyTable).count())

  // ---------------------------------------------------------------
  // correctness gate
  // ---------------------------------------------------------------

  /** Check `<table>_history` row for row against the state a plain-SQL
    * latest-event-per-key fold of every generated event through day
    * `last` gives: equal row counts and equal order-independent sums of
    * a 64-bit hash of each row. Returns the number of rows missing from,
    * or extra to, the expected state (0 when the replica is exact).
    */
  def mismatches(last: Int, corrupt: Option[String]): Long = {
    (0 to last).map(events).reduce(_ unionByName _).createOrReplaceTempView("cdcbench_events")
    val expected = spark.sql(
      """SELECT r.ts AS timestamp, r.key AS id, r.name, r.balance, r.status, r.version
        |FROM (SELECT max_by(struct(ts, key, op, name, balance, status, version), ts) AS r
        |      FROM cdcbench_events GROUP BY key)
        |WHERE r.op <> 'd'""".stripMargin)
    val replica = spark.table(spec.historyTable)
      .select(expected.columns.map(c => col(c).cast(expected.schema(c).dataType)): _*)
    val actual = corrupt match {
      case Some("drop") => replica.where(col("id") =!= replica.agg(min("id")).head().getLong(0))
      case Some("alter") =>
        val k = replica.agg(min("id")).head().getLong(0)
        replica.withColumn("balance", when(col("id") === k, col("balance") + 1)
          .otherwise(col("balance")))
      case Some(other) => sys.error(s"unknown --corrupt-replica mode $other")
      case None => replica
    }
    def digest(df: DataFrame) = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)"))).head()
    if (digest(expected) == digest(actual)) 0L
    else expected.exceptAll(actual).count() + actual.exceptAll(expected).count()
  }
}

object Replay {
  val shapes: Map[String, ReplayShape] = Map(
    // a large replica and a small fixed day: the merge rewrites the
    // whole replica every day, while parse and ingest stay small
    "replay_large_replica" -> ReplayShape(replicaKeys = 1250000L, eventsPerDay = 20000,
      insertShare = 0.10, deleteShare = 0.10, hotKeys = 0L, hotShare = 0.0, maxDays = 60),
    // a small replica and a large day, most updates on a hot key set:
    // inference, parsing and last-writer-wins dominate
    "replay_large_batch" -> ReplayShape(replicaKeys = 100000L, eventsPerDay = 300000,
      insertShare = 0.005, deleteShare = 0.005, hotKeys = 2000L, hotShare = 0.9, maxDays = 24))
}

object Files {
  /** (path, bytes) of the data files under `dir`, skipping the
    * `_SUCCESS` markers and hidden checksum files.
    */
  def dataFiles(spark: SparkSession, dir: String): Seq[(String, Long)] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else {
      val it = fs.listFiles(p, true)
      val out = Seq.newBuilder[(String, Long)]
      while (it.hasNext) {
        val f = it.next()
        val n = f.getPath.getName
        if (!n.startsWith("_") && !n.startsWith(".")) out += f.getPath.toString -> f.getLen
      }
      out.result()
    }
  }
}
