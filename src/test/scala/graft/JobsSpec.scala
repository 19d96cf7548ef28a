package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.time.LocalDate

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.JobContext
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.Jobs
import graft.model.TableSpec
import graft.ops.CdcOps
import graft.sources.{Lake, RawSource}

/** A file commit protocol whose job commit always fails: the task files
  * are written, the output is never committed.
  */
class FailingCommitProtocol(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
  override def commitJob(jobContext: JobContext, taskCommits: Seq[TaskCommitMessage]): Unit =
    throw new java.io.IOException("injected job commit failure")
}

/** End-to-end file-based pipeline (SURVEY §7.2): streaming raw ingest
  * (file source in Kafka's place) → daily merge → history merge, in a
  * temp lake under the session scratch dir.
  */
class JobsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(name: String): String = TestSpark.scratchDir(s"jobs-$name")

  private def ts(day: Int, i: Int) = Timestamp.valueOf(f"2024-01-$day%02d 00:00:$i%02d")

  private def envelope(t: Timestamp, op: String, id: String, product: String): (Timestamp, String) =
    (t, s"""{"ID":"$id","PRODUCT":${if (product == null) "null" else s""""$product""""},"__op":"$op","__deleted":"false"}""")

  test("writeClustered produces disjoint per-file key ranges and preserves rows") {
    val dir = tmp("clustered")
    val df = spark.range(0, 1000).select(
      (col("id") * 7919 % 1000).as("k"), col("id").as("payload"))
    Lake.writeClustered(df, dir, Seq("k"), nFiles = 4)

    val back = spark.read.parquet(dir)
    assert(back.count() == 1000)
    assert(back.agg(sum("payload")).as[Long].head() == (0L until 1000).sum)

    // range-partitioned files: per-file [min,max] on k must not overlap
    val files = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".parquet"))
    assert(files.length <= 4 && files.length >= 2)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f.getAbsolutePath)
        .agg(min("k"), max("k")).as[(Long, Long)].head()
      r
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi <= lo)
      case _ =>
    }
  }

  test("writeZOrdered interleaves correctly and keeps BOTH columns' file ranges tight") {
    // reference Morton implementation, driver-side
    def morton(x: Long, y: Long, bits: Int): Long =
      (0 until bits).map(i => (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))).sum
    val probe = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (65535L, 65535L), (65536L, 1L))
      .toDF("x", "y")
    val got = probe.select(col("x"), col("y"), Lake.zValue(col("x"), col("y")).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.foreach { case (x, y, z) => assert(z == morton(x & 0xFFFF, y & 0xFFFF, 16)) }

    // a 2-d grid written z-ordered: every file's span on EACH key must be
    // a fraction of the full domain (a lexicographic sort would leave one
    // key's span at ~full range in every file)
    val dir = tmp("zorder")
    val n = 64
    val grid = spark.range(0, n.toLong * n).select(
      (col("id") % n).as("a"), floor(col("id") / n).cast("long").as("b"))
    Lake.writeZOrdered(grid, dir, "a", "b", nFiles = 16)
    val files = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".parquet"))
    assert(files.length >= 8)
    val spans = files.map { f =>
      val (alo, ahi, blo, bhi) = spark.read.parquet(f.getAbsolutePath)
        .agg(min("a"), max("a"), min("b"), max("b")).as[(Long, Long, Long, Long)].head()
      (ahi - alo, bhi - blo)
    }
    val (avgA, avgB) = (spans.map(_._1).sum.toDouble / spans.length,
      spans.map(_._2).sum.toDouble / spans.length)
    assert(avgA < n * 0.6, s"mean a-span $avgA not tight")
    assert(avgB < n * 0.6, s"mean b-span $avgB not tight")
  }

  test("bucketed co-located join plans with zero exchanges") {
    val a = spark.range(0, 500).select(col("id").as("k"), (col("id") * 2).as("va"))
    val b = spark.range(0, 500).select(col("id").as("k"), (col("id") * 3).as("vb"))
    a.write.mode("overwrite").bucketBy(4, "k").sortBy("k").saveAsTable("bkt_a")
    b.write.mode("overwrite").bucketBy(4, "k").sortBy("k").saveAsTable("bkt_b")
    val j = spark.table("bkt_a").hint("merge")
      .join(spark.table("bkt_b").hint("merge"), "k")
    assert(j.count() == 500)
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
  }

  test("kafkaOptions carries the reference's exact source options, with " +
      "the SASL block only when both credentials are present") {
    val spec = TableSpec("t", "graft_db", Seq("ID"), "/d", "/c", "cdc.topic")
    val plain = RawSource.kafkaOptions(spec, "broker:9092")
    assert(plain == Map(
      "kafka.bootstrap.servers" -> "broker:9092",
      "subscribe" -> "cdc.topic",
      "startingOffsets" -> "earliest",
      "failOnDataLoss" -> "false"))
    val sasl = RawSource.kafkaOptions(spec, "broker:9092",
      Some("svc"), Some("pw"))
    assert(sasl("kafka.security.protocol") == "SASL_PLAINTEXT")
    assert(sasl("kafka.sasl.mechanism") == "SCRAM-SHA-256")
    assert(sasl("kafka.sasl.jaas.config") ==
      "org.apache.kafka.common.security.scram.ScramLoginModule required " +
        """username="svc" password="pw";""")
    // half-provided credentials are a MISCONFIGURATION (password env
    // var unset) — fail fast, never silently connect without SASL
    intercept[IllegalArgumentException] {
      RawSource.kafkaOptions(spec, "broker:9092", Some("svc"), None)
    }
  }

  test("raw ingest streams envelopes into a date-partitioned lake exactly once") {
    val root = tmp("raw")
    val spec = TableSpec("t", "graft_db", Seq("ID"),
      s"$root/lake", s"$root/ckpt", "topic")
    val in = s"$root/in"
    Seq(envelope(ts(1, 1), "c", "1", "LOAN"), envelope(ts(2, 2), "c", "2", "CARD"))
      .toDF("timestamp", "value").write.parquet(in)

    Jobs.rawIngest(RawSource.fileStream(spark, in), spec)
    val lake = spark.read.parquet(spec.dataDir)
    assert(lake.count() == 2)
    assert(lake.columns.toSet == Set("timestamp", "value", "op_year", "op_month", "op_day"))
    assert(Lake.readDay(spark, spec.dataDir, 2024, 1, 2).count() == 1)

    // re-run with the same checkpoint: no new data, no duplicates
    Jobs.rawIngest(RawSource.fileStream(spark, in), spec)
    assert(spark.read.parquet(spec.dataDir).count() == 2)
  }

  // day 1: snapshot + insert; day 2: update (out-of-order pair), delete, re-insert
  private val day1 = Seq(
    envelope(ts(1, 1), "r", "1", "LOAN"),
    envelope(ts(1, 2), "c", "2", "CARD"))
  private val day2 = Seq(
    envelope(ts(2, 4), "u", "1", "DEPOSIT"),
    envelope(ts(2, 3), "u", "1", "SAVINGS"),
    envelope(ts(2, 5), "d", "2", null),
    envelope(ts(2, 6), "c", "2", "CARD2"))

  test("daily merge then history merge reproduce the expected replica state") {
    val root = tmp("merge")
    val spec = TableSpec("acct", "graft_db", Seq("ID"),
      s"$root/lake", s"$root/ckpt", "topic")
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_db")
    spark.sql(s"DROP TABLE IF EXISTS ${spec.dailyTable}")
    spark.sql(s"DROP TABLE IF EXISTS ${spec.historyTable}")

    Lake.appendPartitioned(
      graft.ops.CdcOps.withDatePartitions(day1.toDF("timestamp", "value")), spec.dataDir)
    Lake.appendPartitioned(
      graft.ops.CdcOps.withDatePartitions(day2.toDF("timestamp", "value")), spec.dataDir)

    Jobs.dailyMerge(spark, spec, LocalDate.of(2024, 1, 1))
    assert(spark.table(spec.dailyTable).count() == 2)

    Jobs.dailyMerge(spark, spec, LocalDate.of(2024, 1, 2))
    val daily = spark.table(spec.dailyTable)
      .select($"ID", $"PRODUCT").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(daily == Map("1" -> "DEPOSIT", "2" -> "CARD2"))

    // history backfill (table absent → full-raw scan), then daily truncated
    Jobs.historyMerge(spark, spec, LocalDate.of(2024, 1, 3))
    val hist = spark.table(spec.historyTable)
      .select(col("id"), col("product")).collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(hist == Map("1" -> "DEPOSIT", "2" -> "CARD2"))
    assert(spark.table(spec.dailyTable).count() == 0)
  }

  test("daily merge takes the bloom-pruned path when tombstones exceed " +
      "the broadcast limit, with identical results") {
    val root = tmp("bloommerge")
    val spec = TableSpec("bacct", "graft_db", Seq("ID"),
      s"$root/lake", s"$root/ckpt", "topic")
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_db")
    spark.sql(s"DROP TABLE IF EXISTS ${spec.dailyTable}")

    val day1 = (1 to 50).map(i => envelope(ts(1, i % 60), "c", s"$i", s"P$i"))
    val day2 = (1 to 30).map(i => envelope(ts(2, i % 60), "u", s"$i", s"Q$i")) ++
      (31 to 40).map(i => envelope(ts(2, i % 60), "d", s"$i", null))
    Lake.appendPartitioned(
      graft.ops.CdcOps.withDatePartitions(day1.toDF("timestamp", "value")), spec.dataDir)
    Lake.appendPartitioned(
      graft.ops.CdcOps.withDatePartitions(day2.toDF("timestamp", "value")), spec.dataDir)

    // limit 0: every batch counts as beyond-broadcast → bloom path e2e
    spark.conf.set("graft.cdc.tombstoneBroadcastLimit", "0")
    try {
      Jobs.dailyMerge(spark, spec, LocalDate.of(2024, 1, 1))
      Jobs.dailyMerge(spark, spec, LocalDate.of(2024, 1, 2))
    } finally spark.conf.unset("graft.cdc.tombstoneBroadcastLimit")
    val got = spark.table(spec.dailyTable)
      .select($"ID", $"PRODUCT").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val want = (1 to 30).map(i => s"$i" -> s"Q$i").toMap ++
      (41 to 50).map(i => s"$i" -> s"P$i").toMap
    assert(got == want)
  }

  test("history increment mode appends deduplicated rows") {
    val root = tmp("incr")
    val spec = TableSpec("facts", "graft_db", Seq("ID"),
      s"$root/lake", s"$root/ckpt", "topic", mode = "increment")
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_db")
    spark.sql(s"DROP TABLE IF EXISTS ${spec.historyTable}")

    val rows = Seq(
      envelope(ts(1, 1), "c", "1", "A"),
      envelope(ts(1, 1), "c", "1", "A"), // exact duplicate
      envelope(ts(1, 2), "c", "2", "B"))
    Lake.appendPartitioned(
      graft.ops.CdcOps.withDatePartitions(rows.toDF("timestamp", "value")), spec.dataDir)

    Jobs.historyMerge(spark, spec, LocalDate.of(2024, 1, 2)) // reads ds-1 = Jan 1
    assert(spark.table(spec.historyTable).count() == 2)
  }

  /** A fresh lake and spec whose tables do not exist yet, and a writer
    * of raw envelope rows into it.
    */
  private def freshLake(name: String): (TableSpec, Seq[(Timestamp, String)] => Unit) = {
    val root = tmp(name)
    val spec = TableSpec(name, "graft_db", Seq("ID"), s"$root/lake", s"$root/ckpt", "topic")
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_db")
    Seq(spec.dailyTable, spec.historyTable).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    (spec, rows => Lake.appendPartitioned(
      CdcOps.withDatePartitions(rows.toDF("timestamp", "value")), spec.dataDir))
  }

  private def location(table: String): Path = new Path(Bridge.catalogTable(spark, table).location)

  /** Rows as sorted strings, columns in name order (a merge puts the
    * key columns first, the backfill keeps the payload's order).
    */
  private def rowsOf(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col): _*).collect().map(_.toString).sorted.toSeq

  /** The LWW fold of every raw event, as the history layer names columns. */
  private def foldOfAll(spec: TableSpec): DataFrame =
    CdcOps.foldMerge(Jobs.parseRaw(Lake.readAll(spark, spec.dataDir)
      .drop(Lake.partitionColumns: _*), lowerNames = true).distinct(),
      spec.primaryKeys, spec.orderColumns)

  test("a payload column that appears on day 2 reaches the daily and the history table") {
    val (spec, append) = freshLake("drift")
    append(Seq(envelope(ts(1, 1), "c", "1", "LOAN"), envelope(ts(1, 2), "c", "2", "CARD")))
    Jobs.dailyMerge(spark, spec, LocalDate.of(2024, 1, 1))
    Jobs.historyMerge(spark, spec, LocalDate.of(2024, 1, 2)) // backfill, truncates daily
    append(Seq((ts(2, 1),
      """{"ID":"1","PRODUCT":"LOAN","RATE":"0.05","__op":"u","__deleted":"false"}""")))
    Jobs.dailyMerge(spark, spec, LocalDate.of(2024, 1, 2))
    val daily = spark.table(spec.dailyTable).select($"ID", $"RATE").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(daily == Map("1" -> "0.05"))

    Jobs.historyMerge(spark, spec, LocalDate.of(2024, 1, 3)) // merges day 2
    val hist = spark.table(spec.historyTable).select($"id", $"rate").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(hist == Map("1" -> Some("0.05"), "2" -> None))
    // the truncation keeps the new column
    assert(spark.table(spec.dailyTable).count() == 0)
    assert(spark.table(spec.dailyTable).columns.contains("RATE"))
  }

  test("after three history merges one version directory of the history table is on disk") {
    val (spec, append) = freshLake("versions")
    append(Seq(envelope(ts(1, 1), "c", "1", "P1")))
    Jobs.historyMerge(spark, spec, LocalDate.of(2024, 1, 2)) // backfill
    for (d <- 2 to 4) {
      append(Seq(envelope(ts(d, 1), "u", "1", s"P$d"), envelope(ts(d, 2), "c", s"${d + 10}", "N")))
      Jobs.historyMerge(spark, spec, LocalDate.of(2024, 1, d + 1))
    }
    val loc = location(spec.historyTable)
    assert(loc.getName.endsWith("__v3"), loc)
    val root = loc.getName.stripSuffix("__v3")
    val onDisk = new java.io.File(loc.toUri).getParentFile.listFiles.map(_.getName)
      .filter(n => n == root || n.startsWith(s"${root}__v"))
    assert(onDisk.toSeq == Seq(loc.getName))
    assert(rowsOf(spark.table(spec.historyTable)) == rowsOf(foldOfAll(spec)))
  }

  test("a history merge replaces the partial version directory a failed write left") {
    val (spec, append) = freshLake("retry")
    append(Seq(envelope(ts(1, 1), "c", "1", "LOAN"), envelope(ts(1, 2), "c", "2", "CARD")))
    Jobs.historyMerge(spark, spec, LocalDate.of(2024, 1, 2)) // backfill
    val before = location(spec.historyTable)
    val partial = new Path(before.getParent, s"${before.getName}__v1")
    Seq((ts(9, 9), "junk", "junk")).toDF("timestamp", "id", "product").write.parquet(partial.toString)

    append(Seq(envelope(ts(2, 1), "u", "1", "DEPOSIT"), envelope(ts(2, 2), "d", "2", null)))
    Jobs.historyMerge(spark, spec, LocalDate.of(2024, 1, 3))
    assert(location(spec.historyTable) == partial)
    assert(rowsOf(spark.table(spec.historyTable)) == rowsOf(foldOfAll(spec)))
    assert(spark.table(spec.historyTable).count() == 1)
    assert(!new java.io.File(before.toUri).exists())
  }

  test("a history merge whose job commit fails leaves the replica intact; " +
      "the rerun lands the batch") {
    val (spec, append) = freshLake("crash")
    append(Seq(envelope(ts(1, 1), "r", "1", "LOAN"), envelope(ts(1, 2), "c", "2", "CARD"),
      envelope(ts(1, 3), "r", "3", "BOND")))
    Jobs.historyMerge(spark, spec, LocalDate.of(2024, 1, 2)) // backfill
    val before = rowsOf(spark.table(spec.historyTable))
    assert(before.size == 3)

    append(Seq(envelope(ts(2, 4), "u", "1", "DEPOSIT"), envelope(ts(2, 3), "u", "1", "SAVINGS"),
      envelope(ts(2, 5), "d", "2", null), envelope(ts(2, 6), "c", "4", "FX")))
    // a session of its own, so no other suite's writes see the fault
    val faulty = spark.newSession()
    faulty.conf.set("spark.sql.sources.commitProtocolClass", classOf[FailingCommitProtocol].getName)
    intercept[Exception](Jobs.historyMerge(faulty, spec, LocalDate.of(2024, 1, 3)))
    assert(Lake.tableExists(spark, spec.historyTable), "the failed merge lost the replica")
    assert(rowsOf(spark.table(spec.historyTable)) == before)

    Jobs.historyMerge(spark, spec, LocalDate.of(2024, 1, 3))
    assert(rowsOf(spark.table(spec.historyTable)) == rowsOf(foldOfAll(spec)))
    assert(spark.table(spec.historyTable).count() == 3)
  }

  test("readDay lists and reads only the day's partition directory") {
    val (spec, append) = freshLake("readday")
    append(day1)
    append(day2)
    val day = Lake.readDay(spark, spec.dataDir, 2024, 1, 2)
    assert(day.inputFiles.nonEmpty && day.inputFiles.forall(_.contains("/op_day=2/")),
      day.inputFiles.mkString(", "))
    assert(day.schema == Lake.rawSchema)
    assert(day.select("op_day").as[Int].collect().toSeq == Seq.fill(4)(2))
  }

  test("readDayEvents: a missing day is None, a day of {} records is Some") {
    val (spec, append) = freshLake("emptyday")
    assert(Jobs.readDayEvents(spark, spec, LocalDate.of(2024, 1, 1)).isEmpty) // no raw root
    append(Seq((ts(1, 1), "{}"), (ts(1, 2), "{}")))
    assert(Jobs.readDayEvents(spark, spec, LocalDate.of(2024, 1, 2)).isEmpty) // no day directory
    val day = Jobs.readDayEvents(spark, spec, LocalDate.of(2024, 1, 1))
    assert(day.map(_.columns.toSeq).contains(Seq("timestamp")))
    assert(day.get.count() == 2)
  }

  test("a day's daily merge and history merge run a fixed number of Spark jobs; " +
      "the truncated daily table stays readable") {
    import org.apache.spark.graftbridge.JobCounter.jobsOf
    val (spec, append) = freshLake("jobcount")
    append(day1)
    Jobs.dailyMerge(spark, spec, LocalDate.of(2024, 1, 1))
    Jobs.historyMerge(spark, spec, LocalDate.of(2024, 1, 2)) // backfill
    append(day2)
    val daily = jobsOf(spark.sparkContext)(Jobs.dailyMerge(spark, spec, LocalDate.of(2024, 1, 2)))
    val schema = spark.table(spec.dailyTable).schema
    val history = jobsOf(spark.sparkContext)(Jobs.historyMerge(spark, spec, LocalDate.of(2024, 1, 3)))
    // 11 and 13 while each raw read inferred its schema from file footers,
    // each read probed `isEmpty`, the batch was checkpointed and counted
    // in separate jobs, the history batch was `distinct()`ed and the
    // truncation wrote an empty version
    assert((daily, history) == ((7, 7)))
    assert(spark.table(spec.dailyTable).count() == 0)
    assert(spark.table(spec.dailyTable).schema == schema)
    val hist = spark.table(spec.historyTable).select($"id", $"product").as[(String, String)]
      .collect().toMap
    assert(hist == Map("1" -> "DEPOSIT", "2" -> "CARD2"))
  }

  test("a commit deletes an older version directory that a crash left behind") {
    val (spec, append) = freshLake("sweep")
    append(day1)
    Jobs.historyMerge(spark, spec, LocalDate.of(2024, 1, 2)) // backfill
    val root = location(spec.historyTable)
    Seq(1).toDF("x").write.parquet(new Path(root.getParent, s"${root.getName}__v0").toString)
    append(day2)
    Jobs.historyMerge(spark, spec, LocalDate.of(2024, 1, 3))
    val now = location(spec.historyTable)
    val onDisk = new java.io.File(now.getParent.toUri).listFiles.map(_.getName)
      .filter(n => n == root.getName || n.startsWith(s"${root.getName}__v"))
    assert(onDisk.toSeq == Seq(now.getName))
  }
}
