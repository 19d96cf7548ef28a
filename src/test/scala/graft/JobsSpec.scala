package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.time.LocalDate

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.JobContext
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.{AlterTableEvent, DropTableEvent, ExternalCatalogEvent, ExternalCatalogEventListener}
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.Jobs
import graft.model.TableSpec
import graft.ops.CdcOps
import graft.sources.{Lake, MergeOnRead, RawSource}

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

  /** The LWW fold of every raw event, with the history layer's lowered
    * column names unless `lowerNames` is false.
    */
  private def foldOfAll(spec: TableSpec, lowerNames: Boolean = true): DataFrame =
    CdcOps.foldMerge(Jobs.parseRaw(Lake.readAll(spark, spec.dataDir)
      .drop(Lake.partitionColumns: _*), lowerNames).distinct(),
      spec.primaryKeys, spec.orderColumns)

  test("a payload column that appears on day 2 reaches the daily and the history table") {
    val (spec, append) = freshLake("drift")
    // the catalog posts its events on the calling thread
    val drops = new java.util.concurrent.atomic.AtomicInteger
    val catalog = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.externalCatalog
    val listener = new ExternalCatalogEventListener {
      override def onEvent(e: ExternalCatalogEvent): Unit = e match {
        case _: DropTableEvent => drops.incrementAndGet(): Unit
        case _ =>
      }
    }
    catalog.addListener(listener)
    try {
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
    } finally catalog.removeListener(listener)
    // each widening altered the schema in place
    assert(drops.get == 0)
  }

  private def onDisk(dir: Path): Seq[String] =
    new java.io.File(dir.toUri).listFiles.map(_.getName).filterNot(_.startsWith(".")).sorted.toSeq

  /** `<root>` and its version directories `<root>__v<n>` beside it. */
  private def versionsOf(dir: Path): Seq[String] =
    new java.io.File(dir.getParent.toUri).listFiles.map(_.getName)
      .filter(n => n == dir.getName.replaceAll("__v\\d+$", "") ||
        n.startsWith(dir.getName.replaceAll("__v\\d+$", "") + "__v")).sorted.toSeq

  /** Snapshot rows of `n` keys, so that a few days of one-event batches
    * fit in the history table's log before a compaction.
    */
  private def snapshot(n: Int): Seq[(Timestamp, String)] =
    (1 to n).map(i => envelope(ts(1, i % 60), "r", s"$i", s"P$i"))

  test("three history merges append three deltas at one location; a fourth compacts them") {
    val (spec, append) = freshLake("versions")
    append(snapshot(30))
    Jobs.historyMerge(spark, spec, LocalDate.of(2024, 1, 2)) // backfill
    val loc = location(spec.historyTable)
    // one event a day: the log holds 3 of them before the fourth day's
    // batch passes Alpha (0.1) of the base's 30 rows
    for (d <- 2 to 4) {
      append(Seq(envelope(ts(d, 1), "u", "1", s"P$d")))
      Jobs.historyMerge(spark, spec, LocalDate.of(2024, 1, d + 1))
      assert(location(spec.historyTable) == loc)
      assert(rowsOf(spark.table(spec.historyTable)) == rowsOf(foldOfAll(spec)))
    }
    assert(onDisk(loc) == Seq("_graft_log", "base-0", "delta-1", "delta-2", "delta-3"))
    assert(MergeOnRead.latest(spark, loc.toString).deltas.map(_.dir) ==
      Seq("delta-1", "delta-2", "delta-3"))
    assert(versionsOf(loc) == Seq(loc.getName))

    append(Seq(envelope(ts(5, 1), "d", "2", null)))
    Jobs.historyMerge(spark, spec, LocalDate.of(2024, 1, 6))
    assert(location(spec.historyTable) == loc)
    assert(onDisk(loc) == Seq("_graft_log", "base-4"))
    assert(onDisk(new Path(loc, "_graft_log")) == Seq("4"))
    assert(rowsOf(spark.table(spec.historyTable)) == rowsOf(foldOfAll(spec)))
    assert(spark.table(spec.historyTable).count() == 29)
  }

  test("the first compaction after a backfill keeps the history table's columns and " +
      "alters no catalog entry") {
    val (spec, append) = freshLake("order")
    append(snapshot(30))
    Jobs.historyMerge(spark, spec, LocalDate.of(2024, 1, 2)) // backfill
    val columns = spark.table(spec.historyTable).columns.toSeq
    val loc = location(spec.historyTable)
    // the catalog posts its events on the calling thread
    val alters = new java.util.concurrent.atomic.AtomicInteger
    val catalog = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.externalCatalog
    val listener = new ExternalCatalogEventListener {
      override def onEvent(e: ExternalCatalogEvent): Unit = e match {
        case _: AlterTableEvent => alters.incrementAndGet(): Unit
        case _ =>
      }
    }
    catalog.addListener(listener)
    // three days append deltas, the fourth compacts them (as in the
    // versions case above)
    try for (d <- 2 to 5) {
      append(Seq(envelope(ts(d, 1), "u", "1", s"P$d")))
      Jobs.historyMerge(spark, spec, LocalDate.of(2024, 1, d + 1))
      assert(spark.table(spec.historyTable).columns.toSeq == columns, s"day $d")
    } finally catalog.removeListener(listener)
    assert(onDisk(loc) == Seq("_graft_log", "base-4"), "the fourth merge compacts")
    assert(alters.get == 0)
    assert(rowsOf(spark.table(spec.historyTable)) == rowsOf(foldOfAll(spec)))
  }

  test("delta files that no manifest entry names are ignored; the rerun replaces them") {
    val (spec, append) = freshLake("retry")
    append(snapshot(30))
    Jobs.historyMerge(spark, spec, LocalDate.of(2024, 1, 2)) // backfill
    val before = rowsOf(spark.table(spec.historyTable))
    val loc = location(spec.historyTable)
    val partial = new Path(loc, "delta-1")
    Seq((ts(9, 9), "junk", "junk")).toDF("timestamp", "id", "product").write.parquet(partial.toString)
    assert(rowsOf(spark.table(spec.historyTable)) == before)

    append(Seq(envelope(ts(2, 1), "u", "1", "DEPOSIT"), envelope(ts(2, 2), "d", "2", null)))
    Jobs.historyMerge(spark, spec, LocalDate.of(2024, 1, 3))
    assert(MergeOnRead.latest(spark, loc.toString).deltas.map(_.dir) == Seq("delta-1"))
    assert(rowsOf(spark.table(spec.historyTable)) == rowsOf(foldOfAll(spec)))
    assert(spark.table(spec.historyTable).count() == 29)
    assert(spark.read.parquet(partial.toString).where($"id" === "junk").isEmpty)
  }

  /** `table` as an older version left it: `rows` as a plain parquet table
    * at `<root>__v1`, registered with plain SQL, beside a stale `<root>`
    * (version 0) that a crash after a repoint left behind. Returns
    * `<root>__v1`.
    */
  private def legacyTable(table: String, rows: DataFrame): Path = {
    val root = Bridge.defaultTablePath(spark, table)
    val at = new Path(root.getParent, s"${root.getName}__v1")
    rows.write.parquet(at.toString)
    spark.sql(s"CREATE TABLE $table USING parquet LOCATION '$at'")
    Seq(1).toDF("x").write.parquet(root.toString)
    at
  }

  /** `table` is a merge-on-read table at version `n` of the root of `old`,
    * and no other version directory of that root is left.
    */
  private def assertConverted(table: String, old: Path, n: Int): Unit = {
    val now = location(table)
    assert(Bridge.catalogTable(spark, table).provider.contains(MergeOnRead.Provider))
    assert(now.getName == old.getName.replace("__v1", s"__v$n"))
    assert(versionsOf(now) == Seq(now.getName))
  }

  test("a history table an older version wrote as parquet is converted by its " +
      "first merge; its version directories are deleted") {
    val (spec, append) = freshLake("convert")
    append(day1)
    val old = legacyTable(spec.historyTable, foldOfAll(spec))
    append(day2)
    Jobs.historyMerge(spark, spec, LocalDate.of(2024, 1, 3))
    assertConverted(spec.historyTable, old, 2)
    assert(rowsOf(spark.table(spec.historyTable)) == rowsOf(foldOfAll(spec)))
  }

  test("a conversion that crashed after committing its new root, before registering it, " +
      "reruns at the next free version; every older version is deleted") {
    val (spec, append) = freshLake("reconvert")
    append(day1)
    val old = legacyTable(spec.historyTable, foldOfAll(spec))
    // the crash left the new root with its entry 0 committed, and the
    // catalog on the old table
    val crashed = new Path(old.getParent, old.getName.replace("__v1", "__v2"))
    MergeOnRead.create(spark, crashed.toString, foldOfAll(spec), spec.primaryKeys, "parquet")
    append(day2)
    Jobs.historyMerge(spark, spec, LocalDate.of(2024, 1, 3))
    assertConverted(spec.historyTable, old, 3)
    assert(rowsOf(spark.table(spec.historyTable)) == rowsOf(foldOfAll(spec)))
  }

  test("a daily table an older version wrote as parquet is converted by its first " +
      "daily merge; its version directories are deleted") {
    val (spec, append) = freshLake("dailyconvert")
    append(day1)
    val old = legacyTable(spec.dailyTable, foldOfAll(spec, lowerNames = false))
    append(day2)
    Jobs.dailyMerge(spark, spec, LocalDate.of(2024, 1, 2))
    assertConverted(spec.dailyTable, old, 2)
    val daily = spark.table(spec.dailyTable).select($"ID", $"PRODUCT").as[(String, String)]
      .collect().toMap
    assert(daily == Map("1" -> "DEPOSIT", "2" -> "CARD2"))
  }

  test("a daily table an older version wrote as parquet is converted by its first " +
      "truncation, which keeps its schema") {
    val (spec, append) = freshLake("truncconvert")
    append(day1)
    val old = legacyTable(spec.dailyTable, foldOfAll(spec, lowerNames = false))
    val schema = spark.table(spec.dailyTable).schema
    Jobs.historyMerge(spark, spec, LocalDate.of(2024, 1, 2)) // backfill, truncates daily
    assertConverted(spec.dailyTable, old, 2)
    assert(spark.table(spec.dailyTable).count() == 0)
    assert(spark.table(spec.dailyTable).schema == schema)
    append(day2)
    Jobs.dailyMerge(spark, spec, LocalDate.of(2024, 1, 2))
    assert(location(spec.dailyTable).getName == old.getName.replace("__v1", "__v2"))
    val daily = spark.table(spec.dailyTable).select($"ID", $"PRODUCT").as[(String, String)]
      .collect().toMap
    assert(daily == Map("1" -> "DEPOSIT", "2" -> "CARD2"))
  }

  // Day 1 is in both tables when the stage's job commit fails on day 2,
  // whose batch also brings a new column. The stage is the history merge
  // of day 2 (which would truncate the daily table) or its daily merge.
  Seq[(String, (SparkSession, TableSpec) => Unit)](
    "history" -> ((s, spec) => Jobs.historyMerge(s, spec, LocalDate.of(2024, 1, 3))),
    "daily" -> ((s, spec) => Jobs.dailyMerge(s, spec, LocalDate.of(2024, 1, 2)))
  ).foreach { case (stage, merge) =>
    test(s"a $stage merge whose job commit fails leaves the replica intact; " +
        "the rerun lands the batch") {
      val (spec, append) = freshLake(s"crash$stage")
      append(Seq(envelope(ts(1, 1), "r", "1", "LOAN"), envelope(ts(1, 2), "c", "2", "CARD"),
        envelope(ts(1, 3), "r", "3", "BOND")))
      Jobs.historyMerge(spark, spec, LocalDate.of(2024, 1, 2)) // backfill
      Jobs.dailyMerge(spark, spec, LocalDate.of(2024, 1, 1))
      val tables = Seq(spec.historyTable, spec.dailyTable)
      def state = tables.map(t => (rowsOf(spark.table(t)), spark.table(t).schema))
      val before = state
      assert(before.map(_._1.size) == Seq(3, 3))

      append(Seq(envelope(ts(2, 4), "u", "1", "DEPOSIT"), envelope(ts(2, 3), "u", "1", "SAVINGS"),
        envelope(ts(2, 5), "d", "2", null),
        (ts(2, 6), """{"ID":"4","PRODUCT":"FX","RATE":"0.05","__op":"c","__deleted":"false"}""")))
      // a session of its own, so no other suite's writes see the fault
      val faulty = spark.newSession()
      faulty.conf.set("spark.sql.sources.commitProtocolClass", classOf[FailingCommitProtocol].getName)
      intercept[Exception](merge(faulty, spec))
      assert(tables.forall(spark.catalog.tableExists), "the failed merge lost a table")
      // rows and schema of both tables; the daily table is not truncated
      assert(state == before)

      merge(spark, spec)
      if (stage == "history") {
        assert(rowsOf(spark.table(spec.historyTable)) == rowsOf(foldOfAll(spec)))
        assert(spark.table(spec.historyTable).count() == 3)
        assert(spark.table(spec.dailyTable).count() == 0)
      } else {
        val daily = spark.table(spec.dailyTable).select($"ID", $"PRODUCT", $"RATE")
          .as[(String, String, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
        assert(daily == Map("1" -> ("DEPOSIT", null), "3" -> ("BOND", null), "4" -> ("FX", "0.05")))
      }
    }
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
    // 40 more snapshot keys, so day 2's four events append a delta
    append(day1 ++ (3 to 42).map(i => envelope(ts(1, i % 60), "r", s"$i", s"P$i")))
    Jobs.dailyMerge(spark, spec, LocalDate.of(2024, 1, 1))
    val dailyAt = location(spec.dailyTable)
    Jobs.historyMerge(spark, spec, LocalDate.of(2024, 1, 2)) // backfill
    append(day2)
    val daily = jobsOf(spark.sparkContext)(Jobs.dailyMerge(spark, spec, LocalDate.of(2024, 1, 2)))
    val schema = spark.table(spec.dailyTable).schema
    val history = jobsOf(spark.sparkContext)(Jobs.historyMerge(spark, spec, LocalDate.of(2024, 1, 3)))
    assert(MergeOnRead.latest(spark, location(spec.historyTable).toString).deltas.size == 1)
    // the delta is written from the rows' dedup shuffle, tombstone keys
    // included: one data file (4 while the tombstones were written from
    // the batch checkpoint's partitions)
    assert(onDisk(new Path(location(spec.historyTable), "delta-1"))
      .count(_.startsWith("part-")) == 1)
    // 11 and 13 while each raw read inferred its schema from file footers,
    // each read probed `isEmpty`, the batch was checkpointed and counted
    // in separate jobs, the history batch was `distinct()`ed and the
    // truncation wrote an empty version; the history merge ran 7 while it
    // rewrote the whole table (two broadcasts over the table's scan)
    assert((daily, history) == ((7, 5)))
    assert(spark.table(spec.dailyTable).count() == 0)
    assert(spark.table(spec.dailyTable).schema == schema)
    // neither the merge nor the truncations moved the daily table
    assert(location(spec.dailyTable) == dailyAt)
    val hist = spark.table(spec.historyTable).where($"id".isin("1", "2"))
      .select($"id", $"product").as[(String, String)].collect().toMap
    assert(hist == Map("1" -> "DEPOSIT", "2" -> "CARD2"))
  }
}
