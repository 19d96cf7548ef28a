package graft

import java.io.File
import java.sql.Timestamp
import java.time.LocalDate

import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.Jobs
import graft.model.TableSpec
import graft.ops.CdcOps
import graft.sources.{Lake, MergeOnRead}
import graft.streaming.StreamingUpsert
import graft.streaming.StreamingUpsert.KeyState

/** Crash-point sweeps over graft's commits ([[CrashFileSystem]]): a stage
  * runs once to count its mutating file-system calls, then once per call
  * with that call failing, each time from the same starting directory.
  * After every crash the readers must see the old state or the new one,
  * and a clean rerun must land the new one.
  */
class CrashSweepSpec extends AnyFunSuite {
  lazy val spark = {
    val s = TestSpark.spark
    CrashFileSystem.register(s)
    s
  }
  import TestSpark.spark.implicits._

  /** Sweep `stage` over `dir`, from the state `dir` holds now: run it once
    * to count its mutating calls and to take the `view` it lands, then
    * once per call with that call failing. After each crash `view` must
    * read the old state or the landed one; `rerun(k)` checks what the
    * crash at call k left, then reruns the stage, which must land the
    * same view. `dir` is left as the uncrashed stage lands it. Returns
    * the number of crash points.
    */
  private def sweep[A](dir: String, stage: => Unit, view: => A)(rerun: Int => Unit): Int = {
    val saved = new File(TestSpark.scratchDir("crash-saved"), "dir")
    FileUtils.copyDirectory(new File(dir), saved)
    def restore(): Unit = {
      FileUtils.deleteDirectory(new File(dir))
      FileUtils.copyDirectory(saved, new File(dir))
    }
    val old = view
    val n = CrashFileSystem.callsOf(stage)
    val landed = view
    assert(n > 0)
    for (k <- 1 to n) {
      restore()
      CrashFileSystem.crashingAt(k)(stage)
      val seen = view
      assert(seen == old || seen == landed, s"crash at call $k of $n")
      rerun(k)
      assert(view == landed, s"rerun after a crash at call $k of $n")
    }
    restore()
    stage
    n
  }

  /** The names of the files a reader of `dir` lists. */
  private def dataFiles(dir: String): Set[String] =
    new File(dir).listFiles.map(_.getName).filterNot(n => n.startsWith("_") || n.startsWith(".")).toSet

  /** A clean rerun of `stage` completes and leaves in `dir` only the
    * files it wrote, with no `_temporary` directory.
    */
  private def rerunLeavesOnlyItsOwnFiles(dir: String)(stage: => Unit): Unit = {
    val before = dataFiles(dir)
    stage
    val after = dataFiles(dir)
    assert(after.nonEmpty && (after intersect before).isEmpty, s"left behind: ${after intersect before}")
    assert(!new File(dir, "_temporary").exists)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  test("Lake.compact of a raw day: after a crash at any mutating call the day keeps " +
      "its rows and the lake reads; a rerun leaves only its own files") {
    val lake = TestSpark.scratchDir("crash-lake")
    def append(day: Int, ids: Seq[Int]): Unit = Lake.appendPartitioned(CdcOps.withDatePartitions(
      ids.map(i => (Timestamp.valueOf(f"2024-01-$day%02d 00:00:$i%02d"),
        s"""{"ID":"$i","__op":"c","__deleted":"false"}""")).toDF("timestamp", "value")), lake)
    append(1, Seq(1, 2))
    // three ingest batches into day 2, one of them replayed
    Seq(Seq(1, 2), Seq(3), Seq(3)).foreach(append(2, _))
    val dayDir = s"$lake/op_year=2024/op_month=1/op_day=2"
    assert(dataFiles(dayDir).size == 4)
    def day = rows(Lake.readDay(spark, lake, 2024, 1, 2))
    def all = rows(Lake.readAll(spark, lake))
    val (dayBefore, allBefore) = (day, all)
    def compact = Lake.compact(spark, CrashFileSystem.path(dayDir), targetBytes = 1L << 30): Unit

    // readers collapse duplicate rows: the view is the distinct rows
    val points = sweep(dayDir, compact, (day.distinct, all.distinct)) { k =>
      // no row is lost: every row is still there, as often as it was
      assert(dayBefore.diff(day).isEmpty && allBefore.diff(all).isEmpty, s"crash at call $k")
      rerunLeavesOnlyItsOwnFiles(dayDir)(compact)
    }
    assert(points > 4)
    info(s"$points crash points")
    // uncrashed, the compaction keeps the rows exactly
    assert(day == dayBefore && all == allBefore && dataFiles(dayDir).size == 1)
  }

  test("compactLog: after a crash at any mutating call the log reads the same current " +
      "state; a rerun leaves one row per key in its own files") {
    val log = TestSpark.scratchDir("crash-log") + "/log"
    Seq(
      Seq(KeyState("k1", 1, "c", """{"ID":"k1","V":"a"}"""), KeyState("k2", 2, "c", """{"ID":"k2","V":"b"}"""),
        KeyState("k3", 3, "c", """{"ID":"k3","V":"c"}""")),
      Seq(KeyState("k1", 5, "u", """{"ID":"k1","V":"a2"}"""), KeyState("k2", 6, "d", "")),
      // a replayed batch re-appends its rows
      Seq(KeyState("k1", 5, "u", """{"ID":"k1","V":"a2"}"""), KeyState("k4", 7, "c", """{"ID":"k4","V":"d"}""")))
      .foreach(_.toDS().write.mode("append").parquet(log))
    val schema = org.apache.spark.sql.types.StructType.fromDDL("ID STRING, V STRING")
    def current = rows(StreamingUpsert.readCurrent(spark, log, schema))
    // tombstones included: they must keep suppressing late arrivals
    def latest = rows(StreamingUpsert.latestPerKey(spark.read.parquet(log).as[KeyState]).toDF())
    val latestBefore = latest
    assert(current.size == 3 && latestBefore.size == 4)
    def compact = StreamingUpsert.compactLog(spark, CrashFileSystem.path(log)): Unit

    val points = sweep(log, compact, (current, latest)) { _ =>
      rerunLeavesOnlyItsOwnFiles(log)(compact)
      assert(rows(spark.read.parquet(log)) == latestBefore)
    }
    assert(points > 3)
    info(s"$points crash points")
  }

  test("MergeOnRead's day commits (an append, a compaction, a truncation): after a crash " +
      "at any mutating call the table reads its old or its new state; a rerun lands the new") {
    val root = TestSpark.scratchDir("crash-mor")
    // the table's root is a crash: path: its database's location is set
    // after the database is created, as the catalog cannot create it
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_crash")
    spark.sql(s"ALTER DATABASE graft_crash SET LOCATION '${CrashFileSystem.path(s"$root/db")}'")
    val spec = TableSpec("mor", "graft_crash", Seq("ID"), s"$root/lake", s"$root/ckpt", "topic")
    spark.sql(s"DROP TABLE IF EXISTS ${spec.historyTable}")
    def append(day: Int, events: Seq[(String, Int, String)]): Unit =
      Lake.appendPartitioned(CdcOps.withDatePartitions(events.map { case (op, i, v) =>
        (Timestamp.valueOf(f"2024-01-$day%02d 00:00:${i % 60}%02d"),
          s"""{"ID":"$i","P":${if (v == null) "null" else s""""$v""""},"__op":"$op","__deleted":"false"}""")
      }.toDF("timestamp", "value")), spec.dataDir)
    def merge(ds: Int): Unit = Jobs.historyMerge(spark, spec, LocalDate.of(2024, 1, ds))
    // by column name: a compaction puts the key columns first, where the
    // backfill kept the payload's order
    def state = {
      val t = spark.table(spec.historyTable)
      (rows(t.select(t.columns.sorted.toSeq.map(t.col): _*)), t.schema.sortBy(_.name))
    }
    append(1, (1 to 30).map(i => ("r", i, s"P$i")))
    merge(2) // backfill: base-0 holds 30 rows
    val at = new Path(Bridge.catalogTable(spark, spec.historyTable).location).toUri.getPath
    def deltas = MergeOnRead.latest(spark, at).deltas.size

    def sweepTable(stage: => Unit): Int = sweep(at, stage, state)(_ => stage)

    // one update a day: the log takes three before the fourth day's
    // batch passes Alpha of the base's 30 rows, as in JobsSpec
    append(2, Seq(("u", 1, "P2")))
    val appendPoints = sweepTable(merge(3))
    assert(deltas == 1)
    for (d <- 3 to 4) { append(d, Seq(("u", 1, s"P$d"))); merge(d + 1) }
    assert(deltas == 3)
    append(5, Seq(("d", 2, null)))
    val compactPoints = sweepTable(merge(6))
    assert(deltas == 0 && spark.table(spec.historyTable).count() == 29)
    val truncatePoints = sweepTable(MergeOnRead.truncate(spark, spec.historyTable, spec.primaryKeys, "parquet"))
    assert(spark.table(spec.historyTable).isEmpty)
    info(s"crash points: append $appendPoints, compaction $compactPoints, truncation $truncatePoints")
  }
}
