package graft

import java.sql.Timestamp
import java.time.LocalDate

import org.apache.spark.graftbridge.JobCounter.bytesWrittenBy
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.Jobs
import graft.model.TableSpec
import graft.ops.CdcOps
import graft.sources.Lake

/** Aim 3 of the roadmap, "no daily step may cost O(replica)", as a
  * scaling check: the bytes a day's history merge writes for a fixed batch
  * do not grow with the replica.
  */
class HistoryScalingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val batch = 200

  private def envelope(day: Int, i: Int, op: String, id: Int): (Timestamp, String) =
    (new Timestamp(Timestamp.valueOf(f"2024-01-$day%02d 00:00:00").getTime + i * 1000L),
      s"""{"ID":$id,"NAME":"n$day-$i","BALANCE":${i * 7},"__op":"$op","__deleted":"false"}""")

  /** Bytes written by day 2's history merge into a replica of `rows` keys:
    * 10% inserts of new keys, 80% updates and 10% deletes of old ones.
    */
  private def dayBytes(rows: Int): Long = {
    val name = s"scale$rows"
    val root = TestSpark.scratchDir(s"scaling-$rows")
    val spec = TableSpec(name, "graft_db", Seq("ID"), s"$root/lake", s"$root/ckpt", "topic")
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_db")
    Seq(spec.dailyTable, spec.historyTable).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    def append(events: Seq[(Timestamp, String)]): Unit = Lake.appendPartitioned(
      CdcOps.withDatePartitions(events.toDF("timestamp", "value")), spec.dataDir)
    append((0 until rows).map(i => envelope(1, i, "r", i)))
    Jobs.historyMerge(spark, spec, LocalDate.of(2024, 1, 2)) // backfill
    append((0 until batch).map { i =>
      val op = if (i < batch / 10) "c" else if (i < batch / 5) "d" else "u"
      envelope(2, i, op, if (op == "c") rows + i else (i * 7919) % rows)
    })
    val bytes = bytesWrittenBy(spark.sparkContext)(
      Jobs.historyMerge(spark, spec, LocalDate.of(2024, 1, 3)))
    assert(spark.table(spec.historyTable).count() == rows) // as many inserts as deletes
    bytes
  }

  test("a day's history merge writes no more bytes for a 40x-batch replica " +
      "than for a 10x-batch one") {
    val (small, large) = (dayBytes(10 * batch), dayBytes(40 * batch))
    assert(small > 0)
    assert(large <= small * 5 / 4, s"10x: $small bytes, 40x: $large bytes")
  }
}
