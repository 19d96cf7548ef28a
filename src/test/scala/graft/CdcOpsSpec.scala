package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.CdcOps

/** Unit coverage of the CDC operator core, anchored on the canonical
  * 10-event merge script (FIXTURES.md F3).
  */
class CdcOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(i: Int) = Timestamp.valueOf(f"2024-01-01 00:00:$i%02d")

  /** (ts, op, id, product) rows of the F3 script, in arrival order. */
  private val script: Seq[(Timestamp, String, String, Option[String])] = Seq(
    (ts(1), "r", "1", Some("LOAN")),
    (ts(2), "c", "2", Some("CARD")),
    (ts(4), "u", "1", Some("DEPOSIT")), // arrives before t3
    (ts(3), "u", "1", Some("SAVINGS")), // loses LWW to t4
    (ts(5), "d", "2", None),
    (ts(6), "c", "2", Some("CARD2")),
    (ts(7), "u", "3", Some("BOND")),
    (ts(8), "d", "9", None),
    (ts(9), "c", "4", None),
    (ts(10), "u", "4", Some("FX"))
  )

  private def frame(events: Seq[(Timestamp, String, String, Option[String])]): DataFrame =
    events.toDF("timestamp", "__op", "ID", "PRODUCT")
      .withColumn("__deleted", lit("false"))
      .select($"timestamp", $"__op", $"__deleted", $"ID", $"PRODUCT")

  private val expected = Map("1" -> Some("DEPOSIT"), "2" -> Some("CARD2"),
    "3" -> Some("BOND"), "4" -> Some("FX"))

  private def stateOf(df: DataFrame): Map[String, Option[String]] =
    df.select($"ID", $"PRODUCT").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap

  test("foldMerge over the whole script yields the LWW-fold state") {
    val merged = CdcOps.foldMerge(frame(script), Seq("ID"), Seq("timestamp"))
    assert(merged.count() == 4)
    assert(stateOf(merged) == expected)
  }

  test("iterative mergeBatch over arrival-order batches yields the same state") {
    // batch boundaries as in F3: the out-of-order pair t4/t3 shares a
    // batch (in-day LWW), everything else arrives alone
    val batches = Seq(
      script.slice(0, 2), script.slice(2, 4), script.slice(4, 5),
      script.slice(5, 6), script.slice(6, 7), script.slice(7, 8),
      script.slice(8, 9), script.slice(9, 10))
    var table = CdcOps.emptyLike(frame(Nil).drop(CdcOps.metaColumns: _*))
    for (b <- batches) {
      val routed = CdcOps.routeOps(frame(b), Seq("ID"))
      table = CdcOps.mergeBatch(table, routed, Seq("ID"), Seq("timestamp"))
        .localCheckpoint(true)
    }
    assert(stateOf(table) == expected)
    // delete of an absent key (t8) was a no-op; re-insert after delete won
    assert(table.count() == 4)
  }

  test("routeOps splits by op code and projects deletes to PKs") {
    val r = CdcOps.routeOps(frame(script), Seq("ID"))
    assert(r.inserts.count() == 4) // r, c, c, c
    assert(r.updates.count() == 4)
    assert(r.deleteKeys.columns.toSeq == Seq("ID"))
    assert(r.deleteKeys.as[String].collect().sorted.toSeq == Seq("2", "9"))
    assert(!r.inserts.columns.contains("__op"))
  }

  test("lastWriterWins breaks timestamp ties deterministically with extra order columns") {
    val dup = Seq(
      (ts(1), "k", "first", 1L),
      (ts(1), "k", "second", 2L) // same timestamp, higher offset wins
    ).toDF("timestamp", "ID", "v", "offset")
    val won = CdcOps.lastWriterWins(dup, Seq("ID"), Seq("timestamp", "offset"))
    assert(won.select($"v").as[String].collect().toSeq == Seq("second"))
  }

  test("coalesceUpdates merges partial updates per key, newest non-null wins") {
    val partial = Seq(
      (ts(1), "k", Some("a1"), None: Option[String]),
      (ts(2), "k", None, Some("b2")),
      (ts(3), "k", Some("a3"), None)
    ).toDF("timestamp", "ID", "A", "B")
    val out = CdcOps.coalesceUpdates(partial, Seq("ID"))
    val row = out.collect()(0)
    assert(row.getAs[Timestamp]("timestamp") == ts(3))
    assert(row.getAs[String]("A") == "a3")
    assert(row.getAs[String]("B") == "b2")
  }

  test("sanitizeColumnNames: slash replacement, lowering, timestamp collision") {
    val df = Seq((ts(1), ts(2), "x")).toDF("timestamp", "TIMESTAMP", "A/B")
    val out = CdcOps.sanitizeColumnNames(df, lower = true)
    assert(out.columns.toSeq == Seq("timestamp", "source_timestamp", "a_b"))
  }

  test("sanitizeColumnNames: TWO colliding payload timestamps get distinct " +
      "names; a third fails loudly, never duplicates") {
    val df = Seq((ts(1), ts(2), ts(3))).toDF("timestamp", "TIMESTAMP", "Timestamp")
    val out = CdcOps.sanitizeColumnNames(df, lower = true)
    assert(out.columns.toSeq ==
      Seq("timestamp", "source_timestamp", "timestamp_in_source"))
    val threeWay = Seq((ts(1), ts(2), ts(3), "x"))
      .toDF("timestamp", "TIMESTAMP", "Timestamp", "source_timestamp")
    intercept[IllegalArgumentException] {
      CdcOps.sanitizeColumnNames(threeWay, lower = true)
    }
  }

  test("schema drift: mergeBatch survives a new column appearing (unionByName)") {
    val day1 = frame(script.take(2)) // ID, PRODUCT
    val t1 = CdcOps.mergeBatch(
      CdcOps.emptyLike(day1.drop(CdcOps.metaColumns: _*)),
      CdcOps.routeOps(day1, Seq("ID")), Seq("ID"), Seq("timestamp"))
    val day2 = Seq((ts(3), "u", "false", "1", "LOAN", "0.05"))
      .toDF("timestamp", "__op", "__deleted", "ID", "PRODUCT", "RATE")
    val t2 = CdcOps.mergeBatch(t1, CdcOps.routeOps(day2, Seq("ID")),
      Seq("ID"), Seq("timestamp"))
    assert(t2.columns.contains("RATE"))
    val rates = t2.select($"ID", $"RATE").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(rates("1") == Some("0.05")) // updated row carries the new column
    assert(rates("2") == None)        // pre-drift row null-padded
  }

  test("bloomPrunedAntiJoin is exactly antiJoinByKey, including empty tombstones") {
    val existing = (0L until 500L).map(i => (i, s"row$i")).toDF("k", "payload")
    val tombstones = (0L until 500L by 7L).map(Tuple1(_)).toDF("k")
    val viaBloom = CdcOps.bloomPrunedAntiJoin(existing, tombstones, Seq("k"))
      .collect().map(_.getLong(0)).toSet
    val viaAnti = CdcOps.antiJoinByKey(existing, tombstones, Seq("k"))
      .collect().map(_.getLong(0)).toSet
    assert(viaBloom == viaAnti)
    assert(viaBloom == (0L until 500L).filterNot(_ % 7 == 0).toSet)
    // empty tombstone set -> NULL sketch -> keep everything
    val none = CdcOps.bloomPrunedAntiJoin(existing, tombstones.where(lit(false)), Seq("k"))
    assert(none.count() == 500L)
  }

  test("mergeBatch past the broadcast budget sizes its bloom filters for the batch's keys") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    val existing = (0L until 100L).map(i => (ts(1), i, s"row$i")).toDF("timestamp", "k", "payload")
    val batch = (0L until 10L).map(i => (ts(2), if (i < 5) "u" else "d", "false", i * 3, s"new$i"))
      .toDF("timestamp", "__op", "__deleted", "k", "payload")
    val out = CdcOps.mergeBatch(existing, CdcOps.routeOps(batch, Seq("k")), Seq("k"),
      tombstonesBeyondBroadcast = true, expectedKeys = 10)
    def bits(p: LogicalPlan): Seq[Long] =
      p.flatMap(_.expressions.flatMap(_.collect {
        case b: BloomFilterAggregate => Seq(b.numBitsExpression.eval().asInstanceOf[Long])
        case s: org.apache.spark.sql.catalyst.expressions.SubqueryExpression => bits(s.plan)
      }.flatten))
    val planned = bits(out.queryExecution.analyzed)
    assert(planned.nonEmpty, out.queryExecution.analyzed)
    assert(planned.forall(_ < (1L << 16)), planned) // 2^26 before it was sized
    assert(out.count() == 100L - 5L)
  }

  test("snapshotDiff classifies insert/delete/update/unchanged null-safely") {
    val old = Seq(
      (1L, Some(10.0), Some("a")), // unchanged
      (2L, Some(20.0), Some("b")), // updated value
      (3L, None, Some("c")),       // updated: null -> value
      (4L, Some(40.0), None)       // deleted
    ).toDF("id", "v", "p")
    val neu = Seq(
      (1L, Some(10.0), Some("a")),
      (2L, Some(21.0), Some("b")),
      (3L, Some(30.0), Some("c")),
      (5L, Some(50.0), Some("e"))  // inserted
    ).toDF("id", "v", "p")
    val out = CdcOps.snapshotDiff(old, neu, Seq("id"), Seq("v", "p"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "unchanged", 2L -> "update", 3L -> "update",
      4L -> "delete", 5L -> "insert"))
  }

  test("withDatePartitions derives op_year/op_month/op_day") {
    val out = CdcOps.withDatePartitions(Seq(ts(1)).toDF("timestamp"))
    val r = out.collect()(0)
    assert((r.getInt(1), r.getInt(2), r.getInt(3)) == ((2024, 1, 1)))
  }

  test("emptyLike yields an empty frame with identical schema") {
    val df = frame(script)
    val e = CdcOps.emptyLike(df)
    assert(e.count() == 0 && e.schema == df.schema)
  }
}
