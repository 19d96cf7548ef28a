package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.ops.CdcOps

/** Property-based checks (FIXTURES.md F5): the merged table equals a
  * sequential in-memory fold of the same events — the merge is a LWW
  * map, so the model is a few lines — and `mergeBatch` equals the plain
  * full-union-then-dedup formula it narrows.
  */
class LwwPropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  case class Ev(offset: Long, tsSec: Int, op: String, key: Int, v: Option[String])

  private val genEv: Gen[(Int, String, Int, Option[String])] = for {
    t <- Gen.choose(0, 50) // deliberate duplicate timestamps
    op <- Gen.frequency(3 -> Gen.oneOf("c", "r"), 5 -> Gen.const("u"), 2 -> Gen.const("d"))
    k <- Gen.choose(1, 12) // small key pool → collisions
    v <- Gen.option(Gen.alphaStr.map(_.take(4)))
  } yield (t, op, k, v)

  /** In-memory oracle: fold events sorted by (ts, offset). */
  private def model(events: Seq[Ev]): Map[Int, Option[String]] =
    events.sortBy(e => (e.tsSec, e.offset)).foldLeft(Map.empty[Int, Option[String]]) {
      case (m, e) =>
        if (e.op == "d") m - e.key
        else m + (e.key -> e.v)
    }

  test("foldMerge equals the sequential LWW fold for random event streams") {
    val prop = Prop.forAll(Gen.listOfN(60, genEv)) { raw =>
      val events = raw.zipWithIndex.map { case ((t, op, k, v), i) =>
        Ev(i.toLong, t, op, k, v)
      }
      val df = events
        .map(e => (new Timestamp(e.tsSec * 1000L), e.offset, e.op, "false", e.key, e.v.orNull))
        .toDF("timestamp", "offset", "__op", "__deleted", "key", "v")
      val merged = CdcOps.foldMerge(df, Seq("key"), Seq("timestamp", "offset"))
      val got = merged.collect()
        .map(r => r.getAs[Int]("key") -> Option(r.getAs[String]("v"))).toMap
      got == model(events)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  /** The merge formula with the dedup over every row, written out. */
  private def fullDedupMerge(existing: DataFrame, routed: CdcOps.Routed,
                             beyondBroadcast: Boolean): DataFrame = {
    val updates = CdcOps.lastWriterWins(routed.updates, Seq("key"))
    val tombstones = routed.deleteKeys.unionByName(updates.select(col("key")))
    val kept =
      if (beyondBroadcast) CdcOps.bloomPrunedAntiJoin(existing, tombstones, Seq("key"))
      else CdcOps.antiJoinByKey(existing, tombstones, Seq("key"))
    kept.unionByName(routed.inserts, allowMissingColumns = true)
      .unionByName(updates, allowMissingColumns = true)
      .dropDuplicates()
  }

  private val genKey: Gen[Option[Int]] = Gen.frequency(1 -> Gen.const(None), 6 -> Gen.choose(1, 8).map(Some(_)))
  private val genV: Gen[Option[String]] = Gen.option(Gen.oneOf("a", "b"))

  /** A row-distinct replica, and a batch whose inserts partly copy
    * replica rows (identical rows) or reuse their keys (different rows);
    * every event not copying a row has its own timestamp.
    */
  private val genCase = for {
    rows <- Gen.listOfN(14, Gen.zip(Gen.choose(0, 3), genKey, genV))
    copies <- Gen.listOfN(3, Gen.choose(0, 13))
    events <- Gen.listOfN(12, Gen.zip(Gen.oneOf("c", "r", "u", "u", "d"), genKey, genV))
    drift <- Gen.oneOf(true, false)
  } yield (rows.distinct, copies, events, drift)

  test("mergeBatch equals the full-union dedup over random replicas and batches, " +
      "both anti-join paths") {
    val prop = Prop.forAll(genCase) { case (rows, copies, events, drift) =>
      val existing = rows.map { case (t, k, v) => (new Timestamp(t * 1000L), k, v) }
        .toDF("timestamp", "key", "v")
      val copied = copies.map(i => rows(i % rows.size)).map { case (t, k, v) => (t, "c", k, v) }
      val fresh = events.zipWithIndex.map { case ((op, k, v), i) => (100 + i, op, k, v) }
      val batch0 = (copied ++ fresh)
        .map { case (t, op, k, v) => (new Timestamp(t * 1000L), op, "false", k, v) }
        .toDF("timestamp", "__op", "__deleted", "key", "v")
      val batch = if (drift) batch0.withColumn("w", concat(lit("w"), col("v"))) else batch0
      val routed = CdcOps.routeOps(batch, Seq("key"))
      Seq(false, true).forall { beyond =>
        val want = fullDedupMerge(existing, routed, beyond)
        val got = CdcOps.mergeBatch(existing, routed, Seq("key"),
          tombstonesBeyondBroadcast = beyond, expectedKeys = copied.size + fresh.size)
        got.schema == want.schema &&
          got.collect().map(_.toString).sorted.toSeq == want.collect().map(_.toString).sorted.toSeq
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  /** A row-distinct replica, and a batch of events with their own
    * timestamps plus copies of some of them: exact duplicates, or
    * duplicates that differ only in `__deleted`.
    */
  private val genDupCase = for {
    rows <- Gen.listOfN(10, Gen.zip(Gen.choose(0, 3), genKey, genV))
    events <- Gen.listOfN(10, Gen.zip(Gen.oneOf("c", "r", "u", "u", "d"), genKey, genV))
    dups <- Gen.listOfN(8, Gen.zip(Gen.choose(0, 9), Gen.oneOf("false", "true")))
  } yield (rows.distinct, events, dups)

  test("mergeBatch over a batch with duplicate events equals mergeBatch over its " +
      "distinct events, both anti-join paths") {
    val prop = Prop.forAll(genDupCase) { case (rows, events, dups) =>
      val existing = rows.map { case (t, k, v) => (new Timestamp(t * 1000L), k, v) }
        .toDF("timestamp", "key", "v")
      val fresh = events.zipWithIndex.map { case ((op, k, v), i) => (100 + i, op, "false", k, v) }
      val copies = dups.map { case (i, deleted) => fresh(i).copy(_3 = deleted) }
      val batch = (fresh ++ copies)
        .map { case (t, op, deleted, k, v) => (new Timestamp(t * 1000L), op, deleted, k, v) }
        .toDF("timestamp", "__op", "__deleted", "key", "v")
      def merged(events: DataFrame, beyond: Boolean): Seq[String] =
        CdcOps.mergeBatch(existing, CdcOps.routeOps(events, Seq("key")), Seq("key"),
          tombstonesBeyondBroadcast = beyond, expectedKeys = fresh.size + copies.size)
          .collect().map(_.toString).sorted.toSeq
      Seq(false, true).forall(beyond => merged(batch, beyond) == merged(batch.distinct(), beyond))
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("foldMerge over events with duplicates equals foldMerge over their distinct events") {
    // unique timestamps per key: the fold's order is total within a key
    val prop = Prop.forAll(genDupCase) { case (_, events, dups) =>
      val fresh = events.zipWithIndex.map { case ((op, k, v), i) => (100 + i, op, "false", k, v) }
      val copies = dups.map { case (i, deleted) => fresh(i).copy(_3 = deleted) }
      val all = (fresh ++ copies)
        .map { case (t, op, deleted, k, v) => (new Timestamp(t * 1000L), op, deleted, k, v) }
        .toDF("timestamp", "__op", "__deleted", "key", "v")
      def folded(events: DataFrame): Seq[String] =
        CdcOps.foldMerge(events, Seq("key")).collect().map(_.toString).sorted.toSeq
      folded(all) == folded(all.distinct())
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  /** A row-distinct base and a few days of events: inserts copying a
    * base row (identical re-inserts), re-inserts of keys deleted on an
    * earlier day, null keys, and on one day a new column. Every event has
    * its own timestamp.
    */
  private val genDays = for {
    rows <- Gen.listOfN(10, Gen.zip(Gen.choose(0, 3), genKey, genV))
    days <- Gen.listOfN(3, Gen.listOfN(6, Gen.zip(Gen.oneOf("c", "r", "u", "u", "d"), genKey, genV)))
    copies <- Gen.listOfN(3, Gen.zip(Gen.choose(0, 2), Gen.choose(0, 9)))
    drift <- Gen.choose(0, 2)
    compactAt <- Gen.choose(0, 2)
  } yield (rows.distinct, days, copies, drift, compactAt)

  test("the merge-on-read table equals sequential mergeBatch over random days, " +
      "across a compaction") {
    import graft.sources.MergeOnRead
    val prop = Prop.forAll(genDays) { case (rows, days, copies, drift, compactAt) =>
      val base = rows.map { case (t, k, v) => (new Timestamp(t * 1000L), k, v) }
        .toDF("timestamp", "key", "v")
      val batches = days.zipWithIndex.map { case (events, d) =>
        val copied = copies.collect { case (`d`, i) => rows(i % rows.size) }
          .map { case (t, k, v) => (t, "c", k, v) }
        val fresh = events.zipWithIndex.map { case ((op, k, v), i) => (100 * (d + 1) + i, op, k, v) }
        val df = (copied ++ fresh)
          .map { case (t, op, k, v) => (new Timestamp(t * 1000L), op, "false", k, v) }
          .toDF("timestamp", "__op", "__deleted", "key", "v")
        (if (d == drift) df.withColumn("w", concat(lit("w"), col("v"))) else df,
          (copied ++ fresh).size.toLong)
      }
      val root = TestSpark.scratchDir("mor-property") + "/t"
      val logged = batches.zipWithIndex.foldLeft(
        MergeOnRead.create(spark, root, base, Seq("key"), "parquet")) {
        case (m, ((batch, n), d)) =>
          val routed = CdcOps.routeOps(batch, Seq("key"))
          if (d == compactAt) MergeOnRead.compact(spark, root, m, routed, n, 1L << 22, Seq("timestamp"))
          else MergeOnRead.append(spark, root, m, routed, n, Seq("timestamp"))
      }
      val want = batches.foldLeft(base) { case (t, (batch, _)) =>
        CdcOps.mergeBatch(t, CdcOps.routeOps(batch, Seq("key")), Seq("key"))
      }
      val got = MergeOnRead.read(spark, root)
      logged.deltas.size == days.size - 1 - compactAt &&
        got.schema.map(f => f.name -> f.dataType) == want.schema.map(f => f.name -> f.dataType) &&
        got.collect().map(_.toString).sorted.toSeq == want.collect().map(_.toString).sorted.toSeq
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }
}
