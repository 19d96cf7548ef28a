package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the corpus assumptions the DuckDB oracles rely on (BMP-only
  * printable-ASCII text, non-NULL — see [[OracleGen]] scaladoc): the
  * guard must hold on the real driver testdata and must fire on planted
  * violations, so a future testdata-generator change fails loudly
  * instead of reporting corpus drift as engine bugs.
  */
class OracleAssumptionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // The guard's NULL-text row also underwrites mm_manifest (whose
  // concat_ws pair_fp would skip a NULL blob hex while the oracle's ||
  // propagates NULL), corpus_curriculum (whose NTILE over a
  // text-derived quality would order Spark-nulls-first vs
  // DuckDB-nulls-last) — round-7 advice — and the round-8 closers:
  // corpus_token_budget (ORDER BY quality DESC inherits the same
  // nulls-ordering divergence) and mm_audio_windows (a NULL blob emits
  // no windows in the kernel while the oracle's LATERAL unnest would
  // still emit 16 NULL-sample rows).
  test("guard passes on the driver testdata corpus") {
    assume(new java.io.File("/root/testdata/sf0.001/documents.parquet").exists())
    assert(OracleGen.guardViolations(spark, "/root/testdata/sf0.001") == Seq.empty)
  }

  private def writeDocs(rows: Seq[(Long, String)]): String = {
    val dir = TestSpark.scratchDir("oracle-guard")
    rows.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("guard flags NULL text") {
    val dir = writeDocs(Seq(1L -> "plain ascii", 2L -> null))
    val v = OracleGen.guardViolations(spark, dir)
    assert(v.exists(_.contains("NULL text")), v.toString)
  }

  test("guard flags non-ASCII and astral characters") {
    val dir = writeDocs(Seq(
      1L -> "fine text", 2L -> "café", 3L -> "emoji 😀"))
    val v = OracleGen.guardViolations(spark, dir)
    assert(v.exists(_.contains("non-printable-ASCII")), v.toString)
    assert(v.mkString.contains("2 docs")) // both offenders counted
  }

  test("guard flags an empty corpus") {
    val dir = writeDocs(Seq.empty)
    assert(OracleGen.guardViolations(spark, dir) == Seq("documents table is empty"))
  }

  test("stream_outer_join boundary assumptions hold on the driver testdata") {
    // The oracle models Spark's state eviction as `p.ts < wm1` with
    // wm1 = min(max b1 purchase ts, max b1 click ts) - 1h (ms-floor).
    // That < is only provably right while no purchase sits EXACTLY on
    // the boundary, and wm1 only exists while batch 1 has both sides.
    import org.apache.spark.sql.functions._
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val dir = s"/root/testdata/$sf"
      assume(new java.io.File(s"$dir/events.parquet").exists())
      val ev = graft.sources.Tables.load(spark, dir, "events")
      val split = lit("2024-01-15 00:00:00").cast("timestamp")
      val b1 = ev.filter(col("ts") < split)
      def sideMaxUs(tpe: String) = {
        val rows = b1.filter(col("event_type") === tpe)
          .agg(max(unix_micros(col("ts")))).collect()
        assert(!rows(0).isNullAt(0), s"$sf: no $tpe rows in batch 1")
        rows(0).getLong(0)
      }
      val wm1 = math.min(sideMaxUs("purchase"), sideMaxUs("click")) / 1000 * 1000 -
        3600L * 1000000
      val onBoundary = ev.filter(col("event_type") === "purchase" &&
        unix_micros(col("ts")) === wm1).count()
      assert(onBoundary == 0, s"$sf: purchase exactly on the eviction boundary")
    }
  }

  test("q_hll_intersect / graph_closeness input assumptions hold") {
    import org.apache.spark.sql.functions._
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val dir = s"/root/testdata/$sf"
      assume(new java.io.File(s"$dir/events.parquet").exists())
      val ev = graft.sources.Tables.load(spark, dir, "events")
      // hllOverlapReport keys the pair estimate on a (ga, gb) STRUCT
      // precisely so a '|' inside a segment name can't alias two
      // different pairs; this data check is belt-and-braces for any
      // string-joined pair key a future query might add
      val piped = ev.filter(col("event_type").contains("|")).count()
      assert(piped == 0, s"$sf: event_type contains the '|' pair separator")
      // graph_closeness picks landmarks as user_id % 13 == 0 — negative
      // ids would make Spark's % (signed rem) and DuckDB's % disagree,
      // and the landmark set must be non-empty for the query to return
      // rows at the gate
      val neg = ev.filter(col("user_id") < 0).count()
      assert(neg == 0, s"$sf: negative user_id breaks the % landmark pick")
      val lms = ev.filter(col("user_id") % 13 === 0).count()
      assert(lms > 0, s"$sf: empty landmark set")
    }
  }
}
