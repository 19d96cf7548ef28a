package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.session.SessionMemo

/** The per-session memo behind SparkEntry's shared relations: nested
  * builds, one build per (session, dir, tag), a rebuild per session,
  * retry after a failed build, and build seconds that exclude the
  * nested builds.
  */
class SessionMemoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def tags(s: org.apache.spark.sql.SparkSession): Seq[String] =
    SessionMemo.builds(s).collect { case ((`sfDir`, tag), _) => tag }.sorted

  test("graph_triangles builds the chain tr -> or -> ca once per session") {
    assume(new java.io.File(s"$sfDir/events.parquet").exists())
    val s = spark.newSession()
    val first = SparkEntry.queries("graph_triangles")(s, sfDir).collect().toSeq
    assert(tags(s) == Seq("ca", "or", "tr"))
    val seconds = SparkEntry.sharedBuildSeconds(s)
    assert(seconds.keySet == Set("ca", "or", "tr"))
    // repeated and sibling consumers hit the built cells: no tag is
    // built again, so neither the cell set nor any build time moves
    assert(SparkEntry.queries("graph_triangles")(s, sfDir).collect().toSeq == first)
    assert(SparkEntry.queries("graph_jaccard_neighbors")(s, sfDir).count() > 0)
    assert(tags(s) == Seq("ca", "or", "tr"))
    assert(SparkEntry.sharedBuildSeconds(s) == seconds)

    // a second fresh session owns its own cells and rebuilds the chain
    // (PlanMetrics.inventoryJson relies on this)
    val s2 = spark.newSession()
    assert(tags(s2).isEmpty)
    assert(SparkEntry.queries("graph_triangles")(s2, sfDir).collect().toSeq == first)
    assert(tags(s2) == Seq("ca", "or", "tr"))
    assert(SparkEntry.sharedBuildSeconds(s) == seconds)
  }

  test("a build that throws leaves nothing behind and is retried") {
    val s = spark.newSession()
    var calls = 0
    def get(): String = SessionMemo(s, "dir", "flaky") {
      calls += 1
      if (calls == 1) throw new IllegalStateException("first build fails")
      "built"
    }
    intercept[IllegalStateException](get())
    assert(SessionMemo.builds(s).isEmpty)
    assert(get() == "built")
    assert(get() == "built")
    assert(calls == 2)
    assert(SessionMemo.builds(s).map(_._1) == Seq(("dir", "flaky")))
  }

  test("a nested build's seconds are not counted again in its parent") {
    val s = spark.newSession()
    def inner: String = SessionMemo(s, "dir", "inner") { Thread.sleep(300); "i" }
    val outer = SessionMemo(s, "dir", "outer") { Thread.sleep(20); inner + "o" }
    assert(outer == "io")
    val secs = SessionMemo.builds(s).map { case ((_, t), v) => t -> v }.toMap
    assert(secs("inner") >= 0.3)
    assert(secs("outer") >= 0.02 && secs("outer") < 0.3, secs)
  }
}
