package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites — built through
  * [[graft.session.Sessions.tuned]] so tests run under the same confs
  * (AQE, UTC, nanosAsLong, state-store maintenance backoff) as the
  * Bench/Verify entry points.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", scratchDir("test-warehouse"))
    // tests are graft-owned sessions: opt into the extension +
    // window-guard confs that tuned() deliberately leaves to the
    // deployment (Sessions.graftManaged scaladoc)
    graft.session.Sessions.graftManaged.foreach { case (k, v) => b.config(k, v) }
    val s = graft.session.Sessions.tuned(b).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.session.Sessions.quietCheckpointRelease()
    s
  }

  /** A fresh directory under the session scratch root
    * ([[graft.session.Sessions.scratchPath]]), removed when the JVM exits:
    * test staging stays out of the checkout.
    */
  def scratchDir(name: String): String = {
    val d = new java.io.File(graft.session.Sessions.scratchPath(s"$name-${System.nanoTime()}"))
    d.mkdirs(); d.getAbsolutePath
  }
}
