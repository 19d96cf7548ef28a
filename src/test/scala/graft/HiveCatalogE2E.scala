package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Forked-JVM main for the REAL-catalog e2e (see HiveCatalogSpec):
  * builds a Hive-backed session over a fresh embedded-Derby metastore
  * and drives the S8–S10 catalog operators (`graft.sources.Lake`)
  * against it — the reference's actual persistence surface
  * (`daily_data_handler.py:130-155`, `history_data_handler.py:184-214`
  * run saveAsTable/TRUNCATE/refresh against a Hive metastore, which
  * the in-memory-catalog unit tests could only fake).
  *
  * Must be a separate JVM: `spark.sql.catalogImplementation` is fixed
  * in the per-context SharedState, so the suite's in-memory TestSpark
  * session cannot be switched to Hive after the fact.
  *
  * Prints `HIVE_E2E_OK` as the last line on success; any assertion
  * failure or metastore error exits non-zero.
  */
object HiveCatalogE2E {
  def main(args: Array[String]): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft-hive-e2e")
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-hive-e2e")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=${root.resolve("metastore_db")};create=true")
      .enableHiveSupport()
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.sources.Lake
    try {
      require(spark.conf.get("spark.sql.catalogImplementation") == "hive",
        "session did not come up Hive-backed")
      spark.sql("CREATE DATABASE graft_e2e")
      val t = "graft_e2e.daily_events"
      require(!Lake.tableExists(spark, t), "table must not pre-exist")

      // S8 append path (history increment, history_data_handler.py:146-155)
      val d1 = spark.range(0, 100).select(col("id"),
        (col("id") % 7).as("k"), lit("2024-01-01").as("day"))
      Lake.appendTable(d1, t, partitionBy = Seq("day"))
      require(Lake.tableExists(spark, t), "appendTable must create the table")
      require(spark.table(t).count() == 100, "first append lost rows")
      Lake.appendTable(d1.withColumn("day", lit("2024-01-02")), t,
        partitionBy = Seq("day"))
      require(spark.table(t).count() == 200, "second append lost rows")

      // S10 refresh — must not invalidate subsequent reads
      Lake.refreshTable(spark, t)
      require(spark.table(t).count() == 200, "refreshTable broke the read")

      // S8 overwrite of a table from a plan READING that table — the
      // reference's tmp-table dance, done as a versioned commit. The
      // schema and partitioning change here, so the commit re-registers
      // the table over its new version in the Hive metastore.
      val folded = spark.table(t).filter(col("k") < 3)
        .groupBy(col("k")).agg(count(lit(1)).as("n"))
      Lake.overwriteTableSafely(folded, t)
      val after = spark.table(t).orderBy(col("k"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      require(after == Seq((0L, 30L), (1L, 30L), (2L, 28L)),
        s"overwriteTableSafely wrong contents: $after")

      // S10 TRUNCATE (daily_data_handler.py:157-158) of the now
      // external table: rows gone, table + schema still registered
      Lake.truncateTable(spark, t)
      require(spark.table(t).count() == 0, "TRUNCATE left rows")
      require(Lake.tableExists(spark, t), "TRUNCATE dropped the table")

      // S8 versioned commit with the schema unchanged on a managed
      // table: the metastore entry is repointed to `<root>__v1` and the
      // previous version's directory is deleted
      val m = "graft_e2e.replica"
      def location(table: String) = new org.apache.hadoop.fs.Path(
        org.apache.spark.sql.graftbridge.Bridge.catalogTable(spark, table).location)
      Lake.overwriteTableSafely(spark.range(0, 10).toDF("id"), m)
      val v0 = location(m)
      Lake.overwriteTableSafely(spark.table(m).where(col("id") < 5), m)
      require(spark.table(m).count() == 5, "versioned overwrite wrong contents")
      require(location(m).getName == s"${v0.getName}__v1", s"not repointed: ${location(m)}")
      require(!v0.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(v0),
        s"previous version $v0 left on disk")

      // a merge-on-read table (the history layer): created over a base,
      // one day appended as a delta that adds a column (the metastore
      // entry is re-registered with the widened schema)
      import graft.ops.CdcOps
      import graft.sources.MergeOnRead
      val h = "graft_e2e.replica_history"
      val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      MergeOnRead.createTable(spark, h, spark.range(0, 100)
        .select(col("id"), lit(ts).as("timestamp"), concat(lit("v"), col("id")).as("v")),
        Seq("id"), "parquet")
      val day = spark.range(0, 3).select(col("id"),
        lit(java.sql.Timestamp.valueOf("2024-01-02 00:00:00")).as("timestamp"),
        lit("new").as("v"), lit("w").as("w"), lit("u").as(CdcOps.OpColumn),
        lit("false").as(CdcOps.DeletedColumn))
      MergeOnRead.mergeTable(spark, h, CdcOps.routeOps(day, Seq("id")), 3, 1L << 22,
        Seq("id"), Seq("timestamp"), "parquet")
      require(MergeOnRead.latest(spark, location(h).toString).deltas.size == 1,
        "the day was not appended as a delta")
      def historyRows(s: SparkSession) = s.table(h).orderBy(col("id"))
        .collect().map(_.toString).toSeq
      val merged = historyRows(spark)
      require(spark.table(h).columns.toSeq == Seq("id", "timestamp", "v", "w"),
        s"catalog schema not widened: ${spark.table(h).columns.mkString(", ")}")
      require(merged.size == 100 && merged.count(_.contains(",new,w]")) == 3,
        s"merge-on-read table wrong contents: $merged")

      // metastore persistence: a NEW session over the SAME derby db
      // still sees the table (the property an in-memory catalog lacks)
      val s2 = spark.newSession()
      require(s2.catalog.tableExists(t), "table invisible to a new session")
      require(s2.table(m).count() == 5, "new session reads a stale version")
      require(historyRows(s2) == merged, "new session reads the merge-on-read table differently")

      println("HIVE_E2E_OK")
    } finally {
      spark.stop()
    }
  }
}
