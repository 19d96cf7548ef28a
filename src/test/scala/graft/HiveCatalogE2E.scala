package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.{DropTableEvent, ExternalCatalogEvent, ExternalCatalogEventListener}
import org.apache.spark.sql.functions._

/** Forked-JVM main for the REAL-catalog e2e (see HiveCatalogSpec):
  * builds a Hive-backed session over a fresh embedded-Derby metastore
  * and drives the S8–S10 catalog operators (`graft.sources.Lake`,
  * `graft.sources.MergeOnRead`) against it — the reference's actual
  * persistence surface (`daily_data_handler.py:130-155`,
  * `history_data_handler.py:184-214` run saveAsTable/TRUNCATE/refresh
  * against a Hive metastore, which the in-memory-catalog unit tests
  * could only fake).
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
    import graft.ops.CdcOps
    import graft.sources.{Lake, MergeOnRead}
    try {
      require(spark.conf.get("spark.sql.catalogImplementation") == "hive",
        "session did not come up Hive-backed")
      spark.sql("CREATE DATABASE graft_e2e")
      // no merge drops a table, not even one that widens its schema (the
      // catalog posts its events on the calling thread)
      val drops = new java.util.concurrent.atomic.AtomicInteger
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.externalCatalog
        .addListener(new ExternalCatalogEventListener {
          override def onEvent(e: ExternalCatalogEvent): Unit = e match {
            case _: DropTableEvent => drops.incrementAndGet(): Unit
            case _ =>
          }
        })
      val t = "graft_e2e.increment_events"
      require(!spark.catalog.tableExists(t), "table must not pre-exist")

      // S8 append path (history increment, history_data_handler.py:146-155)
      val d1 = spark.range(0, 100).select(col("id"),
        (col("id") % 7).as("k"), lit("2024-01-01").as("day"))
      Lake.appendTable(d1, t, partitionBy = Seq("day"))
      require(spark.catalog.tableExists(t), "appendTable must create the table")
      require(spark.table(t).count() == 100, "first append lost rows")
      Lake.appendTable(d1.withColumn("day", lit("2024-01-02")), t,
        partitionBy = Seq("day"))
      require(spark.table(t).count() == 200, "second append lost rows")

      // S10 refresh — must not invalidate subsequent reads
      spark.catalog.refreshTable(t)
      require(spark.table(t).count() == 200, "refreshTable broke the read")

      // the daily table's lifecycle (daily_data_handler.py:125-158), a
      // merge-on-read table: created by day 1's merge, merged by day 2 in
      // a compaction, whose plan reads the table itself (the reference's
      // tmp-table dance), then truncated with its schema kept. The
      // metastore entry never moves.
      import spark.implicits._
      import graft.jobs.Jobs
      import graft.model.TableSpec
      val lake = root.resolve("lake").toString
      val spec = TableSpec("events", "graft_e2e", Seq("ID"), s"$lake/raw", s"$lake/ckpt", "topic")
      def ingest(day: Int, ops: Seq[(String, Int)]): Unit =
        Lake.appendPartitioned(CdcOps.withDatePartitions(ops.zipWithIndex.map { case ((op, id), i) =>
          (java.sql.Timestamp.valueOf(f"2024-01-0$day 00:00:$i%02d"),
            s"""{"ID":"$id","V":"d$day","__op":"$op","__deleted":"false"}""")
        }.toDF("timestamp", "value")), spec.dataDir)
      def location(table: String) = new org.apache.hadoop.fs.Path(
        org.apache.spark.sql.graftbridge.Bridge.catalogTable(spark, table).location)
      def dailyRows(s: SparkSession) = s.table(spec.dailyTable).select("ID", "V").as[(String, String)]
        .collect().toMap
      ingest(1, (0 until 20).map("c" -> _))
      Jobs.dailyMerge(spark, spec, java.time.LocalDate.of(2024, 1, 1))
      val d = location(spec.dailyTable)
      require(dailyRows(spark) == (0 until 20).map(i => s"$i" -> "d1").toMap, "day 1 not merged")
      ingest(2, (0 until 5).map("u" -> _) ++ Seq("d" -> 5, "d" -> 6, "c" -> 20))
      Jobs.dailyMerge(spark, spec, java.time.LocalDate.of(2024, 1, 2))
      val want = (0 until 21).filterNot(Set(5, 6))
        .map(i => s"$i" -> (if (i < 5 || i == 20) "d2" else "d1"))
      require(dailyRows(spark) == want.toMap, s"daily merge wrong contents: ${dailyRows(spark)}")
      require(MergeOnRead.latest(spark, d.toString).base.dir == "base-1", "day 2 did not compact")
      val superseded = new org.apache.hadoop.fs.Path(d, "base-0")
      require(!superseded.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(superseded),
        "the superseded base is left on disk")
      val schema = spark.table(spec.dailyTable).schema
      MergeOnRead.truncate(spark, spec.dailyTable, spec.primaryKeys, spec.format)
      require(spark.table(spec.dailyTable).count() == 0, "the truncation left rows")
      require(spark.table(spec.dailyTable).schema == schema, "the truncation lost the schema")
      require(location(spec.dailyTable) == d, s"the daily table moved: ${location(spec.dailyTable)}")

      // a merge-on-read table (the history layer): created over a base,
      // one day appended as a delta that adds a column (the metastore
      // entry's schema is widened in place)
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
      require(s2.table(spec.dailyTable).count() == 0 && s2.table(spec.dailyTable).schema == schema,
        "new session reads the truncated daily table differently")
      require(historyRows(s2) == merged, "new session reads the merge-on-read table differently")

      // day 3 brings a column to the truncated daily table: its merge
      // widens the metastore entry's schema in place
      Lake.appendPartitioned(CdcOps.withDatePartitions(Seq((
        java.sql.Timestamp.valueOf("2024-01-03 00:00:00"),
        """{"ID":"7","V":"d3","W":"w3","__op":"c","__deleted":"false"}""")).toDF("timestamp", "value")),
        spec.dataDir)
      Jobs.dailyMerge(spark, spec, java.time.LocalDate.of(2024, 1, 3))
      require(location(spec.dailyTable) == d, s"the daily table moved: ${location(spec.dailyTable)}")
      require(spark.newSession().table(spec.dailyTable).select("ID", "V", "W").as[(String, String, String)]
        .collect().toSeq == Seq(("7", "d3", "w3")), "day 3's column did not reach the daily table")
      require(drops.get == 0, s"${drops.get} tables were dropped; a widening must alter in place")

      println("HIVE_E2E_OK")
    } finally {
      spark.stop()
    }
  }
}
