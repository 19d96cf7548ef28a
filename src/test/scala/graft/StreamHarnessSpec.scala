package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The memory-sink harness every memory-sink `stream_*` query runs
  * through, its state-conf scopes, and where the file-staging queries
  * put their files.
  */
class StreamHarnessSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val partsKey = "spark.sql.shuffle.partitions"
  private val providerKey = "spark.sql.streaming.stateStore.providerClass"

  private def tempViews: Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  private def parityCounts() = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    input.addData(1L, 2L, 3L, 4L, 5L)
    input.toDF().groupBy((col("value") % 2).as("parity")).agg(count(lit(1)).as("n"))
  }

  test("memorySink returns the materialized read after the sink view is gone") {
    val viewsBefore = tempViews
    val out = SparkEntry.memorySink(spark, parityCounts(), "complete") { (sink, _) =>
      assert((tempViews -- viewsBefore).size == 1, "the sink view is live during the read")
      sink.localCheckpoint(true)
    }
    assert(tempViews == viewsBefore)
    assert(spark.streams.active.isEmpty)
    assert(out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == Map(0L -> 2L, 1L -> 3L))
  }

  test("a read that throws (as the batch-count guards do) leaves no active stream, " +
    "no sink view, and the shuffle-partition and state-store confs restored") {
    val partsBefore = spark.conf.get(partsKey)
    val providerBefore = spark.conf.getOption(providerKey)
    val viewsBefore = tempViews
    val e = intercept[IllegalArgumentException] {
      SparkEntry.withStateParts(spark, parts = 3) {
        SparkEntry.withRocksDbState(spark) {
          SparkEntry.memorySink(spark, parityCounts(), "complete") { (sink, q) =>
            assert(spark.conf.get(partsKey) == "3")
            assert(spark.conf.get(providerKey).endsWith("RocksDBStateStoreProvider"))
            assert((tempViews -- viewsBefore).size == 1)
            val dataBatches = q.recentProgress.count(_.numInputRows > 0)
            require(dataBatches > 1,
              s"multi-batch guard: expected >1 data micro-batch, saw $dataBatches")
            sink.localCheckpoint(true)
          }
        }
      }
    }
    assert(e.getMessage.contains("multi-batch guard"))
    assert(spark.streams.active.isEmpty, "the harness left a stream running")
    assert(tempViews == viewsBefore, "the harness left its sink view behind")
    assert(spark.conf.get(partsKey) == partsBefore)
    assert(spark.conf.getOption(providerKey) == providerBefore)
  }

  test("cdc_pipeline_file and stream_upsert_filesink stage under the session " +
    "scratch dir, not target/tmp") {
    import spark.implicits._
    val fixture = graft.session.Sessions.scratchPath(s"harness-${System.nanoTime()}")
    val dir = new java.io.File(fixture, "sf")
    dir.mkdirs()
    val stage = new java.io.File(fixture, "stage")
    (1 to 12).map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-02 00:$i%02d:00"), i.toLong % 4,
        if (i % 5 == 0) "error" else "click", i.toDouble, """{"k":1}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(stage.toString)
    java.nio.file.Files.copy(
      stage.listFiles().filter(_.getName.endsWith(".parquet")).head.toPath,
      new java.io.File(dir, "events.parquet").toPath)

    def isStaging(f: java.io.File) =
      f.isDirectory && (f.getName.startsWith("pipeq-") || f.getName.startsWith("fsink-"))
    def stagingDirs(root: java.io.File): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (isStaging(f)) Seq(f)
        else Option(f.listFiles()).toSeq.flatten.filter(_.isDirectory).flatMap(walk)
      walk(root).map(_.getName).toSet
    }
    // the checkout path the queries used to stage under, one level deep
    val checkout = new java.io.File("target/tmp")
    def checkoutDirs = Option(checkout.listFiles()).toSeq.flatten.filter(isStaging).map(_.getName).toSet
    val checkoutBefore = checkoutDirs
    val scratch = new java.io.File(graft.session.Sessions.scratchPath(""))
    val scratchBefore = stagingDirs(scratch)

    assert(SparkEntry.queries("cdc_pipeline_file")(spark, dir.toString).count() > 0)
    assert(SparkEntry.queries("stream_upsert_filesink")(spark, dir.toString).count() > 0)

    val added = stagingDirs(scratch) -- scratchBefore
    assert(added.exists(_.startsWith("pipeq-")) && added.exists(_.startsWith("fsink-")),
      s"no staging root under the session scratch ${scratch}: $added")
    assert(checkoutDirs == checkoutBefore, "a query staged under target/tmp")
  }
}
