package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.LocalDate

import org.scalatest.funsuite.AnyFunSuite

/** The env-var CLI entry points (`raw_load.py` / `daily_load.py` /
  * `history_load.py` equivalents): settings parsing, Kafka YAML config
  * loading, and the full raw → daily → history pipeline driven through
  * the exact `run()` code paths the `main`s call.
  */
class CliSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(name: String): String = TestSpark.scratchDir(s"cli-$name")

  private def settingsJson(root: String, mode: String = "merge"): String =
    s"""{"primary_keys": ["ID"], "data_dir": "$root/lake",
        "ckpt_dir": "$root/ckpt", "kafka_topic": "topic", "mode": "$mode"}"""

  test("parseSpec maps the reference settings dict onto TableSpec") {
    val env = Map(
      "table_name" -> "acct", "db" -> "graft_db",
      "settings" -> settingsJson("/data"))
    val spec = Cli.parseSpec(env)
    assert(spec.name == "acct" && spec.db == "graft_db")
    assert(spec.primaryKeys == Seq("ID"))
    assert(spec.dataDir == "/data/lake" && spec.checkpointDir == "/data/ckpt")
    assert(spec.kafkaTopic == "topic" && spec.mode == "merge")
    assert(spec.orderColumns == Seq("timestamp")) // default LWW ordering
    assert(spec.dailyTable == "graft_db.acct_daily")
  }

  test("parseSpec fails loudly on missing required keys") {
    val err = intercept[RuntimeException] {
      Cli.parseSpec(Map("table_name" -> "t", "db" -> "d", "settings" -> "{}"))
    }
    assert(err.getMessage.contains("primary_keys"))
    val err2 = intercept[RuntimeException] {
      Cli.parseSpec(Map("table_name" -> "t", "db" -> "d"))
    }
    assert(err2.getMessage.contains("settings"))
  }

  test("loadYamlConfig reads the reference's flat kafka_config.yml shape") {
    val f = Paths.get(tmp("yaml"), "kafka_config.yml")
    Files.write(f,
      """brokers: broker1:9092,broker2:9092
        |user: cdc_reader
        |password: "s3cret"
        |""".stripMargin.getBytes("UTF-8"))
    val kc = Cli.loadYamlConfig(f.toString)
    assert(kc == Map(
      "brokers" -> "broker1:9092,broker2:9092",
      "user" -> "cdc_reader", "password" -> "s3cret"))
  }

  test("RawLoad/DailyLoad/HistoryLoad run the three-stage pipeline from env maps") {
    val root = tmp("e2e")
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_db")
    spark.sql("DROP TABLE IF EXISTS graft_db.cli_daily")
    spark.sql("DROP TABLE IF EXISTS graft_db.cli_history")
    val env = Map(
      "table_name" -> "cli", "db" -> "graft_db", "ds" -> "2024-01-01",
      "source_dir" -> s"$root/in",
      "settings" -> settingsJson(root))

    def envelope(t: Timestamp, op: String, id: String, product: String) =
      (t, s"""{"ID":"$id","PRODUCT":"$product","__op":"$op","__deleted":"false"}""")
    Seq(
      envelope(Timestamp.valueOf("2024-01-01 00:00:01"), "c", "1", "LOAN"),
      envelope(Timestamp.valueOf("2024-01-01 00:00:02"), "u", "1", "DEPOSIT"),
      envelope(Timestamp.valueOf("2024-01-01 00:00:03"), "c", "2", "CARD"))
      .toDF("timestamp", "value").write.parquet(s"$root/in")

    RawLoad.run(spark, env)
    assert(spark.read.parquet(s"$root/lake").count() == 3)

    DailyLoad.run(spark, env)
    val daily = spark.table("graft_db.cli_daily")
      .select($"ID", $"PRODUCT").as[(String, String)].collect().toMap
    assert(daily == Map("1" -> "DEPOSIT", "2" -> "CARD"))

    // history reads ds-1 → run with ds = Jan 2; backfill path (no table yet)
    HistoryLoad.run(spark, env.updated("ds", "2024-01-02"))
    val hist = spark.table("graft_db.cli_history")
      .select($"id", $"product").as[(String, String)].collect().toMap
    assert(hist == Map("1" -> "DEPOSIT", "2" -> "CARD"))
    assert(spark.table("graft_db.cli_daily").count() == 0) // staging truncated
  }

  test("format=orc runs the raw+daily pipeline on the reference's lake format") {
    val root = tmp("orc")
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_db")
    spark.sql("DROP TABLE IF EXISTS graft_db.cliorc_daily")
    val env = Map(
      "table_name" -> "cliorc", "db" -> "graft_db", "ds" -> "2024-01-01",
      "source_dir" -> s"$root/in",
      "settings" ->
        s"""{"primary_keys": ["ID"], "data_dir": "$root/lake",
            "ckpt_dir": "$root/ckpt", "kafka_topic": "t", "format": "orc"}""")
    Seq((Timestamp.valueOf("2024-01-01 00:00:01"),
      """{"ID":"1","PRODUCT":"LOAN","__op":"c","__deleted":"false"}"""))
      .toDF("timestamp", "value").write.parquet(s"$root/in")

    RawLoad.run(spark, env)
    // raw layer really is ORC
    assert(spark.read.orc(s"$root/lake").count() == 1)
    val leaf = new java.io.File(s"$root/lake/op_year=2024/op_month=1/op_day=1")
    assert(leaf.listFiles.exists(_.getName.endsWith(".orc")))

    DailyLoad.run(spark, env)
    assert(spark.table("graft_db.cliorc_daily").count() == 1)
  }

  test("e2e composition: CLI ingest → raw compact → upsert log → log compact → increment history") {
    import org.apache.spark.sql.types.StructType
    import graft.streaming.StreamingUpsert
    import graft.streaming.StreamingUpsert.KeyedEvent

    val root = tmp("compose")
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_db")
    spark.sql("DROP TABLE IF EXISTS graft_db.clic_history")
    val env = Map(
      "table_name" -> "clic", "db" -> "graft_db", "ds" -> "2024-01-02",
      "source_dir" -> s"$root/in",
      "settings" -> settingsJson(root, mode = "increment"))

    def envelope(t: Timestamp, op: String, id: String, product: String) =
      (t, s"""{"ID":"$id","PRODUCT":"$product","__op":"$op","__deleted":"false"}""")
    Seq(
      envelope(Timestamp.valueOf("2024-01-01 00:00:01"), "c", "1", "LOAN"),
      envelope(Timestamp.valueOf("2024-01-01 00:00:02"), "u", "1", "DEPOSIT"),
      envelope(Timestamp.valueOf("2024-01-01 00:00:03"), "c", "2", "CARD"),
      envelope(Timestamp.valueOf("2024-01-01 00:00:04"), "d", "2", ""),
      envelope(Timestamp.valueOf("2024-01-01 00:00:05"), "c", "3", "FUND"))
      .toDF("timestamp", "value").write.parquet(s"$root/in")

    // 1. CLI raw ingest (file stream → partitioned lake)
    RawLoad.run(spark, env)
    val rawCount = spark.read.parquet(s"$root/lake").count()
    assert(rawCount == 5)

    // 2. Lake.compact the day's partition leaf (rewritten in place);
    //    rows must survive exactly
    graft.sources.Lake.compact(spark,
      s"$root/lake/op_year=2024/op_month=1/op_day=1", targetBytes = 512L * 1024 * 1024)
    assert(spark.read.parquet(s"$root/lake").count() == rawCount)

    // 3. Parse the COMPACTED raw envelope and fold it through the
    //    streaming upsert log (production file-sink path)
    val schema = StructType.fromDDL(
      "ID STRING, PRODUCT STRING, __op STRING, __deleted STRING")
    val parsed = graft.ops.CdcOps.parseEnvelope(
      spark.read.parquet(s"$root/lake").select($"timestamp", $"value"), schema)
    val keyedDir = s"$root/keyed"
    StreamingUpsert.toKeyedEvents(parsed, Seq("ID")).write.parquet(keyedDir)
    StreamingUpsert.upsertToLog(
      spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[KeyedEvent]].schema)
        .parquet(keyedDir).as[KeyedEvent],
      s"$root/log", s"$root/logckpt")

    // 4. compactLog (the same in-place rewrite): one row per key incl.
    //    the tombstone; current state identical before and after
    val payloadSchema = StructType.fromDDL("ID STRING, PRODUCT STRING")
    def current() = StreamingUpsert.readCurrent(spark, s"$root/log", payloadSchema)
      .select($"ID", $"PRODUCT").as[(String, String)].collect().toMap
    val before = current()
    assert(before == Map("1" -> "DEPOSIT", "3" -> "FUND")) // 2 tombstoned
    assert(StreamingUpsert.compactLog(spark, s"$root/log") == 3)
    assert(current() == before)

    // 5. HistoryLoad increment mode reads ds−1 from the COMPACTED raw
    //    partition — the CLI path composes with both compactions
    HistoryLoad.run(spark, env)
    assert(spark.table("graft_db.clic_history").count() == 5)
  }

  test("HistoryLoad increment mode appends via the same env contract") {
    val root = tmp("incr")
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_db")
    spark.sql("DROP TABLE IF EXISTS graft_db.clif_history")
    val env = Map(
      "table_name" -> "clif", "db" -> "graft_db", "ds" -> "2024-01-02",
      "settings" -> settingsJson(root, mode = "increment"))

    Seq((Timestamp.valueOf("2024-01-01 00:00:01"),
      """{"ID":"1","PRODUCT":"A","__op":"c","__deleted":"false"}"""))
      .toDF("timestamp", "value")
      .transform(df => { graft.sources.Lake.appendPartitioned(
        graft.ops.CdcOps.withDatePartitions(df), s"$root/lake"); df })
    HistoryLoad.run(spark, env)
    assert(spark.table("graft_db.clif_history").count() == 1)
  }
}
