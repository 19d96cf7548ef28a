package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingUpsert
import graft.streaming.StreamingUpsert.{KeyedEvent, KeyState}

/** Streaming LWW upsert driven through a real StreamExecution via
  * MemoryStream (Kafka's stand-in, FIXTURES.md F6).
  */
class StreamingUpsertSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("lwwStep: the newest incoming event wins unless the state is at least as new") {
    def events(orders: Long*) = orders.map(o => KeyedEvent("k", o, "u", s"v@$o")).iterator
    assert(StreamingUpsert.lwwStep("k", events(3, 7, 5), None) ==
      Some(KeyState("k", 7, "u", "v@7")))
    assert(StreamingUpsert.lwwStep("k", events(3, 7), Some(KeyState("k", 5, "u", "s"))) ==
      Some(KeyState("k", 7, "u", "v@7")))
    // stale and equal-order arrivals leave the state alone
    assert(StreamingUpsert.lwwStep("k", events(3), Some(KeyState("k", 5, "u", "s"))).isEmpty)
    assert(StreamingUpsert.lwwStep("k", events(5), Some(KeyState("k", 5, "u", "s"))).isEmpty)
    // no input: the state is never read
    assert(StreamingUpsert.lwwStep("k", Iterator.empty, fail("state read")).isEmpty)
  }

  test("flatMapGroupsWithState folds a CDC stream into per-key state across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[KeyedEvent]
    val query = StreamingUpsert.upsert(input.toDS())
      .writeStream
      .outputMode(OutputMode.Update)
      .format("memory")
      .queryName("upsert_out")
      .start()

    try {
      // batch 1: insert k1, insert k2
      input.addData(
        KeyedEvent("k1", 1, "c", "v1@1"),
        KeyedEvent("k2", 2, "c", "v2@2"))
      query.processAllAvailable()
      // batch 2: out-of-order update for k1 (order 5 then 3 within the
      // batch -> 5 wins), delete k2
      input.addData(
        KeyedEvent("k1", 5, "u", "v1@5"),
        KeyedEvent("k1", 3, "u", "v1@3"),
        KeyedEvent("k2", 6, "d", ""))
      query.processAllAvailable()
      // batch 3: stale event for k1 (order 4 < state 5) must be ignored
      input.addData(KeyedEvent("k1", 4, "u", "v1@4"))
      query.processAllAvailable()

      val out = spark.table("upsert_out").as[KeyState].collect()
      // last emitted state per key
      val latest = out.groupBy(_.key).view.mapValues(_.maxBy(_.order)).toMap
      assert(latest("k1").payload == "v1@5")
      assert(latest("k1").order == 5)
      assert(latest("k2").op == "d") // tombstone emitted
      // the stale batch-3 event emitted nothing
      assert(out.count(_.key == "k1") == 2)
    } finally query.stop()
  }

  test("transformWithState processor replays the same LWW fold across batches (RocksDB store)") {
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[KeyedEvent]
      val query = StreamingUpsert.upsertTws(input.toDS()).writeStream
        .outputMode(OutputMode.Update).format("memory").queryName("tws_out").start()
      try {
        input.addData(KeyedEvent("k1", 1, "c", "v1@1"), KeyedEvent("k2", 2, "c", "v2@2"))
        query.processAllAvailable()
        input.addData(KeyedEvent("k1", 5, "u", "v1@5"),
          KeyedEvent("k1", 3, "u", "v1@3"), KeyedEvent("k2", 6, "d", ""))
        query.processAllAvailable()
        input.addData(KeyedEvent("k1", 4, "u", "v1@4")) // stale vs state 5
        query.processAllAvailable()

        val out = spark.table("tws_out").as[KeyState].collect()
        val latest = out.groupBy(_.key).view.mapValues(_.maxBy(_.order)).toMap
        assert(latest("k1") == KeyState("k1", 5, "u", "v1@5"))
        assert(latest("k2").op == "d")
        assert(out.count(_.key == "k1") == 2) // stale arrival emitted nothing
      } finally {
        query.stop()
        spark.catalog.dropTempView("tws_out")
      }
    } finally {
      prior match {
        case Some(v) => spark.conf.set(provKey, v)
        case None    => spark.conf.unset(provKey)
      }
    }
  }

  test("toKeyedEvents adapts a CDC frame and liveRows round-trips the payload") {
    val df = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), "c", "false", "1", "LOAN"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:02"), "d", "true", "2", null)
    ).toDF("timestamp", "__op", "__deleted", "ID", "PRODUCT")

    val keyed = StreamingUpsert.toKeyedEvents(df, Seq("ID")).collect()
    assert(keyed.map(_.key).sorted.toSeq == Seq("1", "2"))
    assert(keyed.forall(_.payload.contains("\"ID\"")))

    // composite keys: null components keep their position — ("x", null)
    // and (null, "x") must NOT collide (concat_ws silently skips nulls)
    val comp = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), "c", "false",
        "x", null.asInstanceOf[String]),
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:02"), "c", "false",
        null.asInstanceOf[String], "x")
    ).toDF("timestamp", "__op", "__deleted", "A", "B")
    val compKeys = StreamingUpsert.toKeyedEvents(comp, Seq("A", "B"))
      .collect().map(_.key)
    assert(compKeys.distinct.length == 2,
      s"null-position collision: ${compKeys.toSeq}")

    val states = Seq(
      KeyState("1", 1, "c", """{"ID":"1","PRODUCT":"LOAN"}"""),
      KeyState("2", 2, "d", """{"ID":"2"}""")).toDS()
    val live = StreamingUpsert.liveRows(states,
      org.apache.spark.sql.types.StructType.fromDDL("ID STRING, PRODUCT STRING"))
    assert(live.collect().map(_.getString(0)).toSeq == Seq("1"))
  }

  test("latestPerKey collapses multi-batch sink emissions to current state") {
    // an update-mode sink that saw three micro-batches: k1 updated in
    // each (orders 1, 5, 3 — out of order across batches), k2 inserted
    // then tombstoned
    val sink = Seq(
      KeyState("k1", 1, "c", "v1@1"),
      KeyState("k2", 2, "c", "v2@2"),
      KeyState("k1", 5, "u", "v1@5"),
      KeyState("k2", 6, "d", ""),
      KeyState("k1", 3, "u", "v1@3")).toDS()

    val latest = StreamingUpsert.latestPerKey(sink).collect()
      .map(s => s.key -> s).toMap
    assert(latest.size == 2)
    assert(latest("k1").payload == "v1@5" && latest("k1").order == 5)
    assert(latest("k2").op == "d")

    // liveRows after the fold: the tombstoned key is gone, the winning
    // payload (not the stale batch-1 row) survives
    val live = StreamingUpsert.liveRows(
      StreamingUpsert.latestPerKey(Seq(
        KeyState("1", 1, "c", """{"ID":"1","PRODUCT":"OLD"}"""),
        KeyState("1", 9, "u", """{"ID":"1","PRODUCT":"NEW"}"""),
        KeyState("2", 2, "c", """{"ID":"2","PRODUCT":"X"}"""),
        KeyState("2", 3, "d", "")).toDS()),
      org.apache.spark.sql.types.StructType.fromDDL("ID STRING, PRODUCT STRING"))
      .collect()
    assert(live.map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("1", "NEW")))
  }

  test("upsertToLog appends state changes to a parquet log; compactLog keeps LWW winners") {
    val root = java.nio.file.Files.createTempDirectory("upsertlog").toString
    val in = s"$root/in"; val log = s"$root/log"; val ckpt = s"$root/ckpt"
    val schema = org.apache.spark.sql.types.StructType.fromDDL("ID STRING, V STRING")
    def stream() = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[KeyedEvent]].schema)
      .parquet(in).as[KeyedEvent]

    // run 1: two inserts
    Seq(KeyedEvent("k1", 1, "c", """{"ID":"k1","V":"a"}"""),
      KeyedEvent("k2", 2, "c", """{"ID":"k2","V":"b"}"""))
      .toDS().write.parquet(in)
    StreamingUpsert.upsertToLog(stream(), log, ckpt)
    val live1 = StreamingUpsert.readCurrent(spark, log, schema).collect()
    assert(live1.map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("k1", "a"), ("k2", "b")))

    // run 2 (same checkpoint — only the new file is processed): update
    // k1, tombstone k2
    Seq(KeyedEvent("k1", 5, "u", """{"ID":"k1","V":"a2"}"""),
      KeyedEvent("k2", 6, "d", ""))
      .toDS().write.mode("append").parquet(in)
    StreamingUpsert.upsertToLog(stream(), log, ckpt)
    assert(spark.read.parquet(log).count() == 4) // append-only change log
    val live2 = StreamingUpsert.readCurrent(spark, log, schema).collect()
    assert(live2.map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("k1", "a2")))

    // compaction: one row per key (tombstone kept), current state intact,
    // in 3 Spark jobs: the read's footer inference, the winners' shuffle
    // and the write that counts its rows (6 while the winners were
    // checkpointed and counted before the write)
    var n = 0L
    val jobs = org.apache.spark.graftbridge.JobCounter.jobsOf(spark.sparkContext) {
      n = StreamingUpsert.compactLog(spark, log)
    }
    assert(jobs == 3)
    assert(n == 2 && spark.read.parquet(log).count() == 2)
    val live3 = StreamingUpsert.readCurrent(spark, log, schema).collect()
    assert(live3.map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("k1", "a2")))
  }

  test("upsert survives a stop/restart: checkpointed state resumes, " +
      "processed files are not replayed") {
    import org.apache.spark.sql.functions.col
    val root = TestSpark.scratchDir("upsert-restart")
    val in = s"$root/in"; val ckpt = s"$root/ckpt"; val out = s"$root/out"
    new java.io.File(in).mkdirs()
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "key STRING, order BIGINT, op STRING, payload STRING")
    def stream() = StreamingUpsert.upsert(
      spark.readStream.schema(schema).parquet(in).as[KeyedEvent])
      .writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[KeyState], _: Long) =>
        batch.write.mode("append").parquet(out)
      }
      .start()

    // run 1: keys established (k1 order 1, k2 order 2), then STOP
    Seq(KeyedEvent("k1", 1, "c", "v1@1"), KeyedEvent("k2", 2, "c", "v2@2"))
      .toDS().write.mode("append").parquet(in)
    val q1 = stream()
    try { q1.processAllAvailable() } finally q1.stop()

    // run 2 (same checkpoint): a genuine update for k1 and a STALE
    // event for k2 (order 1 < checkpointed state 2) — if the LWW state
    // did not survive the restart, the stale event would win and emit
    Seq(KeyedEvent("k1", 5, "u", "v1@5"), KeyedEvent("k2", 1, "u", "STALE"))
      .toDS().write.mode("append").parquet(in)
    val q2 = stream()
    try { q2.processAllAvailable() } finally q2.stop()

    val emitted = spark.read.parquet(out).as[KeyState].collect()
    // file 1 was NOT replayed after restart: k1 emitted exactly twice
    // (once per run), k2 exactly once (the stale update emitted nothing)
    assert(emitted.count(_.key == "k1") == 2, emitted.mkString(", "))
    assert(emitted.count(_.key == "k2") == 1, emitted.mkString(", "))
    val latest = StreamingUpsert.latestPerKey(
      spark.read.parquet(out).as[KeyState]).collect().map(s => s.key -> s).toMap
    assert(latest("k1").payload == "v1@5" && latest("k1").order == 5)
    assert(latest("k2").payload == "v2@2" && latest("k2").order == 2,
      "stale post-restart event must lose to the checkpointed state")
  }

  test("upsert survives a restart with a CHANGED spark.sql.shuffle.partitions: " +
      "the checkpoint pins the original state partitioning, results unchanged") {
    // The operational failure mode a real deployment hits first: ops
    // bumps shuffle partitions (cluster resize, conf cleanup) and
    // restarts the job on its old checkpoint. Spark HANDLES this for
    // stateful queries by pinning the state partition count in the
    // offset log at first run — the session conf is ignored on resume
    // — so the LWW fold must behave exactly as if nothing changed.
    // This test proves both halves: identical results, and the state
    // directory still laid out at the ORIGINAL partition count.
    import org.apache.spark.sql.functions.col
    val root = TestSpark.scratchDir("upsert-rescale")
    val in = s"$root/in"; val ckpt = s"$root/ckpt"; val out = s"$root/out"
    new java.io.File(in).mkdirs()
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "key STRING, order BIGINT, op STRING, payload STRING")
    val partsKey = "spark.sql.shuffle.partitions"
    val prevParts = spark.conf.get(partsKey)
    def runWith(parts: Int)(data: KeyedEvent*): Unit = {
      spark.conf.set(partsKey, parts.toString)
      data.toDS().write.mode("append").parquet(in)
      val q = StreamingUpsert.upsert(
        spark.readStream.schema(schema).parquet(in).as[KeyedEvent])
        .writeStream
        .outputMode(OutputMode.Update)
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[KeyState], _: Long) =>
          batch.write.mode("append").parquet(out)
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    try {
      // run 1 at 3 state partitions: establish k1..k3
      runWith(3)(KeyedEvent("k1", 1, "c", "v1@1"),
        KeyedEvent("k2", 2, "c", "v2@2"), KeyedEvent("k3", 3, "c", "v3@3"))
      // run 2 at 11: a genuine update, a stale event, and a tombstone —
      // every transition that depends on the checkpointed state
      runWith(11)(KeyedEvent("k1", 5, "u", "v1@5"),
        KeyedEvent("k2", 1, "u", "STALE"), KeyedEvent("k3", 7, "d", ""))

      val latest = StreamingUpsert.latestPerKey(
        spark.read.parquet(out).as[KeyState]).collect().map(s => s.key -> s).toMap
      assert(latest("k1").payload == "v1@5" && latest("k1").order == 5)
      assert(latest("k2").payload == "v2@2" && latest("k2").order == 2,
        "stale event must lose to state restored under the NEW conf")
      assert(latest("k3").op == "d", "tombstone must land on restored state")

      // the state store is still laid out at run 1's partition count —
      // proof the rescaled conf was ignored rather than half-applied
      val statePartDirs = new java.io.File(s"$ckpt/state/0")
        .listFiles().count(f => f.isDirectory && f.getName.forall(_.isDigit))
      assert(statePartDirs == 3,
        s"state dir shows $statePartDirs partitions; expected the " +
          "checkpoint-pinned 3 regardless of the restart conf 11")
    } finally spark.conf.set(partsKey, prevParts)
  }
}
