package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.model.OpCode
import graft.ops.CdcOps

/** End-to-end streaming upsert — the design the reference lacks
  * (SURVEY §7.3): instead of raw-dump + hourly batch merges
  * (`pipelines/daily_data_handler.py`), fold the change stream directly
  * into per-key last-writer-wins state with
  * `flatMapGroupsWithState`, emitting one row per key change per
  * micro-batch.
  *
  * State is hash-partitioned by key across executors and incrementally
  * checkpointed by the state store — at 100 TB of *events* the state is
  * only as big as the live key set, and each micro-batch shuffles only
  * its own events.
  */
object StreamingUpsert {

  /** Generic keyed envelope: `key` = concatenated PKs, `order` = LWW
    * ordering (e.g. event-time micros, then offset), `payload` = the
    * row as JSON (schema-agnostic, like the raw layer itself).
    */
  final case class KeyedEvent(key: String, order: Long, op: String, payload: String)

  /** Latest per-key state: the winning event and whether the key is
    * live (`op != d`) or tombstoned.
    */
  final case class KeyState(key: String, order: Long, op: String, payload: String)

  /** The LWW step both fold implementations share: the newest incoming
    * event (max `order`) becomes the key's next state, unless the
    * current state is at least as new (a stale arrival: no change).
    */
  private[graft] def lwwStep(key: String, events: Iterator[KeyedEvent],
                             current: => Option[KeyState]): Option[KeyState] =
    events.reduceOption((a, b) => if (a.order >= b.order) a else b)
      .filterNot(ev => current.exists(_.order >= ev.order))
      .map(ev => KeyState(key, ev.order, ev.op, ev.payload))

  private[streaming] def foldGroup(
      key: String,
      events: Iterator[KeyedEvent],
      state: GroupState[KeyState]): Iterator[KeyState] = {
    val next = lwwStep(key, events, state.getOption)
    next.foreach(state.update)
    next.iterator
  }

  /** Fold a stream of [[KeyedEvent]] into per-key LWW state changes. */
  def upsert(events: Dataset[KeyedEvent]): Dataset[KeyState] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(foldGroup)
  }

  /** [[upsert]]'s LWW fold on the Spark 4 `transformWithState` API —
    * the arbitrary-state successor of `flatMapGroupsWithState`: typed
    * state handles created in `init`, RocksDB-backed (the API requires
    * the RocksDB state-store provider), native per-state TTL available
    * via [[org.apache.spark.sql.streaming.TTLConfig]]. Both folds run
    * the one [[lwwStep]] — max-order per key, stale arrivals ignored,
    * emit only on change — and `stream_upsert_tws` pins both
    * implementations to the same oracle.
    */
  class LwwStatefulProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, KeyedEvent, KeyState] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[KeyState] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[KeyState]("lww",
        org.apache.spark.sql.Encoders.product[KeyState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[KeyedEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[KeyState] = {
      val next = lwwStep(key, rows, if (state.exists()) Option(state.get()) else None)
      next.foreach(state.update)
      next.iterator
    }
  }

  /** Fold the stream via [[LwwStatefulProcessor]]. Requires
    * `spark.sql.streaming.stateStore.providerClass` =
    * `...state.RocksDBStateStoreProvider` (set it before starting the
    * query; `transformWithState` rejects the default HDFS-backed store).
    */
  def upsertTws(events: Dataset[KeyedEvent]): Dataset[KeyState] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.key)
      .transformWithState(new LwwStatefulProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update)
  }

  /** Adapt a CDC DataFrame (any payload schema + `__op` + an ordering
    * column) into the keyed envelope: key = PKs joined with a unit
    * separator, order = microseconds of the ordering timestamp, payload
    * = the full row as JSON.
    */
  def toKeyedEvents(df: DataFrame, primaryKeys: Seq[String],
                    orderColumn: String = "timestamp"): Dataset[KeyedEvent] = {
    import df.sparkSession.implicits._
    val payloadCols = df.columns.filterNot(CdcOps.metaColumns.contains)
    // concat_ws SKIPS null components (and their separator), so
    // ("x", null) and (null, "x") would both key as "x" — a NUL
    // marker keeps null a distinct, position-preserving value.
    // Single non-null PKs keep their plain string key.
    df.select(
      concat_ws("\u0001", primaryKeys.map(c =>
        coalesce(col(c).cast("string"), lit("\u0000"))): _*).as("key"),
      unix_micros(col(orderColumn).cast("timestamp")).as("order"),
      col(CdcOps.OpColumn).as("op"),
      to_json(struct(payloadCols.map(col): _*)).as("payload"))
      .as[KeyedEvent]
  }

  /** Collapse a sink of per-batch [[KeyState]] emissions to the winning
    * row per key. An update-mode memory/file sink APPENDS one row per
    * changed key per micro-batch — reading it back as current state is
    * only correct after this fold (a single-AvailableNow-batch run emits
    * each key once, but rate limits or multi-file globs split batches).
    * `reduceGroups` keeps the fold map-side-combinable.
    */
  def latestPerKey(states: Dataset[KeyState]): Dataset[KeyState] = {
    import states.sparkSession.implicits._
    states.groupByKey(_.key)
      .reduceGroups((a, b) => if (a.order >= b.order) a else b)
      .map(_._2)
  }

  /** Live (non-tombstoned) rows of an upsert result, parsed back to the
    * payload schema — the streaming equivalent of the daily table.
    */
  def liveRows(states: Dataset[KeyState], payloadSchema: org.apache.spark.sql.types.StructType): DataFrame =
    states
      .filter(col("op") =!= OpCode.Delete)
      .select(from_json(col("payload"), payloadSchema).as("data"))
      .select(col("data.*"))

  /** Production file-sink path for [[upsert]]: each micro-batch's
    * [[KeyState]] emissions append to a parquet upsert LOG via
    * `foreachBatch` (the parquet sink only accepts Append mode, and
    * `flatMapGroupsWithState` emits in Update mode), checkpointed so a
    * normal run appends each batch exactly once. Nothing is buffered on
    * the driver — changed keys flow state store → executor tasks →
    * files. A crash between the sink write and the checkpoint commit
    * re-appends the SAME (key, order, op, payload) rows on recovery;
    * [[latestPerKey]] collapses them, so the log is idempotent on read
    * (same at-least-once-append + LWW-merge contract as the reference's
    * raw layer). [[compactLog]] relies on the same contract: a crashed
    * compaction may leave rows twice, never lose one.
    */
  def upsertToLog(events: Dataset[KeyedEvent], dataDir: String,
                  checkpointDir: String): Unit = {
    val q = upsert(events).writeStream
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[KeyState], _: Long) =>
        batch.toDF().write.mode("append").parquet(dataDir)
      }
      .start()
    q.awaitTermination()
  }

  /** Current table from an [[upsertToLog]] log: winning row per key,
    * tombstones dropped, payload parsed back to columns.
    */
  def readCurrent(spark: org.apache.spark.sql.SparkSession, dataDir: String,
                  payloadSchema: org.apache.spark.sql.types.StructType): DataFrame = {
    import spark.implicits._
    liveRows(latestPerKey(spark.read.parquet(dataDir).as[KeyState]), payloadSchema)
  }

  /** Semantic compaction of the upsert log: rewrite it to ONE row per
    * key (the LWW winner — tombstones kept, they must keep suppressing
    * late stale arrivals), in place as [[graft.sources.Lake.compact]]
    * rewrites a raw day ([[graft.sources.Lake.rewriteInPlace]]): a
    * concurrent reader always sees the log, and a batch appended
    * meanwhile is kept. Run periodically so log size tracks the live key
    * set, not all-time change history. Returns the compacted row count.
    */
  def compactLog(spark: org.apache.spark.sql.SparkSession, dataDir: String): Long = {
    import spark.implicits._
    graft.sources.Lake.rewriteInPlace(spark, dataDir, "parquet")(log =>
      latestPerKey(log.as[KeyState]).toDF())
  }
}
