package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.model.OpCode

/** The CDC merge engine core: pure `DataFrame => DataFrame` operators.
  *
  * Re-expresses, Spark-idiomatically, every relational operator of the
  * reference pipeline (SURVEY.md §2). Each function cites the reference
  * behavior it covers. All are lazy plan builders — no actions — so
  * Catalyst sees the whole merge as one plan and can push filters into
  * the scan, prune columns, and plan the anti-join as a broadcast.
  */
object CdcOps {

  val OpColumn = "__op"
  val DeletedColumn = "__deleted"
  val metaColumns: Seq[String] = Seq(OpColumn, DeletedColumn)

  // -------------------------------------------------------------------
  // Envelope parsing (P1-P4, S7)
  // -------------------------------------------------------------------

  /** P1 — cast projection of the Kafka record
    * (`raw_data_handler.py:51`).
    */
  def castEnvelope(df: DataFrame): DataFrame =
    df.select(col("timestamp").cast("timestamp"), col("value").cast("string"))

  /** S7 — payload schema inference over the raw JSON strings
    * (`daily_data_handler.py:61`). The reference hops through an RDD
    * (`raw_df.rdd.map(lambda row: row.value)`); the Dataset[String]
    * overload avoids that and keeps the scan columnar.
    */
  def inferPayloadSchema(raw: DataFrame): StructType = {
    val spark = raw.sparkSession
    import spark.implicits._
    spark.read.json(raw.select(col("value")).as[String]).schema
  }

  /** P2 + P3 — parse the JSON payload and flatten the struct
    * (`daily_data_handler.py:65-66`).
    */
  def parseEnvelope(raw: DataFrame, payloadSchema: StructType): DataFrame =
    raw
      .select(col("timestamp"), from_json(col("value"), payloadSchema).as("data"))
      .select(col("timestamp"), col("data.*"))

  /** P4 — column-name sanitization. Daily layer: `/` → `_`
    * (`daily_data_handler.py:70-71`). History layer additionally
    * lowercases and resolves collisions with the envelope's `timestamp`
    * column (`history_data_handler.py:94-109`): a payload column named
    * `timestamp` becomes `source_timestamp` (or `timestamp_in_source` if
    * that is taken).
    */
  def sanitizeColumnNames(df: DataFrame, lower: Boolean = false): DataFrame = {
    var names = df.columns.toSeq.map { c =>
      val s = c.replace("/", "_")
      if (lower) s.toLowerCase else s
    }
    if (lower) {
      // Collision pass: only payload columns (index > 0; index 0 is the
      // envelope timestamp) may be renamed. Taken-ness is tracked
      // against the names chosen SO FAR, not the pre-rename list — else
      // two payload columns both lowercasing to "timestamp" would both
      // pick "source_timestamp" and the frame gains duplicate columns.
      val envelopeTs = "timestamp"
      val used = scala.collection.mutable.Set(names: _*)
      names = names.zipWithIndex.map {
        case (`envelopeTs`, i) if i > 0 =>
          val candidate = Seq("source_timestamp", "timestamp_in_source")
            .find(c => !used.contains(c))
            .getOrElse(throw new IllegalArgumentException(
              "cannot sanitize: source_timestamp AND timestamp_in_source " +
                "both taken alongside a payload `timestamp` column"))
          used += candidate
          candidate
        case (n, _) => n
      }
    }
    df.toDF(names: _*)
  }

  // -------------------------------------------------------------------
  // Op routing (P5)
  // -------------------------------------------------------------------

  /** The three-way CDC split (`daily_data_handler.py:33-35`). */
  final case class Routed(inserts: DataFrame, updates: DataFrame, deleteKeys: DataFrame)

  /** P5 — route by op code, drop CDC metadata, project deletes to PKs
    * (`daily_data_handler.py:33-35`, `history_data_handler.py:38-40`).
    */
  def routeOps(parsed: DataFrame, primaryKeys: Seq[String]): Routed = {
    val inserts = parsed
      .filter(col(OpColumn).isin(OpCode.insertCodes: _*))
      .drop(metaColumns: _*)
    val updates = parsed
      .filter(col(OpColumn) === OpCode.Update)
      .drop(metaColumns: _*)
    val deletes = parsed
      .filter(col(OpColumn) === OpCode.Delete)
      .select(primaryKeys.map(col): _*)
    Routed(inserts, updates, deletes)
  }

  // -------------------------------------------------------------------
  // Dedup / aggregation (A1, A2, A5)
  // -------------------------------------------------------------------

  /** A1 — last-writer-wins dedup: keep the newest row per primary key
    * (`daily_data_handler.py:106-109`). The reference orders by
    * `desc(timestamp)` only; `orderColumns` lets callers append
    * deterministic tiebreakers (SURVEY §7.4.2).
    *
    * Scale note: one shuffle on the PK; at 100 TB this is the minimum
    * possible — the window's `row_number` needs per-key ordering, and
    * Spark plans it as a single sort within the hash-partitioned
    * exchange (no extra pass vs. a groupBy max-by).
    */
  def lastWriterWins(df: DataFrame, primaryKeys: Seq[String],
                     orderColumns: Seq[String] = Seq("timestamp")): DataFrame = {
    val w = Window
      .partitionBy(primaryKeys.map(col): _*)
      .orderBy(orderColumns.map(c => col(c).desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** A1 variant — last-writer-wins as a ONE-PASS hash aggregate:
    * `max_by(row-struct, order-struct)` per key. Equivalent to
    * [[lastWriterWins]] (struct ordering is lexicographic, so max of
    * (ts, tiebreakers) = newest row) but plans as HashAggregate with
    * map-side partial aggregation instead of shuffle+sort+window — at
    * 100 TB that cuts the shuffle to one pre-combined row per key per
    * map task and drops the per-partition sort entirely.
    */
  def lastWriterWinsAgg(df: DataFrame, primaryKeys: Seq[String],
                        orderColumns: Seq[String] = Seq("timestamp")): DataFrame = {
    val ord = struct(orderColumns.map(col): _*)
    val payload = struct(df.columns.map(col): _*)
    df.groupBy(primaryKeys.map(col): _*)
      .agg(max_by(payload, ord).as("__row"))
      .select(col("__row.*"))
  }

  /** A2 — null-coalescing group-agg (`_coalesce_updates`,
    * `daily_data_handler.py:111-114`): merge partial-row updates by
    * taking, per key, the newest non-null value of each non-PK column.
    * Dead code in the reference (defined, never called) — resurrected
    * here as a live option because partial updates are common in real
    * Debezium streams.
    *
    * Implemented with `max_by(x, ts-when-x-nonnull)` — a single
    * hash-aggregate pass (map-side partial agg), strictly cheaper than
    * the reference's `first(ignorenulls)` which is order-dependent and
    * nondeterministic.
    */
  def coalesceUpdates(df: DataFrame, primaryKeys: Seq[String],
                      orderColumn: String = "timestamp"): DataFrame = {
    val nonPk = df.columns.filterNot(c => primaryKeys.contains(c) || c == orderColumn)
    val aggs = max(col(orderColumn)).as(orderColumn) +:
      nonPk.toSeq.map { c =>
        max_by(col(c), when(col(c).isNotNull, col(orderColumn))).as(c)
      }
    df.groupBy(primaryKeys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      // restore original column order
      .select(df.columns.map(col): _*)
  }

  // -------------------------------------------------------------------
  // Merge (J1, A4, A5, P7)
  // -------------------------------------------------------------------

  /** J1 — the heart of the merge: broadcast LEFT ANTI join that removes
    * from the existing table every row whose PK appears in the tombstone
    * set (deletes ∪ update-keys) (`daily_data_handler.py:88-95`,
    * `history_data_handler.py:124-131`).
    *
    * Scale note: the existing table is the 100 TB side; the tombstones
    * are one batch's keys. Broadcasting the tombstones means the scan of
    * the existing table never shuffles — the same reasoning as the
    * reference's explicit `f.broadcast()` with auto-broadcast disabled
    * (`history_load.py:40`).
    */
  def antiJoinByKey(existing: DataFrame, tombstoneKeys: DataFrame,
                    primaryKeys: Seq[String]): DataFrame =
    existing.join(broadcast(tombstoneKeys), primaryKeys, "left_anti")

  /** J1 at beyond-broadcast scale: bloom-filter-pruned LEFT ANTI join.
    *
    * [[antiJoinByKey]] broadcasts the tombstones — right until one batch's
    * tombstone set outgrows the broadcast budget, at which point Spark
    * falls back to shuffling the ENTIRE existing table (the 100 TB side).
    * This variant keeps that cliff from mattering: build a bloom filter
    * over the tombstone keys with `bloom_filter_agg` (a distributed
    * aggregate — only the fixed-size sketch ever reaches the driver),
    * broadcast the one-row sketch, and split the existing table into
    *
    *  - definite keeps (`might_contain` = false — the overwhelming
    *    majority of a replica vs. one day's changes), which skip the join
    *    entirely and never shuffle, and
    *  - possible hits (true positives + the filter's false-positive rate),
    *    which go through the exact anti-join for verification.
    *
    * The result is therefore EXACTLY `antiJoinByKey` — the bloom filter
    * only prunes, never decides — while the shuffled volume drops from
    * |existing| to |existing| × (|tombstones|/|keyspace| + fpp).
    *
    * An empty tombstone set yields a NULL sketch; `might_contain(NULL, _)`
    * is NULL, coalesced to false = keep everything, matching the anti-join.
    */
  def bloomPrunedAntiJoin(existing: DataFrame, tombstoneKeys: DataFrame,
                          primaryKeys: Seq[String],
                          expectedItems: Long = 1L << 22): DataFrame = {
    val probed = bloomProbed(existing, tombstoneKeys, primaryKeys, expectedItems)
    probed.filter(!col("__might")).drop("__might")
      .unionByName(probed.filter(col("__might")).drop("__might")
        .join(tombstoneKeys, primaryKeys, "left_anti"))
  }

  /** `existing` plus a boolean `__might`: false when the bloom filter
    * over `keys` proves the row's key absent from them. The filter is
    * sized for `expectedItems` keys as Spark sizes its own runtime bloom
    * filters, within their item and bit caps
    * (`spark.sql.optimizer.runtime.bloomFilter.max*`).
    */
  private def bloomProbed(existing: DataFrame, keys: DataFrame, primaryKeys: Seq[String],
                          expectedItems: Long): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.Bridge
    // BloomFilterAggregate/BloomFilterMightContain are what Spark's own
    // InjectRuntimeFilter plants; they are not in the public function
    // registry, so wrap the expressions directly.
    val bloomAgg = Bridge.column(
      new BloomFilterAggregate(
        Bridge.expression(xxhash64(primaryKeys.map(col): _*)),
        math.max(1L, expectedItems)).toAggregateExpression())
    // might_contain demands its filter side be a constant or scalar
    // subquery: run the sketch-building aggregate as a scalar subquery,
    // whose (single binary) result is computed once and shipped to every
    // task probing the existing table.
    val bloom = Bridge.scalarSubquery(keys.agg(bloomAgg.as("__bf")))
    existing
      .withColumn("__might",
        coalesce(Bridge.column(BloomFilterMightContain(
          Bridge.expression(bloom),
          Bridge.expression(xxhash64(primaryKeys.map(col): _*)))), lit(false)))
  }

  /** The rows of `df` equal to no row of `rows` (null-safe on every
    * column, as `dropDuplicates` compares), in `rows`' schema: `df`'s
    * columns must come first in it, and missing ones are null-padded.
    * `rows` is broadcast unless it is past the broadcast budget.
    */
  private def withoutRowsOf(df: DataFrame, rows: DataFrame, broadcastRows: Boolean): DataFrame = {
    val names = rows.columns
    // positional names on both sides: payload column names may hold
    // characters a column reference would parse
    val padded = df.unionByName(emptyLike(rows), allowMissingColumns = true)
      .toDF(names.indices.map(i => s"__l$i"): _*)
    val other = rows.toDF(names.indices.map(i => s"__r$i"): _*)
    val on = names.indices.map(i => col(s"__l$i") <=> col(s"__r$i")).reduce(_ && _)
    padded.join(if (broadcastRows) broadcast(other) else other, on, "left_anti").toDF(names: _*)
  }

  /** A batch's tombstone keys: its deletes and its updates' keys (LWW
    * keeps one row per key, so the updates' keys are its keys).
    */
  def tombstoneKeys(routed: Routed, primaryKeys: Seq[String]): DataFrame =
    routed.deleteKeys.unionByName(routed.updates.select(primaryKeys.map(col): _*))

  /** The full batch merge (`_overwrite_daily_table`,
    * `daily_data_handler.py:75-104`):
    *
    * {{{
    * merged = (existing ∖ (deletes ∪ updateKeys)) ∪ inserts ∪ LWW(updates)
    * }}}
    *
    * then full-row dedup (A4+A5). `unionByName` with missing-column
    * tolerance replaces the reference's positional re-select (P7,
    * `daily_data_handler.py:94,99-100`) — it survives the schema drift
    * the positional union would silently corrupt (SURVEY §7.4.1).
    *
    * The dedup runs over the batch's rows only. That relies on
    * `existing` being row-distinct, which holds for every table this
    * merge or [[foldMerge]] wrote: then the kept rows are distinct, and
    * `dedup(kept ∪ batch) = (kept ∖ dedup(batch)) ∪ dedup(batch)`. The
    * kept rows equal to a deduped batch row are dropped by a second
    * broadcast anti join over the same scan, so the existing table is
    * read once and never shuffled; the exchanges carry batch rows only.
    * The result equals the formula above row for row, column order
    * included.
    *
    * Past the broadcast budget the bloom filters are sized for
    * `expectedKeys`, a bound on the batch's keys such as its event count.
    */
  def mergeBatch(existing: DataFrame, routed: Routed,
                 primaryKeys: Seq[String],
                 orderColumns: Seq[String] = Seq("timestamp"),
                 tombstonesBeyondBroadcast: Boolean = false,
                 expectedKeys: Long = 1L << 22): DataFrame = {
    val tombstones = tombstoneKeys(routed, primaryKeys)
    // one batch's tombstones normally broadcast; past the broadcast
    // budget the bloom-pruned variant keeps the existing (100 TB) side
    // from shuffling wholesale — identical result either way
    val kept =
      if (tombstonesBeyondBroadcast)
        bloomPrunedAntiJoin(existing, tombstones, primaryKeys, expectedKeys)
      else antiJoinByKey(existing, tombstones, primaryKeys)
    // the batch's rows in the merged schema (kept's columns first, types
    // widened as the full union widens them), deduped
    val batch = emptyLike(kept)
      .unionByName(routed.inserts, allowMissingColumns = true)
      .unionByName(lastWriterWins(routed.updates, primaryKeys, orderColumns),
        allowMissingColumns = true)
      .dropDuplicates()
    // a kept row can only equal a batch row of its own key; past the
    // budget a bloom filter over the batch keys picks the rows to check
    val keptOnly =
      if (tombstonesBeyondBroadcast) {
        val probed = bloomProbed(kept, batch.select(primaryKeys.map(col): _*), primaryKeys,
          expectedKeys)
        probed.filter(!col("__might")).drop("__might")
          .unionByName(withoutRowsOf(probed.filter(col("__might")).drop("__might"), batch,
            broadcastRows = false), allowMissingColumns = true)
      } else withoutRowsOf(kept, batch, broadcastRows = true)
    keptOnly.unionByName(batch, allowMissingColumns = true)
  }

  /** The improved one-pass merge the reference lacks: latest op per key
    * wins outright — a delete tombstones the key, anything else upserts
    * the row. Equivalent to folding the event log in (orderColumns)
    * order into a LWW map. One shuffle total (the window), vs. the
    * reference's window + anti-join + union + distinct.
    */
  def foldMerge(events: DataFrame, primaryKeys: Seq[String],
                orderColumns: Seq[String] = Seq("timestamp")): DataFrame =
    lastWriterWins(events, primaryKeys, orderColumns)
      .filter(col(OpColumn) =!= OpCode.Delete)
      .drop(metaColumns: _*)

  /** Replica reconciliation — diff two snapshots of the same keyed
    * table (source vs replica, or t₁ vs t₂): FULL OUTER join on the
    * key, each key classified insert / delete / update / unchanged.
    * The comparison is null-safe per column (`IS NOT DISTINCT FROM`),
    * never a stringified fingerprint — double→string formatting is
    * engine-specific, the values themselves are not.
    *
    * Scale shape: ONE co-partitioned shuffle on the key for both sides
    * (AQE skew-handles hot keys); classification is a pure projection.
    * At 100 TB run it per lake partition — with both sides
    * partition-pruned the join never holds more than a partition's
    * keys, and the all-'unchanged' bulk can be filtered before any
    * downstream collect/report.
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
                   keys: Seq[String], compareCols: Seq[String]): DataFrame = {
    require(compareCols.nonEmpty, "snapshotDiff: compareCols must be non-empty")
    val internal = Seq("__old", "__new") ++
      compareCols.flatMap(c => Seq(s"${c}_old", s"${c}_new"))
    val clash = (keys ++ compareCols).intersect(internal)
    require(clash.isEmpty,
      s"snapshotDiff: input column(s) ${clash.mkString(", ")} collide with " +
        "the internal __old/__new markers or the *_old/*_new output names")
    val or = compareCols.foldLeft(
      oldSnap.select((keys ++ compareCols).map(col): _*).withColumn("__old", lit(true)))(
      (d, c) => d.withColumnRenamed(c, s"${c}_old"))
    val nr = compareCols.foldLeft(
      newSnap.select((keys ++ compareCols).map(col): _*).withColumn("__new", lit(true)))(
      (d, c) => d.withColumnRenamed(c, s"${c}_new"))
    val changed = compareCols.map(c => !(col(s"${c}_old") <=> col(s"${c}_new")))
      .reduce(_ || _)
    or.join(nr, keys, "full_outer")
      .select(keys.map(col) ++ Seq(
        when(col("__old").isNull, "insert")
          .when(col("__new").isNull, "delete")
          .when(changed, "update")
          .otherwise("unchanged").as("status")) ++
        compareCols.flatMap(c => Seq(col(s"${c}_old"), col(s"${c}_new"))): _*)
  }

  /** History "increment" mode for append-only fact tables
    * (`history_data_handler.py:143-157`): full-row dedup, then append.
    * The reference's `coalesce(1)` small-files control is replaced by
    * AQE partition coalescing (Sessions.common).
    */
  def incrementBatch(batch: DataFrame): DataFrame =
    batch.dropDuplicates()

  // -------------------------------------------------------------------
  // Partitioning (P6) and bootstrap (P9)
  // -------------------------------------------------------------------

  /** P6 — derive lake partition columns from the event timestamp
    * (`raw_data_handler.py:68-75`).
    */
  def withDatePartitions(df: DataFrame, tsColumn: String = "timestamp"): DataFrame =
    df.withColumn("op_year", year(col(tsColumn)))
      .withColumn("op_month", month(col(tsColumn)))
      .withColumn("op_day", dayofmonth(col(tsColumn)))

  /** P9 — empty frame with a given frame's schema. Replaces the
    * reference's create-then-truncate bootstrap trick
    * (`daily_data_handler.py:157-162`) — `where(lit(false))` prunes to a
    * zero-task scan, no legacy conf needed (SURVEY §4 "Legacy conf").
    */
  def emptyLike(df: DataFrame): DataFrame = df.where(lit(false))
}
