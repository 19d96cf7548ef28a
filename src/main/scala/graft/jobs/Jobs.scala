package graft.jobs

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.model.TableSpec
import graft.ops.CdcOps
import graft.sources.{Lake, MergeOnRead}

/** The three pipeline stages, re-expressed Spark-first. Each is a thin
  * orchestration shell over the pure operators in [[CdcOps]] — the
  * orchestration (Airflow in the reference, `airflow_dags/
  * cdc_ingestion_dag.py:20-66`) stays external.
  */
object Jobs {

  /** Raw ingest (`pipelines/raw_data_handler.py`): stream →
    * cast-projection → date partitions → partitioned append, one
    * micro-batch per run.
    *
    * `Trigger.AvailableNow` is the modern `trigger(once=True)`
    * (S4): it drains everything available, checkpointed, possibly in
    * several rate-limited batches — exactly-once via the offset ledger
    * in `checkpointLocation`.
    */
  def rawIngest(raw: DataFrame, spec: TableSpec): Unit = {
    val q = raw.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", spec.checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val cast = CdcOps.castEnvelope(batch)
        Lake.appendPartitioned(CdcOps.withDatePartitions(cast), spec.dataDir, spec.format)
      }
      .start()
    q.awaitTermination()
  }

  /** One day's parsed, sanitized change events (S6, S7, P2-P4). Returns
    * None when the day has no record (the "no new data" case the
    * reference detects by catching AnalysisException on the missing
    * path, `daily_data_handler.py:39-41` — here a missing day directory
    * or raw root reads as an empty frame, no exception control flow).
    */
  def readDayEvents(spark: SparkSession, spec: TableSpec, ds: LocalDate,
                    lowerNames: Boolean = false): Option[DataFrame] =
    parsedIfAny(Lake.readDay(spark, spec.dataDir, ds.getYear,
      ds.getMonthValue, ds.getDayOfMonth, spec.format), lowerNames)

  /** A raw read without its partition columns, parsed as [[parseRaw]]
    * parses it, or None when it holds no record. JSON inference yields
    * fields only from records, so a non-empty payload schema proves the
    * frame non-empty without a job of its own; only an empty schema
    * (no record, or only `{}` records) is checked with `isEmpty`.
    */
  private def parsedIfAny(raw: DataFrame, lowerNames: Boolean): Option[DataFrame] = {
    val events = raw.drop(Lake.partitionColumns: _*)
    val schema = CdcOps.inferPayloadSchema(events)
    if (schema.isEmpty && events.isEmpty) None
    else Some(parseRaw(events, lowerNames, graft.schema.SchemaProvider.Declared(schema)))
  }

  /** Parse a raw `(timestamp, value)` frame: resolve the payload schema
    * via the provider (per-batch inference by default — the reference's
    * deliberate schema-drift tolerance, S7; declared mode skips the
    * inference pass entirely), parse, flatten, sanitize names.
    */
  def parseRaw(raw: DataFrame, lowerNames: Boolean = false,
               schemaProvider: graft.schema.SchemaProvider =
                 graft.schema.SchemaProvider.Inferred): DataFrame = {
    val schema = schemaProvider.schemaFor(raw)
    val parsed = CdcOps.parseEnvelope(raw, schema)
    CdcOps.sanitizeColumnNames(parsed, lower = lowerNames)
  }

  /** Daily merge (`pipelines/daily_data_handler.py`): merge one day of
    * events into `<table>_daily`, a merge-on-read table ([[MergeOnRead]])
    * as the history table is. The history merge truncates it, so a day's
    * first merge rewrites it whole (its base holds no rows); a later merge
    * before the next truncation appends its batch as a delta while the log
    * stays within [[MergeOnRead.Alpha]] of the base.
    */
  def dailyMerge(spark: SparkSession, spec: TableSpec, ds: LocalDate): Unit =
    readDayEvents(spark, spec, ds).foreach { events =>
      withBatch(spark, spec, events) { (routed, n, limit) =>
        if (spark.catalog.tableExists(spec.dailyTable))
          MergeOnRead.mergeTable(spark, spec.dailyTable, routed, n, limit,
            spec.primaryKeys, spec.orderColumns, spec.format)
        else
          MergeOnRead.createTable(spark, spec.dailyTable,
            CdcOps.mergeBatch(CdcOps.emptyLike(routed.inserts), routed, spec.primaryKeys,
              spec.orderColumns, tombstonesBeyondBroadcast = n > limit, expectedKeys = n),
            spec.primaryKeys, spec.format)
      }
    }

  /** History merge (`pipelines/history_data_handler.py`): merge ds−1
    * into `<table>_history` (the reference's off-by-one contract with
    * the Airflow hour-0 branch, `history_data_handler.py:65`), falling
    * back to a full-raw backfill when the history table doesn't exist
    * yet (`:77-81`). Merge mode then truncates the daily staging table
    * (`:211-214`); increment mode appends deduped rows.
    *
    * Where the reference overwrites the whole history table every day,
    * merge mode keeps it merge-on-read ([[MergeOnRead]]): a day appends
    * its batch as a delta, and only a compaction rewrites the base.
    */
  def historyMerge(spark: SparkSession, spec: TableSpec, ds: LocalDate): Unit = {
    val lowered = true // history lowercases names (history_data_handler.py:95)
    spec.mode match {
      case "increment" =>
        readDayEvents(spark, spec, ds.minusDays(1), lowered).foreach { events =>
          Lake.appendTable(
            CdcOps.withDatePartitions(CdcOps.incrementBatch(events)),
            spec.historyTable, Lake.partitionColumns, spec.format)
        }
      case _ =>
        val wrote =
          if (spark.catalog.tableExists(spec.historyTable))
            readDayEvents(spark, spec, ds.minusDays(1), lowered).map { events =>
              withBatch(spark, spec, events) { (routed, n, limit) =>
                MergeOnRead.mergeTable(spark, spec.historyTable, routed, n, limit,
                  spec.primaryKeys, spec.orderColumns, spec.format)
              }
            }.isDefined
          else
            // Backfill: the whole raw log arrives as ONE batch, where the
            // reference's merge would keep every historical insert row for
            // a key alongside its latest update (inserts are only
            // tombstoned across batches, `daily_data_handler.py:88-101`).
            // A from-scratch rebuild has cleaner correct semantics: the
            // LWW fold of the full event log. Deliberate divergence. The
            // fold needs no `distinct()`: LWW keeps one event per key, and
            // duplicate events are equal once the meta columns are dropped.
            parsedIfAny(Lake.readAll(spark, spec.dataDir, spec.format), lowered).map { all =>
              MergeOnRead.createTable(spark, spec.historyTable,
                CdcOps.foldMerge(all, spec.primaryKeys, spec.orderColumns),
                spec.primaryKeys, spec.format)
            }.isDefined
        if (wrote && spark.catalog.tableExists(spec.dailyTable))
          MergeOnRead.truncate(spark, spec.dailyTable, spec.primaryKeys, spec.format)
    }
  }

  /** Shared merge core (`_overwrite_daily_table`,
    * `daily_data_handler.py:75-104`): route the day's ops and hand them to
    * `merge` with the event count and the broadcast budget
    * (`graft.cdc.tombstoneBroadcastLimit`). Batch keys past the budget
    * switch the merge to the bloom-pruned joins (no full-table exchange of
    * the existing table); the event count bounds deletes ∪ updates ∪
    * inserts.
    */
  private def withBatch(spark: SparkSession, spec: TableSpec, events: DataFrame)
                       (merge: (CdcOps.Routed, Long, Long) => Unit): Unit = {
    // Materialize the batch once, so the count below and the merge read
    // one copy. A local checkpoint, not a cache: the merge reads the
    // batch twice, and AQE shares those branches' shuffles over a
    // checkpoint scan but not over a cache scan. Marked lazily, it is
    // computed and stored by the one job that counts its RDD (a Dataset
    // count plans an aggregate and runs two jobs of its own). Released
    // once the merge has written.
    val ev = events.localCheckpoint(eager = false)
    try {
      val limit = spark.conf.getOption("graft.cdc.tombstoneBroadcastLimit")
        .map(_.toLong).getOrElse(1L << 22)
      merge(CdcOps.routeOps(ev, spec.primaryKeys), ev.queryExecution.toRdd.count(), limit)
    } finally graft.operators.Cluster.unpersistLocalCheckpoint(ev)
  }
}
