package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType, TimestampType}

/** Lake-layer IO: partitioned file writes, catalog tables, versioned
  * overwrite. Covers SURVEY §2.1 S5, S6, S8, S9, S10.
  */
object Lake {

  val partitionColumns: Seq[String] = Seq("op_year", "op_month", "op_day")

  /** S5 — date-partitioned append write of the raw layer
    * (`raw_data_handler.py:77-87`). Parquet by default (ORC in the
    * reference; both columnar — `format` switches).
    */
  def appendPartitioned(df: DataFrame, dir: String, format: String = "parquet"): Unit =
    df.write
      .partitionBy(partitionColumns: _*)
      .mode(SaveMode.Append)
      .format(format)
      .save(dir)

  /** Small-files compaction — the maintenance pass every streaming
    * ingest lake needs: micro-batch appends leave one (or more) file
    * per trigger per partition, and a year of hourly triggers makes
    * scans metadata-bound long before they are IO-bound. Rewrites a
    * directory to ≈`targetBytes` files based on its CURRENT on-disk
    * size (cheap Hadoop listing — no data read for sizing), preserving
    * rows exactly.
    *
    * Scale shape: one read + one `coalesce` write. `coalesce` (not
    * `repartition`) so the rewrite is shuffle-free — output tasks read
    * whole input files; at 100 TB you compact per partition directory,
    * bounding each rewrite to one day's data. The rewrite is staged
    * (tmp dir + atomic-ish rename) so a concurrent reader never sees a
    * half-compacted directory.
    */
  def compact(spark: SparkSession, dir: String, targetBytes: Long,
              format: String = "parquet"): Int = {
    require(targetBytes > 0)
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(path).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val tmp = new org.apache.hadoop.fs.Path(dir + ".compact-tmp")
    val old = new org.apache.hadoop.fs.Path(dir + ".compact-old")
    spark.read.format(format).load(dir)
      .coalesce(nFiles)
      .write.mode(SaveMode.Overwrite).format(format).save(tmp.toString)
    stagedSwap(fs, path, tmp, old)
    nFiles
  }

  /** The checked staged-directory swap shared by [[compact]] and
    * [[graft.streaming.StreamingUpsert.compactLog]]: back the live
    * `path` up to `old`, move `tmp` in, clean up — with every Hadoop
    * rename CHECKED (they signal failure by RETURNING FALSE, not
    * throwing; unchecked, stale `old` debris silently no-ops the swap,
    * and a failure between the renames deletes the only copy).
    *
    * Honest limits, by design: (a) there is an instant between the two
    * renames where `path` does not exist — a concurrent reader can hit
    * PATH_NOT_FOUND and must retry; (b) rows appended to `path` after
    * the rewrite's snapshot read are swept into `old` and deleted.
    * Without a transaction log a plain directory cannot do better, so
    * run compaction only on CLOSED partitions (past days) or in a
    * maintenance window — [[compact]]'s per-day usage satisfies this.
    */
  private[graft] def stagedSwap(fs: org.apache.hadoop.fs.FileSystem,
                                path: org.apache.hadoop.fs.Path,
                                tmp: org.apache.hadoop.fs.Path,
                                old: org.apache.hadoop.fs.Path): Unit = {
    if (fs.exists(old)) // debris from a crashed prior run; path is live
      require(fs.delete(old, true), s"cannot clear stale $old")
    require(fs.rename(path, old), s"stagedSwap: rename $path -> $old failed")
    if (!fs.rename(tmp, path)) {
      fs.rename(old, path) // roll back so readers still see the data
      throw new IllegalStateException(
        s"stagedSwap: rename $tmp -> $path failed; rolled back")
    }
    require(fs.delete(old, true), s"stagedSwap: cleanup of $old failed")
  }

  /** Z-order (Morton) curve value of two non-negative integer keys:
    * interleave the low `bits` bits of each (x in even positions, y in
    * odd). Pure integer expression — identical in any engine — so a
    * z-clustered layout is reproducible and oracle-checkable.
    */
  def zValue(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column,
             bits: Int = 16): org.apache.spark.sql.Column = {
    require(bits >= 1 && bits <= 31, "bits must be in [1, 31]")
    (0 until bits).map { i =>
      val xb = shiftrightunsigned(x.cast("long"), i).bitwiseAND(lit(1L))
      val yb = shiftrightunsigned(y.cast("long"), i).bitwiseAND(lit(1L))
      shiftleft(xb, 2 * i) + shiftleft(yb, 2 * i + 1)
    }.reduce(_ + _)
  }

  /** Does the data directory exist yet? First deployments run the merge
    * schedule before the first ingest trigger ever creates the raw
    * root — readers use this to treat "no directory" as "no data"
    * (the case the reference's blanket AnalysisException catch covered,
    * `daily_data_handler.py:39-41`, without swallowing real errors).
    */
  def pathExists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The raw layer's schema: the cast envelope ([[graft.ops.CdcOps.castEnvelope]])
    * and its date partitions ([[graft.ops.CdcOps.withDatePartitions]]).
    * Reads pass it, so Spark runs no job to infer it from file footers.
    */
  val rawSchema: StructType = StructType(Seq(
    StructField("timestamp", TimestampType), StructField("value", StringType)) ++
    partitionColumns.map(StructField(_, IntegerType)))

  /** S6 — read one day of the raw layer. As the reference does
    * (`daily_data_handler.py:51-58`), only the day's partition directory
    * is listed; `basePath` keeps the partition columns in the result. A
    * day directory that does not exist (no ingest that day, or none yet
    * at all) reads as an empty frame.
    */
  def readDay(spark: SparkSession, dir: String, year: Int, month: Int, day: Int,
              format: String = "parquet"): DataFrame =
    readRaw(spark, dir, s"$dir/op_year=$year/op_month=$month/op_day=$day", format)

  /** Full-history read (backfill path, `history_data_handler.py:77-81`);
    * a raw root that does not exist yet reads as an empty frame.
    */
  def readAll(spark: SparkSession, dir: String, format: String = "parquet"): DataFrame =
    readRaw(spark, dir, dir, format)

  private def readRaw(spark: SparkSession, root: String, path: String,
                      format: String): DataFrame =
    if (!pathExists(spark, path))
      spark.createDataFrame(java.util.Collections.emptyList[Row](), rawSchema)
    else spark.read.format(format).schema(rawSchema).option("basePath", root).load(path)

  /** S9/S10 — catalog helpers (public Scala APIs; the reference needed a
    * private `_jsparkSession` bridge only because of its PySpark
    * version, `daily_data_handler.py:160-162`).
    */
  def tableExists(spark: SparkSession, table: String): Boolean =
    spark.catalog.tableExists(table)

  def refreshTable(spark: SparkSession, table: String): Unit =
    spark.catalog.refreshTable(table)

  /** S10 — empty the table (`daily_data_handler.py:157-158`) by
    * committing an empty version: an empty `__v<n+1>` directory, committed
    * as [[overwriteTableSafely]] commits a written one, with the table's
    * current schema, format and partitioning. No job runs. That works on
    * the external tables a schema-changing commit registers, where Spark
    * refuses `TRUNCATE TABLE`, and it is crash-safe the same way.
    */
  def truncateTable(spark: SparkSession, table: String): Unit = {
    val current = Bridge.catalogTable(spark, table)
    val to = nextVersion(new Path(current.location))
    val fs = to.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(to, true) // the partial directory of a failed write, if any
    require(fs.mkdirs(to), s"truncateTable: cannot create $to")
    commitVersion(spark, table, current, to, current.schema,
      current.partitionColumnNames, current.provider.getOrElse("parquet"))
  }

  /** S8 — overwrite of a catalog table whose current contents feed
    * the new plan. The reference works around Spark's cannot-overwrite-
    * what-you-read restriction with a two-phase tmp-table dance
    * (`daily_data_handler.py:125-155`: write tmp → refresh → read back →
    * overwrite real → TRUNCATE tmp) — non-atomic across three jobs.
    *
    * Here each overwrite commits a new version. The table's current
    * catalog location `<root>` or `<root>__v<n>` stays untouched while
    * `df` (which may read it) is written to `<root>__v<n+1>`; then
    * [[commitVersion]] points the catalog there and deletes the older
    * versions. No copy of the data, no drop before the write. A write
    * that fails leaves the table on version n; its partial directory is
    * replaced by the next attempt. A table that does not exist yet is
    * created with `saveAsTable`.
    */
  def overwriteTableSafely(df: DataFrame, table: String,
                           partitionBy: Seq[String] = Nil,
                           format: String = "parquet"): Unit = {
    val spark = df.sparkSession
    val w = df.write.format(format)
    val writer = if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w
    if (!tableExists(spark, table)) writer.saveAsTable(table)
    else {
      val current = Bridge.catalogTable(spark, table)
      val to = nextVersion(new Path(current.location))
      writer.mode(SaveMode.Overwrite).save(to.toString)
      commitVersion(spark, table, current, to, df.schema, partitionBy, format)
    }
  }

  /** Make the written version `to` the table's contents, then delete every
    * older version directory of the table: version n, and any a crash
    * between an earlier repoint and its delete left behind.
    *
    * The repoint is one atomic `SET LOCATION` while the schema, format
    * and (absent) partitioning stay the same. Otherwise the table is
    * re-registered over `to` ([[register]]). A table literally named
    * `<t>__v<k>` in the same database would collide with `<t>`'s versions.
    */
  private def commitVersion(spark: SparkSession, table: String, current: CatalogTable,
                            to: Path, schema: StructType, partitionBy: Seq[String],
                            format: String): Unit = {
    val sameShape = partitionBy.isEmpty && current.partitionColumnNames.isEmpty &&
      current.provider.contains(format) &&
      DataTypeUtils.equalsIgnoreNullability(current.schema, schema)
    if (sameShape) spark.sql(s"ALTER TABLE $table SET LOCATION ${quoted(to)}")
    else register(spark, table, to, schema, partitionBy, format)
    deleteOlderVersions(spark, to)
  }

  /** (Re-)register `table` as an external table of `provider` over
    * `location`, with `schema` and `partitionBy`. An existing entry is
    * dropped first (a managed table's drop deletes its directory, which
    * a caller has already superseded), so for a moment the name is
    * unregistered while the data stays on disk.
    */
  private[sources] def register(spark: SparkSession, table: String, location: Path,
                                schema: StructType, partitionBy: Seq[String],
                                provider: String): Unit = {
    if (tableExists(spark, table)) spark.sql(s"DROP TABLE $table")
    val partitioned =
      if (partitionBy.isEmpty) ""
      else partitionBy.map(c => s"`$c`").mkString("PARTITIONED BY (", ", ", ")")
    val ordered = StructType(schema.filterNot(f => partitionBy.contains(f.name)) ++
      partitionBy.map(schema(_)))
    spark.sql(s"CREATE TABLE $table (${ordered.toDDL}) " +
      s"USING $provider $partitioned LOCATION ${quoted(location)}")
    if (partitionBy.nonEmpty) spark.catalog.recoverPartitions(table)
  }

  private def quoted(p: Path): String =
    "'" + p.toString.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** Delete every version directory of `to`'s table older than `to`. */
  private[sources] def deleteOlderVersions(spark: SparkSession, to: Path): Unit = {
    val (root, n) = version(to)
    val fs = to.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(to.getParent).map(_.getPath)
      .filter(p => version(p) match { case (r, k) => r == root && k < n })
      .foreach(fs.delete(_, true))
  }

  /** The catalog's default location for `table`, or the first version of
    * it that does not exist (a dropped external table leaves its
    * directory behind).
    */
  private[sources] def freshLocation(spark: SparkSession, table: String): Path = {
    val default = Bridge.defaultTablePath(spark, table)
    val fs = default.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Iterator.iterate(default)(nextVersion).find(!fs.exists(_)).get
  }

  private val Versioned = "(.*)__v(\\d+)".r

  /** `<root>` is version 0 of `<root>`, `<root>__v<n>` version n. */
  private def version(p: Path): (String, Long) = p.getName match {
    case Versioned(root, n) => (root, n.toLong)
    case root => (root, 0L)
  }

  /** The directory of the version after `p`'s: `<root>__v<n+1>`. */
  private[sources] def nextVersion(p: Path): Path = version(p) match {
    case (root, n) => new Path(p.getParent, s"${root}__v${n + 1}")
  }

  /** S8 — plain append `saveAsTable` (increment mode,
    * `history_data_handler.py:146-155`). AQE coalesces output
    * partitions, replacing the reference's `coalesce(1)` single-writer
    * small-files control without sacrificing parallelism.
    */
  def appendTable(df: DataFrame, table: String,
                  partitionBy: Seq[String] = Nil,
                  format: String = "parquet"): Unit = {
    val w = df.write.mode(SaveMode.Append).format(format)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .saveAsTable(table)
  }
}
