package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType, TimestampType}

/** Lake-layer IO: partitioned file writes and reads, the catalog's
  * existence probe and the increment-mode append. Covers SURVEY §2.1 S5,
  * S6, S8, S9; the keyed catalog tables, their overwrite (S8) and their
  * truncation (S10) are [[MergeOnRead]]'s.
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

  /** S9 — the catalog's existence probe (a public Scala API; the
    * reference needed a private `_jsparkSession` bridge only because of
    * its PySpark version, `daily_data_handler.py:160-162`).
    */
  def tableExists(spark: SparkSession, table: String): Boolean =
    spark.catalog.tableExists(table)

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
