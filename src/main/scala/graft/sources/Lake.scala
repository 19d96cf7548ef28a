package graft.sources

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType, TimestampType}

/** Lake-layer IO: partitioned file writes and reads, the compaction of
  * graft's two append-only logs (the raw layer and the streaming upsert
  * log) and the increment-mode append. Covers SURVEY §2.1 S5, S6, S8; the
  * keyed catalog tables, their overwrite (S8) and their truncation (S10)
  * are [[MergeOnRead]]'s, committed through its manifest log. The logs
  * commit each write through Spark's job commit and compact in place
  * ([[rewriteInPlace]]), as their readers collapse duplicate rows.
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
    * bounding each rewrite to one day's data. The rewrite runs in place
    * ([[rewriteInPlace]]): the directory never disappears, and rows an
    * ingest appends meanwhile are kept.
    */
  def compact(spark: SparkSession, dir: String, targetBytes: Long,
              format: String = "parquet"): Int = {
    require(targetBytes > 0)
    val path = new Path(dir)
    val bytes = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(path).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    rewriteInPlace(spark, dir, format)(_.coalesce(nFiles))
    nFiles
  }

  /** Rewrite the files of `dir` (a leaf directory of one of graft's
    * append-only logs: a raw day, or the streaming upsert log) as
    * `rewrite` of their rows, in place: plan the read of `dir`, append
    * the rewritten rows into `dir` itself, then delete exactly the files
    * that read scanned, checking every delete. Returns the rows written.
    *
    * - A run that does not crash keeps `rewrite`'s rows exactly, as a
    *   multiset, and leaves only its own files.
    * - Rows appended to `dir` after the read was planned are not read,
    *   so they are not deleted.
    * - A crashed run loses no row but may leave some rows twice: the
    *   rewritten copy beside the files not yet deleted. Every reader of
    *   both logs collapses duplicates, as the at-least-once appends that
    *   fill them already require.
    * - A rerun completes; it reads the crashed run's copy with the rest.
    */
  private[graft] def rewriteInPlace(spark: SparkSession, dir: String, format: String)
                                   (rewrite: DataFrame => DataFrame): Long = {
    val read = spark.read.format(format).load(dir)
    val files = read.inputFiles.map(new Path(_))
    val n = countedWrite(rewrite(read), _.mode(SaveMode.Append).format(format).save(dir))
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    files.foreach(f => require(fs.delete(f, false), s"rewrite of $dir: cannot delete $f"))
    n
  }

  /** Run `write` over `df` and return the rows it wrote, counted by the
    * write's own job.
    */
  private[sources] def countedWrite(df: DataFrame, write: DataFrameWriter[Row] => Unit): Long = {
    val counted = Observation()
    write(df.observe(counted, count(lit(1)).as("rows")).write)
    Await.result(counted.future, 1.minute).getAs[Long]("rows")
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
    val p = new Path(dir)
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
