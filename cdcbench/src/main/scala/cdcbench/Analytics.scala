package cdcbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, MapType, StructType}

import graft.SparkEntry

/** A fixed heavy subset of the analytics suite, run read-only over the
  * committed table set: iterative HITS over the purchase graph, PCA by
  * power iteration, and k-means-bounded semantic dedup.
  */
object Analytics {
  val queries: Seq[String] = Seq("graph_hits", "embed_pca2", "dedup_semantic")

  def query(spark: SparkSession, dir: String, name: String): DataFrame =
    SparkEntry.queries.getOrElse(name, sys.error(s"no query named $name"))(spark, dir)

  /** Row count and an order-independent checksum: the sum of a 64-bit
    * hash of each row. Floating-point values are rounded to 9 decimals
    * first (top level) or hashed through their JSON text (nested), so
    * a change of summation order in the last bit does not read as a
    * wrong answer.
    */
  def fingerprint(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name).cast("double"), 9)
        case _: ArrayType | _: StructType | _: MapType => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum("h"), lit(0).cast("decimal(38,0)")).cast("string"))
      .head()
    (r.getLong(0), r.getString(1))
  }

  /** The committed fingerprints: one `name rows checksum` line each. */
  def readFingerprints(path: String): Map[String, (Long, String)] =
    scala.io.Source.fromFile(path, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(n, rows, sum) = l.split("\\s+")
        n -> (rows.toLong, sum)
      }.toMap

  def writeFingerprints(path: String, fps: Seq[(String, (Long, String))]): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      ("# query rows checksum (Analytics.fingerprint over the committed tables)\n" +
        fps.map { case (n, (r, s)) => s"$n $r $s" }.mkString("", "\n", "\n")).getBytes("UTF-8"))
}
