package graft

import java.io.File

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Lake

class LakeCompactSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def parquetFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".parquet")).toSeq

  test("compact rewrites many small files into few, preserving rows exactly") {
    val dir = TestSpark.scratchDir("compact") + "/t"
    val df = (1L to 5000L).map(i => (i, s"payload-$i")).toDF("id", "payload")
    df.repartition(40).write.parquet(dir)
    assert(parquetFiles(dir).size == 40)
    val before = spark.read.parquet(dir)
    val beforeRows = before.orderBy($"id").collect().toSeq

    val n = Lake.compact(spark, dir, targetBytes = 512L * 1024)
    assert(n < 40)
    assert(parquetFiles(dir).size == n)
    // staging dirs cleaned up
    assert(!new File(dir + ".compact-tmp").exists)
    assert(!new File(dir + ".compact-old").exists)

    val after = spark.read.parquet(dir).orderBy($"id").collect().toSeq
    assert(after == beforeRows)
  }

  test("compact to a tiny target still yields at least one file and exact rows") {
    val dir = TestSpark.scratchDir("compact") + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").repartition(4).write.parquet(dir)
    val n = Lake.compact(spark, dir, targetBytes = 1L)
    assert(n >= 1)
    assert(spark.read.parquet(dir).count() == 2)
  }
}
