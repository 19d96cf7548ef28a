package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Lake

class LakeCompactSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def parquetFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".parquet")).toSeq

  /** What a reader of `dir` lists: every entry but `_`- and `.`-prefixed ones. */
  private def listed(dir: String): Set[String] =
    new File(dir).list().filterNot(n => n.startsWith("_") || n.startsWith(".")).toSet

  test("compact rewrites many small files into few, preserving rows exactly") {
    val dir = TestSpark.scratchDir("compact") + "/t"
    val df = (1L to 5000L).map(i => (i, s"payload-$i")).toDF("id", "payload")
    df.repartition(40).write.parquet(dir)
    val read = listed(dir)
    assert(read.size == 40 && parquetFiles(dir).size == 40)
    val before = spark.read.parquet(dir)
    val beforeRows = before.orderBy($"id").collect().toSeq

    val n = Lake.compact(spark, dir, targetBytes = 512L * 1024)
    assert(n < 40)
    // no file the compaction read is left, the directory holds only the
    // new files, and nothing was staged beside it
    val written = parquetFiles(dir).map(_.getName).toSet
    assert(written.size == n && (written intersect read).isEmpty)
    assert(listed(dir) == written)
    assert(new File(dir).getParentFile.list().toSeq == Seq("t"))

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

  test("rows appended to the directory after the compaction planned its read survive it") {
    CrashFileSystem.register(spark)
    val root = TestSpark.scratchDir("compact-late")
    val dir = s"$root/t"
    (1L to 100L).toDF("id").repartition(3).write.parquet(dir)
    // an ingest's batch, committed into the directory mid-compaction
    (101L to 110L).toDF("id").coalesce(1).write.parquet(s"$root/late")
    val late = parquetFiles(s"$root/late").head

    CrashFileSystem.hookedAt("delete") {
      Files.move(late.toPath, new File(dir, late.getName).toPath)
    }(Lake.compact(spark, CrashFileSystem.path(dir), targetBytes = 1L << 30): Unit)
    assert(listed(dir).contains(late.getName))
    assert(spark.read.parquet(dir).as[Long].collect().sorted.toSeq == (1L to 110L))
  }
}
