package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.sources.{BaseRelation, SchemaRelationProvider, TableScan}
import org.apache.spark.sql.types.{DataType, LongType, StructType}

import graft.ops.CdcOps

/** A keyed replica kept merge-on-read: a row-distinct base plus a log of
  * per-day deltas, so a day writes its batch and not the replica. Both
  * catalog tables of the pipeline, `<table>_daily` and `<table>_history`,
  * are kept this way, and this module alone decides where a table's files
  * live and how a new state of it is committed.
  *
  * Under the table's location `<root>`:
  *  - `base-<n>`: the base, written by the commit with id n;
  *  - `delta-<n>`: one day's delta, written by the commit with id n. It
  *    holds the day's deduped batch rows R (what [[CdcOps.mergeBatch]]
  *    calls `batch`) and its tombstone keys T (deletes ∪ the updates'
  *    keys), told apart by a marker column that also marks the rows whose
  *    key T holds;
  *  - `_graft_log/<n>`: the manifest of commit n, naming the base, the
  *    committed deltas in order, their schemas and event counts.
  *
  * A commit writes its files, then its manifest entry, which is renamed
  * into place as Structured Streaming's file sink commits a batch to
  * `_spark_metadata`. Readers take the highest entry; files no committed
  * entry names are invisible to them, and a rerun of the commit replaces
  * them. There is one writer per table.
  *
  * Every row carries its generation, the id of the commit that wrote it.
  * [[read]] equals applying `mergeBatch` to the base delta by delta: a row
  * of generation g survives unless a later delta's T holds its key (keys compare as
  * [[CdcOps.antiJoinByKey]] compares them: a null key never matches) or a
  * later delta's R holds an equal row (null-safe on every column, missing
  * columns null-padded, as `mergeBatch` compares rows).
  *
  * [[compact]] rewrites the base: it runs `mergeBatch` over the merged
  * read and the day's batch, commits the result as the new base and
  * deletes what it supersedes. [[truncate]] commits an empty base the
  * same way, with no job.
  *
  * A table's root stays where it is created: a commit, a truncation
  * included, never moves the catalog entry. Only a table an older version
  * wrote moves, once, to a new root when it is converted.
  */
object MergeOnRead {

  /** Compaction runs once the log plus the day's batch would hold more
    * events than this share of the base's rows. A day then costs
    * O(batch · (1 + 1/Alpha)) amortized, whatever the replica's size.
    */
  val Alpha = 0.1

  /** The catalog provider of merge-on-read tables. */
  val Provider: String = classOf[MergeOnReadSource].getName

  private val LogDir = "_graft_log"
  /** What a delta row holds: a batch row ([[Inserted]] or [[Updated]]) or
    * a tombstone key ([[Tombstoned]]).
    */
  private val Kind = "__graft_kind"
  /** A batch row that may equal an older row which no tombstone removes. */
  private val Inserted = 0
  /** A batch row whose (non-null) key its own delta tombstones: an older
    * row equal to it is removed by that tombstone already.
    */
  private val Updated = 1
  private val Tombstoned = 2
  private val Generation = "__graft_gen"
  private val Entry = "(\\d+)".r

  /** A directory of the table: a base (`events` = its rows) or a delta
    * (`events` = the events of its batch).
    */
  final case class Part(dir: String, events: Long, schema: StructType)

  /** One committed state of the table. */
  final case class Manifest(id: Long, format: String, keys: Seq[String],
                            base: Part, deltas: Seq[Part]) {
    def logEvents: Long = deltas.map(_.events).sum

    private[MergeOnRead] def render: String =
      (Seq(s"format\t$format") ++ keys.map(k => s"key\t$k") ++
        (("base" -> base) +: deltas.map("delta" -> _)).map { case (kind, p) =>
          s"$kind\t${p.dir}\t${p.events}\t${p.schema.json}"
        }).mkString("", "\n", "\n")
  }

  private def parse(id: Long, text: String): Manifest = {
    val lines = text.split("\n").toSeq.filter(_.nonEmpty).map(_.split("\t", 4).toSeq)
    def parts(kind: String) = lines.collect {
      case Seq(`kind`, dir, events, schema) =>
        Part(dir, events.toLong, DataType.fromJson(schema).asInstanceOf[StructType])
    }
    Manifest(id, lines.collectFirst { case Seq("format", f) => f }.get,
      lines.collect { case Seq("key", k) => k }, parts("base").head, parts("delta"))
  }

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The highest committed manifest entry under `root`. */
  def latest(spark: SparkSession, root: String): Manifest = {
    val log = new Path(root, LogDir)
    val fsys = fs(spark, root)
    val id = fsys.listStatus(log).map(_.getPath.getName)
      .collect { case Entry(n) => n.toLong }.maxOption
      .getOrElse(throw new IllegalStateException(s"no committed manifest under $log"))
    val in = fsys.open(new Path(log, id.toString))
    try parse(id, new String(in.readAllBytes(), UTF_8)) finally in.close()
  }

  /** Write `m`'s entry beside its final name, then rename it into place. */
  private def commit(spark: SparkSession, root: String, m: Manifest): Manifest = {
    val fsys = fs(spark, root)
    val to = new Path(new Path(root, LogDir), m.id.toString)
    val tmp = new Path(to.getParent, s".${m.id}.tmp")
    val out = fsys.create(tmp, true)
    try out.write(m.render.getBytes(UTF_8)) finally out.close()
    require(!fsys.exists(to), s"manifest entry $to already committed: a second writer?")
    require(fsys.rename(tmp, to), s"cannot commit manifest entry $to")
    m
  }

  /** The table's rows at `root`, as [[latest]] names them. */
  def read(spark: SparkSession, root: String): DataFrame = read(spark, root, latest(spark, root))

  private def read(spark: SparkSession, root: String, m: Manifest): DataFrame = {
    def scan(schema: StructType, dirs: Seq[String]) =
      spark.read.schema(schema).format(m.format).load(dirs.map(d => s"$root/$d"): _*)
    val base = scan(m.base.schema, Seq(m.base.dir))
    if (m.deltas.isEmpty) base.drop(Generation)
    else {
      // one scan per run of deltas with one schema (a new run starts where
      // a batch widens the schema): the plan, and the time to plan it,
      // stays the same size as the log grows
      val deltas = m.deltas.foldLeft(Vector.empty[(StructType, Vector[String])]) {
        case (runs :+ ((schema, dirs)), p) if p.schema == schema => runs :+ (schema -> (dirs :+ p.dir))
        case (runs, p) => runs :+ (p.schema -> Vector(p.dir))
      }.map { case (schema, dirs) => scan(schema, dirs) }
      def rowsWhere(kind: Column) = deltas.map(_.where(kind).drop(Kind))
      val deltaRows = rowsWhere(col(Kind) =!= Tombstoned)
      def union(parts: Seq[DataFrame]) = parts.reduce(_.unionByName(_, allowMissingColumns = true))
      // every generation's rows, columns widened in generation order
      val all = union(base +: deltaRows)
      val names = all.columns.filterNot(_ == Generation).toSeq
      // positional names: payload column names may hold characters a
      // column reference would parse
      def named(df: DataFrame, prefix: String) =
        df.select((names :+ Generation).map(col): _*)
          .toDF(names.indices.map(i => s"__$prefix$i") :+ s"__${prefix}g": _*)
      val rows = named(all, "l")
      // only inserted rows can remove an older row that no tombstone does
      val later = named(CdcOps.emptyLike(all)
        .unionByName(union(rowsWhere(col(Kind) === Inserted)), allowMissingColumns = true), "r")
      val tombstones = union(deltas.map(_.where(col(Kind) === Tombstoned)
        .select(m.keys.map(col) :+ col(Generation): _*)))
        .toDF(m.keys.indices.map(i => s"__t$i") :+ "__tg": _*)
      val byKey = m.keys.zipWithIndex.map { case (k, i) =>
        col(s"__l${names.indexWhere(_.equalsIgnoreCase(k))}") === col(s"__t$i")
      }
      val byRow = names.indices.map(i => col(s"__l$i") <=> col(s"__r$i"))
      // the generation is a column of the files, not a literal per part:
      // Spark pushes these joins into each part of the union, and every
      // part then probes the same two broadcasts
      rows
        .join(broadcast(tombstones), (byKey :+ (col("__tg") > col("__lg"))).reduce(_ && _), "left_anti")
        .join(broadcast(later), (byRow :+ (col("__rg") > col("__lg"))).reduce(_ && _), "left_anti")
        .select(names.indices.map(i => col(s"__l$i").as(names(i))): _*)
    }
  }

  /** Would a batch of `events` events overrun the log: past [[Alpha]] of
    * the base's rows, or past `limit`, the tombstones a reader broadcasts?
    */
  private def needsCompaction(m: Manifest, events: Long, limit: Long): Boolean =
    m.logEvents + events > math.min(limit.toDouble, Alpha * m.base.events)

  /** Write `rows` as the base of a new table at `root` (commit 0). */
  def create(spark: SparkSession, root: String, rows: DataFrame, keys: Seq[String],
             format: String): Manifest =
    rebase(spark, root, Manifest(-1, format, keys, Part("", 0, rows.schema), Nil), rows)

  /** Append the day's batch as the next delta: its deduped rows, in the
    * table's schema widened by the batch's, and its tombstone keys.
    */
  def append(spark: SparkSession, root: String, m: Manifest, routed: CdcOps.Routed,
             events: Long, orderColumns: Seq[String]): Manifest = {
    val current = spark.createDataFrame(java.util.Collections.emptyList[Row](), schema(spark, m))
    val keyed = m.keys.map(col(_).isNotNull).reduce(_ && _)
    // the batch rows as `mergeBatch` dedups them, each marked by where
    // it came from (either mark is right for a row both gave)
    val rows = current.withColumn(Kind, lit(Inserted))
      .unionByName(routed.inserts.withColumn(Kind, lit(Inserted)), allowMissingColumns = true)
      .unionByName(CdcOps.lastWriterWins(routed.updates, m.keys, orderColumns)
        .withColumn(Kind, when(keyed, lit(Updated)).otherwise(lit(Inserted))), allowMissingColumns = true)
    // the tombstone keys dedup in the rows' shuffle, a flag keeping a key
    // apart from a row whose other columns are null: the delta is written
    // from that one exchange, which AQE coalesces to a file or two, and
    // not from the partitions of the batch's checkpoint
    val tomb = "__graft_tomb"
    val marked = rows
      .unionByName(CdcOps.tombstoneKeys(routed, m.keys).withColumn(Kind, lit(Tombstoned)),
        allowMissingColumns = true)
      .withColumn(tomb, col(Kind) === Tombstoned)
    val delta = marked.dropDuplicates(marked.columns.filterNot(_ == Kind).toSeq).drop(tomb)
      .withColumn(Generation, lit(m.id + 1))
    val dir = s"delta-${m.id + 1}"
    delta.write.mode(SaveMode.Overwrite).format(m.format).save(s"$root/$dir")
    commit(spark, root, m.copy(id = m.id + 1, deltas = m.deltas :+ Part(dir, events, delta.schema)))
  }

  /** Fold the log and the day's batch into a new base: `mergeBatch` over
    * the merged read, as the whole-replica merge does.
    */
  def compact(spark: SparkSession, root: String, m: Manifest, routed: CdcOps.Routed,
              events: Long, limit: Long, orderColumns: Seq[String]): Manifest =
    rebase(spark, root, m, CdcOps.mergeBatch(read(spark, root, m), routed, m.keys, orderColumns,
      tombstonesBeyondBroadcast = events > limit, expectedKeys = events))

  /** Commit `rows` as the base of the commit after `m`. The row count
    * comes from the write itself, no job of its own.
    */
  private def rebase(spark: SparkSession, root: String, m: Manifest, rows: DataFrame): Manifest = {
    val id = m.id + 1
    val dir = s"base-$id"
    val based = rows.withColumn(Generation, lit(id))
    val n = Lake.countedWrite(based, _.mode(SaveMode.Overwrite).format(m.format).save(s"$root/$dir"))
    commitBase(spark, root, m, Part(dir, n, based.schema))
  }

  /** Commit the written `base` as the base of the commit after `m`, then
    * delete every other directory and every older manifest entry under
    * `root`.
    */
  private def commitBase(spark: SparkSession, root: String, m: Manifest, base: Part): Manifest = {
    val next = commit(spark, root, Manifest(m.id + 1, m.format, m.keys, base, Nil))
    val fsys = fs(spark, root)
    fsys.listStatus(new Path(root)).map(_.getPath)
      .filterNot(p => p.getName == LogDir || p.getName == base.dir)
      .foreach(fsys.delete(_, true))
    fsys.listStatus(new Path(root, LogDir)).map(_.getPath)
      .filter(p => p.getName match { case Entry(k) => k.toLong < next.id; case _ => true })
      .foreach(fsys.delete(_, false))
    next
  }

  /** The schema of `m`'s merged read, widened from the manifest's
    * schemas as [[read]] widens its scans, without listing a file.
    */
  private def schema(spark: SparkSession, m: Manifest): StructType =
    (m.base +: m.deltas).map(p => spark.createDataFrame(java.util.Collections.emptyList[Row](), p.schema))
      .map(_.drop(Kind, Generation)).reduce(_.unionByName(_, allowMissingColumns = true)).schema

  /** Create the catalog table `table` over a new merge-on-read root whose
    * base is `rows`. The root is the catalog's default location for the
    * table, or its first free version beside it.
    */
  def createTable(spark: SparkSession, table: String, rows: DataFrame, keys: Seq[String],
                  format: String): Unit =
    createAt(spark, table, Bridge.defaultTablePath(spark, table), rows, keys, format)

  /** Merge a day's batch (`events` events, as routed) into `table`:
    * append it as a delta, or compact when [[needsCompaction]]. When the
    * batch widens the schema, the catalog entry's schema is widened in
    * place: the name stays registered throughout.
    *
    * A table an older version wrote (a plain parquet or ORC table) is
    * converted by its first merge, through the compaction path ([[createAt]]).
    */
  def mergeTable(spark: SparkSession, table: String, routed: CdcOps.Routed, events: Long,
                 limit: Long, keys: Seq[String], orderColumns: Seq[String],
                 format: String): Unit = {
    val current = Bridge.catalogTable(spark, table)
    val at = new Path(current.location)
    if (!current.provider.contains(Provider))
      createAt(spark, table, nextVersion(at), CdcOps.mergeBatch(spark.table(table), routed, keys,
        orderColumns, tombstonesBeyondBroadcast = events > limit, expectedKeys = events), keys, format)
    else {
      val root = at.toString
      val m = latest(spark, root)
      val next =
        if (needsCompaction(m, events, limit)) compact(spark, root, m, routed, events, limit, orderColumns)
        else append(spark, root, m, routed, events, orderColumns)
      // compared by name (a compaction's base puts the key columns first):
      // the entry keeps its column order and takes new columns at the end
      val merged = schema(spark, next)
      val altered = StructType(current.schema.map(f =>
        merged.find(_.name.equalsIgnoreCase(f.name)).fold(f)(m => f.copy(dataType = m.dataType))) ++
        merged.filterNot(m => current.schema.exists(_.name.equalsIgnoreCase(m.name))))
      if (!DataTypeUtils.equalsIgnoreNullability(current.schema, altered))
        Bridge.alterTableDataSchema(spark, table, altered)
    }
  }

  /** Empty `table` (`daily_data_handler.py:157-158`): commit an empty base
    * directory that carries the table's current schema. No job runs and
    * the catalog entry stays as it is. A table an older version wrote is
    * converted, with no rows ([[createAt]]).
    */
  def truncate(spark: SparkSession, table: String, keys: Seq[String], format: String): Unit = {
    val current = Bridge.catalogTable(spark, table)
    val at = new Path(current.location)
    if (!current.provider.contains(Provider))
      createAt(spark, table, nextVersion(at), CdcOps.emptyLike(spark.table(table)), keys, format)
    else {
      val root = at.toString
      val m = latest(spark, root)
      val dir = new Path(root, s"base-${m.id + 1}")
      val fsys = fs(spark, root)
      fsys.delete(dir, true) // the partial write of a failed compaction, if any
      require(fsys.mkdirs(dir), s"truncate: cannot create $dir")
      commitBase(spark, root, m,
        Part(dir.getName, 0, schema(spark, m).add(Generation, LongType, nullable = false)))
    }
  }

  /** Write `rows` as the base of a new root, at `from` or the first
    * version after it that does not exist (what a crash before the
    * registration left behind is never reused), register `table` over it,
    * then delete every older version directory of the root: the table's
    * former location, and any root a crash left behind.
    *
    * This also converts a table an older version wrote at `at` (a plain
    * parquet or ORC table at `<root>` or `<root>__v<n>`), from
    * `from = nextVersion(at)`. Its entry is dropped first (a managed
    * table's drop deletes its directory, which the new root has already
    * superseded), so for a moment the name is unregistered while the
    * data stays on disk.
    */
  private def createAt(spark: SparkSession, table: String, from: Path, rows: DataFrame,
                       keys: Seq[String], format: String): Unit = {
    val fsys = fs(spark, from.toString)
    val root = Iterator.iterate(from)(nextVersion).find(!fsys.exists(_)).get
    val m = create(spark, root.toString, rows, keys, format)
    if (spark.catalog.tableExists(table)) spark.sql(s"DROP TABLE $table")
    val quoted = "'" + root.toString.replace("\\", "\\\\").replace("'", "\\'") + "'"
    spark.sql(s"CREATE TABLE $table (${schema(spark, m).toDDL}) USING $Provider LOCATION $quoted")
    val (name, n) = version(root)
    fsys.listStatus(root.getParent).map(_.getPath)
      .filter(p => version(p) match { case (r, k) => r == name && k < n })
      .foreach(fsys.delete(_, true))
  }

  private val Versioned = "(.*)__v(\\d+)".r

  /** `<root>` is version 0 of `<root>`, `<root>__v<n>` version n. A table
    * literally named `<t>__v<k>` in the same database would collide with
    * `<t>`'s versions.
    */
  private def version(p: Path): (String, Long) = p.getName match {
    case Versioned(root, n) => (root, n.toLong)
    case root => (root, 0L)
  }

  /** The directory of the version after `p`'s: `<root>__v<n+1>`. */
  private def nextVersion(p: Path): Path = version(p) match {
    case (root, n) => new Path(p.getParent, s"${root}__v${n + 1}")
  }
}

/** The catalog provider of a merge-on-read table: `CREATE TABLE … USING
  * graft.sources.MergeOnReadSource LOCATION '<root>'`. Its scan is
  * [[MergeOnRead.read]] at the latest committed entry. A session without
  * graft on its classpath cannot load the provider and fails, rather
  * than read a stale base.
  */
class MergeOnReadSource extends SchemaRelationProvider {
  override def createRelation(sqlContext: SQLContext, parameters: Map[String, String],
                              schema: StructType): BaseRelation = {
    val root = parameters.getOrElse("path",
      throw new IllegalArgumentException("a merge-on-read table needs a LOCATION"))
    MergeOnReadRelation(sqlContext, root, schema)
  }
}

/** The relation [[MergeOnReadSource]] resolves. Each planned scan reads
  * the manifest anew, and projects the merged rows onto the catalog's
  * schema (a session may hold the relation across a commit).
  */
case class MergeOnReadRelation(sqlContext: SQLContext, root: String, schema: StructType)
    extends BaseRelation with TableScan {
  // the scan hands over Spark's internal rows as they are
  override def needConversion: Boolean = false

  override def buildScan(): RDD[Row] = {
    val merged = MergeOnRead.read(sqlContext.sparkSession, root)
    val present = merged.columns.map(_.toLowerCase).toSet
    Bridge.internalRows(merged.select(schema.map { f =>
      (if (present(f.name.toLowerCase)) col(f.name) else lit(null)).cast(f.dataType).as(f.name)
    }: _*))
  }
}
