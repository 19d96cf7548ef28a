package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` Column↔Expression conversion (Spark 4
  * moved `Column` to a backend-agnostic ColumnNode representation; the
  * classic converters live behind `private[sql]`). This is the only
  * place the engine reaches past the public API: to wrap its own
  * Catalyst expressions as `Column`s, and to read a table's catalog
  * entry or widen its schema.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a one-row-one-column DataFrame as a scalar-subquery
    * expression (what `might_contain` requires its bloom-filter side to
    * be: a constant or scalar subquery, never a join column). The
    * subquery executes once and its result is inlined as a constant for
    * the main scan — the same mechanism Spark's InjectRuntimeFilter
    * uses.
    */
  def scalarSubquery(df: org.apache.spark.sql.DataFrame): Column =
    column(org.apache.spark.sql.catalyst.expressions.ScalarSubquery(
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.analyzed))

  /** Register a temp SQL function on a live session (the
    * extensions-free path; `GraftExtensions` covers the
    * `spark.sql.extensions` config path).
    */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** The catalog entry of `table`: location, provider, schema and
    * partition columns in one lookup.
    */
  def catalogTable(spark: org.apache.spark.sql.SparkSession, table: String)
      : org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    state.catalog.getTableMetadata(state.sqlParser.parseTableIdentifier(table))
  }

  /** Replace `table`'s data schema in the catalog, keeping the entry,
    * and refresh the session's cached relation of it.
    */
  def alterTableDataSchema(spark: org.apache.spark.sql.SparkSession, table: String,
                           schema: org.apache.spark.sql.types.StructType): Unit = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    state.catalog.alterTableDataSchema(state.sqlParser.parseTableIdentifier(table), schema)
    spark.catalog.refreshTable(table)
  }

  /** The catalog's default (managed) location of `table`. */
  def defaultTablePath(spark: org.apache.spark.sql.SparkSession, table: String)
      : org.apache.hadoop.fs.Path = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    new org.apache.hadoop.fs.Path(
      state.catalog.defaultTablePath(state.sqlParser.parseTableIdentifier(table)))
  }

  /** A relation scanned from an RDD of Spark's internal rows. */
  def internalFrame(spark: org.apache.spark.sql.SparkSession,
                    rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
                    schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** `df`'s rows as Spark's internal rows, typed as the `RDD[Row]` a
    * relation whose `needConversion` is false returns from its scan.
    */
  def internalRows(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.toRdd
      .asInstanceOf[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
}
