package org.apache.spark.sql.graftx

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Bridge to the `private[sql]` Column ⇄ Expression converters — the
  * supported way for an external library to surface native Catalyst
  * expressions as `Column`s on Spark 4 (the old `new Column(expr)`
  * constructor is gone). Lives under `org.apache.spark.sql` purely for
  * access; no Spark internals are modified. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `t` with every nested field, element and value nullable (Spark's
    * own `asNullable`): a cast target rows of any nullability reach,
    * since a cast may widen nullability but never narrow it. */
  def asNullable(t: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType =
    t.asNullable

  /** Dense 0-based row-index column appended WITHOUT leaving the internal
    * row format: `df.rdd.zipWithIndex` materializes every row as an
    * external `Row` (per-field boxing + `CatalystTypeConverters` back on
    * re-import — the whole table round-trips through JVM objects); this
    * zips `queryExecution.toRdd`'s `InternalRow`s and re-emits through one
    * codegen'd `UnsafeProjection`, so bytes stay bytes. Same count job,
    * same partition order, same ids — only the per-row cost changes.
    * Emitted rows are reused (the standard operator contract: consumers
    * that buffer must copy, and Spark's all do). */
  def zipWithRowIds(df: org.apache.spark.sql.DataFrame, colName: String,
                    startAt: Long): org.apache.spark.sql.DataFrame = {
    val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val schema = withIdColumn(df.schema, colName)
    val rdd = df.queryExecution.toRdd.zipWithIndex().mapPartitions(appendIds(schema, startAt))
    session.internalCreateDataFrame(rdd, schema)
  }

  /** [[zipWithRowIds]] over `rows` (laid out as `schema`) already on the
    * driver: the same ids, with no job, as a `LocalRelation` frame. */
  def localRowIds(spark: org.apache.spark.sql.SparkSession, schema: StructType,
                  rows: Seq[InternalRow], colName: String,
                  startAt: Long): org.apache.spark.sql.DataFrame = {
    val out = withIdColumn(schema, colName)
    val indexed = rows.iterator.zipWithIndex.map { case (r, i) => (r, i.toLong) }
    DriverParquet.frame(spark, out, appendIds(out, startAt)(indexed).map(_.copy()).toVector)
  }

  private def withIdColumn(schema: StructType, colName: String): StructType =
    StructType(schema.fields :+ StructField(colName, LongType, nullable = false))

  /** Each (row, index) as one `UnsafeRow` of `schema` with the id
    * `index + startAt` appended; the emitted row is reused. */
  private def appendIds(schema: StructType, startAt: Long)
                       (it: Iterator[(InternalRow, Long)]): Iterator[InternalRow] = {
    val proj = UnsafeProjection.create(schema)
    val joined = new JoinedRow
    val idRow = new GenericInternalRow(1)
    it.map { case (row, i) =>
      idRow.update(0, i + startAt)
      proj(joined(row, idRow))
    }
  }

  /** Eagerly free the materialized blocks behind a `localCheckpoint`ed
    * Dataset (its plan is a `LogicalRDD` over a persisted RDD). Without
    * this, superseded checkpoints in an iterative loop wait for the
    * ContextCleaner to notice the RDD is unreachable — which may be never
    * while the driver is loop-busy and not GC-ing. No-op for plans that
    * are not checkpoint-backed. */
  def unpersistCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
