package org.apache.spark.sql.graftx

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

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
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow, UnsafeProjection}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val schema = StructType(df.schema.fields :+
      StructField(colName, LongType, nullable = false))
    val rdd = df.queryExecution.toRdd.zipWithIndex().mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      val joined = new JoinedRow
      val idRow = new GenericInternalRow(1)
      it.map { case (row, i) =>
        idRow.update(0, i + startAt)
        proj(joined(row, idRow)): org.apache.spark.sql.catalyst.InternalRow
      }
    }
    session.internalCreateDataFrame(rdd, schema)
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
