package org.apache.spark.sql.graftx

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** Small parquet reads answered on the driver, with no Spark job: the
  * files are decoded by Spark's own parquet reader — the function a scan
  * task runs, so types, nulls and datetime rebase modes come out exactly
  * as a scan's do — and the rows come back as a `LocalRelation` frame.
  * Lives under `org.apache.spark.sql` for access to the `private[sql]`
  * frame constructor; no Spark internals are modified. */
object DriverParquet {

  /** A reader of parquet files written with `schema`: each call decodes
    * one file, in order, and returns the rows that pass `keep`, each
    * copied out of the reader's reused buffers. `filters` go to the
    * reader as a scan's pushed filters do — row-group statistics and page
    * indexes skip what they rule out — but they only prune, so `keep`
    * must test the exact predicate. Building the reader broadcasts the
    * Hadoop conf (a few ms), so one reader serves every file of a read. */
  def reader(spark: SparkSession, schema: StructType, filters: Seq[Filter])
      : (FileStatus, InternalRow => Boolean) => Vector[UnsafeRow] = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val read = new ParquetFileFormat().buildReaderWithPartitionValues(
      session, schema, new StructType(), schema, filters,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      session.sessionState.newHadoopConf())
    val copy = UnsafeProjection.create(schema)
    (f, keep) => {
      val it = read(PartitionedFile(InternalRow.empty, SparkPath.fromFileStatus(f),
        0L, f.getLen, Array.empty[String], f.getModificationTime, f.getLen))
      try it.filter(keep).map(r => copy(r).copy()).toVector
      finally it match { case c: java.io.Closeable => c.close(); case _ => () }
    }
  }

  /** A frame over rows already on the driver. Collecting it, and any
    * `Filter` or `Project` over it (the optimizer folds those into the
    * relation), runs no Spark job; a `Sort` or an aggregate still plans
    * an exchange. */
  def frame(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    org.apache.spark.sql.classic.Dataset.ofRows(session,
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))
  }
}
