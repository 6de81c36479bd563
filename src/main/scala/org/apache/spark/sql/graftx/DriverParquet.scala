package org.apache.spark.sql.graftx

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, InterpretedUnsafeProjection, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** Small parquet reads and writes done on the driver, with no Spark job.
  * Files are decoded by Spark's own parquet reader and encoded by its own
  * writer — the functions a scan task and a write task run, so types,
  * nulls, footers and datetime rebase modes come out exactly as a Spark
  * scan's and write's do — and rows on the driver travel as
  * `LocalRelation` frames. Lives under `org.apache.spark.sql` for access
  * to the `private[sql]` frame constructor; no Spark internals are
  * modified. */
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

  /** The rows of `df` when its optimized plan is a batch `LocalRelation`
    * — rows already on the driver, in `df`'s column order. `None` for
    * every other plan: nothing is ever collected from a distributed one. */
  def localRows(df: DataFrame): Option[Seq[InternalRow]] =
    df.queryExecution.optimizedPlan match {
      case r: LocalRelation if !r.isStreaming => Some(r.data)
      case _ => None
    }

  /** Whether `rows` (laid out as `schema`) take at most `maxBytes` bytes
    * as `UnsafeRow`s. The sum stops at the first row past the bound, so a
    * check converts at most `maxBytes` of rows, and it converts them with
    * the interpreted projection, so checking a few rows costs no codegen. */
  def fitsBytes(schema: StructType, rows: Seq[InternalRow], maxBytes: Long): Boolean = {
    lazy val unsafe = InterpretedUnsafeProjection.createProjection(schema.fields.toSeq
      .zipWithIndex.map { case (f, i) => BoundReference(i, f.dataType, nullable = true) })
    rows.iterator.map {
      case u: UnsafeRow => u.getSizeInBytes.toLong
      case r => unsafe(r).getSizeInBytes.toLong
    }.scanLeft(0L)(_ + _).forall(_ <= maxBytes)
  }

  /** Write `rows` (laid out as `schema`) into the directory `dir` with
    * the writer a Spark write task runs: `ParquetFileFormat.prepareWrite`
    * on the session's Hadoop conf and SQL conf (footer schema, Spark's
    * row-metadata key, timestamp type, rebase modes), `codec` as the
    * write's `compression` option. A new file starts every `chunkRows`
    * rows (else every `spark.sql.files.maxRecordsPerFile`, as a Spark
    * write would), named as one Spark write task names its files:
    * `part-00000-<uuid>-c000<ext>`, `-c001`, …, the counter in row order.
    * No rows still write one empty file,
    * as a Spark write does. Returns each file's row count, in name
    * order. Files go straight to `dir`: the caller makes them visible by
    * its own commit. */
  def write(spark: SparkSession, dir: Path, schema: StructType, rows: Seq[InternalRow],
            chunkRows: Option[Long], codec: Option[String]): Vector[Long] = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val conf = session.sessionState.conf
    SQLConf.withExistingConf(conf) {
      val job = Job.getInstance(session.sessionState.newHadoopConf())
      job.setOutputKeyClass(classOf[Void])
      job.setOutputValueClass(classOf[InternalRow])
      FileOutputFormat.setOutputPath(job, dir)
      val factory = new ParquetFileFormat().prepareWrite(
        session, job, codec.map("compression" -> _).toMap, schema)
      val ctx = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID(
        new TaskID(new JobID("driver", 0), TaskType.MAP, 0), 0))
      val uuid = java.util.UUID.randomUUID()
      val ext = factory.getFileExtension(ctx)
      val per = chunkRows.orElse(Some(conf.maxRecordsPerFile)).filter(_ > 0)
        .fold(Int.MaxValue)(n => math.min(n, Int.MaxValue.toLong).toInt)
      val chunks = if (rows.isEmpty) Iterator(Seq.empty[InternalRow]) else rows.grouped(per)
      chunks.zipWithIndex.map { case (chunk, i) =>
        val w = factory.newInstance(new Path(dir, f"part-00000-$uuid-c$i%03d$ext").toString, schema, ctx)
        try chunk.foreach(w.write) finally w.close()
        chunk.size.toLong
      }.toVector
    }
  }
}
