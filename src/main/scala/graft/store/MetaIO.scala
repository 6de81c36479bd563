package graft.store

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.api.InitContext
import org.apache.parquet.hadoop.metadata.FileMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graftx.DriverParquet
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/**
 * Driver-direct parquet I/O for small metadata sidecars (`_meta`,
 * `_codebook`, `_idbloom`, tombstones, shard manifests, sketch cells,
 * freshness stamps): a metadata row is a handful of scalars, but routed
 * through `spark.read.parquet(...).head()` / `df.coalesce(1).write
 * .parquet(...)` each access costs a full distributed job — file listing,
 * schema inference, scheduling, the commit protocol — ~100 ms of fixed
 * overhead per call on an idle local cluster and a driver→cluster round
 * trip on a real one. Several such calls ride every index append and
 * every indexed probe's freshness check; on the driver each is a few ms
 * of local I/O. 1-row metadata never needed a cluster job.
 *
 * There is one parquet codec, Spark's own: rows are encoded by the writer
 * a Spark write task runs ([[DriverParquet.write]], uncompressed) and
 * decoded by the record materializer a Spark scan runs
 * (`ParquetReadSupport`), then converted to Scala values the way
 * `Dataset.collect` converts them. Files are ordinary parquet in an
 * ordinary directory, readable by `spark.read.parquet` and DuckDB, and
 * any writer's file reads back (Spark's, DuckDB's, or the hand-built
 * layout of older builds of this class). Every file is opened through
 * [[open]], with read options built from the caller's conf — an open
 * with default options re-parses Hadoop's XML defaults each time.
 *
 * Type mapping of a template exemplar (values are plain JVM types):
 * `Long`→long, `Int`→int, `Double`→double, `Boolean`→boolean,
 * `String`→string, `Array[Byte]`→binary, `java.math.BigDecimal`→
 * decimal(38, its scale) (FLBA(16) on disk), and a `Seq` of `Double`,
 * `Long`, `Int` or `Float`→an array with nullable elements (a 3-level
 * LIST). Every column is nullable. Reads give the same classes back
 * (arrays as immutable `Seq`s); other parquet types read as a Spark
 * collect gives them.
 *
 * Crash semantics on overwrite: the new file is written into a hidden
 * staging directory under `dir` and renamed into place, then stale data
 * files are removed — a torn write leaves either the old rows or the new
 * ones readable, never half of them (parquet footers make a truncated
 * file unreadable, which every caller treats as "missing").
 */
object MetaIO {

  /** The Spark type a template exemplar maps to (see the class doc). */
  private def sparkType(name: String, v: Any): DataType = v match {
    case _: Long    => LongType
    case _: Int     => IntegerType
    case _: Double  => DoubleType
    case _: Boolean => BooleanType
    case _: String  => StringType
    case _: Array[Byte] => BinaryType
    case d: java.math.BigDecimal => DecimalType(38, d.scale)
    case s: Seq[_] =>
      // the exemplar's first element fixes the element type
      val el = s.headOption.getOrElse(throw new IllegalArgumentException(
        s"MetaIO: Seq exemplar for '$name' needs one element to fix " +
          "the element type"))
      ArrayType(el match {
        case _: Double => DoubleType
        case _: Long   => LongType
        case _: Int    => IntegerType
        case _: Float  => FloatType
        case other => throw new IllegalArgumentException(
          s"MetaIO: unsupported list element $other for '$name'")
      }, containsNull = true)
    case other => throw new IllegalArgumentException(
      s"MetaIO.writeRow: unsupported type ${other.getClass} for '$name'")
  }

  /** Write many rows of the SAME scalar schema as one parquet file at
    * `dir` (overwrite) — for small, already-driver-local tables (sketch
    * cells, BPE merge lists). `template` supplies names + exemplar values
    * for the schema (so an EMPTY rows iterator still writes a typed,
    * readable file); each row is a value sequence in template order.
    * Every value must have its exemplar's class, or be null: a bare
    * `Seq(longVal, doubleVal)` unifies to `Seq[Double]` in Scala, and is
    * refused rather than written widened. Nothing is written when a row
    * is refused.
    *
    * Never rewrites a file in place: the rows go to a fresh file that is
    * renamed over the old one. Index trees are cloned by hard links (the
    * gate fixtures' clone helper), so a writer that opened an existing
    * file for writing would change every linked copy; every writer into
    * an index tree must keep this rule. */
  def writeRows(conf: Configuration, dir: String,
                template: Seq[(String, Any)],
                rows: IterableOnce[Seq[Any]]): Unit = {
    val schema = StructType(template.map { case (n, v) => StructField(n, sparkType(n, v)) })
    def sameClass(v: Any, ex: Any): Boolean = (v, ex) match {
      case (null, _) => true
      // List, Vector and ArraySeq are all the same array column
      case (s: Seq[_], e: Seq[_]) => s.forall(x => x == null || x.getClass == e.head.getClass)
      case _ => v.getClass == ex.getClass
    }
    val checked = rows.iterator.map { values =>
      require(values.length == template.length,
        s"MetaIO.writeRows: row arity ${values.length} != schema ${template.length}")
      template.lazyZip(values).foreach { case ((n, ex), v) =>
        if (!sameClass(v, ex)) throw new IllegalArgumentException(
          s"MetaIO.writeRows: column '$n' declared ${ex.getClass.getSimpleName} " +
            s"but row holds ${v.getClass.getSimpleName} ($v) — ascribe the " +
            "row Seq[Any] so Scala cannot numerically widen it")
      }
      Row.fromSeq(values)
    }.toVector
    writeRows(conf, dir, schema, checked)
  }

  /** Write `fields` as a one-row parquet dir at `dir` (overwrite). */
  def writeRow(conf: Configuration, dir: String, fields: Seq[(String, Any)]): Unit =
    writeRows(conf, dir, fields, Iterator.single(fields.map(_._2)))

  /** Write `rows` (laid out as `schema`) as the one data file of `dir`
    * (overwrite), the same way as the exemplar form. */
  private[graft] def writeRows(conf: Configuration, dir: String,
                               schema: StructType, rows: Seq[Row]): Unit = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    val internal = rows.map(r => toCatalyst(r).asInstanceOf[InternalRow])
    val dp = new Path(dir)
    val fs = dp.getFileSystem(conf)
    val staging = new Path(dp, s".staging-${java.util.UUID.randomUUID()}")
    try {
      // one chunk of at most Int.MaxValue rows: always exactly one file
      DriverParquet.write(SparkSession.active, staging, schema, internal,
        Some(Long.MaxValue), Some("uncompressed"))
      val Array(tmp) = fs.listStatus(staging).filter(isDataFile).map(_.getPath)
      // swap in: move the CURRENT file aside (never delete it before the
      // new one is in place — a failed swap must leave the previous rows
      // readable), rename the new file in, then drop the backup and
      // every other stale data file. Both renames are REQUIRED to succeed
      // (Hadoop FileSystems signal failure by returning false). Readers
      // racing the swap see old rows, new rows, or (between rename and
      // delete) both — a single-row read takes the name-FIRST file, and
      // the backup name sorts after `fin`, so the new row wins in the
      // "both" window; a crash leaves at worst old and new side by side,
      // which the next write cleans.
      val fin = new Path(dp, "part-00000-meta.parquet")
      val existing = fs.listStatus(dp).filter(isDataFile).map(_.getPath)
      val bak = new Path(dp,
        s"part-00001-meta-old-${java.util.UUID.randomUUID()}.parquet")
      if (fs.exists(fin))
        require(fs.rename(fin, bak),
          s"MetaIO: rename $fin -> $bak failed; previous row left intact")
      require(fs.rename(tmp, fin),
        s"MetaIO: rename $tmp -> $fin failed; previous row preserved at " +
          s"${if (fs.exists(bak)) bak else "(no previous row)"}")
      (existing.filter(_.getName != fin.getName) :+ bak)
        .foreach(p => fs.delete(p, false))
    } finally fs.delete(staging, true)
  }

  /** The one way this library opens a parquet file (Spark's own scans
    * aside): read options from the caller's conf, so the open re-parses
    * no Hadoop XML defaults. The caller closes the reader. */
  private[graft] def open(conf: Configuration, file: FileStatus): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf),
      HadoopReadOptions.builder(conf, file.getPath).build())

  /** One [[open]] of `file`, closed whatever `f` does. */
  private[graft] def footer[T](conf: Configuration, file: FileStatus)
                       (f: ParquetFileReader => T): T = {
    val r = open(conf, file)
    try f(r) finally r.close()
  }

  /** The Spark schema of a file: the one Spark recorded under its
    * row-metadata key, else Spark's parquet→Catalyst conversion of the
    * file schema (non-Spark writers). */
  private def sparkSchema(meta: FileMetaData): StructType =
    Option(meta.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
      .map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(new ParquetToSparkSchemaConverter(SQLConf.get).convert(meta.getSchema))

  /** The rows of the open file `r`, lazily, decoded by Spark's parquet
    * record materializer as a scan task decodes them and converted to
    * Scala values as `collect` converts them: `columns` (all when `None`)
    * of the file's [[sparkSchema]]; a column missing from it throws. */
  private def decode(conf: Configuration, r: ParquetFileReader,
                     columns: Option[Seq[String]]): Iterator[Row] = {
    val meta = r.getFooter.getFileMetaData
    val full = sparkSchema(meta)
    val schema = columns.fold(full)(cs => StructType(cs.map(full(_))))
    val rconf = new Configuration(conf)
    rconf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, schema.json)
    // the keys Spark's schema converter reads, as a scan sets them
    val sql = SQLConf.get
    Seq(SQLConf.PARQUET_BINARY_AS_STRING, SQLConf.PARQUET_INT96_AS_TIMESTAMP,
        SQLConf.CASE_SENSITIVE, SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
        SQLConf.LEGACY_PARQUET_NANOS_AS_LONG, SQLConf.PARQUET_FIELD_ID_READ_ENABLED)
      .foreach(e => rconf.setBoolean(e.key, sql.getConf(e)))
    val support = new ParquetReadSupport()
    val ctx = support.init(new InitContext(rconf,
      java.util.Collections.emptyMap[String, java.util.Set[String]](), meta.getSchema))
    val rows = support.prepareForRead(rconf, meta.getKeyValueMetaData, meta.getSchema, ctx)
    r.setRequestedSchema(ctx.getRequestedSchema)
    val io = new ColumnIOFactory(meta.getCreatedBy)
      .getColumnIO(ctx.getRequestedSchema, meta.getSchema, true)
    val toScala = CatalystTypeConverters.createToScalaConverter(schema)
    Iterator.continually(r.readNextRowGroup()).takeWhile(_ != null).flatMap { pages =>
      val records = io.getRecordReader(pages, rows)
      // converted at once: the materializer reuses its current record
      Iterator.range(0L, pages.getRowCount)
        .map(_ => toScala(records.read()).asInstanceOf[Row])
    }
  }

  /** A decoded row as a name → value map in schema column order. */
  private def toMap(row: Row): Map[String, Any] =
    scala.collection.immutable.VectorMap.from(row.schema.fieldNames.iterator.zip(row.toSeq))

  /** Top-level column names of the parquet file/dir at `dir` (footer
    * read only); `None` when missing/empty/unreadable. For the "does
    * this sidecar predate column X" checks that used to pay a Spark
    * schema-inference read. */
  def columnsOf(conf: Configuration, dir: String): Option[Seq[String]] =
    try firstDataFile(conf, dir).map(footer(conf, _) { r =>
      val s = r.getFooter.getFileMetaData.getSchema
      (0 until s.getFieldCount).map(i => s.getType(i).getName)
    })
    catch { case _: Exception => None }

  /** [[readRow]] restricted to `columns` — a projected read: parquet is
    * columnar, so unrequested columns (e.g. a GBs Bloom binary beside
    * scalar stats) are never materialized. A requested column missing
    * from the file makes the read fail → `None` (same contract as an
    * unreadable file). */
  def readRowColumns(conf: Configuration, dir: String,
                     columns: Seq[String]): Option[Map[String, Any]] =
    readFirst(conf, dir, Some(columns))

  /** Read the single row of the parquet dir (or file) at `dir` as a
    * name → value map in schema column order; `None` when
    * missing/empty/unreadable. Accepts any writer's file. Only the first
    * row of the first data file is read — the sidecar contract. */
  def readRow(conf: Configuration, dir: String): Option[Map[String, Any]] =
    readFirst(conf, dir, None)

  private def readFirst(conf: Configuration, dir: String,
                        columns: Option[Seq[String]]): Option[Map[String, Any]] =
    try firstDataFile(conf, dir).flatMap(footer(conf, _)(decode(conf, _, columns).nextOption()))
      .map(toMap)
    catch { case _: Exception => None }

  /** ALL rows of every data file under `dir`, files in name order — the
    * multi-row twin of [[readRow]] for small driver-local tables that
    * were `collect()`ed right after their Spark read anyway. Throws on
    * a missing/unreadable dir (these tables are load-bearing; a silent
    * empty result would mask corruption the callers refuse loudly). */
  def readRows(conf: Configuration, dir: String): Vector[Map[String, Any]] = {
    val dp = new Path(dir)
    dataFiles(dp.getFileSystem(conf), dp)
      .flatMap(footer(conf, _)(decode(conf, _, None).map(toMap).toVector))
  }

  /** Total row count of every data file under `dir`, summed from the
    * parquet footers — no data page is read and no Spark job runs (a
    * `spark.read.parquet(dir).count()` is a full job for the same
    * number). 0 when `dir` is missing. */
  def rowCount(conf: Configuration, dir: String): Long = {
    val dp = new Path(dir)
    val fs = dp.getFileSystem(conf)
    if (!fs.exists(dp)) 0L
    else dataFiles(fs, dp).map(footer(conf, _)(_.getRecordCount)).sum
  }

  /** The non-null values of the Long column `column` over the data files
    * in `listing` (one flat directory's `listStatus`), or `None` when the
    * footers' row counts sum past `maxRows` — checked before any data
    * page is read. Each file is opened exactly once: its footer gives the
    * count, and the same reader then reads the projected column. */
  def readLongColumn(conf: Configuration, listing: Seq[FileStatus],
                     column: String, maxRows: Long): Option[Vector[Long]] = {
    val readers = listing.filter(isDataFile).sortBy(_.getPath.getName).map(open(conf, _))
    try {
      if (readers.map(_.getRecordCount).sum > maxRows) None
      else Some(readers.toVector.flatMap(decode(conf, _, Some(Seq(column)))
        .collect { case row if !row.isNullAt(0) => row.getLong(0) }))
    } finally readers.foreach(_.close())
  }

  /** The Spark schema `spark.read.parquet(dir)` infers, from ONE footer
    * read on the driver instead of the Spark job inference runs: the
    * first data file under `dir` (depth first, skipping what Spark's
    * listing skips — `_` and `.` names that are not `k=v` partition
    * directories), then its [[sparkSchema]]. Partition columns are not
    * in it; a read still discovers them from the paths. `None` when `dir`
    * holds no data file. */
  def sparkSchemaOf(conf: Configuration, dir: String): Option[StructType] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    def visible(s: FileStatus): Boolean = {
      val n = s.getPath.getName
      !((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
        n.endsWith("._COPYING_"))
    }
    def firstFile(p: Path): Option[FileStatus] = {
      val children =
        try fs.listStatus(p).filter(visible).sortBy(_.getPath.getName)
        catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] }
      children.find(_.isFile).orElse(children.iterator
        .filter(_.isDirectory).flatMap(s => firstFile(s.getPath)).nextOption())
    }
    firstFile(root).map(footer(conf, _)(r => sparkSchema(r.getFooter.getFileMetaData)))
  }

  private def isDataFile(s: FileStatus): Boolean = {
    val n = s.getPath.getName
    s.isFile && !n.startsWith(".") && !n.startsWith("_")
  }

  /** The data files of an existing `dp` in name order (`dp` itself when
    * it IS a file) — hidden and underscore names (`_SUCCESS`, temp
    * parts, the staging dir) excluded. Throws when `dp` is missing. */
  private def dataFiles(fs: org.apache.hadoop.fs.FileSystem,
                        dp: Path): Vector[FileStatus] = {
    val st = fs.getFileStatus(dp)
    if (st.isFile) Vector(st)
    else fs.listStatus(dp).filter(isDataFile).sortBy(_.getPath.getName).toVector
  }

  /** The first data file of `dir` (or `dir` itself when it IS a file);
    * `None` when empty, and throws when missing. */
  private def firstDataFile(conf: Configuration, dir: String): Option[FileStatus] = {
    val dp = new Path(dir)
    dataFiles(dp.getFileSystem(conf), dp).headOption
  }
}
