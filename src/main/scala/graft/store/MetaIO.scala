package graft.store

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport, GroupWriteSupport}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StructType}

/**
 * Driver-direct parquet I/O for ONE-ROW metadata sidecars (`_meta`,
 * `_idbloom`, freshness stamps): a metadata row is a handful of scalars,
 * but routed through `spark.read.parquet(...).head()` /
 * `df.coalesce(1).write.parquet(...)` each access costs a full
 * distributed job — file listing, schema inference (a footer read),
 * scheduling, the commit protocol — ~100 ms of fixed overhead per call
 * on an idle local cluster and a driver→cluster round trip on a real
 * one. Several such calls ride EVERY index append (streaming
 * micro-batches pay them per batch) and every indexed probe's
 * freshness check. Reading and writing the file directly on the driver
 * turns each into single-digit-ms local I/O, and at 100 TB it is
 * strictly the right layering: 1-row metadata never needed a cluster
 * job (guide §5 — the driver should do no DATA work; this is not data).
 *
 * Files stay ordinary parquet in an ordinary directory (one
 * `part-00000...parquet`), bit-compatible with `spark.read.parquet`
 * and DuckDB `read_parquet` — both directions are spec-tested, and
 * every site keeps its old on-disk contract (a tree written by an old
 * build reads fine: [[readRow]] accepts any single-row parquet dir
 * regardless of writer).
 *
 * Type mapping (write — values are plain JVM types):
 * `Long`→int64, `Int`→int32, `Double`→double, `Boolean`→boolean,
 * `String`→binary(UTF8), `Array[Byte]`→binary,
 * `java.math.BigDecimal`→FLBA(16) DECIMAL(38, scale) (Spark's own
 * layout for precision > 18). Read maps the same encodings back.
 *
 * Crash semantics on overwrite match the replaced Spark path: the part
 * file is written under a temp name and renamed into place, then stale
 * part files are removed — a torn write leaves either the old row or
 * the new one readable, never a half-row (parquet footers make a
 * truncated file unreadable, which every caller already treats as
 * "missing, degrade loudly/softly per its contract").
 */
object MetaIO {

  private def schemaOf(fields: Seq[(String, Any)]): MessageType = {
    val b = Types.buildMessage()
    fields.foreach { case (name, v) =>
      val t: Type = v match {
        case _: Long    => Types.optional(INT64).named(name)
        case _: Int     => Types.optional(INT32).named(name)
        case _: Double  => Types.optional(DOUBLE).named(name)
        case _: Boolean => Types.optional(BOOLEAN).named(name)
        case _: String  => Types.optional(BINARY)
          .as(LogicalTypeAnnotation.stringType()).named(name)
        case _: Array[Byte] => Types.optional(BINARY).named(name)
        case d: java.math.BigDecimal => Types.optional(FIXED_LEN_BYTE_ARRAY)
          .length(16)
          .as(LogicalTypeAnnotation.decimalType(d.scale, 38)).named(name)
        case s: Seq[_] =>
          // Spark's 3-level LIST layout (the shape [[readRows]] already
          // decodes): optional group (LIST) { repeated group list
          // { optional <element> } } — scalar elements only, the
          // template exemplar's first element fixes the type
          val el = s.headOption.getOrElse(throw new IllegalArgumentException(
            s"MetaIO: Seq exemplar for '$name' needs one element to fix " +
              "the element type"))
          val lb = Types.optionalList()
          (el match {
            case _: Double => lb.optionalElement(DOUBLE)
            case _: Long   => lb.optionalElement(INT64)
            case _: Int    => lb.optionalElement(INT32)
            case _: Float  => lb.optionalElement(FLOAT)
            case other => throw new IllegalArgumentException(
              s"MetaIO: unsupported list element ${other.getClass} for '$name'")
          }).named(name)
        case other => throw new IllegalArgumentException(
          s"MetaIO.writeRow: unsupported type ${other.getClass} for '$name'")
      }
      b.addField(t)
    }
    b.named("meta")
  }

  /** 16-byte big-endian two's-complement of the unscaled value — the
    * FLBA(16) DECIMAL layout Spark writes for precision > 18. */
  private def decimalBytes(d: java.math.BigDecimal): Array[Byte] = {
    val unscaled = d.unscaledValue().toByteArray
    require(unscaled.length <= 16,
      s"MetaIO: decimal $d exceeds 16-byte unscaled representation")
    val out = new Array[Byte](16)
    val sign: Byte = if (d.signum() < 0) -1 else 0
    java.util.Arrays.fill(out, 0, 16 - unscaled.length, sign)
    System.arraycopy(unscaled, 0, out, 16 - unscaled.length, unscaled.length)
    out
  }

  /** Write many rows of the SAME scalar schema as one parquet file at
    * `dir` (overwrite) — for small, already-driver-local tables (sketch
    * cells, BPE merge lists) whose old `createDataFrame(...).coalesce(1)
    * .write` path paid a full Spark job to serialize rows the driver
    * was holding anyway. `template` supplies names + exemplar values
    * for the schema (so an EMPTY rows iterator still writes a typed,
    * readable file); each row is a value sequence in template order. */
  def writeRows(conf: Configuration, dir: String,
                template: Seq[(String, Any)],
                rows: IterableOnce[Seq[Any]]): Unit =
    writeGroups(conf, dir, template, rows)

  /** Write `fields` as a one-row parquet dir at `dir` (overwrite). */
  def writeRow(conf: Configuration, dir: String,
               fields: Seq[(String, Any)]): Unit =
    writeGroups(conf, dir, fields, Iterator.single(fields.map(_._2)))

  private def writeGroups(conf: Configuration, dir: String,
                          template: Seq[(String, Any)],
                          rows: IterableOnce[Seq[Any]]): Unit = {
    val fields = template
    val dp = new Path(dir)
    val fs = dp.getFileSystem(conf)
    fs.mkdirs(dp)
    val schema = schemaOf(fields)
    val tmp = new Path(dp, s".part-00000-${java.util.UUID.randomUUID()}.parquet.tmp")
    val wconf = new Configuration(conf)
    GroupWriteSupport.setSchema(schema, wconf)
    val writer = ExampleParquetWriter.builder(
        org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(tmp, wconf))
      .withConf(wconf)
      .withType(schema)
      .build()
    try {
      val names = fields.map(_._1)
      rows.iterator.foreach { values =>
        require(values.length == names.length,
          s"MetaIO.writeRows: row arity ${values.length} != schema ${names.length}")
        val g = new SimpleGroup(schema)
        names.lazyZip(values).lazyZip(fields.map(_._2)).foreach { (n, v, ex) =>
          // guard against Scala numeric widening at call sites (a bare
          // Seq(longVal, doubleVal) unifies to Seq[Double]): every value
          // must match its template exemplar's runtime class, or be null.
          // Seq values are exempt from the exact-class check (List vs
          // Vector vs ArraySeq are all the same LIST column); their
          // elements are type-checked in the write below.
          if (v != null && !(v.isInstanceOf[Seq[_]] && ex.isInstanceOf[Seq[_]])
              && v.getClass != ex.getClass)
            throw new IllegalArgumentException(
              s"MetaIO.writeRows: column '$n' declared ${ex.getClass.getSimpleName} " +
                s"but row holds ${v.getClass.getSimpleName} ($v) — ascribe the " +
                "row Seq[Any] so Scala cannot numerically widen it")
          v match {
            case null           => () // optional field: absent value
            case v: Long        => g.add(n, v)
            case v: Int         => g.add(n, v)
            case v: Double      => g.add(n, v)
            case v: Boolean     => g.add(n, v)
            case v: String      => g.add(n, v)
            case v: Array[Byte] => g.add(n, Binary.fromConstantByteArray(v))
            case v: java.math.BigDecimal =>
              g.add(n, Binary.fromConstantByteArray(decimalBytes(v)))
            case v: Seq[_] =>
              // 3-level LIST: one repeated "list" group per element, a
              // NULL element = an empty element group (what readRows
              // maps back to null)
              val lg = g.addGroup(n)
              v.foreach { el =>
                val e = lg.addGroup(0)
                el match {
                  case null       => ()
                  case d: Double  => e.add(0, d)
                  case l: Long    => e.add(0, l)
                  case i: Int     => e.add(0, i)
                  case f: Float   => e.add(0, f)
                  case other => throw new IllegalArgumentException(
                    s"MetaIO.writeRows: unsupported list element " +
                      s"${other.getClass} for '$n'")
                }
              }
            case v => throw new IllegalArgumentException(
              s"MetaIO.writeRows: unsupported type ${v.getClass} for '$n'")
          }
        }
        writer.write(g)
      }
    } finally writer.close()
    // swap in: move the CURRENT row aside (never delete it before the
    // new row is in place — a failed swap must leave the previous row
    // readable), rename the finished file in, then drop the backup and
    // every other stale data file. Both renames are REQUIRED to succeed
    // (Hadoop FileSystems signal failure by returning false; proceeding
    // past a failed swap would delete the only readable row). Readers
    // racing the swap see old row, new row, or (between rename and
    // delete) both — resolveFile takes the name-FIRST file, and the
    // backup name sorts after `fin`, so the new row wins in the "both"
    // window; a crash leaves at worst old and new side by side, which
    // the next writeRow cleans.
    val fin = new Path(dp, "part-00000-meta.parquet")
    val existing = fs.listStatus(dp).filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith(".") && !n.startsWith("_")
    }.map(_.getPath)
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
  }

  /** Top-level column names of the parquet file/dir at `dir` (footer
    * read only); `None` when missing/empty/unreadable. For the "does
    * this sidecar predate column X" checks that used to pay a Spark
    * schema-inference read. */
  def columnsOf(conf: Configuration, dir: String): Option[Seq[String]] =
    try {
      resolveFile(conf, dir).map { file =>
        val s = footer(conf, file)(_.getFooter.getFileMetaData.getSchema)
        (0 until s.getFieldCount).map(i => s.getType(i).getName)
      }
    } catch { case _: Exception => None }

  /** One footer read of `file`, closed whatever `f` does. */
  private def footer[T](conf: Configuration, file: Path)
                       (f: org.apache.parquet.hadoop.ParquetFileReader => T): T = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      HadoopInputFile.fromPath(file, conf))
    try f(r) finally r.close()
  }

  /** [[readRow]] restricted to `columns` — a projected read: parquet is
    * columnar, so unrequested columns (e.g. a GBs Bloom binary beside
    * scalar stats) are never materialized. Column order in the result
    * map is irrelevant; a requested column missing from the file makes
    * the read fail → `None` (same contract as an unreadable file). */
  def readRowColumns(conf: Configuration, dir: String,
                     columns: Seq[String]): Option[Map[String, Any]] =
    try {
      resolveFile(conf, dir).flatMap { file =>
        val full = footer(conf, file)(_.getFooter.getFileMetaData.getSchema)
        val b = Types.buildMessage()
        columns.foreach(c => b.addField(full.getType(full.getFieldIndex(c))))
        val rconf = new Configuration(conf)
        rconf.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
          b.named("meta").toString)
        readFirstGroup(rconf, file)
      }
    } catch { case _: Exception => None }

  /** Read the single row of the parquet dir (or file) at `dir` as a
    * name → value map in schema column order; `None` when
    * missing/empty/unreadable. Accepts
    * any writer's file (Spark's included). Only the first row of the
    * first data file is read — the sidecar contract. */
  def readRow(conf: Configuration, dir: String): Option[Map[String, Any]] =
    try resolveFile(conf, dir).flatMap(f => readFirstGroup(conf, f))
    catch { case _: Exception => None }

  /** ALL rows of every data file under `dir`, files in name order — the
    * multi-row twin of [[readRow]] for small driver-local tables that
    * were `collect()`ed right after their Spark read anyway. Throws on
    * a missing/unreadable dir (these tables are load-bearing; a silent
    * empty result would mask corruption the callers refuse loudly). */
  def readRows(conf: Configuration, dir: String): Vector[Map[String, Any]] = {
    val dp = new Path(dir)
    val fs = dp.getFileSystem(conf)
    fs.getFileStatus(dp) // throws FileNotFoundException when missing
    dataFiles(fs, dp).flatMap { file =>
      val reader = ParquetReader
        .builder(new GroupReadSupport(), file).withConf(conf).build()
      try {
        val buf = Vector.newBuilder[Map[String, Any]]
        var g = reader.read()
        while (g != null) {
          buf += groupToMap(g)
          g = reader.read()
        }
        buf.result()
      } finally reader.close()
    }
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
    val readers = listing.filter(isDataFile).sortBy(_.getPath.getName)
      .map(s => ParquetFileReader.open(HadoopInputFile.fromStatus(s, conf)))
    try {
      if (readers.map(_.getRecordCount).sum > maxRows) None
      else Some(readers.toVector.flatMap { r =>
        val full = r.getFooter.getFileMetaData.getSchema
        val proj = Types.buildMessage()
          .addField(full.getType(full.getFieldIndex(column))).named("c")
        r.setRequestedSchema(proj)
        val io = new ColumnIOFactory().getColumnIO(proj)
        val out = Vector.newBuilder[Long]
        var pages = r.readNextRowGroup()
        while (pages != null) {
          val rows = io.getRecordReader(pages, new GroupRecordConverter(proj))
          var i = 0L
          while (i < pages.getRowCount) {
            val g = rows.read()
            if (g.getFieldRepetitionCount(0) > 0) out += g.getLong(0, 0)
            i += 1
          }
          pages = r.readNextRowGroup()
        }
        out.result()
      })
    } finally readers.foreach(_.close())
  }

  /** The Spark schema `spark.read.parquet(dir)` infers, from ONE footer
    * read on the driver instead of the Spark job inference runs: the
    * first data file under `dir` (depth first, skipping what Spark's
    * listing skips — `_` and `.` names that are not `k=v` partition
    * directories), then the schema Spark recorded under its row-metadata
    * key, else Spark's parquet→Catalyst conversion of the file schema
    * (non-Spark writers such as [[writeRows]]). Partition columns are not
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
    def firstFile(p: Path): Option[Path] = {
      val children =
        try fs.listStatus(p).filter(visible).sortBy(_.getPath.getName)
        catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] }
      children.find(_.isFile).map(_.getPath).orElse(children.iterator
        .filter(_.isDirectory).flatMap(s => firstFile(s.getPath)).nextOption())
    }
    firstFile(root).map(footer(conf, _) { r =>
      val meta = r.getFooter.getFileMetaData
      Option(meta.getKeyValueMetaData.get(SparkRowMetadataKey))
        .map(DataType.fromJson(_).asInstanceOf[StructType])
        .getOrElse(new ParquetToSparkSchemaConverter(SQLConf.get)
          .convert(meta.getSchema))
    })
  }

  /** The footer key Spark writes its own schema JSON under. */
  private val SparkRowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  private def isDataFile(s: FileStatus): Boolean = {
    val n = s.getPath.getName
    s.isFile && !n.startsWith(".") && !n.startsWith("_")
  }

  /** The data files of an existing `dp` in name order (`dp` itself when
    * it IS a file) — hidden and underscore names (`_SUCCESS`, temp
    * parts) excluded. */
  private def dataFiles(fs: org.apache.hadoop.fs.FileSystem,
                        dp: Path): Vector[Path] =
    if (fs.getFileStatus(dp).isFile) Vector(dp)
    else fs.listStatus(dp).filter(isDataFile)
      .map(_.getPath).sortBy(_.getName).toVector

  /** The dir's first data file (or `dir` itself when it IS a file);
    * `None` when missing/empty. */
  private def resolveFile(conf: Configuration, dir: String): Option[Path] = {
    val dp = new Path(dir)
    val fs = dp.getFileSystem(conf)
    if (!fs.exists(dp)) None else dataFiles(fs, dp).headOption
  }

  private def readFirstGroup(conf: Configuration,
                             file: Path): Option[Map[String, Any]] = {
    val reader = ParquetReader
      .builder(new GroupReadSupport(), file).withConf(conf).build()
    try {
      val g = reader.read()
      if (g == null) None else Some(groupToMap(g))
    } finally reader.close()
  }

  private def groupToMap(g: org.apache.parquet.example.data.Group): Map[String, Any] = {
    locally {
      val schema = g.getType.asInstanceOf[MessageType]
      val m = (0 until schema.getFieldCount).map { i =>
        val f = schema.getType(i)
        val name = f.getName
        val v: Any =
          if (g.getFieldRepetitionCount(i) == 0) null
          else if (!f.isPrimitive) {
            // Spark's 3-level LIST encoding: optional group f (LIST)
            // { repeated group list { optional <prim> element } } —
            // read back as Seq[Any] of the element values (null
            // elements preserved). Only scalar elements supported.
            val lst = g.getGroup(i, 0)
            val n = lst.getFieldRepetitionCount(0)
            val out: Seq[Any] = (0 until n).map { j =>
              val el = lst.getGroup(0, j)
              if (el.getFieldRepetitionCount(0) == 0) null
              else {
                val ept = el.getType.getType(0).asPrimitiveType()
                ept.getPrimitiveTypeName match {
                  case INT64   => el.getLong(0, 0)
                  case INT32   => el.getInteger(0, 0)
                  case DOUBLE  => el.getDouble(0, 0)
                  case FLOAT   => el.getFloat(0, 0)
                  case BOOLEAN => el.getBoolean(0, 0)
                  case _ =>
                    val bin = el.getBinary(0, 0)
                    ept.getLogicalTypeAnnotation match {
                      case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation =>
                        bin.toStringUsingUTF8
                      case _ => bin.getBytes
                    }
                }
              }
            }
            out
          }
          else {
            val pt = f.asPrimitiveType()
            pt.getPrimitiveTypeName match {
              case INT64 => pt.getLogicalTypeAnnotation match {
                case dec: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
                  java.math.BigDecimal.valueOf(g.getLong(i, 0), dec.getScale)
                case _ => g.getLong(i, 0)
              }
              case INT32 => pt.getLogicalTypeAnnotation match {
                case dec: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
                  java.math.BigDecimal.valueOf(g.getInteger(i, 0).toLong, dec.getScale)
                case _ => g.getInteger(i, 0)
              }
              case DOUBLE  => g.getDouble(i, 0)
              case FLOAT   => g.getFloat(i, 0)
              case BOOLEAN => g.getBoolean(i, 0)
              case BINARY | FIXED_LEN_BYTE_ARRAY =>
                val bin = g.getBinary(i, 0)
                pt.getLogicalTypeAnnotation match {
                  case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation =>
                    bin.toStringUsingUTF8
                  case dec: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
                    new java.math.BigDecimal(
                      new java.math.BigInteger(bin.getBytes), dec.getScale)
                  case _ => bin.getBytes
                }
              case INT96 => g.getInt96(i, 0).getBytes
            }
          }
        name -> v
      }.to(scala.collection.immutable.VectorMap)
      m
    }
  }
}
