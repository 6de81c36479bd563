package graft

import scala.jdk.CollectionConverters._

import graft.store.{HDFStore, MetaIO, StoreMode}
import graft.table.RowIds
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.DriverParquet
import org.scalatest.funsuite.AnyFunSuite

/** Writes of frames whose rows are already on the driver: their ids and
  * their parquet files are made on the driver, by Spark's own writer, so
  * the files equal a Spark write's and the write runs no Spark job. */
class DriverWriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import TestSpark.spark.implicits._
  import TestSpark.jobsDuring

  private def conf = spark.sparkContext.hadoopConfiguration

  /** Every type a write must encode the same way on both paths: VLEN
    * arrays (null arrays and null elements), decimals, `timestamp_ntz`,
    * timestamps, dates, null doubles and null strings. */
  private def typedRows(n: Int): DataFrame =
    (0 until n).map { i =>
      (i.toLong, if (i % 7 == 3) None else Some(i * 0.25),
        if (i % 5 == 2) null else s"s$i",
        if (i % 11 == 4) null else Seq(Some(i), if (i % 3 == 0) None else Some(-i)),
        BigDecimal(i) / 8,
        java.time.LocalDate.of(2020, 1, 1).plusDays(i.toLong),
        java.time.LocalDateTime.of(2021, 6, 1, 0, 0).plusSeconds(i * 3607L),
        java.time.Instant.parse("2022-03-01T00:00:00Z").plusSeconds(i * 61L))
    }.toDF("k", "v", "s", "tags", "amt", "day", "ts", "at")
      .withColumn("amt", col("amt").cast("decimal(12,3)"))

  private def parquetFiles(dir: String): Seq[FileStatus] = {
    val p = new Path(dir)
    p.getFileSystem(conf).listStatus(p)
      .filter(_.getPath.getName.endsWith(".parquet")).sortBy(_.getPath.getName).toSeq
  }

  private def footer[T](f: FileStatus)(read: ParquetFileReader => T): T = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(f.getPath, conf))
    try read(r) finally r.close()
  }

  /** Per row group of the file: its rows, every column chunk's codec, and
    * the `_rowid` chunk's min, max and null count. */
  private def groups(f: FileStatus): Seq[(Long, Seq[String], (Any, Any, Long))] =
    footer(f)(_.getFooter.getBlocks.asScala.toSeq.map { b =>
      val cols = b.getColumns.asScala.toSeq
      val id = cols.find(_.getPath.toDotString == RowIds.Col).get.getStatistics
      (b.getRowCount, cols.map(_.getCodec.toString), (id.genericGetMin, id.genericGetMax, id.getNumNulls))
    })

  test("a driver write equals a Spark write: footer, codec, _rowid statistics, rows") {
    val local = RowIds.attach(typedRows(120))
    val rows = RowIds.localRows(local)
    assert(rows.exists(_.size == 120), "ids of a local frame are attached on the driver")
    Seq(None, Some("gzip"), Some("zstd")).foreach { codec =>
      val root = TestSpark.tmpDir("dw-eq")
      val (driverDir, sparkDir) = (s"$root/driver", s"$root/spark")
      val (counts, jobs) = jobsDuring(
        DriverParquet.write(spark, new Path(driverDir), local.schema, rows.get, None, codec))
      assert(counts == Vector(120L) && jobs == 0, s"$codec: $counts, $jobs jobs")
      codec.foldLeft(local.coalesce(1).write)((w, c) => w.option("compression", c))
        .parquet(sparkDir)
      val (d, s) = (parquetFiles(driverDir), parquetFiles(sparkDir))
      assert(d.size == 1 && s.size == 1, s"$codec: ${d.size} and ${s.size} files")
      assert(d.head.getPath.getName.matches("part-00000-[0-9a-f-]{36}-c000\\..+\\.parquet") &&
        d.head.getPath.getName.split('.').drop(1).toSeq ==
          s.head.getPath.getName.split('.').drop(1).toSeq, s"$codec: file names")
      assert(MetaIO.sparkSchemaOf(conf, driverDir) == MetaIO.sparkSchemaOf(conf, sparkDir))
      assert(MetaIO.sparkSchemaOf(conf, driverDir).contains(local.schema))
      def fileMeta(f: FileStatus) = footer(f) { r =>
        val m = r.getFooter.getFileMetaData
        (m.getSchema, m.getKeyValueMetaData.asScala.toMap)
      }
      assert(fileMeta(d.head) == fileMeta(s.head), s"$codec: footer")
      assert(groups(d.head) == groups(s.head), s"$codec: row groups")
      assert(groups(d.head).flatMap(_._2).distinct ==
        Seq(codec.getOrElse("snappy").toUpperCase), s"$codec: codec")
      val want = local.collect().toSeq
      assert(spark.read.parquet(driverDir).collect().sortBy(_.getAs[Long](RowIds.Col)).toSeq == want)
      assert(spark.read.parquet(sparkDir).collect().sortBy(_.getAs[Long](RowIds.Col)).toSeq == want)
      val readSchema = spark.read.parquet(sparkDir).schema
      val read = DriverParquet.reader(spark, readSchema, Nil)
      def driverRead(f: FileStatus): Seq[Row] =
        DriverParquet.frame(spark, readSchema, read(f, _ => true)).collect().toSeq
      assert(driverRead(d.head) == driverRead(s.head) && driverRead(d.head) == want)
    }
  }

  test("a local put splits at the chunk size, files in id order; a 0-row put writes one empty file") {
    val st = HDFStore.open(spark, TestSpark.tmpDir("dw-chunk"), StoreMode.Overwrite)
    val (_, jobs) = jobsDuring(st.put("t", typedRows(250), chunkSize = Some(100L)))
    assert(jobs == 0)
    val t = st.table("t")
    assert(t.meta.segments.size == 1)
    val seg = t.meta.segments.head
    assert(seg.rows == 250 && seg.fileRows == Vector(100L, 100L, 50L))
    val files = parquetFiles(new Path(st.rootPath, seg.dir).toString)
    assert(files.map(_.getPath.getName.replaceAll(".*-(c\\d{3})\\..*", "$1")) ==
      Seq("c000", "c001", "c002"))
    files.zipWithIndex.foreach { case (f, i) =>
      val g = groups(f)
      assert(g.map(_._1).sum == seg.fileRows(i))
      assert(g.head._3._1 == 100L * i && g.last._3._2 == 100L * i + seg.fileRows(i) - 1)
    }
    val want = typedRows(250).collect().toSeq
    assert(t.dataDf.collect().sortBy(_.getAs[Long]("k")).toSeq == want)
    assert(t.slice(95, 205).drop(RowIds.Col).collect().toSeq == want.slice(95, 206))

    val (_, emptyJobs) = jobsDuring(st.put("e", typedRows(0)))
    assert(emptyJobs == 0)
    val e = st.table("e")
    assert(e.meta.segments.size == 1)
    val eSeg = e.meta.segments.head
    val eFiles = parquetFiles(new Path(st.rootPath, eSeg.dir).toString)
    assert(e.nrows == 0 && eFiles.size == 1 && footer(eFiles.head)(_.getRecordCount) == 0L)
    assert(e.schema == typedRows(0).schema && e.df.count() == 0L)
    st.close()
  }

  test("more than 1,000 chunk files of one write keep id order, on the driver and in one Spark task") {
    val st = HDFStore.open(spark, TestSpark.tmpDir("dw-many"), StoreMode.Overwrite)
    val local = (0 until 1001).map(i => (i.toLong, s"s$i")).toDF("k", "s")
    val oneTask = spark.range(0, 1001, 1, 1).select(col("id").as("k"), concat(lit("s"), col("id")).as("s"))
    for ((name, df) <- Seq("local" -> local, "spark" -> oneTask)) {
      st.put(name, df, chunkSize = Some(1L))
      val t = st.table(name)
      val seg = t.meta.segments.head
      assert(seg.fileRows == Vector.fill(1001)(1L), name)
      assert(parquetFiles(new Path(st.rootPath, seg.dir).toString).count(_.getPath.getName.contains("-c1000.")) == 1)
      def ks(d: DataFrame) = d.select("_rowid", "k").as[(Long, Long)].collect().sortBy(_._1).toSeq
      assert(ks(t.slice(995, 1000)) == (995L to 1000L).map(i => (i, i)), name)
      t.delete(99, 101)
      t.delete(500)
      val want = ((0L until 99L) ++ (102L until 503L) ++ (504L to 1000L)).zipWithIndex
        .map { case (k, i) => (i.toLong, k) }
      assert(ks(t.slice(990, 996)) == want.slice(990, 997), name)
      assert(ks(t.df) == want, name)
    }
    st.close()
  }

  test("an incoming _rowid of another type orders a local put by a Spark sort") {
    val st = HDFStore.open(spark, TestSpark.tmpDir("dw-intid"), StoreMode.Overwrite)
    st.put("t", Seq((5, "c"), (-1, "a"), (2, "b")).toDF(RowIds.Col, "s"))
    assert(st.table("t").df.select(RowIds.Col, "s").as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq((0L, "a"), (1L, "b"), (2L, "c")))
    st.close()
  }

  test("a local frame past the byte bound takes the Spark path") {
    val st = HDFStore.open(spark, TestSpark.tmpDir("dw-bytes"), StoreMode.Overwrite)
    val wide = (0 until 400).map(i => (i.toLong, s"$i-" + "x" * 12000)).toDF("k", "s")
    assert(RowIds.localRows(wide).isEmpty && RowIds.localRows(wide.limit(300)).nonEmpty)
    assert(jobsDuring(st.put("small", wide.limit(300)))._2 == 0, "3.6 MB: all on the driver")
    assert(jobsDuring(st.put("t", wide))._2 == 2, "4.8 MB: the id job and the write job")
    assert(st.table("t").slice(397, 399).select("k").as[Long].collect().toSeq == Seq(397L, 398L, 399L))
    assert(st.table("t").df.select(RowIds.Col, "k").as[(Long, Long)].collect().forall { case (i, k) => i == k })
    st.close()
  }

  test("job counts: local appends, inserts and updates run no job for ids or the segment") {
    val st = HDFStore.open(spark, TestSpark.tmpDir("dw-jobs"), StoreMode.Overwrite)
    st.put("t", (0 until 100).map(i => (i.toLong, s"s$i")).toDF("k", "s"), chunkSize = Some(10L))
    val t = st.table("t")
    def batch(from: Int, n: Int) = (from until from + n).map(i => (i.toLong, s"s$i")).toDF("k", "s")
    val hundred = batch(1000, 100)
    assert(jobsDuring(t.append(hundred))._2 == 0, "local 100-row append")
    st.put("p", Fixture.particles)
    val p = st.typed[Fixture.Particle]("p")
    assert(jobsDuring(p.append(Fixture.particles))._2 == 0, "TypedTable.append")
    assert(jobsDuring(t.insert(20, batch(2000, 5)))._2 == 0, "insert at a file boundary")
    assert(jobsDuring(t.insert(33, batch(3000, 5)))._2 == 1, "mid-file insert")
    assert(jobsDuring(t.update(52, batch(4000, 4)))._2 == 1, "update with local rows")
    val ranged = spark.range(0, 100).select(col("id").as("k"), concat(lit("r"), col("id")).as("s"))
    assert(jobsDuring(t.append(ranged))._2 == 2, "append of a distributed frame")

    val want = (0 until 20) ++ (2000 until 2005) ++ (20 until 28) ++ (3000 until 3005) ++
      (28 until 42) ++ (4000 until 4004) ++ (46 until 100) ++ (1000 until 1100)
    assert(t.df.select("_rowid", "s").as[(Long, String)].collect().sortBy(_._1).toSeq ==
      (want.map(i => s"s$i") ++ (0 until 100).map(i => s"r$i")).zipWithIndex.map {
        case (s, i) => (i.toLong, s) })
    assert(p.toSeq == Fixture.particles ++ Fixture.particles)
    st.close()
  }

  test("a driver-path write that throws before its commit leaves the table as it was") {
    val root = TestSpark.tmpDir("dw-commit")
    val st = HDFStore.open(spark, root, StoreMode.Overwrite)
    st.put("t", (0 until 30).map(i => (i.toLong, s"s$i")).toDF("k", "s"), chunkSize = Some(10L))
    val t = st.table("t")
    val tableDir = new Path(st.rootPath, "tables/t")
    def segDirs = st.fs.listStatus(tableDir).map(_.getPath.getName).toSet
    val before = (st.version, segDirs, t.df.collect().toSet)
    val more = (100 until 105).map(i => (i.toLong, s"s$i")).toDF("k", "s")

    // a wrong block size is refused before any file is written
    intercept[IllegalArgumentException](t.appendWithMeta(more, Some(4L), identity))
    assert(segDirs == before._2)

    // a failure after the segment write and before the commit
    intercept[IllegalStateException](
      t.appendWithMeta(more, Some(5L), _ => throw new IllegalStateException("before commit")))
    val orphans = segDirs -- before._2
    assert(orphans.size == 1 && orphans.head.startsWith("seg-"))
    assert(st.version == before._1)
    assert(HDFStore.open(spark, root, StoreMode.Read).version == before._1)
    assert(t.nrows == 30 && t.df.collect().toSet == before._3)
    st.vacuum(0L)
    assert(segDirs == before._2)
    assert(t.df.collect().toSet == before._3)
    st.close()
  }
}
