package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Sample, ShardWriter}
import graft.store.MetaIO

/** The sidecar codec: files of the older hand-built layout stay readable
  * with the same values and classes, a MetaIO file is the file Spark's
  * own write makes of the same rows, refused rows write nothing, and a
  * write leaves no staging directory behind. */
class SidecarCodecSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private def conf = spark.sparkContext.hadoopConfiguration

  private def dirOf(tag: String): String = TestSpark.tmpDir(s"sidecar-$tag") + "/d"

  private def entries(dir: String): Set[String] =
    Option(new java.io.File(dir).list()).fold(Set.empty[String])(_.toSet)

  /** A value with byte arrays compared by content. */
  private def norm(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case s: Seq[_] => s.map(norm)
    case r: Row => r.toSeq.map(norm)
    case other => other
  }

  // the older layout: optional fields, FLBA(16) decimals, 3-level LISTs
  private val legacySchema: MessageType = Types.buildMessage()
    .addField(Types.optional(INT64).named("l"))
    .addField(Types.optional(INT32).named("i"))
    .addField(Types.optional(DOUBLE).named("d"))
    .addField(Types.optional(BOOLEAN).named("b"))
    .addField(Types.optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("s"))
    .addField(Types.optional(BINARY).named("bin"))
    .addField(Types.optional(FIXED_LEN_BYTE_ARRAY).length(16)
      .as(LogicalTypeAnnotation.decimalType(6, 38)).named("dec"))
    .addField(Types.optionalList().optionalElement(DOUBLE).named("arr"))
    .addField(Types.optionalList().optionalElement(FLOAT).named("fl"))
    .named("meta")

  private val legacyRows: Seq[Seq[Any]] = Seq(
    Seq(42L, 7, 3.25, true, "héllo", Array[Byte](1, 2, -3),
      new java.math.BigDecimal("-1234567890123456789012.345678"),
      Seq(1.5, null, 2.5), Seq(0.5f, 1.5f)),
    Seq(null, -1, null, false, null, Array.emptyByteArray,
      new java.math.BigDecimal("0.000001"), Seq(), null))

  private def flba16(d: java.math.BigDecimal): Binary = {
    val unscaled = d.unscaledValue().toByteArray
    val out = Array.fill[Byte](16)(if (d.signum() < 0) -1 else 0)
    System.arraycopy(unscaled, 0, out, 16 - unscaled.length, unscaled.length)
    Binary.fromConstantByteArray(out)
  }

  private def writeLegacy(dir: String): Unit = {
    val w = ExampleParquetWriter.builder(
        HadoopOutputFile.fromPath(new Path(dir, "part-00000-meta.parquet"), conf))
      .withConf(conf).withType(legacySchema).build()
    try legacyRows.foreach { row =>
      val g = new SimpleGroup(legacySchema)
      row.zipWithIndex.foreach {
        case (null, _) => ()
        case (v: Long, i) => g.add(i, v)
        case (v: Int, i) => g.add(i, v)
        case (v: Double, i) => g.add(i, v)
        case (v: Boolean, i) => g.add(i, v)
        case (v: String, i) => g.add(i, v)
        case (v: Array[Byte], i) => g.add(i, Binary.fromConstantByteArray(v))
        case (v: java.math.BigDecimal, i) => g.add(i, flba16(v))
        case (v: Seq[_], i) =>
          val lg = g.addGroup(i)
          v.foreach { el =>
            val e = lg.addGroup(0)
            el match {
              case null => ()
              case d: Double => e.add(0, d)
              case f: Float => e.add(0, f)
            }
          }
      }
      w.write(g)
    } finally w.close()
  }

  private val legacyNames = Seq("l", "i", "d", "b", "s", "bin", "dec", "arr", "fl")

  /** Same values, and the same classes (arrays as immutable Seqs). */
  private def assertSame(got: Map[String, Any], want: Seq[Any], names: Seq[String]): Unit = {
    assert(got.keys.toSeq == names)
    names.lazyZip(want).foreach { (n, w) =>
      val g = got(n)
      assert(norm(g) == norm(w), n)
      if (w != null) w match {
        case _: Seq[_] => assert(g.isInstanceOf[scala.collection.immutable.Seq[_]], s"$n: ${g.getClass}")
        case _ => assert(g.getClass == w.getClass, s"$n: ${g.getClass} vs ${w.getClass}")
      }
      w match {
        case d: java.math.BigDecimal => assert(g.asInstanceOf[java.math.BigDecimal].scale == d.scale, n)
        case _ => ()
      }
    }
  }

  test("(a) files in the older hand-built layout read back with the same values and classes") {
    val dir = dirOf("legacy")
    writeLegacy(dir)
    assertSame(MetaIO.readRow(conf, dir).get, legacyRows.head, legacyNames)
    val all = MetaIO.readRows(conf, dir)
    assert(all.size == 2)
    all.zip(legacyRows).foreach { case (g, w) => assertSame(g, w, legacyNames) }
    val proj = MetaIO.readRowColumns(conf, dir, Seq("dec", "l")).get
    assert(proj.keySet == Set("dec", "l"))
    assert(proj("l") == 42L && proj("dec") == legacyRows.head(6))
    assert(MetaIO.readRowColumns(conf, dir, Seq("l", "nope")).isEmpty)
    val listing = new Path(dir).getFileSystem(conf).listStatus(new Path(dir)).toSeq
    assert(MetaIO.readLongColumn(conf, listing, "l", 10L).contains(Vector(42L)))
    assert(MetaIO.readLongColumn(conf, listing, "l", 1L).isEmpty)
    assert(MetaIO.columnsOf(conf, dir).contains(legacyNames))
    assert(MetaIO.rowCount(conf, dir) == 2L)
    assert(MetaIO.sparkSchemaOf(conf, dir).contains(StructType(Seq(
      StructField("l", LongType), StructField("i", IntegerType),
      StructField("d", DoubleType), StructField("b", BooleanType),
      StructField("s", StringType), StructField("bin", BinaryType),
      StructField("dec", DecimalType(38, 6)),
      StructField("arr", ArrayType(DoubleType, containsNull = true)),
      StructField("fl", ArrayType(FloatType, containsNull = true))))))
  }

  private val template: Seq[(String, Any)] = Seq(
    "l" -> 1L, "i" -> 1, "d" -> 1.0, "b" -> true, "s" -> "", "bin" -> Array[Byte](0),
    "dec0" -> new java.math.BigDecimal("1"), "dec6" -> new java.math.BigDecimal("1.000000"),
    "ad" -> Seq(1.0), "al" -> Seq(1L), "ai" -> Seq(1), "af" -> Seq(1.0f))

  private val typedRows: Seq[Seq[Any]] = Seq(
    Seq(42L, 7, 3.25, true, "héllo", Array[Byte](1, 2, -3),
      new java.math.BigDecimal("-99999999999999999999999999999999999999"),
      new java.math.BigDecimal("12345678901234567890123456789012.123456"),
      Seq(1.5, null, 2.5), Seq(Long.MinValue, Long.MaxValue), Seq(1, null), Seq(0.25f, -1.5f)),
    Seq(null, null, null, null, null, null, null, null, Seq(), Seq(), null, Seq(null)),
    Seq(-1L, Int.MinValue, -1e300, false, "", Array.emptyByteArray,
      new java.math.BigDecimal("0"), new java.math.BigDecimal("-0.000001"),
      null, Seq(3L), Seq(), Seq(2.0f)))

  private def sparkWrite(dir: String, rows: Seq[Seq[Any]]): Unit = {
    val schema = StructType(template.map { case (n, v) =>
      StructField(n, v match {
        case d: java.math.BigDecimal => DecimalType(38, d.scale)
        case s: Seq[_] => ArrayType(typeOf(s.head), containsNull = true)
        case other => typeOf(other)
      })
    })
    spark.createDataFrame(java.util.Arrays.asList(rows.map(Row.fromSeq): _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  private def typeOf(v: Any): DataType = v match {
    case _: Long => LongType
    case _: Int => IntegerType
    case _: Double => DoubleType
    case _: Float => FloatType
    case _: Boolean => BooleanType
    case _: String => StringType
    case _: Array[Byte] => BinaryType
  }

  private def sparkRows(dir: String): Seq[Any] =
    spark.read.parquet(dir).collect().toSeq.map(norm).sortBy(_.toString)

  test("(b) a MetaIO file reads as Spark's own write of the same rows, for every supported type") {
    for ((what, rows) <- Seq("rows" -> typedRows, "no rows" -> Nil)) {
      val (mine, theirs) = (dirOf("mine"), dirOf("theirs"))
      MetaIO.writeRows(conf, mine, template, rows)
      sparkWrite(theirs, rows)
      assert(MetaIO.sparkSchemaOf(conf, mine).isDefined, what)
      assert(MetaIO.sparkSchemaOf(conf, mine) == MetaIO.sparkSchemaOf(conf, theirs), what)
      assert(spark.read.parquet(mine).schema == spark.read.parquet(theirs).schema, what)
      assert(sparkRows(mine) == sparkRows(theirs), what)
      assert(sparkRows(mine).size == rows.size, what)
    }
    val one = dirOf("one")
    MetaIO.writeRow(conf, one, template.map(_._1).zip(typedRows.head))
    assert(sparkRows(one) == sparkRows({ val d = dirOf("one-s"); sparkWrite(d, typedRows.take(1)); d }))
    assert(MetaIO.readRow(conf, one).map(m => norm(m.values.toSeq)).contains(norm(typedRows.head)))
  }

  test("(c) a widened row and an empty Seq exemplar are refused and write nothing") {
    val dir = dirOf("refuse")
    MetaIO.writeRow(conf, dir, Seq("a" -> 1L, "b" -> 2.0))
    val before = entries(dir)
    val widened = Seq(3L, 4.0) // Scala widens this row to Seq[Double]
    intercept[IllegalArgumentException] {
      MetaIO.writeRows(conf, dir, Seq("a" -> 1L, "b" -> 2.0), Seq(widened))
    }
    intercept[IllegalArgumentException] {
      MetaIO.writeRow(conf, dir, Seq("a" -> 1L, "v" -> Seq.empty[Double]))
    }
    intercept[IllegalArgumentException] {
      MetaIO.writeRows(conf, dir, Seq("v" -> Seq(1.0)), Seq(Seq(Seq[Any](1.0, 2L))))
    }
    assert(entries(dir) == before)
    assert(MetaIO.readRow(conf, dir).contains(Map("a" -> 1L, "b" -> 2.0)))
    val fresh = dirOf("refuse-fresh")
    intercept[IllegalArgumentException] {
      MetaIO.writeRow(conf, fresh, Seq("v" -> Seq.empty[Long]))
    }
    assert(entries(fresh).isEmpty)
  }

  test("(d) a write leaves no staging directory") {
    val dir = dirOf("staging")
    MetaIO.writeRow(conf, dir, Seq("v" -> 1L))
    MetaIO.writeRows(conf, dir, Seq("v" -> 1L), (0L until 100L).map(Seq(_)))
    assert(entries(dir).filterNot(_.endsWith(".crc")) == Set("part-00000-meta.parquet"), entries(dir))
    assert(MetaIO.readRows(conf, dir).map(_("v")) == (0L until 100L))
  }

  test("a shard tree keyed by a date id publishes a manifest Spark reads alike") {
    val df = (0 until 200).map(i => (java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1)
        .plusDays(i.toLong)), 1L + i % 5))
    val frame = spark.createDataFrame(df).toDF("day", "n_tok")
    val path = TestSpark.tmpDir("sidecar-shards") + "/tree"
    ShardWriter.writeShards(Sample.shuffleRank(frame, "day", "d", 8), "day", "n_tok", 3,
      path, "d", 8, -1L, maxRowsPerFile = 20L)
    val loaded = ShardWriter.loadManifest(spark, path)
    val read = spark.read.parquet(s"$path/_manifest")
    assert(loaded.schema("min_id").dataType == DateType)
    assert(loaded.schema == read.schema)
    assert(loaded.collect().toSeq.map(norm).sortBy(_.toString) ==
      read.collect().toSeq.map(norm).sortBy(_.toString))
    assert(loaded.agg(sum("n_docs")).head().getLong(0) == 200L)
    val ok = ShardWriter.verifyShards(spark, path).head()
    assert(ok.getAs[Boolean]("ok"), ok.toString)
  }
}
