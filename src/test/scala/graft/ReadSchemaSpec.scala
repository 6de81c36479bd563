package graft

import graft.ndarray.NDArray
import graft.ops.{DedupIndex, IndexMaintenance, Quantize, Similarity, TextIndex}
import graft.store.{HDFStore, StoreMode}
import graft.table.HDFTable
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Reads plan from metadata the store already holds: table segments are
  * read with the catalog schema, index trees with the schema of one of
  * their own footers. Each must be exactly the schema Spark would infer,
  * and a positional read or index probe must run only its data jobs. */
class ReadSchemaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import TestSpark.spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration

  /** Names and types, in order — nullability is Spark's (file reads are
    * always nullable), so the full `StructType` must match as well. */
  private def assertSameSchema(ours: StructType, inferred: StructType,
                               what: String): Unit = {
    assert(ours.fields.map(f => (f.name, f.dataType)).toSeq ==
      inferred.fields.map(f => (f.name, f.dataType)).toSeq,
      s"$what: read schema $ours vs inferred $inferred")
    assert(ours == inferred, s"$what: $ours vs $inferred")
  }

  /** Every live segment run of `t` read with the catalog schema equals
    * the schema inference gives the same path. */
  private def checkSegments(st: HDFStore, t: HDFTable, step: String): Unit = {
    val segs = t.meta.segments
    assert(segs.nonEmpty, step)
    val inferred = segs.map { seg =>
      val p = new Path(st.rootPath, seg.dir).toString
      val s = spark.read.parquet(p).schema
      assertSameSchema(spark.read.schema(t.readSchema).parquet(p).schema, s,
        s"$step: ${seg.dir}")
      s
    }
    assert(t.df.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      inferred.head.fields.map(f => (f.name, f.dataType)).toSeq, s"$step: df")
    assert(t.df.count() == t.nrows, step)
  }

  private def rows(from: Int, n: Int): DataFrame =
    (from until from + n).map(i => (i.toLong, i * 0.5, s"s$i", Seq(s"t$i", "x")))
      .toDF("k", "v", "s", "tags")

  test("table read schema == inferred segment schema after every write path") {
    val st = HDFStore.open(spark, TestSpark.tmpDir("rs-table"), StoreMode.Overwrite)
    st.put("t", rows(0, 40), chunkSize = Some(10L))
    val t = st.table("t")
    checkSegments(st, t, "put")
    // columns out of order and an Int key: the append casts to the
    // table schema, so the new segment keeps the catalog layout
    t.append(rows(40, 5).select(col("tags"), col("s"), col("k").cast("int").as("k"),
      col("v")))
    checkSegments(st, t, "append")
    t.update(3, rows(100, 4).drop("k").withColumn("k", lit(7L)))
    checkSegments(st, t, "update")
    t.insert(12, rows(200, 3))
    checkSegments(st, t, "insert")
    t.delete(5, 8)
    checkSegments(st, t, "delete")
    t.writeHyperslab(0, 3, 4, 1,
      rows(300, 3).withColumn("pos", col("k") - 300).withColumn("k", col("k").cast("int")))
    checkSegments(st, t, "writeHyperslab")
    t.compactSmallRuns(1000L)
    checkSegments(st, t, "compactSmallRuns")
    (0 until 33).foreach(i => t.append(rows(1000 + i, 1)))
    assert(t.meta.segments.size > 32)
    checkSegments(st, t, "past 32 segments (multi-path read)")
    val last = t.point(t.nrows - 1).collect()
    assert(last.length == 1 && last(0).getAs[Long]("k") == 1032L)
    t.compactSmallRuns(1000L)
    checkSegments(st, t, "compactSmallRuns of the multi-path group")

    // a non-null-element array column takes rows whose elements may be
    // null: the write keeps the type and leaves nullability to the rows
    st.put("u", Seq((0L, Array(1, 2)), (1L, Array(3)), (2L, Array(4, 5))).toDF("k", "a"))
    val u = st.table("u")
    u.update(1, Seq((9L, Seq(Option(7), None))).toDF("k", "a"))
    checkSegments(st, u, "update with nullable array elements")
    assert(u.point(1).collect()(0).getList[Any](1).toArray.toSeq == Seq(7, null))

    val cells = for (i <- 0L until 4L; j <- 0L until 5L) yield (i, j, (i * 5 + j).toDouble)
    val nd = NDArray.create(st, "a", cells.toDF("i0", "i1", "value"), Seq(4L, 5L), Seq(-1L, 5L))
    checkSegments(st, nd.table, "ndarray create")
    nd.writeHyperslab(Seq(0L, 1L), Seq(2L, 2L), Seq(2L, 2L), Seq(1L, 1L),
      Seq(-1.0, -2.0, -3.0, -4.0))
    checkSegments(st, nd.table, "ndarray writeHyperslab")
    nd.add((0L until 5L).map(j => (4L, j, 9.0)).toDF("i0", "i1", "value"), 1L)
    checkSegments(st, nd.table, "ndarray add")
    nd.resize(Seq(6L, 5L))
    checkSegments(st, nd.table, "ndarray resize")
    st.close()
  }

  private val words = Seq("alpha", "bravo", "charlie", "delta", "echo",
    "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima")

  private def text(i: Int): String =
    (0 until 7).map(j => words((i * 5 + j * j + j) % words.size)).mkString(" ")

  private lazy val docs: DataFrame =
    (0 until 30).map(i => (i.toLong, if (i == 29) "   " else text(i)))
      .toDF("doc_id", "text")

  private def vec(i: Int): Seq[Float] = (0 until 8).map(j => math.cos(i * 17 + j * 3).toFloat)

  private lazy val vecs: DataFrame =
    (0 until 30).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")

  private lazy val ivfCb = Similarity.kmeansCodebook(vecs, "vec_id", "embedding",
    k = 3, iters = 1)
  private lazy val pqCbs = Quantize.pqCodebooks(vecs, "vec_id", "embedding",
    m = 4, ksub = 4, iters = 1)

  /** Every parquet directory of an index tree: the root when it holds
    * data files or partition directories, the data subtrees and every
    * sidecar. */
  private def treeDirs(root: String): Seq[String] = {
    val fs = new Path(root).getFileSystem(conf)
    val kids = fs.listStatus(new Path(root)).filter(_.isDirectory).map(_.getPath.getName)
    val rootData = fs.listStatus(new Path(root)).exists { s =>
      val n = s.getPath.getName
      n.contains("=") || (s.isFile && !n.startsWith("_") && !n.startsWith("."))
    }
    (if (rootData) Seq(root) else Nil) ++
      kids.filterNot(_.contains("=")).sorted.map(k => s"$root/$k")
  }

  test("index trees: every data subtree and sidecar read has the inferred schema") {
    val base = TestSpark.tmpDir("rs-index")
    val trees: Seq[(String, String => Unit, String => Unit, Seq[String])] = Seq(
      ("text",
        p => TextIndex.buildTextIndex(docs, "doc_id", "text", p, nBuckets = 4),
        p => IndexMaintenance.deleteFromTextIndex(spark, p, Seq(2L, 29L)),
        Seq("", "_tombstones", "_tokenfree", "_meta", "_idbloom")),
      ("ivf",
        p => Similarity.buildIvfIndex(vecs, "vec_id", "embedding", ivfCb, p),
        p => IndexMaintenance.deleteFromIvfIndex(spark, p, Seq(2L)),
        Seq("", "_tombstones", "_codebook", "_idbloom")),
      ("pq",
        p => Quantize.buildPqIndex(vecs, "vec_id", "embedding", pqCbs, p),
        p => IndexMaintenance.deleteFromPqIndex(spark, p, Seq(2L)),
        Seq("", "_tombstones", "_codebook", "_idbloom")),
      ("ivfpq",
        p => Quantize.buildIvfPqIndex(vecs, "vec_id", "embedding", ivfCb, pqCbs, p),
        p => IndexMaintenance.deleteFromIvfPqIndex(spark, p, Seq(2L)),
        Seq("", "_tombstones", "_coarse", "_pqcb", "_idbloom")),
      ("dedup",
        p => DedupIndex.buildDedupIndex(docs, "doc_id", "text", p),
        p => IndexMaintenance.deleteFromDedupIndex(spark, p, Seq(2L)),
        Seq("sigs", "bands", "_tombstones", "_meta", "_idbloom")))
    trees.foreach { case (name, build, delete, expected) =>
      val p = s"$base/$name"
      build(p)
      delete(p)
      val dirs = treeDirs(p)
      expected.foreach { d =>
        assert(dirs.contains(if (d.isEmpty) p else s"$p/$d"), s"$name: no $d in $dirs")
      }
      dirs.foreach { d =>
        assertSameSchema(IndexMaintenance.readTree(spark, d).schema,
          spark.read.parquet(d).schema, s"$name ${d.stripPrefix(p)}")
      }
    }
  }

  test("a text tree written without positions is still refused by searchPhrase") {
    val base = TestSpark.tmpDir("rs-legacy")
    val built = s"$base/built"
    val legacy = s"$base/legacy"
    TextIndex.buildTextIndex(docs, "doc_id", "text", built, nBuckets = 4)
    spark.read.parquet(built).drop("positions")
      .write.partitionBy("bucket").parquet(legacy)
    val fs = new Path(base).getFileSystem(conf)
    assert(FileUtil.copy(fs, new Path(s"$built/_meta"), fs, new Path(s"$legacy/_meta"),
      false, conf))
    assert(!IndexMaintenance.readTree(spark, legacy).columns.contains("positions"))
    val e = intercept[IllegalStateException](
      TextIndex.searchPhrase(spark, legacy, "alpha bravo", 5))
    assert(e.getMessage == s"text index at $legacy predates positional postings " +
      "(no 'positions' column); rebuild with buildTextIndex to enable phrase probes")
    // the positional tree still serves the same probe
    TextIndex.searchPhrase(spark, built, "alpha bravo", 5).collect()
  }

  /** Jobs started while `body` runs, fenced by two marker jobs (listener
    * delivery is asynchronous). */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val marker = s"read-schema-fence-${java.util.UUID.randomUUID()}"
    val fences = new java.util.concurrent.atomic.AtomicInteger()
    val counted = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          fences.incrementAndGet()
        else if (fences.get() == 1) counted.incrementAndGet()
    }
    def fence(n: Int): Unit = {
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (fences.get() < n && System.nanoTime() < deadline) Thread.sleep(5)
      assert(fences.get() == n, "listener never saw the fence job")
    }
    sc.addSparkListener(listener)
    try {
      fence(1)
      val r = body
      fence(2)
      (r, counted.get())
    } finally sc.removeSparkListener(listener)
  }

  test("job counts: positional reads 1, BM25 3, IVF probe 1") {
    val st = HDFStore.open(spark, TestSpark.tmpDir("rs-jobs"), StoreMode.Overwrite)
    st.put("t", rows(0, 60), chunkSize = Some(20L))
    val t = st.table("t")
    t.append(rows(60, 40))
    assert(t.meta.segments.size >= 2)
    val (pt, pointJobs) = jobsDuring(t.point(42).collect())
    assert(pt.map(_.getAs[Long]("k")).toSeq == Seq(42L))
    assert(pointJobs == 1, s"point fired $pointJobs jobs")
    val (sl, sliceJobs) = jobsDuring(t.slice(55, 64).collect())
    assert(sl.map(_.getAs[Long]("k")).sorted.toSeq == (55L to 64L))
    assert(sliceJobs == 1, s"slice fired $sliceJobs jobs")
    val ids = (0L until 100L by 5L).toSeq
    assert(ids.size == 20)
    val (sel, selJobs) = jobsDuring(t.selectRows(ids).collect())
    assert(sel.map(_.getAs[Long]("k")).sorted.toSeq == ids)
    assert(selJobs == 1, s"selectRows fired $selJobs jobs")
    st.close()

    val base = TestSpark.tmpDir("rs-jobs-idx")
    TextIndex.buildTextIndex(docs, "doc_id", "text", s"$base/ti", nBuckets = 4)
    val (bm, bmJobs) = jobsDuring(
      TextIndex.searchIndexBM25(spark, s"$base/ti", "alpha delta golf", 5).collect())
    assert(bm.nonEmpty)
    assert(bmJobs == 3, s"searchIndexBM25 fired $bmJobs jobs")
    Similarity.buildIvfIndex(vecs, "vec_id", "embedding", ivfCb, s"$base/ivf")
    val (top, ivfJobs) = jobsDuring(
      Similarity.ivfTopKIndexed(spark, s"$base/ivf", vec(3), 5, 2).collect())
    assert(top.nonEmpty)
    assert(ivfJobs == 1, s"ivfTopKIndexed fired $ivfJobs jobs")
  }
}
