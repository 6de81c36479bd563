package graft

import graft.ops.{DedupIndex, IndexIds, IndexMaintenance, Quantize, Similarity, TextIndex}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The shared index lifecycle (delete, compact, stamp, freshness,
  * re-append) run table-driven over all five persisted-index families,
  * plus the driver-direct health and tombstone-valve contracts. */
class IndexLifecycleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import TestSpark.spark.implicits._

  private val words = Seq("alpha", "bravo", "charlie", "delta", "echo",
    "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima", "mike",
    "november", "oscar", "papa", "quebec", "romeo", "sierra", "tango")

  private def text(i: Int): String =
    (0 until 9).map(j => words((i * 7 + j * j * 3 + j) % words.size)).mkString(" ")

  private lazy val docs: DataFrame =
    (0 until 40).map(i => (i.toLong, text(i))).toDF("doc_id", "text")

  private def vec(i: Int): Seq[Float] =
    (0 until 8).map(j => math.sin(i * 31 + j * 7).toFloat)

  private lazy val vecs: DataFrame =
    (0 until 40).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")

  private lazy val ivfCb = Similarity.kmeansCodebook(vecs, "vec_id", "embedding",
    k = 4, iters = 1)
  private lazy val pqCbs = Quantize.pqCodebooks(vecs, "vec_id", "embedding",
    m = 4, ksub = 4, iters = 1)

  /** One family: its build/append/delete/compact/freshness entry points,
    * a probe, and the exact column list of every sidecar it keeps. */
  private case class Family(name: String, src: () => DataFrame, idCol: String,
                            build: (DataFrame, String) => Unit,
                            append: (DataFrame, String) => Unit,
                            delete: (String, Seq[Long]) => Unit,
                            compact: String => Unit,
                            fresh: (String, DataFrame) => Unit,
                            probe: String => Seq[Any],
                            sidecars: Map[String, Seq[String]])

  private val bloomCols = Seq("bloom", "expected", "fpp", "n_ids")

  private def families: Seq[Family] = Seq(
    Family("text", () => docs, "doc_id",
      (df, p) => TextIndex.buildTextIndex(df, "doc_id", "text", p, nBuckets = 4),
      (df, p) => TextIndex.appendTextIndex(df, "doc_id", "text", p),
      (p, ids) => IndexMaintenance.deleteFromTextIndex(spark, p, ids),
      p => IndexMaintenance.compactTextIndex(spark, p),
      (p, df) => TextIndex.requireTextIndexFresh(spark, p, df, "doc_id"),
      p => TextIndex.searchIndex(spark, p, text(3), 40).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq,
      Map("_meta" -> Seq("n_buckets", "n_rows", "id_hash_sum", "total_tokens"))),
    Family("ivf", () => vecs, "vec_id",
      (df, p) => Similarity.buildIvfIndex(df, "vec_id", "embedding", ivfCb, p),
      (df, p) => Similarity.appendIvfIndex(df, "vec_id", "embedding", p),
      (p, ids) => IndexMaintenance.deleteFromIvfIndex(spark, p, ids),
      p => IndexMaintenance.compactIvfIndex(spark, p),
      (p, df) => Similarity.requireIvfFresh(spark, p, df, "vec_id"),
      p => Similarity.ivfTopKIndexed(spark, p, vec(3), 10, 2).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq,
      Map("_codebook" -> Seq("j", "centroid", "n_rows", "id_hash_sum"))),
    Family("pq", () => vecs, "vec_id",
      (df, p) => Quantize.buildPqIndex(df, "vec_id", "embedding", pqCbs, p),
      (df, p) => Quantize.appendPqIndex(df, "vec_id", "embedding", p),
      (p, ids) => IndexMaintenance.deleteFromPqIndex(spark, p, ids),
      p => IndexMaintenance.compactPqIndex(spark, p),
      (p, df) => Quantize.requirePqFresh(spark, p, df, "vec_id"),
      p => Quantize.pqTopKIndexed(spark, p, vec(3), 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq,
      Map("_codebook" -> Seq("s", "j", "codeword", "n_rows", "id_hash_sum"))),
    Family("ivfpq", () => vecs, "vec_id",
      (df, p) => Quantize.buildIvfPqIndex(df, "vec_id", "embedding", ivfCb,
        pqCbs, p),
      (df, p) => Quantize.appendIvfPqIndex(df, "vec_id", "embedding", p),
      (p, ids) => IndexMaintenance.deleteFromIvfPqIndex(spark, p, ids),
      p => IndexMaintenance.compactIvfPqIndex(spark, p),
      (p, df) => Quantize.requireIvfPqFresh(spark, p, df, "vec_id"),
      p => Quantize.ivfPqTopKIndexed(spark, p, vec(3), 10, 2).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq,
      Map("_coarse" -> Seq("j", "centroid", "n_rows", "id_hash_sum"),
        "_pqcb" -> Seq("s", "j", "codeword"))),
    Family("dedup", () => docs, "doc_id",
      (df, p) => DedupIndex.buildDedupIndex(df, "doc_id", "text", p),
      (df, p) => DedupIndex.appendDedupIndex(df, "doc_id", "text", p),
      (p, ids) => IndexMaintenance.deleteFromDedupIndex(spark, p, ids),
      p => IndexMaintenance.compactDedupIndex(spark, p),
      (p, df) => DedupIndex.requireDedupIndexFresh(spark, p, df, "doc_id"),
      p => DedupIndex.pairsAgainstIndex(spark, p,
          Seq((100L, text(3)), (101L, text(10))).toDF("doc_id", "text"),
          "doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
        .sortBy(r => (r._1, r._2)),
      Map("_meta" -> Seq("n", "num_hashes", "bands", "n_rows", "id_hash_sum")))
  )

  private def columns(dir: String): Option[Seq[String]] =
    graft.store.MetaIO.columnsOf(spark.sparkContext.hadoopConfiguration, dir)

  families.foreach { f =>
    test(s"index lifecycle [${f.name}]: delete refusals, fresh, compact, re-append, sidecar formats") {
      val victims = Seq(3L, 7L)
      val src = f.src()
      val live = src.filter(!col(f.idCol).isin(victims: _*))
      val path = TestSpark.tmpDir(s"life-${f.name}") + "/idx"
      val clean = TestSpark.tmpDir(s"life-${f.name}-clean") + "/idx"
      f.build(src, path)
      f.build(live, clean)
      def sidecarsPinned(): Unit =
        (f.sidecars + ("_idbloom" -> bloomCols)).foreach { case (s, cols) =>
          assert(columns(s"$path/$s").contains(cols), s"${f.name} $s")
        }
      sidecarsPinned()
      val full = f.probe(path)
      assert(full != f.probe(clean), s"${f.name}: the probe must see a victim")
      // an absent id is refused, and nothing is written
      val absent = intercept[IllegalArgumentException](f.delete(path, Seq(999L)))
      assert(absent.getMessage.contains("not indexed"), absent.getMessage)
      assert(!new java.io.File(s"$path/_tombstones").exists())
      f.delete(path, victims)
      assert(columns(s"$path/_tombstones").contains(Seq("id")))
      sidecarsPinned()
      val deleted = f.probe(path)
      assert(deleted == f.probe(clean), s"${f.name}: delete == never indexed")
      val twice = intercept[IllegalArgumentException](f.delete(path, Seq(3L)))
      assert(twice.getMessage.contains("already deleted"), twice.getMessage)
      f.fresh(path, live)
      intercept[IllegalStateException](f.fresh(path, src))
      f.compact(path)
      assert(!new java.io.File(s"$path/_tombstones").exists())
      assert(f.probe(path) == deleted, s"${f.name}: compaction is invisible")
      f.fresh(path, live)
      sidecarsPinned()
      // a purged id can be appended again
      f.append(src.filter(col(f.idCol).isin(victims: _*)), path)
      f.fresh(path, src)
      assert(f.probe(path) == full, s"${f.name}: re-append restores the probe")
      sidecarsPinned()
    }
  }

  /** Jobs started while `body` runs. Listener delivery is asynchronous,
    * so the window is fenced by two marker jobs: counting starts once
    * the first marker is seen and stops at the second. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val marker = s"lifecycle-fence-${java.util.UUID.randomUUID()}"
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

  test("indexHealth runs no Spark job: tombstones counted from parquet footers") {
    val path = TestSpark.tmpDir("health-jobs") + "/ti"
    TextIndex.buildTextIndex(docs, "doc_id", "text", path, nBuckets = 4)
    IndexMaintenance.deleteFromTextIndex(spark, path, Seq(3L, 7L))
    IndexMaintenance.deleteFromTextIndex(spark, path, Seq(9L))
    val expected = spark.read.parquet(s"$path/_tombstones").count()
    assert(expected == 3L)
    val (rows, jobs) = jobsDuring(IndexMaintenance.indexHealth(spark, path).collect())
    assert(jobs == 0, s"indexHealth fired $jobs Spark job(s)")
    assert(rows(0).getAs[Long]("n_tombstones") == expected)
    // the fence itself is sound: a real job inside the window is counted
    assert(jobsDuring(spark.range(3).count())._2 >= 1)
  }

  test("tombstone valve: a sidecar past the id cap plans the anti-join even under the byte cap") {
    val path = TestSpark.tmpDir("tomb-cap") + "/ti"
    TextIndex.buildTextIndex(docs, "doc_id", "text", path, nBuckets = 4)
    // written directly: sorted ids compress far below the byte valve,
    // so only the id count can route this set away from the InSet filter
    spark.range(0L, 250001L).select(col("id")).coalesce(1)
      .write.parquet(s"$path/_tombstones")
    val dir = new org.apache.hadoop.fs.Path(s"$path/_tombstones")
    val bytes = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(dir).getLength
    assert(bytes <= 4L * 1024 * 1024, s"premise: $bytes bytes under the byte valve")
    val probe = IndexMaintenance.minusTombstones(spark, path,
      spark.read.parquet(path), "id")
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("Join") && !plan.contains("INSET"), plan.take(2000))
    assert(probe.count() == 0L) // every indexed id (0..39) is tombstoned
  }

  test("append guard: a skipIdCheck batch repeating 10 ids over 100,001+ rows grows bloom_ids by 10") {
    val path = TestSpark.tmpDir("merge-distinct") + "/ivf"
    Similarity.buildIvfIndex(vecs, "vec_id", "embedding", ivfCb, path)
    val before = IndexIds.loadStats(spark, path).get.nIds
    val batch = spark.range(0L, 100010L)
      .select((lit(1000L) + col("id") % 10).as("vec_id"),
        typedLit(vec(1)).as("embedding"))
    Similarity.appendIvfIndex(batch, "vec_id", "embedding", path,
      skipIdCheck = true)
    val h = IndexMaintenance.indexHealth(spark, path).collect()(0)
    assert(h.getAs[Long]("bloom_ids") == before + 10L)
    val ib = IndexIds.load(spark, path).get
    assert((1000L until 1010L).forall(ib.bloom.mightContainLong))
  }
}
