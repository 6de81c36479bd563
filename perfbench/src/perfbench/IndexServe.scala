package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.ops.{DedupIndex, IndexMaintenance, Similarity, TextIndex}
import graft.store.{HDFStore, StoreMode}
import graft.streaming.EventStream

/** `index_serve`: probe sessions against persisted text, IVF and dedup
  * indexes while a streaming sink, vector appends, deletes and
  * compactions change them — 80% probes, 20% writes, one closed-loop
  * client. */
object IndexServe {
  val Docs = 2000
  val Words = 80
  val Dim = 64
  val Lists = 16
  val Batch = 500
  val NeedleBase = 900000000L
  val IngestBase = 1000000000L
  val VecBase = 2000000000L
  val ProbeBase = 3000000000L

  /** One round of the op script: 5 probes (BM25 the majority, so the
    * probe p50 falls inside one op type) and the 4 write types. The type
    * order is fixed; the seed drives the data and every op's arguments. */
  val Script: Seq[String] = Seq("ingest", "bm25", "delete", "ivf", "compact", "bm25",
    "dedup", "append_ivf", "bm25")

  private val DocSchema = StructType(Seq(StructField("id", LongType, false),
    StructField("text", StringType, false)))
  private val VecSchema = StructType(Seq(StructField("id", LongType, false),
    StructField("vec", ArrayType(FloatType, false), false)))

  def needleText(id: Long, g: Gen): String =
    s"needle${id}a ${g.text(Words / 2)} needle${id}b ${g.text(Words / 2)}"
  def needleQuery(id: Long): String = s"needle${id}a needle${id}b w0 w3 w7"

  def docsDf(spark: SparkSession, rows: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (i, t) => Row(i, t) }, 1), DocSchema)
  def vecDf(spark: SparkSession, rows: Seq[(Long, Array[Float])], parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (i, v) => Row(i, v.toSeq) }, parts), VecSchema)

  /** BM25 answer check: the planted needle first, no deleted id anywhere. */
  def bm25Problem(got: Seq[Long], needle: Long, deleted: collection.Set[Long]): Option[String] =
    if (got.headOption != Some(needle)) Some(s"needle $needle ranked ${got.indexOf(needle)}: top is ${got.headOption}")
    else got.find(deleted).map(d => s"deleted id $d returned")

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val g = new Gen(ctx.seed)
    val needles0 = (0 until 20).map(i => NeedleBase + i)

    // inputs: base docs (with planted needles) and their vectors
    val base: Seq[(Long, String)] = (0 until Docs).map(i => (i.toLong, g.text(Words))) ++
      needles0.map(n => (n, needleText(n, g)))
    val vecs = mutable.LinkedHashMap.empty[Long, Array[Float]]
    base.foreach { case (i, _) => vecs(i) = g.unitVec(Dim) }
    val inDocs = ctx.path("input/docs")
    val inVecs = ctx.path("input/vecs")
    docsDf(spark, base).repartition(ctx.cores).write.parquet(inDocs)
    vecDf(spark, vecs.toSeq, ctx.cores).write.parquet(inVecs)
    val textById = base.toMap

    final case class Env(st: HDFStore, text: String, ivf: String, dedup: String)
    def setup(root: String): Env = {
      val st = HDFStore.open(spark, s"$root/store", StoreMode.Overwrite)
      st.put("docs", spark.read.parquet(inDocs))
      val docs = st.table("docs").dataDf
      TextIndex.buildTextIndex(docs, "id", "text", s"$root/text", nBuckets = 16)
      val v = spark.read.parquet(inVecs)
      val cb = Similarity.kmeansCodebook(v, "id", "vec", k = Lists, iters = 1)
      Similarity.buildIvfIndex(v, "id", "vec", cb, s"$root/ivf")
      DedupIndex.buildDedupIndex(docs, "id", "text", s"$root/dedup")
      Env(st, s"$root/text", s"$root/ivf", s"$root/dedup")
    }
    // one set-up per run: it costs 15-25 s, the bulk of the run's budget
    ctx.log("inputs ready")
    val root = ctx.path("idx")
    val t = System.nanoTime()
    val env = setup(root)
    val setupS = (System.nanoTime() - t) / 1e9
    ctx.log("setup done")

    val needles = mutable.ArrayBuffer.from(needles0)
    val deleted = mutable.HashSet.empty[Long]
    val deletable = mutable.ArrayBuffer.from(Shuffle((0 until Docs).map(_.toLong), ctx.rng))
    var nextIngest = IngestBase
    var nextVec = VecBase
    var nextProbe = ProbeBase
    var batches = 0
    val rng = ctx.rng
    val inStream = ctx.path("stream/in")
    val ckpt = ctx.path("stream/ckpt")
    new java.io.File(inStream).mkdirs()
    def liveVec(): Long = {
      var id = 0L
      do id = vecs.keysIterator.drop(rng.nextInt(vecs.size)).next() while (deleted(id))
      id
    }
    // one new parquet file in the stream's input directory (pinned mtime
    // order, the file source's processing order); returns its needle id
    def stageBatch(): Long = {
      val ids = (0 until Batch).map(i => nextIngest + i); nextIngest += Batch
      val needle = ids.last
      val rows = ids.init.map(i => (i, g.text(Words))) :+ ((needle, needleText(needle, g)))
      val stage = ctx.path(s"stream/stage$batches")
      docsDf(spark, rows).write.parquet(stage)
      val part = new java.io.File(stage).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dest = new java.io.File(inStream, f"b$batches%05d.parquet")
      java.nio.file.Files.move(part.toPath, dest.toPath)
      dest.setLastModified(1700000000000L + batches * 60000L)
      batches += 1
      needle
    }

    val v0 = env.st.version
    val timed = ctx.rounds(Script) {
      case "bm25" =>
        val n = needles(rng.nextInt(needles.size))
        ctx.op("read", "textindex.bm25") {
          TextIndex.searchIndexBM25(spark, env.text, needleQuery(n), 10).collect().map(_.getLong(0)).toSeq
        }(bm25Problem(_, n, deleted))
      case "ivf" =>
        val id = liveVec()
        ctx.op("read", "similarity.ivf_topk") {
          Similarity.ivfTopKIndexed(spark, env.ivf, vecs(id).toSeq, 10, nprobe = 2)
            .collect().map(_.getLong(0)).toSeq
        } { got =>
          if (got.headOption != Some(id)) Some(s"vector $id is not its own top-1 (got ${got.headOption})")
          else got.find(deleted).map(d => s"deleted id $d returned")
        }
      case "dedup" =>
        val src = rng.nextInt(Docs).toLong
        val copyId = nextProbe
        val fresh = (1 until 100).map(i => (nextProbe + i, g.text(Words)))
        nextProbe += 100
        val batch = (copyId, g.nearCopy(textById(src))) +: fresh
        ctx.op("read", "dedupindex.dedup_against") {
          DedupIndex.dedupAgainstIndex(spark, env.dedup, docsDf(spark, batch), "id", "text")
            .select("id").collect().map(_.getLong(0)).toSet
        } { kept =>
          if (kept(copyId)) Some(s"near-copy $copyId of doc $src not flagged")
          else fresh.map(_._1).find(!kept(_)).map(i => s"fresh doc $i flagged as a duplicate")
        }
      case "ingest" =>
        val needle = stageBatch()
        ctx.op("write", "streaming.text_ingest") {
          val stream = spark.readStream.schema(DocSchema).option("maxFilesPerTrigger", 1)
            .parquet(inStream)
          EventStream.textIndexIngestSink(stream, env.st, "docs", ckpt, env.text, "id", "text",
            trigger = Trigger.AvailableNow()).awaitTermination()
        }(_ => None)
        needles += needle
      case "append_ivf" =>
        val add = (0 until Batch).map(i => (nextVec + i, g.unitVec(Dim)))
        nextVec += Batch
        ctx.op("write", "similarity.append_ivf") {
          Similarity.appendIvfIndex(vecDf(spark, add, 1), "id", "vec", env.ivf)
        }(_ => None)
        add.foreach { case (i, v) => vecs(i) = v }
      case "delete" =>
        val ids = (0 until 20).map(_ => deletable.remove(deletable.size - 1))
        ctx.op("write", "indexmaintenance.delete") {
          IndexMaintenance.deleteFromTextIndex(spark, env.text, ids)
          IndexMaintenance.deleteFromIvfIndex(spark, env.ivf, ids)
        }(_ => None)
        deleted ++= ids
      case "compact" =>
        ctx.op("write", "indexmaintenance.compact") {
          IndexMaintenance.compactIfOverdue(spark, env.text, maxTombstoneBytes = 0L)
        }(_ => None)
    }
    ctx.log(s"timed phase done: ${ctx.ops.size} ops")

    ctx.check("every needle still ranks first") {
      val qs = needles.map(needleQuery).toSeq
      val top = TextIndex.searchBM25Batch(spark, env.text, qs, 1).collect()
        .map(r => r.getAs[Number](0).intValue -> r.getLong(1)).toMap
      needles.zipWithIndex.collectFirst {
        case (n, i) if !top.get(i).contains(n) => s"needle $n: top is ${top.get(i)}"
      }
    }
    ctx.check("store holds every ingested doc") {
      val want = Docs + needles0.size + batches * Batch
      val got = env.st.table("docs").nrows
      if (got == want) None else Some(s"$got rows, expected $want")
    }
    ctx.check("self-test") {
      val wrong = bm25Problem(Seq(needles.head + 1, needles.head), needles.head, deleted)
      if (wrong.isDefined) None else Some("a wrong ranking was not counted")
    }

    ctx.log("checks done")
    val health = IndexMaintenance.indexHealth(spark, env.text).head()
    val commits = env.st.version - v0
    val segments = env.st.segmentCount("docs")
    val before = Disk.bytes(spark, root)
    env.st.vacuum(0)
    val after = Disk.bytes(spark, root)
    Outcome(Seq(setupS), timed, 0L, after, env.st.table("docs").nrows,
      Map("store.commits" -> commits.toDouble, "store.segments_end" -> segments.toDouble,
        "store.files_end" -> Disk.parquetFiles(spark, env.st.root).toDouble,
        "store.unvacuumed_bytes" -> (before - after).toDouble,
        "textindex.tombstones_end" -> health.getAs[Long]("n_tombstones").toDouble))
  }
}
