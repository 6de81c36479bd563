package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions.{col, length, size, sum}
import org.apache.spark.sql.types._

import graft.ops.{Bpe, Dedup, Sample, ShardWriter, TokenStream}
import graft.sources.CorpusIngest
import graft.store.{HDFStore, StoreMode}

/** `corpus_batch`: one timed pass of the training-data pipeline over a
  * seeded JSONL corpus with planted near-duplicate and exact-duplicate
  * clusters. Executor CPU and shuffle do the work here, not per-job
  * overhead. */
object CorpusBatch {
  /** Corpus documents per second of `--seconds`; the pass over the
    * corpus takes somewhat longer than `--seconds` on a 4-core host. */
  val DocsPerSecond = 1000
  val Words = 150
  val Merges = 200
  val CtxLen = 256
  val Setups = 3

  private val Schema = StructType(Seq(StructField("id", LongType, false),
    StructField("text", StringType, false)))

  /** Cluster check: every planted cluster is one cluster with exactly one
    * kept member, and nothing else merged (kept == originals). */
  def clusterProblem(labels: Map[Long, (Long, Boolean)], planted: Map[Long, Seq[Long]],
                     originals: Int): Option[String] = {
    val bad = planted.collectFirst {
      case (o, copies) if (o +: copies).map(i => labels(i)._1).distinct.size != 1 ||
          (o +: copies).count(i => labels(i)._2) != 1 => s"cluster of doc $o did not collapse"
    }
    val kept = labels.values.count(_._2)
    bad.orElse(if (kept == originals) None else Some(s"$kept docs kept, expected $originals"))
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val g = new Gen(ctx.seed)
    val n = DocsPerSecond * ctx.seconds
    val nExact = n / 50
    val nNear = n / 10
    val nOrig = n - nExact - nNear

    // input: originals, then near-copies and exact copies of random
    // originals, shuffled so copies sit far from their source
    val texts = mutable.ArrayBuffer.empty[String]
    (0 until nOrig).foreach(_ => texts += g.text(Words))
    val planted = mutable.HashMap.empty[Long, Vector[Long]]
    (0 until nNear + nExact).foreach { i =>
      val src = g.rng.nextInt(nOrig)
      texts += (if (i < nNear) g.nearCopy(texts(src)) else texts(src))
      planted(src.toLong) = planted.getOrElse(src.toLong, Vector.empty) :+ (nOrig + i).toLong
    }
    val order = Shuffle(texts.indices, g.rng)
    val input = ctx.path("input/corpus")
    new java.io.File(input).mkdirs()
    order.grouped((n + 3) / 4).zipWithIndex.foreach { case (ids, f) =>
      val w = new java.io.PrintWriter(s"$input/part-$f.jsonl", "UTF-8")
      try ids.foreach(i => w.println(s"""{"id":$i,"text":"${texts(i)}"}""")) finally w.close()
    }

    ctx.log("inputs ready")
    // set-up: a fresh store; the pass itself is the timed phase
    val setups = (1 to Setups).map { k =>
      val t = System.nanoTime()
      val st = HDFStore.open(spark, ctx.path(s"store-$k"), StoreMode.Overwrite)
      ((System.nanoTime() - t) / 1e9, st)
    }
    val st = setups.last._2
    val shards = ctx.path("shards")

    // the six stage calls are this workload's operations: the four that
    // persist nothing count as reads, the two that write as writes
    val v0 = st.version
    val t0 = System.nanoTime()
    val ingested = ctx.stage("read", "corpusingest.read_jsonl") {
      CorpusIngest.readJsonl(spark, input, idField = Some("id"), schema = Some(Schema))
        .localCheckpoint(true)
    }
    ctx.stage("write", "store.put") { st.put("corpus", ingested) }
    val corpus = st.table("corpus").dataDf
    val groups = ctx.stage("read", "dedup.near_dup_keep_best") {
      Dedup.nearDupKeepBest(corpus, "doc_id", "text", length(col("text"))).localCheckpoint(true)
    }
    val kept = corpus.join(groups.filter(col("keep")).select("doc_id"), "doc_id")
    val model = ctx.stage("read", "bpe.learn") { Bpe.learnBpe(kept, "text", Merges) }
    val encoded = ctx.stage("read", "bpe.encode_ids") {
      Bpe.encodeIds(kept, "doc_id", "text", model).localCheckpoint(true)
    }
    ctx.stage("write", "tokenstream.write_context_shards") {
      val ranked = Sample.shuffleRank(encoded, "doc_id", salt = "perfbench", buckets = 8)
      TokenStream.writeContextShards(ranked, "shuffle_pos", "token_ids", CtxLen,
        numShards = 2, path = shards, salt = "perfbench", buckets = 8)
    }
    val timed = (System.nanoTime() - t0) / 1e9
    ctx.log("pass done")

    val labels = groups.select("doc_id", "cluster", "keep").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    val plantedMap = planted.toMap
    ctx.check("planted duplicate clusters collapse") { clusterProblem(labels, plantedMap, nOrig) }
    val audit = ShardWriter.verifyShards(spark, shards).head()
    ctx.check("shard tree verifies") {
      if (audit.getAs[Boolean]("ok")) None else Some(s"verifyShards: $audit")
    }
    ctx.check("tokens are conserved into windows") {
      // full windows only: the partial tail window is dropped by design
      val total = encoded.agg(sum(size(col("token_ids")))).head().getLong(0)
      val windows = total / CtxLen
      val (tok, win) = (audit.getAs[Long]("tree_tokens"), audit.getAs[Long]("tree_docs"))
      if (tok != windows * CtxLen) Some(s"$tok tokens in windows, expected ${windows * CtxLen} of $total")
      else if (win != windows) Some(s"$win windows, expected $windows")
      else None
    }
    ctx.check("self-test") {
      val copies = plantedMap.head._2
      val wrong = labels.updated(copies.head, (copies.head, true))
      if (clusterProblem(wrong, plantedMap, nOrig).isDefined) None
      else Some("a split cluster was not counted")
    }

    ctx.log("checks done")
    val commits = st.version - v0
    val before = Disk.bytes(spark, st.root)
    st.vacuum(0)
    val after = Disk.bytes(spark, st.root)
    val bytes = after + Disk.bytes(spark, shards)
    Outcome(setups.map(_._1), timed, n.toLong, bytes, n.toLong,
      Map("store.commits" -> commits.toDouble,
        "store.segments_end" -> st.segmentCount("corpus").toDouble,
        "store.files_end" -> Disk.parquetFiles(spark, st.root).toDouble,
        "store.unvacuumed_bytes" -> (before - after).toDouble))
  }
}
