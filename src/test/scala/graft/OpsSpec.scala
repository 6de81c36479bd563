package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops._

/** Behavior tests for the LLM-pipeline operators (planted ground truth —
  * stronger than the determinism-only oracle checks). */
class OpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The `PartitionFilters: [...]` bracket of a physical plan string.
    * Pruning asserts must look INSIDE it — the label prints on every
    * partitioned-table scan (even `PartitionFilters: []`), and a failed
    * pushdown leaves the predicate in a post-scan Filter, so substring
    * checks over the whole plan cannot catch a pruning regression. */
  private def partitionFilters(plan: String): String =
    "PartitionFilters: \\[[^\\]]*\\]".r.findFirstIn(plan).getOrElse("")

  private def docsDf = Seq(
    (0L, "the quick brown fox jumps over the lazy dog and runs away fast"),
    (1L, "the quick brown fox jumps over the lazy dog and runs away quickly"), // near-dup of 0
    (2L, "completely different content about spark engines and parquet files"),
    (3L, "the quick brown fox jumps over the lazy dog and runs away fast"),    // exact dup of 0
    (4L, "der hund und die katze sind nicht ein problem und das ist gut"),
    (5L, "short text")
  ).toDF("doc_id", "text")

  test("exact dedup keeps min id per distinct text") {
    val out = Dedup.exact(docsDf, "doc_id", "text").orderBy("keep_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 4L, 5L)) // 3 collapses into 0
    assert(out.find(_.getLong(0) == 0L).get.getLong(1) == 2L)      // multiplicity 2
  }

  test("n-gram jaccard ranks the near-dup pair highest") {
    val pairs = Dedup.jaccardPairs(docsDf, "doc_id", "text", 3)
      .orderBy(col("jaccard").desc).collect()
    val top = pairs.head
    // (0,3) identical → jaccard 1.0; (0,1)/(1,3) near-dup next
    assert((top.getLong(0), top.getLong(1)) == (0L, 3L) && top.getDouble(2) == 1.0)
    val nd = pairs.filter(r => Set((0L, 1L), (1L, 3L))((r.getLong(0), r.getLong(1))))
    assert(nd.forall(_.getDouble(2) > 0.7))
  }

  test("minhash LSH finds exact+near dups, estimates agree with jaccard") {
    val pairs = Dedup.minhashPairs(docsDf, "doc_id", "text", 3, 32, 8)
      .filter(col("est_jaccard") >= 0.5).collect()
    val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.contains((0L, 3L)) && found.contains((0L, 1L)) && found.contains((1L, 3L)))
    assert(pairs.find(r => (r.getLong(0), r.getLong(1)) == (0L, 3L)).get.getDouble(2) == 1.0)
  }

  test("simhash: identical texts equal, near-dups close, unrelated far") {
    val h = Dedup.simhash(docsDf, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(0L) == h(3L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(0L), h(1L)) < 12)
    assert(ham(h(0L), h(2L)) > 15)
  }

  test("embedding near-dup via hyperplane LSH is scale-invariant") {
    val vecs = Seq(
      (0L, Array(1.0f, 2.0f, -1.0f, 0.5f)),
      (1L, Array(2.0f, 4.0f, -2.0f, 1.0f)),   // 2× vec 0 → cosine 1
      (2L, Array(-1.0f, 0.3f, 2.0f, -0.7f))
    ).toDF("vec_id", "embedding")
    val out = Dedup.embeddingNearDup(vecs, "vec_id", "embedding", planes = 8, minCosine = 0.99, dim = 4)
      .collect()
    assert(out.length == 1)
    assert((out(0).getLong(0), out(0).getLong(1)) == (0L, 1L))
    assert(math.abs(out(0).getDouble(2) - 1.0) < 1e-9)
  }

  test("embedding near-dup: malformed vectors are dropped in-scan, no bucket-0 pileup") {
    // a malformed MINORITY (wrong dim, null element, null vector) beyond
    // row 1 — the old one-row sample missed these; all would land in
    // bucket 0 and pair with each other O(m²)
    val rows: Seq[(Long, Seq[java.lang.Float])] = Seq(
      0L -> Seq[java.lang.Float](1.0f, 2.0f, -1.0f, 0.5f),
      1L -> Seq[java.lang.Float](2.0f, 4.0f, -2.0f, 1.0f),  // 2× vec 0 → cosine 1
      2L -> Seq[java.lang.Float](-1.0f, 0.3f, 2.0f, -0.7f),
      3L -> Seq[java.lang.Float](1.0f, 2.0f),                // wrong dim
      4L -> Seq[java.lang.Float](1.0f, 2.0f, null, 0.5f),    // null element
      5L -> null                                             // null vector
    )
    val vecs = rows.toDF("vec_id", "embedding")
    val out = Dedup.embeddingNearDup(vecs, "vec_id", "embedding",
      planes = 8, minCosine = 0.99, dim = 4).collect()
    // only the well-formed near-dup pair survives; no malformed id appears
    assert(out.length == 1)
    assert((out(0).getLong(0), out(0).getLong(1)) == (0L, 1L))
  }

  test("jaccard handle: close() frees the cached index blocks, result unaffected") {
    val (pairs, handle) = Dedup.jaccardPairsWithHandle(docsDf, "doc_id", "text", 3)
    val top = pairs.orderBy(col("jaccard").desc).collect()
    assert((top.head.getLong(0), top.head.getLong(1)) == (0L, 3L))
    val idx = handle.index.get
    assert(idx.storageLevel.useMemory, "index should be cached while the handle is open")
    handle.close()
    assert(idx.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "close() must unpersist the cached index")
    handle.close() // idempotent
    // the result stays recomputable after the cache is gone
    assert(pairs.count() == top.length.toLong)
  }

  test("nearDupGroups: whole-corpus labels, singletons self-labeled, keep == one per group") {
    val groups = Dedup.nearDupGroups(docsDf, "doc_id", "text", n = 3,
      numHashes = 32, bands = 8, minEstJaccard = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(groups.keySet == Set(0L, 1L, 2L, 3L, 4L, 5L))      // covers every input doc
    assert(groups(0L) == (0L, true) && groups(1L) == (0L, false) &&
      groups(3L) == (0L, false))                              // {0,1,3} one group, min kept
    assert(groups(2L) == (2L, true) && groups(4L) == (4L, true) &&
      groups(5L) == (5L, true))                               // singletons keep themselves
    // exactly one keeper per cluster label
    val byCluster = groups.values.groupBy(_._1)
    assert(byCluster.values.forall(_.count(_._2) == 1))
  }

  test("brute topK returns self first with score 1") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter($"vec_id" === 7).select("embedding").collect()(0).getSeq[Float](0)
    val top = Similarity.topK(emb, "vec_id", "embedding", q, 5).collect()
    assert(top.head.getLong(0) == 7L)
    assert(math.abs(top.head.getDouble(1) - 1.0) < 1e-12)
    // scores non-increasing
    val scores = top.map(_.getDouble(1)).toSeq
    assert(scores == scores.sorted.reverse)
  }

  test("ivf topK: query's own list is probed, self ranks first, recall vs brute") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter($"vec_id" === 0).select("embedding").collect()(0).getSeq[Float](0)
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", q, 10,
      nlist = 16, nprobe = 4).collect()
    assert(ivf.head.getLong(0) == 0L)                       // self is a centroid & best match
    assert(math.abs(ivf.head.getDouble(1) - 1.0) < 1e-9)
    val scores = ivf.map(_.getDouble(1)).toSeq
    assert(scores == scores.sorted.reverse)
    // every returned row sits in a probed list (≤ 4 distinct lists)
    assert(ivf.map(_.getLong(2)).distinct.length <= 4)
    // approximate recall: the IVF top-10 shares most of the brute top-10
    val brute = Similarity.topK(emb, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    assert(ivf.map(_.getLong(0)).count(brute) >= 5)
  }

  test("knnJoin: per-query self top-1, nprobe=nlist recovers brute force, single list per pair, guards") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 5)
    val out = Similarity.knnJoin(queries, "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 5, nlist = 16, nprobe = 4)
      .collect().groupBy(_.getLong(0))
    assert(out.keySet == Set(0L, 1L, 2L, 3L, 4L)) // every query answered
    out.foreach { case (qid, rows) =>
      val sorted = rows.sortBy(r => (-r.getDouble(2), r.getLong(1)))
      assert(sorted.head.getLong(1) == qid, s"query $qid must rank itself first")
      assert(math.abs(sorted.head.getDouble(2) - 1.0) < 1e-9)
      assert(rows.map(r => r.getLong(1)).distinct.length == rows.length,
        "a neighbor may appear at most once per query")
    }
    // nprobe = nlist probes every list -> per-query result == brute top-k
    val full = Similarity.knnJoin(queries, "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 5, nlist = 16, nprobe = 16)
      .collect().groupBy(_.getLong(0))
    (0L to 4L).foreach { qid =>
      val q = emb.filter($"vec_id" === qid).select("embedding")
        .collect()(0).getSeq[Float](0)
      val brute = Similarity.topK(emb, "vec_id", "embedding", q, 5,
        exactDecimal = true).collect().map(_.getLong(0)).toSeq
      val got = full(qid).sortBy(r => (-r.getDouble(2), r.getLong(1)))
        .map(_.getLong(1)).toSeq
      assert(got == brute, s"query $qid: all-list probe must equal brute force")
    }
    intercept[IllegalArgumentException] {
      Similarity.knnJoin(queries, "vec_id", "embedding", emb, "vec_id", "embedding",
        k = 0) }
    intercept[IllegalArgumentException] {
      Similarity.knnJoin(queries, "vec_id", "embedding", emb, "vec_id", "embedding",
        k = 5, nlist = 4, nprobe = 8) }
  }

  test("persisted IVF index: probed top-k equals assign-at-query-time ivfTopK, partitions pruned") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter($"vec_id" === 0).select("embedding").collect()(0).getSeq[Float](0)
    val cb = Similarity.kmeansCodebook(emb, "vec_id", "embedding", k = 4, iters = 1)
    val path = TestSpark.tmpDir("ivf-idx")
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", cb, path)
    val probe = Similarity.ivfTopKIndexed(spark, path, cb, q, 10, nprobe = 2)
    val indexed = probe.collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    val direct = Similarity.ivfTopK(emb, "vec_id", "embedding", q, 10,
        nprobe = 2, codebook = Some(cb)).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(indexed == direct)
    // the probe must hit the partition-pruning path: the list filter shows
    // up as a PartitionFilter on the scan, not a post-scan Filter
    val scan = probe.queryExecution.executedPlan.toString
    assert(partitionFilters(scan).contains("list"),
      s"expected the list predicate inside PartitionFilters, got:\n$scan")
    // the index is self-describing: probing by path alone (codebook read
    // from inside the index tree) returns the identical top-k
    assert(Similarity.loadIvfCodebook(spark, path) == cb)
    val selfDesc = Similarity.ivfTopKIndexed(spark, path, q, 10, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(selfDesc == direct)
  }

  test("curriculumRank: dense, stage blocks in order, within-stage == hash shuffle; guards") {
    val df = (0L until 500L).map(i => (i, if (i % 4 == 0) 1L else 0L))
      .toDF("id", "stage")
    val got = Sample.curriculumRank(df, "id", "stage", "cu", 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.map(_._3).sorted == (0L until 500L), "positions must be dense [0, N)")
    assert(got.filter(_._2 == 0L).map(_._3).max <
      got.filter(_._2 == 1L).map(_._3).min,
      "every stage-0 position must precede stage 1")
    // the exact permutation: (stage, key mod 8, key, id) replayed from
    // the engine's own hash
    val keys = df.select($"id", graft.functions.native.hash60(
        concat(lit("curriculum:cu:"), $"id".cast("string"))).as("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val expected = got.map(t => (t._1, t._2))
      .sortBy { case (id, st) => (st, keys(id) % 8, keys(id), id) }
      .zipWithIndex.map { case ((id, _), p) => (id, p.toLong) }.toMap
    got.foreach { case (id, _, pos) =>
      assert(pos == expected(id), s"id $id at $pos, want ${expected(id)}") }
    // a NULL stage refuses loudly; so does an out-of-cap cell table
    val bad = intercept[Exception] {
      Sample.curriculumRank(
        df.withColumn("stage", when($"id" === 3L, lit(null)).otherwise($"stage")),
        "id", "stage", "cu", 8).collect() }
    assert(bad.getMessage.contains("must be non-null and numeric"))
    intercept[IllegalArgumentException] {
      Sample.curriculumRank(df, "id", "stage", "cu", 0) }
  }

  test("selectByFraction: equals the exact single-window cut across modes; guards") {
    val rng = new scala.util.Random(42)
    val rows = (0 until 5).flatMap { g =>
      (0 until 50 + rng.nextInt(200)).map { i =>
        (g.toLong * 1000 + i, s"g$g", rng.nextInt(100).toLong,
          1L + rng.nextInt(50).toLong) } }
    val df = rows.toDF("id", "grp", "score", "toks")
    for ((ppm, tokMode) <- Seq((250000L, false), (600000L, true),
        (0L, true), (1000000L, false), (999999L, true))) {
      val got = Sample.selectByFraction(df, "grp", "id", "score", ppm,
          if (tokMode) Some("toks") else None).collect()
        .map(r => (r.getLong(0), r.getLong(4), r.getLong(5), r.getLong(6)))
        .sortBy(_._1).toSeq
      val exact = rows.groupBy(_._2).toSeq.flatMap { case (_, rs) =>
        def mass(r: (Long, String, Long, Long)) = if (tokMode) r._4 else 1L
        val budget = rs.map(mass).sum * ppm / 1000000
        var cum = 0L
        rs.sortBy(r => (-r._3, r._1)).zipWithIndex.flatMap { case (r, i) =>
          cum += mass(r)
          if (cum <= budget) Some((r._1, (i + 1).toLong, cum, budget))
          else None
        }
      }.sortBy(_._1)
      assert(got == exact, s"ppm=$ppm tokMode=$tokMode: " +
        s"${got.size} kept vs exact ${exact.size}")
    }
    intercept[IllegalArgumentException] {
      Sample.selectByFraction(df, "grp", "id", "score", 1000001L) }
    intercept[IllegalArgumentException] {
      Sample.selectByFraction(df.withColumn("s", $"score".cast("string")),
        "grp", "id", "s", 500000L) }
    val neg = intercept[Exception] {
      Sample.selectByFraction(df.withColumn("toks", lit(-1L)),
        "grp", "id", "score", 500000L, Some("toks")).collect() }
    assert(neg.getMessage.contains("non-negative token count"))
  }

  test("tokenNgramOverlap: id arrays canonicalize by string form, hits match planting") {
    val wins = Seq((0L, Seq(1, 2, 3, 4, 5, 6)), (1L, Seq(9, 9, 9, 9, 9, 9)),
      (2L, Seq(3, 4, 5, 6, 7, 8))).toDF("wid", "toks")
    val bench = Seq((100L, Seq(2, 3, 4, 5, 6, 7))).toDF("bid", "bts")
    val out = Contamination.tokenNgramOverlap(wins, "wid", "toks",
        bench, "bid", "bts", n = 3, minShared = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    // win0 shares grams (2,3,4)(3,4,5)(4,5,6); win2 shares (3,4,5)
    // (4,5,6)(5,6,7); win1 shares nothing; each window has 4 distinct
    // 3-grams
    assert(out == Seq((0L, 100L, 3L, 4L), (2L, 100L, 3L, 4L)))
  }

  test("filtered IVF probe: filter precedes the cut, escalation reaches the filtered brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter($"vec_id" === 0).select("embedding").collect()(0).getSeq[Float](0)
    val cb = Similarity.kmeansCodebook(emb, "vec_id", "embedding", k = 4, iters = 1)
    val path = TestSpark.tmpDir("ivf-filt")
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", cb, path)
    val allowed = emb.filter($"vec_id" % 3 === 1)
    // fixed nprobe: every result satisfies the predicate, and the
    // result equals filtering the probed CANDIDATE set (not the
    // unfiltered top-k) by hand
    val filteredProbe = Similarity.ivfTopKIndexedFiltered(spark, path, q, 10,
      nprobe = 2, allowed, "vec_id")
    // the semi-join must not cost the probe its partition pruning: the
    // list predicate stays a PartitionFilter on the index scan
    assert(partitionFilters(
        filteredProbe.queryExecution.executedPlan.toString).contains("list"),
      "the filtered probe lost the list partition filter")
    val got = filteredProbe.collect()
    assert(got.nonEmpty && got.forall(_.getLong(0) % 3 == 1))
    val byHand = Similarity.ivfTopKIndexed(spark, path, cb, q, 1000000, nprobe = 2)
      .collect().filter(_.getLong(0) % 3 == 1).take(10)
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.map(r => (r.getLong(0), r.getDouble(1))).toSeq == byHand)
    // escalation: demanding more survivors than any probe set can hold
    // widens deterministically to every list — the full filtered scan,
    // which must equal the brute-force filtered top-k exactly
    val esc = Similarity.ivfTopKIndexedFiltered(spark, path, q, 10,
        nprobe = 1, allowed, "vec_id", minSurvivors = 1000000).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val brute = Similarity.topK(emb.filter($"vec_id" % 3 === 1),
        "vec_id", "embedding", q, 10, exactDecimal = true).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(esc == brute)
    intercept[IllegalArgumentException] {
      Similarity.ivfTopKIndexedFiltered(spark, path, q, 0, 2, allowed, "vec_id") }
  }

  test("knnJoinIndexed: identical to query-time knnJoin, probed-list union pruned, nprobe guard") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cb = emb.select($"vec_id", $"embedding").orderBy("vec_id").limit(8)
      .collect().map(_.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    val path = TestSpark.tmpDir("knnjoin-idx")
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", cb, path)
    val queries = emb.filter($"vec_id".isin(3L, 17L, 42L))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    val viaIndex = Similarity.knnJoinIndexed(spark, path, queries,
      "vec_id", "embedding", k = 4, nprobe = 2)
    val direct = Similarity.knnJoin(queries, "vec_id", "embedding",
      emb, "vec_id", "embedding", k = 4, nlist = 8, nprobe = 2,
      codebook = Some(cb))
    assert(rows(viaIndex) == rows(direct),
      "index probe must serve the identical per-query top-k")
    // the PER-STRATUM filtered probe at nprobe = nlist: each query is
    // the brute force over ITS OWN allowed set; an empty-stratum query
    // returns nothing (allowed means allowed, not fall-open)
    val strAllow = emb.filter($"vec_id" % 2 === 0)
      .select(lit("a").as("st"), $"vec_id")
      .unionByName(emb.filter($"vec_id" % 5 === 1)
        .select(lit("b").as("st"), $"vec_id"))
    val strQueries = emb.filter($"vec_id".isin(3L, 17L, 42L))
      .withColumn("st", when($"vec_id" === 3L, lit("a"))
        .when($"vec_id" === 17L, lit("b")).otherwise(lit("ghost")))
    val strRes = Similarity.knnJoinIndexedStratified(spark, path,
        strQueries, "vec_id", "embedding", "st", k = 4, nprobe = 8,
        allowedByStratum = strAllow, stratumCol = "st", idCol = "vec_id")
      .collect().groupBy(_.getLong(0))
    assert(!strRes.contains(42L), "a stratum with no allowed rows must return nothing")
    Seq((3L, emb.filter($"vec_id" % 2 === 0)),
        (17L, emb.filter($"vec_id" % 5 === 1)))
      .foreach { case (qid, allowedSub) =>
        val q = emb.filter($"vec_id" === qid).select("embedding")
          .collect()(0).getSeq[Float](0)
        val brute = Similarity.topK(allowedSub, "vec_id", "embedding", q, 4,
          exactDecimal = true).collect().map(_.getLong(0)).toSeq
        val got = strRes(qid).sortBy(r => (-r.getDouble(2), r.getLong(1)))
          .map(_.getLong(1)).toSeq
        assert(got == brute, s"stratified query $qid must equal its own " +
          s"filtered brute force: $got vs $brute")
      }
    // requireFullK escalation from nprobe = 1: stratum "b" holds only
    // 3 allowed ids (< k = 4), so its query can never fill k and the
    // loop provably widens to the FULL scan — every query's answer is
    // then its exact filtered brute force (q17's being all 3 ranked)
    val tinyAllow = emb.filter($"vec_id" % 2 === 0)
      .select(lit("a").as("st"), $"vec_id")
      .unionByName(emb.filter($"vec_id".isin(1L, 11L, 21L))
        .select(lit("b").as("st"), $"vec_id"))
    val escStrat = Similarity.knnJoinIndexedStratified(spark, path,
        strQueries.filter($"vec_id" =!= 42L), "vec_id", "embedding", "st",
        k = 4, nprobe = 1, allowedByStratum = tinyAllow, stratumCol = "st",
        idCol = "vec_id", requireFullK = true)
      .collect().groupBy(_.getLong(0))
    Seq((3L, emb.filter($"vec_id" % 2 === 0)),
        (17L, emb.filter($"vec_id".isin(1L, 11L, 21L))))
      .foreach { case (qid, allowedSub) =>
        val q = emb.filter($"vec_id" === qid).select("embedding")
          .collect()(0).getSeq[Float](0)
        val brute = Similarity.topK(allowedSub, "vec_id", "embedding", q, 4,
          exactDecimal = true).collect().map(_.getLong(0)).toSeq
        val got = escStrat(qid).sortBy(r => (-r.getDouble(2), r.getLong(1)))
          .map(_.getLong(1)).toSeq
        assert(got == brute, s"escalated stratified query $qid: $got vs $brute")
      }
    intercept[IllegalArgumentException] {
      Similarity.knnJoinIndexedStratified(spark, path,
        strQueries.withColumn("_qstr", lit("x")), "vec_id", "embedding",
        "st", 4, 2, strAllow, "st", "vec_id") }
    val nulStr = intercept[Exception] {
      Similarity.knnJoinIndexedStratified(spark, path,
        strQueries.withColumn("st", lit(null).cast("string")),
        "vec_id", "embedding", "st", 4, 2, strAllow, "st", "vec_id")
        .collect() }
    assert(nulStr.getMessage.contains("NULL query stratum"))

    // the FILTERED batch probe at nprobe = nlist is the per-query brute
    // force over the allowed subset
    val allowedJ = emb.filter($"vec_id" % 3 === 1)
    val filteredFull = Similarity.knnJoinIndexedFiltered(spark, path,
        queries, "vec_id", "embedding", k = 4, nprobe = 8,
        allowed = allowedJ, allowedIdCol = "vec_id")
      .collect().groupBy(_.getLong(0))
    Seq(3L, 17L, 42L).foreach { qid =>
      val q = emb.filter($"vec_id" === qid).select("embedding")
        .collect()(0).getSeq[Float](0)
      val brute = Similarity.topK(allowedJ, "vec_id", "embedding", q, 4,
        exactDecimal = true).collect().map(_.getLong(0)).toSeq
      val got = filteredFull(qid).sortBy(r => (-r.getDouble(2), r.getLong(1)))
        .map(_.getLong(1)).toSeq
      assert(got == brute,
        s"filtered query $qid must equal the filtered brute force at full probe")
    }
    // the probed-list union lands in PartitionFilters (file-listing
    // pruning), not a post-scan Filter — the plan holds TWO scans (the
    // plain query side first), so check every bracket, not the first
    val scan = viaIndex.queryExecution.executedPlan.toString
    val pfs = "PartitionFilters: \\[[^\\]]*\\]".r.findAllIn(scan).toList
    assert(pfs.exists(_.contains("list")),
      s"expected the list predicate inside some PartitionFilters, got $pfs in:\n$scan")
    intercept[IllegalArgumentException] {
      Similarity.knnJoinIndexed(spark, path, queries, "vec_id", "embedding",
        k = 4, nprobe = 99) }
  }

  test("embeddingDedupAgainstIndex: scaled copy dropped, negated vector survives, threshold guard") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = emb.filter($"vec_id" >= 50)
    val cb = corpus.select($"vec_id", $"embedding").orderBy("vec_id").limit(8)
      .collect().map(_.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    val path = TestSpark.tmpDir("embdedup-idx")
    Similarity.buildIvfIndex(corpus, "vec_id", "embedding", cb, path)
    val batch = corpus.filter($"vec_id" === 60)
      .select(lit(9001L).as("vec_id"),
        transform($"embedding", x => x * lit(2.0f)).as("embedding"))
      .unionByName(corpus.filter($"vec_id" === 60)
        .select(lit(9002L).as("vec_id"),
          transform($"embedding", x => -x).as("embedding")))
    val out = Similarity.embeddingDedupAgainstIndex(spark, path, batch,
        "vec_id", "embedding", minCosine = 0.99, nprobe = 8)
      .collect().map(_.getLong(0)).toSet
    // the 2x copy has cosine exactly 1.0 with its source (and probes the
    // source's own list first); the negation has cosine -1.0 everywhere
    assert(out == Set(9002L), s"copy must drop, negation must survive: $out")
    intercept[IllegalArgumentException] {
      Similarity.embeddingDedupAgainstIndex(spark, path, batch,
        "vec_id", "embedding", minCosine = 0.0) }
  }

  test("IVF index freshness: append after build is detected, rebuild clears it") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter($"vec_id" === 0).select("embedding").collect()(0).getSeq[Float](0)
    val cb = Similarity.kmeansCodebook(emb, "vec_id", "embedding", k = 4, iters = 1)
    val path = TestSpark.tmpDir("ivf-stale")
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", cb, path)
    // fresh: check passes and the verified probe == the plain probe
    Similarity.requireIvfFresh(spark, path, emb, "vec_id")
    val verified = Similarity
      .ivfTopKIndexed(spark, path, q, 5, 2, verifyAgainst = (emb, "vec_id"))
      .collect().map(_.getLong(0)).toSeq
    val plain = Similarity.ivfTopKIndexed(spark, path, q, 5, 2)
      .collect().map(_.getLong(0)).toSeq
    assert(verified == plain)
    // append a vector: the live stamp diverges -> the probe must refuse
    val grown = emb.unionByName(
      emb.limit(1).withColumn("vec_id", lit(99999999L)))
    val e = intercept[IllegalStateException] {
      Similarity.ivfTopKIndexed(spark, path, q, 5, 2, verifyAgainst = (grown, "vec_id"))
    }
    assert(e.getMessage.contains("STALE"))
    // rebuilding over the grown corpus clears the staleness
    Similarity.buildIvfIndex(grown, "vec_id", "embedding", cb, path)
    Similarity.requireIvfFresh(spark, path, grown, "vec_id")
    // ...and the ORIGINAL corpus is now the stale one (delete detection)
    intercept[IllegalStateException] {
      Similarity.requireIvfFresh(spark, path, emb, "vec_id")
    }
    // sum-preserving churn — drop ids {1,4}, gain {2,3}: identical row
    // count AND identical raw-id sum — is exactly what a raw-sum stamp
    // is blind to; the hashed stamp must still flag it
    val builtIds = emb.filter($"vec_id".isin(0L, 1L, 4L, 5L))
    val churned = emb.filter($"vec_id".isin(0L, 2L, 3L, 5L))
    val path2 = TestSpark.tmpDir("ivf-churn")
    Similarity.buildIvfIndex(builtIds, "vec_id", "embedding", cb, path2)
    Similarity.requireIvfFresh(spark, path2, builtIds, "vec_id")
    val e2 = intercept[IllegalStateException] {
      Similarity.requireIvfFresh(spark, path2, churned, "vec_id")
    }
    assert(e2.getMessage.contains("STALE"))
    // an index persisted BEFORE the hashed stamp (raw id_sum column) is
    // refused with the rebuild remedy, not an unresolved-column error —
    // on-disk indexes outlive code versions
    val legacyPath = TestSpark.tmpDir("ivf-legacy")
    Similarity.buildIvfIndex(builtIds, "vec_id", "embedding", cb, legacyPath)
    spark.read.parquet(s"$legacyPath/_codebook")
      .withColumnRenamed("id_hash_sum", "id_sum")
      .coalesce(1).write.mode("overwrite").parquet(s"$legacyPath/_codebook2")
    // overwrite in place via a temp copy (can't read+overwrite one path)
    val legacy = spark.read.parquet(s"$legacyPath/_codebook2")
    legacy.coalesce(1).write.mode("overwrite").parquet(s"$legacyPath/_codebook")
    val e3 = intercept[IllegalStateException] {
      Similarity.loadIvfStamp(spark, legacyPath)
    }
    assert(e3.getMessage.contains("rebuild with buildIvfIndex"), e3.getMessage)
  }

  test("cross-corpus dedup: fresh near-dups of the reference are found and removable") {
    val ref = docsDf.filter(col("doc_id") < 4)         // ids 0-3
    val fresh = Seq(
      (100L, "the quick brown fox jumps over the lazy dog and runs away fast"),  // exact copy of ref 0
      (101L, "the quick brown fox jumps over the lazy dog and runs away swiftly"), // near-dup of ref 0
      (102L, "entirely novel content nothing like the reference corpus at all")
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairsAgainst(fresh, ref, "doc_id", "text", 3, 32, 8)
      .filter(col("est_jaccard") >= 0.5).collect()
    val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.contains((100L, 0L)) && found.contains((100L, 3L)),
      s"exact copy must pair with both identical ref docs, got $found")
    assert(!found.exists(_._1 == 102L), "novel doc must not pair")
    assert(pairs.find(r => (r.getLong(0), r.getLong(1)) == (100L, 0L))
      .get.getDouble(2) == 1.0)
    val surviving = Dedup.dedupAgainst(fresh, ref, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(surviving.contains(102L) && !surviving.contains(100L),
      s"dedupAgainst must drop matched docs only, got $surviving")
  }

  test("dedupLinesWithin: repeats collapse to first occurrence, blanks survive, null text null") {
    val df = Seq(
      (0L, "nav\nbody one\nnav\n\n\nbody two\nnav"),
      (1L, "unique only"),
      (2L, null)
    ).toDF("doc_id", "text")
    val out = Dedup.dedupLinesWithin(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getString(1)), r.getLong(2), r.getLong(3)))).toMap
    assert(out(0L) == ((Some("nav\nbody one\n\n\nbody two"), 5L, 7L)))
    assert(out(1L) == ((Some("unique only"), 1L, 1L)))
    assert(out(2L) == ((None, 0L, 0L)))
  }

  test("dedupLinesWithin: native kernel == HOF spec; a pathological long doc stays O(lines)") {
    // parity on the tricky shapes: space-only vs tab-only lines, dup
    // blanks, trailing newline, null text, single line
    val tricky = Seq(
      (0L, "a\nb\na\n\n  \n  \nb\nc\n"),
      (1L, "\t\nx\n\t"),            // tab-only lines are CONTENT: second drops
      (2L, null),
      (3L, "only")
    ).toDF("doc_id", "text")
    val viaKernel = Dedup.dedupLinesWithin(tricky, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val viaSpec = Dedup.dedupLinesWithinHof(tricky, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(viaKernel == viaSpec)
    // 200k lines (1k distinct) in ONE document: the HOF's array_position
    // formulation is ~2·10^10 comparisons in a single task — minutes; the
    // hash-set kernel is ~2·10^5 probes and finishes instantly
    val long = (0 until 200000).map(i => s"line ${i % 1000}").mkString("\n")
    val big = Dedup.dedupLinesWithin(
      Seq((0L, long)).toDF("doc_id", "text"), "doc_id", "text").collect()(0)
    assert(big.getLong(2) == 1000L && big.getLong(3) == 200000L)
    assert(big.getString(1) == (0 until 1000).map(i => s"line $i").mkString("\n"))
  }

  test("stripBoilerplate: frequent lines removed, order kept, blanks exempt, all-boiler docs empty") {
    val corpus = Seq(
      (0L, "BANNER\nunique zero\n\nBANNER2"),
      (1L, "BANNER\nunique one\nBANNER2"),
      (2L, "BANNER\nunique two\nBANNER2"),
      (3L, "BANNER\nBANNER2")                      // nothing unique left
    ).toDF("doc_id", "text")
    val out = Dedup.stripBoilerplate(corpus, "doc_id", "text", maxDocFreq = 2L)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // BANNER (df 4) and BANNER2 (df 4) removed; blank line in doc 0 kept
    assert(out(0L) == ("unique zero\n", 2L, 4L))
    assert(out(1L) == ("unique one", 1L, 3L))
    assert(out(2L) == ("unique two", 1L, 3L))
    assert(out(3L) == ("", 0L, 2L))
    // below the threshold nothing is removed
    val loose = Dedup.stripBoilerplate(corpus, "doc_id", "text", maxDocFreq = 10L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(loose(1L) == "BANNER\nunique one\nBANNER2")
  }

  test("NULL-text docs are not LSH-indexed; NULL counts/texts surface explicitly") {
    // cross-corpus: a NULL-text doc on each side must produce ZERO pairs
    // (hash(slice(NULL,..)) is a constant, so unguarded NULL sigs would
    // band-collide pairwise into a |nulls|² cross product)
    val withNulls = Seq((0L, "the quick brown fox jumps over the lazy dog"),
      (1L, null)).toDF("doc_id", "text")
    val refNulls = Seq((10L, "completely unrelated reference content here"),
      (11L, null)).toDF("doc_id", "text")
    assert(Dedup.minhashPairsAgainst(withNulls, refNulls, "doc_id", "text").count() == 0L)
    assert(Dedup.minhashPairs(withNulls.unionByName(refNulls), "doc_id", "text").count() == 0L)
    // line dedup: NULL text yields NULL clean_text (distinct from the
    // all-boilerplate empty string), zero counts
    val sb = Dedup.stripBoilerplate(withNulls, "doc_id", "text", 10L)
      .collect().map(r => r.getLong(0) -> ((r.isNullAt(1), r.getLong(2), r.getLong(3)))).toMap
    assert(sb(1L) == (true, 0L, 0L) && sb(0L)._1 == false)
    // packing: a NULL token count fails loudly instead of consuming no
    // budget; a NEGATIVE one fails loudly instead of shrinking every
    // later offset (and reassigning downstream packs)
    def msgs(t: Throwable): String = {
      def chain(x: Throwable): Seq[Throwable] = if (x == null) Nil else x +: chain(x.getCause)
      chain(t).flatMap(c => Option(c.getMessage)).mkString(" | ")
    }
    val counts = Seq((0L, "a", java.lang.Long.valueOf(5L)),
      (1L, "a", null.asInstanceOf[java.lang.Long])).toDF("doc_id", "source", "n_tokens")
    val e = intercept[Throwable] {
      Sample.packByTokenBudget(counts, "source", "doc_id", "n_tokens", 100L).collect()
    }
    assert(msgs(e).contains("must be a non-negative"), s"expected loud failure, got: $e")
    val negative = Seq((0L, "a", 5L), (1L, "a", -3L)).toDF("doc_id", "source", "n_tokens")
    val e2 = intercept[Throwable] {
      Sample.packByTokenBudget(negative, "source", "doc_id", "n_tokens", 100L).collect()
    }
    assert(msgs(e2).contains("must be a non-negative") && msgs(e2).contains("-3"),
      s"expected loud negative-count failure, got: $e2")
  }

  test("embedding near-dup: a dim argument matching NO vector fails loudly") {
    val vecs = Seq((0L, Seq(1.0f, 2.0f)), (1L, Seq(2.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Dedup.embeddingNearDup(vecs, "vec_id", "embedding", planes = 8,
        minCosine = 0.9, dim = 64)
    }
    assert(e.getMessage.contains("matches no vector"))
    // an EMPTY corpus is not a config error: empty result, no throw
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(Dedup.embeddingNearDup(empty, "vec_id", "embedding", planes = 8,
      minCosine = 0.9, dim = 4).collect().isEmpty)
  }

  test("nearDupGroups: null or non-numeric ids raise instead of silently dropping") {
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    def msgs(t: Throwable): String =
      chain(t).flatMap(c => Option(c.getMessage)).mkString(" | ")
    // non-numeric string ids: under ANSI (Spark 4 default) the cast itself
    // throws; under non-ANSI our raise_error guard fires — loud either way
    val bad = Seq(("doc-1", "some text here for shingles"),
      ("doc-2", "other text here for shingles")).toDF("doc_id", "text")
    val e = intercept[Throwable] {
      Dedup.nearDupGroups(bad, "doc_id", "text").collect()
    }
    assert(msgs(e).contains("must be non-null and numeric") ||
      msgs(e).contains("CAST_INVALID_INPUT"),
      s"expected a loud id-cast failure, got: $e")
    // NULL ids pass any cast silently — only the guard catches them
    val withNull = Seq((java.lang.Long.valueOf(1L), "some text here for shingles"),
      (null.asInstanceOf[java.lang.Long], "other text here for shingles"))
      .toDF("doc_id", "text")
    val e2 = intercept[Throwable] {
      Dedup.nearDupGroups(withNull, "doc_id", "text").collect()
    }
    assert(msgs(e2).contains("must be non-null and numeric"),
      s"expected the null-id guard to fire, got: $e2")
  }

  test("countMin: exact when collision-free, never undercounts, merge == one-pass build") {
    val toks = Seq("a", "b", "a", "c", "a", "b", "d").toDF("t")
    val exact = Map("a" -> 3L, "b" -> 2L, "c" -> 1L, "d" -> 1L, "zz" -> 0L)
    val probes = exact.keys.toSeq.toDF("t")
    // wide sketch: no collisions among 4 tokens -> estimates are exact
    val wide = Sketch.countMin(toks, "t", depth = 4, width = 4096)
    val estW = Sketch.countMinEstimate(wide, probes, "t")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(estW == exact)
    // deliberately tiny sketch: collisions everywhere, but CM can only
    // OVERestimate — never undercount
    val narrow = Sketch.countMin(toks, "t", depth = 2, width = 2)
    val estN = Sketch.countMinEstimate(narrow, probes, "t")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact.forall { case (k, v) => estN(k) >= v }, s"undercount: $estN vs $exact")
    // slice-and-merge equals the one-pass build, counter for counter
    val sliceA = Seq("a", "b", "a").toDF("t")
    val sliceB = Seq("c", "a", "b", "d").toDF("t")
    val merged = Sketch.countMinMerge(
        Sketch.countMin(sliceA, "t", 4, 4096), Sketch.countMin(sliceB, "t", 4, 4096))
      .table.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val onePass = wide.table.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(merged == onePass)
    // mismatched shapes refuse to merge (adding counters hashed with
    // different parameters would corrupt every estimate)
    intercept[IllegalArgumentException] {
      Sketch.countMinMerge(wide, narrow)
    }
    // shape bounds hold everywhere a sketch can be constructed: the
    // driver-local invariant caps depth*width, and a hand-built /
    // copy()-modified sketch with a degenerate depth fails loudly
    // instead of silently estimating nothing
    intercept[IllegalArgumentException] {
      Sketch.countMin(toks, "t", depth = 16, width = 1 << 20)
    }
    intercept[IllegalArgumentException] { wide.copy(depth = 0) }
    // NULL tokens are skipped, not counted under a phantom bucket
    val withNull = toks.unionByName(
      Seq(null.asInstanceOf[String]).toDF("t"))
    val estNull = Sketch.countMinEstimate(
        Sketch.countMin(withNull, "t", 4, 4096), probes, "t")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(estNull == exact)
  }

  test("countMin persist: save -> load -> merge is bit-identical; corrupt tables refuse to load") {
    val toks = Seq("a", "b", "a", "c", "a", "b", "d").toDF("t")
    val probes = Seq("a", "b", "c", "d", "zz").toDF("t")
    val built = Sketch.countMin(toks, "t", depth = 4, width = 512)
    val path = TestSpark.tmpDir("cm-sketch") + "/cm"
    Sketch.saveCountMin(built, path)
    val loaded = Sketch.loadCountMin(spark, path)
    assert(loaded.depth == built.depth && loaded.width == built.width)
    // the loaded table is cell-for-cell the built one...
    def cells(s: Sketch.CMSketch) = s.table.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(cells(loaded) == cells(built))
    // ...and estimates THROUGH a cross-job merge are bit-identical to a
    // one-pass build over the concatenated corpus — the whole point of
    // persisting: slices sketched by different jobs still add up
    val sliceB = Seq("c", "a", "e").toDF("t")
    val merged = Sketch.countMinMerge(loaded, Sketch.countMin(sliceB, "t", 4, 512))
    val onePass = Sketch.countMin(toks.unionByName(sliceB), "t", 4, 512)
    def est(s: Sketch.CMSketch) = Sketch.countMinEstimate(s, probes, "t")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est(merged) == est(onePass))
    // a table whose cells sit outside the declared grid refuses to load
    // (wrong-width probes would silently break the no-undercount bound)
    val corruptPath = TestSpark.tmpDir("cm-corrupt") + "/cm"
    Sketch.saveCountMin(built, corruptPath)
    Seq((2, 128)).toDF("depth", "width") // narrower than the real table
      .coalesce(1).write.mode("overwrite").parquet(s"$corruptPath/_meta")
    val e = intercept[IllegalArgumentException] {
      Sketch.loadCountMin(spark, corruptPath)
    }
    assert(e.getMessage.contains("corrupt CM table"), e.getMessage)
    // duplicate cells refuse too (double-counted counters overestimate
    // beyond the epsilon*N guarantee with no way to detect it later)
    val dupPath = TestSpark.tmpDir("cm-dup") + "/cm"
    Sketch.saveCountMin(built, dupPath)
    built.table.limit(1).coalesce(1).write.mode("append").parquet(dupPath)
    val e2 = intercept[IllegalArgumentException] {
      Sketch.loadCountMin(spark, dupPath)
    }
    assert(e2.getMessage.contains("duplicate cell"), e2.getMessage)
  }

  test("text index: overlap ranking, partition-pruned probe, freshness contract") {
    import graft.ops.TextIndex
    val docs = Seq(
      (1L, "spark shuffles data across executors"),
      (2L, "data data data everywhere"),            // dup tokens count ONCE
      (3L, "spark reads parquet data fast"),
      (4L, "unrelated text about nothing"),
      (5L, "fast spark data shuffles")).toDF("doc_id", "text")
    val path = TestSpark.tmpDir("text-index") + "/ti"
    TextIndex.buildTextIndex(docs, "doc_id", "text", path, nBuckets = 8)
    val res = TextIndex.searchIndex(spark, path, "spark data fast", 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    // overlaps: 3,5 -> 3; 1 -> 2; 2 -> 1; 4 -> 0 (absent)
    assert(res.toSeq == Seq(3L -> 3L, 5L -> 3L, 1L -> 2L, 2L -> 1L), res.toSeq)
    // query token repetition and case are normalized away
    val resDup = TextIndex.searchIndex(spark, path, "SPARK spark Data data FAST", 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(resDup.toSeq == res.toSeq)
    // the probe is partition-pruned: only the query tokens' buckets are
    // listed (PartitionFilters on bucket), and k cuts deterministically
    val plan = TextIndex.searchIndex(spark, path, "spark", 2)
      .queryExecution.executedPlan.toString
    assert(partitionFilters(plan).contains("bucket"), plan)
    assert(TextIndex.searchIndex(spark, path, "spark data fast", 2)
      .collect().map(_.getLong(0)).toSeq == Seq(3L, 5L))
    // freshness: verified probe passes on the build corpus, append trips
    val ok = TextIndex.searchIndex(spark, path, "spark", 10,
      verifyAgainst = (docs, "doc_id"))
    assert(ok.count() > 0)
    val churned = docs.unionByName(Seq((99L, "extra doc")).toDF("doc_id", "text"))
    val e = intercept[IllegalStateException] {
      TextIndex.searchIndex(spark, path, "spark", 10,
        verifyAgainst = (churned, "doc_id"))
    }
    assert(e.getMessage.contains("STALE"))
    // no-token queries and bad params refuse loudly
    intercept[IllegalArgumentException] { TextIndex.searchIndex(spark, path, "   ", 10) }
    intercept[IllegalArgumentException] { TextIndex.searchIndex(spark, path, "spark", 0) }
    intercept[IllegalArgumentException] {
      TextIndex.buildTextIndex(docs, "doc_id", "text", path, nBuckets = 0)
    }
    // conjunctive probe: only docs with ALL tokens rank, by Σ tf —
    // doc 1 matches 2 of 3 tokens and must be ABSENT, not lower
    val allOf = TextIndex.searchAllTokens(spark, path, "spark data fast", 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(allOf.toSeq == Seq(3L -> 3L, 5L -> 3L), allOf.toSeq)
    // repeated occurrences raise hits (doc 2 has data×3) once every
    // token is present; repeated QUERY tokens do not change the bar
    val allOne = TextIndex.searchAllTokens(spark, path, "data DATA", 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(allOne.toSeq == Seq(2L -> 3L, 1L -> 1L, 3L -> 1L, 5L -> 1L),
      allOne.toSeq)
  }

  test("text index append: grown index == one-shot build; duplicate id refused; fresh after") {
    import graft.ops.TextIndex
    val docs = Seq(
      (1L, "spark shuffles data across executors"),
      (2L, "data data data everywhere"),
      (3L, "spark reads parquet data fast"),
      (4L, "unrelated text about nothing"),
      (5L, "fast spark data shuffles")).toDF("doc_id", "text")
    val oneShot = TestSpark.tmpDir("ti-oneshot") + "/ti"
    val grown = TestSpark.tmpDir("ti-grown") + "/ti"
    TextIndex.buildTextIndex(docs, "doc_id", "text", oneShot, nBuckets = 8)
    TextIndex.buildTextIndex(docs.filter($"doc_id" <= 2), "doc_id", "text",
      grown, nBuckets = 8)
    TextIndex.appendTextIndex(docs.filter($"doc_id" > 2), "doc_id", "text", grown)
    def probe(p: String) = TextIndex.searchIndex(spark, p, "spark data fast", 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(probe(grown) == probe(oneShot))
    def bm25(p: String) = TextIndex.searchIndexBM25(spark, p, "spark data fast", 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(bm25(grown) == bm25(oneShot))  // N/avgdl/df all additive-exact
    // the grown index is FRESH against the combined source
    TextIndex.requireTextIndexFresh(spark, grown, docs, "doc_id")
    // re-appending an indexed id would double its postings — refused
    val e = intercept[IllegalArgumentException] {
      TextIndex.appendTextIndex(docs.filter($"doc_id" === 3), "doc_id", "text", grown)
    }
    assert(e.getMessage.contains("already indexed"))
    // ... and the refusal left the index untouched
    assert(probe(grown) == probe(oneShot))
    TextIndex.requireTextIndexFresh(spark, grown, docs, "doc_id")
  }

  test("append id-guard: O(delta) Bloom path, within-batch dups, legacy self-heal") {
    import graft.ops.TextIndex
    val docs = Seq(
      (1L, "spark shuffles data across executors"),
      (2L, "data data data everywhere"),
      (3L, "spark reads parquet data fast")).toDF("doc_id", "text")
    val path = TestSpark.tmpDir("ti-guard") + "/ti"
    TextIndex.buildTextIndex(docs, "doc_id", "text", path, nBuckets = 8)
    // build wrote the Bloom sidecar; the guard catches a duplicate
    // through the Bloom-hit -> precise-verify path
    assert(graft.ops.IndexIds.load(spark, path).nonEmpty)
    val dup = intercept[IllegalArgumentException] {
      TextIndex.appendTextIndex(Seq((2L, "again")).toDF("doc_id", "text"),
        "doc_id", "text", path)
    }
    assert(dup.getMessage.contains("already indexed"))
    // a batch that repeats an id WITHIN itself is the same corruption
    val within = intercept[IllegalArgumentException] {
      TextIndex.appendTextIndex(
        Seq((7L, "seven"), (7L, "seven again")).toDF("doc_id", "text"),
        "doc_id", "text", path)
    }
    assert(within.getMessage.contains("duplicate ids"))
    // legacy index (no sidecar): guard falls back to the full scan,
    // still refuses, and SELF-HEALS by writing the Bloom
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(s"$path/_idbloom"))
    assert(graft.ops.IndexIds.load(spark, path).isEmpty)
    val legacyDup = intercept[IllegalArgumentException] {
      TextIndex.appendTextIndex(Seq((3L, "again")).toDF("doc_id", "text"),
        "doc_id", "text", path)
    }
    assert(legacyDup.getMessage.contains("already indexed"))
    rm(new java.io.File(s"$path/_idbloom")) // refusal may have healed; reset
    TextIndex.appendTextIndex(Seq((4L, "a brand new doc about spark"))
      .toDF("doc_id", "text"), "doc_id", "text", path)
    val healed = graft.ops.IndexIds.load(spark, path)
    assert(healed.nonEmpty) // self-heal wrote it...
    assert(healed.get.bloom.mightContainLong(4L)) // ...delta merged in
    assert(healed.get.bloom.mightContainLong(1L)) // ...with the old ids
    // the grown index answers and stays fresh against the full source
    val all = docs.unionByName(
      Seq((4L, "a brand new doc about spark")).toDF("doc_id", "text"))
    TextIndex.requireTextIndexFresh(spark, path, all, "doc_id")
    assert(TextIndex.searchIndex(spark, path, "spark", 10).collect()
      .map(_.getLong(0)).toSet == Set(1L, 3L, 4L))
  }

  test("phrase probe: adjacency from positions — overlaps, repeats, 3-token, pruned scan") {
    import graft.ops.TextIndex
    val docs = Seq(
      (1L, "a b a b a"),         // "a b a": starts at 0 and 2 (overlap) -> 2
      (2L, "a b c a b"),         // tokens present, never "a b a" -> 0
      (3L, "x a b a y"),         // one occurrence -> 1
      (4L, "a a a"),             // "a" at 0,1,2 but no "b" -> drops at ntok
      (5L, "  a   b a "),        // whitespace noise: positions index the
                                 // FILTERED sequence -> "a b a" at 0 -> 1
      (6L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val path = TestSpark.tmpDir("ti-phrase") + "/ti"
    TextIndex.buildTextIndex(docs, "doc_id", "text", path, nBuckets = 8)
    def phrase(p: String) = TextIndex.searchPhrase(spark, path, p, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(phrase("a b a") == Seq((1L, 2L), (3L, 1L), (5L, 1L)))
    assert(phrase("a b c a b") == Seq((2L, 1L)))       // 5-token phrase
    assert(phrase("a") == Seq((4L, 3L), (1L, 3L), (5L, 2L), (2L, 2L), (3L, 2L))
      .sortBy { case (id, n) => (-n, id) })            // 1-token == tf
    assert(phrase("b a b") == Seq((1L, 1L)))           // repeated token
    assert(phrase("c x") == Seq.empty)                 // tokens never adjacent
    // the probe scans only the phrase tokens' buckets (partition-pruned)
    val plan = TextIndex.searchPhrase(spark, path, "a b a", 10)
      .queryExecution.executedPlan.toString
    val pf = partitionFilters(plan)
    assert(pf.contains("bucket") && (pf.contains("IN") || pf.contains("isin")
      || pf.contains("EqualTo") || pf.contains("=")), s"not pruned: $pf")
    // grown + compacted trees serve identical phrase results
    val grown = TestSpark.tmpDir("ti-phrase-grown") + "/ti"
    TextIndex.buildTextIndex(docs.filter($"doc_id" <= 2), "doc_id", "text",
      grown, nBuckets = 8)
    TextIndex.appendTextIndex(docs.filter($"doc_id" > 2), "doc_id", "text", grown)
    def phraseAt(p: String, q: String) = TextIndex.searchPhrase(spark, p, q, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(phraseAt(grown, "a b a") == phrase("a b a"))
    graft.ops.IndexMaintenance.compactTextIndex(spark, grown)
    assert(phraseAt(grown, "a b a") == phrase("a b a"))
    // BATCH suite: one pruned scan answers every phrase — per-phrase
    // results equal the one-at-a-time probe (full set, not top-k),
    // shared tokens between phrases don't cross-contaminate, and a
    // never-matching phrase contributes nothing
    val suite = Seq("a b a", "b a b", "c x", "a b c a b")
    val batch = TextIndex.searchPhrases(spark, path, suite)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val expected = suite.zipWithIndex.flatMap { case (p, i) =>
      phrase(p).map { case (id, n) => (i.toLong, id, n) }
    }.sortBy { case (i, id, _) => (i, id) }
    assert(batch == expected, s"batch $batch vs per-phrase $expected")
    intercept[IllegalArgumentException] {
      TextIndex.searchPhrases(spark, path, Seq.empty)
    }
    intercept[IllegalArgumentException] {
      TextIndex.searchPhrases(spark, path, Seq("a b", "   "))
    }
  }

  test("searchBM25Batch: one pruned scan == per-query BM25; refusals") {
    import graft.ops.TextIndex
    val docs = Seq(
      (1L, "spark shuffles data across executors"),
      (2L, "data data data everywhere"),
      (3L, "spark reads parquet data fast"),
      (4L, "unrelated text about nothing"),
      (5L, "fast spark data shuffles")).toDF("doc_id", "text")
    val path = TestSpark.tmpDir("ti-bm25-batch") + "/ti"
    TextIndex.buildTextIndex(docs, "doc_id", "text", path, nBuckets = 8)
    val suite = Seq("spark data fast", "data everywhere", "nothing")
    val batch = TextIndex.searchBM25Batch(spark, path, suite, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val expected = suite.zipWithIndex.flatMap { case (q, i) =>
      TextIndex.searchIndexBM25(spark, path, q, 10)
        .collect().map(r => (i.toLong, r.getLong(0), r.getDouble(1)))
    }
    assert(batch == expected, s"batch $batch vs per-query $expected")
    // per-query k cuts independently
    val top1 = TextIndex.searchBM25Batch(spark, path, suite, k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(top1 == expected.groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.head).map(t => (t._1, t._2)))
    intercept[IllegalArgumentException] {
      TextIndex.searchBM25Batch(spark, path, Seq.empty, 10)
    }
    intercept[IllegalArgumentException] {
      TextIndex.searchBM25Batch(spark, path, Seq("spark", " "), 10)
    }
    intercept[IllegalArgumentException] {
      TextIndex.searchBM25Batch(spark, path, suite, 0)
    }
  }

  test("proximity probe: minimal cover span from positions — order-free, ties, missing tokens") {
    import graft.ops.TextIndex
    val docs = Seq(
      (1L, "a x x b x c"),       // cover a..c -> span 6
      (2L, "c b a"),             // adjacent in reverse order -> 3
      (3L, "a b x x x x c a b"), // best window is c a b at the end -> 3
      (4L, "a b a b"),           // no c -> absent
      (5L, "a x b c x a"),       // windows: a..c = 4 (pos 0) or b c..a = 4; min 4
      (6L, "c a x x b"),         // c a..b -> 5
      (7L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val path = TestSpark.tmpDir("ti-near") + "/ti"
    TextIndex.buildTextIndex(docs, "doc_id", "text", path, nBuckets = 8)
    def near(q: String, k: Int = 10) = TextIndex.searchProximity(spark, path, q, k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(near("a b c") == Seq((2L, 3L), (3L, 3L), (5L, 4L), (6L, 5L), (1L, 6L)))
    // query order is irrelevant; repeated query tokens collapse
    assert(near("c B a") == near("a b c"))
    assert(near("a a b c c") == near("a b c"))
    // a single-token query's span is 1 for every doc holding it
    assert(near("c").forall(_._2 == 1L) && near("c").map(_._1) == Seq(1L, 2L, 3L, 5L, 6L))
    // adjacency in SOME order == span |query|: doc 1 covers "x c" at
    // its tail (x then c), doc 5 as "c x" — order-free both ways
    assert(near("x c") == Seq((1L, 2L), (3L, 2L), (5L, 2L), (6L, 3L)))
    // k cuts on the (span, id) total order
    assert(near("a b c", k = 2) == Seq((2L, 3L), (3L, 3L)))
    // the probe scans only the query tokens' buckets
    val plan = TextIndex.searchProximity(spark, path, "a b c", 10)
      .queryExecution.executedPlan.toString
    assert(partitionFilters(plan).contains("bucket"), plan)
    // BATCH suite: one pruned scan answers every query, full match sets
    // equal to the one-at-a-time probe; a query with an absent token
    // contributes nothing; maxSpan caps to the co-mention window
    val suite = Seq("a b c", "x c", "c", "a q")
    val batch = TextIndex.searchProximities(spark, path, suite)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val expected = suite.zipWithIndex.flatMap { case (q, i) =>
      near(q, k = 100).map { case (id, sp) => (i.toLong, id, sp) }
    }.sortBy { case (i, id, sp) => (i, sp, id) }
    assert(batch == expected, s"batch $batch vs per-query $expected")
    val capped = TextIndex.searchProximities(spark, path, suite, maxSpan = Some(3L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(capped == expected.filter(_._3 <= 3L), s"capped $capped")
    intercept[IllegalArgumentException] {
      TextIndex.searchProximities(spark, path, Seq.empty)
    }
    intercept[IllegalArgumentException] {
      TextIndex.searchProximities(spark, path, Seq("a b", "  "))
    }
    intercept[IllegalArgumentException] {
      TextIndex.searchProximities(spark, path, suite, maxSpan = Some(0L))
    }
  }

  test("text index delete + compact: probes == never-indexed; purge re-admits ids") {
    import graft.ops.{IndexMaintenance, TextIndex}
    val keep = Seq(
      (1L, "spark shuffles data across executors"),
      (2L, "data data data everywhere"),
      (3L, "spark reads parquet data fast")).toDF("doc_id", "text")
    val planted = Seq(
      (7L, "spark data fast spark data fast"),
      (8L, "fast data spark")).toDF("doc_id", "text")
    val path = TestSpark.tmpDir("ti-del") + "/ti"
    val clean = TestSpark.tmpDir("ti-del-clean") + "/ti"
    TextIndex.buildTextIndex(keep.unionByName(planted), "doc_id", "text",
      path, nBuckets = 8)
    TextIndex.buildTextIndex(keep, "doc_id", "text", clean, nBuckets = 8)
    def overlap(p: String) = TextIndex.searchIndex(spark, p, "spark data fast", 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    def bm25(p: String) = TextIndex.searchIndexBM25(spark, p, "spark data fast", 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(overlap(path) != overlap(clean)) // planted docs rank before delete
    IndexMaintenance.deleteFromTextIndex(spark, path, Seq(7L, 8L))
    // logical delete == never indexed: overlap AND BM25 (N, avgdl, df
    // all track the post-delete corpus via the subtractive _meta)
    assert(overlap(path) == overlap(clean))
    assert(bm25(path) == bm25(clean))
    // ... and the stamp verifies fresh against the post-delete source
    TextIndex.requireTextIndexFresh(spark, path, keep, "doc_id")
    // fail-loud contracts: double delete, never-indexed id, re-append
    val dd = intercept[IllegalArgumentException] {
      IndexMaintenance.deleteFromTextIndex(spark, path, Seq(7L)) }
    assert(dd.getMessage.contains("already deleted"))
    val na = intercept[IllegalArgumentException] {
      IndexMaintenance.deleteFromTextIndex(spark, path, Seq(99L)) }
    assert(na.getMessage.contains("not indexed"))
    val ra = intercept[IllegalArgumentException] {
      TextIndex.appendTextIndex(Seq((7L, "back again")).toDF("doc_id", "text"),
        "doc_id", "text", path) }
    assert(ra.getMessage.contains("already indexed"))
    // compact: physical purge — probes identical, tombstones gone,
    // Bloom rebuilt without the deleted ids, deleted id re-admittable
    IndexMaintenance.compactTextIndex(spark, path)
    assert(overlap(path) == overlap(clean) && bm25(path) == bm25(clean))
    assert(!new java.io.File(s"$path/_tombstones").exists())
    TextIndex.requireTextIndexFresh(spark, path, keep, "doc_id")
    TextIndex.appendTextIndex(
      Seq((7L, "spark data fast spark data fast")).toDF("doc_id", "text"),
      "doc_id", "text", path)
    assert(overlap(path) != overlap(clean)) // 7 serves again
    TextIndex.requireTextIndexFresh(spark, path,
      keep.unionByName(planted.filter($"doc_id" === 7L)), "doc_id")
  }

  test("compact coalesces append-accumulated files; probe results byte-identical") {
    import graft.ops.{IndexMaintenance, TextIndex}
    val path = TestSpark.tmpDir("ti-compact") + "/ti"
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi)
      .select(col("id").as("doc_id"),
        concat(lit("tok"), pmod(col("id"), lit(40)), lit(" shared word")).as("text"))
    TextIndex.buildTextIndex(mk(0L, 200L), "doc_id", "text", path, nBuckets = 4)
    (1 to 5).foreach(i => TextIndex.appendTextIndex(
      mk(i * 200L, i * 200L + 200L), "doc_id", "text", path))
    def parquetFiles(p: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(p))
        .count(f => f.getName.endsWith(".parquet") &&
          !f.getPath.substring(p.length).matches(".*/_[^/]*/.*"))
    }
    val before = parquetFiles(path)
    val probeBefore = TextIndex.searchIndex(spark, path, "shared word tok7", 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    IndexMaintenance.compactTextIndex(spark, path)
    val after = parquetFiles(path)
    assert(after < before,
      s"compaction must reduce data file count: $before -> $after")
    val probeAfter = TextIndex.searchIndex(spark, path, "shared word tok7", 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(probeAfter == probeBefore)
    TextIndex.requireTextIndexFresh(spark, path, mk(0L, 1200L), "doc_id")
    // appends keep working on the compacted tree
    TextIndex.appendTextIndex(mk(1200L, 1300L), "doc_id", "text", path)
    TextIndex.requireTextIndexFresh(spark, path, mk(0L, 1300L), "doc_id")
  }

  test("IVF delete + compact: planted near-copies vanish from top-k; purge re-admits") {
    import graft.ops.{IndexMaintenance, Similarity}
    val dim = 8
    val base = (0 until 40).map { i =>
      (i.toLong, (0 until dim).map(j =>
        math.sin(i * 31 + j * 7).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    // planted: exact scaled copies of vector 0 — cosine 1.0 with the
    // query below, guaranteed top-k entrants until deleted
    val planted = base.filter($"vec_id" === 0L)
      .select(lit(900L).as("vec_id"),
        transform($"embedding", x => x * lit(1.001f)).as("embedding"))
    val all = base.unionByName(planted)
    val cb = Similarity.kmeansCodebook(all, "vec_id", "embedding", k = 4, iters = 1)
    val path = TestSpark.tmpDir("ivf-del") + "/ivf"
    val clean = TestSpark.tmpDir("ivf-del-clean") + "/ivf"
    Similarity.buildIvfIndex(all, "vec_id", "embedding", cb, path)
    Similarity.buildIvfIndex(base, "vec_id", "embedding", cb, clean)
    val q = (0 until dim).map(j => math.sin(j * 7).toFloat)
    def topk(p: String) = Similarity.ivfTopKIndexed(spark, p, q, 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(topk(path).map(_._1).contains(900L))
    IndexMaintenance.deleteFromIvfIndex(spark, path, Seq(900L))
    assert(topk(path) == topk(clean)) // == never indexed
    Similarity.requireIvfFresh(spark, path, base, "vec_id")
    IndexMaintenance.compactIvfIndex(spark, path)
    assert(topk(path) == topk(clean))
    Similarity.requireIvfFresh(spark, path, base, "vec_id")
    Similarity.appendIvfIndex(planted, "vec_id", "embedding", path)
    assert(topk(path).map(_._1).contains(900L)) // re-admitted after purge
  }

  test("dedup index delete + compact: tombstoned doc stops pairing; purge re-admits") {
    import graft.ops.{DedupIndex, IndexMaintenance}
    val ref = docsDf.filter($"doc_id" < 5)
    val path = TestSpark.tmpDir("di-del") + "/di"
    DedupIndex.buildDedupIndex(ref, "doc_id", "text", path)
    val batch = Seq((100L, "the quick brown fox jumps over the lazy dog and runs away fast"))
      .toDF("doc_id", "text") // exact text of ref docs 0 and 3
    def pairs() = DedupIndex.pairsAgainstIndex(spark, path, batch, "doc_id", "text")
      .filter($"est_jaccard" >= 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs() == Set((100L, 0L), (100L, 1L), (100L, 3L))) // 1 is a near-dup of 0
    IndexMaintenance.deleteFromDedupIndex(spark, path, Seq(3L))
    assert(pairs() == Set((100L, 0L), (100L, 1L))) // 3 no longer pairs
    DedupIndex.requireDedupIndexFresh(spark, path,
      ref.filter($"doc_id" =!= 3L), "doc_id")
    IndexMaintenance.compactDedupIndex(spark, path)
    assert(pairs() == Set((100L, 0L), (100L, 1L)))
    DedupIndex.requireDedupIndexFresh(spark, path,
      ref.filter($"doc_id" =!= 3L), "doc_id")
    // purge re-admits: the deleted doc can be re-appended and pairs again
    DedupIndex.appendDedupIndex(ref.filter($"doc_id" === 3L), "doc_id", "text", path)
    assert(pairs() == Set((100L, 0L), (100L, 1L), (100L, 3L)))
    DedupIndex.requireDedupIndexFresh(spark, path, ref, "doc_id")
  }

  test("text index BM25: hand-computed scores, tf saturation, legacy-index refusal") {
    import graft.ops.TextIndex
    val docs = Seq(
      (1L, "spark shuffles data across executors"),  // len 5
      (2L, "data data data everywhere"),             // len 4, tf(data)=3
      (3L, "spark reads parquet data fast"),         // len 5
      (4L, "unrelated text about nothing"),          // len 4
      (5L, "fast spark data shuffles")               // len 4
    ).toDF("doc_id", "text")
    val path = TestSpark.tmpDir("text-bm25") + "/ti"
    TextIndex.buildTextIndex(docs, "doc_id", "text", path, nBuckets = 8)
    // query {data, fast}: df(data)=4, df(fast)=2, N=5, avgdl=22/5.
    // BM25's tf saturation is the point of the assertion: doc 2's
    // tf(data)=3 must NOT outrank docs 5 and 3, which match BOTH tokens
    // (the rarer 'fast' carries more idf than two extra 'data's).
    val res = TextIndex.searchIndexBM25(spark, path, "data data fast", 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(res.map(_._1).toSeq == Seq(5L, 3L, 2L, 1L), res.toSeq)
    // doc 5 spot-checked against the formula computed directly
    val avgdl = 22.0 / 5
    def idf(df: Long) = math.log(1 + (5 - df + 0.5) / (df + 0.5))
    def tfn(tf: Long, len: Long) =
      tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * len / avgdl))
    val exp5 = (idf(4) + idf(2)) * tfn(1, 4)
    assert(math.abs(res.head._2 - exp5) < 1e-9, s"${res.head._2} vs $exp5")
    // verified BM25 probe: fresh passes, churn trips
    val ok = TextIndex.searchIndexBM25(spark, path, "data", 10,
      verifyAgainst = Some((docs, "doc_id"))).count()
    assert(ok == 4)
    val churned = docs.unionByName(Seq((99L, "extra doc")).toDF("doc_id", "text"))
    val e = intercept[IllegalStateException] {
      TextIndex.searchIndexBM25(spark, path, "data", 10,
        verifyAgainst = Some((churned, "doc_id")))
    }
    assert(e.getMessage.contains("STALE"))
    // a pre-BM25 index (no total_tokens in _meta) refuses BM25 with the
    // rebuild remedy but still serves the overlap probe
    val legacy = TestSpark.tmpDir("text-bm25-legacy") + "/ti"
    TextIndex.buildTextIndex(docs, "doc_id", "text", legacy, nBuckets = 8)
    val m = spark.read.parquet(s"$legacy/_meta")
      .select("n_buckets", "n_rows", "id_hash_sum").collect()(0)
    spark.range(1).select(
        lit(m.getInt(0)).as("n_buckets"), lit(m.getLong(1)).as("n_rows"),
        lit(m.getDecimal(2)).cast(org.apache.spark.sql.types.DecimalType(38, 0))
          .as("id_hash_sum"))
      .coalesce(1).write.mode("overwrite").parquet(s"$legacy/_meta")
    val e2 = intercept[IllegalStateException] {
      TextIndex.searchIndexBM25(spark, legacy, "data", 10)
    }
    assert(e2.getMessage.contains("predates"), e2.getMessage)
    assert(TextIndex.searchIndex(spark, legacy, "data", 10).count() == 4)
    // parameter range refusals
    intercept[IllegalArgumentException] {
      TextIndex.searchIndexBM25(spark, path, "data", 10, b = 1.5)
    }
    intercept[IllegalArgumentException] {
      TextIndex.searchIndexBM25(spark, path, "data", 10, k1 = -0.1)
    }
  }

  test("nearDupKeepBest: longest member kept per cluster, ties to min id, singletons keep") {
    import org.apache.spark.sql.types.LongType
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, base),                       // cluster with 2, 3
      (2L, base + " extended"),         // longest -> kept
      (3L, base),                       // same length as 1 -> loses to it
      (10L, "a completely different document about storage engines and parquet files"),
      (11L, "a completely different document about storage engines and parquet files"),
      (20L, "singleton text that resembles nothing else in this tiny corpus at all"))
      .toDF("doc_id", "text")
    val out = Dedup.nearDupKeepBest(docs, "doc_id", "text",
        size(split(lower($"text"), "\\s+")).cast(LongType),
        n = 3, numHashes = 32, bands = 8, minEstJaccard = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(out.size == 6)
    // {1,2,3} cluster to min id 1; the LONGER doc 2 is kept, not doc 1
    assert(out(1L)._1 == 1L && out(2L)._1 == 1L && out(3L)._1 == 1L)
    assert(out(2L)._3 && !out(1L)._3 && !out(3L)._3)
    // exact dups {10,11}: tie on score -> smaller id kept
    assert(out(10L)._3 && !out(11L)._3 && out(11L)._1 == 10L)
    // singleton keeps itself
    assert(out(20L)._3 && out(20L)._1 == 20L)
    // exactly one keeper per cluster
    assert(out.values.groupBy(_._1).forall(_._2.count(_._3) == 1))
  }

  test("repeatedNgrams: planted cross-doc spans counted, unique docs zero, null text, minDocs threshold") {
    val shared = "alpha beta gamma delta epsilon zeta" // 6 toks -> 2 shared 5-grams
    val docs = Seq(
      (1L, s"unique one $shared"),
      (2L, s"other text entirely $shared"),
      (3L, s"third copy here $shared"),
      (4L, "completely unrelated content with no overlap at all"),
      (5L, null.asInstanceOf[String])).toDF("doc_id", "text")
    def run(minDocs: Int) = Dedup.repeatedNgrams(docs, "doc_id", "text", 5, minDocs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val r2 = run(2)
    // 6-token shared suffix -> windows fully inside it: positions 0..1 of
    // the suffix = 2 shared 5-grams per carrier doc
    assert(Seq(1L, 2L, 3L).forall(id => r2(id)._2 == 2), r2.toString)
    assert(r2(4L)._2 == 0 && r2(4L)._1 > 0)
    assert(r2(5L) == (0L, 0L)) // null text: no shingles at all
    // the threshold is DISTINCT docs: all three carriers share the grams,
    // so minDocs=3 still counts them, minDocs=4 does not (via a 4th doc)
    assert(Seq(1L, 2L, 3L).forall(id => run(3)(id)._2 == 2))
    assert(Seq(1L, 2L, 3L).forall(id => run(4)(id)._2 == 0))
    intercept[IllegalArgumentException] { Dedup.repeatedNgrams(docs, "doc_id", "text", 5, 1) }
    intercept[IllegalArgumentException] { Dedup.repeatedNgrams(docs, "doc_id", "text", 0) }
  }

  test("stripRepeatedSpans: covered tokens dropped, untouched docs byte-identical, case preserved") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two ALPHA Beta gamma delta epsilon other"), // case-insensitive match
      (3L, "completely  unrelated   content with no overlap here at all"), // odd spacing preserved
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = Dedup.stripRepeatedSpans(docs, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getString(1), r.getLong(2))).toMap
    // doc1: windows [alpha..epsilon] and [beta..zeta]; only the first is
    // shared with doc2, so alpha..epsilon are covered — zeta survives
    // UNLESS covered by the second window... the second window is df=1,
    // so exactly tokens 0..4 go: "zeta" remains
    assert(out(1L) == ("zeta", 5L), out.toString)
    // doc2: original CASE of surviving tokens kept, removed span is the
    // lowercase-matched one
    assert(out(2L) == ("one two other", 5L), out.toString)
    // untouched doc: byte-identical including the double/triple spaces
    assert(out(3L) == ("completely  unrelated   content with no overlap here at all", 0L))
    assert(out(4L) == (null, 0L)) // null text passes through
  }

  test("stripRepeatedSpans: within-doc-only repeats kept, overlapping spans union, full wipe, guards") {
    val rep = "red orange yellow green blue"
    val solo = "lion tiger bear wolf fox"
    val docs = Seq(
      (1L, s"$solo intermezzo $solo"),         // same 5-gram twice in ONE doc: df=1, kept
      (2L, s"$rep"),                           // shared with 3: whole doc covered
      (3L, s"$rep indigo violet"),
      (4L, s"start marker $rep indigo violet tail")) // overlapping covered spans union
      .toDF("doc_id", "text")
    val out = Dedup.stripRepeatedSpans(docs, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L)._2 == 0L && out(1L)._1.contains("intermezzo")) // df=1 -> untouched
    assert(out(2L) == ("", 5L))                                   // full wipe -> empty text
    // docs 3 and 4 share BOTH "red..blue" and windows through "indigo
    // violet"; their covered spans overlap and union per position
    assert(out(3L) == ("", 7L), out.toString)
    assert(out(4L) == ("start marker tail", 7L), out.toString)
    intercept[IllegalArgumentException] { Dedup.stripRepeatedSpans(docs, "doc_id", "text", 0) }
    intercept[IllegalArgumentException] { Dedup.stripRepeatedSpans(docs, "doc_id", "text", 5, 1) }
    intercept[IllegalArgumentException] {
      Dedup.stripRepeatedSpans(docs.withColumnRenamed("text", "_text"), "doc_id", "_text") }
  }

  test("naive bayes: driver-mirror parity, planted-signal recovery, featureless nulls, label guards") {
    val B = 64
    val train = Seq(
      (0L, 1L, "curated premium encyclopedic prose sample"),
      (1L, 1L, "premium curated reference prose material"),
      (2L, 0L, "buy now cheap pills click here"),
      (3L, 0L, "click buy cheap now free offer"),
      (4L, 0L, "unrelated neutral words about weather")).toDF("doc_id", "label", "text")
    val model = Classifier.trainNaiveBayes(train, "label", "text", nBuckets = B)
    val test_ = Seq(
      (10L, "curated encyclopedic prose"),
      (11L, "cheap pills click now"),
      (12L, ""),                         // featureless
      (13L, null.asInstanceOf[String])). // featureless
      toDF("doc_id", "text")
    val out = Classifier.scoreNaiveBayes(test_, model, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1),
         if (r.isNullAt(2)) None else Some(r.getDouble(2)),
         if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    // driver-side mirror of the exact arithmetic for doc 10
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(8).map("%02x".format(_)).mkString.take(15), 16)
    }
    val trainToks = train.collect().map(r =>
      (r.getLong(1), r.getString(2).toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq))
    val cnt = trainToks.flatMap { case (y, ts) => ts.map(t => (y, h60(t) % B)) }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val t1 = cnt.collect { case ((1L, _), c) => c }.sum
    val t0 = cnt.collect { case ((0L, _), c) => c }.sum
    def lnP(c: Long, t: Long) = math.log((c + 1L).toDouble / (t + B.toLong).toDouble)
    val toks10 = Seq("curated", "encyclopedic", "prose")
    val expTerms = toks10.groupBy(t => h60(t) % B).map { case (b, g) =>
      BigDecimal(g.size.toDouble *
        (lnP(cnt.getOrElse((1L, b), 0L), t1) - lnP(cnt.getOrElse((0L, b), 0L), t0)))
        .setScale(12, BigDecimal.RoundingMode.HALF_UP)
    }.sum
    val expScore = expTerms.toDouble + math.log(2.0 / 3.0)
    assert(out(10L)._1 == 3L && out(10L)._2.contains(expScore), out.toString)
    assert(out(10L)._3.contains(1L) && out(11L)._3.contains(0L)) // planted signal separates
    assert(out(12L) == ((0L, None, None)) && out(13L) == ((0L, None, None)))
    intercept[IllegalArgumentException] { // non-binary label refused
      Classifier.trainNaiveBayes(
        train.withColumn("label", col("label") + 1), "label", "text", B) }
    intercept[IllegalArgumentException] { // single-class training refused
      Classifier.trainNaiveBayes(train.filter(col("label") === 0), "label", "text", B) }
    intercept[IllegalArgumentException] {
      Classifier.trainNaiveBayes(train, "label", "text", nBuckets = 1) }
    // persistence: save -> load -> score must be indistinguishable from
    // scoring with the in-memory model; corrupt trees are refused at load
    val dir = java.nio.file.Files.createTempDirectory("nb-model").toString
    Classifier.saveModel(spark, model, dir)
    val reloaded = Classifier.loadModel(spark, dir)
    assert(reloaded == model, "load must reproduce the exact model")
    val rescored = Classifier.scoreNaiveBayes(test_, reloaded, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(rescored(10L) == out(10L)._2 && rescored(11L) == out(11L)._2)
    val bad = model.copy(llr = model.llr + ((B + 5L) -> 0.0)) // out-of-grid bucket
    val badDir = java.nio.file.Files.createTempDirectory("nb-bad").toString
    Classifier.saveModel(spark, bad, badDir)
    intercept[IllegalArgumentException] { Classifier.loadModel(spark, badDir) }
  }

  test("heavyHitters: exactly the HAVING set under forced collisions; persisted-sketch path; boundary") {
    // skewed corpus: 3 planted heavies over a long rare tail, with the
    // sketch narrow enough (2 x 4 buckets vs ~103 distinct tokens) that
    // the prefilter ADMITS collision victims — the exact recount must
    // output the HAVING set regardless
    val rows = Seq.fill(40)("hh-a") ++ Seq.fill(25)("hh-b") ++
      Seq.fill(10)("hh-c") ++ (0 until 100).map(i => s"rare-$i")
    val toks = rows.toDF("t")
    def having(min: Long): Map[String, Long] = toks.groupBy("t").count()
      .filter($"count" >= min)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def hh(min: Long, depth: Int, width: Int): Map[String, Long] =
      Sketch.heavyHitters(toks, "t", min, depth, width)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hh(25L, 2, 4) == having(25L))   // collision-riddled sketch
    assert(hh(25L, 4, 1024) == having(25L)) // roomy sketch, same answer
    // boundary: a token AT the threshold is included (>=, not >)
    assert(hh(10L, 4, 64).contains("hh-c") && !hh(11L, 4, 64).contains("hh-c"))
    // nothing clears an impossible threshold
    assert(hh(1000L, 4, 64).isEmpty)
    // the cross-job path: a persisted+reloaded sketch prefilters
    // identically (the superset contract with itself)
    val path = TestSpark.tmpDir("hh-sketch") + "/cm"
    Sketch.saveCountMin(Sketch.countMin(toks, "t", 4, 64), path)
    val loaded = Sketch.loadCountMin(spark, path)
    assert(Sketch.heavyHittersWithSketch(loaded, toks, "t", 25L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap == having(25L))
    intercept[IllegalArgumentException] {
      Sketch.heavyHitters(toks, "t", minCount = 0L)
    }
  }

  test("KMV merge: two-pointer merge == element-wise insert (property)") {
    val kmv = Sketch.KMV(8)
    val rnd = new scala.util.Random(42)
    for (_ <- 0 until 300) {
      val a = Array.fill(rnd.nextInt(12))(rnd.nextInt(40).toLong)
        .distinct.sorted.take(8)
      val b = Array.fill(rnd.nextInt(12))(rnd.nextInt(40).toLong)
        .distinct.sorted.take(8)
      val expect = b.foldLeft(a.clone())((acc, h) => kmv.insert(acc, h)).toSeq
      assert(kmv.merge(a.clone(), b.clone()).toSeq == expect)
    }
  }

  test("simhashPairs: banded join == brute-force hamming pairs; exact dup at distance 0") {
    // docsDf plants an exact dup (0,3); add a near-dup of 4 so both
    // distance-0 and small-positive-distance pairs exist
    val corpus = docsDf.unionByName(Seq(
      (6L, "der hund und die katze sind nicht ein problem und das ist schlecht")
    ).toDF("doc_id", "text"))
    val pairs = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force over the collected fingerprints is the spec
    val sims = Dedup.simhash(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = (for {
      a <- sims.keys; b <- sims.keys if a < b
      hd = java.lang.Long.bitCount(sims(a) ^ sims(b)).toLong if hd <= 5
    } yield (a, b, hd)).toSet
    assert(pairs == brute)
    assert(pairs.contains((0L, 3L, 0L)), s"exact dup must pair at distance 0, got $pairs")
    // maxHamming=4 takes the C(6,2) block-PAIR key layout — its own
    // branch of the band construction, parity-checked separately
    val pairs4 = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs4 == brute.filter(_._3 <= 4))
    // invalid band split rejected; NULL text yields no pairs
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 6)
    }
    val withNull = Seq((0L, "same text"), (1L, "same text"),
      (2L, null), (3L, null)).toDF("doc_id", "text")
    val np = Dedup.simhashPairs(withNull, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(np == Set((0L, 1L)), s"NULL docs must not pair, got $np")
  }

  test("embeddingNearDupGroups: scaled copies cluster under their source, rest singleton") {
    val df = Seq(
      (0L, Seq(1.0f, 0.1f, 0.0f, 0.0f)),
      (1L, Seq(0.0f, 1.0f, 0.2f, 0.0f)),
      (100L, Seq(1.001f, 0.1001f, 0.0f, 0.0f))   // scaled copy of 0
    ).toDF("vec_id", "embedding")
    val out = Dedup.embeddingNearDupGroups(df, "vec_id", "embedding",
        planes = 8, minCosine = 0.999, dim = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out(100L) == ((0L, false)))
    assert(out(0L) == ((0L, true)) && out(1L) == ((1L, true)))
  }

  test("tfidfCosinePairs: hand-computed weights, identical docs at 1.0, stop-token guard") {
    val df = Seq(
      (1L, "apple banana"),
      (2L, "apple banana"),
      (3L, "cherry banana")).toDF("doc_id", "text")
    // N=3; df: apple=2, banana=3, cherry=1; idf6 = round((ln(4/(df+1))+1)*1e6)
    val iApple = math.rint((math.log(4.0 / 3) + 1) * 1e6)
    val iBanana = math.rint((math.log(4.0 / 4) + 1) * 1e6)
    val iCherry = math.rint((math.log(4.0 / 2) + 1) * 1e6)
    val cos13 = iBanana * iBanana /
      (math.sqrt(iApple * iApple + iBanana * iBanana) *
        math.sqrt(iCherry * iCherry + iBanana * iBanana))
    val all = Dedup.tfidfCosinePairs(df, "doc_id", "text", minCosine = 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(all.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // S/(√S·√S) is one ulp off 1.0 — deterministically so in any engine
    assert(math.abs(all((1L, 2L)) - 1.0) < 1e-12,
      "identical docs must pair at ~1.0")
    assert(math.abs(all((1L, 3L)) - cos13) < 1e-12 &&
      math.abs(all((2L, 3L)) - cos13) < 1e-12)
    // threshold: cos13 ~ 0.31 is out at 0.9
    val strict = Dedup.tfidfCosinePairs(df, "doc_id", "text", minCosine = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strict == Set((1L, 2L)))
    // stop-token guard: banana (df=3) dropped at maxDocFreq=2 — doc 3
    // then shares nothing with 1/2; the identical pair still scores 1.0
    val guarded = Dedup.tfidfCosinePairs(df, "doc_id", "text",
        minCosine = 0.25, maxDocFreq = Some(2L))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(guarded.keySet == Set((1L, 2L)) &&
      math.abs(guarded((1L, 2L)) - 1.0) < 1e-12)
  }

  test("semanticDedup: keep-first within planted clusters, cross-cluster pairs never compared") {
    // two tight clusters on orthogonal axes; ids 0,1 are the k=2 seeds.
    // cluster A holds three mutual near-dups (0, 2, 10): keep-first
    // retains only 0 — 2 drops against 0, 10 drops against 0 AND 2
    // (dropping against an already-dropped row is the paper's
    // upper-triangular rule). cluster B's pair (1, 3) sits at cosine
    // ~0.71 — kept at τ=0.9 even though a cross-cluster comparison
    // would never have been made for it anyway.
    val df = Seq(
      (0L, Seq(1.0f, 0.0f, 0.05f, 0.0f)),
      (1L, Seq(0.0f, 1.0f, 0.0f, 0.05f)),
      (2L, Seq(1.001f, 0.0f, 0.0501f, 0.0f)),  // scaled copy of 0
      (3L, Seq(0.05f, 1.0f, 0.0f, 1.0f)),      // same cluster as 1, far
      (10L, Seq(0.999f, 0.0f, 0.05f, 0.0f))    // near-copy of 0 and 2
    ).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(df, "vec_id", "embedding",
        k = 2, iters = 1, minCosine = 0.9, dim = 4)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(out.keySet == Set(0L, 1L, 2L, 3L, 10L))
    assert(out(0L)._2 == 1L && out(1L)._2 == 1L && out(3L)._2 == 1L)
    assert(out(2L)._2 == 0L && out(10L)._2 == 0L)
    assert(out(0L)._1 == out(2L)._1 && out(0L)._1 == out(10L)._1)
    assert(out(1L)._1 == out(3L)._1 && out(0L)._1 != out(1L)._1)
  }

  test("semanticDedup: driver-side brute-force parity on the fixture") {
    // mirror the whole decision procedure in plain Scala: the gated
    // kmeansAssign labels, then within-cluster pairwise fixed-point
    // cosine with keep-first — every keep/drop bit must match
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val tau = 0.35 // in the fixture's natural tail: some drops, most kept
    val got = Dedup.semanticDedup(emb, "vec_id", "embedding",
        k = 8, iters = 1, minCosine = tau)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val lab = Similarity.kmeansAssign(emb, "vec_id", "embedding", k = 8, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def dotFixed(a: Array[Double], b: Array[Double]): Long =
      a.indices.map(i => math.rint(a(i) * b(i) * 1e15).toLong).sum
    val ids = vecs.keys.toSeq.sorted
    val nrm = ids.map(id => id -> math.sqrt(dotFixed(vecs(id), vecs(id)).toDouble)).toMap
    val dropped = (for {
      i <- ids; j <- ids
      if i < j && lab(i) == lab(j) &&
        dotFixed(vecs(i), vecs(j)).toDouble / (nrm(i) * nrm(j)) >= tau
    } yield j).toSet
    assert(got.keySet == ids.toSet)
    ids.foreach { id =>
      assert(got(id)._1 == lab(id), s"cluster mismatch at $id")
      assert(got(id)._2 == (if (dropped(id)) 0L else 1L), s"keep mismatch at $id")
    }
    assert(dropped.nonEmpty, "fixture + tau must exercise real drops")
    assert(dropped.size < ids.size / 2, "most of the corpus must survive")
  }

  test("semanticDedup: degenerate cluster refused loudly; subSplit sub-clusters deterministically") {
    // 40 IDENTICAL vectors: seeds (ids 0, 1) coincide, ties go to the
    // smaller centroid, so every row lands in cluster 0 — the planted
    // collapse the skew guard exists for
    val n = 40
    val df = (0 until n).map(i => (i.toLong, Seq(1.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Dedup.semanticDedup(df, "vec_id", "embedding",
        k = 2, iters = 1, minCosine = 0.9, dim = 4, maxClusterRows = 8)
    }
    assert(e.getMessage.contains("semanticDedup") &&
      e.getMessage.contains("subSplit"), e.getMessage)
    // subSplit: splits start at ceil(40/8) = 5 and are then VERIFIED
    // against the actual bucket counts, doubling while any bucket
    // exceeds maxClusterRows (the hash multinomial overflows ~half its
    // buckets at expected fill 1.0); identical vectors are mutual dups,
    // so each final sub-cluster keeps exactly its min id — mirrored by
    // replaying the engine's own split-doubling loop driver-side
    val out = Dedup.semanticDedup(df, "vec_id", "embedding",
        k = 2, iters = 1, minCosine = 0.9, dim = 4, maxClusterRows = 8,
        subSplit = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == n && out.forall(_._2 == 0L)) // original cluster id kept
    def saltsFor(splits: Long): Map[Long, Long] = df.select(col("vec_id"),
        pmod(TextStats.hash60(col("vec_id").cast("string")), lit(splits)).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    var splits = (n + 8 - 1) / 8L // ceil(n / maxClusterRows)
    while (saltsFor(splits).groupBy(_._2).values.exists(_.size > 8))
      splits *= 2
    val salts = saltsFor(splits)
    assert(splits > 5L, "fixture must exercise the verified re-split")
    val expectedKeeps = salts.groupBy(_._2).values.map(_.keys.min).toSet
    assert(out.filter(_._3 == 1L).map(_._1).toSet == expectedKeeps)
    // refine: the per-sub-cluster survivors are themselves mutual
    // duplicates straddling every salt boundary — the optional second
    // pass re-checks cross-salt survivor pairs and collapses the
    // cluster to its single min id (what an unsalted pass would keep).
    // maxClusterRows = 16 here: a FULLY degenerate cluster keeps one
    // survivor per sub-cluster, so the refine pass's survivor bound
    // needs splits <= maxClusterRows (n <= max²/2) — at 8 the guard
    // correctly refuses, which the intercept below pins
    val refined = Dedup.semanticDedup(df, "vec_id", "embedding",
        k = 2, iters = 1, minCosine = 0.9, dim = 4, maxClusterRows = 16,
        subSplit = true, refine = true)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(refined.length == n)
    // the global min id is a first-pass survivor (min of its own
    // sub-cluster) and nothing can drop it — the one refined keep
    assert(refined.filter(_._2 == 1L).map(_._1).toSeq == Seq(0L))
    // the refine survivor guard fails loudly when sub-splitting left
    // more survivors than a single pair join may hold
    val eRef = intercept[IllegalArgumentException] {
      Dedup.semanticDedup(df, "vec_id", "embedding",
        k = 2, iters = 1, minCosine = 0.9, dim = 4, maxClusterRows = 8,
        subSplit = true, refine = true).collect()
    }
    assert(eRef.getMessage.contains("refine"), eRef.getMessage)
    // an in-bounds corpus is untouched by the guard parameters
    val small = Dedup.semanticDedup(df.limit(5), "vec_id", "embedding",
      k = 2, iters = 1, minCosine = 0.9, dim = 4, maxClusterRows = 8)
    assert(small.filter(col("keep") === 1).count() == 1L)
  }

  test("ngramOverlapBloom == exact ngramOverlap; exact even at saturating fpp; empty bench") {
    val bench = docsDf.filter(col("doc_id") < 2)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val exact = rows(Contamination.ngramOverlap(docsDf, "doc_id", "text",
      bench, "doc_id", "text", n = 3, minShared = 1L))
    assert(exact.nonEmpty)
    val bloom = rows(Contamination.ngramOverlapBloom(docsDf, "doc_id", "text",
      bench, "doc_id", "text", n = 3, minShared = 1L,
      expectedGrams = 1024L, fpp = 0.01))
    assert(bloom == exact)
    // a deliberately tiny, saturated filter: false positives everywhere,
    // result STILL exact (the join resolves them) — no false negatives
    val saturated = rows(Contamination.ngramOverlapBloom(docsDf, "doc_id", "text",
      bench, "doc_id", "text", n = 3, minShared = 1L,
      expectedGrams = 8L, fpp = 0.5))
    assert(saturated == exact)
    // empty benchmark: no pairs, no crash (Bloom agg yields NULL there)
    val none = Contamination.ngramOverlapBloom(docsDf, "doc_id", "text",
      bench.filter(col("doc_id") < 0), "doc_id", "text")
    assert(none.collect().isEmpty)
  }

  test("tokenEntropy: hand-computed; uniform=ln n, repeated=0, nulls; spam below prose") {
    val df = Seq((1L, "a b c d"), (2L, "a a a a"), (3L, "a a b b"),
      (4L, ""), (5L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = TextStats.tokenEntropy(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))).toMap
    assert(out(1L)._1 == 4L && math.abs(out(1L)._2 - math.log(4)) < 1e-9)
    assert(out(2L)._1 == 4L && math.abs(out(2L)._2) < 1e-9)
    assert(out(3L)._1 == 4L && math.abs(out(3L)._2 - math.log(2)) < 1e-9)
    assert(out(4L)._1 == 0L && out(4L)._2.isNaN)
    assert(out(5L)._1 == 0L && out(5L)._2.isNaN)
    // keyword-stuffed spam scores below same-length prose
    val df2 = Seq((1L, "buy cheap pills buy cheap pills buy cheap pills"),
      (2L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val s2 = TextStats.tokenEntropy(df2, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(s2(1L) < s2(2L) - 0.5)
  }

  test("lmScoreBigram: hand-computed conditional log-probs; short docs null; salad scores lower") {
    val df = Seq((1L, "a b a b"), (2L, "a b"), (3L, "x"), (4L, ""),
      (5L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = TextStats.lmScoreBigram(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))).toMap
    // ug: a=3 b=3 x=1, V=3; bg: (a,b)=3, (b,a)=1
    // p(b|a) = 4/6, p(a|b) = 2/6
    val d1 = (2 * math.log(4.0 / 6) + math.log(2.0 / 6)) / 3
    val d2 = math.log(4.0 / 6)
    assert(out(1L)._1 == 3L && math.abs(out(1L)._2 - d1) < 1e-9)
    assert(out(2L)._1 == 1L && math.abs(out(2L)._2 - d2) < 1e-9)
    Seq(3L, 4L, 5L).foreach { id =>
      assert(out(id)._1 == 0L && out(id)._2.isNaN) }
    // the discriminating case unigram LM cannot see: same words, one
    // doc shuffled — the bigram model scores the salad lower
    val fluent = (0L until 10L).map(i => (i, "the cat sat on the mat"))
    val salad = Seq((99L, "mat the on sat cat the"))
    val df2 = (fluent ++ salad).toDF("doc_id", "text")
    val s2 = TextStats.lmScoreBigram(df2, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(s2(99L) < s2(0L) - 0.5,
      s"shuffled doc must score clearly lower: ${s2(99L)} vs ${s2(0L)}")
  }

  test("lmScoreTrigram: hand-computed conditionals; <3-token docs null; locally-plausible scramble caught") {
    val df = Seq((1L, "a b c a b c"), (2L, "a b c"), (3L, "a b"), (4L, ""),
      (5L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = TextStats.lmScoreTrigram(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))).toMap
    // V=3; tg: (a,b,c)=2+1=3, (b,c,a)=1, (c,a,b)=1
    // bg contexts (all windows): (a,b)=4, (b,c)=3, (c,a)=1
    // p(c|a,b)=4/7, p(a|b,c)=2/6, p(b|c,a)=2/4
    val d1 = (2 * math.log(4.0 / 7) + math.log(2.0 / 6) + math.log(2.0 / 4)) / 4
    val d2 = math.log(4.0 / 7)
    assert(out(1L)._1 == 4L && math.abs(out(1L)._2 - d1) < 1e-9)
    assert(out(2L)._1 == 1L && math.abs(out(2L)._2 - d2) < 1e-9)
    Seq(3L, 4L, 5L).foreach { id =>
      assert(out(id)._1 == 0L && out(id)._2.isNaN) }
    // the case the BIGRAM model cannot see: every adjacent pair of the
    // scramble exists in the fluent corpus, but the 3-token windows
    // don't — only the trigram score separates them
    val fluent = (0L until 10L).map(i => (i, "the cat sat on the mat"))
    val scramble = Seq((99L, "on the cat sat on the"))
    val df2 = (fluent ++ scramble).toDF("doc_id", "text")
    val s3 = TextStats.lmScoreTrigram(df2, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(s3(99L) < s3(0L) - 0.3,
      s"scrambled doc must score clearly lower: ${s3(99L)} vs ${s3(0L)}")
  }

  test("persisted bench index: probe == exact overlap; stale refused; empty suite") {
    val bench = docsDf.filter(col("doc_id") < 2)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val exact = rows(Contamination.ngramOverlap(docsDf, "doc_id", "text",
      bench, "doc_id", "text", n = 3, minShared = 1L))
    val path = TestSpark.tmpDir("bench-idx") + "/bi"
    Contamination.buildBenchIndex(bench, "doc_id", "text", path,
      n = 3, expectedGrams = 1024L, fpp = 0.01)
    val probed = rows(Contamination.ngramOverlapIndexed(spark, path, docsDf,
      "doc_id", "text", minShared = 1L, verifyAgainst = Some((bench, "doc_id"))))
    assert(probed == exact)
    // minShared is a probe-time knob over the same index
    val exact2 = rows(Contamination.ngramOverlap(docsDf, "doc_id", "text",
      bench, "doc_id", "text", n = 3, minShared = 5L))
    assert(rows(Contamination.ngramOverlapIndexed(spark, path, docsDf,
      "doc_id", "text", minShared = 5L)) == exact2)
    // a grown suite makes the index stale — dangerous-stale, refused loudly
    val grown = bench.unionByName(docsDf.filter(col("doc_id") === 4))
    val e = intercept[IllegalStateException] {
      Contamination.ngramOverlapIndexed(spark, path, docsDf, "doc_id", "text",
        verifyAgainst = Some((grown, "doc_id"))).collect()
    }
    assert(e.getMessage.contains("STALE") && e.getMessage.contains("buildBenchIndex"))
    // empty suite persists + probes to zero rows without scanning the corpus
    val emptyPath = TestSpark.tmpDir("bench-idx-empty") + "/bi"
    Contamination.buildBenchIndex(bench.filter(col("doc_id") < 0),
      "doc_id", "text", emptyPath)
    assert(Contamination.ngramOverlapIndexed(spark, emptyPath, docsDf,
      "doc_id", "text").collect().isEmpty)
    // oversized suite refused at build, pointing at the lazy exact path
    val e2 = intercept[IllegalArgumentException] {
      Contamination.buildBenchIndex(bench, "doc_id", "text",
        TestSpark.tmpDir("bench-idx-big") + "/bi", maxBenchGrams = 3)
    }
    assert(e2.getMessage.contains("ngramOverlap"))
  }

  test("bottomK: deterministic, nested, growth displaces only; per-group == per-slice") {
    val df = (0L until 100L).map(i => (i, s"src${i % 3}")).toDF("id", "src")
    val k5 = Sample.bottomK(df, "id", 5).collect().map(_.getLong(0)).toSet
    assert(k5.size == 5)
    assert(Sample.bottomK(df, "id", 5).collect().map(_.getLong(0)).toSet == k5)
    val k10 = Sample.bottomK(df, "id", 10).collect().map(_.getLong(0)).toSet
    assert(k5.subsetOf(k10))
    // growing the corpus can only DISPLACE members, never admit a loser
    val grown = df.unionByName(
      (100L until 200L).map(i => (i, s"src${i % 3}")).toDF("id", "src"))
    val g5 = Sample.bottomK(grown, "id", 5).collect().map(_.getLong(0)).toSet
    assert(g5.subsetOf(k5 ++ (100L until 200L)))
    // salts decorrelate
    assert(Sample.bottomK(df, "id", 5, salt = "b").collect()
      .map(_.getLong(0)).toSet != k5)
    // NULL ids have no sampling identity: never selected
    val withNull = df.unionByName(
      Seq((null.asInstanceOf[java.lang.Long], "src0")).toDF("id", "src"))
    assert(Sample.bottomK(withNull, "id", 200).collect().forall(!_.isNullAt(0)))
    // the plan is a TakeOrdered (per-partition heaps), not a global sort
    assert(Sample.bottomK(df, "id", 5).queryExecution.executedPlan.toString
      .contains("TakeOrdered"))
    // per-group picks == bottomK run on that group's slice alone
    val pg = Sample.bottomKPerGroup(df, "src", "id", 4).collect()
      .map(r => (r.getString(1), r.getLong(0))).toSeq
    assert(pg.groupBy(_._1).forall(_._2.size == 4))
    val src0 = Sample.bottomK(df.filter(col("src") === "src0"), "id", 4)
      .collect().map(_.getLong(0)).toSet
    assert(pg.filter(_._1 == "src0").map(_._2).toSet == src0)
    // a NULL group is its own stratum with its own bottom-k — the
    // threshold join back must be null-safe, not an equi-join that
    // silently drops unattributed rows
    val withNullG = df.unionByName(Seq(
      (java.lang.Long.valueOf(1000L), null.asInstanceOf[String]),
      (java.lang.Long.valueOf(1001L), null.asInstanceOf[String]))
      .toDF("id", "src"))
    val pgN = Sample.bottomKPerGroup(withNullG, "src", "id", 4).collect()
    assert(pgN.count(_.isNullAt(1)) == 2,
      "NULL-group rows dropped by the threshold join")
    assert(pgN.count(!_.isNullAt(1)) == 12)
  }

  test("connected components: chains merge, min-id labels, isolated pairs separate") {
    // components: {1,2,3,9} via chain, {5,6}, {10,11,12} via star
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 9L), (5L, 6L),
      (10L, 11L), (10L, 12L)).toDF("id1", "id2")
    val lab = Cluster.connectedComponents(edges, "id1", "id2")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lab == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L,
      5L -> 5L, 6L -> 5L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("connected components: empty pair list yields empty labeling, no crash") {
    val edges = Seq.empty[(Long, Long)].toDF("id1", "id2")
    assert(Cluster.connectedComponents(edges, "id1", "id2").count() == 0L)
  }

  test("knnJoin: non-numeric corpus ids fail loudly instead of vanishing in the cut") {
    // a silent cast-to-NULL would be dropped by TopKByScore's null-id
    // rule — a schema mistake must be an error, not missing neighbors
    val q = Seq((0L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val c = Seq(("idA", Seq(1.0f, 0.0f)), ("idB", Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    def msgs(t: Throwable): String = {
      def chain(x: Throwable): Seq[Throwable] =
        if (x == null) Nil else x +: chain(x.getCause)
      chain(t).flatMap(c2 => Option(c2.getMessage)).mkString(" | ")
    }
    val e = intercept[Throwable] {
      Similarity.knnJoin(q, "vec_id", "embedding",
        c, "vec_id", "embedding", k = 1).collect()
    }
    assert(msgs(e).contains("knnJoin"), s"expected a loud id failure, got: $e")
  }

  test("ivf topK rejects a zero-norm centroid instead of silently emptying") {
    val emb = Seq((0L, Seq.fill(4)(0.0f)), (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfTopK(emb, "vec_id", "embedding", Seq(1.0f, 0.0f, 0.0f, 0.0f),
        k = 2, nlist = 2, nprobe = 1)
    }
    assert(e.getMessage.contains("zero norm"))
  }

  test("kmeans: planted clusters recovered, trained codebook drives ivfTopK") {
    // 3 tight clusters around orthogonal axes; ids 0,1,2 (the seeds) sit
    // in distinct clusters so Lloyd converges to the planted partition
    def v(axis: Int, wiggle: Float): Seq[Float] = {
      val a = Array.fill(4)(0.05f * wiggle); a(axis) = 1.0f; a.toSeq
    }
    val rows = (0 until 30).map { m =>
      val cl = m % 3 // ids 0,1,2 are one per cluster
      (m.toLong, v(cl, ((m * 7) % 5 - 2).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val lab = Similarity.kmeansAssign(df, "vec_id", "embedding", k = 3, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every member lands with its planted cluster's seed
    assert(rows.forall { case (id, _) => lab(id) == lab(id % 3) })
    assert(lab.values.toSet.size == 3)
    // trained codebook slots into ivfTopK: self first, high brute recall
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter($"vec_id" === 0).select("embedding").collect()(0).getSeq[Float](0)
    val cb = Similarity.kmeansCodebook(emb, "vec_id", "embedding", k = 8, iters = 1)
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", q, 10,
      nprobe = 3, codebook = Some(cb)).collect()
    assert(ivf.head.getLong(0) == 0L && math.abs(ivf.head.getDouble(1) - 1.0) < 1e-9)
    val brute = Similarity.topK(emb, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    assert(ivf.map(_.getLong(0)).count(brute) >= 5)
  }

  test("contamination: containing doc overlaps fully, disjoint doc is absent") {
    val corpus = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"),   // contains bench 0's text
      (101L, "totally unrelated words about nothing in common"), // disjoint
      (102L, "alpha beta gamma delta mixed with other words here")
    ).toDF("doc_id", "text")
    val bench = Seq((0L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("bench_id", "text")
    val out = Contamination.ngramOverlap(corpus, "doc_id", "text",
        bench, "bench_id", "text", n = 3, minShared = 1L)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(out(100L) == (6L, 6L))        // all 6 3-grams shared
    assert(out(102L)._1 == 2L)           // "alpha beta gamma", "beta gamma delta"
    assert(!out.contains(101L))
  }

  test("stratified sampling: deterministic, monotone in rate, exact at 0 and 1") {
    val df = spark.range(1000).select(col("id").as("doc_id"),
      (when(col("id") % 2 === 0, "en").otherwise("de")).as("lang"))
    def sample(rEn: Double, rDe: Double) =
      Sample.stratifiedHash(df, "lang", "doc_id", Map("en" -> rEn, "de" -> rDe))
        .collect().map(_.getLong(0)).toSet
    val half = sample(0.5, 0.0)
    assert(sample(0.5, 0.0) == half)                    // reproducible
    assert(half.subsetOf(sample(0.8, 0.0)))             // monotone in rate
    assert(sample(0.0, 1.0) == (1L until 1000L by 2).toSet) // exact: all de, no en
    assert(half.nonEmpty && half.size < 500)            // a strict, non-empty subsample
    assert(half.forall(_ % 2 == 0))                     // only the en stratum
  }

  test("splits: partition the corpus, decorrelated from sampling, stable under growth") {
    val df = spark.range(2000).select(col("id").as("doc_id"), lit("en").as("lang"))
    val out = Sample.assignSplits(df, "lang", "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val byId = out.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(byId.size == 2000)                                 // a label for every row
    val counts = byId.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(math.abs(counts("train") - 1600) < 100)            // ~80/10/10
    assert(math.abs(counts("val") - 200) < 60 && math.abs(counts("test") - 200) < 60)
    // stable under growth: labels of existing rows unchanged with more data
    val grown = Sample.assignSplits(
      spark.range(4000).select(col("id").as("doc_id"), lit("en").as("lang")),
      "lang", "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .filter(col("doc_id") < 2000)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(grown == byId)
    // decorrelated from sampling: a 10% sample spreads across all splits
    val sampled = Sample.stratifiedHash(df, "lang", "doc_id", Map("en" -> 0.1))
      .collect().map(_.getLong(0)).toSet
    val splitOfSampled = byId.filter { case (id, _) => sampled(id) }.values.toSet
    assert(splitOfSampled == Set("train", "val", "test"))
  }

  test("packByTokenBudget: contiguous offsets per group, stable under growth") {
    val df = Seq(
      (0L, "a", 100L), (1L, "a", 150L), (2L, "a", 300L), (3L, "a", 60L),
      (4L, "b", 500L), (5L, "b", 10L)
    ).toDF("doc_id", "source", "n_tokens")
    val out = Sample.packByTokenBudget(df, "source", "doc_id", "n_tokens", 256L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    // group a offsets: 0, 100, 250, 550; doc 2 straddles packs 0-2 but is
    // assigned where its FIRST token falls (pack 0); doc 3 lands in pack 2
    assert(out(0L) == (0L, 0L) && out(1L) == (100L, 0L))
    assert(out(2L) == (250L, 0L) && out(3L) == (550L, 2L))
    // group b is an independent token stream
    assert(out(4L) == (0L, 0L) && out(5L) == (500L, 1L))
    // appending a larger-id doc never reassigns existing ones
    val grown = df.unionByName(Seq((6L, "a", 999L)).toDF("doc_id", "source", "n_tokens"))
    val out2 = Sample.packByTokenBudget(grown, "source", "doc_id", "n_tokens", 256L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    assert(df.collect().map(_.getLong(0)).forall(id => out2(id) == out(id)))
    assert(out2(6L) == (610L, 2L))
  }

  test("repeatByWeight: floor+coin copies, epochs dense, default/NULL rules, growth-stable") {
    val df = (0L until 300L).map(i => (i, s"d${i % 3}")).toDF("id", "dom")
    val w = Map("d0" -> 2.5, "d1" -> 0.4, "d2" -> 1.0)
    val out = Sample.repeatByWeight(df, "dom", "id", w)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byId = out.groupBy(_._1)
    // epochs are dense 0..n-1 per id
    assert(byId.values.forall(rs =>
      rs.map(_._3).sorted.sameElements(0L until rs.length)))
    // d0: every row gets 2 or 3 copies; the coin lands ~50% (integer
    // floor part is deterministic, so counts can only be 2 or 3)
    val d0 = (0L until 300L).filter(_ % 3 == 0)
      .map(i => byId.get(i).map(_.length).getOrElse(0))
    assert(d0.forall(n => n == 2 || n == 3), s"d0 copy counts: ${d0.distinct}")
    assert(d0.count(_ == 3) > 20 && d0.count(_ == 3) < 80)
    // d1 at 0.4: 0 or 1 copies (absent ids = 0)
    val d1 = (0L until 300L).filter(_ % 3 == 1)
      .map(i => byId.get(i).map(_.length).getOrElse(0))
    assert(d1.forall(n => n == 0 || n == 1))
    assert(d1.sum > 20 && d1.sum < 60)
    // d2 at 1.0: exactly one copy, epoch 0 — pass-through
    assert((0L until 300L).filter(_ % 3 == 2)
      .forall(i => byId(i).map(_._3).toSeq == Seq(0L)))
    // default weight 0 drops unlisted domains entirely
    assert(Sample.repeatByWeight(
      df.withColumn("dom", lit("other")), "dom", "id", w).count() == 0L)
    // ... and a fractional default draws a deterministic ~25% subset
    val dflt = Sample.repeatByWeight(
        df.withColumn("dom", lit("other")), "dom", "id", w,
        defaultWeight = 0.25)
      .collect().map(_.getLong(0)).toSet
    assert(dflt.size > 40 && dflt.size < 120, s"~25% of 300, got ${dflt.size}")
    // NULL ids have no sampling identity: dropped even at integer weight
    val withNull = df.unionByName(
      Seq((null.asInstanceOf[java.lang.Long], "d2")).toDF("id", "dom"))
    assert(Sample.repeatByWeight(withNull, "dom", "id", w)
      .filter(col("id").isNull).count() == 0L)
    // growth never changes an existing row's copy count
    val grown = df.unionByName((300L until 400L).map(i => (i, "d0")).toDF("id", "dom"))
    val out2 = Sample.repeatByWeight(grown, "dom", "id", w)
      .collect().groupBy(_.getLong(0))
    assert(byId.forall { case (id, rs) => out2(id).length == rs.length })
    // weight bounds are enforced
    intercept[IllegalArgumentException] {
      Sample.repeatByWeight(df, "dom", "id", Map("d0" -> 101.0))
    }
    intercept[IllegalArgumentException] {
      Sample.repeatByWeight(df, "dom", "id", Map("d0" -> -0.1))
    }
  }

  test("selectByBudget: quality-ordered prefix per group, monotone cut, loud null/negative") {
    val df = Seq(
      // group a: scores 90 > 80 > 70 > 70(tie->id) > 10; tokens 50 each
      (0L, "a", 90L, 50L), (1L, "a", 80L, 50L), (2L, "a", 70L, 50L),
      (3L, "a", 70L, 50L), (4L, "a", 10L, 50L),
      // group b: one doc bigger than the whole budget blocks everything
      (5L, "b", 99L, 500L), (6L, "b", 50L, 10L)
    ).toDF("doc_id", "src", "score", "n_tok")
    val out = Sample.selectByBudget(df, "src", "doc_id", "score", "n_tok", 180L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(4), r.getLong(5)))).toMap
    // a: 3 x 50 fits, the 4th (cum 200) does not; tie at 70 broken by id
    assert(out.keySet == Set(0L, 1L, 2L),
      s"expected the 3-doc prefix, got ${out.keySet}")
    assert(out(0L) == (50L, 1L) && out(1L) == (100L, 2L) && out(2L) == (150L, 3L))
    // b: rank-1 doc overflows alone -> the whole group selects nothing
    // (the prefix rule; doc 6 would fit but is NOT rank 1)
    assert(!out.contains(5L) && !out.contains(6L))
    // null score fails loudly, not silently reordered
    def msgs(t: Throwable): String = {
      def chain(x: Throwable): Seq[Throwable] = if (x == null) Nil else x +: chain(x.getCause)
      chain(t).flatMap(c => Option(c.getMessage)).mkString(" | ")
    }
    val bad = Seq((7L, "c", null.asInstanceOf[java.lang.Long], 10L))
      .toDF("doc_id", "src", "score", "n_tok")
    val e = intercept[Throwable] {
      Sample.selectByBudget(bad, "src", "doc_id", "score", "n_tok", 100L).collect()
    }
    assert(msgs(e).contains("selectByBudget"), s"expected loud failure, got: $e")
  }

  test("selectByBudget: threshold pre-cut is bit-identical to the single-window formulation") {
    // one giant skewed group (16k rows — past the sketch's 2x4096-entry
    // buffer, so compaction fires) with tiny token counts and heavy
    // score ties, plus small groups that never hit the cut
    val rnd = new scala.util.Random(14)
    val rows = (0L until 20000L).map { i =>
      val g = if (i % 10 < 8) "giant" else s"g${i % 3}"
      (i, g, rnd.nextInt(1000).toLong, (1 + rnd.nextInt(5)).toLong)
    }
    val df = rows.toDF("doc_id", "src", "score", "n_tok").repartition(16)
    def rowsOf(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(4), r.getLong(5))).sortBy(_._1).toSeq
    val out = rowsOf(
      Sample.selectByBudget(df, "src", "doc_id", "score", "n_tok", 997L))
    // the executable specification: the exact window alone, no pre-cut
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(col("score").desc, col("doc_id"))
    val naive = rowsOf(df
      .withColumn("cum_tokens", sum(col("n_tok")).over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .withColumn("sel_rank", row_number().over(w).cast("long"))
      .filter(col("cum_tokens") <= 997L))
    assert(out == naive,
      s"pre-cut diverged: ${out.size} vs ${naive.size} rows")
    assert(out.nonEmpty && out.size < 20000, "cut did not engage")
    // a NULL group is its own stratum with its own budget (the
    // bottomKPerGroup NULL rule — an equi-join back would drop it)
    val withNullG = Seq(
      (1L, null.asInstanceOf[String], 10L, 5L),
      (2L, null.asInstanceOf[String], 20L, 5L),
      (3L, "a", 5L, 5L)).toDF("doc_id", "src", "score", "n_tok")
    val kept = Sample.selectByBudget(withNullG, "src", "doc_id",
        "score", "n_tok", 7L)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L), s"NULL group mishandled: $kept")
  }

  test("selectByBudget refuses a non-numeric score; repeatByWeight refuses output-column collisions") {
    // a STRING score would order lexicographically in the exact window
    // but numerically (or NULL) in the double pre-cut — refused up
    // front rather than silently cutting exact-prefix rows
    val strScore = Seq((1L, "a", "90", 10L), (2L, "a", "100", 10L))
      .toDF("doc_id", "src", "score", "n_tok")
    val e = intercept[IllegalArgumentException] {
      Sample.selectByBudget(strScore, "src", "doc_id", "score", "n_tok", 100L)
    }
    assert(e.getMessage.contains("must be numeric"), e.getMessage)
    // numeric non-long types stay accepted (the cast is monotone)
    val dbl = Seq((1L, "a", 2.5, 10L), (2L, "a", 1.5, 10L))
      .toDF("doc_id", "src", "score", "n_tok")
    assert(Sample.selectByBudget(dbl, "src", "doc_id", "score", "n_tok", 100L)
      .count() == 2L)
    // repeatByWeight APPENDS epoch + copy_id — a pre-existing column of
    // either name must fail loudly, not be silently replaced
    Seq("epoch", "copy_id").foreach { c =>
      val clash = Seq((1L, "d0", 9L)).toDF("id", "dom", c)
      val ex = intercept[IllegalArgumentException] {
        Sample.repeatByWeight(clash, "dom", "id", Map("d0" -> 1.0))
      }
      assert(ex.getMessage.contains(c), ex.getMessage)
    }
  }

  test("kmeansParallelInit: deterministic rounds, weights, top-k cut; init feeds Lloyd") {
    // two well-separated blobs + a far outlier: the d^2-proportional
    // coin must pull candidates from BOTH blobs (smallest-id seeding
    // would take every center from blob A's id range)
    val vecs = (0L until 200L).map { i =>
      val j = (i % 7).toFloat / 100f
      if (i < 100L) (i, Seq(1.0f + j, 1.0f, 0.0f, 0.0f))
      else (i, Seq(0.0f, 0.0f, 1.0f, 1.0f + j))
    }.toDF("id", "v")
    val (centers, cand) = Similarity.kmeansParallelInit(
      vecs, "id", "v", k = 2, l = 4, rounds = 2, salt = "s")
    assert(centers.length == 2)
    // coverage: one center per (angularly separated) blob — the whole
    // point of the init; smallest-id seeding would take both from blob A
    assert(centers.exists(_.head > 0.5) && centers.exists(c => c(2) > 0.5),
      s"centers did not cover both blobs: $centers")
    // candidate 0 is the smallest-id seed; indices are dense; weights
    // sum to the corpus (every row assigned somewhere)
    assert(cand.head == ((0, 0L, cand.head._3)))
    assert(cand.map(_._1) == cand.indices)
    assert(cand.map(_._3).sum == 200L)
    // centers are exactly the top-k candidates by (weight desc, idx),
    // in that order, as raw corpus vectors widened to double
    val byId = vecs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    val want = cand.sortBy { case (i, _, w) => (-w, i) }.take(2).map(_._2)
    assert(centers == want.map(byId), s"top-k cut mismatch: $want")
    // deterministic: same salt, same result; different salt may differ
    val (c2, cand2) = Similarity.kmeansParallelInit(
      vecs, "id", "v", k = 2, l = 4, rounds = 2, salt = "s")
    assert(c2 == centers && cand2 == cand)
    // the init slots into the explicit-init Lloyd refinement
    val cb = Similarity.kmeansCodebook(vecs, "v", centers, iters = 2)
    assert(cb.length == 2 && cb.head.length == 4)
    // malformed vectors are excluded, not crashed on
    val withBad = vecs.unionByName(Seq(
      (900L, Seq(1.0f, 2.0f)), // wrong dim
      (901L, null.asInstanceOf[Seq[Float]])).toDF("id", "v"))
    val (c3, _) = Similarity.kmeansParallelInit(
      withBad, "id", "v", k = 2, l = 4, rounds = 2, salt = "s")
    assert(c3 == centers, "malformed rows changed the init")
    // not enough candidates fails loudly with guidance
    val tiny = Seq((1L, Seq(1f, 1f, 1f, 1f))).toDF("id", "v")
    val e = intercept[IllegalArgumentException] {
      Similarity.kmeansParallelInit(tiny, "id", "v", k = 5, l = 2,
        rounds = 1, salt = "s")
    }
    assert(e.getMessage.contains("raise l or rounds"), e.getMessage)
  }

  test("kmeansCodebook init dial: Parallel == explicit kmeans|| + Lloyd, SmallestId == legacy") {
    val df = (0L until 60L).map(i =>
        (i, Seq(((i * 37) % 13).toFloat + 1f, ((i * 11) % 7).toFloat,
          ((i * 5) % 3).toFloat)))
      .toDF("id", "v")
    val dial = Similarity.kmeansCodebook(df, "id", "v", k = 3, iters = 2,
      init = Similarity.KmeansInit.Parallel(l = 4, rounds = 2, salt = "s"))
    val (centers, _) = Similarity.kmeansParallelInit(df, "id", "v",
      k = 3, l = 4, rounds = 2, salt = "s")
    assert(dial == Similarity.kmeansCodebook(df, "v", centers, 2),
      "Parallel dial diverged from the explicit composition")
    assert(Similarity.kmeansCodebook(df, "id", "v", 3, 2,
        Similarity.KmeansInit.SmallestId) ==
      Similarity.kmeansCodebook(df, "id", "v", 3, 2),
      "SmallestId dial diverged from the legacy path")
    // the dial flows through the assign convenience unchanged
    val viaAssign = Similarity.kmeansAssign(df, "id", "v", 3, 2,
      Similarity.KmeansInit.Parallel(4, 2, "s"))
    val direct = Similarity.kmeansAssign(df, "id", "v", dial)
    assert(viaAssign.collect().toSet == direct.collect().toSet)
  }

  test("shard writer: layout laws, manifest truth, identity guard, atomic re-publish") {
    val n = 500L
    val df = (0L until n).map(i => (i, s"s${i % 3}", 1000L - i, 1L + i % 7))
      .toDF("doc_id", "source", "score", "n_tok")
    val root = TestSpark.tmpDir("shardw")
    val path = s"$root/tree"
    ShardWriter.writeShardRecipe(df, "source", "doc_id", "score", "n_tok",
      budget = 400L, numShards = 4, path = path, salt = "t", buckets = 8,
      maxRowsPerFile = 16L)
    // the data read back == the logical recipe, row for row
    val logical = Sample.shuffleRank(
        Sample.selectByBudget(df, "source", "doc_id", "score", "n_tok", 400L)
          .drop("cum_tokens", "sel_rank"),
        "doc_id", "t", 8)
      .withColumn("shard", pmod(col("shuffle_pos"), lit(4L)))
      .select("doc_id", "n_tok", "shuffle_pos", "shard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1).toSeq
    val physical = ShardWriter.readShards(spark, path)
      .select(col("doc_id"), col("n_tok"), col("shuffle_pos"),
        col("shard").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1).toSeq
    assert(physical == logical, s"${physical.size} vs ${logical.size} rows")
    assert(physical.nonEmpty && physical.size < n)
    // manifest laws: identity recorded; per-file ranges contiguous and
    // non-overlapping in min_pos order; counts/files match the split
    assert(ShardWriter.loadIdentity(spark, path) == (("t", 8, 4, 400L)))
    val man = ShardWriter.loadManifest(spark, path).collect()
    assert(man.map(_.getAs[Long]("n_docs")).sum == physical.size.toLong)
    man.groupBy(_.getAs[Long]("shard")).foreach { case (s, files) =>
      val ordered = files.sortBy(_.getAs[Long]("min_pos"))
      ordered.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("max_pos") < b.getAs[Long]("min_pos"))
        case _ => ()
      }
      // 16-row file split: every file but the last is full
      assert(ordered.dropRight(1).forall(_.getAs[Long]("n_docs") == 16L))
      // within a shard all positions are ≡ shard (mod 4)
      files.foreach { f =>
        assert(f.getAs[Long]("min_pos") % 4L == s &&
          f.getAs[Long]("max_pos") % 4L == s)
      }
    }
    // id range columns keep the id's NATURAL type (numeric min/max)
    assert(man.head.schema("min_id").dataType ==
      org.apache.spark.sql.types.LongType)
    // re-publish under the SAME identity replaces atomically
    ShardWriter.writeShardRecipe(df, "source", "doc_id", "score", "n_tok",
      budget = 400L, numShards = 4, path = path, salt = "t", buckets = 8,
      maxRowsPerFile = 16L)
    assert(ShardWriter.readShards(spark, path).count() == physical.size.toLong)
    // ...but ANY identity drift refuses loudly: permutation salt,
    // bucket count, shard count, or selection budget
    Seq(("u", 8, 4, 400L), ("t", 16, 4, 400L), ("t", 8, 2, 400L),
        ("t", 8, 4, 300L)).foreach { case (sa, bu, ns, bd) =>
      val e = intercept[IllegalArgumentException] {
        ShardWriter.writeShardRecipe(df, "source", "doc_id", "score",
          "n_tok", budget = bd, numShards = ns, path = path, salt = sa,
          buckets = bu, maxRowsPerFile = 16L)
      }
      assert(e.getMessage.contains("identity"), e.getMessage)
    }
    // a non-dense shuffle_pos (filtering AFTER the shuffle) is refused
    // before anything is published, and the live tree survives intact
    val holes = Sample.shuffleRank(
        df.select("doc_id", "n_tok"), "doc_id", "t", 8)
      .filter(col("shuffle_pos") % 5L =!= 0L)
    val e2 = intercept[IllegalArgumentException] {
      ShardWriter.writeShards(holes, "doc_id", "n_tok", 4, s"$root/holes",
        "t", 8, -1L)
    }
    assert(e2.getMessage.contains("dense"), e2.getMessage)
    assert(!new java.io.File(s"$root/holes").exists(),
      "refused write must publish nothing")
    // a NULL token count fails loudly at write time (manifest truth)
    val badTok = Sample.shuffleRank(
        df.select($"doc_id", when($"doc_id" === 7L, null)
          .otherwise($"n_tok").cast("long").as("n_tok")),
        "doc_id", "t", 8)
    val e3 = intercept[Throwable] {
      ShardWriter.writeShards(badTok, "doc_id", "n_tok", 4, s"$root/bad",
        "t", 8, -1L)
    }
    def chain(x: Throwable): Seq[Throwable] =
      if (x == null) Nil else x +: chain(x.getCause)
    assert(chain(e3).flatMap(c => Option(c.getMessage))
      .exists(_.contains("writeShards")), e3.toString)
    // a foreign directory (no manifest) is never silently overwritten
    val foreign = s"$root/foreign"
    new java.io.File(foreign).mkdirs()
    val e4 = intercept[IllegalArgumentException] {
      ShardWriter.writeShards(
        Sample.shuffleRank(df.select("doc_id", "n_tok"), "doc_id", "t", 8),
        "doc_id", "n_tok", 4, foreign, "t", 8, -1L)
    }
    assert(e4.getMessage.contains("_manifest"), e4.getMessage)
    // consumer file order: each shard's files by committed min_pos,
    // ranges contiguous; an unknown shard fails loudly
    (0L until 4L).foreach { sh =>
      val files = ShardWriter.shardFilesInOrder(spark, path, sh)
      assert(files.nonEmpty && files.forall(_.contains(s"shard=$sh/")))
      val ranges = files.map { f =>
        val r = spark.read.parquet(f)
          .agg(min("shuffle_pos"), max("shuffle_pos")).head()
        (r.getLong(0), r.getLong(1))
      }
      ranges.sliding(2).foreach {
        case Seq(a, b) => assert(a._2 < b._1, s"shard $sh out of order")
        case _ => ()
      }
    }
    intercept[IllegalArgumentException] {
      ShardWriter.shardFilesInOrder(spark, path, 99L)
    }
    // integrity audit: the published tree verifies clean...
    val okRow = ShardWriter.verifyShards(spark, path).head()
    assert(okRow.getAs[Boolean]("ok") &&
      okRow.getAs[Long]("n_file_mismatch") == 0L &&
      okRow.getAs[Long]("n_docs") == physical.size.toLong &&
      okRow.getAs[Long]("n_files") == okRow.getAs[Long]("tree_files"),
      okRow.toString)
    // resume slice: [40, 120) equals the range filter over the full
    // read, keeps the shard column, and prunes to intersecting files
    val sliced = ShardWriter.readShardSlice(spark, path, 40L, 120L)
      .select(col("doc_id"), col("shuffle_pos"), col("shard").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._2).toSeq
    val fullSliced = ShardWriter.readShards(spark, path)
      .filter(col("shuffle_pos") >= 40L && col("shuffle_pos") < 120L)
      .select(col("doc_id"), col("shuffle_pos"), col("shard").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._2).toSeq
    assert(sliced == fullSliced && sliced.size == 80,
      s"slice mismatch: ${sliced.size} vs ${fullSliced.size}")
    // an empty slice past the corpus returns zero rows, schema intact
    val empty = ShardWriter.readShardSlice(spark, path, 1000000L, 1000001L)
    assert(empty.count() == 0L && empty.columns.contains("shuffle_pos"))
    intercept[IllegalArgumentException] {
      ShardWriter.readShardSlice(spark, path, 5L, 5L)
    }
    // ...and a lost data file is caught (file counts diverge, the
    // orphaned manifest entry mismatches, ok flips false)
    val victim = ShardWriter.shardFilesInOrder(spark, path, 2L).head
    assert(new java.io.File(victim.stripPrefix("file:")).delete())
    val badRow = ShardWriter.verifyShards(spark, path).head()
    assert(!badRow.getAs[Boolean]("ok") &&
      badRow.getAs[Long]("n_file_mismatch") >= 1L &&
      badRow.getAs[Long]("tree_files") < badRow.getAs[Long]("n_files"),
      badRow.toString)
  }

  test("shard epochs: lineage growth, pinned reads, retired-identity refusal, prune") {
    val df = (0L until 300L).map(i => (i, s"s${i % 3}", 1000L - i, 1L + i % 7))
      .toDF("doc_id", "source", "score", "n_tok")
    val root = TestSpark.tmpDir("shardep")
    def publish(budget: Long): Int = {
      val sel = Sample.selectByBudget(df, "source", "doc_id", "score",
        "n_tok", budget).drop("cum_tokens", "sel_rank")
      ShardWriter.writeShardEpoch(
        Sample.shuffleRank(sel, "doc_id", "ep", 8),
        "doc_id", "n_tok", 4, root, salt = "ep", buckets = 8,
        budget = budget, maxRowsPerFile = 16L)
    }
    // three selection identities -> three epochs, in publish order
    assert(publish(400L) == 0 && publish(300L) == 1 && publish(200L) == 2)
    assert(ShardWriter.listEpochs(spark, root) == Seq(0, 1, 2))
    assert(ShardWriter.latestEpoch(spark, root) == 2)
    // a pinned epoch read returns THAT identity's selection, not HEAD's
    val ep1Rows = ShardWriter.readShardEpoch(spark, root, 1)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val want1 = Sample.selectByBudget(df, "source", "doc_id", "score",
        "n_tok", 300L)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ep1Rows == want1 && ep1Rows.nonEmpty)
    // re-publishing the LATEST identity is idempotent (same epoch)
    assert(publish(200L) == 2)
    assert(ShardWriter.listEpochs(spark, root) == Seq(0, 1, 2))
    // ...but a RETIRED identity refuses: history is append-only
    val e = intercept[IllegalArgumentException] { publish(400L) }
    assert(e.getMessage.contains("RETIRED") &&
      e.getMessage.contains("epoch 0"), e.getMessage)
    // prune retires old epochs explicitly; pinned readers fail loudly
    assert(ShardWriter.pruneEpochsBefore(spark, root, 2) == Seq(0, 1))
    assert(ShardWriter.listEpochs(spark, root) == Seq(2))
    val e2 = intercept[IllegalArgumentException] {
      ShardWriter.readShardEpoch(spark, root, 0)
    }
    assert(e2.getMessage.contains("pruned"), e2.getMessage)
    // the lineage head is never prunable
    val e3 = intercept[IllegalArgumentException] {
      ShardWriter.pruneEpochsBefore(spark, root, 3)
    }
    assert(e3.getMessage.contains("latest"), e3.getMessage)
    // a retired identity is forgotten by the prune, so it re-enters the
    // lineage as a NEW epoch — never mutating history
    assert(publish(400L) == 3)
    assert(ShardWriter.listEpochs(spark, root) == Seq(2, 3))
    // reading the epoch ROOT as if it were one tree refuses: merged
    // epochs would collide shuffle_pos permutations silently
    val e4 = intercept[IllegalArgumentException] {
      ShardWriter.readShards(spark, root)
    }
    assert(e4.getMessage.contains("readShardEpoch"), e4.getMessage)
    // prune also removes a crashed-swap sibling of the retired epoch:
    // listEpochs would otherwise "restore" the pruned epoch from the
    // stale sibling — a retired permutation re-entering the lineage
    val sib = new java.io.File(s"$root/epoch=2.graft-compact-old")
    assert(sib.mkdirs() &&
      new java.io.File(sib, "stale.parquet").createNewFile())
    assert(ShardWriter.pruneEpochsBefore(spark, root, 3) == Seq(2))
    assert(!sib.exists, "stale swap sibling survived the prune")
    assert(ShardWriter.listEpochs(spark, root) == Seq(3))
  }

  test("shard epochs: a plain tree or foreign dir is never adopted as an epoch root") {
    val df = (0L until 100L).map(i => (i, 2L)).toDF("doc_id", "n_tok")
    val shuffled = Sample.shuffleRank(df, "doc_id", "g", 8)
    val root = TestSpark.tmpDir("shardrt")
    // a published SINGLE tree: writing epoch=0 inside it would corrupt
    // the live layout (conflicting partition depths)
    ShardWriter.writeShards(shuffled, "doc_id", "n_tok", 4, s"$root/tree",
      "g", 8, -1L)
    val e = intercept[IllegalArgumentException] {
      ShardWriter.writeShardEpoch(shuffled, "doc_id", "n_tok", 4,
        s"$root/tree", "g", 8, -1L)
    }
    assert(e.getMessage.contains("single shard tree"), e.getMessage)
    // ...and a directory holding non-epoch entries is foreign
    val foreign = new java.io.File(s"$root/foreign")
    assert(foreign.mkdirs() &&
      new java.io.File(foreign, "notes.txt").createNewFile())
    val e2 = intercept[IllegalArgumentException] {
      ShardWriter.writeShardEpoch(shuffled, "doc_id", "n_tok", 4,
        s"$root/foreign", "g", 8, -1L)
    }
    assert(e2.getMessage.contains("non-epoch entries"), e2.getMessage)
  }

  test("shard epochs: epochDiff is the exact symmetric difference with holding-epoch tokens") {
    val root = TestSpark.tmpDir("sharddf")
    def publish(ids: Seq[Long], budget: Long): Int =
      ShardWriter.writeShardEpoch(
        Sample.shuffleRank(
          ids.map(i => (i, 10L + i)).toDF("doc_id", "n_tok"),
          "doc_id", "df", 8),
        "doc_id", "n_tok", 4, root, salt = "df", buckets = 8,
        budget = budget)
    assert(publish(0L until 100L, 1L) == 0)
    assert(publish(50L until 150L, 2L) == 1) // 50 stay, 50 leave, 50 enter
    val diff = ShardWriter.epochDiff(spark, root, 0, 1)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(diff.size == 100)
    assert(diff.filter(_._2 == "removed").map(_._1) == (0L until 50L) &&
      diff.filter(_._2 == "added").map(_._1) == (100L until 150L))
    // token counts come from the epoch that HOLDS the row
    assert(diff.forall { case (id, _, tok) => tok == 10L + id })
    // direction flips the sides
    val back = ShardWriter.epochDiff(spark, root, 1, 0)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(back(25L) == "added" && back(125L) == "removed")
    // unknown epoch / self-diff refuse
    intercept[IllegalArgumentException] {
      ShardWriter.epochDiff(spark, root, 0, 5)
    }
    intercept[IllegalArgumentException] {
      ShardWriter.epochDiff(spark, root, 1, 1)
    }
  }

  test("shard epochs: resumeIntoEpoch continues by document identity, not position") {
    val root = TestSpark.tmpDir("shardre")
    def publish(ids: Seq[Long], budget: Long): Int =
      ShardWriter.writeShardEpoch(
        Sample.shuffleRank(
          ids.map(i => (i, 3L)).toDF("doc_id", "n_tok"),
          "doc_id", "re", 8),
        "doc_id", "n_tok", 4, root, salt = "re", buckets = 8,
        budget = budget)
    assert(publish(0L until 100L, 1L) == 0)
    assert(publish(40L until 160L, 2L) == 1) // re-selection overlaps [40,100)
    // the run consumed epoch 0's positions [0, 30)
    val consumedIds = ShardWriter
      .readShardSlice(spark, ShardWriter.epochPath(root, 0), 0L, 30L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(consumedIds.size == 30)
    val cont = ShardWriter.resumeIntoEpoch(spark, root, 0, 1,
        step = 3L, batchSize = 10L)
      .select("doc_id", "shuffle_pos").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // exactly the new epoch's documents minus the consumed ones
    val wantIds = (40L until 160L).toSet -- consumedIds
    assert(cont.map(_._1).toSet == wantIds, s"${cont.size} vs ${wantIds.size}")
    // ...in the NEW epoch's permutation (its own dense positions)
    val ep1Pos = ShardWriter.readShardEpoch(spark, root, 1)
      .select("doc_id", "shuffle_pos").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cont.forall { case (id, pos) => ep1Pos(id) == pos })
    // step 0 = nothing consumed = the whole new epoch
    assert(ShardWriter.resumeIntoEpoch(spark, root, 0, 1, 0L, 10L)
      .count() == 120L)
    // self-resume refuses (it would be positionless nonsense)
    intercept[IllegalArgumentException] {
      ShardWriter.resumeIntoEpoch(spark, root, 1, 1, 1L, 10L)
    }
  }

  test("shard epochs: crash between swap renames is restored before identity check") {
    val df = (0L until 200L).map(i => (i, "s0", 1000L - i, 2L))
      .toDF("doc_id", "source", "score", "n_tok")
    val root = TestSpark.tmpDir("shardcr")
    val path = s"$root/tree"
    ShardWriter.writeShards(
      Sample.shuffleRank(df.select("doc_id", "n_tok"), "doc_id", "c", 8),
      "doc_id", "n_tok", 4, path, "c", 8, -1L)
    val before = ShardWriter.readShards(spark, path).count()
    // simulate a crash between stagedSwap's two renames: live absent,
    // only the .graft-compact-old sibling remains
    assert(new java.io.File(path)
      .renameTo(new java.io.File(path + ".graft-compact-old")))
    // a drifted-identity re-run must RESTORE then REFUSE — not silently
    // overwrite the recovered tree
    val e = intercept[IllegalArgumentException] {
      ShardWriter.writeShards(
        Sample.shuffleRank(df.select("doc_id", "n_tok"), "doc_id", "c", 8),
        "doc_id", "n_tok", 4, path, "DRIFTED", 8, -1L)
    }
    assert(e.getMessage.contains("identity"), e.getMessage)
    assert(ShardWriter.readShards(spark, path).count() == before,
      "recovered tree lost or changed by the refused re-run")
    // the crashed-epoch variant: listEpochs restores the tree so its
    // number is never silently reused
    val eroot = TestSpark.tmpDir("shardcr2")
    val sel = Sample.shuffleRank(df.select("doc_id", "n_tok"), "doc_id",
      "c", 8)
    assert(ShardWriter.writeShardEpoch(sel, "doc_id", "n_tok", 4, eroot,
      "c", 8, -1L) == 0)
    assert(new java.io.File(s"$eroot/epoch=0")
      .renameTo(new java.io.File(s"$eroot/epoch=0.graft-compact-old")))
    assert(ShardWriter.listEpochs(spark, eroot) == Seq(0))
    assert(new java.io.File(s"$eroot/epoch=0").isDirectory)
  }

  test("shard writer: resumeFrom sugar, zero-row refusal, duplicate-position forgery") {
    val df = (0L until 320L).map(i => (i, 1L + i % 5))
      .toDF("doc_id", "n_tok")
    val root = TestSpark.tmpDir("shardrz")
    val path = s"$root/tree"
    val shuffled = Sample.shuffleRank(df, "doc_id", "r", 8)
    ShardWriter.writeShards(shuffled, "doc_id", "n_tok", 4, path,
      "r", 8, -1L, maxRowsPerFile = 16L)
    // resumeFrom(step, batch) == the [step*batch, N) tail of the
    // permutation, crossing file boundaries within shards
    val resumed = ShardWriter.resumeFrom(spark, path, step = 3L,
        batchSize = 32L)
      .select("doc_id", "shuffle_pos").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._2).toSeq
    val wantTail = shuffled.filter(col("shuffle_pos") >= 96L)
      .select("doc_id", "shuffle_pos").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._2).toSeq
    assert(resumed == wantTail && resumed.size == 320 - 96)
    // a resume past the corpus end is a loud contract violation
    val e = intercept[IllegalArgumentException] {
      ShardWriter.resumeFrom(spark, path, step = 10L, batchSize = 32L)
    }
    assert(e.getMessage.contains("past the corpus end"), e.getMessage)
    // zero selected rows refuse with the INTENDED message (not an
    // opaque unreadable-staged-tree failure)
    val e2 = intercept[IllegalArgumentException] {
      ShardWriter.writeShards(shuffled.filter(lit(false)), "doc_id",
        "n_tok", 4, s"$root/empty", "r", 8, -1L)
    }
    assert(e2.getMessage.contains("zero rows"), e2.getMessage)
    // forged input: positions {0,1,1,3,4,...,n-1} satisfy the count,
    // span, mod(K=1) and shard-range laws — only the distinct law
    // catches the duplicate masking the hole
    val forged = df.limit(5).withColumn("shuffle_pos",
      when(col("doc_id") === 2L, lit(1L)).otherwise(col("doc_id")))
    val e3 = intercept[IllegalArgumentException] {
      ShardWriter.writeShards(forged, "doc_id", "n_tok", 1,
        s"$root/forged", "r", 8, -1L)
    }
    assert(e3.getMessage.contains("distinct"), e3.getMessage)
  }

  test("repeatByWeight: copy_id is collision-free at weights near the 100-epoch cap") {
    val df = (0L until 50L).map(i => (i, "d0")).toDF("id", "dom")
    val out = Sample.repeatByWeight(df, "dom", "id", Map("d0" -> 99.5))
    val n = out.count()
    assert(n >= 50L * 99 && n <= 50L * 100, s"unexpected copy volume $n")
    assert(out.select("copy_id").distinct().count() == n,
      "copy_id collided under a near-cap weight")
    // the struct key orders (id, epoch) — the shard-layout order
    val first = out.orderBy("copy_id").limit(3).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(first == Seq((0L, 0L), (0L, 1L), (0L, 2L)))
    // ...where the hand-rolled numeric key the docs warn about WOULD
    // collide at this weight
    assert(out.select((col("id") * 4L + col("epoch")).as("k"))
      .distinct().count() < n)
  }

  test("shuffleRank: dense permutation, == one global window, salt selects, loud NULL") {
    val df = spark.range(5000).select(col("id").as("doc_id"))
    val out = Sample.shuffleRank(df, "doc_id", salt = "a", buckets = 32)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // a dense permutation of [0, N)
    assert(out.size == 5000 && out.values.toSet == (0L until 5000L).toSet)
    // deterministic: same salt+buckets -> same permutation
    assert(Sample.shuffleRank(df, "doc_id", salt = "a", buckets = 32)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == out)
    // bit-identical to the single global window over (key mod B, key, id)
    val key = graft.functions.native.hash60(
      concat(lit("shuffle:a:"), col("doc_id").cast("string")))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(pmod(key, lit(32L)), key, col("doc_id"))
    val direct = df.withColumn("p", row_number().over(w).cast("long") - 1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == direct)
    // the salt selects the permutation; it actually shuffles (ids and
    // positions decorrelate)
    val salted = Sample.shuffleRank(df, "doc_id", salt = "b", buckets = 32)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(salted != out)
    assert((0L until 100L).count(i => out(i) < 100L) < 20)
    // NULL ids fail loudly (a dropped row would shift every position)
    def msgs(t: Throwable): String = {
      def chain(x: Throwable): Seq[Throwable] =
        if (x == null) Nil else x +: chain(x.getCause)
      chain(t).flatMap(c => Option(c.getMessage)).mkString(" | ")
    }
    val withNull = df.unionByName(
      Seq(Tuple1(null.asInstanceOf[java.lang.Long])).toDF("doc_id"))
    val e = intercept[Throwable] {
      Sample.shuffleRank(withNull, "doc_id").collect()
    }
    assert(msgs(e).contains("shuffleRank"), s"expected loud NULL-id, got $e")
  }

  test("repetition: repeated n-gram multiplicity, clean text scores 1") {
    val df = Seq(
      (0L, "spam spam spam spam spam spam"),           // "spam spam spam" x4
      (1L, "one two three four five six seven"),       // all 3-grams unique
      (2L, "ab")                                       // shorter than n
    ).toDF("doc_id", "text")
    val out = TextStats.repetition(df, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(0L) == (4L, 4L))  // 4 positions, all the same 3-gram
    assert(out(1L) == (5L, 1L))
    assert(out(2L) == (1L, 1L))
  }

  test("KMV sketch: exact below k, within 15% above k, merge == one-pass") {
    val kmv = Sketch.KMV(64).toUdaf
    // below k: exact; NULL hashes skipped like count(DISTINCT)
    val small = spark.range(40).select(TextStats.hash60(col("id").cast("string")).as("h"))
    assert(small.agg(kmv($"h")).collect()(0).getLong(0) == 40L)
    val withNulls = small.unionByName(
      spark.range(2).select(lit(null).cast("long").as("h")))
    assert(withNulls.agg(kmv($"h")).collect()(0).getLong(0) == 40L)
    // above k: a 10k-distinct stream estimates within 15%
    val big = spark.range(10000).select(TextStats.hash60(col("id").cast("string")).as("h"))
    val est = big.agg(kmv($"h")).collect()(0).getLong(0)
    assert(math.abs(est - 10000.0) / 10000.0 < 0.15, s"estimate $est")
    // partition-merge determinism: 1 partition == 8 partitions
    val est8 = big.repartition(8).agg(kmv($"h")).collect()(0).getLong(0)
    assert(est8 == est)
    // duplicates don't inflate the k-min set
    val dup = big.unionByName(big)
    assert(dup.agg(kmv($"h")).collect()(0).getLong(0) == est)
  }

  test("kmvOverlap: exact below k, driver-mirror exact above k, partition-invariant") {
    // exact regime: 15 distinct union hashes, 5 shared — every output
    // value is the true one
    val a = spark.range(1, 11).select($"id".as("h"))     // 1..10
    val b = spark.range(6, 16).select($"id".as("h"))     // 6..15
    val ex = Sketch.kmvOverlap(a, "h", b, "h", k = 64).collect()(0)
    assert((ex.getLong(0), ex.getLong(1), ex.getLong(2), ex.getLong(3)) ==
      ((64L, 15L, 15L, 5L)))
    assert(math.abs(ex.getDouble(4) - 5.0 / 15.0) < 1e-15)
    assert(ex.getLong(5) == 5L)
    // sketch regime: 6k-distinct sides with 2k shared, k=64 — mirror
    // the whole estimator from the raw hashes and require bit-equality
    def hs(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(TextStats.hash60($"id".cast("string")).as("h"))
    val (bigA, bigB) = (hs(0, 4000), hs(2000, 6000))
    val got = Sketch.kmvOverlap(bigA, "h", bigB, "h", k = 64).collect()(0)
    val rawA = bigA.collect().map(_.getLong(0)).toSet
    val rawB = bigB.collect().map(_.getLong(0)).toSet
    val kmin = (rawA ++ rawB).toSeq.sorted.take(64)
    val inter = kmin.count(h => rawA(h) && rawB(h))
    val uEst = Math.floor(63.0 * Sketch.Two60 / kmin.last + 0.5).toLong
    val j = inter.toDouble / 64.0
    assert(got.getLong(1) == 64L && got.getLong(2) == uEst)
    assert(got.getLong(3) == inter.toLong && got.getDouble(4) == j)
    assert(got.getLong(5) == Math.floor(j * uEst.toDouble + 0.5).toLong)
    // and the estimates are actually good: truth is union 6000, J = 1/3
    assert(math.abs(uEst - 6000.0) / 6000.0 < 0.25)
    assert(math.abs(j - 1.0 / 3.0) < 0.15)
    // partition layout cannot change a deterministic sketch
    val got8 = Sketch.kmvOverlap(bigA.repartition(8), "h",
      bigB.repartition(5), "h", k = 64).collect()(0)
    assert(got8.getLong(2) == got.getLong(2) && got8.getDouble(4) == got.getDouble(4))
    // the tagged single-pass form builds the identical sketches
    val tagged = bigA.select(lit(0L).as("side"), $"h")
      .unionByName(bigB.select(lit(1L).as("side"), $"h"))
    val gotT = Sketch.kmvOverlapTagged(tagged, "side", "h", k = 64).collect()(0)
    assert((0 until 6).forall(i => gotT.get(i) == got.get(i)), s"$gotT vs $got")
    // an empty side is exact-zero overlap, not an error
    val oneSide = Sketch.kmvOverlapTagged(
      bigA.select(lit(0L).as("side"), $"h"), "side", "h", k = 64).collect()(0)
    assert(oneSide.getLong(3) == 0L && oneSide.getDouble(4) == 0.0)
    // a side other than 0/1 is a caller bug — refused loudly
    intercept[IllegalArgumentException] {
      Sketch.kmvOverlapTagged(
        bigA.select(lit(2L).as("side"), $"h"), "side", "h", k = 64)
    }
  }

  test("profile: rank-based discrete percentiles, nulls excluded, per-group") {
    val df = Seq(("a", 10L), ("a", 20L), ("a", 30L), ("a", 40L),
      ("b", 7L), ("b", 9L)).toDF("g", "v")
      .unionByName(Seq(("a", null.asInstanceOf[java.lang.Long]))
        .toDF("g", "v"))
    val out = TextStats.profile(df, "g", "v", Seq(0.25, 0.5, 0.9))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // group a (n=4, null excluded): ranks ceil(1)=1, ceil(2)=2, ceil(3.6)=4
    assert(out("a") == ((4L, 10L, 40L, 10L, 20L, 40L)))
    // group b (n=2): ranks ceil(0.5)=1, ceil(1)=1, ceil(1.8)=2
    assert(out("b") == ((2L, 7L, 9L, 7L, 7L, 9L)))
    // duplicate percentiles would emit two identically-named columns,
    // making any later select-by-name ambiguous — rejected up front
    val dup = intercept[IllegalArgumentException] {
      TextStats.profile(df, "g", "v", Seq(0.5, 0.5))
    }
    assert(dup.getMessage.contains("distinct"))
  }

  test("normalizeWhitespace: collapses runs, trims edges, caps blank lines, keeps NULL") {
    val df = Seq(
      (0L, "  a\t\tb  c  "),
      (1L, "one \n  two\n\n\n\nthree"),
      (2L, null)
    ).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
        TextStats.normalizeWhitespace(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(out(0L) == Some("a b c"))
    assert(out(1L) == Some("one\ntwo\n\nthree"))
    assert(out(2L) == None)
  }

  test("scrubPii: emails, urls, digit runs redacted in order; clean text untouched") {
    val df = Seq(
      (0L, "mail me at jo.doe+spam@corp.io or visit https://ex.org/x?id=9988776655 now"),
      (1L, "call 5551234567 twice 5551234567"),
      (2L, "nothing sensitive here"),
      (3L, "short num 123456 stays"),                      // 6 digits < threshold
      (4L, "see https://x.co/a\r\nnext line")              // CRLF ends the URL
    ).toDF("doc_id", "text")
    val out = TextStats.scrubPii(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out(0L) == ((1L, 1L, 0L, "mail me at <EMAIL> or visit <URL> now")))
    assert(out(1L) == ((0L, 0L, 2L, "call <NUM> twice <NUM>")))
    assert(out(2L) == ((0L, 0L, 0L, "nothing sensitive here")))
    assert(out(3L) == ((0L, 0L, 0L, "short num 123456 stays")))
    assert(out(4L) == ((0L, 1L, 0L, "see <URL>\r\nnext line"))) // \r survives
  }

  test("tfIdf: tf counts occurrences, df counts docs, rare terms outscore common ones") {
    val df = Seq((0L, "alpha alpha beta"), (1L, "beta gamma"), (2L, "beta"))
      .toDF("doc_id", "text")
    val out = TextStats.tfIdf(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(out((0L, "alpha")) == ((2L, 1L, 3L, out((0L, "alpha"))._4)))
    assert(out((0L, "beta"))._1 == 1L && out((0L, "beta"))._2 == 3L)
    assert(out((1L, "gamma"))._2 == 1L)
    // alpha (tf 2, df 1) must outscore beta (tf 1, df 3) in doc 0
    assert(out((0L, "alpha"))._4 > out((0L, "beta"))._4)
    // smoothed idf floor: a token in every doc still scores tf * (ln(1)+1) = tf
    assert(math.abs(out((2L, "beta"))._4 - 1.0) < 1e-12)
  }

  test("lmScore: hand-computed add-one unigram log-probs; tokenless docs score null") {
    val df = Seq((1L, "a a b"), (2L, "a c"), (3L, "")).toDF("doc_id", "text")
    val out = TextStats.lmScore(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    // counts a=3 b=1 c=1, T=5, V=3 → p(a)=4/8, p(b)=p(c)=2/8
    val exp1 = (2 * math.log(0.5) + math.log(0.25)) / 3
    val exp2 = (math.log(0.5) + math.log(0.25)) / 2
    assert(out(1L)._1 == 3L && math.abs(out(1L)._2.get - exp1) < 1e-9)
    assert(out(2L)._1 == 2L && math.abs(out(2L)._2.get - exp2) < 1e-9)
    assert(out(3L) == ((0L, None)))
    // common-vocab docs score HIGHER (closer to 0) than rare-vocab docs
    assert(out(1L)._2.get > out(2L)._2.get)
    assert(out.size == 3)
  }

  test("importanceWeights: matches an independent driver-side mirror; target-like docs rank higher") {
    import graft.ops.Importance
    val raw = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the rug"),
      (3L, "quantum flux capacitor overload overload"),
      (4L, "")).toDF("doc_id", "text")
    val target = raw.filter($"doc_id" <= 2) // cat-sentence distribution
    val nB = 1 << 14
    val out = Importance.importanceWeights(raw, target, "doc_id", "text", nB)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap

    // independent mirror: same formula computed driver-side from raw
    // strings through the SAME public hash — no Spark plan shared
    def grams(text: String): Seq[Long] = {
      val t = text.toLowerCase.split("\\s+").toSeq
      val gs = if (t.size <= 1) Seq(t.mkString(" "))
               else t.sliding(2).map(_.mkString(" ")).toSeq
      gs.filter(_.nonEmpty).map(g => graft.functions.Hash60Kernel.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(g)) % nB)
    }
    val rawDocs = Map(1L -> "the cat sat on the mat", 2L -> "the cat sat on the rug",
      3L -> "quantum flux capacitor overload overload", 4L -> "")
    val rawCnt = rawDocs.values.flatMap(grams).groupBy(identity).map { case (k, v) => k -> v.size }
    val tgtCnt = (1L to 2L).flatMap(id => grams(rawDocs(id))).groupBy(identity).map { case (k, v) => k -> v.size }
    val tRaw = rawCnt.values.sum; val tTgt = tgtCnt.values.sum
    def logw(id: Long): Double = grams(rawDocs(id)).groupBy(identity).map { case (b, occ) =>
      occ.size * (math.log((tgtCnt.getOrElse(b, 0) + 1).toDouble / (tTgt + nB)) -
        math.log((rawCnt(b) + 1).toDouble / (tRaw + nB)))
    }.sum
    for (id <- Seq(1L, 2L, 3L)) {
      assert(out(id)._1 == grams(rawDocs(id)).size)
      assert(math.abs(out(id)._2.get - logw(id)) < 1e-9, s"doc $id")
    }
    assert(out(4L) == ((0L, None)))
    // the target-distribution docs must outrank the off-target one
    assert(out(1L)._2.get > out(3L)._2.get && out(2L)._2.get > out(3L)._2.get)
    intercept[IllegalArgumentException] {
      Importance.importanceWeights(raw, target, "doc_id", "text", nBuckets = 1)
    }
  }

  test("resampleByWeight: deterministic Gumbel top-k == driver mirror; weight-proportional; nulls excluded") {
    import graft.ops.Importance
    // heavy half (log w = 5) ids 0-49, light half (log w = -5) ids 50-99,
    // one featureless doc with a null weight
    val w = spark.range(100).select(col("id").as("doc_id"),
        when(col("id") < 50, lit(5.0)).otherwise(lit(-5.0)).as("log_weight"))
      .unionByName(Seq((100L, Option.empty[Double])).toDF("doc_id", "log_weight"))
    val sel = Importance.resampleByWeight(w, "doc_id", "log_weight", 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(sel.length == 20 && !sel.exists(_._1 == 100L))
    // exp(10) odds ratio: the heavy half must dominate the draw
    assert(sel.count(_._1 < 50) >= 18)

    // driver-side mirror through the same public hash: the selection and
    // its order must replay exactly
    def key(id: Long, lw: Double, seed: Long): Double = {
      val h = graft.functions.Hash60Kernel.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"$id:$seed"))
      lw + -math.log(-math.log((h.toDouble + 0.5d) / 1152921504606848000.0d))
    }
    val mirror = ((0L until 50L).map(id => (id, 5.0)) ++
        (50L until 100L).map(id => (id, -5.0)))
      .map { case (id, lw) => (id, lw, key(id, lw, 0L)) }
      .sortBy { case (id, _, k) => (-k, id) }.take(20)
    assert(sel.map(_._1).toSeq == mirror.map(_._1))
    sel.zip(mirror).foreach { case ((_, _, kSpark), (_, _, kMirror)) =>
      assert(math.abs(kSpark - kMirror) < 1e-9) }

    // a different seed redraws the noise (same heavy pool, new subset)
    val sel1 = Importance.resampleByWeight(w, "doc_id", "log_weight", 20, seed = 1L)
      .collect().map(_.getLong(0)).toSet
    assert(sel1 != sel.map(_._1).toSet)
    intercept[IllegalArgumentException] {
      Importance.resampleByWeight(w, "doc_id", "log_weight", 0)
    }
  }

  test("mixtureSample: capped + fractional rates, unlisted/null domains dropped, mirror-exact") {
    import graft.ops.Sample
    val listed = (0 until 10).map(i => (i.toLong, "a")) ++
      (100 until 200).map(i => (i.toLong, "b")) ++
      (300 until 305).map(i => (i.toLong, "c"))
    val df = (listed ++ Seq((400L, "unlisted"), (401L, null.asInstanceOf[String])))
      .toDF("doc_id", "dom")
    val out = Sample.mixtureSample(df, "dom", "doc_id",
        Map("a" -> 0.5, "b" -> 0.3, "c" -> 0.2), nOut = 20L)
      .collect().map(r => r.getLong(0) -> r.getString(1))
    // quota_a = 0.5*20 = 10 over 10 rows -> rate caps at 1.0: all kept
    assert(out.count(_._2 == "a") == 10)
    assert(out.forall(p => Set("a", "b", "c")(p._2)))

    // driver mirror: same rates, same coin, exact set equality
    def bucket(dom: String, id: Long): Long =
      graft.functions.Hash60Kernel.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"sample:$dom:$id")) % 1000000L
    val rates = Map("a" -> 1.0,
      "b" -> math.min(1.0, (0.3 * 20L) / 100L),
      "c" -> math.min(1.0, (0.2 * 20L) / 5L))
    val expected = listed.filter { case (id, d) =>
      bucket(d, id) < Math.round(rates(d) * 1e6) }
    assert(out.toSet == expected.toSet)
    assert(out.exists(_._2 == "b") && out.count(_._2 == "b") < 50,
      "fractional domain must be thinned, not emptied (sanity of the fixture)")

    // NULL-id rows have no sampling identity: they are never drawn AND
    // never counted toward a domain's supply (rates must not deflate)
    val withNullIds = df.unionByName(
      Seq((Option.empty[Long], "b"), (Option.empty[Long], "b")).toDF("doc_id", "dom"))
    val out2 = Sample.mixtureSample(withNullIds, "dom", "doc_id",
        Map("a" -> 0.5, "b" -> 0.3, "c" -> 0.2), nOut = 20L)
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(out2.toSet == out.toSet)

    intercept[IllegalArgumentException] {
      Sample.mixtureSample(df, "dom", "doc_id", Map("a" -> 0.6, "b" -> 0.6), 10L)
    }
    intercept[IllegalArgumentException] {
      Sample.mixtureSample(df, "dom", "doc_id", Map("a" -> 0.5), 0L)
    }
  }

  test("sampleQuantiles: whole-set sample == hand percentiles; subsample mirrors bottomK; nulls ignored") {
    import graft.ops.Sample
    // k >= n: the sample is the whole set -> exact type-7 percentiles
    val df = (1 to 101).map(i => (i.toLong, i.toDouble)).toDF("doc_id", "v")
    val out = Sample.sampleQuantiles(df, "doc_id", "v", Seq(0.0, 0.25, 0.5, 1.0), 200)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(out(0.0) == 1.0 && out(0.25) == 26.0 &&
      out(0.5) == 51.0 && out(1.0) == 101.0)

    // k < n: the probed rows are exactly the bottom-k hash sample,
    // mirrored driver-side through the same public hash + type-7 formula
    def bk(id: Long): Long = graft.functions.Hash60Kernel.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString(s"bottomk::$id"))
    val sampleVals = (1L to 101L).sortBy(id => (bk(id), id)).take(50)
      .map(_.toDouble).sorted
    def q7(sorted: Seq[Double], p: Double): Double = {
      val pos = p * (sorted.size - 1)
      val (lo, hi) = (math.floor(pos).toInt, math.ceil(pos).toInt)
      if (lo == hi) sorted(lo)
      else sorted(lo) * (hi - pos) + sorted(hi) * (pos - lo)
    }
    val out2 = Sample.sampleQuantiles(df, "doc_id", "v", Seq(0.1, 0.5, 0.9), 50)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    for (p <- Seq(0.1, 0.5, 0.9))
      assert(math.abs(out2(p) - q7(sampleVals, p)) < 1e-9, s"p=$p")

    // a null value consumes a sample slot but is ignored by the agg
    val dfN = df.unionByName(Seq((500L, Option.empty[Double])).toDF("doc_id", "v"))
    val outN = Sample.sampleQuantiles(dfN, "doc_id", "v", Seq(0.5), 200)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(outN(0.5) == 51.0)

    // empty sample: still one row per probability, null estimates
    val empty = Sample.sampleQuantiles(df.filter(lit(false)), "doc_id", "v",
      Seq(0.25, 0.75), 10).collect()
    assert(empty.length == 2 && empty.forall(_.isNullAt(1)))

    intercept[IllegalArgumentException] {
      Sample.sampleQuantiles(df, "doc_id", "v", Seq(1.5), 10)
    }
  }

  test("containmentPairs: subset scores 1.0 toward its superset, directional, thresholded") {
    val df = Seq(
      (1L, "a b c d e f"),     // 4 distinct 3-shingles
      (2L, "a b c d e f g h"), // those 4 plus 2 more
      (3L, "x y z w")).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(df, "doc_id", "text", 3, minContainment = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out((1L, 2L)) == 1.0)                       // doc1 fully inside doc2
    assert(math.abs(out((2L, 1L)) - 4.0 / 6.0) < 1e-12) // reverse is partial
    assert(!out.keySet.exists(p => p._1 == 3L || p._2 == 3L))
    // the subset signal jaccard understates: same pair, lower score
    val j = Dedup.jaccardPairs(df, "doc_id", "text", 3, cacheIndex = false)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((1L, 2L)) < out((1L, 2L)))
    intercept[IllegalArgumentException] {
      Dedup.containmentPairs(df, "doc_id", "text", 3, minContainment = 1.5)
    }
  }

  test("groupCentroids: exact flat means; wrong-length and null-element vectors dropped whole") {
    val df = Seq(
      (1L, 0, Seq(1.0f, 2.0f)),
      (2L, 0, Seq(3.0f, 4.0f)),
      (3L, 1, Seq(10.0f, -2.0f)),
      (4L, 1, Seq(2.0f, 2.0f, 9.9f))) // wrong length -> dropped
      .toDF("vec_id", "label", "embedding")
    val out = Similarity.groupCentroids(df, "label", "embedding", 2)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out.size == 4)
    assert(out((0, 0L)) == 2.0 && out((0, 1L)) == 3.0)
    assert(out((1, 0L)) == 10.0 && out((1, 1L)) == -2.0)

    // a null ELEMENT drops the vector whole — it must not skip the sum
    // while still counting toward the divisor
    val dfN = Seq((1L, 0, Seq(Option(1.0f), Option.empty[Float])),
        (2L, 0, Seq(Option(5.0f), Option(7.0f))))
      .toDF("vec_id", "label", "embedding")
    val outN = Similarity.groupCentroids(dfN, "label", "embedding", 2)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(outN((0, 0L)) == 5.0 && outN((0, 1L)) == 7.0)
    intercept[IllegalArgumentException] {
      Similarity.groupCentroids(df, "label", "embedding", 0)
    }
  }

  test("chunk: overlapping windows cover all tokens, short docs yield one chunk") {
    val df = Seq((0L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"),  // 10 tokens
      (1L, "a b"), (2L, "solo")).toDF("doc_id", "text")
    val out = TextStats.chunk(df, "doc_id", "text", chunkTokens = 4, overlap = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getString(2), r.getLong(3)))).toMap
    // stride 3, starts 1,4,7 over 10 tokens: [1..4],[4..7],[7..10]
    assert(out((0L, 0L)) == ("t1 t2 t3 t4", 4L))
    assert(out((0L, 1L)) == ("t4 t5 t6 t7", 4L))
    assert(out((0L, 2L)) == ("t7 t8 t9 t10", 4L))
    assert(out((1L, 0L)) == ("a b", 2L))
    assert(out((2L, 0L)) == ("solo", 1L))
    assert(out.size == 5)
    // every token of doc 0 appears in some chunk
    val covered = out.collect { case ((0L, _), (t, _)) => t.split(" ") }.flatten.toSet
    assert((1 to 10).forall(i => covered(s"t$i")))
  }

  test("vocab: counts, minCount floor, and (cnt desc, token) order") {
    val df = Seq("a b b c c c", "c d d", "").toDF("text")
    val out = TextStats.vocab(df, "text", k = 10, minCount = 2L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("c", 4L), ("b", 2L), ("d", 2L)))  // 'a' (1) below floor
  }

  test("langId picks en for English and de for German stopword text") {
    val out = docsDf.select($"doc_id", TextStats.langId($"text").as("g")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(0L) == "en" && out(4L) == "de")
  }

  test("quality + token stats are sane") {
    val q = TextStats.quality(docsDf, "text").filter($"doc_id" === 0).collect()(0)
    assert(q.getAs[Long]("n_tokens") == 13)
    assert(q.getAs[Double]("stopword_ratio") > 0.1)
    val t = docsDf.select(TextStats.bpeTokenCount($"text")).collect()(0).getLong(0)
    assert(t == 13) // no punctuation/digits → equals whitespace tokens
  }

  test("sessionize splits on gaps > threshold") {
    val ev = Seq(
      (1L, 0L, 1000L * 1000000000L, 1.0),
      (2L, 0L, 1500L * 1000000000L, 1.0),
      (3L, 0L, 5000L * 1000000000L, 1.0),  // gap 3500s > 1800 → new session
      (4L, 9L, 100L * 1000000000L, 2.0)
    ).toDF("event_id", "user_id", "ts", "value")
    val s = Sessionize.sessionStats(ev, 1800).orderBy("user_id", "session_id").collect()
    assert(s.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((0L, 0L, 2L), (0L, 1L, 1L), (9L, 0L, 1L)))
  }

  test("asOf join: latest right row at-or-before, per key; left rows keep nulls") {
    val left = Seq((1L, 10L, "e1"), (1L, 20L, "e2"), (1L, 5L, "e0"), (2L, 50L, "e3"))
      .toDF("k", "t", "ev")
    val right = Seq((1L, 10L, "r10"), (1L, 15L, "r15"), (3L, 1L, "r-other"))
      .toDF("rk", "rt", "payload")
    val out = AsOfJoin.asOf(left, right, "k", "rk", col("t"), col("rt"), Seq("payload"))
      .select("ev", "payload").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("e1") == "r10")  // inclusive: rt == t matches
    assert(out("e2") == "r15")  // latest at-or-before
    assert(out("e0") == null)   // nothing before t=5
    assert(out("e3") == null)   // key 2 has no right rows
  }

  test("dedup index: persisted probe == direct cross-corpus join; params ride the index") {
    val ref = docsDf.filter($"doc_id" < 4)
    val batch = docsDf.filter($"doc_id" >= 4)
      .unionByName(docsDf.filter($"doc_id" === 0)
        .select(($"doc_id" + 100L).as("doc_id"),
          concat($"text", lit(" zzz")).as("text")))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id_new", "id_ref", "est_jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // bands=4 ≠ the build default of 8: a probe that fell back to its own
    // defaults instead of the persisted parameters would find a different
    // candidate set
    val path = TestSpark.tmpDir("dedup-idx")
    DedupIndex.buildDedupIndex(ref, "doc_id", "text", path,
      n = 3, numHashes = 16, bands = 4)
    val direct = rows(Dedup.minhashPairsAgainst(batch, ref, "doc_id", "text",
      n = 3, numHashes = 16, bands = 4))
    val probed = rows(DedupIndex.pairsAgainstIndex(spark, path, batch,
      "doc_id", "text", verifyAgainst = Some((ref, "doc_id"))))
    assert(probed == direct)
    assert(probed.exists { case (idNew, idRef, est) =>
      idNew == 100L && idRef == 0L && est > 0.5 })  // planted near-dup found
    // the one-call anti-join form drops exactly the matched batch ids
    val kept = DedupIndex.dedupAgainstIndex(spark, path, batch,
        "doc_id", "text", minEstJaccard = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val matchedIds = probed.collect { case (idNew, _, est) if est >= 0.5 => idNew }
    assert(kept == batch.select("doc_id").collect().map(_.getLong(0)).toSet -- matchedIds)
  }

  test("dedup index append: grown == one-shot; duplicate id refused; fresh after") {
    val ref = docsDf.filter($"doc_id" < 4)
    val batch = docsDf.filter($"doc_id" >= 4)
      .unionByName(docsDf.filter($"doc_id" === 0)
        .select(($"doc_id" + 100L).as("doc_id"),
          concat($"text", lit(" zzz")).as("text")))
    def rows(p: String) = DedupIndex.pairsAgainstIndex(spark, p, batch,
        "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val oneShot = TestSpark.tmpDir("di-oneshot") + "/di"
    val grown = TestSpark.tmpDir("di-grown") + "/di"
    DedupIndex.buildDedupIndex(ref, "doc_id", "text", oneShot)
    DedupIndex.buildDedupIndex(ref.filter($"doc_id" < 2), "doc_id", "text", grown)
    DedupIndex.appendDedupIndex(ref.filter($"doc_id" >= 2), "doc_id", "text", grown)
    assert(rows(grown) == rows(oneShot) && rows(grown).nonEmpty)
    DedupIndex.requireDedupIndexFresh(spark, grown, ref, "doc_id")
    val e = intercept[IllegalArgumentException] {
      DedupIndex.appendDedupIndex(ref.filter($"doc_id" === 1), "doc_id", "text", grown)
    }
    assert(e.getMessage.contains("already indexed"))
    assert(rows(grown) == rows(oneShot)) // refusal left the index untouched
  }

  test("ivf index append: grown == one-shot probe; duplicate id refused; fresh after") {
    val embsDf = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cb = Similarity.kmeansCodebook(embsDf, "vec_id", "embedding", k = 4, iters = 1)
    val q = embsDf.filter($"vec_id" === 0)
      .select("embedding").collect()(0).getSeq[Float](0)
    def probe(p: String) = Similarity.ivfTopKIndexed(spark, p, q, 10, 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    val oneShot = TestSpark.tmpDir("ivf-oneshot") + "/ivf"
    val grown = TestSpark.tmpDir("ivf-grown") + "/ivf"
    Similarity.buildIvfIndex(embsDf, "vec_id", "embedding", cb, oneShot)
    Similarity.buildIvfIndex(embsDf.filter($"vec_id" % 2 === 0),
      "vec_id", "embedding", cb, grown)
    Similarity.appendIvfIndex(embsDf.filter($"vec_id" % 2 =!= 0),
      "vec_id", "embedding", grown)
    assert(probe(grown) == probe(oneShot) && probe(grown).nonEmpty)
    Similarity.requireIvfFresh(spark, grown, embsDf, "vec_id")
    val e = intercept[IllegalArgumentException] {
      Similarity.appendIvfIndex(embsDf.filter($"vec_id" === 1),
        "vec_id", "embedding", grown)
    }
    assert(e.getMessage.contains("already indexed"))
    assert(probe(grown) == probe(oneShot))
  }

  test("pq index: grown == one-shot probe == on-the-fly; duplicate id refused; stale refused") {
    import graft.ops.Quantize
    val embsDf = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val cbs = Quantize.pqCodebooks(embsDf, "vec_id", "embedding",
      m = 8, ksub = 16, iters = 1)
    val q = embsDf.filter($"vec_id" === 0)
      .select("embedding").collect()(0).getSeq[Float](0)
    def probe(p: String) = Quantize.pqTopKIndexed(spark, p, q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val oneShot = TestSpark.tmpDir("pq-oneshot") + "/pq"
    val grown = TestSpark.tmpDir("pq-grown") + "/pq"
    Quantize.buildPqIndex(embsDf, "vec_id", "embedding", cbs, oneShot)
    Quantize.buildPqIndex(embsDf.filter($"vec_id" % 2 === 0),
      "vec_id", "embedding", cbs, grown)
    Quantize.appendPqIndex(embsDf.filter($"vec_id" % 2 =!= 0),
      "vec_id", "embedding", grown)
    val direct = Quantize.pqTopK(embsDf, "vec_id", "embedding", q, 10, cbs)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probe(grown) == probe(oneShot) && probe(oneShot) == direct &&
      direct.nonEmpty)
    Quantize.requirePqFresh(spark, grown, embsDf, "vec_id")
    // the probe scan must read codes only, never the embedding column
    val plan = Quantize.pqTopKIndexed(spark, oneShot, q, 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("codes") && !plan.contains("embedding"), plan)
    val e = intercept[IllegalArgumentException] {
      Quantize.appendPqIndex(embsDf.filter($"vec_id" === 1),
        "vec_id", "embedding", grown)
    }
    assert(e.getMessage.contains("already indexed"))
    assert(probe(grown) == probe(oneShot))
    // stale: probing after the source churns is refused
    val churned = embsDf.unionByName(embsDf.limit(1)
      .select(($"vec_id" + 100000L).as("vec_id"), $"embedding"))
    val e2 = intercept[IllegalStateException] {
      Quantize.pqTopKIndexed(spark, oneShot, q, 10,
        verifyAgainst = Some((churned, "vec_id"))).collect()
    }
    assert(e2.getMessage.contains("STALE") && e2.getMessage.contains("buildPqIndex"))
    // delete -> probe equality with a never-indexed corpus; double
    // delete refused; compact purges physically and re-opens the ids
    import graft.ops.IndexMaintenance
    val before = probe(grown)
    val victim = before.last._1
    IndexMaintenance.deleteFromPqIndex(spark, grown, Seq(victim))
    val after = probe(grown)
    assert(!after.map(_._1).contains(victim) && after.size == 10)
    Quantize.requirePqFresh(spark, grown,
      embsDf.filter($"vec_id" =!= victim), "vec_id")
    val e3 = intercept[IllegalArgumentException] {
      IndexMaintenance.deleteFromPqIndex(spark, grown, Seq(victim))
    }
    assert(e3.getMessage.contains("already deleted"))
    IndexMaintenance.compactPqIndex(spark, grown)
    assert(probe(grown) == after) // compaction invisible to the probe
    // the purged id is re-appendable after compact
    Quantize.appendPqIndex(embsDf.filter($"vec_id" === victim),
      "vec_id", "embedding", grown)
    assert(probe(grown) == before)
    Quantize.requirePqFresh(spark, grown, embsDf, "vec_id")
  }

  test("compactIfOverdue: closes the health loop on both thresholds; healthy no-op; probes identical") {
    import graft.ops.{IndexMaintenance, Quantize}
    val embsDf = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val n = embsDf.count()
    val cbs = Quantize.pqCodebooks(embsDf, "vec_id", "embedding",
      m = 4, ksub = 8, iters = 0)
    val q = embsDf.filter($"vec_id" === 0)
      .select("embedding").collect()(0).getSeq[Float](0)
    val p = TestSpark.tmpDir("pq-overdue") + "/pq"
    // Bloom sized for 4 ids — the corpus overfills it immediately
    Quantize.buildPqIndex(embsDf, "vec_id", "embedding", cbs, p,
      expectedIds = 4)
    def probe() = Quantize.pqTopKIndexed(spark, p, q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def health() = IndexMaintenance.indexHealth(spark, p).head()
    val before = probe()
    assert(health().getAs[Boolean]("compaction_overdue"))
    // threshold 1 (bloom fill): compact runs, auto-resizes to 2x live
    // ids at the old fpp, and the health row comes back clean
    assert(IndexMaintenance.compactIfOverdue(spark, p))
    val h1 = health()
    assert(!h1.getAs[Boolean]("compaction_overdue"))
    assert(h1.getAs[Double]("bloom_fill") <= 1.0 &&
      h1.getAs[Long]("bloom_expected") == math.max(2L * n, 4L))
    assert(probe() == before, "compaction must be invisible to probes")
    // restored health: the maintenance call is a cheap no-op
    assert(!IndexMaintenance.compactIfOverdue(spark, p))
    // threshold 2 (tombstone valve, tiny override): a delete trips it,
    // compact purges the tombstones physically
    IndexMaintenance.deleteFromPqIndex(spark, p, Seq(before.last._1))
    val after = probe()
    assert(IndexMaintenance.compactIfOverdue(spark, p, maxTombstoneBytes = 1L))
    val h2 = health()
    assert(h2.getAs[Long]("n_tombstones") == 0L && probe() == after)
    // the resized sidecar still guards appends (re-append refused)
    val e = intercept[IllegalArgumentException] {
      Quantize.appendPqIndex(embsDf.filter($"vec_id" === 0),
        "vec_id", "embedding", p)
    }
    assert(e.getMessage.contains("already indexed"))
    // an unrecognizable tree fails loudly at family detection
    val junk = TestSpark.tmpDir("overdue-junk")
    Seq((1L, "x")).toDF("id", "t").write.mode("overwrite")
      .parquet(s"$junk/_stuff")
    val e2 = intercept[IllegalArgumentException] {
      IndexMaintenance.compactIfOverdue(spark, junk, maxTombstoneBytes = -1L)
    }
    assert(e2.getMessage.contains("not a recognized"))
  }

  test("ivfpq index: probed lists prune partitions; grown == one-shot; ADC matches flat PQ") {
    import graft.ops.Quantize
    val embsDf = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val coarse = embsDf.orderBy("vec_id").limit(8)
      .collect().toSeq.map(_.getSeq[Float](1).map(_.toDouble).toSeq)
    val cbs = Quantize.pqCodebooks(embsDf, "vec_id", "embedding",
      m = 8, ksub = 16, iters = 0)
    val q = embsDf.filter($"vec_id" === 0)
      .select("embedding").collect()(0).getSeq[Float](0)
    val oneShot = TestSpark.tmpDir("ivfpq-oneshot") + "/ipq"
    val grown = TestSpark.tmpDir("ivfpq-grown") + "/ipq"
    Quantize.buildIvfPqIndex(embsDf, "vec_id", "embedding", coarse, cbs, oneShot)
    Quantize.buildIvfPqIndex(embsDf.filter($"vec_id" % 2 === 0),
      "vec_id", "embedding", coarse, cbs, grown)
    Quantize.appendIvfPqIndex(embsDf.filter($"vec_id" % 2 =!= 0),
      "vec_id", "embedding", grown)
    def probe(p: String) = Quantize.ivfPqTopKIndexed(spark, p, q, 10, 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(probe(grown) == probe(oneShot) && probe(grown).nonEmpty)
    Quantize.requireIvfPqFresh(spark, grown, embsDf, "vec_id")
    // partition pruning: the probe plan carries a PartitionFilters
    // list IN (...) and reads codes, never the embedding column
    val plan = Quantize.ivfPqTopKIndexed(spark, oneShot, q, 10, 3)
      .queryExecution.executedPlan.toString
    assert(partitionFilters(plan).contains("list"), plan)
    assert(!plan.contains("embedding"), plan)
    // scores are PLAIN ADC: each probed hit carries the same score the
    // flat PQ ranking assigns that id (restricted-candidate semantics)
    val flat = Quantize.pqTopK(embsDf, "vec_id", "embedding", q,
        embsDf.count().toInt, cbs)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    probe(oneShot).foreach { case (id, sc, _) =>
      assert(math.abs(flat(id) - sc) < 1e-12, s"id $id: $sc vs ${flat(id)}") }
    // nprobe = all lists recovers the flat PQ top-k exactly
    val allProbe = Quantize.ivfPqTopKIndexed(spark, oneShot, q, 10, 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val flatTop = Quantize.pqTopK(embsDf, "vec_id", "embedding", q, 10, cbs)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(allProbe == flatTop)
    // FILTERED compressed-tier probe: escalated to every list it must
    // equal the flat ADC ranking restricted to the allowed subset
    val filteredAll = Quantize.ivfPqTopKIndexedFiltered(spark, oneShot, q,
        10, nprobe = 1, allowed = embsDf.filter($"vec_id" % 3 === 1),
        allowedIdCol = "vec_id", minSurvivors = 1000000)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val flatFiltered = Quantize.pqTopK(embsDf, "vec_id", "embedding", q,
        embsDf.count().toInt, cbs)
      .collect().filter(_.getLong(0) % 3 == 1).take(10)
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(filteredAll == flatFiltered,
      s"filtered PQ escalation must reach the flat filtered ranking")
    // delete/compact lifecycle on the composed tree
    import graft.ops.IndexMaintenance
    val before = probe(grown)
    val victim = before.last._1
    IndexMaintenance.deleteFromIvfPqIndex(spark, grown, Seq(victim))
    val after = probe(grown)
    assert(!after.map(_._1).contains(victim) && after.size == 10)
    IndexMaintenance.compactIvfPqIndex(spark, grown)
    assert(probe(grown) == after)
    Quantize.appendIvfPqIndex(embsDf.filter($"vec_id" === victim),
      "vec_id", "embedding", grown)
    assert(probe(grown) == before)
    Quantize.requireIvfPqFresh(spark, grown, embsDf, "vec_id")
  }

  test("ivfPqTopKRefined: exact-cosine re-rank of the ADC pool == driver mirror; r >= k enforced") {
    import graft.ops.Quantize
    val embsDf = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val coarse = embsDf.orderBy("vec_id").limit(8)
      .collect().toSeq.map(_.getSeq[Float](1).map(_.toDouble).toSeq)
    val cbs = Quantize.pqCodebooks(embsDf, "vec_id", "embedding",
      m = 8, ksub = 16, iters = 0)
    val q = embsDf.filter($"vec_id" === 0)
      .select("embedding").collect()(0).getSeq[Float](0)
    val path = TestSpark.tmpDir("ivfpq-rerank") + "/ipq"
    Quantize.buildIvfPqIndex(embsDf, "vec_id", "embedding", coarse, cbs, path)
    val got = Quantize.ivfPqTopKRefined(spark, path, embsDf,
        "vec_id", "embedding", q, k = 5, r = 20, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // mirror: the gated ADC probe supplies the candidate pool; exact
    // fixed-point cosine re-ranks it driver-side
    val pool = Quantize.ivfPqTopKIndexed(spark, path, q, 20, 3)
      .collect().map(_.getLong(0)).toSet
    val vecs = embsDf.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    // the kernel's exact rounding: Spark Round(HALF_UP) over the
    // shortest-decimal representation (math.rint/round differ in the
    // boundary band)
    def fxdot(a: Seq[Double], b: Seq[Double]): Long =
      a.zip(b).map { case (x, y) =>
        java.math.BigDecimal.valueOf(x * y * 1e15)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
      }.sum
    val qd = q.map(_.toDouble).toSeq
    val qn = math.sqrt(fxdot(qd, qd).toDouble)
    val exp = pool.toSeq.map { id =>
      val v = vecs(id).toSeq
      (id, fxdot(v, qd).toDouble / (math.sqrt(fxdot(v, v).toDouble) * qn))
    }.sortBy { case (id, sc) => (-sc, id) }.take(5)
    assert(got == exp, s"engine $got vs mirror $exp")
    // the refinement must contain the TRUE nearest neighbor (vec 0
    // itself at cosine 1) at full precision — ADC can only approximate
    assert(got.head._1 == 0L && math.abs(got.head._2 - 1.0) < 1e-12)
    intercept[IllegalArgumentException] {
      Quantize.ivfPqTopKRefined(spark, path, embsDf, "vec_id", "embedding",
        q, k = 10, r = 5, nprobe = 3)
    }
    // batch form == the single-query refinement, per query
    val joined = Quantize.ivfPqKnnJoinRefined(spark, path,
        embsDf.filter($"vec_id" < 3), "vec_id", "embedding",
        embsDf, "vec_id", "embedding", k = 5, r = 20, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    val fvecs = embsDf.filter($"vec_id" < 3).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    (0L to 2L).foreach { qid =>
      val single = Quantize.ivfPqTopKRefined(spark, path, embsDf,
          "vec_id", "embedding", fvecs(qid), k = 5, r = 20, nprobe = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val batch = joined(qid).sortBy(t => (-t._3, t._2))
        .map(t => (t._2, t._3)).toSeq
      assert(batch == single, s"query $qid: batch refine != single refine")
    }
  }

  test("checkpointedBytes: true block-manager size for a checkpoint, None otherwise") {
    import graft.ops.Quantize
    // the broadcast gate of the batch re-rank reads the MATERIALIZED
    // size of the checkpointed pair relation from the block manager —
    // the LogicalRDD's Catalyst stats carry the origin plan's
    // pre-checkpoint ESTIMATE (verified: identical before/after on a
    // filtered plan whose materialized size differs), so a gate on them
    // would mis-size join outputs by orders of magnitude either way
    val df = spark.range(100000)
      .selectExpr("id", "repeat('x', 100) AS pad").filter("id % 3 = 0")
    assert(Quantize.checkpointedBytes(df).isEmpty,
      "non-checkpointed plan must report None (conservative: no hint)")
    val cp = df.localCheckpoint(true)
    val est = cp.queryExecution.optimizedPlan.stats.sizeInBytes
    val got = Quantize.checkpointedBytes(cp)
    assert(got.exists(_ > 0L), s"checkpointed blocks not reported: $got")
    // ~33k rows x (8 B id + 100 B pad) >= 3 MB materialized, whatever
    // the row-object overhead; the Catalyst estimate is NOT that number
    // (it never consulted the blocks)
    assert(got.exists(_ >= (3L << 20)), s"implausibly small: $got (est=$est)")
  }

  test("SQ8: hand-checkable codes, degenerate dims, near-lossless self rank, brute recall") {
    import graft.ops.Quantize
    // dim0 spans [0,2], dim1 is constant (degenerate -> code 0), dim2 spans [-1,1]
    val vecs = Seq(
      (0L, Array(0.0f, 5.0f, -1.0f)),
      (1L, Array(2.0f, 5.0f, 1.0f)),
      (2L, Array(1.0f, 5.0f, 0.0f))).toDF("vec_id", "embedding")
    val (mins, maxs) = Quantize.sqParams(vecs, "embedding", 3)
    assert(mins == Seq(0.0, 5.0, -1.0) && maxs == Seq(2.0, 5.0, 1.0))
    val codes = Quantize.sqEncode(vecs, "vec_id", "embedding", mins, maxs)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // floor((x-min)*255/range): 0->0, 2->255, 1->127; constant dim -> 0
    assert(codes(0L) == Seq(0, 0, 0), codes.toString)
    assert(codes(1L) == Seq(255, 0, 255), codes.toString)
    assert(codes(2L) == Seq(127, 0, 127), codes.toString)
    // real fixture: the query ranks itself first with a near-1 score
    // (quantization error only), and SQ8's top-10 overlaps brute cosine
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (m2, x2) = Quantize.sqParams(emb, "embedding", 64)
    val q = emb.filter($"vec_id" === 7)
      .select("embedding").collect()(0).getSeq[Float](0)
    val top = Quantize.sqTopK(emb, "vec_id", "embedding", q, 10, m2, x2)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(top.head._1 == 7L && top.head._2 > 0.999,
      s"self must rank first near-losslessly: ${top.head}")
    val brute = Similarity.topK(emb, "vec_id", "embedding", q, 10,
      exactDecimal = true).collect().map(_.getLong(0)).toSet
    assert(top.map(_._1).count(brute) >= 8,
      s"SQ8 top-10 must agree with brute on >= 8/10: ${top.map(_._1).toSeq}")
    intercept[IllegalArgumentException] {
      Quantize.sqTopK(emb, "vec_id", "embedding", q, 0, m2, x2) }
    intercept[IllegalArgumentException] {
      Quantize.sqTopK(emb, "vec_id", "embedding", q.take(10), 5, m2, x2) }
  }

  test("ivfPqKnnJoin: per-query results equal single-query probes, codes-only pruned scan, guards") {
    import graft.ops.Quantize
    val embsDf = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val coarse = embsDf.orderBy("vec_id").limit(8)
      .collect().toSeq.map(_.getSeq[Float](1).map(_.toDouble).toSeq)
    val cbs = Quantize.pqCodebooks(embsDf, "vec_id", "embedding",
      m = 8, ksub = 16, iters = 0)
    val path = TestSpark.tmpDir("ivfpq-join") + "/ipq"
    Quantize.buildIvfPqIndex(embsDf, "vec_id", "embedding", coarse, cbs, path)
    val queries = embsDf.filter($"vec_id".isin(2L, 11L, 29L))
    val joined = Quantize.ivfPqKnnJoin(spark, path, queries,
      "vec_id", "embedding", k = 6, nprobe = 3)
    val byQuery = joined.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .groupBy(_._1)
    // the batch join must serve, per query, exactly the single-query probe
    Seq(2L, 11L, 29L).foreach { qid =>
      val q = embsDf.filter($"vec_id" === qid)
        .select("embedding").collect()(0).getSeq[Float](0)
      val single = Quantize.ivfPqTopKIndexed(spark, path, q, 6, 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
      val got = byQuery(qid).sortBy(t => (-t._3, t._2))
        .map(t => (t._2, t._3, t._4)).toSeq
      assert(got == single, s"query $qid: batch join != single-query probe")
    }
    // codes-only, pruned: some scan prunes on list; no embedding column
    // is read from the INDEX (the query side necessarily reads its own)
    val plan = joined.queryExecution.executedPlan.toString
    val pfs = "PartitionFilters: \\[[^\\]]*\\]".r.findAllIn(plan).toList
    assert(pfs.exists(_.contains("list")), plan)
    intercept[IllegalArgumentException] {
      Quantize.ivfPqKnnJoin(spark, path, queries, "vec_id", "embedding",
        k = 0, nprobe = 3) }
    intercept[IllegalArgumentException] {
      Quantize.ivfPqKnnJoin(spark, path, queries, "vec_id", "embedding",
        k = 5, nprobe = 99) }
  }

  test("dedup index: stale index refused, rebuild clears it") {
    val ref = docsDf.filter($"doc_id" < 4)
    val path = TestSpark.tmpDir("dedup-idx-stale")
    DedupIndex.buildDedupIndex(ref, "doc_id", "text", path)
    DedupIndex.requireDedupIndexFresh(spark, path, ref, "doc_id") // fresh passes
    val churned = ref.unionByName(Seq((99L, "a brand new document")).toDF("doc_id", "text"))
    val e = intercept[IllegalStateException] {
      DedupIndex.pairsAgainstIndex(spark, path, churned, "doc_id", "text",
        verifyAgainst = Some((churned, "doc_id"))).collect()
    }
    assert(e.getMessage.contains("STALE") && e.getMessage.contains("buildDedupIndex"))
    DedupIndex.buildDedupIndex(churned, "doc_id", "text", path)
    DedupIndex.requireDedupIndexFresh(spark, path, churned, "doc_id")
  }

  test("fuzzy join: deletion-neighborhood pairs == naive levenshtein<=1; planted edits") {
    val left = Seq((1L, "spark"), (2L, "spa"), (3L, "hello"), (4L, ""),
      (5L, null.asInstanceOf[String])).toDF("lid", "lkey")
    val right = Seq(
      (10L, "spark"),   // equal          -> dist 0
      (11L, "spork"),   // substitution   -> dist 1
      (12L, "sparks"),  // insertion      -> dist 1
      (13L, "spak"),    // deletion       -> dist 1
      (14L, "spoon"),   // dist 3, shares no variant semantics
      (15L, "spar"),    // deletion       -> dist 1
      (16L, "sprak"),   // transposition  -> dist 2, must NOT match
      (17L, "spa"),     // matches 2 at 0
      (18L, ""))        // matches 4 at 0
      .toDF("rid", "rkey")
    val got = FuzzyJoin.editDistance1Pairs(left, "lid", "lkey",
        right, "rid", "rkey")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = left.join(right, levenshtein(col("lkey"), col("rkey")) <= 1)
      .select(col("lid"), col("rid"),
        levenshtein(col("lkey"), col("rkey")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    assert(got.contains((1L, 11L, 1L)) && got.contains((1L, 12L, 1L)) &&
      got.contains((1L, 13L, 1L)) && got.contains((1L, 10L, 0L)) &&
      got.contains((4L, 18L, 0L)))
    assert(!got.exists(p => p._2 == 16L || p._2 == 14L)) // dist >= 2 excluded
    assert(!got.exists(_._1 == 5L))                      // null key matches nothing
    intercept[IllegalArgumentException] {                // same id name refused
      FuzzyJoin.editDistance1Pairs(left, "lid", "lkey", right, "lid", "rkey")
    }
    val long = Seq((1L, "x" * 300)).toDF("kid", "key")
    val e = intercept[Exception] {
      FuzzyJoin.editDistance1Pairs(long, "kid", "key",
        right, "rid", "rkey", maxKeyLen = 256).collect()
    }
    assert(e.getMessage.contains("maxKeyLen"))
  }

  test("fuzzy join k=2: pairs == naive levenshtein<=2; transpositions in, dist-3 out") {
    val left = Seq((1L, "spark"), (2L, "spa"), (3L, "hello"), (4L, ""),
      (5L, null.asInstanceOf[String]), (6L, "ab")).toDF("lid", "lkey")
    val right = Seq(
      (10L, "spark"),   // dist 0
      (11L, "sprak"),   // transposition  -> dist 2, must now match
      (12L, "sperk"),   // substitution   -> dist 1
      (13L, "spk"),     // two deletions  -> dist 2
      (14L, "sparkle"), // two insertions -> dist 2
      (15L, "spoon"),   // dist 3, must NOT match
      (16L, "sporky"),  // sub+ins        -> dist 2
      (17L, "ba"),      // transposition of "ab" -> dist 2
      (18L, ""),        // dist <= 2 of "", "ab", "spa"
      (19L, "help"))    // dist 2 of "hello"? l-l-o vs l-p: hello->help is del 'l', sub 'o'->'p' = 2
      .toDF("rid", "rkey")
    val got = FuzzyJoin.editDistancePairs(left, "lid", "lkey",
        right, "rid", "rkey", maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = left.join(right, levenshtein(col("lkey"), col("rkey")) <= 2)
      .select(col("lid"), col("rid"),
        levenshtein(col("lkey"), col("rkey")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    assert(got.contains((1L, 11L, 2L)) && got.contains((1L, 13L, 2L)) &&
      got.contains((1L, 14L, 2L)) && got.contains((1L, 16L, 2L)) &&
      got.contains((6L, 17L, 2L)) && got.contains((3L, 19L, 2L)))
    assert(!got.exists(_._2 == 15L)) // dist 3 excluded
    assert(!got.exists(_._1 == 5L))  // null key matches nothing
    intercept[IllegalArgumentException] { // unsupported radius refused
      FuzzyJoin.editDistancePairs(left, "lid", "lkey", right, "rid", "rkey",
        maxDist = 3)
    }
  }

  test("range join: bucketed pointInInterval == naive non-equi join; no nested-loop plan") {
    // negatives, bucket-boundary values, inclusive endpoints, NULLs
    val points = Seq((1L, java.lang.Long.valueOf(-25L)),
      (2L, java.lang.Long.valueOf(-10L)), (3L, java.lang.Long.valueOf(0L)),
      (4L, java.lang.Long.valueOf(9L)), (5L, java.lang.Long.valueOf(10L)),
      (6L, java.lang.Long.valueOf(37L)), (7L, java.lang.Long.valueOf(100L)),
      (8L, null.asInstanceOf[java.lang.Long]))
      .toDF("pid", "t")
    val ivs = Seq((10L, java.lang.Long.valueOf(-30L), java.lang.Long.valueOf(-20L)),
      (11L, java.lang.Long.valueOf(-10L), java.lang.Long.valueOf(10L)),
      (12L, java.lang.Long.valueOf(0L), java.lang.Long.valueOf(0L)),
      (13L, java.lang.Long.valueOf(9L), java.lang.Long.valueOf(37L)),
      (14L, java.lang.Long.valueOf(90L), java.lang.Long.valueOf(99L)),
      (15L, null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(5L)))
      .toDF("ik", "lo", "hi")
    for (w <- Seq(1L, 7L, 10L, 1000L)) {
      val got = RangeJoin.pointInInterval(points, col("t"), ivs,
          col("lo"), col("hi"), w)
        .select("pid", "ik").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = points.as("p").join(ivs.as("i"),
          col("t") >= col("lo") && col("t") <= col("hi"))
        .select("pid", "ik").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want, s"bucketWidth=$w")
      assert(want.contains((3L, 12L)) && want.contains((4L, 13L)) &&
        want.contains((6L, 13L)) && want.contains((1L, 10L)))  // sanity: non-trivial
      assert(!want.exists(_._1 == 8L) && !want.exists(_._2 == 15L)) // NULLs drop
    }
    val plan = RangeJoin.pointInInterval(points, col("t"), ivs,
      col("lo"), col("hi"), 10L).queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"range join must plan as an equi join, got:\n$plan")
  }

  test("range join: intervalOverlap == naive, touching endpoints overlap, emitted once") {
    val mk = (rows: Seq[(Long, Long, Long)], p: String) =>
      rows.toDF(s"${p}k", s"${p}lo", s"${p}hi")
    val left = mk(Seq((1L, 0L, 10L), (2L, 25L, 40L), (3L, -15L, -5L), (4L, 100L, 100L)), "l")
    val right = mk(Seq((10L, 10L, 20L), (11L, 41L, 50L), (12L, -100L, 0L), (13L, 5L, 30L)), "r")
    for (w <- Seq(1L, 8L, 64L)) {
      val out = RangeJoin.intervalOverlap(left, col("llo"), col("lhi"),
          right, col("rlo"), col("rhi"), w)
        .select("lk", "rk").collect().map(r => (r.getLong(0), r.getLong(1)))
      val want = left.join(right,
          greatest(col("llo"), col("rlo")) <= least(col("lhi"), col("rhi")))
        .select("lk", "rk").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(out.toSet == want, s"bucketWidth=$w")
      assert(out.length == out.toSet.size, s"pair emitted twice at bucketWidth=$w")
      assert(want.contains((1L, 10L)))   // touching endpoints (10 == 10) overlap
      assert(want.contains((3L, 12L)))   // negative ranges
      assert(!want.contains((2L, 11L)))  // gap of 1 does not
    }
  }

  test("range join: reversed interval and bucket explosion raise; zero/neg width rejected") {
    val points = Seq((1L, 5L)).toDF("pid", "t")
    val bad = Seq((1L, 20L, 10L)).toDF("ik", "lo", "hi")
    val e1 = intercept[Exception] {
      RangeJoin.pointInInterval(points, col("t"), bad, col("lo"), col("hi"), 10L)
        .collect()
    }
    assert(e1.getMessage.contains("reversed interval"))
    val wide = Seq((1L, 0L, Long.MaxValue / 4)).toDF("ik", "lo", "hi")
    val e2 = intercept[Exception] {
      RangeJoin.pointInInterval(points, col("t"), wide, col("lo"), col("hi"), 10L)
        .collect()
    }
    assert(e2.getMessage.contains("buckets"))
    intercept[IllegalArgumentException] {
      RangeJoin.pointInInterval(points, col("t"), bad, col("lo"), col("hi"), 0L)
    }
    intercept[IllegalArgumentException] { // overlapping column names refused
      RangeJoin.pointInInterval(points.withColumnRenamed("pid", "ik"), col("t"),
        bad, col("lo"), col("hi"), 10L)
    }
    intercept[IllegalArgumentException] { // reserved working prefix refused
      RangeJoin.pointInInterval(points.withColumnRenamed("pid", "_rj_b"), col("t"),
        bad, col("lo"), col("hi"), 10L)
    }
  }

  test("multimodal: payload/meta schema and deterministic featurize") {
    val df = Multimodal.decodeStub(Multimodal.attachPayload(docsDf, "text"))
    val m = df.filter($"doc_id" === 0).select("media_meta.*").collect()(0)
    assert(m.getString(0) == "fake-rgb" && m.getInt(1) >= 64 && m.getInt(1) < 576)
    val f1 = Multimodal.featurize(Multimodal.attachPayload(docsDf, "text"), "doc_id", "payload", 8)
      .collect().sortBy(_.id)
    val f2 = Multimodal.featurize(Multimodal.attachPayload(docsDf, "text"), "doc_id", "payload", 8)
      .collect().sortBy(_.id)
    assert(f1.map(_.features.toSeq).toSeq == f2.map(_.features.toSeq).toSeq) // deterministic
    assert(f1.forall(r => math.abs(r.features.sum - 1.0f) < 1e-5))           // normalized histogram
    val frames = Multimodal.frameSample(Multimodal.attachPayload(docsDf, "text"), 4)
      .select(size($"frames")).collect()
    assert(frames.forall(_.getInt(0) == 4))
    // resize plumbing: dims clamp at the target, the resized payload is
    // the w*h-byte crop, and the meta struct tracks the actual bytes
    val rz = Multimodal.resizeStub(df, maxW = 80, maxH = 80)
      .select($"doc_id", $"media_meta.width", $"media_meta.height",
        $"resized_meta.width", $"resized_meta.height",
        length($"payload"), length($"resized"), $"resized_meta.nBytes")
      .collect()
    rz.foreach { r =>
      val (w0, h0, w1, h1) = (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))
      assert(w1 == math.min(w0, 80) && h1 == math.min(h0, 80))
      assert(r.getInt(6) == math.min(r.getInt(5), w1 * h1)) // crop length
      assert(r.getLong(7) == r.getInt(6).toLong)            // meta tracks bytes
    }
    intercept[IllegalArgumentException] { Multimodal.resizeStub(df, 0, 10) }
  }

  test("tombstone valve + indexHealth + compact Bloom resize from the staged tree") {
    val path = TestSpark.tmpDir("cpt-resize") + "/ti"
    TextIndex.buildTextIndex(docsDf, "doc_id", "text", path, nBuckets = 4,
      expectedIds = 64, idFpp = 0.1)
    IndexMaintenance.deleteFromTextIndex(spark, path, Seq(3L))
    // takedown-sized sidecars (the common case) plan as a driver-read
    // set-membership FILTER — no tombstone scan job, no broadcast, no
    // join; past maxLocalBytes the broadcast anti-join returns, and
    // past maxBroadcastBytes too (threshold 0 here, auto-broadcast off)
    // the plan falls back to a shuffle anti-join — identical results on
    // all three paths
    val postings = spark.read.parquet(path)
    val filterPlan = IndexMaintenance.minusTombstones(spark, path, postings,
      "id")
    val bcPlan = IndexMaintenance.minusTombstones(spark, path, postings,
      "id", maxLocalBytes = 0)
    val autoBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try {
      val nbPlan = IndexMaintenance.minusTombstones(spark, path, postings,
        "id", maxBroadcastBytes = 0, maxLocalBytes = 0)
      val fStr = filterPlan.queryExecution.executedPlan.toString
      assert(fStr.contains("Filter") && !fStr.contains("Join"), fStr)
      assert(bcPlan.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"))
      assert(!nbPlan.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"))
      val expect = bcPlan.collect().map(_.getLong(0)).sorted.toSeq
      assert(filterPlan.collect().map(_.getLong(0)).sorted.toSeq == expect)
      assert(nbPlan.collect().map(_.getLong(0)).sorted.toSeq == expect)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", autoBc)
    // health: tombstones visible, small set not overdue, Bloom fill sane
    val h = IndexMaintenance.indexHealth(spark, path).collect()(0)
    assert(h.getAs[Long]("n_tombstones") == 1L)
    assert(!h.getAs[Boolean]("compaction_overdue"))
    assert(h.getAs[Double]("bloom_fill") > 0.0)
    // compact WITH a Bloom resize: new sizing lands (from the staged
    // tree's own ids), tombstones purge, probes exclude the deleted doc
    IndexMaintenance.compactTextIndex(spark, path,
      bloomResize = Some((1024L, 0.01)))
    val ib = IndexIds.load(spark, path).get
    assert(ib.expected == 1024L && ib.fpp == 0.01, (ib.expected, ib.fpp))
    val h2 = IndexMaintenance.indexHealth(spark, path).collect()(0)
    assert(h2.getAs[Long]("n_tombstones") == 0L)
    val hits = TextIndex.searchIndex(spark, path, "the quick brown", 10)
      .collect().map(_.getLong(0))
    assert(hits.nonEmpty && !hits.contains(3L), hits.toSeq)
    // appends keep working against the resized sidecar (merge sizing
    // must match what compact wrote)
    TextIndex.appendTextIndex(
      Seq((100L, "zz-fresh tokens")).toDF("doc_id", "text"),
      "doc_id", "text", path)
    val ib2 = IndexIds.load(spark, path).get
    assert(ib2.expected == 1024L && ib2.nIds == ib.nIds + 1)
    // compacting an index whose EVERY data row is tombstoned is refused
    // (the staged tree would hold no data files and be unreadable); the
    // live tree keeps serving probes, which anti-join down to empty
    val path2 = TestSpark.tmpDir("cpt-empty") + "/ti"
    TextIndex.buildTextIndex(docsDf, "doc_id", "text", path2, nBuckets = 4)
    IndexMaintenance.deleteFromTextIndex(spark, path2,
      Seq(0L, 1L, 2L, 3L, 4L, 5L))
    val eAll = intercept[IllegalArgumentException] {
      IndexMaintenance.compactTextIndex(spark, path2) }
    assert(eAll.getMessage.contains("tombstoned"), eAll.getMessage)
    assert(TextIndex.searchIndex(spark, path2, "the quick", 5)
      .collect().isEmpty)
  }

  test("degenerate-input guards: sqParams empty corpus, kmv null side, resize overflow/null dims") {
    // sqParams on an empty corpus fails loudly instead of silently
    // unboxing NULL min/max to all-zero params
    val emptyVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val e1 = intercept[IllegalArgumentException] {
      Quantize.sqParams(emptyVecs, "embedding", 4) }
    assert(e1.getMessage.contains("sqParams"))
    // kmvOverlapTagged: a NULL side surfaces in the require message, not
    // as an opaque NPE from the row accessor
    val tagged = Seq((Some(0), 1L), (Some(1), 2L), (Option.empty[Int], 3L))
      .toDF("side", "h")
    val e2 = intercept[IllegalArgumentException] {
      Sketch.kmvOverlapTagged(tagged, "side", "h") }
    assert(e2.getMessage.contains("NULL"), e2.getMessage)
    // resize: 65536x65536 decoded dims would overflow a 32-bit byte
    // budget (2^32 wraps to a 0-length crop); the long-math budget keeps
    // the payload intact
    val big = Seq((1L, "payload-bytes-here")).toDF("id", "text")
    val payload = Multimodal.attachPayload(big, "text")
    val bigMeta = payload.withColumn("media_meta",
      struct(lit("fake-rgb").as("format"), lit(65536).as("width"),
        lit(65536).as("height"), lit(18L).as("nBytes")))
    val r = Multimodal.resizeStub(bigMeta, 65536, 65536)
      .select(length($"resized")).collect()(0)
    assert(r.getInt(0) == "payload-bytes-here".length, r.toSeq)
    // NULL decode dims (failed decode): explicit NULL payload out, row
    // survives for failure routing
    val nullMeta = payload.withColumn("media_meta",
      struct(lit("fake-rgb").as("format"), lit(null).cast("int").as("width"),
        lit(7).as("height"), lit(18L).as("nBytes")))
    val rn = Multimodal.resizeStub(nullMeta, 80, 80)
      .select($"resized", $"resized_meta.nBytes").collect()(0)
    assert(rn.isNullAt(0) && rn.isNullAt(1))
    // a zero-posting text-index BUILD (all docs token-free) would leave
    // a tree with no data files — refused loudly and removed
    val tfCorpus = Seq((1L, "   "), (2L, "  ")).toDF("doc_id", "text")
    val deadPath = TestSpark.tmpDir("guards-ti") + "/ti"
    val e3 = intercept[IllegalArgumentException] {
      TextIndex.buildTextIndex(tfCorpus, "doc_id", "text", deadPath,
        nBuckets = 4) }
    assert(e3.getMessage.contains("ZERO postings"), e3.getMessage)
    assert(!new java.io.File(deadPath).exists())
    // an empty-corpus vector index build: same refusal shape
    val e4 = intercept[IllegalArgumentException] {
      Similarity.buildIvfIndex(emptyVecs, "vec_id", "embedding",
        Seq(Seq(1.0, 0.0, 0.0, 0.0)),
        TestSpark.tmpDir("guards-ivf") + "/ivf") }
    assert(e4.getMessage.contains("empty"), e4.getMessage)
  }

  test("product quantization: codes, ADC ranking, trained codebooks, brute-force spec parity") {
    import graft.ops.Quantize
    // 4-dim vectors, m=2 subspaces of 2 dims, ksub=2 seeded codewords
    // (sub-vectors of ids 0 and 1) — assignments are hand-checkable
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 1.0f)),
      (1L, Array(0.0f, 1.0f, 1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.1f, 0.9f)),  // near id 0 in both subspaces
      (3L, Array(0.1f, 0.9f, 0.9f, 0.1f)),  // near id 1 in both subspaces
      (4L, Array(1.0f, 0.0f, 1.0f, 0.0f))   // mixed: sub0 -> 0, sub1 -> 1
    ).toDF("vec_id", "embedding")
    val cbs = Quantize.pqCodebooks(vecs, "vec_id", "embedding",
      m = 2, ksub = 2, iters = 0)
    assert(cbs.length == 2 && cbs.forall(_.length == 2))
    assert(cbs(0)(0) == Seq(1.0, 0.0) && cbs(1)(1) == Seq(1.0, 0.0))
    val codes = Quantize.pqEncode(vecs, "vec_id", "embedding", cbs)
      .collect().map(r => r.getLong(0) -> r.getSeq[Short](1).toSeq).toMap
    assert(codes(0L) == Seq(0, 0) && codes(1L) == Seq(1, 1))
    assert(codes(2L) == Seq(0, 0) && codes(3L) == Seq(1, 1))
    assert(codes(4L) == Seq(0, 1))
    // ADC against query = vec 0: ids coded (0,0) reconstruct to vec 0
    // itself (cosine 1), the mixed code scores 0.5, code (1,1) scores 0
    val q = Seq(1.0f, 0.0f, 0.0f, 1.0f)
    val top = Quantize.pqTopK(vecs, "vec_id", "embedding", q, 5, cbs)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(top.map(_._1).toSeq == Seq(0L, 2L, 4L, 1L, 3L), top.toSeq)
    assert(math.abs(top(0)._2 - 1.0) < 1e-9 &&
      math.abs(top(2)._2 - 0.5) < 1e-9 && math.abs(top(3)._2) < 1e-9)
    // one Lloyd round pulls codewords to member means: subspace-0 cell 0
    // holds sub-vectors (1,0), (.9,.1), (1,0) -> mean (29/30, 1/30)
    val trained = Quantize.pqCodebooks(vecs, "vec_id", "embedding",
      m = 2, ksub = 2, iters = 1)
    // tolerance is float-literal noise: the member values are Float
    // (0.9f != 0.9), so the exact mean differs from 29/30 by ~1e-8
    assert(math.abs(trained(0)(0)(0) - 29.0 / 30.0) < 1e-6 &&
      math.abs(trained(0)(0)(1) - 1.0 / 30.0) < 1e-6, trained(0)(0))
    // spec parity on the real fixture: engine ADC top-10 == a driver
    // brute-force reimplementation of the same quantizer
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val cbs8 = Quantize.pqCodebooks(embs, "vec_id", "embedding",
      m = 8, ksub = 16, iters = 0)
    val qv = embs.filter($"vec_id" === 0).select("embedding")
      .collect()(0).getSeq[Float](0)
    val got = Quantize.pqTopK(embs, "vec_id", "embedding", qv, 10, cbs8)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val all = embs.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    def fxdot(a: Seq[Double], b: Seq[Double]): Long =
      a.zip(b).map { case (x, y) => math.round(x * y * 1e15) }.sum
    val dsub = 8
    def code(v: Array[Double], s: Int): Int =
      (0 until 16).minBy { j =>
        val c = cbs8(s)(j)
        val sub = v.slice(s * dsub, (s + 1) * dsub).toSeq
        (fxdot(c, c) - 2 * fxdot(sub, c), j)
      }
    val qd = qv.map(_.toDouble).toSeq
    val qq = fxdot(qd, qd)
    val exp = all.map { case (id, v) =>
      val (dot, nn) = (0 until 8).map { s =>
        val c = cbs8(s)(code(v, s))
        (fxdot(qd.slice(s * dsub, (s + 1) * dsub), c), fxdot(c, c))
      }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
      (id, dot.toDouble / (math.sqrt(qq.toDouble) * math.sqrt(nn.toDouble)))
    }.sortBy { case (id, sc) => (-sc, id) }.take(10)
    assert(got.toSeq == exp.toSeq,
      s"engine ${got.toSeq} vs spec ${exp.toSeq}")
  }

  // ---- token-stream context windows -------------------------------

  /** Driver reference: concatenate token arrays in pos order, then the
    * (window, slot) placement of every token is pure arithmetic. */
  private def windowReference(rows: Seq[(Long, Seq[String])], ctxLen: Int,
                              dropPartial: Boolean)
      : Seq[(Long, Seq[String], Long, Long, Long, Long)] = {
    val stream = rows.sortBy(_._1).flatMap { case (p, ts) => ts.map((p, _)) }
    stream.zipWithIndex
      .map { case ((p, t), tg) => (tg.toLong / ctxLen, p, t) }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (w, g) =>
        (w, g.map(_._3), g.size.toLong, g.map(_._2).distinct.size.toLong,
          g.map(_._2).min, g.map(_._2).max)
      }
      .filter { case (_, _, n, _, _, _) => !dropPartial || n == ctxLen.toLong }
  }

  test("sliceWindows == the concatenated-stream reference at every boundary shape") {
    // empty arrays, one-token docs, a doc spanning several windows,
    // and a partial tail — under several ctxLen × blocks configs
    // (the result must be block-count invariant: blocks only bound the
    // per-task sort, never the stream)
    val docs = Seq(
      0L -> Seq("a", "b", "c"),
      1L -> Seq.empty[String],
      2L -> Seq("d"),
      3L -> (0 until 23).map(i => s"t$i"),
      4L -> Seq("x", "y"),
      5L -> (0 until 7).map(i => s"u$i"),
      6L -> Seq("z")
    ).toDF("id", "ts")
    val pos = Sample.shuffleRank(docs, "id", "win", 4)
    val base = pos.select(col("shuffle_pos"), col("ts"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1))).toSeq
    for (ctx <- Seq(1, 4, 5, 64); blocks <- Seq(1, 3, 100);
         drop <- Seq(true, false)) {
      val rows = TokenStream.sliceWindows(pos, "shuffle_pos", "ts", ctx,
          blocks, dropPartial = drop).collect().sortBy(_.getAs[Long]("window_id"))
      val got = rows.map(r => (r.getAs[Long]("window_id"),
        r.getAs[Seq[String]]("tokens"), r.getAs[Long]("n_tok"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("min_pos"),
        r.getAs[Long]("max_pos"))).toSeq
      val want = windowReference(base, ctx, drop)
      assert(got == want, s"ctx=$ctx blocks=$blocks drop=$drop:\n" +
        s"got  $got\nwant $want")
      // span law: doc_spans tile [0, n_tok) contiguously in slot
      // order, one span per contributing document, pos range matching
      rows.foreach { r =>
        val spans = r.getSeq[org.apache.spark.sql.Row](
            r.fieldIndex("doc_spans"))
          .map(s => (s.getAs[Long]("pos"), s.getAs[Long]("start"),
            s.getAs[Long]("len"))).toSeq
        assert(spans.size.toLong == r.getAs[Long]("n_docs"))
        assert(spans.map(_._3).sum == r.getAs[Long]("n_tok"))
        assert(spans.head._2 == 0L)
        spans.sliding(2).foreach {
          case Seq(a, b) => assert(a._2 + a._3 == b._2,
            s"spans not contiguous in window ${r.getAs[Long]("window_id")}")
          case _ => ()
        }
        assert(spans.map(_._1).min == r.getAs[Long]("min_pos") &&
          spans.map(_._1).max == r.getAs[Long]("max_pos"))
      }
    }
  }

  test("sliceWindows refuses broken streams loudly; empty input composes") {
    val docs = Seq(0L -> Seq("a", "b"), 1L -> Seq("c"), 2L -> Seq("d", "e"))
      .toDF("id", "ts")
    val pos = Sample.shuffleRank(docs, "id", "w2", 4)
    // a hole (filtering AFTER the shuffle) desynchronizes every later
    // window — refused with the fix in the message
    val holes = pos.filter(col("shuffle_pos") =!= 1L)
    val e1 = intercept[IllegalArgumentException] {
      TokenStream.sliceWindows(holes, "shuffle_pos", "ts", 2)
    }
    assert(e1.getMessage.contains("dense"), e1.getMessage)
    // a duplicated position is equally refused (count alone would pass)
    val dup = pos.withColumn("shuffle_pos",
      when(col("shuffle_pos") === 2L, 0L).otherwise(col("shuffle_pos")))
    val e2 = intercept[IllegalArgumentException] {
      TokenStream.sliceWindows(dup, "shuffle_pos", "ts", 2)
    }
    assert(e2.getMessage.contains("dense"), e2.getMessage)
    // a NULL token array has no stream footprint — per-row raise
    val nullTs = pos.withColumn("ts",
      when(col("id") === 1L, lit(null)).otherwise(col("ts")))
    val e3 = intercept[Throwable] {
      TokenStream.sliceWindows(nullTs, "shuffle_pos", "ts", 2).collect()
    }
    def chain(x: Throwable): Seq[Throwable] =
      if (x == null) Nil else x +: chain(x.getCause)
    assert(chain(e3).flatMap(c => Option(c.getMessage))
      .exists(_.contains("sliceWindows")), e3.toString)
    // guards: ctxLen, blocks, non-array column
    intercept[IllegalArgumentException] {
      TokenStream.sliceWindows(pos, "shuffle_pos", "ts", 0)
    }
    intercept[IllegalArgumentException] {
      TokenStream.sliceWindows(pos, "shuffle_pos", "ts", 2, blocks = 0)
    }
    intercept[IllegalArgumentException] {
      TokenStream.sliceWindows(pos, "shuffle_pos", "id", 2)
    }
    // an empty selection yields an empty window stream with the full
    // output schema (a transform composes; the WRITER refuses empties)
    val empty = TokenStream.sliceWindows(pos.filter(lit(false)),
      "shuffle_pos", "ts", 2)
    assert(empty.columns.toSeq == Seq("window_id", "tokens", "doc_spans",
      "n_tok", "n_docs", "min_pos", "max_pos"))
    assert(empty.count() == 0L)
  }

  test("sliceWindowsN: a wrong knownN hint is refused by the density check") {
    val pos = Sample.shuffleRank(Seq(0L -> Seq("a", "b"), 1L -> Seq("c"))
      .toDF("id", "ts"), "id", "w2", 4)
    def slice(df: org.apache.spark.sql.DataFrame, n: Option[Long]) =
      TokenStream.sliceWindowsN(
        df, "shuffle_pos", "ts", 2, blocks = 4, dropPartial = false, knownN = n)
    // a hint of 0 on a non-empty input, and of 2 on an empty one
    for ((df, n) <- Seq(pos -> 0L, pos.filter(lit(false)) -> 2L)) {
      val e = intercept[IllegalArgumentException](slice(df, Some(n)))
      assert(e.getMessage.contains(s"not a dense [0, $n) permutation"), e.getMessage)
    }
    // a right hint slices as without one; an empty input stays empty
    assert(slice(pos, Some(2L)).count() == 2L)
    assert(slice(pos.filter(lit(false)), Some(0L)).count() == 0L)
    assert(slice(pos.filter(lit(false)), None).count() == 0L)
  }

  test("∀ random corpora: sliceWindows == the reference (seeded sweep, int tokens)") {
    val rng = new scala.util.Random(1601L)
    for (trial <- 0 until 12) {
      val nDocs = 1 + rng.nextInt(40)
      val docs = (0L until nDocs.toLong).map { i =>
        val len = rng.nextInt(9) // 0..8, empties included
        (i, (0 until len).map(_ => rng.nextInt(1000)))
      }.toDF("id", "ts")
      val ctx = 1 + rng.nextInt(12)
      val blocks = 1 + rng.nextInt(6)
      val pos = Sample.shuffleRank(docs, "id", s"sw$trial", 4)
      val base = pos.select(col("shuffle_pos"), col("ts")).collect()
        .map(r => (r.getLong(0), r.getSeq[Int](1))).toSeq
      val stream = base.sortBy(_._1).flatMap { case (p, ts) => ts.map((p, _)) }
      val want = stream.zipWithIndex
        .map { case ((p, t), tg) => (tg.toLong / ctx, p, t) }
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (w, g) => (w, g.map(_._3), g.size.toLong,
          g.map(_._2).distinct.size.toLong) }
      val got = TokenStream.sliceWindows(pos, "shuffle_pos", "ts", ctx,
          blocks, dropPartial = false)
        .collect().map(r => (r.getAs[Long]("window_id"),
          r.getAs[Seq[Int]]("tokens"), r.getAs[Long]("n_tok"),
          r.getAs[Long]("n_docs"))).sortBy(_._1).toSeq
      assert(got == want,
        s"trial $trial (docs=$nDocs ctx=$ctx blocks=$blocks):\n$got\n$want")
    }
  }

  test("∀ random recipes: temperature quotas carry the exact expected-mass law") {
    // each doc's micro-weight w = f*1e6 + thr satisfies
    // w <= exact*1e6 < w + 1, so sum(c_d * w_d) lands in
    // (budget*1e6 - sum(c), budget*1e6] — EXACTLY, by construction
    val rng = new scala.util.Random(1602L)
    for (trial <- 0 until 10) {
      val nDom = 2 + rng.nextInt(6)
      val counts = (0 until nDom).map(_ => 1L + rng.nextInt(500))
      val rows = counts.zipWithIndex.flatMap { case (c, d) =>
        (0L until c).map(i => (d.toLong * 10000L + i, s"dom$d")) }
      val df = rows.toDF("id", "dom")
      val alpha = Seq(0.5, 1.0, 0.75)(rng.nextInt(3))
      val budget = 1L + rng.nextInt(2000)
      // the dry-run card NEVER refuses — where the sampler throws, the
      // card reports the offender via over_cap
      val plan = Sample.temperaturePlan(df, "dom", "id", alpha, budget)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8))).toMap
      assert(plan.keySet == counts.indices.map(d => s"dom$d").toSet)
      val out = try Sample.sampleByTemperature(df, "dom", "id", alpha,
          budget, salt = s"t$trial")
        catch { case e: IllegalArgumentException =>
          assert(e.getMessage.contains("100-epoch"), e.getMessage)
          assert(plan.values.exists(_._6 == 1L),
            s"trial $trial: sampler refused but no plan row is over_cap")
          // cap legitimately hit (tiny domain, hot budget) — verify and skip
          null
        }
      if (out != null) {
        assert(plan.values.forall(_._6 == 0L),
          s"trial $trial: plan flags over_cap but the sampler accepted")
        // replicate the quota derivation (the dyadic sqrt chain for
        // 0.5/0.75 — powSnap's own law) and check the mass law
        def snap(c: Long) = Sample.powSnap(c, alpha)
        val total = counts.map(c => BigInt(snap(c))).sum
        val mass = counts.map { c =>
          val num = BigInt(budget) * snap(c)
          val den = total * c
          val w = (num / den) * 1000000 + (num % den) * 1000000 / den
          BigInt(c) * w
        }.sum
        val b6 = BigInt(budget) * 1000000
        assert(mass <= b6 && mass > b6 - counts.map(BigInt(_)).sum,
          s"trial $trial: expected mass $mass outside " +
            s"(${b6 - counts.map(BigInt(_)).sum}, $b6]")
        // the realized draw matches the derived quotas exactly
        val realized = out.groupBy("dom").count().collect()
          .map(r => (r.getString(0), r.getLong(1))).toMap
        counts.zipWithIndex.foreach { case (c, d) =>
          val num = BigInt(budget) * snap(c)
          val den = total * c
          val f = (num / den).toLong
          val thr = ((num % den) * 1000000 / den).toLong
          val got = realized.getOrElse(s"dom$d", 0L)
          assert(got >= f * c && got <= (f + 1) * c,
            s"trial $trial dom$d: $got copies outside [${f * c}, ${(f + 1) * c}]")
          // the card's quota/epochs/expected columns ARE these numbers
          val (pMass, pF, pThr, pEpochs, pExp, _) = plan(s"dom$d")
          assert(pMass == c && pF == f && pThr == thr &&
            pEpochs == f * 1000000L + thr &&
            pExp == (BigInt(c) * (BigInt(f) * 1000000 + thr) / 1000000).toLong,
            s"trial $trial dom$d: plan row $pF/$pThr/$pEpochs/$pExp " +
              s"disagrees with the derived quota $f/$thr")
        }
      }
    }
  }

  test("writeContextEpoch: a ctxLen change publishes beside the pinned window epoch") {
    val docs = (0L until 40L).map(i => (i, (0 until 9).map(j => s"t$i-$j")))
      .toDF("id", "ts")
    val pos = Sample.shuffleRank(docs, "id", "we", 4)
    val root = TestSpark.tmpDir("ctxepoch") + "/root"
    // 360 tokens: ctx 8 -> 45 windows; ctx 16 -> 22 (tail dropped)
    assert(TokenStream.writeContextEpoch(pos, "shuffle_pos", "ts", 8, 2,
      root, "we", 4) == 0)
    val ep0 = ShardWriter.readShardEpoch(spark, root, 0)
      .select("window_id", "tokens").collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toSeq)).sortBy(_._1).toSeq
    assert(ep0.size == 45 && ep0.forall(_._2.size == 8))
    // a new ctxLen is a NEW identity (the budget slot) -> epoch 1
    assert(TokenStream.writeContextEpoch(pos, "shuffle_pos", "ts", 16, 2,
      root, "we", 4) == 1)
    assert(ShardWriter.readShardEpoch(spark, root, 1).count() == 22L)
    // the pinned ctx-8 epoch is untouched, window for window
    val ep0b = ShardWriter.readShardEpoch(spark, root, 0)
      .select("window_id", "tokens").collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toSeq)).sortBy(_._1).toSeq
    assert(ep0b == ep0, "pinned window epoch drifted after a re-publish")
    // idempotent head re-publish stays epoch 1
    assert(TokenStream.writeContextEpoch(pos, "shuffle_pos", "ts", 16, 2,
      root, "we", 4) == 1)
  }

  test("resumeTokensIntoEpoch: consumed docs never reappear; boundary doc is CONSUMED") {
    import org.apache.spark.sql.functions._
    // doc i carries (i % 4) + 2 tokens -> boundaries rarely align with
    // the ctx-8 window cut, so the partially-consumed rule is exercised
    val docs = (0L until 12L).map(i =>
      (i, (0 until ((i % 4) + 2).toInt).map(j => s"d$i-$j"))).toDF("id", "ts")
      .withColumn("n_tok", size(col("ts")).cast("long"))
    val docRoot = TestSpark.tmpDir("rtok") + "/docs"
    val winRoot = TestSpark.tmpDir("rtok") + "/wins"
    val pos0 = Sample.shuffleRank(docs, "id", "rt", 4)
    assert(ShardWriter.writeShardEpoch(pos0, "id", "n_tok", 2, docRoot,
      "rt", 4, budget = 100L, maxRowsPerFile = 4L) == 0)
    assert(TokenStream.writeContextEpoch(pos0, "shuffle_pos", "ts", 8, 2,
      winRoot, "rt", 4, maxWindowsPerFile = 2L) == 0)
    // the re-selection drops doc 5; a new identity -> doc epoch 1
    val docs1 = docs.filter(col("id") =!= 5L)
    val pos1 = Sample.shuffleRank(docs1, "id", "rt", 4)
    assert(ShardWriter.writeShardEpoch(pos1, "id", "n_tok", 2, docRoot,
      "rt", 4, budget = 99L, maxRowsPerFile = 4L) == 1)

    // ground truth, derived from the published epochs themselves
    val old = ShardWriter.readShardEpoch(spark, docRoot, 0)
      .select("shuffle_pos", "id", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[String](2).toSeq))
      .sortBy(_._1)
    // consumed: step 1 x batch 2 = windows [0, 2) = token prefix [0, 16)
    val stream = old.flatMap { case (p, _, ts) => ts.map(t => (p, t)) }
    val pSeen = stream.take(16).map(_._1).max
    val consumedIds = old.filter(_._1 <= pSeen).map(_._2).toSet
    // the boundary doc straddles token 16 iff the cut lands mid-doc —
    // either way it is consumed by the rule
    val newPerm = ShardWriter.readShardEpoch(spark, docRoot, 1)
      .select("shuffle_pos", "id", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[String](2).toSeq))
      .sortBy(_._1)
    val remainingToks = newPerm.filterNot(x => consumedIds(x._2))
      .flatMap(_._3).toSeq
    val wantWindows = remainingToks.grouped(8).zipWithIndex
      .map { case (w, i) => (i.toLong, w.toList) }.toSeq

    val got = TokenStream.resumeTokensIntoEpoch(spark, docRoot, winRoot,
        oldDocEpoch = 0, newDocEpoch = 1, oldWinEpoch = 0,
        step = 1L, batchSize = 2L, tokensCol = "ts", ctxLen = 8,
        blocks = 4, dropPartial = false)
      .select("window_id", "tokens").collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toList)).sortBy(_._1).toSeq
    assert(got == wantWindows, s"\ngot  $got\nwant $wantWindows")
    // no consumed doc's token appears anywhere in the continuation
    val gotToks = got.flatMap(_._2).toSet
    consumedIds.foreach(id =>
      assert(!gotToks.exists(_.startsWith(s"d$id-")), s"doc $id re-seen"))
    // step = 0: the full new epoch re-sliced (every epoch-1 token)
    val full = TokenStream.resumeTokensIntoEpoch(spark, docRoot, winRoot,
      0, 1, 0, step = 0L, batchSize = 2L, "ts", 8, 4, dropPartial = false)
    assert(full.agg(sum("n_tok")).head().getLong(0) ==
      newPerm.map(_._3.size.toLong).sum)
    intercept[IllegalArgumentException] {
      TokenStream.resumeTokensIntoEpoch(spark, docRoot, winRoot,
        0, 1, 0, step = -1L, batchSize = 2L, "ts", 8)
    }
  }

  test("windowStats carries the full accounting incl. the partial tail") {
    val docs = Seq(0L -> (0 until 10).map(i => s"a$i"),
      1L -> (0 until 3).map(i => s"b$i")).toDF("id", "ts")
    val pos = Sample.shuffleRank(docs, "id", "w3", 2)
    val st = TokenStream.windowStats(pos, "shuffle_pos", "ts", 4).head()
    // 13 tokens at ctx 4 -> windows 0..3, last holds 1 token
    assert(st.getAs[Long]("n_windows") == 4L)
    assert(st.getAs[Long]("n_full") == 3L)
    assert(st.getAs[Long]("n_tokens") == 13L)
    assert(st.getAs[Long]("max_window") == 3L)
  }

  test("corpusReport: planted dup/lang/mass ground truth, NULL text and domain") {
    val df = Seq(
      ("web", "the cat is in the hat"),            // en, 6 tokens, 21 chars
      ("web", "the cat is in the hat"),            // exact dup of the above
      ("web", "der hund und die katze ist nicht"), // de
      ("books", "el que es una por los y"),        // es
      ("books", null: String),                     // empty doc: 1 token ([''])
      (null: String, "the a of")                   // NULL domain stratum
    ).toDF("dom", "text")
    val rep = TextStats.corpusReport(df, "dom", "text").collect()
      .map(r => (Option(r.getString(0)).getOrElse("<null>"), r)).toMap
    val web = rep("web")
    assert(web.getAs[Long]("n_docs") == 3L)
    assert(web.getAs[Long]("n_tokens") == 6L + 6L + 7L)
    assert(web.getAs[Long]("n_chars") == 21L + 21L + 32L)
    assert(web.getAs[Long]("n_dup_docs") == 1L)   // the exact pair
    assert(web.getAs[Long]("n_langs") == 2L)
    assert(web.getAs[String]("top_lang") == "en") // 2 en vs 1 de
    assert(web.getAs[Long]("top_lang_docs") == 2L)
    val books = rep("books")
    assert(books.getAs[Long]("n_docs") == 2L &&
      books.getAs[Long]("n_dup_docs") == 0L)
    assert(books.getAs[Long]("n_tokens") == 7L + 1L) // NULL text -> ['']
    val nul = rep("<null>")
    assert(nul.getAs[Long]("n_docs") == 1L &&
      nul.getAs[String]("top_lang") == "en")
    // a domain column named like a report column is refused
    intercept[IllegalArgumentException] {
      TextStats.corpusReport(df.withColumnRenamed("dom", "n_docs"),
        "n_docs", "text")
    }
  }

  test("corpusReportNearDup books the drop in the non-kept doc's domain") {
    val df = Seq(
      (0L, "a", "the quick brown fox jumps over the lazy dog again and again"),
      // near-dup of doc 0 in ANOTHER domain: doc 0 is the cluster min
      // (kept), so the debt books under "b" — where the drop would land
      (1L, "b", "the quick brown fox jumps over the lazy dog again and again zzz"),
      (2L, "a", "completely unrelated content about catalyst plan shapes")
    ).toDF("id", "dom", "text")
    val rep = TextStats.corpusReportNearDup(df, "dom", "id", "text")
      .collect().map(r => (r.getString(0),
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_neardup_docs")))).toMap
    assert(rep("a") == ((2L, 0L)), rep)
    assert(rep("b") == ((1L, 1L)), rep)
    intercept[IllegalArgumentException] {
      TextStats.corpusReportNearDup(df.withColumnRenamed("dom", "n_neardup_docs"),
        "n_neardup_docs", "id", "text")
    }
  }

  test("corpusReportContamination counts exactly the sweep's drop set per domain") {
    val df = Seq(
      (0L, "a", "alpha beta gamma delta epsilon zeta eta theta"),
      // shares >= 2 trigrams with the benchmark doc -> contaminated
      (1L, "b", "xx alpha beta gamma delta epsilon yy"),
      (2L, "a", "completely unrelated content about catalyst plan shapes")
    ).toDF("id", "dom", "text")
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("bid", "btext")
    val rep = TextStats.corpusReportContamination(df, "dom", "id", "text",
        bench, "bid", "btext", n = 3, minShared = 2L)
      .collect().map(r => (r.getString(0),
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_contaminated_docs")))).toMap
    // doc 0 shares 4 trigrams, doc 1 shares 3, doc 2 none
    assert(rep("a") == ((2L, 1L)), rep)
    assert(rep("b") == ((1L, 1L)), rep)
    intercept[IllegalArgumentException] {
      TextStats.corpusReportContamination(
        df.withColumnRenamed("dom", "n_contaminated_docs"),
        "n_contaminated_docs", "id", "text", bench, "bid", "btext")
    }
  }

  // ---- temperature-scaled mixing ----------------------------------

  test("sampleByTemperature derives the exact integer quotas (alpha=0.5 hand case)") {
    // a:4 docs, b:16 docs, budget 12, alpha .5: m_a=2e6, m_b=4e6,
    // M=6e6 -> w_a = 12·2e6/(6e6·4) = exactly 1 (floor 1, thr 0);
    // w_b = 12·4e6/(6e6·16) = exactly 0.5 (floor 0, thr 500000)
    val df = ((0 until 4).map(i => (i.toLong, "a")) ++
      (10 until 26).map(i => (i.toLong, "b"))).toDF("id", "dom")
    val got = Sample.sampleByTemperature(df, "dom", "id", 0.5, 12L)
      .select("id", "dom", "epoch").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(x => (x._1, x._3)).toSeq
    val want = Sample.repeatByQuota(df, "dom", "id",
        Map("a" -> ((1L, 0L)), "b" -> ((0L, 500000L))))
      .select("id", "dom", "epoch").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(x => (x._1, x._3)).toSeq
    assert(got == want)
    // every a-doc exactly once; b-docs 0 or 1 times; output near budget
    assert(got.count(_._2 == "a") == 4)
    assert(got.filter(_._2 == "a").forall(_._3 == 0L))
    val bCount = got.count(_._2 == "b")
    assert(bCount >= 1 && bCount <= 16, s"b drew $bCount")
  }

  test("sampleByTemperature: alpha=1 is the uniform per-doc rate; NULL domain is a stratum") {
    // alpha 1: w_d = budget·c_d/(C·c_d) = budget/C for EVERY domain —
    // with budget == corpus size every doc appears exactly once,
    // including the NULL-domain stratum (quota via the default slot)
    val df = (Seq((0L, "a"), (1L, "a"), (2L, "b")) ++
      Seq((3L, null: String), (4L, null: String))).toDF("id", "dom")
    val out = Sample.sampleByTemperature(df, "dom", "id", 1.0, 5L)
      .select("id", "epoch").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.sorted.toSeq == Seq((0L, 0L), (1L, 0L), (2L, 0L),
      (3L, 0L), (4L, 0L)))
  }

  test("sampleByTemperature refuses the 100-epoch cap and bad dials") {
    val df = (Seq((0L, "tiny")) ++ (1 until 10000).map(i => (i.toLong, "big")))
      .toDF("id", "dom")
    val e = intercept[IllegalArgumentException] {
      Sample.sampleByTemperature(df, "dom", "id", 0.5, 100000L)
    }
    assert(e.getMessage.contains("100-epoch"), e.getMessage)
    intercept[IllegalArgumentException] {
      Sample.sampleByTemperature(df, "dom", "id", 0.0, 10L)
    }
    intercept[IllegalArgumentException] {
      Sample.sampleByTemperature(df, "dom", "id", 1.5, 10L)
    }
    intercept[IllegalArgumentException] {
      Sample.sampleByTemperature(df, "dom", "id", 0.5, 0L)
    }
    intercept[IllegalArgumentException] {
      Sample.sampleByTemperature(df, "dom", "id", 0.5, 10L, maxDomains = 1)
    }
  }

  test("sampleByTemperatureTokens: token-mass quotas (hand case) + guards") {
    // a: 1 doc of 16 tokens, b: 4 docs of 1 token each -> c_a=16, c_b=4
    // alpha .5: m_a=4e6, m_b=2e6, M=6e6; budget 24 tokens:
    // w_a = 24·4e6/(6e6·16) = exactly 1; w_b = 24·2e6/(6e6·4) = exactly 2
    // (by DOC mass the same corpus would weight a 4x LOWER than this)
    val df = (Seq((0L, "a", 16L)) ++
      (10 until 14).map(i => (i.toLong, "b", 1L))).toDF("id", "dom", "nt")
    val got = Sample.sampleByTemperatureTokens(df, "dom", "id", "nt",
        0.5, 24L)
      .select("id", "epoch").collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq
    assert(got == Seq((0L, 0L), (10L, 0L), (10L, 1L), (11L, 0L), (11L, 1L),
      (12L, 0L), (12L, 1L), (13L, 0L), (13L, 1L)))
    // a ZERO-mass domain drops (cannot carry token mass); the others
    // keep their exact quotas
    val withEmpty = df.union(Seq((20L, "empty", 0L)).toDF("id", "dom", "nt"))
    val got2 = Sample.sampleByTemperatureTokens(withEmpty, "dom", "id",
        "nt", 0.5, 24L)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(!got2.contains(20L) && got2.contains(0L))
    // NULL and negative token counts refuse loudly (silent deflation)
    intercept[Exception] {
      Sample.sampleByTemperatureTokens(
        Seq((0L, "a", null.asInstanceOf[java.lang.Long])).toDF("id", "dom", "nt"),
        "dom", "id", "nt", 0.5, 10L).collect()
    }
    intercept[Exception] {
      Sample.sampleByTemperatureTokens(Seq((0L, "a", -1L)).toDF("id", "dom", "nt"),
        "dom", "id", "nt", 0.5, 10L).collect()
    }
    // the 100-epoch cap fires on token mass too (tiny domain, hot budget)
    val skew = (Seq((0L, "tiny", 1L)) ++
      (1 until 1000).map(i => (i.toLong, "big", 100L))).toDF("id", "dom", "nt")
    val e = intercept[IllegalArgumentException] {
      Sample.sampleByTemperatureTokens(skew, "dom", "id", "nt", 0.5, 10000000L)
    }
    assert(e.getMessage.contains("100-epoch"), e.getMessage)
  }

  test("powPortable: dyadic alphas ride the exact sqrt chain, others fall to pow") {
    // alpha = 0.75 -> sqrt(x)·sqrt(sqrt(x)), ascending order
    for (x <- Seq(1.0, 2.0, 20.0, 100.0, 12345.0)) {
      assert(Sample.powPortable(x, 0.75) ==
        Math.sqrt(x) * Math.sqrt(Math.sqrt(x)))
      assert(Sample.powPortable(x, 0.5) == Math.sqrt(x))
      assert(Sample.powPortable(x, 0.25) == Math.sqrt(Math.sqrt(x)))
      // 0.875 = 2^-1 + 2^-2 + 2^-3: three factors, ascending
      val s1 = Math.sqrt(x); val s2 = Math.sqrt(s1); val s3 = Math.sqrt(s2)
      assert(Sample.powPortable(x, 0.875) == s1 * s2 * s3)
      assert(Sample.powPortable(x, 1.0) == x)
      // non-dyadic: pow (documented bound)
      assert(Sample.powPortable(x, 0.3) == Math.pow(x, 0.3))
    }
    assert(Sample.dyadicBits(0.75) == Some(Set(1, 2)))
    assert(Sample.dyadicBits(0.3).isEmpty)
    // the chain stays within a relative 1e-12 of pow (sanity, not law)
    for (c <- Seq(7L, 123L, 99999L)) {
      val chain = Sample.powPortable(c.toDouble, 0.75)
      val pow = Math.pow(c.toDouble, 0.75)
      assert(math.abs(chain - pow) / pow < 1e-12)
    }
  }

  test("repeatByQuota is repeatByWeight's exact core (parity + guards)") {
    val df = Seq((0L, "a"), (1L, "a"), (2L, "b"), (3L, "c"), (4L, "b"))
      .toDF("id", "dom")
    val w = Map("a" -> 2.5, "b" -> 0.4)
    val byWeight = Sample.repeatByWeight(df, "dom", "id", w,
        defaultWeight = 1.0, salt = "q")
      .select("id", "epoch").collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq
    val byQuota = Sample.repeatByQuota(df, "dom", "id",
        Map("a" -> ((2L, 500000L)), "b" -> ((0L, 400000L))),
        defaultQuota = (1L, 0L), salt = "q")
      .select("id", "epoch").collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq
    assert(byWeight == byQuota)
    intercept[IllegalArgumentException] {
      Sample.repeatByQuota(df, "dom", "id", Map("a" -> ((101L, 0L))))
    }
    intercept[IllegalArgumentException] {
      Sample.repeatByQuota(df, "dom", "id", Map("a" -> ((1L, 1000000L))))
    }
    // floor 100 + a live coin = a 101st copy — past the expected-weight
    // cap (repeatByWeight can never produce this pair)
    intercept[IllegalArgumentException] {
      Sample.repeatByQuota(df, "dom", "id", Map("a" -> ((100L, 1L))))
    }
    assert(Sample.repeatByQuota(df, "dom", "id", Map("a" -> ((100L, 0L))))
      .count() > 0L)
    // a fraction rounding to a FULL coin normalizes to the next floor
    // (w = 0.9999999 -> exactly one copy per row, not a refusal)
    val full = Sample.repeatByWeight(df, "dom", "id",
        Map("a" -> 0.9999999, "b" -> 0.9999999), defaultWeight = 0.9999999)
      .select("id", "epoch").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(full.sorted.toSeq == (0L until 5L).map((_, 0L)))
  }
}
