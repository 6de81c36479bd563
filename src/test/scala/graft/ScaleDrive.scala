package graft

import org.apache.spark.sql.functions._

import graft.store.{HDFStore, StoreMode}

/** Scale drive: 10M-row table, measuring that positional ops cost what the
  * design says they cost (point reads ~row-group, mutations ~one file,
  * boundary ops ~metadata). Run: `sbt "Test/runMain graft.ScaleDrive"`. */
object ScaleDrive {
  def main(args: Array[String]): Unit = {
    val spark = GateSession(8, "ERROR")
    val dir = java.nio.file.Files.createTempDirectory("scale-store").toString
    val st = HDFStore.open(spark, dir, StoreMode.Overwrite)
    val N = 10_000_000L
    def time[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val a = f
      println(f"$tag%-42s ${(System.nanoTime() - t0) / 1e9}%8.2f s"); a
    }
    time(s"put $N rows (1M-row files)") {
      st.put("big", spark.range(N).select(col("id").as("k"),
        (col("id") * 7 % 1000).as("v"), md5(col("id").cast("string")).as("payload")),
        Some(1000000L), None)
    }
    val t = st.table("big")
    time("point read [9,876,543]") { assert(t.point(9876543).collect()(0).getLong(0) == 9876543L) }
    time("slice [5M .. 5M+999]") { assert(t.slice(5000000, 5000999).count() == 1000) }
    time("hyperslab off=1M count=1000 stride=1000 blk=2") { assert(t.hyperslab(1000000, 1000, 1000, 2).count() == 2000) }
    time("delete one whole file span [3M .. 4M)") { t.delete(3000000, 3999999) }
    println(s"  nrows=${t.nrows} segments=${st.segmentCount("big")}")
    time("point update at 8,000,000") {
      t.update(8000000, t.slice(0, 0))
    }
    time("insert 1000 rows at a file boundary (1M)") {
      t.insert(1000000, t.slice(0, 999))
    }
    println(s"  nrows=${t.nrows} segments=${st.segmentCount("big")}")
    time("append 1000 rows") { t.append(t.slice(0, 999)) }
    time("read-back point after all mutations") {
      val r = t.point(9000000 - 999).collect()(0) // shifted by delete(1M)+insert(1k)... just exercise
      assert(r != null)
    }
    time("compactSmallRuns(1M)") { t.compactSmallRuns(1000000) }
    println(s"  final segments=${st.segmentCount("big")} nrows=${t.nrows}")

    // ---- writeSorted scale guard (r18): a small rewrite/compaction
    // group sorts IN-TASK (coalesce(1) — zero shuffle), while a group
    // past 4x chunkSize falls back to the PARALLEL global range sort
    // (its exchange is visible as shuffle-write bytes). The guard is
    // what keeps large segment-group compactions off the one-task
    // scale-killer path.
    println("== writeSorted size guard (in-task vs parallel sort)")
    locally {
      val shufW = new java.util.concurrent.atomic.AtomicLong(0)
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
            val m = e.taskMetrics
            if (m != null) {
              shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten); ()
            }
          }
        })
      def drained(): Long = {
        var last = shufW.get; var quiet = 0
        while (quiet < 3) {
          Thread.sleep(50)
          val now = shufW.get
          if (now == last) quiet += 1 else { quiet = 0; last = now }
        }
        last
      }
      // chunkSize 100k: guard bound = 400k rows
      st.put("cguard", spark.range(200000).select(col("id").as("k")),
        Some(100000L), None)
      val tg = st.table("cguard")
      (1 to 8).foreach(i => tg.append(
        spark.range(200000).select((col("id") + 1000000L * i).as("k"))))
      val smallBase = drained()
      time("small-run point update (in-task sort)") {
        // plain 1-row frame (no _rowid): the replacement path itself is
        // shuffle-free, so any shuffle here would be writeSorted's
        tg.update(50L, spark.range(1).select(lit(999999999L).as("k")))
      }
      val smallShuf = drained() - smallBase
      // the replacement-count aggregate shuffles a few hundred bytes;
      // a sort of the 100k-row file-run would shuffle ~MBs — the bound
      // separates the paths by orders of magnitude
      println(s"  small rewrite shuffle bytes = $smallShuf (want ~0: in-task sort)")
      assert(smallShuf < 10240L,
        s"small file-run rewrite should sort in-task, shuffled $smallShuf B")
      val bigBase = drained()
      time("compact 8x200k group past 4x chunk (parallel sort)") {
        tg.compactSmallRuns(1600000L)
      }
      val bigShuf = drained() - bigBase
      println(s"  big-group compaction shuffle bytes = $bigShuf (want MBs: parallel sort)")
      assert(bigShuf > (1L << 20),
        "a compaction group past 4x chunkSize should keep the parallel " +
          s"global sort (expected a range exchange of ~1.6M rows, saw $bigShuf B)")
      assert(tg.nrows == 1800000L && tg.df.count() == 1800000L)
    }

    // segment-count scaling: heavy micro-append ingest (the streaming-sink
    // shape) then read-plan latency vs segment count — covered by the
    // multi-path df above MultiPathSegments, and compaction below it
    println("== 1000 micro-appends (streaming-ingest shape)")
    st.put("ticks", spark.range(1000).select(col("id").as("k"), col("id").cast("double").as("v")))
    val tk = st.table("ticks")
    time("1000 single-row appends") {
      (0 until 1000).foreach(i =>
        tk.append(spark.range(1).select(lit(i).cast("long").as("k"), lit(i.toDouble).as("v"))))
    }
    println(s"  segments=${st.segmentCount("ticks")} nrows=${tk.nrows}")
    time("full-scan count @1001 segments") { assert(tk.df.count() == 2000) }
    time("full-scan agg sum(v) @1001 segments") { tk.df.agg(sum("v")).collect() }
    time("slice [500..520] @1001 segments") { assert(tk.slice(500, 520).count() == 21) }
    time("point read @1001 segments") { assert(tk.point(1500).collect()(0).getLong(0) == 500L) }
    time("compactSmallRuns(100k)") { tk.compactSmallRuns(100000) }
    println(s"  segments after compact=${st.segmentCount("ticks")}")
    time("full-scan count after compact") { assert(tk.df.count() == 2000) }
    st.close()

    // connected-components scaling: 1M edges, mixed shape — 10k chains of
    // length 50 (worst-case diameter; pointer jumping makes rounds
    // O(log diameter) ≈ 7, was 51 with propagation alone) plus 100k stars
    // of 5 (the realistic near-dup-clique shape). Verifies convergence
    // and that per-round cost stays flat as labels shrink.
    println("== connected components over 1M edges (chains of 50 + stars of 5)")
    val chains = spark.range(500000) // NB: Column./ is double division — use expr div
      .select((col("id") + expr("id div 49") * 1000000L).as("id1")) // gap per chain
      .withColumn("id2", col("id1") + 1)
    val stars = spark.range(500000) // id range disjoint from any chain vertex
      .select((lit(20_000_000_000L) + expr("id div 5") * 10).as("id1"),
        (lit(20_000_000_000L) + expr("id div 5") * 10 + (col("id") % 5) + 1).as("id2"))
    val edges = chains.unionByName(stars)
    val cc = time("hash-min converge (diameter 50)") {
      val labels = graft.ops.Cluster.connectedComponents(edges, "id1", "id2")
      labels.count(); labels
    }
    val nClusters = time("distinct clusters") { cc.select("cluster").distinct().count() }
    println(s"  vertices=${cc.count()} clusters=$nClusters (expect ~10204+100000)")

    // k-means scaling: 1M synthetic 64-dim vectors. Verifies the per-round
    // shape holds at volume: one scan with k fused fixed-point dots + a
    // groupBy(list) of element_at sums (NO posexplode — a generator would
    // re-evaluate the argmax per dimension), k×(dim+1) sums to the driver.
    println("== k-means over 1M synthetic 64-dim vectors (k=16, iters=2)")
    val vecs = spark.range(1000000).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(64)),
        i => (pmod(hash(col("id") * 64 + i), lit(1000)).cast("float") / lit(500.0f)
          - lit(1.0f)).cast("float")).as("embedding"))
      .localCheckpoint(true) // materialize once; train reads it 5x
    val cb = time("kmeansCodebook (2 Lloyd rounds)") {
      graft.ops.Similarity.kmeansCodebook(vecs, "vec_id", "embedding", 16, 2)
    }
    val assigned = time("assignment pass") {
      graft.ops.Similarity.kmeansAssign(vecs, "vec_id", "embedding", cb)
        .groupBy("list").count().collect()
    }
    println(s"  lists=${assigned.length} total=${assigned.map(_.getLong(1)).sum} " +
      s"max=${assigned.map(_.getLong(1)).max} (expect 16 lists, 1000000 total)")

    // persisted IVF at volume: build assigns every vector ONCE; the probe
    // reads only nprobe/nlist of the corpus via partition pruning.
    println("== persisted IVF index over 1M vectors: build once, probe cheap")
    val idxPath = java.nio.file.Files.createTempDirectory("scale-ivf").toString
    time("buildIvfIndex (16 lists, 1M vectors)") {
      graft.ops.Similarity.buildIvfIndex(vecs, "vec_id", "embedding", cb, idxPath)
    }
    val qv1m = vecs.filter(col("vec_id") === 42)
      .select("embedding").collect()(0).getSeq[Float](0)
    time("ivfTopKIndexed probe (nprobe=2 of 16)") {
      val top = graft.ops.Similarity.ivfTopKIndexed(spark, idxPath, cb, qv1m, 10, 2).collect()
      assert(top.nonEmpty && top.head.getLong(0) == 42L,
        "query vector must rank itself first from its own probed list")
    }

    // batch probe at volume: 250 query rows (125 corpus members + 125
    // 2x-scaled corpus copies at shifted ids) against the 1M-vector
    // tree in ONE job — every query's top-1 must be its (source)
    // corpus vector at cosine 1.0. Cost truth: candidate pairs =
    // |Q| · nprobe/nlist · |corpus| exact dots; this drive's nlist=16
    // makes the probed fraction a deliberately pessimistic 1/8 (250
    // queries → 31M pairs; a measured 2k-query run scored its 250M
    // pairs correctly in ~550 s — the per-pair cost is real, which is
    // exactly why a production 1M-vector tree sizes nlist ≈ √N ≈ 1000,
    // cutting the fraction 60×, and why huge batches move to the
    // compressed ivfPqKnnJoin where the dot becomes m lookups). The
    // assertion here is plan shape + exactness: ONE equi-join + window
    // instead of |Q| separate probe jobs, zero wrong top-1s.
    println("== batch kNN join: 250 queries x 1M-vector persisted index")
    val qBatch = vecs.filter(col("vec_id") < 125)
      .select(col("vec_id"), col("embedding"))
      .unionByName(vecs.filter(col("vec_id") >= 125 && col("vec_id") < 250)
        .select((col("vec_id") + 10000000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding")))
      .localCheckpoint(true)
    time("knnJoinIndexed (k=1, nprobe=2, 250 queries)") {
      val top1 = graft.ops.Similarity.knnJoinIndexed(spark, idxPath, qBatch,
          "vec_id", "embedding", k = 1, nprobe = 2)
        .collect()
      assert(top1.length == 250, s"every query answered, got ${top1.length}")
      val self = top1.count(r => r.getLong(1) == r.getLong(0))
      val copies = top1.count(r => r.getLong(0) >= 10000000L &&
        r.getLong(1) == r.getLong(0) - 10000000L &&
        math.abs(r.getDouble(2) - 1.0) < 1e-9)
      assert(self == 125, s"corpus members must self-match, got $self")
      assert(copies == 125,
        s"every scaled copy must find its source at cosine 1.0, got $copies")
    }
    qBatch.unpersist() // section done — release the checkpoint's blocks

    // PQ at volume: 1M 64-dim float vectors (~256 MB of vector data)
    // become 1M x 8 codeword indices; the composed IVF+PQ probe reads
    // 2/16 list directories AND only code rows — no float-vector I/O.
    // 3 planted near-copies of the query vector (shared codes, tied ADC
    // score) must surface in the probed top-k — the near-dup-retrieval
    // use case the compression must not break.
    println("== IVF+PQ over 1M vectors: 32x-compressed codes, pruned ADC probe")
    val pqcbs = time("pqCodebooks (m=8, ksub=16, 1 Lloyd round, 1M vectors)") {
      graft.ops.Quantize.pqCodebooks(vecs, "vec_id", "embedding", 8, 16, 1)
    }
    val v42 = vecs.filter(col("vec_id") === 42)
      .select("embedding").collect()(0).getSeq[Float](0)
    val vecsPlus = vecs.unionByName(spark.range(3)
      .select((col("id") + 5000000L).as("vec_id"),
        typedLit(v42.map(x => x * 1.0005f)).as("embedding")))
    val ipqPath = java.nio.file.Files.createTempDirectory("scale-ivfpq").toString
    time("buildIvfPqIndex (16 lists, 1M+3 codes)") {
      graft.ops.Quantize.buildIvfPqIndex(vecsPlus, "vec_id", "embedding",
        cb, pqcbs, ipqPath)
    }
    time("ivfPqTopKIndexed probe (nprobe=2 of 16, codes only)") {
      val top = graft.ops.Quantize.ivfPqTopKIndexed(spark, ipqPath, v42, 10, 2)
        .collect().map(_.getLong(0)).toSeq
      assert(top.contains(42L) &&
        Seq(5000000L, 5000001L, 5000002L).forall(top.contains),
        s"query vector and its 3 planted near-copies must surface, got $top")
    }
    // two-stage retrieval at volume: the ADC top-50 pool (codes-only,
    // corpus-size-independent re-rank cost) re-scored by exact cosine —
    // at full precision the query itself must rank FIRST with score 1
    // (ADC can only approximate that), and the 1.0005x planted copies
    // must sit at the top at exact cosine ~1
    time("ivfPqTopKRefined (r=50 exact re-rank of the ADC pool)") {
      val top = graft.ops.Quantize.ivfPqTopKRefined(spark, ipqPath, vecsPlus,
          "vec_id", "embedding", v42, k = 5, r = 50, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(top.head._1 == 42L && math.abs(top.head._2 - 1.0) < 1e-12,
        s"exact re-rank must put the query itself first at 1.0, got ${top.toSeq}")
      assert(Seq(5000000L, 5000001L, 5000002L)
        .forall(id => top.map(_._1).contains(id)),
        s"planted near-copies must survive the re-rank cut, got ${top.toSeq}")
    }
    val codeBytes = {
      val d = new java.io.File(ipqPath)
      def sz(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles()).map(_.map(sz).sum).getOrElse(0L)
        else f.length()
      sz(d)
    }
    println(f"  on-disk IVF+PQ tree: ${codeBytes / 1e6}%.1f MB for 1M vectors " +
      "(raw float vectors: ~256 MB)")

    // batch re-rank past the id-pushdown bound: 1000 queries x r=100
    // over near-non-overlapping random neighbors yields ~100k DISTINCT
    // candidate ids (> the 64k IN-literal bound), forcing the branch no
    // other drive reaches — the full-width corpus scan joined against
    // the pair relation, whose broadcast is gated on the TRUE
    // block-manager byte size of the checkpoint (~100k id pairs, a few
    // MB: the hint must fire, so the corpus is scanned once and never
    // shuffled). Every query is a corpus member, so its exact re-rank
    // top-1 must be itself at cosine 1.
    println("== batch re-rank, >64k distinct candidates (no-pushdown branch)")
    val rrQueries = vecs.filter(col("vec_id") % 1000L === 7L) // 1000 spread ids
    val rrTop = time("ivfPqKnnJoinRefined (1000 queries, r=100, nprobe=1)") {
      graft.ops.Quantize.ivfPqKnnJoinRefined(spark, ipqPath,
        rrQueries, "vec_id", "embedding", vecsPlus, "vec_id", "embedding",
        k = 1, r = 100, nprobe = 1)
    }
    val rrRows = rrTop.collect()
    val rrSelf = rrRows.count(r => r.getLong(0) == r.getLong(1) &&
      math.abs(r.getDouble(2) - 1.0) < 1e-12)
    // a query whose list is not its nprobe=1 probe list can miss itself
    // (coarse quantization, not a bug) — but the overwhelming majority
    // must self-retrieve at exact cosine 1 through the no-pushdown path
    println(s"  self-at-top ${rrSelf}/${rrRows.length}")
    assert(rrRows.length == 1000, s"expected 1000 top-1 rows, got ${rrRows.length}")
    assert(rrSelf >= 990, s"self-retrieval through the no-pushdown branch: $rrSelf/1000")
    val rrPlan = rrTop.queryExecution.executedPlan.toString
    assert(rrPlan.contains("BroadcastHashJoin"),
      s"pair relation not broadcast in the no-pushdown branch:\n$rrPlan")
    assert(!rrPlan.contains("BroadcastNestedLoopJoin"), "BNLJ in re-rank plan")
    // the ANN sections are done with the 1M-vector corpus — release its
    // ~0.7 GB of deserialized checkpoint blocks before the doc sections
    // (the drive's sections must each run within THEIR working set, not
    // the union of everything before; see DESIGN.md's 8g memory model)
    vecs.unpersist()

    // banded-LSH dedup at corpus scale: 330k short docs, ~30k planted
    // near-dups. Signatures are the native fused kernel (no shuffle);
    // the candidate join's cost tracks collisions (planted pairs), not
    // the 10^11 cross product.
    println("== banded-LSH dedup over 330k docs (30k planted near-dups)")
    val docsBase = spark.range(300000).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 30).map(j =>
        concat(lit("w"), pmod(hash(col("id") * 31 + j), lit(5000)))): _*).as("text"))
    val plantedDocs = docsBase.filter(col("doc_id") < 30000)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        concat(col("text"), lit(" zzz")).as("text"))
    val corpus = docsBase.unionByName(plantedDocs).localCheckpoint(true)
    val nPairs = time("minhashPairs(32 hashes, 8 bands) est>=0.5") {
      graft.ops.Dedup.minhashPairs(corpus, "doc_id", "text", 3, 32, 8)
        .filter(col("est_jaccard") >= 0.5).count()
    }
    println(s"  near-dup pairs=$nPairs (expect ~30k planted recalls)")
    assert(nPairs >= 25000, s"LSH must recall most planted near-dups, got $nPairs")

    // Bloom-prefiltered decontamination at volume: 330k corpus docs vs a
    // 500-doc benchmark (200 of them ARE corpus docs). The prefilter
    // must return the exact path's rows while clean docs skip the explode.
    println("== decontamination: exact vs bloom-prefiltered, 330k docs vs 500-doc bench")
    val bench = docsBase.filter(col("doc_id") < 200)
      .unionByName(spark.range(300).select((col("id") + 20000000L).as("doc_id"),
        concat_ws(" ", (0 until 30).map(j =>
          concat(lit("q"), pmod(hash(col("id") * 17 + j), lit(5000)))): _*).as("text")))
      .localCheckpoint(true)
    val nExact = time("ngramOverlap exact (minShared=4)") {
      graft.ops.Contamination.ngramOverlap(corpus, "doc_id", "text",
        bench, "doc_id", "text", n = 3, minShared = 4L).count()
    }
    val nBloom = time("ngramOverlapBloom (2^20 grams, fpp 1%)") {
      graft.ops.Contamination.ngramOverlapBloom(corpus, "doc_id", "text",
        bench, "doc_id", "text", n = 3, minShared = 4L).count()
    }
    println(s"  exact=$nExact bloom=$nBloom")
    assert(nExact == nBloom, s"bloom path must be exact: $nExact vs $nBloom")
    assert(nExact >= 200, s"planted contamination must be found, got $nExact")
    bench.unpersist()

    // SimHash pairing at volume: 30k exact dups planted into 330k docs;
    // pigeonhole banding (4 x 15-bit blocks at maxHamming=3) bounds the
    // candidate join by block collisions, never the 10^11 cross product.
    println("== simhashPairs over 360k docs (30k planted exact dups)")
    val exactDups = docsBase.filter(col("doc_id") < 30000)
      .select((col("doc_id") + 30000000L).as("doc_id"), col("text"))
    val corpusSim = docsBase.unionByName(exactDups).localCheckpoint(true)
    val nSimPairs = time("simhashPairs(maxHamming=3)") {
      graft.ops.Dedup.simhashPairs(corpusSim, "doc_id", "text", maxHamming = 3).count()
    }
    println(s"  pairs=$nSimPairs (>= 30k planted exact dups at distance 0)")
    assert(nSimPairs >= 30000, s"exact dups must pair at distance 0, got $nSimPairs")

    // the MAXIMUM bound at volume: maxHamming=5 switches to C(8,3)=56
    // block-triple keys (~22 bits) — a single-block split here would
    // join on 10-bit keys (1024 values over 360k docs = a candidate
    // explosion); this case is the evidence the multi-block path stays
    // collision-bounded at the bound where the naive split degenerates
    val nSimPairs5 = time("simhashPairs(maxHamming=5)") {
      graft.ops.Dedup.simhashPairs(corpusSim, "doc_id", "text", maxHamming = 5).count()
    }
    println(s"  pairs(h<=5)=$nSimPairs5 (superset of the h<=3 pairs)")
    assert(nSimPairs5 >= nSimPairs,
      s"h<=5 pairs must be a superset of h<=3 pairs: $nSimPairs5 vs $nSimPairs")

    // cross-doc repeated n-grams over the same corpus: hash-only
    // shuffles (distinct shingle hashes -> window doc-freq -> per-doc
    // rollup); every planted exact-dup doc AND its source must show
    // repeated shingles
    val nRep = time("repeatedNgrams(n=5) over 360k docs") {
      graft.ops.Dedup.repeatedNgrams(corpusSim, "doc_id", "text", 5, 2)
        .filter(col("n_repeated") > 0).count()
    }
    println(s"  docs with cross-doc repeated 5-grams=$nRep (>= 60k from 30k dup pairs)")
    assert(nRep >= 60000, s"expected >= 60k docs with repeated shingles, got $nRep")

    // bottom-k sampling over 10M ids: TakeOrdered (per-partition heaps),
    // no full sort/shuffle
    val ids10m = spark.range(10000000).select(col("id"))
    val bk = time("bottomK(k=100) over 10M rows") {
      graft.ops.Sample.bottomK(ids10m, "id", 100).collect()
    }
    assert(bk.length == 100)

    // per-group bottom-k at volume through the threshold cut: 20 groups
    // × 500k rows each — the narrow BottomKthKey pass shuffles
    // (group, key) pairs only and full-width rows never sort (the
    // round-13 bounded memory model). Slice-exactness: a group's picks
    // must equal bottomK run on that group's slice alone.
    val grp10m = ids10m.select(col("id"), (col("id") % 20L).as("g"))
    val bkg = time("bottomKPerGroup(k=100) over 10M rows x 20 groups") {
      graft.ops.Sample.bottomKPerGroup(grp10m, "g", "id", 100).collect()
    }
    assert(bkg.length == 2000, s"20 groups x 100 picks, got ${bkg.length}")
    val bkgBy = bkg.groupBy(_.getLong(1))
    for (g <- Seq(0L, 13L)) {
      val direct = graft.ops.Sample.bottomK(
          grp10m.filter(col("g") === g), "id", 100)
        .collect().map(_.getLong(0)).toSet
      assert(bkgBy(g).map(_.getLong(0)).toSet == direct,
        s"group $g picks must equal bottomK on its slice")
    }
    println(s"  2000 picks, spot-checked slice-exact vs per-group bottomK")

    // persisted inverted text index over the 360k-doc corpus: build is
    // one distinct-postings shuffle; probes read ONLY the query tokens'
    // bucket directories (PartitionFilters), so probe cost tracks
    // matched postings, not corpus size
    println("== persisted text index over 360k docs: build once, pruned probes")
    val tiPath = java.nio.file.Files.createTempDirectory("scale-ti").toString + "/ti"
    time("buildTextIndex (360k docs, 256 buckets)") {
      graft.ops.TextIndex.buildTextIndex(corpusSim, "doc_id", "text", tiPath, 256)
    }
    // probe with real corpus tokens (the synthetic vocab is w<0..4999>);
    // doc 0 must surface with overlap == the probe's distinct-token count
    val tiProbe = corpusSim.filter(col("doc_id") === 0)
      .select(split(col("text"), " ").as("t")).collect()(0)
      .getSeq[String](0).take(3)
    val tiHits = time("searchIndex probe (3-token query)") {
      graft.ops.TextIndex.searchIndex(spark, tiPath, tiProbe.mkString(" "), 10).collect()
    }
    assert(tiHits.length == 10, s"expected 10 hits, got ${tiHits.length}")
    assert(tiHits.map(_.getLong(1)).forall(o => o >= 1 && o <= 3))
    assert(tiHits.head.getLong(1) == tiProbe.distinct.length.toLong,
      s"top hit must match every distinct probe token: ${tiHits.head}")
    corpusSim.unpersist() // later probes read the persisted index, not the frame
    // incremental growth at volume: 30k new docs (disjoint vocab m<...>,
    // fresh ids) append into the same tree; the original probe must be
    // untouched and a new-vocab probe must land in the appended postings
    val tiNew = spark.range(30000).select((col("id") + 50000000L).as("doc_id"),
      concat_ws(" ", (0 until 30).map(j =>
        concat(lit("m"), pmod(hash(col("id") * 23 + j), lit(5000)))): _*).as("text"))
    time("appendTextIndex (30k docs into 360k-doc index)") {
      graft.ops.TextIndex.appendTextIndex(tiNew, "doc_id", "text", tiPath)
    }
    val tiHits2 = graft.ops.TextIndex.searchIndex(
      spark, tiPath, tiProbe.mkString(" "), 10).collect()
    assert(tiHits2.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      tiHits.map(r => (r.getLong(0), r.getLong(1))).toSeq,
      "pre-append probe results must be untouched by the append")
    val newProbe = tiNew.filter(col("doc_id") === 50000000L)
      .select(split(col("text"), " ").as("t")).collect()(0)
      .getSeq[String](0).take(3)
    val newHits = graft.ops.TextIndex.searchIndex(
      spark, tiPath, newProbe.mkString(" "), 5).collect()
    assert(newHits.nonEmpty && newHits.head.getLong(0) == 50000000L,
      s"appended doc must surface for its own vocabulary: ${newHits.toSeq}")
    // O(delta) id-guard evidence: a TINY (1k-doc) append into the now-
    // 390k-doc index — the novelty check is Bloom probes over the delta
    // (zero postings reads on a clean pass), so this time tracks the
    // delta, not the index; compare against the 30k append above
    val tiTiny = spark.range(1000).select((col("id") + 90000000L).as("doc_id"),
      concat_ws(" ", (0 until 30).map(j =>
        concat(lit("q"), pmod(hash(col("id") * 31 + j), lit(5000)))): _*).as("text"))
    time("appendTextIndex (1k docs into 390k-doc index, Bloom guard)") {
      graft.ops.TextIndex.appendTextIndex(tiTiny, "doc_id", "text", tiPath)
    }
    // ... and the guard still catches a planted duplicate at volume
    val dupCaught = try {
      graft.ops.TextIndex.appendTextIndex(
        tiTiny.filter(col("doc_id") === 90000000L), "doc_id", "text", tiPath)
      false
    } catch { case e: IllegalArgumentException =>
      e.getMessage.contains("already indexed") }
    assert(dupCaught, "planted duplicate id must be refused at volume")

    // batch BM25 at volume through the BOUNDED per-query cut: every
    // probe token here matches ~2k corpus docs, and the per-query
    // top-k is the TopKByScore aggregate — no task sorts a query's
    // full candidate pool (round-13 memory model). The batch must
    // reproduce the single-query probe bit-for-bit.
    println("== batch BM25 over the 391k-doc text index (bounded per-query cut)")
    val bmQueries = Seq(tiProbe.mkString(" "), newProbe.mkString(" "),
      tiProbe.take(2).mkString(" "))
    val bmBatch = time("searchBM25Batch (3 queries, k=10)") {
      graft.ops.TextIndex.searchBM25Batch(spark, tiPath, bmQueries, 10).collect()
    }
    val bmByQ = bmBatch.groupBy(_.getLong(0))
    assert(bmByQ.size == 3 && bmByQ.values.forall(_.length == 10),
      s"3 queries x top-10: ${bmByQ.view.mapValues(_.length).toMap}")
    // scores compare at the gate's 6-decimal rounding (the gate
    // discipline): the two plans sum a doc's per-token terms in
    // different partial-aggregation orders, so raw doubles can sit an
    // ulp apart — semantically identical, bitwise not
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val bmSingle = graft.ops.TextIndex.searchIndexBM25(
        spark, tiPath, bmQueries.head, 10)
      .collect().map(r => (r.getLong(0), r6(r.getDouble(1))))
      .sortBy { case (id, s) => (-s, id) }
    val bmBatch0 = bmByQ(0L)
      .map(r => (r.getLong(1), r6(r.getDouble(2))))
      .sortBy { case (id, s) => (-s, id) }
    assert(bmBatch0.toSeq == bmSingle.toSeq,
      s"batch query 0 must equal the single-query BM25 probe at 6dp:\n" +
        s"  batch : ${bmBatch0.toSeq}\n  single: ${bmSingle.toSeq}")
    println(s"  3x top-10 in one pruned scan, batch == single-query probe")

    // Count-Min at volume: 10M tokens over 100k distinct values, width
    // 2^16 — ONE corpus pass whose shuffle moves at most depth×width
    // counter rows per partition; every estimate must then land inside
    // the Cormode-Muthukrishnan band [exact, exact + ceil(e/width · N)]
    // (deterministic here: the token hash is seeded, so this is a fixed
    // outcome, not a flaky tail-probability assertion)
    println("== countMin over 10M tokens (depth 4, width 2^16)")
    val toks10m = spark.range(10000000).select(
      concat(lit("t"), pmod(hash(col("id")), lit(100000))).as("t"))
    val cm = time("countMin build (10M tokens)") {
      graft.ops.Sketch.countMin(toks10m, "t", depth = 4, width = 1 << 16)
    }
    val probeToks = (0 until 20).map(i => s"t$i")
    val probeDf = spark.createDataset(probeToks)(
      org.apache.spark.sql.Encoders.STRING).toDF("t")
    val est = time("countMinEstimate (20 probes, broadcast lookup)") {
      graft.ops.Sketch.countMinEstimate(cm, probeDf, "t")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val exactCnt = toks10m.filter(col("t").isin(probeToks: _*))
      .groupBy("t").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val epsN = math.ceil(math.E / (1 << 16) * 10000000).toLong // ~415
    probeToks.foreach { t =>
      val ex = exactCnt.getOrElse(t, 0L)
      assert(est(t) >= ex && est(t) <= ex + epsN,
        s"countMin estimate for $t out of band: est=${est(t)} exact=$ex epsN=$epsN")
    }
    println(s"  20/20 probes inside [exact, exact+$epsN]")

    // heavy hitters over the same 10M-token corpus + 3 planted heavies
    // (1000 occurrences each vs the ~100/token uniform tail): the CM
    // prefilter bounds what reaches the count shuffle; the result must
    // still be EXACTLY the full GROUP BY ... HAVING set (computed here
    // as the oracle — the full shuffle the operator avoids at scale)
    println("== heavyHitters over 10M+3k tokens (CM prefilter, exact recount)")
    val plantedHH = spark.range(3000).select(
      concat(lit("planted-"), pmod(col("id"), lit(3))).as("t"))
    val corpusHH = toks10m.unionByName(plantedHH)
    val hhRes = time("heavyHitters(minCount=150, 4 x 2^16)") {
      graft.ops.Sketch.heavyHitters(corpusHH, "t", minCount = 150L,
          depth = 4, width = 1 << 16)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val hhExact = corpusHH.groupBy("t").count().filter(col("count") >= 150)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hhRes == hhExact,
      s"heavyHitters must equal the exact HAVING set: ${hhRes.size} vs ${hhExact.size}")
    assert((0 until 3).forall(i => hhRes.get(s"planted-$i").contains(1000L)),
      s"planted heavies missing/miscounted: $hhRes")
    println(s"  ${hhRes.size} heavy tokens == exact HAVING set; planted 3/3 at cnt=1000")

    // DSIR importance weighting at volume: 300k broad-vocab docs + 10k
    // planted narrow-vocab docs, target = 5k distinct narrow-vocab docs.
    // Both models stay bucket-bounded (8192 rows) regardless of corpus
    // size and ride broadcast joins — the only corpus-sized shuffle is
    // the per-(doc, bucket) tf aggregation. The narrow vocab (50 words
    // -> <=2500 distinct bigrams < 8192 buckets) is what makes the
    // hashed target model non-uniform; a vocab >> bucket count would
    // wash out to uniform under the modulus and separate nothing.
    println("== DSIR importance weights over 310k docs (10k target-like planted)")
    val targetLikeIw = spark.range(10000).select(
      (col("id") + 40000000L).as("doc_id"),
      concat_ws(" ", (0 until 30).map(j =>
        concat(lit("n"), pmod(hash(col("id") * 13 + j), lit(50)))): _*).as("text"))
    val corpusIw = docsBase.unionByName(targetLikeIw).localCheckpoint(true)
    val targetIw = spark.range(5000).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 30).map(j =>
        concat(lit("n"), pmod(hash((col("id") + 77L) * 13 + j), lit(50)))): _*).as("text"))
    val iwMeans = time("importanceWeights (310k raw, 5k target)") {
      graft.ops.Importance.importanceWeights(corpusIw, targetIw, "doc_id", "text", 8192)
        .filter(col("log_weight").isNotNull)
        .groupBy((col("doc_id") >= 40000000L).as("planted"))
        .agg(avg(col("log_weight")).as("m"), count(lit(1)).as("n")).collect()
        .map(r => r.getBoolean(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    }
    println(f"  planted mean=${iwMeans(true)._1}%.2f (n=${iwMeans(true)._2}) " +
      f"vs broad mean=${iwMeans(false)._1}%.2f (n=${iwMeans(false)._2})")
    assert(iwMeans(true)._2 == 10000L && iwMeans(false)._2 == 300000L,
      "every document must be scored")
    assert(iwMeans(true)._1 > iwMeans(false)._1 + 10.0,
      s"target-like docs must clearly outscore broad-vocab docs: $iwMeans")
    corpusIw.unpersist()

    // persisted dedup index at corpus scale: the 300k-doc reference is
    // tokenized + minhashed ONCE at build; each probe batch (30k
    // planted near-dups + 10k novel docs) joins its bands against the
    // persisted 16-byte band rows — the reference text is never re-read.
    // The direct join is timed alongside for the amortization story.
    println("== persisted dedup index: 300k-doc build, 40k-doc probes")
    val diPath = java.nio.file.Files.createTempDirectory("scale-di").toString + "/di"
    time("buildDedupIndex (300k docs, 32 hashes, 8 bands)") {
      graft.ops.DedupIndex.buildDedupIndex(docsBase, "doc_id", "text", diPath)
    }
    val novelDocs = spark.range(10000).select(
      (col("id") + 20000000L).as("doc_id"),
      concat_ws(" ", (0 until 30).map(j =>
        concat(lit("x"), pmod(hash(col("id") * 17 + j), lit(5000)))): _*).as("text"))
    val probeBatch = plantedDocs.unionByName(novelDocs).localCheckpoint(true)
    val nIdx = time("pairsAgainstIndex (40k batch, est>=0.5)") {
      graft.ops.DedupIndex.pairsAgainstIndex(spark, diPath, probeBatch,
          "doc_id", "text")
        .filter(col("est_jaccard") >= 0.5).count()
    }
    val nDirect = time("minhashPairsAgainst direct (same batch, re-reads ref)") {
      graft.ops.Dedup.minhashPairsAgainst(probeBatch, docsBase, "doc_id", "text")
        .filter(col("est_jaccard") >= 0.5).count()
    }
    assert(nIdx == nDirect, s"indexed probe must equal direct join: $nIdx vs $nDirect")
    assert(nIdx >= 25000, s"index must recall most planted near-dups, got $nIdx")
    println(s"  matched pairs=$nIdx (== direct join)")
    probeBatch.unpersist()

    // persisted decontamination index at volume: the 500-doc benchmark's
    // postings + Bloom build once; the 330k-doc corpus probes from the
    // files with the same scan-level prune as the inline Bloom path,
    // and the result must match it row-for-row
    println("== persisted bench index: 500-doc build, 330k-doc probes")
    val biPath = java.nio.file.Files.createTempDirectory("scale-bi").toString + "/bi"
    val benchScale = corpus.filter(col("doc_id") < 300)
      .unionByName(corpus.filter(col("doc_id") >= 10000000L && col("doc_id") < 10000200L))
    time("buildBenchIndex (500 bench docs)") {
      graft.ops.Contamination.buildBenchIndex(benchScale, "doc_id", "text", biPath,
        n = 3, expectedGrams = 1L << 16, fpp = 0.01)
    }
    val nBloomContam = time("ngramOverlapBloom inline (330k corpus)") {
      graft.ops.Contamination.ngramOverlapBloom(corpus, "doc_id", "text",
        benchScale, "doc_id", "text", n = 3, minShared = 5L,
        expectedGrams = 1L << 16, fpp = 0.01).count()
    }
    val nIdxContam = time("ngramOverlapIndexed (330k corpus)") {
      graft.ops.Contamination.ngramOverlapIndexed(spark, biPath, corpus,
        "doc_id", "text", minShared = 5L).count()
    }
    assert(nIdxContam == nBloomContam,
      s"indexed probe must equal inline bloom path: $nIdxContam vs $nBloomContam")
    println(s"  contaminated pairs=$nIdxContam (== inline bloom path)")
    corpus.unpersist()

    // fuzzy key join at volume: 1M random-hex keys (32 chars -> 33
    // variants each, ~33M variant rows through the hash join) + 10k
    // planted single-char substitutions. Random keys make accidental
    // distance-1 pairs vanishingly unlikely, so the result is EXACTLY
    // the planted set — while the naive plan is 10^12 levenshteins.
    println("== fuzzy join: 1M keys + 10k planted substitutions")
    val fzBase = spark.range(1000000).select(col("id").as("kid"),
      md5(col("id").cast("string")).as("key"))
    val fzPlanted = fzBase.filter(col("kid") < 10000)
      .select((col("kid") + 5000000L).as("kid"),
        concat(lit("z"), substring(col("key"), 2, 31)).as("key"))
    val fzAll = fzBase.unionByName(fzPlanted).localCheckpoint(true)
    val l = fzAll.select(col("kid").as("lid"), col("key").as("lkey"))
    val r = fzAll.select(col("kid").as("rid"), col("key").as("rkey"))
    val nFz = time("editDistance1Pairs (1.01M x 1.01M, self)") {
      graft.ops.FuzzyJoin.editDistance1Pairs(l, "lid", "lkey", r, "rid", "rkey")
        .filter(col("lid") < col("rid")).count()
    }
    assert(nFz == 10000L,
      s"exactly the planted substitution pairs must match, got $nFz")
    fzAll.unpersist()

    // radius-2 at volume: 200k random-hex keys (32 chars -> ~530
    // distinct variants each, ~106M variant rows) + 5k planted
    // DOUBLE-substitutions — invisible to the k=1 join, found exactly
    // by k=2; random keys keep accidental distance-2 pairs at ~0
    println("== fuzzy join k=2: 200k keys + 5k planted double-substitutions")
    val fz2Base = spark.range(200000).select(col("id").as("kid"),
      md5(col("id").cast("string")).as("key"))
    val fz2Planted = fz2Base.filter(col("kid") < 5000)
      .select((col("kid") + 5000000L).as("kid"),
        concat(lit("z"), substring(col("key"), 2, 15),
          lit("z"), substring(col("key"), 18, 15)).as("key"))
    val fz2All = fz2Base.unionByName(fz2Planted).localCheckpoint(true)
    val l2 = fz2All.select(col("kid").as("lid"), col("key").as("lkey"))
    val r2 = fz2All.select(col("kid").as("rid"), col("key").as("rkey"))
    val nFz2 = time("editDistancePairs k=2 (205k x 205k, self)") {
      graft.ops.FuzzyJoin.editDistancePairs(l2, "lid", "lkey",
          r2, "rid", "rkey", maxDist = 2)
        .filter(col("lid") < col("rid")).count()
    }
    assert(nFz2 == 5000L,
      s"exactly the planted double-substitution pairs must match, got $nFz2")
    fz2All.unpersist()

    // bucketed range join at volume: 10M points vs 10k width-100
    // intervals — naively 10^11 comparisons (a nested-loop join Spark
    // would actually plan for the non-equi condition); bucketed it is
    // one hash join whose output is exactly the 1M real containments
    println("== bucketed range join: 10M points x 10k intervals")
    val pts10m = spark.range(10000000).select(col("id").as("pid"), col("id").as("t"))
    val ivs10k = spark.range(10000).select(col("id").as("ik"),
      (col("id") * 1000L).as("lo"), (col("id") * 1000L + 99L).as("hi"))
    val nRj = time("pointInInterval (bucketWidth=100)") {
      graft.ops.RangeJoin.pointInInterval(pts10m, col("t"), ivs10k,
        col("lo"), col("hi"), 100L).count()
    }
    assert(nRj == 1000000L, s"each width-100 interval holds exactly 100 points, got $nRj")

    // Duplicated-span removal at volume: 30k of 300k docs carry a shared
    // 11-token footer. The footer's interior windows clear minDocs in
    // every carrier (all 30k share them) so at least the 11 footer
    // tokens go; boundary windows need two carriers agreeing on their
    // last prefix token(s) (mod-5000 birthday collisions), which may
    // shave a token or two more from SOME carriers — bounded by 4 (a
    // window is 5 tokens). Non-carrier windows are 5 draws from a
    // 5000-token vocabulary (~3e18 combos vs ~9M windows): never
    // duplicated, so non-carriers must come back byte-identical. Only
    // (id, pos, hash60) rows ever shuffle.
    println("== stripRepeatedSpans over 300k docs (30k planted 11-token footers)")
    val footer = "terms of service apply all rights reserved contact legal team today"
    val spanCorpus = docsBase.select(col("doc_id"),
      when(col("doc_id") % 10 === 0, concat(col("text"), lit(" " + footer)))
        .otherwise(col("text")).as("text")).localCheckpoint(true)
    val spanOut = time("stripRepeatedSpans(n=5)") {
      graft.ops.Dedup.stripRepeatedSpans(spanCorpus, "doc_id", "text")
        .localCheckpoint(true)
    }
    val carrierStats = spanOut.filter(col("doc_id") % 10 === 0)
      .agg(count(lit(1)),
        sum(when(col("removed_tokens").between(11L, 15L), 1L).otherwise(0L)),
        sum(when(col("text").contains("rights reserved"), 1L).otherwise(0L)),
        sum(col("removed_tokens"))).collect()(0)
    println(s"  carriers=${carrierStats.getLong(0)} removed-in-[11,15]=${carrierStats.getLong(1)} " +
      s"footer-remnants=${carrierStats.getLong(2)} mean-removed=${carrierStats.getLong(3) / 30000.0}")
    assert(carrierStats.getLong(0) == 30000L && carrierStats.getLong(1) == 30000L,
      "every carrier must lose its 11 footer tokens (+<=4 collision-boundary tokens)")
    assert(carrierStats.getLong(2) == 0L, "no footer text may survive")
    val nonCarrierTouched = spanOut.filter(col("doc_id") % 10 =!= 0)
      .filter(col("removed_tokens") =!= 0L).count()
    println(s"  non-carriers touched=$nonCarrierTouched (expect 0: random 5-grams never collide)")
    assert(nonCarrierTouched == 0L, s"non-carriers must be untouched, got $nonCarrierTouched")
    spanCorpus.unpersist(); spanOut.unpersist()

    // SemDeDup at volume: 100k random 64-dim vectors + 5k planted
    // 1.5x-scaled copies (ids +10M). k=64 is the cost dial — clusters
    // land ~1.6k rows, so the within-cluster pair stage does ~80M fused
    // fixed-point dots instead of the 5.5e9 all-pairs cross product
    // (and at 100 TB, k scales with the corpus: k ~ N/[rows that fit a
    // task]). Assignment is scale-invariant, so every copy lands with
    // its source and drops against it at cosine ~1; random originals
    // never reach 0.99, so the drop set must be EXACTLY the copies.
    println("== SemDeDup over 105k vectors (5k planted scaled copies, k=64)")
    val semBase = spark.range(100000).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(64)),
        i => (pmod(hash(col("id") * 64 + i), lit(1000)).cast("float") / lit(500.0f)
          - lit(1.0f)).cast("float")).as("embedding"))
    val semCopies = semBase.filter(col("vec_id") < 5000)
      .select((col("vec_id") + 10000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.5f)).as("embedding"))
    val semAll = semBase.unionByName(semCopies).localCheckpoint(true)
    time("semanticDedup(k=64, iters=1, minCosine=0.99)") {
      val out = graft.ops.Dedup.semanticDedup(semAll, "vec_id", "embedding",
          k = 64, iters = 1, minCosine = 0.99).localCheckpoint(true)
      val dropped = out.filter(col("keep") === 0)
      assert(dropped.count() == 5000L, "exactly the planted copies drop")
      assert(dropped.filter(col("vec_id") < 10000000L).count() == 0L,
        "no original may drop")
      assert(out.count() == 105000L, "one verdict row per vector")
      out.unpersist()
    }
    semAll.unpersist()

    // SemDeDup SKEW: a redundancy-heavy corpus — 50k scaled copies of
    // ONE vector — collapses into a single cluster. The guard must
    // refuse it FAST (assignment-count check, before any pair work),
    // and subSplit must complete it: 50k rows salt into ceil(50k/1024)
    // = 49 sub-clusters, ~1024²/2 pairs each (~2.6e7 fused dots) where
    // the unguarded join would have done 1.25e9 on one hot key.
    println("== SemDeDup skew guard: 50k-copy degenerate cluster (+5k random)")
    val skewRandom = semBase.filter(col("vec_id") < 5000)
    val v0 = semBase.filter(col("vec_id") === 0)
      .select("embedding").collect()(0).getSeq[Float](0)
    val skewCopies = spark.range(50000)
      .select((col("id") + 10000000L).as("vec_id"),
        // float division promotes to double — cast the array back so
        // the union keeps the corpus-wide array<float> element type
        transform(typedLit(v0),
          x => (x * (lit(1.0f) + col("id").cast("float") / lit(1e9f)))
            .cast("float"))
          .as("embedding"))
    val skewAll = skewRandom.unionByName(skewCopies).localCheckpoint(true)
    time("semanticDedup REFUSES the degenerate cluster (fail-loud, no pair work)") {
      val refused = try {
        graft.ops.Dedup.semanticDedup(skewAll, "vec_id", "embedding",
          k = 8, iters = 1, minCosine = 0.99, maxClusterRows = 1024)
          .count()
        false
      } catch { case e: IllegalArgumentException =>
        assert(e.getMessage.contains("subSplit"), e.getMessage); true }
      assert(refused, "degenerate cluster must be refused")
    }
    time("semanticDedup(subSplit, maxClusterRows=1024) completes the skewed corpus") {
      val out = graft.ops.Dedup.semanticDedup(skewAll, "vec_id", "embedding",
          k = 8, iters = 1, minCosine = 0.99, maxClusterRows = 1024,
          subSplit = true).localCheckpoint(true)
      assert(out.count() == 55000L, "one verdict row per vector")
      val droppedCopies = out.filter(col("keep") === 0)
        .filter(col("vec_id") >= 10000000L).count()
      val droppedRandom = out.filter(col("keep") === 0)
        .filter(col("vec_id") < 10000000L).count()
      println(s"  dropped copies=$droppedCopies (expect >= ${50000 - 200}) " +
        s"dropped random=$droppedRandom (expect 0)")
      // sub-split sizing is VERIFIED with doubling: ceil(50000/1024)=49
      // initial salts run at fill ~1.0, so the re-count doubles to 98
      // (fill 0.5) — each sub-cluster keeps at most its min-id member,
      // bounding survivors by the FINAL salt count (<= 200 leaves room
      // for one further doubling); random vectors never clear 0.99
      assert(droppedCopies >= 50000L - 200L && droppedCopies < 50000L,
        s"per-sub-cluster keep-first, got $droppedCopies")
      assert(droppedRandom == 0L, s"random originals must survive, got $droppedRandom")
      out.unpersist()
    }
    time("semanticDedup(subSplit, refine) collapses cross-salt survivors") {
      val out = graft.ops.Dedup.semanticDedup(skewAll, "vec_id", "embedding",
          k = 8, iters = 1, minCosine = 0.99, maxClusterRows = 1024,
          subSplit = true, refine = true).localCheckpoint(true)
      // survivors are one per salt after pass 1; the refine pass
      // cross-salt-joins those ~98 rows (bounded: survivors << cluster)
      // and keeps only the global minimum — vec_id 0 itself, every
      // scaled copy dropped exactly
      val droppedCopies = out.filter(col("keep") === 0)
        .filter(col("vec_id") >= 10000000L).count()
      val droppedRandom = out.filter(col("keep") === 0)
        .filter(col("vec_id") < 10000000L).count()
      println(s"  dropped copies=$droppedCopies (expect 50000) " +
        s"dropped random=$droppedRandom (expect 0)")
      assert(droppedCopies == 50000L,
        s"refine must drop every cross-salt copy, got $droppedCopies")
      assert(droppedRandom == 0L, s"random originals must survive, got $droppedRandom")
      out.unpersist()
    }
    skewAll.unpersist()

    // TF-IDF cosine dedup at volume: 310k docs of 18 rare tokens (5M
    // space) + 4 glue tokens (20 space); 10k planted twins share their
    // source's RARE tokens under different glue — the reworded-near-dup
    // shape where shingle Jaccard collapses. maxDocFreq drops the glue
    // at the doc-frequency aggregate, so the self-join sees only rare
    // postings (df<=~2 plus chance collisions), never the 310k-doc glue
    // lists that would make it quadratic.
    println("== tfidfCosinePairs over 310k docs (10k planted reworded twins)")
    val rare = (0 until 18).map(j =>
      concat(lit("r"), pmod(hash(col("id") * 131 + j), lit(5000000))))
    def glue(off: Int) = (0 until 4).map(j =>
      concat(lit("g"), pmod(hash(col("id") * 7 + j + off), lit(20))))
    val tfBase = spark.range(300000)
      .select(col("id").as("doc_id"), concat_ws(" ", rare ++ glue(0): _*).as("text"))
    val tfTwins = spark.range(10000)
      .select((col("id") + 10000000L).as("doc_id"),
        concat_ws(" ", rare ++ glue(1000): _*).as("text"))
    val tfCorpus = tfBase.unionByName(tfTwins).localCheckpoint(true)
    time("tfidfCosinePairs(minCosine=0.8, maxDocFreq=1000)") {
      val pairs = graft.ops.Dedup.tfidfCosinePairs(tfCorpus, "doc_id", "text",
          minCosine = 0.8, maxDocFreq = Some(1000L))
        .localCheckpoint(true)
      val planted = pairs.filter(col("id2") === col("id1") + 10000000L).count()
      val total = pairs.count()
      println(s"  pairs=$total planted-recalled=$planted (expect 10k, 10k)")
      assert(planted == 10000L, s"every twin must pair with its source, got $planted")
      assert(total == planted, s"chance rare-token collisions stay far below 0.8, got $total")
      pairs.unpersist()
    }
    tfCorpus.unpersist()

    // KMV overlap at volume: 5M hashes per side, 50% overlap — two
    // bounded aggregations (k longs per partition cross the shuffle),
    // 2k longs to the driver, estimates within sketch error of the
    // J=1/3, union=7.5M truth.
    println("== kmvOverlap: 5M x 5M hashed ids, 2.5M shared (k=1024)")
    time("kmvOverlap(k=1024)") {
      val ha = spark.range(5000000).select(
        graft.ops.TextStats.hash60(col("id").cast("string")).as("h"))
      val hb = spark.range(2500000, 7500000).select(
        graft.ops.TextStats.hash60(col("id").cast("string")).as("h"))
      val r = graft.ops.Sketch.kmvOverlap(ha, "h", hb, "h", k = 1024).collect()(0)
      val (uEst, j) = (r.getLong(2), r.getDouble(4))
      println(s"  union_est=$uEst jaccard_est=$j inter_est=${r.getLong(5)}")
      assert(math.abs(uEst - 7500000.0) / 7500000.0 < 0.15, s"union est $uEst")
      assert(math.abs(j - 1.0 / 3.0) < 0.1, s"jaccard est $j")
    }

    // BPE tokenizer at corpus scale: training cost is ONE word-count
    // shuffle over 2M docs (the merge loop itself runs on the bounded
    // word DICTIONARY — vocabulary-sized, not corpus-sized), and
    // encoding is a kernel projection with no shuffle. The synthetic
    // vocabulary is 48,000 distinct words (12,000 hash-bucketed
    // 3-letter stems x 4 suffix families, ~333 occurrences each) —
    // wide enough that greedy training can mint 32,768 DISTINCT rules
    // before the dictionary collapses to whole-word symbols (~60k rules
    // to full collapse; an earlier 8000-stem corpus exhausted at
    // 32,491, 277 short — every pair was gone, the documented Sennrich
    // stop, so the corpus is the dial, not the stop condition). This is
    // the PRODUCTION-sized regime the incremental trainer exists for
    // (the naive recount loop would need ~10^10 driver ops here); the
    // maxWords cap is NOT hit so coverage must be total, and the
    // "ing"/"est"/"er"/"ly" morphology is the corpus-wide regularity
    // that must surface as the earliest merges.
    println("== BPE: train 32k merges on 2M docs (one dict shuffle), kernel encode")
    // LOWERCASE letters only (digit-bearing encodings like conv() would
    // collide after tokens() lowercases): bucket b in [0,12000) -> 3
    // base-26 letters, injective since 12000 < 26^3
    val bpeAlpha = typedLit(('a' to 'z').map(_.toString))
    val bpeDocs = spark.range(2000000).select(col("id"),
      concat_ws(" ",
        (0 until 8).map { j =>
          val b = pmod(hash(col("id") * 8 + lit(j)), lit(12000))
          concat(
            element_at(bpeAlpha, (b / 676 + 1).cast("int")),
            element_at(bpeAlpha, (pmod(b / 26, lit(26)) + 1).cast("int")),
            element_at(bpeAlpha, (pmod(b, lit(26)) + 1).cast("int")),
            element_at(typedLit(Seq("ing", "est", "er", "ly")),
              (pmod(hash(col("id") + lit(j * 31)), lit(4)) + 1).cast("int")))
        }: _*
      ).as("text"))
    val bpeT0 = System.nanoTime()
    val bpeModel = time("learnBpe (32768 merges, 2M docs, 64k-word cap)") {
      graft.ops.Bpe.learnBpe(bpeDocs, "text", nMerges = 32768)
    }
    val bpeTrainSec = (System.nanoTime() - bpeT0) / 1e9
    assert(bpeModel.merges.length == 32768, s"got ${bpeModel.merges.length}")
    // the stated budget: the WHOLE train (corpus shuffle + driver merge
    // loop) in under 120 s — the merge loop itself is seconds; a
    // regression back to per-merge recounting would blow this by hours
    assert(bpeTrainSec < 120.0,
      f"32k-merge training took $bpeTrainSec%.1f s — incremental loop regressed?")
    assert(bpeModel.coveredMass == bpeModel.totalMass,
      s"dict cap unexpectedly hit: ${bpeModel.coveredMass} of ${bpeModel.totalMass}")
    assert(bpeModel.totalMass == 16000000L, s"mass ${bpeModel.totalMass}")
    // the suffix families are the corpus-wide regularities: their pair
    // chains must be among the first merges
    assert(bpeModel.merges.take(8).contains(("i", "n")) ||
      bpeModel.merges.take(8).contains(("n", "g")),
      s"suffix morphology not in early merges: ${bpeModel.merges.take(8)}")
    // vocab = full alphabet + every merge product, dense ids
    assert(bpeModel.vocab.size >= 26 + 4 && bpeModel.vocab.take(26).forall(_.length == 1),
      s"vocab shape off: size=${bpeModel.vocab.size}")
    // production-width cross-check against the executable reference:
    // the incremental loop's PREFIX must replay the naive recount loop
    // bit-for-bit on the real 48k-word dictionary
    time("naive-loop prefix cross-check (300 merges, 48k-word dict)") {
      val wf = graft.ops.Bpe.wordFreqs(bpeDocs, "text")
        .orderBy(col("cnt").desc, col("word")).limit(1 << 16)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val naive = graft.ops.Bpe.mergeLoopNaive(wf, 300, 2L)
      assert(bpeModel.merges.take(300) == naive,
        "incremental prefix diverged from the naive loop at production width")
    }
    val bpeStats = time("kernel encode + token stats (2M docs)") {
      graft.ops.Bpe.encode(bpeDocs, "id", "text", bpeModel.merges)
        .agg(sum(size(col("tokens"))).as("n_tok"),
          sum(length(concat_ws("", col("tokens")))).as("n_chars"))
        .collect()(0)
    }
    val (nTok, nChars) = (bpeStats.getLong(0), bpeStats.getLong(1))
    println(s"  tokens=$nTok chars=$nChars compression=${nChars.toDouble / nTok}")
    // 32k merges over the 48,000-word vocabulary merge every suffix,
    // stem, and most whole words: at least 2 chars/token on average
    assert(nTok * 2 <= nChars, s"no compression: $nTok tokens, $nChars chars")
    // model-token chunking at corpus scale: the same shuffle-free
    // kernel-projection shape as encode (budget walk + chunk assembly
    // in-row), so 2M docs chunk in one pass. The 8-token budget sits
    // BELOW the ~10.5-token per-doc average, so the walk genuinely
    // splits (strictly more chunks than documents — a budget above the
    // doc size would reduce the section to one-chunk passthrough). Laws
    // checked in the same aggregation: per-chunk counts are exact, so
    // their sum equals the encode pass's corpus token count, and no
    // multi-word chunk may exceed the budget (single overlong words are
    // the documented exception; this corpus has none — every word
    // tokenizes under 8).
    val chunkStats = time("chunkByTokenBudget (2M docs, 8-token windows)") {
      graft.ops.Bpe.chunkByTokenBudget(bpeDocs, "id", "text",
          bpeModel.merges, budget = 8L)
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("n_tokens")).as("n_tok"),
          max(col("n_tokens")).as("max_tok"))
        .collect()(0)
    }
    println(s"  chunks=${chunkStats.getLong(0)} tokens=${chunkStats.getLong(1)} " +
      s"max/chunk=${chunkStats.getLong(2)}")
    assert(chunkStats.getLong(1) == nTok,
      s"chunk token counts don't sum to the corpus encode count: " +
        s"${chunkStats.getLong(1)} vs $nTok")
    assert(chunkStats.getLong(2) <= 8L,
      s"over-budget chunk at scale: max=${chunkStats.getLong(2)}")
    assert(chunkStats.getLong(0) > 2000000L,
      s"budget walk never split a document: ${chunkStats.getLong(0)} chunks")

    // composed corpus-assembly recipe at volume: 10M docs with ONE
    // source owning 80% of the corpus — the skew shape the round-14
    // threshold pre-cut exists for. Three claims, each asserted:
    // (1) selectByBudget's bounded score_mass_threshold pass is in the
    //     plan and its output matches the naive full-sort window
    //     bit-for-bit on the 8M-row giant slice;
    // (2) the composed select -> mix -> sep-budgeted pack keeps ONE
    //     full-width data shuffle (the pack window reuses the selection
    //     window's source partitioning through the generate; the only
    //     other hash exchange is the pre-cut's narrow (score, mass)
    //     aggregation);
    // (3) prefix/offset laws hold per source at volume.
    println("== corpus-assembly recipe over 10M docs (80% one source, bounded pre-cut)")
    val recipeDocs = spark.range(10000000).select(
      col("id").as("doc_id"),
      when(pmod(col("id"), lit(10L)) < 8L, lit("giant"))
        .otherwise(concat(lit("src"), pmod(col("id"), lit(10L)))).as("source"),
      pmod(hash(col("id") * 31L), lit(1000000)).cast("long").as("score"),
      (pmod(hash(col("id") * 7L), lit(401)) + lit(50L)).cast("long").as("n_tok"))
    val selBudget = 10000000L // ~40k giant-source survivors of 8M rows
    val recipe = {
      val sel = graft.ops.Sample.selectByBudget(recipeDocs, "source",
        "doc_id", "score", "n_tok", selBudget).drop("cum_tokens", "sel_rank")
      val mix = graft.ops.Sample.repeatByWeight(sel, "source", "doc_id",
        Map("giant" -> 0.8, "src8" -> 2.5, "src9" -> 1.5), defaultWeight = 1.0)
      graft.ops.Sample.packByTokenBudget(mix, "source", "copy_id", "n_tok",
        2048L, sepCost = 1L)
    }
    val recipePlan = recipe.queryExecution.executedPlan.toString
    assert(recipePlan.contains("score_mass_threshold"),
      "selectByBudget's bounded pre-cut missing from the composed plan")
    // Plan-shape claim since r15 (the threshold join dropped its forced
    // broadcast hint — ADVICE r14): the STATIC plan carries the
    // sort-merge fallback's exchange pair for the join, and AQE is what
    // converts it to a broadcast join at runtime from the one-row-per-
    // group threshold's ACTUAL size. So assert the static shape loosely
    // (full-width data shuffle + narrow pre-cut agg + the SMJ pair = 4)
    // and the RUNTIME conversion exactly, after execution below.
    val nHashExchanges =
      "Exchange hashpartitioning".r.findAllIn(recipePlan).size
    assert(nHashExchanges <= 4,
      s"composed recipe plan shape regressed: $nHashExchanges hash exchanges\n$recipePlan")
    val recipeT0 = System.nanoTime()
    val recipeAgg = recipe.groupBy("source").agg(count(lit(1)).as("n"),
      sum(col("n_tok") + 1L).as("footprint"),
      max(col("pack_offset") + col("n_tok") + 1L).as("endOff"),
      max("pack_id").as("maxPack"))
    val packStats = time("composed recipe (select -> mix -> pack) over 10M") {
      recipeAgg.collect()
    }
    val recipeSec = (System.nanoTime() - recipeT0) / 1e9
    // the runtime (AQE-final) plan must have converted the threshold
    // join to a broadcast — the size-based decision the dropped hint
    // now delegates to AQE (inspected on the EXECUTED query, where the
    // adaptive plan is finalized)
    val recipeFinal = recipeAgg.queryExecution.executedPlan.toString
    assert(recipeFinal.contains("BroadcastHashJoin"),
      s"AQE did not broadcast the one-row-per-group threshold join:\n$recipeFinal")
    packStats.foreach { r =>
      // the last copy's end offset equals the group's total footprint —
      // contiguous separator-budgeted layout, no gaps, no overlaps
      assert(r.getLong(2) == r.getLong(3),
        s"pack layout gap in ${r.getString(0)}: $r")
      assert(r.getLong(4) == (r.getLong(3) - 1L) / 2048L,
        s"pack ids not dense in ${r.getString(0)}: $r")
    }
    println(s"  sources=${packStats.length} copies=${packStats.map(_.getLong(1)).sum}")
    // wall-clock budget at the default 8g fork heap (measured ~3x under)
    assert(recipeSec < 240.0,
      f"composed recipe took $recipeSec%.1f s at 10M — plan regressed?")
    // pre-cut correctness AT volume: the giant slice through the
    // bounded path must equal the naive full-sort window exactly
    val selOut = graft.ops.Sample.selectByBudget(recipeDocs, "source",
      "doc_id", "score", "n_tok", selBudget)
    val selStats = selOut.groupBy("source").agg(
      max("cum_tokens").as("maxCum"), count(lit(1)).as("n"),
      max("sel_rank").as("maxRank")).collect()
    selStats.foreach { r =>
      assert(r.getLong(1) <= selBudget, s"budget overrun: $r")
      assert(r.getLong(2) == r.getLong(3), // kept set IS ranks 1..n
        s"kept set is not a rank prefix in ${r.getString(0)}: $r")
    }
    val wNaive = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("score").desc, col("doc_id"))
    val naiveGiant = time("naive full-sort window on the 8M-row giant slice") {
      recipeDocs.filter(col("source") === "giant")
        .withColumn("cum_tokens", sum(col("n_tok")).over(wNaive.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .withColumn("sel_rank", row_number().over(wNaive).cast("long"))
        .filter(col("cum_tokens") <= selBudget)
        .agg(count(lit(1)), sum("doc_id"), sum("cum_tokens"), sum("sel_rank"))
        .collect()(0)
    }
    val precutGiant = selOut.filter(col("source") === "giant")
      .agg(count(lit(1)), sum("doc_id"), sum("cum_tokens"), sum("sel_rank"))
      .collect()(0)
    assert(precutGiant == naiveGiant,
      s"pre-cut diverged at volume: $precutGiant vs $naiveGiant")
    println(s"  giant slice: ${precutGiant.getLong(0)} kept of 8M, " +
      "bounded path == naive window")
    // deterministic global shuffle at volume: 10M rows through the
    // two-pass bucketed rank — no task sorts more than ~N/buckets rows
    // (the permutation law is cheap to verify as an aggregate: dense
    // positions sum to N(N-1)/2 with min 0 and max N-1)
    val shufStats = time("shuffleRank over 10M rows (1024 buckets)") {
      graft.ops.Sample.shuffleRank(recipeDocs.select("doc_id"), "doc_id",
          salt = "drive", buckets = 1024)
        .agg(count(lit(1)), min("shuffle_pos"), max("shuffle_pos"),
          sum("shuffle_pos"), count_distinct(col("shuffle_pos")))
        .collect()(0)
    }
    assert(shufStats.getLong(0) == 10000000L &&
      shufStats.getLong(1) == 0L && shufStats.getLong(2) == 9999999L &&
      shufStats.getLong(4) == 10000000L &&
      shufStats.getLong(3) == 10000000L * 9999999L / 2L,
      s"shuffle positions not a dense permutation at volume: $shufStats")
    println("  10M positions: dense permutation verified by aggregate laws")

    // physical shard write AT VOLUME: the full 10M-row permutation
    // materialized as 64 shards / ~4 files each, then the committed
    // manifest re-checked independently (the writer verified the laws
    // pre-swap; this re-derives them from the published sidecar) and
    // the tree read back against it
    println("== physical shard write over 10M rows (64 shards, 50k-row files)")
    val shardRoot = java.nio.file.Files
      .createTempDirectory("scale-shards").toString
    val shuffled10m = graft.ops.Sample.shuffleRank(
      recipeDocs.select("doc_id", "n_tok"), "doc_id",
      salt = "shards", buckets = 1024)
    time("writeShards: 10M rows -> 64 shard dirs") {
      graft.ops.ShardWriter.writeShards(shuffled10m, "doc_id", "n_tok",
        numShards = 64, path = s"$shardRoot/tree", salt = "shards",
        buckets = 1024, budget = -1L, maxRowsPerFile = 50000L)
    }
    val man10m = graft.ops.ShardWriter.loadManifest(spark, s"$shardRoot/tree")
      .collect()
    assert(man10m.map(_.getAs[Long]("n_docs")).sum == 10000000L,
      "manifest row total != 10M")
    man10m.groupBy(_.getAs[Long]("shard")).foreach { case (s, files) =>
      val cnt = files.map(_.getAs[Long]("n_docs")).sum
      assert(cnt == (10000000L - s + 63L) / 64L, s"shard $s count $cnt")
      files.foreach { f => // arithmetic range law, re-derived
        assert(f.getAs[Long]("max_pos") - f.getAs[Long]("min_pos") ==
          (f.getAs[Long]("n_docs") - 1L) * 64L, s"shard $s file law: $f")
      }
      val ordered = files.sortBy(_.getAs[Long]("min_pos"))
      ordered.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("max_pos") < b.getAs[Long]("min_pos"))
        case _ => ()
      }
    }
    val rb = time("read back one shard dir against its manifest rollup") {
      graft.ops.ShardWriter.readShards(spark, s"$shardRoot/tree")
        .filter(col("shard") === 7)
        .agg(count(lit(1)), min("shuffle_pos"), max("shuffle_pos"),
          sum("n_tok")).collect()(0)
    }
    val m7 = man10m.filter(_.getAs[Long]("shard") == 7L)
    assert(rb.getLong(0) == m7.map(_.getAs[Long]("n_docs")).sum &&
      rb.getLong(1) == m7.map(_.getAs[Long]("min_pos")).min &&
      rb.getLong(2) == m7.map(_.getAs[Long]("max_pos")).max &&
      rb.getLong(3) == m7.map(_.getAs[Long]("n_tokens")).sum,
      s"shard 7 read-back disagrees with its manifest: $rb")
    println(s"  64 shards / ${man10m.length} files, manifest laws + " +
      "read-back verified")

    // the recipe's CHECKPOINT SEAM: an accumulator on the score column
    // counts how many times base rows are actually evaluated.
    // Uncheckpointed, selection (2 passes) composed under shuffleRank
    // (2 passes) re-scans the base ~4x; the seam materializes the
    // selected set once and cuts that to selection's own ~2x. Ratios
    // are asserted loosely (projection collapse can re-evaluate an
    // expression within one pass) — the seam's halving is the claim.
    println("== recipe checkpoint seam: base-relation scan counts (2M rows)")
    val seamN = 2000000L
    val scans = spark.sparkContext.longAccumulator("baseScans")
    val probe = udf((s: Long) => { scans.add(1L); s })
    val seamDocs = spark.range(seamN).select(
      col("id").as("doc_id"),
      concat(lit("s"), pmod(col("id"), lit(8L))).as("source"),
      pmod(hash(col("id") * 31L), lit(1000000)).cast("long").as("score0"),
      (pmod(hash(col("id") * 7L), lit(401)) + lit(50L)).cast("long").as("n_tok"))
      .withColumn("score", probe(col("score0"))).drop("score0")
    def seamScans(checkpoint: Boolean, tag: String): Double = {
      scans.reset()
      graft.ops.ShardWriter.writeShardRecipe(seamDocs, "source", "doc_id",
        "score", "n_tok", budget = 2000000L, numShards = 8,
        path = s"$shardRoot/$tag", salt = "seam", buckets = 256,
        checkpointSelected = checkpoint)
      scans.value.toDouble / seamN
    }
    val scansOn = time("recipe with checkpoint seam (expected ~2 scans)") {
      seamScans(checkpoint = true, "seamOn")
    }
    val scansOff = time("recipe without the seam (expected ~4 scans)") {
      seamScans(checkpoint = false, "seamOff")
    }
    println(f"  base-row evaluations per row: seam=$scansOn%.2f " +
      f"no-seam=$scansOff%.2f")
    assert(scansOn < scansOff - 0.9,
      f"seam did not reduce base scans: $scansOn%.2f vs $scansOff%.2f")
    assert(scansOn <= 2.6,
      f"seam path scans the base $scansOn%.2f x (expected ~2)")
    // identical trees either way (same identity, same rows)
    val seamCmp = Seq("seamOn", "seamOff").map { t =>
      graft.ops.ShardWriter.readShards(spark, s"$shardRoot/$t")
        .agg(count(lit(1)), sum("shuffle_pos"), sum(hash(col("doc_id"),
          col("shuffle_pos")).cast("long"))).collect()(0)
    }
    assert(seamCmp(0) == seamCmp(1),
      s"seam changed the written tree: ${seamCmp(0)} vs ${seamCmp(1)}")

    // the shard recipe at 100M ROWS: the full select → shuffle → write
    // composition at 10× the section above, 256 one-task shards — the
    // 100×-scale claim rests on the per-shard task-local sorts staying
    // SPILL-SAFE (they may spill to disk; they must not OOM or blow the
    // wall clock) as shards grow. Spill is MEASURED per task via a
    // listener, not guessed; every manifest law is re-derived from the
    // committed sidecar. 100M = 256 × 390,625 exactly, so each shard
    // holds 390,625 rows → 4 files at the 100k cap.
    println("== writeShardRecipe over 100M rows (256 shards, 100k-row files)")
    val diskSpill = new java.util.concurrent.atomic.AtomicLong(0L)
    val memSpill = new java.util.concurrent.atomic.AtomicLong(0L)
    val spillListener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          diskSpill.addAndGet(m.diskBytesSpilled)
          memSpill.addAndGet(m.memoryBytesSpilled); ()
        }
      }
    }
    spark.sparkContext.addSparkListener(spillListener)
    val n100 = 100000000L
    val docs100m = spark.range(n100).select(
      col("id").as("doc_id"),
      concat(lit("s"), pmod(col("id"), lit(8L))).as("source"),
      pmod(hash(col("id") * 31L), lit(1000000)).cast("long").as("score"),
      (pmod(hash(col("id") * 7L), lit(401)) + lit(50L)).cast("long").as("n_tok"))
    val t100 = System.nanoTime()
    time("writeShardRecipe: 100M rows -> 256 shards") {
      graft.ops.ShardWriter.writeShardRecipe(docs100m, "source", "doc_id",
        "score", "n_tok", budget = Long.MaxValue / 4, numShards = 256,
        path = s"$shardRoot/tree100m", salt = "shards100", buckets = 4096,
        maxRowsPerFile = 100000L)
    }
    val sec100 = (System.nanoTime() - t100) / 1e9
    println(f"  task spill during the recipe: memory " +
      f"${memSpill.get() / 1e9}%.1f GB, disk ${diskSpill.get() / 1e9}%.1f GB")
    // wall-clock budget: generous 3x headroom over the measured run so
    // host noise cannot flake the drive, but a plan regression (e.g. a
    // global sort sneaking in) still fails loudly
    assert(sec100 < 900.0, f"100M shard recipe took $sec100%.0f s")
    val man100 = graft.ops.ShardWriter
      .loadManifest(spark, s"$shardRoot/tree100m").collect()
    assert(man100.map(_.getAs[Long]("n_docs")).sum == n100,
      "manifest row total != 100M")
    assert(man100.length == 256 * 4,
      s"expected 1024 files (256 shards x 4), got ${man100.length}")
    man100.groupBy(_.getAs[Long]("shard")).foreach { case (s, files) =>
      assert(files.map(_.getAs[Long]("n_docs")).sum == n100 / 256,
        s"shard $s row count")
      files.foreach { f => // arithmetic range law, re-derived
        assert(f.getAs[Long]("max_pos") - f.getAs[Long]("min_pos") ==
          (f.getAs[Long]("n_docs") - 1L) * 256L, s"shard $s file law: $f")
      }
      files.sortBy(_.getAs[Long]("min_pos")).sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("max_pos") < b.getAs[Long]("min_pos"))
        case _ => ()
      }
    }
    // the resume primitive at volume: a tail slice near the corpus end
    // reads only the intersecting files (manifest pruning), exact rows
    val tail100 = time("resumeFrom near the corpus end (pruned read)") {
      graft.ops.ShardWriter.resumeFrom(spark, s"$shardRoot/tree100m",
          step = 999L, batchSize = 100000L)
        .agg(count(lit(1)), min("shuffle_pos"), max("shuffle_pos"))
        .collect()(0)
    }
    assert(tail100.getLong(0) == n100 - 999L * 100000L &&
      tail100.getLong(1) == 999L * 100000L &&
      tail100.getLong(2) == n100 - 1L, s"resume tail wrong: $tail100")
    println(s"  1024 files, laws + resume verified at 100M")
    spark.sparkContext.removeSparkListener(spillListener)

    // token-stream windows at volume: 2M docs / ~100M tokens sliced
    // into 2048-token contexts, then the TOKENIZED artifact written
    // through the production shard writer. The scale claims under
    // test: offsets from the bucketed two-pass (no global sort — the
    // wall clock would say so), per-doc ARRAY-SLICE fan-out (never a
    // per-token explode; ~2M segment rows for 100M tokens), and the
    // window_id reassembly shuffle whose groups are ctxLen-bounded.
    // One mid-stream window is re-derived INDEPENDENTLY: its member
    // docs' offsets recomputed by direct count-sums, its tokens
    // re-assembled on the driver and compared slot by slot.
    println("== token windows over ~100M tokens (2M docs, ctx 2048)")
    val twN = 2000000L
    val twDocs = spark.range(twN).select(
      col("id").as("doc_id"),
      transform(
        sequence(lit(1L), (pmod(hash(col("id") * 13L), lit(61)) + 20L)),
        x => (pmod(col("id") * 31L + x, lit(50000L))).cast("int"))
        .as("ts"))
    val twPos = graft.ops.Sample.shuffleRank(twDocs, "doc_id", salt = "tw100",
      buckets = 2048).localCheckpoint(true) // 3 passes ride the op
    val twTotal = twPos.agg(sum(size(col("ts")).cast("long")))
      .head().getLong(0)
    val tTw = System.nanoTime()
    val twWins = time("sliceWindows: ~100M tokens -> 2048-token windows") {
      val w = graft.ops.TokenStream.sliceWindows(twPos, "shuffle_pos",
        "ts", ctxLen = 2048, blocks = 2048).localCheckpoint(true)
      w.count(); w
    }
    val twSec = (System.nanoTime() - tTw) / 1e9
    assert(twSec < 600.0, f"window slicing took $twSec%.0f s")
    val twStats = twWins.agg(count(lit(1)), sum("n_tok"),
      countDistinct("window_id"), max("window_id"),
      min(col("n_tok") === 2048L)).collect()(0)
    val expWins = twTotal / 2048L
    assert(twStats.getLong(0) == expWins,
      s"expected $expWins full windows, got ${twStats.getLong(0)}")
    assert(twStats.getLong(1) == expWins * 2048L, "token mass wrong")
    assert(twStats.getLong(2) == expWins &&
      twStats.getLong(3) == expWins - 1L, "window ids not dense")
    assert(twStats.getBoolean(4), "a non-tail window is not full")
    // independent re-derivation of one mid-stream window
    val wMid = expWins / 2L
    val midRow = twWins.filter(col("window_id") === wMid).collect()(0)
    val (mnP, mxP) = (midRow.getAs[Long]("min_pos"),
      midRow.getAs[Long]("max_pos"))
    val members = twPos
      .filter(col("shuffle_pos").between(mnP, mxP))
      .select(col("shuffle_pos"), col("ts"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1))).sortBy(_._1)
    val offBefore = twPos.filter(col("shuffle_pos") < mnP)
      .agg(coalesce(sum(size(col("ts")).cast("long")), lit(0L)))
      .head().getLong(0)
    val streamSeg = members.flatMap(_._2) // tokens at [offBefore, ...)
    val lo = (wMid * 2048L - offBefore).toInt
    val expMid = streamSeg.slice(lo, lo + 2048).toSeq
    assert(midRow.getAs[Seq[Int]]("tokens") == expMid,
      s"window $wMid payload diverges from the independent re-derivation")
    assert(midRow.getAs[Long]("n_docs") == members.length.toLong,
      "window doc count wrong")
    println(f"  $expWins windows of 2048 (of $twTotal tokens); " +
      "mid-stream window re-derived independently")
    // ...and the tokenized artifact through the production writer:
    // window_id IS the dense position, so every manifest law applies
    time("writeShards over the windows (16 shards, 4k-window files)") {
      graft.ops.ShardWriter.writeShards(
        twWins.withColumn("shuffle_pos", col("window_id")),
        "window_id", "n_tok", numShards = 16,
        path = s"$shardRoot/toktree", salt = "tw100", buckets = 2048,
        budget = 2048L, maxRowsPerFile = 4000L)
    }
    val manTok = graft.ops.ShardWriter
      .loadManifest(spark, s"$shardRoot/toktree").collect()
    assert(manTok.map(_.getAs[Long]("n_docs")).sum == expWins,
      "tokenized tree window total wrong")
    assert(manTok.map(_.getAs[Long]("n_tokens")).sum == expWins * 2048L,
      "tokenized tree token total wrong")
    println(s"  tokenized tree: ${manTok.length} files across 16 shards, " +
      "manifest totals verified")

    // ---- sliceWindows shuffle PROFILE at ~1B tokens: the scaladoc
    // documents the 2x payload constant (offset window + reassembly,
    // TokenStream.scala trade-offs) and defers the 1x block-local
    // assembly "until the constant shows in a real profile" — this IS
    // the profile: shuffle bytes MEASURED via a task listener against
    // a 1x reference (one hash shuffle of the same payload), plus wall
    // time. The identity permutation is used (spark.range ids are the
    // dense [0, N) stream) so the numbers isolate the operator itself.
    println("== sliceWindows shuffle profile: ~1B tokens (20M docs, ctx 2048)")
    val swWrite = new java.util.concurrent.atomic.AtomicLong(0L)
    val swRead = new java.util.concurrent.atomic.AtomicLong(0L)
    val swListener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          swWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          swRead.addAndGet(m.shuffleReadMetrics.totalBytesRead); ()
        }
      }
    }
    val pN = 20000000L // 20M docs x ~50 tokens = ~1.0B tokens
    val pDocs = spark.range(pN).select(
      col("id").as("shuffle_pos"),
      transform(
        sequence(lit(1L), (pmod(hash(col("id") * 13L), lit(61)) + 20L)),
        x => (pmod(col("id") * 31L + x, lit(50000L))).cast("int"))
        .as("ts"))
    spark.sparkContext.addSparkListener(swListener)
    // 1x reference: ONE hash shuffle of the same payload (the sum after
    // it keeps the token arrays alive through the exchange)
    time("1x reference: one hash shuffle of the payload") {
      pDocs.repartition(col("shuffle_pos"))
        .agg(sum(size(col("ts")).cast("long"))).head()
    }
    val refWrite = swWrite.get()
    swWrite.set(0L); swRead.set(0L)
    val tP = System.nanoTime()
    val pTotal = time("sliceWindows: ~1B tokens -> 2048-token windows") {
      // consuming sum(size(tokens)) forces the PAYLOAD through both
      // shuffles — a bare count would let the optimizer prune the
      // collect_list and profile nothing
      graft.ops.TokenStream.sliceWindows(pDocs, "shuffle_pos", "ts",
          ctxLen = 2048, blocks = 4096)
        .agg(sum(size(col("tokens")).cast("long"))).head().getLong(0)
    }
    val pSec = (System.nanoTime() - tP) / 1e9
    spark.sparkContext.removeSparkListener(swListener)
    val ratio = swWrite.get().toDouble / refWrite
    println(f"  tokens through windows: $pTotal%d; shuffle write " +
      f"${swWrite.get() / 1e9}%.1f GB (read ${swRead.get() / 1e9}%.1f GB) " +
      f"= ${ratio}%.2fx the 1-shuffle reference (${refWrite / 1e9}%.1f GB)")
    // the documented bound: TWO payload shuffles plus narrow-pass
    // overhead — a regression to a per-token explode or a third
    // payload movement would blow past 3x and fail here loudly
    assert(ratio < 3.0, f"window chain moved ${ratio}%.2fx the payload")
    assert(pSec < 1200.0, f"1B-token slicing took $pSec%.0f s")
    assert(pTotal >= (pN * 49L) / 2048L * 2048L * 9 / 10,
      s"window token mass implausibly low: $pTotal")

    // ANN retrieval QUALITY canary: recall@10 vs exact brute force with
    // hard floors — every x_knn_* gate pins determinism (the oracle
    // replays the engine's own approximation), so only THIS catches a
    // codebook-training regression that craters recall. The 100k shape
    // fits the local[8] budget; the production-shaped 1M gate is
    // `Test/runMain graft.RecallDrive full` (same floors, nlist=1000).
    println("== ANN recall canary: 100k vectors, floors ivf/adc/refined")
    RecallDrive.run(spark, n = 100000L, nQueries = 50, nTopics = 100,
      nlist = 200, m = 16, ksub = 256, tau = 1.5, k = 10, r = 100,
      nprobes = Seq(1, 14), floorsAtNprobe = 14,
      floors = Some(RecallDrive.ProductionFloors), pqIters = 2)

    // kmeans|| init quality at the nlist >= 256 regime the init exists
    // for: the oversampled init must reach >= parity with smallest-id
    // seeding after identical Lloyd refinement
    RecallDrive.initCanary(spark, n = 200000L, nQueries = 50,
      nTopics = 100, nlist = 256, tau = 1.5, k = 10, nprobe = 16)

    spark.stop()
  }
}
