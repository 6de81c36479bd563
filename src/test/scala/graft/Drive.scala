package graft

import graft.store.{HDFStore, StoreMode}

/** Manual end-to-end drive of the public library surface against the real
  * testdata parquet — run with `sbt "Test/runMain graft.Drive"`. */
object Drive {
  def main(args: Array[String]): Unit = {
    val spark = GateSession(4, "ERROR")
    import org.apache.spark.sql.functions._

    val dir = java.nio.file.Files.createTempDirectory("drive-store").toString
    println(s"== store at $dir")
    val st = HDFStore.open(spark, dir, StoreMode.Overwrite)

    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .sort("l_orderkey", "l_linenumber")
    st.put("tpch/lineitem", li)
    println(s"== keys: ${st.keys}  nrows=${st.nrows("tpch/lineitem")}")

    val t = st.table("tpch/lineitem")
    println("== point read [5]:")
    t.point(5).show(truncate = false)
    println("== slice [3..10]:")
    t.slice(3, 10).orderBy("_rowid").show(20, truncate = false)
    println("== slice plan (expect PushedFilters on _rowid):")
    t.slice(3, 10).explain("formatted")

    println("== delete [10..19], then read [8..12]")
    t.delete(10, 19)
    println(s"nrows after delete = ${t.nrows}")
    t.slice(8, 12).orderBy("_rowid").select(col("_rowid"), col("l_orderkey"), col("l_linenumber")).show()

    println("== insert 3 rows at 100 (copies of rows 0-2)")
    t.insert(100, t.slice(0, 2).drop("_rowid"))
    println(s"nrows after insert = ${t.nrows}, segments = ${st.segmentCount("tpch/lineitem")}")
    t.slice(99, 104).orderBy("_rowid").select(col("_rowid"), col("l_orderkey"), col("l_linenumber")).show()

    st.setAttr("tpch/lineitem", "source", "sf0.001")
    st.close()

    println("== reopen read-only; state persisted?")
    val ro = HDFStore.open(spark, dir, StoreMode.Read)
    println(s"keys=${ro.keys} nrows=${ro.nrows("tpch/lineitem")} attr=${ro.getAttr("tpch/lineitem", "source")}")

    println("== probes")
    try ro.table("tpch/lineitem").slice(0, 10_000_000) catch {
      case e: IllegalArgumentException => println(s"out-of-bounds slice -> ${e.getMessage}")
    }
    try ro.drop("tpch/lineitem") catch {
      case e: UnsupportedOperationException => println(s"write on read-only -> ${e.getMessage}")
    }
    try ro.table("nope") catch {
      case e: NoSuchElementException => println(s"unknown table -> ${e.getMessage}")
    }
    ro.close()

    println("== native expressions through SQL")
    graft.functions.native.register(spark)
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(3)
      .createOrReplaceTempView("docs3")
    spark.sql("SELECT doc_id, rolling_hash(text) AS rh FROM docs3").show()
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(3)
      .createOrReplaceTempView("emb3")
    spark.sql("SELECT vec_id, float_dot(embedding, embedding) AS selfdot FROM emb3").show()

    println("== N-D drive: slab write, full_output read, per-axis resize")
    val ndDir = java.nio.file.Files.createTempDirectory("drive-nd").toString
    val ndSt = graft.store.HDFStore.open(spark, ndDir, graft.store.StoreMode.Overwrite)
    val gridDf = spark.range(24).selectExpr("id div 6 as i0", "id % 6 as i1", "cast(id as double) as value")
    val gnd = graft.ndarray.NDArray.create(ndSt, "g", gridDf, Seq(4L, 6L), Seq(-1L, -1L))
    gnd.writeHyperslab(Seq(0, 0), Seq(2, 2), Seq(2, 3), Seq(1, 1), Seq(-1.0, -2.0, -3.0, -4.0))
    val fo = gnd.hyperslabFull(Seq(0, 0), Seq(2, 2), Seq(2, 3), Seq(1, 1)).collect()
    println(s"full_output -> ${fo.length} cells, nonzero=${fo.count(_.getDouble(2) != 0.0)} (expect 24/4)")
    require(fo.length == 24 && fo.count(_.getDouble(2) != 0.0) == 4)
    gnd.resize(Seq(5L, 3L))
    val rz = graft.ndarray.NDArray.open(ndSt, "g")
    println(s"resized shape -> ${rz.shape} rows=${rz.read().count()} (expect Vector(5, 3)/15)")
    require(rz.shape == Vector(5L, 3L) && rz.read().count() == 15)

    println("== r4 drive: resize THROUGH a hardlink mutates the shared base")
    ndSt.hardlink("g", "galias")
    graft.ndarray.NDArray.open(ndSt, "galias").resize(Seq(2L, 2L))
    val viaBase = graft.ndarray.NDArray.open(ndSt, "g")
    println(s"base after alias-resize -> ${viaBase.shape} (expect Vector(2, 2))")
    require(viaBase.shape == Vector(2L, 2L))

    println("== r4 drive: copy() onto an aliased base promotes an heir")
    val pdf = spark.range(5).selectExpr("id as a", "cast(id as double) as b")
    ndSt.put("cb", pdf)
    ndSt.hardlink("cb", "cl")
    ndSt.put("csrc", pdf.withColumn("b", col("b") * 10))
    ndSt.copy("csrc", "cb")
    val linkB = ndSt.table("cl").df.agg(sum("b")).collect()(0).getDouble(0)
    val baseB = ndSt.table("cb").df.agg(sum("b")).collect()(0).getDouble(0)
    println(s"link sum(b)=$linkB (expect 10.0, old data) base sum(b)=$baseB (expect 100.0)")
    require(linkB == 10.0 && baseB == 100.0)

    println("== r4 drive: vacuum default grace spares young orphans; 0 reclaims")
    ndSt.table("cb").update(0, ndSt.table("cb").slice(1, 1).drop("_rowid")) // orphan a segment
    def pq(root: java.io.File): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(root).count(_.getName.endsWith(".parquet"))
    }
    val tdir = new java.io.File(ndDir, "tables")
    val b0 = pq(tdir); ndSt.vacuum(); val b1 = pq(tdir); ndSt.vacuum(0L); val b2 = pq(tdir)
    println(s"parquet files: before=$b0 afterDefault=$b1 afterZero=$b2 (expect b1==b0, b2<b0)")
    require(b1 == b0 && b2 < b0)
    ndSt.close()

    println("== r4 drive: jaccardPairs on the hash60 inverted index")
    val docsAll = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val jp = graft.ops.Dedup.jaccardPairs(docsAll, "doc_id", "text", 3, maxDocFreq = Some(100L))
      .orderBy(col("jaccard").desc, col("id1"), col("id2")).limit(3).collect()
    jp.foreach(r => println(s"jaccard -> ${r.getLong(0)} ~ ${r.getLong(1)} = ${r.getDouble(2)}"))
    require(jp.nonEmpty && jp.head.getDouble(2) > 0.0)

    println("== ANN lshTopK drive (fixed-point buckets + exact scoring)")
    val embAll = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qv = embAll.filter(org.apache.spark.sql.functions.col("vec_id") === 0)
      .select("embedding").collect()(0).getSeq[Float](0)
    val ann = graft.ops.Similarity.lshTopK(embAll, "vec_id", "embedding", qv, 5,
      planes = 8, probeHamming = 2, exactDecimal = true).collect()
    ann.foreach(r => println(s"ann -> id=${r.getLong(0)} score=${r.getDouble(1)} bucket=${r.getLong(2)}"))
    require(ann.nonEmpty && ann.head.getLong(0) == 0L && math.abs(ann.head.getDouble(1) - 1.0) < 1e-9,
      "lshTopK: query vector must rank itself first with score 1.0")

    println("== r5 drive: IVF ANN (nlist=16, nprobe=4)")
    val ivf = graft.ops.Similarity.ivfTopK(embAll, "vec_id", "embedding", qv, 5,
      nlist = 16, nprobe = 4).collect()
    ivf.foreach(r => println(s"ivf -> id=${r.getLong(0)} score=${r.getDouble(1)} list=${r.getLong(2)}"))
    require(ivf.nonEmpty && ivf.head.getLong(0) == 0L && math.abs(ivf.head.getDouble(1) - 1.0) < 1e-9,
      "ivfTopK: query vector must rank itself first with score 1.0")

    println("== r5 drive: near-dup clustering (connected components over pair graph)")
    val ccPairs = graft.ops.Dedup.jaccardPairs(docsAll, "doc_id", "text", 3,
      maxDocFreq = Some(100L)).filter(col("jaccard") >= 0.5)
    val cc = graft.ops.Cluster.connectedComponents(ccPairs, "id1", "id2")
    val groups = cc.groupBy("cluster").count().orderBy(col("count").desc).limit(3).collect()
    groups.foreach(r => println(s"cluster -> rep=${r.getLong(0)} size=${r.getLong(1)}"))
    require(cc.filter(col("id") === col("cluster")).count() == cc.select("cluster").distinct().count(),
      "every cluster label must be a member of its own cluster")

    println("== r5 drive: spherical k-means codebook -> trained IVF")
    val cb = graft.ops.Similarity.kmeansCodebook(embAll, "vec_id", "embedding", 8, 2)
    val sizes = graft.ops.Similarity.kmeansAssign(embAll, "vec_id", "embedding", cb)
      .groupBy("list").count().orderBy("list").collect()
    sizes.foreach(r => println(s"kmeans -> list=${r.getLong(0)} size=${r.getLong(1)}"))
    require(sizes.map(_.getLong(1)).sum == embAll.count(), "every vector must be assigned")
    val tivf = graft.ops.Similarity.ivfTopK(embAll, "vec_id", "embedding", qv, 5,
      nprobe = 3, codebook = Some(cb)).collect()
    tivf.foreach(r => println(s"trained-ivf -> id=${r.getLong(0)} score=${r.getDouble(1)} list=${r.getLong(2)}"))
    require(tivf.nonEmpty && tivf.head.getLong(0) == 0L && math.abs(tivf.head.getDouble(1) - 1.0) < 1e-9,
      "trained ivfTopK: query vector must rank itself first with score 1.0")

    println("== r5 drive: contamination, stratified sample, vocab")
    val bench = docsAll.filter(col("doc_id") < 5).select("doc_id", "text")
    val cont = graft.ops.Contamination.ngramOverlap(docsAll, "doc_id", "text",
      bench, "doc_id", "text", n = 3, minShared = 2L)
    val selfPairs = cont.filter(col("doc_id") === col("bench_id"))
      .filter(col("shared") === col("n_sh")).count()
    println(s"contamination -> rows=${cont.count()} full-self-overlaps=$selfPairs (expect 5)")
    require(selfPairs == 5, "each bench doc must fully overlap itself in the corpus")
    val sampled = graft.ops.Sample.stratifiedHash(docsAll, "lang", "doc_id",
      Map("en" -> 0.5), defaultRate = 0.0)
    println(s"sample -> ${sampled.count()} of ${docsAll.filter(col("lang") === "en").count()} en docs")
    require(sampled.select("lang").distinct().collect().map(_.getString(0)).toSeq == Seq("en"),
      "defaultRate=0 must drop all non-en strata")
    val voc = graft.ops.TextStats.vocab(docsAll, "text", 5, 2L).collect()
    voc.foreach(r => println(s"vocab -> ${r.getString(0)} x${r.getLong(1)}"))
    require(voc.length == 5 && voc.map(_.getLong(1)).toSeq == voc.map(_.getLong(1)).toSeq.sorted.reverse,
      "vocab must return k rows in descending count order")

    println("== r5 drive: splits, KMV sketch, repetition")
    val splits = graft.ops.Sample.assignSplits(docsAll, "lang", "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    println(s"splits -> $splits")
    require(splits.values.sum == docsAll.count() && splits.getOrElse("train", 0L) > 300,
      "split labels must partition the corpus with train dominant")
    val kmv = graft.ops.Sketch.KMV(128).toUdaf
    val sk = docsAll
      .select(explode(graft.ops.TextStats.tokens(col("text"))).as("t"))
      .filter(col("t") =!= "")
      .select(graft.ops.TextStats.hash60(col("t")).as("h"))
      .agg(kmv(col("h")).as("est"), countDistinct(col("h")).as("exact")).collect()(0)
    println(s"sketch -> est=${sk.getLong(0)} exact=${sk.getLong(1)}")
    require(math.abs(sk.getLong(0) - sk.getLong(1)).toDouble / sk.getLong(1) < 0.3,
      "KMV estimate must be within 30% of exact distinct")
    val repStats = graft.ops.TextStats.repetition(docsAll, "doc_id", "text", 3)
      .agg(count(lit(1)).as("n"), max(col("max_rep")).as("worst"),
        min(col("max_rep")).as("best")).collect()(0)
    println(s"repetition -> docs=${repStats.getLong(0)} worst max_rep=${repStats.getLong(1)}")
    require(repStats.getLong(0) == docsAll.count() && repStats.getLong(2) >= 1L,
      "repetition must score every doc with max_rep >= 1")

    println("== streaming append sink drive")
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val sdir = java.nio.file.Files.createTempDirectory("drive-stream").toString
    val st2 = graft.store.HDFStore.open(spark, sdir + "/store", graft.store.StoreMode.Overwrite)
    st2.put("events", events.limit(0))
    events.limit(300).write.mode("append").parquet(sdir + "/in")
    graft.streaming.EventStream.appendSink(
      spark.readStream.schema(events.schema).parquet(sdir + "/in"),
      st2, "events", sdir + "/ckpt").awaitTermination()
    println(s"streamed rows: ${st2.nrows("events")} (expect 300)")
    st2.close()

    println("== r5 drive: streaming dedup (watermark-bounded digest state)")
    val ddocs = docsAll.limit(30).select(col("doc_id"), col("text"))
      .withColumn("event_time",
        timestamp_micros(lit(1700000000000000L) + col("doc_id") * 1000000L))
    ddocs.unionByName(ddocs.withColumn("doc_id", col("doc_id") + 500L))
      .write.mode("append").parquet(sdir + "/din")
    graft.streaming.EventStream.dedupStream(
        spark.readStream.schema(ddocs.schema).parquet(sdir + "/din"),
        "text", "event_time")
      .writeStream.outputMode("append").format("memory").queryName("drive_dedup")
      .option("checkpointLocation", sdir + "/dckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val dn = spark.table("drive_dedup").count()
    println(s"stream-dedup -> $dn rows from 60 inputs (expect 30)")
    require(dn == 30, "streaming dedup must keep one row per digest")

    println("== r6 drive: persisted IVF index (build once, probe partitions)")
    val idxPath = java.nio.file.Files.createTempDirectory("drive-ivf").toString
    graft.ops.Similarity.buildIvfIndex(embAll, "vec_id", "embedding", cb, idxPath)
    val probed = graft.ops.Similarity.ivfTopKIndexed(spark, idxPath, cb, qv, 5, nprobe = 3)
    val iv2 = probed.collect()
    iv2.foreach(r => println(s"indexed-ivf -> id=${r.getLong(0)} score=${r.getDouble(1)} list=${r.getLong(2)}"))
    require(iv2.map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq ==
      tivf.map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq,
      "indexed probe must return the identical top-k as assign-at-query-time")
    val planStr = probed.queryExecution.executedPlan.toString
    // the list predicate must sit INSIDE the PartitionFilters bracket —
    // the label alone prints on every partitioned scan, pruned or not
    require("PartitionFilters: \\[[^\\]]*\\]".r.findFirstIn(planStr)
        .exists(_.contains("list")),
      "indexed probe must partition-prune on list")
    println("indexed-ivf plan partition-prunes: OK")

    println("== r6 drive: nearDupGroups composed entry point")
    val ndg = graft.ops.Dedup.nearDupGroups(docsAll.select("doc_id", "text"), "doc_id", "text")
    val nKeep = ndg.filter(col("keep")).count()
    println(s"nearDupGroups -> ${ndg.count()} docs, $nKeep keepers")
    require(ndg.count() == docsAll.count(), "groups must cover the whole corpus")
    require(nKeep == ndg.select("cluster").distinct().count(), "one keeper per group")

    println("== r6 drive: corpus-level line dedup (boilerplate stripping)")
    val boilSrc = docsAll.select(col("doc_id"),
      concat(lit("NAVBAR\n"), col("text"), lit("\nFOOTER")).as("text"))
    val stripped = graft.ops.Dedup.stripBoilerplate(boilSrc, "doc_id", "text", 100L)
    val sNo = stripped.filter(col("clean_text").contains("NAVBAR") ||
      col("clean_text").contains("FOOTER")).count()
    println(s"stripBoilerplate -> ${stripped.count()} docs, $sNo with residual boilerplate (expect 0)")
    require(sNo == 0, "boilerplate lines above the doc-freq threshold must vanish")
    require(stripped.agg(min(col("n_kept"))).collect()(0).getLong(0) >= 1L,
      "every doc keeps its unique text line")
    val boilPlan = stripped.queryExecution.executedPlan.toString
    println(s"anti-join broadcasts the boiler set: ${boilPlan.contains("BroadcastHashJoin") || boilPlan.contains("BroadcastNestedLoop")}")

    println("== r6 drive: cross-corpus dedup (fresh batch vs reference snapshot)")
    val refCorpus = docsAll.filter(col("doc_id") < 300).select("doc_id", "text")
    val freshBatch = docsAll.filter(col("doc_id") >= 300).select("doc_id", "text")
      .unionByName(refCorpus.filter(col("doc_id") < 5)
        .select((col("doc_id") + 900000L).as("doc_id"), col("text")))
    val kept = graft.ops.Dedup.dedupAgainst(freshBatch, refCorpus, "doc_id", "text")
    val planted = kept.filter(col("doc_id") >= 900000L).count()
    println(s"dedupAgainst -> ${freshBatch.count()} fresh, ${kept.count()} kept, planted copies left=$planted (expect 0)")
    require(planted == 0, "exact copies of reference docs must be removed")

    println("== r6 drive: jaccard cache handle frees the index")
    val (jpH, h) = graft.ops.Dedup.jaccardPairsWithHandle(docsAll, "doc_id", "text", 3,
      maxDocFreq = Some(100L))
    println(s"handle-jaccard -> ${jpH.count()} pairs; cached=${h.index.get.storageLevel.useMemory}")
    h.close()
    require(h.index.get.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "close() must unpersist the index")
    println("handle closed, blocks freed: OK")

    println("== r6 drive: chunking, TF-IDF, PII scrub, profile")
    val ch = graft.ops.TextStats.chunk(docsAll, "doc_id", "text", 32, 8)
    println(s"chunk -> ${ch.count()} chunks from ${docsAll.count()} docs")
    require(ch.groupBy("doc_id").count().count() == docsAll.count(),
      "every doc must produce at least one chunk")
    val ti = graft.ops.TextStats.tfIdf(docsAll, "doc_id", "text")
    val topTerm = ti.orderBy(col("tfidf").desc).limit(1).collect()(0)
    println(s"tfidf -> ${ti.count()} (doc,token) rows; top=${topTerm.getString(1)} score=${topTerm.getDouble(5)}")
    require(ti.filter(col("tf") < 1 || col("df") < 1).count() == 0)
    val pii = graft.ops.TextStats.scrubPii(
      docsAll.select(col("doc_id"),
        concat(col("text"), lit(" ping admin@site.io 9876543210")).as("text")),
      "doc_id", "text")
    require(pii.filter(col("text_clean").contains("admin@site.io")).count() == 0 &&
      pii.agg(min(col("n_emails"))).collect()(0).getLong(0) >= 1L,
      "planted PII must be redacted everywhere")
    println(s"scrubPii -> all ${pii.count()} docs redacted")
    val prof = graft.ops.TextStats.profile(
      docsAll.select(col("lang"), length(col("text")).cast("long").as("v")),
      "lang", "v", Seq(0.5, 0.9)).orderBy("lang").collect()
    prof.foreach(r => println(s"profile -> ${r.getString(0)} n=${r.getLong(1)} p50=${r.getLong(4)} p90=${r.getLong(5)}"))
    require(prof.forall(r => r.getLong(2) <= r.getLong(4) && r.getLong(4) <= r.getLong(5) && r.getLong(5) <= r.getLong(3)),
      "min <= p50 <= p90 <= max must hold per group")

    println("== r7 drive: bloom decontamination, simhash pairing, bottom-k, count-min")
    val benchSet = docsAll.filter(col("doc_id") < 5).select("doc_id", "text")
    val exactOv = graft.ops.Contamination.ngramOverlap(docsAll, "doc_id", "text",
      benchSet, "doc_id", "text", 3, 2L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bloomOv = graft.ops.Contamination.ngramOverlapBloom(docsAll, "doc_id", "text",
      benchSet, "doc_id", "text", 3, 2L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    require(exactOv == bloomOv, "bloom prefilter must be exact")
    println(s"ngramOverlapBloom -> ${bloomOv.size} pairs, identical to exact: OK")

    val shp = graft.ops.Dedup.simhashPairs(
      docsAll.select("doc_id", "text").unionByName(
        docsAll.filter(col("doc_id") < 3)
          .select((col("doc_id") + 5000L).as("doc_id"), col("text"))),
      "doc_id", "text", maxHamming = 2)
    val shPairs = shp.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    require(shPairs.count(_._3 == 0L) >= 3, "planted exact dups must pair at distance 0")
    println(s"simhashPairs -> ${shPairs.length} pairs within hamming 2")

    val bk = graft.ops.Sample.bottomK(docsAll, "doc_id", 10)
    require(bk.count() == 10)
    val bkPlan = bk.queryExecution.executedPlan.toString
    require(bkPlan.contains("TakeOrdered"), s"bottomK must plan TakeOrdered:\n$bkPlan")
    println("bottomK -> 10 rows via TakeOrdered plan: OK")

    val cmToks = docsAll.select(explode(split(lower(col("text")), "\\s+")).as("t"))
    val cmSketch = graft.ops.Sketch.countMin(cmToks, "t", 4, 2048)
    require(cmSketch.table.count() <= 4 * 2048, "sketch table is bounded by depth x width")
    val cmEst = graft.ops.Sketch.countMinEstimate(cmSketch,
      cmToks.limit(50).distinct(), "t")
    val exactCnt = cmToks.groupBy("t").count()
    val under = cmEst.join(exactCnt, col("token") === col("t"))
      .filter(col("est") < col("count")).count()
    require(under == 0, "count-min must never undercount")
    println(s"countMin -> ${cmSketch.table.count()} counters, ${cmEst.count()} probes, 0 undercounts")

    val (ivfPath2, cb2) = (TestSpark.tmpDir("drive-ivf-fresh"),
      graft.ops.Similarity.kmeansCodebook(embAll, "vec_id", "embedding", 4, 1))
    graft.ops.Similarity.buildIvfIndex(embAll, "vec_id", "embedding", cb2, ivfPath2)
    graft.ops.Similarity.requireIvfFresh(spark, ivfPath2, embAll, "vec_id")
    val stale = embAll.unionByName(embAll.limit(1)
      .withColumn("vec_id", lit(987654321L)))
    val staleCaught = try {
      graft.ops.Similarity.requireIvfFresh(spark, ivfPath2, stale, "vec_id"); false
    } catch { case _: IllegalStateException => true }
    require(staleCaught, "appended corpus must be detected as stale")
    println("IVF freshness stamp -> fresh passes, append detected: OK")

    println("== r8 drive: heavy hitters (CM prefilter before the count shuffle)")
    val hhRes = graft.ops.Sketch.heavyHitters(cmToks, "t", minCount = 50L,
      depth = 4, width = 256)
    val hhExact = cmToks.filter(col("t").isNotNull).groupBy("t").count()
      .filter(col("count") >= 50)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(hhRes.collect().map(r => r.getString(0) -> r.getLong(1)).toMap == hhExact,
      "heavyHitters must equal the exact HAVING set")
    // the prefilter must sit under WholeStageCodegen BEFORE the exchange
    val hhPlan = hhRes.queryExecution.executedPlan.toString
    require(hhPlan.contains("cmestimate") || hhPlan.contains("CmEstimate"),
      s"cm_estimate prefilter missing from the plan:\n$hhPlan")
    println(s"heavyHitters -> ${hhExact.size} tokens >= 50, exact-equal to HAVING: OK")

    val rep = graft.ops.Dedup.repeatedNgrams(docsAll, "doc_id", "text", 5, 2)
    val repN = rep.filter(col("n_repeated") > 0).count()
    require(rep.count() == docsAll.count(), "one row per input document")
    println(s"repeatedNgrams -> $repN/${docsAll.count()} docs share a 5-gram with another doc")

    val kb = graft.ops.Dedup.nearDupKeepBest(
      docsAll.select("doc_id", "text").unionByName(
        docsAll.filter(col("doc_id") < 3)
          .select((col("doc_id") + 7000L).as("doc_id"),
            concat(col("text"), lit(" extra trailing tokens")).as("text"))),
      "doc_id", "text",
      size(split(lower(col("text")), "\\s+")).cast("long"))
    val kbRows = kb.collect()
    require(kbRows.count(_.getBoolean(3)) == kbRows.map(_.getLong(1)).distinct.length,
      "exactly one keeper per cluster")
    // the 3 planted LONGER variants must displace their shorter sources:
    // both directions asserted — keepers alone would also pass if
    // clustering broke into all-singletons (every row keep=true)
    val longer = kbRows.filter(r => r.getLong(0) >= 7000L && r.getLong(0) < 7003L)
    require(longer.length == 3 && longer.forall(_.getBoolean(3)),
      "longer planted variants must be the keepers")
    val displaced = kbRows.filter(r => r.getLong(0) < 3L)
    require(displaced.length == 3 && displaced.forall(!_.getBoolean(3)),
      "the shorter source docs must be displaced (keep=false)")
    println(s"nearDupKeepBest -> ${kbRows.count(_.getBoolean(3))} keepers; 3/3 planted longer variants kept")

    println("== r8 drive: DSIR importance weights (target = short docs)")
    val target = docsAll.filter(length(col("text")) < 400)
    val iw = graft.ops.Importance.importanceWeights(
      docsAll, target, "doc_id", "text", nBuckets = 4096)
    val iwRows = iw.collect()
    require(iwRows.length == docsAll.count(), "one weight row per raw document")
    val tgtIds = target.select("doc_id").collect().map(_.getLong(0)).toSet
    val (inT, outT) = iwRows.filter(!_.isNullAt(2)).partition(r => tgtIds(r.getLong(0)))
    val meanIn = inT.map(_.getDouble(2)).sum / inT.length
    val meanOut = outT.map(_.getDouble(2)).sum / outT.length
    require(meanIn > meanOut,
      s"target-distribution docs must outscore the rest ($meanIn <= $meanOut)")
    println(f"importanceWeights -> ${inT.length} target-ish docs mean $meanIn%.3f vs rest $meanOut%.3f")

    println("== r8 drive: DSIR resample, mixture sample, sample quantiles")
    val sel = graft.ops.Importance.resampleByWeight(iw, "doc_id", "log_weight", 25)
      .collect()
    require(sel.length == 25, "resample must return exactly k rows")
    val selInTarget = sel.count(r => tgtIds(r.getLong(0)))
    println(s"resampleByWeight -> $selInTarget/25 selected docs are target-ish")

    val mix = graft.ops.Sample.mixtureSample(docsAll, "source", "doc_id",
        Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2), nOut = 40L)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    require(mix.keySet.subsetOf(Set("src0", "src1", "src2")), s"unlisted domain leaked: $mix")
    println(s"mixtureSample(nOut=40) -> per-source draw $mix")

    val qs = graft.ops.Sample.sampleQuantiles(docsAll, "doc_id", "n_chars",
        Seq(0.25, 0.5, 0.75, 0.9), k = 201).collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    require(qs.size == 4 && qs(0.25) <= qs(0.5) && qs(0.5) <= qs(0.75) && qs(0.75) <= qs(0.9),
      s"quantiles must be monotone: $qs")
    println(s"sampleQuantiles(n_chars) -> $qs")

    println("== r8 drive: containment pairs, group centroids")
    val withSubset = docsAll.select("doc_id", "text").unionByName(
      docsAll.filter(col("doc_id") === 7)
        .select(lit(8000L).as("doc_id"),
          concat(col("text"), lit(" tail tokens beyond the source"))
            .as("text")))
    val contPairs = graft.ops.Dedup.containmentPairs(withSubset, "doc_id", "text", 3,
        minContainment = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    require(contPairs.get((7L, 8000L)).exists(_ >= 0.99),
      s"planted superset must contain doc 7: $contPairs")
    println(s"containmentPairs -> ${contPairs.size} directed pairs >= 0.9; planted containment found")

    val cents = graft.ops.Similarity.groupCentroids(embAll, "label", "embedding", 64)
      .collect()
    val nLabels = cents.map(_.getInt(0)).distinct.length
    require(cents.length == nLabels * 64, "one row per (label, dim)")
    println(s"groupCentroids -> $nLabels labels x 64 dims, flat rows OK")

    println("== r9 drive: duplicated-span removal, naive bayes classifier")
    val withBoiler = docsAll.select(col("doc_id"),
      when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" common legal footer apply terms conditions now")))
        .otherwise(col("text")).as("text"))
    val sRows = graft.ops.Dedup.stripRepeatedSpans(withBoiler, "doc_id", "text")
      .collect()
    val carriers = sRows.filter(_.getLong(0) % 5 == 0)
    require(carriers.nonEmpty && carriers.forall(_.getLong(2) >= 7L),
      "every planted footer carrier must lose at least the 7 footer tokens")
    val untouched = sRows.filter(r => r.getLong(0) % 5 != 0 && r.getLong(2) == 0L)
    val orig = docsAll.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    require(untouched.forall(r => r.getString(1) == orig(r.getLong(0))),
      "untouched docs must keep their text byte-identical")
    require(sRows.forall(r => !r.getString(1).toLowerCase
        .contains("common legal footer apply terms")),
      "no doc may retain the shared footer span")
    println(s"stripRepeatedSpans -> ${carriers.length} carriers cleaned, " +
      s"${untouched.length} docs untouched byte-identical")

    val nbPlanted = docsAll.select(col("doc_id"),
      when(col("doc_id") % 3 === 0,
        concat(col("text"), lit(" premium curated encyclopedic exemplar prose")))
        .otherwise(col("text")).as("text"))
    val nbTrain = nbPlanted.filter(col("doc_id") % 2 === 0)
      .withColumn("label", when(col("doc_id") % 3 === 0, 1L).otherwise(0L))
    val nbModel = graft.ops.Classifier.trainNaiveBayes(nbTrain, "label", "text", 2048)
    val nbOut = graft.ops.Classifier.scoreNaiveBayes(
        nbPlanted.filter(col("doc_id") % 2 === 1), nbModel, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val pos = nbOut.filter(_._1 % 3 == 0); val neg = nbOut.filter(_._1 % 3 != 0)
    val tpr = pos.count(_._2 == 1L).toDouble / pos.size
    val tnr = neg.count(_._2 == 0L).toDouble / neg.size
    require(tpr >= 0.9 && tnr >= 0.9,
      s"held-out planted signal must separate: tpr=$tpr tnr=$tnr")
    println(f"naive bayes -> held-out tpr=$tpr%.3f tnr=$tnr%.3f over ${nbOut.size} docs")

    val kj = graft.ops.Similarity.knnJoin(
        embAll.filter(col("vec_id") < 8), "vec_id", "embedding",
        embAll, "vec_id", "embedding", k = 3)
      .collect().groupBy(_.getLong(0))
    require(kj.size == 8 && kj.forall { case (q, rows) =>
      rows.sortBy(r => (-r.getDouble(2), r.getLong(1))).head.getLong(1) == q },
      "knnJoin: every query must rank itself first")
    println(s"knnJoin -> 8 queries x top-3, self-first everywhere")

    println("== r9 drive: embedding cross-dedup, batch ADC join, streamed token stats")
    val edCorpus = embAll.filter(col("vec_id") >= 100)
    val edCb = edCorpus.select(col("vec_id"), col("embedding"))
      .orderBy("vec_id").limit(8).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    val edPath = java.nio.file.Files.createTempDirectory("drive-ed").toString + "/ivf"
    graft.ops.Similarity.buildIvfIndex(edCorpus, "vec_id", "embedding", edCb, edPath)
    val edBatch = embAll.filter(col("vec_id") < 10).select("vec_id", "embedding")
      .unionByName(edCorpus.filter(col("vec_id") < 105)
        .select((col("vec_id") + 80000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(3.0f)).as("embedding")))
    val edOut = graft.ops.Similarity.embeddingDedupAgainstIndex(
        spark, edPath, edBatch, "vec_id", "embedding", 0.99, 4)
      .collect().map(_.getLong(0)).toSet
    require(edOut.forall(_ < 80000L) && edOut.nonEmpty,
      s"every 3x corpus copy must drop: $edOut")
    println(s"embeddingDedupAgainstIndex -> ${edOut.size}/15 survive; all 5 scaled copies dropped")

    val pqCoarse = embAll.orderBy("vec_id").limit(8)
      .collect().map(_.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    val pqCbs2 = graft.ops.Quantize.pqCodebooks(embAll, "vec_id", "embedding",
      m = 8, ksub = 16, iters = 0)
    val pqPath = java.nio.file.Files.createTempDirectory("drive-pq").toString + "/ipq"
    graft.ops.Quantize.buildIvfPqIndex(embAll, "vec_id", "embedding",
      pqCoarse, pqCbs2, pqPath)
    val pqJoin = graft.ops.Quantize.ivfPqKnnJoin(spark, pqPath,
        embAll.filter(col("vec_id") < 6), "vec_id", "embedding", k = 3, nprobe = 3)
      .collect().groupBy(_.getLong(0))
    require(pqJoin.size == 6 && pqJoin.forall { case (q, rows) =>
      rows.sortBy(r => (-r.getDouble(2), r.getLong(1))).head.getLong(1) == q },
      "ADC batch join: every query must rank itself first (score 1.0 vs own codes)")
    println("ivfPqKnnJoin -> 6 queries x top-3 over compressed codes, self-first everywhere")

    // BPE tokenizer: incremental trainer on REAL documents, vocab + ids,
    // v2 model save/load
    println("== BPE: train 200 merges on sf0.001 documents (incremental trainer)")
    val bdocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val t0 = System.nanoTime()
    val bm = graft.ops.Bpe.learnBpe(bdocs, "text", nMerges = 200)
    println(f"-> learned ${bm.merges.length} merges in ${(System.nanoTime()-t0)/1e9}%.2f s, " +
      s"vocab=${bm.vocab.size} covered=${bm.coveredMass}/${bm.totalMass}")
    println(s"-> first merges: ${bm.merges.take(8)}")
    require(bm.vocab.take(5).forall(_.length == 1) &&
      bm.vocab.contains(bm.merges.head._1 + bm.merges.head._2),
      "vocab must lead with base symbols and contain merge products")
    val bIds = graft.ops.Bpe.encodeIds(bdocs.limit(50), "doc_id", "text", bm)
    val bToks = graft.ops.Bpe.encode(bdocs.limit(50), "doc_id", "text", bm.merges)
    val idRows = bIds.orderBy("doc_id").collect()
    val tokRows = bToks.orderBy("doc_id").collect()
    idRows.zip(tokRows).foreach { case (ir, tr) =>
      val dec = ir.getSeq[Long](1).map(x => bm.vocab(x.toInt))
      require(dec == tr.getSeq[String](1), s"id decode mismatch doc ${ir.getLong(0)}")
    }
    println(s"-> encodeIds decode == encode tokens on 50 real docs " +
      s"(${idRows.map(_.getSeq[Long](1).size).sum} tokens, zero OOV: " +
      s"${idRows.forall(!_.getSeq[Long](1).contains(-1L))})")
    val bmPath = java.nio.file.Files.createTempDirectory("drive-bpe").toString + "/model"
    graft.ops.Bpe.saveBpeModel(spark, bm, bmPath)
    require(graft.ops.Bpe.loadBpeModel(spark, bmPath) == bm, "v2 round trip")
    println(s"-> v2 model (merges+vocab parquet) round-tripped at $bmPath")

    // decodeIds (library surface, not the hand-rolled vocab lookup
    // above) and model-token chunking on the REAL corpus under the
    // just-trained model
    println("== BPE decode + chunkByTokenBudget on real docs (trained model)")
    val bDec = graft.ops.Bpe.decodeIds(bIds, "doc_id", "token_ids", bm)
      .orderBy("doc_id").collect()
    bDec.zip(tokRows).foreach { case (d, t) =>
      require(d.getSeq[String](1) == t.getSeq[String](1),
        s"decodeIds mismatch doc ${d.getLong(0)}")
    }
    println(s"-> decodeIds == encode tokens on ${bDec.length} real docs")
    val bChunks = graft.ops.Bpe.chunkByTokenBudget(
      bdocs, "doc_id", "text", bm.merges, budget = 48L)
    val chunkRows = bChunks.collect()
    val perDocTok = tokRows
      .map(r => r.getLong(0) -> r.getSeq[String](1).length.toLong).toMap
    val byDoc = chunkRows.groupBy(_.getLong(0))
    byDoc.filter { case (id, _) => perDocTok.contains(id) }
      .foreach { case (id, rows) =>
        require(rows.map(_.getLong(3)).sum == perDocTok(id),
          s"chunk token counts don't sum to the doc's encode count: doc $id")
        rows.foreach { r =>
          require(r.getLong(3) <= 48L || !r.getString(2).contains(" "),
            s"over-budget multi-word chunk in doc $id: ${r.getString(2)}")
        }
      }
    println(s"-> ${chunkRows.length} chunks over ${byDoc.size} docs, " +
      s"max n_tokens=${chunkRows.map(_.getLong(3)).max}, " +
      "every doc's chunk counts sum to its encode count, no over-budget multi-word chunk")

    println("== r13 drive: byte-fallback BPE (total encoding), model card, sep budgets")
    import spark.implicits._
    // train WITH fallback + specials on the real corpus, then encode
    // post-training text containing scripts the corpus never saw
    val fbm = graft.ops.Bpe.learnBpe(bdocs, "text", nMerges = 200,
      byteFallback = true, specials = Seq("<eos>", "<pad>"))
    require(fbm.vocab.take(2) == Seq("<eos>", "<pad>") &&
      fbm.vocab.slice(2, 258) == graft.functions.ByteTokens.all,
      "fallback vocab layout")
    val oovDocs = Seq((1L, "Hello Λόγος"), (2L, "日本語 mixed 💩"), (3L, "ça va"))
      .toDF("doc_id", "text")
    val fbIds = graft.ops.Bpe.encodeIds(oovDocs, "doc_id", "text", fbm)
      .orderBy("doc_id").collect()
    require(fbIds.forall(_.getSeq[Long](1).forall(_ >= 0L)),
      "fallback must never emit -1")
    val fbText = oovDocs.select($"doc_id", $"text",
        graft.ops.Bpe.decodeTextCol(
          graft.ops.Bpe.encodeIdsCol($"text", fbm), fbm).as("rt"))
      .orderBy("doc_id").collect()
    fbText.foreach { r =>
      val expect = r.getString(1).toLowerCase.split("\\s+")
        .filter(_.nonEmpty).mkString("")
      require(r.getString(2) == expect, s"round-trip: ${r.getString(2)} != $expect")
    }
    println(s"-> byte fallback: ${fbIds.map(_.getSeq[Long](1).length).sum} ids " +
      "over unseen-script docs, zero -1, decodeText round-trips every one")
    // model card + content fingerprint persist beside merges/vocab
    val fbPath = java.nio.file.Files.createTempDirectory("drive-bpe").toString + "/m"
    graft.ops.Bpe.saveBpeModel(spark, fbm, fbPath)
    val fbLoaded = graft.ops.Bpe.loadBpeModel(spark, fbPath)
    require(fbLoaded == fbm, "save/load round-trip with flags + stats")
    val card = spark.read.parquet(s"$fbPath/card").collect()(0)
    require(card.getAs[String]("fingerprint") == graft.ops.Bpe.fingerprint(fbm))
    println(f"-> model card: vocab=${card.getAs[Long]("vocab_size")} " +
      f"alphabet=${card.getAs[Long]("alphabet_size")} " +
      f"bytes/token=${card.getAs[Double]("bytes_per_token_covered")}%.2f " +
      f"fp=${card.getAs[String]("fingerprint").take(12)}…")
    // separator budgets: chunk reserves headroom, pack charges per doc
    val sepChunks = graft.ops.Bpe.chunkByTokenBudget(
      bdocs, "doc_id", "text", bm.merges, budget = 48L, sepCost = 2L).collect()
    require(sepChunks.forall(_.getLong(3) + 2L <= 48L), "chunk headroom")
    println(s"-> sepCost chunking: ${sepChunks.length} chunks, all n_tokens+2 <= 48")

    println("== r13 drive: tokenize-on-ingest stamps the model fingerprint")
    val stDir = java.nio.file.Files.createTempDirectory("drive-ingest").toString
    val stI = graft.store.HDFStore.open(spark, stDir + "/store",
      graft.store.StoreMode.Overwrite)
    val ingDocs = bdocs.filter($"doc_id" < 20).select($"doc_id", $"text")
    stI.put("landed", ingDocs.limit(0).withColumn("token_ids",
      graft.ops.Bpe.encodeIdsCol($"text", fbLoaded)))
    val tiIdx = stDir + "/ti"
    // the sink APPENDS into a live index — build the base tree first
    graft.ops.TextIndex.buildTextIndex(
      bdocs.filter($"doc_id" >= 480).select($"doc_id", $"text"),
      "doc_id", "text", tiIdx, nBuckets = 16)
    val inDir = new java.io.File(stDir, "in"); inDir.mkdirs()
    ingDocs.coalesce(1).write.mode("overwrite").parquet(stDir + "/stage")
    new java.io.File(stDir + "/stage").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .foreach(f => java.nio.file.Files.move(f.toPath,
        new java.io.File(inDir, "b0.parquet").toPath))
    graft.streaming.EventStream.textIndexIngestSink(
      spark.readStream.schema(ingDocs.schema).parquet(inDir.toString),
      stI, "landed", stDir + "/ckpt", tiIdx, "doc_id", "text",
      bpeModelPath = Some(fbPath)).awaitTermination()
    val landed = stI.table("landed").df.select("doc_id", "token_ids").collect()
    require(landed.length == 20 &&
      landed.forall(_.getSeq[Long](1).forall(_ >= 0L)), "landed pre-tokenized")
    require(stI.attr("landed", "bpeModelFp") ==
      Some(graft.store.AttrValue.Str(graft.ops.Bpe.fingerprint(fbm))),
      "fingerprint stamp")
    println(s"-> ${landed.length} docs landed with token_ids; " +
      "table stamped with the model's content fingerprint")

    println("== r13 drive: bounded top-k re-rank (ivfPqKnnJoinRefined on real embeddings)")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val embCb = graft.ops.Similarity.kmeansCodebook(emb, "vec_id", "embedding", 4, 1)
    val embPq = graft.ops.Quantize.pqCodebooks(emb, "vec_id", "embedding", 8, 16, 1)
    val ipqD = java.nio.file.Files.createTempDirectory("drive-ipq").toString
    graft.ops.Quantize.buildIvfPqIndex(emb, "vec_id", "embedding", embCb, embPq, ipqD)
    val rq = emb.filter($"vec_id" < 10)
    val refined = graft.ops.Quantize.ivfPqKnnJoinRefined(spark, ipqD,
      rq, "vec_id", "embedding", emb, "vec_id", "embedding",
      k = 3, r = 20, nprobe = 4)
    val refRows = refined.collect()
    require(refRows.length == 30, s"10 queries x top-3, got ${refRows.length}")
    val selfTop = rq.select("vec_id").collect().map(_.getLong(0)).forall { q =>
      refRows.filter(_.getLong(0) == q)
        .maxBy(_.getDouble(2)).getLong(1) == q
    }
    require(selfTop, "every corpus-member query must re-rank itself to the top")
    val refPlan = refined.queryExecution.executedPlan.toString
    require(refPlan.contains("ObjectHashAggregate") ||
      refPlan.contains("SortAggregate"), s"bounded top-k not in plan:\n$refPlan")
    require(!refPlan.contains("RunningWindowFunction") &&
      !refPlan.contains("WindowExec"), "rank window still in the re-rank plan")
    println(s"-> refined batch re-rank: 10x top-3 exact-cosine, self-first, " +
      "per-query cut is the bounded aggregate (no window sort)")

    println("== r13 drive: bounded cuts in batch BM25 and bottom-k-per-group")
    val bmQ = Seq("data processing", "training corpus", "quality score")
    val bmOut = graft.ops.TextIndex.searchBM25Batch(spark, tiIdx, bmQ, 5)
    val bmPlan = bmOut.queryExecution.executedPlan.toString
    require(!bmPlan.contains("WindowExec"),
      s"rank window still in the bm25 batch plan:\n$bmPlan")
    val bmRows = bmOut.collect()
    val byQ = bmRows.groupBy(_.getLong(0))
    require(byQ.keySet.subsetOf(Set(0L, 1L, 2L)) && byQ.values.forall { rs =>
      rs.length <= 5 &&
        rs.map(_.getDouble(2)).sliding(2).forall(p => p.length < 2 || p(0) >= p(1))
    }, "per-query <= k, scores descending within each query")
    val bmSingle = graft.ops.TextIndex.searchIndexBM25(
        spark, tiIdx, bmQ.head, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    require(bmRows.filter(_.getLong(0) == 0L)
        .map(r => (r.getLong(1), r.getDouble(2))).toSeq == bmSingle.toSeq,
      "batch query 0 must equal the single-query probe exactly")
    println(s"-> bm25 batch: ${bmRows.length} rows over ${byQ.size} queries, " +
      "== single-query probe, no window in the plan")

    val pgDf = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"source", $"text")
    val pg = graft.ops.Sample.bottomKPerGroup(pgDf, "source", "doc_id", 7)
    val pgRows = pg.collect()
    require(pgRows.forall(_.schema.fieldNames.sameElements(
      Array("doc_id", "source", "text"))), "input column order preserved")
    val pgBySrc = pgRows.groupBy(_.getString(1))
    require(pgBySrc.values.forall(_.length <= 7), "at most k per source")
    pgBySrc.keys.foreach { s =>
      val direct = graft.ops.Sample.bottomK(
          pgDf.filter($"source" === s), "doc_id", 7)
        .collect().map(_.getLong(0)).toSet
      require(pgBySrc(s).map(_.getLong(0)).toSet == direct,
        s"per-group picks for '$s' must equal bottomK on that slice")
    }
    println(s"-> bottomKPerGroup: ${pgRows.length} docs over " +
      s"${pgBySrc.size} sources, slice-exact under the threshold cut")

    println("== r13 drive: epoch mixing + budgeted selection on real docs")
    val mixW = Map("src0" -> 2.5, "src1" -> 0.4)
    val mixed = graft.ops.Sample.repeatByWeight(
        pgDf.select($"doc_id", $"source"), "source", "doc_id", mixW)
      .collect()
    val mixBySrc = mixed.groupBy(_.getString(1))
      .view.mapValues(_.length).toMap
    val srcCounts = pgDf.groupBy($"source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    require(mixBySrc.keySet == Set("src0", "src1"), "unlisted sources drop")
    require(mixBySrc("src0") >= 2 * srcCounts("src0") &&
      mixBySrc("src0") <= 3 * srcCounts("src0"),
      s"src0 x2.5: ${mixBySrc("src0")} of ${srcCounts("src0")} docs")
    require(mixBySrc("src1") <= srcCounts("src1"),
      s"src1 x0.4 must downsample: ${mixBySrc("src1")} of ${srcCounts("src1")}")
    println(s"-> repeatByWeight: src0 ${srcCounts("src0")} docs -> " +
      s"${mixBySrc("src0")} rows (x2.5), src1 ${srcCounts("src1")} -> " +
      s"${mixBySrc("src1")} (x0.4), others dropped")

    val selIn = pgDf.select($"doc_id", $"source",
      length($"text").cast("long").as("score"),
      size(split(lower($"text"), "\\s+")).cast("long").as("n_tok"))
    val selOut = graft.ops.Sample.selectByBudget(
        selIn, "source", "doc_id", "score", "n_tok", 120L)
      .collect()
    val selBySrc = selOut.groupBy(_.getString(1))
    require(selBySrc.values.forall { rs =>
      val max = rs.map(_.getLong(4)).max
      max <= 120L && rs.map(_.getLong(5)).sorted.sameElements(1L to rs.length)
    }, "every source's selection fits the budget with dense ranks")
    println(s"-> selectByBudget: ${selOut.length} docs selected over " +
      s"${selBySrc.size} sources, every cum_tokens <= 120")

    println("== r14 drive: bounded budget pre-cut, saved card, global shuffle, copy_id")
    // the pre-cut pass must be in selectByBudget's plan, and the result
    // above already proved the prefix law — assert the plan shape here
    val selPlan = graft.ops.Sample.selectByBudget(
      selIn, "source", "doc_id", "score", "n_tok", 120L)
      .queryExecution.executedPlan.toString
    require(selPlan.contains("score_mass_threshold"),
      "selectByBudget lost its bounded threshold pre-cut")
    println("-> selectByBudget plan carries the score_mass_threshold pre-cut")
    // persisted model card read back and checked against the model value
    val cardModel = graft.ops.Bpe.learnBpe(pgDf.select($"doc_id", $"text"),
      "text", nMerges = 8)
    val cardPath = java.nio.file.Files.createTempDirectory("drive-card").toString + "/m"
    graft.ops.Bpe.saveBpeModel(spark, cardModel, cardPath)
    val cardRow = spark.read.parquet(s"$cardPath/card").collect()(0)
    require(cardRow.getAs[Long]("n_merges") == cardModel.merges.length.toLong &&
      cardRow.getAs[Long]("vocab_size") == cardModel.vocab.length.toLong &&
      cardRow.getAs[String]("fingerprint") == graft.ops.Bpe.fingerprint(cardModel),
      "persisted card disagrees with the model it was saved beside")
    println(s"-> model card round-trip: ${cardRow.getAs[Long]("n_merges")} merges, " +
      s"vocab ${cardRow.getAs[Long]("vocab_size")}, fingerprint verified")
    // deterministic global shuffle over real docs: dense permutation
    val shuf = graft.ops.Sample.shuffleRank(
        pgDf.select($"doc_id"), "doc_id", salt = "drive")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    require(shuf.values.toSet == (0L until shuf.size.toLong).toSet,
      "shuffle positions are not a dense permutation")
    println(s"-> shuffleRank: ${shuf.size} docs permuted densely, " +
      s"doc 0 at position ${shuf(0L)}")
    // recipe copy keys: library copy_id is collision-free where the
    // hand-rolled numeric key would collide
    val heavy = graft.ops.Sample.repeatByWeight(
      pgDf.select($"doc_id", $"source"), "source", "doc_id",
      Map("src0" -> 9.5), defaultWeight = 0.0)
    require(heavy.select("copy_id").distinct().count() == heavy.count(),
      "copy_id collided")
    println(s"-> repeatByWeight x9.5: ${heavy.count()} copies, copy_id collision-free")

    println("== r15 drive: physical shard writer end-to-end on real docs")
    val shardPath = java.nio.file.Files
      .createTempDirectory("drive-shards").toString + "/tree"
    graft.ops.ShardWriter.writeShardRecipe(selIn, "source", "doc_id",
      "score", "n_tok", budget = 120L, numShards = 4, path = shardPath,
      salt = "drive", buckets = 8, maxRowsPerFile = 8L)
    val manifest = graft.ops.ShardWriter.loadManifest(spark, shardPath)
    val written = graft.ops.ShardWriter.readShards(spark, shardPath)
    val nWritten = written.count()
    require(nWritten == manifest.agg(sum("n_docs")).head().getLong(0),
      "manifest row count disagrees with the tree")
    require(written.select("doc_id").distinct().count() == nWritten &&
      written.select("shuffle_pos").collect().map(_.getLong(0)).toSet ==
        (0L until nWritten).toSet,
      "written tree is not the dense permutation")
    require(graft.ops.ShardWriter.loadIdentity(spark, shardPath) ==
      (("drive", 8, 4, 120L)), "identity not recorded")
    val refused = try {
      graft.ops.ShardWriter.writeShardRecipe(selIn, "source", "doc_id",
        "score", "n_tok", budget = 120L, numShards = 4, path = shardPath,
        salt = "other", buckets = 8, maxRowsPerFile = 8L); false
    } catch { case e: IllegalArgumentException =>
      e.getMessage.contains("identity") }
    require(refused, "identity drift was not refused")
    val audit = graft.ops.ShardWriter.verifyShards(spark, shardPath).head()
    require(audit.getAs[Boolean]("ok") &&
      audit.getAs[Long]("n_docs") == nWritten,
      s"published tree failed its own audit: $audit")
    val s0files = graft.ops.ShardWriter.shardFilesInOrder(spark, shardPath, 0L)
    require(s0files.nonEmpty, "no consumer file list for shard 0")
    println(s"-> shard writer: $nWritten docs in 4 shards / " +
      s"${manifest.count()} files, manifest verified, audit ok, " +
      s"identity guarded")

    println("== r16 drive: epoch lineage + resumeFrom on real docs")
    val epochRoot = java.nio.file.Files
      .createTempDirectory("drive-epochs").toString + "/corpus"
    def publishEpoch(budget: Long): Int = {
      val sel = graft.ops.Sample.selectByBudget(selIn, "source", "doc_id",
        "score", "n_tok", budget).drop("cum_tokens", "sel_rank")
      graft.ops.ShardWriter.writeShardEpoch(
        graft.ops.Sample.shuffleRank(sel, "doc_id", "drive", 8),
        "doc_id", "n_tok", 4, epochRoot, salt = "drive", buckets = 8,
        budget = budget, maxRowsPerFile = 8L)
    }
    require(publishEpoch(120L) == 0 && publishEpoch(200L) == 1,
      "epochs did not land in publish order")
    require(graft.ops.ShardWriter.listEpochs(spark, epochRoot) == Seq(0, 1))
    val ep0 = graft.ops.ShardWriter.readShardEpoch(spark, epochRoot, 0)
    val ep1 = graft.ops.ShardWriter.readShardEpoch(spark, epochRoot, 1)
    require(ep0.count() < ep1.count(),
      "grown budget did not grow the selection")
    // pinned epoch 0 is byte-stable across the epoch-1 publish
    require(ep0.select("doc_id", "shuffle_pos").collect().toSet ==
      written.select("doc_id", "shuffle_pos").collect().toSet,
      "epoch 0 drifted after a later publish")
    val retired = try { publishEpoch(120L); false }
      catch { case e: IllegalArgumentException =>
        e.getMessage.contains("RETIRED") }
    require(retired, "retired identity was not refused")
    val (ep0n, ep1n) = (ep0.count(), ep1.count())
    val resume = graft.ops.ShardWriter.resumeFrom(spark,
      graft.ops.ShardWriter.epochPath(epochRoot, 1), step = 2L,
      batchSize = ep1n / 4L)
    require(resume.count() == ep1n - 2L * (ep1n / 4L) &&
      resume.agg(min("shuffle_pos")).head().getLong(0) == 2L * (ep1n / 4L),
      "resume tail is not the exact suffix of the permutation")
    require(graft.ops.ShardWriter
      .pruneEpochsBefore(spark, epochRoot, 1) == Seq(0))
    require(graft.ops.ShardWriter.listEpochs(spark, epochRoot) == Seq(1))
    println(s"-> epochs: 120-token epoch 0 ($ep0n docs) grown to " +
      s"200-token epoch 1 ($ep1n docs), pinned read stable, retired " +
      "identity refused, resume tail exact, epoch 0 pruned")

    println("== r16 drive: token-stream windows on real docs -> tokenized shards")
    // real documents, whitespace tokens, doc-boundary EOS separator
    // appended upstream (the caller's dial the scaladoc documents),
    // 48-token contexts, then the windows written as a shard epoch
    val twDocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        concat(graft.ops.TextStats.tokens(col("text")),
          array(lit("<eos>"))).as("ts"))
    val twPos = graft.ops.Sample.shuffleRank(twDocs, "doc_id", "drive-tw", 8)
    val wins = graft.ops.TokenStream.sliceWindows(twPos, "shuffle_pos",
      "ts", ctxLen = 48, blocks = 8)
    val nWins = wins.count()
    val totToks = twPos.agg(sum(size(col("ts")))).head().getLong(0)
    require(nWins == totToks / 48L,
      s"expected ${totToks / 48L} full windows, got $nWins")
    require(wins.filter(col("n_tok") =!= 48L).count() == 0L)
    // every window's spans tile [0, 48) and separators land in-slot
    val sp0 = wins.orderBy("window_id").select("doc_spans").head()
      .getSeq[org.apache.spark.sql.Row](0)
    require(sp0.head.getAs[Long]("start") == 0L &&
      sp0.map(_.getAs[Long]("len")).sum == 48L, s"span tiling broke: $sp0")
    val tokRoot = java.nio.file.Files
      .createTempDirectory("drive-tokshard").toString + "/tree"
    graft.ops.ShardWriter.writeShards(
      wins.withColumn("shuffle_pos", col("window_id")),
      "window_id", "n_tok", numShards = 4, path = tokRoot,
      salt = "drive-tw", buckets = 8, budget = 48L, maxRowsPerFile = 16L)
    val manTok = graft.ops.ShardWriter.loadManifest(spark, tokRoot)
    require(manTok.agg(sum("n_docs")).head().getLong(0) == nWins &&
      manTok.agg(sum("n_tokens")).head().getLong(0) == nWins * 48L,
      "tokenized tree manifest totals wrong")
    val back = graft.ops.ShardWriter.readShards(spark, tokRoot)
    require(back.count() == nWins &&
      back.filter(size(col("tokens")) =!= 48).count() == 0L,
      "read-back windows are not 48-token sequences")
    println(s"-> $nWins windows of 48 (of $totToks tokens incl. <eos>), " +
      s"written as ${manTok.count()} files / 4 shards, payload read back")

    println("== r16 drive: temperature mixing on real sources")
    val tDocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), coalesce(col("source"), lit("?")).as("source"))
    val nDocs = tDocs.count()
    val tmixed = graft.ops.Sample.sampleByTemperature(tDocs, "source",
      "doc_id", alpha = 0.5, budgetDocs = nDocs * 2)
    val byDom = tmixed.groupBy("source").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val natural = tDocs.groupBy("source").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    // expected-multiplicity law: realized total near 2x corpus, and
    // smaller domains get weakly HIGHER per-doc multiplicity
    val total = byDom.values.sum
    require(math.abs(total - 2L * nDocs) <= nDocs / 2L,
      s"temperature output $total far from budget ${2L * nDocs}")
    val mult = natural.toSeq.map { case (d, c) =>
      (c, byDom.getOrElse(d, 0L).toDouble / c) }.sortBy(_._1)
    require(mult.head._2 >= mult.last._2 - 0.75,
      s"small domains under-sampled vs large: $mult")
    println(s"-> ${natural.size} sources, natural ${natural.values.sum} " +
      s"docs -> $total mixed copies (per-domain multiplicities " +
      s"${mult.map(m => f"${m._2}%.2f").mkString(", ")})")

    println("== r16 drive: window accounting + corpus governance report")
    val wstats = graft.ops.TokenStream.windowStats(twPos, "shuffle_pos",
      "ts", ctxLen = 48, blocks = 8).head()
    require(wstats.getAs[Long]("n_full") == nWins &&
      wstats.getAs[Long]("n_tokens") == totToks,
      s"windowStats disagrees with the sliced stream: $wstats")
    val report = graft.ops.TextStats.corpusReport(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("source"), col("text")), "source", "text")
      .orderBy("source").collect()
    require(report.nonEmpty &&
      report.forall(_.getAs[Long]("n_docs") > 0L) &&
      report.forall(r => r.getAs[Long]("n_dup_docs") >= 0L &&
        r.getAs[Long]("n_dup_docs") < r.getAs[Long]("n_docs")),
      "corpus report malformed")
    println(s"-> windowStats: ${wstats.getAs[Long]("n_windows")} windows " +
      s"(${wstats.getAs[Long]("n_full")} full, " +
      s"${wstats.getAs[Long]("n_tokens")} tokens); corpus report over " +
      s"${report.length} sources, top langs " +
      report.map(_.getAs[String]("top_lang")).distinct.mkString("/"))

    println("== r17 drive: filtered vector search + the mixing card")
    val emb17 = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q17 = emb17.filter(col("vec_id") === 0).select("embedding")
      .collect()(0).getSeq[Float](0)
    val cb17 = graft.ops.Similarity.kmeansCodebook(emb17, "vec_id",
      "embedding", k = 4, iters = 1)
    val fidx = java.nio.file.Files.createTempDirectory("drive-filt")
      .toString + "/ivf"
    graft.ops.Similarity.buildIvfIndex(emb17, "vec_id", "embedding", cb17, fidx)
    val filt = graft.ops.Similarity.ivfTopKIndexedFiltered(spark, fidx,
      q17, 5, nprobe = 2, allowed = emb17.filter(col("vec_id") % 3 === 1),
      allowedIdCol = "vec_id").collect()
    require(filt.nonEmpty && filt.forall(_.getLong(0) % 3 == 1),
      s"filtered probe returned a disallowed id: ${filt.mkString(",")}")
    val escal = graft.ops.Similarity.ivfTopKIndexedFiltered(spark, fidx,
      q17, 5, nprobe = 1, allowed = emb17.filter(col("vec_id") % 17 === 3),
      allowedIdCol = "vec_id", minSurvivors = 50).collect()
    require(escal.forall(_.getLong(0) % 17 == 3), "escalated probe leaked")
    val docs17 = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("source"),
        size(graft.ops.TextStats.tokens(col("text"))).cast("long").as("n_tok"))
    val mixCard = graft.ops.Sample.temperaturePlanTokens(docs17, "source",
      "doc_id", "n_tok", alpha = 0.5, budgetTokens = 50000L).collect()
    require(mixCard.nonEmpty && mixCard.forall(_.getAs[Long]("over_cap") == 0L),
      "token mixing card malformed")
    val planned = mixCard.map(_.getAs[Long]("expected_out")).sum
    require(planned <= 50000L && planned > 50000L - mixCard.length - 1,
      s"card expected_out mass $planned off the 50k token budget")
    println(s"-> filtered top-5 ${filt.map(_.getLong(0)).mkString(",")}; " +
      s"escalated ${escal.length} hits; token card ${mixCard.length} domains, " +
      s"planned $planned/50000 tokens")

    println("== r17 drive: corpus ingestion + window decontamination")
    val rawDocs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text", "source")
    val dumpDir = java.nio.file.Files.createTempDirectory("drive-ing")
      .toString + "/dump"
    graft.sources.CorpusIngest.writeJsonl(rawDocs, dumpDir)
    val ingested = graft.sources.CorpusIngest.readJsonl(spark, dumpDir,
      idField = Some("doc_id"), sourceField = Some("source"))
    require(ingested.count() == rawDocs.count() &&
      ingested.join(rawDocs, Seq("doc_id", "text", "source"), "left_anti")
        .count() == 0L, "jsonl round trip lost or mutated rows")
    val dtoks = rawDocs.select(col("doc_id"),
      graft.ops.TextStats.tokens(col("text")).as("ts"))
    val dpos = graft.ops.Sample.shuffleRank(dtoks, "doc_id", "dc", 8)
    val dwins = graft.ops.TokenStream.sliceWindows(dpos, "shuffle_pos",
      "ts", ctxLen = 48, blocks = 8, dropPartial = false)
    val contam = graft.ops.Contamination.tokenNgramOverlap(
      dwins, "window_id", "tokens",
      rawDocs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("bid"),
          graft.ops.TextStats.tokens(col("text")).as("bts")),
      "bid", "bts", n = 5, minShared = 2L).collect()
    require(contam.nonEmpty, "benchmark docs drawn from the corpus must " +
      "contaminate at least one window")
    println(s"-> ingested ${ingested.count()} docs via jsonl; " +
      s"${contam.length} (window, bench) contamination pairs at 5-gram/2+")

    println("== r17 drive: per-domain quantile selection (top 25% by score)")
    val qbase = rawDocs.select(col("doc_id"),
      coalesce(col("source"), lit("")).as("source"),
      length(col("text")).cast("long").as("n_chars"))
    val qsel = graft.ops.Sample.selectByFraction(qbase, "source", "doc_id",
      "n_chars", keepPpm = 250000L).collect()
    val perSrc = qbase.groupBy("source").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val keptBySrc = qsel.groupBy(_.getString(1)).map { case (src, rs) =>
      (src, rs.length.toLong) }
    keptBySrc.foreach { case (src, kept) =>
      require(kept == perSrc(src) * 250000L / 1000000L,
        s"source $src kept $kept of ${perSrc(src)} — not the exact 25% floor")
    }
    println(s"-> quantile cut kept ${qsel.length} of ${qbase.count()} docs " +
      s"across ${keptBySrc.size} sources, each exactly floor(count/4)")

    spark.stop()
    println("== drive done")
  }
}
