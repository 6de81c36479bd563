package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.native

/**
 * Benchmark-contamination detection — the decontamination step of a
 * training-data pipeline: find corpus documents that share word n-grams
 * with any document of an evaluation/benchmark set, so they can be
 * dropped before training (the classic n-gram-overlap rule used for
 * held-out benchmark hygiene).
 *
 * Scale shape: the benchmark side is small (benchmarks are MBs; the
 * corpus is the 100 TB side), so its exploded (bench_id, hash) index is
 * `broadcast()` — the corpus side never shuffles: per-row shingle
 * hashing (native [[graft.functions.ShingleHash60]] kernel, whole-stage
 * codegen), explode, broadcast-hash-join on the 8-byte hash, and a
 * partial-aggregated count per (doc, bench) pair. Document text never
 * leaves its scan partition.
 *
 * Cross-engine determinism: shingle hashes are the portable md5-based
 * [[TextStats.hash60]]; the output is integer counts only (no float
 * ratios), so the DuckDB oracle is hash-exact.
 */
object Contamination {

  // shingle_hash60 already returns sorted DISTINCT hashes (set semantics)
  private def shingled(df: DataFrame, id: String, text: String, n: Int) =
    df.select(col(id),
      native.shingle_hash60(TextStats.tokens(col(text)), n).as("hs"))

  // both sides are per-doc distinct, so count(*) = |intersection|
  private def joinAndCount(c: DataFrame, b: DataFrame, minShared: Long) =
    c.join(broadcast(b), "h")
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("shared"), max(col("n_sh")).as("n_sh"))
      .filter(col("shared") >= minShared)

  /** Per (corpus doc, benchmark doc) n-gram overlap: distinct shared
    * n-gram hashes (`shared`) and the corpus doc's distinct n-gram count
    * (`n_sh`), for rows with `shared >= minShared`. Output columns:
    * `doc_id`, `bench_id`, `shared`, `n_sh`. */
  def ngramOverlap(corpus: DataFrame, idCol: String, textCol: String,
                   bench: DataFrame, benchIdCol: String, benchTextCol: String,
                   n: Int = 3, minShared: Long = 1L): DataFrame = {
    val c = shingled(corpus, idCol, textCol, n)
      .select(col(idCol).as("doc_id"), size(col("hs")).cast("long").as("n_sh"),
        explode(col("hs")).as("h"))
    val b = shingled(bench, benchIdCol, benchTextCol, n)
      .select(col(benchIdCol).as("bench_id"), explode(col("hs")).as("h"))
    joinAndCount(c, b, minShared)
  }

  /** [[ngramOverlap]] in TOKEN space — decontamination applied to the
    * FINAL training artifact rather than the source documents: rows
    * carrying token arrays (context windows from
    * [[TokenStream.sliceWindows]], packs, or any tokenized relation)
    * are checked for n-gram overlap against a benchmark tokenized with
    * the SAME tokenizer. Checking the windows catches what the
    * document-level check structurally cannot: a contaminated span
    * that survived upstream filtering inside an otherwise-clean
    * document mix, and gives the trainer-facing answer — WHICH windows
    * to drop — without re-deriving the doc→window mapping. Token
    * elements of any atomic type are accepted (ids or strings); each
    * is canonicalized by its string form, so corpus and benchmark must
    * share the tokenizer (that is the point).
    *
    * Output and semantics are [[ngramOverlap]]'s (`doc_id` = the
    * window/row id, distinct-gram set intersection counts, rows with
    * `shared >= minShared`); scale shape identical — broadcast bench
    * index, token arrays hashed per-row in the scan and never
    * shuffled. */
  def tokenNgramOverlap(windows: DataFrame, idCol: String, tokensCol: String,
                        bench: DataFrame, benchIdCol: String,
                        benchTokensCol: String,
                        n: Int = 8, minShared: Long = 1L): DataFrame = {
    def grams(df: DataFrame, id: String, toks: String) =
      df.select(col(id),
        native.shingle_hash60(
          transform(col(toks), x => x.cast("string")), n).as("hs"))
    val c = grams(windows, idCol, tokensCol)
      .select(col(idCol).as("doc_id"), size(col("hs")).cast("long").as("n_sh"),
        explode(col("hs")).as("h"))
    val b = grams(bench, benchIdCol, benchTokensCol)
      .select(col(benchIdCol).as("bench_id"), explode(col("hs")).as("h"))
    joinAndCount(c, b, minShared)
  }

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftx.Bridge
  import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}

  private def bloomAgg(h: Column, items: Long, bits: Long): Column =
    Bridge.column(new org.apache.spark.sql.catalyst.expressions.aggregate
      .BloomFilterAggregate(Bridge.expression(h), Literal(items), Literal(bits))
      .toAggregateExpression())

  private def mightContain(bloom: Column, h: Column): Column =
    Bridge.column(BloomFilterMightContain(Bridge.expression(bloom),
      Bridge.expression(h)))

  /** [[ngramOverlap]] behind a BLOOM PREFILTER on the corpus side — the
    * decontamination shape that holds at 100 TB. The benchmark's distinct
    * n-gram hashes fold into ONE Bloom filter (an engine-side aggregate;
    * the driver holds only the filter bytes — `fpp` 1% over 2^20 grams
    * ≈ 1.2 MB), and a corpus document whose shingles ALL miss the filter
    * — the overwhelming majority of a clean corpus — is dropped BEFORE
    * the explode, so the (doc, hash) inverted index is built only for
    * suspicious documents. A Bloom filter has NO false negatives, so the
    * result is row-identical to [[ngramOverlap]] (the gate runs both
    * against the same oracle); a false positive only costs one wasted
    * explode and is resolved exactly by the join. Surviving documents'
    * shingles are pruned again per-hash after the explode, so join-probe
    * volume tracks true matches plus the fpp floor.
    *
    * An empty benchmark delegates to the exact path (Spark's Bloom
    * aggregate yields NULL over zero rows; the exact join is trivially
    * empty there anyway). */
  def ngramOverlapBloom(corpus: DataFrame, idCol: String, textCol: String,
                        bench: DataFrame, benchIdCol: String, benchTextCol: String,
                        n: Int = 3, minShared: Long = 1L,
                        expectedGrams: Long = 1L << 20,
                        fpp: Double = 0.01,
                        maxBenchGrams: Int = 1 << 22): DataFrame = {
    require(expectedGrams > 0 && fpp > 0.0 && fpp < 1.0,
      "expectedGrams must be positive and fpp in (0, 1)")
    require(maxBenchGrams > 0, "maxBenchGrams must be positive")
    // the benchmark's (bench_id, gram-hash) index is LOCALIZED once: it
    // is broadcast-sized by contract (it ships to every executor for the
    // join regardless), so collecting it means the benchmark is tokenized
    // exactly once and the Bloom build below costs no second source scan.
    // The contract is ENFORCED, not assumed: the collect fetches at most
    // maxBenchGrams + 1 rows (a limit, not a separate count job), and one
    // row past the cap aborts BEFORE the driver holds an unbounded index
    // — a merely-large benchmark should go through the lazy exact
    // ngramOverlap path, not OOM the driver here
    val b0 = shingled(bench, benchIdCol, benchTextCol, n)
      .select(col(benchIdCol).as("bench_id"), explode(col("hs")).as("h"))
    // cap + 1 would wrap negative at Int.MaxValue (a caller's "no cap");
    // there the limit is dropped — collect() cannot exceed MaxValue rows
    val localized =
      (if (maxBenchGrams < Int.MaxValue) b0.limit(maxBenchGrams + 1) else b0)
        .collect()
    require(localized.length <= maxBenchGrams,
      s"ngramOverlapBloom: benchmark explodes past maxBenchGrams=" +
        s"$maxBenchGrams (bench_id, gram) rows — the Bloom path localizes " +
        "the benchmark index on the driver and is meant for " +
        "broadcast-sized benchmarks; use ngramOverlap (lazy exact join) " +
        "for a benchmark this large, or raise maxBenchGrams deliberately")
    val b = bench.sparkSession.createDataFrame(
      java.util.Arrays.asList(localized: _*), b0.schema)
    // optimal bit count for the target false-positive rate
    val numBits = math.ceil(
      -expectedGrams * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    val bfBytes = b.agg(bloomAgg(col("h"), expectedGrams, numBits).as("bf"))
      .collect()(0).getAs[Array[Byte]](0)
    if (bfBytes == null)
      return ngramOverlap(corpus, idCol, textCol,
        bench, benchIdCol, benchTextCol, n, minShared)
    val bf = lit(bfBytes)
    // document-level prune: clean docs never reach the explode (their
    // shingle array is hashed once, tested, and discarded in the scan).
    // The test is the native whole-stage-codegen kernel — the equivalent
    // exists(hs, h -> might_contain(...)) HOF runs interpreted and loses
    // the race against the exact join it exists to beat
    val pre = shingled(corpus, idCol, textCol, n)
      .filter(native.bloom_contains_any(col("hs"), bfBytes))
    val c = pre
      .select(col(idCol).as("doc_id"), size(col("hs")).cast("long").as("n_sh"),
        explode(col("hs")).as("h"))
      // shingle-level prune: survivors' non-matching grams drop pre-join
      .filter(mightContain(bf, col("h")))
    joinAndCount(c, b, minShared)
  }

  // ------------------------------------------------ persisted bench index

  /** Build a PERSISTED decontamination index for a benchmark suite at
    * `path` — the build-once/probe-many form of [[ngramOverlapBloom]]:
    * benchmark suites change rarely while corpus slices arrive forever,
    * so the suite's (bench_id, gram-hash) postings and its Bloom filter
    * are computed once and every future corpus batch decontaminates
    * against the files ([[Similarity.buildIvfIndex]] /
    * [[DedupIndex.buildDedupIndex]] discipline: `_meta` sidecar, hashed
    * freshness stamp observed on the build's own write job).
    *
    * Layout: `postings/` (`bench_id`, `h`) — distinct per pair, small by
    * the same enforced `maxBenchGrams` contract as the Bloom path; and
    * `_meta` (one row: `n`, `num_bits`, `expected_grams`, `bloom` bytes,
    * `n_rows`, `id_hash_sum`). An empty benchmark persists NULL bloom
    * bytes and zero postings — probes of it return no rows.
    *
    * Benchmark ids must cast to Long (the stamp's key type); NULL ids
    * fail loudly per row. */
  def buildBenchIndex(bench: DataFrame, benchIdCol: String,
                      benchTextCol: String, path: String, n: Int = 3,
                      expectedGrams: Long = 1L << 20, fpp: Double = 0.01,
                      maxBenchGrams: Int = 1 << 22): Unit = {
    require(expectedGrams > 0 && fpp > 0.0 && fpp < 1.0,
      "expectedGrams must be positive and fpp in (0, 1)")
    require(maxBenchGrams > 0, "maxBenchGrams must be positive")
    val spark = bench.sparkSession
    import org.apache.spark.sql.types.{DecimalType, LongType, StringType}
    val idL = when(col(benchIdCol).cast(LongType).isNotNull,
        col(benchIdCol).cast(LongType))
      .otherwise(raise_error(concat(
        lit(s"buildBenchIndex: id column '$benchIdCol' must be non-null and numeric, got: "),
        coalesce(col(benchIdCol).cast(StringType), lit("NULL")))))
    val obs = org.apache.spark.sql.Observation()
    val postings = bench
      .select(idL.as("id"), col(benchTextCol).as("text"))
      .observe(obs, Similarity.stampExprs.head, Similarity.stampExprs.tail: _*)
      .select(col("id").as("bench_id"),
        explode(native.shingle_hash60(TextStats.tokens(col("text")), n)).as("h"))
    postings.write.mode("overwrite").parquet(s"$path/postings")
    val stamp = Similarity.stampObserved(obs.get, bench, benchIdCol)
    // the cap guards the PROBE-side localization contract (the postings
    // broadcast to every executor per probe); enforced at build so an
    // oversized suite fails here, once, not in every probe job
    val nPostings = IndexMaintenance.readTree(spark, s"$path/postings").count()
    require(nPostings <= maxBenchGrams,
      s"buildBenchIndex: benchmark explodes to $nPostings (bench_id, gram) " +
        s"rows past maxBenchGrams=$maxBenchGrams — the index broadcasts its " +
        "postings per probe and is meant for broadcast-sized benchmark " +
        "suites; use ngramOverlap (lazy exact join) for a suite this large, " +
        "or raise maxBenchGrams deliberately")
    val numBits = math.ceil(
      -expectedGrams * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    // bloom over the persisted postings — the shingle kernel ran once
    val bfBytes = IndexMaintenance.readTree(spark, s"$path/postings")
      .agg(bloomAgg(col("h"), expectedGrams, numBits).as("bf"))
      .collect()(0).getAs[Array[Byte]](0)
    // driver-direct metadata write (MetaIO); writeRows form because the
    // bloom is legitimately NULL for an empty suite (zero postings) and
    // the template supplies its type
    graft.store.MetaIO.writeRows(spark.sparkContext.hadoopConfiguration,
      s"$path/_meta",
      Seq("n" -> 0, "num_bits" -> 0L, "expected_grams" -> 0L,
        "bloom" -> Array.empty[Byte], "n_rows" -> 0L,
        "id_hash_sum" -> java.math.BigDecimal.ZERO),
      Iterator.single(Seq[Any](n, numBits, expectedGrams, bfBytes,
        stamp.nRows, stamp.idHashSum.setScale(0))))
  }

  private final case class BenchMeta(n: Int, bloom: Array[Byte],
                                     stamp: Similarity.IvfStamp)

  private def loadBenchMeta(spark: org.apache.spark.sql.SparkSession,
                            path: String): BenchMeta = {
    val m = graft.store.MetaIO.readRow(
        spark.sparkContext.hadoopConfiguration, s"$path/_meta")
      .getOrElse(throw new IllegalStateException(
        s"bench index at $path has no readable _meta"))
    BenchMeta(m("n").asInstanceOf[Int],
      m("bloom").asInstanceOf[Array[Byte]], // null for an empty suite
      Similarity.IvfStamp(m("n_rows").asInstanceOf[Long],
        m("id_hash_sum").asInstanceOf[java.math.BigDecimal]))
  }

  /** Freshness contract: the index's build stamp vs the live benchmark
    * suite (ids-only scan). A stale decontamination index is the
    * DANGEROUS kind of stale — new benchmark documents would silently
    * pass into training data — so probes should verify. Throws
    * `IllegalStateException` on mismatch; rebuilding clears it. */
  def requireBenchIndexFresh(spark: org.apache.spark.sql.SparkSession,
                             path: String, bench: DataFrame,
                             benchIdCol: String): Unit =
    Similarity.requireStampFresh("bench index", path,
      loadBenchMeta(spark, path).stamp,
      Similarity.sourceStamp(bench, benchIdCol), "buildBenchIndex")

  /** [[ngramOverlapBloom]] served from a persisted [[buildBenchIndex]]
    * tree: identical output (`doc_id`, `bench_id`, `shared`, `n_sh`),
    * with the benchmark never re-tokenized — the Bloom bytes prune
    * clean documents in the scan and the persisted postings resolve
    * survivors exactly via the broadcast join. The shingle width rides
    * the index; `minShared` is a probe-time choice. */
  def ngramOverlapIndexed(spark: org.apache.spark.sql.SparkSession,
                          path: String, corpus: DataFrame, idCol: String,
                          textCol: String, minShared: Long = 1L,
                          verifyAgainst: Option[(DataFrame, String)] = None)
      : DataFrame = {
    val meta = loadBenchMeta(spark, path)
    verifyAgainst.foreach { case (bench, benchId) =>
      requireBenchIndexFresh(spark, path, bench, benchId) }
    val b = IndexMaintenance.readTree(spark, s"$path/postings")
    if (meta.bloom == null)  // empty suite: zero postings — same schema,
      return joinAndCount(   // no corpus scan (limit(0) prunes it)
        shingled(corpus.limit(0), idCol, textCol, meta.n)
          .select(col(idCol).as("doc_id"),
            size(col("hs")).cast("long").as("n_sh"), explode(col("hs")).as("h")),
        b, minShared)
    val bf = lit(meta.bloom)
    val c = shingled(corpus, idCol, textCol, meta.n)
      .filter(native.bloom_contains_any(col("hs"), meta.bloom))
      .select(col(idCol).as("doc_id"), size(col("hs")).cast("long").as("n_sh"),
        explode(col("hs")).as("h"))
      .filter(mightContain(bf, col("h")))
    joinAndCount(c, b, minShared)
  }
}
