package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Persisted inverted TEXT index — the retrieval sibling of the IVF
 * vector index ([[Similarity.buildIvfIndex]]): build once, probe many,
 * with every probe reading only the token buckets it needs.
 *
 * Build writes one posting row per distinct (token, doc) pair — with
 * the pair's term frequency and the document's token count denormalized
 * onto it — hive-partitioned by `bucket = hash60(token) mod nBuckets`;
 * a query computes its tokens' buckets DRIVER-SIDE (same portable hash)
 * and scans only those directories — the `bucket IN (...)` predicate
 * lands in `PartitionFilters` (pruned at file listing, unprobed buckets
 * never opened) and the `token IN (...)` predicate pushes into the
 * parquet scan. Query cost is O(matched postings), independent of
 * corpus size for fixed token frequencies — the candidate-generation
 * primitive a retrieval stack needs at 100 TB, where "grep the corpus
 * per query" is a non-starter.
 *
 * Two scorers over the same pruned scan:
 *  - [[searchIndex]]: integer OVERLAP (number of distinct query tokens
 *    a document contains), ties broken by id — no floats, so probes
 *    are oracle-exact in any engine;
 *  - [[searchIndexBM25]]: Okapi BM25 (Robertson/Spärck Jones idf with
 *    the Lucene +1 floor) — possible WITHOUT any corpus-sized join at
 *    probe time precisely because `tf` and `doc_len` ride each posting
 *    and (N, total token count) ride `_meta`: document frequencies of
 *    the query tokens fall out of the matched postings themselves.
 *
 * The same hashed freshness contract as the IVF index guards staleness
 * ([[requireTextIndexFresh]]).
 */
object TextIndex {

  /** TOKEN-FREE documents (empty/NULL text, or nothing but whitespace)
    * index zero postings yet still count in `_meta` and the id Bloom —
    * without a durable record of their ids, the index's id set is not
    * enumerable from its data rows, which forced compaction to carry
    * the Bloom sidecar verbatim forever (tombstoned bits never shed,
    * resize impossible, `bloom_fill` permanently inflated) and let a
    * re-append of a token-free id slip the precise verify. The
    * `_tokenfree/` sidecar (underscore — invisible to parquet
    * listings) persists those ids: one Long `id` column, appended
    * per batch that contains any, read back distinct (a crash between
    * sidecar write and `_meta` rewrite can leave duplicate rows —
    * over-approximation, handled by `distinct`, never corruption). */
  private[ops] def tokenFreePath(indexPath: String): String =
    s"$indexPath/_tokenfree"

  /** The token-free id sidecar, distinct; `None` when absent (an index
    * that never appended a token-free document, or a legacy tree). */
  private[ops] def loadTokenFreeIds(spark: org.apache.spark.sql.SparkSession,
                                    path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(tokenFreePath(path))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(IndexMaintenance.readTree(spark, tokenFreePath(path))
      .select(col("id")).distinct())
    else None
  }

  /** EVERY indexed id — posting ids plus the token-free sidecar. This
    * is the authoritative membership relation for the append guard, the
    * ingest sink's replay detection, and delete validation; posting ids
    * alone under-approximate exactly when token-free documents exist
    * (the [[graft.ops.IndexIds]] class doc's enumeration caveat). */
  private[graft] def indexedIds(spark: org.apache.spark.sql.SparkSession,
                                path: String): DataFrame = {
    val postings = IndexMaintenance.readTree(spark, path).select(col("id"))
    loadTokenFreeIds(spark, path).fold(postings)(tf => postings.union(tf))
  }

  /** The non-empty token sequence a posting's positions index:
    * [[TextStats.tokens]] with empties dropped INSIDE the array (order
    * preserved), so position p means "the p-th token a probe-side
    * tokenization of this document would see". A NULL text filters to
    * NULL and `posexplode` emits nothing — NULL docs index no
    * postings, as before. */
  private[graft] def postingTokens(text: Column): Column =
    filter(TextStats.tokens(text), t => t =!= "")

  /** Build the index at `path`: tokenize, count each (doc, token)
    * pair's occurrences (map-side partial aggregation — only distinct
    * 8-byte-hash-keyed postings shuffle, not every token occurrence),
    * attach the per-document token count (`doc_len = sum(tf)` over the
    * doc's postings — ONE id-keyed shuffle at build so probes never
    * join a corpus-sized length table), then bucket and write one hive
    * directory per bucket, postings sorted by (token, id) within each
    * so per-bucket scans stay min/max-prunable on token. The `_meta`
    * sidecar carries `nBuckets`, the source stamp (row count, id-hash
    * sum — [[Similarity.sourceStamp]]), and the corpus token total
    * (for BM25's avgdl); stamp and token total both ride the write job
    * itself via `Observation` — no second scan. NULL/empty tokens are
    * never indexed; ids must cast to Long (the posting key type).
    *
    * Precondition, not checked here: ids are UNIQUE in `df`. Postings
    * group by (id, doc_len, token), so two documents sharing an id
    * index as separate postings with separate lengths, and BM25, phrase
    * and overlap results for that id are undefined. Checking would cost
    * a job per build; [[appendTextIndex]] does refuse repeated ids, both
    * within its batch and against the tree. */
  def buildTextIndex(df: DataFrame, idCol: String, textCol: String,
                     path: String, nBuckets: Int = 256,
                     expectedIds: Long = IndexIds.DefaultExpectedIds,
                     idFpp: Double = IndexIds.DefaultFpp): Unit = {
    require(nBuckets >= 1 && nBuckets <= (1 << 16),
      s"nBuckets must be in [1, 65536], got $nBuckets")
    val spark = df.sparkSession
    // the build stamp rides the write job itself (Observation on the
    // source rows BEFORE the explode) so it describes exactly the
    // snapshot the postings came from — a post-write re-scan could
    // stamp a corpus that churned between write and stamp, and the
    // freshness check would then pass against an index missing those
    // rows (the buildIvfIndex discipline)
    val obs = org.apache.spark.sql.Observation()
    val tokObs = org.apache.spark.sql.Observation()
    val postings = df
      .select(col(idCol).cast(LongType).as("id"), col(textCol).as("text"))
      .observe(obs, Similarity.stampExprs.head, Similarity.stampExprs.tail: _*)
      // doc_len = the token ARRAY's size, attached BEFORE the explode:
      // identical to the old sum(tf)-over-id window (both count every
      // occurrence of every non-empty token) but without the window's
      // id-keyed exchange + sort over the full posting set — one fewer
      // shuffle in every build and append. The array is materialized in
      // its own projection so the tokenizer runs once per document
      // (size() then reads the array header per generated row, O(1)).
      .select(col("id"), postingTokens(col("text")).as("_tt"))
      .select(col("id"), size(col("_tt")).cast(LongType).as("doc_len"),
        posexplode(col("_tt")))
      .withColumnRenamed("col", "token")
      // positions are indexes into the doc's NON-EMPTY token sequence
      // (the sequence queryTokens/phraseTokens see), collected per
      // posting so [[searchPhrase]] can verify adjacency without ever
      // touching the corpus; tf stays a plain column (cheap, and the
      // overlap/BM25 probes keep pruning positions out of their scans).
      // doc_len joins the grouping keys (functionally dependent on id —
      // the group set is unchanged) so it survives the aggregate and
      // stays denormalized onto every posting: redundant per token but
      // columnar-compressed on disk, and it is what makes a BM25 probe
      // self-contained under partition pruning (no join back to the
      // corpus for lengths)
      .groupBy("id", "doc_len", "token").agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
      // total corpus tokens for avgdl — observed on the posting rows of
      // the same write job (sum(tf) == token count), not a second scan
      .observe(tokObs, coalesce(sum(col("tf")), lit(0L)).as("total_tokens"))
      .withColumn("bucket",
        pmod(TextStats.hash60(col("token")), lit(nBuckets.toLong)))
    // bucket leads the sort: it satisfies the partitionBy writer's
    // required ordering, so the writer inserts NO second sort and the
    // (token, id) order inside each bucket is guaranteed (a writer-side
    // re-sort by bucket alone is not stable once spilled runs merge)
    IndexLayout.postings.write(postings, path, "overwrite")
    val stamp = Similarity.stampObserved(obs.get, df, idCol)
    // getOrElse: an all-token-free corpus writes zero postings and AQE
    // empty-relation propagation can drop the CollectMetrics node (the
    // stampObserved hazard) — zero tokens is then the true total
    val totalTokens = tokObs.get.getOrElse("total_tokens", 0L).asInstanceOf[Long]
    // a zero-posting build (empty corpus, or every document token-free)
    // leaves the partitionBy writer with NO data files. (Token-free
    // documents are fine as an append DELTA — the tree already has
    // readable files then.)
    Similarity.requireIndexNonEmpty(spark, path, "buildTextIndex", totalTokens,
      "the corpus produced ZERO postings (empty, or all documents " +
        "token-free) — an index with no data files cannot be read back; " +
        "validate/filter the corpus upstream")
    // token-free ids (counted in the stamp, zero postings) — recorded
    // BEFORE _meta so a complete `_meta` implies a complete sidecar.
    // Computed as an anti-join of the corpus ids against the id column
    // of the tree just written (column-pruned) rather than a second
    // tokenize pass over the corpus.
    val tokenFree = df.select(col(idCol).cast(LongType).as("id"))
      .filter(col("id").isNotNull).distinct()
      .join(IndexMaintenance.readTree(spark, path).select("id"), Seq("id"), "left_anti")
    if (tokenFree.limit(1).collect().nonEmpty)
      tokenFree.coalesce(1).write.mode("overwrite")
        .parquet(tokenFreePath(path))
    // _meta INSIDE the tree (underscore paths are invisible to parquet
    // listing) — the index is self-describing at one path, the
    // _codebook discipline of the IVF index; driver-direct write
    // (MetaIO): one metadata row never needed a Spark job
    graft.store.MetaIO.writeRow(spark.sparkContext.hadoopConfiguration,
      s"$path/_meta", Seq(
        "n_buckets" -> nBuckets,
        "n_rows" -> stamp.nRows,
        "id_hash_sum" -> stamp.idHashSum.setScale(0),
        "total_tokens" -> totalTokens))
    // id-membership Bloom sidecar: makes appendTextIndex's novelty
    // guard O(delta) instead of an O(index) posting-id scan
    IndexIds.writeFresh(spark, path,
      df.select(col(idCol).cast(LongType).as("id")), stamp.nRows,
      expectedIds, idFpp)
  }

  /** INCREMENTAL build: append NEW documents' postings to an existing
    * index — the "daily crawl lands in the retrieval index without a
    * rebuild" step. The new documents run the exact build pipeline
    * (same bucket hash from `_meta`, same per-posting denormalization)
    * and land as additional files inside the same bucket directories
    * (hive append — probes are layout-blind); `_meta` is then rewritten
    * with the SUMMED stamp and token total, which works because every
    * `_meta` quantity is additive: row count, `hash60(id)` sum, token
    * count. After the append, the freshness contract holds against the
    * base⊕new source — an index grown this way is indistinguishable
    * from one built in one shot.
    *
    * Appended ids must be NEW: a re-indexed id would double its
    * postings and corrupt tf/overlap silently, so by default the
    * append refuses any id already present — and any id repeated
    * WITHIN the batch itself. The check is O(delta) via the
    * [[IndexIds]] Bloom sidecar (zero index reads when every id is
    * novel; precise fallback verify on Bloom hits); `skipIdCheck`
    * skips the check (not the Bloom bookkeeping) when the caller
    * guarantees novelty, e.g. monotonically assigned crawl ids.
    *
    * Crash windows, documented: the Bloom merge lands BEFORE the
    * postings append (a crash between them only over-approximates —
    * the next attempt pays a precise verify and proceeds); postings
    * append and the `_meta` rewrite are two steps, and a crash between
    * THEM leaves the stamp behind the postings, which the freshness
    * contract then REFUSES (stale vs the combined source) — fail-loud;
    * recover with [[IndexMaintenance.compactTextIndex]] (rebuilds the
    * tree and sidecars from the surviving postings) or a rebuild. */
  def appendTextIndex(df: DataFrame, idCol: String, textCol: String,
                      path: String, skipIdCheck: Boolean = false): Unit = {
    val spark = df.sparkSession
    val meta = loadMeta(spark, path)
    requireTokenTotal(meta, path)
    // the guard's precise fallback verifies against posting ids PLUS the
    // token-free sidecar ([[IndexLayout.Text]]): posting membership alone
    // would re-admit a token-free id and double-count it in `_meta`
    IndexLayout.Text.append(df, idCol, path, skipIdCheck) { obs =>
      val tokObs = org.apache.spark.sql.Observation()
      val tfObs = org.apache.spark.sql.Observation()
      val postings = df
        .select(col(idCol).cast(LongType).as("id"), col(textCol).as("text"))
        .observe(obs, Similarity.stampExprs.head, Similarity.stampExprs.tail: _*)
        // token-free presence rides the postings pass (one extra per-row
        // tokenization in a stage that tokenizes anyway) so the common
        // all-tokened batch skips the separate detection scan below;
        // size(null) is -1, so <= 0 covers NULL text, and the id-notnull
        // guard makes this the EXACT predicate of the sidecar frame (a
        // null-id token-free row must not trigger a pointless write)
        // pre-explode doc_len — the buildTextIndex rewrite's rationale:
        // identical value (size of the non-empty token array == sum(tf)),
        // one fewer exchange+sort per append. The token-free observation
        // moves onto the materialized array (size(null) is -1, so <= 0
        // still covers NULL text) — the tokenizer now runs once per row,
        // not once for the metric and again for the explode.
        .select(col("id"), postingTokens(col("text")).as("_tt"))
        .observe(tfObs, coalesce(sum(
            when(col("id").isNotNull && size(col("_tt")) <= 0, lit(1L))
              .otherwise(lit(0L))), lit(0L)).as("n_tokenfree"))
        .select(col("id"), size(col("_tt")).cast(LongType).as("doc_len"),
          posexplode(col("_tt")))
        .withColumnRenamed("col", "token")
        .groupBy("id", "doc_len", "token").agg(count(lit(1)).as("tf"),
          sort_array(collect_list(col("pos"))).as("positions"))
        .observe(tokObs, coalesce(sum(col("tf")), lit(0L)).as("total_tokens"))
        .withColumn("bucket",
          pmod(TextStats.hash60(col("token")), lit(meta.nBuckets.toLong)))
      IndexLayout.postings.write(postings, path, "append")
      // the delta's token-free ids land AFTER the postings append (a
      // sidecar id must never precede its batch's postings — a mixed
      // batch's replay detection keys on posting membership) and BEFORE
      // the _meta rewrite (complete `_meta` implies complete sidecar).
      // The observed count decides whether the delta-sized detection
      // scan runs at all; a LOST metrics node (an empty postings write —
      // exactly the all-token-free batch, see the stampObserved note)
      // must fall back to the scan, never to "none": skipping the
      // sidecar there would break that batch's replay detection.
      val nTokenFree = tfObs.get.getOrElse("n_tokenfree", -1L)
        .asInstanceOf[Long]
      if (nTokenFree != 0L) {
        val tokenFree = df
          .select(col(idCol).cast(LongType).as("id"),
            size(postingTokens(col(textCol))).as("_ntok"))
          .filter(col("id").isNotNull && col("_ntok") <= 0)
          .select("id").distinct()
        if (nTokenFree > 0L || tokenFree.limit(1).collect().nonEmpty)
          tokenFree.coalesce(1).write.mode("append")
            .parquet(tokenFreePath(path))
      }
      // getOrElse: see the stampObserved note — an empty postings write
      // can lose the metrics node; zero delta tokens is then correct
      Seq("total_tokens" -> tokObs.get.getOrElse("total_tokens", 0L)
        .asInstanceOf[Long])
    }
  }

  /** Query tokens, mirroring [[TextStats.tokens]] + the build's
    * non-empty filter + set semantics (each distinct token counts
    * once). Lowercasing goes through `UTF8String.toLowerCase` — the
    * EXACT routine Spark's `lower` ran on the corpus side — so query
    * and index casing agree byte-for-byte under any JVM default locale
    * (a `Locale.ROOT` String.toLowerCase would diverge from Spark's
    * slow path on non-ASCII text under special-casing locales). */
  private[ops] def queryTokens(query: String): Seq[String] =
    org.apache.spark.unsafe.types.UTF8String.fromString(query)
      .toLowerCase.toString
      .split("\\s+").toSeq.filter(_.nonEmpty).distinct

  private[ops] final case class TiMeta(nBuckets: Int, stamp: Similarity.IvfStamp,
                                  totalTokens: Option[Long])

  /** The `_meta` sidecar in ONE driver read. `total_tokens` is absent
    * on indexes built before the BM25 columns existed — the overlap
    * probe still serves them; [[searchIndexBM25]] refuses them loudly
    * (on-disk indexes outlive code). */
  private[ops] def loadMeta(spark: org.apache.spark.sql.SparkSession,
                       path: String): TiMeta = {
    val m = graft.store.MetaIO.readRow(
        spark.sparkContext.hadoopConfiguration, s"$path/_meta")
      .getOrElse(throw new IllegalStateException(
        s"text index at $path has no readable _meta"))
    TiMeta(m("n_buckets").asInstanceOf[Int],
      Similarity.IvfStamp(m("n_rows").asInstanceOf[Long],
        m("id_hash_sum").asInstanceOf[java.math.BigDecimal]),
      m.get("total_tokens").map(_.asInstanceOf[Long]))
  }

  /** Appends and deletes keep `total_tokens` additive, so a tree built
    * before the BM25 columns existed cannot take either. */
  private[ops] def requireTokenTotal(meta: TiMeta, path: String): Unit =
    if (meta.totalTokens.isEmpty) throw new IllegalStateException(
      s"text index at $path predates the BM25 posting columns " +
        "(no total_tokens in _meta); rebuild with buildTextIndex")

  /** Probe: top-`k` documents by distinct-query-token overlap,
    * (`id`, `overlap`), ordered by (overlap desc, id) so the cut is
    * total. Reads ONLY the query tokens' bucket directories —
    * `.explain` shows `PartitionFilters: [bucket IN (...)]` — then
    * one small aggregation over the matched postings. */
  def searchIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                  query: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    matchedPostings(spark, path, loadMeta(spark, path).nBuckets, query)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("overlap"))
      .orderBy(col("overlap").desc, col("id"))
      .limit(k)
  }

  /** [[searchIndex]] through the freshness contract: verifies the
    * build stamp against the live source before probing (one `_meta`
    * read serves both the check and the bucket count). */
  def searchIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                  query: String, k: Int,
                  verifyAgainst: (DataFrame, String)): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val meta = verifiedMeta(spark, path, verifyAgainst)
    matchedPostings(spark, path, meta.nBuckets, query)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("overlap"))
      .orderBy(col("overlap").desc, col("id"))
      .limit(k)
  }

  /** Conjunctive (AND-semantics) probe: top-`k` documents containing
    * EVERY distinct query token, as (`id`, `hits`) where `hits` is the
    * total occurrence count of the query tokens in the document
    * (Σ tf), ordered (hits desc, id) so the cut is total. The
    * filter-style twin of [[searchIndex]]'s overlap ranking — "docs
    * mentioning all of these terms" is the decontamination /
    * targeted-subset shape, where a doc matching 5 of 6 tokens must
    * NOT appear at all rather than rank lower.
    *
    * Same pruned scan as every other probe (bucket partition filter +
    * token filter); the AND is one `count_distinct(token) == |query|`
    * predicate on the per-doc aggregate, so cost stays O(matched
    * postings) with no corpus access. */
  def searchAllTokens(spark: org.apache.spark.sql.SparkSession,
                      path: String, query: String, k: Int,
                      verifyAgainst: Option[(DataFrame, String)] = None)
      : DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val meta = verifyAgainst match {
      case Some(va) => verifiedMeta(spark, path, va)
      case None     => loadMeta(spark, path)
    }
    val nDistinct = queryTokens(query).distinct.size
    matchedPostings(spark, path, meta.nBuckets, query)
      .groupBy(col("id"))
      .agg(sum(col("tf")).cast(LongType).as("hits"),
        count_distinct(col("token")).as("ntok"))
      .filter(col("ntok") === lit(nDistinct))
      .select(col("id"), col("hits"))
      .orderBy(col("hits").desc, col("id"))
      .limit(k)
  }

  /** Okapi BM25 over the SAME pruned probe scan: top-`k` documents as
    * (`id`, `score`), score desc then id. Per query token t with
    * document frequency df(t) (counted from the matched postings —
    * every posting of a probed token is in its pruned bucket, so the
    * count is the true corpus df):
    *
    *   idf(t)     = ln(1 + (N - df + 0.5) / (df + 0.5))
    *   w(t, d)    = idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·len(d)/avgdl))
    *   score(d)   = Σ_t w(t, d)
    *
    * with N and avgdl from `_meta`. df is `count(*) over (partition by
    * token)` on the one pruned scan — no second postings scan and no
    * broadcast job — so probe cost stays O(matched postings) with no
    * corpus-sized side anywhere. */
  def searchIndexBM25(spark: org.apache.spark.sql.SparkSession,
                      path: String, query: String, k: Int,
                      k1: Double = 1.2, b: Double = 0.75,
                      verifyAgainst: Option[(DataFrame, String)] = None)
      : DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(k1 >= 0.0 && b >= 0.0 && b <= 1.0,
      s"BM25 parameters out of range: k1=$k1 (>=0), b=$b ([0,1])")
    val meta = verifyAgainst match {
      case Some(va) => verifiedMeta(spark, path, va)
      case None     => loadMeta(spark, path)
    }
    val (n, avgdl) = bm25Corpus(meta, path)
    matchedPostings(spark, path, meta.nBuckets, query)
      .withColumn("dfq", count(lit(1)).over(Window.partitionBy("token")))
      .groupBy(col("id"))
      .agg(sum(bm25Weight(n, avgdl, k1, b)).as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }

  /** BATCH BM25 — [[searchIndexBM25]] over a whole query suite in ONE
    * pruned scan (the union of every query's token buckets): per-query
    * top-`k` as (`query_idx` into the input suite, `id`, `score`),
    * ordered (query_idx, score desc, id). The retrieval-evaluation /
    * "score a day's queries against the corpus" shape — Q separate
    * probe jobs collapse into one scan + one per-query cut.
    *
    * Each posting's weight is the single-query kernel's
    * ([[bm25Weight]]); df per token is counted once from the union's
    * matched postings (each token's posting set is the same whichever
    * query asked) and joined broadcast — an aggregate, not the
    * single-query window, so the plan keeps no window operator at all;
    * the query→token relation is a driver literal joined broadcast, and
    * the per-query cut is the BOUNDED top-k aggregate
    * ([[graft.functions.TopKByScore]]) — a stopword-ish token can match
    * most of the corpus, and a rank-filtered window would sort that
    * whole candidate pool per query where the aggregate holds O(k) per
    * query and ships ≤ k triples per query per map task. */
  def searchBM25Batch(spark: org.apache.spark.sql.SparkSession,
                      path: String, queries: Seq[String], k: Int,
                      k1: Double = 1.2, b: Double = 0.75,
                      verifyAgainst: Option[(DataFrame, String)] = None)
      : DataFrame = {
    require(queries.nonEmpty, "searchBM25Batch: empty query suite")
    require(k >= 1, s"k must be >= 1, got $k")
    require(k1 >= 0.0 && b >= 0.0 && b <= 1.0,
      s"BM25 parameters out of range: k1=$k1 (>=0), b=$b ([0,1])")
    val meta = verifyAgainst match {
      case Some(va) => verifiedMeta(spark, path, va)
      case None     => loadMeta(spark, path)
    }
    val (n, avgdl) = bm25Corpus(meta, path)
    val tokLists = queries.map(q => queryTokens(q))
    tokLists.zipWithIndex.foreach { case (t, i) =>
      require(t.nonEmpty, s"query $i contains no tokens") }
    val matched = matchedPostingsFor(spark, path, meta.nBuckets,
      tokLists.flatten.distinct)
    import spark.implicits._
    val qrel = tokLists.zipWithIndex
      .flatMap { case (ts, i) => ts.map(t => (i.toLong, t)) }
      .toDF("query_idx", "token")
    val dfreq = matched.groupBy("token").agg(count(lit(1)).as("dfq"))
    val perQueryDoc = matched.join(broadcast(dfreq), "token")
      .join(broadcast(qrel), "token")
      .groupBy(col("query_idx"), col("id"))
      .agg(sum(bm25Weight(n, avgdl, k1, b)).as("score"))
    TopK.topKPerGroup(perQueryDoc, "query_idx", "score", "id", lit(0L), k)
      .select("query_idx", "id", "score")
      .orderBy(col("query_idx"), col("score").desc, col("id"))
  }

  /** `_meta`'s BM25 corpus constants `(N, avgdl)`, behind the refusals
    * both scorers share: a tree built before the BM25 columns, and an
    * empty corpus. */
  private def bm25Corpus(meta: TiMeta, path: String): (Long, Double) = {
    requireTokenTotal(meta, path)
    val n = meta.stamp.nRows
    require(n > 0, s"text index at $path was built over an empty corpus")
    (n, meta.totalTokens.get.toDouble / n)
  }

  /** The BM25 kernel both scorers sum, per posting row carrying `tf`,
    * `doc_len` and its token's document frequency `dfq`:
    * idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·len(d)/avgdl)). */
  private def bm25Weight(n: Long, avgdl: Double, k1: Double, b: Double): Column = {
    val idf = log(lit(1.0) +
      (lit(n.toDouble) - col("dfq") + lit(0.5)) / (col("dfq") + lit(0.5)))
    val tfNorm = col("tf") * lit(k1 + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("doc_len") / lit(avgdl)))
    idf * tfNorm
  }

  /** Ordered phrase tokens: [[queryTokens]] WITHOUT the distinct —
    * order and repetition are the whole point of a phrase. */
  private[ops] def phraseTokens(phrase: String): Seq[String] =
    org.apache.spark.unsafe.types.UTF8String.fromString(phrase)
      .toLowerCase.toString
      .split("\\s+").toSeq.filter(_.nonEmpty)

  /** EXACT-PHRASE probe: top-`k` documents containing the query tokens
    * CONSECUTIVELY, as (`id`, `n_phrase`) — occurrence count (sliding
    * window, overlaps counted), ordered (count desc, id), zero-count
    * docs excluded. Runs over the SAME pruned scan as the other
    * scorers (only the phrase tokens' buckets are listed), then
    * verifies adjacency from the per-posting position arrays: an
    * occurrence is a position p of the first token with token i found
    * at p+i for every following i. No corpus access, no n-gram
    * materialization — this is what makes exact-phrase
    * decontamination/search affordable at corpus scale, where the
    * n-gram fallback pays an explode of every document.
    *
    * Indexes built before positional postings are refused loudly —
    * on-disk indexes outlive code; rebuild with [[buildTextIndex]]. */
  def searchPhrase(spark: org.apache.spark.sql.SparkSession, path: String,
                   phrase: String, k: Int,
                   verifyAgainst: Option[(DataFrame, String)] = None)
      : DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val meta = verifyAgainst match {
      case Some(va) => verifiedMeta(spark, path, va)
      case None     => loadMeta(spark, path)
    }
    val toks = phraseTokens(phrase)
    require(toks.nonEmpty, "phrase contains no tokens")
    val matched = matchedPostings(spark, path, meta.nBuckets, phrase)
    if (!matched.columns.contains("positions"))
      throw new IllegalStateException(
        s"text index at $path predates positional postings (no " +
          "'positions' column); rebuild with buildTextIndex to enable " +
          "phrase probes")
    // one row per candidate doc: token -> positions map over the
    // matched postings (bounded by the phrase's distinct-token count),
    // docs missing any phrase token drop out here
    val nDistinct = toks.distinct.size
    val grouped = matched
      .groupBy(col("id"))
      .agg(map_from_entries(collect_list(
          struct(col("token"), col("positions")))).as("tp"),
        count(lit(1)).as("ntok"))
      .filter(col("ntok") === lit(nDistinct))
    // occurrences = positions p of toks(0) with toks(i) at p+i for all
    // following i — array_contains over the (sorted, small) per-doc
    // position lists; a repeated phrase token just probes its own list
    // at two offsets
    def aligned(p: Column): Column = toks.zipWithIndex.tail
      .foldLeft(lit(true)) { case (acc, (t, i)) =>
        acc && array_contains(element_at(col("tp"), lit(t)), p + lit(i)) }
    grouped
      .select(col("id"),
        size(filter(element_at(col("tp"), lit(toks.head)), aligned(_)))
          .cast(LongType).as("n_phrase"))
      .filter(col("n_phrase") > 0)
      .orderBy(col("n_phrase").desc, col("id"))
      .limit(k)
  }

  /** PROXIMITY probe: top-`k` documents containing every distinct
    * query token, ranked by MINIMAL COVER SPAN — the length of the
    * shortest run of consecutive tokens containing all query tokens in
    * ANY order — as (`id`, `min_span`), ordered (span asc, id). The
    * middle ground between [[searchAllTokens]] (AND anywhere in the
    * document) and [[searchPhrase]] (exact adjacency): "these terms
    * discussed TOGETHER", the topical-search / near-verbatim-
    * contamination shape. A span of `|query|` means the tokens are
    * adjacent in some order.
    *
    * Algorithm (per candidate doc, from the same positional postings
    * as the phrase probe — no corpus access): the minimal window's
    * first token is an occurrence of SOME query token, so try every
    * occurrence position `s` as a window start; the window must reach
    * `max_t min{p ∈ positions(t) : p ≥ s}`, and the answer is the
    * minimum over starts. Only position DIFFERENCES matter, so the
    * postings' position base never shows. Cost is
    * O(occurrences² · |query|) per candidate in the worst case —
    * per-document work over already-pruned postings, embarrassingly
    * parallel, nothing corpus-sized.
    *
    * Same pruned scan, tombstone filter, freshness contract, and
    * pre-positional-index refusal as [[searchPhrase]]. */
  def searchProximity(spark: org.apache.spark.sql.SparkSession, path: String,
                      query: String, k: Int,
                      verifyAgainst: Option[(DataFrame, String)] = None)
      : DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val meta = verifyAgainst match {
      case Some(va) => verifiedMeta(spark, path, va)
      case None     => loadMeta(spark, path)
    }
    val toks = queryTokens(query) // distinct by construction
    require(toks.nonEmpty, "query contains no tokens")
    val matched = matchedPostings(spark, path, meta.nBuckets, query)
    if (!matched.columns.contains("positions"))
      throw new IllegalStateException(
        s"text index at $path predates positional postings (no " +
          "'positions' column); rebuild with buildTextIndex to enable " +
          "proximity probes")
    val grouped = matched
      .groupBy(col("id"))
      .agg(map_from_entries(collect_list(
          struct(col("token"), col("positions")))).as("tp"),
        count(lit(1)).as("ntok"))
      .filter(col("ntok") === lit(toks.size))
    val starts = array_distinct(flatten(
      array(toks.map(t => element_at(col("tp"), lit(t))): _*)))
    def minGe(t: String, s: Column): Column =
      array_min(filter(element_at(col("tp"), lit(t)), p => p >= s))
    def spanAt(s: Column): Column = {
      val ends = toks.map(t => minGe(t, s))
      // a window starting at s exists only if every token occurs at or
      // after s (Spark's `greatest` skips nulls, so guard explicitly)
      when(ends.map(_.isNotNull).reduce(_ && _),
        greatest(ends :+ s: _*) - s + lit(1))
    }
    grouped
      .select(col("id"),
        array_min(filter(transform(starts, spanAt(_)), x => x.isNotNull))
          .cast(LongType).as("min_span"))
      .filter(col("min_span").isNotNull)
      .orderBy(col("min_span").asc, col("id"))
      .limit(k)
  }

  /** BATCH phrase probe — the realistic decontamination shape: a whole
    * benchmark suite of exact phrases checked against the corpus in
    * ONE pruned scan (the union of every phrase's token buckets),
    * instead of one [[searchPhrase]] job per phrase. Returns ALL
    * matches — (`phrase_idx` into the input seq, `id`, `n_phrase` > 0)
    * ordered (phrase_idx, id) — because decontamination wants the full
    * contaminated set, not a top-k.
    *
    * Per candidate doc the per-phrase occurrence counts are evaluated
    * from one token→positions map (bounded by the suite's distinct
    * token count); a doc missing any token of a phrase scores 0 for it
    * via the three-valued-logic null path (`element_at` on the absent
    * key → null → filter keeps nothing / `size(null)` → null →
    * coalesce 0). Cost stays O(matched postings) + one small explode
    * of `|phrases|` counters per candidate doc — no corpus access, no
    * per-phrase rescans. */
  def searchPhrases(spark: org.apache.spark.sql.SparkSession, path: String,
                    phrases: Seq[String],
                    verifyAgainst: Option[(DataFrame, String)] = None)
      : DataFrame = {
    require(phrases.nonEmpty, "searchPhrases: empty phrase suite")
    val meta = verifyAgainst match {
      case Some(va) => verifiedMeta(spark, path, va)
      case None     => loadMeta(spark, path)
    }
    val tokLists = phrases.map(phraseTokens)
    tokLists.zipWithIndex.foreach { case (t, i) =>
      require(t.nonEmpty, s"phrase $i contains no tokens") }
    val allToks = tokLists.flatten.distinct
    val matched = matchedPostingsFor(spark, path, meta.nBuckets, allToks)
    if (!matched.columns.contains("positions"))
      throw new IllegalStateException(
        s"text index at $path predates positional postings (no " +
          "'positions' column); rebuild with buildTextIndex to enable " +
          "phrase probes")
    val grouped = matched
      .groupBy(col("id"))
      .agg(map_from_entries(collect_list(
          struct(col("token"), col("positions")))).as("tp"))
    def nPhrase(toks: Seq[String]): Column = {
      def aligned(p: Column): Column = toks.zipWithIndex.tail
        .foldLeft(lit(true)) { case (acc, (t, i)) =>
          acc && array_contains(element_at(col("tp"), lit(t)), p + lit(i)) }
      coalesce(
        size(filter(element_at(col("tp"), lit(toks.head)), aligned(_))),
        lit(0)).cast(LongType)
    }
    grouped
      .select(col("id"),
        posexplode(array(tokLists.map(nPhrase): _*)))
      .select(col("pos").cast(LongType).as("phrase_idx"), col("id"),
        col("col").as("n_phrase"))
      .filter(col("n_phrase") > 0)
      .orderBy(col("phrase_idx"), col("id"))
  }

  /** BATCH proximity probe — [[searchProximity]] over a whole query
    * suite in ONE pruned scan (the union of every query's token
    * buckets), the same economics as [[searchPhrases]] vs one
    * [[searchPhrase]] job per phrase. Returns ALL matches per query —
    * (`query_idx` into the input suite, `id`, `min_span`), ordered
    * (query_idx, min_span, id) — optionally capped at `maxSpan`, the
    * "terms within a W-token window" decontamination / co-mention
    * filter. A document missing any of a query's tokens contributes no
    * row for that query (the per-token position lookups null out and
    * the span never materializes). */
  def searchProximities(spark: org.apache.spark.sql.SparkSession,
                        path: String, queries: Seq[String],
                        maxSpan: Option[Long] = None,
                        verifyAgainst: Option[(DataFrame, String)] = None)
      : DataFrame = {
    require(queries.nonEmpty, "searchProximities: empty query suite")
    maxSpan.foreach(m => require(m >= 1, s"maxSpan must be >= 1, got $m"))
    val meta = verifyAgainst match {
      case Some(va) => verifiedMeta(spark, path, va)
      case None     => loadMeta(spark, path)
    }
    val tokLists = queries.map(q => queryTokens(q))
    tokLists.zipWithIndex.foreach { case (t, i) =>
      require(t.nonEmpty, s"query $i contains no tokens") }
    val allToks = tokLists.flatten.distinct
    val matched = matchedPostingsFor(spark, path, meta.nBuckets, allToks)
    if (!matched.columns.contains("positions"))
      throw new IllegalStateException(
        s"text index at $path predates positional postings (no " +
          "'positions' column); rebuild with buildTextIndex to enable " +
          "proximity probes")
    val grouped = matched
      .groupBy(col("id"))
      .agg(map_from_entries(collect_list(
          struct(col("token"), col("positions")))).as("tp"))
    def minSpan(toks: Seq[String]): Column = {
      // a missing token nulls its position list, the null propagates
      // through flatten/transform, and the whole span stays null — the
      // "doc lacks a query token" case needs no explicit guard
      val starts = array_distinct(flatten(
        array(toks.map(t => element_at(col("tp"), lit(t))): _*)))
      def minGe(t: String, s: Column): Column =
        array_min(filter(element_at(col("tp"), lit(t)), p => p >= s))
      def spanAt(s: Column): Column = {
        val ends = toks.map(t => minGe(t, s))
        when(ends.map(_.isNotNull).reduce(_ && _),
          greatest(ends :+ s: _*) - s + lit(1))
      }
      array_min(filter(transform(starts, spanAt(_)), x => x.isNotNull))
        .cast(LongType)
    }
    val spans = grouped
      .select(col("id"), posexplode(array(tokLists.map(minSpan): _*)))
      .select(col("pos").cast(LongType).as("query_idx"), col("id"),
        col("col").as("min_span"))
      .filter(col("min_span").isNotNull)
    maxSpan.fold(spans)(m => spans.filter(col("min_span") <= m))
      .orderBy(col("query_idx"), col("min_span"), col("id"))
  }

  /** The pruned probe scan shared by both scorers: only the query
    * tokens' bucket directories are listed (driver-side bucket set via
    * the SAME portable hash the build used), `token IN (...)` pushes
    * into parquet. Tombstoned documents
    * ([[IndexMaintenance.deleteFromTextIndex]]) are anti-joined away —
    * broadcast over the matched postings only, zero cost when no
    * delete has ever run. */
  private def matchedPostings(spark: org.apache.spark.sql.SparkSession,
                              path: String, nBuckets: Int,
                              query: String): DataFrame = {
    val toks = queryTokens(query)
    require(toks.nonEmpty, "query contains no tokens")
    matchedPostingsFor(spark, path, nBuckets, toks)
  }

  /** The pruned-scan core shared by every probe: postings restricted
    * to `toks` via the bucket partition filter (driver-side, SAME
    * portable hash as the writer) + the token filter, minus
    * tombstones. */
  private def matchedPostingsFor(spark: org.apache.spark.sql.SparkSession,
                                 path: String, nBuckets: Int,
                                 toks: Seq[String]): DataFrame = {
    val buckets = toks.map(t => graft.functions.Hash60Kernel.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(t)) % nBuckets)
      .distinct
    IndexMaintenance.minusTombstones(spark, path,
      IndexMaintenance.readTree(spark, path)
        .filter(col("bucket").isin(buckets: _*))
        .filter(col("token").isin(toks: _*)),
      "id")
  }

  /** One `_meta` read + the freshness check against a live source. */
  private def verifiedMeta(spark: org.apache.spark.sql.SparkSession,
                           path: String,
                           verifyAgainst: (DataFrame, String)): TiMeta = {
    val meta = loadMeta(spark, path)
    Similarity.requireStampFresh("text index", path, meta.stamp,
      Similarity.sourceStamp(verifyAgainst._1, verifyAgainst._2),
      "buildTextIndex")
    meta
  }

  /** Same contract as [[Similarity.requireIvfFresh]]: recompute the
    * live source's hashed stamp (ids only) and compare to the one
    * persisted at build; a probe against an index whose corpus has
    * since churned would silently serve stale candidates. */
  def requireTextIndexFresh(spark: org.apache.spark.sql.SparkSession,
                            path: String, df: DataFrame,
                            idCol: String): Unit =
    IndexLayout.Text.requireFresh(spark, path, df, idCol)
}
