package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Deduplication operators for training-data pipelines, each designed for
 * the 100 TB regime:
 *
 *  - [[exact]]: hash-groupBy — one shuffle on a 16-byte digest, never on
 *    the document text.
 *  - [[jaccardPairs]]: exact n-gram Jaccard via an inverted shingle index
 *    (explode → self-join on shingle → count). The join key is the shingle
 *    hash (8 bytes), frequent-shingle stopping bounds the worst bucket.
 *  - [[minhashSignatures]] / [[minhashPairs]]: MinHash + banded LSH.
 *    Signatures are computed with pure per-row higher-order expressions —
 *    NO shuffle, no UDF — then candidates come from a band-bucket
 *    self-join, so cost scales with collisions, not with n².
 *  - [[simhash]]: 60-bit SimHash over token bags (per-row expressions).
 *  - [[embeddingNearDup]]: cosine near-dup via deterministic hyperplane
 *    LSH buckets, pairwise cosine only inside buckets.
 *
 * All hash functions are the portable md5-based [[TextStats.hash60]], so
 * results are reproducible in any engine (DuckDB oracle included).
 */
object Dedup {
  val P: Long = 2147483647L // 2^31 - 1, Mersenne prime for affine rehash

  /** Exact dedup: one representative (min id) per distinct text.
    * Shuffles md5 digests, not documents. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), md5(col(textCol)).as("_d"))
      .groupBy(col("_d"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dups"))
      .drop("_d")

  /** Word n-gram window stream (with repeats): documents shorter than
    * the gram length contribute their whole token run as the single
    * gram (the `greatest(..., 1)` clamp — mirrored by every oracle's
    * `greatest(len - n + 1, 1)`). The one definition of "n-gram" shared
    * by dedup shingling and [[Importance]]'s features, so the clamp and
    * join semantics cannot drift apart. */
  private[ops] def ngramArray(text: Column, n: Int): Column = {
    val toks = TextStats.tokens(text)
    transform(
      sequence(lit(1), greatest(size(toks) - (n - 1), lit(1))),
      i => concat_ws(" ", slice(toks, i, lit(n))))
  }

  /** Word n-gram shingles as a per-row deduped array column. */
  def shingleArray(text: Column, n: Int): Column =
    array_distinct(ngramArray(text, n))

  /** Inverted-index exact Jaccard: explode distinct shingle HASHES,
    * self-join on the 8-byte hash, count intersections, normalize by set
    * sizes. The index is keyed by [[TextStats.hash60]] of the shingle, not
    * the shingle text: two copies of the index go through the self-join
    * shuffle, so key width (8 bytes vs 20-40-byte word-3-grams) is the
    * dominant shuffle cost at corpus scale. 60-bit hashing makes a same-doc
    * collision astronomically unlikely and the DuckDB oracle applies the
    * identical hash, so results stay engine-exact.
    * `maxDocFreq` drops shingles present in more than that many docs
    * (stop-shingles) — the standard skew guard at scale. */
  /** `cacheIndex` materializes the (frequency-filtered, when `maxDocFreq`
    * is set) inverted (doc, hash) index ONCE — it feeds both self-join
    * sides and the size aggregate. Only that final index is cached (and
    * materialized eagerly, at call time); the pre-filter index is read
    * twice (doc-freq agg + join) but both reads shuffle on `s`, so Spark's
    * ReusedExchange covers it. The RESULT is lazy, so this overload cannot
    * unpersist the cache itself; long-lived sessions processing many
    * corpora should use [[jaccardPairsWithHandle]] and close the handle
    * once done with the result (or pass `cacheIndex = false`). */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, maxDocFreq: Option[Long] = None,
                   cacheIndex: Boolean = true): DataFrame =
    jaccardPairsWithHandle(df, idCol, textCol, n, maxDocFreq, cacheIndex)._1

  /** Cache-lifetime handle for [[jaccardPairsWithHandle]]: `close()`
    * unpersists the cached inverted index deterministically (idempotent —
    * consume the result DataFrame first; closing frees the index it reads
    * from). `index` is the cached (doc, shingle-hash) DataFrame itself,
    * exposed so callers can check `index.storageLevel` or probe the index
    * for other lookups before closing. None when `cacheIndex = false`. */
  final case class JaccardIndexHandle private[ops] (index: Option[DataFrame])
      extends AutoCloseable {
    override def close(): Unit = index.foreach(_.unpersist(blocking = false))
  }

  /** [[jaccardPairs]] plus the cache-lifetime handle: `close()` frees the
    * cached inverted index's blocks deterministically instead of leaking
    * them for the session's lifetime. With `cacheIndex = false` the
    * handle is a no-op. */
  def jaccardPairsWithHandle(df: DataFrame, idCol: String, textCol: String,
                             n: Int = 3, maxDocFreq: Option[Long] = None,
                             cacheIndex: Boolean = true): (DataFrame, JaccardIndexHandle) = {
    val (pairs, handle) = jaccardIntersections(df, idCol, textCol, n,
      maxDocFreq, cacheIndex)
    val result = pairs.select(col("id1"), col("id2"),
      (col("inter").cast(DoubleType) / (col("sz1") + col("sz2") - col("inter")))
        .as("jaccard"))
    (result, handle)
  }

  /** Shared core of [[jaccardPairsWithHandle]] and [[containmentPairs]]:
    * undirected shingle-set intersections with both set sizes —
    * (`id1` < `id2`, `inter`, `sz1`, `sz2`) — from ONE hash-keyed
    * inverted-index self-join. */
  private def jaccardIntersections(df: DataFrame, idCol: String, textCol: String,
                                   n: Int, maxDocFreq: Option[Long],
                                   cacheIndex: Boolean): (DataFrame, JaccardIndexHandle) = {
    val sh0 = df.select(col(idCol).as("doc"),
      explode(graft.functions.native.shingle_hash60(
        TextStats.tokens(col(textCol)), n)).as("s"))
    val filtered0 = maxDocFreq match {
      case Some(mdf) =>
        // Doc-frequency guard as ONE window count over `s` — a single hash
        // shuffle on the join key — instead of the groupBy+semi-join
        // formulation (agg exchange + join exchange over the same index).
        // Bonus: the window's hash-partitioning and within-partition sort
        // on `s` survive the cache, so the self-join below needs no further
        // exchange or sort on either side.
        sh0.withColumn("_df",
            count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("s")))
          .filter(col("_df") <= mdf).drop("_df")
      case None => sh0
    }
    // Materialize the cache EAGERLY: the size aggregate and the self-join
    // otherwise race to compute the same cached partitions from parallel
    // stages (benign "Block already exists" churn in the block manager).
    val filtered = if (cacheIndex) { val f = filtered0.cache(); f.count(); f }
                   else filtered0
    val handle = JaccardIndexHandle(if (cacheIndex) Some(filtered) else None)
    val sizes = filtered.groupBy(col("doc")).agg(count(lit(1)).as("sz"))
    val inter = filtered.as("a").join(filtered.as("b"),
        col("a.s") === col("b.s") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("id1"), col("b.doc").as("id2"))
      .agg(count(lit(1)).as("inter"))
    val withSizes = inter
      .join(sizes.withColumnRenamed("doc", "id1").withColumnRenamed("sz", "sz1"), "id1")
      .join(sizes.withColumnRenamed("doc", "id2").withColumnRenamed("sz", "sz2"), "id2")
    (withSizes, handle)
  }

  /** Directional n-gram CONTAINMENT — `|S_src ∩ S_dst| / |S_src|` for
    * every ordered pair at or above `minContainment` — the quote /
    * subset detector Jaccard misses: a short document copied whole into
    * a long one scores near-zero Jaccard but containment 1.0 (Broder's
    * containment measure, the resemblance/containment split). Output:
    * (`src_id`, `dst_id`, `containment`).
    *
    * Scale shape: the identical hash-keyed inverted-index self-join as
    * [[jaccardPairs]] — the undirected intersection is computed ONCE
    * per pair and both directions are emitted from it by a 2-element
    * generator, so containment costs the same shuffle as Jaccard, never
    * a second pass. `maxDocFreq` is the same stop-shingle skew guard
    * (at corpus scale ALWAYS set it — boilerplate shingles are exactly
    * the keys that explode this join). */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, minContainment: Double = 0.5,
                       maxDocFreq: Option[Long] = None): DataFrame = {
    require(minContainment >= 0.0 && minContainment <= 1.0,
      s"minContainment must be in [0, 1], got $minContainment")
    val (pairs, _) = jaccardIntersections(df, idCol, textCol, n, maxDocFreq,
      cacheIndex = false)
    pairs.select(explode(array(
        struct(col("id1").as("src_id"), col("id2").as("dst_id"),
          (col("inter").cast(DoubleType) / col("sz1")).as("containment")),
        struct(col("id2").as("src_id"), col("id1").as("dst_id"),
          (col("inter").cast(DoubleType) / col("sz2")).as("containment"))))
        .as("e"))
      .select(col("e.src_id").as("src_id"), col("e.dst_id").as("dst_id"),
        col("e.containment").as("containment"))
      .filter(col("containment") >= minContainment)
  }

  /** Affine rehash of a base shingle hash for permutation `i`:
    * `(a_i * h + b_i) mod P` with deterministic formula coefficients
    * (no RNG at eval time — reproducible everywhere). */
  private def rehash(h: Column, i: Column): Column =
    pmod((pmod(i * lit(2654435761L), lit(P)) + lit(1L)) * h
      + pmod(i * lit(40503L), lit(P)) + lit(7L), lit(P))

  /** MinHash signatures as an array column — per-row expressions only
    * (scales linearly, no shuffle): sig[i] = min over shingles of
    * rehash_i(hash60(shingle) mod P).
    *
    * Formulated as ONE `aggregate` over the pre-hashed shingle array so
    * the md5-based base hash is evaluated exactly once per shingle; the
    * naive `transform(i → array_min(transform(shingles, …)))` form inlines
    * (and re-evaluates) the hash `numHashes` times per shingle. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, numHashes: Int = 32): DataFrame =
    df.select(col(idCol),
      graft.functions.native.minhash_sig_tokens(
        TextStats.tokens(col(textCol)), n, numHashes).as("sig"))

  /** Pure-HOF formulation of [[minhashSignatures]] — kept as the
    * executable specification the native expression is tested against. */
  private[graft] def minhashSignaturesHof(df: DataFrame, idCol: String, textCol: String,
                                          n: Int = 3, numHashes: Int = 32): DataFrame = {
    val hashed = transform(shingleArray(col(textCol), n),
      s => pmod(TextStats.hash60(s), lit(P)))
    val sig = aggregate(
      hashed,
      array_repeat(lit(P), numHashes),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(numHashes - 1)),
        (m, i) => least(m, rehash(h, i))))
    df.select(col(idCol), sig.as("sig"))
  }

  /** Shared banding chain for the self-join and cross-corpus LSH paths:
    * signatures → `bands` per-band hashes, exploded to one row per
    * (id, band). NULL signatures (NULL-text documents) are dropped
    * first — `hash(slice(NULL, ...))` evaluates to the seed constant,
    * so every NULL-text row would band-collide with every other one and
    * the candidate join would materialize a |nulls|² cross product of
    * meaningless NULL-estimate pairs. A NULL document can't be near-dup
    * evidence; it is simply not indexed.
    *
    * The repartition is an optimizer barrier, not (just) a distribution
    * choice: without it, CollapseProject inlines the whole signature
    * expression into the Generate below and re-evaluates it once per
    * emitted band row (bands× the cost). */
  private[ops] def bandedSigs(df: DataFrame, idCol: String, textCol: String,
                              n: Int, numHashes: Int, bands: Int,
                              idOut: String, sigOut: String): DataFrame =
    // the null filter sits on the TEXT column, not the signature: a
    // filter on `sig` gets predicate-pushed below the projection and the
    // minhash kernel (the dominant per-row cost) would run twice per row
    // — text IS NULL ⟺ sig IS NULL, and the text check pushes to the scan
    bandedFromSigs(
      minhashSignatures(df.filter(col(textCol).isNotNull), idCol, textCol, n, numHashes),
      idCol, numHashes, bands, idOut, sigOut)

  /** The banding half of [[bandedSigs]], over an EXISTING signature frame
    * (`idCol`, `sig`) — shared with [[DedupIndex]], whose probe bands
    * signatures loaded back from disk. */
  private[ops] def bandedFromSigs(sigs: DataFrame, idCol: String,
                                  numHashes: Int, bands: Int,
                                  idOut: String, sigOut: String): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    sigs
      .repartition(col(idCol))
      .select(col(idCol), col("sig"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => hash(slice(col("sig"), (b * r + 1).cast(IntegerType), lit(r))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")
      .withColumnRenamed(idCol, idOut).withColumnRenamed("sig", sigOut)
  }

  /** Fraction of agreeing positions between two equal-length signatures —
    * the unbiased MinHash Jaccard estimate. */
  private[ops] def estJaccard(sig1: Column, sig2: Column): Column =
    size(filter(zip_with(sig1, sig2, (x, y) => x === y), b => b))
      .cast(DoubleType) / size(sig1).cast(DoubleType)

  /** Banded-LSH candidate pairs + signature-estimated Jaccard.
    * bands×rowsPerBand must equal the signature length. Cost is driven by
    * real collisions: the self-join key is (band index, band hash). */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, numHashes: Int = 32, bands: Int = 8): DataFrame = {
    val banded = bandedSigs(df, idCol, textCol, n, numHashes, bands, "doc", "sig")
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("id1"), col("b.doc").as("id2"),
        col("a.sig").as("sig1"), col("b.sig").as("sig2"))
      .dropDuplicates("id1", "id2")
    cand.select(col("id1"), col("id2"),
      estJaccard(col("sig1"), col("sig2")).as("est_jaccard"))
  }

  /** CROSS-corpus near-dup: banded-LSH candidate pairs between a NEW
    * corpus and a REFERENCE corpus — the "dedupe this crawl against the
    * already-cleaned snapshot" step, which the self-join operators can't
    * express. Both frames must expose `idCol`/`textCol`; ids must be
    * disjoint across frames only if the caller wants to tell them apart.
    * Returns (`id_new`, `id_ref`, `est_jaccard`), one row per colliding
    * pair.
    *
    * Scale shape mirrors [[minhashPairs]]: signatures are pure per-row
    * native kernels (no shuffle), candidates come from a (band, bandHash)
    * equi-join of the two banded sides — each side shuffles once on the
    * 12-byte band key, cost tracks real collisions, never |new|×|ref|.
    * The reference side's banded form can be computed once and reused
    * across many incoming batches (it is a plain DataFrame — persist it). */
  def minhashPairsAgainst(dfNew: DataFrame, dfRef: DataFrame,
                          idCol: String, textCol: String,
                          n: Int = 3, numHashes: Int = 32,
                          bands: Int = 8): DataFrame = {
    val cand = bandedSigs(dfNew, idCol, textCol, n, numHashes, bands, "id_new", "sig_new")
      .join(bandedSigs(dfRef, idCol, textCol, n, numHashes, bands, "id_ref", "sig_ref"),
        Seq("band", "bh"))
      .select(col("id_new"), col("id_ref"), col("sig_new"), col("sig_ref"))
      .dropDuplicates("id_new", "id_ref")
    cand.select(col("id_new"), col("id_ref"),
      estJaccard(col("sig_new"), col("sig_ref")).as("est_jaccard"))
  }

  /** Remove from `dfNew` every document whose estimated Jaccard against
    * ANY reference document reaches `minEstJaccard` — the one-call form
    * of cross-corpus dedup. A left-anti join on the matched id set; the
    * matched set holds only colliding ids (small), so AQE broadcasts it. */
  def dedupAgainst(dfNew: DataFrame, dfRef: DataFrame,
                   idCol: String, textCol: String,
                   n: Int = 3, numHashes: Int = 32, bands: Int = 8,
                   minEstJaccard: Double = 0.5): DataFrame = {
    val matched = minhashPairsAgainst(dfNew, dfRef, idCol, textCol, n, numHashes, bands)
      .filter(col("est_jaccard") >= minEstJaccard)
      .select(col("id_new").as(idCol)).distinct()
    dfNew.join(matched, Seq(idCol), "left_anti")
  }

  /** INTRA-document line dedup — the within-page companion of
    * [[stripBoilerplate]]: a line repeated inside one document keeps its
    * FIRST occurrence only (scraped pages repeat nav/footer blocks;
    * generated text loops). Space-only lines always survive (they are
    * formatting, not content; "space-only" is literal — `trim` in both
    * this engine and the oracle strips 0x20 only, so a tab-only line
    * counts as content). Output mirrors [[stripBoilerplate]]:
    * (`idCol`, `clean_text`, `n_kept`, `n_lines`), NULL text → NULL
    * clean_text with zero counts.
    *
    * Scale shape: a pure PER-ROW expression — no shuffle, no state,
    * embarrassingly parallel. First-occurrence filtering is a native
    * hash-set kernel ([[graft.functions.DedupLinesKernel]]), ONE pass
    * over the line array — O(lines) per document, so a pathological
    * million-line document costs ~10⁶ set probes in one task, not the
    * ~10¹² comparisons of the `array_position` formulation (kept below
    * as the executable spec, [[dedupLinesWithinHof]]). */
  def dedupLinesWithin(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = split(col(textCol), "\n", -1)
    val keptArr = graft.functions.native.dedup_lines_first(lines)
    df.select(col(idCol),
      when(col(textCol).isNull, lit(null).cast(StringType))
        .otherwise(concat_ws("\n", keptArr)).as("clean_text"),
      coalesce(size(keptArr).cast(LongType), lit(0L)).as("n_kept"),
      coalesce(size(lines).cast(LongType), lit(0L)).as("n_lines"))
  }

  /** Pure-HOF formulation of [[dedupLinesWithin]] — kept as the
    * executable specification the native kernel is tested against
    * (the [[minhashSignaturesHof]] discipline): "is this the first
    * occurrence" is `array_position(ls, l) == i+1` over the FULL array,
    * O(lines²) per document. */
  private[graft] def dedupLinesWithinHof(df: DataFrame, idCol: String,
                                         textCol: String): DataFrame = {
    val lines = split(col(textCol), "\n", -1)
    val keptArr = element_at(transform(array(lines), ls =>
      filter(ls, (l, i) => trim(l) === "" ||
        array_position(ls, l) === (i + 1).cast(LongType))), 1)
    df.select(col(idCol),
      when(col(textCol).isNull, lit(null).cast(StringType))
        .otherwise(concat_ws("\n", keptArr)).as("clean_text"),
      coalesce(size(keptArr).cast(LongType), lit(0L)).as("n_kept"),
      coalesce(size(lines).cast(LongType), lit(0L)).as("n_lines"))
  }

  /** End-to-end near-dup GROUPING — the composed dedup flow as one entry
    * point: MinHash+banded-LSH candidate pairs ([[minhashPairs]], kept at
    * `est_jaccard >= minEstJaccard`) → connected components
    * ([[Cluster.connectedComponents]]) → every input document labeled
    * with its group's minimum id. Documents with no near-dup partner are
    * their own group, so the output covers the WHOLE corpus:
    *
    *  - `cluster`: the group label (min id reachable via the near-dup
    *    relation; the document's own id for singletons),
    *  - `keep`: `id == cluster` — "keep one representative per group";
    *    `result.filter(col("keep"))` IS the deduplicated corpus.
    *
    * Example:
    * {{{
    * val groups = Dedup.nearDupGroups(corpus, "doc_id", "text")
    * val deduped = corpus.join(
    *   groups.filter(col("keep")).select("doc_id"), "doc_id")
    * }}}
    *
    * Scale shape: candidate generation is collision-bounded (banded LSH,
    * never all-pairs); clustering shuffles 16-byte (id,label) pairs in
    * O(log diameter) rounds; the final labeling join shuffles only ids —
    * and the label table holds just the documents that appear in some
    * pair (near-dup minorities in practice), so AQE broadcasts it when
    * small. Document text never leaves its scan. */
  def nearDupGroups(df: DataFrame, idCol: String, textCol: String,
                    n: Int = 3, numHashes: Int = 32, bands: Int = 8,
                    minEstJaccard: Double = 0.5): DataFrame =
    labelGroups(df, idCol,
      minhashPairs(df, idCol, textCol, n, numHashes, bands)
        .filter(col("est_jaccard") >= minEstJaccard))

  /** [[nearDupGroups]] over an EMBEDDING column: candidate pairs from
    * [[embeddingNearDup]] (hyperplane-LSH buckets, within-bucket cosine
    * at `minCosine`), connected components, whole-corpus labeling —
    * `filter(col("keep"))` is the semantically-deduplicated corpus.
    * Same scale shape as the text variant: collision-bounded pairs,
    * O(log diameter) pointer-jump clustering, id-only labeling join. */
  def embeddingNearDupGroups(df: DataFrame, idCol: String, vecCol: String,
                             planes: Int = 12, minCosine: Double = 0.9,
                             dim: Int = 64): DataFrame =
    labelGroups(df, idCol,
      embeddingNearDup(df, idCol, vecCol, planes, minCosine, dim)
        .select(col("id1"), col("id2")))

  /** Retention POLICY composed over [[nearDupGroups]]: keep the
    * best-scoring member of each near-dup cluster instead of the min-id
    * one — the production dedup policy ("of these near-identical
    * documents, retain the longest / highest-quality copy, drop the
    * rest"). `score` is any deterministic per-document expression over
    * `df`'s columns (token count, [[TextStats.quality]]'s score, ...);
    * it must be non-null — a NULL score would order engine-dependently.
    * Ties break to the smallest id, so the result is total.
    *
    * Scale: [[nearDupGroups]]' shape (collision-bounded LSH pairs,
    * O(log diameter) clustering, id-only labeling) plus ONE
    * cluster-keyed window for the argmax — near-dup clusters are small
    * by nature, so the window partitions are tiny; scores are computed
    * per-row in the scan, never shuffled with text.
    *
    * Output: (`idCol`, `cluster`, `score`, `keep`), one row per doc. */
  def nearDupKeepBest(df: DataFrame, idCol: String, textCol: String,
                      score: Column, n: Int = 3, numHashes: Int = 32,
                      bands: Int = 8, minEstJaccard: Double = 0.5): DataFrame = {
    val groups = nearDupGroups(df, idCol, textCol, n, numHashes, bands,
      minEstJaccard).select(col(idCol), col("cluster"))
    val scored = df.select(col(idCol).cast(LongType).as(idCol),
      score.as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster").orderBy(col("score").desc, col(idCol))
    groups.join(scored, Seq(idCol))
      .withColumn("keep", row_number().over(w) === 1)
      .select(col(idCol), col("cluster"), col("score"), col("keep"))
  }

  /** Shared labeling step of the `*Groups` entry points: connected
    * components over the pair relation, then every input id labeled with
    * its group's minimum id (`cluster`; its own id for singletons) and
    * `keep = id == cluster`. */
  private def labelGroups(df: DataFrame, idCol: String,
                          pairs: DataFrame): DataFrame = {
    val labels = Cluster.connectedComponents(pairs, "id1", "id2")
      .withColumnRenamed("id", "_cc_id")
    // ids must cast to Long (the clustering key type). A null or
    // non-numeric id would cast to null, match nothing in the join, and
    // leave cluster/keep NULL — filter(keep) would then silently drop
    // the whole corpus. Fail loudly per offending row instead.
    val idL = when(col(idCol).cast(LongType).isNotNull, col(idCol).cast(LongType))
      .otherwise(raise_error(concat(
        lit(s"labelGroups: id column '$idCol' must be non-null and numeric, got: "),
        coalesce(col(idCol).cast(StringType), lit("NULL")))))
    df.select(idL.as(idCol))
      .join(labels, col(idCol) === col("_cc_id"), "left")
      .select(col(idCol),
        coalesce(col("cluster"), col(idCol)).as("cluster"),
        (coalesce(col("cluster"), col(idCol)) === col(idCol)).as("keep"))
  }

  /** Corpus-level LINE dedup (boilerplate stripping, the C4/RefinedWeb
    * cleaning step): a line occurring in more than `maxDocFreq` DISTINCT
    * documents (cookie banners, navigation menus, footers) is removed
    * from every document; all other lines are kept verbatim, in order.
    * Space-only lines are never counted or removed (they carry
    * formatting, not boilerplate, and would otherwise always cross any
    * threshold; "space-only" is literal — `trim` here and in the oracle
    * strips 0x20 only, so a tab-only line is ordinary content).
    * Output: (`idCol`, `clean_text`, `n_kept`, `n_lines`) —
    * one row per input document; documents whose every line was
    * boilerplate yield `clean_text = ""`, documents with NULL text yield
    * `clean_text = NULL` with `n_kept = n_lines = 0` (the two cases are
    * distinguishable).
    *
    * Scale shape: doc-frequency is counted over the 8-byte
    * [[TextStats.hash60]] of each line — the (doc, hash) dedup and the
    * frequency count partial-aggregate map-side and shuffle hashes, not
    * line text. The removal is a LEFT join of the exploded lines against
    * the boilerplate-hash set, which is tiny by construction (only
    * hashes with df > threshold survive), so AQE broadcasts it and the
    * lines are never shuffled for it; kept lines and both counts then
    * come out of ONE reassembly aggregation (conditional collect_list),
    * the single full-text shuffle the output requires. The exploded
    * lines feed two consumers (frequency count and reassembly) and are
    * deliberately recomputed rather than cached: re-scanning columnar
    * source beats pinning or shuffling the full exploded text at corpus
    * scale — `.cache()` the input `df` to change that trade-off. */
  def stripBoilerplate(df: DataFrame, idCol: String, textCol: String,
                       maxDocFreq: Long): DataFrame = {
    val lines = df.select(col(idCol),
        posexplode(split(col(textCol), "\n", -1)))
      .withColumnRenamed("pos", "_pos").withColumnRenamed("col", "_line")
      .withColumn("_h", TextStats.hash60(col("_line")))
    val boiler = lines.filter(trim(col("_line")) =!= "")
      .select(col(idCol), col("_h")).distinct()
      .groupBy("_h").agg(count(lit(1)).as("_df"))
      .filter(col("_df") > maxDocFreq)
      .select(col("_h"), lit(true).as("_boil"))
    val flagged = lines.join(boiler, Seq("_h"), "left")
    // collect_list drops NULLs, so the when() keeps boilerplate rows out
    // of the reassembly while count(*) still sees every line
    val agg = flagged.groupBy(col(idCol)).agg(
      concat_ws("\n", transform(
        array_sort(collect_list(
          when(col("_boil").isNull, struct(col("_pos"), col("_line"))))),
        s => s.getField("_line"))).as("clean_text"),
      count(when(col("_boil").isNull, lit(1))).as("n_kept"),
      count(lit(1)).as("n_lines"))
    // NULL-text docs generate no lines at all — restore them with NULL
    // clean_text (distinct from the all-boilerplate empty string)
    df.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol), col("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"))
  }

  /** Cross-document repeated n-gram stats — the exact-substring dedup
    * SIGNAL (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better", ACL'22: substrings repeated across training
    * documents are memorization fuel; reference has no analog — this is
    * the n-gram generalization of [[stripBoilerplate]]'s corpus line
    * dedup to spans that cross line boundaries). Per document: the number of DISTINCT
    * n-token shingles, and how many of them occur in at least `minDocs`
    * distinct documents. Filtering/stripping policy is the caller's
    * (e.g. drop documents whose repeated fraction is high, or route
    * them to [[stripBoilerplate]]).
    *
    * Scale shape: `n_distinct` is per-row (the size of the fused
    * [[graft.functions.native.shingle_hash60]] kernel's distinct-hash
    * array — never shingle STRINGS, no shuffle at all). Doc-frequency
    * is a `groupBy` over the 8-byte hashes — partial-aggregated
    * map-side, unlike a window count, whose single unsplittable
    * partition per hash would make exactly the high-frequency
    * boilerplate shingles this operator hunts into straggler tasks —
    * and only hashes CLEARING `minDocs` survive into the semi-join that
    * counts repeats per doc (AQE can skew-split a hot join key; it
    * cannot split a window partition). NULL-text documents yield
    * (0, 0) like empty ones: no shingles, nothing repeated. The
    * exploded hashes feed the frequency count and the semi-join and are
    * deliberately recomputed rather than cached — the same trade-off as
    * [[stripBoilerplate]].
    *
    * Output: (`idCol`, `n_distinct`, `n_repeated`), one row per input
    * document. */
  def repeatedNgrams(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 5, minDocs: Int = 2): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(minDocs >= 2, s"minDocs must be >= 2 (cross-document), got $minDocs")
    // distinct-per-doc by kernel contract (shingle_hash60 is sorted set
    // semantics), so counting (doc, hash) rows per hash IS doc-frequency
    def hs = graft.functions.native.shingle_hash60(
      TextStats.tokens(col(textCol)), n)
    def sh = df.select(col(idCol), explode(hs).as("_h"))
    val repeatedHashes = sh.groupBy("_h")
      .agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= minDocs).select("_h")
    val repPerDoc = sh.join(repeatedHashes, Seq("_h"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_repeated"))
    df.select(col(idCol), size(hs).cast(LongType).as("_nd"))
      .join(repPerDoc, Seq(idCol), "left")
      .select(col(idCol),
        // size(NULL array) is NULL (not -1) under Spark 3+ defaults
        coalesce(col("_nd"), lit(0L)).as("n_distinct"),
        coalesce(col("n_repeated"), lit(0L)).as("n_repeated"))
  }

  /** Cross-document duplicated-SPAN removal — the REWRITE counterpart of
    * [[repeatedNgrams]] (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", ACL 2022: removing the duplicated
    * substrings beats dropping whole near-dup documents), at n-token
    * shingle granularity. A token position is COVERED when some n-token
    * window containing it occurs (lowercased) in at least `minDocs`
    * DISTINCT documents; covered tokens are dropped and the survivors
    * rejoin with single spaces. Documents with no covered position pass
    * through with their text byte-identical — no gratuitous whitespace
    * renormalization of untouched rows. Within-doc-only repetition
    * (doc-frequency 1) is out of scope by construction; that axis
    * belongs to [[repeatedNgrams]] / [[stripBoilerplate]].
    *
    * Scale shape: every shuffled relation carries (id, position, 8-byte
    * hash) — never shingle strings, never document text. Doc-frequency
    * is a map-side-combinable `groupBy` over each document's DISTINCT
    * hash set (per-row `array_distinct`, so within-doc repeats cannot
    * inflate the count and no (h, doc) pre-distinct shuffle is needed);
    * only hashes clearing `minDocs` — the boilerplate tail, a tiny
    * fraction of all shingles — flow into the left-semi join that marks
    * covered occurrences. The rewrite itself is one per-row
    * higher-order filter of the token array against the document's
    * (doc-length-bounded) covered-position list, and untouched
    * documents skip the rebuild entirely through the null branch of the
    * final left join.
    *
    * Output: (`idCol`, `textCol` rewritten, `removed_tokens`), one row
    * per input document; NULL text passes through with 0 removed. */
  def stripRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
                         n: Int = 5, minDocs: Int = 2): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(minDocs >= 2, s"minDocs must be >= 2 (cross-document), got $minDocs")
    require(!idCol.startsWith("_") && !textCol.startsWith("_"),
      s"column names starting with _ are reserved here, got ($idCol, $textCol)")
    // ORIGINAL-case tokens drive the rebuild (the rewrite must preserve
    // the surviving text); the hash lowercases per shingle, so matching
    // is case-insensitive like every other dedup operator in this file
    val toks = split(col(textCol), "\\s+")
    def posHashes = when(col(textCol).isNotNull && size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => TextStats.hash60(lower(concat_ws(" ", slice(toks, i + 1, lit(n)))))))
      .otherwise(array().cast(ArrayType(LongType)))
    val occ = df.select(col(idCol), posexplode(posHashes).as(Seq("_pos", "_h")))
    val dupHashes = df
      .select(explode(array_distinct(posHashes)).as("_h"))
      .groupBy("_h").agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= minDocs).select("_h")
    val covered = occ.join(dupHashes, Seq("_h"), "left_semi")
      .groupBy(col(idCol)).agg(collect_list(col("_pos")).as("_dup"))
    df.join(covered, Seq(idCol), "left")
      .select(col(idCol), col(textCol), col("_dup"),
        size(toks).cast(LongType).as("_m"),
        filter(toks, (_, i) =>
          !exists(col("_dup"), p => p <= i && i <= p + (n - 1))).as("_keep"))
      .select(col(idCol),
        when(col("_dup").isNull, col(textCol))
          .otherwise(concat_ws(" ", col("_keep"))).as(textCol),
        when(col("_dup").isNull, lit(0L))
          .otherwise(col("_m") - size(col("_keep")).cast(LongType))
          .as("removed_tokens"))
  }

  /** 60-bit SimHash over the token bag — per-row expressions: for each bit
    * j, sum ±1 over token hashes; bit j of the result is the sign.
    * One `aggregate` pass with a 60-counter array accumulator, so each
    * token is hashed exactly once (not 60×). */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val pow2 = typedLit((0 until 60).map(j => 1L << j))
    val hs = transform(TextStats.tokens(col(textCol)), t => TextStats.hash60(t))
    val votes = aggregate(
      hs,
      array_repeat(lit(0L), 60),
      (acc, h) => zip_with(acc, pow2,
        (c, p) => c + when(h.bitwiseAND(p) > 0, 1L).otherwise(-1L)))
    val word = aggregate(
      zip_with(votes, pow2, (v, p) => when(v > 0, p).otherwise(0L)),
      lit(0L), (acc, b) => acc + b)
    df.select(col(idCol), word.as("simhash"))
  }

  /** Hamming distance between two simhash values (for near-dup grouping). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Near-dup pairs by SimHash Hamming distance — the PAIRING operator
    * over [[simhash]]: all (id1, id2, hamming) with
    * `hamming <= maxHamming`, id1 < id2.
    *
    * Scale shape — multi-block pigeonhole banding, never all-pairs: the
    * 60-bit fingerprint splits into `B` bit-blocks; two fingerprints
    * within distance `m` differ in at most `m` blocks, so at least
    * `B − m` blocks are bit-identical — and therefore EVERY
    * `t = B − m`-subset of those clean blocks matches. An equi-join on
    * (subset index, concatenated subset bits) over all `C(B, t)`
    * subsets finds every qualifying pair. The block count scales with
    * the bound so the JOIN KEY never collapses: `m ≤ 3` uses the
    * classic single-block split (`m + 1` blocks of `≥ 15` bits, one
    * block per key); `m = 4` uses 6×10-bit blocks joined on
    * `C(6,2) = 15` block PAIRS (20-bit keys); `m = 5` uses 8 blocks of
    * 7–8 bits joined on `C(8,3) = 56` block TRIPLES (~22-bit keys). A
    * naive single-block split at `m = 5` would join on 10-bit keys —
    * 1024 distinct values, a guaranteed candidate explosion at corpus
    * scale; the subset keys keep every bucket collision-bounded at any
    * corpus size, at the cost of more (but bounded: ≤ 56) band rows
    * per document.
    *
    * Spurious key collisions are removed by the exact [[hamming]]
    * filter; join cost tracks real collisions, exactly like the banded
    * MinHash join. NULL-text documents are dropped up front (their NULL
    * fingerprint can never be near-dup evidence). The repartition is the
    * same optimizer barrier as in the MinHash chain: without it the
    * whole simhash aggregate would inline into the Generate and
    * re-evaluate once per emitted band row. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 5,
      s"maxHamming must be in [0, 5], got $maxHamming")
    // block layout per bound; every layout sums to 60 bits
    val blockWidths: Seq[Int] = maxHamming match {
      case m if m <= 3 => Seq.fill(m + 1)(60 / (m + 1)) // 60/30/20/15-bit
      case 4           => Seq.fill(6)(10)               // C(6,2) pair keys
      case 5           => Seq.fill(4)(8) ++ Seq.fill(4)(7) // C(8,3) triples
    }
    val subsetSize = blockWidths.size - maxHamming // clean blocks per key
    val offsets = blockWidths.scanLeft(0)(_ + _)
    def block(i: Int): Column =
      shiftrightunsigned(col("simhash"), offsets(i))
        .bitwiseAND(lit((1L << blockWidths(i)) - 1))
    // one join key per block subset: member blocks packed into disjoint
    // 10-bit lanes (every block is <= 10 bits), so equal key <=> every
    // member block equal
    val keys: Seq[Column] = blockWidths.indices.combinations(subsetSize)
      .map(c => c.zipWithIndex
        .map { case (bi, lane) => shiftleft(block(bi), lane * 10) }
        .reduce[Column]((a, b) => a.bitwiseOR(b)))
      .toSeq
    val banded = simhash(df.filter(col(textCol).isNotNull), idCol, textCol)
      .repartition(col(idCol))
      .select(col(idCol).as("doc"), col("simhash"), posexplode(array(keys: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "blk")
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.blk") === col("b.blk") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("id1"), col("b.doc").as("id2"),
        hamming(col("a.simhash"), col("b.simhash")).cast(LongType).as("hamming"))
      // exact filter BEFORE the dedup aggregate: hamming is already
      // computed map-side, so spurious block collisions die before the
      // dropDuplicates shuffle (hamming is constant per pair — filtering
      // first is output-identical)
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id1", "id2")
  }

  /** Embedding near-dup: deterministic hyperplane-LSH buckets, pairwise
    * cosine only inside a bucket. Planes use ±1 weights derived from
    * md5 — reproducible, no fitted model.
    *
    * Malformed vectors (wrong length, null, or containing a null
    * element) are FILTERED OUT inside the signature scan: the hyperplane
    * kernel maps every such vector to bucket 0 (HOF-spec parity), so a
    * polluted minority would otherwise pile into one bucket and the
    * within-bucket pairwise cosine there goes O(m²). The guard is a
    * codegen'd per-row predicate in the same scan — no extra job, and
    * unlike a sampled check it catches a malformed minority anywhere in
    * the corpus. Rows dropped here can never be near-dup evidence anyway
    * (their cosine against anything is undefined).
    *
    * A one-row sample check is KEPT alongside the filter with the
    * opposite job: a `dim` argument that mismatches a NON-EMPTY corpus
    * (config error, not dirty data) fails loudly up front instead of
    * the filter silently producing zero pairs. An EMPTY corpus is not a
    * config error — it short-circuits to the (empty) result. The happy
    * path costs one limit-1 job; only the error path runs the second,
    * also limit-1, sample query. */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
                       planes: Int = 12, minCosine: Double = 0.9,
                       dim: Int = 64): DataFrame = {
    val sizes = df.select(size(col(vecCol)).as("sz"))
    if (sizes.filter(col("sz") === dim).limit(1).collect().isEmpty) {
      // no row matches: empty corpus → fall through to the empty result;
      // non-empty corpus → dim is wrong for ALL of it, fail loudly
      sizes.limit(1).collect().headOption.foreach { r =>
        throw new IllegalArgumentException(
          s"embeddingNearDup: dim=$dim matches no vector (first row has ${r.get(0)} elements)")
      }
    }
    val wellFormed = df.filter(
      size(col(vecCol)) === dim && forall(col(vecCol), x => x.isNotNull))
    val sig = Similarity.hyperplaneSignature(col(vecCol), planes, dim)
    val b = wellFormed.select(col(idCol).as("doc"), col(vecCol).as("v"), sig.as("bucket"))
    b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("id1"), col("b.doc").as("id2"),
        Similarity.cosine(col("a.v"), col("b.v")).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** TF-IDF sparse-cosine near-dup pairs — the weighted complement of
    * [[jaccardPairs]]: documents pair by the cosine of their TF-IDF
    * term-weight vectors, so shared RARE terms dominate and ubiquitous
    * glue words barely register — catching reworded near-dups whose
    * shingle sets (and hence Jaccard) diverge. Weights follow
    * [[TextStats.tfIdf]]'s smoothed convention,
    * `w(d,t) = tf · (ln((N+1)/(df+1)) + 1)`.
    *
    * Output: (`id1`, `id2`, `cosine`), id1 < id2, `cosine >= minCosine`
    * — only pairs sharing at least one (surviving) term can appear.
    *
    * Scale shape: the [[jaccardPairs]] discipline — one (doc, token)
    * aggregate, pre-aggregated doc frequencies, then an inverted-index
    * self-join keyed by the 8-byte [[TextStats.hash60]] of the token
    * (narrow shuffle rows: doc id, hash, one Long weight);
    * `maxDocFreq` drops stop-tokens so the worst posting list is
    * bounded — without it a glue word present in every document makes
    * the self-join quadratic. Norms are per-doc aggregates computed
    * BEFORE the join; per-pair work after it is one sum of products.
    *
    * Cross-engine determinism: `ln` is libm-dependent, so the idf
    * factor is snapped to integer 1e-6 units (the hyperplane-projection
    * discipline) — weights become exact integers, dot/norm sums
    * accumulate in DECIMAL(38,0), and the closing sqrt/divide chain is
    * correctly-rounded double arithmetic, so a SQL oracle reproduces
    * every pair and threshold decision bit-for-bit. */
  def tfidfCosinePairs(df: DataFrame, idCol: String, textCol: String,
                       minCosine: Double = 0.8,
                       maxDocFreq: Option[Long] = None): DataFrame = {
    val nDocs = broadcast(df.agg(count(lit(1)).as("n_docs")))
    val tf = df.select(col(idCol).as("doc"),
        explode(TextStats.tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("doc"), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq0 = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val dfreq = maxDocFreq.map(m => dfreq0.filter(col("df") <= m))
      .getOrElse(dfreq0)
    val idf6 = round((log((col("n_docs") + 1).cast(DoubleType) /
      (col("df") + 1).cast(DoubleType)) + lit(1.0)) * lit(1e6)).cast(LongType)
    val w = tf.join(dfreq, "token").crossJoin(nDocs)
      .select(col("doc"), TextStats.hash60(col("token")).as("h"),
        (col("tf") * idf6).cast(DecimalType(38, 0)).as("w"))
    val nrm = w.groupBy("doc")
      .agg(sum(col("w") * col("w")).cast(DecimalType(38, 0)).as("dxx"))
    val dots = w.as("a").join(w.as("b"),
        col("a.h") === col("b.h") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("id1"), col("b.doc").as("id2"))
      .agg(sum(col("a.w") * col("b.w")).cast(DecimalType(38, 0)).as("dxy"))
    dots
      .join(nrm.select(col("doc").as("id1"), col("dxx").as("n1")), "id1")
      .join(nrm.select(col("doc").as("id2"), col("dxx").as("n2")), "id2")
      .select(col("id1"), col("id2"),
        (col("dxy").cast(DoubleType) /
          (sqrt(col("n1").cast(DoubleType)) * sqrt(col("n2").cast(DoubleType))))
          .as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by spherical k-means clustering, then pairwise cosine
    * ONLY within a cluster. Where [[embeddingNearDup]]'s LSH buckets
    * catch NEAR-copies (cosine ≈ 1, same hyperplane signature), the
    * cluster pass casts a wider net — semantically-redundant documents
    * at moderate cosine that hash to different LSH buckets — which is
    * exactly the regime the paper showed prunes web-scale corpora
    * without hurting model quality.
    *
    * Retention is the paper's upper-triangular rule made total by the
    * id order: a row is dropped iff SOME lower-id row in its cluster
    * clears `minCosine` (whether or not that row itself survives).
    * Output: one row per well-formed input — (`idCol`, `cluster`,
    * `keep`), `keep` ∈ {0, 1}; `filter(col("keep") === 1)` is the
    * semantically-deduplicated corpus.
    *
    * Scale shape: clustering is [[Similarity.kmeansCodebook]]'s one
    * scan-with-k-fused-dots per Lloyd round (vectors never shuffle);
    * the pair stage is a self-equi-join on the cluster id, so the
    * quadratic term is Σ|cluster|² — `k` is the cost dial, sized so the
    * expected cluster (n/k rows) fits a task (the paper runs k ≈ 10⁵
    * for 10⁸ docs); AQE splits residual hot clusters since the key is a
    * plain equi key. Row norms are computed ONCE per row before the
    * join — the join itself does a single fused fixed-point dot per
    * candidate pair, and only (id, cluster) survive past it.
    *
    * Cross-engine determinism: assignment is [[Similarity.kmeansAssign]]
    * (1e-15 fixed-point affinities, ties to the smaller list), and the
    * pair cosine is [[Similarity.cosineFixed]] term-for-term — integer
    * dot sums, then one sqrt/multiply/divide chain in correctly-rounded
    * doubles — so a SQL oracle reproduces every keep/drop decision
    * bit-for-bit, threshold comparisons included.
    *
    * == Skew guard ==
    *
    * k sizes the EXPECTED cluster, but nothing makes the actual ones
    * balanced: a redundancy-heavy corpus (the exact input semantic
    * dedup is for) can collapse into one giant cluster, and the pair
    * join then degrades to an effectively quadratic join on a single
    * skewed key — running "forever" rather than erroring. So the
    * assignment counts are checked BEFORE the join (one extra
    * assignment-only pass — count per cluster, vectors never shuffle):
    * any cluster over `maxClusterRows` fails loudly naming the cluster
    * and the dials, unless `subSplit` is set, in which case oversized
    * clusters are deterministically salted by `hash60(id)` into
    * sub-clusters and pairs are checked only WITHIN a sub-cluster — a
    * strictly tighter scope of the same cluster-scoped approximation
    * the paper makes (and oracle-replayable: the salt is the portable
    * id-hash mod). The split count starts at `ceil(n / maxClusterRows)`
    * and is then VERIFIED against the actual `(cluster, salt)` counts —
    * the hash multinomial only bounds sub-cluster sizes in expectation,
    * and at expected fill 1.0 roughly half the buckets overflow — with
    * any still-oversized cluster's split count doubled and re-checked
    * (deterministic: the final splits are a pure function of the id
    * multiset), so the quadratic-skew bound is HARD, not probabilistic.
    * The output `cluster` column always carries the ORIGINAL cluster id.
    *
    * `refine` closes the one approximation `subSplit` adds: a duplicate
    * pair STRADDLING a salt boundary survives the within-sub-cluster
    * pass (both rows keep). With `refine = true` a second, bounded pass
    * re-checks pairs among the sub-cluster SURVIVORS of each salted
    * cluster — survivors ≪ cluster after within-sub-cluster dedup, and
    * the pass fails loudly if a cluster's survivor set still exceeds
    * `maxClusterRows` (the corpus is genuinely diverse there; raise k).
    * Only CROSS-salt survivor pairs are checked: a same-salt pair over
    * `minCosine` cannot have two survivors (the lower id would have
    * dropped the higher in the first pass). The composite rule stays
    * deterministic and oracle-replayable: a row is dropped iff some
    * lower-id row in its sub-cluster clears `minCosine`, or — refine —
    * some lower-id first-pass SURVIVOR elsewhere in its cluster does. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    k: Int = 8, iters: Int = 1, minCosine: Double = 0.9,
                    dim: Int = 64, maxClusterRows: Long = 1L << 16,
                    subSplit: Boolean = false,
                    refine: Boolean = false): DataFrame = {
    require(maxClusterRows >= 1,
      s"maxClusterRows must be >= 1, got $maxClusterRows")
    val wellFormed = df.filter(
      size(col(vecCol)) === dim && forall(col(vecCol), x => x.isNotNull))
    val cb = Similarity.kmeansCodebook(wellFormed, idCol, vecCol, k, iters)
    val dyy = Similarity.centroidNorms(df.sparkSession, cb)
    val assignedLazy = wellFormed.select(col(idCol).as("doc"), col(vecCol).as("v"),
      Similarity.nearestCentroid(col(vecCol), cb, dyy).as("cluster"),
      sqrt(Similarity.dotFixed(col(vecCol), col(vecCol)).cast(DoubleType))
        .as("nrm"))
    // skew guard: k rows to the driver, checked before any pair work
    val oversized = assignedLazy.groupBy("cluster").agg(count(lit(1)).as("n"))
      .filter(col("n") > maxClusterRows).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the sub-split verification loop, the pair join, the optional
    // refine pass AND the final verdict join all re-read the assignment;
    // without pinning it each re-read repeats the full O(N·k·dim)
    // assignment scan (up to 17× under the doubling loop). Deterministic
    // by construction, so pinning changes nothing but the job count.
    // The well-formed fast path keeps the single-pass lazy pipeline.
    val assigned =
      if (oversized.isEmpty) assignedLazy else assignedLazy.localCheckpoint(true)
    if (oversized.nonEmpty && !subSplit) {
      val (worstC, worstN) = oversized.maxBy(_._2)
      throw new IllegalArgumentException(
        s"semanticDedup: cluster $worstC holds $worstN rows" +
          s" (maxClusterRows=$maxClusterRows" +
          (if (oversized.size > 1) s"; ${oversized.size} clusters oversized)"
           else ")") +
          " — the within-cluster self-join would put ~n^2/2 candidate " +
          "pairs on one skewed key. Raise k (expected cluster = n/k), " +
          "raise maxClusterRows if the quadratic cost is intended, or " +
          "pass subSplit = true to deterministically sub-cluster " +
          "oversized clusters.")
    }
    // one map-literal lookup, whatever the oversized-cluster count: a
    // when-chain with one branch per oversized cluster would generate
    // O(#oversized) Java per row — at production k (√N clusters) with
    // hundreds of oversized clusters that re-opens the 64 KB codegen
    // overflow this repo just closed elsewhere. Missing clusters keep
    // salt 0; a NULL doc id under a split cluster stays NULL (pmod of a
    // null hash), exactly the when-chain's semantics — such rows never
    // pair anyway (`doc < doc` is never true against NULL).
    def saltCol(splits: Map[Long, Long]): Column =
      if (splits.isEmpty) lit(0L)
      else {
        val s = element_at(typedLit(splits), col("cluster"))
        when(s.isNotNull,
          pmod(TextStats.hash60(col("doc").cast(StringType)), s))
          .otherwise(lit(0L))
      }
    // split sizing is VERIFIED, not assumed: start at ceil(n/max) and
    // re-count the actual (cluster, salt) buckets — only offending
    // (cluster, salt) rows come to the driver — doubling any cluster
    // whose buckets still overflow. Hash-uniform buckets at fill <= 0.5
    // overflow with negligible probability, so this converges in a
    // round or two; 16 doublings past ceil(n/max) means the id hash is
    // adversarially degenerate, which deserves the loud failure.
    var splits: Map[Long, Long] = oversized.map { case (c, n) =>
      c -> ((n + maxClusterRows - 1) / maxClusterRows) }
    if (oversized.nonEmpty) {
      val overKeys = oversized.keys.toSeq.sorted
      var rounds = 0
      var offenders = Seq.empty[Long]
      while ({
        offenders = assigned
          .filter(col("cluster").isin(overKeys: _*))
          .select(col("cluster"), saltCol(splits).as("salt"))
          .groupBy("cluster", "salt").agg(count(lit(1)).as("n"))
          .filter(col("n") > maxClusterRows)
          .select("cluster").distinct().collect().map(_.getLong(0)).toSeq
        offenders.nonEmpty && rounds < 16
      }) {
        splits = splits ++ offenders.map(c => c -> splits(c) * 2)
        rounds += 1
      }
      require(offenders.isEmpty,
        s"semanticDedup: sub-splitting cluster ${offenders.head} cannot " +
          s"get every sub-cluster under maxClusterRows=$maxClusterRows " +
          "after 16 doublings — the id hash distribution is degenerate " +
          "for this corpus; raise maxClusterRows or k")
    }
    val salted =
      if (oversized.isEmpty) assigned.withColumn("salt", lit(0L))
      else assigned.withColumn("salt", saltCol(splits))
    val dups = salted.as("a").join(salted.as("b"),
        col("a.cluster") === col("b.cluster") &&
          col("a.salt") === col("b.salt") && col("a.doc") < col("b.doc"))
      // identical arithmetic to cosineFixed, with the self-dot factors
      // hoisted out of the join as the per-row `nrm`
      .filter(Similarity.dotFixed(col("a.v"), col("b.v")).cast(DoubleType) /
        (col("a.nrm") * col("b.nrm")) >= minCosine)
      .select(col("b.doc").as("doc")).distinct()
    val allDups =
      if (!refine || oversized.isEmpty) dups
      else {
        // survivor-refine: only SALTED clusters can hold a duplicate
        // pair straddling a salt boundary. Survivors are the first
        // pass's keeps; re-checked cross-salt within the original
        // cluster — bounded because within-sub-cluster dedup already
        // collapsed each sub-cluster's redundancy (and guarded below
        // in case it did not).
        val surv = salted.filter(col("cluster").isin(
            oversized.keys.toSeq.sorted: _*))
          .join(dups, Seq("doc"), "left_anti")
          .localCheckpoint(true) // feeds the guard count AND the pair join
        val survOver = surv.groupBy("cluster").agg(count(lit(1)).as("n"))
          .filter(col("n") > maxClusterRows).limit(1).collect()
        require(survOver.isEmpty,
          s"semanticDedup: refine pass — cluster " +
            s"${if (survOver.nonEmpty) survOver(0).getLong(0) else ""} still " +
            s"holds ${if (survOver.nonEmpty) survOver(0).getLong(1) else 0} " +
            s"first-pass survivors (> maxClusterRows=$maxClusterRows): the " +
            "cluster is genuinely diverse, not redundant — raise k so " +
            "clustering separates it, or raise maxClusterRows")
        val refineDrops = surv.as("a").join(surv.as("b"),
            col("a.cluster") === col("b.cluster") &&
              col("a.salt") =!= col("b.salt") && col("a.doc") < col("b.doc"))
          .filter(Similarity.dotFixed(col("a.v"), col("b.v")).cast(DoubleType) /
            (col("a.nrm") * col("b.nrm")) >= minCosine)
          .select(col("b.doc").as("doc")).distinct()
        dups.union(refineDrops).distinct()
      }
    assigned.select(col("doc"), col("cluster"))
      .join(allDups.withColumn("dup", lit(1L)), Seq("doc"), "left")
      .select(col("doc").as(idCol), col("cluster"),
        col("dup").isNull.cast(LongType).as("keep"))
  }
}
