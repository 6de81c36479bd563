package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Persisted MinHash/LSH dedup index — the incremental form of
 * [[Dedup.minhashPairsAgainst]]: tokenize + minhash the cleaned corpus
 * ONCE, persist its banded fingerprints, and dedupe every incoming crawl
 * batch against the index without ever re-reading the corpus text. The
 * third member of the build-once/probe-many family
 * ([[Similarity.buildIvfIndex]] vectors, [[TextIndex.buildTextIndex]]
 * tokens — same `_meta` sidecar + hashed freshness-stamp discipline).
 *
 * Layout at `path`:
 *  - `sigs/`  — one row per indexed document: (`id`, `sig`) where `sig`
 *    is the numHashes-long MinHash signature;
 *  - `bands/` — the banded LSH form: (`band`, `bh`, `id`), one row per
 *    (document, band), sorted by (band, bh) within files;
 *  - `_meta`  — shingle width `n`, `num_hashes`, `bands`, and the build
 *    stamp (row count + id-hash sum, observed on the build's own write
 *    job — the [[Similarity.stampExprs]] contract).
 *
 * Probe parameters (n / numHashes / bands) come FROM the index, never
 * from the caller — a probe hashed with different parameters than the
 * build would silently find nothing, so the drift is made impossible
 * rather than documented.
 *
 * Scale shape of a probe: the incoming batch is minhashed per-row
 * (native kernel, no shuffle) and banded; candidates come from a
 * (band, bh) equi-join of the batch's bands against `bands/` — the
 * index side streams 16-byte rows into the join, TEXT IS NEVER RE-READ
 * (that re-tokenize + re-minhash of the full reference corpus per batch
 * is exactly what [[Dedup.minhashPairsAgainst]] costs and this index
 * amortizes). The candidate set (real collisions only) is then joined
 * to `sigs/` on id for the Jaccard estimate; it is collision-sized, so
 * AQE broadcasts it and the signature table is scanned once without a
 * shuffle. Nothing in any stage is |batch|×|corpus|.
 */
object DedupIndex {

  /** Build the index at `path` over `df` (the reference corpus). NULL
    * ids fail loudly per row (an unkeyed fingerprint could never be
    * matched back); NULL-text rows are not indexed (matching
    * [[Dedup.minhashPairsAgainst]], where they can never be near-dup
    * evidence) but still count into the freshness stamp, which covers
    * the WHOLE source frame exactly like the IVF/text builds. */
  def buildDedupIndex(df: DataFrame, idCol: String, textCol: String,
                      path: String, n: Int = 3, numHashes: Int = 32,
                      bands: Int = 8,
                      expectedIds: Long = IndexIds.DefaultExpectedIds,
                      idFpp: Double = IndexIds.DefaultFpp): Unit = {
    require(numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    val spark = df.sparkSession
    val idL = when(col(idCol).cast(LongType).isNotNull, col(idCol).cast(LongType))
      .otherwise(raise_error(concat(
        lit(s"buildDedupIndex: id column '$idCol' must be non-null and numeric, got: "),
        coalesce(col(idCol).cast(StringType), lit("NULL")))))
    val obs = org.apache.spark.sql.Observation()
    // stamp observed on the source rows BEFORE the text filter, so it
    // describes the exact frame a later requireDedupIndexFresh re-scans
    val base = df
      .select(idL.as("id"), col(textCol).as("text"))
      .observe(obs, Similarity.stampExprs.head, Similarity.stampExprs.tail: _*)
    val sigs = base.filter(col("text").isNotNull)
      .select(col("id"),
        graft.functions.native.minhash_sig_tokens(
          TextStats.tokens(col("text")), n, numHashes).as("sig"))
    sigs.write.mode("overwrite").parquet(s"$path/sigs")
    val stamp = Similarity.stampObserved(obs.get, df, idCol)
    Similarity.requireIndexNonEmpty(spark, path, "buildDedupIndex", stamp.nRows)
    // bands are derived from the PERSISTED signatures — the minhash
    // kernel (the dominant build cost) runs once, and the banded form
    // can never drift from the signatures it summarizes
    IndexLayout.bands.write(
      Dedup.bandedFromSigs(IndexMaintenance.readTree(spark, s"$path/sigs"), "id",
          numHashes, bands, "id", "sig")
        .select(col("band"), col("bh"), col("id")),
      path, "overwrite")
    graft.store.MetaIO.writeRow(spark.sparkContext.hadoopConfiguration,
      s"$path/_meta", Seq(
        "n" -> n, "num_hashes" -> numHashes, "bands" -> bands,
        "n_rows" -> stamp.nRows,
        "id_hash_sum" -> stamp.idHashSum.setScale(0)))
    // id-membership Bloom sidecar: makes appendDedupIndex's novelty
    // guard O(delta) instead of an O(index) sigs-id scan
    IndexIds.writeFresh(spark, path,
      df.select(col(idCol).cast(LongType).as("id")), stamp.nRows,
      expectedIds, idFpp)
  }

  /** INCREMENTAL build: append a NEW batch's fingerprints to an
    * existing index — after each crawl batch is deduped and accepted,
    * its signatures join the snapshot so the NEXT batch dedupes against
    * it too ([[TextIndex.appendTextIndex]] discipline). Banding
    * parameters come from `_meta` (no drift); the delta's signatures
    * are staged once under an underscore dir (invisible to parquet
    * listings) so the minhash kernel — the dominant cost — runs exactly
    * once for both the `sigs/` and `bands/` appends; `_meta` then
    * rewrites with the SUMMED stamp, after which the freshness contract
    * holds against the base⊕new reference.
    *
    * Appended ids must be NEW (a duplicate id would double its band
    * rows and pair twice) — and unique WITHIN the batch; refused by
    * default in O(delta) via the [[IndexIds]] Bloom sidecar (zero
    * index reads when every id is novel; precise fallback on Bloom
    * hits). The Bloom merge lands BEFORE the data appends (a crash in
    * between only over-approximates); crash between the appends and
    * the `_meta` rewrite leaves the stamp behind the data — the
    * freshness contract refuses, recover with
    * [[IndexMaintenance.compactDedupIndex]] or a rebuild. */
  def appendDedupIndex(df: DataFrame, idCol: String, textCol: String,
                       path: String, skipIdCheck: Boolean = false): Unit = {
    val spark = df.sparkSession
    val meta = loadMeta(spark, path)
    val idL = when(col(idCol).cast(LongType).isNotNull, col(idCol).cast(LongType))
      .otherwise(raise_error(concat(
        lit(s"appendDedupIndex: id column '$idCol' must be non-null and numeric, got: "),
        coalesce(col(idCol).cast(StringType), lit("NULL")))))
    val staging = s"$path/_staging-${java.util.UUID.randomUUID().toString.take(8)}"
    IndexLayout.Dedup.append(df, idCol, path, skipIdCheck) { obs =>
      df.select(idL.as("id"), col(textCol).as("text"))
        .observe(obs, Similarity.stampExprs.head, Similarity.stampExprs.tail: _*)
        .filter(col("text").isNotNull)
        .select(col("id"),
          graft.functions.native.minhash_sig_tokens(
            TextStats.tokens(col("text")), meta.n, meta.numHashes).as("sig"))
        .write.mode("overwrite").parquet(staging)
      val staged = IndexMaintenance.readTree(spark, staging)
      staged.write.mode("append").parquet(s"$path/sigs")
      IndexLayout.bands.write(
        Dedup.bandedFromSigs(staged, "id", meta.numHashes, meta.bands, "id", "sig")
          .select(col("band"), col("bh"), col("id")),
        path, "append")
      Nil
    }
    // staging cleanup is best-effort: an underscore dir is invisible to
    // parquet listings, so a leftover can never corrupt a probe
    try {
      val p = new org.apache.hadoop.fs.Path(staging)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true); ()
    } catch { case _: Exception => () }
  }

  private[ops] final case class DiMeta(n: Int, numHashes: Int, bands: Int)

  private[ops] def loadMeta(spark: SparkSession, path: String): DiMeta = {
    val m = graft.store.MetaIO.readRow(
        spark.sparkContext.hadoopConfiguration, s"$path/_meta")
      .getOrElse(throw new IllegalStateException(
        s"dedup index at $path has no readable _meta"))
    DiMeta(m("n").asInstanceOf[Int], m("num_hashes").asInstanceOf[Int],
      m("bands").asInstanceOf[Int])
  }

  /** Freshness contract: the index's build stamp vs the live reference
    * table (a column-pruned ids-only scan — text never read). Throws
    * `IllegalStateException` on mismatch; rebuilding clears it. */
  def requireDedupIndexFresh(spark: SparkSession, path: String,
                             ref: DataFrame, idCol: String): Unit =
    IndexLayout.Dedup.requireFresh(spark, path, ref, idCol)

  /** Candidate near-dup pairs between `dfNew` (an incoming batch) and
    * the indexed corpus: (`id_new`, `id_ref`, `est_jaccard`), one row
    * per colliding pair — identical to
    * `Dedup.minhashPairsAgainst(dfNew, ref, …)` with the index's build
    * parameters, with the reference side served entirely from the index.
    *
    * @param verifyAgainst when set (live reference frame, id column),
    *                      the freshness contract runs before the probe —
    *                      the build-once/probe-many API shape a pipeline
    *                      should call. */
  /** Colliding (id_new, id_ref, est_jaccard) rows, possibly REPEATED
    * per shared band — the raw collision stream both probe surfaces
    * derive from. est_jaccard is a pure function of the signature pair,
    * so every copy of a pair carries the same estimate; [[pairsAgainstIndex]]
    * dedups to the one-row-per-pair contract, while [[dedupAgainstIndex]]
    * skips that exchange entirely (an anti-join needs no distinct right
    * side). Deduping AFTER the sigs join also shuffles (id, id, double)
    * rows instead of rows carrying the numHashes-long `sig_new`. */
  private def collisionPairs(spark: SparkSession, path: String,
                             dfNew: DataFrame, idCol: String,
                             textCol: String,
                             verifyAgainst: Option[(DataFrame, String)])
      : DataFrame = {
    val meta = loadMeta(spark, path)
    verifyAgainst.foreach { case (ref, refId) =>
      requireDedupIndexFresh(spark, path, ref, refId) }
    val newBanded = Dedup.bandedSigs(dfNew, idCol, textCol,
      meta.n, meta.numHashes, meta.bands, "id_new", "sig_new")
    // tombstoned documents (IndexMaintenance.deleteFromDedupIndex) are
    // filtered on the bands side, so they can never generate a
    // candidate pair — the sigs join below then never sees them either
    val idx = IndexMaintenance.minusTombstones(spark, path,
        IndexMaintenance.readTree(spark, s"$path/bands"), "id")
      .select(col("band"), col("bh"), col("id").as("id_ref"))
    val cand = newBanded.join(idx, Seq("band", "bh"))
      .select(col("id_new"), col("id_ref"), col("sig_new"))
    val sigs = IndexMaintenance.readTree(spark, s"$path/sigs")
      .select(col("id").as("id_ref"), col("sig").as("sig_ref"))
    cand.join(sigs, "id_ref")
      .select(col("id_new"), col("id_ref"),
        Dedup.estJaccard(col("sig_new"), col("sig_ref")).as("est_jaccard"))
  }

  def pairsAgainstIndex(spark: SparkSession, path: String,
                        dfNew: DataFrame, idCol: String, textCol: String,
                        verifyAgainst: Option[(DataFrame, String)] = None)
      : DataFrame =
    collisionPairs(spark, path, dfNew, idCol, textCol, verifyAgainst)
      .dropDuplicates("id_new", "id_ref")

  /** Remove from `dfNew` every document whose estimated Jaccard against
    * ANY indexed document reaches `minEstJaccard` — the incremental
    * [[Dedup.dedupAgainst]]. The matched id set holds only colliding
    * ids (small), so AQE broadcasts the anti-join; repeated collision
    * rows change nothing (anti-join semantics), so neither the pair
    * dedup nor a distinct on the matched ids is paid here. */
  def dedupAgainstIndex(spark: SparkSession, path: String,
                        dfNew: DataFrame, idCol: String, textCol: String,
                        minEstJaccard: Double = 0.5,
                        verifyAgainst: Option[(DataFrame, String)] = None)
      : DataFrame = {
    val matched = collisionPairs(spark, path, dfNew, idCol, textCol,
        verifyAgainst)
      .filter(col("est_jaccard") >= minEstJaccard)
      .select(col("id_new").as(idCol))
    dfNew.join(matched, Seq(idCol), "left_anti")
  }
}
