package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructType}

import graft.store.{AttrValue, HDFStore}

/**
 * Structured-Streaming surface of the engine. The reference's only
 * stream-shaped operation is chunked `append` (`nimtables.nim:173-175`);
 * here that becomes a real streaming sink: micro-batches append segments
 * to an [[HDFStore]] table. Plus the standard streaming analytics the
 * `events` fixture calls for: watermarked tumbling windows and session
 * windows.
 *
 * Scale: the sink writes one segment per micro-batch per table — append
 * is metadata + new files only (never rewrites history), which is exactly
 * the behavior wanted on a 1000-executor cluster; segment compaction
 * ([[graft.table.HDFTable.compact]]) runs out-of-band.
 */
object EventStream {

  /** Normalize the fixture's `ts` (Long nanos under nanosAsLong, or a
    * timestamp) to a proper TimestampType column named `event_time`. */
  def withEventTime(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df.withColumn("event_time",
        // integer division — `col / 1000` would go through double and lose
        // precision beyond 2^53 (≈ ±256 ns on 2024 epoch-nanos)
        timestamp_micros(expr("ts div 1000")))
      case _ => df.withColumn("event_time", col("ts").cast("timestamp"))
    }

  /** Streaming append sink into a store table. Exactly-once per batch via
    * a recorded last-batch-id attribute (idempotent replay guard — the
    * standard foreachBatch discipline). Batch ids are PER CHECKPOINT, so
    * the guard attribute is keyed by the checkpoint location: a second
    * ingestion job with its own checkpoint starts at batch 0 without
    * having its data silently dropped. Table must already exist. */
  def appendSink(stream: DataFrame, store: HDFStore, table: String,
                 checkpoint: String, trigger: Trigger = Trigger.AvailableNow(),
                 transform: DataFrame => DataFrame = identity,
                 afterBatch: Long => Unit = _ => ()): StreamingQuery = {
    val guardKey = "lastBatchId:" +
      java.util.UUID.nameUUIDFromBytes(checkpoint.getBytes("UTF-8")).toString
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val done = store.attr(table, guardKey) match {
          case Some(AttrValue.I64(v)) => v
          case _                      => -1L
        }
        if (batchId > done) {
          // ONE atomic manifest commit: data + guard watermark together —
          // a crash between separate commits would re-append on replay.
          // The transform runs INSIDE the replayed region: a replayed
          // batch re-transforms and is then dropped by the guard, so a
          // non-deterministic transform still cannot double-append.
          val transformed = transform(batch)
          graft.Labels.labeled(batch.sparkSession,
            s"$table batch $batchId: store append") {
            store.table(table).appendWithAttr(transformed,
              Some(guardKey -> batchId))
          }
        }
        // post-commit hook (index maintenance): runs AFTER the batch
        // landed — and deliberately OUTSIDE the freshness guard, so a
        // crash inside the hook (the batch is already committed at that
        // point) re-fires it on the replayed batch instead of silently
        // dropping the maintenance until the next trip. The hook must
        // therefore be idempotent (compactIfOverdue is: health-gated,
        // staged-swap) and cheap when healthy.
        afterBatch(batchId)
      }
      .start()
  }

  /** Post-commit auto-maintenance for the index-ingest sinks: every
    * `maintainEvery` fresh batches, run
    * [[graft.ops.IndexMaintenance.compactIfOverdue]] on the tracked
    * index — the loop [[graft.ops.IndexMaintenance.indexHealth]] can
    * otherwise only report on. A pure-append stream never trips the
    * tombstone valve, but it DOES outgrow its id-Bloom sidecar; the
    * overdue check then compacts with an automatic Bloom resize (2× the
    * live ids at the original fpp), keeping the append guard's
    * false-positive mass bounded over an unbounded stream. A healthy
    * index costs one metadata-sized health check per trip; `0` (the
    * default) disables the hook. Runs AFTER the batch's atomic store
    * commit and outside the freshness guard, so a crash mid-compaction
    * re-fires on the replayed (guard-skipped) batch and simply
    * re-attempts (health-gated, staged-swap idempotent). */
  private def maintenanceHook(spark: SparkSession, indexPath: String,
                              maintainEvery: Int): Long => Unit =
    batchId =>
      if (maintainEvery > 0 && (batchId + 1) % maintainEvery == 0) {
        graft.ops.IndexMaintenance.compactIfOverdue(spark, indexPath)
        ()
      }

  /** [[appendSink]] with each micro-batch deduped against a persisted
    * [[graft.ops.DedupIndex]] before it lands — the continuous-ingest
    * shape: crawl batches stream in, documents near-duplicating the
    * indexed corpus snapshot are dropped in flight, survivors append to
    * the store table under the same exactly-once batch guard.
    *
    * Batch semantics, deliberately: each micro-batch probes the index as
    * a plain batch job (the collision-sized candidate join of
    * [[graft.ops.DedupIndex.pairsAgainstIndex]]), so no streaming state
    * accumulates here at all — the index IS the state, sized to the
    * corpus, not to the stream. Duplicates WITHIN the stream are a
    * different contract: compose [[dedupStream]] upstream for that
    * (watermark-bounded digest state), or re-index between batches.
    *
    * At 100 TB: the per-batch cost is the batch's own minhash (per-row
    * kernel) + one equi-join against the persisted 16-byte band rows —
    * per-batch work tracks batch size; the corpus text is never re-read
    * while the snapshot stands. */
  def dedupAgainstIndexSink(stream: DataFrame, store: HDFStore, table: String,
                            checkpoint: String, indexPath: String,
                            idCol: String, textCol: String,
                            minEstJaccard: Double = 0.5,
                            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    appendSink(stream, store, table, checkpoint, trigger,
      transform = batch => graft.ops.DedupIndex.dedupAgainstIndex(
        batch.sparkSession, indexPath, batch, idCol, textCol, minEstJaccard))

  /** [[dedupAgainstIndexSink]] with the missing half of continuous
    * ingest: each micro-batch's SURVIVORS are appended INTO the dedup
    * index before the batch commits, so batch N+1 dedupes against
    * batch N's survivors — the snapshot tracks the stream with no
    * manual re-indexing and no streaming state (the index IS the
    * state, sized to the corpus).
    *
    * Exactly-once shape: the whole per-batch pipeline (dedup → index
    * append → store append) runs inside [[appendSink]]'s replay-guarded
    * region, with the store commit LAST and atomic. A replay after the
    * index append but before the store commit is detected from the
    * index itself — some batch ids are already indexed
    * ([[graft.ops.IndexIds.presentIds]], Bloom-fast) — and the
    * survivors are RECOVERED as exactly those ids rather than
    * recomputed: recomputing would dedup the batch against its own
    * appended fingerprints and drop every survivor (est 1.0 with
    * itself), silently losing the batch. Requires stream ids globally
    * NEW vs the index (the [[graft.ops.DedupIndex.appendDedupIndex]]
    * contract — monotone crawl ids); a crash in the middle of the
    * index append itself remains that op's documented fail-loud
    * window (rebuild the index).
    *
    * Duplicates WITHIN a batch are refused by the append's id guard;
    * near-dups within a batch are a different contract — compose
    * [[dedupStream]] upstream for exact intra-stream dedup, or accept
    * that two near-dup docs arriving in ONE batch both land (each
    * later batch sees both).
    *
    * At 100 TB: per batch, one minhash pass over the batch (per-row
    * kernel), one equi-join against the persisted band rows, one
    * O(delta) index append — nothing corpus-sized moves while the
    * snapshot stands. */
  def dedupIndexIngestSink(stream: DataFrame, store: HDFStore, table: String,
                           checkpoint: String, indexPath: String,
                           idCol: String, textCol: String,
                           minEstJaccard: Double = 0.5,
                           trigger: Trigger = Trigger.AvailableNow(),
                           maintainEvery: Int = 0): StreamingQuery =
    appendSink(stream, store, table, checkpoint, trigger,
      afterBatch = maintenanceHook(stream.sparkSession, indexPath,
        maintainEvery),
      transform = batch => {
        val spark = batch.sparkSession
        import org.apache.spark.sql.types.LongType
        val ids = batch.select(col(idCol).cast(LongType).as("id"))
        val replayed = graft.Labels.labeled(spark, "ingest: replay probe") {
          val present = graft.ops.IndexIds.presentIds(spark, indexPath, ids,
            graft.ops.IndexMaintenance.readTree(spark, s"$indexPath/sigs").select("id"))
          if (present.limit(1).collect().nonEmpty) Some(present) else None
        }
        replayed match {
          case Some(present) =>
            // replayed batch: its survivors already live in the index —
            // recover them from membership instead of re-deduping
            batch.join(present.select(col("id").cast(LongType).as(idCol)),
              Seq(idCol), "left_semi")
          case None =>
            // localCheckpoint pins the survivor set: it feeds two jobs
            // (index append, store append) and must not be recomputed
            // after the index append changes what a recompute would see
            val survivors = graft.Labels.labeled(spark,
              "ingest: dedup probe") {
              graft.ops.DedupIndex.dedupAgainstIndex(
                spark, indexPath, batch, idCol, textCol, minEstJaccard)
                .localCheckpoint(true)
            }
            graft.Labels.labeled(spark, "ingest: index append") {
              graft.ops.DedupIndex.appendDedupIndex(survivors, idCol,
                textCol, indexPath)
            }
            survivors
        }
      })

  /** Streaming EMBEDDING ingest with the IVF index tracking the
    * stream — the ANN twin of [[dedupIndexIngestSink]]: each
    * micro-batch is cosine-deduped against the persisted IVF tree
    * ([[graft.ops.Similarity.embeddingDedupAgainstIndex]]), its
    * survivors' vectors are APPENDED into the index
    * ([[graft.ops.Similarity.appendIvfIndex]] — assignment from the
    * index's OWN codebook, so probe semantics never drift), and the
    * survivor rows land in the store table under [[appendSink]]'s
    * exactly-once batch guard. Batch N+1 thus drops near-copies
    * (cosine ≥ `minCosine`, scale-invariant) of batch N's survivors
    * with no manual re-indexing and no streaming state — the index IS
    * the state, sized to the corpus.
    *
    * Replays after a completed index append are detected from index
    * membership ([[graft.ops.IndexIds.presentIds]], Bloom-fast) and the
    * survivor set is RECOVERED from it rather than recomputed — a
    * recompute would match each survivor against its own appended
    * vector at cosine 1.0 and silently drop the whole batch. Same
    * contracts as the text/dedup twins: stream ids globally NEW and
    * monotone vs the index, within-batch duplicate ids refused by the
    * append's id guard; near-dups WITHIN one batch both land (each
    * later batch sees both). Per batch at 100 TB: one probe join over
    * the batch × probed lists, one O(delta) index append — nothing
    * corpus-sized moves while the snapshot stands. */
  def embedDedupIngestSink(stream: DataFrame, store: HDFStore, table: String,
                           checkpoint: String, indexPath: String,
                           idCol: String, vecCol: String,
                           minCosine: Double = 0.99, nprobe: Int = 4,
                           trigger: Trigger = Trigger.AvailableNow(),
                           maintainEvery: Int = 0): StreamingQuery =
    appendSink(stream, store, table, checkpoint, trigger,
      afterBatch = maintenanceHook(stream.sparkSession, indexPath,
        maintainEvery),
      transform = batch => {
        val spark = batch.sparkSession
        import org.apache.spark.sql.types.LongType
        val ids = batch.select(col(idCol).cast(LongType).as("id"))
        val replayed = graft.Labels.labeled(spark, "ingest: replay probe") {
          val present = graft.ops.IndexIds.presentIds(spark, indexPath, ids,
            graft.ops.IndexMaintenance.readTree(spark, indexPath).select("id"))
          if (present.limit(1).collect().nonEmpty) Some(present) else None
        }
        replayed match {
          case Some(present) =>
            batch.join(present.select(col("id").cast(LongType).as(idCol)),
              Seq(idCol), "left_semi")
          case None =>
            val survivors = graft.Labels.labeled(spark,
              "ingest: embed dedup probe") {
              graft.ops.Similarity.embeddingDedupAgainstIndex(
                spark, indexPath, batch, idCol, vecCol, minCosine, nprobe)
                .localCheckpoint(true)
            }
            graft.Labels.labeled(spark, "ingest: index append") {
              graft.ops.Similarity.appendIvfIndex(survivors, idCol, vecCol,
                indexPath)
            }
            survivors
        }
      })

  /** Streaming ingest into a persisted [[graft.ops.TextIndex]]: each
    * micro-batch's documents are appended INTO the text index (postings,
    * BM25 columns, positions, additive `_meta`) and then into the store
    * table under [[appendSink]]'s exactly-once batch guard — the
    * search/decontamination twin of [[dedupIndexIngestSink]]. Documents
    * become searchable ([[graft.ops.TextIndex.searchIndex]]/`BM25`/
    * `searchPhrase`) as soon as their batch commits, with no manual
    * re-index and no streaming state: the index is the state, sized to
    * the corpus, not the stream.
    *
    * Replay shape: a crash after the index append but before the store
    * commit re-delivers the batch; its ids are then already indexed
    * ([[graft.ops.IndexIds.presentIds]], Bloom-fast, zero index reads in
    * the common all-novel case), so the index append is SKIPPED and the
    * batch proceeds to the (idempotent) store commit — re-appending
    * would double its postings, the corruption the append guard exists
    * to refuse. Ids must be globally new versus the index (the
    * [[graft.ops.TextIndex.appendTextIndex]] contract — monotone crawl
    * ids).
    *
    * A batch of ONLY token-free documents indexes no postings, so
    * posting membership is structurally blind to its replay; for that
    * case (and ONLY that case — when the batch has any token, absent
    * postings prove the append never completed) the replay decision
    * falls back to the Bloom sidecar, which [[graft.ops.IndexIds
    * .guardAndMerge]] writes BEFORE any data lands: all-ids-in-Bloom ⇒
    * replayed, skip. Residual windows, both bounded to `_meta`'s
    * `n_rows`/BM25 statistics (token-free docs are unsearchable either
    * way): a fresh token-free batch whose every id false-positives
    * (probability fpp^batch) is skipped, and a token-free batch whose
    * first append crashed between the Bloom merge and the `_meta` write
    * is treated as complete on replay — in both, `n_rows` misses the
    * batch instead of double-counting it.
    *
    * At 100 TB: per batch, one tokenize+explode over the batch's own
    * text, one bucket-partitioned O(delta) write, one Bloom merge —
    * nothing corpus-sized moves; probes stay partition-pruned while the
    * stream runs.
    *
    * `bpeModelPath` additionally lands each document PRE-TOKENIZED: a
    * `token_ids` column (`array<bigint>`, [[graft.ops.Bpe.encodeIdsCol]]
    * — one codegen'd projection per batch, the model riding the
    * serialized kernel) is appended to every stored row, so downstream
    * token-budget ops (pack/chunk/count) read actual model tokens
    * without re-encoding the corpus. The table must have been created
    * with that column. Replay-sound twice over: token ids are a pure
    * function of (text, model), and the MODEL IDENTITY is stamped on
    * the table's metadata as a CONTENT fingerprint (`bpeModelFp`
    * attribute, [[graft.ops.Bpe.fingerprint]]; the path rides along in
    * `bpeModel` as provenance) on the first batch — a restart under a
    * model with DIFFERENT content (including one retrained and
    * re-saved over the same path) is refused loudly before anything
    * mutates, while the same model at another path is accepted;
    * `deleteAttr(table, "bpeModelFp")` first after a deliberate
    * corpus-wide re-tokenize. */
  def textIndexIngestSink(stream: DataFrame, store: HDFStore, table: String,
                          checkpoint: String, indexPath: String,
                          idCol: String, textCol: String,
                          trigger: Trigger = Trigger.AvailableNow(),
                          maintainEvery: Int = 0,
                          bpeModelPath: Option[String] = None): StreamingQuery = {
    // model loaded ONCE at sink construction (driver); refuses a legacy
    // no-vocab model before any batch runs. The identity STAMP is
    // deferred to the first batch (micro-batches run sequentially on
    // the driver): a sink that is constructed but never starts (bad
    // checkpoint, query error before batch 0) leaves no stamp behind,
    // and the check runs FIRST in the batch — before the index append
    // and the store commit — so a model-mix refusal kills the batch
    // with neither side mutated, and no row can ever land unstamped.
    val bpe: Option[(String, graft.ops.Bpe.BpeModel, String, String)] =
      bpeModelPath.map { p =>
        val model = graft.ops.Bpe.loadBpeModel(stream.sparkSession, p)
        (p, model, graft.ops.Bpe.fingerprint(model),
          graft.ops.Bpe.fingerprintLegacy(model))
      }
    appendSink(stream, store, table, checkpoint, trigger,
      afterBatch = maintenanceHook(stream.sparkSession, indexPath,
        maintainEvery),
      transform = batch => {
        bpe.foreach { case (p, _, fp, legacyFp) =>
          stampBpeModel(store, table, p, fp, legacyFp) }
        val spark = batch.sparkSession
        val fresh = graft.Labels.labeled(spark, "ingest: replay probe") {
          !textBatchReplayed(spark, indexPath, batch, idCol, textCol)
        }
        if (fresh)
          graft.Labels.labeled(spark, "ingest: index append") {
            graft.ops.TextIndex.appendTextIndex(batch, idCol, textCol,
              indexPath)
          }
        bpe.fold(batch) { case (_, model, _, _) =>
          batch.withColumn("token_ids",
            graft.ops.Bpe.encodeIdsCol(col(textCol), model))
        }
      })
  }

  /** Record (or verify) which BPE model tokenizes a store table: the
    * first batch stamps the model's CONTENT fingerprint
    * ([[graft.ops.Bpe.fingerprint]], attr `bpeModelFp`; the save path
    * rides along in `bpeModel` as provenance), later sinks must match
    * it — rows encoded under two different merge tables in one table
    * would be silently incomparable, the corruption this refuses.
    * Keying on CONTENT is what makes the guard sound: a model
    * retrained and re-saved over the SAME path (saveBpeModel writes
    * mode overwrite) changes the fingerprint and is refused, while the
    * same model re-saved at a different path (or the same path spelled
    * two ways) matches and proceeds. Two stamp generations migrate in
    * place, once each, on first contact with the same content: a table
    * stamped before the fingerprint existed carries only the path attr
    * (verify by path, then stamp the fingerprint), and a table stamped
    * under the PRE-r14 fingerprint scheme matches `legacyFp` (same
    * content, older serialization — upgraded to the current scheme,
    * not refused as a different model). */
  private def stampBpeModel(store: HDFStore, table: String,
                            path: String, fp: String,
                            legacyFp: String): Unit =
    store.attr(table, "bpeModelFp") match {
      case Some(AttrValue.Str(prev)) if prev == legacyFp && prev != fp =>
        // same model content, pre-r14 fingerprint scheme: upgrade the
        // stamp in place (the path->fp migration discipline)
        store.setAttr(table, "bpeModelFp", fp)
      case Some(AttrValue.Str(prev)) =>
        require(prev == fp,
          s"table '$table' is tokenized under the BPE model fingerprinted " +
            s"'${prev.take(12)}…'; refusing model '$path' (fingerprint " +
            s"'${fp.take(12)}…') — one table, one tokenization (deleteAttr " +
            "'bpeModelFp' after a deliberate corpus-wide re-encode; a " +
            "MATCHING model stamped under the pre-r14 fingerprint scheme " +
            "would have been upgraded in place, so this mismatch is a " +
            "real content difference)")
      case Some(other) => throw new IllegalArgumentException(
        s"table '$table' has a non-string 'bpeModelFp' attribute: $other")
      case None =>
        store.attr(table, "bpeModel") match {
          case Some(AttrValue.Str(prevPath)) =>
            // legacy stamp: path-keyed once more, then upgraded
            require(prevPath == path,
              s"table '$table' is tokenized under BPE model '$prevPath' " +
                s"(legacy path stamp); refusing '$path' — one table, one " +
                "tokenization (deleteAttr 'bpeModel' after a deliberate " +
                "corpus-wide re-encode)")
          case Some(other) => throw new IllegalArgumentException(
            s"table '$table' has a non-string 'bpeModel' attribute: $other")
          case None => store.setAttr(table, "bpeModel", path)
        }
        store.setAttr(table, "bpeModelFp", fp)
    }

  /** [[textIndexIngestSink]]'s replay decision, separated for direct
    * testing: true iff `batch` is a re-delivery of a batch whose index
    * append already completed. All-or-nothing per batch: any indexed id
    * marks the whole batch as replayed (appendTextIndex is one job over
    * the batch). Token-free batches decide by Bloom membership — see
    * the sink doc for the exact soundness argument and the two bounded
    * residual windows. */
  private[graft] def textBatchReplayed(spark: SparkSession, indexPath: String,
                                       batch: DataFrame, idCol: String,
                                       textCol: String): Boolean = {
    val ids = batch.select(col(idCol).cast(LongType).as("id"))
    // membership against posting ids PLUS the _tokenfree sidecar — a
    // completed token-free append is visible here PRECISELY, so the
    // Bloom fallback below only ever decides for trees with no sidecar
    // (legacy, or the bounded crash window between the Bloom merge and
    // the sidecar write)
    graft.ops.IndexIds.load(spark, indexPath) match {
      case Some(ib) =>
        // ONE batch-sized aggregate answers every per-batch question the
        // old form paid a separate job for (Bloom suspect probe +
        // token-free probe — two jobs per FRESH batch, the common case):
        // any Bloom hit, every-id-in-Bloom, any token in the batch. The
        // precise verify against the index runs only on a Bloom hit
        // (replays and the ~fpp false-positive fraction).
        val bc = spark.sparkContext.broadcast(ib.bloom)
        try {
          val hit = col("_ib_id").isNotNull &&
            graft.functions.native.bloom_might_contain(col("_ib_id"), bc)
          val r = batch.select(col(idCol).cast(LongType).as("_ib_id"),
              col(textCol).as("_ib_t"))
            .agg(
              coalesce(max(when(hit, lit(1L))), lit(0L)).as("anyHit"),
              coalesce(max(when(col("_ib_id").isNotNull && !hit, lit(1L))),
                lit(0L)).as("anyMiss"),
              coalesce(max(when(
                size(graft.ops.TextIndex.postingTokens(col("_ib_t"))) > 0,
                lit(1L))), lit(0L)).as("anyTok"))
            .head()
          val (anyHit, allInBloom, tokenFree) =
            (r.getLong(0) == 1L, r.getLong(1) == 0L, r.getLong(2) == 0L)
          if (anyHit) {
            val present = graft.ops.IndexIds.presentIds(spark, indexPath, ids,
              graft.ops.TextIndex.indexedIds(spark, indexPath))
            if (present.limit(1).collect().nonEmpty) true
            else tokenFree && allInBloom
          } else tokenFree && allInBloom // no hit ⇒ allInBloom only vacuously
        } finally bc.destroy()
      case None =>
        // sidecar-less legacy tree: the unfused precise path
        val present = graft.ops.IndexIds.presentIds(spark, indexPath, ids,
          graft.ops.TextIndex.indexedIds(spark, indexPath))
        if (present.limit(1).collect().nonEmpty) true
        else {
          val tokenFree = batch
            .select(explode(graft.ops.TextIndex.postingTokens(col(textCol)))
              .as("_t"))
            .limit(1).collect().isEmpty
          tokenFree && graft.ops.IndexIds.allPresentInBloom(spark, indexPath,
            ids)
        }
    }
  }

  /** Quality-filtered ingest: each micro-batch is scored by a TRAINED
    * [[graft.ops.Classifier.NbModel]] (the fastText-style NB quality
    * filter — train offline on a labeled sample, [[graft.ops.Classifier.loadModel]]
    * it here) and only rows with `nb_score > minScore` land in the
    * store table, under [[appendSink]]'s exactly-once batch guard. The
    * model rides the closure as a broadcast-sized constant; scoring is
    * one broadcast-join pass per batch, so the sink is stateless —
    * per-row decisions, no cross-batch coupling, replay-safe by the
    * guard alone. Featureless documents score NULL and are DROPPED
    * (NULL > x is never true): route empties to their own sink if they
    * must be kept. */
  def classifierFilterSink(stream: DataFrame, store: HDFStore, table: String,
                           checkpoint: String,
                           model: graft.ops.Classifier.NbModel,
                           idCol: String, textCol: String,
                           minScore: Double = 0.0,
                           trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    appendSink(stream, store, table, checkpoint, trigger,
      transform = batch => {
        val keep = graft.ops.Classifier
          .scoreNaiveBayes(batch, model, idCol, textCol)
          .filter(col("nb_score") > minScore).select(col(idCol))
        batch.join(keep, Seq(idCol), "left_semi")
      })

  /** DECONTAMINATION at ingest — benchmark hygiene applied where
    * documents ARRIVE rather than in a later sweep: each micro-batch is
    * probed against the persisted benchmark n-gram index at `indexPath`
    * ([[graft.ops.Contamination.buildBenchIndex]]) and only rows
    * sharing fewer than `minShared` distinct n-grams with EVERY
    * benchmark document land in the store table, under [[appendSink]]'s
    * exactly-once batch guard. Stateless like [[classifierFilterSink]]:
    * the index rides as a snapshot (Bloom prefilter + broadcast
    * postings — [[graft.ops.Contamination.ngramOverlapIndexed]]'s
    * shape, so a clean batch pays one per-row shingle pass and almost
    * no join probes), decisions are per-row, replays drop at the
    * guard — a contaminated document can never land, and a clean one
    * can never be lost to a replay. When the benchmark suite changes,
    * rebuild the index; pass `verifyAgainst` to pin the index's build
    * stamp against the live suite once at sink construction. */
  def decontaminateSink(stream: DataFrame, store: HDFStore, table: String,
                        checkpoint: String, indexPath: String,
                        idCol: String, textCol: String,
                        minShared: Long = 2L,
                        trigger: Trigger = Trigger.AvailableNow(),
                        verifyAgainst: Option[(DataFrame, String)] = None)
      : StreamingQuery = {
    verifyAgainst.foreach { case (bench, benchId) =>
      graft.ops.Contamination.requireBenchIndexFresh(
        stream.sparkSession, indexPath, bench, benchId) }
    appendSink(stream, store, table, checkpoint, trigger,
      transform = batch => {
        // no distinct on the dirty side: a left-anti join ignores
        // right-side duplicates, so the dedup exchange was pure cost
        val dirty = graft.ops.Contamination.ngramOverlapIndexed(
            batch.sparkSession, indexPath, batch, idCol, textCol, minShared)
          .select(col("doc_id").as(idCol))
        batch.join(dirty, Seq(idCol), "left_anti")
      })
  }

  /** Continuously-maintained corpus token statistics: each micro-batch's
    * Count-Min sketch merges into the persisted tree at `path` —
    * cell-for-cell identical to a one-shot batch sketch over everything
    * ingested so far (CM merge is exact counter addition), while the
    * tree stays depth×width-bounded regardless of stream volume. The
    * stream supplies one row per token occurrence in `tokenCol`
    * (explode upstream); probe the tree any time with
    * [[graft.ops.Sketch.loadCountMin]] + `countMinEstimate`.
    *
    * Exactly-once: [[graft.ops.Sketch.countMinMergeInto]] — the batch
    * guard rides the tree's `_meta` (replays skip; a tree maintained
    * under a different checkpoint or without a guard is refused), and
    * each merge lands via staged write + two-rename swap, with
    * `restoreCountMinAfterCrash` covering the between-renames window.
    * No streaming state: the SKETCH is the state, bounded by shape, so
    * this runs forever over an unbounded stream. */
  /** Streaming CONTEXT-WINDOW ingest — the live form of
    * [[graft.ops.TokenStream.sliceWindows]]: arriving tokenized
    * documents append to the global token stream in (batch order,
    * `idCol` asc) order, every COMPLETED `ctxLen`-token window publishes
    * to the store table ([[graft.ops.TokenStream.sliceWindows]]'
    * schema, global window ids and doc positions), and the partial tail
    * (< ctxLen tokens, kept as per-document segments WITH their global
    * position provenance) carries to the next micro-batch. The
    * published windows, the new tail, and the replay watermark commit
    * in ONE atomic manifest write ([[graft.table.HDFTable]]
    * `appendWithAttr`), so a replayed batch recomputes from unchanged
    * state and is dropped whole — exactly-once, crash-anywhere.
    *
    * BATCH-EQUIVALENT by construction: after any prefix of batches the
    * published windows plus the carried tail equal `sliceWindows` over
    * the concatenated prefix (the `x_stream_window_ingest` gate pins
    * the full payload against a DuckDB replay of the union).
    *
    * `idCol` must be unique and non-null per batch (it is the arrival
    * order surrogate INSIDE a micro-batch — refused loudly otherwise);
    * token arrays must be non-null (sliceWindows' rule). Token element
    * types round-trip through the tail state as strings — use string
    * or integral tokens (ids), not floats.
    *
    * Scale shape: per batch, sliceWindows' own discipline (per-block
    * offsets, array-slice segments, ONE window_id shuffle) over the
    * BATCH only; the carried state is ≤ ctxLen tokens + three longs in
    * one table attribute — no streaming state store, nothing grows
    * with the stream. */
  def contextWindowIngestSink(stream: DataFrame, store: HDFStore,
                              table: String, checkpoint: String,
                              idCol: String, tokensCol: String,
                              ctxLen: Int, blocks: Int = 1024,
                              trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(ctxLen >= 1, s"ctxLen must be >= 1, got $ctxLen")
    val stateKey = "ctxWindows:" +
      java.util.UUID.nameUUIDFromBytes(checkpoint.getBytes("UTF-8")).toString
    val elemType = stream.schema(tokensCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(e, _) => e
      case other => throw new IllegalArgumentException(
        s"contextWindowIngestSink: '$tokensCol' must be an array " +
          s"column, got ${other.simpleString}")
    }
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val st = loadCtxState(store, table, stateKey)
        if (batchId > st.batchId) {
          val ids = batch.select(col(idCol).cast(LongType).as("_id"),
            col(tokensCol).as("_cw_ts"))
          // one narrow agg checks the arrival-order contract AND fixes
          // the batch size (countDistinct skips NULLs, so equality
          // implies both uniqueness and no NULL id) AND measures the
          // max id + token total — feeding densify's block width, the
          // slice's N, and the window arithmetic below, so none of them
          // pays its own counting job (4 narrow jobs fused into 1)
          val chk = ids.agg(count(lit(1)), countDistinct(col("_id")),
            max(col("_id")),
            coalesce(sum(greatest(size(col("_cw_ts")), lit(0))
              .cast(LongType)), lit(0L))).head()
          val nBatch = chk.getLong(0)
          require(nBatch == chk.getLong(1),
            s"contextWindowIngestSink: '$idCol' must be unique and " +
              s"non-null per batch ($nBatch rows, ${chk.getLong(1)} " +
              "distinct non-null ids)")
          val batchTokens = chk.getLong(3)
          // the batch takes stream positions nextPos + rank(id) —
          // per-block rank, never a global sort
          val ranked = graft.ops.TokenStream.densifyPositions(
            ids, "_id", "_bp", blocks,
            knownMax = if (chk.isNullAt(2)) None else Some(chk.getLong(2)))
          val k = st.tail.size.toLong
          // the carried tail rides ahead at local positions [0, k)
          val tailRows = st.tail.zipWithIndex.map { case ((p, toks), i) =>
            org.apache.spark.sql.Row(i.toLong, p, toks) }
          val tailDf = spark.createDataFrame(
            spark.sparkContext.parallelize(tailRows.toSeq, 1),
            StructType(Seq(
              org.apache.spark.sql.types.StructField("_lp", LongType),
              org.apache.spark.sql.types.StructField("_gp", LongType),
              org.apache.spark.sql.types.StructField("_cwstr",
                org.apache.spark.sql.types.ArrayType(
                  org.apache.spark.sql.types.StringType)))))
            .withColumn("_cw_ts", col("_cwstr")
              .cast(org.apache.spark.sql.types.ArrayType(elemType)))
          val local = tailDf.select("_lp", "_cw_ts")
            .unionByName(ranked.select((col("_bp") + k).as("_lp"),
              col("_cw_ts")))
          // local -> GLOBAL doc positions: tail entries keep their
          // recorded provenance, batch docs continue the stream
          val tailMap = st.tail.zipWithIndex
            .map { case ((p, _), i) => i.toString -> p }.toMap
          def gpos(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
            if (tailMap.isEmpty) c - lit(k) + lit(st.nextPos)
            else when(c < lit(k),
              element_at(typedLit(tailMap), c.cast("string")))
              .otherwise(c - lit(k) + lit(st.nextPos))
          val wins = graft.ops.TokenStream.sliceWindowsN(local, "_lp",
              "_cw_ts", ctxLen, blocks, dropPartial = false,
              knownN = Some(k + nBatch))
            .select((col("window_id") + st.nextWindow).as("window_id"),
              col("tokens"),
              transform(col("doc_spans"), x => struct(
                gpos(x.getField("pos")).as("pos"),
                x.getField("start").as("start"),
                x.getField("len").as("len"))).as("doc_spans"),
              col("n_tok"), col("n_docs"),
              gpos(col("min_pos")).as("min_pos"),
              gpos(col("max_pos")).as("max_pos"))
            // materialized once: the full-window publish and the tail
            // extraction both read it, and the new state must be final
            // BEFORE the atomic commit
            .localCheckpoint(true)
          try {
            val partial = wins.filter(col("n_tok") < ctxLen.toLong).collect()
            require(partial.length <= 1,
              s"impossible: ${partial.length} partial windows in one batch")
            val newTail: Seq[(Long, Seq[String])] =
              partial.headOption.map { r =>
                val toks = r.getSeq[Any](r.fieldIndex("tokens"))
                r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("doc_spans"))
                  .map { sp =>
                    (sp.getLong(0), toks.slice(sp.getLong(1).toInt,
                      (sp.getLong(1) + sp.getLong(2)).toInt)
                      .map(String.valueOf).toSeq)
                  }.toSeq
              }.getOrElse(Seq.empty)
            // full-window count is ARITHMETIC, not a count job: the
            // stream holds tailTokens + batchTokens tokens, full windows
            // = floor(T / ctxLen); the collected partial row must agree
            // (the cross-check refuses a drifted accounting loudly)
            val totalTok = st.tail.iterator.map(_._2.size.toLong).sum +
              batchTokens
            require((totalTok % ctxLen != 0L) == (partial.length == 1),
              s"contextWindowIngestSink: token accounting drift — " +
                s"$totalTok tokens mod $ctxLen vs ${partial.length} " +
                "partial window(s)")
            val newState = CtxState(batchId,
              st.nextWindow + totalTok / ctxLen,
              st.nextPos + nBatch, newTail)
            store.table(table).appendWithAttr(
              wins.filter(col("n_tok") === ctxLen.toLong),
              Some(stateKey -> ctxStateJson(newState)))
          } finally { wins.unpersist(); () }
        }
      }
      .start()
  }

  private[graft] case class CtxState(batchId: Long, nextWindow: Long,
                                     nextPos: Long,
                                     tail: Seq[(Long, Seq[String])])

  private def ctxStateJson(st: CtxState): String = {
    import org.json4s.JsonDSL._
    org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(
        ("batchId" -> st.batchId) ~ ("nextWindow" -> st.nextWindow) ~
          ("nextPos" -> st.nextPos) ~
          ("tail" -> st.tail.map { case (p, ts) =>
            ("p" -> p) ~ ("t" -> ts.toList) })))
  }

  private[graft] def loadCtxState(store: HDFStore, table: String,
                                  key: String): CtxState =
    store.attr(table, key) match {
      case Some(AttrValue.Str(s)) =>
        implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
        val j = org.json4s.jackson.JsonMethods.parse(s)
        CtxState(
          (j \ "batchId").extract[Long],
          (j \ "nextWindow").extract[Long],
          (j \ "nextPos").extract[Long],
          (j \ "tail").extract[List[org.json4s.JValue]].map(e =>
            ((e \ "p").extract[Long],
              (e \ "t").extract[List[String]].toSeq)))
      case Some(other) => throw new IllegalArgumentException(
        s"table '$table' has a non-string '$key' attribute: $other")
      case None => CtxState(-1L, 0L, 0L, Nil)
    }

  def countMinIngestSink(stream: DataFrame, tokenCol: String, path: String,
                         checkpoint: String, depth: Int = 4,
                         width: Int = 1 << 16,
                         trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val guardKey = "cmIngest:" +
      java.util.UUID.nameUUIDFromBytes(checkpoint.getBytes("UTF-8")).toString
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.ops.Sketch.countMinMergeInto(batch.sparkSession, path, batch,
          tokenCol, depth, width, guardKey, batchId); ()
      }
      .start()
  }

  /** Watermarked tumbling-window counts per event type. The value sum
    * accumulates as exact decimal before the double cast — float
    * summation order differs between micro-batch boundaries, engines,
    * and partitionings, while decimal sums do not, so the streaming
    * result is bit-identical to the batch aggregation and a SQL oracle
    * (the `x_stream_window` gate relies on this). */
  def windowedCounts(stream: DataFrame, window: String = "30 minutes",
                     watermark: String = "1 hour"): DataFrame =
    withEventTime(stream)
      .withWatermark("event_time", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("event_time"), window),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast(org.apache.spark.sql.types.DoubleType).as("sum_value"))

  /** Streaming exact dedup — the streaming form of
    * [[graft.ops.Dedup.exact]]: keep the first document per content
    * digest, dropping any duplicate that arrives within the watermark
    * horizon (`dropDuplicatesWithinWatermark`, so state is evicted by
    * the watermark without forcing event-time into the dedup key).
    *
    * Scale: state holds one 16-byte md5 digest per distinct document
    * seen inside the horizon — documents themselves never enter the
    * state store or shuffle beyond their digest-keyed exchange — and the
    * watermark bounds that state regardless of total stream volume. */
  def dedupStream(stream: DataFrame, textCol: String, eventTimeCol: String,
                  watermark: String = "1 hour"): DataFrame =
    stream.withWatermark(eventTimeCol, watermark)
      .withColumn("_digest", md5(col(textCol)))
      .dropDuplicatesWithinWatermark("_digest")
      .drop("_digest")

  /** Stream-static ENRICHMENT join — the fact-stream × dimension-table
    * shape of an ingestion pipeline (attach user / source / license
    * attributes to events in flight). Stateless: no watermark and no
    * state store; every micro-batch plans a broadcast hash join against
    * the static side, which is re-resolved per batch — dimension
    * updates are picked up from the next micro-batch on. LEFT join:
    * facts must not be dropped because their dimension row is missing
    * or late; unmatched events carry nulls for the dim columns.
    *
    * Scale: the dim side is broadcast to every executor, so it must be
    * broadcast-sized (dimensions usually are); a corpus-sized "dim"
    * belongs in a batch join after landing, not on the hot stream. */
  def enrich(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** Session windows (gap-based) per user — the streaming form of
    * [[graft.ops.Sessionize.sessions]], on the native `session_window`
    * state (sessions merge while event gaps stay BELOW the gap; an
    * exactly-gap-sized pause starts a new session — window ends are
    * exclusive). The value sum rides the [[windowedCounts]] decimal
    * discipline so the result is micro-batch- and engine-exact. */
  def sessionWindows(stream: DataFrame, gap: String = "30 minutes",
                     watermark: String = "2 hours"): DataFrame =
    withEventTime(stream)
      .withWatermark("event_time", watermark)
      .groupBy(session_window(col("event_time"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast(org.apache.spark.sql.types.DoubleType).as("sum_value"))

  // event_time rides along untouched: the unsupported-operation checker
  // requires the WATERMARKED column itself in the flatMapGroupsWithState
  // input (a projection of it does not carry the watermark tag)
  private[graft] case class UEvent(user_id: Long, v: scala.math.BigDecimal,
                                   ts_us: Long, event_time: java.sql.Timestamp)
  private[graft] case class UState(n: Long, sum: scala.math.BigDecimal,
                                   hasVal: Boolean, minUs: Long, maxUs: Long)
  private[graft] case class UserSummary(user_id: Long, n_events: Long,
                                        sum_value: scala.math.BigDecimal,
                                        first_us: Long, last_us: Long)

  /** Per-user activity summaries via CUSTOM streaming state — the
    * `flatMapGroupsWithState` surface of the engine. A user's state is
    * one fixed-size record (count, exact-decimal value sum, first/last
    * event micros); when the user has been inactive for `gap` of EVENT
    * time (event-time timeout against the watermark, not wall clock),
    * the summary is emitted once and the state evicted.
    *
    * Scale: state is O(active users within the inactivity horizon),
    * independent of event volume — events fold into the record and are
    * gone; nothing buffers. The fold is ORDER-INDEPENDENT (count, sum,
    * min, max), so the emitted summary is identical under any
    * micro-batch partitioning of the stream — which is also what makes
    * the `x_stream_user_summary` gate exact: once every user times out,
    * the output IS the batch `GROUP BY user_id` (decimal-exact sum, as
    * in [[windowedCounts]]). Null values are skipped by the sum and
    * counted by `n_events`, mirroring SQL aggregation.
    *
    * Standard watermark semantics apply: input rows older than the
    * current watermark are DROPPED before reaching the state function
    * (as in every watermarked stateful operator) — size `watermark` to
    * the stream's real disorder. Batch-equality therefore holds when
    * cross-batch arrival respects the watermark (StreamingSpec
    * exercises an event-time-ordered multi-batch run; its sibling
    * comment documents the adversarial case). */
  def userSummaries(stream: DataFrame, gap: String = "30 days",
                    watermark: String = "1 hour"): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val ev = withEventTime(stream)
      .withWatermark("event_time", watermark)
      .select(col("user_id").cast(LongType).as("user_id"),
        // decimal BEFORE summing: float accumulation order would differ
        // across micro-batch boundaries and engines; decimal does not
        col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("v"),
        unix_micros(col("event_time")).as("ts_us"),
        col("event_time"))
      .as[UEvent]
    val func = (uid: Long, events: Iterator[UEvent], state: GroupState[UState]) =>
      if (state.hasTimedOut) {
        // inactivity deadline passed: emit once, evict
        val s = state.get
        state.remove()
        Iterator.single(UserSummary(uid, s.n,
          if (s.hasVal) s.sum else null, s.minUs, s.maxUs))
      } else {
        var s = state.getOption.getOrElse(
          UState(0L, scala.math.BigDecimal(0), hasVal = false,
            Long.MaxValue, Long.MinValue))
        events.foreach { e =>
          s = UState(s.n + 1,
            if (e.v == null) s.sum else s.sum + e.v,
            s.hasVal || e.v != null,
            math.min(s.minUs, e.ts_us), math.max(s.maxUs, e.ts_us))
        }
        state.update(s)
        // deadline rides the user's OWN last event time, not the batch:
        // out-of-order arrivals inside the watermark extend it correctly
        state.setTimeoutTimestamp(s.maxUs / 1000L, gap)
        Iterator.empty
      }
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState[UState, UserSummary](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(func)
      .toDF()
      .select(col("user_id"), col("n_events"),
        col("sum_value").cast(org.apache.spark.sql.types.DoubleType).as("sum_value"),
        col("first_us"), col("last_us"))
  }
}
