package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}

/**
 * Fixed-length CONTEXT-WINDOW slicing over the shuffled token stream —
 * the step that turns a tokenized, permuted corpus into the artifact an
 * autoregressive trainer actually consumes: conceptually concatenate
 * every document's tokens in `shuffle_pos` order (one infinite stream)
 * and cut it into consecutive windows of exactly `ctxLen` tokens, each
 * window holding the tail of one document, zero or more whole
 * documents, and the head of the next. This is the GPT-style
 * "concatenate then chunk" layout ([[Sample.packByTokenBudget]] is the
 * other convention — packs never split a document; this one never
 * wastes a token slot).
 *
 * The reference stores positional tables whose row order IS the
 * consumption order (`nimtables.nim:173-175` — append-only growth, read
 * by position); this lifts that contract to token granularity at corpus
 * scale: window `w` holds exactly global token positions
 * `[w·ctxLen, (w+1)·ctxLen)` of the permuted stream, so any engine that
 * agrees on the permutation agrees on every window bit-for-bit.
 *
 * Scale shape — no global sort anywhere:
 *   1. one NARROW pass (count) fixes N;
 *   2. one NARROW pass (positions + token counts only, grouped into
 *      `blocks` contiguous position blocks) verifies the permutation is
 *      dense and prefix-sums per-block token totals on the driver
 *      (≤ `blocks` longs — the [[Sample.shuffleRank]] two-pass
 *      discipline);
 *   3. the full-width pass: a per-block window attaches each row's
 *      exact global token offset (hash shuffle on the block column),
 *      each document then emits one ARRAY SLICE per window it overlaps
 *      (`O(n/ctxLen + 1)` rows per doc — never a per-token explode),
 *      and a hash shuffle on `window_id` reassembles each window from
 *      its ≤ ctxLen-token segments.
 * Honest shuffle accounting: the token payload moves through TWO hash
 * shuffles (the block-offset window, then the reassembly) — ~2× corpus
 * bytes. The declarative alternatives don't beat it: joining a
 * narrowly-computed offset map back still shuffles the full rows once
 * by position plus the reassembly, and a per-token explode moves the
 * same bytes as ctxLen× more rows. The known 1×-ish design — assemble
 * windows block-locally after the offset shuffle (a window's segments
 * are position-contiguous, so only windows straddling block boundaries
 * need a second, tiny exchange) — needs imperative per-partition code.
 * The constant is MEASURED (ScaleDrive, ~1.0B tokens at ctx 2048):
 * 1.47× the one-shuffle reference — compressed segment rows cost well
 * under the nominal 2×, so the declarative form STAYS (DESIGN §8;
 * a 3× regression assert guards the shape at scale).
 * Per-group state is bounded by ctxLen tokens; nothing
 * driver-side scales with the corpus. The output composes directly with
 * [[ShardWriter.writeShards]] (`window_id` is the dense position of
 * the window stream — see the gate fixture).
 */
object TokenStream {

  /** Slice the global token stream — `tokensCol` arrays concatenated in
    * `posCol` order — into consecutive `ctxLen`-token windows.
    *
    * Output (one row per window): `window_id` (dense, 0-based, the
    * window's rank in the stream), `tokens` (the window's slice, same
    * element type as the input arrays), `n_tok` (its length — `ctxLen`
    * for every window except possibly the last), `n_docs` (documents
    * contributing at least one token), `min_pos`/`max_pos` (the
    * contributing documents' position range — provenance for resume
    * and audit). With `dropPartial` (the default) the tail window is
    * dropped unless it is exactly full — the training convention; keep
    * it for lossless accounting.
    *
    * Each window also carries `doc_spans` — the document boundaries
    * INSIDE the window as `(pos, start, len)` structs in slot order
    * (`start` = the segment's first slot, spans tile `[0, n_tok)`
    * contiguously): the metadata a trainer needs to reset attention
    * across document boundaries, and the full provenance of every
    * token slot. Document SEPARATORS are the caller's dial — append
    * one upstream (`concat(ts, array(lit(eos)))`) and the separator
    * occupies its slot like any token.
    *
    * `posCol` must be the DENSE `[0, N)` permutation produced by
    * [[Sample.shuffleRank]] — run the shuffle AFTER the final
    * selection. A hole, duplicate, or NULL refuses loudly (a silently
    * mis-ordered stream would desynchronize every window after the
    * defect). NULL token arrays refuse per offending row (a NULL has
    * no stream footprint — fix or filter upstream); EMPTY arrays are
    * legal and contribute nothing. `df` is evaluated three times (the
    * narrow passes are deterministic) — cache upstream if it is an
    * expensive derived pipeline. */
  def sliceWindows(df: DataFrame, posCol: String, tokensCol: String,
                   ctxLen: Int, blocks: Int = 1024,
                   dropPartial: Boolean = true): DataFrame =
    sliceWindowsN(df, posCol, tokensCol, ctxLen, blocks, dropPartial,
      knownN = None)

  /** [[sliceWindows]] with the input row count already measured by the
    * caller (a streaming sink counts its batch anyway) — skips pass 1,
    * one fewer narrow job per call. The density law (pass 2) still
    * validates the full `[0, N)` permutation against `knownN`, so a
    * wrong hint refuses exactly like a corrupt position column. */
  private[graft] def sliceWindowsN(df: DataFrame, posCol: String,
                                   tokensCol: String, ctxLen: Int,
                                   blocks: Int, dropPartial: Boolean,
                                   knownN: Option[Long]): DataFrame = {
    require(ctxLen >= 1, s"ctxLen must be >= 1, got $ctxLen")
    // same bound and rationale as shuffleRank's buckets: the per-block
    // token offsets ride the plan as a broadcast map literal
    require(blocks >= 1 && blocks <= (1 << 16),
      s"blocks must be in [1, 65536], got $blocks")
    require(df.schema(tokensCol).dataType.isInstanceOf[ArrayType],
      s"sliceWindows: '$tokensCol' must be an array column, got " +
        df.schema(tokensCol).dataType.simpleString)
    // internal working columns — a same-named input column would be
    // silently replaced (withColumn semantics) and corrupt the stream
    df.columns.filter(_.startsWith("_ts")).foreach(c =>
      require(false, s"sliceWindows: input column '$c' collides with " +
        "the operator's internal '_ts*' namespace — rename it first"))
    val posL = col(posCol).cast(LongType)
    // NULL positions / arrays fail loudly per row — both raises ride
    // the narrow pass that feeds the offset computation (no extra scan)
    val checkedPos = when(col(posCol).isNotNull, posL)
      .otherwise(raise_error(lit(
        s"sliceWindows: position column '$posCol' must be non-null — " +
          "a NULL position has no place in the token stream")))
    val checkedN = when(col(tokensCol).isNotNull,
      size(col(tokensCol)).cast(LongType))
      .otherwise(raise_error(concat(
        lit(s"sliceWindows: token array ('$tokensCol') must be non-null, "),
        lit("got NULL for position "),
        coalesce(posL.cast("string"), lit("NULL")))))

    // empty selection -> empty window stream (the WRITER refuses
    // empties; a transform composes)
    def empty = df.limit(0).select(
      posL.as("window_id"), col(tokensCol).as("tokens"),
      lit(null).cast("array<struct<pos:bigint,start:bigint,len:bigint>>")
        .as("doc_spans"),
      lit(0L).as("n_tok"), lit(0L).as("n_docs"),
      posL.as("min_pos"), posL.as("max_pos"))
    // pass 1 (narrow): N fixes the block width. A `knownN` hint skips
    // it and is confirmed or refused by pass 2 like any other N.
    val n = knownN.getOrElse(df.agg(count(lit(1))).head().getLong(0))
    if (n == 0L && knownN.isEmpty) return empty
    // at least 1: a hint of 0 must still reach pass 2's check
    val blockSize = ((n + blocks - 1) / blocks).max(1L)
    val blk = col("_tsb")
    val keyed = df
      .withColumn("_tsp", checkedPos)
      .withColumn("_tsn", checkedN)
      .withColumn("_tsb", expr(s"_tsp div ${blockSize}L"))

    // pass 2 (narrow): per-block stats -> density law + exclusive
    // prefix token offsets (driver holds <= `blocks` rows)
    val stats = keyed.groupBy(blk)
      .agg(count(lit(1)).as("c"), countDistinct(col("_tsp")).as("d"),
        min("_tsp").as("mn"), max("_tsp").as("mx"), sum("_tsn").as("t"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).sortBy(_._1)
    val distinct = stats.map(_._3).sum
    // an empty input has no range: [0, -1] is exactly the dense [0, 0)
    val (gMin, gMax) =
      if (stats.isEmpty) (0L, -1L) else (stats.map(_._4).min, stats.map(_._5).max)
    require(distinct == n && gMin == 0L && gMax == n - 1L,
      s"sliceWindows: '$posCol' is not a dense [0, $n) permutation " +
        s"($distinct distinct positions in [$gMin, $gMax]) — run " +
        "Sample.shuffleRank AFTER the final selection, then slice")
    if (n == 0L) return empty
    val offsets = stats.map(s => (s._1, s._6))
      .scanLeft((Long.MinValue, 0L)) { case ((_, acc), (b, t)) => (b, acc + t) }
      .sliding(2).collect { case Array((_, off), (b, _)) => (b, off) }.toMap
    val offCol =
      if (offsets.isEmpty) lit(0L)
      else coalesce(
        element_at(typedLit(offsets.map { case (b, o) => b.toString -> o }),
          blk.cast("string")), lit(0L))

    // pass 3 (full width, once): exact global token offset = block
    // offset + the within-block exclusive running sum, then one array
    // slice per overlapped window and the window_id hash shuffle
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(blk).orderBy(col("_tsp"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val L = lit(ctxLen.toLong)
    val withOff = keyed
      .withColumn("_tso", offCol + coalesce(sum(col("_tsn")).over(w), lit(0L)))
      .filter(col("_tsn") > 0L)
      .withColumn("_tsw",
        explode(sequence(expr(s"_tso div ${ctxLen}L"),
          expr(s"(_tso + _tsn - 1) div ${ctxLen}L"))))
    val segStart = greatest(col("_tsw") * L, col("_tso"))
    val segEnd = least((col("_tsw") + 1L) * L, col("_tso") + col("_tsn"))
    val seg = withOff
      .withColumn("_tss", segStart)
      .withColumn("_tsl", (segStart - col("_tsw") * L).cast(LongType))
      .withColumn("_tst", slice(col(tokensCol),
        (segStart - col("_tso") + 1L).cast("int"),
        (segEnd - segStart).cast("int")))
    // ONE sorted segment list aggregate (array_sort orders by the
    // struct's first field — the unique global segment start) feeds
    // both the payload and the span metadata as PROJECTIONS, so the
    // collect_list state is built once per group, not once per output
    // column
    val out = seg.groupBy(col("_tsw").as("window_id"))
      .agg(
        array_sort(collect_list(struct(col("_tss").as("s"),
          col("_tst").as("t"), col("_tsp").as("p"), col("_tsl").as("o"))))
          .as("_segs"),
        sum(size(col("_tst")).cast(LongType)).as("n_tok"),
        count(lit(1)).as("n_docs"),
        min("_tsp").as("min_pos"), max("_tsp").as("max_pos"))
      .select(col("window_id"),
        flatten(transform(col("_segs"), x => x.getField("t"))).as("tokens"),
        transform(col("_segs"), x => struct(
          x.getField("p").as("pos"), x.getField("o").as("start"),
          size(x.getField("t")).cast(LongType).as("len"))).as("doc_spans"),
        col("n_tok"), col("n_docs"), col("min_pos"), col("max_pos"))
    if (dropPartial) out.filter(col("n_tok") === ctxLen.toLong) else out
  }

  /** [[sliceWindows]] composed with [[ShardWriter.writeShards]] — the
    * one-call tokenized training artifact: fixed-length context
    * windows (partial tail dropped) written as a physical shard tree
    * in consumption order. `window_id` is the dense position of the
    * window stream, so every writer law (density, file contiguity,
    * identity refusal, staged-swap publish) applies verbatim one level
    * up; the recorded identity's `budget` slot carries `ctxLen` (the
    * dial that changes which windows exist). Resume with
    * [[ShardWriter.resumeFrom]] over WINDOW positions — exactly the
    * (step, global batch) arithmetic a trainer restarts from. */
  def writeContextShards(df: DataFrame, posCol: String, tokensCol: String,
                         ctxLen: Int, numShards: Int, path: String,
                         salt: String, buckets: Int,
                         blocks: Int = 1024,
                         maxWindowsPerFile: Long = 1L << 20,
                         checkpointInput: Boolean = true): Unit = {
    // the writeShardRecipe seam, applied to the EXPENSIVE end of the
    // funnel: slicing makes two narrow passes plus the full write over
    // `df`, so an uncheckpointed tokenization pipeline (BPE encode, id
    // mapping) would re-run ~3x — at corpus scale the dominant cost,
    // multiplied. The checkpoint materializes the tokenized, ranked
    // input once.
    val in = if (checkpointInput) df.localCheckpoint(true) else df
    try {
      val wins = sliceWindows(in, posCol, tokensCol, ctxLen, blocks)
      ShardWriter.writeShards(
        wins.withColumn("shuffle_pos", col("window_id")),
        "window_id", "n_tok", numShards, path, salt, buckets,
        budget = ctxLen.toLong, maxRowsPerFile = maxWindowsPerFile)
    } finally if (checkpointInput) { in.unpersist(); () }
  }

  /** [[writeContextShards]] with EPOCH lineage
    * ([[ShardWriter.writeShardEpoch]]): each (permutation, ctxLen)
    * identity publishes as an immutable `epoch=N/` window tree under
    * one root — the monthly re-tokenization / context-length change
    * lands BESIDE the epoch a running trainer is pinned to instead of
    * replacing it. Returns the epoch the windows landed in. Epoch
    * semantics (idempotent head re-publish, retired-identity refusal,
    * explicit pruning, within-epoch [[ShardWriter.resumeFrom]]) apply
    * to the window stream verbatim — EXCEPT cross-epoch
    * [[ShardWriter.resumeIntoEpoch]]: that primitive continues a run
    * by row IDENTITY, and a window id is a POSITION in one epoch's
    * stream, not an identity (re-slicing renumbers everything), so
    * anti-joining window ids across epochs is meaningless. To resume
    * across a re-tokenization, continue by DOCUMENT identity on the
    * doc-level epochs and re-slice. */
  def writeContextEpoch(df: DataFrame, posCol: String, tokensCol: String,
                        ctxLen: Int, numShards: Int, root: String,
                        salt: String, buckets: Int,
                        blocks: Int = 1024,
                        maxWindowsPerFile: Long = 1L << 20,
                        checkpointInput: Boolean = true): Int = {
    val in = if (checkpointInput) df.localCheckpoint(true) else df
    try {
      val wins = sliceWindows(in, posCol, tokensCol, ctxLen, blocks)
      ShardWriter.writeShardEpoch(
        wins.withColumn("shuffle_pos", col("window_id")),
        "window_id", "n_tok", numShards, root, salt, buckets,
        budget = ctxLen.toLong, maxRowsPerFile = maxWindowsPerFile)
    } finally if (checkpointInput) { in.unpersist(); () }
  }

  /** Resume a training run ACROSS a re-tokenization / re-selection, at
    * TOKEN granularity — the composition [[writeContextEpoch]]'s
    * scaladoc names: the run consumed the first `step · batchSize`
    * WINDOWS of `oldWinEpoch` (sliced from `oldDocEpoch`'s
    * permutation), the corpus has re-published as `newDocEpoch`, and
    * the run wants to continue on the new corpus WITHOUT re-seeing
    * documents it already trained on. Window ids are positions in one
    * epoch's stream, not identities (re-slicing renumbers everything),
    * so the continuation goes through DOCUMENT identity:
    *
    *   1. the consumed window prefix `[0, step·batchSize)` is read
    *      manifest-PRUNED from the old window epoch, and its committed
    *      `max_pos` provenance gives `P` — the highest old-epoch
    *      document position any consumed window drew tokens from;
    *   2. the consumed DOCUMENT set is the old doc epoch's position
    *      prefix `[0, P]`, read manifest-pruned, ids only;
    *   3. the new doc epoch minus those ids (one left-anti hash join —
    *      text and token arrays never move), kept in the NEW epoch's
    *      permutation order but RE-DENSIFIED to `[0, N')` (two narrow
    *      passes + a per-block rank — no global sort), is re-sliced
    *      into `ctxLen`-token windows.
    *
    * The PARTIALLY-consumed document rule — a document whose tokens
    * straddle the consumed boundary — is: CONSUMED. Any document that
    * contributed at least one token to a consumed window is dropped
    * from the continuation; re-slicing its remainder would re-emit its
    * already-seen prefix inside the new windows (positions shift), and
    * "never re-see trained data" is the resume contract
    * ([[ShardWriter.resumeIntoEpoch]]'s). The cost is bounded by ONE
    * document's unseen remainder per resume.
    *
    * Output: [[sliceWindows]]' schema over the continuation stream —
    * `window_id` restarts at 0 (it is a NEW window stream; publish it
    * with [[writeContextEpoch]] under the new identity) and
    * `min_pos`/`max_pos`/`doc_spans.pos` refer to the continuation's
    * densified positions. `step = 0` returns the full new epoch
    * re-sliced (nothing consumed yet). */
  def resumeTokensIntoEpoch(spark: org.apache.spark.sql.SparkSession,
                            docRoot: String, winRoot: String,
                            oldDocEpoch: Int, newDocEpoch: Int,
                            oldWinEpoch: Int, step: Long, batchSize: Long,
                            tokensCol: String, ctxLen: Int,
                            blocks: Int = 1024,
                            dropPartial: Boolean = true): DataFrame = {
    require(step >= 0L && batchSize >= 1L,
      s"resumeTokensIntoEpoch: need step >= 0 and batchSize >= 1, got " +
        s"($step, $batchSize)")
    val (idCol, _) = ShardWriter.sharedCols(spark, docRoot,
      "resumeTokensIntoEpoch", oldDocEpoch, newDocEpoch)
    val fresh = ShardWriter.readShardEpoch(spark, docRoot, newDocEpoch)
    require(fresh.columns.contains(tokensCol),
      s"resumeTokensIntoEpoch: new doc epoch $newDocEpoch at $docRoot " +
        s"carries no '$tokensCol' column — the doc epochs must be " +
        "published WITH their token arrays to re-slice")
    val consumedWindows = step * batchSize
    val remaining =
      if (consumedWindows == 0L) fresh
      else {
        // 1. the consumed windows' committed provenance -> P (bounded
        // driver state: one long); the slice read is manifest-pruned
        val winPath = ShardWriter.epochPath(winRoot, oldWinEpoch)
        val pRow = ShardWriter.readShardSlice(spark, winPath, 0L,
            consumedWindows)
          .agg(max("max_pos")).head()
        if (pRow.isNullAt(0)) fresh // no windows existed below the cut
        else {
          // 2. consumed docs = the old permutation's prefix [0, P]
          val consumed = ShardWriter.readShardSlice(spark,
              ShardWriter.epochPath(docRoot, oldDocEpoch),
              0L, pRow.getLong(0) + 1L)
            .select(idCol)
          // 3. new epoch minus consumed ids, ids-only anti join
          fresh.join(consumed, Seq(idCol), "left_anti")
        }
      }
    // the densify pass already counts every block — its total IS the
    // continuation's N, so the slice skips its own count job
    val (densified, nRemaining) = densifyPositionsN(remaining,
      "shuffle_pos", "_rs_pos", blocks)
    sliceWindowsN(densified.drop("shuffle_pos"), "_rs_pos", tokensCol,
      ctxLen, blocks, dropPartial, knownN = Some(nRemaining))
  }

  /** Rank `posCol`'s (unique, non-null) values into a DENSE `[0, N)`
    * column `out`, preserving order — the re-densify step after an
    * anti-join punches holes in a permutation. Two narrow passes (max;
    * per-block counts -> driver prefix offsets, ≤ `blocks` longs) plus
    * a per-block row_number — the [[Sample.shuffleRank]] discipline,
    * never a global sort. */
  private[graft] def densifyPositions(df: DataFrame, posCol: String,
                                    out: String, blocks: Int,
                                    knownMax: Option[Long] = None): DataFrame =
    densifyPositionsN(df, posCol, out, blocks, knownMax)._1

  /** [[densifyPositions]] also returning the TOTAL row count, which its
    * per-block counting pass measures anyway — callers that need N next
    * (re-slicing the densified stream) skip their own count job. */
  private[graft] def densifyPositionsN(df: DataFrame, posCol: String,
                                    out: String, blocks: Int,
                                    knownMax: Option[Long] = None)
      : (DataFrame, Long) = {
    require(blocks >= 1 && blocks <= (1 << 16),
      s"blocks must be in [1, 65536], got $blocks")
    // knownMax: the caller already aggregated the position column (a
    // streaming sink's batch check) — skip the max job, one fewer
    // narrow pass; None keeps the self-measuring form
    val mxOpt = knownMax.orElse {
      val r = df.agg(max(col(posCol).cast(LongType))).head()
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
    if (mxOpt.isEmpty) return (df.withColumn(out, lit(0L)).limit(0), 0L)
    val blockSize = (mxOpt.get + blocks) / blocks
    val keyed = df.withColumn("_dpb",
      expr(s"CAST($posCol AS BIGINT) div ${blockSize}L"))
    val cnts = keyed.groupBy(col("_dpb")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val offsets = cnts.scanLeft((Long.MinValue, 0L)) {
      case ((_, acc), (b, c)) => (b, acc + c)
    }.sliding(2).collect { case Array((_, off), (b, _)) => (b, off) }.toMap
    val offCol = coalesce(
      element_at(typedLit(offsets.map { case (b, o) => b.toString -> o }),
        col("_dpb").cast("string")), lit(0L))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_dpb")).orderBy(col(posCol))
    (keyed.withColumn(out, offCol + row_number().over(w).cast(LongType) - 1L)
      .drop("_dpb"), cnts.map(_._2).sum)
  }

  /** Window-stream ROLLUP — total windows, tokens, and the partial-tail
    * accounting a pipeline report wants without materializing windows. */
  def windowStats(df: DataFrame, posCol: String, tokensCol: String,
                  ctxLen: Int, blocks: Int = 1024): DataFrame =
    sliceWindows(df, posCol, tokensCol, ctxLen, blocks, dropPartial = false)
      .agg(count(lit(1)).as("n_windows"),
        // coalesce: an EMPTY stream reports zeros, not NULL sums (only
        // max_window stays NULL — there is no last window)
        coalesce(sum(when(col("n_tok") === ctxLen.toLong, 1L)
          .otherwise(0L)), lit(0L)).as("n_full"),
        coalesce(sum("n_tok"), lit(0L)).as("n_tokens"),
        max("window_id").as("max_window"))
}
