package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/**
 * Additive id-membership sidecar shared by the persisted-index family
 * ([[TextIndex]], [[Similarity.buildIvfIndex]], [[DedupIndex]]) — the
 * structure that makes the append-path "ids must be NEW" guard O(delta)
 * instead of O(index).
 *
 * The guard's contract is unchanged: an append whose ids are already
 * indexed is refused loudly (a re-appended id would double its
 * postings / band rows / list entries). What changes is the COST: the
 * old guard verified novelty with a column-pruned scan of the whole
 * index per append — at corpus scale, a daily append paid a full-index
 * id scan to admit a sliver of new rows. Now a Bloom filter over every
 * indexed id rides the index tree at `_idbloom/` (underscore paths are
 * invisible to parquet listings, the `_meta` discipline):
 *
 *  - the default check probes each delta id against the broadcast Bloom
 *    — O(delta) work, ZERO index reads in the all-novel common case
 *    (Blooms have no false negatives, so a clean pass is proof);
 *  - a Bloom hit falls back to a precise left-semi verify of just the
 *    suspect ids against the index — paid only on real duplicates
 *    (which are about to be refused anyway) and on the ~fpp fraction of
 *    false positives;
 *  - appends grow the sidecar by UNION: a delta Bloom built with the
 *    SAME (expectedIds, fpp) sizing is bit-or-merged into the stored
 *    one (`mergeInPlace` — sizes match by construction, so the merge
 *    can never be refused), keeping the maintenance additive like every
 *    other `_meta` quantity.
 *
 * Crash ordering, deliberate: the merged Bloom is written BEFORE the
 * index data append. A crash in between leaves the Bloom
 * over-approximating (ids marked present that never landed) — the next
 * append of the same batch Bloom-hits, precise-verifies, finds the ids
 * absent, and proceeds; cost, not corruption. The reverse order would
 * leave appended ids missing from the Bloom, and the guard would wave a
 * re-append of the same batch straight through — silent double-posting,
 * the exact corruption the guard exists to refuse.
 *
 * Sizing: `expectedIds` fixes the Bloom's bit count FOREVER (merges
 * require identical sizing), so size it for the index's target id
 * count, not the build batch — overfilling past it degrades fpp (more
 * fallback verifies), never correctness. At the default (4M ids, 1%)
 * the sidecar is ~5 MB; a billion-id index wants `expectedIds` ~1e9
 * (~1.2 GB broadcast) — beyond that, prefer `skipIdCheck` with
 * upstream id discipline (e.g. monotonically assigned crawl ids).
 *
 * Legacy indexes (built before this sidecar) self-heal: their first
 * guarded append falls back to the old full-index scan, then builds and
 * writes the Bloom from the index's own ids — one extra pass, after
 * which every later append is O(delta).
 */
private[graft] object IndexIds {

  /** Default Bloom sizing: 4M ids at 1% false-positive rate (~5 MB). */
  val DefaultExpectedIds: Long = 4L * 1024 * 1024
  val DefaultFpp: Double = 0.01

  private def sidecar(indexPath: String): String = s"$indexPath/_idbloom"

  final case class IdBloom(bloom: BloomFilter, expected: Long, fpp: Double,
                           nIds: Long)

  /** Serialize + write the sidecar (one binary row) — driver-direct
    * ([[graft.store.MetaIO]]): the old `coalesce(1).write` Spark job
    * cost ~100 ms of scheduling per append for one row of metadata. */
  private def write(spark: SparkSession, indexPath: String, bloom: BloomFilter,
                    expected: Long, fpp: Double, nIds: Long): Unit = {
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    graft.store.MetaIO.writeRow(spark.sparkContext.hadoopConfiguration,
      sidecar(indexPath), Seq("bloom" -> bos.toByteArray,
        "expected" -> expected, "fpp" -> fpp, "n_ids" -> nIds))
  }

  /** Load the sidecar; `None` when missing OR unreadable — an
    * unreadable Bloom (e.g. a crash mid-overwrite) degrades the guard
    * to the precise full scan, never to a wrong answer. Driver-direct
    * read: no Spark job for one row of metadata. */
  def load(spark: SparkSession, indexPath: String): Option[IdBloom] =
    try {
      graft.store.MetaIO.readRow(spark.sparkContext.hadoopConfiguration,
          sidecar(indexPath)).map { m =>
        IdBloom(
          BloomFilter.readFrom(new java.io.ByteArrayInputStream(
            m("bloom").asInstanceOf[Array[Byte]])),
          m("expected").asInstanceOf[Long], m("fpp").asInstanceOf[Double],
          m("n_ids").asInstanceOf[Long])
      }
    } catch { case _: Exception => None }

  /** The sidecar's SCALAR columns without deserializing the Bloom
    * binary — the health/maintenance read path. A billion-id sidecar is
    * GBs of filter bits; a health check wired into a streaming hook
    * must stay metadata-sized, and parquet column pruning makes this
    * exactly that (the `bloom` column is never read). */
  final case class IdBloomStats(expected: Long, fpp: Double, nIds: Long)
  def loadStats(spark: SparkSession,
                indexPath: String): Option[IdBloomStats] =
    try {
      // driver-direct column-pruned read: the parquet reader only
      // materializes the requested columns, so the (possibly GBs) bloom
      // binary is never read — same property the Spark path had
      graft.store.MetaIO.readRowColumns(
          spark.sparkContext.hadoopConfiguration, sidecar(indexPath),
          Seq("expected", "fpp", "n_ids")).map { m =>
        IdBloomStats(m("expected").asInstanceOf[Long],
          m("fpp").asInstanceOf[Double], m("n_ids").asInstanceOf[Long])
      }
    } catch { case _: Exception => None }

  /** Distributed Bloom build over `ids` (a single LongType `id`
    * column) with fixed sizing — `DataFrameStatFunctions.bloomFilter`
    * aggregates per-partition filters, no driver-side row loop. */
  private def bloomOf(ids: DataFrame, expected: Long, fpp: Double): BloomFilter =
    ids.stat.bloomFilter("id", expected, fpp)

  /** Build + write the sidecar at index-build time. `ids` may be a
    * SUPERSET of the ids the index physically contains (e.g. a text
    * corpus's null-text rows index no postings): extra ids only add
    * fallback verifies for those ids, never a wrong refusal — the
    * precise verify against the index itself stays authoritative. */
  def writeFresh(spark: SparkSession, indexPath: String, ids: DataFrame,
                 nIds: Long, expected: Long = DefaultExpectedIds,
                 fpp: Double = DefaultFpp): Unit =
    write(spark, indexPath, bloomOf(ids, expected, fpp), expected, fpp, nIds)

  /** The subset of `ids` (single LongType `id` column) already present
    * in the index — the membership QUERY twin of [[guardAndMerge]]'s
    * refusal, used by the streaming ingest sink to detect a replayed
    * batch. Bloom-prefiltered: when no id hits the Bloom the answer is
    * the empty frame with ZERO index reads (no false negatives);
    * suspects are verified precisely against `indexIds`. Without a
    * sidecar, one precise semi-join. */
  def presentIds(spark: SparkSession, indexPath: String, ids: DataFrame,
                 indexIds: => DataFrame): DataFrame =
    load(spark, indexPath) match {
      case Some(ib) =>
        val bc = spark.sparkContext.broadcast(ib.bloom)
        val suspects = ids
          .filter(graft.functions.native.bloom_might_contain(col("id"), bc))
          .distinct()
        if (suspects.limit(1).collect().isEmpty) ids.limit(0)
        else suspects.join(indexIds, Seq("id"), "left_semi")
      case None =>
        ids.distinct().join(indexIds, Seq("id"), "left_semi")
    }

  /** Compaction-path sidecar carry for an index whose id set is NOT
    * fully enumerable from its data rows (a text index holding
    * token-free documents: their ids were appended — counted in
    * `_meta`, merged into the Bloom — but index zero postings). An
    * exact rebuild from the staged rows would DROP those ids,
    * reintroducing false negatives and breaking [[allPresentInBloom]]'s
    * soundness (a replayed token-free batch would re-append and
    * double-count `_meta`). The LIVE sidecar is carried over UNCHANGED:
    * every staged id is already in it (no-false-negative invariant), so
    * a union could never set a new bit — the carry is bit-identical and
    * costs no scan. `nIds` keeps the sidecar's own running count: it
    * tracks the BITS in the filter (what fill/fpp health measures),
    * which a carry — unlike an exact rebuild — cannot shed. Returns
    * false when no live sidecar exists (the caller must then fail: a
    * fresh exact build would silently drop the unenumerable ids). */
  def carryLive(spark: SparkSession, livePath: String,
                tmpPath: String): Boolean =
    load(spark, livePath) match {
      case Some(ib) =>
        write(spark, tmpPath, ib.bloom, ib.expected, ib.fpp, ib.nIds)
        true
      case None => false
    }

  /** True iff EVERY (non-null) id in `ids` hits the Bloom sidecar —
    * the replay signal for an append whose data footprint may be EMPTY
    * (a token-free document batch indexes no postings, so membership
    * against the index itself cannot see its replay). Sound in one
    * direction: Blooms have no false negatives, and [[guardAndMerge]]
    * runs BEFORE the data append, so a batch whose append ever STARTED
    * has all its ids in the Bloom — a `false` here proves the batch
    * was never appended. A `true` over-approximates (all-ids-false-
    * positive probability fpp^n), so callers must only consult it when
    * the precise check is structurally blind. `false` when no sidecar
    * exists. */
  def allPresentInBloom(spark: SparkSession, indexPath: String,
                        ids: DataFrame): Boolean =
    load(spark, indexPath) match {
      case Some(ib) =>
        val bc = spark.sparkContext.broadcast(ib.bloom)
        try {
          ids.filter(col("id").isNotNull)
            .filter(!graft.functions.native.bloom_might_contain(col("id"), bc))
            .limit(1).collect().isEmpty
        } finally bc.destroy()
      case None => false
    }

  /** Small-delta cutoff for [[guardAndMerge]]: up to this many ids are
    * collected once and every check and the merge fold run on the
    * driver (≤ 800 KB of longs). Above it, Spark jobs run the checks and
    * the distributed Bloom build merges — which allocates one FULL-SIZE
    * bitset per input partition (`BloomFilterAggregate` partials, ~5 MB
    * each at the default sizing), so for the streaming-append common
    * case (a micro-batch of thousands of ids) the driver fold is strictly
    * cheaper. */
  private val MaxLocalMergeIds = 100000

  /** The append-path novelty guard FUSED with the Bloom merge — call it
    * BEFORE the data append (see the crash-ordering note in the class
    * doc). Throws `IllegalArgumentException` naming the offending id on
    * violation; returns the delta's (non-null) distinct id count so
    * callers can fold it into their additive stamps without a second
    * scan.
    *
    * Checks, in order:
    *  1. duplicate ids WITHIN the batch itself (count vs distinct): a
    *     batch that repeats an id would double its rows just as surely
    *     as a re-append of old ids, and the ids-vs-index check alone
    *     cannot see it;
    *  2. delta ids vs the index: Bloom probe (zero index reads on a
    *     clean pass — Blooms have no false negatives) with a precise
    *     verify of just the suspects against `indexIds`; without a
    *     sidecar, the legacy full `indexIds` scan, after which the
    *     sidecar SELF-HEALS from the index's current ids, making every
    *     later append O(delta).
    *
    * A delta of up to [[MaxLocalMergeIds]] ids costs ONE bounded
    * collect: the duplicate test, the Bloom probe and the merge fold
    * all run on the driver against the loaded filter. Bit-identical to
    * the distributed path: `putLong` into the loaded filter sets exactly
    * the bits a same-sized delta filter's `mergeInPlace` would OR in.
    * `skipIdCheck` skips the checks but never the Bloom bookkeeping; a
    * legacy tree then stays sidecar-less (its guard scan stays correct).
    * `indexIds` is by-name: the all-novel Bloom path never evaluates it. */
  def guardAndMerge(spark: SparkSession, indexPath: String, op: String,
                    indexIds: => DataFrame, deltaIds: DataFrame,
                    skipIdCheck: Boolean): Long = {
    val nn = deltaIds.filter(col("id").isNotNull)
    val live = load(spark, indexPath)
    val local = live
      .map(_ => nn.limit(MaxLocalMergeIds + 1).collect().map(_.getLong(0)))
      .filter(_.length <= MaxLocalMergeIds)
    val (n, nd) = local.fold {
      val r = deltaIds.agg(count(col("id")), count_distinct(col("id"))).head()
      (r.getLong(0), r.getLong(1))
    }(ids => (ids.length.toLong, ids.distinct.length.toLong))
    if (!skipIdCheck) {
      require(n == nd,
        s"$op: the batch itself contains duplicate ids ($n rows, $nd " +
          "distinct) — appending it would double their entries exactly " +
          "like a re-append of already-indexed ids; de-duplicate the " +
          "batch first")
      // precise verify, only for the suspect ids (real dups about to be
      // refused, or the ~fpp false-positive fraction)
      def verify(suspects: DataFrame) =
        indexIds.join(suspects, Seq("id"), "left_semi").limit(1).collect()
      val dup = (live, local) match {
        case (None, _) => verify(nn.distinct())
        case (Some(ib), Some(ids)) =>
          val suspects = ids.distinct.filter(ib.bloom.mightContainLong)
          import spark.implicits._
          if (suspects.isEmpty) Array.empty[Row]
          else verify(broadcast(suspects.toSeq.toDF("id")))
        case (Some(ib), None) =>
          val bc = spark.sparkContext.broadcast(ib.bloom)
          try {
            // codegen'd primitive-long probe (graft.functions
            // .BloomMightContain) — no per-row boxing on the hot guard
            val suspects = nn
              .filter(graft.functions.native.bloom_might_contain(col("id"), bc))
              .distinct()
            if (suspects.limit(1).collect().isEmpty) Array.empty[Row]
            else verify(suspects)
          } finally bc.destroy()
      }
      if (dup.nonEmpty) throw new IllegalArgumentException(
        s"$op: id ${dup(0).getLong(0)} is already indexed at $indexPath — " +
          "re-appending would double its entries; rebuild the index (or " +
          "pass skipIdCheck only when ids are guaranteed new)")
    }
    val target = live.orElse(if (skipIdCheck) None else {
      val cur = indexIds.select(col("id")).distinct()
      Some(IdBloom(bloomOf(cur, DefaultExpectedIds, DefaultFpp),
        DefaultExpectedIds, DefaultFpp, cur.count()))
    })
    target.foreach { ib =>
      local match {
        case Some(ids) => ids.foreach(ib.bloom.putLong)
        // bounded by nd even when a skipIdCheck batch repeats ids
        case None if nd <= MaxLocalMergeIds =>
          nn.distinct().collect().foreach(r => ib.bloom.putLong(r.getLong(0)))
        case None => ib.bloom.mergeInPlace(bloomOf(nn, ib.expected, ib.fpp))
      }
      write(spark, indexPath, ib.bloom, ib.expected, ib.fpp, ib.nIds + nd)
    }
    nd
  }
}
