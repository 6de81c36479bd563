package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Approximate-nearest-neighbor / similarity search over an embedding
 * column (`ArrayType(FloatType)`).
 *
 *  - [[cosine]] / [[dot]]: higher-order-function kernels (codegen'd,
 *    no UDF boxing).
 *  - [[topK]]: brute-force scored top-k — the exact baseline. One scan,
 *    one small TakeOrdered; at 100 TB this is the map-side-only pattern
 *    (scores never shuffle, only the per-partition top-k rows do).
 *  - [[lshTopK]]: hyperplane-LSH bucketed variant — the scale path. The
 *    query probes only buckets within `probeHamming` of its own
 *    signature, so the candidate set (and scan) shrinks ~2^planes-fold
 *    on clustered data.
 *  - decimal-exact kernels ([[dotDecimal]]) for cross-engine oracle
 *    comparison (float summation order differs between engines; exact
 *    decimal accumulation does not).
 */
object Similarity {

  /** Codebook INITIALIZATION dial for the trained entry points
    * ([[kmeansCodebook]], [[kmeansAssign]], and through them every
    * `codebook = Some(...)` caller): which vectors seed Lloyd's
    * iterations. Deterministic either way — no RNG state anywhere. */
  sealed trait KmeansInit
  object KmeansInit {
    /** Seed with the `k` smallest-id vectors — the zero-training
      * baseline, fine when ids are uncorrelated with geometry (the
      * default everywhere, unchanged). */
    case object SmallestId extends KmeansInit
    /** Seed with the [[kmeansParallelInit]] oversampled init (Bahmani
      * et al. 2012) — the dial for id-CORRELATED corpora (ingest order
      * = topic order, so the k smallest ids under-cover the space) and
      * large-`nlist` codebooks. `l` candidates are sampled per round ∝
      * squared distance to the running candidate set over `rounds`
      * rounds; RecallDrive's init canary pins that this reaches
      * ≥ smallest-id recall on exactly such a layout. */
    final case class Parallel(l: Int, rounds: Int, salt: String = "")
      extends KmeansInit
  }

  /** Reference HOF kernel (kept for parity tests; [[dotFast]] is the
    * production path). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, v) => acc + v)

  /** Native codegen kernel — primitive float loop, no lambda boxing. */
  def dotFast(a: Column, b: Column): Column = graft.functions.native.float_dot(a, b)

  def norm(a: Column): Column = sqrt(dotFast(a, a))

  def cosine(a: Column, b: Column): Column = dotFast(a, b) / (norm(a) * norm(b))

  /** Exact fixed-point dot product: each double product is rounded to an
    * integer number of 1e-15 units and summed as a Long — exact integer
    * accumulation, bit-identical across engines regardless of their float
    * summation strategy. Safe while |dot| * 1e15 < 2^63 (unit vectors:
    * always). DuckDB mirror: `SUM(CAST(round((x*y)*1e15) AS BIGINT))`.
    * Production path is the native [[graft.functions.FixedDot]] kernel;
    * [[dotFixedSpec]] keeps the HOF formulation as the executable
    * specification it is parity-tested against. */
  def dotFixed(a: Column, b: Column): Column = graft.functions.native.fixed_dot(a, b)

  private[graft] def dotFixedSpec(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) =>
        round(x.cast(DoubleType) * y.cast(DoubleType) * lit(1e15)).cast(LongType)),
      lit(0L), (acc, v) => acc + v)

  def cosineFixed(a: Column, b: Column): Column =
    dotFixed(a, b).cast(DoubleType) /
      (sqrt(dotFixed(a, a).cast(DoubleType)) * sqrt(dotFixed(b, b).cast(DoubleType)))

  /** `idCol` cast to LONG, failing LOUDLY per row when the value is
    * NULL or non-numeric. The bounded top-k cut ([[TopK.topKPerGroup]])
    * drops null ids by contract, so a silent cast-to-NULL here would
    * turn a schema mistake (string ids fed to a knn join) into quietly
    * missing neighbors instead of an error — the
    * [[DedupIndex.buildDedupIndex]] id discipline. `try_cast`, not
    * `cast`: under ANSI a malformed string would throw Spark's generic
    * cast error before this guard ran; under non-ANSI it would go NULL
    * silently — try_cast makes both paths land on the op-named error. */
  private[ops] def checkedLongId(idCol: String, op: String): Column = {
    val asLong = expr(s"try_cast(`$idCol` AS BIGINT)")
    when(asLong.isNotNull, asLong)
      .otherwise(raise_error(concat(
        lit(s"$op: id column '$idCol' must be non-null and numeric, got: "),
        coalesce(col(idCol).cast(StringType), lit("NULL")))))
  }

  /** Brute-force cosine top-k against a literal query vector. */
  def topK(df: DataFrame, idCol: String, vecCol: String,
           query: Seq[Float], k: Int, exactDecimal: Boolean = false): DataFrame = {
    val q = typedLit(query)
    val score = if (exactDecimal) cosineFixed(col(vecCol), q) else cosine(col(vecCol), q)
    df.select(col(idCol), score.as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Deterministic ±1 hyperplane weights for plane `p`: sign of bit 0 of
    * the portable hash of "p:d". Computed DRIVER-SIDE into a literal float
    * vector — the per-row work is then a single native [[dotFast]] per
    * plane instead of an md5 per element per plane. No RNG, no model. */
  private[graft] def planeWeights(p: Int, dim: Int): Seq[Float] =
    (0 until dim).map(d => graft.functions.HyperplaneSig.weight(p, d).toFloat)

  /** LSH bucket id: `planes` sign bits of hyperplane projections.
    *
    * The projection is computed in FIXED POINT — each element is rounded
    * to an integer number of 1e-7 units (`floor(x*1e7 + 0.5)`, identical
    * IEEE ops in any engine) and the ±1-weighted sum accumulates as a
    * Long. Integer accumulation is order-independent, so the bucket id is
    * bit-identical across engines / partitionings — a float dot product's
    * sign can flip near the hyperplane depending on summation order. */
  def hyperplaneSignature(vec: Column, planes: Int, dim: Int): Column =
    graft.functions.native.hyperplane_sig(vec, planes, dim)

  /** Built-ins-only formulation kept as the executable specification the
    * native [[graft.functions.HyperplaneSig]] kernel is tested against. */
  private[graft] def hyperplaneSignatureSpec(vec: Column, planes: Int, dim: Int): Column = {
    val bits = (0 until planes).map { p =>
      val w = typedLit(planeWeights(p, dim).map(_.toLong))
      val proj = aggregate(
        zip_with(vec, w, (x, wv) =>
          floor(x.cast(DoubleType) * lit(1e7) + lit(0.5)).cast(LongType) * wv),
        lit(0L), (acc, v) => acc + v)
      when(proj > 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Fixed-point self-dots of a driver-side codebook, computed by the
    * engine's own [[graft.functions.FixedDot]] kernel invoked directly
    * on the constants ([[graft.functions.CodebookKernels.fixedDotDriver]]
    * — the one-row-projection form overflowed codegen's 64 KB limit at
    * production nlist and scheduled a job per call). Fails fast on a
    * zero-norm centroid: its affinities would be NaN, which Spark ranks
    * above all doubles while DuckDB ranks it differently — a silent
    * cross-engine divergence. */
  private[ops] def centroidNorms(spark: org.apache.spark.sql.SparkSession,
                            cents: Seq[Seq[Double]]): Seq[Long] = {
    val dyy = cents.map(c => graft.functions.CodebookKernels.fixedDotDriver(c, c))
    dyy.zipWithIndex.foreach { case (n, j) =>
      require(n > 0L, s"centroid $j has zero norm; " +
        "choose a codebook of non-zero vectors (filter empty embeddings first)") }
    dyy
  }

  /** Per-row nearest-centroid index (0-based Long): argmax of
    * `dxy / sqrt(dyy)` — cosine with the row-norm factor dropped (a
    * positive per-row constant that cannot change the argmax) — from the
    * same 1e-15 fixed-point dots as [[cosineFixed]]; ties break to the
    * smaller index. One native kernel call
    * ([[graft.functions.NearestCentroidK]]): the former k-wide
    * `array_max`-of-structs unroll overflowed janino's 64 KB method
    * limit at production `nlist ≈ √N`, silently dropping whole
    * assignment stages to interpreted evaluation; values are
    * bit-identical (ExprSpec pins the parity against the composed
    * form, malformed vectors included). */
  private[ops] def nearestCentroid(vec: Column, cents: Seq[Seq[Double]],
                              dyy: Seq[Long]): Column =
    graft.functions.native.nearest_centroid(vec, cents, dyy)

  /** Spherical k-means codebook (Lloyd iterations under cosine affinity),
    * trained deterministically: init = the `k` smallest-id vectors; each
    * round reassigns every vector to its nearest centroid and recomputes
    * centroids as member means. Returns the codebook as `k` double
    * vectors, ready for [[ivfTopK]]'s `codebook` parameter.
    *
    * Scale shape per round: ONE distributed job — a scan with `k` fused
    * fixed-point dots per row (no shuffle) feeding a `groupBy(list)`
    * with one `element_at` sum per dimension, which collapses to k rows
    * map-side before the exchange; only k×(dim+1) sums reach the driver.
    * Document vectors never shuffle. Deliberately NOT posexplode +
    * groupBy(list, dim): a non-generator column in the same select as a
    * generator is evaluated per GENERATED row, so the k-dot argmax would
    * run dim× per vector (observed 23 s → 0.9 s at sf0.1); as a grouping
    * key it runs once per row.
    *
    * Cross-engine determinism: member sums accumulate
    * `round(x * 1e15)` as exact integers (float summation order differs
    * between engines; integer sums do not), and the centroid mean is the
    * one double division `sum / (count * 1e15)` — so a SQL oracle
    * reproduces the trained codebook bit-for-bit. A list left empty by a
    * round keeps its previous centroid. */
  def kmeansCodebook(df: DataFrame, idCol: String, vecCol: String,
                     k: Int, iters: Int): Seq[Seq[Double]] = {
    val seed: Seq[Seq[Double]] = df
      .select(col(idCol).cast(LongType), col(vecCol))
      .orderBy(col(idCol)).limit(k)
      .collect().toSeq.map(_.getSeq[Float](1).map(_.toDouble))
    require(seed.length == k, s"kmeansCodebook: need >= $k vectors, got ${seed.length}")
    kmeansCodebook(df, vecCol, seed, iters)
  }

  /** [[kmeansCodebook]] under an explicit INIT dial — the production
    * trained-codebook entry point: `SmallestId` is the id-seeded form
    * above, `Parallel(l, rounds, salt)` runs the [[kmeansParallelInit]]
    * oversampled init first and Lloyd-refines its `k` centers. The
    * refinement (and everything downstream — [[ivfTopK]],
    * [[buildIvfIndex]], [[kmeansAssign]]) is identical either way; only
    * the seeding changes. */
  def kmeansCodebook(df: DataFrame, idCol: String, vecCol: String,
                     k: Int, iters: Int,
                     init: KmeansInit): Seq[Seq[Double]] = init match {
    case KmeansInit.SmallestId =>
      kmeansCodebook(df, idCol, vecCol, k, iters)
    case KmeansInit.Parallel(l, rounds, salt) =>
      val (centers, _) = kmeansParallelInit(df, idCol, vecCol, k, l,
        rounds, salt)
      kmeansCodebook(df, vecCol, centers, iters)
  }

  /** [[kmeansCodebook]] from an EXPLICIT initial codebook — the Lloyd
    * refinement alone, for callers that seed differently (the
    * [[kmeansParallelInit]] oversampled init, a codebook carried over
    * from a previous corpus snapshot, ...). Same per-round shape and
    * numerics as the seeded form.
    *
    * PRECONDITION: `vecCol` must be non-null and dim-consistent (every
    * vector exactly the codebook's dim, no NULL elements) — the
    * (list, pos)-keyed update sums assume one row per (vector, pos).
    * A NULL vector would silently not contribute to any count, and a
    * ragged vector would average its missing tail over a smaller
    * divisor. [[graft.ops.Dedup.semanticDedup]] filters malformed
    * vectors before training (its wellFormed filter); callers training
    * on unvalidated frames must do the same. */
  def kmeansCodebook(df: DataFrame, vecCol: String,
                     init: Seq[Seq[Double]], iters: Int): Seq[Seq[Double]] = {
    val spark = df.sparkSession
    require(init.nonEmpty && init.forall(_.length == init.head.length),
      "kmeansCodebook: init codebook must be non-empty centroids of one dim")
    var cents: Seq[Seq[Double]] = init
    val dim = cents.head.length
    for (_ <- 0 until iters) {
      val dyy = centroidNorms(spark, cents)
      // decimal(38,0) accumulation, NOT a Long sum: a list with ~1e7
      // members of magnitude ~0.1 accumulates ~1e21 fixed-point units per
      // dimension — past Long range, where ANSI Spark throws mid-round
      // while DuckDB's SUM(BIGINT) has already promoted to HUGEINT.
      // Decimal sums are exact at any member count; BigDecimal→double is
      // correctly rounded, matching the oracle's integer→double cast.
      //
      // Shape: (list, pos)-keyed sums over the EXPLODED vector instead
      // of one sum column per dimension — the same decimal terms land in
      // the same per-(list, dim) sums (dim-consistent vectors emit
      // exactly one row per pos, null elements included, so `cnt` is the
      // member count either way), but the plan carries 2 aggregate
      // expressions instead of dim+1: at dim 64 the old 65-column
      // aggregate spent ~0.5 s PER ITERATION in analysis/optimization
      // alone. Map-side partial aggregation bounds the shuffle at
      // k·dim rows per partition, same as the column form.
      val stats = df
        .select(nearestCentroid(col(vecCol), cents, dyy).as("list"),
          posexplode(col(vecCol)))
        .select(col("list"), col("pos"),
          round(col("col").cast(DoubleType) * lit(1e15))
            .cast(DecimalType(38, 0)).as("sf"))
        .groupBy("list", "pos")
        .agg(count(lit(1)).as("cnt"), sum(col("sf")).as("s"))
        .collect()
      val next = cents.map(_.toArray).toArray
      stats.foreach { r =>
        val l = r.getLong(0).toInt
        val i = r.getInt(1)
        val cnt = r.getLong(2)
        if (i < dim)
          next(l)(i) = r.getDecimal(3).doubleValue() / (cnt * 1e15)
      }
      cents = next.map(_.toSeq).toSeq
    }
    cents
  }

  /** Assignment table (`id`, `list`) of every vector to its nearest
    * centroid of a PRE-TRAINED codebook — pass the [[kmeansCodebook]]
    * result here instead of re-training. */
  def kmeansAssign(df: DataFrame, idCol: String, vecCol: String,
                   codebook: Seq[Seq[Double]]): DataFrame = {
    val dyy = centroidNorms(df.sparkSession, codebook)
    df.select(col(idCol),
      nearestCentroid(col(vecCol), codebook, dyy).as("list"))
  }

  /** Per-group element-wise centroid of an embedding column — domain /
    * language / cluster prototypes for mixture balancing, drift checks,
    * and codebook seeding. Output is FLAT — one row per (`groupCol`,
    * `dim`, `centroid`) — so downstream joins and the SQL oracle never
    * compare float arrays structurally.
    *
    * Numerics: per-dimension sums accumulate as `round(x·1e15)` in
    * DECIMAL(38,0) — the [[kmeansCodebook]] discipline — so the sum is
    * exact and order-free at any member count (a Long would overflow
    * past ~1e7 members; float sums would drift with partitioning), and
    * the final double division matches an integer-arithmetic oracle
    * bit-for-bit. Malformed vectors (wrong length, or any NULL element
    * — those would silently skip the sum while still counting toward
    * the divisor) are dropped up front, mirroring [[Dedup]]'s
    * malformed-embedding filter.
    *
    * Scale shape: ONE hash shuffle on `groupCol` with map-side partial
    * aggregation — `dim` decimal accumulators per group per partition,
    * never an exploded (rows × dim) shuffle; a group with 10^9 members
    * still folds locally before the exchange. `dim` is capped so the
    * accumulator row stays executor-friendly. */
  def groupCentroids(df: DataFrame, groupCol: String, vecCol: String,
                     dim: Int): DataFrame = {
    require(dim >= 1 && dim <= 4096, s"dim must be in [1, 4096], got $dim")
    val clean = df.filter(size(col(vecCol)) === dim &&
      !exists(col(vecCol), x => x.isNull))
    val perDim = (0 until dim).map(i =>
      sum(round(element_at(col(vecCol), i + 1).cast(DoubleType) * lit(1e15))
        .cast(DecimalType(38, 0))).as(s"s_$i"))
    clean.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), perDim: _*)
      .select(col(groupCol), col("n"),
        posexplode(array((0 until dim).map(i => col(s"s_$i")): _*))
          .as(Seq("d", "s")))
      .select(col(groupCol), col("d").cast(LongType).as("dim"),
        (col("s").cast(DoubleType) / (col("n") * lit(1e15))).as("centroid"))
  }

  /** Train-and-assign convenience: [[kmeansCodebook]] then the
    * assignment pass. `init` picks the seeding (see [[KmeansInit]]). */
  def kmeansAssign(df: DataFrame, idCol: String, vecCol: String,
                   k: Int, iters: Int,
                   init: KmeansInit = KmeansInit.SmallestId): DataFrame =
    kmeansAssign(df, idCol, vecCol,
      kmeansCodebook(df, idCol, vecCol, k, iters, init))

  /** k-means|| oversampled initialization (Bahmani, Moseley, Vattani,
    * Kumar, Vassilvitskii: "Scalable k-means++", VLDB 2012) — the init
    * for LARGE-`nlist` codebooks where the default smallest-id seeding
    * under-covers the space: instead of k sequential k-means++ draws
    * (k corpus passes), each of the `rounds` rounds samples ~`l` new
    * candidates IN PARALLEL with probability `min(1, l·d²(x,C)/φ)`
    * (φ = Σ d² — the current quantization cost), then candidates are
    * weighted by their Voronoi population and the `k` heaviest become
    * the init centers, ready for [[kmeansCodebook]]'s explicit-init
    * Lloyd refinement. (The paper reclusters the weighted candidates
    * with k-means++; the top-k-by-weight cut is this library's
    * deterministic, SQL-replayable reduction — candidates were drawn
    * ∝ d², so weight-ranking keeps well-separated mass centers, and
    * the recall canary in RecallDrive pins that it beats smallest-id
    * seeding where it matters.)
    *
    * DETERMINISM (the oracle discipline, end to end): the seed is the
    * smallest-id valid vector; the sampling coin is the portable
    * [[graft.functions.Hash60]] bucket of ("kmpar", salt, round, id) —
    * no RNG state — and the accept test `coin·φ < l·10⁶·d²` runs in
    * exact DECIMAL integer arithmetic (φ and d² are 1e-15 fixed-point
    * sums; no float division anywhere), so any engine replays the
    * exact candidate set. The potential is matched to THIS library's
    * k-means, which assigns by COSINE affinity ([[nearestCentroid]] —
    * spherical k-means): c* is the cosine-assignment winner, and
    * d²(x,C) = max(0, ‖x‖² + ‖c*‖² − 2⟨x,c*⟩) is the squared
    * Euclidean gap to it — rows poorly covered by their assigned
    * center get oversampled, exactly what the init needs, while the
    * winner itself comes from the same argmax every probe and Lloyd
    * round uses. One [[nearestCentroid]] kernel call plus ONE extra
    * fixed dot against the winner per row — per-row cost stays O(|C|)
    * dots with no |C|-wide codegen unroll. Ties everywhere break to
    * the smaller candidate index = insertion order (seed first, then
    * each round's samples in id order).
    *
    * Scale shape — the per-row winner state is carried INCREMENTALLY
    * (the standard kmeans|| formulation): the corpus is materialized
    * once as `(id, vec, best-candidate index, its cosine score, its
    * d²)` and each round folds in ONLY the candidates the previous
    * round added — the new local winner is compared against the
    * carried one (strict `>`, so ties keep the earlier index, exactly
    * the full-set kernel's tie rule), making every row's total dot
    * work over the WHOLE run O(|C|) instead of O(rounds·|C|), with φ,
    * the sample filter, and the final Voronoi weighting all reading
    * the cached state for free (no dot ever recomputed). The state is
    * an eager `localCheckpoint` per round (corpus columns + ~20 B —
    * spills to disk under memory pressure; the classic
    * cache-the-assignment trade every kmeans|| implementation makes).
    * Rows with NULL ids or malformed vectors (wrong length, NULL
    * element) have no sampling identity/geometry and are excluded up
    * front (the [[groupCentroids]] rule).
    *
    * Returns `(centers, candidates)`: the k init centers, and the full
    * weighted candidate table `(cand_idx, id, weight)` for audit. */
  def kmeansParallelInit(df: DataFrame, idCol: String, vecCol: String,
                         k: Int, l: Int, rounds: Int, salt: String = "")
      : (Seq[Seq[Double]], Seq[(Int, Long, Long)]) = {
    require(k >= 1 && l >= 1 && rounds >= 1,
      s"kmeansParallelInit: need k, l, rounds >= 1, got ($k, $l, $rounds)")
    require(l.toLong * k <= 10000000L,
      s"kmeansParallelInit: l*k = ${l.toLong * k} candidates would not be " +
        "driver-small — lower l or k")
    val spark = df.sparkSession
    // a zero-norm vector has no cosine direction — it can never BE a
    // candidate (centroidNorms refuses it, rightly), but it still
    // counts in the cost and the Voronoi weights like any other row
    val nonZeroIn = dotFixed(col("_v"), col("_v")) > 0L
    val seedRow = df
      .select(checkedLongId(idCol, "kmeansParallelInit").as("_id"),
        col(vecCol).as("_v"))
      .filter(size(col("_v")) >= 1 && !exists(col("_v"), x => x.isNull) &&
        nonZeroIn)
      .orderBy("_id").limit(1).collect()
    require(seedRow.nonEmpty,
      "kmeansParallelInit: no valid non-zero vectors to initialize from")
    val dim = seedRow(0).getSeq[Float](1).length
    val valid = df.select(
        checkedLongId(idCol, "kmeansParallelInit").as("_id"),
        col(vecCol).as("_v"))
      .filter(size(col("_v")) === dim && !exists(col("_v"), x => x.isNull))
    // candidates in insertion order: seed, then round 1 samples (id
    // asc), round 2 samples, ... — the index IS the tie-break
    val cands = scala.collection.mutable.ArrayBuffer[(Long, Seq[Double])](
      seedRow(0).getLong(0) -> seedRow(0).getSeq[Float](1).map(_.toDouble))
    val dec = DecimalType(38, 0)
    // the carried per-row winner state: (_id, _v, _nz, _j, _s, _d2) —
    // _j/_s/_d2 are the full-set cosine argmax and its Euclidean gap,
    // maintained incrementally and BIT-IDENTICAL to a full recompute:
    // the new candidates' local winner (the same kernel, same
    // tie-to-earlier rule within the slice) beats the carried one only
    // on strictly greater score, so equal scores keep the earlier
    // global index exactly as one kernel call over the union would
    var state: DataFrame = null
    var folded = 0
    def advance(): Unit = {
      if (folded == cands.length) return
      val newVecs = cands.slice(folded, cands.length).map(_._2).toSeq
      val dyyN = centroidNorms(spark, newVecs)
      val jn = nearestCentroid(col("_v"), newVecs, dyyN).cast(IntegerType)
      val dotn = graft.functions.native.fixed_dot(
        col("_v"), get(typedLit(newVecs), jn))
      val dyyJn = get(typedLit(dyyN), jn)
      // the kernel's exact affinity: fixed dot over √(fixed self-dot)
      val sn = dotn.cast(DoubleType) / sqrt(dyyJn.cast(DoubleType))
      // squared Euclidean gap to that winner: ‖x‖² + ‖c‖² − 2⟨x,c⟩ in
      // exact 1e-15 units; per-term rounding can push an exact-match
      // row a few units negative — clamp, the oracle replays the same
      // greatest(0, ·)
      val d2n = greatest(lit(0L),
        graft.functions.native.fixed_dot(col("_v"), col("_v")) +
          dyyJn - lit(2L) * dotn)
      val next =
        if (state == null)
          valid.select(col("_id"), col("_v"), nonZeroIn.as("_nz"),
            (jn + lit(folded)).as("_j"), sn.as("_s"), d2n.as("_d2"))
        else {
          val takeNew = sn > col("_s")
          state.select(col("_id"), col("_v"), col("_nz"),
            when(takeNew, jn + lit(folded)).otherwise(col("_j")).as("_j"),
            when(takeNew, sn).otherwise(col("_s")).as("_s"),
            when(takeNew, d2n).otherwise(col("_d2")).as("_d2"))
        }
      val mat = next.localCheckpoint(true)
      if (state != null) { state.unpersist(); () }
      state = mat
      folded = cands.length
    }
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      advance() // fold the seed (round 1) / the previous round's samples
      val phi = state.agg(sum(col("_d2").cast(dec))).head().getDecimal(0)
      if (phi == null || phi.signum() == 0) exhausted = true // C covers every row
      else {
        val coin = pmod(graft.functions.native.hash60(
          concat(lit(s"kmpar:$salt:$r:"), col("_id").cast(StringType))),
          lit(1000000L))
        val sampled = state
          .filter(col("_nz") && coin.cast(dec) * lit(phi).cast(dec) <
            lit(l * 1000000L).cast(dec) * col("_d2").cast(dec))
          .select(col("_id"), col("_v"))
          .orderBy("_id")
          .limit(16 * l + 16) // driver guard; E[samples] = l
          .collect()
        require(sampled.length <= 16 * l,
          s"kmeansParallelInit: round $r sampled > ${16 * l} candidates " +
            s"(expected ~$l) — degenerate geometry; lower l")
        sampled.foreach(row =>
          cands += (row.getLong(0) -> row.getSeq[Float](1).map(_.toDouble)))
        r += 1
      }
    }
    require(cands.length >= k,
      s"kmeansParallelInit: only ${cands.length} candidates after " +
        s"$rounds round(s) for k=$k — raise l or rounds")
    // fold the final round's samples, then the Voronoi weights are a
    // plain count over the carried winner index — no assignment rescan
    advance()
    val wRows = state
      .groupBy(col("_j").cast(LongType).as("_c"))
      .agg(count(lit(1)).as("_n")).collect()
      .map(rw => rw.getLong(0).toInt -> rw.getLong(1)).toMap
    state.unpersist()
    val weighted = cands.indices
      .map(i => (i, cands(i)._1, wRows.getOrElse(i, 0L)))
    val centers = weighted.sortBy { case (i, _, w) => (-w, i) }
      .take(k).map { case (i, _, _) => cands(i)._2 }
    (centers, weighted)
  }

  /** IVF (inverted-file) ANN top-k — the classic nlist/nprobe scheme:
    * every vector is assigned to its nearest of `nlist` centroid lists;
    * a query scores only vectors in its `nprobe` best lists.
    *
    * The default codebook is the `nlist` smallest-id vectors — a
    * deterministic zero-training baseline; pass `codebook =
    * Some(kmeansCodebook(...))` for a trained one (list ids are then the
    * codebook indices 0..k-1). The assignment/probe machinery — the part
    * that matters at scale — is identical either way.
    *
    * Scale shape: the codebook is a driver-side literal (nlist × dim
    * floats — broadcast-sized); assignment is ONE scan with nlist fused
    * fixed-point dot products per row and NO shuffle; candidates are the
    * ~nprobe/nlist fraction of rows whose list is probed; the top-k is a
    * TakeOrdered (per-partition heads, only k rows reach the driver).
    *
    * Cross-engine determinism: list affinity is ranked by
    * `dxy / sqrt(dyy)` (cosine with the row-norm factor dropped — a
    * positive per-row constant that cannot change the argmax), computed
    * from the same 1e-15 fixed-point dots as [[cosineFixed]]; ties break
    * to the smaller list id. The per-centroid norms `dyy` and the
    * query's probe ranking are evaluated by Spark itself in one tiny
    * driver job, so oracle SQL reproduces them term-for-term. */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
              query: Seq[Float], k: Int,
              nlist: Int = 16, nprobe: Int = 4,
              codebook: Option[Seq[Seq[Double]]] = None): DataFrame = {
    // (list id, centroid values widened to double — exact, so the
    // kernel's float×double dots are bit-identical to the float form)
    val cents: Seq[(Long, Seq[Double])] = codebook match {
      case Some(cb) => cb.zipWithIndex.map { case (c, j) => (j.toLong, c) }
      case None => df
        .select(checkedLongId(idCol, "ivfTopK").as("_cid"), col(vecCol))
        .orderBy(col("_cid")).limit(nlist)
        .collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble)))
    }
    val qc = typedLit(query)
    val qd = query.map(_.toDouble)
    // each centroid's fixed-point self-dot and the query→centroid
    // affinity, via the ENGINE's own kernel invoked on the constants
    // (fixedDotDriver — same arithmetic the oracle mirrors; the old
    // one-row projection overflowed codegen at production nlist)
    val dyy: Seq[Long] = cents.map { case (_, c) =>
      graft.functions.CodebookKernels.fixedDotDriver(c, c) }
    // a zero-norm centroid (empty-document embedding) would make every
    // row's affinity to it NaN — and Spark ranks NaN above all doubles
    // while the driver/DuckDB rank it differently, silently emptying the
    // result. Fail fast: the codebook must contain usable vectors.
    dyy.zipWithIndex.foreach { case (n, i) =>
      require(n > 0L, s"ivfTopK: centroid ${cents(i)._1} has zero norm; " +
        "choose a codebook of non-zero vectors (filter empty embeddings first)")
    }
    val probes: Seq[Long] = cents.indices
      .map { i =>
        val dxy = graft.functions.CodebookKernels.fixedDotDriver(qd, cents(i)._2)
        (dxy.toDouble / math.sqrt(dyy(i).toDouble), cents(i)._1)
      }
      .sortBy { case (s, cid) => (-s, cid) }.take(nprobe).map(_._2)
    // per-row argmax over list affinities — one native kernel call
    // (struct-max parity incl. ties to the smaller index is pinned in
    // ExprSpec; cids ascend with the index by construction, so index
    // ties ARE cid ties), then an index→cid literal lookup
    val listId = element_at(typedLit(cents.map(_._1)),
      (graft.functions.native.nearest_centroid(col(vecCol),
        cents.map(_._2), dyy) + 1L).cast(IntegerType))
    df.select(col(idCol), cosineFixed(col(vecCol), qc).as("score"),
        listId.as("list"))
      .filter(col("list").isin(probes: _*))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Batch kNN JOIN — the per-query cosine top-k of `corpus` for EVERY
    * row of `queries` in ONE job, IVF-pruned: single-query probes
    * ([[ivfTopK]]) don't scale to "match a day's crawl against the
    * corpus", where the query side is itself millions of rows.
    *
    * Both sides share one driver-literal codebook (default: the `nlist`
    * smallest-id corpus vectors, or pass a [[kmeansCodebook]]): each
    * corpus row is assigned its single nearest list (argmax over
    * fixed-point affinities, ties to the smaller id — one scan, no
    * shuffle); each query row EXPLODES to its `nprobe` best lists. The
    * candidate set is then a plain equi-join on `list` — each corpus
    * row meets each query at most once (assignment is unique), so no
    * pair-dedup shuffle — followed by a per-query BOUNDED top-k cut
    * ([[graft.functions.TopKByScore]]).
    *
    * Scale shape: cost is |corpus|·nlist dots for assignment plus the
    * probed-fraction join (~nprobe/nlist of |queries|·|corpus| when
    * lists balance), never the full cross product. That fraction IS the
    * cost dial: size `nlist` ≈ √|corpus| (the standard IVF rule) so a
    * batch of Q queries scores ~Q·nprobe·√N candidates, not Q·N/16 —
    * and it also spreads the join across the cluster (the key has only
    * nlist distinct values; AQE splits residual hot lists). Norms are
    * computed ONCE per row before the join, so the join itself does a
    * single fused dot per candidate ([[Quantize.ivfPqKnnJoin]] replaces
    * even that with m table lookups). Per-query ranking shuffles AT
    * MOST (query id, k triples) per map task — never vectors, never
    * the full candidate pool: partial aggregation caps each task's
    * contribution at k before the shuffle.
    *
    * Determinism: the [[ivfTopK]] contract per query — identical
    * fixed-point affinities, probe ties to the smaller list id, result
    * ties to the smaller neighbor id. Zero-norm vectors score NaN (like
    * every cosine operator here): filter malformed rows first.
    *
    * Output: (`query_id`, `neighbor_id` [BIGINT — corpus ids are cast,
    * the index-id convention of [[buildIvfIndex]]], `score`, `list`),
    * ≤ k rows per query (fewer when the probed lists hold fewer
    * candidates). */
  def knnJoin(queries: DataFrame, qIdCol: String, qVecCol: String,
              corpus: DataFrame, cIdCol: String, cVecCol: String,
              k: Int, nlist: Int = 16, nprobe: Int = 4,
              codebook: Option[Seq[Seq[Double]]] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nlist >= 1 && nprobe >= 1 && nprobe <= nlist,
      s"need 1 <= nprobe <= nlist, got nprobe=$nprobe nlist=$nlist")
    // centroid values widened to double (exact — kernel dots identical)
    val cents: Seq[(Long, Seq[Double])] = codebook match {
      case Some(cb) => cb.zipWithIndex.map { case (c, j) => (j.toLong, c) }
      case None => corpus
        .select(checkedLongId(cIdCol, "knnJoin").as("_cid"), col(cVecCol))
        .orderBy(col("_cid")).limit(nlist)
        .collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble)))
    }
    val cids = cents.map(_._1)
    val cvals = cents.map(_._2)
    val dyy: Seq[Long] = cvals.map(c =>
      graft.functions.CodebookKernels.fixedDotDriver(c, c))
    dyy.zipWithIndex.foreach { case (n, i) =>
      require(n > 0L, s"knnJoin: centroid ${cids(i)} has zero norm; " +
        "choose a codebook of non-zero vectors (filter empty embeddings first)")
    }
    // corpus: single nearest list per row; queries: nprobe best lists
    // per row — both as ONE native kernel call each (the composed
    // struct-max / struct-sort arrays generated O(nlist) Java per row
    // and overflowed codegen's 64 KB limit at production nlist; parity
    // incl. tie and null ordering is pinned in ExprSpec). cids ascend
    // with the index by construction, so index ties ARE cid ties.
    val listId = element_at(typedLit(cids),
      (graft.functions.native.nearest_centroid(col(cVecCol), cvals, dyy) + 1L)
        .cast(IntegerType))
    val probeArr = graft.functions.native.top_lists(
      col(qVecCol), cvals, cids, dyy, nprobe)
    val corpusSide = corpus.select(checkedLongId(cIdCol, "knnJoin").as("_nid"),
      col(cVecCol).as("_nvec"),
      dotFixed(col(cVecCol), col(cVecCol)).as("_nn"), listId.as("_list"))
    val querySide = queries.select(col(qIdCol).as("_qid"),
      col(qVecCol).as("_qvec"),
      dotFixed(col(qVecCol), col(qVecCol)).as("_qq"),
      explode(probeArr).as("_list"))
    val scored = querySide.join(corpusSide, "_list")
      .select(col("_qid"), col("_nid"), col("_list"),
        (dotFixed(col("_qvec"), col("_nvec")).cast(DoubleType) /
          (sqrt(col("_qq").cast(DoubleType)) *
           sqrt(col("_nn").cast(DoubleType)))).as("score"))
    // bounded top-k per query — the [[TopK.topKPerGroup]] cut: O(k)
    // heap state per query at every stage instead of a full
    // per-partition sort of the probed candidate relation
    TopK.topKPerGroup(scored, "_qid", "score", "_nid", col("_list"), k)
      .select(col("_qid").as("query_id"), col("_nid").as("neighbor_id"),
        col("score"), col("payload").as("list"))
  }

  /** [[knnJoin]] against a persisted [[buildIvfIndex]] tree — the
    * batch-probe counterpart of [[ivfTopKIndexed]]: corpus assignment
    * was paid ONCE at build, so the join skips the |corpus|·nlist
    * per-row assignment dots entirely and reads vectors straight from
    * the list-partitioned layout. The query batch still explodes to its
    * per-query `nprobe` best lists; the driver collects the probed-list
    * UNION (bounded by nlist — one tiny distinct) into an `isin` on the
    * partition column, so a small or clustered query batch prunes
    * unprobed directories at file listing, and a broad batch degrades
    * gracefully to a full (but assignment-free) scan. Tombstoned ids
    * ([[IndexMaintenance.deleteFromIvfIndex]]) are anti-joined away;
    * results are IDENTICAL to [[knnJoin]] with the index's codebook.
    * Pass `verifyAgainst = Some((liveDf, idCol))` to run the freshness
    * stamp check before probing. */
  def knnJoinIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                     queries: DataFrame, qIdCol: String, qVecCol: String,
                     k: Int, nprobe: Int,
                     verifyAgainst: Option[(DataFrame, String)] = None,
                     pruneLists: Boolean = true): DataFrame =
    knnJoinIndexedCore(spark, path, queries, qIdCol, qVecCol, k, nprobe,
      None, verifyAgainst, pruneLists)

  /** [[knnJoinIndexed]] restricted to an ALLOWED id set — the batch
    * form of [[ivfTopKIndexedFiltered]] (every query shares one
    * metadata filter; for per-query filters keyed by a stratum use
    * [[knnJoinIndexedStratified]]). The allowed relation semi-joins
    * the probed corpus rows
    * id-only BEFORE scoring and the per-query top-k cut, so each
    * query's result is the true filtered top-k of its probed lists.
    * No probe escalation here: a batch join has no single survivor
    * count to escalate on — size `nprobe` for the filter's
    * selectivity (roughly nprobe/selectivity lists for unfiltered
    * recall), or run the single-query escalating probe for the
    * stragglers. */
  def knnJoinIndexedFiltered(spark: org.apache.spark.sql.SparkSession,
                             path: String, queries: DataFrame,
                             qIdCol: String, qVecCol: String,
                             k: Int, nprobe: Int,
                             allowed: DataFrame, allowedIdCol: String,
                             verifyAgainst: Option[(DataFrame, String)] = None,
                             pruneLists: Boolean = true): DataFrame =
    knnJoinIndexedCore(spark, path, queries, qIdCol, qVecCol, k, nprobe,
      Some((allowed, allowedIdCol)), verifyAgainst, pruneLists)

  /** [[knnJoinIndexedFiltered]] with PER-QUERY filters, keyed by a
    * STRATUM — the multi-tenant retrieval shape (each tenant/language/
    * split sees its own allowed subset) that a single global allowed
    * set cannot express. Every query row carries `qStratumCol`;
    * `allowedByStratum` holds `(stratumCol, idCol)` rows — the union
    * of the per-stratum allowed sets, id-typed like the index. A
    * candidate survives iff `(query's stratum, candidate id)` is in
    * that relation, applied BETWEEN candidate generation and scoring
    * (one hash semi-join on the two columns; vectors move only for
    * survivors). A query whose stratum has no rows returns nothing —
    * an empty allowed set means nothing is allowed, not everything
    * (refusing the silent fall-open default).
    *
    * Scale shape: identical to [[knnJoinIndexed]] plus one (stratum,
    * id) semi-join; strata ride the probe explode as a small extra
    * column. NULL strata refuse loudly on either side (a NULL never
    * matches a NULL under SQL join semantics — fail fast instead of
    * silently emptying those queries). `requireFullK` adds batch
    * PROBE ESCALATION: nprobe doubles while any query returns fewer
    * than `k` rows and unread lists remain (≤ log2(nlist) bounded
    * rounds) — note a query whose stratum is empty or holds < k
    * allowed rows corpus-wide drives the loop to the full scan, which
    * is then its exact (short) answer. */
  def knnJoinIndexedStratified(spark: org.apache.spark.sql.SparkSession,
                               path: String, queries: DataFrame,
                               qIdCol: String, qVecCol: String,
                               qStratumCol: String, k: Int, nprobe: Int,
                               allowedByStratum: DataFrame,
                               stratumCol: String, idCol: String,
                               verifyAgainst: Option[(DataFrame, String)] = None,
                               pruneLists: Boolean = true,
                               requireFullK: Boolean = false): DataFrame = {
    require(!queries.columns.contains("_qstr"),
      "knnJoinIndexedStratified: query column '_qstr' collides with the " +
        "operator's internal namespace — rename it first")
    def checkedStr(df: DataFrame, c: String, side: String) =
      when(col(c).isNotNull, col(c).cast(StringType))
        .otherwise(raise_error(lit(
          s"knnJoinIndexedStratified: NULL $side stratum ('$c') — a NULL " +
            "never matches under join semantics and would silently empty " +
            "those queries; fix or filter upstream")))
    val qs = queries.withColumn("_qstr",
      checkedStr(queries, qStratumCol, "query"))
    val allowedPairs = allowedByStratum.select(
        checkedStr(allowedByStratum, stratumCol, "allowed").as("_qstr"),
        checkedLongId(idCol, "knnJoinIndexedStratified").as("id"))
      .distinct()
    def at(p: Int) = knnJoinIndexedCore(spark, path, qs, qIdCol, qVecCol,
      k, p, None, verifyAgainst, pruneLists, stratified = Some(allowedPairs))
    if (!requireFullK) at(nprobe)
    else {
      // PROBE ESCALATION for the batch: while any query returns fewer
      // than k rows (its probed lists hold < k allowed survivors) and
      // unread lists remain, DOUBLE nprobe — per-query probe sets are
      // affinity-ranked prefixes, so each round is a strict per-query
      // superset and results only grow. A query whose stratum holds
      // < k allowed rows CORPUS-WIDE stops the loop at the full scan
      // (there is nothing more to find). ≤ log2(nlist) rounds, each
      // one bounded join + one count — the opt-in straggler cure the
      // fixed-nprobe form documents.
      val nlist = loadIvfCodebook(spark, path).size
      val nq = qs.count()
      var p = math.min(math.max(nprobe, 1), nlist)
      var res = at(p)
      while (res.count() < nq * k && p < nlist) {
        p = math.min(p * 2, nlist)
        res = at(p)
      }
      res
    }
  }

  private def knnJoinIndexedCore(spark: org.apache.spark.sql.SparkSession,
                                 path: String, queries: DataFrame,
                                 qIdCol: String, qVecCol: String,
                                 k: Int, nprobe: Int,
                                 allowed: Option[(DataFrame, String)],
                                 verifyAgainst: Option[(DataFrame, String)],
                                 pruneLists: Boolean,
                                 stratified: Option[DataFrame] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    verifyAgainst.foreach { case (df, idc) => requireIvfFresh(spark, path, df, idc) }
    val codebook = loadIvfCodebook(spark, path)
    require(nprobe >= 1 && nprobe <= codebook.size,
      s"need 1 <= nprobe <= nlist=${codebook.size}, got $nprobe")
    val dyy = centroidNorms(spark, codebook)
    // per-query probe ranking as ONE native kernel call (the composed
    // struct-sort array overflowed codegen's 64 KB limit at production
    // nlist; ordering parity pinned in ExprSpec)
    val probeArr = graft.functions.native.top_lists(
      col(qVecCol), codebook, codebook.indices.map(_.toLong), dyy, nprobe)
    val querySide = queries.select(
      (Seq(col(qIdCol).as("_qid"), col(qVecCol).as("_qvec"),
        dotFixed(col(qVecCol), col(qVecCol)).as("_qq"),
        explode(probeArr).as("_list")) ++
        (if (stratified.isDefined) Seq(col("_qstr")) else Nil)): _*)
    // file-listing pruning costs one extra query-side pass (the distinct
    // re-evaluates the per-row probe ranking) — a win for small or
    // clustered batches; a batch probing most lists anyway should pass
    // pruneLists = false and pay one scan of every list instead
    val base = IndexMaintenance.readTree(spark, path)
    val pruned = if (pruneLists) {
      val usedLists = querySide.select(col("_list")).distinct()
        .collect().map(_.getLong(0)) // ≤ nlist values by construction
      base.filter(col("list").isin(usedLists: _*))
    } else base
    val live = IndexMaintenance.minusTombstones(spark, path, pruned, "id")
    // the metadata filter lands between candidate generation and
    // scoring (the ivfTopKIndexedFiltered placement): id-only semi-join,
    // vectors move only for survivors
    val corpusSide = allowed.fold(live) { case (df, idc) =>
        live.join(df.select(
            checkedLongId(idc, "knnJoinIndexedFiltered").as("id"))
          .distinct(), Seq("id"), "left_semi")
      }
      .select(col("id").as("_nid"), col("vec").as("_nvec"),
        dotFixed(col("vec"), col("vec")).as("_nn"),
        col("list").cast(LongType).as("_list"))
    val joined = querySide.join(corpusSide, "_list")
    // the PER-STRATUM filter: a candidate survives iff (query's
    // stratum, candidate id) is allowed — one hash semi-join on the
    // pair, between candidate generation and scoring like every other
    // filtered-search placement
    val kept = stratified.fold(joined)(pairs =>
      joined.join(pairs.withColumnRenamed("id", "_nid"),
        Seq("_qstr", "_nid"), "left_semi"))
    val scored = kept
      .select(col("_qid"), col("_nid"), col("_list"),
        (dotFixed(col("_qvec"), col("_nvec")).cast(DoubleType) /
          (sqrt(col("_qq").cast(DoubleType)) *
           sqrt(col("_nn").cast(DoubleType)))).as("score"))
    // bounded top-k per query — identical [[TopK.topKPerGroup]] cut to
    // [[knnJoin]]'s; the probed list id rides through as the payload
    TopK.topKPerGroup(scored, "_qid", "score", "_nid", col("_list"), k)
      .select(col("_qid").as("query_id"), col("_nid").as("neighbor_id"),
        col("score"), col("payload").as("list"))
  }

  /** Cross-corpus EMBEDDING dedup against a persisted [[buildIvfIndex]]
    * tree — the ANN counterpart of
    * [[graft.ops.DedupIndex.dedupAgainstIndex]]: drop every `batch` row
    * whose best probed corpus cosine clears `minCosine`, return the
    * survivors with their full rows. One [[knnJoinIndexed]] at k = 1
    * (top-1 ≥ τ iff ANY candidate is — no need to rank deeper) feeds a
    * left-anti join on id; scale-invariant by construction (cosine), so
    * rescaled copies of indexed vectors cannot sneak through. The probe
    * honors the tree's freshness stamp and tombstones via
    * [[knnJoinIndexed]]; per-batch cost tracks batch size × the probed
    * corpus fraction — the corpus embeddings are never re-read beyond
    * the probed lists while the snapshot stands. */
  def embeddingDedupAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                                 path: String, batch: DataFrame,
                                 idCol: String, vecCol: String,
                                 minCosine: Double = 0.99, nprobe: Int = 4,
                                 verifyAgainst: Option[(DataFrame, String)] = None): DataFrame = {
    require(minCosine > 0.0 && minCosine <= 1.0,
      s"minCosine must be in (0, 1], got $minCosine")
    val matched = knnJoinIndexed(spark, path, batch, idCol, vecCol,
        k = 1, nprobe = nprobe, verifyAgainst = verifyAgainst)
      .filter(col("score") >= minCosine)
      .select(col("query_id").as("_m_qid"))
    batch.join(matched, batch(idCol) === col("_m_qid"), "left_anti")
  }

  /** Build a PERSISTED IVF index — the build-once/probe-many shape that
    * 100 TB ANN actually needs. Every vector is assigned to its nearest
    * centroid of `codebook` (same fixed-point affinity as [[ivfTopK]])
    * and written as parquet HIVE-PARTITIONED BY `list`: one directory per
    * inverted list. [[ivfTopKIndexed]] then probes only the `nprobe`
    * matching directories — partition pruning happens at file-listing
    * time, so query cost drops from O(corpus × nlist) per query (the
    * assign-at-query-time [[ivfTopK]]) to O(probed corpus fraction), and
    * the nlist-dots-per-row assignment cost is paid ONCE at build.
    * Rows are range-ordered by id within each list so per-list scans
    * stay min/max-prunable on id too. */
  def buildIvfIndex(df: DataFrame, idCol: String, vecCol: String,
                    codebook: Seq[Seq[Double]], path: String,
                    expectedIds: Long = IndexIds.DefaultExpectedIds,
                    idFpp: Double = IndexIds.DefaultFpp): Unit = {
    val spark = df.sparkSession
    val dyy = centroidNorms(spark, codebook)
    // the build STAMP (source row count + exact-decimal id-hash sum) rides the
    // write job itself via Observation — no second scan of the source
    val obs = org.apache.spark.sql.Observation()
    IndexLayout.lists.write(
      df.select(col(idCol).cast(LongType).as("id"), col(vecCol).as("vec"),
          nearestCentroid(col(vecCol), codebook, dyy).as("list"))
        .observe(obs, stampExprs.head, stampExprs.tail: _*),
      path, "overwrite")
    val stamp = stampObserved(obs.get, df, idCol)
    requireIndexNonEmpty(spark, path, "buildIvfIndex", stamp.nRows)
    // the index is SELF-DESCRIBING: the codebook AND the build stamp ride
    // inside the index tree (an underscore-prefixed subdir is invisible
    // to parquet file listing, so scans of `path` never see it) —
    // probe-time callers need only the path
    writeIvfCodebook(spark, s"$path/_codebook", codebook, stamp)
    // id-membership Bloom sidecar: makes appendIvfIndex's novelty
    // guard O(delta) instead of an O(index) id scan
    IndexIds.writeFresh(spark, path,
      df.select(col(idCol).cast(LongType).as("id")), stamp.nRows,
      expectedIds, idFpp)
  }

  /** INCREMENTAL build: append NEW vectors to an existing
    * [[buildIvfIndex]] tree — the "today's embeddings land in the ANN
    * index without a rebuild" step (the [[TextIndex.appendTextIndex]]
    * discipline). The new vectors are assigned against the index's OWN
    * codebook (read from `_codebook`, so build/append assignment can
    * never drift) and land as additional files inside the same list
    * directories — probes are layout-blind; the `_codebook` sidecar is
    * then rewritten with the SUMMED stamp (row count and id-hash sum
    * are both additive), after which the freshness contract holds
    * against the base⊕new source.
    *
    * Appended ids must be NEW (a duplicate id would appear in two
    * lists' candidates and double-serve) — and unique WITHIN the batch;
    * refused by default in O(delta) via the [[IndexIds]] Bloom sidecar
    * (zero index reads when every id is novel), skippable when the
    * caller guarantees novelty. Crash windows: the Bloom merge lands
    * BEFORE the vector append (in between = over-approximation, the
    * next attempt precise-verifies and proceeds); a crash between the
    * vector append and the `_codebook` rewrite leaves the stamp behind
    * the data, which the freshness contract then refuses — fail-loud;
    * recover with [[IndexMaintenance.compactIvfIndex]] or a rebuild. */
  def appendIvfIndex(df: DataFrame, idCol: String, vecCol: String,
                     path: String, skipIdCheck: Boolean = false): Unit = {
    val spark = df.sparkSession
    val codebook = loadIvfCodebook(spark, path)
    IndexLayout.Ivf.append(df, idCol, path, skipIdCheck) { obs =>
      val dyy = centroidNorms(spark, codebook)
      IndexLayout.lists.write(
        df.select(col(idCol).cast(LongType).as("id"), col(vecCol).as("vec"),
            nearestCentroid(col(vecCol), codebook, dyy).as("list"))
          .observe(obs, stampExprs.head, stampExprs.tail: _*),
        path, "append")
      Nil
    }
  }

  /** The `_codebook` sidecar (k centroid rows + the constant stamp
    * columns) written DRIVER-DIRECT: the codebook is driver-held at
    * every call site and k is small, so the old `toDF.coalesce(1)
    * .write` paid a full Spark job per (re)write — once per streaming
    * embed micro-batch on the append path. Same columns, Spark/DuckDB-
    * readable 3-level LIST layout; every reader is already
    * [[graft.store.MetaIO]]-direct or schema-agnostic `spark.read`. */
  private[ops] def writeIvfCodebook(spark: org.apache.spark.sql.SparkSession,
                                    dir: String,
                                    codebook: Seq[Seq[Double]],
                                    stamp: IvfStamp): Unit =
    graft.store.MetaIO.writeRows(spark.sparkContext.hadoopConfiguration, dir,
      Seq("j" -> (0L: Any), "centroid" -> (Seq(0.0d): Any),
        "n_rows" -> (0L: Any),
        "id_hash_sum" -> (java.math.BigDecimal.ZERO: Any)),
      codebook.iterator.zipWithIndex.map { case (c, j) =>
        Seq[Any](j.toLong, c, stamp.nRows, stamp.idHashSum.setScale(0)) })

  /** Build stamp of a persisted IVF index: the source's row count and
    * the exact-decimal sum of `hash60(id)` over its (Long-cast) ids.
    * Hashing before summing is what makes the fingerprint sensitive to
    * WHICH ids are present, not just their arithmetic sum — raw-id
    * summing would pass sum-preserving churn (delete {2,3}, add {1,4})
    * as fresh. With hashed terms a coincidental pass needs a hash-sum
    * collision (~2⁻⁶⁰ per churn event). The stamp still cannot see a
    * same-id vector UPDATE — treat vectors as immutable or rebuild.
    * Decimal accumulation so the sum can never overflow at corpus
    * scale (ANSI Long sum throws past 2^63). */
  final case class IvfStamp(nRows: Long, idHashSum: java.math.BigDecimal)

  private[ops] def stampExprs: Seq[Column] = Seq(
    count(lit(1)).as("n_rows"),
    coalesce(sum(TextStats.hash60(col("id").cast(StringType))
        .cast(DecimalType(38, 0))),
      lit(java.math.BigDecimal.ZERO).cast(DecimalType(38, 0))).as("id_hash_sum"))

  /** The build/append delta stamp from a write job's `Observation`, with
    * a recompute fallback: when the written frame turns out EMPTY (an
    * all-duplicates-dropped micro-batch, a token-free document batch
    * whose postings explode to nothing), AQE's empty-relation
    * propagation can replace the subtree INCLUDING the CollectMetrics
    * node, and the observed map comes back empty — previously a
    * NoSuchElementException that left the index stamp permanently
    * behind the Bloom merge. The fallback aggregates the delta source
    * directly; it is delta-sized and runs ONLY in that degenerate
    * case (the stamp rides the source rows, which exist even when the
    * derived write is empty). */
  private[graft] def stampObserved(metrics: Map[String, Any], df: DataFrame,
                                   idCol: String): IvfStamp =
    if (metrics.nonEmpty) stampOf(metrics) else sourceStamp(df, idCol)

  /** Refuse an index BUILD whose corpus turned out empty: the write
    * leaves no data files (partitioned writers emit none; AQE can
    * reduce even unpartitioned empty writes to nothing), so the tree
    * would throw "unable to infer schema" on every later read — fail
    * here instead, and remove the stillborn tree. Appends are exempt:
    * an existing tree already has readable files. `n` is whatever
    * count decides emptiness (rows, or postings); `why` the refusal. */
  private[ops] def requireIndexNonEmpty(spark: org.apache.spark.sql.SparkSession,
                                        path: String, op: String, n: Long,
                                        why: String = "the corpus is empty — " +
                                          "an index with zero rows has no data " +
                                          "files and cannot be read back; build " +
                                          "from a non-empty corpus"): Unit =
    if (n == 0L) {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      throw new IllegalArgumentException(s"$op: $why")
    }

  private[ops] def stampOf(m: Map[String, Any]): IvfStamp =
    IvfStamp(m("n_rows").asInstanceOf[Long],
      m("id_hash_sum") match {
        case d: java.math.BigDecimal => d
        case d: BigDecimal => d.bigDecimal
      })

  /** The stamp a [[buildIvfIndex]] index was built with. */
  def loadIvfStamp(spark: org.apache.spark.sql.SparkSession,
                   path: String): IvfStamp =
    IndexLayout.Ivf.loadStamp(spark, path)

  /** The (row count, id-hash-sum) stamp of a live source table — the
    * SAME stampExprs the builds observe, as a column-pruned id-only
    * scan. Shared by the IVF and text-index freshness contracts so the
    * two sides of either comparison can never drift apart. */
  private[ops] def sourceStamp(df: DataFrame, idCol: String): IvfStamp = {
    val r = df.select(col(idCol).cast(LongType).as("id"))
      .agg(stampExprs.head, stampExprs.tail: _*).head()
    IvfStamp(r.getLong(0), r.getDecimal(1))
  }

  /** Freshness contract for build-once/probe-many: recompute the live
    * source's stamp (a column-pruned count+sum scan — ids only, vectors
    * never read) and compare it to the one persisted at build time.
    * Throws `IllegalStateException` on mismatch — a probe against an
    * index whose corpus has since been appended to / deleted from would
    * silently serve stale neighbors. Rebuilding clears it. */
  def requireIvfFresh(spark: org.apache.spark.sql.SparkSession, path: String,
                      df: DataFrame, idCol: String): Unit =
    IndexLayout.Ivf.requireFresh(spark, path, df, idCol)

  /** The staleness comparison shared by every persisted-index freshness
    * contract (IVF, text) — one message shape, one compare. */
  private[ops] def requireStampFresh(kind: String, path: String,
                                     built: IvfStamp, live: IvfStamp,
                                     rebuild: String): Unit =
    if (live.nRows != built.nRows ||
        live.idHashSum.compareTo(built.idHashSum) != 0)
      throw new IllegalStateException(
        s"$kind at $path is STALE: built over ${built.nRows} rows " +
          s"(id hash sum ${built.idHashSum}) but the live table has " +
          s"${live.nRows} (id hash sum ${live.idHashSum}); rebuild with $rebuild")

  /** The codebook a [[buildIvfIndex]] index was built with, in list-id
    * order. */
  def loadIvfCodebook(spark: org.apache.spark.sql.SparkSession,
                      path: String): Seq[Seq[Double]] =
    loadCentroids(spark, s"$path/_codebook")

  /** The centroids of a [[writeIvfCodebook]] sidecar at `dir`, in `j`
    * order — driver-direct (MetaIO): k small rows, collected whole. */
  private[ops] def loadCentroids(spark: org.apache.spark.sql.SparkSession,
                                 dir: String): Seq[Seq[Double]] =
    graft.store.MetaIO.readRows(spark.sparkContext.hadoopConfiguration, dir)
      .sortBy(m => m("j").asInstanceOf[Long])
      .map(m => m("centroid").asInstanceOf[Seq[Any]]
        .map(_.asInstanceOf[Double]))

  /** [[ivfTopKIndexed]] against a self-describing index — the codebook
    * is read from the index tree. */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                     query: Seq[Float], k: Int, nprobe: Int): DataFrame =
    ivfTopKIndexed(spark, path, loadIvfCodebook(spark, path), query, k, nprobe)

  /** [[ivfTopKIndexed]] with the freshness check: verifies the index's
    * build stamp against the live source table ([[requireIvfFresh]])
    * before probing. */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                     query: Seq[Float], k: Int, nprobe: Int,
                     verifyAgainst: (DataFrame, String)): DataFrame = {
    requireIvfFresh(spark, path, verifyAgainst._1, verifyAgainst._2)
    ivfTopKIndexed(spark, path, query, k, nprobe)
  }

  /** Probe a [[buildIvfIndex]] index: rank the query's list affinities
    * (the engine evaluates every term, so oracle SQL reproduces them),
    * read ONLY the `nprobe` best list partitions, score candidates with
    * the exact fixed-point cosine, TakeOrdered top-k. Returns
    * (`id`, `score`, `list`) — identical results to [[ivfTopK]] with the
    * same codebook/nprobe, at a fraction of the scan. */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                     codebook: Seq[Seq[Double]], query: Seq[Float],
                     k: Int, nprobe: Int): DataFrame = {
    val dyy = centroidNorms(spark, codebook)
    val qc = typedLit(query)
    // query→centroid fixed-point dots via the engine's kernel on the
    // driver constants (fixedDotDriver — identical arithmetic, no
    // 64 KB-overflowing one-row projection, no scheduled job)
    val qd = query.map(_.toDouble)
    val probes: Seq[Long] = codebook.indices
      .map { j =>
        val dxy = graft.functions.CodebookKernels.fixedDotDriver(qd, codebook(j))
        (dxy.toDouble / math.sqrt(dyy(j).toDouble), j.toLong)
      }
      .sortBy { case (s, cid) => (-s, cid) }.take(nprobe).map(_._2)
    // the isin filter on the partition column prunes at file listing —
    // .explain shows PartitionFilters: [list IN (...)], unprobed
    // directories are never opened; tombstoned vectors
    // (IndexMaintenance.deleteFromIvfIndex) are anti-joined away over
    // the probed candidates only
    IndexMaintenance.minusTombstones(spark, path,
        IndexMaintenance.readTree(spark, path).filter(col("list").isin(probes: _*)), "id")
      .select(col("id"), cosineFixed(col("vec"), qc).as("score"),
        col("list").cast(LongType).as("list"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }

  /** Metadata-FILTERED probe of a [[buildIvfIndex]] index — the
    * "filtered vector search" shape every production vector store
    * exposes (FAISS `IDSelector`, Milvus/Vespa scalar-filtered ANN):
    * the caller supplies the ALLOWED id set as a relation — typically
    * the id column of a metadata predicate,
    * `docs.filter($"lang" === "en").select("doc_id")` — and candidates
    * from the probed lists intersect it BEFORE the exact rescoring and
    * the top-k cut. That order matters: post-hoc filtering of an
    * unfiltered top-k silently returns < k results under any selective
    * filter; filtering the candidate set returns the true filtered
    * top-k of the probed lists.
    *
    * A selective filter starves a fixed-`nprobe` probe (survivors per
    * list shrink with the selectivity), so `minSurvivors` adds
    * deterministic PROBE ESCALATION: while fewer than
    * `max(k, minSurvivors)` candidates survive the filter and unread
    * lists remain, the probe set DOUBLES along the fixed affinity
    * ranking — every escalation reads a strict superset, so results
    * only ever grow toward the full filtered scan (which is exact).
    * Each round costs one candidate COUNT over the probed partitions
    * (id-only, ≤ ceil(log2(nlist/nprobe)) rounds).
    *
    * Scale shape: the allowed set rides ONE id-only hash semi-join
    * (Catalyst broadcasts it when small); vectors move only for
    * probed-list survivors; `list` partition pruning is unchanged
    * from [[ivfTopKIndexed]]. */
  def ivfTopKIndexedFiltered(spark: org.apache.spark.sql.SparkSession,
                             path: String, query: Seq[Float], k: Int,
                             nprobe: Int, allowed: DataFrame,
                             allowedIdCol: String, minSurvivors: Int = 0,
                             verifyAgainst: Option[(DataFrame, String)] = None)
      : DataFrame = {
    require(k >= 1, s"ivfTopKIndexedFiltered: k must be >= 1, got $k")
    require(nprobe >= 1,
      s"ivfTopKIndexedFiltered: nprobe must be >= 1, got $nprobe")
    verifyAgainst.foreach { case (live, idCol) =>
      requireIvfFresh(spark, path, live, idCol) }
    val codebook = loadIvfCodebook(spark, path)
    val dyy = centroidNorms(spark, codebook)
    val qd = query.map(_.toDouble)
    // the FULL affinity ranking is fixed once, so every escalation
    // round probes a strict superset of the last
    val ranked: Seq[Long] = codebook.indices
      .map { j =>
        val dxy = graft.functions.CodebookKernels.fixedDotDriver(qd, codebook(j))
        (dxy.toDouble / math.sqrt(dyy(j).toDouble), j.toLong)
      }
      .sortBy { case (s, cid) => (-s, cid) }.map(_._2)
    val allowedIds = allowed.select(
      checkedLongId(allowedIdCol, "ivfTopKIndexedFiltered").as("id"))
      .distinct()
    def survivors(p: Int): DataFrame =
      IndexMaintenance.minusTombstones(spark, path,
          IndexMaintenance.readTree(spark, path)
            .filter(col("list").isin(ranked.take(p): _*)), "id")
        .join(allowedIds, Seq("id"), "left_semi")
    var p = math.min(nprobe, ranked.size)
    if (minSurvivors > 0) {
      val need = math.max(k, minSurvivors).toLong
      // the count is id-only over the probed partitions; the loop is
      // bounded by the doubling, never by the data
      while (p < ranked.size && survivors(p).count() < need)
        p = math.min(p * 2, ranked.size)
    }
    val qc = typedLit(query)
    survivors(p)
      .select(col("id"), cosineFixed(col("vec"), qc).as("score"),
        col("list").cast(LongType).as("list"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }

  /** Bucketed ANN top-k: score only vectors whose bucket is within
    * `probeHamming` bits of the query's bucket. `exactDecimal` scores
    * candidates with the fixed-point kernel (cross-engine exact). */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String,
              query: Seq[Float], k: Int, planes: Int = 8,
              probeHamming: Int = 1, exactDecimal: Boolean = false): DataFrame = {
    val q = typedLit(query)
    val dim = query.size
    val withBucket = df.select(col(idCol), col(vecCol),
      hyperplaneSignature(col(vecCol), planes, dim).as("bucket"))
    // query bucket is a scalar expression over the literal vector
    val qBucket = hyperplaneSignature(q, planes, dim)
    val score = if (exactDecimal) cosineFixed(col(vecCol), q) else cosine(col(vecCol), q)
    withBucket
      .filter(bit_count(col("bucket").bitwiseXOR(qBucket)) <= probeHamming)
      .select(col(idCol), score.as("score"), col("bucket"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }
}
