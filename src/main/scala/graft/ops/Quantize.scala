package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Product quantization (PQ) for embedding columns — the memory side of
 * ANN at 100 TB, complementing [[Similarity.ivfTopK]]'s pruning side
 * (Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
 * Search", IEEE TPAMI 2011).
 *
 * A `d`-dim float vector (4·d bytes) is split into `m` subspaces of
 * `d/m` dims; each sub-vector is replaced by the index of its nearest
 * codeword from a per-subspace codebook of `ksub` entries. The vector
 * becomes `m` small integers — at the usual ksub ≤ 256 that is m bytes,
 * a 4·d/m-fold compression (64-dim floats, m=8: 32×). Query scoring is
 * asymmetric distance computation (ADC): the query stays exact, each
 * subspace contributes a table lookup `dot(q_s, codeword)`, so scanning
 * a billion codes needs no float vectors at all — the scan reads
 * `m` bytes per row and the codebooks are a driver-side literal.
 *
 * Approximation contract: ADC scores cosine against the QUANTIZED
 * vector — `dot(q, x̂) / (‖q‖·‖x̂‖)` with `x̂` the concatenated
 * codewords. The oracle mirrors that algorithm (assignment, lookup,
 * norm) rather than comparing to exact brute force, the
 * [[Similarity.ivfTopK]] gate discipline.
 *
 * Cross-engine determinism, throughout: every dot/norm accumulates
 * `round(term·1e15)` as exact integers (the [[Similarity.dotFixed]]
 * fixed-point discipline), L2 assignment compares `2·⟨x,c⟩ − ‖c‖²` in
 * those integer units (‖x‖² is constant per sub-vector and cannot
 * change the argmin), ties break to the smaller codeword index, and
 * trained codewords are the one double division `sum / (count·1e15)`
 * of decimal-exact member sums — so a SQL oracle reproduces codes and
 * scores bit-for-bit.
 *
 * Scale shape: training is `iters` rounds of ONE distributed job each
 * (the m per-subspace argmins run in a single scan; member sums
 * collapse map-side to m·ksub rows before the exchange); encoding is a
 * per-row expression (no shuffle); the persisted index stores
 * `(id, codes)` rows only — probes scan codes and never touch float
 * vectors. Codebooks are m·ksub·(d/m) doubles — driver-literal at any
 * corpus size.
 */
object Quantize {

  /** Per-subspace squared codeword norms in 1e-15 fixed-point units,
    * evaluated by the ENGINE in one tiny job (the
    * [[Similarity]] centroid-norm discipline — never reimplemented
    * driver-side, so oracle SQL reproduces each term). A zero-norm
    * codeword is refused: it would zero its subspace's contribution to
    * the reconstructed norm and, on a fully-zero code row, divide the
    * ADC score by zero — NaN ranks differently across engines. */
  private def codewordNorms(spark: org.apache.spark.sql.SparkSession,
                            cbs: Seq[Seq[Seq[Double]]]): Seq[Seq[Long]] = {
    // engine kernel on the driver constants — the m·ksub-column one-row
    // projection this replaces overflowed codegen's 64 KB limit at
    // production ksub = 256 (ERROR-logged fallback on every probe call)
    cbs.zipWithIndex.map { case (cb, s) =>
      cb.zipWithIndex.map { case (c, j) =>
        val n = graft.functions.CodebookKernels.fixedDotDriver(c, c)
        require(n > 0L, s"PQ codeword ($s, $j) has zero norm; train on " +
          "non-degenerate vectors (filter empty embeddings first)")
        n
      }
    }
  }

  /** The s-th sub-vector (1-based slice; `dsub` elements). */
  private def subVec(vec: Column, s: Int, dsub: Int): Column =
    slice(vec, s * dsub + 1, dsub)

  // per-subspace nearest-codeword argmax (key `2·⟨x,c⟩ − ‖c‖²`, ties to
  // the smaller index) lives in the native [[graft.functions.PqCodes]]
  // kernel — the composed struct-max unroll it replaced is kept as the
  // executable parity spec in ExprSpec

  /** Train per-subspace PQ codebooks deterministically: the seed for
    * codeword `j` of every subspace is the j-th sub-vector of the
    * `ksub` smallest-id vectors; each of the `iters` Lloyd rounds
    * reassigns every sub-vector (fixed-point L2) and recomputes
    * codewords as member means (decimal-exact sums, one double
    * division). `iters = 0` is the pure seeded quantizer — the fully
    * oracle-mirrorable form the gates use.
    *
    * Returns `m` codebooks of `ksub` codewords of `dim/m` doubles,
    * ready for [[pqTopK]] / [[buildPqIndex]].
    *
    * Scale shape per round: ONE distributed job — a scan computing the
    * m argmins per row, exploding to m small (subspace, code,
    * sub-vector) rows that collapse map-side to m·ksub partial sums
    * before the exchange. Vectors never shuffle whole. A cell left
    * empty by a round keeps its previous codeword. */
  def pqCodebooks(df: DataFrame, idCol: String, vecCol: String,
                  m: Int, ksub: Int, iters: Int): Seq[Seq[Seq[Double]]] = {
    require(m >= 1 && ksub >= 1 && iters >= 0,
      s"pqCodebooks: need m >= 1, ksub >= 1, iters >= 0; got ($m, $ksub, $iters)")
    val spark = df.sparkSession
    val seeds = df
      .select(col(idCol).cast(LongType), col(vecCol))
      .orderBy(col(idCol)).limit(ksub)
      .collect().toSeq.map(_.getSeq[Float](1).map(_.toDouble))
    require(seeds.length == ksub,
      s"pqCodebooks: need >= $ksub vectors, got ${seeds.length}")
    val dim = seeds.head.length
    require(dim % m == 0,
      s"pqCodebooks: dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    var cbs: Seq[Seq[Seq[Double]]] =
      (0 until m).map(s => seeds.map(v => v.slice(s * dsub, (s + 1) * dsub)))
    for (_ <- 0 until iters) {
      val cc = codewordNorms(spark, cbs)
      // all m argmins come from ONE pq_codes kernel call, evaluated in
      // the projection BEFORE the generator (a non-generator column in
      // the SAME select as a generator would re-evaluate per generated
      // row — the kmeansCodebook pitfall; a parent projection runs once
      // per input row). The former per-struct nearestCode unroll also
      // overflowed janino's 64 KB limit inside this explode's consume.
      val parts = (0 until m).map(s => struct(
        lit(s).as("s"),
        element_at(col("_codes"), s + 1).cast(LongType).as("c"),
        subVec(col("v"), s, dsub).as("sub")))
      val perDim = (0 until dsub).map(i =>
        sum(round(element_at(col("p.sub"), i + 1).cast(DoubleType) * lit(1e15))
          .cast(DecimalType(38, 0))).as(s"sf_$i"))
      val stats = df.select(col(vecCol).as("v"))
        .select(col("v"),
          graft.functions.native.pq_codes(col("v"), cbs, cc).as("_codes"))
        .select(explode(array(parts: _*)).as("p"))
        .groupBy(col("p.s").as("s"), col("p.c").as("c"))
        .agg(count(lit(1)).as("cnt"), perDim: _*)
        .collect()
      val next = cbs.map(_.map(_.toArray).toArray).toArray
      stats.foreach { r =>
        val s = r.getInt(0); val cIdx = r.getLong(1).toInt
        val cnt = r.getLong(2)
        var i = 0
        while (i < dsub) {
          next(s)(cIdx)(i) = r.getDecimal(3 + i).doubleValue() / (cnt * 1e15)
          i += 1
        }
      }
      cbs = next.map(_.map(_.toSeq).toSeq).toSeq
    }
    cbs
  }

  /** Encode every vector to its `m` codeword indices:
    * (`id`, `codes` array&lt;short&gt;). Pure per-row expressions — no
    * shuffle, no driver data path; this is the map stage a 100 TB
    * encode job runs as-is. */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               cbs: Seq[Seq[Seq[Double]]]): DataFrame = {
    val cc = codewordNorms(df.sparkSession, cbs)
    df.select(col(idCol).cast(LongType).as("id"),
      graft.functions.native.pq_codes(col(vecCol), cbs, cc).as("codes"))
  }

  /** Query-side ADC tables, computed by the engine's own fixed-dot
    * kernel invoked directly on the constants: `lut(s)(j) =
    * ⟨q_s, codeword⟩` and `qq = ⟨q, q⟩`, all in 1e-15 fixed-point units
    * (the m·ksub-column one-row projection this replaces overflowed
    * codegen's 64 KB limit at production ksub and scheduled a Spark job
    * per probe call). */
  private def adcTables(spark: org.apache.spark.sql.SparkSession,
                        query: Seq[Float], cbs: Seq[Seq[Seq[Double]]])
      : (Seq[Seq[Long]], Long) = {
    val q = query.map(_.toDouble)
    val dsub = cbs.head.head.length
    require(q.length == cbs.length * dsub,
      s"query dim ${q.length} != codebook dim ${cbs.length * dsub}")
    val lut = cbs.zipWithIndex.map { case (cb, s) =>
      val sub = q.slice(s * dsub, (s + 1) * dsub)
      cb.map(c => graft.functions.CodebookKernels.fixedDotDriver(sub, c))
    }
    (lut, graft.functions.CodebookKernels.fixedDotDriver(q, q))
  }

  /** ADC score over a `codes` column: Σ_s lut(s)(code_s) over
    * √(qq · Σ_s cc(s)(code_s)) — cosine of the query against the
    * reconstructed vector, as ONE native kernel call
    * ([[graft.functions.AdcScore]]): the old unrolled
    * `element_at`-chain reduce generated O(m·nesting) Java per score
    * and overflowed janino's 64 KB method limit at realistic m,
    * silently dropping the whole probe stage out of whole-stage
    * codegen. Scores are bit-identical (same integer sums, same IEEE
    * double chain). */
  private def adcScore(codesCol: Column, lut: Seq[Seq[Long]],
                       cc: Seq[Seq[Long]], qq: Long): Column =
    graft.functions.native.adc_score(codesCol, typedLit(lut), lit(qq),
      cc.map(_.toArray).toArray)

  /** One-shot PQ top-k: encode + ADC in a single scan of the raw
    * vectors — the exactness gate for the persisted form, and the
    * "quantize on the fly" shape when codes are not (yet) materialized.
    * Output (`id`, `score`), score desc then id; TakeOrdered — scores
    * never shuffle, only per-partition top-k rows do. */
  def pqTopK(df: DataFrame, idCol: String, vecCol: String,
             query: Seq[Float], k: Int, cbs: Seq[Seq[Seq[Double]]]): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = df.sparkSession
    val cc = codewordNorms(spark, cbs)
    val (lut, qq) = adcTables(spark, query, cbs)
    pqEncode(df, idCol, vecCol, cbs)
      .select(col("id"), adcScore(col("codes"), lut, cc, qq).as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }

  // ---------------------------------------------------------------- //
  // persisted form: build / append / probe                           //
  // ---------------------------------------------------------------- //

  /** Build a persisted PQ index at `path`: a `(id, codes)` parquet
    * table plus a self-describing `_codebook` sidecar (flattened
    * codewords + the build stamp — the [[Similarity.buildIvfIndex]]
    * discipline) and the [[IndexIds]] Bloom sidecar for O(delta)
    * append guards. Codes are sorted by id for locality; the table is
    * 10 bytes + m·2 per row — the whole point at 100 TB is that probes
    * scan THIS, never the float vectors. */
  def buildPqIndex(df: DataFrame, idCol: String, vecCol: String,
                   cbs: Seq[Seq[Seq[Double]]], path: String,
                   expectedIds: Long = IndexIds.DefaultExpectedIds,
                   idFpp: Double = IndexIds.DefaultFpp): Unit = {
    val spark = df.sparkSession
    val obs = org.apache.spark.sql.Observation()
    pqEncode(df, idCol, vecCol, cbs)
      .observe(obs, Similarity.stampExprs.head, Similarity.stampExprs.tail: _*)
      .sortWithinPartitions(col("id"))
      .write.mode("overwrite").parquet(path)
    val stamp = Similarity.stampObserved(obs.get, df, idCol)
    Similarity.requireIndexNonEmpty(spark, path, "buildPqIndex", stamp.nRows)
    writeCodewords(spark, s"$path/_codebook", cbs, Some(stamp))
    IndexIds.writeFresh(spark, path,
      df.select(col(idCol).cast(LongType).as("id")), stamp.nRows,
      expectedIds, idFpp)
  }

  /** PQ codebooks as `(s, j, codeword)` rows at `dir`, plus the
    * constant stamp columns when `stamp` is set — driver-direct
    * (MetaIO): m×k driver-held rows never needed a Spark job. */
  private def writeCodewords(spark: org.apache.spark.sql.SparkSession,
                             dir: String, cbs: Seq[Seq[Seq[Double]]],
                             stamp: Option[Similarity.IvfStamp]): Unit =
    graft.store.MetaIO.writeRows(spark.sparkContext.hadoopConfiguration, dir,
      Seq("s" -> (0L: Any), "j" -> (0L: Any), "codeword" -> (Seq(0.0d): Any)) ++
        stamp.map(_ => Seq("n_rows" -> (0L: Any),
          "id_hash_sum" -> (java.math.BigDecimal.ZERO: Any))).getOrElse(Nil),
      for { (cb, s) <- cbs.iterator.zipWithIndex; (c, j) <- cb.iterator.zipWithIndex }
        yield Seq[Any](s.toLong, j.toLong, c) ++
          stamp.map(st => Seq[Any](st.nRows, st.idHashSum.setScale(0))).getOrElse(Nil))

  /** The codebooks of a [[writeCodewords]] sidecar at `dir`. */
  private def loadCodewords(spark: org.apache.spark.sql.SparkSession,
                            dir: String): Seq[Seq[Seq[Double]]] =
    graft.store.MetaIO.readRows(spark.sparkContext.hadoopConfiguration, dir)
      .groupBy(_("s").asInstanceOf[Long]).toSeq.sortBy(_._1)
      .map { case (_, rs) =>
        rs.sortBy(_("j").asInstanceOf[Long])
          .map(_("codeword").asInstanceOf[Seq[Any]]
            .map(_.asInstanceOf[Double]).toSeq).toSeq }

  /** The codebooks a [[buildPqIndex]] index was built with. */
  def loadPqCodebooks(spark: org.apache.spark.sql.SparkSession,
                      path: String): Seq[Seq[Seq[Double]]] =
    loadCodewords(spark, s"$path/_codebook")

  /** The stamp a [[buildPqIndex]] index was built with. */
  def loadPqStamp(spark: org.apache.spark.sql.SparkSession,
                  path: String): Similarity.IvfStamp =
    IndexLayout.Pq.loadStamp(spark, path)

  /** Freshness contract ([[Similarity.requireIvfFresh]] shape): the
    * live source's id-only stamp must equal the one built. */
  def requirePqFresh(spark: org.apache.spark.sql.SparkSession, path: String,
                     df: DataFrame, idCol: String): Unit =
    IndexLayout.Pq.requireFresh(spark, path, df, idCol)

  /** INCREMENTAL build: encode NEW vectors with the index's OWN
    * codebooks (read from `_codebook` — build/append assignment can
    * never drift) and append their code rows; the stamp is rewritten
    * additively. Appended ids must be new and unique within the batch —
    * refused in O(delta) via the [[IndexIds]] Bloom sidecar. Crash
    * windows match [[Similarity.appendIvfIndex]]: Bloom-merge-first
    * over-approximates (next attempt precise-verifies and proceeds); a
    * crash between the data append and the stamp rewrite fails closed
    * at the freshness check — rebuild to recover. */
  def appendPqIndex(df: DataFrame, idCol: String, vecCol: String,
                    path: String, skipIdCheck: Boolean = false): Unit = {
    val spark = df.sparkSession
    val cbs = loadPqCodebooks(spark, path)
    IndexLayout.Pq.append(df, idCol, path, skipIdCheck) { obs =>
      pqEncode(df, idCol, vecCol, cbs)
        .observe(obs, Similarity.stampExprs.head, Similarity.stampExprs.tail: _*)
        .sortWithinPartitions(col("id"))
        .write.mode("append").parquet(path)
      Nil
    }
  }

  // ---------------------------------------------------------------- //
  // IVF + PQ: coarse-list partition pruning over compressed codes     //
  // ---------------------------------------------------------------- //

  /** Build a persisted IVF+PQ index — the canonical billion-scale ANN
    * layout (IVFADC, Jégou et al. §IV): rows `(id, codes)` hive-
    * partitioned by coarse `list` ([[Similarity.buildIvfIndex]]'s
    * nearest-centroid assignment), codes from [[pqCodebooks]]. A probe
    * composes BOTH prunings: the `list IN (probes)` partition filter
    * skips unprobed directories at file listing, and the surviving scan
    * reads m·2-byte code rows, never float vectors — at 100 TB of
    * embeddings the probe I/O is `nprobe/nlist × m/(4·d)` of the
    * corpus (nlist=1024, m=8, d=64: ~0.01%).
    *
    * Self-describing tree: `_coarse` holds the coarse codebook + the
    * build stamp; `_pqcb` holds the PQ codebooks; the [[IndexIds]]
    * Bloom sidecar guards appends. Scoring is plain ADC — the coarse
    * residual is deliberately NOT subtracted (scores match [[pqTopK]]
    * exactly, so the one-shot and composed forms share oracles; a
    * residual variant would couple code meaning to list assignment and
    * block list-local re-clustering). */
  def buildIvfPqIndex(df: DataFrame, idCol: String, vecCol: String,
                      coarseCb: Seq[Seq[Double]], cbs: Seq[Seq[Seq[Double]]],
                      path: String,
                      expectedIds: Long = IndexIds.DefaultExpectedIds,
                      idFpp: Double = IndexIds.DefaultFpp): Unit = {
    val spark = df.sparkSession
    val dyy = Similarity.centroidNorms(spark, coarseCb)
    val cc = codewordNorms(spark, cbs)
    val obs = org.apache.spark.sql.Observation()
    IndexLayout.lists.write(
      df.select(col(idCol).cast(LongType).as("id"),
          graft.functions.native.pq_codes(col(vecCol), cbs, cc).as("codes"),
          Similarity.nearestCentroid(col(vecCol), coarseCb, dyy).as("list"))
        .observe(obs, Similarity.stampExprs.head, Similarity.stampExprs.tail: _*),
      path, "overwrite")
    val stamp = Similarity.stampObserved(obs.get, df, idCol)
    Similarity.requireIndexNonEmpty(spark, path, "buildIvfPqIndex", stamp.nRows)
    Similarity.writeIvfCodebook(spark, s"$path/_coarse", coarseCb, stamp)
    writeCodewords(spark, s"$path/_pqcb", cbs, None)
    IndexIds.writeFresh(spark, path,
      df.select(col(idCol).cast(LongType).as("id")), stamp.nRows,
      expectedIds, idFpp)
  }

  /** The coarse codebook an IVF+PQ index was built with, in list order. */
  def loadIvfPqCoarse(spark: org.apache.spark.sql.SparkSession,
                      path: String): Seq[Seq[Double]] =
    Similarity.loadCentroids(spark, s"$path/_coarse")

  /** The PQ codebooks an IVF+PQ index was built with. */
  def loadIvfPqCodebooks(spark: org.apache.spark.sql.SparkSession,
                         path: String): Seq[Seq[Seq[Double]]] =
    loadCodewords(spark, s"$path/_pqcb")

  /** The stamp an IVF+PQ index was built with (rides `_coarse`). */
  def loadIvfPqStamp(spark: org.apache.spark.sql.SparkSession,
                     path: String): Similarity.IvfStamp =
    IndexLayout.IvfPq.loadStamp(spark, path)

  /** Freshness contract for the composed index. */
  def requireIvfPqFresh(spark: org.apache.spark.sql.SparkSession,
                        path: String, df: DataFrame, idCol: String): Unit =
    IndexLayout.IvfPq.requireFresh(spark, path, df, idCol)

  /** INCREMENTAL build for the composed index: NEW vectors are assigned
    * with the index's OWN coarse codebook and encoded with its OWN PQ
    * codebooks (no drift on either axis), landing as extra files inside
    * the same list directories; the stamp rewrites additively. Same
    * guard and crash windows as [[appendPqIndex]]. */
  def appendIvfPqIndex(df: DataFrame, idCol: String, vecCol: String,
                       path: String, skipIdCheck: Boolean = false): Unit = {
    val spark = df.sparkSession
    val coarseCb = loadIvfPqCoarse(spark, path)
    val cbs = loadIvfPqCodebooks(spark, path)
    IndexLayout.IvfPq.append(df, idCol, path, skipIdCheck) { obs =>
      val dyy = Similarity.centroidNorms(spark, coarseCb)
      val cc = codewordNorms(spark, cbs)
      IndexLayout.lists.write(
        df.select(col(idCol).cast(LongType).as("id"),
            graft.functions.native.pq_codes(col(vecCol), cbs, cc).as("codes"),
            Similarity.nearestCentroid(col(vecCol), coarseCb, dyy).as("list"))
          .observe(obs, Similarity.stampExprs.head, Similarity.stampExprs.tail: _*),
        path, "append")
      Nil
    }
  }

  /** Top-k over the composed index: rank coarse lists by the query's
    * centroid affinities (one tiny engine job — the
    * [[Similarity.ivfTopKIndexed]] discipline), scan ONLY the `nprobe`
    * probed list directories (`PartitionFilters: [list IN (...)]`),
    * ADC-score their code rows, TakeOrdered. Output
    * (`id`, `score`, `list`), score desc then id. */
  def ivfPqTopKIndexed(spark: org.apache.spark.sql.SparkSession,
                       path: String, query: Seq[Float], k: Int, nprobe: Int,
                       verifyAgainst: Option[(DataFrame, String)] = None)
      : DataFrame = {
    require(k >= 1 && nprobe >= 1,
      s"k and nprobe must be >= 1, got ($k, $nprobe)")
    verifyAgainst.foreach { case (df, idCol) =>
      requireIvfPqFresh(spark, path, df, idCol) }
    val coarseCb = loadIvfPqCoarse(spark, path)
    val cbs = loadIvfPqCodebooks(spark, path)
    val dyy = Similarity.centroidNorms(spark, coarseCb)
    // query→centroid dots via the engine's kernel on driver constants
    // (fixedDotDriver — identical values, no 64 KB projection, no job)
    val qd = query.map(_.toDouble)
    val probes: Seq[Long] = coarseCb.indices
      .map { j =>
        val dxy = graft.functions.CodebookKernels.fixedDotDriver(qd, coarseCb(j))
        (dxy.toDouble / math.sqrt(dyy(j).toDouble), j.toLong)
      }
      .sortBy { case (s, cid) => (-s, cid) }.take(nprobe).map(_._2)
    val cc = codewordNorms(spark, cbs)
    val (lut, qq) = adcTables(spark, query, cbs)
    IndexMaintenance.minusTombstones(spark, path,
        IndexMaintenance.readTree(spark, path).filter(col("list").isin(probes: _*)), "id")
      .select(col("id"), adcScore(col("codes"), lut, cc, qq).as("score"),
        col("list").cast(LongType).as("list"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }

  /** [[ivfPqTopKIndexed]] restricted to an ALLOWED id set — filtered
    * search at the COMPRESSED tier
    * ([[Similarity.ivfTopKIndexedFiltered]]'s contract on the PQ code
    * tree): the allowed relation semi-joins the probed code rows
    * id-only BETWEEN candidate generation and ADC scoring, so the
    * filter never touches vectors OR codes beyond the survivors, and
    * the result is the true filtered ADC top-k of the probed lists.
    * `minSurvivors` adds the same deterministic probe-doubling
    * escalation along the fixed coarse-affinity ranking (each round
    * one id-only count; degrades to the full filtered ADC scan). At
    * scale this is the shape a billion-vector metadata-filtered
    * retrieval runs: codes-only scan of the probed partitions, one
    * id hash semi-join, per-row LUT scoring, TakeOrdered. */
  def ivfPqTopKIndexedFiltered(spark: org.apache.spark.sql.SparkSession,
                               path: String, query: Seq[Float], k: Int,
                               nprobe: Int, allowed: DataFrame,
                               allowedIdCol: String, minSurvivors: Int = 0,
                               verifyAgainst: Option[(DataFrame, String)] = None)
      : DataFrame = {
    require(k >= 1 && nprobe >= 1,
      s"k and nprobe must be >= 1, got ($k, $nprobe)")
    verifyAgainst.foreach { case (df, idCol) =>
      requireIvfPqFresh(spark, path, df, idCol) }
    val coarseCb = loadIvfPqCoarse(spark, path)
    val cbs = loadIvfPqCodebooks(spark, path)
    val dyy = Similarity.centroidNorms(spark, coarseCb)
    val qd = query.map(_.toDouble)
    val ranked: Seq[Long] = coarseCb.indices
      .map { j =>
        val dxy = graft.functions.CodebookKernels.fixedDotDriver(qd, coarseCb(j))
        (dxy.toDouble / math.sqrt(dyy(j).toDouble), j.toLong)
      }
      .sortBy { case (s, cid) => (-s, cid) }.map(_._2)
    val allowedIds = allowed.select(
      Similarity.checkedLongId(allowedIdCol, "ivfPqTopKIndexedFiltered")
        .as("id")).distinct()
    def survivors(p: Int): DataFrame =
      IndexMaintenance.minusTombstones(spark, path,
          IndexMaintenance.readTree(spark, path)
            .filter(col("list").isin(ranked.take(p): _*)), "id")
        .join(allowedIds, Seq("id"), "left_semi")
    var p = math.min(nprobe, ranked.size)
    if (minSurvivors > 0) {
      val need = math.max(k, minSurvivors).toLong
      while (p < ranked.size && survivors(p).count() < need)
        p = math.min(p * 2, ranked.size)
    }
    val cc = codewordNorms(spark, cbs)
    val (lut, qq) = adcTables(spark, query, cbs)
    survivors(p)
      .select(col("id"), adcScore(col("codes"), lut, cc, qq).as("score"),
        col("list").cast(LongType).as("list"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }

  /** IVFADC with the standard exact REFINEMENT stage: the ADC top-`r`
    * candidates are re-scored by EXACT cosine against their raw
    * vectors, and the top-`k` of that re-ranking is returned. ADC
    * orders by the quantized reconstruction — good enough to SURFACE
    * neighbors, coarse for ordering them (m·2 bytes per vector); re-
    * scoring r ≈ 2–10× k raw vectors closes most of the recall gap at
    * a cost independent of corpus size, which is what makes the PQ
    * tree usable as the FIRST stage of a retrieval stack instead of a
    * lossy endpoint.
    *
    * Scale shape: stage 1 is [[ivfPqTopKIndexed]] verbatim (codes-only
    * scan of the nprobe pruned list directories); stage 2 collects the
    * r candidate ids (bounded by `r` — driver-tiny) and reads exactly
    * those rows from the RAW corpus via an `id IN (...)` literal
    * pushdown — parquet row-group pruned on an id-sorted corpus
    * layout, r float vectors total, nothing corpus-sized. Re-scores
    * are [[Similarity.cosineFixed]] (1e-15 fixed-point dots), so a SQL
    * oracle replays the candidate cut AND the exact re-ranking
    * bit-for-bit. Output (`id`, `score` = exact cosine), score desc
    * then id. */
  def ivfPqTopKRefined(spark: org.apache.spark.sql.SparkSession,
                       path: String, corpus: DataFrame, idCol: String,
                       vecCol: String, query: Seq[Float], k: Int, r: Int,
                       nprobe: Int,
                       verifyAgainst: Option[(DataFrame, String)] = None)
      : DataFrame = {
    require(r >= k, s"need r >= k (re-rank pool must cover the cut), " +
      s"got (k=$k, r=$r)")
    val cand = ivfPqTopKIndexed(spark, path, query, r, nprobe, verifyAgainst)
      .select("id").collect().map(_.getLong(0)).toSeq
    corpus
      .select(col(idCol).cast(LongType).as("id"), col(vecCol).as("_v"))
      .filter(col("id").isin(cand: _*))
      .select(col("id"),
        Similarity.cosineFixed(col("_v"), typedLit(query)).as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }

  /** Candidate-id count up to which stage 2 of a batch refinement
    * collects the ids and pushes them into the corpus scan as an
    * `id IN (...)` literal (row-group pruning — reads ~candidate rows);
    * past it the candidates broadcast-join into the scan instead (no
    * pruning, but no corpus shuffle and no driver blow-up). 64k ids is
    * ~0.5 MB on the driver and well inside literal-plan sanity. */
  private val MaxRerankPushdownIds: Int = 1 << 16

  /** Checkpointed-bytes bound under which the batch re-rank's pair
    * relation is broadcast-hinted: 256 MB of materialized rows builds a
    * hashed relation comfortably inside executor memory, and shipping
    * it beats shuffling a corpus that can be six orders of magnitude
    * larger. Byte-gated, never row-gated. */
  private val RerankBroadcastBytes: Long = 256L << 20

  /** Materialized byte size of an eagerly [[org.apache.spark.sql.Dataset
    * .localCheckpoint]]ed frame, read from the block manager (mem +
    * spilled disk across all cached partitions). `None` when the plan
    * is not a bare checkpoint or its blocks are not reported — callers
    * must treat that conservatively. This is the ONLY sound byte gate
    * for a checkpointed relation: the LogicalRDD's Catalyst stats carry
    * the origin plan's pre-checkpoint ESTIMATE, not the materialized
    * size. */
  private[graft] def checkpointedBytes(df: DataFrame): Option[Long] =
    df.queryExecution.optimizedPlan match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        df.sparkSession.sparkContext.getRDDStorageInfo
          .find(_.id == lr.rdd.id)
          .filter(_.numCachedPartitions > 0)
          .map(i => i.memSize + i.diskSize)
      case _ => None
    }

  /** [[ivfPqTopKRefined]] for a BATCH of queries — two-stage retrieval
    * over the composed tree: [[ivfPqKnnJoin]] surfaces each query's ADC
    * top-`r` from the codes-only pruned scan, then every candidate is
    * re-scored by EXACT fixed-point cosine against its raw vector and
    * the per-query top-`k` of the re-ranking is returned.
    *
    * Scale shape: the candidate relation is ≤ r·|queries| id pairs.
    * Stage 2 fetches raw vectors for the DISTINCT candidate ids — as an
    * `id IN (...)` literal pushdown while they fit
    * [[MaxRerankPushdownIds]] (row-group pruned, ~candidate-count rows
    * of float I/O), else as a broadcast semi-join into the corpus scan
    * (one corpus-column scan, still no corpus shuffle). Each candidate
    * then joins its query's vector and pays ONE exact dot. Scores are
    * [[Similarity.cosineFixed]] — oracle-replayable bit-for-bit.
    * Output (`query_id`, `neighbor_id`, `score` = exact cosine), ≤ k
    * rows per query, ties to the smaller neighbor id. */
  def ivfPqKnnJoinRefined(spark: org.apache.spark.sql.SparkSession,
                          path: String, queries: DataFrame, qIdCol: String,
                          qVecCol: String, corpus: DataFrame, cIdCol: String,
                          cVecCol: String, k: Int, r: Int, nprobe: Int,
                          verifyAgainst: Option[(DataFrame, String)] = None,
                          pruneLists: Boolean = true): DataFrame = {
    require(r >= k, s"need r >= k (re-rank pool must cover the cut), " +
      s"got (k=$k, r=$r)")
    val cand = ivfPqKnnJoin(spark, path, queries, qIdCol, qVecCol, r, nprobe,
        verifyAgainst, pruneLists)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint(true) // one ADC pass feeds both the id fetch and the pair join
    val probeIds = cand.select(col("neighbor_id")).distinct()
      .limit(MaxRerankPushdownIds + 1).collect().map(_.getLong(0))
    // broadcast of the pair relation is gated on its MATERIALIZED byte
    // size, never on a row count: r·|queries| pairs can build a
    // multi-hundred-MB LongHashedRelation under any row bound. The size
    // comes from the BLOCK MANAGER for the checkpointed RDD — the
    // eager localCheckpoint just cached every partition, so the block
    // sizes are the relation's true deserialized footprint. (The
    // LogicalRDD's Catalyst stats are NOT that: they carry the ORIGIN
    // plan's pre-checkpoint estimate, and a join-output estimate can be
    // off by orders of magnitude either way — verified on this Spark.)
    // The hint matters most in the >64k-distinct branch, where the
    // probe-id pushdown is off and the corpus scan is full-width: AQE
    // alone only converts to broadcast under
    // autoBroadcastJoinThreshold (10 MB by default), so a 30 MB pair
    // relation would otherwise SHUFFLE the whole corpus for the
    // re-rank. Past the bound — or if the blocks are unexpectedly not
    // reported — the shuffle join is the sound choice.
    val candBytes = checkpointedBytes(cand).getOrElse(Long.MaxValue)
    val candRel =
      if (candBytes <= RerankBroadcastBytes) broadcast(cand) else cand
    val corpusIds = corpus
      .select(Similarity.checkedLongId(cIdCol, "ivfPqKnnJoinRefined")
          .as("neighbor_id"),
        col(cVecCol).as("_nv"))
    val nbrVecs =
      if (probeIds.length <= MaxRerankPushdownIds)
        corpusIds.filter(col("neighbor_id").isin(probeIds.map(Long.box): _*))
          .join(candRel, "neighbor_id")
      else corpusIds.join(candRel, "neighbor_id")
    val scored = nbrVecs
      .join(queries.select(col(qIdCol).as("query_id"), col(qVecCol).as("_qv")),
        "query_id")
      .select(col("query_id"), col("neighbor_id"),
        Similarity.cosineFixed(col("_nv"), col("_qv")).as("score"))
    // per-query cut via the bounded [[TopK.topKPerGroup]] aggregate —
    // O(k) per query at every stage, not a rank-filtered window's full
    // per-partition sort (the >64k ScaleDrive heap-edge structure)
    TopK.topKPerGroup(scored, "query_id", "score", "neighbor_id", lit(0L), k)
      .select("query_id", "neighbor_id", "score")
  }

  /** [[adcScore]] with PER-ROW lookup tables: `lutCol` is an
    * `array<array<long>>` column (m × ksub) carried on the joined row,
    * `qqCol` the query's fixed-point self-dot — the batch-join form
    * where the query is a COLUMN, not a literal. Codeword self-norms
    * stay a kernel constant (they belong to the index, not the query).
    * Same native kernel as [[adcScore]] — the join form met the 64 KB
    * limit first (its per-row lut adds one more `element_at` nest). */
  private def adcScoreCols(codesCol: Column, lutCol: Column,
                           cc: Seq[Seq[Long]], qqCol: Column): Column =
    graft.functions.native.adc_score(codesCol, lutCol, qqCol,
      cc.map(_.toArray).toArray)

  /** Batch ADC kNN JOIN against a persisted [[buildIvfPqIndex]] tree —
    * [[Similarity.knnJoinIndexed]] over COMPRESSED codes: the per-query
    * top-k for EVERY row of `queries` in one job, reading only
    * `(id, codes, list)` (m·2 bytes per corpus row — zero float-vector
    * I/O, the whole point at 100 TB).
    *
    * Per query row, the m×ksub ADC lookup table is computed ONCE as a
    * COLUMN (ksub fixed-point sub-dots per subspace — ~ksub full-dot
    * cost, amortized over every candidate it meets) and rides the
    * nprobe-exploded probe rows through the coarse-list equi-join;
    * each (query, candidate) pair then costs m array lookups. The
    * probed-list union prunes unprobed directories at file listing
    * (bounded by nlist — one tiny distinct); tombstones are anti-joined
    * away; per-query/candidate scores are IDENTICAL to
    * [[ivfPqTopKIndexed]] with the same tree and nprobe. Output:
    * (`query_id`, `neighbor_id`, `score`, `list`), ≤ k rows per query,
    * ties to the smaller neighbor id. */
  def ivfPqKnnJoin(spark: org.apache.spark.sql.SparkSession, path: String,
                   queries: DataFrame, qIdCol: String, qVecCol: String,
                   k: Int, nprobe: Int,
                   verifyAgainst: Option[(DataFrame, String)] = None,
                   pruneLists: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    verifyAgainst.foreach { case (df, idCol) =>
      requireIvfPqFresh(spark, path, df, idCol) }
    val coarseCb = loadIvfPqCoarse(spark, path)
    val cbs = loadIvfPqCodebooks(spark, path)
    require(nprobe >= 1 && nprobe <= coarseCb.size,
      s"need 1 <= nprobe <= nlist=${coarseCb.size}, got $nprobe")
    val dyy = Similarity.centroidNorms(spark, coarseCb)
    val cc = codewordNorms(spark, cbs)
    val dsub = cbs.head.head.length
    val qv = col(qVecCol)
    // probe ranking and the m×ksub ADC table are each ONE native kernel
    // call per query row — the composed forms (an nlist-wide struct-sort
    // array; m·ksub inline fixed-dots) overflowed codegen's 64 KB limit
    // at production nlist/ksub, ERROR-logging and dropping the whole
    // query-side projection to interpreted eval on every probe. Parity
    // (values, tie order, null cells) is pinned in ExprSpec.
    val probeArr = graft.functions.native.top_lists(
      qv, coarseCb, coarseCb.indices.map(_.toLong), dyy, nprobe)
    val lutCol = graft.functions.native.pq_lut(qv, cbs)
    val querySide = queries.select(col(qIdCol).as("_qid"), lutCol.as("_lut"),
      Similarity.dotFixed(qv, qv).as("_qq"), explode(probeArr).as("_list"))
    // pruning pays one extra query-side pass (the distinct re-evaluates
    // the probe ranking + LUT projection): right for small/clustered
    // batches, skippable (pruneLists = false) for batches that would
    // probe most lists anyway
    val base = IndexMaintenance.readTree(spark, path)
    val pruned = if (pruneLists) {
      val usedLists = querySide.select(col("_list")).distinct()
        .collect().map(_.getLong(0)) // ≤ nlist values by construction
      base.filter(col("list").isin(usedLists: _*))
    } else base
    val corpusSide = IndexMaintenance.minusTombstones(spark, path, pruned, "id")
      .select(col("id").as("_nid"), col("codes").as("_codes"),
        col("list").cast(LongType).as("_list"))
    val scored = querySide.join(corpusSide, "_list")
      .select(col("_qid"), col("_nid"), col("_list"),
        adcScoreCols(col("_codes"), col("_lut"), cc, col("_qq")).as("score"))
    // bounded top-k per query — the [[TopK.topKPerGroup]] cut over
    // nprobe lists' worth of candidates; the probed list id rides
    // through as the payload
    TopK.topKPerGroup(scored, "_qid", "score", "_nid", col("_list"), k)
      .select(col("_qid").as("query_id"), col("_nid").as("neighbor_id"),
        col("score"), col("payload").as("list"))
  }

  // ---------------------------------------------------------------- //
  // scalar quantization (SQ8): 4x compression, per-dim affine codes   //
  // ---------------------------------------------------------------- //

  /** Per-dimension (min, max) over the corpus — the SQ8 training step:
    * one aggregation job, 2·dim scalars to the driver. Float min/max
    * widen exactly to double, so the oracle reproduces them. */
  def sqParams(df: DataFrame, vecCol: String,
               dim: Int): (Seq[Double], Seq[Double]) = {
    require(dim >= 1 && dim <= 4096, s"dim must be in [1, 4096], got $dim")
    val aggs = (0 until dim).flatMap(i => Seq(
      min(element_at(col(vecCol), i + 1)).as(s"mn_$i"),
      max(element_at(col(vecCol), i + 1)).as(s"mx_$i")))
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    // fail-fast on a degenerate corpus: min/max of zero (non-null)
    // values is NULL, and getAs[Float] would silently unbox it to 0.0f
    // — all-zero params would then "train" on nothing
    require((0 until 2 * dim).forall(i => !row.isNullAt(i)),
      s"sqParams: no values to train on for some dimension — empty " +
        s"corpus, all-null $vecCol, or vectors shorter than dim=$dim")
    ((0 until dim).map(i => row.getAs[Float](s"mn_$i").toDouble),
     (0 until dim).map(i => row.getAs[Float](s"mx_$i").toDouble))
  }

  /** SQ8 encode: `code_i = clamp(floor((x_i − min_i)·255 / range_i))`
    * in [0, 255] (degenerate dims encode 0) — one byte per dimension,
    * 4× smaller than float32, higher fidelity than PQ's m codes. Pure
    * per-row expressions, every step double-IEEE so the oracle
    * replays codes bit-for-bit. */
  def sqEncode(df: DataFrame, idCol: String, vecCol: String,
               mins: Seq[Double], maxs: Seq[Double]): DataFrame = {
    val ranges = mins.zip(maxs).map { case (a, b) => b - a }
    val shifted = zip_with(col(vecCol), typedLit(mins),
      (x, m) => x.cast(DoubleType) - m)
    val codes = zip_with(shifted, typedLit(ranges), (s, r) =>
      when(r > 0d,
        least(greatest(floor((s * lit(255d)) / r), lit(0d)), lit(255d)))
        .otherwise(lit(0d)).cast(IntegerType))
    df.select(col(idCol).cast(LongType).as("id"), codes.as("codes"))
  }

  /** One-shot SQ8 cosine top-k: encode + asymmetric score in a single
    * scan — the query stays full-precision, each corpus row scores
    * against its DEQUANTIZED codes (`v_i = min_i + code_i·range_i/255`)
    * through the same 1e-15 fixed-point dot discipline as every other
    * ANN operator here, so ranking is engine-exact. The per-dim
    * (query, min, range) constants ride ONE literal struct array;
    * scoring is per-row, the top-k a TakeOrdered.
    *
    * Positioning: SQ8 is the query-time compression point between raw
    * cosine (1×) and PQ (32×) — better fidelity than PQ, no codebook
    * training, 4× less to scan. The persisted/compressed-at-rest path
    * with full lifecycle is the PQ family; SQ8 serves the "cheaper
    * full-fidelity-ish rescoring" slot. Output (`id`, `score`). */
  def sqTopK(df: DataFrame, idCol: String, vecCol: String,
             query: Seq[Float], k: Int,
             mins: Seq[Double], maxs: Seq[Double]): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(query.length == mins.length && mins.length == maxs.length,
      s"dim mismatch: query ${query.length}, params ${mins.length}/${maxs.length}")
    val spark = df.sparkSession
    val qd = query.map(_.toDouble)
    val consts = typedLit(qd.indices.map(i =>
      (qd(i), mins(i), maxs(i) - mins(i))))
    // the engine's fixed-dot kernel on the driver constant (identical
    // value to the old one-row projection, without the scheduled job)
    val qq = graft.functions.CodebookKernels.fixedDotDriver(qd, qd)
    def dequant(c: Column, s: Column): Column =
      s.getField("_2") + ((c.cast(DoubleType) * s.getField("_3")) / lit(255d))
    val scored = sqEncode(df, idCol, vecCol, mins, maxs).select(col("id"),
      aggregate(
        zip_with(col("codes"), consts, (c, s) =>
          round(s.getField("_1") * dequant(c, s) * lit(1e15)).cast(LongType)),
        lit(0L), (acc, v) => acc + v).as("_dot"),
      aggregate(
        zip_with(col("codes"), consts, (c, s) => {
          val v = dequant(c, s)
          round(v * v * lit(1e15)).cast(LongType)
        }),
        lit(0L), (acc, v) => acc + v).as("_nn"))
    scored.select(col("id"),
        (col("_dot").cast(DoubleType) /
          (sqrt(lit(qq).cast(DoubleType)) *
           sqrt(col("_nn").cast(DoubleType)))).as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }

  /** Top-k ADC probe against a persisted index: reads ONLY the
    * `(id, codes)` rows — m·2 bytes of code per row, zero float-vector
    * I/O — scores each through the driver-literal lookup tables, and
    * TakeOrdereds the result. Output (`id`, `score`), score desc then
    * id. Optionally verifies the build stamp against a live source
    * first. */
  def pqTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                    query: Seq[Float], k: Int,
                    verifyAgainst: Option[(DataFrame, String)] = None)
      : DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    verifyAgainst.foreach { case (df, idCol) =>
      requirePqFresh(spark, path, df, idCol) }
    val cbs = loadPqCodebooks(spark, path)
    val cc = codewordNorms(spark, cbs)
    val (lut, qq) = adcTables(spark, query, cbs)
    IndexMaintenance.minusTombstones(spark, path,
        IndexMaintenance.readTree(spark, path), "id")
      .select(col("id"), adcScore(col("codes"), lut, cc, qq).as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }
}
