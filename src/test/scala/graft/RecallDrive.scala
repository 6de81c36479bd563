package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Retrieval-QUALITY gates for the ANN stack: recall@k against exact
  * brute-force cosine on a production-shaped tree (`nlist ≈ √N`), across
  * an nprobe sweep, with hard floors.
  *
  * Every `x_knn_*` correctness gate pins DETERMINISM — the DuckDB oracle
  * replays the engine's own approximation bit-for-bit — so a
  * codebook-training regression that craters recall would keep all of
  * them green. This drive pins the quality axis: a clustered corpus
  * (1000 topic centers + per-vector noise, all hash-derived — the shape
  * real embedding corpora have, and the regime IVF is designed for),
  * exact top-k ground truth from one crossJoin + window, and the three
  * probe paths measured side by side:
  *
  *   - `ivf`      exact cosine within probed lists ([[graft.ops.Similarity.knnJoinIndexed]])
  *   - `adc`      compressed-code ADC ranking      ([[graft.ops.Quantize.ivfPqKnnJoin]])
  *   - `refined`  ADC pool → exact re-rank         ([[graft.ops.Quantize.ivfPqKnnJoinRefined]])
  *
  * Floors are asserted at `floorsAtNprobe` (≈ √nlist — the production
  * operating point): a training/encoding regression that halves recall
  * fails here loudly, long before an end user notices silently missing
  * neighbors. Scale truth: ground truth costs |Q|·N exact dots (bounded
  * by the small query panel, NOT by corpus scale — it exists only in
  * this drive); the probed paths cost |Q| · nprobe/nlist · N, the
  * fraction the index design promises.
  *
  * Run standalone (calibration, small N): `sbt "Test/runMain graft.RecallDrive"`
  * — ScaleDrive invokes [[run]] at N=1M, nlist=1000 with floors on.
  */
object RecallDrive {

  /** Minimum mean recall@k per path, asserted at `floorsAtNprobe`. */
  final case class Floors(ivf: Double, adc: Double, refined: Double)

  /** Deterministic clustered corpus with LOW-RANK intra-topic structure:
    * topic `t = id % nTopics` has a hash-derived center in [-1,1]^64 and
    * three hash-derived basis directions; each vector sits at
    * `center[t] + tau * sum_j coef_j(id) * basis_j[t]` — a 3-dim affine
    * patch per topic. Two properties make this a MEANINGFUL recall
    * benchmark where iid per-element noise is not: (1) a query's true
    * neighbors are the topic-mates nearest in the 3-dim coefficient
    * space — low-dimensional structure a product quantizer can actually
    * encode (iid noise across 64 dims is information-free for PQ, which
    * drove ADC recall to chance in the first calibration); (2) with
    * `nTopics < nlist` the coarse k-means carves each elongated patch
    * into several lists, so ground-truth neighbors straddle list
    * boundaries and the nprobe knob has a visible, rising curve.
    * Queries at shifted ids draw FRESH coefficients on the same patches. */
  def synthVecs(ids: DataFrame, nTopics: Int, tau: Double): DataFrame = {
    val t = pmod(col("id"), lit(nTopics.toLong))
    def coef(j: Int) =
      (pmod(hash(col("id") * 8 + lit(j) + lit(715827883L)), lit(1000))
        .cast("float") / lit(500.0f) - lit(1.0f))
    ids.select(col("id"),
      transform(sequence(lit(1), lit(64)), i => (
        (pmod(hash(t * 64 + i), lit(1000)).cast("float") / lit(500.0f) -
          lit(1.0f)) +
        lit(tau.toFloat) * (
          coef(1) * (pmod(hash(t * 192 + i + lit(64)), lit(1000))
            .cast("float") / lit(500.0f) - lit(1.0f)) +
          coef(2) * (pmod(hash(t * 192 + i + lit(128)), lit(1000))
            .cast("float") / lit(500.0f) - lit(1.0f)) +
          coef(3) * (pmod(hash(t * 192 + i + lit(192)), lit(1000))
            .cast("float") / lit(500.0f) - lit(1.0f))) / lit(1.732f)
      ).cast("float")).as("embedding"))
  }

  /** Shared fixture for [[run]]/[[frontier]]: deterministic corpus +
    * query panel, exact ground truth, coarse codebook + IVF tree —
    * built ONCE so an m-sweep pays the corpus-sized costs once. */
  private final class Fixture(spark: SparkSession, n: Long, nQueries: Int,
                              nTopics: Int, nlist: Int, tau: Double, k: Int,
                              kmIters: Int) {
    def time[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val a = f
      println(f"  $tag%-52s ${(System.nanoTime() - t0) / 1e9}%8.2f s"); a
    }
    val corpus = synthVecs(spark.range(n).toDF("id"), nTopics, tau)
      .localCheckpoint(true)
    // query ids start at a multiple of nTopics so query q lands on patch
    // q — fresh patch coefficients (different ids) on the first
    // nQueries topics
    private val qBase = 20000000L - (20000000L % nTopics.toLong)
    val queries = synthVecs(
        spark.range(nQueries).select((col("id") + qBase).as("id")),
        nTopics, tau)
      .localCheckpoint(true)

    // exact ground truth: ONE BNLJ crossJoin (query panel broadcast) +
    // window — norms precomputed per side so each pair costs one dot
    import graft.ops.Similarity.dotFixed
    private val cn = corpus.select(col("id").as("nid"), col("embedding").as("nv"),
      sqrt(dotFixed(col("embedding"), col("embedding")).cast(DoubleType)).as("nn"))
    private val qn = queries.select(col("id").as("qid"), col("embedding").as("qv"),
      sqrt(dotFixed(col("embedding"), col("embedding")).cast(DoubleType)).as("qq"))
    private val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("score").desc, col("nid"))
    val gt = time(s"exact ground truth ($nQueries x $n dots)") {
      cn.crossJoin(broadcast(qn))
        .select(col("qid"), col("nid"),
          (dotFixed(col("qv"), col("nv")).cast(DoubleType) /
            (col("qq") * col("nn"))).as("score"))
        .withColumn("_rn", row_number().over(w)).filter(col("_rn") <= k)
        .select("qid", "nid")
        .localCheckpoint(true)
    }

    val cb = time(s"kmeansCodebook (k=$nlist, $kmIters Lloyd rounds)") {
      graft.ops.Similarity.kmeansCodebook(corpus, "id", "embedding", nlist,
        kmIters)
    }
    val ivfPath =
      java.nio.file.Files.createTempDirectory("recall-ivf").toString
    time(s"buildIvfIndex ($nlist lists)") {
      graft.ops.Similarity.buildIvfIndex(corpus, "id", "embedding", cb, ivfPath)
    }

    /** Build one IVFPQ tree for a given m; returns its path. */
    def buildIpq(m: Int, ksub: Int, pqIters: Int): String = {
      val cbs = time(s"pqCodebooks (m=$m, ksub=$ksub, $pqIters Lloyd rounds)") {
        graft.ops.Quantize.pqCodebooks(corpus, "id", "embedding", m, ksub,
          pqIters)
      }
      val ipqPath =
        java.nio.file.Files.createTempDirectory("recall-ivfpq").toString
      time(s"buildIvfPqIndex ($nlist lists, m=$m ksub=$ksub)") {
        graft.ops.Quantize.buildIvfPqIndex(corpus, "id", "embedding", cb, cbs,
          ipqPath)
      }
      ipqPath
    }

    def recall(res: DataFrame): Double = {
      val hits = res
        .select(col("query_id").as("qid"), col("neighbor_id").as("nid"))
        .join(gt, Seq("qid", "nid"), "left_semi").count()
      hits.toDouble / (nQueries.toDouble * k)
    }
  }

  /** Measure recall@k for the three probe paths over `nprobes`; print
    * the table; assert `floors` (if given) at `floorsAtNprobe`. */
  def run(spark: SparkSession, n: Long, nQueries: Int, nTopics: Int,
          nlist: Int, m: Int, ksub: Int, tau: Double, k: Int, r: Int,
          nprobes: Seq[Int], floorsAtNprobe: Int,
          floors: Option[Floors],
          kmIters: Int = 1, pqIters: Int = 1): Unit = {
    println(s"== ANN recall@$k vs exact brute force: N=$n nlist=$nlist " +
      s"nTopics=$nTopics m=$m ksub=$ksub tau=$tau |Q|=$nQueries")
    val fx = new Fixture(spark, n, nQueries, nTopics, nlist, tau, k, kmIters)
    import fx.{time, recall, corpus, queries, ivfPath}
    val ipqPath = fx.buildIpq(m, ksub, pqIters)

    println(f"  ${"nprobe"}%8s ${"ivf"}%8s ${"adc"}%8s ${"refined"}%8s")
    val measured = nprobes.map { np =>
      val rIvf = time(s"ivf probe    (nprobe=$np)") {
        recall(graft.ops.Similarity.knnJoinIndexed(spark, ivfPath, queries,
          "id", "embedding", k, np))
      }
      val rAdc = time(s"adc probe    (nprobe=$np)") {
        recall(graft.ops.Quantize.ivfPqKnnJoin(spark, ipqPath, queries,
          "id", "embedding", k, np))
      }
      val rRef = time(s"refined probe (nprobe=$np, r=$r)") {
        recall(graft.ops.Quantize.ivfPqKnnJoinRefined(spark, ipqPath, queries,
          "id", "embedding", corpus, "id", "embedding", k, r, np))
      }
      println(f"  $np%8d $rIvf%8.3f $rAdc%8.3f $rRef%8.3f")
      np -> (rIvf, rAdc, rRef)
    }.toMap

    floors.foreach { fl =>
      val (rIvf, rAdc, rRef) = measured(floorsAtNprobe)
      assert(rIvf >= fl.ivf,
        f"IVF recall@$k $rIvf%.3f under floor ${fl.ivf} at nprobe=$floorsAtNprobe")
      assert(rAdc >= fl.adc,
        f"ADC recall@$k $rAdc%.3f under floor ${fl.adc} at nprobe=$floorsAtNprobe")
      assert(rRef >= fl.refined,
        f"refined recall@$k $rRef%.3f under floor ${fl.refined} at nprobe=$floorsAtNprobe")
      assert(rRef >= rAdc,
        f"exact re-rank must not LOWER recall: refined $rRef%.3f < adc $rAdc%.3f")
      println(s"  floors OK at nprobe=$floorsAtNprobe: " +
        s"ivf>=${fl.ivf} adc>=${fl.adc} refined>=${fl.refined}")
    }
  }

  /** PQ design-frontier sweep: ONE corpus / ground truth / coarse tree,
    * an IVFPQ index per `m`, recall + wall-clock per (m, nprobe) — the
    * storage-vs-recall dial a 100 TB operator turns (code bytes/vector
    * = m at ksub=256; the corpus-resident cost of the compressed tree).
    * Emits `FRONTIER m=.. nprobe=.. ...` lines; the committed table
    * lives in DESIGN.md. Reproduce any row with
    * `RECALL_CORES=32 sbt "Test/runMain graft.RecallDrive frontier"`. */
  def frontier(spark: SparkSession, n: Long, nQueries: Int, nTopics: Int,
               nlist: Int, ms: Seq[Int], ksub: Int, tau: Double, k: Int,
               r: Int, nprobes: Seq[Int], kmIters: Int = 1,
               pqIters: Int = 2): Unit = {
    println(s"== PQ frontier: N=$n nlist=$nlist nTopics=$nTopics " +
      s"ms=${ms.mkString(",")} ksub=$ksub tau=$tau |Q|=$nQueries k=$k r=$r")
    val fx = new Fixture(spark, n, nQueries, nTopics, nlist, tau, k, kmIters)
    for (m <- ms) {
      val ipqPath = fx.buildIpq(m, ksub, pqIters)
      for (np <- nprobes) {
        val ta0 = System.nanoTime()
        val rAdc = fx.recall(graft.ops.Quantize.ivfPqKnnJoin(spark, ipqPath,
          fx.queries, "id", "embedding", k, np))
        val adcSec = (System.nanoTime() - ta0) / 1e9
        val tr0 = System.nanoTime()
        val rRef = fx.recall(graft.ops.Quantize.ivfPqKnnJoinRefined(spark,
          ipqPath, fx.queries, "id", "embedding", fx.corpus, "id",
          "embedding", k, r, np))
        val refSec = (System.nanoTime() - tr0) / 1e9
        println(f"FRONTIER m=$m%-3d bytes/vec=$m%-3d nprobe=$np%-4d " +
          f"adc=$rAdc%.3f refined=$rRef%.3f adc_s=$adcSec%.1f ref_s=$refSec%.1f")
      }
    }
  }

  /** INIT-QUALITY canary for [[graft.ops.Similarity.kmeansParallelInit]]
    * at large nlist: one corpus / query panel / exact ground truth, two
    * coarse codebooks refined by the SAME Lloyd rounds — the default
    * smallest-id seeding vs the k-means|| oversampled init — and the
    * IVF probe's recall@k measured for each. The assertion is ≥ PARITY
    * for the oversampled init (tolerance 0.01 for boundary ties): the
    * init exists for exactly this regime (nlist ≥ 256, where smallest-
    * id seeding draws all its centers from a corner of the id space),
    * so losing to it would mean the init is mis-wired. Also prints the
    * k-means COST (Σ d² to the assigned center, the quantity the init
    * optimizes) for both. */
  def initCanary(spark: SparkSession, n: Long, nQueries: Int, nTopics: Int,
                 nlist: Int, tau: Double, k: Int, nprobe: Int,
                 kmIters: Int = 2, rounds: Int = 3): Unit = {
    println(s"== kmeans|| init canary: N=$n nlist=$nlist nTopics=$nTopics " +
      s"nprobe=$nprobe kmIters=$kmIters rounds=$rounds")
    def time[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val a = f
      println(f"  $tag%-52s ${(System.nanoTime() - t0) / 1e9}%8.2f s"); a
    }
    val corpus = synthVecs(spark.range(n).toDF("id"), nTopics, tau)
      .localCheckpoint(true)
    val qBase = 20000000L - (20000000L % nTopics.toLong)
    val queries = synthVecs(
        spark.range(nQueries).select((col("id") + qBase).as("id")),
        nTopics, tau)
      .localCheckpoint(true)
    import graft.ops.Similarity
    import Similarity.dotFixed
    val cn = corpus.select(col("id").as("nid"), col("embedding").as("nv"),
      sqrt(dotFixed(col("embedding"), col("embedding")).cast("double")).as("nn"))
    val qn = queries.select(col("id").as("qid"), col("embedding").as("qv"),
      sqrt(dotFixed(col("embedding"), col("embedding")).cast("double")).as("qq"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("score").desc, col("nid"))
    val gt = time(s"exact ground truth ($nQueries x $n dots)") {
      cn.crossJoin(broadcast(qn))
        .select(col("qid"), col("nid"),
          (dotFixed(col("qv"), col("nv")).cast("double") /
            (col("qq") * col("nn"))).as("score"))
        .withColumn("_rn", row_number().over(w)).filter(col("_rn") <= k)
        .select("qid", "nid").localCheckpoint(true)
    }
    def evalInit(tag: String, init: Seq[Seq[Double]]): (Double, Double) = {
      val cb = time(s"$tag: Lloyd x$kmIters from ${init.length} centers") {
        Similarity.kmeansCodebook(corpus, "embedding", init, kmIters)
      }
      // k-means COST under the trained codebook: Σ d² to the assigned
      // center (1e-15 units, reported in plain units)
      val dyy = cb.map(c =>
        graft.functions.CodebookKernels.fixedDotDriver(c, c))
      val j = graft.functions.native.nearest_centroid(
        col("embedding"), cb, dyy).cast("int")
      val d2 = greatest(lit(0L),
        graft.functions.native.fixed_dot(col("embedding"), col("embedding")) +
          get(typedLit(dyy), j) -
          lit(2L) * graft.functions.native.fixed_dot(col("embedding"),
            get(typedLit(cb), j)))
      val cost = corpus
        .agg(sum(d2.cast(org.apache.spark.sql.types.DecimalType(38, 0))))
        .head().getDecimal(0).doubleValue() / 1e15
      val ivfPath = java.nio.file.Files
        .createTempDirectory(s"recall-init-$tag").toString
      time(s"$tag: buildIvfIndex") {
        Similarity.buildIvfIndex(corpus, "id", "embedding", cb, ivfPath)
      }
      val hits = Similarity.knnJoinIndexed(spark, ivfPath, queries,
          "id", "embedding", k, nprobe)
        .select(col("query_id").as("qid"), col("neighbor_id").as("nid"))
        .join(gt, Seq("qid", "nid"), "left_semi").count()
      val rec = hits.toDouble / (nQueries.toDouble * k)
      println(f"  $tag%-12s recall@$k=$rec%.3f cost=$cost%.1f")
      (rec, cost)
    }
    val seeded = corpus.select(col("id"), col("embedding"))
      .orderBy("id").limit(nlist).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    val (rSeed, costSeed) = evalInit("smallest-id", seeded)
    val (parInit, cand) = time(s"kmeansParallelInit (l=${2 * nlist}, $rounds rounds)") {
      Similarity.kmeansParallelInit(corpus, "id", "embedding",
        k = nlist, l = 2 * nlist, rounds = rounds, salt = "canary")
    }
    println(s"  candidates drawn: ${cand.length}")
    val (rPar, costPar) = evalInit("kmeans-par", parInit)
    assert(rPar >= rSeed - 0.01,
      f"kmeans|| init recall $rPar%.3f under smallest-id seeding " +
        f"$rSeed%.3f — the oversampled init regressed")
    println(f"  canary OK: kmeans|| $rPar%.3f >= seeded $rSeed%.3f - 0.01 " +
      f"(cost ${costPar}%.1f vs ${costSeed}%.1f)")
  }

  /** The production floor gate, measured round 11 (m=16, ksub=256,
    * pqIters=2, r=100, nprobe=√nlist): 1M-vector tree scored ivf 1.000 /
    * adc 0.696 / refined 1.000; the 100k canary 1.000 / 0.750 / 1.000.
    * Floors sit a regression-margin below: a codebook-training or
    * encode defect that degrades ranking fails here loudly while every
    * determinism gate would stay green. */
  val ProductionFloors: Floors = Floors(ivf = 0.95, adc = 0.60, refined = 0.95)

  /** Entry points:
    *   - `sbt "Test/runMain graft.RecallDrive full"` — the 1M-vector
    *     production-shaped gate (nlist = √N = 1000, m=16, ksub=256,
    *     r=100), FLOORS ENFORCED. `RECALL_CORES=32` recommended (the
    *     builds are the cost; probes are seconds).
    *   - `sbt "Test/runMain graft.RecallDrive [n nlist tau m pqIters r]"`
    *     — calibration sweep at small N, floors off.
    * ScaleDrive additionally runs a 100k canary with the same floors
    * inside its local[8] budget. */
  /** FILTERED-search quality canary: recall@k of the metadata-filtered
    * probe against the exact FILTERED ground truth (brute force over
    * the allowed subset — what the caller actually asked for). The
    * filter keeps 1/3 of the corpus, thinning every probed list, so
    * this pins the two claims the operator makes: (1) the batch
    * filtered join at a fixed production nprobe must not collapse
    * (floor), and (2) the single-query ESCALATING probe
    * (`minSurvivors ≈ 10k`) must do at least as well as the fixed
    * probe on the same queries — widening can only add candidates. */
  def filteredCanary(spark: SparkSession, n: Long, nQueries: Int,
                     nTopics: Int, nlist: Int, tau: Double, k: Int,
                     nprobe: Int, floorFixed: Double,
                     kmIters: Int = 1): Unit = {
    println(s"== filtered-search canary: N=$n nlist=$nlist " +
      s"nTopics=$nTopics nprobe=$nprobe k=$k (allowed = id % 3 == 1)")
    def time[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val a = f
      println(f"  $tag%-52s ${(System.nanoTime() - t0) / 1e9}%8.2f s"); a
    }
    val corpus = synthVecs(spark.range(n).toDF("id"), nTopics, tau)
      .localCheckpoint(true)
    val allowed = corpus.filter(pmod(col("id"), lit(3L)) === 1L)
    val qBase = 20000000L - (20000000L % nTopics.toLong)
    val queries = synthVecs(
        spark.range(nQueries).select((col("id") + qBase).as("id")),
        nTopics, tau)
      .localCheckpoint(true)
    import graft.ops.Similarity.dotFixed
    val cn = allowed.select(col("id").as("nid"), col("embedding").as("nv"),
      sqrt(dotFixed(col("embedding"), col("embedding")).cast(DoubleType)).as("nn"))
    val qn = queries.select(col("id").as("qid"), col("embedding").as("qv"),
      sqrt(dotFixed(col("embedding"), col("embedding")).cast(DoubleType)).as("qq"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("score").desc, col("nid"))
    // ground truth over the ALLOWED subset only — the filtered answer
    val gtF = time(s"exact FILTERED ground truth ($nQueries x ~${n / 3})") {
      cn.crossJoin(broadcast(qn))
        .select(col("qid"), col("nid"),
          (dotFixed(col("qv"), col("nv")).cast(DoubleType) /
            (col("qq") * col("nn"))).as("score"))
        .withColumn("_rn", row_number().over(w)).filter(col("_rn") <= k)
        .select("qid", "nid")
        .localCheckpoint(true)
    }
    val cb = time(s"kmeansCodebook (k=$nlist)") {
      graft.ops.Similarity.kmeansCodebook(corpus, "id", "embedding", nlist,
        kmIters)
    }
    val path = java.nio.file.Files.createTempDirectory("recall-filt").toString
    time(s"buildIvfIndex ($nlist lists)") {
      graft.ops.Similarity.buildIvfIndex(corpus, "id", "embedding", cb, path)
    }
    def recallF(res: DataFrame): Double =
      res.select(col("query_id").as("qid"), col("neighbor_id").as("nid"))
        .join(gtF, Seq("qid", "nid"), "left_semi").count().toDouble /
        (nQueries.toDouble * k)
    val rFixed = time(s"batch filtered join (nprobe=$nprobe)") {
      recallF(graft.ops.Similarity.knnJoinIndexedFiltered(spark, path,
        queries, "id", "embedding", k, nprobe, allowed, "id"))
    }
    // escalating single-query probes over a bounded panel
    val panel = queries.limit(10).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val gtMap = gtF.collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    var fixedHits = 0; var escHits = 0
    time(s"10 escalating single-query probes (minSurvivors=${10 * k})") {
      panel.foreach { case (qid, qv) =>
        val fixed = graft.ops.Similarity.ivfTopKIndexedFiltered(spark, path,
            qv, k, nprobe, allowed, "id").collect().map(_.getLong(0)).toSet
        val esc = graft.ops.Similarity.ivfTopKIndexedFiltered(spark, path,
            qv, k, nprobe, allowed, "id", minSurvivors = 10 * k)
          .collect().map(_.getLong(0)).toSet
        fixedHits += fixed.count(gtMap(qid))
        escHits += esc.count(gtMap(qid))
      }
    }
    val rEscPanel = escHits.toDouble / (panel.length * k)
    val rFixedPanel = fixedHits.toDouble / (panel.length * k)
    println(f"  recall@$k: batch fixed $rFixed%.3f; panel fixed " +
      f"$rFixedPanel%.3f -> escalated $rEscPanel%.3f")
    assert(rFixed >= floorFixed,
      f"filtered batch recall $rFixed%.3f under floor $floorFixed at nprobe=$nprobe")
    assert(escHits >= fixedHits,
      s"escalation lost recall: $escHits < $fixedHits hits")
    println(s"  filtered canary OK: fixed >= $floorFixed, escalation >= fixed")
  }

  def main(args: Array[String]): Unit = {
    val spark = GateSession(sys.env.getOrElse("RECALL_CORES", "8").toInt, "ERROR")
    if (args.headOption.contains("full")) {
      run(spark, n = 1000000L, nQueries = 50, nTopics = 500, nlist = 1000,
        m = 16, ksub = 256, tau = 1.5, k = 10, r = 100,
        nprobes = Seq(1, 4, 32, 128),
        floorsAtNprobe = 32, floors = Some(ProductionFloors), pqIters = 2)
    } else if (args.headOption.contains("canary")) {
      // the kmeans|| init-quality gate at the nlist ≥ 256 regime the
      // init exists for; ScaleDrive runs the same shape
      initCanary(spark, n = 200000L, nQueries = 50, nTopics = 100,
        nlist = 256, tau = 1.5, k = 10, nprobe = 16)
    } else if (args.headOption.contains("filtered")) {
      // the filtered-search quality canary at the production shape:
      // 1/3 selectivity, nprobe=14 (~√nlist), escalation ≥ fixed
      filteredCanary(spark, n = 100000L, nQueries = 50, nTopics = 100,
        nlist = 200, tau = 1.5, k = 10, nprobe = 14, floorFixed = 0.85)
    } else if (args.headOption.contains("frontier")) {
      // the DESIGN.md sweep: production shape, m ∈ {8, 16, 32}, the
      // operating point and its neighbors
      frontier(spark, n = 1000000L, nQueries = 50, nTopics = 500,
        nlist = 1000, ms = Seq(8, 16, 32), ksub = 256, tau = 1.5, k = 10,
        r = 100, nprobes = Seq(4, 32, 128), pqIters = 2)
    } else {
      val n = if (args.length > 0) args(0).toLong else 100000L
      val nlist = if (args.length > 1) args(1).toInt else 200
      val tau = if (args.length > 2) args(2).toDouble else 1.5
      val m = if (args.length > 3) args(3).toInt else 8
      val pqIters = if (args.length > 4) args(4).toInt else 1
      val r = if (args.length > 5) args(5).toInt else 50
      val np = math.max(1, math.round(math.sqrt(nlist.toDouble)).toInt)
      run(spark, n, nQueries = 50, nTopics = nlist / 2, nlist = nlist,
        m = m, ksub = 256, tau = tau, k = 10, r = r,
        nprobes = Seq(1, 4, np, 4 * np),
        floorsAtNprobe = np, floors = None, pqIters = pqIters)
    }
    spark.stop()
  }
}
