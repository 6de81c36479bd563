package perfbench

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  /** Samples strictly beyond the nearest-rank p90 position. A p90 with
    * fewer than 10 of them is reported as unresolved. */
  def beyondP90(n: Int): Int = n - math.max(1, math.ceil(0.9 * n).toInt)
}

/** Builds the run record: every end-to-end metric with its unit and sample
  * count, every per-layer metric (traced runs), the answer-check ledger
  * and the per-call cost table. */
object Report {
  /** Traced public calls by layer, in report order. A workload that does
    * not make a call reports 0 for it. */
  val Calls: Seq[String] = Seq(
    "table.point", "table.slice", "table.hyperslab", "table.select_rows",
    "sources.scan", "ndarray.hyperslab_read",
    "table.append", "table.update", "table.insert", "table.delete",
    "ndarray.hyperslab_write", "table.compact_small_runs",
    "textindex.bm25", "similarity.ivf_topk", "dedupindex.dedup_against",
    "streaming.text_ingest", "similarity.append_ivf",
    "indexmaintenance.delete", "indexmaintenance.compact",
    "corpusingest.read_jsonl", "store.put", "dedup.near_dup_keep_best",
    "bpe.learn", "bpe.encode_ids", "tokenstream.write_context_shards")

  /** One-shot pipeline stages: `ms` and the counts are totals, not p50s. */
  val Stages: Set[String] = Calls.drop(19).toSet
  val WithShuffle: Set[String] = Stages ++ Set("table.compact_small_runs",
    "streaming.text_ingest", "indexmaintenance.compact")

  val Gauges: Seq[(String, String)] = Seq(
    "store.commits" -> "count", "store.segments_end" -> "count",
    "store.files_end" -> "count", "store.unvacuumed_bytes" -> "bytes",
    "textindex.tombstones_end" -> "count", "spark.job_floor_ms" -> "ms")

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def build(workload: String, seed: Long, seconds: Int, traced: Boolean,
            cores: Int, ctx: Ctx, res: Outcome, sessionS: Double,
            floorMs: Double, rssMb: Double): String = {
    val reads = ctx.ops.filter(_.kind == "read").map(_.ms).toSeq
    val writes = ctx.ops.filter(_.kind == "write").map(_.ms).toSeq
    val attempted = ctx.ops.size + ctx.checks
    val failed = ctx.failures.size
    // (name, value, unit, samples, resolved)
    val e2e = Seq.newBuilder[(String, Double, String, Long, Boolean)]
    e2e += (("setup_s", sessionS + Stats.median(res.setupSamples), "s",
      res.setupSamples.size.toLong, true))
    def lat(prefix: String, xs: Seq[Double]): Unit = if (xs.nonEmpty) {
      e2e += ((s"${prefix}_p50_ms", Stats.median(xs), "ms", xs.size.toLong, true))
      e2e += ((s"${prefix}_p90_ms", Stats.pct(xs, 0.9), "ms", xs.size.toLong,
        Stats.beyondP90(xs.size) >= 10))
    }
    lat("read", reads)
    lat("write", writes)
    e2e += (("ops_per_s", ctx.ops.size / res.timedSeconds, "1/s", ctx.ops.size.toLong, true))
    if (res.docs > 0)
      e2e += (("docs_per_s", res.docs / res.timedSeconds, "1/s", res.docs, true))
    e2e += (("failed_frac", failed.toDouble / math.max(1L, attempted), "ratio", attempted, true))
    e2e += (("disk_bytes_per_row", res.diskBytes.toDouble / math.max(1L, res.liveRows),
      "bytes", res.liveRows, true))
    e2e += (("peak_rss_mb", rssMb, "MiB", 1L, true))

    // per-layer metrics exist only in traced runs
    val byCall = ctx.tracer.costs.groupBy(_.name)
    val layer = Seq.newBuilder[(String, Double, String)]
    if (traced) Calls.foreach { c =>
      val cs = byCall.getOrElse(c, Seq.empty)
      def agg(f: CallCost => Double): Double =
        if (cs.isEmpty) 0.0 else if (Stages(c)) cs.map(f).sum else Stats.median(cs.map(f))
      layer += ((s"$c.ms", agg(_.ms), "ms"))
      layer += ((s"$c.jobs", agg(_.jobs.toDouble), "count"))
      layer += ((s"$c.cpu_ms", agg(_.cpuMs), "ms"))
      layer += ((s"$c.driver_ms", agg(_.driverMs), "ms"))
      if (WithShuffle(c)) layer += ((s"$c.shuffle_bytes", agg(_.shuffleBytes.toDouble), "bytes"))
      if (Stages(c)) layer += ((s"$c.spill_bytes", agg(_.spillBytes.toDouble), "bytes"))
    }
    if (traced) Gauges.foreach { case (g, u) =>
      val v = if (g == "spark.job_floor_ms") floorMs else res.gauges.getOrElse(g, 0.0)
      layer += ((g, v, u))
    }

    val callRows = byCall.toSeq.sortBy(_._1).map { case (c, cs) =>
      def med(f: CallCost => Double) = num(Stats.median(cs.map(f)))
      def all(f: CallCost => Long) = cs.map(f).mkString("[", ",", "]")
      s"""${str(c)}: {"n": ${cs.size}, "ms_p50": ${med(_.ms)}, "driver_ms_p50": ${med(_.driverMs)}, """ +
        s""""cpu_ms_p50": ${med(_.cpuMs)}, "jobs": ${all(_.jobs.toLong)}, "tasks": ${all(_.tasks)}, """ +
        s""""shuffle_bytes": ${all(_.shuffleBytes)}, "spill_bytes": ${all(_.spillBytes)}}"""
    }
    val e2eJson = e2e.result().map { case (n, v, u, k, ok) =>
      s"""${str(n)}: {"value": ${num(v)}, "unit": ${str(u)}, "samples": $k, "resolved": $ok}"""
    }
    val layerJson = layer.result().map { case (n, v, u) =>
      s"""${str(n)}: {"value": ${num(v)}, "unit": ${str(u)}}"""
    }
    val opsByCall = ctx.ops.groupBy(_.call).toSeq.sortBy(_._1).map { case (c, xs) =>
      s"""${str(c)}: {"n": ${xs.size}, "ms_p50": ${num(Stats.median(xs.map(_.ms).toSeq))}}"""
    }
    s"""{"workload": ${str(workload)}, "seed": $seed, "seconds": $seconds, "trace": $traced,
       |"cores": $cores, "correct": ${failed == 0}, "attempted": $attempted, "failed": $failed,
       |"setup_samples_s": ${res.setupSamples.map(num).mkString("[", ",", "]")},
       |"session_start_s": ${num(sessionS)}, "timed_s": ${num(res.timedSeconds)},
       |"end_to_end": {${e2eJson.mkString(",\n  ")}},
       |"per_layer": {${layerJson.mkString(",\n  ")}},
       |"gauges": {${res.gauges.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString(", ")}},
       |"ops_by_call": {${opsByCall.mkString(",\n  ")}},
       |"calls": {${callRows.mkString(",\n  ")}},
       |"failures": ${ctx.failures.take(20).map(str).mkString("[", ",\n  ", "]")}}
       |""".stripMargin
  }
}
