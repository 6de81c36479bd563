package graft

/** Probe the gates (`SparkEntry.queries`) on the gate session with the
  * store and fixtures warm. Each gate first runs once untimed; the query
  * cache is cleared before every run.
  *
  *   - `time <sfDir> <iters> <gate>...` — every timed sample, then one
  *     `PROFILE` line with the median, min and max.
  *   - `jobs <sfDir> [gate...]` — one `BRK name secs jobs tasks shufR
  *     shufW` line per gate (all gates if none is named); named gates
  *     also print one `JOB id ms tasks site` line per Spark job.
  *   - `plan <sfDir> <outDir> <suffix> <gate>...` — the formatted plan
  *     of each gate to `<outDir>/<gate>_<suffix>.txt`.
  *
  * `sbt "Test/runMain graft.Probe jobs <sfDir> p1_point"`;
  * local cores from `SPARK_GRAFT_CPUS` (default 4). */
object Probe {
  private val usage = "usage: Probe time <sfDir> <iters> <gate>... | " +
    "Probe jobs <sfDir> [gate...] | Probe plan <sfDir> <outDir> <suffix> <gate>..."

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, usage)
    val (mode, sfDir, rest) = (args(0), args(1), args.drop(2).toSeq)
    val spark = GateSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, "ERROR")
    SparkEntry.warm(spark, sfDir)
    def run(gate: String) = {
      spark.sharedState.cacheManager.clearCache()
      SparkEntry.queries(gate)(spark, sfDir)
    }
    def secs(gate: String): Double = {
      val t0 = System.nanoTime()
      run(gate).count()
      (System.nanoTime() - t0) / 1e9
    }
    def warmed(gates: Seq[String])(f: String => Unit): Unit =
      gates.foreach { g => run(g).count(); f(g) }

    mode match {
      case "time" =>
        require(rest.length >= 2, usage)
        val iters = rest.head.toInt
        warmed(rest.tail) { g =>
          val samples = (1 to iters).map { i =>
            val dt = secs(g); println(f"sample $i%2d: $dt%6.3f s"); dt
          }.sorted
          val med =
            if (iters % 2 == 1) samples(iters / 2)
            else (samples(iters / 2 - 1) + samples(iters / 2)) / 2
          println(f"PROFILE $g median=$med%.3f s min=${samples.head}%.3f " +
            f"max=${samples.last}%.3f iters=$iters sf=$sfDir")
        }
      case "jobs" =>
        val named = rest.nonEmpty
        println("BRK\tname\tsecs\tjobs\ttasks\tshufR\tshufW")
        (if (named) rest else SparkEntry.queries.keys.toSeq.sorted).foreach { g =>
          try warmed(Seq(g)) { _ =>
            val (dt, t) = TestSpark.traced(spark)(secs(g))
            println(f"BRK\t$g\t$dt%.3f\t${t.jobs.size}\t${t.tasks}\t" +
              s"${t.shuffleRead}\t${t.shuffleWrite}")
            if (named) t.jobs.foreach { j =>
              println(f"JOB ${j.id}%4d ${j.ms}%8d ms ${j.tasks}%4d tasks  ${j.site}")
            }
          } catch {
            case e: Throwable =>
              println(s"BRK\t$g\tERR\t${e.getClass.getSimpleName}: " +
                Option(e.getMessage).getOrElse("").take(100))
          }
        }
      case "plan" =>
        require(rest.length >= 3, usage)
        val (outDir, suffix) = (rest(0), rest(1))
        new java.io.File(outDir).mkdirs()
        warmed(rest.drop(2)) { g =>
          val plan = run(g).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          val out = s"$outDir/${g}_$suffix.txt"
          java.nio.file.Files.writeString(java.nio.file.Paths.get(out), plan)
          println(s"PLAN $g -> $out (${plan.length} chars)")
        }
      case _ => sys.error(usage)
    }
    spark.stop()
  }
}
