package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed client operation. `kind` is "read" or "write"; `call` is the
  * traced public-call name the op is attributed to. */
final case class OpSample(kind: String, call: String, ms: Double)

/** What a workload hands back to [[Main]] besides its op samples. */
final case class Outcome(setupSamples: Seq[Double], timedSeconds: Double,
                         docs: Long, diskBytes: Long, liveRows: Long,
                         gauges: Map[String, Double])

/** Shared run state: the session, the tracer, the seeded RNG and the
  * answer-check ledger every workload reports into. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: String,
                val seed: Long, val seconds: Int, val cores: Int) {
  val rng = new java.util.SplittableRandom(seed)
  val ops = mutable.ArrayBuffer.empty[OpSample]
  val failures = mutable.ArrayBuffer.empty[String]
  var checks = 0L
  private var opId = 0L

  /** Time one client operation made of the public call `call`; `verify`
    * checks its answer on the driver, outside the timed span. An exception
    * counts as a failed operation. */
  def op[T](kind: String, call: String)(body: => T)(verify: T => Option[String]): Unit = {
    opId += 1
    val t0 = System.nanoTime()
    val res = try Right(tracer.span(call, opId)(body))
      catch { case e: Exception => Left(s"$call raised ${e.getClass.getSimpleName}: ${e.getMessage}") }
    val ms = (System.nanoTime() - t0) / 1e6
    val err = res.fold(Some(_), verify)
    err.foreach(m => failures += s"op $opId $call: ${m.take(300)}")
    ops += OpSample(kind, call, ms)
  }

  /** A one-shot pipeline stage: timed and traced like an op, but a
    * failure aborts the run, since later stages need its output. */
  def stage[T](kind: String, name: String)(body: => T): T = {
    opId += 1
    val t0 = System.nanoTime()
    val r = tracer.span(name, opId)(body)
    ops += OpSample(kind, name, (System.nanoTime() - t0) / 1e6)
    r
  }

  /** A correctness check outside the timed ops, counted as one attempt. */
  def check(name: String)(problem: => Option[String]): Unit = {
    checks += 1
    val p = try problem catch { case e: Exception => Some(s"raised $e") }
    p.foreach(m => failures += s"check $name: ${m.take(300)}")
  }

  private val born = System.nanoTime()
  /** Phase marks on stderr (the run log), for finding where a run's wall
    * time goes. */
  def log(msg: String): Unit =
    System.err.println(f"perfbench ${(System.nanoTime() - born) / 1e9}%8.2fs $msg")

  /** The timed phase of a closed-loop workload: whole rounds of `script`
    * until `seconds` have passed, at least one round. Whole rounds keep
    * each run's op mix exact however fast the host is. Returns the
    * phase's wall seconds. */
  def rounds(script: Seq[String])(run: String => Unit): Double = {
    val t0 = System.nanoTime()
    do script.foreach(run) while (System.nanoTime() - t0 < seconds * 1000000000L)
    (System.nanoTime() - t0) / 1e9
  }

  def path(rel: String): String = new java.io.File(work, rel).getAbsolutePath
}

object Main {
  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload required"))
    val seed = arg(args, "--seed").getOrElse("1").toLong
    val seconds = arg(args, "--seconds").getOrElse("10").toInt
    val traced = arg(args, "--trace").contains("1")
    val work = arg(args, "--work").getOrElse(sys.error("--work required"))
    val out = arg(args, "--out").getOrElse(sys.error("--out required"))
    val cores = math.min(Runtime.getRuntime.availableProcessors(), 4)
    val wl: Ctx => Outcome = workload match {
      case "table_ops"    => TableOps.run
      case "index_serve"  => IndexServe.run
      case "corpus_batch" => CorpusBatch.run
      case other => sys.error(s"unknown workload $other")
    }

    val tracer = new Tracer(traced)
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", new java.io.File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.hadoop.hadoop.tmp.dir", new java.io.File(work, "tmp").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tracer.install(spark.sparkContext)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val ctx = new Ctx(spark, tracer, work, seed, seconds, cores)
    // a failed run writes no record, and the session is stopped either way
    // so that no Spark thread keeps the JVM alive
    val ok = try {
      val res = wl(ctx)
      ctx.log("workload done")
      val floorMs = if (traced) JobFloor.measure(spark, ctx.path("floor")) else 0.0
      tracer.drain(spark.sparkContext)
      val report = Report.build(workload, seed, seconds, traced, cores, ctx, res,
        sessionS, floorMs, peakRssMb())
      write(out, report)
      if (traced) write(out.stripSuffix(".json") + ".trace.json", tracer.json)
      true
    } catch {
      case e: Exception => e.printStackTrace(); false
    } finally spark.stop()
    ctx.log("stopped")
    if (!ok) sys.exit(1)
  }

  private def write(path: String, text: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.write(text) finally w.close()
  }

  /** Peak resident set of this JVM (VmHWM), MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN) finally src.close()
  }
}

/** The host-health control: the median of a few one-row parquet
  * `count()` calls — the fixed cost of one small Spark job on this host,
  * which moves with the host and not with the code under test. */
object JobFloor {
  def measure(spark: SparkSession, dir: String): Double = {
    spark.range(1).write.mode("overwrite").parquet(dir)
    val ms = (0 until 7).map { _ =>
      val t = System.nanoTime()
      spark.read.parquet(dir).count()
      (System.nanoTime() - t) / 1e6
    }
    Stats.median(ms)
  }
}

/** Byte and file counts under a directory tree. */
object Disk {
  private def fs(spark: SparkSession, p: String) =
    new org.apache.hadoop.fs.Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
  def bytes(spark: SparkSession, root: String): Long =
    fs(spark, root).getContentSummary(new org.apache.hadoop.fs.Path(root)).getLength
  def parquetFiles(spark: SparkSession, root: String): Long = {
    val it = fs(spark, root).listFiles(new org.apache.hadoop.fs.Path(root), true)
    var n = 0L
    while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    n
  }
  def delete(spark: SparkSession, root: String): Unit = {
    fs(spark, root).delete(new org.apache.hadoop.fs.Path(root), true); ()
  }
}
