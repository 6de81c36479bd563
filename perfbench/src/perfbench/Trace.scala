package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced public call: the span the benchmark's own code records
  * around a call into the library, for client operation `op`. Call spans
  * are top-level; Spark jobs are their children. Times are wall-clock ms,
  * the clock Spark stamps its job events with. */
final case class Span(id: Int, name: String, op: Long, startMs: Long, endMs: Long)

/** A Spark job seen by the listener: its parent call span (0 if none),
  * and the task-level totals of the stages it ran. */
final case class JobSpan(jobId: Int, parent: Int, startMs: Long, var endMs: Long,
                         stageIds: Seq[Int], var tasks: Long = 0L,
                         var cpuNs: Long = 0L, var shuffleBytes: Long = 0L,
                         var spillBytes: Long = 0L)

/** Per-call attribution: wall ms of the span, jobs started inside it, the
  * tasks / executor CPU / shuffle-write / disk-spill bytes of those jobs,
  * and the driver-side self time (span minus the union of its job spans). */
final case class CallCost(name: String, op: Long, ms: Double, jobs: Int,
                          tasks: Long, cpuMs: Double, driverMs: Double,
                          shuffleBytes: Long, spillBytes: Long)

/** Span recorder plus a [[SparkListener]] that adds each Spark job as a
  * child span of the call that submitted it. The call's span id rides the
  * driver thread's Spark local properties, which every job it submits
  * carries, also from threads it starts (streaming micro-batches).
  * Everything is kept in memory and written out once at exit. With
  * `enabled = false` nothing is recorded and no listener is installed:
  * that is the untraced mode the end-to-end numbers come from. */
final class Tracer(val enabled: Boolean) {
  private val SpanKey = "perfbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var sc: SparkContext = _

  private val jobs = new ConcurrentLinkedQueue[JobSpan]()
  private val jobById = new java.util.concurrent.ConcurrentHashMap[Int, JobSpan]()
  private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      val j = JobSpan(e.jobId, parent.fold(0)(_.toInt), e.time, -1L, e.stageIds)
      e.stageIds.foreach(s => stageToJob.putIfAbsent(s, e.jobId))
      jobById.put(e.jobId, j); jobs.add(j); ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobById.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = Option(stageToJob.get(e.stageId)).map(jobById.get).orNull
      val m = e.taskMetrics
      if (j != null) j.synchronized {
        j.tasks += 1
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.diskBytesSpilled
        }
      }
    }
  }

  def install(context: SparkContext): Unit = if (enabled) {
    sc = context
    sc.addSparkListener(listener)
  }

  /** Run `body` as the public call `name` of operation `op`. */
  def span[T](name: String, op: Long)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size + 1
      sc.setLocalProperty(SpanKey, id.toString)
      val start = System.currentTimeMillis()
      try body
      finally {
        spans += Span(id, name, op, start, System.currentTimeMillis())
        sc.setLocalProperty(SpanKey, null)
      }
    }

  /** Block until the listener has seen every event posted so far: the bus
    * is FIFO, so once the end of one more job is observed, all earlier
    * events have been delivered. */
  def drain(sc: SparkContext): Unit = if (enabled) {
    val before = jobs.size
    sc.parallelize(Seq(1), 1).count()
    val deadline = System.currentTimeMillis() + 30000L
    while (!jobs.asScala.drop(before).exists(_.endMs >= 0) &&
           System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  /** Per-call costs of every recorded call span. */
  def costs: Seq[CallCost] = {
    val byParent = jobs.asScala.toVector.groupBy(_.parent)
    spans.toVector.map { s =>
      val mine = byParent.getOrElse(s.id, Vector.empty)
      // self time: the span minus the union of its job spans
      val covered = Tracer.unionMs(mine.map(j => (math.max(j.startMs, s.startMs),
        math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs))))
      val ms = (s.endMs - s.startMs).toDouble
      CallCost(s.name, s.op, ms, mine.size, mine.map(_.tasks).sum,
        mine.map(_.cpuNs).sum / 1e6, math.max(0.0, ms - covered),
        mine.map(_.shuffleBytes).sum, mine.map(_.spillBytes).sum)
    }
  }

  /** Call spans and their job child spans as JSON, for offline
    * inspection. A job outside every call span has parent 0. */
  def json: String = {
    val sp = spans.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","op":${s.op},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs}}""")
    val jb = jobs.asScala.toVector.sortBy(_.jobId).map(j =>
      s"""{"job":${j.jobId},"parent":${j.parent},"start_ms":${j.startMs},""" +
        s""""end_ms":${j.endMs},"stages":${j.stageIds.size},"tasks":${j.tasks},""" +
        s""""cpu_ms":${j.cpuNs / 1e6},"shuffle_bytes":${j.shuffleBytes},""" +
        s""""spill_bytes":${j.spillBytes}}""")
    s"""{"spans":[${sp.mkString(",\n")}],\n"jobs":[${jb.mkString(",\n")}]}"""
  }
}

object Tracer {
  /** Total length of the union of [a, b] intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var cur: Option[(Long, Long)] = None
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    cur.foreach { case (a, b) => total += b - a }
    total.toDouble
  }
}
