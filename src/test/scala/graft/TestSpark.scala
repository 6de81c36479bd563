package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test JVM. */
object TestSpark {
  lazy val spark: SparkSession = GateSession(4, "ERROR")

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** One Spark job of a [[traced]] window: the call site that fired it,
    * its wall ms and the tasks its stages ran. */
  final case class Job(id: Int, site: String, ms: Long, tasks: Long)

  /** The jobs a [[traced]] window started, in start order, and the
    * shuffle bytes their tasks read and wrote. */
  final case class Trace(jobs: Seq[Job], shuffleRead: Long, shuffleWrite: Long) {
    def tasks: Long = jobs.map(_.tasks).sum
  }

  /** Run `body` and trace the Spark jobs it starts. Listener delivery is
    * asynchronous, so the window is fenced by two marker jobs: a job
    * counts if it starts after the first marker ended and before the
    * second started, and the trace is read once the second ended. Tasks
    * count by the stages of the counted jobs. */
  def traced[T](session: SparkSession)(body: => T): (T, Trace) = {
    val sc = session.sparkContext
    val listener = new FencedListener(s"trace-fence-${java.util.UUID.randomUUID()}")
    def fence(n: Int): Unit = {
      sc.setJobDescription(listener.marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (listener.fencesEnded < n && System.nanoTime() < deadline) Thread.sleep(5)
      assert(listener.fencesEnded == n, "listener never saw the fence job")
    }
    sc.addSparkListener(listener)
    try {
      fence(1)
      val r = body
      fence(2)
      (r, listener.trace)
    } finally sc.removeSparkListener(listener)
  }

  private final class FencedListener(val marker: String) extends SparkListener {
    private val fenceIds = mutable.Set.empty[Int]
    private var ended = 0
    private var open = false
    private val starts = mutable.LinkedHashMap.empty[Int, (String, Long)]
    private val ends = mutable.Map.empty[Int, Long]
    private val stageJob = mutable.Map.empty[Int, Int]
    private val tasks = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    private var shuffleRead, shuffleWrite = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker)) {
        fenceIds += e.jobId
        open = false
      } else if (open) {
        starts(e.jobId) = (site(e), e.time)
        e.stageIds.foreach(stageJob.getOrElseUpdate(_, e.jobId))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      if (fenceIds(e.jobId)) {
        ended += 1
        open = ended == 1
      } else if (starts.contains(e.jobId)) ends(e.jobId) = e.time
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(e.stageId).foreach { j =>
        tasks(j) += 1
        Option(e.taskMetrics).foreach { m =>
          shuffleRead += m.shuffleReadMetrics.totalBytesRead
          shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
    def fencesEnded: Int = synchronized(ended)
    def trace: Trace = synchronized {
      Trace(starts.toSeq.map { case (id, (s, t0)) =>
        Job(id, s, ends.get(id).fold(-1L)(_ - t0), tasks(id))
      }, shuffleRead, shuffleWrite)
    }
  }

  /** Jobs started on the test session while `body` runs. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val (r, t) = traced(spark)(body)
    (r, t.jobs.size)
  }

  /** Where a job came from: its description if set, else the deepest
    * library frames of its result stage's call site. */
  private def site(e: SparkListenerJobStart): String = {
    val stage = e.stageInfos.maxByOption(_.stageId)
    val frames = stage.fold("")(_.details).split('\n')
      .filter(_.contains("graft.")).take(3)
      .map(_.trim.replaceAll("graft\\.(ops|streaming|table|store)\\.", ""))
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse(
        if (frames.nonEmpty) frames.mkString(" <- ")
        else stage.fold("?")(_.name))
  }
}

/** The reference's 13-row golden fixture (`/root/reference/tests.nim:4-25`). */
object Fixture {
  case class Particle(lati: Long, longi: Long, pressure: Double, temperature: Double)
  case class WrongParticle(lati: Long, longi: Long, pressure: Double) // layout-mismatch probe
  val particles: Seq[Particle] = (1 to 13).map(i => Particle(i.toLong, 1L, 100.0, 20.0))
}
