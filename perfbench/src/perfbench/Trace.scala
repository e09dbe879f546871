package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

import scala.collection.mutable

/** One timed interval around a call into a layer. Times are epoch
  * milliseconds (fractional), so they line up with the scheduler's
  * job/stage/task timestamps. `parent` is -1 for a unit's root span. */
final case class Span(id: Int, name: String, parent: Int, run: Int,
    start: Double, end: Double) {
  def wall: Double = end - start
}

/** Wraps calls into a layer. The untraced implementation only runs the
  * body; the traced one records a span and labels every Spark job the
  * body submits, so the [[Ledger]] can attribute task metrics to it. */
sealed trait Trace {
  def apply[A](layer: String)(body: => A): A
  /** Runs one unit of work (a link, or a fold) as a root span. */
  def unit[A](body: => A): A
  def traced: Boolean = true
  /** A layer boundary: materialized when traced, so the layer's work
    * happens inside its span; left lazy otherwise. */
  def cut(df: DataFrame): DataFrame = df.localCheckpoint(true)
  /** Input the matcher reads twice (hot-key detection and the join):
    * cached in place when untraced, as `graft.Bench` does. */
  def keep(df: DataFrame): DataFrame = cut(df)
}

object Trace {
  object Off extends Trace {
    def apply[A](layer: String)(body: => A): A = body
    def unit[A](body: => A): A = body
    override def traced: Boolean = false
    override def cut(df: DataFrame): DataFrame = df
    override def keep(df: DataFrame): DataFrame = df.cache()
  }

  /** Span ids are unique across the tracers of one JVM, so the shared
    * ledger never mixes two workloads' spans. */
  private var lastSpanId = -1
  private def nextSpanId(): Int = synchronized { lastSpanId += 1; lastSpanId }

  private val epochAtStart = System.currentTimeMillis().toDouble
  private val nanoAtStart = System.nanoTime()
  def nowMs: Double = epochAtStart + (System.nanoTime() - nanoAtStart) / 1e6

  /** Spans stay in memory; they are written out when the benchmark ends. */
  final class On(sc: SparkContext, workload: String) extends Trace {
    val spans = mutable.ArrayBuffer.empty[Span]
    private var stack: List[(Int, String)] = Nil
    private var runId = -1

    /** Job description for the spans' jobs: `<workload>/<layer>#<span id>`.
      * The suffix lets the ledger attribute a stage to one span instance. */
    private def describe(layer: String, id: Int): Unit =
      sc.setJobDescription(s"$workload/$layer#$id")

    private def open[A](layer: String)(body: => A): A = {
      val id = nextSpanId()
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, layer) :: stack
      describe(layer, id)
      val start = nowMs
      try body
      finally {
        val end = nowMs
        spans += Span(id, layer, parent, runId, start, end)
        stack = stack.tail
        stack.headOption match {
          case Some((p, name)) => describe(name, p)
          case None => sc.setJobDescription(null)
        }
      }
    }

    def apply[A](layer: String)(body: => A): A = open(layer)(body)

    def unit[A](body: => A): A = {
      runId += 1
      open(Trace.Root)(body)
    }
  }

  /** Name of a unit's root span; its self time is the unattributed bucket. */
  val Root = "run"

  /** Parses a span id back out of a job description written by [[On]]. */
  def spanOf(description: String): Option[Int] =
    Option(description).flatMap { d =>
      val i = d.lastIndexOf('#')
      if (i < 0) None else d.substring(i + 1).toIntOption
    }
}

/** Task metrics of one stage, summed over its tasks. */
final class StageRec(val stageId: Int, val jobId: Int, val span: Option[Int]) {
  /** Whether the stage's tasks write shuffle output (not a result stage). */
  var isMap = false
  var submitted: Double = Double.NaN
  var completed: Double = Double.NaN
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var gcMs = 0L
  var outBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

final class JobRec(val jobId: Int, val span: Option[Int], val submitted: Double) {
  var firstLaunch: Double = Double.NaN
}

/** The benchmark's own task-metrics ledger, keyed by stage and job.
  * Listener events arrive on Spark's asynchronous bus; read the ledger
  * only after [[drain]]. */
final class Ledger extends SparkListener {
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  /** Jobs per description of the untraced units the runner labels
    * (`<workload>/unit@<index>`): only counted, never attributed. */
  val labeled = mutable.HashMap.empty[String, Int].withDefaultValue(0)
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val markerJobs = mutable.HashSet.empty[Int]
  @volatile private var drained = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties).map(_.getProperty(Ledger.JobDescription)).orNull
    if (desc == Ledger.DrainMarker) { markerJobs += e.jobId; return }
    // traced units label their jobs with a span id; untraced units only
    // with their index, and are counted, not ledgered
    val span = Trace.spanOf(desc)
    if (span.isEmpty) {
      if (desc != null) labeled(desc) += 1
      return
    }
    jobs(e.jobId) = new JobRec(e.jobId, span, e.time.toDouble)
    e.stageInfos.foreach { si =>
      if (!stageJob.contains(si.stageId)) {
        stageJob(si.stageId) = e.jobId
        stages(si.stageId) = new StageRec(si.stageId, e.jobId, span)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (markerJobs.remove(e.jobId)) drained += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.submitted = e.stageInfo.submissionTime.map(_.toDouble).getOrElse(Double.NaN)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.completed = e.stageInfo.completionTime.map(_.toDouble).getOrElse(Double.NaN)
    }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    for (jobId <- stageJob.get(e.stageId); j <- jobs.get(jobId))
      if (j.firstLaunch.isNaN || e.taskInfo.launchTime < j.firstLaunch)
        j.firstLaunch = e.taskInfo.launchTime.toDouble
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (s <- stages.get(e.stageId); m <- Option(e.taskMetrics)) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.gcMs += m.jvmGCTime
      s.outBytes += m.outputMetrics.bytesWritten
      s.taskMs += e.taskInfo.duration
      s.isMap = e.taskType == "ShuffleMapTask"
    }
  }

  /** Blocks until every event posted before this call has been handled:
    * the bus is FIFO, so seeing a marker job's end is enough. */
  def drain(sc: SparkContext): Unit = {
    val before = drained
    val prev = sc.getLocalProperty(Ledger.JobDescription)
    sc.setJobDescription(Ledger.DrainMarker)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setJobDescription(prev)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (drained == before && System.nanoTime() < deadline) Thread.sleep(5)
    require(drained > before, "listener bus did not drain within 30 s")
  }
}

object Ledger {
  val JobDescription = "spark.job.description"
  val DrainMarker = "perfbench/__drain"
}
