package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call into a layer, timed from the benchmark's side. */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, run: Int)

final case class TaskRec(launch: Long, finish: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                         deserMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
                         inRows: Long, inBytes: Long)

final case class JobRec(start: Long, file: String)

final case class StageRec(file: String, submitted: Long, completed: Long)

/** Spans recorded around the benchmark's calls into each layer, plus
  * what Spark reports at the same boundaries: jobs, stages and task
  * metrics from a [[SparkListener]], Catalyst phase times from each
  * query's `QueryExecution.tracker`, and micro-batch durations from a
  * [[StreamingQueryListener]]. Everything stays in memory until the run
  * ends. Only the job counter runs when tracing is off, so that every
  * timed unit can report how many jobs it launched. */
final class Trace(spark: SparkSession) {
  @volatile var on = false
  val jobsStarted = new AtomicLong
  private var run = 0
  private var nextId = 0
  private val open = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  val spans = ArrayBuffer.empty[Span]
  val tasks = ArrayBuffer.empty[TaskRec]
  val jobs = ArrayBuffer.empty[JobRec]
  val stages = ArrayBuffer.empty[StageRec]
  val phasesMs = scala.collection.mutable.Map("analysis" -> 0L, "optimization" -> 0L, "planning" -> 0L)
  val batchMs = ArrayBuffer.empty[Long]

  private val CallSite = """([A-Za-z0-9_$]+\.scala):\d+""".r

  /** The source file named by a Spark call site ("save at Foo.scala:12"). */
  def fileOf(callSite: String): String =
    Option(callSite).flatMap(c => CallSite.findFirstMatchIn(c).map(_.group(1))).getOrElse("")

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobsStarted.incrementAndGet()
      if (on) {
        // the result stage (highest id) is named after the job's call site
        val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.name).orNull
        synchronized { jobs += JobRec(e.time, fileOf(site)) }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) {
      val s = e.stageInfo
      synchronized {
        stages += StageRec(fileOf(s.name),
          s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on && e.taskMetrics != null) {
      val m = e.taskMetrics
      val rec = TaskRec(e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime, m.executorDeserializeTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.recordsRead, m.inputMetrics.bytesRead)
      synchronized { tasks += rec }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on) synchronized {
        qe.tracker.phases.foreach { case (phase, summary) =>
          if (phasesMs.contains(phase)) phasesMs(phase) += summary.durationMs
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (on && e.progress.numInputRows > 0) synchronized { batchMs += e.progress.batchDuration }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  })

  /** Delivers every pending listener event. */
  def drain(): Unit = org.apache.spark.graftperf.Drain(spark.sparkContext)

  /** Starts a new traced run: spans recorded from now on share its id. */
  def startRun(): Unit = { drain(); run += 1; on = true }

  def stopRun(): Unit = { drain(); on = false }

  /** The innermost span open on this thread, or 0. */
  def current: Int = open.get.headOption.getOrElse(0)

  /** Times `f` as a span named `name`, nested under this thread's open span. */
  def span[A](name: String)(f: => A): A = spanUnder(name, current)(f)

  /** Times `f` as a span under `parent`, which may be open on another thread. */
  def spanUnder[A](name: String, parent: Int)(f: => A): A =
    if (!on) f
    else {
      val id = synchronized { nextId += 1; nextId }
      val outer = open.get
      open.set(id :: outer)
      val t0 = System.currentTimeMillis()
      try f
      finally {
        open.set(outer)
        val rec = Span(id, name, t0, System.currentTimeMillis(), parent, run)
        synchronized { spans += rec }
      }
    }

  /** Total duration of the spans named `name`, in seconds. */
  def spanSeconds(name: String): Double =
    spans.filter(_.name == name).map(s => s.end - s.start).sum / 1000.0

  /** A span's duration minus the part of it that its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.start, k.end)).sortBy(_._1)
    var covered = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    kids.foreach { case (a, b) =>
      if (a > hi) { covered += hi - lo; lo = a; hi = b } else hi = math.max(hi, b)
    }
    covered += hi - lo
    (s.end - s.start - covered) / 1000.0
  }

  /** Jobs that started inside any span named `name`. */
  def jobsIn(name: String): Int = {
    val ws = spans.filter(_.name == name)
    jobs.count(j => ws.exists(w => j.start >= w.start && j.start <= w.end))
  }

  /** Wall time inside the spans named `name` during which no task ran. */
  def idleSeconds(name: String): Double = {
    val ws = spans.filter(_.name == name)
    val busy = tasks.map(t => (t.launch, t.finish)).sortBy(_._1)
    ws.map { w =>
      var covered = 0L
      var (lo, hi) = (w.start, w.start)
      busy.foreach { case (a0, b0) =>
        val a = math.max(a0, w.start); val b = math.min(b0, w.end)
        if (b > a) { if (a > hi) { covered += hi - lo; lo = a; hi = b } else hi = math.max(hi, b) }
      }
      covered += hi - lo
      (w.end - w.start - covered) / 1000.0
    }.sum
  }

  def spansJson: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
    "parent" -> s.parent, "run" -> s.run, "self_s" -> selfSeconds(s)))
}
