package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One layer-boundary span: `layer` is the engine module called
  * (`runner`, `sinks`, `models`, ...), `name` the public function.
  * Times are microseconds on the tracer's epoch-aligned clock, so they
  * compare directly with Spark's event timestamps. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    start: Long, var end: Long = -1L) {
  def dur: Long = end - start
}

/** A finished Spark job with the task totals of its stages. */
final case class JobRec(id: Int, start: Long, end: Long, listing: Boolean,
    var tasks: Long = 0L, var cpuNs: Long = 0L, var inputBytes: Long = 0L,
    var shuffleBytes: Long = 0L, var outputBytes: Long = 0L)

/** Catalyst phase durations of one executed query plan. */
final case class PlanRec(at: Long, analysisMs: Long, optimizerMs: Long,
    planningMs: Long)

/** Half-open interval arithmetic on microsecond spans. */
object Intervals {
  /** Total length covered by the union of `ivs`, clipped to [lo, hi). */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** The span recorder. Spans and listener events stay in memory and are
  * only summarised once, after the run. With tracing off (`enabled`
  * false, or while [[pause]]d) [[span]] is a plain call and no listener
  * is registered. */
final class Tracer(val enabled: Boolean) {
  /** True while spans, counts and listener events are being recorded. */
  @volatile var on: Boolean = enabled
  private val epochUs = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = epochUs + (System.nanoTime() - nano0) / 1000L

  val spans = ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  /** Named counts recorded at layer boundaries (rows, dirs, builds). */
  val counts = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  // listener-side state, written on Spark's listener-bus thread
  private val lock = new Object
  private val jobStarts = scala.collection.mutable.HashMap.empty[Int, (Long, Boolean)]
  private val stageJob = scala.collection.mutable.HashMap.empty[Int, Int]
  private val stageTotals =
    scala.collection.mutable.HashMap.empty[Int, Array[Long]]
  val jobs = ArrayBuffer.empty[JobRec]
  val plans = ArrayBuffer.empty[PlanRec]
  private var startedJobs = 0
  private var endedJobs = 0
  /** Time spent inside the recorder's own callbacks. */
  @volatile var callbackNs = 0L

  def span[A](layer: String, name: String)(f: => A): A =
    if (!on) f
    else {
      val s = Span(spans.size, open.headOption.map(_.id).getOrElse(-1),
        layer, name, nowUs)
      spans += s
      open = s :: open
      try f
      finally {
        s.end = nowUs
        open = open.tail
      }
    }

  def count(name: String, n: Double): Unit =
    if (on) counts(name) = counts.getOrElse(name, 0.0) + n

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      lock.synchronized {
        startedJobs += 1
        jobStarts(e.jobId) =
          (e.time * 1000L, desc.startsWith("Listing leaf files and directories"))
        e.stageIds.foreach(st => stageJob(st) = e.jobId)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      if (m != null) lock.synchronized {
        val t = stageTotals.getOrElseUpdate(e.stageId, new Array[Long](5))
        t(0) += 1
        t(1) += m.executorCpuTime
        t(2) += m.inputMetrics.bytesRead
        t(3) += m.shuffleWriteMetrics.bytesWritten
        t(4) += m.outputMetrics.bytesWritten
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      lock.synchronized {
        endedJobs += 1
        jobStarts.remove(e.jobId).foreach { case (st, listing) =>
          val j = JobRec(e.jobId, st, e.time * 1000L, listing)
          stageJob.collect { case (stage, jid) if jid == e.jobId => stage }
            .toSeq.foreach { stage =>
              stageTotals.remove(stage).foreach { t =>
                j.tasks += t(0); j.cpuNs += t(1); j.inputBytes += t(2)
                j.shuffleBytes += t(3); j.outputBytes += t(4)
              }
              stageJob.remove(stage)
            }
          jobs += j
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = timed { record(qe) }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = timed { record(qe) }
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      val at = ph.values.map(_.startTimeMs).reduceOption(_ min _)
        .getOrElse(System.currentTimeMillis())
      lock.synchronized {
        plans += PlanRec(at * 1000L, ms("analysis"), ms("optimization"),
          ms("planning"))
      }
    }
  }

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally callbackNs += System.nanoTime() - t0
  }

  private var session: Option[SparkSession] = None

  /** Moves the query listener onto `spark` (a fresh session needs it
    * again); the job listener is registered once per SparkContext. */
  def attach(spark: SparkSession): Unit = {
    if (on) {
      if (session.isEmpty) spark.sparkContext.addSparkListener(sparkListener)
      session.foreach(_.listenerManager.unregister(queryListener))
      spark.listenerManager.register(queryListener)
    }
    session = Some(spark)
  }

  /** Stops recording and unregisters both listeners, after the events
    * already posted have been delivered. */
  def pause(): Unit = if (on) {
    drain()
    session.foreach { s =>
      s.listenerManager.unregister(queryListener)
      s.sparkContext.removeSparkListener(sparkListener)
    }
    on = false
  }

  def resume(): Unit = if (enabled && !on) {
    on = true
    session.foreach { s =>
      s.sparkContext.addSparkListener(sparkListener)
      s.listenerManager.register(queryListener)
    }
  }

  /** Waits until the listener bus has delivered every job end that was
    * started, so the summary sees all jobs. */
  def drain(timeoutMs: Long = 30000L): Unit = if (on) {
    val deadline = System.currentTimeMillis() + timeoutMs
    Thread.sleep(200)
    while (lock.synchronized(endedJobs < startedJobs) &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  /** Index of the innermost span containing time `t`, or -1. */
  def innermost(t: Long): Int = {
    var best = -1
    spans.foreach { s =>
      if (s.start <= t && t < s.end &&
          (best < 0 || s.start >= spans(best).start)) best = s.id
    }
    best
  }

  /** Self time of every span: its duration minus the part its child
    * spans cover. */
  def selfTimes: Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq
      s.id -> (s.dur - Intervals.covered(ch, s.start, s.end))
    }.toMap
  }

  /** Per-layer summary: for each layer, the summed duration of each
    * span name, self time, and the Spark work of the jobs whose innermost
    * open span belongs to that layer. `driver_s` is self time not covered
    * by those jobs. */
  def layerMetrics: Map[String, Double] = {
    val self = selfTimes
    val byJob = jobs.groupBy(j => innermost(j.start))
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = out(k) = out.getOrElse(k, 0.0) + v
    spans.foreach { s =>
      val l = s.layer
      val js = byJob.getOrElse(s.id, Nil)
      add(s"$l.self_s", self(s.id) / 1e6)
      add(s"$l.${s.name}_s", s.dur / 1e6)
      add(s"$l.jobs", js.size.toDouble)
      add(s"$l.tasks", js.map(_.tasks).sum.toDouble)
      add(s"$l.executor_cpu_s", js.map(_.cpuNs).sum / 1e9)
      add(s"$l.input_bytes", js.map(_.inputBytes).sum.toDouble)
      add(s"$l.shuffle_bytes", js.map(_.shuffleBytes).sum.toDouble)
      add(s"$l.listing_jobs", js.count(_.listing).toDouble)
      val covered = Intervals.covered(js.map(j => (j.start, j.end)).toSeq,
        s.start, s.end)
      add(s"$l.driver_s", math.max(0L, self(s.id) - covered) / 1e6)
    }
    val runs = spans.filter(s => s.layer == "runner" &&
      (s.name == "build" || s.name == "fullrefresh"))
    if (runs.nonEmpty) out("runner.model_max_s") = runs.map(_.dur).max / 1e6
    out.toMap
  }

  /** Totals of the layers underneath every span: Catalyst phases, the
    * Spark job layer, and the recorder's own cost. */
  def summary: Map[String, Double] = {
    // jobs and plans outside every span are the harness's own checks
    val jobs = this.jobs.filter(j => innermost(j.start) >= 0)
    val plans = this.plans.filter(p => innermost(p.at) >= 0)
    Map(
    "catalyst.analysis_s" -> plans.map(_.analysisMs).sum / 1e3,
    "catalyst.optimizer_s" -> plans.map(_.optimizerMs).sum / 1e3,
    "catalyst.planning_s" -> plans.map(_.planningMs).sum / 1e3,
    "catalyst.plans" -> plans.size.toDouble,
    "spark.jobs" -> jobs.size.toDouble,
    "spark.tasks" -> jobs.map(_.tasks).sum.toDouble,
    "spark.executor_cpu_s" -> jobs.map(_.cpuNs).sum / 1e9,
    "spark.listing_jobs" -> jobs.count(_.listing).toDouble,
    "spark.input_bytes" -> jobs.map(_.inputBytes).sum.toDouble,
    "spark.shuffle_bytes" -> jobs.map(_.shuffleBytes).sum.toDouble,
    "spark.output_bytes" -> jobs.map(_.outputBytes).sum.toDouble,
    "trace.callback_s" -> callbackNs / 1e9)
  }
}
