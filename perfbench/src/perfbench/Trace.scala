package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in trace recorder. The harness opens a span around each of its
  * own calls into a layer; Spark's own listeners record every job, stage,
  * task, planning phase and streaming micro-batch, and each event is
  * attributed to the innermost span open at the event's start time. Calls
  * into the program are sequential, so wall-clock attribution is exact up
  * to the millisecond clock of Spark's events.
  *
  * Spans and events stay in memory; [[summaries]] and [[json]] read them
  * once the run has ended and the listener bus has drained. */
final class Trace(spark: SparkSession, cores: Int) {

  final class Span(val id: Int, val name: String, val parent: Int,
      val startMs: Long, val startNs: Long) {
    var endMs: Long = Long.MaxValue
    var endNs: Long = 0L
    def wallS: Double = (endNs - startNs) / 1e9
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var on = false
  def active: Boolean = on
  private var open = List.empty[Span]

  /** Runs `f` inside a span named `name`, child of the innermost open one,
    * while the trace is registered (untraced runs only run `f`). Spans may
    * be opened from any thread as long as calls stay sequential
    * (the REST worker opens spans while the client thread waits). */
  def span[T](name: String)(f: => T): T = if (!on) f else {
    val s = synchronized {
      val s = new Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      open ::= s
      s
    }
    try f
    finally synchronized {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.filterNot(_ eq s)
    }
  }

  private case class TaskEv(launch: Long, runMs: Long, cpuNs: Long,
      gcMs: Long, shuffleWrite: Long, spill: Long)
  private case class PhaseEv(start: Long, ms: Long)
  private case class BatchEv(start: Long, durations: Map[String, Long],
      rows: Long)

  private val jobs = new ConcurrentLinkedQueue[Long]()
  private val stages = new ConcurrentLinkedQueue[Long]()
  private val tasks = new ConcurrentLinkedQueue[TaskEv]()
  private val qes = new ConcurrentLinkedQueue[Long]()
  private val phases = new ConcurrentLinkedQueue[PhaseEv]()
  private val batches = new ConcurrentLinkedQueue[BatchEv]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.add(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskEv(e.taskInfo.launchTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution, durationNs: Long): Unit = {
      val ps = qe.tracker.phases.values.toSeq
      qes.add(if (ps.isEmpty) System.currentTimeMillis() - durationNs / 1000000
        else ps.map(_.startTimeMs).min)
      ps.foreach(p => phases.add(PhaseEv(p.startTimeMs, p.durationMs)))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe, ns)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe, 0L)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      batches.add(BatchEv(start,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows))
    }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    on = true
  }

  /** Stops listening and waits until every posted event has been seen. */
  def finish(): Unit = {
    on = false
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Runs `f` with the listeners registered if `traced`. Workloads
    * alternate traced and untraced operations this way, so the difference
    * between the two (the tracing overhead) is not confounded with the JIT
    * still speeding operations up over the run. */
  def around[T](traced: Boolean)(f: => T): T =
    if (!traced) f else { register(); try f finally finish() }

  /** Index of the innermost span open at `t` (epoch ms), or -1. */
  private def owner(t: Long): Int = {
    var best = -1
    var i = 0
    while (i < spans.size) {
      val s = spans(i)
      if (s.startMs <= t && t <= s.endMs) best = i // later spans nest deeper
      i += 1
    }
    best
  }

  /** Per-span metrics, each including every descendant span. */
  def summaries: Seq[(Span, Map[String, Double])] = {
    val n = spans.size
    val acc = Array.fill(n)(mutable.Map.empty[String, Double].withDefaultValue(0.0))
    def add(t: Long, kv: (String, Double)*): Unit = {
      var i = owner(t)
      while (i >= 0) {
        kv.foreach { case (k, v) => acc(i)(k) += v }
        i = spans(i).parent
      }
    }
    jobs.asScala.foreach(t => add(t, "spark.jobs" -> 1))
    stages.asScala.foreach(t => add(t, "spark.stages" -> 1))
    tasks.asScala.foreach(e => add(e.launch, "spark.tasks" -> 1,
      "spark.task_s" -> e.runMs / 1e3, "spark.cpu_s" -> e.cpuNs / 1e9,
      "spark.gc_s" -> e.gcMs / 1e3,
      "spark.shuffle_write_mb" -> e.shuffleWrite / 1e6,
      "spark.spill_mb" -> e.spill / 1e6))
    qes.asScala.foreach(t => add(t, "spark.query_executions" -> 1))
    phases.asScala.foreach(p => add(p.start, "spark.plan_s" -> p.ms / 1e3))
    batches.asScala.foreach { b =>
      add(b.start, (("streaming.batches" -> 1.0) +: ("streaming.rows" -> b.rows.toDouble) +:
        b.durations.toSeq.map { case (k, v) => s"streaming.$k" -> v / 1e3 }): _*)
    }
    spans.toSeq.map { s =>
      val m = acc(s.id)
      val counted = Trace.SparkMetrics.map(k => k -> m(k)).toMap
      val children = spans.filter(_.parent == s.id).map(_.wallS).sum
      s -> (m.toMap ++ counted ++ Map(
        "wall_s" -> s.wallS,
        "self_s" -> (s.wallS - children),
        "spark.non_task_s" -> (s.wallS - m("spark.task_s") / cores)))
    }
  }

  def json: Any = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    summaries.map { case (s, m) =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
        "metrics" -> m)
    }
  }
}

object Trace {
  /** The listener counts every span reports, besides wall, self and
    * non-task time. */
  val SparkMetrics: Seq[String] = Seq("spark.jobs", "spark.stages",
    "spark.tasks", "spark.task_s", "spark.cpu_s", "spark.gc_s", "spark.plan_s",
    "spark.query_executions", "spark.shuffle_write_mb", "spark.spill_mb")
}
