package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder, LongAdder}
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into each layer, plus counters
  * from Spark's public listeners. Off (the default) it only runs the
  * wrapped call: no listeners, no job groups, no span records.
  *
  * Spans: workload → op (query, stage-module call, serve batch, ingest,
  * compaction) → Spark job / streaming trigger. A job started on the
  * client thread carries its op's span id as job group; jobs and
  * triggers started elsewhere (stream execution threads) are attributed
  * to the op whose interval holds their start — the load comes from one
  * client thread, so at most one op is open at a time.
  */
final class Trace(val on: Boolean) {
  import Trace.Span

  private val wall0Us = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = wall0Us + (System.nanoTime() - nano0) / 1000L

  private val ids = new AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]()
  @volatile private var open: List[Long] = Nil

  /** Runs `f` as a span of `kind`; returns its result and wall seconds. */
  def timed[A](kind: String, name: String)(f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = if (on) within(kind, name)(f) else f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def within[A](kind: String, name: String)(f: => A): A = {
    val id = ids.getAndIncrement()
    val parent = open.headOption.getOrElse(0L)
    val st = nowUs
    open = id :: open
    sc.foreach(_.setJobGroup(id.toString, s"$kind $name", interruptOnCancel = false))
    try f
    finally {
      open = open.tail
      sc.foreach { c =>
        if (parent == 0L) c.clearJobGroup()
        else c.setJobGroup(parent.toString, "", interruptOnCancel = false)
      }
      spans.add(Span(id, parent, kind, name, st, nowUs))
    }
  }

  // ---- listener-side counters (traced runs only) ----
  @volatile private var sc: Option[SparkContext] = None
  @volatile private var windowStartMs = Long.MaxValue
  @volatile private var windowEndMs = Long.MaxValue
  private def inWindow(ms: Long): Boolean = ms >= windowStartMs && ms <= windowEndMs

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
  private val children = new ConcurrentLinkedQueue[Span]()

  private val counts = new java.util.concurrent.ConcurrentHashMap[String, LongAdder]()
  private val sums = new java.util.concurrent.ConcurrentHashMap[String, DoubleAdder]()
  private def count(k: String, n: Long = 1L): Unit =
    counts.computeIfAbsent(k, _ => new LongAdder).add(n)
  private def add(k: String, v: Double): Unit =
    sums.computeIfAbsent(k, _ => new DoubleAdder).add(v)
  def countOf(k: String): Long = Option(counts.get(k)).map(_.sum).getOrElse(0L)
  def sumOf(k: String): Double = Option(sums.get(k)).map(_.sum).getOrElse(0.0)

  /** Listener attach; a no-op when tracing is off. */
  def attach(s: SparkSession): Unit = if (on) {
    sc = Some(s.sparkContext)
    s.sparkContext.addSparkListener(sparkListener)
    s.listenerManager.register(planListener)
    s.streams.addListener(streamListener)
  }

  def detach(s: SparkSession): Unit = if (on) {
    s.sparkContext.removeSparkListener(sparkListener)
    s.listenerManager.unregister(planListener)
    s.streams.removeListener(streamListener)
    sc = None
  }

  /** Counters only take events inside [start, end] (the measured passes).
    * The plan listener has no event time and judges by delivery, so the
    * listener bus is drained at both ends: everything posted before the
    * start is delivered before it, everything posted before the end is
    * delivered before it. */
  def startWindow(): Unit = {
    drain(); windowStartMs = System.currentTimeMillis(); windowEndMs = Long.MaxValue
  }
  def endWindow(): Unit = { drain(); windowEndMs = System.currentTimeMillis() }
  private def drain(): Unit = sc.foreach(org.apache.spark.graftbench.Bus.drain)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .flatMap(_.toLongOption).getOrElse(0L)
      jobStarts.put(e.jobId, (e.time * 1000L, group))
      if (inWindow(e.time)) count("spark.jobs")
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (st, group) =>
        children.add(Span(0L, group, "job", e.jobId.toString, st, e.time * 1000L))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (e.stageInfo.completionTime.exists(inWindow)) count("spark.stages")
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val info = e.taskInfo
      if (info != null && inWindow(info.finishTime)) {
        count("spark.tasks")
        if (info.failed || info.killed) count("spark.failed_tasks")
        val m = e.taskMetrics
        if (m != null) {
          add("spark.task_run_s", m.executorRunTime / 1e3)
          add("spark.task_cpu_s", m.executorCpuTime / 1e9)
          add("spark.task_gc_s", m.jvmGCTime / 1e3)
          val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - info.gettingResultTime
          add("spark.scheduler_delay_s", math.max(0L, delay) / 1e3)
          count("spark.input_bytes", m.inputMetrics.bytesRead)
          count("spark.output_bytes", m.outputMetrics.bytesWritten)
          count("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
          count("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
          count("spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
    }
  }

  private object planListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = if (inWindow(System.currentTimeMillis())) {
      count("plan.executions")
      qe.tracker.phases.foreach { case (phase, p) =>
        val s = (p.endTimeMs - p.startTimeMs) / 1e3
        phase match {
          case "analysis" => add("plan.analysis_s", s)
          case "optimization" => add("plan.optimization_s", s)
          case "planning" => add("plan.planning_s", s)
          case _ => ()
        }
      }
      val plan: SparkPlan = qe.executedPlan
      count("plan.exchanges", collectWithSubqueries(plan) { case e: Exchange => e }.size.toLong)
      count("plan.file_scans", collectWithSubqueries(plan) { case f: FileSourceScanExec => f }.size.toLong)
      count("plan.inmemory_scans", collectWithSubqueries(plan) { case i: InMemoryTableScanExec => i }.size.toLong)
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val st = java.time.Instant.parse(p.timestamp).toEpochMilli
      if (inWindow(st)) {
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        count("stream.triggers")
        Seq("triggerExecution" -> "trigger", "addBatch" -> "add_batch",
          "queryPlanning" -> "planning", "walCommit" -> "wal_commit", "commit" -> "commit")
          .foreach { case (k, n) => add(s"stream.${n}_ms", d.getOrElse(k, 0L).toDouble) }
        children.add(Span(0L, 0L, "trigger", p.name, st * 1000L,
          (st + d.getOrElse("triggerExecution", 0L)) * 1000L))
      }
    }
  }

  /** Closed op spans, and jobs/triggers attached to their op. */
  def tree(): (Seq[Span], Seq[Span]) = {
    val ops = spans.asScala.toSeq.sortBy(_.startUs)
    val known = ops.map(_.id).toSet
    val leaves = ops.filterNot(o => ops.exists(_.parent == o.id))
    val kids = children.asScala.toSeq.flatMap { c =>
      val parent =
        if (known.contains(c.parent)) Some(c.parent)
        else leaves.find(o => c.startUs >= o.startUs && c.startUs <= o.endUs).map(_.id)
      parent.map(p => c.copy(id = ids.getAndIncrement(), parent = p))
    }
    (ops, kids)
  }

  /** Σ over leaf ops of (duration − union of the op's child intervals). */
  def driverSelfSeconds(ops: Seq[Span], kids: Seq[Span]): Double = {
    val byParent = kids.groupBy(_.parent)
    ops.filterNot(o => ops.exists(_.parent == o.id)).map { o =>
      val iv = byParent.getOrElse(o.id, Nil)
        .map(k => (math.max(k.startUs, o.startUs), math.min(k.endUs, o.endUs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curA = -1L; var curB = -1L
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      (o.endUs - o.startUs - covered) / 1e6
    }.sum
  }
}

object Trace {
  final case class Span(id: Long, parent: Long, kind: String, name: String,
      startUs: Long, endUs: Long)
}
