package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval in wall-clock milliseconds. `kind` is "op" for a
  * benchmark operation, "call" for a public engine call made by the
  * harness, "job" for a Spark job and "phase" for a Catalyst planning
  * phase. `parent` is 0 at the root.
  */
final case class Span(id: Int, name: String, kind: String, parent: Int,
                      op: Int, start: Double, var end: Double) {
  def dur: Double = end - start
}

/** One finished QueryExecution: its Catalyst phase intervals and whether
  * its plan reads a cached relation.
  */
final case class QeRec(phases: Seq[(String, Double, Double)], cached: Boolean)

/** One streaming micro-batch's progress report. */
final case class ProgressRec(durations: Map[String, Long], stateRows: Long,
                             stateBytes: Long, inputRows: Long)

/** The traced run's recorder: spans around the harness's own calls into
  * the engine (each sets a Spark job group naming its span), plus a
  * SparkListener, a QueryExecutionListener and a StreamingQueryListener.
  * Everything stays in memory until [[spanTable]] / [[summarize]] at the
  * end of the run.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  /** Wall clock in ms on the same scale as Spark's event times. */
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var nextId = 1
  private def newId(): Int = synchronized { val i = nextId; nextId += 1; i }

  /** Runs `body` inside a span of `kind`, with the span as the job group. */
  def span[T](name: String, kind: String = "call", op: Int = -1)(body: => T): T = {
    val parent = stack.headOption
    val s = Span(newId(), name, kind, parent.map(_.id).getOrElse(0),
      if (op >= 0) op else parent.map(_.op).getOrElse(-1), now(), Double.NaN)
    spans += s
    stack.push(s)
    sc.setJobGroup(s"span-${s.id}", name, interruptOnCancel = false)
    try body
    finally {
      s.end = now()
      stack.pop()
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  // ------------------------------------------------------------ listeners

  final class JobRec(val id: Int, val name: String, val group: String, val start: Double) {
    @volatile var end: Double = Double.NaN
    var tasks = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleW = 0L; var shuffleR = 0L; var spill = 0L
  }

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val qes = new ConcurrentLinkedQueue[QeRec]()
  private val progress = new ConcurrentLinkedQueue[ProgressRec]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      jobs.put(e.jobId, new JobRec(e.jobId, site, group, e.time.toDouble))
      e.stageIds.foreach(st => stageJob.put(st, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val j = Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
      if (m != null) j.foreach { r =>
        r.synchronized {
          r.tasks += 1
          r.cpuNs += m.executorCpuTime
          r.gcMs += m.jvmGCTime
          r.shuffleW += m.shuffleWriteMetrics.bytesWritten
          r.shuffleR += m.shuffleReadMetrics.totalBytesRead
          r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private def qeRec(qe: QueryExecution): QeRec = {
    val phases = qe.tracker.phases.toSeq.map { case (n, p) =>
      (n, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
    }
    val cached = scala.util.Try(
      qe.withCachedData.find(_.isInstanceOf[InMemoryRelation]).isDefined).getOrElse(false)
    QeRec(phases, cached)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = qes.add(qeRec(qe))
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = qes.add(qeRec(qe))
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
      progress.add(ProgressRec(
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum, p.numInputRows))
    }
  }

  def attach(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits for started jobs to report their end (the listener bus is
    * asynchronous), then detaches every listener.
    */
  def detach(): Unit = {
    detachedAt = now()
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (jobs.values.asScala.exists(_.end.isNaN) && System.nanoTime() < deadline)
      Thread.sleep(20)
    Thread.sleep(300) // trailing task-end and query-execution events
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  @volatile private var detachedAt = Double.NaN

  def streamingProgress: Seq[ProgressRec] = progress.asScala.toSeq

  // ------------------------------------------------------------ analysis

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN; var curB = Double.NaN
    c.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  private lazy val allJobs = jobs.values.asScala.toSeq.sortBy(_.start)
  private lazy val jobList = allJobs.filter(!_.end.isNaN)
  private lazy val qeList = qes.asScala.toSeq

  /** The innermost harness span containing instant `t`. */
  private def innermost(t: Double): Option[Span] =
    spans.filter(s => s.start <= t && t <= s.end).maxByOption(_.start)

  /** All spans (harness spans, jobs, phases) with parents and op ids
    * resolved by time containment, and each span's self time: its
    * duration minus the part of it its children cover.
    */
  def spanTable(): Seq[Map[String, Any]] = {
    val all = mutable.ArrayBuffer.empty[Span] ++= spans
    jobList.foreach { j =>
      val p = innermost(j.start)
      all += Span(newId(), s"job-${j.id}: ${j.name}", "job", p.map(_.id).getOrElse(0),
        p.map(_.op).getOrElse(-1), j.start, j.end)
    }
    qeList.foreach(_.phases.foreach { case (n, a, b) =>
      val p = innermost(a)
      all += Span(newId(), n, "phase", p.map(_.id).getOrElse(0),
        p.map(_.op).getOrElse(-1), a, b)
    })
    val kids = all.groupBy(_.parent)
    all.toSeq.map { s =>
      val childCover = covered(kids.getOrElse(s.id, Nil).toSeq
        .filter(_.id != s.id).map(c => (c.start, c.end)), s.start, s.end)
      Map("id" -> s.id, "name" -> s.name, "kind" -> s.kind, "parent" -> s.parent,
        "op" -> s.op, "start_ms" -> s.start, "end_ms" -> s.end,
        "self_ms" -> (s.dur - childCover))
    }
  }

  /** The reconciliation error of the traced ops: the jobs and Catalyst
    * phases that started while they ran but cannot be put inside exactly
    * one op, as a share of the ops' total wall. A job counts when it lies
    * wholly inside no op, when it had not ended at [[detach]], or when the
    * op whose interval holds it is not the op of the span its job group
    * names (jobs of the stream's own thread and of broadcast threads carry
    * no span group and are placed by time alone). A phase counts when it
    * lies wholly inside no op. At 0, every job and phase belongs to one op,
    * so each op's wall splits into planning, in-job time and driver gap.
    */
  def reconcileError(): Double = {
    val ops = spans.filter(_.kind == "op").toSeq
    if (ops.isEmpty) return 0.0
    val lo = ops.map(_.start).min
    val hi = ops.map(_.end).max
    val slack = 2.0 // ms: Spark's event times are whole milliseconds
    def holder(a: Double, b: Double): Option[Span] =
      ops.find(o => a >= o.start - slack && b <= o.end + slack)
    val spanOp = spans.map(s => s.id -> s.op).toMap
    val jobErr = allJobs.filter(j => j.start >= lo && j.start <= hi).map { j =>
      val end = if (j.end.isNaN) detachedAt else j.end
      val byTime = if (j.end.isNaN) None else holder(j.start, end).map(_.op)
      val byGroup = Option(j.group).collect { case Tracer.SpanGroup(id) => id.toInt }
        .flatMap(spanOp.get)
      if (byTime.isEmpty || byGroup.exists(g => !byTime.contains(g))) end - j.start else 0.0
    }.sum
    val phaseErr = qeList.flatMap(_.phases).filter { case (_, a, _) => a >= lo && a <= hi }
      .map { case (_, a, b) => if (holder(a, b).isEmpty) b - a else 0.0 }.sum
    (jobErr + phaseErr) / ops.map(_.dur).sum
  }

  /** Per-layer metrics over the traced op spans: per-op means of the
    * Catalyst phases, scheduler and executor counters, plus the
    * reconciliation error ([[reconcileError]]).
    */
  def summarize(): (Map[String, Double], Seq[Map[String, Any]]) = {
    val ops = spans.filter(_.kind == "op").toSeq
    val n = math.max(ops.size, 1).toDouble
    val perOp = ops.map { op =>
      val js = jobList.filter(j => j.start >= op.start && j.start <= op.end)
      val ph = qeList.flatMap(_.phases).filter { case (_, a, _) => a >= op.start && a <= op.end }
      val acts = qeList.filter(q => q.phases.nonEmpty &&
        q.phases.map(_._2).max >= op.start && q.phases.map(_._2).max <= op.end)
      val jobIv = js.map(j => (j.start, j.end))
      val busy = covered(jobIv, op.start, op.end)
      val phaseIv = ph.map { case (_, a, b) => (a, b) }
      val phaseSelf = covered(phaseIv ++ jobIv, op.start, op.end) - busy
      def phase(name: String) = ph.filter(_._1 == name).map { case (_, a, b) => b - a }.sum
      Map[String, Any](
        "op" -> op.op, "name" -> op.name, "wall_ms" -> op.dur,
        "analysis_ms" -> phase("analysis"), "optimization_ms" -> phase("optimization"),
        "planning_ms" -> phase("planning"), "actions" -> acts.size,
        "cached_actions" -> acts.count(_.cached),
        "jobs" -> js.size, "tasks" -> js.map(_.tasks).sum,
        "job_busy_ms" -> busy, "planning_outside_jobs_ms" -> phaseSelf,
        "driver_gap_ms" -> (op.dur - busy),
        "other_driver_ms" -> (op.dur - busy - phaseSelf),
        "task_cpu_ms" -> js.map(_.cpuNs).sum / 1e6, "task_gc_ms" -> js.map(_.gcMs).sum.toDouble,
        "shuffle_write_b" -> js.map(_.shuffleW).sum, "shuffle_read_b" -> js.map(_.shuffleR).sum,
        "spill_b" -> js.map(_.spill).sum)
    }
    def sum(k: String): Double = perOp.map(_(k).toString.toDouble).sum
    val mb = 1024.0 * 1024.0
    val m = Map(
      "catalyst.analysis_ms" -> sum("analysis_ms") / n,
      "catalyst.optimization_ms" -> sum("optimization_ms") / n,
      "catalyst.planning_ms" -> sum("planning_ms") / n,
      "catalyst.actions" -> sum("actions") / n,
      "spark.jobs" -> sum("jobs") / n,
      "spark.tasks" -> sum("tasks") / n,
      "spark.job_busy_s" -> sum("job_busy_ms") / n / 1000.0,
      "spark.driver_gap_s" -> sum("driver_gap_ms") / n / 1000.0,
      "spark.task_cpu_s" -> sum("task_cpu_ms") / n / 1000.0,
      "spark.task_gc_s" -> sum("task_gc_ms") / n / 1000.0,
      "spark.shuffle_write_mb" -> sum("shuffle_write_b") / n / mb,
      "spark.shuffle_read_mb" -> sum("shuffle_read_b") / n / mb,
      "spark.spill_mb" -> sum("spill_b") / n / mb,
      "analytics.cached_plan_ratio" ->
        perOp.count(_("cached_actions").toString.toInt > 0) / n,
      "trace.reconcile_err" -> reconcileError())
    (m, perOp)
  }
}

object Tracer {
  private val SpanGroup = "span-(\\d+)".r

  /** Rows the `graft_*` caps dropped in the one action `body` runs: the
    * sum of the `dropped_rows` fields of its `graft_*` observations, read
    * by a QueryExecutionListener registered for the call.
    */
  def observedDrops(spark: SparkSession)(body: => Unit): Long = {
    val dropped = new java.util.concurrent.atomic.AtomicLong(0L)
    val events = new java.util.concurrent.CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        dropped.addAndGet(qe.observedMetrics.collect {
          case (name, row) if name.startsWith("graft_") &&
              row.schema.fieldNames.contains("dropped_rows") =>
            Option(row.getAs[Any]("dropped_rows")).map(_.toString.toDouble.toLong).getOrElse(0L)
        }.sum)
        events.countDown()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        events.countDown()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // the listener bus is asynchronous: wait for the action's event
      events.await(10, java.util.concurrent.TimeUnit.SECONDS)
    } finally spark.listenerManager.unregister(listener)
    dropped.get
  }
}
