package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** One interval of the trace. `parent` is 0 for roots; `op` is the op the
  * span belongs to (0 outside ops, e.g. setup). Times are epoch ms. */
final case class Span(id: Long, parent: Long, op: Long, kind: String,
    name: String, start: Long, end: Long, module: String = "")

/** An interval the harness itself measured: an op, a release, a setup step. */
final case class Mark(op: Long, kind: String, name: String, start: Long, end: Long)

/** Collects Spark's own events while registered: jobs, stages and tasks
  * (SparkListener), Catalyst phases per SQL execution
  * (QueryExecutionListener), micro-batch phases (StreamingQueryListener)
  * and cache-block writes. Nothing is registered unless [[start]] is
  * called, so untraced runs pay nothing. Handlers only append to buffers;
  * [[report]] drains the listener bus and does all the joining. */
final class Tracer(spark: SparkSession) extends SparkListener {

  private final class TaskAgg {
    var tasks, failed = 0L
    var runMs, cpuNs, gcMs, schedMs, shufW, shufR, fetchMs, spill = 0L
    var inBytes, inRecords, outBytes = 0L
  }
  private final case class JobRec(id: Int, start: Long, stageIds: Seq[Int],
      site: String, resultDetails: String, execId: Option[Long]) { var end: Long = -1L }
  private final case class StageRec(id: Int, attempt: Int, name: String,
      submit: Long, job: Int, rdds: Set[Int]) { var end: Long = -1L }

  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val activeJobs = mutable.LinkedHashSet[Int]()
  private val stages = mutable.ArrayBuffer[StageRec]()
  private val stageJob = mutable.Map[Int, Int]()
  private val taskAgg = mutable.Map[Int, TaskAgg]()
  private val execs = mutable.Map[Long, (Long, String)]()
  private val storedRdds = mutable.Set[Int]()
  private val phases = mutable.ArrayBuffer[(String, Long, Long)]()
  /** (start of its first Catalyst phase, files scanned) per SQL execution. */
  private val executions = mutable.ArrayBuffer[(Long, Long)]()
  private val progress = mutable.ArrayBuffer[(Long, Long, Map[String, Long], Long)]()

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** A streaming query runs on a clone of the session taken when it
    * starts, listeners included, and [[stop]] cannot unregister from the
    * clone; so the Catalyst listener records only while this is set. */
  @volatile private var active = false

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = if (active) {
      val ph = qe.tracker.phases.toSeq.map { case (n, s) => (n, s.startTimeMs, s.endTimeMs) }
      val files =
        try PlanWalk.collectWithSubqueries(qe.executedPlan) { case p => p }
          .flatMap(_.metrics.get("numFiles")).map(_.value).sum
        catch { case _: Throwable => 0L }
      val start = ph.map(_._2).minOption.getOrElse(System.currentTimeMillis())
      Tracer.this.synchronized { executions += ((start, files)); phases ++= ph }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val d = mutable.Map[String, Long]()
      p.durationMs.forEach((k, v) => d(k) = v.longValue)
      Tracer.this.synchronized { progress += ((p.batchId, start, d.toMap, p.numInputRows)) }
    }
  }

  def start(): Unit = {
    active = true
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def stop(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    active = false
  }

  // ------------------------------------------------------------ listener
  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      synchronized { execs(e.executionId) = (e.rootExecutionId.getOrElse(e.executionId), e.details) }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    val result = e.stageInfos.maxByOption(_.stageId)
    jobs(e.jobId) = JobRec(e.jobId, e.time, e.stageIds, result.map(_.name).getOrElse(""),
      result.map(_.details).getOrElse(""), exec)
    activeJobs += e.jobId
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
    activeJobs -= e.jobId
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = e.stageInfo
    val job = activeJobs.find(j => jobs(j).stageIds.contains(s.stageId)).getOrElse(-1)
    stageJob(s.stageId) = job
    stages += StageRec(s.stageId, s.attemptNumber(), s.name,
      s.submissionTime.getOrElse(System.currentTimeMillis()), job,
      s.rddInfos.filter(_.storageLevel.isValid).map(_.id).toSet)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    stages.reverseIterator.find(r => r.id == s.stageId && r.attempt == s.attemptNumber())
      .foreach(_.end = s.completionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = taskAgg.getOrElseUpdate(e.stageId, new TaskAgg)
    a.tasks += 1
    if (!e.taskInfo.successful) a.failed += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      a.shufW += m.shuffleWriteMetrics.bytesWritten
      a.shufR += m.shuffleReadMetrics.totalBytesRead
      a.fetchMs += m.shuffleReadMetrics.fetchWaitTime
      a.spill += m.diskBytesSpilled
      a.inBytes += m.inputMetrics.bytesRead
      a.inRecords += m.inputMetrics.recordsRead
      a.outBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    e.blockUpdatedInfo.blockId match {
      case RDDBlockId(rdd, _) if e.blockUpdatedInfo.storageLevel.isValid =>
        synchronized { storedRdds += rdd }
      case _ => ()
    }

  // -------------------------------------------------------------- report
  /** Job id → module. A job that stored the first blocks of a persisted
    * RDD is a cache fill and goes to `GraftCaches`. Every other job goes
    * to the module of its call site. Spark submits adaptive query stages
    * and broadcasts from its own thread pools, so such a job's call site
    * has no user frame; it takes the call site of the SQL execution it ran
    * for (or of that execution's root), which Spark records on the
    * caller's thread. */
  private def jobModules(): Map[Int, String] = {
    val fillers = storedRdds.toSeq.flatMap { rdd =>
      stages.filter(s => s.rdds.contains(rdd) && s.job >= 0).map(_.job).minOption
    }.toSet
    def execSites(e: Long): Seq[String] = execs.get(e).toSeq.flatMap { case (root, site) =>
      site +: execs.get(root).map(_._2).toSeq }
    jobs.values.map { j =>
      val sites = j.resultDetails +: j.execId.toSeq.flatMap(execSites)
      j.id -> (if (fillers(j.id)) "GraftCaches"
        else sites.iterator.flatMap(Attribution.moduleOf).nextOption()
          .getOrElse(Attribution.Unattributed))
    }.toMap
  }

  /** Union length of `ivs` clipped to [lo, hi]. */
  private def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  /** Streaming phases in the order a micro-batch runs them. */
  private val streamPhases = Seq("latestOffset", "walCommit", "getBatch",
    "queryPlanning", "addBatch", "commitOffsets")

  /** Joins every event to the harness's marks; call after [[stop]].
    * Returns the span list (to write out) and the per-layer metrics,
    * additive ones per op of the traced phase. */
  def report(marks: Seq[Mark], cores: Int, wallMs: Double,
      cachePeak: (Long, Double)): (Seq[Span], Map[String, Double]) = synchronized {
    val ops = marks.filter(_.kind == "op")
    val nOps = math.max(1, ops.size).toDouble
    var nextId = 0L
    def id(): Long = { nextId += 1; nextId }
    val spans = mutable.ArrayBuffer[Span]()
    val opSpan = ops.map(o => o.op -> Span(id(), 0L, o.op, "op", o.name, o.start, o.end)).toMap
    spans ++= opSpan.values
    def opAt(t: Long): Option[Span] =
      opSpan.values.find(s => t >= s.start && t <= s.end)
    val setupSpan = marks.find(_.kind == "setup")
      .map(m => Span(id(), 0L, 0L, m.kind, m.name, m.start, m.end))
    spans ++= setupSpan
    marks.filter(m => m.kind != "op" && m.kind != "setup").foreach { m =>
      val parent = if (m.kind == "step") setupSpan.map(_.id) else opSpan.get(m.op).map(_.id)
      spans += Span(id(), parent.getOrElse(0L), m.op, m.kind, m.name, m.start, m.end)
    }
    phases.foreach { case (name, a, b) =>
      opAt(a).foreach(o => spans += Span(id(), o.id, o.op, "catalyst", name, a, b))
    }
    // micro-batch phases laid end to end from the trigger start
    val streamSpans = progress.toSeq.flatMap { case (_, t0, d, _) =>
      opAt(t0).orElse(opAt(t0 + d.getOrElse("triggerExecution", 0L))).toSeq.flatMap { o =>
        var t = t0
        streamPhases.flatMap(p => d.get(p).map { ms =>
          val s = Span(id(), o.id, o.op, "streaming", p, t, t + ms); t += ms; s })
      }
    }
    spans ++= streamSpans
    val modules = jobModules()
    val stepSpans = spans.filter(_.kind == "step").toSeq
    def job(j: JobRec, parent: Span, op: Long): (Int, Span) =
      j.id -> Span(id(), parent.id, op, "job", s"job ${j.id} ${j.site}", j.start, j.end, modules(j.id))
    val jobSpan = jobs.values.filter(_.end >= 0).flatMap { j =>
      opAt(j.start).map { o =>
        job(j, streamSpans.find(s => s.op == o.op && j.start >= s.start && j.start <= s.end)
          .getOrElse(o), o.op)
      }
    }.toMap
    // jobs of the setup steps, when the tracer ran through setup
    val setupJobSpan = jobs.values.filter(j => j.end >= 0 && !jobSpan.contains(j.id)).flatMap { j =>
      stepSpans.find(s => j.start >= s.start && j.start <= s.end).map(job(j, _, 0L))
    }.toMap
    spans ++= jobSpan.values ++ setupJobSpan.values
    stages.filter(s => s.end >= 0).foreach { s =>
      jobSpan.get(s.job).orElse(setupJobSpan.get(s.job)).foreach { j =>
        spans += Span(id(), j.id, j.op, "stage", s"stage ${s.id}.${s.attempt} ${s.name}",
          s.submit, s.end, j.module)
      }
    }

    // self time per span kind of the ops: duration minus the part children cover
    val children = spans.groupBy(_.parent)
    val selfByKind = mutable.Map[String, Long]().withDefaultValue(0L)
    spans.filter(_.op != 0).foreach { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq
      selfByKind(s.kind) += (s.end - s.start) - covered(kids, s.start, s.end)
    }

    val m = mutable.LinkedHashMap[String, Double]()
    def perOp(v: Double): Double = v / nOps
    val tracedStages = stages.filter(s => jobSpan.contains(s.job))
    val stageIds = tracedStages.map(_.id).toSet
    val aggs = taskAgg.filter { case (sid, _) => stageIds(sid) }
    def sumAgg(f: TaskAgg => Long, pred: Int => Boolean = _ => true): Double =
      aggs.collect { case (sid, a) if pred(sid) => f(a) }.sum.toDouble
    val mb = 1024.0 * 1024.0

    Seq("analysis", "optimization", "planning").foreach { p =>
      m(s"catalyst.${p}_ms") = perOp(phases.collect {
        case (`p`, a, b) if opAt(a).isDefined => (b - a).toDouble }.sum)
    }
    val opExecutions = executions.filter(e => opAt(e._1).isDefined)
    m("catalyst.executions") = perOp(opExecutions.size.toDouble)
    m("driver.gap_ms") = perOp(ops.map { o =>
      (o.end - o.start) - covered(jobSpan.values.filter(_.op == o.op)
        .map(j => (j.start, j.end)).toSeq, o.start, o.end)
    }.sum.toDouble)
    m("jobs") = perOp(jobSpan.size.toDouble)
    m("stages") = perOp(tracedStages.size.toDouble)
    m("tasks") = perOp(sumAgg(_.tasks))
    m("scheduler.delay_ms") = perOp(sumAgg(_.schedMs))
    def moduleTaskMs(js: Map[Int, Span], mod: String): Double = {
      val jobIds = js.collect { case (jid, s) if s.module == mod => jid }.toSet
      taskAgg.collect { case (sid, a) if jobIds(stageJob.getOrElse(sid, -1)) => a.runMs }
        .sum.toDouble
    }
    (Attribution.modules :+ Attribution.Unattributed).foreach { mod =>
      val js = jobSpan.values.filter(_.module == mod).toSeq
      m(s"$mod.jobs") = perOp(js.size.toDouble)
      m(s"$mod.wall_ms") = perOp(js.map(s => (s.end - s.start).toDouble).sum)
      m(s"$mod.task_ms") = perOp(moduleTaskMs(jobSpan, mod))
      // whole-setup totals, not per op
      m(s"setup.$mod.jobs") = setupJobSpan.values.count(_.module == mod).toDouble
      m(s"setup.$mod.task_ms") = moduleTaskMs(setupJobSpan, mod)
    }
    val runMs = sumAgg(_.runMs)
    m("exec.run_ms") = perOp(runMs)
    m("exec.cpu_ms") = perOp(sumAgg(_.cpuNs) / 1e6)
    m("exec.gc_ms") = perOp(sumAgg(_.gcMs))
    m("cpu_util") = if (wallMs > 0) runMs / (wallMs * cores) else 0.0
    m("shuffle.write_mb") = perOp(sumAgg(_.shufW) / mb)
    m("shuffle.read_mb") = perOp(sumAgg(_.shufR) / mb)
    m("shuffle.fetch_wait_ms") = perOp(sumAgg(_.fetchMs))
    m("spill_mb") = perOp(sumAgg(_.spill) / mb)
    m("scan.files") = perOp(opExecutions.map(_._2).sum.toDouble)
    m("scan.mb") = perOp(sumAgg(_.inBytes) / mb)
    m("scan.records") = perOp(sumAgg(_.inRecords))
    m("cache.rdds_live") = cachePeak._1.toDouble
    m("cache.mem_mb") = cachePeak._2
    m("cache.release_ms") = perOp(marks.filter(_.kind == "release").map(r => (r.end - r.start).toDouble).sum)
    m("output.mb") = perOp(sumAgg(_.outBytes) / mb)
    val opProgress = progress.filter(p => opAt(p._2).isDefined)
    def streamMs(keys: String*): Double =
      perOp(opProgress.map(p => keys.flatMap(p._3.get).sum.toDouble).sum)
    m("streaming.add_batch_ms") = streamMs("addBatch")
    m("streaming.planning_ms") = streamMs("queryPlanning")
    m("streaming.wal_commit_ms") = streamMs("walCommit", "commitOffsets")
    m("streaming.rows") = perOp(opProgress.map(_._4.toDouble).sum)
    m("tasks.failed") = sumAgg(_.failed)
    m("stages.retried") = tracedStages.count(_.attempt > 0).toDouble
    Tracer.spanKinds.foreach(k => m(s"self.${k}_ms") = perOp(selfByKind(k).toDouble))
    (spans.toSeq, m.toMap)
  }
}

object Tracer {
  /** Span kinds under an op, each reported as `self.<kind>_ms` per op. The
    * setup → step spans go to the span file only. */
  val spanKinds: Seq[String] = Seq("op", "catalyst", "job", "stage", "release", "streaming")
}
