package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.execution.joins.{HashJoin, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** A traced interval. Library-call spans have `parent` -1; every Spark
  * job a call submitted becomes a child span named by its call site.
  * All spans of one benchmark operation share `opId`.
  */
final case class Span(id: Int, name: String, parent: Int, opId: Int,
    startMs: Long, endMs: Long)

/** Per-job task totals, filled in from listener events. */
final class JobRec(val id: Int, val callSite: String, val startMs: Long) {
  var endMs: Long = startMs
  var runMs, cpuNs, gcMs, shuffleBytes, spillBytes, schedDelayMs, tasks: Long = 0L
}

/** One executed query: its phase times and the plan-node row counts
  * the useful-work ratios are read from.
  */
final class QeRec(val atMs: Long, val analysisMs: Long, val optimizationMs: Long,
    val planningMs: Long, val counts: Map[String, Long])

/** Span recorder fed by a SparkListener and a QueryExecutionListener
  * registered from outside the library. A span owns the jobs submitted
  * while it was open (job ids are handed out in submission order, and
  * the benchmark issues one call at a time), so jobs launched deep
  * inside composed operators are attributed without tracing inside the
  * library. Spans are kept in memory and written once at the end.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  @volatile private var active = true

  private val jobs = mutable.HashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val qes = mutable.ArrayBuffer.empty[QeRec]
  private val blocks = mutable.HashMap.empty[RDDBlockId, Long]
  private var cachedBytes = 0L
  private var cachePeakBytes = 0L

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val spanJobs = mutable.HashMap.empty[Int, (Int, Int)]
  private var spanNanos = 0L

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  /** Tracing on or off for the calls that follow; switching off first
    * drains the bus so the last traced call's events are all recorded.
    */
  def setActive(on: Boolean): Unit = {
    if (!on && active) settle()
    active = on
  }

  def settle(): Unit = PerfbenchBridge.drainListenerBus(sc)

  def span[T](name: String, opId: Int)(body: => T): T = {
    if (!active) return body
    val t0 = System.nanoTime()
    val firstJob = PerfbenchBridge.nextJobId(sc)
    val startMs = System.currentTimeMillis()
    spanNanos += System.nanoTime() - t0
    try body
    finally {
      val t1 = System.nanoTime()
      val endMs = System.currentTimeMillis()
      val id = spans.size
      spans += Span(id, name, -1, opId, startMs, endMs)
      spanJobs(id) = (firstJob, PerfbenchBridge.nextJobId(sc))
      spanNanos += System.nanoTime() - t1
    }
  }

  // ------------------------------------------------------------ listener

  private var listenerNanos = 0L

  /** Run a listener callback, charging its time to the tracer. */
  private def charged(body: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    body
    listenerNanos += System.nanoTime() - t0
  }

  // SQL execution id → the call site of the action that started it, and
  // the start time of each execution (one per action)
  private val executions = mutable.HashMap.empty[Long, String]
  private val executionStarts = mutable.ArrayBuffer.empty[(Long, String)]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if active => charged {
      executions(s.executionId) = s.description
      executionStarts += s.time -> s.description
    }
    case _ => ()
  }

  /** A job is named by the action that caused it: the SQL execution's
    * call site when it belongs to one (stage jobs that adaptive
    * execution submits from pool threads carry no useful call site of
    * their own), else the job's own call site.
    */
  private def siteOf(e: SparkListenerJobStart): String = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    prop("spark.sql.execution.id").flatMap(id => executions.get(id.toLong))
      .orElse(prop("callSite.short"))
      .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
      .getOrElse("job")
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (active) charged {
    val site = siteOf(e)
    jobs(e.jobId) = new JobRec(e.jobId, site, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = charged {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = charged {
    for (jobId <- stageJob.get(e.stageId); j <- jobs.get(jobId)) {
      val m = e.taskMetrics
      val info = e.taskInfo
      j.tasks += 1
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.diskBytesSpilled
        val gettingResult =
          if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        j.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = charged {
    e.blockUpdatedInfo.blockId match {
      case b: RDDBlockId =>
        val info = e.blockUpdatedInfo
        val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        cachedBytes += size - blocks.getOrElse(b, 0L)
        if (size == 0L) blocks.remove(b) else blocks(b) = size
        cachePeakBytes = math.max(cachePeakBytes, cachedBytes)
      case _ => ()
    }
  }

  // ---------------------------------------------------------- QE listener

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (active) charged {
      val phases = qe.tracker.phases
      def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
      val at = phases.get("planning").map(_.endTimeMs).getOrElse(System.currentTimeMillis())
      val counts = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
      nodes(qe.executedPlan).foreach { p =>
        def rows: Long = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        joinKeys(p).foreach(k => counts(s"join[${k.toSeq.sorted.mkString(",")}]") += rows)
        p match {
          case _: GenerateExec => counts("generate") += rows
          case _ => ()
        }
      }
      qes += new QeRec(at, ms("analysis"), ms("optimization"), ms("planning"), counts.toMap)
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case _: ReusedExchangeExec => Nil
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def joinKeys(p: SparkPlan): Option[Set[String]] = p match {
    case j: HashJoin => Some(j.leftKeys.flatMap(_.references.map(_.name)).toSet)
    case j: SortMergeJoinExec => Some(j.leftKeys.flatMap(_.references.map(_.name)).toSet)
    case _ => None
  }

  // --------------------------------------------------------------- report

  def detach(): Unit = {
    settle()
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  private def jobsOf(spanId: Int): Seq[JobRec] = {
    val (a, b) = spanJobs(spanId)
    (a until b).flatMap(jobs.get)
  }

  /** Milliseconds of `s` covered by at least one of its jobs. */
  private def jobCoveredMs(s: Span, js: Seq[JobRec]): Long = {
    var covered = 0L
    var until = s.startMs
    js.map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
      .sortBy(_._1).foreach { case (a, b) =>
        val from = math.max(a, until)
        if (b > from) { covered += b - from; until = b }
      }
    covered
  }

  def spansNamed(name: String): Seq[Span] = synchronized(spans.filter(_.name == name).toSeq)

  /** Summed row counts of `key` over the queries executed inside spans
    * called `name`.
    */
  def planCount(name: String, key: String): Long = synchronized {
    val ss = spans.filter(_.name == name)
    qes.filter(q => ss.exists(s => q.atMs >= s.startMs && q.atMs <= s.endMs))
      .map(_.counts.getOrElse(key, 0L)).sum
  }

  /** Actions (SQL executions) started inside spans called `name` whose
    * call site starts with `prefix`.
    */
  def actionCount(name: String, prefix: String): Int = synchronized {
    val ss = spans.filter(_.name == name)
    executionStarts.count { case (t, site) =>
      site.startsWith(prefix) && ss.exists(s => t >= s.startMs && t <= s.endMs)
    }
  }

  /** Per-call means of the five span metrics. */
  def spanMetrics(name: String): Map[String, Double] = synchronized {
    val ss = spans.filter(_.name == name)
    if (ss.isEmpty) Map(
      "wall_s" -> 0.0, "driver_s" -> 0.0, "task_cpu_s" -> 0.0, "shuffle_mb" -> 0.0, "jobs" -> 0.0)
    else {
      val n = ss.size.toDouble
      val js = ss.map(s => s -> jobsOf(s.id))
      val wall = ss.map(s => s.endMs - s.startMs).sum
      val covered = js.map { case (s, j) => jobCoveredMs(s, j) }.sum
      Map(
        "wall_s" -> wall / 1000.0 / n,
        "driver_s" -> (wall - covered) / 1000.0 / n,
        "task_cpu_s" -> js.flatMap(_._2).map(_.cpuNs).sum / 1e9 / n,
        "shuffle_mb" -> js.flatMap(_._2).map(_.shuffleBytes).sum / 1048576.0 / n,
        "jobs" -> js.map(_._2.size).sum / n)
    }
  }

  /** Engine totals over every traced span of the run. */
  def engineMetrics(cores: Int): Map[String, Double] = synchronized {
    val all = spans.toSeq
    val js = all.flatMap(s => jobsOf(s.id))
    val inSpan = qes.filter(q => all.exists(s => q.atMs >= s.startMs && q.atMs <= s.endMs))
    val wallMs = all.map(s => s.endMs - s.startMs).sum.toDouble
    Map(
      "spark.analysis_s" -> inSpan.map(_.analysisMs).sum / 1000.0,
      "spark.optimization_s" -> inSpan.map(_.optimizationMs).sum / 1000.0,
      "spark.planning_s" -> inSpan.map(_.planningMs).sum / 1000.0,
      "spark.gc_s" -> js.map(_.gcMs).sum / 1000.0,
      "spark.spill_mb" -> js.map(_.spillBytes).sum / 1048576.0,
      "spark.sched_wait_s" -> js.map(_.schedDelayMs).sum / 1000.0,
      "spark.core_idle_frac" ->
        (if (wallMs > 0) 1.0 - js.map(_.runMs).sum / (wallMs * cores) else 0.0),
      "spark.cache_peak_mb" -> cachePeakBytes / 1048576.0)
  }

  /** Time the tracer itself spent: span bookkeeping on the calling
    * thread plus every listener callback on the listener thread.
    */
  def overheadSeconds: Double = synchronized((spanNanos + listenerNanos) / 1e9)

  /** Spans as JSON lines: library calls, then their jobs as children. */
  def spanLines(): Seq[String] = synchronized {
    var next = spans.size
    spans.toSeq.flatMap { s =>
      val own = Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "op" -> s.opId, "start_ms" -> s.startMs, "end_ms" -> s.endMs)
      val children = jobsOf(s.id).map { j =>
        next += 1
        Json.obj("id" -> (next - 1), "name" -> j.callSite, "parent" -> s.id, "op" -> s.opId,
          "start_ms" -> j.startMs, "end_ms" -> j.endMs, "job" -> j.id, "tasks" -> j.tasks,
          "task_run_ms" -> j.runMs, "task_cpu_ms" -> j.cpuNs / 1000000,
          "shuffle_bytes" -> j.shuffleBytes, "spill_bytes" -> j.spillBytes)
      }
      own +: children
    }
  }
}
