package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced operation: its span and the child spans the benchmark
  * opened inside it, all in epoch milliseconds.
  */
final case class OpSpan(id: String, startMs: Double, endMs: Double,
                        children: Seq[(String, Double, Double)])

/** Spans and counters for the traced run. Everything is recorded from
  * listeners the benchmark installs on a stock session: Spark jobs and
  * stages (tied to an operation through its job group; jobs filed under
  * another group, such as a streaming query's run id, go to the
  * operation in progress), plan
  * phases from a QueryExecutionListener and micro-batch progress from a
  * StreamingQueryListener. Events stay in memory; after each operation
  * `attributeRegistry` / `attributeStream` split its latency into layer
  * self-times and keep its span, with job, plan and trigger children.
  */
final class Trace(spark: SparkSession, workload: String) {
  import Trace._

  @volatile var currentOp: String = ""

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobEnd = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stages = new ConcurrentHashMap[Int, StageRec]()
  private val plans = new ConcurrentLinkedQueue[PlanRec]()
  private val progress = new ConcurrentLinkedQueue[ProgressRec]()
  val spans = new ConcurrentLinkedQueue[OpSpan]()

  /** The benchmark's own operation ids start with `<workload>:`; a
    * streaming query sets its run id as the job group on its own thread.
    */
  private def opOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(OpProperty)))
      .filter(_.startsWith(s"$workload:"))
      .getOrElse(currentOp)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.add(JobRec(e.jobId, opOf(e.properties), e.time))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnd.put(e.jobId, e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val s = stages.computeIfAbsent(e.stageInfo.stageId, _ => new StageRec)
      s.op = opOf(e.properties)
      s.submittedMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stages.computeIfAbsent(e.stageId, _ => new StageRec)
      s.synchronized {
        s.tasks += 1
        if (e.taskInfo.failed) s.failed += 1
        val m = e.taskMetrics
        if (m != null) {
          s.runMs += m.executorRunTime
          s.overheadMs += math.max(0L, e.taskInfo.duration - m.executorRunTime)
          s.gcMs += m.jvmGCTime
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.diskBytesSpilled
        }
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def phase(n: String): (Long, Long) =
        ph.get(n).map(p => (p.startTimeMs, p.endTimeMs)).getOrElse((0L, 0L))
      val plan = try qe.executedPlan.toString catch { case _: Throwable => "" }
      plans.add(PlanRec(currentOp, phase("analysis"), phase("optimization"),
        phase("planning"),
        count(plan, "Exchange SinglePartition"),
        count(plan, "BroadcastNestedLoopJoin") + count(plan, "CartesianProduct")))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val st = p.stateOperators
      progress.add(ProgressRec(p.id.toString,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        d("triggerExecution"), d("addBatch"), d("queryPlanning"),
        d("walCommit") + d("commitOffsets"),
        st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum,
        st.map(_.numRowsDroppedByWatermark).sum, p.numInputRows))
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    drain()
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(planListener)
    spark.sparkContext.removeSparkListener(jobListener)
  }

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** Self-time per layer of a registry operation. The builder call (the
    * `entry` child span) is the entry layer, with its jobs counted as
    * builder jobs. Inside the write span, time under a Spark job is exec,
    * time under a plan phase is plan, and the rest is unattributed, so the
    * layers sum to the measured latency.
    */
  def attributeRegistry(op: OpSpan): Map[String, Double] = {
    drain()
    val (es, ee) = op.children.collectFirst { case ("entry", a, b) => (a, b) }
      .getOrElse((op.startMs, op.startMs))
    val buildJobs = jobs.asScala.filter(j => j.op == op.id && j.startMs < ee).size
    val (execIv, planIv, counters) = afterMark(op, ee)
    val self = selfTimes(op.startMs, op.endMs,
      Seq("entry" -> Seq((es, ee)), "exec" -> execIv, "plan" -> planIv))
    keep(op, Seq("job" -> execIv, "plan" -> planIv))
    self.map { case (k, v) => s"self.$k" -> v / 1e3 } ++ counters ++ Map(
      "entry.build_s" -> (ee - es) / 1e3,
      "entry.build_jobs" -> buildJobs.toDouble)
  }

  /** Self-time per layer of a stream operation: landing the batch, then
    * the rollup query's triggers (streaming) and the lake query's
    * triggers (sources), which run concurrently; an instant covered by
    * both counts once, for streaming.
    */
  def attributeStream(op: OpSpan, rollupId: String, lakeId: String): Map[String, Double] = {
    drain()
    val inOp = progress.asScala.filter(p => p.startMs >= op.startMs - 1 && p.startMs <= op.endMs).toSeq
    val rollup = inOp.filter(_.queryId == rollupId)
    val lake = inOp.filter(_.queryId == lakeId)
    def iv(ps: Seq[ProgressRec]) = ps.map(p => (p.startMs.toDouble, (p.startMs + p.triggerMs).toDouble))
    val self = selfTimes(op.startMs, op.endMs, Seq(
      "land" -> op.children.collect { case ("land", a, b) => (a, b) },
      "streaming" -> iv(rollup),
      "sources" -> iv(lake)))
    val (jobIv, _, counters) = afterMark(op, op.startMs)
    keep(op, Seq("job" -> jobIv, "rollup_trigger" -> iv(rollup), "lake_trigger" -> iv(lake)))
    val last = rollup.lastOption
    self.map { case (k, v) => s"self.$k" -> v / 1e3 } ++ counters ++ Map(
      "streaming.trigger_ms" -> rollup.map(_.triggerMs).sum.toDouble,
      "streaming.add_batch_ms" -> rollup.map(_.addBatchMs).sum.toDouble,
      "streaming.planning_ms" -> rollup.map(_.planningMs).sum.toDouble,
      "streaming.commit_ms" -> rollup.map(_.commitMs).sum.toDouble,
      "streaming.state_rows" -> last.map(_.stateRows.toDouble).getOrElse(0.0),
      "streaming.state_mem_mb" -> last.map(_.stateMemBytes / 1e6).getOrElse(0.0),
      "streaming.late_rows_dropped" -> rollup.map(_.dropped).sum.toDouble,
      "sources.lake_add_batch_ms" -> lake.map(_.addBatchMs).sum.toDouble)
  }

  private def keep(op: OpSpan, kids: Seq[(String, Seq[(Double, Double)])]): Unit =
    spans.add(op.copy(children = op.children ++ kids.flatMap { case (k, iv) =>
      iv.map { case (a, b) => (k, a, b) } }))

  /** Jobs, stages and plans of an operation that started at or after
    * `mark`: their intervals, and the exec and plan counters.
    */
  private def afterMark(op: OpSpan, mark: Double)
      : (Seq[(Double, Double)], Seq[(Double, Double)], Map[String, Double]) = {
    val opJobs = jobs.asScala.filter(j => j.op == op.id && j.startMs >= mark).toSeq
    val jobIv = opJobs.map(j =>
      (j.startMs.toDouble, Option(jobEnd.get(j.jobId)).map(_.toDouble).getOrElse(op.endMs)))
    val opStages = stages.asScala.values
      .filter(s => s.op == op.id && s.tasks > 0 && s.submittedMs >= mark).toSeq
    val opPlans = plans.asScala.filter(p => p.op == op.id && p.startMs >= mark).toSeq
    val planIv = opPlans.flatMap(p => Seq(p.analysis, p.optimization, p.planning))
      .filter(_._2 > 0).map { case (a, b) => (a.toDouble, b.toDouble) }
    def ms(f: PlanRec => (Long, Long)) = opPlans.map { p => val (a, b) = f(p); (b - a).toDouble }.sum
    (jobIv, planIv, Map(
      "plan.analysis_ms" -> ms(_.analysis),
      "plan.optimize_ms" -> ms(_.optimization),
      "plan.planning_ms" -> ms(_.planning),
      "plan.hazard_single_partition" -> opPlans.map(_.singlePartition).sum.toDouble,
      "plan.hazard_nested_loop" -> opPlans.map(_.nestedLoop).sum.toDouble,
      "exec.s" -> union(jobIv, op.startMs, op.endMs) / 1e3,
      "exec.jobs" -> opJobs.size.toDouble,
      "exec.stages" -> opStages.size.toDouble,
      "exec.tasks" -> opStages.map(_.tasks).sum.toDouble,
      "exec.task_overhead_s" -> opStages.map(_.overheadMs).sum / 1e3,
      "exec.task_s" -> opStages.map(_.runMs).sum / 1e3,
      "exec.gc_s" -> opStages.map(_.gcMs).sum / 1e3,
      "exec.shuffle_read_mb" -> opStages.map(_.shuffleRead).sum / 1e6,
      "exec.shuffle_write_mb" -> opStages.map(_.shuffleWrite).sum / 1e6,
      "exec.spill_mb" -> opStages.map(_.spill).sum / 1e6,
      "exec.failed_tasks" -> opStages.map(_.failed).sum.toDouble))
  }
}

object Trace {
  /** Local property Spark sets from `setJobGroup`: the operation's id. */
  val OpProperty = "spark.jobGroup.id"

  final case class JobRec(jobId: Int, op: String, startMs: Long)
  final class StageRec {
    @volatile var op = ""
    @volatile var submittedMs = 0L
    var tasks, failed = 0
    var runMs, overheadMs, gcMs, shuffleRead, shuffleWrite, spill = 0L
  }
  final case class PlanRec(op: String, analysis: (Long, Long), optimization: (Long, Long),
                           planning: (Long, Long), singlePartition: Int, nestedLoop: Int) {
    /** Start of the first phase that ran (0 if none was tracked). */
    def startMs: Long = Seq(analysis, optimization, planning).map(_._1).find(_ > 0).getOrElse(0L)
  }
  final case class ProgressRec(queryId: String, startMs: Long, triggerMs: Long,
                               addBatchMs: Long, planningMs: Long, commitMs: Long,
                               stateRows: Long, stateMemBytes: Long, dropped: Long,
                               inputRows: Long)

  def count(s: String, sub: String): Int =
    if (sub.isEmpty) 0 else s.sliding(sub.length).count(_ == sub)

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def union(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total, curA, curB = 0.0
    var open = false
    c.foreach { case (a, b) =>
      if (!open) { curA = a; curB = b; open = true }
      else if (a > curB) { total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (open) total + curB - curA else total
  }

  /** Splits [lo, hi] among layers: each instant goes to the first layer
    * (in the given order) with an interval covering it, else to
    * `unattributed`. The values sum to hi - lo.
    */
  def selfTimes(lo: Double, hi: Double,
                layers: Seq[(String, Seq[(Double, Double)])]): Map[String, Double] = {
    val cuts = (Seq(lo, hi) ++ layers.flatMap(_._2.flatMap { case (a, b) => Seq(a, b) }))
      .filter(t => t >= lo && t <= hi).distinct.sorted
    val acc = mutable.LinkedHashMap[String, Double]()
    layers.foreach { case (n, _) => acc(n) = 0.0 }
    acc("unattributed") = 0.0
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val mid = (a + b) / 2
      val owner = layers.collectFirst {
        case (n, iv) if iv.exists { case (x, y) => x <= mid && mid < y } => n
      }.getOrElse("unattributed")
      acc(owner) += b - a
    }
    acc.toMap
  }
}
