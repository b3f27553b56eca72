package perfbench

import scala.collection.mutable

import org.apache.spark.TaskEndReason
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import Runner.{OpRecord, Span, median}

/** Records Spark's scheduler, task, query and streaming events, each
  * attributed to the benchmark op that caused it. Jobs and stages carry the
  * op id as a local property (inherited by streaming threads); query
  * executions and micro-batches are attributed by their start time.
  */
final class Listener(spans: mutable.ArrayBuffer[Span]) extends SparkListener {
  import Listener._

  @volatile var attached = false
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  val fenceJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  val fenceQueries = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private val jobs = mutable.Map.empty[Int, Job]
  private val stages = mutable.Map.empty[Int, Stage]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val queries = mutable.ArrayBuffer.empty[Query]
  private val batches = mutable.ArrayBuffer.empty[Batch]

  private def opOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("perfbench.op"))).orNull

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = opOf(e.properties)
    if (op != null && op.startsWith("perfbench_fence_")) fenceJobs.add(op)
    else if (op != null) {
      jobs(e.jobId) = Job(op, e.time, -1L)
      e.stageIds.foreach(stageJob.getOrElseUpdate(_, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val op = opOf(e.properties)
    if (op != null && !op.startsWith("perfbench_fence_"))
      stages(e.stageInfo.stageId) =
        Stage(op, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()), -1L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { s =>
      stages(e.stageInfo.stageId) = s.copy(endMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      val m = Option(e.taskMetrics)
      val i = e.taskInfo
      tasks += Task(
        op = s.op,
        stage = e.stageId,
        shuffleMap = e.taskType == "ShuffleMapTask",
        waitMs = math.max(0L, i.launchTime - s.submitMs),
        durMs = i.duration,
        cpuNs = m.map(_.executorCpuTime).getOrElse(0L),
        inBytes = m.map(_.inputMetrics.bytesRead).getOrElse(0L),
        inRows = m.map(_.inputMetrics.recordsRead).getOrElse(0L),
        shWBytes = m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        shWRecords = m.map(_.shuffleWriteMetrics.recordsWritten).getOrElse(0L),
        shRBytes = m.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
        spillBytes = m.map(_.diskBytesSpilled).getOrElse(0L),
        failed = !succeeded(e.reason)
      )
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent => synchronized {
        val pr = p.progress
        batches += Batch(
          java.time.Instant.parse(pr.timestamp).toEpochMilli,
          pr.runId.toString,
          pr.batchDuration,
          pr.stateOperators.length
        )
      }
    case _ =>
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val logical = qe.logical.toString
    val i = logical.indexOf("perfbench_fence_")
    if (i >= 0) fenceQueries.add(logical.substring(i).takeWhile(c => c.isLetterOrDigit || c == '_'))
    else {
      val phases = qe.tracker.phases
      def ms(name: String): Long = phases.get(name).map(_.durationMs).getOrElse(0L)
      val start = phases.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
      val census = mutable.Map.empty[String, Int].withDefaultValue(0)
      walk(qe.executedPlan) { p =>
        CensusKinds.get(p.getClass.getSimpleName).foreach(k => census(k) += 1)
      }
      synchronized {
        queries += Query(start, ms("analysis"), ms("optimization"), ms("planning"), census.toMap)
      }
    }
  }

  // ---------------------------------------------------------------------

  /** Writes every per-layer metric for the listener-on timed passes into
    * `m`. Counts that must repeat exactly come from the first of those
    * passes; times are per-pass means.
    */
  def summarise(m: java.util.Map[String, Any], passes: Set[String], first: String, cores: Int,
                modules: Seq[String]): Unit = synchronized {
    def passOf(opId: String): String = opId.takeWhile(_ != '/')
    val n = passes.size.toDouble
    val timedOps = ops.filter(o => passes(passOf(o.id))).toSeq
    val firstOps = timedOps.filter(o => passOf(o.id) == first)
    val opIds = timedOps.map(_.id).toSet
    val firstIds = firstOps.map(_.id).toSet
    val mrIds = timedOps.filter(_.module == "engine").map(_.id).toSet

    val tJobs = jobs.filter { case (_, j) => opIds(j.op) }
    val tStages = stages.filter { case (_, s) => opIds(s.op) && s.endMs >= 0 }
    val tTasks = tasks.filter(t => opIds(t.op)).toSeq
    def inOp(ts: Long): Option[OpRecord] = timedOps.find(o => ts >= o.startMs && ts <= o.endMs)
    val tQueries = queries.toSeq.flatMap(q => inOp(q.startMs).map(o => o.id -> q))
    val tBatches = batches.toSeq.flatMap(b => inOp(b.startMs).map(o => o.id -> b))

    m.put("query.builder_s", timedOps.map(_.builderS).sum / n)
    m.put("query.action_s", timedOps.filter(_.module != "engine").map(_.actionS).sum / n)
    m.put("catalyst.analysis_s", tQueries.map(_._2.analysisMs).sum / 1e3 / n)
    m.put("catalyst.optimization_s", tQueries.map(_._2.optimizationMs).sum / 1e3 / n)
    m.put("catalyst.planning_s", tQueries.map(_._2.planningMs).sum / 1e3 / n)

    m.put("spark.jobs", tJobs.count { case (_, j) => firstIds(j.op) })
    m.put("spark.stages", tStages.count { case (_, s) => firstIds(s.op) })
    m.put("spark.tasks", tTasks.count(t => firstIds(t.op)))
    val gaps = timedOps.map { o =>
      val ivs = tJobs.values.filter(_.op == o.id)
        .map(j => (math.max(j.startMs, o.startMs), math.min(if (j.endMs < 0) o.endMs else j.endMs, o.endMs)))
      (o.endMs - o.startMs - unionMs(ivs.toSeq)) / 1e3
    }
    m.put("spark.job_gap_s", gaps.sum / n)
    m.put("spark.sched_delay_s", tTasks.map(_.waitMs).sum / 1e3 / n)
    val taskS = tTasks.map(_.durMs).sum / 1e3
    m.put("spark.task_s", taskS / n)
    m.put("spark.executor_cpu_s", tTasks.map(_.cpuNs).sum / 1e9 / n)
    m.put("spark.slot_util", taskS / (cores * timedOps.map(_.wallS).sum))
    m.put("spark.task_skew", perPass(passes, p => skew(tTasks.filter(t => passOf(t.op) == p))))
    m.put("spark.failed_tasks", tTasks.count(_.failed))
    m.put("spark.input_mb", tTasks.map(_.inBytes).sum / 1e6 / n)
    m.put("spark.input_rows", tTasks.map(_.inRows).sum / n)
    m.put("spark.shuffle_write_mb", tTasks.map(_.shWBytes).sum / 1e6 / n)
    m.put("spark.shuffle_read_mb", tTasks.map(_.shRBytes).sum / 1e6 / n)
    m.put("spark.spill_mb", tTasks.map(_.spillBytes).sum / 1e6 / n)
    val mapStages = tTasks.filter(_.shuffleMap).map(_.stage).toSet
    def stageS(keep: ((Int, Stage)) => Boolean): Double =
      tStages.filter(keep).values.map(s => s.endMs - s.submitMs).sum / 1e3 / n
    m.put("spark.map_stage_s", stageS { case (id, _) => mapStages(id) })
    m.put("spark.result_stage_s", stageS { case (id, _) => !mapStages(id) })

    val census = mutable.Map.empty[String, Int].withDefaultValue(0)
    tQueries.filter { case (id, _) => firstIds(id) }.foreach { case (_, q) =>
      q.census.foreach { case (k, v) => census(k) += v }
    }
    val stateful = tBatches.filter { case (id, _) => firstIds(id) }
      .groupBy(_._2.runId).values.map(_.map(_._2.stateOps).max).sum
    CensusKinds.values.toSeq.distinct.sorted.foreach(k => m.put(s"plan.$k", census(k)))
    m.put("plan.stateful", stateful)

    m.put("streaming.batches", tBatches.count { case (id, _) => firstIds(id) })
    m.put("streaming.batch_s", tBatches.map(_._2.durMs).sum / 1e3 / n)

    val mrStages = tStages.filter { case (_, s) => mrIds(s.op) }
    m.put("engine.map_stage_s", stageS { case (id, s) => mrIds(s.op) && mapStages(id) })
    m.put("engine.reduce_stage_s", stageS { case (id, s) => mrIds(s.op) && !mapStages(id) })
    m.put("engine.records_shuffled",
      tTasks.filter(t => mrIds(t.op) && firstIds(t.op)).map(_.shWRecords).sum)
    val mrFirstJobs = tJobs.count { case (_, j) => mrIds(j.op) && firstIds(j.op) }
    m.put("engine.stages_per_job",
      if (mrFirstJobs == 0) 0.0
      else mrStages.count { case (_, s) => firstIds(s.op) }.toDouble / mrFirstJobs)
    m.put("engine.sink_s", timedOps.filter(o => mrIds(o.id)).map { o =>
      val lastEnd = tJobs.values.filter(_.op == o.id).map(_.endMs).maxOption.getOrElse(o.endMs)
      (o.endMs - lastEnd) / 1e3
    }.sum / n)
    m.put("engine.reduce_skew", perPass(passes, p =>
      skew(tTasks.filter(t => mrIds(t.op) && passOf(t.op) == p && !t.shuffleMap))))

    (modules :+ "engine").distinct.foreach { mod =>
      m.put(s"$mod.op_s", timedOps.filter(_.module == mod).map(_.wallS).sum / n)
    }

    // spans below the op: Spark jobs and their stages
    val opSpan = spans.filter(_.name == "op").map(s => s.op -> s.id).toMap
    val callSpans = spans.filter(s => s.name != "op" && s.op.nonEmpty).groupBy(_.op)
    def parentOf(j: Job): Int =
      callSpans.getOrElse(j.op, Nil).find(c => j.startMs >= c.startMs && j.startMs <= c.endMs)
        .map(_.id).getOrElse(opSpan.getOrElse(j.op, 0))
    var next = spans.map(_.id).maxOption.getOrElse(0)
    val jobSpan = mutable.Map.empty[Int, Int]
    tJobs.toSeq.sortBy(_._1).foreach { case (jid, j) =>
      next += 1
      spans += Span(next, parentOf(j), "spark.job", j.op, j.startMs, j.endMs)
      jobSpan(jid) = next
    }
    tStages.toSeq.sortBy(_._1).foreach { case (id, s) =>
      next += 1
      val kind = if (mapStages(id)) "spark.stage.map" else "spark.stage.result"
      spans += Span(next, stageJob.get(id).flatMap(jobSpan.get).getOrElse(opSpan.getOrElse(s.op, 0)), kind, s.op, s.submitMs, s.endMs)
    }
  }

  private def perPass(passes: Set[String], f: String => Double): Double = median(passes.toSeq.map(f))

  /** Max over stages with at least two tasks of max / median task time. */
  private def skew(ts: Seq[Task]): Double =
    ts.groupBy(_.stage).values.filter(_.size >= 2).map { st =>
      val d = st.map(_.durMs.toDouble)
      val med = median(d)
      if (med <= 0) 1.0 else d.max / med
    }.maxOption.getOrElse(1.0)
}

object Listener {
  final case class Job(op: String, startMs: Long, endMs: Long)
  final case class Stage(op: String, submitMs: Long, endMs: Long)
  final case class Task(op: String, stage: Int, shuffleMap: Boolean, waitMs: Long, durMs: Long, cpuNs: Long,
                        inBytes: Long, inRows: Long, shWBytes: Long, shWRecords: Long, shRBytes: Long,
                        spillBytes: Long, failed: Boolean)
  final case class Query(startMs: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long,
                         census: Map[String, Int])
  final case class Batch(startMs: Long, runId: String, durMs: Long, stateOps: Int)

  val CensusKinds: Map[String, String] = Map(
    "ShuffleExchangeExec" -> "exchanges",
    "BroadcastExchangeExec" -> "exchanges",
    "SortExec" -> "sorts",
    "SortAggregateExec" -> "sort_aggs",
    "HashAggregateExec" -> "hash_aggs",
    "ObjectHashAggregateExec" -> "hash_aggs",
    "GenerateExec" -> "generates",
    "BroadcastHashJoinExec" -> "broadcast_joins",
    "BroadcastNestedLoopJoinExec" -> "broadcast_joins",
    "SortMergeJoinExec" -> "sort_merge_joins",
    "FileSourceScanExec" -> "file_scans",
    "BatchScanExec" -> "file_scans"
  )

  private def succeeded(r: TaskEndReason): Boolean = r == org.apache.spark.Success

  /** Visits an executed plan, following adaptive re-plans, query stages,
    * command wrappers and subqueries; a reused exchange is not revisited.
    */
  def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
      case q: QueryStageExec        => walk(q.plan)(f)
      case c: CommandResultExec     => walk(c.commandPhysicalPlan)(f)
      case _: ReusedExchangeExec    =>
      case _ =>
        f(p)
        p.children.foreach(walk(_)(f))
    }
    p.subqueries.foreach(walk(_)(f))
  }

  /** Length of the union of [start, end] intervals, in ms. */
  def unionMs(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
