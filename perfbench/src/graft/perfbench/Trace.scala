package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Order statistics over timing samples. */
object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** One span: a call into a layer, or one request/batch (the root). */
final case class Span(id: Int, parent: Int, req: Int, name: String,
                      t0: Long, t1: Long) {
  /** Layer = the name's prefix before the first dot ("Knn.knnJoinTable"). */
  def layer: String = name.takeWhile(_ != '.')

  def json: String =
    s"""{"id": $id, "parent": $parent, "request": $req, "name": "$name", "start_ns": $t0, "end_ns": $t1}"""
}

/**
 * In-memory span recorder. Spans are recorded only while `enabled`; when
 * disabled `span` runs its body and records nothing, so untraced runs pay
 * one branch per call. Spans stay in memory and are summarised when the
 * run ends. Single-threaded use: the benchmark's client is one thread.
 */
final class Tracer(var enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack: List[Int] = Nil
  private var req = -1

  private def record[T](name: String, isReq: Boolean)(body: => T): T = {
    if (!enabled) return body
    nextId += 1
    val id = nextId
    val parent = stack.headOption.getOrElse(-1)
    val savedReq = req
    if (isReq) req = id
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, parent, req, name, t0, System.nanoTime())
      stack = stack.tail
      req = savedReq
    }
  }

  /** A call into a layer, a child of the innermost open span. */
  def span[T](name: String)(body: => T): T = record(name, isReq = false)(body)

  /** One request or batch: a root span whose descendants share its id. */
  def request[T](name: String)(body: => T): T = record(name, isReq = true)(body)

  /** Self time per layer (ns): each span's duration minus the part of its
    * interval its child spans cover, summed by layer. */
  def selfTimeNs: Map[String, Long] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val kids = children.get(s.id).toSeq.flatten.map(c => (c.t0, c.t1))
        (s.t1 - s.t0) - Tracer.unionLength(kids, s.t0, s.t1)
      }.sum
    }
  }

  /** Share of [t0, t1] that no span covers. */
  def uncoveredShare(t0: Long, t1: Long): Double =
    if (t1 <= t0) 0.0
    else 1.0 - Tracer.unionLength(spans.map(s => (s.t0, s.t1)).toSeq, t0, t1)
      .toDouble / (t1 - t0)
}

object Tracer {
  /** Length of the union of intervals, clipped to [lo, hi]. */
  def unionLength(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) {
          if (curE > curS) total += curE - curS
          curS = a; curE = b
        } else if (b > curE) curE = b
      }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spark counters of one set of operations, averaged per operation. */
final case class SparkCounters(jobs: Double, stages: Double,
    tasks: Double, planMs: Double, schedWaitMs: Double, executorRunS: Double,
    executorCpuS: Double, gcS: Double, inputBytes: Double,
    shuffleWriteBytes: Double, spillBytes: Double, taskSkew: Double,
    taskFailures: Double, recordsRead: Double) {
  def metrics(codegenMs: Double): Seq[(String, Double, String)] = Seq(
    ("spark.plan_ms", planMs, "ms"), ("spark.codegen_ms", codegenMs, "ms"),
    ("spark.jobs", jobs, "count"), ("spark.stages", stages, "count"),
    ("spark.tasks", tasks, "count"), ("spark.sched_wait_ms", schedWaitMs, "ms"),
    ("spark.executor_run_s", executorRunS, "s"),
    ("spark.executor_cpu_s", executorCpuS, "s"), ("spark.gc_s", gcS, "s"),
    ("spark.input_bytes", inputBytes, "bytes"),
    ("spark.shuffle_write_bytes", shuffleWriteBytes, "bytes"),
    ("spark.spill_bytes", spillBytes, "bytes"),
    ("spark.task_skew", taskSkew, "ratio"),
    ("spark.task_failures", taskFailures, "count"))
}

/**
 * Spark's own counters, read through a SparkListener and a
 * QueryExecutionListener that the benchmark registers itself. Every record
 * keeps the engine's own timestamp, so events delivered late by the
 * listener bus are still attributed to the operation (a wall-clock
 * interval) during which they happened.
 */
final class SparkProbe extends SparkListener with QueryExecutionListener {

  final case class JobRec(id: Int, submitMs: Long, stageIds: Seq[Int])
  final case class StageRec(id: Int, tasks: Int, runMs: Long, cpuNs: Long,
      gcMs: Long, inBytes: Long, shufWrite: Long, spill: Long, recordsRead: Long)
  final case class TaskRec(stageId: Int, launchMs: Long, durMs: Long,
      failed: Boolean)
  final case class QeRec(endMs: Long, planMs: Long)

  private val jobs = ArrayBuffer.empty[JobRec]
  private val stages = ArrayBuffer.empty[StageRec]
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val qes = ArrayBuffer.empty[QeRec]

  /** Forget all records: job and stage ids restart with a new context. */
  def reset(): Unit = synchronized {
    jobs.clear(); stages.clear(); tasks.clear(); qes.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += JobRec(e.jobId, e.time, e.stageIds)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null)
      stages += StageRec(i.stageId, i.numTasks, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val ti = e.taskInfo
    tasks += TaskRec(e.stageId, ti.launchTime, ti.duration, !ti.successful)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    val planMs = Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
      QueryPlanningTracker.PLANNING).flatMap(ph.get).map(_.durationMs).sum
    val end = ph.get(QueryPlanningTracker.PLANNING).map(_.endTimeMs)
      .getOrElse(System.currentTimeMillis())
    synchronized { qes += QeRec(end, planMs) }
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Counters of everything that started inside the given wall-clock
    * intervals (ms), averaged over the intervals. */
  def counters(iv: Seq[(Long, Long)]): SparkCounters = synchronized {
    def inside(t: Long) = iv.exists { case (a, b) => t >= a && t <= b }
    val js = jobs.filter(j => inside(j.submitMs))
    val stageIds = js.flatMap(_.stageIds).toSet
    val ss = stages.filter(s => stageIds(s.id))
    val ts = tasks.filter(t => stageIds(t.stageId))
    val byStage = ts.groupBy(_.stageId)
    val waits = js.flatMap { j =>
      val launches = j.stageIds.flatMap(byStage.getOrElse(_, Nil)).map(_.launchMs)
      if (launches.isEmpty) None else Some((launches.min - j.submitMs).toDouble)
    }
    val skews = byStage.values.filter(_.size >= 2).map { st =>
      val d = st.map(_.durMs.toDouble).toSeq
      val med = Stats.median(d)
      if (med > 0) d.max / med else 1.0
    }
    val n = math.max(1, iv.size).toDouble
    SparkCounters(js.size / n, ss.size / n, ts.size / n,
      qes.filter(q => inside(q.endMs)).map(_.planMs).sum / n,
      if (waits.isEmpty) 0.0 else Stats.median(waits.toSeq),
      ss.map(_.runMs).sum / 1e3 / n, ss.map(_.cpuNs).sum / 1e9 / n,
      ss.map(_.gcMs).sum / 1e3 / n, ss.map(_.inBytes).sum / n,
      ss.map(_.shufWrite).sum / n, ss.map(_.spill).sum / n,
      if (skews.isEmpty) 1.0 else skews.max, ts.count(_.failed) / n,
      ss.map(_.recordsRead).sum / n)
  }
}

object SparkProbe extends AdaptiveSparkPlanHelper {
  /** (files the query's scans read, files their tables hold), from the
    * executed plan's scan metrics (walks adaptive query stages and
    * subqueries); a table scanned twice counts twice on both sides. */
  def filesRead(qe: QueryExecution): (Long, Long) = {
    val scans = collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
    (scans.map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum,
      scans.map(_.relation.location.inputFiles.length.toLong).sum)
  }
}
