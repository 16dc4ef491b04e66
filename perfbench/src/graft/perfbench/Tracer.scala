package graft.perfbench

import scala.collection.mutable

import org.apache.spark.{BenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanLike, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of the trace: a layer boundary inside one query execution.
  * Spans of one execution share `trace`; `parent` is 0 for the root. */
final case class Span(trace: String, id: Int, parent: Int, name: String,
                      layer: String, startMs: Double, endMs: Double) {
  def toMap: Map[String, Any] = Map("trace" -> trace, "id" -> id,
    "parent" -> parent, "name" -> name, "layer" -> layer,
    "start_ms" -> startMs, "end_ms" -> endMs)
}

/** Listener-based tracer for the traced run. Attached only while a traced
  * pass runs, so untraced passes pay nothing; the spans and per-layer
  * counters of each query execution are kept in memory and written out by
  * [[Main]] when the run ends.
  *
  * One query runs at a time, so every event between [[begin]] and
  * [[finish]] belongs to the current execution; [[finish]] drains the
  * listener bus before reading. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  import Tracer._

  private val jobs = mutable.ArrayBuffer[Job]()
  private val stages = mutable.ArrayBuffer[Stage]()
  private val qes = mutable.ArrayBuffer[QueryExecution]()
  private val sums = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  // Drain before taking the lock: the bus thread needs it to deliver.
  def begin(): Unit = {
    BenchBus.drain(spark.sparkContext)
    synchronized { jobs.clear(); stages.clear(); qes.clear(); sums.clear() }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      stages += Stage(i.stageId, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    sums("sched.tasks") += 1
    if (e.reason != Success) sums("exec.failed_tasks") += 1
    Option(e.taskMetrics).foreach { m =>
      sums("exec.run_s") += m.executorRunTime / 1e3
      sums("exec.cpu_s") += m.executorCpuTime / 1e9
      sums("exec.gc_s") += m.jvmGCTime / 1e3
      sums("exec.deser_s") += m.executorDeserializeTime / 1e3
      sums("scan.input_mb") += m.inputMetrics.bytesRead / 1e6
      sums("scan.input_rows") += m.inputMetrics.recordsRead.toDouble
      sums("shuffle.write_mb") += m.shuffleWriteMetrics.bytesWritten / 1e6
      sums("shuffle.records") += m.shuffleWriteMetrics.recordsWritten.toDouble
      sums("shuffle.write_s") += m.shuffleWriteMetrics.writeTime / 1e9
      sums("shuffle.read_mb") += m.shuffleReadMetrics.totalBytesRead / 1e6
      sums("shuffle.fetch_wait_s") += m.shuffleReadMetrics.fetchWaitTime / 1e3
      sums("shuffle.spill_mb") += m.diskBytesSpilled / 1e6
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = synchronized { qes += qe }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  /** Per-layer counters and spans of the execution that just ended.
    * `df` is the DataFrame the query function returned; the builder ran
    * over [t0, t1] and the action over [t1, t2] (epoch ms). */
  def finish(trace: String, df: Option[DataFrame],
             t0: Long, t1: Long, t2: Long)
      : (Map[String, Double], Seq[Span]) = {
    BenchBus.drain(spark.sparkContext)
    synchronized {
      val spans = mutable.ArrayBuffer[Span]()
      def span(parent: Int, name: String, layer: String,
               s: Long, e: Long): Int = {
        val id = spans.size + 1
        spans += Span(trace, id, parent, name, layer, s.toDouble, e.toDouble)
        id
      }
      val root = span(0, "query", "query", t0, t2)
      val builder = span(root, "builder", "builder", t0, t1)
      val action = span(root, "action", "action", t1, t2)

      val m = mutable.LinkedHashMap[String, Double]() ++ sums
      // Catalyst phases: the returned DataFrame's own analysis (eager, in
      // the builder) plus the action's analysis/optimization/planning.
      val actionQe = qes.lastOption
      val trackers = (df.map(_.queryExecution.tracker).toSeq ++
        actionQe.map(_.tracker)).distinct
      for (t <- trackers; (phase, p) <- t.phases) {
        m(s"catalyst.${phase}_s") =
          m.getOrElse(s"catalyst.${phase}_s", 0.0) + p.durationMs / 1e3
        span(if (p.startTimeMs < t1) builder else action,
          s"catalyst.$phase", "catalyst", p.startTimeMs, p.endTimeMs)
      }

      val stageById = stages.map(s => s.id -> s).toMap
      val jobSpans = jobs.map(j => (j, j.start, if (j.end < 0) t2 else j.end))
      jobSpans.foreach { case (j, start, end) =>
        val jid = span(if (start < t1) builder else action,
          s"job ${j.id}", "sched", start, end)
        j.stageIds.flatMap(stageById.get).foreach { s =>
          span(jid, s"stage ${s.id}", "exec", s.start, s.end)
        }
      }
      m("builder.jobs") = jobs.count(_.start < t1).toDouble
      m("sched.jobs") = jobs.size.toDouble
      m("sched.stages") = stages.size.toDouble
      m("sched.stage_wall_sum_s") =
        stages.map(s => (s.end - s.start) max 0L).sum / 1e3
      // Self time of the query span with respect to its job spans: wall
      // time during which no job was running.
      m("sched.driver_gap_s") = ((t2 - t0) -
        covered(jobSpans.map { case (_, s, e) => (s, e) }.toSeq, t0, t2)) / 1e3

      actionQe.foreach { qe => m ++= planCounts(qe.executedPlan) }
      (m.toMap, spans.toSeq)
    }
  }

  /** Exact counts read from the action's final (post-AQE) physical plan. */
  private def planCounts(plan: SparkPlan): Map[String, Double] = {
    def count(pf: PartialFunction[SparkPlan, Boolean]): Double =
      collectWithSubqueries(plan) { case p if pf.isDefinedAt(p) && pf(p) => 1 }
        .size.toDouble
    val files = collectWithSubqueries(plan) {
      case s: FileSourceScanLike => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
    Map(
      "scan.files" -> files.toDouble,
      "aqe.exchanges" -> count { case _: ShuffleExchangeLike => true },
      "aqe.reused_exchanges" -> count { case _: ReusedExchangeExec => true },
      "aqe.coalesced_reads" -> count { case r: AQEShuffleReadExec => r.hasCoalescedPartition },
      "aqe.skew_splits" -> count { case r: AQEShuffleReadExec => r.hasSkewedPartition },
      "aqe.broadcast_joins" -> count {
        case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec => true
      })
  }

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  private def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    intervals.map { case (s, e) => (s max lo, e min hi) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { total += e - (s max reach); reach = e }
      }
    total
  }
}

object Tracer {
  private final case class Job(id: Int, start: Long, stageIds: Seq[Int],
                               var end: Long = -1L)
  private final case class Stage(id: Int, start: Long, end: Long)
}
