package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftListenerShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** `tracktime(f)` diagnostics (reference `src/diagnostics.jl:84-98`): run a
  * block and report where the time went. The reference swaps in a logging
  * Dagger context and aggregates per-(proc, event-type) timings + GC deltas;
  * the Spark-native sources for exactly those numbers are the listener
  * APIs — `QueryExecutionListener` for per-action wall time (the
  * reference's per-`compute` events) and `SparkListener.onTaskEnd` task
  * metrics for executor run/GC time, shuffle bytes, and spill (the
  * per-proc breakdown; Spark pre-aggregates GC per task the way the
  * reference folds `gc_diff`s). Listeners see every job the block runs,
  * across all executors — this is the cluster-wide view, not a driver
  * stopwatch. For interactive deep dives the Spark UI holds the same
  * events; `tracktime` is the programmatic summary of them. */
object Diagnostics {

  /** One driver-side action (collect/count/write) with its wall time. */
  final case class ActionTiming(funcName: String, durationMs: Double)

  /** Executor-side totals over the tracked block (reference per-proc
    * aggregation, `src/diagnostics.jl:38-48`). `maxTaskMs` is the skew
    * tell: wall-clock ≈ maxTaskMs means ONE task serialized the stage
    * (the round-9 rangeJoin hot-bucket diagnosis rested on exactly this
    * — 64 tasks, max task ≈ wall), while totals alone can't distinguish
    * a balanced busy stage from one straggler. */
  final case class TaskTotals(tasks: Long, executorRunTimeMs: Long,
                              jvmGcTimeMs: Long, shuffleReadBytes: Long,
                              shuffleWriteBytes: Long, spilledBytes: Long,
                              maxTaskMs: Long = 0L)

  final case class Timings(actions: Seq[ActionTiming], tasks: TaskTotals,
                           /** false iff the listener-bus drain timed out:
                             * totals may miss late events, but the block's
                             * RESULT is intact either way. */
                           complete: Boolean = true) {
    /** `show_timings` analog — a compact human-readable breakdown. */
    def summary: String = {
      val acts = actions.map(a => f"  ${a.funcName}%-12s ${a.durationMs}%10.1f ms").mkString("\n")
      s"""actions:
         |$acts
         |tasks: ${tasks.tasks}, executor run ${tasks.executorRunTimeMs} ms """.stripMargin +
        s"(max task ${tasks.maxTaskMs} ms), gc ${tasks.jvmGcTimeMs} ms, " +
        s"shuffle r/w ${tasks.shuffleReadBytes}/" +
        s"${tasks.shuffleWriteBytes} B, spilled ${tasks.spilledBytes} B"
    }
  }

  /** One parquet/file scan in a plan: what actually reaches storage. At
    * 100 TB these two fields ARE the query cost — a scan whose
    * `pushedFilters` is empty reads every row group, and a `readSchema`
    * wider than the projection reads every column. */
  final case class ScanInfo(relation: String, readSchema: String,
                            pushedFilters: String)

  /** Static plan facts for a query — the numbers a user checks before
    * running anything big (the plan-inspection loop README documents).
    * Counts come from the physical plan as planned NOW: under AQE the
    * runtime may still replace sort-merge joins with broadcast joins or
    * coalesce partitions, so treat join/exchange counts as the
    * pessimistic bound AQE improves on. */
  final case class PlanSummary(scans: Seq[ScanInfo], exchanges: Int,
                               broadcastExchanges: Int, reusedExchanges: Int,
                               codegenSpans: Int, joins: Map[String, Int],
                               formatted: String) {
    /** One paragraph a human reads: shuffles, broadcasts, scan pushdown. */
    def summary: String = {
      val scanLines = scans.map(s =>
        s"  scan ${s.relation}\n    read: ${s.readSchema}\n    pushed: ${s.pushedFilters}")
        .mkString("\n")
      val joinLine =
        if (joins.isEmpty) "none"
        else joins.toSeq.sortBy(_._1).map { case (k, v) => s"$k×$v" }.mkString(", ")
      s"exchanges: $exchanges shuffle + $broadcastExchanges broadcast" +
        s" (+$reusedExchanges reused), codegen spans: $codegenSpans," +
        s" joins: $joinLine\n$scanLines"
    }
  }

  /** `analyze(df)` — the plan half of the diagnostics story ([[tracktime]]
    * is the runtime half): summarize the physical plan Spark chose for a
    * frame WITHOUT executing it. Use it the way the reference's docs use
    * plan printing: confirm a filter reached the parquet scan, count the
    * shuffles an operator pays, and check a dimension join broadcast
    * before paying for a full run. */
  def analyze(df: org.apache.spark.sql.DataFrame): PlanSummary = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    val exec = df.queryExecution.executedPlan
    // walk through the wrappers plan.collect stops at: the AQE root is a
    // leaf node hiding the real plan, query stages hide their subtree,
    // and subquery expressions hold whole side-plans
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val below = p match {
        case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
        case q: QueryStageExec => flatten(q.plan)
        case _ => p.children.flatMap(flatten)
      }
      p +: (below ++ p.subqueries.flatMap(flatten))
    }
    val nodes = flatten(exec)
    val scans = nodes.collect { case s: FileSourceScanExec =>
      ScanInfo(s.relation.location.rootPaths.mkString(","),
        s.requiredSchema.map(_.name).mkString(", "),
        s.metadata.getOrElse("PushedFilters", "[]"))
    }
    val joins = nodes.collect {
      case _: SortMergeJoinExec => "sort_merge"
      case _: BroadcastHashJoinExec => "broadcast_hash"
      case _: ShuffledHashJoinExec => "shuffled_hash"
      case _: BroadcastNestedLoopJoinExec => "broadcast_nested_loop"
    }.groupBy(identity).map { case (k, v) => (k, v.size) }
    PlanSummary(
      scans,
      nodes.count(_.isInstanceOf[ShuffleExchangeExec]),
      nodes.count(_.isInstanceOf[BroadcastExchangeExec]),
      nodes.count(_.isInstanceOf[ReusedExchangeExec]),
      nodes.count(_.isInstanceOf[WholeStageCodegenExec]),
      joins,
      exec.toString)
  }

  /** Track the Spark work done by `f`: returns (result, timings). Nesting
    * note: listeners are session/context-global, so concurrent queries on
    * the same session during the block are included in the totals (the
    * reference's context swap has the same property — it logs everything
    * the scheduler runs while tracking is on). */
  def tracktime[T](spark: SparkSession)(f: => T): (T, Timings) = {
    val actions = new ConcurrentLinkedQueue[ActionTiming]()
    val tasks = new LongAdder; val runTime = new LongAdder; val gcTime = new LongAdder
    val shRead = new LongAdder; val shWrite = new LongAdder; val spilled = new LongAdder
    val maxTask = new java.util.concurrent.atomic.LongAccumulator(Math.max(_, _), 0L)
    val qel = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        actions.add(ActionTiming(funcName, durationNs / 1e6))
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sl = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          tasks.increment(); runTime.add(m.executorRunTime); gcTime.add(m.jvmGCTime)
          maxTask.accumulate(m.executorRunTime)
          shRead.add(m.shuffleReadMetrics.totalBytesRead)
          shWrite.add(m.shuffleWriteMetrics.bytesWritten)
          spilled.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
    }
    spark.listenerManager.register(qel)
    spark.sparkContext.addSparkListener(sl)
    try {
      val res = f
      // both task metrics and QueryExecutionListener events ride the async
      // listener bus — drain it before reading what the listeners saw. A
      // drain timeout (busy shared bus) must NOT throw away the block's
      // already-computed result: return it with partial, flagged timings.
      val drained = drainListenerBus(spark.sparkContext)
      (res, Timings(actions.asScala.toSeq,
        TaskTotals(tasks.sum, runTime.sum, gcTime.sum, shRead.sum, shWrite.sum,
          spilled.sum, maxTask.get),
        complete = drained))
    } finally {
      spark.listenerManager.unregister(qel)
      spark.sparkContext.removeSparkListener(sl)
    }
  }

  /** Waits (up to 30 s) until every event posted so far has reached
    * every listener — task metrics and job/stage ends ride the ASYNC
    * listener bus, so a listener read right after an action can miss
    * them. False on timeout: the caller reports its numbers as partial
    * instead of silently undercounting. */
  private[graft] def drainListenerBus(sc: org.apache.spark.SparkContext)
      : Boolean =
    try { GraftListenerShim.waitUntilListenerBusEmpty(sc, 30000); true }
    catch { case _: java.util.concurrent.TimeoutException => false }

  /** One-pass column profiler — the `describe`-style EDA table (count /
    * nulls / exact distinct / min / max per column) as ONE aggregate:
    * 5·k expressions over a single scan (multiple exact distincts plan
    * through Spark's Expand — one exchange carries every column's
    * partials), then a stack to one row per column. min/max are cast to
    * string AFTER aggregating in the native type, so ordering semantics
    * are the column's own; callers comparing across engines should
    * profile integer/string columns (float → string formatting is
    * engine-specific). Output: (col_name, n, n_null, n_distinct,
    * min_v, max_v), one row per requested column. */
  def profile(df: org.apache.spark.sql.DataFrame,
              cols: Seq[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    require(cols.nonEmpty, "need at least one column to profile")
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(count(lit(1)).as(s"__n$i"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nn$i"),
        countDistinct(col(c)).as(s"__nd$i"),
        min(col(c)).cast("string").as(s"__mn$i"),
        max(col(c)).cast("string").as(s"__mx$i"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.zipWithIndex
      .map { case (c, i) => s"'$c', __n$i, __nn$i, __nd$i, __mn$i, __mx$i" }
      .mkString(", ")
    one.select(expr(
        s"stack(${cols.length}, $stackArgs) as " +
          "(col_name, n, n_null, n_distinct, min_v, max_v)"))
      .orderBy("col_name")
  }
}
