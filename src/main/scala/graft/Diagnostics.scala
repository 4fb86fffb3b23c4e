package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftListenerShim
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** The one measurement core: the session every entry point and the test
  * suite run on ([[localSession]]), the plan walk every count comes from
  * ([[planNodes]], summarized by [[analyze]]), and the one listener
  * ([[tracktime]]).
  *
  * `tracktime(f)` diagnostics (reference `src/diagnostics.jl:84-98`): run a
  * block and report where the time went. The reference swaps in a logging
  * Dagger context and aggregates per-(proc, event-type) timings + GC deltas;
  * the Spark-native sources for exactly those numbers are the listener
  * APIs — `QueryExecutionListener` for per-action wall time (the
  * reference's per-`compute` events), `SparkListener` job events for the
  * per-job spans, and `SparkListener.onTaskEnd` task
  * metrics for executor run/GC time, shuffle bytes, and spill (the
  * per-proc breakdown; Spark pre-aggregates GC per task the way the
  * reference folds `gc_diff`s). Listeners see every job the block runs,
  * across all executors — this is the cluster-wide view, not a driver
  * stopwatch. For interactive deep dives the Spark UI holds the same
  * events; `tracktime` is the programmatic summary of them. */
object Diagnostics {

  /** Cores every entry point runs on: `SPARK_GRAFT_CPUS`, else the
    * host's processor count. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** Fixture directory the entry points without a directory argument
    * read: `SPARK_GRAFT_SF_DIR`, else `testdata/sf0.1` beside the
    * checkout. */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
    java.nio.file.Paths.get("..", "testdata", "sf0.1")
      .toAbsolutePath.normalize.toString)

  /** The one local session every entry point and the test suite build,
    * so a timing and the plan that explains it come from the same
    * settings:
    *  - `local[cpus]` with `cpus` shuffle partitions;
    *  - UTC session time zone, no UI;
    *  - `nanosAsLong`: older testdata generations carry
    *    TIMESTAMP(NANOS) in events.parquet, which Spark's reader rejects
    *    without it; with it `ts` arrives as nanos-since-epoch longs
    *    (`Tables.events` normalizes either shape to int64 nanos);
    *  - a 4096-entry codegen-class cache (static conf, default 100): an
    *    interleaved suite holds far more than 100 generated classes, so
    *    at the default every pass re-compiles every stage through Janino
    *    and a timing measures compilation, not execution (NOTES_r9:
    *    local[32] sf0.1, interleaved passes 24.47 s at the default cache
    *    against ~17.96 s with this setting).
    * `conf` pairs are applied after these and may override them. */
  def localSession(cpus: String, conf: (String, String)*): SparkSession = {
    val shared = Seq(
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.codegen.cache.maxEntries" -> "4096")
    val spark = (shared ++ conf)
      .foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
        case (b, (k, v)) => b.config(k, v)
      }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One driver-side action (collect/count/write) with its wall time. */
  final case class ActionTiming(funcName: String, durationMs: Double)

  /** One Spark job the tracked block ran: its [start, end] wall span in
    * epoch ms (`endMs` is empty if it was still running when the block
    * returned), its `spark.job.description`, its task count, and the
    * `spark.sql.execution.id` it ran under (empty = a job no SQL
    * execution owns). */
  final case class JobTiming(jobId: Int, startMs: Long, endMs: Option[Long],
                             description: Option[String], tasks: Int,
                             executionId: Option[String])

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
                           /** every job started in the block, by id */
                           jobs: Seq[JobTiming],
                           /** false iff the listener-bus drain timed out:
                             * totals may miss late events, but the block's
                             * RESULT is intact either way. */
                           complete: Boolean = true,
                           /** generated classes Janino compiled in the
                             * block (a codegen-cache miss each; JVM-wide) */
                           codegenClasses: Long = 0L,
                           /** wall time of those compiles */
                           codegenCompileMs: Double = 0.0) {
    /** `show_timings` analog — a compact human-readable breakdown. */
    def summary: String = {
      val acts = actions.map(a => f"  ${a.funcName}%-12s ${a.durationMs}%10.1f ms").mkString("\n")
      s"""actions:
         |$acts
         |tasks: ${tasks.tasks}, executor run ${tasks.executorRunTimeMs} ms """.stripMargin +
        s"(max task ${tasks.maxTaskMs} ms), gc ${tasks.jvmGcTimeMs} ms, " +
        s"shuffle r/w ${tasks.shuffleReadBytes}/" +
        s"${tasks.shuffleWriteBytes} B, spilled ${tasks.spilledBytes} B\n" +
        f"codegen: $codegenClasses classes compiled in $codegenCompileMs%.1f ms"
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

  /** Every node of a physical plan, the one walk all plan counts come
    * from. `plan.collect` stops at the wrappers; this walk goes through
    * them: from the AQE root into its current plan, from a query stage
    * into the stage's plan, and from every node into its subqueries. A
    * stage wrapper is a node of its own but never an exchange: count
    * the `ShuffleExchangeExec`/`BroadcastExchangeExec` inside it. A
    * `ReusedExchangeExec` is a leaf: the walk does not enter the
    * subtree it reuses, because it visits that exchange where it runs. */
  def planNodes(plan: SparkPlan): Seq[SparkPlan] = {
    val below = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case p => p.children
    }
    plan +: (below ++ plan.subqueries).flatMap(planNodes)
  }

  /** `analyze(df)` — the plan half of the diagnostics story ([[tracktime]]
    * is the runtime half): summarize the physical plan Spark chose for a
    * frame WITHOUT executing it. Use it the way the reference's docs use
    * plan printing: confirm a filter reached the parquet scan, count the
    * shuffles an operator pays, and check a dimension join broadcast
    * before paying for a full run. */
  def analyze(df: org.apache.spark.sql.DataFrame): PlanSummary = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    val exec = df.queryExecution.executedPlan
    val nodes = planNodes(exec)
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

  /** Track the Spark work done by `f`: returns (result, timings). Events
    * posted before the block belong to earlier work, so the bus is
    * drained before the listeners register. Nesting note: listeners are
    * session/context-global, so concurrent queries on the same session
    * during the block are included in the totals (the reference's context
    * swap has the same property — it logs everything the scheduler runs
    * while tracking is on). */
  def tracktime[T](spark: SparkSession)(f: => T): (T, Timings) = {
    val actions = new ConcurrentLinkedQueue[ActionTiming]()
    val jobs = new ConcurrentHashMap[Int, JobTiming]()
    val tasks = new LongAdder; val runTime = new LongAdder; val gcTime = new LongAdder
    val shRead = new LongAdder; val shWrite = new LongAdder; val spilled = new LongAdder
    val maxTask = new java.util.concurrent.atomic.LongAccumulator(Math.max(_, _), 0L)
    val qel = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        actions.add(ActionTiming(funcName, durationNs / 1e6))
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sl = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(js.properties).flatMap(p => Option(p.getProperty(k)))
        jobs.put(js.jobId, JobTiming(js.jobId, js.time, None,
          prop("spark.job.description"), js.stageInfos.map(_.numTasks).sum,
          prop("spark.sql.execution.id")))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        jobs.computeIfPresent(je.jobId, (_, j) => j.copy(endMs = Some(je.time)))
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
    drainListenerBus(spark.sparkContext)
    spark.listenerManager.register(qel)
    spark.sparkContext.addSparkListener(sl)
    val classes0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNs0 = CodeGenerator.compileTime
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
        jobs.values.asScala.toSeq.sortBy(_.jobId),
        complete = drained,
        codegenClasses = CodegenMetrics.METRIC_COMPILATION_TIME.getCount -
          classes0,
        codegenCompileMs = (CodeGenerator.compileTime - compileNs0) / 1e6))
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
  private def drainListenerBus(sc: org.apache.spark.SparkContext)
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
