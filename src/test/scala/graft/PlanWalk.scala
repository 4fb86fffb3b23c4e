package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, ExprId}
import org.apache.spark.sql.catalyst.plans.LeftOuter
import org.apache.spark.sql.execution.{FilterExec, InputAdapter, LocalTableScanExec, ProjectExec, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec

/** The plan-budget predicates shared by [[PlanBudgetSpec]] and the
  * [[PlanBudgetProbe]] diagnostic — the executable form of the PLANS.md
  * audit. Every count walks [[Diagnostics.planNodes]], so the same
  * numbers come out whether a plan has been adaptively re-planned or
  * not: query stages are walked through and never counted as a second
  * exchange, and a reused exchange re-reads shuffle files, it does not
  * re-shuffle, so it is not counted again (mirrors how PLANS.md counts
  * "exchanges the data actually pays for"). */
object PlanWalk {
  import Diagnostics.planNodes

  /** Data-scale shuffles the plan pays for. Broadcast exchanges are
    * deliberately NOT counted — shipping a dim/spine once per executor
    * is the cheap path the budget is steering toward. */
  def shuffleCount(p: SparkPlan): Int =
    planNodes(p).count(_.isInstanceOf[ShuffleExchangeExec])

  /** Broadcast exchanges the plan pays for — not part of the shuffle
    * budget, but a dropped or added one-row totals hint shows here. */
  def broadcastCount(p: SparkPlan): Int =
    planNodes(p).count(_.isInstanceOf[BroadcastExchangeExec])

  /** True iff every leaf of the subtree is a literal in-memory table
    * or a driver-built `spark.range` — a spine (probability grid, side
    * labels, Fenwick bucket grid), bounded by construction, never
    * corpus data. */
  def localOnlyLeaves(p: SparkPlan): Boolean =
    planNodes(p).filter(_.children.isEmpty).forall {
      case _: LocalTableScanExec => true
      case _: org.apache.spark.sql.execution.RangeExec => true
      case _: AdaptiveSparkPlanExec | _: QueryStageExec => true // walked through
      case _ => false
    }

  /** True iff the subtree provably outputs at most ONE row: a global
    * (no-grouping-key) aggregate, possibly under narrow projections —
    * the "grand total" frames the library pairs up before broadcasting
    * the result onward. */
  def oneRowOutput(p: SparkPlan): Boolean = {
    def strip(q: SparkPlan): SparkPlan = q match {
      case pr: org.apache.spark.sql.execution.ProjectExec => strip(pr.child)
      case s: org.apache.spark.sql.execution.SortExec => strip(s.child)
      case other => other
    }
    strip(p) match {
      case a: BaseAggregateExec => a.groupingExpressions.isEmpty
      case _ => false
    }
  }

  /** True iff the subtree aggregates by the bridge's `__pid` partition
    * id somewhere on the way to its leaves — the running min's
    * (`Analytics.runningMinDescIncl`) offsets frame, whose cardinality
    * is the PARTITION COUNT (the documented per-partition-totals
    * spine), not the corpus. */
  def hasPidAggregate(p: SparkPlan): Boolean =
    planNodes(p).exists {
      case a: BaseAggregateExec =>
        a.groupingExpressions.exists(_.references.exists(
          _.name == "__pid"))
      case _ => false
    }

  /** The first node under `p` that is not a pass-through (project,
    * filter, sort, exchange, query stage, codegen wrapper), with the
    * projection aliases met on the way (alias id → aliased attribute
    * id). */
  private def under(p: SparkPlan, aliases: Map[ExprId, ExprId] = Map.empty)
      : (SparkPlan, Map[ExprId, ExprId]) = p match {
    case a: AdaptiveSparkPlanExec => under(a.executedPlan, aliases)
    case q: QueryStageExec => under(q.plan, aliases)
    case pr: ProjectExec => under(pr.child, aliases ++ pr.projectList.collect {
      case a @ Alias(r: Attribute, _) => a.exprId -> r.exprId })
    case u @ (_: FilterExec | _: SortExec | _: ShuffleExchangeExec |
              _: AQEShuffleReadExec | _: WholeStageCodegenExec |
              _: InputAdapter) => under(u.children.head, aliases)
    case other => (other, aliases)
  }

  /** True iff `p` is a driver-built spine LEFT-joined to an aggregate
    * grouped on (a subset of) the join's right keys: each spine row
    * meets at most one aggregate row, so the output is spine-sized —
    * liftTable's `range(buckets)` joined to its per-bucket counts. */
  def spineSized(p: SparkPlan): Boolean = under(p)._1 match {
    case j: BaseJoinExec if j.joinType == LeftOuter &&
        localOnlyLeaves(j.left) =>
      under(j.right) match {
        case (a: BaseAggregateExec, above) =>
          // the aggregate may itself rename its grouping attribute
          val aliases = above ++ a.resultExpressions.collect {
            case al @ Alias(r: Attribute, _) => al.exprId -> r.exprId }
          def resolve(id: ExprId): ExprId =
            aliases.get(id).fold(id)(resolve)
          val keys = j.rightKeys.collect {
            case r: Attribute => resolve(r.exprId) }.toSet
          a.groupingExpressions.nonEmpty &&
            a.groupingExpressions.forall(g => keys(g.toAttribute.exprId))
        case _ => false
      }
    case _ => false
  }

  /** CARTESIAN products over unbounded input — the one join shape
    * with no 100 TB story. Legal bounded shapes: (a) all leaves are
    * driver-built spines (|ps|·2 quantile grids, Fenwick bucket
    * ranges); (b) every side is a one-row global aggregate (grand
    * totals paired before broadcast). Anything else — a corpus scan on
    * either side with more than one row — is a missing-broadcast-hint
    * bug. */
  def unboundedCartesians(p: SparkPlan): Seq[SparkPlan] =
    planNodes(p).filter {
      case c: CartesianProductExec =>
        !(localOnlyLeaves(c) ||
          c.children.forall(ch => oneRowOutput(ch) || localOnlyLeaves(ch)))
      case _ => false
    }

  /** Unpartitioned window operators over UNBOUNDED input —
    * `Window.orderBy` with no partitionBy moves all its input to one
    * task, so it is corpus-scale poison unless the input is already
    * bounded: literal-local, a [[spineSized]] join, or the running
    * min's `groupBy(__pid)` per-partition-totals frame (≤ one row per
    * input partition, the documented bridge shape). Exported plans keep
    * exactly zero of the unbounded kind (spearmanRowWindow, the one
    * library site, is a test-only bit-equality reference). */
  def unboundedUnpartWindows(p: SparkPlan): Seq[SparkPlan] =
    planNodes(p).filter {
      case w: WindowExec if w.partitionSpec.isEmpty =>
        !(localOnlyLeaves(w.child) || hasPidAggregate(w.child) ||
          spineSized(w.child))
      case _ => false
    }

  case class Budget(shuffles: Int, unboundedCartesians: Int,
                    unboundedUnpartWindows: Int)

  def measure(df: DataFrame): Budget = {
    val p = df.queryExecution.executedPlan
    Budget(shuffleCount(p), unboundedCartesians(p).size,
      unboundedUnpartWindows(p).size)
  }

  /** Run `body` with auto-broadcast DISABLED — the 100 TB simulation:
    * at petabyte scale no join side fits any threshold, so the only
    * broadcasts left are the ones the library EXPLICITLY hints
    * (spines, dims, one-row totals). Under this conf a dropped
    * `broadcast()` hint becomes a visible extra shuffle (or a
    * cartesian) at sf0.001, instead of being silently rescued by the
    * 10 MB default threshold. */
  def withNoAutoBroadcast[T](spark: org.apache.spark.sql.SparkSession)(
      body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}

/** Prints the measured plan budget for every bench headline query at
  * sf0.001 under the no-auto-broadcast regime — regenerate the
  * [[PlanBudgetSpec]] ceiling table with
  * `sbt "Test/runMain graft.PlanBudgetProbe"` after a deliberate plan
  * change. */
object PlanBudgetProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSpec.session
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    PlanWalk.withNoAutoBroadcast(spark) {
      SparkEntry.benchQueries.foreach { name =>
        val r =
          try {
            val b = PlanWalk.measure(SparkEntry.queries(name)(spark, dir))
            f"""shuffles=${b.shuffles}%2d unboundedCartesians=${
              b.unboundedCartesians} unboundedUnpartWindows=${
              b.unboundedUnpartWindows}"""
          } catch { case e: Throwable => s"FAILED: ${e.getMessage}" }
        println(f"[planbudget] $name%-28s $r")
      }
    }
  }
}
