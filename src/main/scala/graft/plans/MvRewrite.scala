package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Materialized-view rewrite: transparently answer aggregates over a raw
  * table from the persisted rollup [[graft.sources.IO.upsertAggregate]]
  * maintains — the query acceleration half of incremental view
  * maintenance (q156/q157 maintain the rollup; this makes queries USE
  * it without being rewritten by hand).
  *
  * A registered [[MvRewrite.MvDef]] declares the contract: the rollup at
  * `rollupPath` holds, per distinct key tuple of `keyCols`, exact
  * mergeable partials of the raw table at `rawPath` — sums (at the
  * stored decimal/long type), a row count, min/max. The optimizer rule
  * then rewrites any matching
  * `Aggregate(keys ⊆ keyCols, sums/counts/mins/maxes, [Filter on keys]
  * over the raw scan)` to the same aggregate over the rollup scan —
  * re-aggregating partials with the SAME exact algebra the maintenance
  * path uses (decimal/long sums are associative, min/max idempotent),
  * so the rewrite is bit-identical, not approximately right. Anything
  * the mapping can't prove (expressions over non-key columns,
  * distinct aggregates, filtered aggregates, avg, sums at a different
  * type than stored) leaves the plan untouched — the rewrite is
  * strictly opt-out-safe.
  *
  * Freshness is the caller's contract, exactly as in any MV system: the
  * rewrite answers from the rollup as maintained; run the upsert before
  * querying (the q156 invariant — maintained == from-scratch — is what
  * makes that sound).
  *
  * At 100 TB this is the difference between scanning the fact table and
  * scanning a rollup that is orders of magnitude smaller; the rewritten
  * plan's scan is pruned to the referenced rollup columns and any
  * key-only filters land on the rollup scan (partition pruning when the
  * key is the rollup's partition column).
  *
  * Installed via `spark.experimental.extraOptimizations` (the public
  * per-session optimizer hook) — `register` is idempotent per session.
  */
object MvRewrite {

  /** Rollup contract for one raw table.
    *  - `keyCols`: rollup grouping columns (partition + key cols of the
    *    maintained table). Queries may group by any subset.
    *  - `sumCols`: raw column → rollup column holding its exact sum;
    *    matches `sum(raw)` and `sum(cast(raw as T))` where T is the
    *    rollup column's exact stored type.
    *  - `countCol`: rollup column holding count(*) partials (long).
    *  - `minCols`/`maxCols`: raw column → rollup column of its min/max. */
  final case class MvDef(rawPath: String, rollupPath: String,
                         keyCols: Set[String],
                         sumCols: Map[String, String] = Map.empty,
                         countCol: Option[String] = None,
                         minCols: Map[String, String] = Map.empty,
                         maxCols: Map[String, String] = Map.empty)

  private val defs = new ConcurrentHashMap[String, MvDef]()
  private val installed = ConcurrentHashMap.newKeySet[String]()

  /** Register a rollup and (once per session) install the rewrite rule. */
  def register(spark: SparkSession, d: MvDef): Unit = {
    defs.put(normalize(d.rawPath), d)
    if (installed.add(System.identityHashCode(spark).toString))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ new MvRewriteRule(spark)
  }

  def deregister(rawPath: String): Unit = defs.remove(normalize(rawPath))

  /** True iff the rewrite answered `df`: a file scan of its executed plan
    * reads `rollupPath` and none reads `rawPath`. Decided from the scans'
    * root paths, never from the plan string, which abbreviates every scan
    * location past `spark.sql.maxMetadataStringLength` characters. */
  def rewritten(df: DataFrame, rawPath: String, rollupPath: String): Boolean = {
    val roots = graft.Diagnostics.planNodes(df.queryExecution.executedPlan)
      .collect { case s: FileSourceScanExec => s.relation.location.rootPaths }
      .flatten.map(p => normalize(p.toString)).toSet
    roots(normalize(rollupPath)) && !roots(normalize(rawPath))
  }

  private[plans] def lookup(path: String): Option[MvDef] =
    Option(defs.get(path))

  private[plans] def normalize(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath.stripSuffix("/")
}

class MvRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {
  import MvRewrite._

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg: Aggregate => tryRewrite(agg).getOrElse(agg)
  }

  /** Peel pure-attribute Projects and collect Filter conditions down to
    * the base scan (the shapes the DataFrame API emits between an
    * aggregate and its source). */
  private def unwrap(p: LogicalPlan, conds: Seq[Expression])
      : Option[(LogicalRelation, Seq[Expression])] = p match {
    case lr: LogicalRelation => Some((lr, conds))
    case f: Filter => unwrap(f.child, conds :+ f.condition)
    case pr: Project if pr.projectList.forall(_.isInstanceOf[AttributeReference]) =>
      unwrap(pr.child, conds)
    case _ => None
  }

  private def tryRewrite(agg: Aggregate): Option[LogicalPlan] = {
    for {
      (lr, conds) <- unwrap(agg.child, Nil)
      fsRel <- lr.relation match {
        case h: HadoopFsRelation => Some(h)
        case _ => None
      }
      roots = fsRel.location.rootPaths.map(p => normalize(p.toString)).distinct
      path <- roots.headOption if roots.size == 1
      d <- lookup(path)
      out <- buildRewrite(agg, conds, d)
    } yield out
  }

  private def buildRewrite(agg: Aggregate, conds: Seq[Expression],
                           d: MvDef): Option[LogicalPlan] = {
    // groupings: plain key attributes only
    val groupAttrs = agg.groupingExpressions.map {
      case a: AttributeReference if d.keyCols(a.name) => Some(a)
      case _ => None
    }
    // filters: deterministic, key-column references only
    val condsOk = conds.forall(c =>
      c.deterministic && c.references.forall(a => d.keyCols(a.name)))
    if (groupAttrs.exists(_.isEmpty) || !condsOk) return None

    // the rollup's analyzed scan (fresh attrs; rebound below)
    val rollup = spark.read.parquet(d.rollupPath).queryExecution.analyzed
    val rAttr: Map[String, Attribute] = rollup.output.map(a => a.name -> a).toMap

    // misregistration guard: every declared key column and every mapped
    // rollup column must actually exist in the rollup schema — a stale
    // or mistyped MvDef must mean "no rewrite", never an optimizer-time
    // NoSuchElementException that fails the whole query
    val declared = d.keyCols.iterator ++ d.sumCols.valuesIterator ++
      d.countCol.iterator ++ d.minCols.valuesIterator ++
      d.maxCols.valuesIterator
    if (!declared.forall(rAttr.contains)) return None

    def mappedKey(a: AttributeReference): Option[Attribute] =
      rAttr.get(a.name).filter(_.dataType == a.dataType)

    // peel a cast chain above the aggregate call (the sum(...).cast
    // house style), returning the aggregate and a re-wrapper
    def peelCasts(e: Expression)
        : Option[(AggregateExpression, Expression => Expression)] = e match {
      case ae: AggregateExpression => Some((ae, identity))
      case c: Cast => peelCasts(c.child).map { case (ae, wrap) =>
        (ae, (inner: Expression) => c.withNewChildren(Seq(wrap(inner))))
      }
      case _ => None
    }

    // map each output expression; None anywhere → no rewrite
    val mapped: Seq[Option[NamedExpression]] = agg.aggregateExpressions.map {
      case a: AttributeReference if d.keyCols(a.name) => mappedKey(a)
      case al @ Alias(body, name) if peelCasts(body).nonEmpty =>
        val (ae, rewrap) = peelCasts(body).get
        val AggregateExpression(fn, _, isDistinct, filterOpt, _) = ae
        if (isDistinct || filterOpt.nonEmpty) None
        else {
          val newExpr: Option[Expression] = fn match {
            case s: Sum => s.child match {
              // sum(cast(raw as T)): rollup column must be exactly T
              case c: Cast => c.child match {
                case a: AttributeReference =>
                  d.sumCols.get(a.name).flatMap(rAttr.get)
                    .filter(_.dataType == c.dataType)
                    .map(Sum(_).toAggregateExpression())
                case _ => None
              }
              case a: AttributeReference =>
                d.sumCols.get(a.name).flatMap(rAttr.get)
                  .filter(_.dataType == a.dataType)
                  .map(Sum(_).toAggregateExpression())
              case _ => None
            }
            case c: Count => c.children match {
              // count(*) / count(lit): partial counts SUM together.
              // Coalesce to 0: a GLOBAL aggregate over an empty rollup
              // scan yields Sum=NULL where count(*)=0 — the one case
              // where the raw algebra and the partial algebra differ
              // (no-op for grouped aggregates, whose partials are ≥1)
              case Seq(l: Literal) if l.value != null =>
                d.countCol.flatMap(rAttr.get).map(a =>
                  Coalesce(Seq(Sum(a).toAggregateExpression(),
                    Literal(0L))))
              case _ => None
            }
            case m: Min => m.child match {
              case a: AttributeReference =>
                d.minCols.get(a.name).flatMap(rAttr.get)
                  .filter(_.dataType == a.dataType)
                  .map(Min(_).toAggregateExpression())
              case _ => None
            }
            case m: Max => m.child match {
              case a: AttributeReference =>
                d.maxCols.get(a.name).flatMap(rAttr.get)
                  .filter(_.dataType == a.dataType)
                  .map(Max(_).toAggregateExpression())
              case _ => None
            }
            case _ => None
          }
          // the re-aggregation must produce the original AGGREGATE's
          // result type exactly (Sum(long)→long, Sum(dec(p,s))→
          // dec(p+10,s) == original Sum(cast)→same), so any peeled cast
          // chain re-applies with identical semantics
          newExpr.filter(_.dataType == ae.dataType)
            .map(e => Alias(rewrap(e), name)())
        }
      case _ => None
    }
    if (mapped.exists(_.isEmpty)) return None
    val newAggExprs = mapped.map(_.get)

    // prune the rollup scan to the referenced columns
    val needed: Seq[Attribute] = {
      val names = (groupAttrs.flatten.map(_.name) ++
        conds.flatMap(_.references.map(_.name)) ++
        newAggExprs.flatMap(_.references.map(_.name))).toSet
      rollup.output.filter(a => names(a.name))
    }
    val pruned = Project(needed, rollup)
    val filtered = conds.foldLeft[LogicalPlan](pruned) { (p, c) =>
      Filter(c.transform { case a: AttributeReference => rAttr(a.name) }, p)
    }
    val newAgg = Aggregate(
      groupAttrs.flatten.map(a => rAttr(a.name)), newAggExprs, filtered)

    // rebind the new output to the ORIGINAL attribute ids so parent
    // operators (sorts, projects, joins above the aggregate) still
    // resolve — the standard plan-substitution trick
    val rebound = agg.output.zip(newAgg.output).map { case (o, n) =>
      Alias(n, o.name)(exprId = o.exprId, qualifier = o.qualifier)
    }
    Some(Project(rebound, newAgg))
  }
}
