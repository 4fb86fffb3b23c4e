package graft.operators

import graft.core.{JTable, Sel}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Analytics.{dropTag, joinTotals, keyEq, renKeys}

/** Aggregation surface (reference §2.4: `reduce`, `groupreduce`, `groupby`,
  * `summarize`, `reducedim`).
  *
  * Execution model note: the reference runs per-chunk partial reduces then a
  * tree merge (`src/reduce.jl:5-70`, `src/util.jl:2-8`). Spark's
  * HashAggregate already plans exactly that — partial aggregate on the map
  * side, exchange on the group keys, final aggregate — so every entry point
  * here lowers to `df.groupBy(...).agg(...)` and stays inside whole-stage
  * codegen. Custom vector-function grouping (`groupby` with an arbitrary
  * Julia function in the reference) is exposed two ways: a fast path for
  * expressible functions (Column aggregators), and `collect_list`/
  * `flatMapGroups` for truly opaque ones.
  */
object Aggregations {

  /** `reduce(f, t; select)` — whole-table fold to a single row.
    * Pass named Column aggregators (the reference's named-tuple-of-reducers
    * form, `test/test_table.jl:145-151`). */
  def reduce(t: JTable, aggs: (String, Column)*): DataFrame =
    t.df.agg(aggs.head._2.as(aggs.head._1),
             aggs.tail.map { case (n, c) => c.as(n) }: _*)

  /** `groupreduce(f, t, by; select)` — grouped fold with mergeable state. */
  def groupreduce(t: JTable, by: Seq[String], aggs: (String, Column)*): DataFrame =
    t.df.groupBy(by.map(col): _*)
      .agg(aggs.head._2.as(aggs.head._1),
           aggs.tail.map { case (n, c) => c.as(n) }: _*)

  /** `groupby(f, t, by; select)` fast path: the grouped-vector function is
    * expressible as Column aggregators (mean, quantile, count, …). */
  def groupby(t: JTable, by: Seq[String], aggs: (String, Column)*): DataFrame =
    groupreduce(t, by, aggs: _*)

  /** `groupby` slow path: truly arbitrary vector function over each group's
    * rows, via collect_list of a struct. Use only when no Column form exists
    * — the grouped rows must fit in executor memory per key (same contract
    * as the reference, which materializes each group's vector).
    *
    * The collected array is sorted (struct lexicographic order on
    * `valueCols`) before `f` sees it: `collect_list` order is partition-
    * dependent, and an order-sensitive `f` would otherwise be
    * nondeterministic. The reference hands `f` the group in table order;
    * here the deterministic stand-in is valueCols order — put the ordering
    * column first if `f` is order-sensitive. */
  def groupbyVector(t: JTable, by: Seq[String], valueCols: Seq[String],
                    f: Column => Column, as: String): DataFrame = {
    val grouped = t.df.groupBy(by.map(col): _*)
      .agg(array_sort(collect_list(struct(valueCols.map(col): _*))).as("__rows"))
    grouped.select((by.map(col) :+ f(col("__rows")).as(as)): _*)
  }

  /** Exact interpolating median of a numeric array column — the
    * reference's canonical order-insensitive vector aggregate (its
    * `groupby(median, …)` examples). `assumeSorted=true` skips the sort:
    * correct for arrays produced by [[groupbyVector]] /
    * `NDSparse.reducedimVec` / `NDSparse.convertdimVec`, which all sort
    * the collected array before the aggregate sees it. */
  def medianCol(arr: Column, assumeSorted: Boolean = false): Column = {
    val sorted = if (assumeSorted) arr else array_sort(arr)
    val n = size(sorted)
    // empty → null (collect_list skips nulls, so an all-null group yields
    // an empty array; element_at index 0 would be a runtime error)
    when(n === 0, lit(null))
      .when(pmod(n, lit(2)) === 1,
        element_at(sorted, ((n + lit(1)) / 2).cast("int")))
      .otherwise((element_at(sorted, (n / 2).cast("int")) +
        element_at(sorted, (n / 2).cast("int") + 1)) / 2.0)
  }

  /** `summarize(f, t, by; select)` — apply each named function to each
    * selected column; output names `col_fn` (reference `test/test_table.jl:237-243`). */
  def summarize(t: JTable, by: Seq[String], cols: Seq[String],
                fns: (String, Column => Column)*): DataFrame = {
    val aggs = for { c <- cols; (fname, f) <- fns } yield f(col(c)).as(s"${c}_$fname")
    t.df.groupBy(by.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Array-style `reduce(f, x; dims)` (reference `src/reduce.jl:107-115`):
    * drop `dims` from the key set, aggregate over kept dims. */
  def reducedim(t: JTable, keyCols: Seq[String], dropDims: Seq[String],
                aggs: (String, Column)*): DataFrame = {
    val kept = keyCols.filterNot(dropDims.contains)
    groupreduce(t, kept, aggs: _*)
  }

  /** `stack`-free distinct (reference has no distinct op; idiom parity). */
  def distinct(t: JTable, cols: String*): DataFrame =
    if (cols.isEmpty) t.df.distinct() else t.df.select(cols.map(col): _*).distinct()

  /** Two-phase salted groupBy for skewed keys: phase 1 aggregates on
    * (keys, salt) — spreading a hot key over `saltBuckets` reducers —
    * phase 2 merges the partials. Correct for any mergeable aggregate;
    * each entry is (name, partialAgg, mergeOfPartials). AQE's skew
    * handling covers sort/join skew, but a single hot GROUP BY key still
    * lands on one reducer without salting — this is the standard fix.
    */
  def groupreduceSalted(t: JTable, by: Seq[String], saltBuckets: Int,
                        aggs: (String, Column, Column => Column)*): DataFrame = {
    val salted = t.df.withColumn("__salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(saltBuckets)))
    val phase1 = salted.groupBy((by :+ "__salt").map(col): _*)
      .agg(aggs.head._2.as(aggs.head._1), aggs.tail.map { case (n, c, _) => c.as(n) }: _*)
    phase1.groupBy(by.map(col): _*)
      .agg(aggs.head._3(col(aggs.head._1)).as(aggs.head._1),
        aggs.tail.map { case (n, _, m) => m(col(n)).as(n) }: _*)
  }

  /** EXACT discrete per-group quantile — the companion of the KHist
    * APPROXIMATE quantiles (q43's sketch): returns, per key group, the
    * group's n and the element at lower rank ⌊q·(n−1)⌋+1 in value order
    * (quantile_disc semantics: an actual member of the group, no
    * interpolation — which is also what makes the result engine-exact:
    * ties in the value order can permute ROWS but never the selected
    * VALUE). One exchange + one in-partition sort; the per-key
    * sequential bound of the ranking window is the usual one — at scale
    * the sketch path is the bounded-memory answer, this is the exact
    * small-group/final-mile answer, and [[quantilesContBy]] (keyed
    * distributed prefix — no per-key row sort at ANY slice size) is the
    * exact answer when a hot slice outgrows one task. */
  def quantileDisc(df: org.apache.spark.sql.DataFrame, keyCols: Seq[String],
                   valueCol: String, q: Double,
                   outCol: String = "q_value"): org.apache.spark.sql.DataFrame = {
    require(q >= 0.0 && q <= 1.0, s"q must be in [0,1], got $q")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(col(valueCol).asc)
    val wn = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
    df.select(keyCols.map(col) :+ col(valueCol): _*)
      .withColumn("__rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wn).cast("long"))
      .filter(col("__rn") === floor(lit(q) * (col("n") - 1)) + 1)
      .select(keyCols.map(col) ++ Seq(col("n"), col(valueCol).as(outCol)): _*)
  }

  /** Exact per-group weighted mean — importance-weighted statistics
    * (mixture weighting, propensity weighting): Σw and Σw·x accumulate
    * as exact decimals (the product at (18,s)×(18,s) → (37,2s), summed
    * in decimal(38,2s) — exact to ~10²⁴ weight-value mass, far past any
    * corpus), and the mean is ONE pinned double division. One
    * map-side-combined aggregate. Zero total weight yields NULL. */
  def weightedMean(df: org.apache.spark.sql.DataFrame, keyCols: Seq[String],
                   valueCol: String, weightCol: String,
                   scale: Int = 4): org.apache.spark.sql.DataFrame = {
    val v = col(valueCol).cast(s"decimal(18,$scale)")
    val w = col(weightCol).cast(s"decimal(18,$scale)")
    df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(w).as("__sw"),
        sum(v * w).as("__swx"))
      .withColumn("sum_w", col("__sw").cast("double"))
      .withColumn("wmean",
        when(col("__sw") =!= 0,
          col("__swx").cast("double") / col("__sw").cast("double")))
      .drop("__sw", "__swx")
  }

  /** EXACT continuous (linearly interpolated) per-group quantile — the
    * SQL `quantile_cont` / numpy default ("type 7") companion of
    * [[quantileDisc]]'s member-value selection: with h = q·(n−1), the
    * result is v[⌊h⌋] + (h − ⌊h⌋)·(v[⌈h⌉] − v[⌊h⌋]) over the ascending
    * value order (0-based ranks). The two bracket values are selected
    * (never computed), h and the interpolation are a PINNED double
    * sequence replayed by the oracle — when h is integral the fraction
    * is exactly 0 and the result is the member value itself. Same plan
    * shape as quantileDisc: one exchange + in-partition sort; ties
    * permute rows but the selected bracket VALUES are invariant. */
  def quantileCont(df: org.apache.spark.sql.DataFrame, keyCols: Seq[String],
                   valueCol: String, q: Double,
                   outCol: String = "q_value"): org.apache.spark.sql.DataFrame = {
    require(q >= 0.0 && q <= 1.0, s"q must be in [0,1], got $q")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(col(valueCol).asc)
    val wn = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
    val h = lit(q) * (col("n").cast("double") - lit(1.0))
    df.select(keyCols.map(col) :+ col(valueCol): _*)
      .withColumn("__rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wn).cast("long"))
      .filter(col("__rn") - 1 === floor(h) || col("__rn") - 1 === ceil(h))
      .groupBy((keyCols.map(col) :+ col("n")): _*)
      .agg(
        min(when(col("__rn") - 1 === floor(h), col(valueCol))).as("__lo"),
        min(when(col("__rn") - 1 === ceil(h), col(valueCol))).as("__hi"))
      .withColumn(outCol,
        col("__lo").cast("double") + (h - floor(h).cast("double")) *
          (col("__hi").cast("double") - col("__lo").cast("double")))
      .drop("__lo", "__hi")
  }

  /** Exact per-group mode with a deterministic tie-break (highest count,
    * then smallest value): the categorical companion of [[quantileDisc]].
    * Two-level shape is the scale story — the first aggregate collapses
    * the corpus to (key, value) pairs with map-side combine (a hot value
    * is absorbed in the partials), and the argmax window then runs over
    * per-key DISTINCT VALUE counts, bounded by the value cardinality,
    * never by row count. Output: key columns + `mode` + `n_mode`.
    * EAGER: builds on the pinned-execution bridge, so Spark jobs
    * launch AT CALL time and the input is snapshotted then
    * ([[org.apache.spark.sql.graftbridge.RddShareBridge]]). */
  def modeExact(df: org.apache.spark.sql.DataFrame, keyCols: Seq[String],
                valueCol: String): org.apache.spark.sql.DataFrame = {
    val counts = df.groupBy((keyCols :+ valueCol).map(col): _*)
      .agg(count(lit(1)).as("n_mode"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col("n_mode").desc, col(valueCol).asc)
    counts.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(keyCols.map(col) ++
        Seq(col(valueCol).as("mode"), col("n_mode")): _*)
  }

  /** EXACT global continuous percentiles (SQL `percentile_cont`
    * semantics: target rank t = p·(n−1), linear interpolation between
    * the bracketing order statistics) — DISTINCT-VALUE-BOUNDED, so
    * "exact median of 100 TB" never sorts rows: one (value)-grouped
    * count aggregate over the corpus, one DISTRIBUTED cumulative prefix
    * over the DISTINCT values (the ksTest/spearman
    * Analytics.prefixBefore machinery — parallel range slices, no
    * single-task sort at any cardinality), then each
    * requested p finds its two bracketing values by rank-interval
    * containment against the broadcast p-list (distinct-values × |ps|
    * comparisons). The interpolation
    * v = v_lo + (t − ⌊t⌋)·(v_hi − v_lo) is a pinned double chain.
    * [[quantileDisc]] is the per-KEY discrete form (per-group window);
    * this is the global continuous form whose row sort would otherwise
    * be the single-task scale killer; KHist (q43) is the
    * sketch-accuracy tier. Output: one row per p — (p, n, value),
    * ordered by p. Null values are excluded (SQL convention). */
  /** Exact α-trimmed mean — the robust location estimate (outlier-
    * resistant where the plain mean is one corrupt row away from
    * garbage), DISTINCT-VALUE-BOUNDED like [[quantilesCont]]: k =
    * ⌊α·n⌋ rows are dropped from EACH tail by rank-interval overlap
    * (per distinct value, kept weight = |[s, s+c) ∩ [k, n−k)| — partial
    * boundary blocks contribute exactly their surviving multiplicity),
    * the kept mass sums in decimal, and the mean is ONE pinned
    * division. No row sort anywhere. Output: one row
    * (n, n_kept, mean); α must leave at least one row.
    * EAGER: builds on the pinned-execution bridge, so Spark jobs
    * launch AT CALL time and the input is snapshotted then
    * ([[org.apache.spark.sql.graftbridge.RddShareBridge]]). */
  def trimmedMean(df: org.apache.spark.sql.DataFrame, valueCol: String,
                  alpha: Double, scale: Int = 2)
      : org.apache.spark.sql.DataFrame =
    trimmedMeanBy(df, Nil, valueCol, alpha, scale)

  /** Exact α-winsorized mean — [[trimmedMean]]'s clamp-at-the-fences
    * sibling: the k = ⌊α·n⌋ most extreme rows on EACH tail are REPLACED
    * by the fence order statistics (0-based ranks k and n−k−1) instead
    * of dropped, so the estimate keeps n's weight while capping
    * influence — the robust mean preferred when tail MASS matters
    * (payment amounts, token counts). Identity: winsorized sum =
    * (trimmed kept-interval mass) + k·(fence_lo + fence_hi), everything
    * decimal-exact with ONE final division. Same plan as trimmedMean:
    * value counts → distributed prefix ([[graft.operators.Analytics.prefixBefore]])
    * → broadcast total + two broadcast rank-containment fence rows — no
    * row sort at any cardinality. Output: one row
    * (n, k, fence_lo, fence_hi, mean); α = 0 reduces to the plain
    * mean (fences = min/max, zero clamp weight).
    * EAGER: builds on the pinned-execution bridge, so Spark jobs
    * launch AT CALL time and the input is snapshotted then
    * ([[org.apache.spark.sql.graftbridge.RddShareBridge]]). */
  def winsorizedMean(df: org.apache.spark.sql.DataFrame, valueCol: String,
                     alpha: Double, scale: Int = 2)
      : org.apache.spark.sql.DataFrame =
    winsorizedMeanBy(df, Nil, valueCol, alpha, scale)

  /** Per-GROUP exact α-trimmed mean — [[trimmedMean]] sliced by key
    * columns (per-language/per-source robust token-length means): k =
    * ⌊α·n_g⌋ computed per group, rank-interval overlap per distinct
    * value within its group, decimal kept-mass sum, one pinned division
    * per group. The distinct-value cumulative rides the KEYED
    * distributed prefix ([[graft.operators.Analytics.prefixBefore]]
    * — a hot group splits across range slices instead of serializing
    * through one window task; per-group totals ride the same prefix
    * pass; no row sort anywhere). Output: key columns
    * + (n, n_kept, mean).
    * EAGER: builds on the pinned-execution bridge, so Spark jobs
    * launch AT CALL time and the input is snapshotted then
    * ([[org.apache.spark.sql.graftbridge.RddShareBridge]]). */
  def trimmedMeanBy(df: org.apache.spark.sql.DataFrame, keyCols: Seq[String],
                    valueCol: String, alpha: Double, scale: Int = 2)
      : org.apache.spark.sql.DataFrame = {
    require(alpha >= 0.0 && alpha < 0.5, s"alpha $alpha must be in [0, 0.5)")
    val keys = keyCols.map(col)
    val counts = df.filter(col(valueCol).isNotNull)
      .groupBy(keys :+ col(valueCol).cast(s"decimal(18,$scale)").as("__v"): _*)
      .agg(count(lit(1)).as("__c"))
    val k = floor(lit(alpha) * col("__n").cast("double")).cast("long")
    valueRanks(counts, keyCols)
      .withColumn("__w", greatest(lit(0L),
        least(col("__s") + col("__c"), col("__n") - k) -
          greatest(col("__s"), k)))
      .filter(col("__w") > 0)
      .groupBy(keys: _*)
      .agg(max(col("__n")).as("n"),
        (max(col("__n")) - lit(2) * max(k)).as("n_kept"),
        sum(col("__w").cast("decimal(19,0)") * col("__v")).as("__sum"))
      .withColumn("mean",
        col("__sum").cast("double") / col("n_kept").cast("double"))
      .select(keys ++ Seq(col("n"), col("n_kept"), col("mean")): _*)
  }

  /** Per-GROUP exact α-winsorized mean — [[winsorizedMean]] sliced by
    * key columns: per group, the k = ⌊α·n_g⌋ most extreme rows on each
    * tail are clamped to that GROUP's fence order statistics. Same
    * identity as the global form (winsorized sum = kept-interval mass +
    * k·(fence_lo + fence_hi), decimal-exact, one division), with the
    * fences found per group by rank containment and joined back on the
    * keys (null-safe — a NULL group is its own slice). Output: key
    * columns + (n, k, fence_lo, fence_hi, mean).
    * EAGER: builds on the pinned-execution bridge, so Spark jobs
    * launch AT CALL time and the input is snapshotted then
    * ([[org.apache.spark.sql.graftbridge.RddShareBridge]]). */
  def winsorizedMeanBy(df: org.apache.spark.sql.DataFrame,
                       keyCols: Seq[String], valueCol: String,
                       alpha: Double, scale: Int = 2)
      : org.apache.spark.sql.DataFrame = {
    require(alpha >= 0.0 && alpha < 0.5, s"alpha $alpha must be in [0, 0.5)")
    val keys = keyCols.map(col)
    val counts = df.filter(col(valueCol).isNotNull)
      .groupBy(keys :+ col(valueCol).cast(s"decimal(18,$scale)").as("__v"): _*)
      .agg(count(lit(1)).as("__c"))
    val k = floor(lit(alpha) * col("__n").cast("double")).cast("long")
    val rHi = col("__n") - k - 1
    val cum = valueRanks(counts, keyCols)
    val lo = cum.filter(col("__s") <= k && k < col("__s") + col("__c"))
      .select(keys :+ col("__v").as("__flo"): _*)
    val hi = cum.filter(col("__s") <= rHi && rHi < col("__s") + col("__c"))
      .select(keys :+ col("__v").as("__fhi"): _*)
    def dk = col("__k").cast("decimal(19,0)")
    val kept = cum
      .withColumn("__w", greatest(lit(0L),
        least(col("__s") + col("__c"), col("__n") - k) -
          greatest(col("__s"), k)))
      .filter(col("__w") > 0)
      .groupBy(keys: _*)
      .agg(max(col("__n")).as("n"), max(k).as("__k"),
        sum(col("__w").cast("decimal(19,0)") * col("__v")).as("__sum"))
    joinTotals(joinTotals(kept, lo, keyCols), hi, keyCols)
      .select(keys ++ Seq(col("n"), col("__k").as("k"),
        col("__flo").cast("double").as("fence_lo"),
        col("__fhi").cast("double").as("fence_hi"),
        ((col("__sum") + dk * col("__flo") + dk * col("__fhi"))
          .cast("double") / col("n").cast("double")).as("mean")): _*)
  }

  /** Yuen's trimmed-means t-test — the ROBUST two-sample location test
    * (the A/B answer [[graft.operators.Analytics.welchT]] gives, made
    * insensitive to the heavy tails pipeline metrics actually have —
    * one viral document shifts a raw mean for a week; the α-trimmed
    * comparison doesn't blink): per group, trimmed mean x̄t over the
    * kept rank interval [k, n−k) with k = ⌊αn⌋ and h = n − 2k, the
    * WINSORIZED variance s²w (extremes clamped to the k-th/(n−k−1)-th
    * order-statistic fences — Yuen's variance estimate for a trimmed
    * mean), then
    *   d_g = s²w·(n−1)/(h(h−1)),  t = (x̄t_A − x̄t_B)/√(d_A + d_B),
    *   dof = (d_A + d_B)² / (d_A²/(h_A−1) + d_B²/(h_B−1))
    * (Welch–Satterthwaite on the trimmed counts). Plan: one keyed
    * prefix pass ([[trimmedMeanBy]]/[[winsorizedMeanBy]] machinery)
    * gives the trimmed sums AND the fence order statistics; then one
    * row-level moment scan over the CLAMPED values collects the
    * winsorized Σx, Σx² with [[graft.operators.Analytics.welchT]]'s
    * exact-decimal conventions (the clamp is pure decimal comparison,
    * the square a (18,s)×(18,s) product that fits decimal(38,2s)
    * exactly — never a blocks×weights product that would cross the
    * 38-digit width where the engines round differently). The
    * variance collapses the two exact moments in one pinned double
    * chain (welchT's cancellation caveat, shared). α = 0 degenerates
    * to exactly welchT's numbers. Groups with h < 2 → NULL t. Output:
    * one row (n_a, n_b, h_a, h_b, mean_a, mean_b, s2w_a, s2w_b,
    * diff, se, t, dof).
    * EAGER: builds on the pinned-execution bridge, so Spark jobs
    * launch AT CALL time and the input is snapshotted then
    * ([[org.apache.spark.sql.graftbridge.RddShareBridge]]). */
  def yuenTrimmedT(df: org.apache.spark.sql.DataFrame, groupCol: String,
                   valueCol: String, groupA: String, groupB: String,
                   alpha: Double, scale: Int = 2)
      : org.apache.spark.sql.DataFrame = {
    require(alpha >= 0.0 && alpha < 0.5, s"alpha $alpha must be in [0, 0.5)")
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val keyCols = Seq("__g")
    val keys = keyCols.map(col)
    val counts = df
      .filter(col(groupCol).isin(groupA, groupB) &&
        col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("__g"),
        col(valueCol).cast(s"decimal(18,$scale)").as("__v"))
      .agg(count(lit(1)).as("__c"))
    val k = floor(lit(alpha) * col("__n").cast("double")).cast("long")
    val rHi = col("__n") - k - 1
    val cum = valueRanks(counts, keyCols)
    val lo = cum.filter(col("__s") <= k && k < col("__s") + col("__c"))
      .select(col("__g").as("__kl0"), col("__v").as("__flo"))
    val hi = cum.filter(col("__s") <= rHi && rHi < col("__s") + col("__c"))
      .select(col("__g").as("__kh0"), col("__v").as("__fhi"))
    val dec2s = s"decimal(38,${2 * scale})"
    val kept = cum
      .withColumn("__w", greatest(lit(0L),
        least(col("__s") + col("__c"), col("__n") - k) -
          greatest(col("__s"), k)))
      .filter(col("__w") > 0)
      .groupBy(keys: _*)
      .agg(max(col("__n")).as("n"), max(k).as("__k"),
        sum(col("__w").cast("decimal(19,0)") * col("__v")).as("__sum"))
    val fences = lo.join(hi, col("__kl0") <=> col("__kh0"))
      .select(col("__kl0").as("__gf"), col("__flo"), col("__fhi"))
    // winsorized moments per ROW over the clamped values - welchT's
    // exact-decimal convention, type-clean in both engines
    val xw = least(greatest(col(valueCol).cast(s"decimal(18,$scale)"),
      col("__flo")), col("__fhi"))
    val wm = df
      .filter(col(groupCol).isin(groupA, groupB) &&
        col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"),
        col(valueCol).cast(s"decimal(18,$scale)").as(valueCol))
      .join(broadcast(fences), col("__g") <=> col("__gf"))
      .groupBy(col("__g").as("__gw"))
      .agg(sum(xw).as("__sw0"),
        sum((xw * xw).cast(dec2s)).as("__qw0"))
    val per = kept
      .join(lo, col("__g") <=> col("__kl0"))
      .join(hi, col("__g") <=> col("__kh0"))
      .join(wm, col("__g") <=> col("__gw"))
      .withColumn("__h", col("n") - lit(2) * col("__k"))
      .withColumn("__tmean",
        col("__sum").cast("double") / d(col("__h")))
      .withColumn("__sw", d(col("__sw0")))
      .withColumn("__qw", d(col("__qw0")))
      .withColumn("__s2w", when(col("n") > 1,
        (col("__qw") - col("__sw") * col("__sw") / d(col("n"))) /
          (d(col("n")) - 1.0)))
    def side(g: String, s: String) = Seq(
      max(when(col("__g") === g, col("n"))).as(s"n_$s"),
      max(when(col("__g") === g, col("__h"))).as(s"h_$s"),
      max(when(col("__g") === g, col("__tmean"))).as(s"mean_$s"),
      max(when(col("__g") === g, col("__s2w"))).as(s"s2w_$s"))
    val aggs = side(groupA, "a") ++ side(groupB, "b")
    per.agg(aggs.head, aggs.tail: _*)
      .withColumn("__da", when(col("h_a") > 1,
        col("s2w_a") * (d(col("n_a")) - 1.0) /
          (d(col("h_a")) * (d(col("h_a")) - 1.0))))
      .withColumn("__db", when(col("h_b") > 1,
        col("s2w_b") * (d(col("n_b")) - 1.0) /
          (d(col("h_b")) * (d(col("h_b")) - 1.0))))
      .withColumn("diff", col("mean_a") - col("mean_b"))
      .withColumn("se", when(col("__da") + col("__db") > 0,
        sqrt(col("__da") + col("__db"))))
      .withColumn("t", when(col("se") > 0, col("diff") / col("se")))
      .withColumn("dof", when(col("se") > 0 &&
          col("h_a") > 1 && col("h_b") > 1,
        (col("__da") + col("__db")) * (col("__da") + col("__db")) /
          (col("__da") * col("__da") / (d(col("h_a")) - 1.0) +
            col("__db") * col("__db") / (d(col("h_b")) - 1.0))))
      .select("n_a", "n_b", "h_a", "h_b", "mean_a", "mean_b",
        "s2w_a", "s2w_b", "diff", "se", "t", "dof")
  }

  /** EAGER: builds on the pinned-execution bridge, so Spark jobs
    * launch AT CALL time and the input is snapshotted then
    * ([[org.apache.spark.sql.graftbridge.RddShareBridge]]). */
  def quantilesCont(df: org.apache.spark.sql.DataFrame, valueCol: String,
                    ps: Seq[Double]): org.apache.spark.sql.DataFrame =
    quantilesContBy(df, Nil, valueCol, ps)

  /** Exact continuous MAD — median absolute deviation, the robust
    * scale the outlier family should be normalized by (SD explodes
    * with the very outliers you're hunting; MAD doesn't — ×1.4826 it
    * estimates the SD under normality, so `mad_normal` drops straight
    * into a robust z-score): median and deviation-median are BOTH
    * exact percentile_cont interpolations on the distributed prefix
    * ([[quantilesCont]] twice, CHAINED — the pettitt two-pass shape),
    * never a row sort or a single-task window at any cardinality. The
    * input is scanned twice (median, then |x − med|); the deviation
    * pass is a fresh distinct aggregate of the derived column. The
    * per-key member-value alternative is
    * [[graft.operators.Analytics.outliersMad]] (quantileDisc windows —
    * right for many small groups; THIS form is right when one slice
    * owns the corpus). Output: one row (n, median, mad, mad_normal);
    * empty input → NULL.
    * EAGER: builds on the pinned-execution bridge, so Spark jobs
    * launch AT CALL time and the input is snapshotted then
    * ([[org.apache.spark.sql.graftbridge.RddShareBridge]]). */
  def madCont(df: org.apache.spark.sql.DataFrame, valueCol: String)
      : org.apache.spark.sql.DataFrame =
    madContBy(df, Nil, valueCol)

  /** Per-GROUP [[madCont]] — the robust scale per slice (per-language
    * length MAD, per-source latency MAD: the slice whose outliers
    * inflate a pooled SD is exactly the slice you want the robust
    * number for). Both chained medians ride the KEYED distributed
    * prefix ([[quantilesContBy]] twice — a hot slice splits across
    * range partitions in both passes); the keys-sized median frame
    * joins back null-safe (a NULL key is its own slice, never assumed
    * broadcastable). Output: key columns + (n, median, mad,
    * mad_normal).
    * EAGER: builds on the pinned-execution bridge, so Spark jobs
    * launch AT CALL time and the input is snapshotted then
    * ([[org.apache.spark.sql.graftbridge.RddShareBridge]]). */
  def madContBy(df: org.apache.spark.sql.DataFrame, keyCols: Seq[String],
                valueCol: String): org.apache.spark.sql.DataFrame = {
    val keys = keyCols.map(col)
    val med = quantilesContBy(df, keyCols, valueCol, Seq(0.5))
      .select(keys :+ col("n") :+ col("value").as("median"): _*)
    val dev = joinTotals(df.filter(col(valueCol).isNotNull),
        med.select(keys :+ col("median"): _*), keyCols)
      .select(keys :+ abs(col(valueCol).cast("double") - col("median"))
        .as("__dev"): _*)
    val mad = quantilesContBy(dev, keyCols, "__dev", Seq(0.5))
      .select(keys :+ col("value").as("mad"): _*)
    joinTotals(mad, med, keyCols)
      // 1.4826 = 1/qnorm(0.75), the classical normal-consistency
      // constant (a fixed literal, not an inverse-CDF evaluation)
      .select(keys ++ Seq(col("n"), col("median"), col("mad"),
        (col("mad") * lit(1.4826)).as("mad_normal")): _*)
  }

  /** Distinct-value ranks of `counts` (key columns, `__v`, `__c`) per
    * key group: appends `__s` = rows strictly below `__v` and `__n` =
    * the group's row total. Both ride ONE distributed prefix pass
    * ([[graft.operators.Analytics.prefixBefore]] with totals): the
    * group total comes from the same per-slice fold, so it costs no
    * aggregate or join of its own. */
  private def valueRanks(counts: DataFrame,
      keyCols: Seq[String]): DataFrame =
    graft.operators.Analytics.prefixBefore(counts, keyCols, "__v",
        Seq("w" -> col("__c")), withTotals = true)._2
      .withColumnRenamed("__cum_w", "__s")
      .withColumnRenamed("__tot_w", "__n")
      .drop("__keymin", "__keymax")

  /** Per-GROUP exact percentiles — [[quantilesCont]] sliced by key
    * columns (per-language / per-source token-length percentiles, the
    * daily pipeline ask): SQL `percentile_cont` semantics per group,
    * WITHOUT a row sort. Same plan as the global form: the
    * distinct-value cumulative rides the KEYED distributed prefix
    * ([[graft.operators.Analytics.prefixBefore]] — the range
    * exchange is on (keys, value) compound, so a HOT group splits
    * across slices instead of serializing through one window task; the
    * per-group totals ride the same prefix pass). The
    * rank-interval containment joins carry the keys, so each group
    * interpolates independently; a group with one distinct value emits
    * that value at every p. Output: key columns + (p, n, value), one
    * row per (group, p).
    * EAGER: builds on the pinned-execution bridge, so Spark jobs
    * launch AT CALL time and the input is snapshotted then
    * ([[org.apache.spark.sql.graftbridge.RddShareBridge]]). */
  def quantilesContBy(df: org.apache.spark.sql.DataFrame,
                      keyCols: Seq[String], valueCol: String,
                      ps: Seq[Double]): org.apache.spark.sql.DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"percentiles $ps must be in [0,1]")
    require(ps.distinct.length == ps.length, s"duplicate percentiles in $ps")
    val spark = df.sparkSession
    import spark.implicits._
    val keys = keyCols.map(col)
    val counts = df.filter(col(valueCol).isNotNull)
      .groupBy(keys :+ col(valueCol).cast("double").as("__v"): _*)
      .agg(count(lit(1)).as("__c"))
    val cum = valueRanks(counts, keyCols)
    // ONE containment join against a (p, side) spine (round 16): the
    // old lower/upper pair consumed the cum frame twice, which ran the
    // |distinct|-row window sort twice — at 50M distinct values that
    // doubled the operator's dominant stage. 2·|ps| spine rows
    // broadcast; side 0 targets rank k = ⌊p(n−1)⌋, side 1 the
    // interpolation partner min(k+1, n−1); one group-by-(keys, p)
    // collapse.
    val spine = ps.toDF("p").crossJoin(Seq(0, 1).toDF("__side"))
    val t = col("p") * (col("__n") - 1).cast("double")
    val k = floor(t).cast("long")
    val tgt = when(col("__side") === 0, k)
      .otherwise(least(k + 1, col("__n") - 1))
    cum.join(broadcast(spine),
        col("__s") <= tgt && tgt < col("__s") + col("__c"))
      .groupBy(keys :+ col("p"): _*)
      .agg(max(col("__n")).as("n"),
        min(when(col("__side") === 0, col("__v"))).as("__vlo"),
        min(when(col("__side") === 1, col("__v"))).as("__vhi"),
        max(when(col("__side") === 0, t - floor(t))).as("__frac"))
      .select(keys ++ Seq(col("p"), col("n"),
        (col("__vlo") + col("__frac") * (col("__vhi") - col("__vlo")))
          .as("value")): _*)
      .orderBy(keys :+ col("p"): _*)
  }

  /** Per-quantile drift report — WHERE a distribution moved, not just
    * whether ([[graft.operators.Analytics.ksTest]] & co. give one
    * number; modelers ask "which quantiles shifted"): exact
    * percentile_cont per GROUP at each p via [[quantilesContBy]] keyed
    * on the group column (the keyed distributed prefix — both groups'
    * quantiles from ONE pass, hot groups split across range slices),
    * pivoted to per-p rows with the shift q_b − q_a. A side missing
    * entirely surfaces as NULL q/shift (FULL join on p), not a dropped
    * row. Output: one row per p — (p, n_a, n_b, q_a, q_b, shift),
    * ordered by p.
    * EAGER: builds on the pinned-execution bridge, so Spark jobs
    * launch AT CALL time and the input is snapshotted then
    * ([[org.apache.spark.sql.graftbridge.RddShareBridge]]). */
  def quantileShift(df: DataFrame, groupCol: String, valueCol: String,
                    groupA: String, groupB: String,
                    ps: Seq[Double]): DataFrame = {
    val q = quantilesContBy(
      df.filter(col(groupCol).isin(groupA, groupB)), Seq(groupCol),
      valueCol, ps)
    val qa = q.filter(col(groupCol) === groupA)
      .select(col("p"), col("n").as("n_a"), col("value").as("q_a"))
    val qb = q.filter(col(groupCol) === groupB)
      .select(col("p").as("__p2"), col("n").as("n_b"),
        col("value").as("q_b"))
    qa.join(qb, col("p") === col("__p2"), "full")
      .select(coalesce(col("p"), col("__p2")).as("p"),
        col("n_a"), col("n_b"), col("q_a"), col("q_b"),
        (col("q_b") - col("q_a")).as("shift"))
      .orderBy("p")
  }
  /** Equal-frequency (quantile) binning TRANSFORM — the feature-
    * engineering discretizer ([[quantilesCont]] reports the fences;
    * this assigns every ROW its bin): bin(v) = (rank_before(v) · B)
    * div n over the distinct-value table, so TIED VALUES ALWAYS SHARE
    * A BIN (the discretizer invariant — a value cannot straddle a
    * fence) and bins are as equal-frequency as the tie structure
    * allows. One distinct-value count aggregate, one distributed
    * prefix ([[graft.operators.Analytics.prefixBefore]]), one
    * broadcast-sized value→bin join back onto the rows — the join key
    * is the value column, so the row side never shuffles when AQE
    * broadcasts the bin table (distinct-value-bounded). NULL values
    * keep a NULL bin. Output: input columns + `bin` (0-based long).
    * EAGER: builds on the pinned-execution bridge, so Spark jobs
    * launch AT CALL time and the input is snapshotted then
    * ([[org.apache.spark.sql.graftbridge.RddShareBridge]]). */
  def quantileBin(df: org.apache.spark.sql.DataFrame, valueCol: String,
                  bins: Int): org.apache.spark.sql.DataFrame =
    quantileBinBy(df, Nil, valueCol, bins)

  /** Per-GROUP [[quantileBin]] — equal-frequency binning WITHIN each
    * slice (per-language length deciles: one language's "long" is
    * another's median, so a global grid mis-bins every slice): bin(v)
    * = (rank_before_in_group · B) div n_g over the per-group
    * distinct-value table, tied values share a bin, each group's bins
    * are as equal as its tie structure allows. The cumulative rides
    * the KEYED distributed prefix (a hot group splits across range
    * slices — no per-key window task), group totals ride the same
    * prefix pass, and the (keys, value) → bin table joins back onto the
    * rows null-safe (distinct-value-bounded build side). NULL values
    * keep a NULL bin. Output: input columns + `bin`.
    * EAGER: builds on the pinned-execution bridge, so Spark jobs
    * launch AT CALL time and the input is snapshotted then
    * ([[org.apache.spark.sql.graftbridge.RddShareBridge]]). */
  def quantileBinBy(df: org.apache.spark.sql.DataFrame,
                    keyCols: Seq[String], valueCol: String,
                    bins: Int): org.apache.spark.sql.DataFrame = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    val keys = keyCols.map(col)
    val counts = df.filter(col(valueCol).isNotNull)
      .groupBy(keys :+ col(valueCol).as("__v"): _*)
      .agg(count(lit(1)).as("__c"))
    val binned = renKeys(valueRanks(counts, keyCols)
      .select(keys ++ Seq(col("__v"),
        expr(s"(__s * ${bins}L) div __n").as("bin")): _*), keyCols, "b")
    dropTag(df.join(binned,
        keyEq(keyCols, "b") && col(valueCol) === col("__v"), "left"),
      keyCols, "b").drop("__v")
  }

  /** Winsorize TRANSFORM with percentile_cont fences — the row-level
    * companion of [[winsorizedMean]] (the mean reports; this returns
    * the CLAMPED table for downstream training) and the
    * HOT-SLICE-SAFE sibling of [[graft.functions.ML.winsorize]]
    * (which takes quantile_disc member-value fences from a per-key
    * ranking window — per-key-sequential by design, the right tool at
    * many-small-groups scale): here the fences are EXACT interpolated
    * percentile_cont values from [[quantilesCont]]/[[quantilesContBy]]
    * — the keyed distributed prefix, so ONE group owning most of the
    * corpus splits across range slices instead of serializing through
    * a window task — joined back 2-rows-per-group. The two forms
    * differ exactly as quantile_disc vs percentile_cont differ (a
    * fence BETWEEN two members interpolates here, snaps to a member
    * there). keyCols empty = global fences. NULL values stay NULL.
    * Output: input columns + `<valueCol>_winsorized`.
    * EAGER: builds on the pinned-execution bridge, so Spark jobs
    * launch AT CALL time and the input is snapshotted then
    * ([[org.apache.spark.sql.graftbridge.RddShareBridge]]). */
  def winsorizeCont(df: org.apache.spark.sql.DataFrame, keyCols: Seq[String],
                valueCol: String, pLo: Double, pHi: Double)
      : org.apache.spark.sql.DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi,
      s"need 0 <= pLo < pHi <= 1, got ($pLo, $pHi)")
    val out = s"${valueCol}_winsorized"
    val fences = quantilesContBy(df, keyCols, valueCol, Seq(pLo, pHi))
      .groupBy(keyCols.map(col): _*)
      .agg(min(when(col("p") === pLo, col("value"))).as("__flo"),
        min(when(col("p") === pHi, col("value"))).as("__fhi"))
    joinTotals(df, fences, keyCols, "left")
      .withColumn(out,
        // greatest/least SKIP nulls - guard so NULL values stay NULL
        when(col(valueCol).isNotNull,
          least(greatest(col(valueCol).cast("double"), col("__flo")),
            col("__fhi"))))
      .drop("__flo", "__fhi")
  }
}
