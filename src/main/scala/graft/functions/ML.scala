package graft.functions

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.feature.{Imputer, OneHotEncoder, StandardScaler, StringIndexer, VectorAssembler}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{NumericType, StringType}
import graft.operators.Analytics.{dropTag, joinTotals, keyEq, renKeys}

/** ML featurization (reference `ML.schema` / `ML.featuremat`,
  * `src/ml.jl:9-178`): per-column stats → standardized continuous +
  * one-hot categorical feature matrix, as a spark.ml Pipeline.
  *
  * Hints mirror the reference's (`docs/src/ml.md:17-70`): a column can be
  * forced Continuous/Categorical or dropped. The fitted pipeline is the
  * distributed analog of `ML.schema` (its fit pass computes the same
  * mean/std/countmap statistics); `transform` is `featuremat`.
  *
  * Missing values follow the reference's `Maybe` wrapper (`src/ml.jl:20-40`):
  * a nullable continuous column featurizes as (mean-imputed value,
  * 0/1 missing indicator) — `Maybe{Continuous}` is exactly "standardized
  * value + was-missing flag" — and a nullable categorical column treats
  * missing as its own category. Rows are NEVER dropped: `featuremat`
  * preserves the input row count and widens by one indicator column per
  * nullable continuous input.
  */
object ML {

  sealed trait Hint
  case object Continuous extends Hint
  case object Categorical extends Hint
  case object Drop extends Hint

  /** Sentinel category for missing categorical values (reference
    * `Maybe{Categorical}` keeps missing as a distinct level). */
  val MissingCategory = "__missing"

  /** Column-role inference: numeric → continuous, string → categorical
    * (the reference uses Variance vs CountMap stats the same way). */
  def roles(df: DataFrame, hints: Map[String, Hint] = Map.empty): Map[String, Hint] =
    df.schema.fields.map { f =>
      f.name -> hints.getOrElse(f.name, f.dataType match {
        case _: NumericType => Continuous
        case StringType => Categorical
        case _ => Drop
      })
    }.toMap

  /** Scale-adaptive parallelism gate for the one-scan bootstrap
    * aggregates (round 20, guide §2): their per-row work (one md5 + B
    * integer mix chains + 2B aggregate buffers) runs at the SCAN's
    * task count, which the input layout fixes — a ~20 MB fixture file
    * yields 3 splits, so on a 32-core box the dominant stage runs
    * 3-wide (Profile r20: q240's 1.5–2.0 s job, tasks=3). When the
    * planned input parallelism is below the session's
    * defaultParallelism, ONE deterministic hash repartition of the
    * NARROW pre-hash projection (~tens of MB) spreads the expensive
    * projection + aggregation across every core; at the 100 TB design
    * point the scan's split count exceeds any executor's core count
    * and the gate is a structural NO-OP — no shuffle is added at
    * scale. Hash-partitioning on the id (not round-robin) avoids the
    * sort-before-repartition pass and is retry-deterministic
    * (guide §2.5); values are unchanged — every downstream aggregate
    * is order-independent by the fixed-point/decimal contracts. The
    * input parallelism is read from the PLAN, never by executing it:
    * `df.rdd.getNumPartitions` would, under AQE, run every upstream
    * exchange as a throwaway job at construction time. */
  private def spreadToCores(df: DataFrame, keyCol: String): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (plannedPartitions(df.queryExecution.executedPlan) < target)
      df.repartition(target, col(keyCol))
    else df
  }

  /** Output partition count of a physical plan, without executing it:
    * AQE's initial plan (before any runtime coalescing), then any node
    * with a known partitioning (an exchange, a single partition) gives
    * its own count, a leaf its RDD's split count (file splits for a
    * scan — computed on the driver, no job), a union the sum of its
    * children, and any other node its widest child. */
  private def plannedPartitions(
      p: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.execution._
    p match {
      case a: adaptive.AdaptiveSparkPlanExec => plannedPartitions(a.inputPlan)
      case u: UnionExec => u.children.map(plannedPartitions).sum
      case _ if p.outputPartitioning.numPartitions > 0 =>
        p.outputPartitioning.numPartitions
      case s: FileSourceScanExec => s.inputRDD.getNumPartitions
      case _ if p.children.isEmpty =>
        if (p.supportsColumnar) p.executeColumnar().getNumPartitions
        else p.execute().getNumPartitions
      case _ => p.children.map(plannedPartitions).max
    }
  }

  private def contCatOf(df: DataFrame, hints: Map[String, Hint]): (Seq[String], Seq[String]) = {
    val r = roles(df, hints)
    (r.collect { case (c, Continuous) => c }.toSeq.sorted,
      r.collect { case (c, Categorical) => c }.toSeq.sorted)
  }

  /** Build the featurization pipeline: nullable continuous cols imputed
    * (mean strategy — the `Maybe` path; their `_missing` indicators are
    * added by [[featuremat]] before the fit), continuous cols assembled +
    * standardized, categorical cols indexed + one-hot, all concatenated
    * into `features`. */
  def featurePipeline(df: DataFrame, hints: Map[String, Hint] = Map.empty): Pipeline = {
    val (cont, cat) = contCatOf(df, hints)
    val nullableCont = cont.filter(c => df.schema(c).nullable)
    val imputeStages =
      if (nullableCont.nonEmpty) Seq(
        new Imputer().setStrategy("mean")
          .setInputCols(nullableCont.toArray)
          .setOutputCols(nullableCont.map(c => s"__imp_$c").toArray))
      else Nil
    val contInputs = cont.map(c => if (nullableCont.contains(c)) s"__imp_$c" else c)
    val contStages =
      if (cont.nonEmpty) Seq(
        new VectorAssembler().setInputCols(contInputs.toArray).setOutputCol("__cont"),
        new StandardScaler().setInputCol("__cont").setOutputCol("__cont_std")
          .setWithMean(true).setWithStd(true))
      else Nil
    val catStages = cat.flatMap { c =>
      Seq(new StringIndexer().setInputCol(c).setOutputCol(s"__idx_$c")
            .setStringOrderType("alphabetAsc"),
          new OneHotEncoder().setInputCol(s"__idx_$c").setOutputCol(s"__oh_$c"))
    }
    val finalCols = (if (cont.nonEmpty) Seq("__cont_std") else Nil) ++ cat.map(c => s"__oh_$c")
    val assembler = new VectorAssembler().setInputCols(finalCols.toArray).setOutputCol("features")
    new Pipeline().setStages((imputeStages ++ contStages ++ catStages :+ assembler).toArray)
  }

  /** `splitschema(sch, ks...)` (reference `src/ml.jl:155-158`): partition
    * the inferred roles into (everything else, the named columns) — the
    * features/targets split used before training. */
  def splitschema(df: DataFrame, hints: Map[String, Hint],
                  ks: String*): (Map[String, Hint], Map[String, Hint]) = {
    val r = roles(df, hints)
    (r.filterNot { case (k, _) => ks.contains(k) },
      r.filter { case (k, _) => ks.contains(k) })
  }

  /** `width(sch)` (reference `src/ml.jl:142`): the [[featuremat]] vector
    * width, computed from column stats in ONE aggregate pass without
    * fitting the pipeline — each continuous column is 1 (+1 `Maybe`
    * missing indicator if nullable, reference `src/ml.jl:112`), each
    * categorical contributes (cardinality incl. the missing level) − 1.
    * The −1 follows spark.ml's one-hot `dropLast` (full-rank encoding);
    * the reference keeps every level (`src/ml.jl:76`) — same documented
    * divergence as [[featuremat]] itself. */
  def width(df: DataFrame, hints: Map[String, Hint] = Map.empty): Int = {
    val (cont, cat) = contCatOf(df, hints)
    val nIndicators = cont.count(c => df.schema(c).nullable)
    val catWidth =
      if (cat.isEmpty) 0L
      else {
        val aggs = cat.map(c => countDistinct(
          when(col(c).isNull, lit(MissingCategory)).otherwise(col(c))).as(c))
        val row = df.agg(aggs.head, aggs.tail: _*).head()
        // max(card-1, 0): an empty frame has cardinality 0 per categorical
        // column, which must contribute 0 width, not -1
        cat.map(c => math.max(row.getAs[Long](c) - 1, 0L)).sum
      }
    cont.size + nIndicators + catWidth.toInt
  }

  /** `featuremat(schema, t)`: fit + transform to the features column.
    * Row-count preserving: missing continuous values are mean-imputed with
    * a companion `<col>_missing` indicator (itself a continuous input, so
    * it lands in the feature vector), missing categoricals become the
    * [[MissingCategory]] level. */
  def featuremat(df: DataFrame, hints: Map[String, Hint] = Map.empty): DataFrame = {
    val (cont, cat) = contCatOf(df, hints)
    val nullableCont = cont.filter(c => df.schema(c).nullable)
    var input = df.select((cont ++ cat).map(col): _*)
    // indicators BEFORE imputation erases the missingness signal
    input = nullableCont.foldLeft(input)((d, c) =>
      d.withColumn(s"${c}_missing", when(col(c).isNull, 1.0).otherwise(0.0)))
    if (cat.nonEmpty) input = input.na.fill(MissingCategory, cat)
    featurePipeline(input, hints).fit(input).transform(input)
  }

  /** Weight of one token under the feature-hashed linear model: the token
    * hashes into one of `dim` buckets (salted md5, [[Sampling.hashU32]] —
    * the engine-portable hash this module uses for every deterministic
    * gate), and the bucket's weight is derived by exact integer
    * arithmetic, in [-500, 500] milli-units. A deployed model would load
    * trained bucket weights from a table instead; the derived weights
    * keep the INFERENCE path — hash, bucket, weight lookup, exact
    * accumulation — fully oracle-checkable. */
  def hashedTokenWeight(tok: org.apache.spark.sql.Column, dim: Int,
                        salt: String): org.apache.spark.sql.Column = {
    val b = Sampling.hashU32(tok, salt) % dim
    (b % 100000L) * 2654435761L % 1001L - 500L
  }

  /** Feature-hashed linear text classifier INFERENCE — the fastText-style
    * quality-filter shape every large curation pipeline runs (hash each
    * token into a fixed-dim bucket, sum the bucket weights, threshold the
    * mean): returns struct(n_tokens, w_sum, score) where `score` =
    * w_sum / (1000·n_tokens) ∈ [-0.5, 0.5] (0.0 for empty docs).
    *
    * Pure per-row Column expression — no shuffle, no model broadcast,
    * rides the scan at 100 TB. Accumulation is exact integer milli-units
    * (a double sum would be order-dependent); the score's only rounding
    * is the final single division, identical in any IEEE engine. At
    * production scale the md5 bucket hash would be swapped for xxhash64
    * (~6× cheaper, engine-specific); md5 is the cross-engine contract the
    * correctness gate needs. */
  def hashedLinearScore(text: org.apache.spark.sql.Column, dim: Int,
                        salt: String): org.apache.spark.sql.Column = {
    val t = Text.tokens(text)
    val n = size(t).cast("long")
    val s = aggregate(t, lit(0L), (acc, tok) => acc + hashedTokenWeight(tok, dim, salt))
    struct(n.as("n_tokens"), s.as("w_sum"),
      when(n === 0L, lit(0.0))
        .otherwise(s.cast("double") / (lit(1000.0) * n.cast("double")))
        .as("score"))
  }

  /** Grouped RANK features — the standard order-statistic featurization
    * (rank-transform normalization is scale/outlier-proof where z-scores
    * are not): per key group over `valueCol`,
    *   pct_rank = (rank − 1)/(n − 1)   (0.0 for singleton groups — both
    *     engines define percent_rank that way),
    *   decile   = ntile(10)            (balanced buckets in rank order).
    * Ties: rank (not row_number) for pct_rank — equal values get equal
    * feature values, which is what makes the output deterministic (and
    * engine-exact: one integer subtraction + one division); ntile runs on
    * a unique-tiebroken order (`tieCols`) so bucket boundaries are
    * deterministic too. One exchange + one in-partition sort; both
    * functions ride the SAME window sort. */
  def rankFeatures(df: DataFrame, keyCols: Seq[String], valueCol: String,
                   tieCols: Seq[String], buckets: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    require(tieCols.nonEmpty, "rankFeatures needs unique tiebreak columns for ntile")
    val keys = keyCols.map(col)
    val wRank = Window.partitionBy(keys: _*).orderBy(col(valueCol).asc)
    val wTie = Window.partitionBy(keys: _*)
      .orderBy(col(valueCol).asc +: tieCols.map(col(_).asc): _*)
    val wAll = Window.partitionBy(keys: _*)
    df.withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("pct_rank",
        when(col("__n") === 1L, lit(0.0)).otherwise(
          (rank().over(wRank) - 1).cast("double") / (col("__n") - 1)))
      .withColumn("decile", ntile(buckets).over(wTie).cast("long"))
      .drop("__n")
  }

  /** Leave-one-out target encoding — the category→number featurization
    * that avoids self-leakage: each row's encoding is the mean target of
    * the OTHER rows of its category, (Σ_cat − own)/(n_cat − 1); singleton
    * categories fall back to the GLOBAL mean of the other rows,
    * (Σ_all − own)/(N − 1). Exactness contract: target sums accumulate in
    * decimal (order-independent), each row's encoding is then one
    * subtraction + one division on doubles — engine-exact, which is what
    * lets the q163 oracle re-derive every encoded value.
    *
    * Shuffle shape: one map-side-combined aggregate per category (tiny
    * result, broadcast back) + one single-row global aggregate — the
    * corpus itself is never shuffled. */
  def targetEncodeLoo(df: DataFrame, catCol: String, targetCol: String,
                      outCol: String = "te"): DataFrame = {
    val t = col(targetCol).cast("decimal(18,4)")
    val perCat = df.groupBy(col(catCol))
      .agg(count(lit(1)).as("__cn"), sum(t).as("__cs"))
    val global = df.agg(count(lit(1)).as("__gn"), sum(t).as("__gs"))
    df.join(broadcast(perCat), Seq(catCol))
      .crossJoin(broadcast(global)) // one row — scale-safe
      .withColumn(outCol,
        when(col("__cn") > 1L,
          (col("__cs") - t).cast("double") / (col("__cn") - 1))
        .when(col("__gn") > 1L,
          (col("__gs") - t).cast("double") / (col("__gn") - 1))
        .otherwise(lit(0.0)))
      .drop("__cn", "__cs", "__gn", "__gs")
  }

  /** Deterministic sparse ±1 sign matrix (Achlioptas, JCSS'03: entries
    * +1/0/−1 with probabilities 1/6, 2/3, 1/6) derived from the module's
    * salted-md5 hash — sign(j,i) = hashU32("salt:j:i") mod 6 mapped
    * {0→+1, 5→−1, else 0} — so ANY engine with md5 re-derives the exact
    * matrix (the correctness oracle does, in SQL). */
  def sparseSignMatrix(k: Int, dim: Int, salt: String): Array[Array[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(k, dim) { (j, i) =>
      val hex = md.digest(s"$salt:$j:$i".getBytes("UTF-8"))
        .take(4).map(b => f"$b%02x").mkString
      (java.lang.Long.parseLong(hex, 16) % 6L) match {
        case 0L => 1
        case 5L => -1
        case _ => 0
      }
    }
  }

  /** Sparse random projection of an embedding column to `k` dims
    * (Johnson–Lindenstrauss via the Achlioptas ±1 sparse matrix):
    * proj_j = Σ_i sign(j,i)·v_i, computed EXACTLY on the fix9
    * fixed-point image in one native codegen'd pass per row
    * (plans.SparseSignProject — the matrix rides as a codegen reference
    * object, 2/3 of entries skip arithmetic entirely). The projection is
    * unscaled (distance ratios are preserved up to the constant √(3/k);
    * apply it downstream if absolute distances matter).
    *
    * This is the 100 TB dimensionality lever COMPLEMENTARY to SQ8/PQ:
    * quantization shrinks bytes-per-dim, projection shrinks DIMS — a
    * 1024-dim float corpus projected to 64 dims is 16× fewer bytes
    * before any quantizer runs, and the deterministic matrix means the
    * projection needs no training pass and no model artifact. Zero
    * exchanges: rides the scan. */
  def randomProjectSparse(df: DataFrame, idCol: String, vecCol: String,
                          dim: Int, k: Int, salt: String = "rp"): DataFrame = {
    require(k >= 1 && dim >= 1, s"need k, dim >= 1, got ($k, $dim)")
    val signs = sparseSignMatrix(k, dim, salt)
    df.select(col(idCol),
      graft.plans.HashExpressions.sparseProject(col(vecCol), signs).as("proj"))
  }

  /** Calibration (reliability-diagram) bins: scores bucketed into
    * `bins` equal-WIDTH bins over [lo, hi), each reporting its exact
    * count, mean score, and positive rate — whether "0.8 means 80%".
    * Mean score accumulates in decimal; rates are single pinned
    * divisions. ONE map-side-combined aggregate (bins are a per-row
    * expression, never a window) — the [[aucRoc]] companion: AUC says
    * the ranking is right, calibration says the VALUES are.
    * EAGER: builds on the pinned-execution bridge, so Spark jobs
    * launch AT CALL time and the input is snapshotted then
    * ([[org.apache.spark.sql.graftbridge.RddShareBridge]]). */
  def calibrationBins(df: DataFrame, scoreCol: String,
                      label: org.apache.spark.sql.Column, bins: Int,
                      lo: Double = 0.0, hi: Double = 1.0,
                      scale: Int = 6): DataFrame = {
    require(bins >= 1 && hi > lo, s"need bins >= 1 and hi > lo")
    val width = (hi - lo) / bins
    val bin = least(greatest(
      floor((col(scoreCol) - lo) / width).cast("long"), lit(0L)),
      lit(bins.toLong - 1))
    df.groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col(scoreCol).cast(s"decimal(18,$scale)")).as("__ss"),
        sum(when(label, 1L).otherwise(0L)).as("n_pos"))
      .withColumn("mean_score",
        col("__ss").cast("double") / col("n").cast("double"))
      .withColumn("pos_rate",
        col("n_pos").cast("double") / col("n").cast("double"))
      .drop("__ss")
  }

  /** Exact AUC-ROC of a score column against a boolean label — the
    * rank-sum (Mann–Whitney) form with average ranks for ties, kept in
    * INTEGER arithmetic end to end:
    *   2·R_pos = Σ_s pos_s · (2·cum_before(s) + tot_s + 1)
    *   AUC = (2·R_pos − n_pos·(n_pos+1)) / (2·n_pos·n_neg)
    * — one (score)-grouped count aggregate, one DISTRIBUTED prefix pass
    * over the DISTINCT scores (the ksTest/spearman prefixBefore
    * machinery — no single-task sort at any score cardinality),
    * decimal(38,0) accumulation, ONE final division. Degenerate
    * single-class inputs yield NULL. The exact companion of
    * [[confusionMetrics]]: threshold-free filter evaluation at corpus
    * scale.
    * EAGER: builds on the pinned-execution bridge, so Spark jobs
    * launch AT CALL time and the input is snapshotted then
    * ([[org.apache.spark.sql.graftbridge.RddShareBridge]]). */
  def aucRoc(df: DataFrame, scoreCol: String,
             label: org.apache.spark.sql.Column): DataFrame =
    aucRocBy(df, Nil, scoreCol, label)

  /** Per-GROUP exact AUC-ROC — [[aucRoc]] sliced by key columns (per
    * language, per source: a quality filter that ranks well pooled can
    * rank poorly inside one slice, and the pooled AUC hides it). Same
    * integer rank-sum model with average-rank ties, but the
    * distinct-score cumulative rides the KEYED distributed prefix
    * ([[graft.operators.Analytics.prefixBefore]] — a hot slice's
    * score set splits across range partitions instead of serializing
    * through one window task) and the rank sums aggregate per group.
    * Single-class slices emit NULL auc. Output: key columns +
    * (n_pos, n_neg, auc).
    * EAGER: builds on the pinned-execution bridge, so Spark jobs
    * launch AT CALL time and the input is snapshotted then
    * ([[org.apache.spark.sql.graftbridge.RddShareBridge]]). */
  def aucRocBy(df: DataFrame, keyCols: Seq[String], scoreCol: String,
               label: org.apache.spark.sql.Column): DataFrame = {
    val keys = keyCols.map(col)
    val counts = df
      .groupBy(keys :+ col(scoreCol).as("__s"): _*)
      .agg(sum(when(label, 1L).otherwise(0L)).as("__pos"),
        count(lit(1)).as("__tot"))
    graft.operators.Analytics.prefixBefore(counts, keyCols, "__s",
        Seq("w" -> col("__tot")))._2
      .withColumnRenamed("__cum_w", "__before")
      .groupBy(keys: _*)
      .agg(
        sum(col("__pos")).as("n_pos"),
        (sum(col("__tot")) - sum(col("__pos"))).as("n_neg"),
        sum(col("__pos").cast("decimal(38,0)") *
          (lit(2) * col("__before") + col("__tot") + 1)).as("__r2"))
      .withColumn("auc",
        when(col("n_pos") > 0 && col("n_neg") > 0,
          (col("__r2") - col("n_pos").cast("decimal(38,0)") * (col("n_pos") + 1))
            .cast("double") /
            (lit(2.0) * col("n_pos").cast("double") * col("n_neg").cast("double"))))
      .drop("__r2")
  }

  /** Exact average precision (area under the precision–recall curve,
    * step form) — [[aucRoc]]'s companion for IMBALANCED labels, where
    * ROC-AUC flatters (a filter keeping 0.1% positives can score 0.99
    * ROC-AUC while its precision is garbage). The threshold set is the
    * distinct scores descending; at threshold s, TP(s)/FP(s) are
    * suffix sums of the per-score label counts, and
    *   AP = Σ_s (ΔRecall_s)·Precision_s
    *      = Σ_s (pos_s / n_pos) · (TP(s) / (TP(s) + FP(s)))
    * — every term a pinned double over EXACT integer suffix counts
    * (suffix = total − strictly-before prefix, so the same
    * [[graft.operators.Analytics.prefixBefore]] machinery serves: no
    * sort, distinct-score-bounded at any cardinality), summed as exact
    * decimal(28,12). Matches the standard step-interpolation AP
    * (sklearn's average_precision_score) including tie handling: tied
    * scores form ONE threshold. Zero-positive inputs give NULL ap.
    * Output: one row (n_pos, n_neg, ap).
    * EAGER: builds on the pinned-execution bridge, so Spark jobs
    * launch AT CALL time and the input is snapshotted then
    * ([[org.apache.spark.sql.graftbridge.RddShareBridge]]). */
  def avgPrecision(df: DataFrame, scoreCol: String,
                   label: org.apache.spark.sql.Column): DataFrame =
    avgPrecisionBy(df, Nil, scoreCol, label)

  /** Per-GROUP [[avgPrecision]] — the sliced PR-AUC (per-language
    * filter precision: exactly where class balance differs BETWEEN
    * slices, the pooled AP is dominated by the majority slice). Keyed
    * distributed prefix; the per-group totals ride the same pass.
    * Output: key columns + (n_pos, n_neg, ap).
    * EAGER: builds on the pinned-execution bridge, so Spark jobs
    * launch AT CALL time and the input is snapshotted then
    * ([[org.apache.spark.sql.graftbridge.RddShareBridge]]). */
  def avgPrecisionBy(df: DataFrame, keyCols: Seq[String], scoreCol: String,
                     label: org.apache.spark.sql.Column): DataFrame = {
    val keys = keyCols.map(col)
    val counts = df
      .groupBy(keys :+ col(scoreCol).as("__s"): _*)
      .agg(sum(when(label, 1L).otherwise(0L)).as("__pos"),
        count(lit(1)).as("__tot"))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    graft.operators.Analytics
      .prefixBefore(counts, keyCols, "__s",
        Seq("p" -> col("__pos"), "t" -> col("__tot")), withTotals = true)._2
      .withColumnRenamed("__tot_p", "__np")
      .withColumnRenamed("__tot_t", "__nt")
      .withColumn("__term", when(col("__np") > 0, // ANSI: no 0/0
        ((d(col("__pos")) / d(col("__np"))) *
          (d(col("__np") - col("__cum_p")) /
            d(col("__nt") - col("__cum_t")))).cast("decimal(28,12)")))
      .groupBy(keys: _*)
      .agg(max(col("__np")).as("n_pos"),
        (max(col("__nt")) - max(col("__np"))).as("n_neg"),
        sum(col("__term")).cast("double").as("__ap"))
      .select(keys ++ Seq(col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0, col("__ap")).as("ap")): _*)
  }

  /** Probability-calibration evaluation — Brier score + expected
    * calibration error (ECE), the CALIBRATION half of score eval
    * beside the RANKING half ([[aucRoc]]/[[avgPrecision]], which are
    * invariant to any monotone rescale of the score and so can't see
    * that a "0.9" fires at 60%). One pass over (prob, label):
    *   Brier = mean (p − y)²  — strictly proper, decomposable
    *   ECE   = Σ_b (n_b/N) · |acc_b − conf_b|  over `bins` equal-width
    *           probability bins (acc = label rate, conf = mean p)
    * Each per-row term is a pinned double cast to exact
    * decimal(28,12), so the sums are order-independent and the whole
    * chain replays in any engine; the bin table is bins-bounded and
    * the global totals ride a broadcast one-row aggregate. `probCol`
    * is the caller's [0,1] probability (out-of-range rows clamp into
    * the edge bins; the Brier term uses p as given). Output: one row
    * (n, brier, ece). */
  def calibration(df: DataFrame, probCol: String,
                  label: org.apache.spark.sql.Column,
                  bins: Int = 10): DataFrame =
    calibrationBy(df, Nil, probCol, label, bins)

  /** Per-GROUP [[calibration]] — per-language/per-source calibration
    * audit (a score calibrated in aggregate is routinely miscalibrated
    * per slice). Same one-pass shape with the key columns in both
    * groupBys; the bin table is (groups × bins)-bounded and the
    * per-group totals join back null-safe (keys-sized, never
    * broadcast-assumed). Output: key columns + (n, brier, ece). */
  def calibrationBy(df: DataFrame, keyCols: Seq[String], probCol: String,
                    label: org.apache.spark.sql.Column,
                    bins: Int = 10): DataFrame = {
    require(bins > 0, "calibration needs at least one bin")
    val keys = keyCols.map(col)
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val base = df.select(keys ++ Seq(col(probCol).as("__p"),
      when(label, 1.0).otherwise(0.0).as("__y"),
      least(greatest(floor(col(probCol) * bins).cast("long"), lit(0L)),
        lit(bins - 1L)).as("__bin")): _*)
    val g = base.groupBy(keys: _*).agg(count(lit(1)).as("__n"),
      sum(((col("__p") - col("__y")) * (col("__p") - col("__y")))
        .cast("decimal(28,12)")).as("__sbr"))
    val ece = joinTotals(base.groupBy(keys :+ col("__bin"): _*)
      .agg(count(lit(1)).as("__nb"),
        sum(col("__y").cast("decimal(28,12)")).as("__sy"),
        sum(col("__p").cast("decimal(28,12)")).as("__sp")),
        g.select(keys :+ col("__n"): _*), keyCols)
      .withColumn("__term", ((d(col("__nb")) / d(col("__n"))) *
        abs(d(col("__sy")) / d(col("__nb")) -
          d(col("__sp")) / d(col("__nb")))).cast("decimal(28,12)"))
      .groupBy(keys: _*).agg(sum(col("__term")).as("__e"))
    joinTotals(g, ece, keyCols, "left")
      .select(keys ++ Seq(col("__n").as("n"),
        when(col("__n") > 0, d(col("__sbr")) / d(col("__n"))).as("brier"),
        when(col("__n") > 0, d(col("__e"))).as("ece")): _*)
  }

  /** Confusion-matrix evaluation at a decision point — exact counts
    * (tp, fp, fn, tn) plus the derived precision / recall / F1 /
    * Matthews correlation, the THRESHOLDED half of classifier eval
    * beside the threshold-free [[aucRoc]]/[[avgPrecision]] (a deployed
    * filter runs at ONE operating point; these are its numbers). One
    * map-side-combined scan; the numerator tp·tn − fp·fn is an exact
    * decimal(38,0) integer cross-product cast once, the denominator a
    * pinned double sqrt. Degenerate margins (no predicted positives,
    * no actual positives, any zero MCC margin, p + r = 0) emit NULL
    * for the affected ratio — undefined, not zero. Output: one row
    * (n, tp, fp, fn, tn, precision, recall, f1, mcc). */
  def confusionStats(df: DataFrame, label: org.apache.spark.sql.Column,
                     predicted: org.apache.spark.sql.Column): DataFrame =
    confusionStatsBy(df, Nil, label, predicted)

  /** Per-GROUP [[confusionStats]] — the sliced operating point (a
    * filter tuned on the pooled corpus routinely has slice precision
    * far off the pooled number). Output: key columns + the same row. */
  def confusionStatsBy(df: DataFrame, keyCols: Seq[String],
                       label: org.apache.spark.sql.Column,
                       predicted: org.apache.spark.sql.Column): DataFrame = {
    val aggs = confusionAggs(label, predicted)
    confusionChain(df.groupBy(keyCols.map(col): _*).agg(aggs.head,
      aggs.tail: _*))
  }

  private def confusionAggs(label: org.apache.spark.sql.Column,
      predicted: org.apache.spark.sql.Column) = Seq(
    sum(when(label && predicted, 1L).otherwise(0L)).as("tp"),
    sum(when(!label && predicted, 1L).otherwise(0L)).as("fp"),
    sum(when(label && !predicted, 1L).otherwise(0L)).as("fn"),
    sum(when(!label && !predicted, 1L).otherwise(0L)).as("tn"))

  private def confusionChain(agg: DataFrame): DataFrame = {
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    agg
      .withColumn("n", col("tp") + col("fp") + col("fn") + col("tn"))
      .withColumn("precision", when(col("tp") + col("fp") > 0,
        d(col("tp")) / d(col("tp") + col("fp"))))
      .withColumn("recall", when(col("tp") + col("fn") > 0,
        d(col("tp")) / d(col("tp") + col("fn"))))
      .withColumn("f1", when(col("precision") + col("recall") > 0,
        lit(2.0) * col("precision") * col("recall") /
          (col("precision") + col("recall"))))
      .withColumn("mcc", when(
        col("tp") + col("fp") > 0 && col("tp") + col("fn") > 0 &&
          col("tn") + col("fp") > 0 && col("tn") + col("fn") > 0,
        (col("tp").cast("decimal(38,0)") * col("tn") -
          col("fp").cast("decimal(38,0)") * col("fn")).cast("double") /
          sqrt(d(col("tp") + col("fp")) * d(col("tp") + col("fn")) *
            d(col("tn") + col("fp")) * d(col("tn") + col("fn")))))
      .select((agg.columns.filter(c => !Seq("tp", "fp", "fn", "tn")
          .contains(c)).map(col).toSeq ++
        Seq(col("n"), col("tp"), col("fp"), col("fn"), col("tn"),
          col("precision"), col("recall"), col("f1"), col("mcc"))): _*)
  }

  /** Cohen's kappa — chance-corrected inter-annotator agreement over
    * two categorical columns (two labeling runs, a model vs a human
    * pass, [[graft.operators.Text]]'s heuristic language-ID vs the
    * recorded language): κ = (p_o − p_e)/(1 − p_e) with p_o the
    * observed agreement and p_e = Σ_k (n_aₖ/n)(n_bₖ/n) the chance
    * agreement from the marginals. Multi-class; rows where either
    * side is NULL are excluded (no agreement defined). EXACT up to the
    * single final division: the identity κ = (n·Σ a_kk − Σ n_aₖ·n_bₖ)
    * / (n² − Σ n_aₖ·n_bₖ) keeps everything integer in decimal(38,0).
    * Plan: ONE contingency-cell aggregate (map-side combined), two
    * classes-sized marginal aggregates off it, one classes-sized join
    * — no row-scale shuffle past the first groupBy. Degenerate p_e = 1
    * (both raters constant) → NULL kappa. Output: one row
    * (n, po, pe, kappa). */
  def cohensKappa(df: DataFrame, aCol: String, bCol: String): DataFrame =
    cohensKappaBy(df, Nil, aCol, bCol)

  /** Pairwise κ matrix over an m-rater panel — WHICH annotator
    * disagrees with whom ([[fleissKappa]] gives one pooled number; the
    * triage question after it dips is always per-pair: one drifted
    * labeler looks completely different against everyone, two rival
    * guideline readings split the matrix into blocks): every rater
    * pair's [[cohensKappa]] over the items BOTH rated, from ONE
    * self-join on the item key (pairs ordered rater_a < rater_b —
    * each unordered pair once) into the keyed kappa machinery. Raters
    * are panel-bounded (m² pairs of keys-sized frames after the
    * join); the join itself is items×ratings-scale, shuffled on the
    * item key. REQUIRES one rating per (item, rater) — duplicates
    * would silently multiply pairs, so they RAISE (the guard rides a
    * one-row broadcast on the main data path, so it fires even when
    * the panel has zero co-rated items and the output is empty). Output: one row
    * per co-rating pair, (rater_a, rater_b, n, po, pe, kappa),
    * ordered. */
  def pairwiseKappa(df: DataFrame, itemCol: String, raterCol: String,
                    labelCol: String): DataFrame = {
    val base = df.filter(col(itemCol).isNotNull &&
        col(raterCol).isNotNull && col(labelCol).isNotNull)
      .select(col(itemCol).as("__it"), col(raterCol).as("__r"),
        col(labelCol).as("__l"))
    val chk = base.agg(count(lit(1)).as("__cn"),
      countDistinct(struct(col("__it"), col("__r"))).as("__cd"))
    // The guard rides the BROADCAST side of the main data path (not a
    // column on the output rows): a zero-co-rated-pair panel yields an
    // empty kappa frame, and a raise column on empty output never
    // evaluates — whereas this one-row broadcast materializes whenever
    // base is non-empty (and an empty base cannot hold duplicates), so
    // duplicates ALWAYS raise. Threaded through as a constant group key
    // so column pruning cannot elide the projection carrying the raise.
    val chkGuard = chk.select(
      when(col("__cn") === col("__cd"), lit(1))
        .otherwise(raise_error(lit("pairwiseKappa: duplicate (item, " +
          "rater) ratings — the self-join would silently multiply " +
          "pairs; pre-aggregate to one rating per item per rater")))
        .as("__dupok"))
    val a = base.select(col("__it"), col("__r").as("rater_a"),
      col("__l").as("__la")).crossJoin(broadcast(chkGuard))
    val b = base.select(col("__it").as("__itb"),
      col("__r").as("rater_b"), col("__l").as("__lb"))
    val pairs = a.join(b, col("__it") === col("__itb") &&
      col("rater_a") < col("rater_b"))
    cohensKappaBy(pairs, Seq("rater_a", "rater_b", "__dupok"),
        "__la", "__lb")
      .drop("__dupok")
      .orderBy("rater_a", "rater_b")
  }

  /** Per-GROUP [[cohensKappa]] — per-language/per-source agreement (a
    * labeler pair that agrees in aggregate routinely diverges on one
    * slice). Same exact integer identity; the marginal join and the
    * final join are (groups × classes)-sized, null-safe on keys.
    * Output: key columns + (n, po, pe, kappa). */
  def cohensKappaBy(df: DataFrame, keyCols: Seq[String], aCol: String,
                    bCol: String): DataFrame = {
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val keys = keyCols.map(col)
    val cell = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(keys :+ col(aCol).as("__a") :+ col(bCol).as("__b"): _*)
      .agg(count(lit(1)).as("__c"))
    val tot = cell.groupBy(keys: _*).agg(sum(col("__c")).as("n"),
      sum(when(col("__a") === col("__b"), col("__c")).otherwise(0L))
        .as("__agr"))
    val ma = cell.groupBy(keys :+ col("__a").as("__k"): _*)
      .agg(sum("__c").as("__na"))
    val mb = renKeys(cell.groupBy(keys :+ col("__b").as("__mk"): _*)
      .agg(sum("__c").as("__nb")), keyCols, "m")
    val pe = ma.join(mb, keyEq(keyCols, "m") && col("__k") === col("__mk"))
      .groupBy(keys: _*)
      .agg(sum(dec(col("__na")) * dec(col("__nb"))).as("__pe2"))
    joinTotals(tot, pe, keyCols, "left")
      .withColumn("__pe2", coalesce(col("__pe2"),
        lit(0L).cast("decimal(38,0)")))
      .withColumn("__num", dec(col("n")) * dec(col("__agr")) - col("__pe2"))
      .withColumn("__den", dec(col("n")) * dec(col("n")) - col("__pe2"))
      .select(keys ++ Seq(col("n"),
        when(col("n") > 0, d(col("__agr")) / d(col("n"))).as("po"),
        when(col("n") > 0,
          d(col("__pe2")) / (d(col("n")) * d(col("n")))).as("pe"),
        when(col("__den") > 0,
          d(col("__num")) / d(col("__den"))).as("kappa")): _*)
  }

  /** Fleiss' kappa — chance-corrected agreement for m RATERS per
    * subject ([[cohensKappa]] handles exactly two fixed raters; Fleiss
    * handles "each document labeled by m annotators", rater identity
    * immaterial — the multi-labeler QA statistic for annotation
    * pipelines). Input: one row per RATING (subject, category);
    * subjects must carry exactly `raters` ratings — others are
    * EXCLUDED (the classical statistic requires equal m) and counted.
    *   P̄  = (Σᵢ Σⱼ nᵢⱼ² − N·m) / (N·m·(m−1))   — per-subject agreement
    *   P̄e = Σⱼ pⱼ²,  pⱼ = category share over kept ratings
    *   κ  = (P̄ − P̄e) / (1 − P̄e)
    * EXACT until two pinned divisions: Σnᵢⱼ² accumulates in
    * decimal(38,0) (integer adds), category totals are exact longs,
    * each pⱼ² term is a pinned double summed as decimal(28,12)
    * (categories-sized). Plan: one (subject, category) cell aggregate,
    * one subjects-sized roll-up, the kept-subject filter as a join —
    * nothing row-scale past the first groupBy; subjects may be
    * corpus-sized, every frame after the cells is subjects- or
    * categories-bounded. Output: one row (n_subjects, n_excluded, m,
    * p_bar, p_e, kappa); P̄e = 1 (all ratings one category) → NULL. */
  def fleissKappa(df: org.apache.spark.sql.DataFrame, subjectCol: String,
                  categoryCol: String, raters: Int)
      : org.apache.spark.sql.DataFrame = {
    require(raters >= 2, s"fleissKappa needs raters >= 2, got $raters")
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val cells = df.filter(col(subjectCol).isNotNull &&
        col(categoryCol).isNotNull)
      .groupBy(col(subjectCol).as("__s"), col(categoryCol).as("__k"))
      .agg(count(lit(1)).as("__c"))
    val subj = cells.groupBy(col("__s"))
      .agg(sum(col("__c")).as("__m"),
        sum(dec(col("__c")) * col("__c")).as("__s2"))
    val keptSubj = subj.filter(col("__m") === raters)
    val excluded = subj.filter(col("__m") =!= raters)
      .agg(count(lit(1)).as("n_excluded"))
    val pbar = keptSubj.agg(count(lit(1)).as("n_subjects"),
      coalesce(sum(col("__s2")), dec(lit(0))).as("__ss"))
    val catTot = cells.join(keptSubj.select(col("__s")), Seq("__s"))
      .groupBy(col("__k")).agg(sum(col("__c")).as("__ck"))
    val peTot = catTot
      .crossJoin(broadcast(pbar.select(col("n_subjects").as("__ns"))))
      .agg(coalesce(sum(
        ((d(col("__ck")) / (d(col("__ns")) * lit(raters.toDouble))) *
          (d(col("__ck")) / (d(col("__ns")) * lit(raters.toDouble))))
          .cast("decimal(28,12)")), lit(0).cast("decimal(28,12)"))
        .cast("double").as("p_e"))
    val mD = raters.toDouble
    pbar.crossJoin(broadcast(excluded)).crossJoin(broadcast(peTot))
      .withColumn("p_bar",
        when(col("n_subjects") > 0,
          (d(col("__ss")) - d(col("n_subjects")) * lit(mD)) /
            (d(col("n_subjects")) * lit(mD) * lit(mD - 1.0))))
      .select(col("n_subjects"), col("n_excluded"),
        lit(raters).as("m"), col("p_bar"), col("p_e"),
        when(col("n_subjects") > 0 && lit(1.0) - col("p_e") > 0,
          (col("p_bar") - col("p_e")) / (lit(1.0) - col("p_e")))
          .as("kappa"))
  }

  /** Krippendorff's alpha (nominal metric) — the agreement statistic
    * that survives MISSING ratings ([[fleissKappa]] requires exactly m
    * raters per subject; real annotation tables rarely comply — α
    * uses every unit with ≥ 2 ratings, weighting by its own pairable
    * mass): with n_uc the unit×category counts, m_u = Σ_c n_uc,
    *   D_o = (1/n)·Σ_u Σ_c n_uc·(m_u − n_uc)/(m_u − 1),
    *   D_e = Σ_c n_c(n − n_c) / (n(n−1)),   α = 1 − D_o/D_e,
    * n = Σ m_u over kept units. Exactness: the per-unit disagreement
    * terms are pinned doubles (the /(m_u−1) rational) summed as
    * decimal(28,12); category totals and the D_e cross-product are
    * exact decimal(38,0); one pinned closing chain. Single-rating
    * units are EXCLUDED (no pairable ratings) and counted. Plan: one
    * (unit, category) cell aggregate, a units-sized roll-up joined
    * back onto the cells — nothing row-scale past the first groupBy.
    * Output: one row (n_units, n_units_excluded, n_ratings, d_o, d_e,
    * alpha); every rating one category (D_e = 0) → NULL alpha. */
  def krippendorffAlpha(df: org.apache.spark.sql.DataFrame,
                        unitCol: String, categoryCol: String)
      : org.apache.spark.sql.DataFrame = {
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val dec28 = (c: org.apache.spark.sql.Column) => c.cast("decimal(28,12)")
    val cells = df.filter(col(unitCol).isNotNull &&
        col(categoryCol).isNotNull)
      .groupBy(col(unitCol).as("__u"), col(categoryCol).as("__k"))
      .agg(count(lit(1)).as("__c"))
    val per = cells.groupBy(col("__u")).agg(sum(col("__c")).as("__m"))
    val kept = per.filter(col("__m") >= 2)
    val excluded = per.filter(col("__m") < 2)
      .agg(count(lit(1)).as("n_units_excluded"))
    val units = kept.agg(count(lit(1)).as("n_units"),
      coalesce(sum(col("__m")), lit(0L)).as("n_ratings"))
    val joined = cells.join(kept.select(col("__u"), col("__m")), Seq("__u"))
    val doNum = joined.agg(
      coalesce(sum(dec28(d(col("__c")) * d(col("__m") - col("__c")) /
        d(col("__m") - 1))), lit(0).cast("decimal(28,12)"))
        .cast("double").as("__do"))
    val catTot = joined.groupBy(col("__k")).agg(sum(col("__c")).as("__nc"))
    val deNum = catTot
      .crossJoin(broadcast(units.select(col("n_ratings").as("__n"))))
      .agg(coalesce(sum(dec(col("__nc")) * (col("__n") - col("__nc"))),
        dec(lit(0))).as("__de"))
    units.crossJoin(broadcast(excluded))
      .crossJoin(broadcast(doNum)).crossJoin(broadcast(deNum))
      .withColumn("d_o",
        when(col("n_ratings") > 0, col("__do") / d(col("n_ratings"))))
      .withColumn("d_e",
        when(col("n_ratings") > 1,
          d(col("__de")) /
            (d(col("n_ratings")) * (d(col("n_ratings")) - 1.0))))
      .select(col("n_units"), col("n_units_excluded"), col("n_ratings"),
        col("d_o"), col("d_e"),
        when(col("d_e") > 0, lit(1.0) - col("d_o") / col("d_e"))
          .as("alpha"))
  }

  /** Gwet's AC1 — the agreement coefficient ROBUST to the prevalence
    * paradox that deflates kappa ([[fleissKappa]]'s P̄e rewards a rare
    * category so heavily that two raters agreeing 95% of the time on
    * a 95/5 split can score κ near 0 or below; AC1's chance term
    *   P̄e = (1/(K−1))·Σ_c π_c(1−π_c),  π_c the mean category share,
    * models chance as rating RANDOMLY only when uncertain, so it
    * stays stable under skewed prevalence — report both: a large
    * κ↔AC1 gap IS the prevalence warning): same cells, same exact
    * P̄ numerator, same equal-`raters` contract and exclusion
    * accounting as [[fleissKappa]]; K = categories observed among
    * kept subjects. Output: one row (n_subjects, n_excluded, m,
    * k_categories, p_a, p_e, ac1); K < 2 → NULL (chance term
    * undefined). */
  def gwetAC1(df: org.apache.spark.sql.DataFrame, subjectCol: String,
              categoryCol: String, raters: Int)
      : org.apache.spark.sql.DataFrame = {
    require(raters >= 2, s"gwetAC1 needs raters >= 2, got $raters")
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val dec28 = (c: org.apache.spark.sql.Column) => c.cast("decimal(28,12)")
    val cells = df.filter(col(subjectCol).isNotNull &&
        col(categoryCol).isNotNull)
      .groupBy(col(subjectCol).as("__s"), col(categoryCol).as("__k"))
      .agg(count(lit(1)).as("__c"))
    val subj = cells.groupBy(col("__s"))
      .agg(sum(col("__c")).as("__m"),
        sum(dec(col("__c")) * col("__c")).as("__s2"))
    val keptSubj = subj.filter(col("__m") === raters)
    val excluded = subj.filter(col("__m") =!= raters)
      .agg(count(lit(1)).as("n_excluded"))
    val pbar = keptSubj.agg(count(lit(1)).as("n_subjects"),
      coalesce(sum(col("__s2")), dec(lit(0))).as("__ss"))
    val catTot = cells.join(keptSubj.select(col("__s")), Seq("__s"))
      .groupBy(col("__k")).agg(sum(col("__c")).as("__ck"))
    val mD = raters.toDouble
    val peTot = catTot
      .crossJoin(broadcast(pbar.select(col("n_subjects").as("__ns"))))
      .withColumn("__pi", d(col("__ck")) / (d(col("__ns")) * lit(mD)))
      .agg(count(lit(1)).as("k_categories"),
        coalesce(sum(dec28(col("__pi") * (lit(1.0) - col("__pi")))),
          lit(0).cast("decimal(28,12)")).cast("double").as("__pesum"))
    pbar.crossJoin(broadcast(excluded)).crossJoin(broadcast(peTot))
      .withColumn("p_a",
        when(col("n_subjects") > 0,
          (d(col("__ss")) - d(col("n_subjects")) * lit(mD)) /
            (d(col("n_subjects")) * lit(mD) * lit(mD - 1.0))))
      .withColumn("p_e",
        when(col("k_categories") > 1,
          col("__pesum") / (d(col("k_categories")) - 1.0)))
      .select(col("n_subjects"), col("n_excluded"),
        lit(raters).as("m"), col("k_categories"), col("p_a"), col("p_e"),
        when(col("n_subjects") > 0 && col("k_categories") > 1 &&
            lit(1.0) - col("p_e") > 0,
          (col("p_a") - col("p_e")) / (lit(1.0) - col("p_e")))
          .as("ac1"))
  }

  /** Lin's concordance correlation coefficient — agreement between two
    * CONTINUOUS measurements ([[cohensKappa]] is categorical; Pearson
    * r is blind to scale/location bias — two thermometers reading
    * y = 2x correlate perfectly but do NOT agree):
    *   ρ_c = 2·s_xy / (s_x² + s_y² + (x̄ − ȳ)²),
    * biased (÷n) moments per Lin 1989; also reported: Pearson r and
    * the bias-correction factor C_b = ρ_c/r (how much of the
    * disagreement is pure location/scale shift). ONE map-side-combined
    * scan of exact decimal (n, Σx, Σy, Σx², Σy², Σxy), one pinned
    * chain. Rows with either side NULL excluded. Output: one row
    * (n, mean_x, mean_y, r, ccc, c_b); zero variance on either side →
    * NULL r/c_b (ccc itself survives via the location term unless
    * both variances AND the location gap are zero). */
  def linConcordance(df: org.apache.spark.sql.DataFrame, xCol: String,
                     yCol: String, scale: Int = 2)
      : org.apache.spark.sql.DataFrame = {
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val x = col(xCol).cast(s"decimal(18,$scale)")
    val y = col(yCol).cast(s"decimal(18,$scale)")
    df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(x).cast("double").as("__sx"),
        sum(y).cast("double").as("__sy"),
        sum(x * x).cast("double").as("__sxx"),
        sum(y * y).cast("double").as("__syy"),
        sum(x * y).cast("double").as("__sxy"))
      .withColumn("mean_x", when(col("n") > 0, col("__sx") / d(col("n"))))
      .withColumn("mean_y", when(col("n") > 0, col("__sy") / d(col("n"))))
      .withColumn("__vx",
        col("__sxx") / d(col("n")) - col("mean_x") * col("mean_x"))
      .withColumn("__vy",
        col("__syy") / d(col("n")) - col("mean_y") * col("mean_y"))
      .withColumn("__cxy",
        col("__sxy") / d(col("n")) - col("mean_x") * col("mean_y"))
      .withColumn("__gap",
        (col("mean_x") - col("mean_y")) * (col("mean_x") - col("mean_y")))
      .withColumn("r",
        when(col("__vx") > 0 && col("__vy") > 0,
          col("__cxy") / sqrt(col("__vx") * col("__vy"))))
      .withColumn("ccc",
        when(col("__vx") + col("__vy") + col("__gap") > 0,
          lit(2.0) * col("__cxy") /
            (col("__vx") + col("__vy") + col("__gap"))))
      .withColumn("c_b",
        when(col("r").isNotNull && col("r") =!= 0.0,
          col("ccc") / col("r")))
      .select("n", "mean_x", "mean_y", "r", "ccc", "c_b")
  }

  /** Bland–Altman agreement summary — the method-comparison REPORT
    * beside [[linConcordance]]'s single number (BA reads bias and
    * spread in measurement units — the clinical/metrology standard):
    * over per-row differences d = x − y,
    *   bias = d̄,  sd = sample SD of d,  LoA = bias ∓ 1.96·sd.
    * ONE map-side-combined scan of exact decimal (n, Σd, Σd²) —
    * differences of decimal-cast values stay exact — then a pinned
    * chain ([[graft.operators.Analytics.pairedT]] supplies the
    * inference on the same differences; this supplies the limits).
    * Output: one row (n, bias, sd_diff, loa_lo, loa_hi); n < 2 →
    * NULL sd/limits. */
  def blandAltman(df: org.apache.spark.sql.DataFrame, xCol: String,
                  yCol: String, scale: Int = 2)
      : org.apache.spark.sql.DataFrame = {
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val dd = col(xCol).cast(s"decimal(18,$scale)") -
      col(yCol).cast(s"decimal(18,$scale)")
    df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(dd).cast("double").as("__sd"),
        sum(dd * dd).cast("double").as("__sdd"))
      .withColumn("bias", when(col("n") > 0, col("__sd") / d(col("n"))))
      .withColumn("__v",
        when(col("n") >= 2,
          (col("__sdd") - col("__sd") * col("__sd") / d(col("n"))) /
            (d(col("n")) - 1.0)))
      .withColumn("sd_diff", when(col("__v") >= 0, sqrt(col("__v"))))
      .select(col("n"), col("bias"), col("sd_diff"),
        (col("bias") - lit(1.96) * col("sd_diff")).as("loa_lo"),
        (col("bias") + lit(1.96) * col("sd_diff")).as("loa_hi"))
  }

  /** ICC(2,1) — intraclass correlation, two-way random effects, single
    * measure, absolute agreement (the Shrout–Fleiss form for "k raters
    * score n subjects; raters are a random sample; does a SINGLE
    * rating agree with truth" — penalizes systematic rater bias, which
    * consistency forms forgive): from the two-way ANOVA decomposition
    *   ICC = (MSR − MSE) / (MSR + (k−1)·MSE + k·(MSC − MSE)/n).
    * EXACT sums throughout: cell values cast decimal(18,scale); row
    * (subject) and column (rater) sums kept in decimal and SQUARED in
    * decimal (exact — never a double cast of a large magnitude, the
    * oneWayF cast-boundary lesson applied at design time), so every
    * SS is one pinned double built from exact decimals. Complete
    * design required: subjects missing any rater are EXCLUDED and
    * counted; duplicate (subject, rater) cells collapse by MAX. Plan:
    * one cell aggregate, subjects-/raters-sized roll-ups. Output: one
    * row (n_subjects, n_excluded, k_raters, ms_rows, ms_cols, ms_err,
    * icc21); degenerate denominators → NULL. */
  def icc21(df: org.apache.spark.sql.DataFrame, subjectCol: String,
            raterCol: String, valueCol: String, scale: Int = 2)
      : org.apache.spark.sql.DataFrame = {
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val decV = s"decimal(18,$scale)"
    val cell = df.filter(col(subjectCol).isNotNull &&
        col(raterCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(subjectCol).as("__s"), col(raterCol).as("__r"))
      .agg(max(col(valueCol).cast(decV)).as("__v"))
    val k = cell.select(col("__r")).distinct().count()
    val per = cell.groupBy(col("__s")).agg(count(lit(1)).as("__kr"),
      sum(col("__v")).cast(decV).as("__ri"))
    val keptSubj = per.filter(col("__kr") === k)
    val nExcluded = per.filter(col("__kr") =!= k).count()
    val kept = cell.join(keptSubj.select(col("__s")), Seq("__s"))
    val tot = kept.agg(
      sum(col("__v")).cast(decV).as("__t"),
      sum(col("__v") * col("__v")).as("__sxx"))
    val rows = keptSubj.agg(count(lit(1)).as("n_subjects"),
      coalesce(sum(col("__ri") * col("__ri")),
        lit(0).cast(s"decimal(38,${2 * scale})")).as("__sr2"))
    val cols = kept.groupBy(col("__r"))
      .agg(sum(col("__v")).cast(decV).as("__cj"))
      .agg(coalesce(sum(col("__cj") * col("__cj")),
        lit(0).cast(s"decimal(38,${2 * scale})")).as("__sc2"))
    rows.crossJoin(broadcast(tot)).crossJoin(broadcast(cols))
      .withColumn("__k", lit(k).cast("double"))
      .withColumn("__nd", d(col("n_subjects")))
      .withColumn("__cf",
        d(col("__t")) * d(col("__t")) / (col("__nd") * col("__k")))
      .withColumn("__sstot", d(col("__sxx")) - col("__cf"))
      .withColumn("__ssrows", d(col("__sr2")) / col("__k") - col("__cf"))
      .withColumn("__sscols", d(col("__sc2")) / col("__nd") - col("__cf"))
      .withColumn("__sserr",
        col("__sstot") - col("__ssrows") - col("__sscols"))
      .withColumn("ms_rows",
        when(col("__nd") > 1, col("__ssrows") / (col("__nd") - 1.0)))
      .withColumn("ms_cols",
        when(col("__k") > 1, col("__sscols") / (col("__k") - 1.0)))
      .withColumn("ms_err",
        when(col("__nd") > 1 && col("__k") > 1,
          col("__sserr") / ((col("__nd") - 1.0) * (col("__k") - 1.0))))
      .withColumn("__den",
        col("ms_rows") + (col("__k") - 1.0) * col("ms_err") +
          col("__k") * (col("ms_cols") - col("ms_err")) / col("__nd"))
      .select(col("n_subjects"), lit(nExcluded).as("n_excluded"),
        lit(k).as("k_raters"), col("ms_rows"), col("ms_cols"),
        col("ms_err"),
        when(col("__den") > 0,
          (col("ms_rows") - col("ms_err")) / col("__den")).as("icc21"))
  }

  /** Cronbach's alpha — internal consistency of k items scored over n
    * subjects ("do these k quality heuristics measure one underlying
    * thing", the scale-reliability standard; for BINARY items this IS
    * Kuder–Richardson KR-20):
    *   α = k/(k−1) · (1 − Σⱼ var_item_j / var_total),
    * var_total the sample variance of per-subject TOTAL scores.
    * Exactness: cell values cast decimal(18,scale); per-subject row
    * sums and their squares stay EXACT in decimal (the icc21
    * discipline); the per-item variance reduction is an ORDERED
    * k-sized fold (sort_array + aggregate — the oneWayF
    * cast-boundary contract, item-variance magnitudes are unbounded).
    * Complete design required (subjects missing items EXCLUDED and
    * counted); duplicate (subject, item) cells collapse by MAX.
    * Output: one row (n_subjects, n_excluded, k_items, sum_item_var,
    * total_var, alpha); n < 2, k < 2, or zero total variance →
    * NULL. */
  def cronbachAlpha(df: org.apache.spark.sql.DataFrame, subjectCol: String,
                    itemCol: String, valueCol: String, scale: Int = 2)
      : org.apache.spark.sql.DataFrame = {
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val decV = s"decimal(18,$scale)"
    val cell = df.filter(col(subjectCol).isNotNull &&
        col(itemCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(subjectCol).as("__s"), col(itemCol).as("__i"))
      .agg(max(col(valueCol).cast(decV)).as("__v"))
    val k = cell.select(col("__i")).distinct().count()
    val per = cell.groupBy(col("__s")).agg(count(lit(1)).as("__ki"),
      sum(col("__v")).cast(decV).as("__ri"))
    val keptSubj = per.filter(col("__ki") === k)
    val nExcluded = per.filter(col("__ki") =!= k).count()
    val kept = cell.join(keptSubj.select(col("__s")), Seq("__s"))
    val rows = keptSubj.agg(count(lit(1)).as("n_subjects"),
      coalesce(sum(col("__ri")).cast(decV), lit(0).cast(decV)).as("__sr"),
      coalesce(sum(col("__ri") * col("__ri")),
        lit(0).cast(s"decimal(38,${2 * scale})")).as("__sr2"))
    // per-item exact moments, then an ORDERED fold over the k items
    val items = kept.groupBy(col("__i"))
      .agg(count(lit(1)).as("__ni"),
        sum(col("__v")).cast(decV).as("__s1"),
        sum(col("__v") * col("__v")).as("__s2"))
      .withColumn("__var",
        when(col("__ni") >= 2,
          (d(col("__s2")) - d(col("__s1")) * d(col("__s1")) /
            d(col("__ni"))) / (d(col("__ni")) - 1.0)))
      .select(struct(col("__i").as("i"), col("__var")).as("__t"))
      .agg(count(lit(1)).as("k_items"),
        min(col("__t").getField("__var")).as("__minvar"),
        sort_array(collect_list(col("__t"))).as("__is"))
      .withColumn("sum_item_var", aggregate(col("__is"), lit(0.0),
        (acc, x) => acc + x.getField("__var")))
      .drop("__is")
    rows.crossJoin(broadcast(items))
      .withColumn("total_var",
        when(col("n_subjects") >= 2,
          (d(col("__sr2")) - d(col("__sr")) * d(col("__sr")) /
            d(col("n_subjects"))) / (d(col("n_subjects")) - 1.0)))
      .select(col("n_subjects"), lit(nExcluded).as("n_excluded"),
        col("k_items"), col("sum_item_var"), col("total_var"),
        when(col("n_subjects") >= 2 && col("k_items") > 1 &&
            col("total_var") > 0 && col("__minvar").isNotNull,
          (d(col("k_items")) / (d(col("k_items")) - 1.0)) *
            (lit(1.0) - col("sum_item_var") / col("total_var")))
          .as("alpha"))
  }

  /** Spiegelhalter's Z calibration test — the SIGNIFICANCE test the
    * [[calibration]] estimates lack (ECE says "the gap is 0.04"; this
    * says whether that gap is distinguishable from binomial noise at
    * this sample size, with no binning to tune):
    *   Z = Σ(y−p)(1−2p) / √Σ(1−2p)²·p·(1−p),
    * mean 0 / variance 1 under perfect calibration. One scan; each
    * term is a pinned double of magnitude ≤ 1 (the replayable-cast
    * zone by construction) summed as decimal(28,12). Degenerate
    * variance (every p = ½, or empty) → NULL z. Output: one row
    * (n, num, var, z). */
  def spiegelhalterZ(df: DataFrame, probCol: String,
                     label: org.apache.spark.sql.Column): DataFrame = {
    val dec28 = (c: org.apache.spark.sql.Column) => c.cast("decimal(28,12)")
    val p = col(probCol)
    val y = when(label, 1.0).otherwise(0.0)
    df.filter(p.isNotNull)
      .agg(count(lit(1)).as("n"),
        coalesce(sum(dec28((y - p) * (lit(1.0) - lit(2.0) * p))),
          lit(0).cast("decimal(28,12)")).cast("double").as("num"),
        coalesce(sum(dec28((lit(1.0) - lit(2.0) * p) *
          (lit(1.0) - lit(2.0) * p) * p * (lit(1.0) - p))),
          lit(0).cast("decimal(28,12)")).cast("double").as("var"))
      .withColumn("z",
        when(col("var") > 0, col("num") / sqrt(col("var"))))
  }

  /** Murphy decomposition of the Brier score — WHY is the score what
    * it is: Brier = REL − RES + UNC with
    *   REL = Σ_k (n_k/N)(p_k − ȳ_k)²   (reliability — miscalibration),
    *   RES = Σ_k (n_k/N)(ȳ_k − ȳ)²    (resolution — discrimination),
    *   UNC = ȳ(1 − ȳ)                  (base-rate entropy),
    * grouped by DISTINCT forecast values — where the identity is EXACT
    * (equal-width bins only approximate it); the spec pins
    * REL − RES + UNC == Brier to 1e-9. A model can buy a good Brier
    * with resolution while badly calibrated — this separates the two
    * ([[spiegelhalterZ]] then tests the REL part). Distinct-score-
    * bounded after one row scan: share-weighted terms ≤ 1 (replayable
    * casts), grand mean broadcast. Output: one row (n, brier,
    * reliability, resolution, uncertainty). */
  def brierDecomposition(df: DataFrame, probCol: String,
                         label: org.apache.spark.sql.Column): DataFrame = {
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val dec28 = (c: org.apache.spark.sql.Column) => c.cast("decimal(28,12)")
    val base = df.filter(col(probCol).isNotNull)
      .select(col(probCol).as("__p"),
        when(label, 1.0).otherwise(0.0).as("__y"))
    val tot = base.agg(count(lit(1)).as("n"),
      sum(when(col("__y") > 0.5, 1L).otherwise(0L)).as("__pos"),
      coalesce(sum(dec28((col("__p") - col("__y")) *
        (col("__p") - col("__y")))), lit(0).cast("decimal(28,12)"))
        .cast("double").as("__sbr"))
      .withColumn("__ybar",
        when(col("n") > 0, d(col("__pos")) / d(col("n"))))
    val cells = base.groupBy(col("__p"))
      .agg(count(lit(1)).as("__nk"),
        sum(when(col("__y") > 0.5, 1L).otherwise(0L)).as("__posk"))
    cells.crossJoin(broadcast(tot))
      .withColumn("__yk", d(col("__posk")) / d(col("__nk")))
      .groupBy(col("n"), col("__sbr"), col("__ybar"))
      .agg(
        coalesce(sum(dec28((d(col("__nk")) / d(col("n"))) *
          (col("__p") - col("__yk")) * (col("__p") - col("__yk")))),
          lit(0).cast("decimal(28,12)")).cast("double").as("reliability"),
        coalesce(sum(dec28((d(col("__nk")) / d(col("n"))) *
          (col("__yk") - col("__ybar")) * (col("__yk") - col("__ybar")))),
          lit(0).cast("decimal(28,12)")).cast("double").as("resolution"))
      .select(col("n"),
        when(col("n") > 0, col("__sbr") / d(col("n"))).as("brier"),
        col("reliability"), col("resolution"),
        (col("__ybar") * (lit(1.0) - col("__ybar"))).as("uncertainty"))
  }

  /** Hosmer–Lemeshow goodness-of-fit — the BINNED calibration test
    * practitioners expect beside the distinct-value pair
    * ([[spiegelhalterZ]] tests calibration pointwise,
    * [[brierDecomposition]] attributes the Brier score; HL answers
    * the reviewer's "group into score deciles and test observed vs
    * expected" form): bins are EQUAL-FREQUENCY on the exact
    * distributed rank ([[graft.operators.Aggregations.quantileBin]] —
    * no approximate percentiles, ties share a bin), then
    *   C = Σ_g (O_g − E_g)² / (n_g·p̄_g·(1 − p̄_g)),  χ²(g − 2) under H₀,
    * with O_g the observed events, E_g = Σ p the expected, p̄_g =
    * E_g/n_g. Bins with p̄ = 0 or 1 have an undefined term; they are
    * EXCLUDED and counted (g_used, dof = g_used − 2) rather than
    * silently zeroed. E_g accumulates as decimal(18,scale) (exact,
    * order-free); the χ² terms are pinned doubles summed as
    * decimal(28,12) over a bins-sized frame. Plan: the quantileBin
    * keyed-prefix machinery + one cells aggregate — nothing row-scale
    * after the bin join. Output: one row (n, g, g_used, chi2, dof);
    * g_used = 0 → NULL chi2.
    * EAGER: builds on the pinned-execution bridge, so Spark jobs
    * launch AT CALL time and the input is snapshotted then
    * ([[org.apache.spark.sql.graftbridge.RddShareBridge]]). */
  def hosmerLemeshow(df: DataFrame, probCol: String,
                     label: org.apache.spark.sql.Column, bins: Int = 10,
                     scale: Int = 6): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val dec28 = (c: org.apache.spark.sql.Column) => c.cast("decimal(28,12)")
    val base = df.filter(col(probCol).isNotNull)
      .select(col(probCol).cast("double").as("__pr"),
        when(label, 1L).otherwise(0L).as("__y"))
    val binned = graft.operators.Aggregations.quantileBin(base, "__pr", bins)
    val cells = binned.groupBy(col("bin"))
      .agg(count(lit(1)).as("__ng"), sum(col("__y")).as("__og"),
        sum(col("__pr").cast(s"decimal(18,$scale)")).as("__eg"))
      .withColumn("__pbar", d(col("__eg")) / d(col("__ng")))
      .withColumn("__ok", col("__pbar") > 0.0 && col("__pbar") < 1.0)
    cells.agg(
        coalesce(sum(col("__ng")), lit(0L)).as("n"),
        count(lit(1)).as("g"),
        sum(when(col("__ok"), 1L).otherwise(0L)).as("g_used"),
        sum(when(col("__ok"), dec28(
          (d(col("__og")) - d(col("__eg"))) *
            (d(col("__og")) - d(col("__eg"))) /
            (d(col("__ng")) * col("__pbar") * (lit(1.0) - col("__pbar"))))))
          .cast("double").as("__c"))
      .select(col("n"), col("g"), col("g_used"),
        when(col("g_used") > 0, col("__c")).as("chi2"),
        when(col("g_used") > 2, col("g_used") - 2).as("dof"))
  }

  /** Top principal component of a set of numeric columns — the
    * embedding-whitening / dominant-direction primitive
    * ([[graft.operators.Analytics.corrMatrix]] reports pairwise
    * association; this extracts the single direction that explains the
    * most variance, the first thing a drift investigation projects
    * onto): ONE corpus scan collects the p + p(p+1)/2 decimal
    * sufficient statistics (the corrMatrix plan — map-side combined,
    * no shuffle of rows), the p×p sample covariance is assembled on
    * the driver in pinned double chains (p is the COLUMN count —
    * tens, never data-sized), and the dominant eigenpair comes from
    * deterministic power iteration (fixed start 1/√p, fixed
    * convergence rule, sign fixed by the first nonzero loading — a
    * pure function of the covariance, so results are reproducible
    * across runs and partitionings). Power iteration is approximate
    * BY NATURE, so the exactness gate follows the estimator-gate
    * discipline: `variance` (the diagonal) is an exactly-replayable
    * pinned chain, and the eigenpair ships with its own checkable
    * certificates — `resid_ok` (‖Cv − λv‖∞ ≤ tol·max(1, λ)) and
    * `bounds_ok` (max variance ≤ λ ≤ trace, the Rayleigh bounds).
    * Degenerate inputs (n < 2, or an all-zero covariance) yield NULL
    * loadings with both flags false. Output: one row per column —
    * (dim, variance, loading, eigenvalue, explained, resid_ok,
    * bounds_ok). */
  def topPrincipalComponent(df: DataFrame, cols: Seq[String],
                            scale: Int = 4, maxIter: Int = 5000,
                            tol: Double = 1e-13): DataFrame = {
    require(cols.size >= 2, s"need >= 2 columns, got $cols")
    require(cols.distinct.size == cols.size, s"duplicate columns in $cols")
    val spark = df.sparkSession
    import spark.implicits._
    val complete = df.filter(cols.map(c => col(c).isNotNull).reduce(_ && _))
    val vs = cols.map(c => col(c).cast(s"decimal(18,$scale)"))
    val idx = cols.indices
    val aggs = (count(lit(1)).as("__n") +:
      idx.map(i => sum(vs(i)).cast("double").as(s"__s$i"))) ++
      (for { i <- idx; j <- idx if j >= i } yield
        sum(vs(i) * vs(j)).cast("double").as(s"__p${i}_$j"))
    val row = complete.agg(aggs.head, aggs.tail: _*).collect().head
    val n = row.getLong(0)
    val p = cols.size
    if (n < 2) {
      return idx.map(i => (cols(i), null.asInstanceOf[java.lang.Double],
          null.asInstanceOf[java.lang.Double],
          null.asInstanceOf[java.lang.Double],
          null.asInstanceOf[java.lang.Double], false, false))
        .toDF("dim", "variance", "loading", "eigenvalue", "explained",
          "resid_ok", "bounds_ok")
    }
    val s = idx.map(i => row.getDouble(1 + i)).toArray
    val pr = Array.ofDim[Double](p, p)
    var k = 1 + p
    for (i <- idx; j <- idx if j >= i) {
      pr(i)(j) = row.getDouble(k); pr(j)(i) = pr(i)(j); k += 1
    }
    val nD = n.toDouble
    // sample covariance, pinned chain: (n·p_ij − s_i·s_j) / (n·(n−1))
    val c = Array.tabulate(p, p)((i, j) =>
      (nD * pr(i)(j) - s(i) * s(j)) / (nD * (nD - 1.0)))
    val trace = idx.map(i => c(i)(i)).sum
    var v = Array.fill(p)(1.0 / math.sqrt(p.toDouble))
    var lambda = 0.0
    var it = 0
    var moved = true
    while (it < maxIter && moved) {
      val w = Array.tabulate(p)(i => idx.map(j => c(i)(j) * v(j)).sum)
      val norm = math.sqrt(w.map(x => x * x).sum)
      if (norm == 0.0) { moved = false }
      else {
        val nv = w.map(_ / norm)
        moved = idx.exists(i => math.abs(nv(i) - v(i)) > tol)
        v = nv; lambda = norm
        // norm of Cv equals the Rayleigh quotient in the limit; track λ
        // as v'Cv for a symmetric-exact value
        lambda = idx.map(i => v(i) * idx.map(j => c(i)(j) * v(j)).sum).sum
      }
      it += 1
    }
    val degenerate = lambda == 0.0
    // sign convention: first nonzero loading positive
    val firstNz = v.indexWhere(math.abs(_) > 0)
    if (firstNz >= 0 && v(firstNz) < 0) v = v.map(-_)
    val cv = Array.tabulate(p)(i => idx.map(j => c(i)(j) * v(j)).sum)
    val resid = idx.map(i => math.abs(cv(i) - lambda * v(i))).max
    val residOk = !degenerate && resid <= 1e-8 * math.max(1.0, lambda)
    val maxVar = idx.map(i => c(i)(i)).max
    val boundsOk = !degenerate &&
      lambda >= maxVar - 1e-8 * math.max(1.0, math.abs(maxVar)) &&
      lambda <= trace + 1e-8 * math.max(1.0, math.abs(trace))
    idx.map { i =>
      if (degenerate)
        (cols(i), java.lang.Double.valueOf(c(i)(i)),
          null.asInstanceOf[java.lang.Double],
          null.asInstanceOf[java.lang.Double],
          null.asInstanceOf[java.lang.Double], false, false)
      else
        (cols(i), java.lang.Double.valueOf(c(i)(i)),
          java.lang.Double.valueOf(v(i)), java.lang.Double.valueOf(lambda),
          java.lang.Double.valueOf(if (trace > 0) lambda / trace else 0.0),
          residOk, boundsOk)
    }.toDF("dim", "variance", "loading", "eigenvalue", "explained",
      "resid_ok", "bounds_ok")
  }

  /** Weight-of-evidence table — the classic categorical-feature
    * screening beside [[targetEncodeLoo]] (LOO encodes for a MODEL;
    * WoE/IV is what the analyst READS: which feature levels separate
    * the classes, and how much predictive power the feature carries in
    * total): per level k, WoE_k = ln((g_k/G)/(b_k/B)) and
    * iv_term_k = (g_k/G − b_k/B)·WoE_k; the feature's information
    * value is Σ iv_term (< 0.02 useless, > 0.3 strong — the standard
    * scorecard bands). ONE map-side-combined (level) aggregate, one-row
    * broadcast totals, pinned double chains. Zero-cell levels (g or b
    * = 0) emit NULL woe/iv_term — undefined, not clipped; pre-bin rare
    * levels upstream if that matters. Output: one row per level —
    * (level, n, g, b, share_g, share_b, woe, iv_term).
    * EAGER: builds on the pinned-execution bridge, so Spark jobs
    * launch AT CALL time and the input is snapshotted then
    * ([[org.apache.spark.sql.graftbridge.RddShareBridge]]). */
  def woeTable(df: DataFrame, featureCol: String,
               label: org.apache.spark.sql.Column): DataFrame = {
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val g = df.filter(col(featureCol).isNotNull)
      .groupBy(col(featureCol).as("level"))
      .agg(count(lit(1)).as("n"),
        sum(when(label, 1L).otherwise(0L)).as("g"),
        sum(when(label, 0L).otherwise(1L)).as("b"))
    val tot = g.agg(sum(col("g")).as("__gt"), sum(col("b")).as("__bt"))
    g.crossJoin(broadcast(tot))
      .withColumn("share_g",
        when(col("__gt") > 0, d(col("g")) / d(col("__gt"))))
      .withColumn("share_b",
        when(col("__bt") > 0, d(col("b")) / d(col("__bt"))))
      .withColumn("woe",
        when(col("g") > 0 && col("b") > 0 &&
          col("__gt") > 0 && col("__bt") > 0,
          log(col("share_g") / col("share_b"))))
      .select(col("level"), col("n"), col("g"), col("b"),
        col("share_g"), col("share_b"), col("woe"),
        ((col("share_g") - col("share_b")) * col("woe")).as("iv_term"))
  }

  /** Cumulative-gains / lift table — the score-eval report modelers
    * read before any single number (aucRoc compresses the whole curve;
    * the lift table says "the top decile captures X% of positives at
    * Y× the base rate" — the targeting decision itself): rows are
    * ranked by (score desc, id asc) — the registry's deterministic
    * tie-break — cut into `buckets` equal-rank buckets, and each
    * bucket reports exact (rows, pos), its positive rate, the
    * cumulative capture, and lift = rate / base-rate. The global rank
    * needs NO single-task window: per-distinct-score block starts come
    * from the distributed prefix ([[graft.operators.Analytics.prefixBefore]]
    * on the negated score, weight = block size), and the within-block
    * offset is a per-block window whose partition size is the tie
    * count (an all-tied column degenerates to one block — score
    * cardinality is the operator's parallelism, as everywhere in the
    * rank family). Bucket math is exact integer arithmetic
    * ((rank·buckets) div n); the bucket frame is buckets-sized, so its
    * cumulative window is bounded by construction. Empty buckets
    * (n < buckets) surface with n_rows = 0 and NULL rates via the
    * generated spine. Output: one row per bucket —
    * (bucket, n_rows, pos, rate, cum_pos, capture, lift).
    * EAGER: builds on the pinned-execution bridge, so Spark jobs
    * launch AT CALL time and the input is snapshotted then
    * ([[org.apache.spark.sql.graftbridge.RddShareBridge]]). */
  def liftTable(df: DataFrame, idCol: String, scoreCol: String,
                label: org.apache.spark.sql.Column,
                buckets: Int = 10): DataFrame =
    liftTableBy(df, Nil, idCol, scoreCol, label, buckets)

  /** Per-GROUP [[liftTable]] — one cumulative-gains report per slice
    * (per language, per source: a score that targets well pooled is
    * routinely flat on one slice). Same rank construction with every
    * stage keyed: block starts from the KEYED distributed prefix
    * ([[graft.operators.Analytics.prefixBefore]] — a hot
    * slice's score column splits across range partitions), within-
    * block row_numbers partitioned by (keys, score), per-key totals
    * joined back (keys-sized, never assumed broadcastable), a
    * (keys × buckets) spine for empty buckets, and the cumulative
    * window per key over its buckets-sized frame. Output: key columns
    * + (bucket, n_rows, pos, rate, cum_pos, capture, lift).
    * EAGER: builds on the pinned-execution bridge, so Spark jobs
    * launch AT CALL time and the input is snapshotted then
    * ([[org.apache.spark.sql.graftbridge.RddShareBridge]]). */
  def liftTableBy(df: DataFrame, keyCols: Seq[String], idCol: String,
                  scoreCol: String, label: org.apache.spark.sql.Column,
                  buckets: Int = 10): DataFrame = {
    require(buckets >= 1, "liftTable needs buckets >= 1")
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val keys = keyCols.map(col)
    val base = df.select(keys ++ Seq(col(idCol).as("__id"),
      (-col(scoreCol).cast("double")).as("__ns"),
      when(label, 1L).otherwise(0L).as("__y")): _*)
    val counts = base.groupBy(keys :+ col("__ns"): _*)
      .agg(count(lit(1)).as("__c"))
    val starts = renKeys(graft.operators.Analytics
      .prefixBefore(counts, keyCols, "__ns", Seq("c" -> col("__c")))._2
      .select(keys :+ col("__ns").as("__ns2") :+
        col("__cum_c").as("__start"): _*), keyCols, "s")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys :+ col("__ns"): _*).orderBy(col("__id"))
    val ranked = dropTag(base.join(starts,
        keyEq(keyCols, "s") && col("__ns") === col("__ns2")), keyCols, "s")
      .withColumn("__r", col("__start") + row_number().over(w) - 1)
    // totals from base, not ranked: ranked re-runs the rank join +
    // window per consumer, and the totals need neither (round 16).
    // NULL scores drop out of ranked via the null-unequal join — the
    // filter replays that.
    val tot = base.filter(col("__ns").isNotNull).groupBy(keys: _*)
      .agg(count(lit(1)).as("__n"), sum(col("__y")).as("__p"))
    val perBucket = joinTotals(ranked, tot, keyCols)
      .groupBy(keys :+ expr(s"(__r * $buckets) div __n").as("bucket"): _*)
      .agg(count(lit(1)).as("n_rows"), sum(col("__y")).as("pos"))
    // empty buckets surface through a (groups × buckets) spine; with
    // no keys the spine is the bucket range itself
    val range = df.sparkSession.range(buckets).select(col("id").as("bucket"))
    val spine =
      if (keyCols.isEmpty) range
      else tot.select(keys: _*).distinct().crossJoin(range)
    val filled = dropTag(spine.join(
      renKeys(perBucket.withColumnRenamed("bucket", "__bkt"), keyCols, "b"),
      keyEq(keyCols, "b") && col("bucket") === col("__bkt"), "left"),
      keyCols, "b")
      .select(keys ++ Seq(col("bucket"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"),
        coalesce(col("pos"), lit(0L)).as("pos")): _*)
    val cw = org.apache.spark.sql.expressions.Window
      .partitionBy(keys: _*).orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    joinTotals(filled.withColumn("__cum", sum(col("pos")).over(cw)), tot,
        keyCols)
      .select(keys ++ Seq(col("bucket"), col("n_rows"), col("pos"),
        when(col("n_rows") > 0, d(col("pos")) / d(col("n_rows"))).as("rate"),
        col("__cum").as("cum_pos"),
        when(col("__p") > 0, d(col("__cum")) / d(col("__p"))).as("capture"),
        when(col("n_rows") > 0 && col("__p") > 0,
          (d(col("pos")) / d(col("n_rows"))) /
            (d(col("__p")) / d(col("__n")))).as("lift")): _*)
      .orderBy(keys :+ col("bucket"): _*)
  }

  /** Two-sample Poisson-bootstrap mean DIFFERENCE — the uncertainty
    * band for an A/B effect ([[graft.operators.Analytics.welchT]]
    * gives the parametric t; the bootstrap replicates give a
    * distribution-free CI by reading quantiles off the `diff` column):
    * per replicate j, both groups' resampled means from the SAME
    * deterministic per-row Poisson(1) weights as [[bootstrapMeans]]
    * (ONE md5 per row fanned into b uniforms by the mixU32 integer
    * finalizer), computed as 4·b conditional map-side-combined
    * aggregate expressions over ONE scan — no shuffle, no second pass.
    * A replicate that resamples a group to zero rows emits NULL for
    * that mean (and the diff). Output: b rows —
    * (rep, n_a, n_b, mean_a, mean_b, diff). */
  def bootstrapMeanDiff(df: DataFrame, idCol: String, valueCol: String,
                        groupCol: String, groupA: String, groupB: String,
                        b: Int, salt: String, scale: Int = 4): DataFrame = {
    require(b >= 1 && b <= 32, s"b must be in [1,32], got $b")
    require(scale >= 0 && scale <= 6, s"scale must be in [0, 6], got " +
      s"$scale — the decimal divide-back is typed decimal(38,6): scale " +
      "7+ silently rounds means at 6 digits, scale 10+ overflows the " +
      "decimal(10,0) divisor to NULL (r19 ADVICE)")
    val (h1, h2) = graft.functions.Sampling.hash64Words(col(idCol), salt)
    val hashed = spreadToCores(df.filter(col(groupCol).isin(groupA, groupB))
        .select(Seq(valueCol, groupCol, idCol).distinct.map(col): _*), idCol)
      .select(col(valueCol), (col(groupCol) === groupA).as("__ga"),
        h1.as("__h1"), h2.as("__h2"))
    // fixed-point Σw·v — the [[bootstrapMeans]] round-19 form (long
    // snap shared across replicates, w ≤ 8 so the product can't
    // overflow, one shared count-compare tripwire, exact decimal
    // divide-back); see that operator for the full contract note
    val m = math.pow(10, scale)
    val v = col(valueCol).cast("double")
    // ONE snap copy ([[FixedPoint.snapAtBound]], r19 ADVICE): 2^60
    // range bound because w ≤ 8 multiplies the unscaled image
    val pc = FixedPoint.snapAtBound(v, m, FixedPoint.boundForFactor8)
    val aggs = (0 until b).flatMap { j =>
      val u = graft.functions.Sampling.mixU32(col("__h1"), col("__h2"), j)
        .cast("double") / lit(4294967296.0)
      val w = poisson1Cdf.zipWithIndex
        .foldLeft(Option.empty[org.apache.spark.sql.Column]) {
          case (acc, (t, k)) =>
            Some(acc.fold(when(u < t, k))(_.when(u < t, k)))
        }.get.otherwise(poisson1Cdf.length).cast("long")
      val wv = (w * pc).cast("decimal(38,0)")
      Seq(sum(when(col("__ga"), w).otherwise(0L)).as(s"__na$j"),
        sum(when(col("__ga"), wv)).as(s"__sa$j"),
        sum(when(!col("__ga"), w).otherwise(0L)).as(s"__nb$j"),
        sum(when(!col("__ga"), wv)).as(s"__sb$j"))
    } ++ Seq(count(pc).as("__nsnap"),
      FixedPoint.finiteCount(v).as("__nfin"))
    val one = hashed.agg(aggs.head, aggs.tail: _*)
      .withColumn("__g", assert_true(col("__nsnap") === col("__nfin"),
        concat(lit("bootstrapMeanDiff: "), col("__nfin") - col("__nsnap"),
          lit(" value(s) exceed the representable unscaled range at " +
            s"scale $scale; use a wider scale or pre-scale the column"))))
    val stackArgs = (0 until b)
      .map(j => s"${j}L, __na$j, __sa$j, __nb$j, __sb$j").mkString(", ")
    val md = lit(m).cast("decimal(10,0)")
    one.select(col("__g"), expr(
        s"stack($b, $stackArgs) as (rep, n_a, __sa, n_b, __sb)"))
      .withColumn("mean_a", when(col("n_a") > 0 && col("__g").isNull,
        (col("__sa") / md).cast("double") / col("n_a").cast("double")))
      .withColumn("mean_b", when(col("n_b") > 0 && col("__g").isNull,
        (col("__sb") / md).cast("double") / col("n_b").cast("double")))
      .select(col("rep"), col("n_a"), col("n_b"), col("mean_a"),
        col("mean_b"), (col("mean_a") - col("mean_b")).as("diff"))
      .orderBy("rep")
  }

  /** Deterministic stratified k-fold assignment: within each stratum,
    * rows are ordered by (salted hash, key) — a stable pseudo-random
    * shuffle — and dealt round-robin, so fold sizes differ by AT MOST
    * one per stratum (exact balance, which plain hash-mod sampling
    * cannot promise) and membership is a pure function of the key:
    * stable across runs, retries, and engines. One window exchange per
    * call; for hash-mod "good enough" balance at extreme scale use
    * [[Sampling.splitByHash]] instead — this is the exact-balance
    * final-mile form (cross-validation folds, eval splits). */
  def kfoldAssign(df: DataFrame, keyCol: String, k: Int,
                  strataCols: Seq[String] = Nil,
                  salt: String = "fold"): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val parts: Seq[org.apache.spark.sql.Column] =
      if (strataCols.isEmpty) Seq(lit(1)) else strataCols.map(col)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(parts: _*)
      .orderBy(Sampling.hashU32(col(keyCol), salt).asc, col(keyCol).asc)
    df.withColumn("fold",
      ((org.apache.spark.sql.functions.row_number().over(w) - 1) % k)
        .cast("long"))
  }

  /** Binary-classifier evaluation from (actual, predicted) boolean
    * columns, per group: the confusion counts plus precision / recall /
    * F1 as pinned double ratios (F1 in the 2tp/(2tp+fp+fn) form — one
    * division, no harmonic-mean intermediate rounding). Degenerate
    * denominators yield NULL, not NaN. ONE map-side-combined aggregate —
    * the evaluation costs a scan, nothing else; this is how a trained
    * quality filter (hashedLinearScore, gopherKeep) gets scored against
    * labels at corpus scale. */
  def confusionMetrics(df: DataFrame, keyCols: Seq[String],
                       actual: org.apache.spark.sql.Column,
                       predicted: org.apache.spark.sql.Column): DataFrame = {
    def cnt(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
    val base = if (keyCols.isEmpty) df.groupBy()
      else df.groupBy(keyCols.map(col): _*)
    base.agg(cnt(actual && predicted).as("tp"),
        cnt(!actual && predicted).as("fp"),
        cnt(actual && !predicted).as("fn"),
        cnt(!actual && !predicted).as("tn"))
      .withColumn("precision",
        when(col("tp") + col("fp") > 0, col("tp").cast("double") /
          (col("tp") + col("fp")).cast("double")))
      .withColumn("recall",
        when(col("tp") + col("fn") > 0, col("tp").cast("double") /
          (col("tp") + col("fn")).cast("double")))
      .withColumn("f1",
        when(lit(2) * col("tp") + col("fp") + col("fn") > 0,
          (lit(2.0) * col("tp").cast("double")) /
            (lit(2) * col("tp") + col("fp") + col("fn")).cast("double")))
  }

  /** Per-group winsorization — clamp a feature to its group's
    * [qLo, qHi] quantile band, the standard outlier-robust featurization
    * (the TRANSFORM companion of Analytics' outlier DETECTORS). Bounds
    * come from [[graft.operators.Aggregations.quantileDisc]]'s lower-rank
    * selection, so they are actual member values and the clamp is pure
    * comparison — no arithmetic at all, fully oracle-replayable. Two
    * quantile window passes + one broadcast join of the tiny per-group
    * bounds frame; output adds `lo`, `hi`, and `<valueCol>_w`.
    * quantileDisc's ranking window is per-key-sequential — when ONE
    * slice holds most of the corpus, use
    * [[graft.operators.Aggregations.winsorizeCont]] (percentile_cont
    * fences on the keyed distributed prefix — no per-key window at
    * any slice size; interpolated fences instead of member values). */
  def winsorize(df: DataFrame, keyCols: Seq[String], valueCol: String,
                qLo: Double, qHi: Double): DataFrame = {
    require(qLo >= 0 && qHi <= 1 && qLo <= qHi,
      s"need 0 <= qLo <= qHi <= 1, got ($qLo, $qHi)")
    import graft.operators.Aggregations
    val lo = Aggregations.quantileDisc(df, keyCols, valueCol, qLo, "lo").drop("n")
    val hi = Aggregations.quantileDisc(df, keyCols, valueCol, qHi, "hi").drop("n")
    df.join(broadcast(lo), keyCols).join(broadcast(hi), keyCols)
      .withColumn(s"${valueCol}_w",
        least(greatest(col(valueCol), col("lo")), col("hi")))
  }

  /** Per-group simple linear regression + Pearson correlation in ONE
    * aggregate pass: emits `n`, OLS `slope`/`intercept` (y = a + b·x)
    * and `r` from the five classic sufficient statistics
    * (Σx, Σy, Σxy, Σx², Σy²), each accumulated EXACTLY in decimal
    * (order-independent — a double sum would make the result depend on
    * partitioning) and only then combined in double with a pinned
    * operation order, so an oracle replays every output bit-for-bit.
    * sqrt is IEEE-correctly-rounded in both engines (the q164 norm
    * precedent), so `r` is gateable too.
    *
    * 100 TB: one map-side-combined aggregate — sufficient statistics
    * are the textbook mergeable form, so the corpus never shuffles;
    * the per-group result is 6 numbers. Degenerate groups (n = 1 or
    * zero x-variance) emit NULL slope/intercept/r rather than ±Inf:
    * the caller decides, the engine doesn't guess. */
  def olsFit(df: DataFrame, keyCols: Seq[String], xCol: String, yCol: String,
             xScale: Int = 2, yScale: Int = 2): DataFrame = {
    val x = col(xCol).cast(s"decimal(18,$xScale)")
    val y = col(yCol).cast(s"decimal(18,$yScale)")
    val agg = df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(x).cast("double").as("__sx"),
        sum(y).cast("double").as("__sy"),
        sum(x * y).cast("double").as("__sxy"),
        sum(x * x).cast("double").as("__sxx"),
        sum(y * y).cast("double").as("__syy"))
    // pinned double arithmetic: numerator/denominators written once and
    // reused so Spark and the oracle evaluate the same expression tree
    val sxx = col("n") * col("__sxx") - col("__sx") * col("__sx")
    val syy = col("n") * col("__syy") - col("__sy") * col("__sy")
    val sxy = col("n") * col("__sxy") - col("__sx") * col("__sy")
    agg
      .withColumn("slope", when(sxx > 0.0, sxy / sxx))
      .withColumn("intercept",
        when(sxx > 0.0, (col("__sy") - (sxy / sxx) * col("__sx")) / col("n")))
      .withColumn("r",
        when(sxx > 0.0 && syy > 0.0, sxy / (sqrt(sxx) * sqrt(syy))))
      .drop("__sx", "__sy", "__sxy", "__sxx", "__syy")
  }

  /** Per-group TWO-feature ridge regression by the normal equations —
    * the multi-feature step past [[olsFit]]: solve
    * (X'X + λ·diag(0,1,1)) β = X'y for β = (b0, b1, b2) with an
    * intercept column and λ penalizing the two slopes only (the
    * standard convention — shrinking the intercept would make the fit
    * depend on the y origin). One pass builds the 3×3 Gram matrix as
    * map-side-combined DECIMAL sufficient statistics (order-independent,
    * engine-replayable — the olsFit contract), then Cramér's rule
    * expands the solve into a PINNED double expression tree the SQL
    * oracle evaluates verbatim (no iterative solver, no
    * nondeterministic factorization).
    *
    * 100 TB: the corpus never shuffles — one aggregate with 9 decimal
    * expressions, partial-combined per partition; the per-group result
    * is the 3-coefficient row. p features would need (p²+3p)/2 sums and
    * a driver-side solve; at p = 2 the closed form keeps the entire fit
    * inside the gate. λ = 0 reduces to exact unpenalized OLS. Groups
    * with a singular (penalized) Gram matrix — n < 3 or collinear
    * features at λ = 0 — emit NULL coefficients rather than ±Inf or
    * rounding garbage: singularity is |det| ≤ 1e-9·(product of the
    * three Gram row ∞-norms), a relative tolerance that tracks the
    * determinant's natural magnitude across feature scales, because a
    * collinear group's double determinant cancels only up to
    * rounding. */
  def ridgeFit(df: DataFrame, keyCols: Seq[String], x1Col: String,
               x2Col: String, yCol: String, lambda: Double,
               scale: Int = 2): DataFrame = {
    require(lambda >= 0.0, s"lambda must be >= 0, got $lambda")
    val x1 = col(x1Col).cast(s"decimal(18,$scale)")
    val x2 = col(x2Col).cast(s"decimal(18,$scale)")
    val y = col(yCol).cast(s"decimal(18,$scale)")
    val agg = df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).cast("double").as("__n"),
        sum(x1).cast("double").as("__s1"),
        sum(x2).cast("double").as("__s2"),
        sum(y).cast("double").as("__sy"),
        sum(x1 * x1).cast("double").as("__s11"),
        sum(x1 * x2).cast("double").as("__s12"),
        sum(x2 * x2).cast("double").as("__s22"),
        sum(x1 * y).cast("double").as("__s1y"),
        sum(x2 * y).cast("double").as("__s2y"))
    // A = [[n, s1, s2], [s1, s11+λ, s12], [s2, s12, s22+λ]], b = (sy, s1y, s2y).
    // Cramér: βi = det(A with column i replaced by b) / det(A). Every det
    // is written as ONE pinned a·(ei−fh) − b·(di−fg) + c·(dh−eg) expansion
    // so both engines evaluate the identical tree.
    val l = lit(lambda)
    val a11 = col("__s11") + l
    val a22 = col("__s22") + l
    def det3(a: Column, b: Column, c: Column, d: Column, e: Column,
             f: Column, g: Column, h: Column, i: Column): Column =
      a * (e * i - f * h) - b * (d * i - f * g) + c * (d * h - e * g)
    val det = det3(col("__n"), col("__s1"), col("__s2"),
      col("__s1"), a11, col("__s12"),
      col("__s2"), col("__s12"), a22)
    val d0 = det3(col("__sy"), col("__s1"), col("__s2"),
      col("__s1y"), a11, col("__s12"),
      col("__s2y"), col("__s12"), a22)
    val d1 = det3(col("__n"), col("__sy"), col("__s2"),
      col("__s1"), col("__s1y"), col("__s12"),
      col("__s2"), col("__s2y"), a22)
    val d2 = det3(col("__n"), col("__s1"), col("__sy"),
      col("__s1"), a11, col("__s1y"),
      col("__s2"), col("__s12"), col("__s2y"))
    // Singularity gate on a RELATIVE tolerance: a collinear group's
    // determinant cancels only up to double rounding, so det =!= 0.0
    // alone would pass a ~1e-10·scale³ residue and emit enormous
    // garbage coefficients. The scale estimate is the PRODUCT OF THE
    // THREE ROW ∞-NORMS (Hadamard-style: |det| ≤ 3!·r0·r1·r2), which
    // tracks the determinant's natural magnitude even when the rows
    // live at wildly different scales — a max-entry³ bound would let n
    // dominate when feature magnitudes are ≪ 1 (x ~ 1e-3, n = 1000:
    // det ~ 1e-3 vs a max³ threshold ~ 1) and falsely NULL a
    // well-conditioned group. Pinned expression; the SQL oracle
    // replays it verbatim.
    val r0 = greatest(col("__n"), abs(col("__s1")), abs(col("__s2")))
    val r1 = greatest(abs(col("__s1")), abs(a11), abs(col("__s12")))
    val r2 = greatest(abs(col("__s2")), abs(col("__s12")), abs(a22))
    val nonSingular = abs(det) > lit(1e-9) * r0 * r1 * r2
    agg
      .withColumn("n", col("__n").cast("long"))
      .withColumn("b0", when(nonSingular, d0 / det))
      .withColumn("b1", when(nonSingular, d1 / det))
      .withColumn("b2", when(nonSingular, d2 / det))
      .drop("__n", "__s1", "__s2", "__sy", "__s11", "__s12", "__s22",
        "__s1y", "__s2y")
  }

  /** Poisson(1) CDF thresholds for [[bootstrapMeans]]' inverse-CDF draw
    * (k = first index with u < cdf(k), else 8). Written as explicit
    * 17-significant-digit literals so the SQL oracle parses the SAME
    * doubles — never recomputed at runtime. */
  val poisson1Cdf: Seq[Double] = Seq(
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238462, 0.9963401531726563, 0.9994058151824183,
    0.9999167588507119, 0.9999897508033253)

  /** Poisson bootstrap of a mean — the ONLINE bootstrap (Chamandy et
    * al.'s Poisson approximation of multinomial resampling): replicate
    * j weights each row by a deterministic Poisson(1) draw
    * w = F⁻¹(u_j) with u_j the salt-derived uniform of (id, j), and the
    * replicate mean is Σw·v / Σw — so B resampled means come out of ONE
    * corpus scan (2B map-side-combined aggregate expressions — the
    * OnlineStats Series contract — never B shuffles, never a B×
    * materialized resample). The B uniforms of a row come from ONE md5
    * ([[graft.functions.Sampling.hash64Words]]) fanned out by B integer
    * finalizer mixes ([[graft.functions.Sampling.mixU32]]) — not B md5
    * evaluations: the hash is computed in a projection BEFORE the
    * aggregate, so the per-row cost is one digest + B multiply/xor
    * chains. Deterministic end to end: the md5 words, the mix chain
    * (every intermediate < 2⁶³ — plain signed-BIGINT SQL), the 8-step
    * CDF inversion, the exact fixed-point Σw·v
    * ([[graft.functions.FixedPoint.sumProductIntFixed]] — bit-identical
    * to the decimal chain under its ≤2^53 contract), and the final
    * division are all engine-replayable (q240). Downstream CI = quantiles of the B means
    * (B rows — driver-trivial). Output: (rep, n_eff, mean_rep), rep
    * ascending; a replicate that draws all-zero weights (p ≈ e⁻ⁿ)
    * yields NULL mean. */
  def bootstrapMeans(df: DataFrame, idCol: String, valueCol: String,
                     b: Int, salt: String, scale: Int = 4): DataFrame = {
    require(b >= 1 && b <= 64, s"b must be in [1,64], got $b")
    require(scale >= 0 && scale <= 6, s"scale must be in [0, 6], got " +
      s"$scale — the decimal divide-back is typed decimal(38,6): scale " +
      "7+ silently rounds means at 6 digits, scale 10+ overflows the " +
      "decimal(10,0) divisor to NULL (r19 ADVICE)")
    val (h1, h2) = graft.functions.Sampling.hash64Words(col(idCol), salt)
    val hashed = spreadToCores(
        df.select(Seq(valueCol, idCol).distinct.map(col): _*), idCol)
      .select(col(valueCol), h1.as("__h1"), h2.as("__h2"))
    def wOf(j: Int): org.apache.spark.sql.Column = {
      val u = graft.functions.Sampling.mixU32(col("__h1"), col("__h2"), j)
        .cast("double") / lit(4294967296.0)
      poisson1Cdf.zipWithIndex
        .foldLeft(Option.empty[org.apache.spark.sql.Column]) {
          case (acc, (t, k)) =>
            Some(acc.fold(when(u < t, k))(_.when(u < t, k)))
        }.get.otherwise(poisson1Cdf.length).cast("long")
    }
    // Σw·v as a fixed-point LONG product accumulated in decimal(38,0)
    // (round 19, the q01 fsum2/fprod4 precedent): the per-row
    // decimal(19,0)·decimal(18,s) multiply and precision-38 decimal add
    // were the dominant per-row cost of the scan-stage aggregate, whose
    // task count the input layout fixes — per-row cost is the only
    // lever there. v snaps ONCE (shared across replicates by
    // subexpression elimination) to its unscaled long under a 2^60
    // range bound, so w·unscaled (w ≤ 8 by the Poisson CDF table) can
    // NEVER overflow a long — plain multiply, no per-row try_multiply.
    // The 2^60 bound is WIDER than the decimal(18,s) envelope this
    // replaces (10^(18−s)·10^s = 10^18 < 2^60·10^s/10^s... 1.15e18),
    // so every value the decimal cast accepted still snaps; values
    // beyond it null out and the ONE shared count-compare below turns
    // that into a loud failure (the FixedPoint tripwire pattern —
    // never a silently dropped row), exactly where the ANSI decimal
    // cast errored. The exact unscaled total divides back to scale in
    // DECIMAL (single final rounding to double — bit-identical to the
    // old decimal(38,s) sum cast at any magnitude below 10^34).
    val m = math.pow(10, scale)
    val v = col(valueCol).cast("double")
    // ONE snap copy ([[FixedPoint.snapAtBound]], r19 ADVICE): 2^60
    // range bound because w ≤ 8 multiplies the unscaled image
    val pc = FixedPoint.snapAtBound(v, m, FixedPoint.boundForFactor8)
    val aggs = (0 until b).flatMap { j =>
      val w = wOf(j)
      Seq(sum(w).as(s"__n$j"),
        sum((w * pc).cast("decimal(38,0)")).as(s"__s$j"))
    } ++ Seq(count(pc).as("__nsnap"),
      FixedPoint.finiteCount(v).as("__nfin"))
    val one = hashed.agg(aggs.head, aggs.tail: _*)
      // guard rides the one-row frame: zero per-row cost, still loud
      .withColumn("__g", assert_true(col("__nsnap") === col("__nfin"),
        concat(lit("bootstrapMeans: "), col("__nfin") - col("__nsnap"),
          lit(" value(s) exceed the representable unscaled range at " +
            s"scale $scale; use a wider scale or pre-scale the column"))))
    val stackArgs = (0 until b)
      .map(j => s"${j}L, __n$j, __s$j").mkString(", ")
    one.select(col("__g"), expr(s"stack($b, $stackArgs) as (rep, n_eff, __s)"))
      .select(col("rep"), col("n_eff"),
        when(col("n_eff") > 0 && col("__g").isNull,
          (col("__s") / lit(m).cast("decimal(10,0)")).cast("double") /
            col("n_eff").cast("double"))
          .as("mean_rep"))
      .orderBy("rep")
  }

  /** Poisson-bootstrap PERCENTILE confidence interval for a RATIO
    * metric — the error bar for revenue-per-session, tokens-per-doc,
    * clicks-per-impression: the delta method
    * ([[graft.operators.Analytics.ratioMetricTest]]) is the
    * asymptotic answer, this is the finite-sample one practitioners
    * cross-check it with (skewed numerators at modest n are exactly
    * where delta intervals lie). Replicate j reweights every UNIT by
    * the deterministic Poisson(1) draw of (id, j) —
    * [[bootstrapMeans]]' one-md5 + B-integer-mixes fanout, so units
    * (not rows) resample together when idCol is the randomization
    * unit — and the replicate statistic is R_j = Σw·x / Σw·y. ALL B
    * replicates come from ONE corpus scan (2B map-side-combined exact
    * decimal aggregates); the interval is Efron's percentile method
    * over the B-bounded replicate vector (a sort_array pick — B ≤ 64,
    * never a data-scale pass). A replicate whose denominator sums to
    * EXACTLY zero is excluded and `b_eff` counts survivors (for an
    * always-positive denominator that is the all-zero-weights draw,
    * p ≈ e⁻ⁿ; a signed denominator near zero is the caller's modeling
    * problem — the ratio is then unstable by construction and the
    * wide interval SHOWS it). BCa deliberately absent (no
    * engine-portable Φ⁻¹ — the [[bootstrapQuantileCI]] rule). Output:
    * one row — (b, b_eff, n, est, lo, hi), est the full-sample
    * ratio. */
  def bootstrapRatioCI(df: DataFrame, idCol: String, numCol: String,
                       denCol: String, b: Int, salt: String,
                       ciLo: Double = 0.025, ciHi: Double = 0.975,
                       scale: Int = 4): DataFrame = {
    require(b >= 1 && b <= 64, s"b must be in [1,64], got $b")
    require(scale >= 0 && scale <= 6, s"scale must be in [0, 6], got " +
      s"$scale — the decimal divide-back is typed decimal(38,6): scale " +
      "7+ silently rounds at 6 digits, scale 10+ overflows the " +
      "decimal(10,0) divisor to NULL (r19 ADVICE)")
    require(ciLo > 0 && ciLo < ciHi && ciHi < 1,
      s"need 0 < ciLo < ciHi < 1, got ($ciLo, $ciHi)")
    def d(c: Column) = c.cast("double")
    val (h1, h2) = graft.functions.Sampling.hash64Words(col(idCol), salt)
    val hashed = spreadToCores(df
        .filter(col(numCol).isNotNull && col(denCol).isNotNull)
        .select(Seq(numCol, denCol, idCol).distinct.map(col): _*), idCol)
      .select(col(numCol).cast("double").as("__x"),
        col(denCol).cast("double").as("__y"),
        h1.as("__h1"), h2.as("__h2"))
    // fixed-point Σw·x and Σw·y — the [[bootstrapMeans]] round-19 form
    // on both metric columns (long snaps shared across replicates,
    // w ≤ 8 keeps products overflow-free, one shared tripwire per
    // column, exact decimal divide-back; the scale cancels in every
    // ratio but the divide-back keeps each reported double identical
    // to the old decimal-sum cast)
    val m = math.pow(10, scale)
    // ONE snap copy ([[FixedPoint.snapAtBound]], r19 ADVICE): 2^60
    // range bound because w ≤ 8 multiplies the unscaled image
    def snapped(c: Column): Column =
      FixedPoint.snapAtBound(c, m, FixedPoint.boundForFactor8)
    def finite(c: Column): Column = FixedPoint.isFinite(c)
    val (px, py) = (snapped(col("__x")), snapped(col("__y")))
    val aggs = (0 until b).flatMap { j =>
      val u = graft.functions.Sampling.mixU32(col("__h1"), col("__h2"), j)
        .cast("double") / lit(4294967296.0)
      val w = poisson1Cdf.zipWithIndex
        .foldLeft(Option.empty[org.apache.spark.sql.Column]) {
          case (acc, (t, k)) =>
            Some(acc.fold(when(u < t, k))(_.when(u < t, k)))
        }.get.otherwise(poisson1Cdf.length).cast("long")
      Seq(sum((w * px).cast("decimal(38,0)")).as(s"__sx$j"),
        sum((w * py).cast("decimal(38,0)")).as(s"__sy$j"))
    } ++ Seq(count(lit(1)).as("__n"),
      sum(px.cast("decimal(38,0)")).as("__fx"),
      sum(py.cast("decimal(38,0)")).as("__fy"),
      count(px).as("__nsx"), count(py).as("__nsy"),
      count(when(finite(col("__x")), lit(1))).as("__nfx"),
      count(when(finite(col("__y")), lit(1))).as("__nfy"))
    val md = lit(m).cast("decimal(10,0)")
    val one = hashed.agg(aggs.head, aggs.tail: _*)
      .withColumn("__g", assert_true(
        col("__nsx") === col("__nfx") && col("__nsy") === col("__nfy"),
        concat(lit("bootstrapRatioCI: "),
          (col("__nfx") - col("__nsx")) + (col("__nfy") - col("__nsy")),
          lit(" value(s) exceed the representable unscaled range at " +
            s"scale $scale; use a wider scale or pre-scale the columns"))))
    val stackArgs = (0 until b)
      .map(j => s"${j}L, __sx$j, __sy$j").mkString(", ")
    val reps = one
      .select(col("__g"), col("__n"),
        (col("__fx") / md).as("__fx"), (col("__fy") / md).as("__fy"),
        expr(s"stack($b, $stackArgs) as (rep, __sx, __sy)"))
      .select(col("__n"), col("__fx"), col("__fy"),
        when(col("__sy") =!= 0 && col("__g").isNull,
          d(col("__sx") / md) / d(col("__sy") / md))
          .as("__r"))
    reps.groupBy(col("__n"), col("__fx"), col("__fy"))
      .agg(sum(when(col("__r").isNotNull, 1L).otherwise(0L))
          .as("b_eff"),
        sort_array(collect_list(col("__r"))).as("__rs"))
      .select(lit(b.toLong).as("b"), col("b_eff"),
        col("__n").as("n"),
        when(col("__fy") =!= 0, d(col("__fx")) / d(col("__fy")))
          .as("est"),
        when(col("b_eff") > 0, element_at(col("__rs"),
          greatest(ceil(lit(ciLo) * d(col("b_eff"))), lit(1L))
            .cast("int"))).as("lo"),
        when(col("b_eff") > 0, element_at(col("__rs"),
          greatest(ceil(lit(ciHi) * d(col("b_eff"))), lit(1L))
            .cast("int"))).as("hi"))
  }

  /** Poisson-bootstrap PERCENTILE confidence interval for a QUANTILE —
    * [[bootstrapMeans]] covers means with 2B aggregate expressions,
    * but a median/p90 replicate is an ORDER STATISTIC, so each
    * replicate needs the weighted cumulative over the value axis: all
    * B of them ride ONE distributed distinct-value prefix
    * ([[graft.operators.Analytics]]'s rank machinery) carrying B+1
    * weight columns — the original count plus B deterministic
    * Poisson(1) replicate weights (same one-md5 + B-integer-mixes
    * fanout as [[bootstrapMeans]], weights summed per distinct value
    * map-side BEFORE the prefix, so the exchanges carry
    * |distinct| × (B+1) longs and nothing resampled ever
    * materializes). Per replicate the type-1 weighted quantile is
    * min{v : CumIncl_j(v) ≥ ⌈p·n_j⌉} — a map-side-combined
    * min-aggregate over the exploded (rep, value, cumulative) frame,
    * no straddle join. The interval is Efron's percentile method
    * (Efron 1979): lo/hi are the ⌈ciLo·B⌉-th / ⌈ciHi·B⌉-th order
    * statistics of the B replicate quantiles — a sort_array pick over
    * the B-bounded (≤ 64) replicate vector, never a data-scale pass. BCa is deliberately NOT
    * offered: its bias correction needs Φ⁻¹, which has no
    * engine-portable pinned form — the percentile interval is the
    * deterministic, oracle-replayable member of the family.
    * Degenerate: a replicate drawing all-zero weights (p ≈ e⁻ⁿ) is
    * excluded and `b_eff` records the survivors; ranks are over
    * b_eff. Output: one row
    * (p, b, b_eff, n, est, lo, hi) — est the full-sample type-1
    * quantile from the SAME prefix (rep −1, weight 1).
    * EAGER: builds on the pinned-execution bridge, so Spark jobs
    * launch AT CALL time and the input is snapshotted then
    * ([[org.apache.spark.sql.graftbridge.RddShareBridge]]). */
  def bootstrapQuantileCI(df: DataFrame, idCol: String, valueCol: String,
                          p: Double, b: Int, salt: String,
                          ciLo: Double = 0.025, ciHi: Double = 0.975)
      : DataFrame = {
    require(b >= 1 && b <= 64, s"b must be in [1,64], got $b")
    require(p > 0 && p <= 1, s"p must be in (0,1], got $p")
    require(ciLo > 0 && ciLo < ciHi && ciHi < 1,
      s"need 0 < ciLo < ciHi < 1, got ($ciLo, $ciHi)")
    import graft.operators.Analytics
    val (h1, h2) = graft.functions.Sampling.hash64Words(col(idCol), salt)
    // the per-replicate uniforms are PROJECTED columns, not inlined
    // into the aggregate (round 20, Catalyst compile cost): inlined,
    // each weight's 8-branch CDF CaseWhen duplicates the ~60-node
    // mix-chain tree per branch (~500 nodes per replicate, ~12k for
    // B=24), and the pinned-bridge plan compile walks all of it —
    // Profile r20 put q431's construct at 2.5 s against 1.2 s of jobs.
    // As leaf references the CaseWhen is ~35 nodes per replicate.
    // Same expressions per row (codegen fuses the stacked projections;
    // the md5 evaluates once either way) — values bit-identical.
    val hashed = df
      .filter(col(idCol).isNotNull && col(valueCol).isNotNull)
      .select(col(valueCol).cast("double").as("__v"),
        h1.as("__h1"), h2.as("__h2"))
      .select(col("__v") +: (0 until b).map(j =>
        (graft.functions.Sampling.mixU32(col("__h1"), col("__h2"), j)
          .cast("double") / lit(4294967296.0)).as(s"__u$j")): _*)
    def w(j: Int): Column = {
      val u = col(s"__u$j")
      poisson1Cdf.zipWithIndex
        .foldLeft(Option.empty[Column]) { case (acc, (t, k)) =>
          Some(acc.fold(when(u < t, k))(_.when(u < t, k)))
        }.get.otherwise(poisson1Cdf.length).cast("long")
    }
    val vcAggs = count(lit(1)).as("__corig") +:
      (0 until b).map(j => sum(w(j)).as(s"__c$j"))
    val vc = hashed.groupBy(col("__v")).agg(vcAggs.head, vcAggs.tail: _*)
    val weights = ("orig" -> col("__corig")) +:
      (0 until b).map(j => s"c$j" -> col(s"__c$j"))
    val (shared, pre) = Analytics.prefixBefore(
      vc, Nil, "__v", weights.toSeq)
    val totAggs = sum(col("__corig")).as("__norig") +:
      (0 until b).map(j => sum(col(s"__c$j")).as(s"__n$j"))
    val tot = shared.agg(totAggs.head, totAggs.tail: _*)
    def repStruct(rep: Int, cum: String, c: String): Column =
      struct(lit(rep).as("rep"),
        (col(cum) + col(c)).cast("long").as("__incl"))
    val stacked = pre.select(col("__v"), explode(array(
      repStruct(-1, "__cum_orig", "__corig") +:
        (0 until b).map(j => repStruct(j, s"__cum_c$j", s"__c$j")): _*))
      .as("e"))
      .select(col("__v"), col("e.rep").as("rep"),
        col("e.__incl").as("__incl"))
    val totStacked = tot.select(explode(array(
      struct(lit(-1).as("rep"), col("__norig").cast("long").as("__n")) +:
        (0 until b).map(j => struct(lit(j).as("rep"),
          col(s"__n$j").cast("long").as("__n"))): _*)).as("e"))
      .select(col("e.rep").as("rep"), col("e.__n").as("__n"))
      // NULL threshold for an all-zero-weight replicate (n = 0): a 0
      // threshold would satisfy every __incl >= t and return the
      // corpus minimum instead of excluding the replicate (the
      // documented degenerate case) — NULL t -> NULL stat -> filtered
      .withColumn("__t", when(col("__n") > 0,
        ceil(lit(p) * col("__n").cast("double"))))
    val stats = stacked.join(broadcast(totStacked), "rep")
      .groupBy(col("rep"))
      .agg(min(when(col("__incl") >= col("__t"), col("__v"))).as("__stat"),
        max(col("__n")).as("__n"))
    val est = stats.filter(col("rep") === -1)
      .select(col("__stat").as("est"), col("__n").as("n"))
    val rs = stats.filter(col("rep") >= 0 && col("__stat").isNotNull)
    // Efron bounds straight off the B-bounded replicate vector (round
    // 19): lo/hi are the max(1,⌈ci·b_eff⌉)-th order statistics of ≤ 64
    // replicate quantiles — the [[bootstrapRatioCI]] sort_array pick.
    // The previous form routed these ≤ B rows through a second
    // prefixBefore pass, whose pinned-execution bridge
    // costs several plan compilations + range/offset jobs per call —
    // measured ~25% of q431's wall for a 24-row input. Values are
    // identical: the prefix form picked min{v : cum ≥ k} over the
    // value-count table, which IS the k-th order statistic of the
    // multiset. B ≤ 64 bounds the collected array by contract — never
    // a data-scale collect.
    val bounds = rs.agg(count(lit(1)).as("b_eff"),
        sort_array(collect_list(col("__stat"))).as("__rs"))
      .select(col("b_eff"),
        when(col("b_eff") > 0, element_at(col("__rs"),
          greatest(ceil(lit(ciLo) * col("b_eff").cast("double")), lit(1L))
            .cast("int"))).as("lo"),
        when(col("b_eff") > 0, element_at(col("__rs"),
          greatest(ceil(lit(ciHi) * col("b_eff").cast("double")), lit(1L))
            .cast("int"))).as("hi"))
    est.crossJoin(broadcast(bounds))
      .select(lit(p).as("p"), lit(b.toLong).as("b"),
        col("b_eff"), col("n"),
        col("est"), col("lo"), col("hi"))
  }

  /** QUANTILE TREATMENT EFFECT with a bootstrap CI — "did the p90
    * move, with error bars" (the A/B question [[bootstrapQuantileCI]]
    * answers for one arm; mean tests average away exactly the tail
    * the latency/length dashboards watch): per replicate j, BOTH
    * arms' type-1 weighted quantiles come from ONE distributed
    * distinct-value prefix carrying 2(B+1) weight columns (per-arm
    * original counts + per-arm Poisson(1) replicate weights — one md5
    * per row, B integer mixes, same draw for a row regardless of arm
    * since the weight is a function of (id, j) only), the replicate
    * effect is d_j = q_A,j − q_B,j, and the interval is Efron's
    * percentile method over the B paired effects — resampling arms
    * INDEPENDENTLY within a shared replicate index, the standard
    * two-sample bootstrap. Replicates where either arm draws all-zero
    * weights are excluded (b_eff). Output: one row — (p, b, b_eff,
    * n_a, n_b, est_a, est_b, diff, lo, hi); est/diff from the
    * original (weight-1) sample on the same prefix.
    * EAGER: builds on the pinned-execution bridge, so Spark jobs
    * launch AT CALL time and the input is snapshotted then
    * ([[org.apache.spark.sql.graftbridge.RddShareBridge]]). */
  def bootstrapQuantileDiffCI(df: DataFrame, groupCol: String,
                              idCol: String, valueCol: String,
                              groupA: String, groupB: String,
                              p: Double, b: Int, salt: String,
                              ciLo: Double = 0.025, ciHi: Double = 0.975)
      : DataFrame = {
    require(b >= 1 && b <= 32, s"b must be in [1,32], got $b")
    require(p > 0 && p <= 1, s"p must be in (0,1], got $p")
    require(ciLo > 0 && ciLo < ciHi && ciHi < 1,
      s"need 0 < ciLo < ciHi < 1, got ($ciLo, $ciHi)")
    import graft.operators.Analytics
    val (h1, h2) = graft.functions.Sampling.hash64Words(col(idCol), salt)
    val hashed = df
      .filter(col(groupCol).isin(groupA, groupB) &&
        col(idCol).isNotNull && col(valueCol).isNotNull)
      .select(col(valueCol).cast("double").as("__v"),
        (col(groupCol) === groupA).as("__ia"),
        h1.as("__h1"), h2.as("__h2"))
      // projected per-replicate uniforms — the [[bootstrapQuantileCI]]
      // round-20 tree-size treatment (each w(j) is referenced once per
      // ARM here, so the inlined form duplicated every mix tree 16×)
      .select(col("__v") +: col("__ia") +: (0 until b).map(j =>
        (graft.functions.Sampling.mixU32(col("__h1"), col("__h2"), j)
          .cast("double") / lit(4294967296.0)).as(s"__u$j")): _*)
    def w(j: Int): Column = {
      val u = col(s"__u$j")
      poisson1Cdf.zipWithIndex
        .foldLeft(Option.empty[Column]) { case (acc, (t, k)) =>
          Some(acc.fold(when(u < t, k))(_.when(u < t, k)))
        }.get.otherwise(poisson1Cdf.length).cast("long")
    }
    def armTag(isA: Boolean): String = if (isA) "a" else "b"
    def inArm(isA: Boolean): Column = if (isA) col("__ia") else !col("__ia")
    val arms = Seq(true, false)
    val vcAggs = arms.flatMap { isA =>
      sum(when(inArm(isA), 1L).otherwise(0L))
        .as(s"__c${armTag(isA)}orig") +:
        (0 until b).map(j => sum(when(inArm(isA), w(j)).otherwise(0L))
          .as(s"__c${armTag(isA)}$j"))
    }
    val vc = hashed.groupBy(col("__v")).agg(vcAggs.head, vcAggs.tail: _*)
    val weights = arms.flatMap { isA =>
      (s"c${armTag(isA)}orig" -> col(s"__c${armTag(isA)}orig")) +:
        (0 until b).map(j =>
          s"c${armTag(isA)}$j" -> col(s"__c${armTag(isA)}$j"))
    }
    val (shared, pre) = Analytics.prefixBefore(
      vc, Nil, "__v", weights)
    val names = arms.flatMap { isA =>
      (armTag(isA), -1, s"c${armTag(isA)}orig") +:
        (0 until b).map(j => (armTag(isA), j, s"c${armTag(isA)}$j"))
    }
    val totAggs = names.map { case (_, _, nm) =>
      sum(col(s"__$nm")).as(s"__n_$nm") }
    val tot = shared.agg(totAggs.head, totAggs.tail: _*)
    val stacked = pre.select(col("__v"), explode(array(names.map {
      case (arm, rep, nm) => struct(lit(arm).as("arm"),
        lit(rep).as("rep"),
        (col(s"__cum_$nm") + col(s"__$nm")).cast("long").as("__incl"))
    }: _*)).as("e"))
      .select(col("__v"), col("e.arm").as("arm"), col("e.rep").as("rep"),
        col("e.__incl").as("__incl"))
    val totStacked = tot.select(explode(array(names.map {
      case (arm, rep, nm) => struct(lit(arm).as("arm"),
        lit(rep).as("rep"), col(s"__n_$nm").cast("long").as("__n"))
    }: _*)).as("e"))
      .select(col("e.arm").as("arm"), col("e.rep").as("rep"),
        col("e.__n").as("__n"))
      // same NULL-threshold-on-empty-replicate rule as
      // [[bootstrapQuantileCI]]: n = 0 must exclude the (arm, rep)
      // cell, not hand it the corpus minimum
      .withColumn("__t", when(col("__n") > 0,
        ceil(lit(p) * col("__n").cast("double"))))
    val stats = stacked.join(broadcast(totStacked), Seq("arm", "rep"))
      .groupBy(col("arm"), col("rep"))
      .agg(min(when(col("__incl") >= col("__t"), col("__v"))).as("__stat"),
        max(col("__n")).as("__n"))
    val wide = stats.groupBy(col("rep"))
      .agg(min(when(col("arm") === "a", col("__stat"))).as("__qa"),
        min(when(col("arm") === "b", col("__stat"))).as("__qb"),
        max(when(col("arm") === "a", col("__n"))).as("__na"),
        max(when(col("arm") === "b", col("__n"))).as("__nb"))
    val est = wide.filter(col("rep") === -1)
      .select(col("__qa").as("est_a"), col("__qb").as("est_b"),
        col("__na").as("n_a"), col("__nb").as("n_b"))
    val rs = wide.filter(col("rep") >= 0 &&
        col("__qa").isNotNull && col("__qb").isNotNull)
      .select((col("__qa") - col("__qb")).as("__d"))
    // Efron bounds off the B-bounded effect vector — the
    // [[bootstrapQuantileCI]] round-19 sort_array form (identical order
    // statistics, minus a whole pinned prefix pass over ≤ B rows).
    val bounds = rs.agg(count(lit(1)).as("b_eff"),
        sort_array(collect_list(col("__d"))).as("__rs"))
      .select(col("b_eff"),
        when(col("b_eff") > 0, element_at(col("__rs"),
          greatest(ceil(lit(ciLo) * col("b_eff").cast("double")), lit(1L))
            .cast("int"))).as("lo"),
        when(col("b_eff") > 0, element_at(col("__rs"),
          greatest(ceil(lit(ciHi) * col("b_eff").cast("double")), lit(1L))
            .cast("int"))).as("hi"))
    est.crossJoin(broadcast(bounds))
      .select(lit(p).as("p"), lit(b.toLong).as("b"),
        col("b_eff"),
        col("n_a"), col("n_b"), col("est_a"), col("est_b"),
        (col("est_a") - col("est_b")).as("diff"), col("lo"), col("hi"))
  }

  /** SPLIT-CONFORMAL calibration — the distribution-free prediction
    * band every scored pipeline can have for free (Vovk's conformal
    * prediction in its split form; Lei et al. 2018, Angelopoulos–Bates
    * 2023 intro): on a held-out CALIBRATION slice the nonconformity
    * scores (|label − prediction|, or any residual column) are ranked,
    * q̂ = the ⌈(n_cal + 1)(1 − α)⌉-th smallest — then
    * P(new residual ≤ q̂) ≥ 1 − α for exchangeable data, with NO
    * model or distribution assumption. This computes q̂ exactly on the
    * distributed distinct-residual prefix (never a row sort) and
    * reports the EMPIRICAL coverage of the non-calibration rows
    * against q̂ — the drift tripwire: eval coverage well below 1 − α
    * means calibration and serving data have diverged (exchangeability
    * broke), the conformal analogue of the drift family's alarms.
    * k > n_cal (α too small for the slice) → NULL qhat with
    * `clamped` = true. Output: one row — (n_cal, n_eval, k, qhat,
    * coverage_eval, clamped).
    * EAGER: builds on the pinned-execution bridge, so Spark jobs
    * launch AT CALL time and the input is snapshotted then
    * ([[org.apache.spark.sql.graftbridge.RddShareBridge]]). */
  def conformalQuantile(df: DataFrame, isCalib: Column,
                        residualCol: String, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    import graft.operators.Analytics
    def d(c: Column) = c.cast("double")
    val base = df.filter(col(residualCol).isNotNull)
      .select(col(residualCol).cast("double").as("__r"),
        isCalib.as("__cal"))
    val rc = base.groupBy(col("__r"))
      .agg(sum(when(col("__cal"), 1L).otherwise(0L)).as("__cc"),
        sum(when(!col("__cal"), 1L).otherwise(0L)).as("__ce"))
    val (shared, pre) = Analytics.prefixBefore(
      rc, Nil, "__r", Seq("cc" -> col("__cc")))
    val tot = shared.agg(sum(col("__cc")).as("n_cal"),
      sum(col("__ce")).as("n_eval"))
      .withColumn("k", ceil((d(col("n_cal")) + 1.0) * lit(1.0 - alpha)))
      .withColumn("clamped", col("k") > col("n_cal"))
    val qhat = pre.crossJoin(broadcast(tot))
      .agg(min(when(col("__cum_cc") + col("__cc") >= col("k") &&
        col("k") <= col("n_cal"), col("__r"))).as("qhat"))
    // coverage from `shared`, NOT rc: the bridge compiles separate
    // physical plans, so a second reference to rc would re-execute its
    // whole lineage (scan + distinct aggregation) instead of
    // re-fetching the pinned range shuffle — the round-16
    // shared-execution rule; shared carries both __cc and __ce
    val cov = shared.crossJoin(broadcast(qhat))
      .agg((sum(when(col("__r") <= col("qhat"), col("__ce"))
        .otherwise(0L)).cast("double") /
        sum(col("__ce")).cast("double")).as("coverage_eval"))
    tot.crossJoin(broadcast(qhat)).crossJoin(broadcast(cov))
      .select(col("n_cal"), col("n_eval"), col("k"), col("qhat"),
        when(col("n_eval") > 0 && col("qhat").isNotNull,
          col("coverage_eval")).as("coverage_eval"),
        col("clamped"))
  }

  /** Post-stratified (weighted-strata) mean — the survey estimator
    * for "what is the corpus-level metric when my sample's strata
    * shares don't match the population's" (a quality score measured
    * on a language-skewed sample, re-weighted to the corpus's known
    * language mix — Neyman allocation's companion on the ESTIMATION
    * side; classical stratified sampling theory, e.g. Cochran):
    *   est = Σ_h W_h·ȳ_h,   se² = Σ_h W_h²·s²_h/n_h,
    * with W_h the supplied population shares (normalized to sum 1).
    * Rows in strata NOT in the design are excluded and counted
    * (`n_other`); a designed stratum with n_h = 0 makes the estimate
    * NULL (loudly incomplete, not silently re-normalized), and
    * n_h = 1 strata contribute NULL se (variance undefined) while
    * keeping the estimate. One map-side-combined scan of per-stratum
    * exact-decimal moments; the fold runs in the FIXED design order.
    * Output: one row — (n, n_other, k, estimate, se). */
  def stratifiedMean(df: DataFrame, strataCol: String, valueCol: String,
                     shares: Seq[(String, Double)], scale: Int = 2)
      : DataFrame = {
    require(shares.nonEmpty, "stratifiedMean needs the strata shares")
    require(shares.map(_._1).distinct.length == shares.length,
      s"duplicate strata in $shares")
    require(shares.forall(_._2 > 0), s"shares must be > 0: $shares")
    def d(c: Column) = c.cast("double")
    val wTot = shares.map(_._2).sum
    val v = col(valueCol).cast(s"decimal(18,$scale)")
    val strata = shares.map(_._1)
    val aggs = shares.zipWithIndex.flatMap { case ((g, _), i) =>
      val in = col(strataCol) === g && col(valueCol).isNotNull
      Seq(sum(when(in, 1L).otherwise(0L)).as(s"__n$i"),
        sum(when(in, v)).cast("double").as(s"__s$i"),
        sum(when(in, (v * v).cast(s"decimal(38,${2 * scale})")))
          .cast("double").as(s"__ss$i"))
    } :+ sum(when(col(strataCol).isin(strata: _*), 0L).otherwise(1L))
      .as("n_other")
    val one = df.agg(aggs.head, aggs.tail: _*)
      .withColumn("n", shares.indices.map(i => col(s"__n$i"))
        .reduce(_ + _))
    val est = shares.zipWithIndex.map { case ((_, wh), i) =>
      when(col(s"__n$i") > 0,
        lit(wh / wTot) * (col(s"__s$i") / d(col(s"__n$i"))))
    }.reduce(_ + _)
    val se2 = shares.zipWithIndex.map { case ((_, wh), i) =>
      when(col(s"__n$i") >= 2,
        lit(wh / wTot) * lit(wh / wTot) *
          ((col(s"__ss$i") - col(s"__s$i") * col(s"__s$i") /
            d(col(s"__n$i"))) / (d(col(s"__n$i")) - 1.0)) /
          d(col(s"__n$i")))
    }.reduce(_ + _)
    one
      .withColumn("estimate", est)
      .withColumn("se", when(se2 >= 0, sqrt(se2)))
      .select(col("n"), col("n_other"),
        lit(shares.length.toLong).as("k"), col("estimate"), col("se"))
  }

  /** Empirical-Bayes shrinkage of per-group RATES — the fix for "the
    * best and worst domains in this quality report are the smallest
    * ones" (a 2/2 domain is not 100% clean; ranking raw per-group
    * proportions rewards noise): fit a beta prior to the ensemble of
    * group rates by the noise-corrected method of moments
    * (Kleinman 1973; Morris 1983 parametric EB), then shrink each
    * group toward the ensemble mean in proportion to its evidence:
    *   m = (1/k)·Σ p̂_i,   v = var(p̂_i) − (1/k)·Σ p̂_i(1−p̂_i)/n_i,
    *   M = m(1−m)/v − 1,   shrunk_i = (m·M + x_i)/(M + n_i)
    * (M the prior strength α+β; a group with n_i ≫ M keeps its own
    * rate, a tiny group collapses to m). Three regimes, all visible:
    * v ≤ 0 (spread explained by sampling noise) → COMPLETE pooling,
    * shrunk = m, prior_strength NULL (infinite), pooled = true;
    * v ≥ m(1−m) (spread at the Bernoulli ceiling — no beta prior
    * fits) → strength 0, shrunk = raw; otherwise the beta-binomial
    * posterior mean. k < 2 groups → NULL prior and NULL shrunk
    * (an ensemble of one has no ensemble). `successCol` is 0/1
    * (numeric or boolean); NULL group or success rows are excluded.
    * Plan: one hash groupBy to (n_i, x_i), a one-row prior aggregate
    * over the k group rows — the moment terms are DOUBLES folded in
    * group order through a sorted k-sized array (the
    * [[graft.operators.Analytics.oneWayF]] determinism move: the
    * tiny between-variance is a near-cancellation that amplifies any
    * per-term quantization ulp, so the sum order is pinned instead;
    * the array is k-sized — fine for the thousands of domains this
    * exists for, not for millions of groups) — and a broadcast of
    * that row back across the groups. Output: one row per group,
    * ordered by group — (group, n, x, rate, prior_mean,
    * prior_strength, pooled, rate_shrunk). */
  def ebShrinkRates(df: DataFrame, groupCol: String,
                    successCol: String): DataFrame = {
    def d(c: Column) = c.cast("double")
    val s01 = col(successCol).cast("int").cast("long")
    val g = df.filter(col(groupCol).isNotNull &&
        col(successCol).isNotNull)
      .groupBy(col(groupCol).as("group"))
      .agg(count(lit(1)).as("n"), sum(s01).as("x"))
      .withColumn("rate", d(col("x")) / d(col("n")))
    def fold(arr: Column, field: String) = aggregate(arr, lit(0.0),
      (acc, x) => acc + x.getField(field))
    val prior = g.select(struct(col("group").as("g"),
        col("rate").as("p"),
        (col("rate") * col("rate")).as("pp"),
        (col("rate") * (lit(1.0) - col("rate")) / d(col("n"))).as("ns"))
        .as("__t"))
      .agg(count(lit(1)).as("__k"),
        sort_array(collect_list(col("__t"))).as("__gs"))
      .withColumn("__sp", fold(col("__gs"), "p"))
      .withColumn("__spp", fold(col("__gs"), "pp"))
      .withColumn("__snoise", fold(col("__gs"), "ns"))
      .withColumn("__kd", d(col("__k")))
      .withColumn("prior_mean", when(col("__k") >= 2,
        col("__sp") / col("__kd")))
      .withColumn("__vraw", when(col("__k") >= 2,
        (col("__spp") - col("__sp") * col("__sp") / col("__kd")) /
          (col("__kd") - 1.0)))
      .withColumn("__v", col("__vraw") - col("__snoise") / col("__kd"))
      .withColumn("__mm", col("prior_mean") *
        (lit(1.0) - col("prior_mean")))
      .withColumn("pooled", when(col("prior_mean").isNotNull,
        col("__v") <= 0))
      .withColumn("prior_strength", when(col("prior_mean").isNotNull,
        when(col("__v") <= 0, lit(null).cast("double"))
          .when(col("__v") >= col("__mm"), lit(0.0))
          .otherwise(col("__mm") / col("__v") - lit(1.0))))
      .select("prior_mean", "prior_strength", "pooled")
    g.crossJoin(broadcast(prior))
      .withColumn("rate_shrunk", when(col("prior_mean").isNotNull,
        when(col("pooled"), col("prior_mean"))
          .when(col("prior_strength") === 0.0, col("rate"))
          .otherwise(
            (col("prior_mean") * col("prior_strength") + d(col("x"))) /
              (col("prior_strength") + d(col("n"))))))
      .select("group", "n", "x", "rate", "prior_mean",
        "prior_strength", "pooled", "rate_shrunk")
      .orderBy("group")
  }

  /** Empirical-Bayes shrinkage of per-group MEANS — [[ebShrinkRates]]
    * for continuous metrics (per-domain quality scores, mean lengths,
    * mean losses: the smallest domains still win and lose the raw
    * ranking by noise): the normal–normal EB model with unequal
    * sampling variances (Efron–Morris 1975),
    *   m = (1/k)·Σ ȳ_i,   τ̂² = var(ȳ_i) − (1/k)·Σ s²_i/n_i,
    *   B_i = (s²_i/n_i)/(s²_i/n_i + τ̂²),
    *   shrunk_i = B_i·m + (1 − B_i)·ȳ_i
    * (B_i → 0 for well-measured groups, → 1 for noisy ones). Two
    * regimes, visible: τ̂² ≤ 0 (spread explained by sampling noise) →
    * COMPLETE pooling, shrunk = m, B = 1, pooled = true; otherwise
    * the posterior mean. The PRIOR fits over groups with n ≥ 2 only
    * (a singleton has no s² to de-noise with); singleton groups get
    * NULL shrink_b/mean_shrunk (loudly unshrunk, never silently
    * passed through). Fewer than 2 fit groups → NULL prior
    * everywhere. NULL group/value rows are excluded. Plan: one hash
    * groupBy to (n, Σy, Σy²) exact decimals, a one-row prior over the
    * k group rows with the moment terms folded in group order
    * through a sorted k-sized array (the [[ebShrinkRates]]
    * determinism move — τ̂² is the same near-cancellation), and a
    * broadcast back. Output: one row per group, ordered — (group, n,
    * mean, var, prior_mean, tau2, shrink_b, pooled, mean_shrunk). */
  def ebShrinkMeans(df: DataFrame, groupCol: String, valueCol: String,
                    scale: Int = 2): DataFrame = {
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val v = col(valueCol).cast(s"decimal(18,$scale)")
    val g = df.filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(groupCol).cast("string").as("group"))
      .agg(count(lit(1)).as("n"),
        sum(v).cast("double").as("__s"),
        sum((v * v).cast(s"decimal(38,${2 * scale})")).cast("double")
          .as("__ss"))
      .withColumn("mean", col("__s") / d(col("n")))
      .withColumn("var", when(col("n") >= 2,
        (col("__ss") - col("__s") * col("__s") / d(col("n"))) /
          (d(col("n")) - 1.0)))
    def fold(arr: org.apache.spark.sql.Column, field: String) =
      aggregate(arr, lit(0.0), (acc, x) => acc + x.getField(field))
    val fit = g.filter(col("n") >= 2)
      .select(struct(col("group").as("g"), col("mean").as("m"),
        (col("mean") * col("mean")).as("mm"),
        (col("var") / d(col("n"))).as("nv")).as("__t"))
      .agg(count(lit(1)).as("__k"),
        sort_array(collect_list(col("__t"))).as("__gs"))
      .withColumn("__sm", fold(col("__gs"), "m"))
      .withColumn("__smm", fold(col("__gs"), "mm"))
      .withColumn("__snv", fold(col("__gs"), "nv"))
      .withColumn("__kd", d(col("__k")))
      .withColumn("prior_mean", when(col("__k") >= 2,
        col("__sm") / col("__kd")))
      .withColumn("__vraw", when(col("__k") >= 2,
        (col("__smm") - col("__sm") * col("__sm") / col("__kd")) /
          (col("__kd") - 1.0)))
      .withColumn("tau2", when(col("__k") >= 2,
        col("__vraw") - col("__snv") / col("__kd")))
      .withColumn("pooled", when(col("prior_mean").isNotNull,
        col("tau2") <= 0))
      .select("prior_mean", "tau2", "pooled")
    g.crossJoin(broadcast(fit))
      .withColumn("shrink_b", when(col("prior_mean").isNotNull &&
          col("n") >= 2,
        when(col("pooled"), lit(1.0))
          .otherwise((col("var") / d(col("n"))) /
            (col("var") / d(col("n")) + col("tau2")))))
      .withColumn("mean_shrunk", when(col("shrink_b").isNotNull,
        col("shrink_b") * col("prior_mean") +
          (lit(1.0) - col("shrink_b")) * col("mean")))
      .select("group", "n", "mean", "var", "prior_mean", "tau2",
        "shrink_b", "pooled", "mean_shrunk")
      .orderBy("group")
  }
}
