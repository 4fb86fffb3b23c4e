package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic content-hash sampling for training-data pipelines:
  * train/val/test splits, fractional sampling, and domain-mixture
  * resampling. Everything keys off a salted md5 of the row's id, NOT
  * `rand()`: the assignment is a pure function of (salt, key), so it is
  * reproducible across runs, stable under repartitioning, and identical on
  * any engine — re-running the pipeline (or re-materializing a lost
  * partition) can never move a document between train and test.
  *
  * Scale shape: every operator here is a narrow per-row filter/projection
  * computed in the scan (md5 + a CASE) — no shuffle, no state; the only
  * exchange in [[resampleToMixture]] is a tiny per-domain count aggregate
  * that AQE broadcasts back.
  */
object Sampling {

  /** Uniform 32-bit hash of a key: the first 8 hex chars of
    * md5(salt ∥ key) as an integer in [0, 2^32). Exactly reproducible in
    * any engine with md5 (the correctness oracle recomputes it in SQL);
    * use the salt to decorrelate independent sampling decisions on the
    * same key space. */
  def hashU32(key: Column, salt: String): Column =
    conv(substring(md5(concat(lit(salt), key.cast("string"))), 1, 8), 16, 10)
      .cast("long")

  /** The same hash as a uniform fraction in [0, 1). */
  def hashFraction(key: Column, salt: String): Column =
    hashU32(key, salt) / lit(4294967296.0)

  /** Integer threshold for "keep with probability `fraction`": compare
    * [[hashU32]] strictly below it. Exposed so callers (and the SQL
    * oracle) can reproduce the exact boundary. */
  def thresholdU32(fraction: Double): Long =
    math.floor(fraction * 4294967296.0).toLong

  /** The j-th derived 32-bit value from ONE 64-bit hash (h1, h2 = two
    * md5 words) — the lever that turns "B md5 evaluations per row" into
    * "one md5 + B cheap integer mixes" wherever a row needs a FAMILY of
    * deterministic uniforms (the [[graft.functions.ML.bootstrapMeans]]
    * replicate draws, q240; repeated trials). A murmur-style finalizer
    * with every intermediate bounded
    * below 2⁶³, so BOTH engines replay it in plain signed-BIGINT
    * arithmetic with no wrap:
    *   a = (h2 + j·2654435761) mod 2³²; x = h1 xor a;
    *   x = (x·1597334677) mod 2³²  (multiplier < 2³¹ ⇒ product < 2⁶³);
    *   x = x xor (x >> 16); x = (x·887987685) mod 2³²;
    *   result = x xor (x >> 13), uniform over [0, 2³²).
    * Rows collide only on the full 64-bit (h1, h2) — the same collision
    * scope as one md5 per (row, j) for j ≤ 64. */
  def mixU32(h1: Column, h2: Column, j: Int): Column = {
    val a = (h2 + lit(j.toLong * 2654435761L)) % lit(4294967296L)
    val x0 = h1.bitwiseXOR(a)
    val x1 = (x0 * lit(1597334677L)) % lit(4294967296L)
    val x2 = x1.bitwiseXOR(shiftright(x1, 16))
    val x3 = (x2 * lit(887987685L)) % lit(4294967296L)
    x3.bitwiseXOR(shiftright(x3, 13))
  }

  /** The two 32-bit words of md5(salt || key) — [[mixU32]]'s seed. */
  def hash64Words(key: Column, salt: String): (Column, Column) = {
    val md = md5(concat(lit(salt), key.cast("string")))
    (conv(substring(md, 1, 8), 16, 10).cast("long"),
      conv(substring(md, 9, 8), 16, 10).cast("long"))
  }

  /** Deterministic Bernoulli sample: keep each row iff
    * hashU32(key) < fraction·2^32. Unlike `df.sample`, membership is a
    * function of the key — stable across runs, retries, and engines. */
  def sampleByHash(df: DataFrame, keyCol: String, fraction: Double,
                   salt: String = ""): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction $fraction ∉ [0,1]")
    df.filter(hashU32(col(keyCol), salt) < lit(thresholdU32(fraction)))
  }

  /** Deterministic split assignment: appends a `split` column mapping each
    * row to the named band whose cumulative-weight interval contains its
    * hash. Weights must sum to 1 (±1e-9). Bands are exactly disjoint and
    * exhaustive (integer interval arithmetic on the u32 hash), and a row's
    * band never changes unless the salt does. */
  def splitByHash(df: DataFrame, keyCol: String,
                  splits: Seq[(String, Double)], salt: String = "",
                  as: String = "split"): DataFrame = {
    require(splits.nonEmpty, "splits is empty")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split weights ${splits.map(_._2)} must sum to 1")
    val u = hashU32(col(keyCol), salt)
    val cuts = splits.scanLeft(0.0)(_ + _._2).tail.map(thresholdU32)
    // last band is the OTHERWISE: exhaustive even if the final cut rounds
    // below 2^32-1
    val assign = splits.init.zip(cuts).foldLeft(Option.empty[Column]) {
      case (acc, ((name, _), cut)) =>
        Some(acc.fold(when(u < cut, name))(_.when(u < cut, name)))
    }.fold(lit(splits.head._1))(_.otherwise(splits.last._1))
    df.withColumn(as, assign)
  }

  /** Deterministic fixed-size sample per group: the `n` rows of each group
    * whose salted hash ranks lowest (ties broken by the key itself, so the
    * selection is total-order deterministic). Unlike a fraction-based
    * sample, every group yields exactly min(n, |group|) rows — the usual
    * "N examples per source/language" curation step.
    *
    * Scale shape: `row_number() ≤ n` over (group / hash-order) lowers to
    * Spark's WindowGroupLimit — each task forwards at most n rows per
    * group BEFORE the exchange, so a skewed group costs its partial top-n
    * per task, never a full-group sort spill. */
  def sampleNPerGroup(df: DataFrame, groupCol: String, keyCol: String,
                      n: Int, salt: String = ""): DataFrame = {
    require(n > 0, s"n $n must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(hashU32(col(keyCol), salt).asc, col(keyCol).asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n).drop("__rn")
  }

  /** Domain-mixture resampling: deterministically downsample each domain so
    * the kept rows follow the `target` distribution, keeping as many rows
    * as feasible without upsampling. With per-domain counts c_d and target
    * weights w_d, the largest feasible total is T = min_d(c_d / w_d); each
    * domain keeps fraction min(w_d·T / c_d, 1). Domains absent from
    * `target` are dropped.
    *
    * Exactly two corpus passes — the theoretical minimum (T depends on all
    * counts): ONE map-side-combined count aggregate, collected (|domains|
    * rows — driver-tiny by construction), then ONE narrow filter pass with
    * the per-domain integer thresholds inlined as a literal CASE — no join
    * on the corpus side at all. (Leaving the counts as a plan subtree
    * would re-scan the corpus once per reference: tmax and the fractions
    * both consume it.) The threshold math is plain double division in a
    * fixed shape (c/w, then w·T/c) so an independent engine reproduces the
    * exact fractions; membership is the u32 hash threshold, as everywhere
    * in this module. */
  def resampleToMixture(df: DataFrame, domainCol: String, keyCol: String,
                        target: Map[String, Double],
                        salt: String = ""): DataFrame = {
    require(target.nonEmpty, "target mixture is empty")
    require(target.values.forall(_ > 0.0), s"target weights must be > 0: $target")
    val counts = df.groupBy(col(domainCol).cast("string").as("d"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      .filter { case (d, _) => target.contains(d) }
    if (counts.isEmpty) df.filter(lit(false))
    else {
      val tMin = counts.map { case (d, c) => c.toDouble / target(d) }.min
      val thresholds = counts.map { case (d, c) =>
        val f = math.min(target(d) * tMin / c.toDouble, 1.0)
        d -> math.floor(f * 4294967296.0).toLong
      }
      // unknown/null domains fall through every branch to a null
      // threshold, and `u < null` filters false — dropped, per the contract
      val thr = thresholds.foldLeft(lit(null).cast("long")) {
        case (acc, (d, t)) => when(col(domainCol).cast("string") === d, lit(t)).otherwise(acc)
      }
      df.filter(hashU32(col(keyCol), salt) < thr)
    }
  }

  /** Deterministic WEIGHTED Bernoulli sample: each row keeps with
    * probability `fraction · clamp(weight, 0, 1)` — importance sampling
    * by a per-row score (quality, recency, length), the curation step
    * "keep more of what scores higher" made reproducible. Membership is
    * the same pure function of (salt, key) as everywhere in this module;
    * the per-row threshold is `floor(fraction · w · 2^32)` — two IEEE
    * double ops + floor, so any engine reproduces the exact integer
    * boundary (no transcendental tricks: the Efraimidis–Spirakis
    * exponential-key form was deliberately rejected because its ln() is
    * libm-rounding-dependent — the r10 lesson says fixture luck and
    * rounding luck cannot sit under a hash gate). Narrow: computed in
    * the scan, no shuffle, no state. */
  def weightedSampleByHash(df: DataFrame, keyCol: String, weight: Column,
                           fraction: Double, salt: String = ""): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction $fraction ∉ [0,1]")
    val p = least(greatest(weight.cast("double"), lit(0.0)), lit(1.0)) * lit(fraction)
    df.filter(hashU32(col(keyCol), salt) < floor(p * lit(4294967296.0)))
  }

  /** Weighted reservoir sample WITHOUT replacement of exactly `k` rows
    * (Efraimidis–Spirakis A-Res): each row draws the deterministic
    * uniform u = (hashU32(key)+1)/2^32 ∈ (0,1] and the sample is the
    * top-k rows by priority u^(1/w) — computed as the monotone-
    * equivalent ln(u)/w (maximized), which avoids the pow-underflow at
    * large weights. Inclusion probability is proportional-to-weight
    * without replacement, the property mixture builders need that
    * per-row Bernoulli ([[weightedSampleByHash]]) can't give: an EXACT
    * sample size. Deterministic: priorities are a pure function of
    * (key, salt, weight), so the sample is stable across runs, retries,
    * partitionings, and engines (the oracle recomputes md5 + ln in
    * SQL). Plan: priorities ride the scan, the top-k is Spark's
    * TakeOrderedAndProject (per-partition heaps + one k-row merge —
    * never a global sort; the q13 contract). Non-positive weights are
    * excluded (priority undefined). Ties (possible only via hash
    * collision) break by key ascending. */
  def weightedReservoir(df: DataFrame, keyCol: String, weight: Column,
                        k: Int, salt: String = ""): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val u = (hashU32(col(keyCol), salt) + 1).cast("double") / 4294967296.0
    df.withColumn("__w", weight.cast("double"))
      .filter(col("__w") > 0.0)
      .withColumn("priority", log(u) / col("__w"))
      .orderBy(col("priority").desc, col(keyCol).asc)
      .limit(k)
      .drop("__w")
  }

  /** Per-GROUP weighted reservoir — the QUOTA sampler ("at most k docs
    * per domain, drawn proportional-to-weight"): [[weightedReservoir]]'s
    * deterministic A-Res priorities ranked inside each group by a
    * window, keeping `rank ≤ k`. The canonical domain-cap pass of
    * web-corpus curation (boilerplate farms contribute k docs, not
    * millions), composing with [[graft.functions.Text.registrableDomain]]
    * as the group key. Scale shape: ONE window exchange keyed on the
    * group; WindowGroupLimit pushes per-partition top-k, so the
    * exchange carries ≤ k rows per group, not the corpus — groups with
    * fewer than k positive-weight rows keep them all. Output: the kept
    * rows + (priority, rank). */
  def weightedReservoirByKey(df: DataFrame, groupCols: Seq[String],
                             idCol: String, weight: Column, k: Int,
                             salt: String = ""): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(groupCols.nonEmpty, "need at least one group column")
    val u = (hashU32(col(idCol), salt) + 1).cast("double") / 4294967296.0
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(col("priority").desc, col(idCol).asc)
    df.withColumn("__w", weight.cast("double"))
      .filter(col("__w") > 0.0)
      .withColumn("priority", log(u) / col("__w"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .drop("__w")
  }

  /** Neyman allocation — HOW MANY samples to draw per stratum for a
    * minimum-variance estimate of the population mean at a fixed
    * total budget (eval-set construction over languages/sources: a
    * proportional split wastes budget on low-variance strata):
    *   n_h = total · N_h·S_h / Σ N_h·S_h,
    * N_h the stratum size, S_h its sample SD from EXACT decimal
    * moments (one map-side-combined scan), the weights one pinned
    * chain. Strata with n < 2 (SD undefined) or zero variance get
    * weight 0 / allocation 0 — the caller applies any min-per-stratum
    * floor; the allocation is left REAL-valued (rounding schemes are
    * a policy choice). Output: strata columns + (n_pop, sd, weight,
    * alloc), one row per stratum. */
  def neymanAllocation(df: DataFrame, strataCols: Seq[String],
                       valueCol: String, total: Long, scale: Int = 2)
      : DataFrame = {
    require(strataCols.nonEmpty, "neymanAllocation needs strata columns")
    require(total > 0, s"total must be positive, got $total")
    def d(c: Column) = c.cast("double")
    val v = col(valueCol).cast(s"decimal(18,$scale)")
    val g = df.filter(col(valueCol).isNotNull)
      .groupBy(strataCols.map(col): _*)
      .agg(count(lit(1)).as("n_pop"),
        sum(v).cast("double").as("__s"),
        sum(v * v).cast("double").as("__ss"))
      .withColumn("sd",
        when(col("n_pop") >= 2,
          sqrt(greatest(
            (col("__ss") - col("__s") * col("__s") / d(col("n_pop"))) /
              (d(col("n_pop")) - 1.0), lit(0.0)))))
      .withColumn("weight",
        coalesce(d(col("n_pop")) * col("sd"), lit(0.0)))
    val tot = g.agg(sum(col("weight").cast("decimal(28,12)"))
      .cast("double").as("__w"))
    g.crossJoin(broadcast(tot))
      .select(strataCols.map(col) ++ Seq(col("n_pop"), col("sd"),
        col("weight"),
        when(col("__w") > 0,
          lit(total.toDouble) * col("weight") / col("__w")).as("alloc")): _*)
  }

  /** TOKEN-BUDGET curation — fill a training-data budget with the
    * best documents ("take the highest-quality docs until we hit 10B
    * tokens", the selection step after every quality-scoring pass):
    * rows rank by (score DESC, id ASC) — the registry-wide
    * deterministic tie-break — and a row is kept iff the INCLUSIVE
    * cumulative token count at its rank fits `budget` (greedy
    * rank-order knapsack; a doc larger than the remaining budget
    * blocks everything behind it — by design, so the cut is a clean
    * score threshold, not a size-dependent cherry-pick). Cumulative =
    * a distributed prefix over the DISTINCT-score axis (strictly
    * higher scores, [[graft.operators.Analytics]] rank machinery on
    * the negated score — never a global window) + a per-score window
    * ordered by id for the tie block (parallel across scores).
    * Hot-score hazard and its built-in fix: one score value shared by
    * 1e8 docs (quantized 0–5 quality buckets are the common case)
    * serializes that score's tie block through one window task —
    * pass `tieBreakSalt = Some(salt)` and the tie order becomes
    * (score DESC, hashU32(id, salt) ASC, id ASC): the hash's top 12
    * bits slice the block into 4096 hash-prefix-ordered buckets, the
    * bucket token mass rides a KEYED distributed prefix
    * (≤ |scores|·4096 rows) and the residual windows partition on
    * (score, bucket) — rows-per-score/4096 each, distributed however
    * hot the score. Measured crossover (NOTES_r19.md and SCALE.md,
    * token_budget_hot6 pair, 50M rows / 6 scores / 32 cores): the
    * PLAIN form wins ~2.5× there (7.3 s vs 18.1 s) because six
    * 8.3M-row blocks still fit six cores and task memory while the
    * salt pays the per-row md5 fanout twice — reach for the salt
    * when a score's block exceeds single-task memory (~1e8+ rows) or
    * the block count is far below the executor count (6 blocks on
    * 1000 executors = 994 idle). The unsalted default keeps the pure
    * (score DESC, id ASC) contract. Rows with NULL id/score/tokens
    * are dropped; duplicate (score, id) PAIRS raise (the within-score
    * cumulative ordered by id is ambiguous under duplicates — the
    * msprt/pairwiseKappa guard convention; the check is a lag over
    * the cumulative's own window, zero extra exchanges).
    * Output: (idCol, score,
    * tokens, cum_tokens, kept) — every surviving input row, `kept`
    * the budget verdict; filter on it for the curated set.
    * EAGER: builds on the pinned-execution bridge, so Spark jobs
    * launch AT CALL time and the input is snapshotted then
    * ([[org.apache.spark.sql.graftbridge.RddShareBridge]]). */
  def tokenBudgetSample(df: DataFrame, idCol: String, scoreCol: String,
                        tokensCol: String, budget: Long,
                        tieBreakSalt: Option[String] = None): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    import graft.operators.Analytics
    val base = df.filter(col(idCol).isNotNull && col(scoreCol).isNotNull &&
        col(tokensCol).isNotNull)
      .select(col(idCol).as("__id"),
        col(scoreCol).cast("double").as("__sc"),
        col(tokensCol).cast("long").as("__tk"))
    // duplicate-(score, id) guard riding the SAME window exchange as
    // the cumulative (lag over an identical partition/order spec —
    // zero extra shuffles, q442's ceiling untouched): duplicates are
    // adjacent in the ordered tie block, and the raise is consumed by
    // cum_tokens so pruning cannot elide it
    def dupGuard(w: org.apache.spark.sql.expressions.WindowSpec): Column =
      when(lag(col("__id"), 1).over(w) === col("__id"),
        raise_error(lit("tokenBudgetSample: duplicate (score, id) " +
          "rows — the within-score cumulative ordered by id is " +
          "ambiguous; dedup upstream")).cast("long"))
        .otherwise(lit(0L))
    val sc = base.groupBy((-col("__sc")).as("__k"))
      .agg(sum(col("__tk")).as("__gt"))
    val (_, pre) = Analytics.prefixBefore(
      sc, Nil, "__k", Seq("t" -> col("__gt")))
    val higher = pre.select((-col("__k")).as("__hs"),
      coalesce(col("__cum_t"), lit(0L)).as("__above"))
    val cumulated = tieBreakSalt match {
      case None =>
        val wKey = org.apache.spark.sql.expressions.Window
          .partitionBy(col("__sc")).orderBy(col("__id").asc)
        base
          .withColumn("__within",
            sum(col("__tk")).over(wKey.rowsBetween(Long.MinValue, 0)))
          .withColumn("__dup", dupGuard(wKey))
          .join(higher, col("__sc") === col("__hs"))
          .withColumn("cum_tokens",
            col("__above") + col("__within") + col("__dup"))
      case Some(salt) =>
        // the tiebreak hash's TOP 12 bits bucket the score block into
        // 4096 hash-prefix-ordered slices: (score DESC, bucket ASC,
        // hash ASC, id ASC) is the SAME total order as
        // (score DESC, hash ASC, id ASC), the keyed prefix runs over
        // ≤ |scores|·4096 bucket rows instead of per-distinct-hash
        // rows (measured: the per-hash form paid ~50M-row range
        // exchanges and lost 5.9× to the plain window at the 50M/6
        // stress point), and each residual window block is
        // rows-per-score/4096 — distributed however hot the score
        val salted = base.withColumn("__tb", hashU32(col("__id"), salt))
          .withColumn("__bk", shiftright(col("__tb"), 20))
        val stb = salted.groupBy(col("__sc"), col("__bk"))
          .agg(sum(col("__tk")).as("__gt2"))
        val pre2 = Analytics.prefixBefore(
          stb, Seq("__sc"), "__bk", Seq("t2" -> col("__gt2")))._2
          .select(col("__sc").as("__s2"), col("__bk").as("__bk2"),
            coalesce(col("__cum_t2"), lit(0L)).as("__atBk"))
        // a duplicate (score, id) shares tb AND bucket, so equal ids
        // are adjacent under (tb, id) and the lag guard sees them
        val wKey = org.apache.spark.sql.expressions.Window
          .partitionBy(col("__sc"), col("__bk"))
          .orderBy(col("__tb").asc, col("__id").asc)
        salted
          .withColumn("__within",
            sum(col("__tk")).over(wKey.rowsBetween(Long.MinValue, 0)))
          .withColumn("__dup", dupGuard(wKey))
          .join(pre2, col("__sc") === col("__s2") &&
            col("__bk") === col("__bk2"))
          .join(higher, col("__sc") === col("__hs"))
          .withColumn("cum_tokens",
            col("__above") + col("__atBk") + col("__within") + col("__dup"))
    }
    cumulated
      .withColumn("kept", col("cum_tokens") <= budget)
      .select(col("__id").as(idCol), col("__sc").as("score"),
        col("__tk").as("tokens"), col("cum_tokens"), col("kept"))
  }

  /** CONSTRAINED curation: a global token budget AND a domain mix at
    * once — the real curation ask ("10B tokens at 40/40/20
    * web/code/books by best quality"; [[tokenBudgetSample]] fills one
    * global budget, [[mixToShares]] hits shares without a budget):
    * the mix arithmetic fixes per-domain budgets
    *   B_d = ⌊budget · w_d / Σw⌋   (fixed double ops, Seq order),
    * and each domain independently runs the greedy rank-order
    * knapsack — rows rank by (score DESC, id ASC) WITHIN their
    * domain, kept iff the domain's inclusive cumulative fits B_d. A
    * domain with fewer tokens than its budget keeps everything (the
    * realized mix is then below target there — loudly visible in
    * `kept` sums, never silently re-balanced: re-allocating slack
    * would change other domains' cut thresholds into functions of
    * cross-domain content, exactly the size-dependent cherry-pick the
    * greedy contract exists to prevent). Rows in domains OUTSIDE the
    * design are dropped; NULL id/score/tokens dropped; duplicate
    * (domain, score, id) rows raise via the same zero-exchange lag
    * guard as [[tokenBudgetSample]].
    *
    * Scale shape: the cumulative rides the KEYED distributed prefix
    * (compound range exchange on (domain, −score) — a hot domain
    * splits across slices) + per-(domain, score) tie windows; the
    * per-domain budgets are pure literals (no counts pass, unlike
    * [[mixToShares]] — the budget split is design-driven, not
    * data-driven). Output: (idCol, domain, score, tokens, cum_tokens,
    * domain_budget, kept).
    * EAGER: builds on the pinned-execution bridge, so Spark jobs
    * launch AT CALL time and the input is snapshotted then
    * ([[org.apache.spark.sql.graftbridge.RddShareBridge]]). */
  def tokenBudgetByMix(df: DataFrame, idCol: String, scoreCol: String,
                       tokensCol: String, domainCol: String,
                       budget: Long, mix: Seq[(String, Double)])
      : DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(mix.nonEmpty, "tokenBudgetByMix needs target shares")
    require(mix.map(_._1).distinct.length == mix.length,
      s"duplicate domains in $mix")
    require(mix.forall(_._2 > 0), s"shares must be > 0: $mix")
    import graft.operators.Analytics
    val tTot = mix.map(_._2).sum
    val budgets = mix.map { case (g, w) =>
      g -> math.floor(budget.toDouble * (w / tTot)).toLong }
    val domains = mix.map(_._1)
    val base = df.filter(col(idCol).isNotNull && col(scoreCol).isNotNull &&
        col(tokensCol).isNotNull && col(domainCol).isin(domains: _*))
      .select(col(idCol).as("__id"), col(domainCol).as("__dom"),
        col(scoreCol).cast("double").as("__sc"),
        col(tokensCol).cast("long").as("__tk"))
    val sc = base.groupBy(col("__dom").as("__d2"), (-col("__sc")).as("__k"))
      .agg(sum(col("__tk")).as("__gt"))
    val pre = Analytics.prefixBefore(
      sc, Seq("__d2"), "__k", Seq("t" -> col("__gt")))._2
      .select(col("__d2"), (-col("__k")).as("__hs"),
        coalesce(col("__cum_t"), lit(0L)).as("__above"))
    val wKey = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__dom"), col("__sc")).orderBy(col("__id").asc)
    val dup = when(lag(col("__id"), 1).over(wKey) === col("__id"),
      raise_error(lit("tokenBudgetByMix: duplicate (domain, score, id) " +
        "rows — the within-score cumulative ordered by id is " +
        "ambiguous; dedup upstream")).cast("long"))
      .otherwise(lit(0L))
    val bCol = budgets.tail.foldLeft(
      when(col("__dom") === budgets.head._1, budgets.head._2)) {
      case (acc, (g, b)) => acc.when(col("__dom") === g, b)
    }
    base
      .withColumn("__within",
        sum(col("__tk")).over(wKey.rowsBetween(Long.MinValue, 0)))
      .withColumn("__dup", dup)
      .join(pre, col("__dom") === col("__d2") &&
        col("__sc") === col("__hs"))
      .withColumn("cum_tokens",
        col("__above") + col("__within") + col("__dup"))
      .withColumn("domain_budget", bCol)
      .withColumn("kept", col("cum_tokens") <= col("domain_budget"))
      .select(col("__id").as(idCol), col("__dom").as("domain"),
        col("__sc").as("score"), col("__tk").as("tokens"),
        col("cum_tokens"), col("domain_budget"), col("kept"))
  }

  /** Deterministic DOMAIN-MIX downsampling — hit a target source mix
    * ("40% web, 40% code, 20% books") at the LARGEST total the corpus
    * allows: the binding domain (smallest n_d/target_d) is kept in
    * full and every other domain is hash-thinned to match, via
    * per-domain keep-rates
    *   rate_d = S·t_d/n_d,  S = min_e n_e/t_e  (t normalized),
    * applied as the [[sampleByHash]] integer threshold — membership is
    * a pure function of (id, salt), stable across runs, retries, and
    * engines, and the thresholds derive from the domain COUNTS (k
    * scalars read driver-side, the accepted one-number pattern).
    * Rows in domains OUTSIDE the design are dropped. The realized mix
    * is binomial around the target (deterministic thinning keeps
    * rates, not exact counts — exact-count quotas are
    * [[quotaSample]]'s job; this form composes with streaming and
    * incremental ingest). Output: the kept rows (original columns) +
    * `keep_rate`. */
  def mixToShares(df: DataFrame, domainCol: String, idCol: String,
                  targets: Seq[(String, Double)], salt: String)
      : DataFrame = {
    require(targets.nonEmpty, "mixToShares needs target shares")
    require(targets.map(_._1).distinct.length == targets.length,
      s"duplicate domains in $targets")
    require(targets.forall(_._2 > 0), s"shares must be > 0: $targets")
    val tTot = targets.map(_._2).sum
    val domains = targets.map(_._1)
    val cnts = df.filter(col(domainCol).isin(domains: _*))
      .groupBy(col(domainCol)).agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(targets.forall { case (g, _) => cnts.getOrElse(g, 0L) > 0 },
      s"designed domain with zero rows: " +
        s"${targets.map(_._1).filterNot(cnts.contains)}")
    // S and the rates in one FIXED op order (the oracle replays it)
    val sMin = targets.map { case (g, t) =>
      cnts(g).toDouble / (t / tTot) }.min
    val rates = targets.map { case (g, t) =>
      g -> sMin * (t / tTot) / cnts(g).toDouble }
    val thr = rates.map { case (g, r) => g -> thresholdU32(r) }
    val thrCol = thr.tail.foldLeft(
      when(col(domainCol) === thr.head._1, thr.head._2)) {
      case (acc, (g, t)) => acc.when(col(domainCol) === g, t)
    }
    val rateCol = rates.tail.foldLeft(
      when(col(domainCol) === rates.head._1, rates.head._2)) {
      case (acc, (g, r)) => acc.when(col(domainCol) === g, r)
    }
    df.filter(col(domainCol).isin(domains: _*))
      .filter(hashU32(col(idCol), salt) < thrCol)
      .withColumn("keep_rate", rateCol)
  }

  /** [[mixToShares]] on TOKEN MASS — training mixes are specified in
    * tokens, not documents ("40% of the TOKENS from web"), and
    * row-count thinning misses by exactly the domains' mean-length
    * ratio: with per-domain token sums T_d and normalized targets t_d,
    * the binding domain (smallest T_d/t_d) keeps everything and every
    * other domain hash-thins at
    *   rate_d = S·t_d/T_d,   S = min_e T_e/t_e,
    * so each domain's EXPECTED kept token mass is S·t_d — the largest
    * total the corpus allows at the target mix (each kept doc keeps
    * all its tokens; membership stays the pure (id, salt) hash
    * threshold, stable across runs and engines). The realized mix is
    * binomial around the target, length-weighted — exact-count quotas
    * remain [[quotaSample]]'s job, per-doc score-greedy filling
    * [[tokenBudgetByMix]]'s. The counts pass reads k token-sum
    * scalars driver-side (the accepted one-number pattern); rows in
    * domains OUTSIDE the design (or with NULL tokens) are dropped.
    * Output: the kept rows (original columns) + `keep_rate`. */
  def tokenMixToShares(df: DataFrame, domainCol: String, idCol: String,
                       tokensCol: String, targets: Seq[(String, Double)],
                       salt: String): DataFrame = {
    require(targets.nonEmpty, "tokenMixToShares needs target shares")
    require(targets.map(_._1).distinct.length == targets.length,
      s"duplicate domains in $targets")
    require(targets.forall(_._2 > 0), s"shares must be > 0: $targets")
    val tTot = targets.map(_._2).sum
    val domains = targets.map(_._1)
    val base = df.filter(col(domainCol).isin(domains: _*) &&
      col(tokensCol).isNotNull)
    val masses = base.groupBy(col(domainCol))
      .agg(sum(col(tokensCol).cast("long")).as("__tk"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(targets.forall { case (g, _) => masses.getOrElse(g, 0L) > 0 },
      s"designed domain with zero token mass: " +
        s"${targets.map(_._1).filter(g => masses.getOrElse(g, 0L) <= 0)}")
    // S and the rates in one FIXED op order (the oracle replays it)
    val sMin = targets.map { case (g, t) =>
      masses(g).toDouble / (t / tTot) }.min
    val rates = targets.map { case (g, t) =>
      g -> sMin * (t / tTot) / masses(g).toDouble }
    val thr = rates.map { case (g, r) => g -> thresholdU32(r) }
    val thrCol = thr.tail.foldLeft(
      when(col(domainCol) === thr.head._1, thr.head._2)) {
      case (acc, (g, t)) => acc.when(col(domainCol) === g, t)
    }
    val rateCol = rates.tail.foldLeft(
      when(col(domainCol) === rates.head._1, rates.head._2)) {
      case (acc, (g, r)) => acc.when(col(domainCol) === g, r)
    }
    base
      .filter(hashU32(col(idCol), salt) < thrCol)
      .withColumn("keep_rate", rateCol)
  }

  /** Importance/sample-weight DIAGNOSTICS — the three numbers to read
    * before trusting ANY weighted estimate (a re-weighted corpus
    * metric, an inverse-propensity mean, [[stratifiedMean]]-style
    * corrections done by hand): Kish's effective sample size
    * ESS = (Σw)²/Σw², its ratio to n (1 = unweighted; 0.1 = 90% of
    * the data is statistically dead weight), and the largest single
    * weight's share of the total (one row owning 30% of the weight
    * means the "estimate" is that row). Exact decimal sums, one
    * map-side-combined scan; negative weights raise (they break the
    * ESS identity — clamp or fix upstream). Output: one row —
    * (n, sum_w, ess, ess_ratio, max_share). */
  def weightDiagnostics(df: DataFrame, weightCol: String,
                        scale: Int = 6): DataFrame = {
    def d(c: Column) = c.cast("double")
    val w = col(weightCol).cast(s"decimal(18,$scale)")
    df.filter(col(weightCol).isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(w).cast("double").as("__sw"),
        sum((w * w).cast(s"decimal(38,${2 * scale})"))
          .cast("double").as("__sww"),
        max(w).cast("double").as("__wmax"),
        min(w).cast("double").as("__wmin"))
      .withColumn("sum_w",
        when(col("__wmin").isNull || col("__wmin") >= 0, col("__sw"))
        .otherwise(raise_error(lit("weightDiagnostics: negative " +
          "weight — the ESS identity needs w >= 0; clamp or fix " +
          "upstream"))))
      .withColumn("ess", when(col("__sww") > 0,
        col("__sw") * col("__sw") / col("__sww")))
      .withColumn("ess_ratio", when(col("n") > 0,
        col("ess") / col("n").cast("double")))
      .withColumn("max_share", when(col("__sw") > 0,
        col("__wmax") / col("__sw")))
      .select("n", "sum_w", "ess", "ess_ratio", "max_share")
  }

  /** RAKING (iterative proportional fitting, Deming–Stephan 1940) —
    * per-document weights that make TWO categorical margins match
    * target shares at once ("reweight the corpus so language hits
    * 50/15/15/10/10 AND length-bucket hits 30/40/30" — the survey
    * post-stratification move [[stratifiedMean]]-style single-margin
    * correction can't do): aggregate to the (a, b) cell table, then
    * `iters` rounds of the classic alternating fit — scale every
    * cell's mass so row totals hit R_a = share_a·N, then so column
    * totals hit C_b = share_b·N. Converges to the minimum-KL
    * (maximum-entropy) adjustment of the observed table with the
    * target margins; `weight` = fitted mass / raw count is the
    * per-document weight for that cell. Rows outside either design
    * are EXCLUDED from the fit and counted (`n_off` on every output
    * row — nonzero means the design doesn't cover the corpus); a
    * design level ABSENT from the data gets no cells, so the
    * remaining levels' fit renormalizes around it (the margins then
    * cannot all be hit — check presence upstream, e.g. [[
    * graft.operators.Analytics.srmTest]]). Iteration count is FIXED
    * (default 10 — margins typically match to ~1e-6 well before
    * that; raking has no data-dependent stopping here, so both
    * engines run the identical arithmetic). Margin totals fold in
    * sorted cell order (the pinned double-sum convention).
    *
    * EAGER, by design: the corpus-scale work is ONE distributed cell
    * aggregate; the |targetA|·|targetB|-bounded cell table (bounded
    * by the CALLER's explicit level lists — the mixToShares accepted
    * pattern) then crosses the driver and the T alternating fits run
    * as driver arithmetic. Building the fit as 2T chained
    * self-referential joins instead doubles the logical plan per fit
    * (2^2T nodes — measured as a Catalyst planning hang at T = 10),
    * for a table the design already bounds. Output: one row per
    * observed cell, ordered — (dimA, dimB, n, mass, weight,
    * n_off). */
  def rakeWeights(df: DataFrame, dimACol: String, dimBCol: String,
                  targetA: Seq[(String, Double)],
                  targetB: Seq[(String, Double)],
                  iters: Int = 10): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    for ((nm, t) <- Seq("targetA" -> targetA, "targetB" -> targetB)) {
      require(t.nonEmpty, s"rakeWeights needs $nm shares")
      require(t.map(_._1).distinct.length == t.length,
        s"duplicate levels in $nm: $t")
      require(t.forall(_._2 > 0), s"$nm shares must be > 0: $t")
    }
    val (waTot, wbTot) = (targetA.map(_._2).sum, targetB.map(_._2).sum)
    val inA = col(dimACol).isin(targetA.map(_._1): _*)
    val inB = col(dimBCol).isin(targetB.map(_._1): _*)
    val base = df.filter(col(dimACol).isNotNull && col(dimBCol).isNotNull)
    val cellRows = base
      .groupBy(col(dimACol).cast("string").as("__a"),
        col(dimBCol).cast("string").as("__b"))
      .agg(count(lit(1)).as("n"), max(when(inA && inB, 1).otherwise(0))
        .as("__in"))
      .collect()
    val nOff = cellRows.filter(_.getAs[Int]("__in") == 0)
      .map(_.getAs[Long]("n")).sum
    val cells = cellRows.filter(_.getAs[Int]("__in") == 1)
      .map(r => (r.getAs[String]("__a"), r.getAs[String]("__b"),
        r.getAs[Long]("n")))
      .sortBy(t => (t._1, t._2))
    val bigN = cells.map(_._3).sum.toDouble
    val shareA = targetA.map { case (l, s) => l -> s / waTot }.toMap
    val shareB = targetB.map { case (l, s) => l -> s / wbTot }.toMap
    var m = cells.map(t => (t._1, t._2) -> t._3.toDouble).toMap
    val aLevels = cells.map(_._1).distinct.sorted
    val bLevels = cells.map(_._2).distinct.sorted
    for (_ <- 1 to iters) {
      for (a <- aLevels) {
        val row = bLevels.flatMap(b => m.get((a, b)))
        val tot = row.foldLeft(0.0)(_ + _)
        for (b <- bLevels; v <- m.get((a, b)))
          m += (a, b) -> (v * ((shareA(a) * bigN) / tot))
      }
      for (b <- bLevels) {
        val colv = aLevels.flatMap(a => m.get((a, b)))
        val tot = colv.foldLeft(0.0)(_ + _)
        for (a <- aLevels; v <- m.get((a, b)))
          m += (a, b) -> (v * ((shareB(b) * bigN) / tot))
      }
    }
    // explicit schema + Row (NOT spark.implicits' product encoder —
    // runtime-reflection encoder derivation breaks under the sbt
    // console classloader, and the README promises console-runnable
    // snippets)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField(dimACol, StringType), StructField(dimBCol, StringType),
      StructField("n", LongType, nullable = false),
      StructField("mass", DoubleType, nullable = false),
      StructField("weight", DoubleType, nullable = false),
      StructField("n_off", LongType, nullable = false)))
    val out = cells.map { case (a, b, n) =>
      val mass = m((a, b))
      Row(a, b, n, mass, mass / n.toDouble, nOff)
    }
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(out: _*), schema)
  }

  /** DSIR — Data Selection via Importance Resampling (Xie–Santurkar–
    * Ma–Liang, NeurIPS 2023): pick the k raw-corpus documents whose
    * hashed bag-of-n-grams distribution looks most like a TARGET
    * corpus (the published recipe behind "select pretraining data that
    * resembles Wikipedia"): both corpora reduce to counts over
    * `buckets` hashed n-gram features, each bucket gets the smoothed
    * log-likelihood ratio
    *   lr_b = ln((c_t[b]+1)/(T_t+B)) − ln((c_r[b]+1)/(T_r+B)),
    * each document's importance log-weight is ℓ_d = Σ_b c_d[b]·lr_b,
    * and selection is Gumbel top-k on ℓ_d + g_d — the paper's sampler
    * made deterministic with the repo's salted-hash uniforms
    * (u = (hashU32(id, salt)+½)/2³², g = −ln(−ln u)). The ranking key
    * is (ℓ+g) quantized at decimal(28,4) with an id tie-break: a
    * deterministic, engine-portable discretization — documents within
    * 10⁻⁴ of each other in perturbed log-weight order by id (libm ulp
    * divergence between engines cannot flip ranks below the grid).
    * Documents with NULL id/text or fewer than n tokens have no
    * features and are never selected (the paper's eligibility rule);
    * duplicate ids RAISE (their features would silently merge). ℓ_d
    * folds in bucket order through a per-doc sorted array (the pinned
    * double-sum convention).
    *
    * 100 TB: text never shuffles — the tokenizer+bucket hash is one
    * codegen'd expression at the scans, exchanges carry only
    * (id, bucket, count) longs; both corpus models are ≤`buckets`
    * rows, broadcast; the final selection is a TakeOrdered top-k,
    * never a global sort. Output: k rows — (id, log_weight, key),
    * both log_weight and key quantized at decimal(28,4) (the
    * engine-portable grid; ulp-exact doubles do not survive two ln()
    * chains across engines) and emitted as double, ordered by
    * (key DESC, id). */
  def dsirSample(df: DataFrame, idCol: String, textCol: String,
                 target: DataFrame, targetTextCol: String, k: Int,
                 n: Int = 2, buckets: Int = 4096,
                 salt: String = "dsir"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    def d(c: Column) = c.cast("double")
    def bucketCounts(t: DataFrame, tc: String): DataFrame =
      t.filter(col(tc).isNotNull)
        .select(explode(graft.plans.HashExpressions
          .shingleBucketsAll(col(tc), n, buckets)).as("b"))
        .groupBy("b").agg(count(lit(1)).as("c"))
    val tcnt = bucketCounts(target, targetTextCol)
    val rcnt = bucketCounts(df, textCol)
    val tTot = tcnt.agg(coalesce(sum(col("c")), lit(0L)).as("__tt"))
    val rTot = rcnt.agg(coalesce(sum(col("c")), lit(0L)).as("__tr"))
    // duplicate ids would merge two documents' features silently —
    // the guard rides the (bounded) model frame on the main path
    val chk = df.filter(col(idCol).isNotNull)
      .agg(count(lit(1)).as("__cnt"),
        countDistinct(col(idCol)).as("__cd"))
    val lr = tcnt.select(col("b"), col("c").as("__ct"))
      .join(rcnt.select(col("b"), col("c").as("__cr")), Seq("b"), "full")
      .crossJoin(broadcast(tTot)).crossJoin(broadcast(rTot))
      .crossJoin(broadcast(chk))
      .withColumn("lr", when(col("__cnt") === col("__cd"),
        log((d(coalesce(col("__ct"), lit(0L))) + 1.0) /
          (d(col("__tt")) + lit(buckets.toDouble))) -
          log((d(coalesce(col("__cr"), lit(0L))) + 1.0) /
            (d(col("__tr")) + lit(buckets.toDouble))))
        .otherwise(raise_error(lit("dsirSample: duplicate ids — two " +
          "documents' features would merge; de-duplicate upstream"))))
      .select("b", "lr")
    val db = df.filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        explode(graft.plans.HashExpressions
          .shingleBucketsAll(col(textCol), n, buckets)).as("b"))
      .groupBy("id", "b").agg(count(lit(1)).as("c"))
    val ell = db.join(broadcast(lr), Seq("b"))
      .withColumn("__term", d(col("c")) * col("lr"))
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("b"), col("__term"))))
        .as("__ts"))
      .withColumn("log_weight", aggregate(col("__ts"), lit(0.0),
        (acc, x) => acc + x.getField("__term")))
    val u = (d(hashU32(col("id"), salt)) + 0.5) / lit(4294967296.0)
    // both emitted columns are quantized through the decimal(28,4)
    // grid and emitted as DOUBLE: the raw double is two ln() chains
    // deep, and a one-ulp libm divergence between engines flips an
    // exact output hash with rows and ranks still matching (round-19
    // driver verify, q462); a DECIMAL output column in turn reads back
    // as Decimal objects on one side of a pandas compare and float64 on
    // the other. The key is built from the RAW double first —
    // quantizing the emitted log_weight cannot move ranks.
    def quantize(c: Column) = c.cast("decimal(28,4)").cast("double")
    ell
      .withColumn("key", quantize(col("log_weight") - log(-log(u))))
      .select(col("id"), quantize(col("log_weight")).as("log_weight"),
        col("key"))
      .orderBy(col("key").desc, col("id"))
      .limit(k)
  }

  /** Importance-weight TAIL diagnostic — [[weightDiagnostics]] tells
    * you how much weight is concentrated; this tells you whether the
    * weight DISTRIBUTION's tail is heavy enough that the concentration
    * will get worse with more data (the importance-sampling failure
    * mode: a few enormous ratios own every estimate): the Hill
    * estimate ξ̂ of the generalized-Pareto shape of the weights' upper
    * tail, over the PUBLISHED tail fraction
    * M = ⌈min(n/5, 3√n)⌉ (the PSIS tail-size rule, Vehtari–Simpson–
    * Gelman 2017 — NOTE the published k̂ fits a GPD by the
    * Zhang–Stephens posterior mean; Hill is the classical estimator
    * of the SAME shape parameter and is engine-replayable, the
    * documented divergence). Read with the published thresholds:
    * ξ̂ < 0.5 reliable ("good"), 0.5–0.7 usable with care ("ok"),
    * ≥ 0.7 the weighted estimate should not be trusted
    * ("unreliable" — variance is effectively infinite). Plan:
    * [[graft.operators.Analytics.hillTailIndex]]'s top-(M+1) heaps +
    * exact ln-sum; NULL ξ̂ (n_pos < M + 1) → NULL diagnosis.
    * EAGER: ONE count job launches at call time to size M from the
    * positive-weight count (a one-number driver read, the accepted
    * pattern — data never crosses the driver). Output: one row —
    * (n_pos, k, x_k1, xi_hill, diagnosis). */
  def weightTailDiagnostic(df: DataFrame, weightCol: String): DataFrame = {
    val n = df.filter(col(weightCol).isNotNull &&
      col(weightCol).cast("double") > 0.0).count()
    val m = math.max(1L, math.ceil(
      math.min(n / 5.0, 3.0 * math.sqrt(n.toDouble))).toLong).toInt
    graft.operators.Analytics.hillTailIndex(df, weightCol, m)
      .withColumn("xi_hill", col("hill_inv"))
      .withColumn("diagnosis", when(col("xi_hill").isNull,
          lit(null).cast("string"))
        .when(col("xi_hill") < 0.5, "good")
        .when(col("xi_hill") < 0.7, "ok")
        .otherwise("unreliable"))
      .select("n_pos", "k", "x_k1", "xi_hill", "diagnosis")
  }
}
