package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Analytics.{dropTag, joinTotals, keyEq, renKeys}

/** Regular-grid time-series operators: resample an irregular event stream
  * onto a fixed bucket grid with gap filling (last-observation-carried-
  * forward) — the reference's time-indexed tables (`loadndsparse` with a
  * time dimension, reference src/indexing.jl) answer "value at/until t"
  * queries, and a regular resample is the canonical preparation for them.
  *
  * Design for scale: the naive formulation (per-key calendar grid, left
  * join to observed buckets, then a forward-fill window over the filled
  * frame) costs a join plus TWO exchanges of the grid-sized frame. This
  * implementation never materializes a join: after the per-bucket
  * aggregate, one `lead` window finds each observed bucket's successor,
  * and the gap rows are GENERATED from the predecessor row itself
  * (explode of `sequence(bucket, next−1)`) — which carries the filled
  * values by construction. Aggregate exchange + one window exchange,
  * explode is narrow.
  */
object TimeSeries {

  /** Resample `df` onto a fixed-width grid per key: one row per (key,
    * bucket) from each key's first observed bucket to its last, where
    * `bucket = tsCol div width` (both engines truncate non-negative
    * integral division identically; timestamps are the module's usual
    * int64 epoch values). Missing buckets carry the PREVIOUS observed
    * bucket's aggregate values forward, flagged `present = false`.
    *
    * `aggs` are the per-bucket aggregates ((name, expr), evaluated over
    * each (key, bucket) group). Gap length per observed row is bounded by
    * Spark's sequence-length cap (~10M elements) — a key silent for
    * longer than 10M buckets fails loudly rather than degrading; widen
    * `width` for sparser series. */
  def resampleFill(df: DataFrame, keyCols: Seq[String], tsCol: String,
                   width: Long, aggs: Seq[(String, Column)]): DataFrame = {
    require(width > 0, s"bucket width must be positive, got $width")
    require(aggs.nonEmpty, "resampleFill needs at least one aggregate")
    val keys = keyCols.map(col)
    val bucketed = df
      .withColumn("bucket", expr(s"$tsCol div ${width}L"))
      .groupBy(keys :+ col("bucket"): _*)
      .agg(aggs.head._2.as(aggs.head._1),
        aggs.tail.map { case (n, c) => c.as(n) }: _*)
    val w = Window.partitionBy(keys: _*).orderBy(col("bucket").asc)
    val withNext = bucketed.withColumn("__next", lead(col("bucket"), 1).over(w))
    // each observed row emits itself (present) plus its gap successors
    // (absent, carrying this row's values) up to the next observed bucket
    val gridEnd = when(col("__next").isNotNull, col("__next") - 1L)
      .otherwise(col("bucket"))
    withNext
      .withColumn("__g", explode(sequence(col("bucket"), gridEnd)))
      .select(keys ++
        Seq(col("__g").as("bucket"), (col("__g") === col("bucket")).as("present")) ++
        aggs.map { case (n, _) => col(n) }: _*)
  }

  /** Linear-interpolation resample — [[resampleFill]]'s numeric sibling:
    * same per-key grid (first to last observed bucket, `bucket = ts div
    * width`), but gap rows INTERPOLATE between the surrounding observed
    * aggregates instead of carrying the left one forward:
    * `v(g) = v₀ + (v₁ − v₀) · ((g − b₀)/(b₁ − b₀))` — the standard
    * time-series upsampling rule. All agg values are cast to double;
    * the interpolation is row-level double arithmetic with a pinned
    * operation order (the module exactness contract: exact where sums
    * accumulate, engine-identical IEEE where rows compute), so every
    * generated value is oracle-replayable.
    *
    * Plan shape is resampleFill's exactly: aggregate exchange + ONE
    * window exchange (lead of bucket AND of each value rides the same
    * sort), narrow explode — no grid join, no second pass. Observed
    * rows emit their aggregate verbatim (`present = true`); the g = b₀
    * case of the formula would equal it bit-for-bit anyway (`+ 0·Δ`),
    * the explicit branch just keeps the intent obvious. */
  def resampleInterp(df: DataFrame, keyCols: Seq[String], tsCol: String,
                     width: Long, aggs: Seq[(String, Column)]): DataFrame = {
    require(width > 0, s"bucket width must be positive, got $width")
    require(aggs.nonEmpty, "resampleInterp needs at least one aggregate")
    val keys = keyCols.map(col)
    val names = aggs.map(_._1)
    val bucketed = df
      .withColumn("bucket", expr(s"$tsCol div ${width}L"))
      .groupBy(keys :+ col("bucket"): _*)
      .agg(aggs.head._2.cast("double").as(aggs.head._1),
        aggs.tail.map { case (n, c) => c.cast("double").as(n) }: _*)
    val w = Window.partitionBy(keys: _*).orderBy(col("bucket").asc)
    val withNext = names.foldLeft(
        bucketed.withColumn("__next", lead(col("bucket"), 1).over(w))) {
      case (d, n) => d.withColumn(s"__nx_$n", lead(col(n), 1).over(w))
    }
    val gridEnd = when(col("__next").isNotNull, col("__next") - 1L)
      .otherwise(col("bucket"))
    val frac = (col("__g") - col("bucket")).cast("double") /
      (col("__next") - col("bucket")).cast("double")
    withNext
      .withColumn("__g", explode(sequence(col("bucket"), gridEnd)))
      .select(keys ++
        Seq(col("__g").as("bucket"), (col("__g") === col("bucket")).as("present")) ++
        names.map { n =>
          when(col("__g") === col("bucket"), col(n))
            .otherwise(col(n) + (col(s"__nx_$n") - col(n)) * frac).as(n)
        }: _*)
  }

  /** Time-weighted average per key — the step-function mean between each
    * key's first and last observation:
    * `twap = Σᵢ vᵢ·(tᵢ₊₁ − tᵢ) / (t_last − t_first)` (the last
    * observation closes the integral and contributes no interval — the
    * standard TWAP/asset-mark convention). A plain AVG over irregular
    * observations over-weights bursts; the duration weighting is what
    * monitoring/finance pipelines actually want.
    *
    * Exactness: each v·Δt product is decimal(18,4)×decimal(20,0) —
    * EXACT — and the sum accumulates in decimal, so the result is
    * order-independent with ONE double division at the end (the module
    * contract; the oracle replays it). Keys with a single observation
    * (zero total duration) emit NULL twap rather than 0/0. One window
    * exchange (lead rides the per-key sort) + one aggregate. */
  def twap(df: DataFrame, keyCols: Seq[String], tsCol: String,
           valueCol: String, tieCols: Seq[String] = Nil): DataFrame = {
    val keys = keyCols.map(col)
    // tieCols pin the lead order under equal timestamps (equal-ts pairs
    // contribute Δt = 0 either way, but WHICH value closes the integral
    // segment after the tie must be deterministic)
    val w = Window.partitionBy(keys: _*)
      .orderBy((col(tsCol).asc +: tieCols.map(col(_).asc)): _*)
    df.withColumn("__nt", lead(col(tsCol), 1).over(w))
      .groupBy(keys: _*)
      .agg(
        count(lit(1)).as("n_obs"),
        min(col(tsCol)).as("t_first"),
        max(col(tsCol)).as("t_last"),
        sum(when(col("__nt").isNotNull,
          col(valueCol).cast("decimal(18,4)") *
            (col("__nt") - col(tsCol)).cast("decimal(20,0)"))).as("__wsum"))
      .withColumn("twap",
        when(col("t_last") > col("t_first"),
          col("__wsum").cast("double") /
            (col("t_last") - col("t_first")).cast("double")))
      .drop("__wsum")
  } // the t_last > t_first guard also covers the all-equal-ts key (0/0)

  /** Trailing time-range rolling aggregates: for every input row, `aggs`
    * evaluated over the key's rows with `tsCol` in [ts − lookback, ts]
    * (both ends inclusive; equal-timestamp peers are all in frame — the
    * standard RANGE-frame semantics in any engine). The canonical
    * "7-day trailing activity" feature shape.
    *
    * One exchange (hash on the key) + one in-partition sort; the frame
    * is evaluated by Spark's sliding WindowExec — no self-join, no
    * explode. The per-key sequential bound of a window sort applies as
    * with Sessions (documented there; the salted two-level trick does
    * NOT compose with arbitrary range frames, so hot keys here take the
    * upstream levers: dedup/bounding). Each agg expression must be a
    * BARE aggregate function (`.over` attaches to it directly — a cast
    * wrapped around the aggregate breaks window resolution; cast the
    * output column afterwards), and should be exact-mergeable (counts,
    * decimal sums) for engine-portable results. */
  def rollingAgg(df: DataFrame, keyCols: Seq[String], tsCol: String,
                 lookback: Long, aggs: Seq[(String, Column)]): DataFrame = {
    require(lookback >= 0, s"lookback must be non-negative, got $lookback")
    require(aggs.nonEmpty, "rollingAgg needs at least one aggregate")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol).asc).rangeBetween(-lookback, 0)
    aggs.foldLeft(df) { case (d, (n, c)) => d.withColumn(n, c.over(w)) }
  }

  /** Seasonal-naive forecast evaluation — the standard forecasting
    * BASELINE (predict bucket d with the observed value at d − period)
    * and its exact error summary: per key, the evaluated-bucket count
    * and the mean absolute error (|err| sums in decimal, ONE division).
    * Buckets whose seasonal ancestor is unobserved are skipped (no
    * forecast), spanned via the bucket-keyed self-match — one extra
    * hash join of the aggregate against itself, everything else
    * map-combined. A model that cannot beat this number is not a model;
    * the operator makes the bar exact and cheap at corpus scale. */
  def seasonalNaiveError(df: DataFrame, keyCols: Seq[String], tsCol: String,
                         valueCol: Column, width: Long, period: Long,
                         scale: Int = 4): DataFrame = {
    require(width > 0 && period > 0, "width and period must be positive")
    val obs = df.withColumn("bucket", expr(s"$tsCol div ${width}L"))
      .groupBy((keyCols :+ "bucket").map(col): _*)
      .agg(valueCol.cast(s"decimal(18,$scale)").as("__v"))
    val prev = obs.select(keyCols.map(col) :+
      (col("bucket") + period).as("bucket") :+ col("__v").as("__pred"): _*)
    obs.join(prev, keyCols :+ "bucket")
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_eval"),
        sum(abs(col("__v") - col("__pred"))).as("__sae"))
      .withColumn("mae",
        col("__sae").cast("double") / col("n_eval").cast("double"))
      .drop("__sae")
  }

  /** Rolling Pearson correlation of two per-key series over a trailing
    * range window — the co-movement monitor ("are volume and quality
    * still tracking over the last week, per source"): six exact
    * windowed sufficient statistics (n, Σx, Σy, Σx², Σy², Σxy — each a
    * BARE decimal-sum window aggregate per the [[rollingAgg]]
    * contract; products are per-row decimals cast BEFORE the sum, so
    * every windowed sum is order-independent), then
    * r = (n·Σxy − Σx·Σy) / (√(n·Σx² − (Σx)²) · √(n·Σy² − (Σy)²))
    * as one pinned double chain per row. Input is normally a per-(key,
    * bucket) aggregate, so the window's exchange carries the series,
    * not the corpus; the per-key sequential bound of a range-frame
    * window applies ([[rollingAgg]]'s contract — series length, not
    * corpus size). Windows with < 2 points or zero variance emit NULL
    * r. Output: input rows + (n_win, r). */
  def rollingCorr(df: DataFrame, keyCols: Seq[String], tsCol: String,
                  xCol: String, yCol: String, lookback: Long,
                  scale: Int = 6): DataFrame = {
    require(lookback >= 0, s"lookback must be non-negative, got $lookback")
    def d(c: Column) = c.cast("double")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol).asc).rangeBetween(-lookback, 0)
    val x = col(xCol).cast(s"decimal(18,$scale)")
    val y = col(yCol).cast(s"decimal(18,$scale)")
    df
      .withColumn("__xd", x).withColumn("__yd", y)
      .withColumn("__xy", (x * y).cast("decimal(38,12)"))
      .withColumn("__xx", (x * x).cast("decimal(38,12)"))
      .withColumn("__yy", (y * y).cast("decimal(38,12)"))
      .withColumn("n_win", count(lit(1)).over(w))
      .withColumn("__sx", sum(col("__xd")).over(w))
      .withColumn("__sy", sum(col("__yd")).over(w))
      .withColumn("__sxx", sum(col("__xx")).over(w))
      .withColumn("__syy", sum(col("__yy")).over(w))
      .withColumn("__sxy", sum(col("__xy")).over(w))
      .withColumn("__vx",
        d(col("n_win")) * d(col("__sxx")) - d(col("__sx")) * d(col("__sx")))
      .withColumn("__vy",
        d(col("n_win")) * d(col("__syy")) - d(col("__sy")) * d(col("__sy")))
      .withColumn("r",
        when(col("n_win") > 1 && col("__vx") > 0 && col("__vy") > 0,
          (d(col("n_win")) * d(col("__sxy")) -
            d(col("__sx")) * d(col("__sy"))) /
            (sqrt(col("__vx")) * sqrt(col("__vy")))))
      .drop("__xd", "__yd", "__xy", "__xx", "__yy",
        "__sx", "__sy", "__sxx", "__syy", "__sxy", "__vx", "__vy")
  }

  /** Forecast evaluation vs the seasonal-naive bar — MASE + sMAPE per
    * key, the scale-free pair a forecasting pipeline reports
    * ([[seasonalNaiveError]] gives the BASELINE's error; this scores a
    * MODEL against it): MASE = MAE(forecast) / MAE(seasonal naive at
    * `period`), so MASE < 1 means "beats the naive bar" in the
    * series' own units; sMAPE = mean 2|f−a|/(|f|+|a|) over defined
    * rows. Input is one row per (keys, t) with the model's forecast
    * alongside the actual (t an integer bucket index — the series is
    * normally a per-bucket aggregate, so every frame is
    * (keys × steps)-bounded). The naive denominator pairs each actual
    * with its seasonal ancestor via an equi-join on (keys, t −
    * period) — never a window. |err| sums ride per-row decimal casts
    * (order-independent); each mean is ONE pinned division. Keys with
    * no naive pairs or zero naive MAE emit NULL mase; rows where
    * |f|+|a| = 0 are excluded from sMAPE (undefined term). Output:
    * key columns + (n_eval, mae, n_naive, mae_naive, mase, n_smape,
    * smape). */
  def maseEval(df: DataFrame, keyCols: Seq[String], tCol: String,
               actualCol: String, forecastCol: String, period: Long,
               scale: Int = 6): DataFrame = {
    require(period > 0, s"period must be positive, got $period")
    val keys = keyCols.map(col)
    def d(c: Column) = c.cast("double")
    val s = df.select(keys ++ Seq(col(tCol).cast("long").as("__t"),
      col(actualCol).cast("double").as("__a"),
      col(forecastCol).cast("double").as("__f")): _*)
    val err = s.filter(col("__a").isNotNull && col("__f").isNotNull)
      .withColumn("__sm", when(abs(col("__f")) + abs(col("__a")) > 0,
        (lit(2.0) * abs(col("__f") - col("__a")) /
          (abs(col("__f")) + abs(col("__a")))).cast("decimal(28,12)")))
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n_eval"),
        sum(abs(col("__f") - col("__a")).cast(s"decimal(28,$scale)"))
          .as("__sae"),
        count(col("__sm")).as("n_smape"),
        sum(col("__sm")).as("__ssm"))
    val prev = renKeys(s.filter(col("__a").isNotNull).select(
      keys :+ (col("__t") + period).as("__tp") :+
        col("__a").as("__ap"): _*), keyCols, "p")
    val naive = s.filter(col("__a").isNotNull)
      .join(prev, keyEq(keyCols, "p") && col("__t") === col("__tp"))
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n_naive"),
        sum(abs(col("__a") - col("__ap")).cast(s"decimal(28,$scale)"))
          .as("__san"))
    joinTotals(err, naive, keyCols, "left")
      .withColumn("mae", d(col("__sae")) / d(col("n_eval")))
      .withColumn("mae_naive",
        when(col("n_naive") > 0, d(col("__san")) / d(col("n_naive"))))
      .select(keys ++ Seq(col("n_eval"), col("mae"),
        coalesce(col("n_naive"), lit(0L)).as("n_naive"), col("mae_naive"),
        when(col("mae_naive") > 0, col("mae") / col("mae_naive"))
          .as("mase"),
        col("n_smape"),
        when(col("n_smape") > 0, d(col("__ssm")) / d(col("n_smape")))
          .as("smape")): _*)
  }

  /** Per-key first difference and percent change over the (ts, tie)
    * order — the pandas `diff`/`pct_change` pair: one window exchange,
    * NULL for each key's first row and NULL pct where the previous
    * value is 0 (no NaN/Inf channel). Differences are exact decimals;
    * pct is one pinned double division. */
  def pctChange(df: DataFrame, keyCols: Seq[String], tsCol: String,
                valueCol: String, tieCol: String,
                scale: Int = 4): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    val v = col(valueCol).cast(s"decimal(18,$scale)")
    df.withColumn("__prev", lag(v, 1).over(w))
      .withColumn("diff", (v - col("__prev")).cast("double"))
      .withColumn("pct_change",
        when(col("__prev").isNotNull && col("__prev") =!= 0,
          (v - col("__prev")).cast("double") / col("__prev").cast("double")))
      .drop("__prev")
  }

  /** Per-bucket OHLC downsample — the classic market-data reduction
    * (open / high / low / close / count / exact volume per fixed time
    * bucket). Open and close are SELECTED deterministically via
    * min_by/max_by on the unique (ts, tie) order — ties in ts alone
    * would otherwise resolve by shuffle arrival; high/low/volume are
    * plain min/max/decimal-sum. ONE map-side-combined aggregate: each
    * partial carries six small values per open bucket, so the reduction
    * is scan-bound at any scale (the 100 TB tick-data shape). */
  def ohlc(df: DataFrame, keyCols: Seq[String], tsCol: String,
           valueCol: String, tieCol: String, width: Long,
           volumeScale: Int = 4): DataFrame = {
    require(width > 0, s"bucket width must be positive, got $width")
    val ord = struct(col(tsCol), col(tieCol))
    df.withColumn("bucket", expr(s"$tsCol div ${width}L"))
      .groupBy((keyCols :+ "bucket").map(col): _*)
      .agg(count(lit(1)).as("n"),
        min_by(col(valueCol), ord).as("open"),
        max(col(valueCol)).as("high"),
        min(col(valueCol)).as("low"),
        max_by(col(valueCol), ord).as("close"),
        sum(col(valueCol).cast(s"decimal(18,$volumeScale)"))
          .cast("double").as("volume"))
  }

  /** Autocorrelation function of a REGULAR series (one row per integer
    * time step `tCol`) at lags 1..maxLag:
    * r_k = Σ_t (v_t − v̄)(v_{t+k} − v̄) / Σ_t (v_t − v̄)² — the
    * seasonality/periodicity detector behind [[seasonalNaiveError]]'s
    * lag choice. Exact to the formula: the mean accumulates in decimal
    * (order-independent) with ONE pinned division, each centered
    * product is pinned double arithmetic decimal-cast before its sum,
    * and the lag pairing is an equi-join on t+k (never a window). The
    * series is normally an AGGREGATE of the corpus (e.g. daily counts —
    * map-combined, cardinality = time steps), so the ACF's own cost is
    * series-length-bounded: the lag spine (maxLag rows) joins the
    * series against its shifted self, broadcast when small. Gaps in t
    * simply produce fewer pairs at the affected lags (reported as
    * n_pairs); resample first ([[resampleFill]]) for strict regularity.
    * Output: (lag, n_pairs, acf), lags ascending; a constant series
    * (zero variance) yields NULL acf. */
  def acf(df: DataFrame, tCol: String, valueCol: String,
          maxLag: Int, meanScale: Int = 6): DataFrame =
    acfBy(df, Nil, tCol, valueCol, maxLag, meanScale)

  /** Per-GROUP [[acf]] — per-slice seasonality/decay profiles (per
    * event-type, per language, per source: one slice's weekly cycle is
    * invisible in the pooled series, and the pooled mean is the wrong
    * centering for every slice). Identical pinned chain per group —
    * keyed decimal mean and variance denominator joined back null-safe
    * (keys-sized frames, never assumed broadcastable), lag equi-joins
    * on (keys, t + lag). The input is normally a per-(key, bucket)
    * aggregate, so every frame here is (keys × steps)-bounded.
    * Output: key columns + (lag, n_pairs, acf); constant slices yield
    * NULL acf, slices shorter than a lag simply emit no row at it
    * (n_pairs would be 0 — the join finds nothing), matching [[acf]]
    * run per slice. */
  def acfBy(df: DataFrame, keyCols: Seq[String], tCol: String,
            valueCol: String, maxLag: Int, meanScale: Int = 6)
      : DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    val keys = keyCols.map(col)
    val s = df.select(keys ++ Seq(col(tCol).cast("long").as("__t"),
      col(valueCol).cast("double").as("__v")): _*)
      .filter(col("__t").isNotNull && col("__v").isNotNull)
    val centered = joinTotals(s, s.groupBy(keys: _*).agg(
      (sum(col("__v").cast(s"decimal(18,$meanScale)")).cast("double") /
        count(lit(1)).cast("double")).as("__mean")), keyCols)
    val den = centered.groupBy(keys: _*).agg(
      sum(((col("__v") - col("__mean")) * (col("__v") - col("__mean")))
        .cast("decimal(28,12)")).cast("double").as("__den"))
    val lags = df.sparkSession.range(1, maxLag + 1)
      .select(col("id").as("lag"))
    val b = renKeys(centered.select(
      keys :+ col("__t").as("__tb") :+ col("__v").as("__vb"): _*), keyCols, "b")
    val pairs = dropTag(centered.crossJoin(broadcast(lags))
      .join(b, keyEq(keyCols, "b") && col("__tb") === col("__t") + col("lag")),
      keyCols, "b")
      .groupBy(keys :+ col("lag"): _*)
      .agg(count(lit(1)).as("n_pairs"),
        sum(((col("__v") - col("__mean")) * (col("__vb") - col("__mean")))
          .cast("decimal(28,12)")).cast("double").as("__num"))
    joinTotals(pairs, den, keyCols)
      .withColumn("acf",
        when(col("__den") > 0, col("__num") / col("__den")))
      .select(keys ++ Seq(col("lag"), col("n_pairs"), col("acf")): _*)
      .orderBy(keys :+ col("lag"): _*)
  }

  /** Durbin–Watson statistic of a REGULAR series (one row per integer
    * time step) — the first-order autocorrelation screen for residual
    * series (DW ≈ 2(1 − r₁): ≈2 means uncorrelated, →0 positive,
    * →4 negative serial correlation; the standard post-fit check after
    * [[graft.functions.ML.olsFit]] residuals or a detrended daily
    * metric): DW = Σ_{t≥2}(v_t − v_{t−1})² / Σ v_t². Exact to the
    * formula: the lag pairing is an equi-join on t+1 (never a window —
    * the [[acf]] contract), each squared term a pinned double summed
    * as decimal(28,12). NOTE the denominator is the RAW sum of squares
    * (the classical definition assumes residuals, mean ≈ 0); center
    * the series first if it isn't residual-like. Gaps in t produce
    * fewer difference pairs (reported as n_pairs). Rows with NULL t or
    * value are dropped UP FRONT, so n and n_pairs count exactly the
    * terms the sums include (a sporadically-NULL series would
    * otherwise report counts over more rows than the decimal sums
    * cover, silently). The series is normally an AGGREGATE of the
    * corpus, so every frame here is series-length-bounded. Output: one
    * row (n, n_pairs, dw); all-zero series → NULL. */
  def durbinWatson(df: DataFrame, tCol: String, valueCol: String)
      : DataFrame = {
    val s = df.select(col(tCol).cast("long").as("__t"),
      col(valueCol).cast("double").as("__v"))
      .filter(col("__t").isNotNull && col("__v").isNotNull)
    val den = s.agg(count(lit(1)).as("n"),
      sum((col("__v") * col("__v")).cast("decimal(28,12)"))
        .cast("double").as("__den"))
    val b = s.select(col("__t").as("__tb"), col("__v").as("__vb"))
    s.join(b, col("__tb") === col("__t") + 1)
      .agg(count(lit(1)).as("n_pairs"),
        sum(((col("__vb") - col("__v")) * (col("__vb") - col("__v")))
          .cast("decimal(28,12)")).cast("double").as("__num"))
      .crossJoin(broadcast(den))
      .withColumn("dw",
        when(col("__den") > 0, col("__num") / col("__den")))
      .select("n", "n_pairs", "dw")
  }

  /** Ljung–Box portmanteau test over lags 1..maxLag — "is this series
    * white noise at all", the whole-ACF significance summary beside
    * [[acf]]'s per-lag profile:
    *   Q = n(n+2) Σ_{k=1..h} r_k² / (n−k),  χ²(h) under H₀.
    * Rides [[acf]] verbatim (same centered pinned chain, same
    * equi-join lag pairing) plus one series-length count broadcast in;
    * the h-term sum accumulates as decimal(28,12) (order-independent,
    * h-bounded). Assumes a REGULAR series — gaps shrink r_k's pair
    * count but n(n+2)/(n−k) still uses the row count n, matching the
    * classical statistic on complete series and degrading visibly (via
    * n_pairs in [[acf]]) on gapped ones. n counts NON-NULL (t, value)
    * rows only, matching the rows [[acf]]'s sums actually cover (the
    * durbinWatson null contract). Output: one row (n, h,
    * q_stat); a constant series (every r_k NULL) yields NULL. */
  def ljungBox(df: DataFrame, tCol: String, valueCol: String,
               maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    def d(c: Column) = c.cast("double")
    val n = df.filter(col(tCol).isNotNull && col(valueCol).isNotNull)
      .agg(count(lit(1)).as("n"))
    acf(df, tCol, valueCol, maxLag)
      .crossJoin(broadcast(n))
      .groupBy(col("n"))
      .agg(count(lit(1)).as("h"),
        sum((col("acf") * col("acf") /
          (d(col("n")) - d(col("lag")))).cast("decimal(28,12)"))
          .cast("double").as("__s"))
      .withColumn("q_stat",
        d(col("n")) * (d(col("n")) + 2.0) * col("__s"))
      .select("n", "h", "q_stat")
  }

  /** Cross-correlation function between two REGULAR series sharing a
    * time axis, at lags −maxLag..maxLag — "does x lead y" (ingest rate
    * vs error rate; views vs purchases):
    *   r_xy(k) = Σ_t (x_t − x̄)(y_{t+k} − ȳ) /
    *             (√Σ(x−x̄)² · √Σ(y−ȳ)²),
    * so the peak's SIGN of k reads directly as lead/lag direction.
    * Same exactness contract as [[acf]]: decimal means with one pinned
    * division each, centered products pinned double summed as
    * decimal(28,12), lag pairing an equi-join on t+k against the
    * broadcast (2·maxLag+1)-row lag spine. Series-length-bounded
    * throughout. Output: (lag, n_pairs, ccf), lags ascending; either
    * series constant → NULL ccf. */
  def ccf(df: DataFrame, tCol: String, xCol: String, yCol: String,
          maxLag: Int, meanScale: Int = 6): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    val s = df.select(col(tCol).cast("long").as("__t"),
      col(xCol).cast("double").as("__x"),
      col(yCol).cast("double").as("__y"))
      .filter(col("__t").isNotNull && col("__x").isNotNull &&
        col("__y").isNotNull)
    val m = s.agg(
      (sum(col("__x").cast(s"decimal(18,$meanScale)")).cast("double") /
        count(lit(1)).cast("double")).as("__mx"),
      (sum(col("__y").cast(s"decimal(18,$meanScale)")).cast("double") /
        count(lit(1)).cast("double")).as("__my"))
    val centered = s.crossJoin(broadcast(m))
    val den = centered.agg(
      sum(((col("__x") - col("__mx")) * (col("__x") - col("__mx")))
        .cast("decimal(28,12)")).cast("double").as("__dx"),
      sum(((col("__y") - col("__my")) * (col("__y") - col("__my")))
        .cast("decimal(28,12)")).cast("double").as("__dy"))
    val lags = df.sparkSession.range(-maxLag.toLong, maxLag + 1L)
      .select(col("id").as("lag"))
    val a = centered.select(col("__t"), col("__x"), col("__mx"),
      col("__my"))
    val b = centered.select(col("__t").as("__tb"), col("__y").as("__yb"))
    a.crossJoin(broadcast(lags))
      .join(b, col("__tb") === col("__t") + col("lag"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(((col("__x") - col("__mx")) * (col("__yb") - col("__my")))
          .cast("decimal(28,12)")).cast("double").as("__num"))
      .crossJoin(broadcast(den))
      .withColumn("ccf",
        when(col("__dx") > 0 && col("__dy") > 0,
          col("__num") / (sqrt(col("__dx")) * sqrt(col("__dy")))))
      .select("lag", "n_pairs", "ccf")
      .orderBy("lag")
  }

  /** Wald–Wolfowitz runs test — IS THIS SERIES RANDOM AT ALL, the
    * assumption-free screen before any model-based diagnostic
    * ([[durbinWatson]] assumes a linear first-order structure; runs
    * asks only "do above-median and below-median values alternate the
    * way independence predicts" — too FEW runs = trending/sticky, too
    * MANY = oscillating): values are signed against the EXACT
    * interpolated median ([[graft.operators.Aggregations.quantilesCont]]
    * — the distributed prefix, no row sort), ties AT the median are
    * dropped and counted, R = 1 + #(sign changes between consecutive
    * retained rows in t-order). Consecutiveness is an equi-join on the
    * distributed rank (strictly-smaller-t count via the prefix — never
    * a single-task window, gap-proof in t). Then the exact null
    * moments: μ = 1 + 2n₁n₂/n, σ² = 2n₁n₂(2n₁n₂ − n)/(n²(n − 1)),
    * z = (R − μ)/σ. The series is normally an AGGREGATE of the corpus
    * (every frame series-length-bounded); duplicate t values raise
    * (a series needs one row per time point). t is cast to LONG (the
    * [[acf]]/[[durbinWatson]] convention, also used by
    * [[coxStuartTest]]/[[turningPointsTest]]) — nanosecond-scale long
    * timestamps (~1.7e18 > 2^53) keep exact identity, where a double
    * cast would collapse distinct t within ~128 ns and spuriously trip
    * this raise. Output: one row
    * (n, n_above, n_below, n_ties_dropped, runs, z); a constant or
    * one-sided series → NULL z.
    * EAGER: builds on the pinned-execution bridge, so Spark jobs
    * launch AT CALL time and the input is snapshotted then
    * ([[org.apache.spark.sql.graftbridge.RddShareBridge]]). */
  def runsTest(df: DataFrame, tCol: String, valueCol: String)
      : DataFrame = {
    def d(c: Column) = c.cast("double")
    val s0 = df.filter(col(tCol).isNotNull && col(valueCol).isNotNull)
      .select(col(tCol).cast("long").as("__t"),
        col(valueCol).cast("double").as("__v"))
    val med = graft.operators.Aggregations
      .quantilesCont(s0, "__v", Seq(0.5))
      .select(col("value").as("__med"))
    val chk = s0.agg(count(lit(1)).as("__cn"),
      count_distinct(col("__t")).as("__cd"))
    val kept = s0.crossJoin(broadcast(med))
      .filter(col("__v") =!= col("__med"))
      .select(col("__t"),
        when(col("__v") > col("__med"), 1).otherwise(-1).as("__s"))
    val (shared, ranked) = graft.operators.Analytics
      .prefixBefore(kept, Nil, "__t", Seq("w" -> lit(1L)))
    val cnts = shared.agg(count(lit(1)).as("__m"),
      coalesce(sum(when(col("__s") === 1, 1L).otherwise(0L)), lit(0L))
        .as("n_above"),
      coalesce(sum(when(col("__s") === -1, 1L).otherwise(0L)), lit(0L))
        .as("n_below"))
    val a = ranked.select(col("__cum_w").as("__r"), col("__s"))
    val b = ranked.select((col("__cum_w") - 1).as("__r"),
      col("__s").as("__s2"))
    val chg = a.join(b, "__r")
      .agg(coalesce(sum(when(col("__s") =!= col("__s2"), 1L)
        .otherwise(0L)), lit(0L)).as("__chg"))
    cnts.crossJoin(broadcast(chg)).crossJoin(broadcast(chk))
      .withColumn("n", when(col("__cn") === col("__cd"), col("__cn"))
        .otherwise(raise_error(lit("runsTest: duplicate t values — a " +
          "series needs one row per time point; pre-aggregate first"))))
      .withColumn("n_ties_dropped", col("n") - col("__m"))
      .withColumn("runs", when(col("__m") > 0, col("__chg") + lit(1L)))
      .withColumn("__n1", d(col("n_above")))
      .withColumn("__n2", d(col("n_below")))
      .withColumn("__nn", col("__n1") + col("__n2"))
      .withColumn("__mu", when(col("__nn") > 0,
        lit(1.0) + lit(2.0) * col("__n1") * col("__n2") / col("__nn")))
      .withColumn("__var", when(col("__nn") > 1,
        lit(2.0) * col("__n1") * col("__n2") *
          (lit(2.0) * col("__n1") * col("__n2") - col("__nn")) /
          (col("__nn") * col("__nn") * (col("__nn") - lit(1.0)))))
      .withColumn("z", when(col("__var") > 0,
        (d(col("runs")) - col("__mu")) / sqrt(col("__var"))))
      .select("n", "n_above", "n_below", "n_ties_dropped", "runs", "z")
  }

  /** Cox–Stuart trend test — the sign test for MONOTONE TREND
    * (pair the first half of the series with the second half at offset
    * ⌈n/2⌉; under no-trend, later-beats-earlier is a fair coin — the
    * assumption-free quick screen beside
    * [[graft.operators.Analytics.mannKendallTrend]]'s full pair
    * statistic, O(n) pairs instead of O(n²) and often all a dashboard
    * needs): S⁺ = #(x_{i+⌈n/2⌉} > x_i), S⁻ the reverse, tied pairs
    * dropped, continuity-corrected
    * z = (S⁺ − n'/2 − ½·sgn(S⁺ − n'/2)) / √(n'/4). The half-offset
    * pairing is an equi-join on the distributed rank (the [[runsTest]]
    * machinery — prefix rank, never a window; gap-proof in t; an odd
    * middle row pairs with nothing and drops, the classical rule).
    * Duplicate t raises. Output: one row (n, n_pairs, n_ties, s_plus,
    * s_minus, z); n' = 0 → NULL z.
    * EAGER: builds on the pinned-execution bridge, so Spark jobs
    * launch AT CALL time and the input is snapshotted then
    * ([[org.apache.spark.sql.graftbridge.RddShareBridge]]). */
  def coxStuartTest(df: DataFrame, tCol: String, valueCol: String)
      : DataFrame = {
    def d(c: Column) = c.cast("double")
    val s0 = df.filter(col(tCol).isNotNull && col(valueCol).isNotNull)
      .select(col(tCol).cast("long").as("__t"),
        col(valueCol).cast("double").as("__v"))
    val chk = s0.agg(count(lit(1)).as("__cn"),
      count_distinct(col("__t")).as("__cd"))
    val (shared, ranked) = graft.operators.Analytics
      .prefixBefore(s0, Nil, "__t", Seq("w" -> lit(1L)))
    val n = shared.agg(count(lit(1)).as("__m"))
    val b = ranked.select(col("__cum_w").as("__rb"), col("__v").as("__v2"))
    val pairs = ranked.crossJoin(broadcast(n))
      .withColumn("__half", expr("(__m + 1) div 2"))
      .filter(col("__cum_w") < col("__m") - col("__half"))
      .join(b, col("__rb") === col("__cum_w") + col("__half"))
    pairs
      .agg(coalesce(sum(when(col("__v2") > col("__v"), 1L)
          .otherwise(0L)), lit(0L)).as("s_plus"),
        coalesce(sum(when(col("__v2") < col("__v"), 1L)
          .otherwise(0L)), lit(0L)).as("s_minus"),
        coalesce(count(lit(1)), lit(0L)).as("n_pairs"))
      .crossJoin(broadcast(n)).crossJoin(broadcast(chk))
      .withColumn("n", when(col("__cn") === col("__cd"), col("__cn"))
        .otherwise(raise_error(lit("coxStuartTest: duplicate t values " +
          "— a series needs one row per time point; pre-aggregate " +
          "first"))))
      .withColumn("n_ties",
        col("n_pairs") - col("s_plus") - col("s_minus"))
      .withColumn("__nt", d(col("s_plus")) + d(col("s_minus")))
      .withColumn("__dev", d(col("s_plus")) - col("__nt") / 2.0)
      .withColumn("z", when(col("__nt") > 0,
        (col("__dev") - lit(0.5) * signum(col("__dev"))) /
          sqrt(col("__nt") / 4.0)))
      .select("n", "n_pairs", "n_ties", "s_plus", "s_minus", "z")
  }

  /** Turning-points test — randomness against OSCILLATION structure
    * (an interior point is a turning point if it is a strict local max
    * or min of its two neighbors; under independence
    * E[T] = 2(n − 2)/3, Var[T] = (16n − 29)/90 — the third member of
    * the randomness screen: [[runsTest]] sees level stickiness,
    * [[coxStuartTest]] sees monotone drift, turning points see
    * over-/under-oscillation, e.g. a negatively-autocorrelated
    * retry loop): neighbor pairing via TWO rank equi-joins on the
    * [[runsTest]] prefix machinery (never a window, gap-proof in t).
    * Equal-neighbor plateaus are NOT turning points (strict
    * inequalities; heavy ties deflate T visibly rather than silently
    * inflating it). Duplicate t raises. Output: one row (n,
    * n_interior, turning, expected, z); n < 3 → NULL.
    * EAGER: builds on the pinned-execution bridge, so Spark jobs
    * launch AT CALL time and the input is snapshotted then
    * ([[org.apache.spark.sql.graftbridge.RddShareBridge]]). */
  def turningPointsTest(df: DataFrame, tCol: String, valueCol: String)
      : DataFrame = {
    def d(c: Column) = c.cast("double")
    val s0 = df.filter(col(tCol).isNotNull && col(valueCol).isNotNull)
      .select(col(tCol).cast("long").as("__t"),
        col(valueCol).cast("double").as("__v"))
    val chk = s0.agg(count(lit(1)).as("__cn"),
      count_distinct(col("__t")).as("__cd"))
    val (shared, ranked) = graft.operators.Analytics
      .prefixBefore(s0, Nil, "__t", Seq("w" -> lit(1L)))
    val n = shared.agg(count(lit(1)).as("__m"))
    val mid = ranked.select(col("__cum_w").as("__r"), col("__v"))
    val prv = ranked.select((col("__cum_w") + 1).as("__r"),
      col("__v").as("__vp"))
    val nxt = ranked.select((col("__cum_w") - 1).as("__r"),
      col("__v").as("__vn"))
    mid.join(prv, "__r").join(nxt, "__r")
      .agg(coalesce(count(lit(1)), lit(0L)).as("n_interior"),
        coalesce(sum(when((col("__v") > col("__vp") &&
            col("__v") > col("__vn")) ||
          (col("__v") < col("__vp") && col("__v") < col("__vn")), 1L)
          .otherwise(0L)), lit(0L)).as("turning"))
      .crossJoin(broadcast(n)).crossJoin(broadcast(chk))
      .withColumn("n", when(col("__cn") === col("__cd"), col("__cn"))
        .otherwise(raise_error(lit("turningPointsTest: duplicate t " +
          "values — a series needs one row per time point; " +
          "pre-aggregate first"))))
      .withColumn("expected", when(col("__m") >= 3,
        lit(2.0) * (d(col("__m")) - 2.0) / 3.0))
      .withColumn("__var", when(col("__m") >= 3,
        (lit(16.0) * d(col("__m")) - 29.0) / 90.0))
      .withColumn("z", when(col("__var") > 0,
        (d(col("turning")) - col("expected")) / sqrt(col("__var"))))
      .select("n", "n_interior", "turning", "expected", "z")
  }

  /** Classical additive seasonal decomposition — v = trend + seasonal
    * + residual over a REGULAR series with known period (the
    * moving-average decomposition; the "is the weekly cycle or the
    * underlying level moving" splitter that should run before
    * [[cusumChangepoint]]/[[graft.operators.Analytics.pettittTest]] on
    * any strongly seasonal metric):
    *   trend_t    = centered MA(period)  (half-weights at ±p/2 for
    *                even p — one full cycle always covered, so a
    *                zero-sum seasonal vanishes from the trend exactly),
    *   seasonal_φ = mean of (v − trend) per phase φ = t mod p,
    *                re-centered to Σ_φ seasonal = 0,
    *   resid      = v − trend − seasonal.
    * Exactness: the MA is an equi-join against the broadcast
    * (p+1)-row offset/weight spine (never a window), each weighted
    * term a pinned double summed per t as decimal(28,12); phase means
    * accumulate decimal (the acf meanScale contract); edge rows (any
    * missing MA neighbor) carry NULL trend/resid but still receive
    * their phase's seasonal. Frames are series-length-bounded (the
    * input is normally a daily/hourly aggregate). Output: one row per
    * t — (t, v, trend, seasonal, resid), ascending. */
  def seasonalDecompose(df: DataFrame, tCol: String, valueCol: String,
                        period: Int, meanScale: Int = 6): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    val spark0 = df.sparkSession
    import spark0.implicits._
    val even = period % 2 == 0
    val h = if (even) period / 2 else (period - 1) / 2
    val spine = (-h to h).map { off =>
      val w = if (even && (off == -h || off == h)) 0.5 else 1.0
      (off.toLong, w / period)
    }.toDF("__off", "__w")
    val n = spine.count()
    val s = df.select(col(tCol).cast("long").as("__t"),
      col(valueCol).cast("double").as("__v"))
    val b = s.select(col("__t").as("__tb"), col("__v").as("__vb"))
    val trend = s.crossJoin(broadcast(spine))
      .join(b, col("__tb") === col("__t") + col("__off"))
      .groupBy(col("__t"))
      .agg(count(lit(1)).as("__k"),
        sum((col("__w") * col("__vb")).cast("decimal(28,12)"))
          .cast("double").as("__ma"))
      .select(col("__t").as("__tt"),
        when(col("__k") === n, col("__ma")).as("trend"))
    val withTrend = s.join(trend, col("__t") === col("__tt"), "left")
      .drop("__tt")
      .withColumn("__phase", pmod(col("__t"), lit(period.toLong)))
    val seasonalRaw = withTrend.filter(col("trend").isNotNull)
      .groupBy(col("__phase"))
      .agg((sum((col("__v") - col("trend"))
        .cast(s"decimal(18,$meanScale)")).cast("double") /
        count(lit(1)).cast("double")).as("__sraw"))
    val grand = seasonalRaw.agg(
      (sum(col("__sraw").cast(s"decimal(18,$meanScale)")).cast("double") /
        count(lit(1)).cast("double")).as("__g"))
    val seasonal = seasonalRaw.crossJoin(broadcast(grand))
      .select(col("__phase").as("__sp"),
        (col("__sraw") - col("__g")).as("seasonal"))
    withTrend.join(broadcast(seasonal), col("__phase") === col("__sp"),
        "left")
      .select(col("__t").as("t"), col("__v").as("v"), col("trend"),
        col("seasonal"),
        (col("__v") - col("trend") - col("seasonal")).as("resid"))
      .orderBy("t")
  }

  /** Exponentially weighted moving average with α = 1/2 over a per-key
    * INTEGER series, EXACT end to end — the dyadic-weight trick: with
    * α = 1/2 the adjusted EWMA is
    * y_t = Σ_{i≤t} 2^i·x_i / (2^{t+1} − 1) (weights (1−α)^{t−i}
    * rescaled by 2^t), so numerator and denominator are plain BIGINT
    * arithmetic — shiftleft + a prefix sum — and the one final division
    * is between two integers exactly representable in double. No
    * floating-point accumulation anywhere, so the result is
    * bit-replayable on any engine (the q252 gate) — unlike a
    * general-α EWMA, whose pow()-weighted running sums drift with
    * summation order. The exactness bound is numerator < 2^53:
    * series up to ~50 steps with step values ≤ ~2^(52−len). Longer
    * series or non-integer values ⇒ use the decimal variant of the
    * same identity or accept double drift.
    *
    * Scale shape: the input is normally a per-key per-bucket AGGREGATE
    * (cardinality = keys × time steps, map-combined), so the window's
    * exchange carries the series, not the corpus; ONE hash exchange on
    * the key, prefix sums per key. Output: input rows + (i, ewma). */
  def dyadicEwma(df: DataFrame, keyCols: Seq[String], tCol: String,
                 valueCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(col(tCol).asc)
    df.withColumn("i",
        (row_number().over(w) - 1).cast("long"))
      .withColumn("__num",
        sum(col(valueCol).cast("long") *
            expr("shiftleft(1L, CAST(i AS INT))"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("ewma",
        col("__num").cast("double") /
          (expr("shiftleft(1L, CAST(i + 1 AS INT))") - lit(1L)).cast("double"))
      .drop("__num")
  }

  /** CUSUM changepoint per key: the step t* maximizing |S_t| where
    * S_t = Σ_{i≤t}(x_i − x̄) — the classic single-changepoint locator
    * for a level shift (Page's statistic at its argmax). Exact without
    * ever dividing by n inside the scan: S_t·n = n·P_t − r_t·G for
    * P_t the prefix sum, G the key's grand total, and r_t the 1-based
    * step rank — all integer arithmetic on an integer series, so the
    * argmax (and the tie-break: EARLIEST maximizing step) is
    * bit-deterministic. Output per key: n, the changepoint's rank
    * `cp_rank` (1-based; NULL-free — a constant series maximizes at
    * rank 1 with shift 0), its `tCol` value `cp_t`, and the shift
    * magnitude `shift = |S_{t*}| = |n·P − r·G| / n` with the single
    * division done once in double.
    *
    * Scale shape: same as [[dyadicEwma]] — runs over the per-key
    * aggregate series, one exchange on the key; the argmax is a
    * max_by over the series rows (map-combined), never a second
    * window. The exactness bound is |n·P| < 2^63 (long). */
  def cusumChangepoint(df: DataFrame, keyCols: Seq[String], tCol: String,
                       valueCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(col(tCol).asc)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
    val keyed = df
      .withColumn("__r", row_number().over(w).cast("long"))
      .withColumn("__p",
        sum(col(valueCol).cast("long"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__n", count(lit(1)).over(wAll).cast("long"))
      .withColumn("__g", sum(col(valueCol).cast("long")).over(wAll))
      // |n·S_t| scaled by n; earliest-argmax via (−|T|, r) lexicographic min
      .withColumn("__t_abs",
        abs(col("__n") * col("__p") - col("__r") * col("__g")))
    keyed.groupBy(keyCols.map(col): _*)
      .agg(max(col("__n")).as("n"),
        min(struct((-col("__t_abs")).as("neg"), col("__r").as("r"),
          col(tCol).as("t"))).as("__best"))
      .withColumn("cp_rank", col("__best.r"))
      .withColumn("cp_t", col("__best.t"))
      .withColumn("shift",
        (-col("__best.neg")).cast("double") / col("n").cast("double"))
      .drop("__best")
  }

  /** Quantile-forecast evaluation — pinball loss + empirical coverage
    * per quantile level (the probabilistic half of forecast eval:
    * [[maseEval]] scores a POINT forecast; a P10/P50/P90 band needs
    * the quantile-specific asymmetric loss AND a calibration check —
    * a P90 whose coverage is 70% is lying about risk):
    *   pinball_q = mean over rows of max(q·(a−f_q), (q−1)·(a−f_q))
    *   coverage_q = share of rows with a ≤ f_q   (target: q itself)
    * `qPreds` pairs each level with ITS forecast expression (one
    * column per level — the standard wide band layout). ONE
    * map-side-combined scan computes every level's sums (terms ride
    * the scale-12 decimal snap — |a − f| must sit in the replayable
    * magnitude zone, which any sane forecast residual does), then the
    * per-level rows unfold from a literal array — no second scan, no
    * shuffle beyond one row. Rows where a level's forecast is NULL are
    * excluded from THAT level only (per-level n reports it). Output:
    * one row per level — (q, n, pinball, coverage), ordered by q. */
  def quantileForecastEval(df: DataFrame, actualCol: String,
                           qPreds: Seq[(Double, Column)]): DataFrame = {
    require(qPreds.nonEmpty, "need at least one quantile level")
    require(qPreds.forall(p => p._1 > 0.0 && p._1 < 1.0),
      s"levels must be in (0,1): ${qPreds.map(_._1)}")
    require(qPreds.map(_._1).distinct.size == qPreds.size,
      s"duplicate levels: ${qPreds.map(_._1)}")
    def d(c: Column) = c.cast("double")
    val a = d(col(actualCol))
    val gi = qPreds.indices
    val base = df.filter(col(actualCol).isNotNull)
      .select(a.as("__a") +: gi.map(i => d(qPreds(i)._2).as(s"__f$i")): _*)
    val aggs = gi.flatMap { i =>
      val q = qPreds(i)._1
      val f = col(s"__f$i")
      val diff = col("__a") - f
      Seq(
        count(f).as(s"__n$i"),
        sum(when(f.isNotNull,
          greatest(lit(q) * diff, lit(q - 1.0) * diff)
            .cast("decimal(28,12)"))).as(s"__p$i"),
        sum(when(f.isNotNull && col("__a") <= f, 1L)
          .when(f.isNotNull, 0L)).as(s"__c$i"))
    }
    base.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(gi.map { i =>
        struct(lit(qPreds(i)._1).as("q"), col(s"__n$i").as("n"),
          when(col(s"__n$i") > 0, d(col(s"__p$i")) / d(col(s"__n$i")))
            .as("pinball"),
          when(col(s"__n$i") > 0, d(col(s"__c$i")) / d(col(s"__n$i")))
            .as("coverage"))
      }: _*)).as("__x"))
      .select(col("__x.q"), col("__x.n"), col("__x.pinball"),
        col("__x.coverage"))
      .orderBy("q")
  }
}
