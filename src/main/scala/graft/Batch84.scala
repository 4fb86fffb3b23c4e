package graft

import graft.SparkEntry.Q
import org.apache.spark.sql.functions._

/** Query registry batch 84 (round 19, session 2): regression-adjusted
  * experiment analysis (Lin 2013 per-arm slopes) and Poisson
  * rate-per-exposure inference.
  */
private[graft] object Batch84 {

  /** q463's oracle: the 10 raking iterations unrolled into a CTE
    * chain, generated so the SQL stays literal-for-literal in sync
    * with the operator's driver arithmetic (ordered list_reduce folds
    * = the operator's sorted margin folds). */
  private val rakeOracle: String = {
    val caseA = "CASE t.a WHEN 'de' THEN CAST(0.15 AS DOUBLE) " +
      "WHEN 'en' THEN CAST(0.5 AS DOUBLE) " +
      "WHEN 'es' THEN CAST(0.15 AS DOUBLE) " +
      "WHEN 'fr' THEN CAST(0.1 AS DOUBLE) " +
      "WHEN 'zh' THEN CAST(0.1 AS DOUBLE) END"
    val caseB = "CASE t.b WHEN 'short' THEN CAST(0.3 AS DOUBLE) " +
      "WHEN 'mid' THEN CAST(0.4 AS DOUBLE) " +
      "WHEN 'long' THEN CAST(0.3 AS DOUBLE) END"
    def fold(src: String, by: String, key: String) =
      s"(SELECT $key, list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"LIST(m ORDER BY $by)), (x, y) -> x + y) AS tot " +
        s"FROM $src GROUP BY $key)"
    val iterCtes = (1 to 10).map { i =>
      s"""ra$i AS ${fold(s"m${i - 1}", "b", "a")},
         |ma$i AS MATERIALIZED (SELECT t.a, t.b, t.n,
         |    t.m * ((($caseA) * nt.N) / r.tot) AS m
         |  FROM m${i - 1} t JOIN ra$i r ON t.a = r.a CROSS JOIN nt),
         |rb$i AS ${fold(s"ma$i", "a", "b")},
         |m$i AS MATERIALIZED (SELECT t.a, t.b, t.n,
         |    t.m * ((($caseB) * nt.N) / r.tot) AS m
         |  FROM ma$i t JOIN rb$i r ON t.b = r.b CROSS JOIN nt)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH base AS MATERIALIZED (SELECT lang AS a,
       |    CASE WHEN n_chars < 250 THEN 'short'
       |         WHEN n_chars < 350 THEN 'mid' ELSE 'long' END AS b
       |  FROM documents WHERE lang IS NOT NULL),
       |m0 AS MATERIALIZED (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(COUNT(*) AS DOUBLE) AS m
       |  FROM base WHERE a IN ('de', 'en', 'es', 'fr', 'zh')
       |  GROUP BY 1, 2),
       |nt AS MATERIALIZED (SELECT CAST(SUM(n) AS DOUBLE) AS N,
       |    CAST((SELECT COUNT(*) FROM base) - SUM(n) AS BIGINT) AS n_off
       |  FROM m0),
       |$iterCtes
       |SELECT t.a AS lang, t.b AS bucket, t.n, t.m AS mass,
       |  t.m / CAST(t.n AS DOUBLE) AS weight, nt.n_off
       |FROM m10 t CROSS JOIN nt ORDER BY lang, bucket""".stripMargin
  }

  /** md5-hash arm split used by q457/q458 (the q433 idiom). */
  private def armCase(salt: String, idCol: String) =
    s"""CASE WHEN CAST('0x' || substr(md5('$salt' || CAST($idCol AS VARCHAR)), 1, 8) AS BIGINT)
       |      < 2147483648 THEN 'a' ELSE 'b' END""".stripMargin

  val queries: Seq[Q] = Seq(

    // Lin (2013) regression adjustment on a hash-split purchase A/B
    // with DIFFERENT planted additive bumps per arm (+30 on every 7th
    // b event, +10 on every 5th a event), covariate = raw value: all
    // 12 exact-decimal moment sums, BOTH arms' own slopes/r2/residual
    // variances, the grand-mean prediction, and the Welch chain are
    // replayed by DuckDB in the same IEEE order.
    Q("q457_lin_regression",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .filter(col("event_type") === "purchase")
          .withColumn("grp",
            when(graft.functions.Sampling.hashU32(col("event_id"), "lin") <
              2147483648L, "a").otherwise("b"))
          .withColumn("y",
            when(col("grp") === "b" && col("event_id") % 7 === 0,
              col("value") + 30.0)
              .when(col("grp") === "a" && col("event_id") % 5 === 0,
                col("value") + 10.0)
              .otherwise(col("value")))
        graft.operators.Analytics.linRegressionTest(ev, "grp", "y",
          "value", "a", "b")
      },
      Some(s"""WITH g AS (SELECT ${armCase("lin", "event_id")} AS grp,
             |    event_id, value FROM events
             |  WHERE event_type = 'purchase' AND value IS NOT NULL),
             |p AS (SELECT grp,
             |    CAST(CASE WHEN grp = 'b' AND event_id % 7 = 0 THEN value + 30.0
             |              WHEN grp = 'a' AND event_id % 5 = 0 THEN value + 10.0
             |              ELSE value END AS DECIMAL(18,2)) AS y,
             |    CAST(value AS DECIMAL(18,2)) AS x FROM g),
             |s AS (SELECT
             |    CAST(SUM(CASE WHEN grp = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             |    CAST(SUM(CASE WHEN grp = 'a' THEN y END) AS DOUBLE) AS sya,
             |    CAST(SUM(CASE WHEN grp = 'a' THEN x END) AS DOUBLE) AS sxa,
             |    CAST(SUM(CASE WHEN grp = 'a' THEN y * y END) AS DOUBLE) AS syya,
             |    CAST(SUM(CASE WHEN grp = 'a' THEN x * x END) AS DOUBLE) AS sxxa,
             |    CAST(SUM(CASE WHEN grp = 'a' THEN x * y END) AS DOUBLE) AS sxya,
             |    CAST(SUM(CASE WHEN grp = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             |    CAST(SUM(CASE WHEN grp = 'b' THEN y END) AS DOUBLE) AS syb,
             |    CAST(SUM(CASE WHEN grp = 'b' THEN x END) AS DOUBLE) AS sxb,
             |    CAST(SUM(CASE WHEN grp = 'b' THEN y * y END) AS DOUBLE) AS syyb,
             |    CAST(SUM(CASE WHEN grp = 'b' THEN x * x END) AS DOUBLE) AS sxxb,
             |    CAST(SUM(CASE WHEN grp = 'b' THEN x * y END) AS DOUBLE) AS sxyb
             |  FROM p),
             |m AS (SELECT *,
             |    (sxxa - sxa * sxa / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0) AS vxa,
             |    (syya - sya * sya / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0) AS vya,
             |    (sxya - sxa * sya / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0) AS cva,
             |    (sxxb - sxb * sxb / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0) AS vxb,
             |    (syyb - syb * syb / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0) AS vyb,
             |    (sxyb - sxb * syb / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0) AS cvb,
             |    (sxa + sxb) / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS xbar
             |  FROM s),
             |b AS (SELECT *,
             |    CASE WHEN vxa > 0 THEN cva / vxa END AS beta_a,
             |    CASE WHEN vxb > 0 THEN cvb / vxb END AS beta_b,
             |    CASE WHEN vxa > 0 AND vya > 0
             |      THEN cva * cva / (vxa * vya) END AS r2_a,
             |    CASE WHEN vxb > 0 AND vyb > 0
             |      THEN cvb * cvb / (vxb * vyb) END AS r2_b,
             |    CASE WHEN vxa > 0 THEN vya - cva * cva / vxa END AS vra,
             |    CASE WHEN vxb > 0 THEN vyb - cvb * cvb / vxb END AS vrb
             |  FROM m),
             |v AS (SELECT n_a, n_b, beta_a, beta_b, r2_a, r2_b,
             |    sya / CAST(n_a AS DOUBLE)
             |      + beta_a * (xbar - sxa / CAST(n_a AS DOUBLE)) AS mean_a_adj,
             |    syb / CAST(n_b AS DOUBLE)
             |      + beta_b * (xbar - sxb / CAST(n_b AS DOUBLE)) AS mean_b_adj,
             |    vra / CAST(n_a AS DOUBLE) AS sea2,
             |    vrb / CAST(n_b AS DOUBLE) AS seb2
             |  FROM b),
             |w AS (SELECT *, mean_a_adj - mean_b_adj AS diff FROM v)
             |SELECT n_a, n_b, beta_a, beta_b, r2_a, r2_b,
             |  mean_a_adj, mean_b_adj, diff,
             |  CASE WHEN sea2 + seb2 > 0 THEN sqrt(sea2 + seb2) END AS se,
             |  CASE WHEN sea2 + seb2 > 0
             |    THEN diff / sqrt(sea2 + seb2) END AS t,
             |  CASE WHEN sea2 + seb2 > 0 THEN
             |    (sea2 + seb2) * (sea2 + seb2) /
             |      (sea2 * sea2 / (CAST(n_a AS DOUBLE) - 1.0)
             |        + seb2 * seb2 / (CAST(n_b AS DOUBLE) - 1.0)) END AS dof
             |FROM w""".stripMargin)),

    // Two-rate (Poisson/exposure) inference at USER grain: per user
    // the purchase count is the event count and half the activity
    // count is the exposure; arms hash-split on user_id. Exact-decimal
    // exposure sums, then the ln-RR Wald chain and the rate-difference
    // Wald chain replayed by DuckDB.
    Q("q458_two_rate",
      (s, dir) => {
        val u = Tables.events(s, dir)
          .groupBy("user_id")
          .agg(sum(when(col("event_type") === "purchase", 1L)
            .otherwise(0L)).as("ev"),
            (count(lit(1)).cast("double") * 0.5).as("ex"))
          .withColumn("grp",
            when(graft.functions.Sampling.hashU32(col("user_id"), "rate") <
              2147483648L, "a").otherwise("b"))
        graft.operators.Analytics.twoRateTest(u, "grp", "ev", "ex",
          "a", "b")
      },
      Some(s"""WITH u AS (SELECT user_id,
             |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS ev,
             |    CAST(COUNT(*) AS DOUBLE) * 0.5 AS ex
             |  FROM events GROUP BY user_id),
             |g AS (SELECT ${armCase("rate", "user_id")} AS arm,
             |    ev, CAST(ex AS DECIMAL(18,2)) AS ex FROM u),
             |c AS (SELECT
             |    CAST(SUM(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             |    CAST(COALESCE(SUM(CASE WHEN arm = 'a' THEN ev END), 0) AS BIGINT) AS events_a,
             |    CAST(COALESCE(SUM(CASE WHEN arm = 'a' THEN ex END), 0) AS DOUBLE) AS exposure_a,
             |    CAST(SUM(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             |    CAST(COALESCE(SUM(CASE WHEN arm = 'b' THEN ev END), 0) AS BIGINT) AS events_b,
             |    CAST(COALESCE(SUM(CASE WHEN arm = 'b' THEN ex END), 0) AS DOUBLE) AS exposure_b
             |  FROM g),
             |r AS (SELECT *,
             |    CASE WHEN exposure_a > 0
             |      THEN CAST(events_a AS DOUBLE) / exposure_a END AS rate_a,
             |    CASE WHEN exposure_b > 0
             |      THEN CAST(events_b AS DOUBLE) / exposure_b END AS rate_b
             |  FROM c),
             |e AS (SELECT *,
             |    CASE WHEN events_a > 0 AND events_b > 0
             |      THEN rate_a / rate_b END AS rate_ratio,
             |    CASE WHEN events_a > 0 AND events_b > 0
             |      THEN sqrt(1.0 / CAST(events_a AS DOUBLE)
             |              + 1.0 / CAST(events_b AS DOUBLE)) END AS serr,
             |    rate_a - rate_b AS diff,
             |    CASE WHEN exposure_a > 0 AND exposure_b > 0
             |      THEN sqrt(CAST(events_a AS DOUBLE) / (exposure_a * exposure_a)
             |              + CAST(events_b AS DOUBLE) / (exposure_b * exposure_b)) END AS sed
             |  FROM r)
             |SELECT n_a, n_b, events_a, exposure_a, events_b, exposure_b,
             |  rate_a, rate_b, rate_ratio,
             |  CASE WHEN rate_ratio > 0 THEN ln(rate_ratio) / serr END AS z,
             |  exp(ln(rate_ratio) - 1.959964 * serr) AS rr_lo,
             |  exp(ln(rate_ratio) + 1.959964 * serr) AS rr_hi,
             |  diff,
             |  diff - 1.959964 * sed AS diff_lo,
             |  diff + 1.959964 * sed AS diff_hi
             |FROM e""".stripMargin)),

    // Weissman extreme quantile of document length: the Hill chain
    // over the top-50 n_chars plus the pinned exp∘ln extrapolation to
    // the 99.9th percentile (k/(n·p) = 100x past the sample at this
    // fixture) — threshold, exact ln-sum, and the power chain all
    // replayed by DuckDB.
    Q("q459_weissman_quantile",
      (s, dir) => graft.operators.Analytics.weissmanQuantile(
        Tables.documents(s, dir), "n_chars", k = 50, tailProb = 0.001),
      Some("""WITH pos AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
             |  WHERE n_chars IS NOT NULL AND CAST(n_chars AS DOUBLE) > 0),
             |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pos FROM pos),
             |top AS (SELECT v FROM pos ORDER BY v DESC LIMIT 51),
             |kt AS (SELECT MIN(v) AS x_k1, COUNT(*) AS c FROM top),
             |s AS (SELECT COALESCE(CAST(SUM(CAST(ln(top.v / kt.x_k1)
             |      AS DECIMAL(38,18))) AS DOUBLE), 0.0) AS lnsum
             |  FROM top CROSS JOIN kt WHERE top.v > kt.x_k1),
             |h AS (SELECT n.n_pos,
             |    CASE WHEN kt.c = 51 THEN kt.x_k1 END AS x_k1,
             |    CASE WHEN kt.c = 51 THEN s.lnsum / 50.0 END AS hill_inv,
             |    CASE WHEN kt.c = 51 AND s.lnsum > 0
             |      THEN 50.0 / s.lnsum END AS alpha
             |  FROM n CROSS JOIN kt CROSS JOIN s)
             |SELECT n_pos, CAST(50 AS BIGINT) AS k, x_k1, hill_inv, alpha,
             |  CAST(0.001 AS DOUBLE) AS tail_prob,
             |  CASE WHEN hill_inv IS NOT NULL THEN
             |    x_k1 * exp(hill_inv * ln(50.0 / (CAST(n_pos AS DOUBLE) * 0.001)))
             |  END AS quantile
             |FROM h""".stripMargin)),

    // Importance-weight tail diagnostic over purchase values: the
    // PSIS tail-fraction rule M = ceil(min(n/5, 3*sqrt(n))) computed
    // in-engine on both sides, the Hill xi over the top-M, and the
    // published 0.5/0.7 read thresholds.
    Q("q460_weight_tail",
      (s, dir) => graft.functions.Sampling.weightTailDiagnostic(
        Tables.events(s, dir).filter(col("event_type") === "purchase")
          .select(col("value").as("w")),
        "w"),
      Some("""WITH pos AS (SELECT CAST(w AS DOUBLE) AS v FROM (
             |    SELECT value AS w FROM events WHERE event_type = 'purchase')
             |  WHERE w IS NOT NULL AND CAST(w AS DOUBLE) > 0),
             |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pos FROM pos),
             |k AS (SELECT n_pos, GREATEST(CAST(1 AS BIGINT),
             |    CAST(ceil(least(CAST(n_pos AS DOUBLE) / 5.0,
             |      3.0 * sqrt(CAST(n_pos AS DOUBLE)))) AS BIGINT)) AS m
             |  FROM n),
             |rk AS (SELECT v, row_number() OVER (ORDER BY v DESC) AS rn
             |  FROM pos),
             |top AS (SELECT rk.v FROM rk CROSS JOIN k WHERE rk.rn <= k.m + 1),
             |kt AS (SELECT MIN(v) AS x_k1, COUNT(*) AS c FROM top),
             |s AS (SELECT COALESCE(CAST(SUM(CAST(ln(top.v / kt.x_k1)
             |      AS DECIMAL(38,18))) AS DOUBLE), 0.0) AS lnsum
             |  FROM top CROSS JOIN kt WHERE top.v > kt.x_k1),
             |h AS (SELECT k.n_pos, k.m AS k,
             |    CASE WHEN kt.c = k.m + 1 THEN kt.x_k1 END AS x_k1,
             |    CASE WHEN kt.c = k.m + 1
             |      THEN s.lnsum / CAST(k.m AS DOUBLE) END AS xi_hill
             |  FROM k CROSS JOIN kt CROSS JOIN s)
             |SELECT n_pos, k, x_k1, xi_hill,
             |  CASE WHEN xi_hill IS NULL THEN NULL
             |       WHEN xi_hill < 0.5 THEN 'good'
             |       WHEN xi_hill < 0.7 THEN 'ok'
             |       ELSE 'unreliable' END AS diagnosis
             |FROM h""".stripMargin)),

    // Empirical-Bayes shrinkage of per-source long-doc rates: the
    // groupBy counts, the group-order-pinned double moment folds (the
    // oneWayF determinism move — the tiny between-variance is a
    // near-cancellation, so no decimal quantization survives it), the
    // three-regime strength rule, and each group's posterior mean
    // replayed by DuckDB.
    Q("q461_eb_shrink_rates",
      (s, dir) => graft.functions.ML.ebShrinkRates(
        Tables.documents(s, dir)
          .withColumn("long_doc", (col("n_chars") > 240).cast("int")),
        "source", "long_doc"),
      Some("""WITH d AS (SELECT source AS grp,
             |    CASE WHEN n_chars > 240 THEN 1 ELSE 0 END AS s
             |  FROM documents
             |  WHERE source IS NOT NULL AND n_chars IS NOT NULL),
             |g AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(s) AS BIGINT) AS x FROM d GROUP BY grp),
             |r AS (SELECT *,
             |    CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS rate FROM g),
             |p AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
             |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |      LIST(rate ORDER BY grp)), (x, y) -> x + y) AS sp,
             |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |      LIST(rate * rate ORDER BY grp)), (x, y) -> x + y) AS spp,
             |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |      LIST(rate * (1.0 - rate) / CAST(n AS DOUBLE) ORDER BY grp)),
             |      (x, y) -> x + y) AS snoise
             |  FROM r),
             |q AS (SELECT *, CAST(k AS DOUBLE) AS kd,
             |    CASE WHEN k >= 2 THEN sp / CAST(k AS DOUBLE) END AS prior_mean,
             |    CASE WHEN k >= 2 THEN (spp - sp * sp / CAST(k AS DOUBLE))
             |      / (CAST(k AS DOUBLE) - 1.0) END AS vraw
             |  FROM p),
             |w AS (SELECT *, vraw - snoise / kd AS v,
             |    prior_mean * (1.0 - prior_mean) AS mm FROM q),
             |z AS (SELECT prior_mean,
             |    CASE WHEN prior_mean IS NOT NULL THEN v <= 0 END AS pooled,
             |    CASE WHEN prior_mean IS NOT NULL THEN
             |      CASE WHEN v <= 0 THEN NULL
             |           WHEN v >= mm THEN 0.0
             |           ELSE mm / v - 1.0 END END AS prior_strength
             |  FROM w)
             |SELECT r.grp AS "group", r.n, r.x, r.rate, z.prior_mean,
             |  z.prior_strength, z.pooled,
             |  CASE WHEN z.prior_mean IS NOT NULL THEN
             |    CASE WHEN z.pooled THEN z.prior_mean
             |         WHEN z.prior_strength = 0.0 THEN r.rate
             |         ELSE (z.prior_mean * z.prior_strength + CAST(r.x AS DOUBLE))
             |              / (z.prior_strength + CAST(r.n AS DOUBLE)) END
             |  END AS rate_shrunk
             |FROM r CROSS JOIN z ORDER BY r.grp""".stripMargin)),

    // Empirical-Bayes shrinkage of per-source mean document length:
    // the exact-decimal group moments, the group-order-pinned prior
    // folds, the two-regime normal-normal chain, and each group's
    // posterior mean replayed by DuckDB.
    Q("q469_eb_shrink_means",
      (s, dir) => graft.functions.ML.ebShrinkMeans(
        Tables.documents(s, dir), "source", "n_chars"),
      Some("""WITH d AS (SELECT source AS grp,
             |    CAST(n_chars AS DECIMAL(18,2)) AS v
             |  FROM documents
             |  WHERE source IS NOT NULL AND n_chars IS NOT NULL),
             |g AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(v) AS DOUBLE) AS sv,
             |    CAST(SUM(v * v) AS DOUBLE) AS svv
             |  FROM d GROUP BY grp),
             |r AS (SELECT *,
             |    sv / CAST(n AS DOUBLE) AS mean,
             |    CASE WHEN n >= 2 THEN (svv - sv * sv / CAST(n AS DOUBLE))
             |      / (CAST(n AS DOUBLE) - 1.0) END AS var
             |  FROM g),
             |f AS (SELECT * FROM r WHERE n >= 2),
             |p AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
             |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |      LIST(mean ORDER BY grp)), (x, y) -> x + y) AS sm,
             |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |      LIST(mean * mean ORDER BY grp)), (x, y) -> x + y) AS smm,
             |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |      LIST(var / CAST(n AS DOUBLE) ORDER BY grp)),
             |      (x, y) -> x + y) AS snv
             |  FROM f),
             |q AS (SELECT *,
             |    CASE WHEN k >= 2 THEN sm / CAST(k AS DOUBLE) END AS prior_mean,
             |    CASE WHEN k >= 2 THEN
             |      ((smm - sm * sm / CAST(k AS DOUBLE)) / (CAST(k AS DOUBLE) - 1.0))
             |        - snv / CAST(k AS DOUBLE) END AS tau2
             |  FROM p),
             |z AS (SELECT prior_mean, tau2,
             |    CASE WHEN prior_mean IS NOT NULL THEN tau2 <= 0 END AS pooled
             |  FROM q)
             |SELECT r.grp AS "group", r.n, r.mean, r.var, z.prior_mean,
             |  z.tau2,
             |  CASE WHEN z.prior_mean IS NOT NULL AND r.n >= 2 THEN
             |    CASE WHEN z.pooled THEN 1.0
             |         ELSE (r.var / CAST(r.n AS DOUBLE))
             |              / (r.var / CAST(r.n AS DOUBLE) + z.tau2) END
             |  END AS shrink_b,
             |  z.pooled,
             |  CASE WHEN z.prior_mean IS NOT NULL AND r.n >= 2 THEN
             |    CASE WHEN z.pooled THEN 1.0
             |         ELSE (r.var / CAST(r.n AS DOUBLE))
             |              / (r.var / CAST(r.n AS DOUBLE) + z.tau2) END
             |      * z.prior_mean
             |    + (1.0 - CASE WHEN z.pooled THEN 1.0
             |         ELSE (r.var / CAST(r.n AS DOUBLE))
             |              / (r.var / CAST(r.n AS DOUBLE) + z.tau2) END)
             |      * r.mean
             |  END AS mean_shrunk
             |FROM r CROSS JOIN z ORDER BY r.grp""".stripMargin)),

    // DSIR importance resampling: select the 50 documents whose hashed
    // bigram distribution most resembles the src0/src1 target slice.
    // DuckDB replays the whole pipeline — tokenization, non-distinct
    // bigram bucket hashes (the q34 positional scheme mod P mod 4096),
    // both corpus models with +1 smoothing, the bucket-ordered per-doc
    // log-weight fold, the salted-hash Gumbel perturbation, and the
    // quantized top-k.
    Q("q462_dsir_sample",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        graft.functions.Sampling.dsirSample(
          docs, "doc_id", "text",
          docs.filter(col("source").isin("src0", "src1")), "text",
          k = 50, n = 2, buckets = 4096, salt = "dsir")
      },
      Some("""WITH base AS (SELECT doc_id, text, source FROM documents
             |  WHERE doc_id IS NOT NULL AND text IS NOT NULL),
             |toks AS (SELECT doc_id, list_filter(
             |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
             |    x -> length(x) > 0) AS t
             |  FROM base),
             |bx AS (SELECT doc_id, list_transform(
             |    list_transform(range(1, GREATEST(len(t) - 1, 0) + 1),
             |      i -> t[i] || ' ' || t[i+1]),
             |    g -> (list_sum(list_transform(range(1, length(g) + 1),
             |      j -> j * unicode(g[j:j]))) % 1000000007) % 4096) AS bs
             |  FROM toks),
             |rawb AS (SELECT doc_id, unnest(bs) AS bk FROM bx),
             |tgtb AS (SELECT unnest(bx.bs) AS bk FROM bx
             |  JOIN base ON bx.doc_id = base.doc_id
             |  WHERE base.source IN ('src0', 'src1')),
             |tc AS (SELECT bk, CAST(COUNT(*) AS BIGINT) AS c FROM tgtb GROUP BY bk),
             |rc AS (SELECT bk, CAST(COUNT(*) AS BIGINT) AS c FROM rawb GROUP BY bk),
             |tt AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS ttot FROM tc),
             |rt AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS rtot FROM rc),
             |lr AS (SELECT COALESCE(tc.bk, rc.bk) AS bk,
             |    ln((CAST(COALESCE(tc.c, 0) AS DOUBLE) + 1.0)
             |       / (CAST(tt.ttot AS DOUBLE) + 4096.0))
             |  - ln((CAST(COALESCE(rc.c, 0) AS DOUBLE) + 1.0)
             |       / (CAST(rt.rtot AS DOUBLE) + 4096.0)) AS lr
             |  FROM tc FULL OUTER JOIN rc ON tc.bk = rc.bk
             |  CROSS JOIN tt CROSS JOIN rt),
             |db AS (SELECT doc_id, bk, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM rawb GROUP BY 1, 2),
             |terms AS (SELECT db.doc_id, db.bk,
             |    CAST(db.c AS DOUBLE) * lr.lr AS term
             |  FROM db JOIN lr ON db.bk = lr.bk),
             |ell AS (SELECT doc_id, list_reduce(
             |    list_prepend(CAST(0.0 AS DOUBLE), LIST(term ORDER BY bk)),
             |    (x, y) -> x + y) AS log_weight
             |  FROM terms GROUP BY doc_id)
             |SELECT doc_id AS id,
             |  CAST(CAST(log_weight AS DECIMAL(28,4)) AS DOUBLE) AS log_weight,
             |  CAST(CAST(log_weight - ln(-ln(
             |    (CAST(CAST('0x' || substr(md5('dsir' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE) + 0.5)
             |      / 4294967296.0)) AS DECIMAL(28,4)) AS DOUBLE) AS key
             |FROM ell
             |ORDER BY key DESC, id LIMIT 50""".stripMargin)),

    // Streaming TWO-PROPORTION mSPRT monitor (the live conversion A/B
    // shape) under the q448 MemoryStream discipline: daily closed
    // windows of hash-split purchase conversions (arm b converting at
    // a lower threshold) fold through the single-key per-arm (n, x)
    // ALL-LONG state — split across TWO micro-batches so the carry is
    // exercised — and every emitted window must land bit-identical to
    // DuckDB's batch replay of the same window prefixes.
    Q("q467_stream_msprt_two_proportion",
      (s, dir) => {
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        import s.implicits._
        val cur = Tables.events(s, dir)
          .filter(col("event_type") === "purchase" &&
            col("value").isNotNull)
          .select(expr("ts div 1000").as("ts_us"),
            when(graft.functions.Sampling.hashU32(col("event_id"), "m2p") <
              2147483648L, "a").otherwise("b").as("grp"),
            col("value"))
          .withColumn("s", (col("value") >
            when(col("grp") === "a", 55.0).otherwise(35.0)).cast("int"))
        val rows = cur.collect()
          .map(r => (r.getLong(0), r.getString(1), r.getInt(3)))
        val dayUs = 86400L * 1000000L
        val mid = (rows.map(_._1).min / dayUs + 14) * dayUs
        val flush = (rows.map(_._1).max / dayUs + 4) * dayUs + 1L
        val ms = MemoryStream[(Long, String, Int)](s)
        val out = graft.streaming.Streams.windowedMsprtTwoProportion(
          ms.toDS().toDF("ts_us", "grp", "s"), "grp", "s", "a", "b",
          tau2 = 0.04, alpha = 0.05,
          watermark = "0 seconds", window_ = "1 day")
        val q = out.writeStream.outputMode("append").format("memory")
          .queryName("q467_sink").start()
        try {
          ms.addData(rows.filter(_._1 < mid).toSeq)
          q.processAllAvailable()
          ms.addData(rows.filter(_._1 >= mid).toSeq)
          q.processAllAvailable()
          ms.addData((flush, "a", 0)); q.processAllAvailable()
        } finally q.stop()
        val maxBucket = rows.map(r => r._1 / dayUs * dayUs).max
        s.table("q467_sink").filter(col("bucket_us") <= maxBucket)
          .orderBy("bucket_us")
      },
      Some("""WITH cur AS (SELECT
             |    (epoch_us(ts) // 86400000000) * 86400000000 AS bucket_us,
             |    CASE WHEN CAST('0x' || substr(md5('m2p' || CAST(event_id AS VARCHAR)), 1, 8) AS BIGINT)
             |      < 2147483648 THEN 'a' ELSE 'b' END AS arm,
             |    value FROM events
             |  WHERE event_type = 'purchase' AND value IS NOT NULL),
             |p AS (SELECT bucket_us, arm,
             |    CASE WHEN value > CASE WHEN arm = 'a' THEN 55.0 ELSE 35.0 END
             |      THEN 1 ELSE 0 END AS s
             |  FROM cur),
             |wb AS (SELECT bucket_us,
             |    CAST(SUM(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a_window,
             |    CAST(SUM(CASE WHEN arm = 'a' THEN s ELSE 0 END) AS BIGINT) AS xa,
             |    CAST(SUM(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b_window,
             |    CAST(SUM(CASE WHEN arm = 'b' THEN s ELSE 0 END) AS BIGINT) AS xb
             |  FROM p GROUP BY 1),
             |cum AS (SELECT bucket_us, n_a_window, n_b_window,
             |    CAST(SUM(n_a_window) OVER w AS BIGINT) AS n_a,
             |    CAST(SUM(n_b_window) OVER w AS BIGINT) AS n_b,
             |    CAST(SUM(xa) OVER w AS BIGINT) AS cxa,
             |    CAST(SUM(xb) OVER w AS BIGINT) AS cxb
             |  FROM wb WINDOW w AS (ORDER BY bucket_us ROWS UNBOUNDED PRECEDING)),
             |m AS (SELECT bucket_us, n_a_window, n_b_window, n_a, n_b,
             |    CASE WHEN n_a > 0
             |      THEN CAST(cxa AS DOUBLE) / CAST(n_a AS DOUBLE) END AS p_a,
             |    CASE WHEN n_b > 0
             |      THEN CAST(cxb AS DOUBLE) / CAST(n_b AS DOUBLE) END AS p_b,
             |    (CAST(cxa AS DOUBLE) + CAST(cxb AS DOUBLE))
             |      / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS pp
             |  FROM cum),
             |v AS (SELECT *,
             |    pp * (1.0 - pp) * (1.0 / CAST(n_a AS DOUBLE)
             |      + 1.0 / CAST(n_b AS DOUBLE)) AS vt
             |  FROM m),
             |e AS (SELECT *,
             |    CASE WHEN n_a > 0 AND n_b > 0 AND vt > 0.0 THEN
             |      0.5 * LN(vt / (vt + 0.04))
             |      + ((p_a - p_b) * (p_a - p_b) * 0.04)
             |        / (2.0 * vt * (vt + 0.04))
             |    END AS e_log FROM v)
             |SELECT bucket_us, n_a_window, n_b_window, n_a, n_b,
             |  p_a, p_b, e_log,
             |  CASE WHEN e_log IS NOT NULL
             |    THEN e_log >= LN(1.0 / 0.05) END AS crossed
             |FROM e ORDER BY bucket_us""".stripMargin)),

    // Raking (IPF): per-cell weights fitting lang shares AND
    // length-bucket shares simultaneously; the DuckDB oracle unrolls
    // all 10 alternating fits with ordered list folds (generated —
    // see rakeOracle).
    // Difference-in-differences on a hash-defined cohort x period
    // grid with a planted +20 on the treated post cell: all 12
    // exact-decimal cell moments, the four-corner estimate, and the
    // Welch-Satterthwaite dof over the cells replayed by DuckDB.
    Q("q465_diff_in_diff",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .filter(col("event_type") === "purchase")
          .withColumn("grp",
            when(graft.functions.Sampling.hashU32(col("user_id"), "did") <
              2147483648L, "t").otherwise("c"))
          .withColumn("per",
            when(graft.functions.Sampling.hashU32(col("event_id"), "per") <
              2147483648L, "pre").otherwise("post"))
          .withColumn("y",
            when(col("grp") === "t" && col("per") === "post",
              col("value") + 20.0).otherwise(col("value")))
        graft.operators.Analytics.diffInDiff(ev, "grp", "per", "y",
          "t", "c", "pre", "post")
      },
      Some(s"""WITH g AS (SELECT
             |    CASE WHEN CAST('0x' || substr(md5('did' || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
             |      < 2147483648 THEN 't' ELSE 'c' END AS grp,
             |    CASE WHEN CAST('0x' || substr(md5('per' || CAST(event_id AS VARCHAR)), 1, 8) AS BIGINT)
             |      < 2147483648 THEN 'pre' ELSE 'post' END AS per,
             |    value FROM events
             |  WHERE event_type = 'purchase' AND value IS NOT NULL),
             |p AS (SELECT grp, per,
             |    CAST(CASE WHEN grp = 't' AND per = 'post'
             |      THEN value + 20.0 ELSE value END AS DECIMAL(18,2)) AS y
             |  FROM g),
             |s AS (SELECT
             |    CAST(SUM(CASE WHEN grp = 't' AND per = 'pre' THEN 1 ELSE 0 END) AS BIGINT) AS n_tpre,
             |    CAST(SUM(CASE WHEN grp = 't' AND per = 'pre' THEN y END) AS DOUBLE) AS s_tpre,
             |    CAST(SUM(CASE WHEN grp = 't' AND per = 'pre' THEN y * y END) AS DOUBLE) AS ss_tpre,
             |    CAST(SUM(CASE WHEN grp = 't' AND per = 'post' THEN 1 ELSE 0 END) AS BIGINT) AS n_tpost,
             |    CAST(SUM(CASE WHEN grp = 't' AND per = 'post' THEN y END) AS DOUBLE) AS s_tpost,
             |    CAST(SUM(CASE WHEN grp = 't' AND per = 'post' THEN y * y END) AS DOUBLE) AS ss_tpost,
             |    CAST(SUM(CASE WHEN grp = 'c' AND per = 'pre' THEN 1 ELSE 0 END) AS BIGINT) AS n_cpre,
             |    CAST(SUM(CASE WHEN grp = 'c' AND per = 'pre' THEN y END) AS DOUBLE) AS s_cpre,
             |    CAST(SUM(CASE WHEN grp = 'c' AND per = 'pre' THEN y * y END) AS DOUBLE) AS ss_cpre,
             |    CAST(SUM(CASE WHEN grp = 'c' AND per = 'post' THEN 1 ELSE 0 END) AS BIGINT) AS n_cpost,
             |    CAST(SUM(CASE WHEN grp = 'c' AND per = 'post' THEN y END) AS DOUBLE) AS s_cpost,
             |    CAST(SUM(CASE WHEN grp = 'c' AND per = 'post' THEN y * y END) AS DOUBLE) AS ss_cpost
             |  FROM p),
             |m AS (SELECT *,
             |    CASE WHEN n_tpre > 0 THEN s_tpre / CAST(n_tpre AS DOUBLE) END AS mean_tpre,
             |    CASE WHEN n_tpost > 0 THEN s_tpost / CAST(n_tpost AS DOUBLE) END AS mean_tpost,
             |    CASE WHEN n_cpre > 0 THEN s_cpre / CAST(n_cpre AS DOUBLE) END AS mean_cpre,
             |    CASE WHEN n_cpost > 0 THEN s_cpost / CAST(n_cpost AS DOUBLE) END AS mean_cpost,
             |    CASE WHEN n_tpre >= 2 THEN ((ss_tpre - s_tpre * s_tpre / CAST(n_tpre AS DOUBLE)) / (CAST(n_tpre AS DOUBLE) - 1.0)) / CAST(n_tpre AS DOUBLE) END AS v_tpre,
             |    CASE WHEN n_tpost >= 2 THEN ((ss_tpost - s_tpost * s_tpost / CAST(n_tpost AS DOUBLE)) / (CAST(n_tpost AS DOUBLE) - 1.0)) / CAST(n_tpost AS DOUBLE) END AS v_tpost,
             |    CASE WHEN n_cpre >= 2 THEN ((ss_cpre - s_cpre * s_cpre / CAST(n_cpre AS DOUBLE)) / (CAST(n_cpre AS DOUBLE) - 1.0)) / CAST(n_cpre AS DOUBLE) END AS v_cpre,
             |    CASE WHEN n_cpost >= 2 THEN ((ss_cpost - s_cpost * s_cpost / CAST(n_cpost AS DOUBLE)) / (CAST(n_cpost AS DOUBLE) - 1.0)) / CAST(n_cpost AS DOUBLE) END AS v_cpost
             |  FROM s),
             |w AS (SELECT *,
             |    (mean_tpost - mean_tpre) - (mean_cpost - mean_cpre) AS did,
             |    v_tpre + v_tpost + v_cpre + v_cpost AS vsum,
             |    v_tpre * v_tpre / (CAST(n_tpre AS DOUBLE) - 1.0)
             |      + v_tpost * v_tpost / (CAST(n_tpost AS DOUBLE) - 1.0)
             |      + v_cpre * v_cpre / (CAST(n_cpre AS DOUBLE) - 1.0)
             |      + v_cpost * v_cpost / (CAST(n_cpost AS DOUBLE) - 1.0) AS vsq
             |  FROM m)
             |SELECT n_tpre, n_tpost, n_cpre, n_cpost, mean_tpre,
             |  mean_tpost, mean_cpre, mean_cpost, did,
             |  CASE WHEN vsum > 0 THEN sqrt(vsum) END AS se,
             |  CASE WHEN vsum > 0 THEN did / sqrt(vsum) END AS t,
             |  CASE WHEN vsum > 0 THEN vsum * vsum / vsq END AS dof
             |FROM w""".stripMargin)),

    // Poisson MDE sizing at user grain on the q458 fixture: pooled
    // rate, null-variance sizing with the fixed z literals.
    Q("q468_mde_rate",
      (s, dir) => {
        val u = Tables.events(s, dir)
          .groupBy("user_id")
          .agg(sum(when(col("event_type") === "purchase", 1L)
            .otherwise(0L)).as("ev"),
            (count(lit(1)).cast("double") * 0.5).as("ex"))
          .withColumn("grp",
            when(graft.functions.Sampling.hashU32(col("user_id"), "rate") <
              2147483648L, "a").otherwise("b"))
        graft.operators.Analytics.mdeRate(u, "grp", "ev", "ex", "a", "b")
      },
      Some(s"""WITH u AS (SELECT user_id,
             |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS ev,
             |    CAST(COUNT(*) AS DOUBLE) * 0.5 AS ex
             |  FROM events GROUP BY user_id),
             |g AS (SELECT ${armCase("rate", "user_id")} AS arm,
             |    ev, CAST(ex AS DECIMAL(18,2)) AS ex FROM u),
             |c AS (SELECT
             |    CAST(SUM(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             |    CAST(COALESCE(SUM(CASE WHEN arm = 'a' THEN ev END), 0) AS BIGINT) AS ea,
             |    CAST(COALESCE(SUM(CASE WHEN arm = 'a' THEN ex END), 0) AS DOUBLE) AS exposure_a,
             |    CAST(SUM(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             |    CAST(COALESCE(SUM(CASE WHEN arm = 'b' THEN ev END), 0) AS BIGINT) AS eb,
             |    CAST(COALESCE(SUM(CASE WHEN arm = 'b' THEN ex END), 0) AS DOUBLE) AS exposure_b
             |  FROM g),
             |r AS (SELECT *,
             |    CASE WHEN exposure_a + exposure_b > 0 THEN
             |      (CAST(ea AS DOUBLE) + CAST(eb AS DOUBLE))
             |        / (exposure_a + exposure_b) END AS rate_pool
             |  FROM c),
             |v AS (SELECT *,
             |    CASE WHEN exposure_a > 0 AND exposure_b > 0 THEN
             |      rate_pool * (1.0 / exposure_a + 1.0 / exposure_b)
             |    END AS vv
             |  FROM r)
             |SELECT n_a, n_b, exposure_a, exposure_b, rate_pool,
             |  CASE WHEN vv > 0 THEN (1.959964 + 0.841621) * sqrt(vv) END AS mde_abs,
             |  CASE WHEN rate_pool > 0 AND vv > 0
             |    THEN (1.959964 + 0.841621) * sqrt(vv) / rate_pool END AS mde_rel
             |FROM v""".stripMargin)),

    // Per-arm Poisson dispersion gate at user grain (the q458
    // fixture): the moment-expansion chi2, the per-group rate, and
    // the bad-exposure accounting replayed by DuckDB.
    Q("q466_rate_dispersion",
      (s, dir) => {
        val u = Tables.events(s, dir)
          .groupBy("user_id")
          .agg(sum(when(col("event_type") === "purchase", 1L)
            .otherwise(0L)).as("ev"),
            (count(lit(1)).cast("double") * 0.5).as("ex"))
          .withColumn("grp",
            when(graft.functions.Sampling.hashU32(col("user_id"), "rate") <
              2147483648L, "a").otherwise("b"))
        graft.operators.Analytics.rateDispersion(u, "grp", "ev", "ex")
      },
      Some(s"""WITH u AS (SELECT user_id,
             |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS ev,
             |    CAST(COUNT(*) AS DOUBLE) * 0.5 AS ex
             |  FROM events GROUP BY user_id),
             |g AS (SELECT ${armCase("rate", "user_id")} AS arm, ev, ex FROM u),
             |c AS (SELECT arm AS "group",
             |    CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(0 AS BIGINT) AS n_bad_exposure,
             |    CAST(SUM(ev) AS BIGINT) AS events,
             |    CAST(SUM(CAST(ex AS DECIMAL(38,18))) AS DOUBLE) AS exposure,
             |    CAST(SUM(CAST(CAST(ev AS DOUBLE) * CAST(ev AS DOUBLE) / ex
             |      AS DECIMAL(38,18))) AS DOUBLE) AS se2t
             |  FROM g GROUP BY arm)
             |SELECT "group", n, n_bad_exposure, events, exposure,
             |  CASE WHEN exposure > 0 THEN CAST(events AS DOUBLE) / exposure END AS rate,
             |  CASE WHEN events > 0 THEN
             |    (exposure / CAST(events AS DOUBLE)) * se2t - CAST(events AS DOUBLE)
             |  END AS chi2,
             |  CASE WHEN n >= 2 THEN n - 1 END AS dof,
             |  CASE WHEN events > 0 AND n >= 2 THEN
             |    ((exposure / CAST(events AS DOUBLE)) * se2t - CAST(events AS DOUBLE))
             |      / CAST(n - 1 AS DOUBLE) END AS dispersion
             |FROM c ORDER BY "group"""".stripMargin)),

    Q("q464_weighted_mean_test",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .filter(col("event_type") === "purchase")
          .withColumn("grp",
            when(graft.functions.Sampling.hashU32(col("event_id"), "wm") <
              2147483648L, "a").otherwise("b"))
          .withColumn("w",
            (pmod(col("event_id"), lit(17L)) + 1L).cast("double") /
              lit(4.0))
        graft.operators.Analytics.weightedMeanTest(ev, "grp", "value",
          "w", "a", "b")
      },
      Some(s"""WITH g AS (SELECT ${armCase("wm", "event_id")} AS grp,
             |    CAST(value AS DOUBLE) AS y,
             |    CAST(event_id % 17 + 1 AS DOUBLE) / 4.0 AS w
             |  FROM events
             |  WHERE event_type = 'purchase' AND value IS NOT NULL),
             |s AS (SELECT
             |    CAST(SUM(CASE WHEN grp = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             |    CAST(SUM(CASE WHEN grp = 'a' THEN CAST(w AS DECIMAL(38,12)) END) AS DOUBLE) AS swa,
             |    CAST(SUM(CASE WHEN grp = 'a' THEN CAST(w * y AS DECIMAL(38,12)) END) AS DOUBLE) AS swya,
             |    CAST(SUM(CASE WHEN grp = 'a' THEN CAST(w * w AS DECIMAL(38,12)) END) AS DOUBLE) AS swwa,
             |    CAST(SUM(CASE WHEN grp = 'a' THEN CAST(w * w * y AS DECIMAL(38,12)) END) AS DOUBLE) AS swwya,
             |    CAST(SUM(CASE WHEN grp = 'a' THEN CAST((w * w) * (y * y) AS DECIMAL(38,12)) END) AS DOUBLE) AS swwyya,
             |    CAST(SUM(CASE WHEN grp = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             |    CAST(SUM(CASE WHEN grp = 'b' THEN CAST(w AS DECIMAL(38,12)) END) AS DOUBLE) AS swb,
             |    CAST(SUM(CASE WHEN grp = 'b' THEN CAST(w * y AS DECIMAL(38,12)) END) AS DOUBLE) AS swyb,
             |    CAST(SUM(CASE WHEN grp = 'b' THEN CAST(w * w AS DECIMAL(38,12)) END) AS DOUBLE) AS swwb,
             |    CAST(SUM(CASE WHEN grp = 'b' THEN CAST(w * w * y AS DECIMAL(38,12)) END) AS DOUBLE) AS swwyb,
             |    CAST(SUM(CASE WHEN grp = 'b' THEN CAST((w * w) * (y * y) AS DECIMAL(38,12)) END) AS DOUBLE) AS swwyyb
             |  FROM g),
             |m AS (SELECT *,
             |    CASE WHEN swa > 0 THEN swya / swa END AS mean_a,
             |    CASE WHEN swb > 0 THEN swyb / swb END AS mean_b,
             |    CASE WHEN swwa > 0 THEN swa * swa / swwa END AS ess_a,
             |    CASE WHEN swwb > 0 THEN swb * swb / swwb END AS ess_b
             |  FROM s),
             |v AS (SELECT *,
             |    CASE WHEN swa > 0 THEN
             |      (swwyya - 2.0 * mean_a * swwya + mean_a * mean_a * swwa)
             |        / (swa * swa) END AS va,
             |    CASE WHEN swb > 0 THEN
             |      (swwyyb - 2.0 * mean_b * swwyb + mean_b * mean_b * swwb)
             |        / (swb * swb) END AS vb
             |  FROM m)
             |SELECT n_a, n_b, mean_a, mean_b, ess_a, ess_b,
             |  mean_a - mean_b AS diff,
             |  CASE WHEN va + vb > 0 THEN sqrt(va + vb) END AS se,
             |  CASE WHEN va + vb > 0
             |    THEN (mean_a - mean_b) / sqrt(va + vb) END AS z
             |FROM v""".stripMargin)),

    Q("q463_rake_weights",
      (s, dir) => graft.functions.Sampling.rakeWeights(
        Tables.documents(s, dir)
          .withColumn("bucket", when(col("n_chars") < 250, "short")
            .when(col("n_chars") < 350, "mid").otherwise("long")),
        "lang", "bucket",
        Seq("de" -> 0.15, "en" -> 0.5, "es" -> 0.15, "fr" -> 0.1,
          "zh" -> 0.1),
        Seq("short" -> 0.3, "mid" -> 0.4, "long" -> 0.3),
        iters = 10),
      Some(rakeOracle))
  )
}
