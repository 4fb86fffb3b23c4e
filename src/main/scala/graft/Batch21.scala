package graft

import graft.SparkEntry.Q
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Query registry batch 21 (round 11, sixth session, wave 12):
  * materialized-view rewrite, bloom-prefiltered join, continuous
  * quantiles, unicode script profiling.
  */
private[graft] object Batch21 {

  /** The q200 rollup slice: per-(returnflag, linestatus) exact mergeable
    * partials, sums re-cast to the STORED precision (the q156
    * convention — which is also exactly what makes the rewrite
    * type-preserving: sum(dec(18,2) partials) has the same type as the
    * query's sum(cast(raw as dec(18,2)))). */
  private def mvSlice(f: DataFrame): DataFrame =
    f.groupBy("l_returnflag", "l_linestatus")
      // fixed-point sums (round 19, the q01 fsum2 precedent), EXACT
      // decimal form (round 20, r19 ADVICE): the long accumulator keeps
      // the ~3x per-row win over decimal aggregation, and the decimal
      // divide-back makes the stored rollup bit-identical to
      // sum(cast(raw as decimal(18,2))) at ANY magnitude the 2^63
      // tripwire admits — the previous double round-trip was exact only
      // below 2^53 unscaled, a band TPC-H sf≈400+ (inside the 100 TB
      // design point) exceeds while decimal(18,2) still holds the total
      .agg(graft.functions.FixedPoint
          .sumFixedDecimal(col("l_quantity"), 2, 18).as("sum_qty"),
        graft.functions.FixedPoint
          .sumFixedDecimal(col("l_extendedprice"), 2, 18).as("sum_price"),
        count(lit(1)).as("cnt"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"))

  private val mvMerge: Seq[(String, (Column, Column) => Column)] = Seq(
    "sum_qty" -> ((a, b) => (a + b).cast("decimal(18,2)")),
    "sum_price" -> ((a, b) => (a + b).cast("decimal(18,2)")),
    "cnt" -> ((a, b) => a + b),
    "min_qty" -> ((a, b) => least(a, b)),
    "max_qty" -> ((a, b) => greatest(a, b)))

  val queries: Seq[Q] = Seq(

    // Materialized-view rewrite end to end: the rollup is MAINTAINED by
    // two upsertAggregate slices (q156's algebra), registered as an
    // MvDef, and the query — written against the RAW lineitem scan with
    // a key-only filter — must (a) be silently rewritten onto the rollup
    // (the `rewritten` flag pins that the executed plan read the rollup
    // and never touched lineitem.parquet) and (b) produce values
    // bit-identical to the raw aggregation the oracle computes. Green
    // certifies maintenance algebra, registration, plan matching,
    // filter rebasing, partial re-aggregation types, and output
    // rebinding in one row.
    Q("q200_mv_rewrite",
      (s, dir) => {
        val raw = s"$dir/lineitem.parquet"
        val mvDir = java.nio.file.Files.createTempDirectory("graft-mv-")
          .toAbsolutePath.toString + "/rollup"
        val li = Tables.lineitem(s, dir)
        graft.sources.IO.upsertAggregate(s, mvDir,
          mvSlice(li.filter(col("l_orderkey") % 2 === 0)),
          Seq("l_returnflag"), Seq("l_linestatus"), mvMerge)
        graft.sources.IO.upsertAggregate(s, mvDir,
          mvSlice(li.filter(col("l_orderkey") % 2 === 1)),
          Seq("l_returnflag"), Seq("l_linestatus"), mvMerge)
        graft.plans.MvRewrite.register(s, graft.plans.MvRewrite.MvDef(
          rawPath = raw, rollupPath = mvDir,
          keyCols = Set("l_returnflag", "l_linestatus"),
          sumCols = Map("l_quantity" -> "sum_qty",
            "l_extendedprice" -> "sum_price"),
          countCol = Some("cnt"),
          minCols = Map("l_quantity" -> "min_qty"),
          maxCols = Map("l_quantity" -> "max_qty")))
        try {
          val agg = s.read.parquet(raw)
            .filter(col("l_returnflag") =!= "X") // key-only filter: rebased
            .groupBy("l_returnflag")
            .agg(sum(col("l_quantity").cast("decimal(18,2)"))
                .cast("double").as("sum_qty"),
              sum(col("l_extendedprice").cast("decimal(18,2)"))
                .cast("double").as("sum_price"),
              count(lit(1)).as("cnt"),
              min(col("l_quantity")).as("min_qty"),
              max(col("l_quantity")).as("max_qty"))
          val fired = graft.plans.MvRewrite.rewritten(agg, raw, mvDir)
          // materialize THROUGH the rewrite (the checkpoint executes the
          // rewritten plan; the returned frame is its pinned result)
          agg.withColumn("rewritten", lit(fired))
            .orderBy("l_returnflag").localCheckpoint(true)
        } finally graft.plans.MvRewrite.deregister(raw)
      },
      Some("""SELECT l_returnflag,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
             |  CAST(COUNT(*) AS BIGINT) AS cnt,
             |  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
             |  TRUE AS rewritten
             |FROM lineitem WHERE l_returnflag <> 'X'
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Bloom-prefiltered fact ⋈ dim join under a plain-join oracle: the
    // urgent-orders dim (~20% of orders) is bloomed, lineitem probes the
    // filter in its scan, and the exact join must erase every false
    // positive — the revenue rollup is IDENTICAL to the unfiltered
    // join's. fpp=0.5 would work too (the decontam adversarial-filter
    // argument); 0.01 is the realistic exchange-sizing configuration.
    Q("q201_bloom_join",
      (s, dir) => {
        val urgent = Tables.orders(s, dir)
          .filter(col("o_orderpriority") === "1-URGENT")
        graft.operators.Joins.bloomPrefilteredJoin(
            Tables.lineitem(s, dir), urgent, "l_orderkey", "o_orderkey")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            SparkEntry.fprod4(col("l_extendedprice"),
              lit(1.0) - col("l_discount")).as("revenue"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE o_orderpriority = '1-URGENT'
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Continuous (interpolated) per-group quantile — quantileDisc's
    // member-selection gate extended to the interpolated form: the two
    // bracket values are SELECTED, h and the interpolation are pinned
    // doubles the oracle replays, and integral h collapses to the member
    // value exactly.
    Q("q202_quantile_cont",
      (s, dir) => {
        graft.operators.Aggregations.quantileCont(
            Tables.lineitem(s, dir), Seq("l_returnflag"),
            "l_extendedprice", q = 0.25)
          .orderBy("l_returnflag")
      },
      Some("""WITH r AS (SELECT l_returnflag,
             |    CAST(l_extendedprice AS DOUBLE) AS v,
             |    ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) - 1 AS rn,
             |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
             |  FROM lineitem),
             |b AS (SELECT l_returnflag, n,
             |    MIN(CASE WHEN rn = FLOOR(0.25 * (CAST(n AS DOUBLE) - 1.0)) THEN v END) AS lo,
             |    MIN(CASE WHEN rn = CEIL(0.25 * (CAST(n AS DOUBLE) - 1.0)) THEN v END) AS hi
             |  FROM r GROUP BY 1, 2)
             |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
             |  lo + (0.25 * (CAST(n AS DOUBLE) - 1.0)
             |        - FLOOR(0.25 * (CAST(n AS DOUBLE) - 1.0))) * (hi - lo) AS q_value
             |FROM b ORDER BY l_returnflag""".stripMargin)),

    // Unicode script profile with deterministically injected scripts
    // (q/x/z → ж/λ/中 — the ASCII fixture gains real Cyrillic/Greek/CJK
    // codepoints): per-block codepoint counts, total script chars, and
    // the dominant-script fraction, all replayed by the oracle on the
    // same injected text.
    Q("q203_script_profile",
      (s, dir) => {
        val inj = Tables.documents(s, dir).select(col("doc_id"),
          translate(col("text"), "qxz", "жλ中").as("t"))
        inj.select(col("doc_id"),
            graft.functions.Text.scriptProfile(col("t")).as("p"))
          .select(col("doc_id"), col("p.*"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, translate(text, 'qxz', 'жλ中') AS t
             |  FROM documents),
             |c AS (SELECT doc_id,
             |    CAST(len(regexp_extract_all(t, '[A-Za-z]')) AS BIGINT) AS n_latin,
             |    CAST(len(regexp_extract_all(t, '[\x{0400}-\x{04FF}]')) AS BIGINT) AS n_cyrillic,
             |    CAST(len(regexp_extract_all(t, '[\x{0370}-\x{03FF}]')) AS BIGINT) AS n_greek,
             |    CAST(len(regexp_extract_all(t, '[\x{4E00}-\x{9FFF}]')) AS BIGINT) AS n_cjk,
             |    CAST(len(regexp_extract_all(t, '[\x{0600}-\x{06FF}]')) AS BIGINT) AS n_arabic,
             |    CAST(len(regexp_extract_all(t, '[0-9]')) AS BIGINT) AS n_digit
             |  FROM t)
             |SELECT doc_id, n_latin, n_cyrillic, n_greek, n_cjk, n_arabic, n_digit,
             |  n_latin + n_cyrillic + n_greek + n_cjk + n_arabic AS n_script,
             |  CASE WHEN n_latin + n_cyrillic + n_greek + n_cjk + n_arabic > 0 THEN
             |    CAST(GREATEST(n_latin, n_cyrillic, n_greek, n_cjk, n_arabic) AS DOUBLE)
             |      / CAST(n_latin + n_cyrillic + n_greek + n_cjk + n_arabic AS DOUBLE)
             |  END AS main_frac
             |FROM c ORDER BY doc_id""".stripMargin))
  )
}
