package graft

import graft.SparkEntry.Q
import org.apache.spark.sql.functions._

/** Query registry batch 26 (round 11, sixth session, wave 17):
  * weighted statistics, last-touch attribution, and the streaming-
  * maintained materialized view with transparent rewrite.
  */
private[graft] object Batch26 {

  val queries: Seq[Q] = Seq(

    // Exact importance-weighted mean of purchase values per event day-
    // of-week-ish bucket (user_id % 7), weighted by a deterministic
    // per-row weight: Σw, Σw·x, and the single division all replayed.
    Q("q214_weighted_mean",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .filter(col("event_type") === "purchase")
          .withColumn("grp", col("user_id") % 7)
          .withColumn("w", (col("event_id") % 10 + 1).cast("double"))
        graft.operators.Aggregations.weightedMean(
            ev, Seq("grp"), "value", "w")
          .orderBy("grp")
      },
      Some("""SELECT user_id % 7 AS grp, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(CAST(event_id % 10 + 1 AS DECIMAL(18,4))) AS DOUBLE) AS sum_w,
             |  CAST(SUM(CAST(value AS DECIMAL(18,4)) * CAST(event_id % 10 + 1 AS DECIMAL(18,4))) AS DOUBLE)
             |    / CAST(SUM(CAST(event_id % 10 + 1 AS DECIMAL(18,4))) AS DOUBLE) AS wmean
             |FROM events WHERE event_type = 'purchase'
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Last-touch attribution — the composition gate (q149 pattern): each
    // purchase attributes to its user's most recent click within 24 h
    // (asofJoinTolerance), channel derived from the click id, purchases
    // with no qualifying click fall to 'direct'; per-channel counts +
    // decimal-exact revenue. The oracle re-derives the asof match, the
    // staleness rule, the channel bucketing, and the rollup in one
    // chain — no stage may leak rows into the next.
    Q("q215_attribution",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val purchases = ev.filter(col("event_type") === "purchase")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
        graft.operators.Joins.asofJoinTolerance(purchases, clicks,
            Seq("user_id"), "ts", "ts",
            lCols = Seq("event_id", "value"), rValueCols = Seq("click_id"),
            tolerance = 86400000000000L) // 24 h in ns
          .withColumn("channel",
            when(col("click_id").isNull, lit("direct"))
              .otherwise(concat(lit("ch"), (col("click_id") % 3).cast("string"))))
          .groupBy("channel")
          .agg(count(lit(1)).as("n_purchases"),
            sum(col("value").cast("decimal(18,4)")).cast("double").as("revenue"))
          .orderBy("channel")
      },
      Some("""WITH m AS (SELECT l.event_id, l.value,
             |    CASE WHEN r.ts IS NOT NULL
             |           AND epoch_us(r.ts)*1000 >= epoch_us(l.ts)*1000 - 86400000000000
             |         THEN r.event_id END AS click_id
             |  FROM (SELECT * FROM events WHERE event_type = 'purchase') l
             |  ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
             |    ON l.user_id = r.user_id AND l.ts >= r.ts)
             |SELECT CASE WHEN click_id IS NULL THEN 'direct'
             |            ELSE 'ch' || CAST(click_id % 3 AS VARCHAR) END AS channel,
             |  CAST(COUNT(*) AS BIGINT) AS n_purchases,
             |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS revenue
             |FROM m GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Streaming-maintained materialized view with TRANSPARENT rewrite —
    // the q157 + q200 capstone: the rollup is maintained by aggSink over
    // two micro-batches (stored sums pinned to decimal(18,4)), MvRewrite
    // registers it, and the raw-scan aggregate must (a) rewrite onto it
    // (the plan flag is gated) and (b) equal the raw aggregation the
    // oracle computes — certifying the streamed maintenance converged
    // AND the rewrite answers from it exactly.
    Q("q216_stream_mv_rewrite",
      (s, dir) => {
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        import s.implicits._
        val raw = s"$dir/events.parquet"
        val dirP = java.nio.file.Files.createTempDirectory("graft-smv-")
          .toAbsolutePath.toString + "/rollup"
        val rows = s.read.parquet(raw)
          .select(col("event_id"), col("event_type"), col("user_id"), col("value"))
          .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        val ms = MemoryStream[(Long, String, Long, Double)](s)
        val q = graft.streaming.Streams.aggSink(
            ms.toDS().toDF("event_id", "event_type", "user_id", "value"),
            dirP, Seq("event_type"), Seq("user_id"),
            aggExprs = Seq("n" -> count(lit(1)),
              "sum_value" -> sum(col("value").cast("decimal(18,4)"))
                .cast("decimal(18,4)")),
            mergeFns = Seq(
              "n" -> ((a, b) => a + b),
              "sum_value" -> ((a, b) => (a + b).cast("decimal(18,4)"))))
          .option("checkpointLocation", dirP + "-ckpt").start()
        try {
          ms.addData(rows.filter(_._1 % 2 == 0).toSeq); q.processAllAvailable()
          ms.addData(rows.filter(_._1 % 2 == 1).toSeq); q.processAllAvailable()
        } finally q.stop()
        graft.plans.MvRewrite.register(s, graft.plans.MvRewrite.MvDef(
          rawPath = raw, rollupPath = dirP,
          keyCols = Set("event_type", "user_id"),
          sumCols = Map("value" -> "sum_value"), countCol = Some("n")))
        try {
          val agg = s.read.parquet(raw)
            .groupBy("event_type")
            .agg(sum(col("value").cast("decimal(18,4)"))
                .cast("double").as("sum_value"),
              count(lit(1)).as("cnt"))
          val fired = graft.plans.MvRewrite.rewritten(agg, raw, dirP)
          agg.withColumn("rewritten", lit(fired))
            .orderBy("event_type").localCheckpoint(true)
        } finally graft.plans.MvRewrite.deregister(raw)
      },
      Some("""SELECT event_type,
             |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
             |  CAST(COUNT(*) AS BIGINT) AS cnt, TRUE AS rewritten
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin))
  )
}
