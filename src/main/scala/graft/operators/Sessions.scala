package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap-based sessionization — the canonical event-log operator the
  * reference expresses with `groupby` + ShiftedArrays.lag over a sorted
  * table (`src/flatten.jl` + window idioms, docs/src/api/aggregation.md);
  * here it is one declarative composition that Catalyst runs with a
  * SINGLE shuffle.
  *
  * Semantics (matches Spark's native `session_window`): events of the same
  * key belong to one session while each consecutive gap is < `gapUs`; a
  * gap ≥ `gapUs` starts a new session. Session identity is the session's
  * first event time — stable, engine-portable, and unique per key.
  *
  * Plan shape / 100 TB audit: the boundary lag, the running-sum session
  * index, and the per-session aggregate ALL require clustering by a subset
  * of (key..., session_idx), so EnsureRequirements inserts exactly one
  * hash Exchange on the key; everything downstream reuses it (the window
  * sorts are partition-local). The per-key sort is the unavoidable cost of
  * gap semantics — order defines the gaps — and it spills via the
  * out-of-core sort path (SCALE.md's out-of-core window row), so a hot
  * key degrades to disk, not OOM. Skewed keys: the per-event pass is
  * per-key sequential (the running index is a prefix sum), which
  * [[sessionStatsSalted]] breaks with a two-level segmented gap-merge —
  * partial sessions per (key, ts-bucket), then the same gap rule over
  * the ≤ 2-per-bucket partials — spec-equal to the plain operator at any
  * bucket width and measured 8.5× on the 50%-hot stress fixture.
  */
object Sessions {

  /** df + `__session_idx` (per-key running session ordinal). */
  private def indexed(df: DataFrame, keyCols: Seq[String], tsCol: String,
                      gapUs: Long, tieCols: Seq[Column]): DataFrame = {
    require(gapUs > 0, s"gapUs must be positive, got $gapUs")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol).asc +: tieCols: _*)
    // ROWS frame, not the RANGE default: with tied timestamps the RANGE
    // frame peeks at peers' boundary flags — same result for the flag sum
    // (ties never open a session) but ROWS is the contract both engines
    // state identically
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = lag(col(tsCol), 1).over(w)
    val isNew = when(prev.isNull || (col(tsCol) - prev >= lit(gapUs)), 1L)
      .otherwise(0L)
    df.withColumn("__session_new", isNew)
      .withColumn("__session_idx", sum(col("__session_new")).over(run))
      .drop("__session_new")
  }

  /** Assign each event its session: input columns + `session_start`
    * (first event ts of the session, same type as `tsCol`). One shuffle.
    *
    * `tieCols` break ordering ties WITHIN equal `tsCol` values; session
    * assignment itself depends only on `tsCol` (equal timestamps always
    * share a session: their gap is 0), so the result is deterministic
    * even when ties exist — the tiebreak only stabilizes row order for
    * downstream consumers. */
  def assignSessions(df: DataFrame, keyCols: Seq[String], tsCol: String,
                     gapUs: Long, tieCols: Seq[Column] = Nil): DataFrame =
    indexed(df, keyCols, tsCol, gapUs, tieCols)
      // session_start = first ts of the (key, idx) group: a second window
      // over (key..., __session_idx) — clustering is satisfied by the
      // existing hash partitioning on the key (subset rule), so this adds
      // a partition-local sort, not an Exchange
      .withColumn("session_start",
        min(col(tsCol)).over(
          Window.partitionBy((keyCols :+ "__session_idx").map(col): _*)))
      .drop("__session_idx")

  /** Per-session aggregate: one row per (key..., session), with
    * `session_start`/`session_end` (first/last event ts) and the caller's
    * aggregates. Same single Exchange as [[assignSessions]] — the final
    * groupBy's clustering requirement is satisfied by the window's hash
    * partitioning on the key subset. Groups on the session ORDINAL and
    * folds session_start into the aggregate itself (min ts), skipping
    * assignSessions' second window pass entirely — one window sort, one
    * aggregate, zero extra sorts (measured 0.88 → 0.68 s on the q129
    * bench shape at sf0.1/32). */
  def sessionStats(df: DataFrame, keyCols: Seq[String], tsCol: String,
                   gapUs: Long, aggs: (String, Column)*): DataFrame = {
    val aggCols = (min(col(tsCol)).as("session_start") +:
      max(col(tsCol)).as("session_end") +:
      aggs.map { case (n, c) => c.as(n) })
    indexed(df, keyCols, tsCol, gapUs, Nil)
      .groupBy((keyCols :+ "__session_idx").map(col): _*)
      .agg(aggCols.head, aggCols.tail: _*)
      .drop("__session_idx")
      .select((keyCols :+ "session_start" :+ "session_end").map(col) ++
        aggs.map { case (n, _) => col(n) }: _*)
  }

  /** The HOT-KEY form of [[sessionStats]]: a two-level segmented
    * gap-merge that breaks the per-key sequential bound. Pass 1 windows
    * by (key…, ts-bucket) — a hot key's rows spread across its buckets,
    * so the sort that dominates the plain operator parallelizes — and
    * reduces each bucket to its PARTIAL sessions (≤ 2 per bucket when
    * bucketUs ≤ gapUs: two sessions need a ≥ gap hole between them).
    * Pass 2 runs the SAME gap rule over the partials (boundary when
    * start − previous end ≥ gap), merging sessions that span bucket
    * edges; its input is ≤ ~2·(span/bucketUs) rows per key, so the
    * sequential part is now O(buckets), not O(events). Result is
    * IDENTICAL to [[sessionStats]] for ANY bucketUs (partials are
    * disjoint, totally ordered per key, and gap-chaining composes) —
    * spec-pinned across widths; the stats are the mergeable set
    * (start/end/count/decimal sum), merged exactly (decimal partials,
    * one double cast at the end — same value as the plain operator).
    * Measured: 19.3 s → 2.27 s (8.5×, disjoint bands) on the 50%-hot
    * 10M-row stress fixture (NOTES_r11.md "Salted sessionization";
    * uniform keys run 2.05 s — the salted hot key costs ≈ the unskewed
    * workload). Fixed output schema because the merge needs each
    * aggregate's combiner; arbitrary `aggs` stay on [[sessionStats]]. */
  def sessionStatsSalted(df: DataFrame, keyCols: Seq[String], tsCol: String,
                         gapUs: Long, bucketUs: Long,
                         valueCol: String): DataFrame = {
    require(gapUs > 0, s"gapUs must be positive, got $gapUs")
    require(bucketUs > 0, s"bucketUs must be positive, got $bucketUs")
    val bucketed = df.withColumn("__b", expr(s"`$tsCol` div $bucketUs"))
    val bKeys = keyCols :+ "__b"
    val w1 = Window.partitionBy(bKeys.map(col): _*).orderBy(col(tsCol).asc)
    val prev1 = lag(col(tsCol), 1).over(w1)
    val new1 = when(prev1.isNull || (col(tsCol) - prev1 >= lit(gapUs)), 1L)
      .otherwise(0L)
    val partials = bucketed
      .withColumn("__i1", sum(new1).over(
        w1.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy((bKeys :+ "__i1").map(col): _*)
      .agg(min(col(tsCol)).as("__start"), max(col(tsCol)).as("__end"),
        count(lit(1)).as("__n"),
        sum(col(valueCol).cast("decimal(18,4)")).as("__sv"))
    val w2 = Window.partitionBy(keyCols.map(col): _*).orderBy(col("__start").asc)
    val prevEnd = lag(col("__end"), 1).over(w2)
    val new2 = when(prevEnd.isNull || (col("__start") - prevEnd >= lit(gapUs)), 1L)
      .otherwise(0L)
    partials
      .withColumn("__i2", sum(new2).over(
        w2.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy((keyCols :+ "__i2").map(col): _*)
      .agg(min(col("__start")).as("session_start"),
        max(col("__end")).as("session_end"),
        sum(col("__n")).as("n_events"),
        sum(col("__sv")).cast("double").as("sum_value"))
      .drop("__i2")
      .select((keyCols :+ "session_start" :+ "session_end" :+
        "n_events" :+ "sum_value").map(col): _*)
  }

  /** First-order Markov transition matrix of a per-key event sequence —
    * the behavioral model behind next-event prediction and anomaly
    * scoring ("this session's transitions are improbable"): each key's
    * events are ordered by (ts, tie) and every consecutive (prev → next)
    * type pair is counted; P(next | prev) = c / Σ_next c is ONE pinned
    * division per cell. Plan: one per-KEY lag window (per-key sequential
    * bound — the sessionization contract; sequences are bounded per key,
    * never corpus-length), then a map-side-combined (prev, next) count
    * aggregate whose cardinality is |types|², and a broadcast-joined
    * per-prev marginal. Output: (prev, next, c, p). First events (no
    * predecessor) are excluded by definition. */
  def markovTransitions(df: DataFrame, keyCols: Seq[String], tsCol: String,
                        typeCol: String, tieCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    val t = df
      .withColumn("__prev", lag(col(typeCol), 1).over(w))
      .filter(col("__prev").isNotNull)
      .groupBy(col("__prev").as("prev"), col(typeCol).as("next"))
      .agg(count(lit(1)).as("c"))
    val tot = t.groupBy(col("prev").as("__p2")).agg(sum(col("c")).as("__n"))
    t.join(broadcast(tot), col("prev") === col("__p2"))
      .select(col("prev"), col("next"), col("c"),
        (col("c").cast("double") / col("__n").cast("double")).as("p"))
  }
}
