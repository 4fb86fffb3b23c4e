package graft.streaming

import graft.functions.Sketches
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** Structured Streaming surface (reference §2.9): the reference's only
  * "streaming" capabilities are out-of-core chunked reduce/groupreduce,
  * incremental `append=true` ingest, and OnlineStats mergeable accumulators
  * (`docs/src/onlinestats.md:9-22`). Structured Streaming subsumes all
  * three: stateful aggregation IS the mergeable-accumulator pattern run
  * forever, file-source streams ARE incremental ingest, and watermarked
  * windows are the parity-plus on top.
  *
  * Scale notes: state lives in the state store keyed by group — partitioned
  * by the shuffle, checkpointed incrementally; watermark bounds state size
  * (late data beyond it is dropped), which is what makes event-time aggs
  * run indefinitely on an unbounded stream.
  */
object Streams {

  /** Incremental ingest (reference `loadndsparse(append=true)`): a file
    * stream over a directory — new parquet files are picked up per batch. */
  def parquetStream(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(dir)

  /** The event-time preamble of every windowed operator: `ts_us` (µs
    * since epoch) becomes the timestamp `tstamp`, which carries the
    * watermark. */
  private def eventTime(events: DataFrame, watermark: String): DataFrame =
    events.withColumn("tstamp", timestamp_micros(col("ts_us")))
      .withWatermark("tstamp", watermark)

  /** One row per (tumbling event-time window × `keys`): `aggs` over the
    * window's rows, led by `bucket_us`, the window start in µs, in place
    * of Spark's `window` struct. */
  private def windowAgg(events: DataFrame, watermark: String,
                        window_ : String, keys: Column*)(
      aggs: Column*): DataFrame = {
    val g = eventTime(events, watermark)
      .groupBy(window(col("tstamp"), window_) +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)
    g.select(unix_micros(col("window.start")).as("bucket_us") +:
      g.columns.tail.map(col): _*)
  }

  /** The ordered single-key walk behind every closed-window monitor
    * (stage 2 of [[windowedPsiLive]], whose CONTRACT it carries): the
    * closed-window rows of the whole stream meet in ONE group, are
    * visited in `bucket` order, and `step` folds each into the state
    * (None before the stream's first row), emitting at most one output
    * row; the state after the last row carries to the next micro-batch.
    * State never expires, so only metadata-sized rows may flow through
    * it. */
  private def walkClosed[R: Encoder, S: Encoder, O: Encoder](
      closed: Dataset[R], bucket: R => Long)(
      step: (Option[S], R) => (S, Option[O])): Dataset[O] = {
    import closed.sparkSession.implicits._
    closed.groupByKey(_ => 1)
      .flatMapGroupsWithState[S, O](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Int, rows: Iterator[R], state: GroupState[S]) =>
          var st = state.getOption
          val out = rows.toSeq.sortBy(bucket).flatMap { r =>
            val (next, o) = step(st, r)
            st = Some(next)
            o
          }
          st.foreach(state.update)
          out.iterator
      }
  }

  /** Watermarked tumbling-window aggregation of the events shape:
    * (ts_us long, event_type string, value double) → per-(window, type)
    * counts and sums — the streaming twin of SparkEntry q39. The sum
    * accumulates in decimal(18,4) (q39's dsum discipline): a double
    * accumulator's result depends on row arrival order, which for a
    * stream is nondeterministic by construction — decimal state makes
    * the emitted window value independent of batching and enables the
    * exact batch-parity gate (q121). */
  def windowedAgg(events: DataFrame, watermark: String = "10 minutes",
                  window_ : String = "1 hour"): DataFrame =
    windowAgg(events, watermark, window_, col("event_type"))(
      count(lit(1)).as("n"),
      sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))

  /** Watermarked SESSION-window aggregation — gap-based sessionization as
    * an always-on query, via Spark's native `session_window` (the batch
    * twin is [[graft.operators.Sessions]]; semantics match: a gap ≥
    * `gap` starts a new session). Input shape: (ts_us long, user_id long,
    * value double). Emits one row per closed session with its first/last
    * event time and decimal-exact value sum.
    *
    * Scale notes: session state is per (key, open-session) and MERGEABLE —
    * Spark's state store merges sessions across micro-batches when a new
    * event bridges two open windows — and the watermark closes sessions
    * (end + gap < watermark) so state stays bounded on an unbounded
    * stream. `session_end_us` is read off as max(event time), not
    * `session_window.end` (which is last + gap), so the emitted row equals
    * the batch sessionStats row exactly — that identity is the q130 gate. */
  def sessionAgg(events: DataFrame, watermark: String = "10 minutes",
                 gap: String = "12 hours"): DataFrame =
    eventTime(events, watermark)
      .groupBy(session_window(col("tstamp"), gap), col("user_id"))
      .agg(max(unix_micros(col("tstamp"))).as("session_end_us"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        col("session_end_us"), col("n_events"), col("sum_value"))

  /** Watermarked stream-stream INNER join — the streaming enrichment
    * idiom: each left event joins the right events of the same key whose
    * event time falls in [left − lookback, left]. Both sides carry
    * watermarks and the join condition carries the time bound, which is
    * what lets Spark DERIVE per-side state watermarks and evict buffered
    * rows — without the bound, both join states grow forever on an
    * unbounded stream. Inner matches emit as soon as both rows exist
    * (no watermark wait); the watermark only governs state cleanup and
    * late-row admission.
    *
    * Column contract: `key` exists on both sides (the right copy is
    * dropped from the output); all other column names must be disjoint
    * (rename upstream — q135 does). Time columns are µs-since-epoch
    * longs, the engine-wide convention. */
  def enrichJoin(left: DataFrame, right: DataFrame, key: String,
                 lTime: String, rTime: String,
                 watermark: String, lookback: String): DataFrame = {
    val l = left.withColumn("__lt", timestamp_micros(col(lTime)))
      .withWatermark("__lt", watermark)
    val r = right.withColumn("__rt", timestamp_micros(col(rTime)))
      .withWatermark("__rt", watermark)
    l.join(r,
        l(key) === r(key) &&
          col("__rt") >= col("__lt") - expr(s"INTERVAL $lookback") &&
          col("__rt") <= col("__lt"),
        "inner")
      .drop(r(key)).drop("__lt", "__rt")
  }

  /** Streaming CDC sink: every micro-batch of keyed updates merges into a
    * day-partitioned table via [[graft.sources.IO.upsertPartitions]] —
    * the always-on form of incremental maintenance (ingest feeds deltas,
    * only touched partition dirs rewrite, cost ∝ churn). foreachBatch
    * runs batches SEQUENTIALLY, so later batches win over earlier ones
    * per key — CDC ordering for free. Contract per batch: keys unique
    * within the batch (dedupe upstream — flatMapGroups/last-wins — as
    * with the underlying upsert); exactly-once across restarts comes
    * from pairing a checkpointLocation with the idempotence of
    * replace-by-key (a replayed delta rewrites the same rows). */
  def cdcSink(updates: DataFrame, dir: String, partCols: Seq[String],
              keyCols: Seq[String], sortCols: Seq[String] = Nil,
              filesPerPartition: Int = 1): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    updates.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          graft.sources.IO.upsertPartitions(batch.sparkSession, dir, batch,
            partCols, keyCols, sortCols, filesPerPartition)
      }

  /** Streaming incremental-view-maintenance sink: each micro-batch is
    * pre-aggregated to per-key partials (`aggExprs`, map-side combined —
    * the only thing that shuffles is one row per key per batch) and merged
    * into the persisted rollup via [[graft.sources.IO.upsertAggregate]] —
    * the always-on form of materialized-view maintenance. Exactness
    * contract (and the q157 gate): every aggregate must be mergeable and
    * order-independent — counts/longs/decimal sums/min/max — so that ANY
    * micro-batch slicing of the stream converges to the from-scratch
    * aggregate; replays after a restart re-merge, so pair a checkpoint
    * with idempotent upstream batching (e.g. file sources), as with
    * [[cdcSink]]. */
  def aggSink(updates: DataFrame, dir: String, partCols: Seq[String],
              keyCols: Seq[String],
              aggExprs: Seq[(String, org.apache.spark.sql.Column)],
              mergeFns: Seq[(String, (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column)],
              filesPerPartition: Int = 1): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    updates.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val partial = batch
            .groupBy((partCols ++ keyCols).map(col): _*)
            .agg(aggExprs.head._2.as(aggExprs.head._1),
              aggExprs.tail.map { case (n, c) => c.as(n) }: _*)
          graft.sources.IO.upsertAggregate(batch.sparkSession, dir, partial,
            partCols, keyCols, mergeFns, filesPerPartition)
        }
      }

  /** Streaming incremental exact dedup — [[graft.functions.Dedup.exactIncremental]]
    * as an always-on sink: each micro-batch dedups against the PERSISTED
    * digest index (within-batch min-id first, then the anti-join; the
    * index grows by the survivors), and survivors land in `outPath`
    * tagged with their 1-based batch number. Unlike [[streamingDedup]]
    * (state-store digests, TTL-bounded, lost with the checkpoint) the
    * index here is a plain parquet table: it survives restarts, is
    * shared with BATCH ingest of the same corpus (q146 and q148 gate the
    * two paths against the same oracle), and is queryable/compactable
    * like any table. Micro-batch sequencing provides the cross-batch
    * ordering; within a batch the min-id rule decides, as in batch. */
  def dedupSink(docs: DataFrame, idCol: String, textCol: String,
                indexPath: String, outPath: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          graft.functions.Dedup.exactIncremental(batch, idCol, textCol, indexPath)
            .withColumn("batch", lit(batchId + 1L))
            .write.mode("append").parquet(outPath)
        }
      }

  /** Streaming running aggregate per key — the OnlineStats `reduce`
    * pattern as an always-on query (complete/update mode). */
  def runningStats(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"),
        min(col("value")).as("min_value"), max(col("value")).as("max_value"))

  /** Streaming windowed quantile sketch: per-(window, event_type) KHist
    * over `value`, with the requested quantiles read off the sketch in the
    * same query. The KHist buffer is mergeable state (O(k) per group), so
    * this runs indefinitely: the state store holds one ≤k-centroid sketch
    * per open window×type, the watermark closes windows and frees state,
    * and append mode emits each window exactly once when it closes —
    * quantiles over an unbounded stream with bounded memory, which an
    * exact percentile (full sort per window) cannot do. */
  def windowedQuantiles(events: DataFrame, watermark: String = "10 minutes",
                        window_ : String = "1 hour", k: Int = 64,
                        qs: Seq[Double] = Seq(0.5, 0.9)): DataFrame = {
    val names = qs.map(q => f"p${math.round(q * 100)}%02d")
    require(names.distinct.length == names.length,
      s"quantiles $qs collide on output names $names (named by rounded " +
        "percent) — a colliding pair would silently drop one quantile")
    val base = windowAgg(events, watermark, window_, col("event_type"))(
      count(lit(1)).as("n"), Sketches.khistCol(k)(col("value")).as("sketch"))
    val withQs = qs.zip(names).foldLeft(base) { case (df, (q, name)) =>
      df.withColumn(name, Sketches.khistQuantileCol(q)(col("sketch")))
    }
    withQs.select(
      col("bucket_us") +: col("event_type") +: col("n") +: names.map(col): _*)
  }

  /** Streaming windowed heavy hitters — per event-time window, the
    * top-k keys by count from a mergeable SpaceSaving summary
    * ([[graft.functions.Sketches.SpaceSavingAgg]] — O(capacity) state
    * per open window, the windowedQuantiles/windowedPsi sketch-state
    * contract), so an unbounded key population (URLs, user agents,
    * domains) monitors under bounded memory. While per-window distinct
    * keys ≤ capacity the summary is EXACT (counts exact, err 0) and the
    * emitted top-k equals the exact groupBy ranking with the
    * (count desc, key asc) tie-break — q262 gates that regime under the
    * full SQL oracle (the q225/q257 estimator discipline); beyond
    * capacity the SpaceSaving overestimate invariant holds
    * (true ≤ count ≤ true + err) and `err` is emitted per row. Append
    * mode emits each window once when the watermark closes it. Output:
    * (bucket_us, n, rank, key, cnt, err), rank 1..k. */
  def windowedHeavyHitters(events: DataFrame,
                           watermark: String = "0 seconds",
                           window_ : String = "1 hour",
                           capacity: Int = 64, k: Int = 10): DataFrame = {
    require(k >= 1 && capacity >= k, s"need capacity >= k >= 1, got " +
      s"capacity=$capacity k=$k")
    windowAgg(events, watermark, window_)(count(lit(1)).as("n"),
        Sketches.spaceSavingCol(capacity)(col("key").cast("string"))
          .as("__hh"))
      .select(col("bucket_us"), col("n"),
        posexplode(slice(col("__hh"), 1, k)).as(Seq("__i", "__e")))
      .select(col("bucket_us"), col("n"),
        (col("__i") + 1).cast("long").as("rank"),
        col("__e.key").as("key"), col("__e.count").as("cnt"),
        col("__e.err").as("err"))
  }

  /** Streaming windowed PSI drift monitor — the
    * [[graft.operators.Analytics.psi]] batch operator as a live gauge:
    * per event-time window, bin `value` into the FIXED reference grid
    * (the mergeable [[graft.functions.Sketches.HistAgg]] array — O(bins)
    * state per open window), then score the window's distribution
    * against the broadcast reference counts with the exact PSI formula
    * (Laplace-smoothed shares, per-bin pinned double terms, exact
    * decimal term accumulation — addition of decimals is associative,
    * so the streaming merge order cannot change the result). The
    * reference side is a CONSTANT per bin (count snapshot taken when
    * the monitor starts — for a mid-stream reference swap without a
    * restart use [[windowedPsiLive]]), so
    * each emitted row is deterministic given the window's rows: unlike
    * the sketch-quantile monitor this gate is EXACT, and q232 runs it
    * under the full SQL oracle. Append mode emits each window once when
    * the watermark closes it; state is bins+1 longs per open window. */
  def windowedPsi(events: DataFrame, refCounts: Seq[Long],
                  lo: Double, hi: Double,
                  watermark: String = "0 seconds",
                  window_ : String = "1 hour"): DataFrame = {
    val bins = refCounts.length
    require(bins >= 1 && hi > lo, "need >= 1 reference bin and hi > lo")
    require(refCounts.forall(_ >= 0), "negative reference count")
    binnedDrift(events, Nil, lo, hi, bins, watermark, window_, "psi")(
      refShare(refCounts))(psiTerm)
  }

  /** The windowed binned-drift monitors' one body (the batch model is
    * `Analytics.binnedDivergenceBy`): per (window × `keys`) the window's
    * fixed-grid HistAgg counts, each bin's Laplace-smoothed window share
    * scored against `ref(i)`, the bin's reference share, through
    * `term(ref, window)`; every term is pinned to decimal(28,12) and the
    * terms are summed exactly. Output: (bucket_us, keys…, n, `stat`). */
  private def binnedDrift(events: DataFrame, keys: Seq[String],
      lo: Double, hi: Double, bins: Int, watermark: String,
      window_ : String, stat: String)(ref: Int => Column)(
      term: (Column, Column) => Column): DataFrame = {
    val terms = (0 until bins).map { i =>
      val pb = (element_at(col("counts"), i + 1) + 1).cast("double") /
        (col("n") + bins).cast("double")
      term(ref(i), pb).cast("decimal(28,12)")
    }
    // re-cast after every add: naive chaining grows decimal precision
    // by 1 per term, hits the 38 cap around 10 bins, and Spark then
    // SACRIFICES SCALE to fit (observed: psi rounded to 6 dp at 20
    // bins). Inputs are exact at scale 12 and |psi| bounded, so the
    // re-cast is lossless and the chain equals the oracle's SUM
    val total = terms.reduce((a, b) => (a + b).cast("decimal(28,12)"))
    windowAgg(events, watermark, window_, keys.map(col): _*)(
        count(lit(1)).as("n"),
        Sketches.histCol(lo, hi, bins)(col("value")).as("counts"))
      .select(col("bucket_us") +: keys.map(col) :+ col("n") :+
        total.cast("double").as(stat): _*)
  }

  /** Bin i's Laplace-smoothed share of a constant reference histogram,
    * a driver-side double literal. */
  private def refShare(refCounts: Seq[Long])(i: Int): Column =
    lit((refCounts(i) + 1).toDouble /
      (refCounts.sum + refCounts.length).toDouble)

  private def psiTerm(pa: Column, pb: Column): Column =
    (pb - pa) * log(pb / pa)

  /** Streaming windowed Jensen–Shannon drift — [[windowedPsi]]'s
    * BOUNDED symmetric twin (PSI is unbounded and spikes on
    * near-empty bins even smoothed; JSD ∈ [0, ln 2] thresholds
    * stably), the live gauge of the batch
    * [[graft.operators.Analytics.jsDivergence]]: identical mergeable
    * HistAgg state, identical Laplace smoothing, only the per-bin
    * term differs — ½(p_ref·ln(p_ref/m) + p_win·ln(p_win/m)) with
    * m = ½(p_ref + p_win), each a pinned double over the constant
    * reference share and the window's live share, summed through the
    * same re-cast decimal(28,12) chain (associative — merge order
    * cannot change the result). Append mode, one row per closed
    * window; state is bins+1 longs per open window. Output:
    * (bucket_us, n, jsd). */
  def windowedJsd(events: DataFrame, refCounts: Seq[Long],
                  lo: Double, hi: Double,
                  watermark: String = "0 seconds",
                  window_ : String = "1 hour"): DataFrame = {
    val bins = refCounts.length
    require(bins >= 1 && hi > lo, "need >= 1 reference bin and hi > lo")
    require(refCounts.forall(_ >= 0), "negative reference count")
    binnedDrift(events, Nil, lo, hi, bins, watermark, window_, "jsd")(
      refShare(refCounts)) { (pa, pb) =>
      val m = (pa + pb) / 2
      (pa * log(pa / m) + pb * log(pb / m)) * 0.5
    }
  }

  /** Per-SLICE streaming PSI — [[windowedPsi]] with the key column in
    * the window aggregate (the [[graft.operators.Analytics.psiBy]]
    * batch operator as a live gauge): one PSI row per
    * (event-time window × key), each slice scored against ITS OWN
    * broadcast reference histogram. A shift confined to one slice
    * (one language, one source) dilutes into noise in the pooled
    * monitor — the sliced form isolates it, live. The reference map is
    * a plan literal (slice → per-bin counts, all sharing the grid);
    * slices missing from it emit NULL psi (alert on null — an unknown
    * slice appearing mid-stream is itself drift). Same pinned
    * term/decimal-sum discipline as windowedPsi, so the gate is EXACT;
    * state is bins+1 longs per OPEN (window × slice) — bounded by the
    * slice cardinality, the windowedPsi state argument per slice. */
  def windowedPsiBy(events: DataFrame, keyCol: String,
                    refCounts: Map[String, Seq[Long]],
                    lo: Double, hi: Double,
                    watermark: String = "0 seconds",
                    window_ : String = "1 hour"): DataFrame = {
    require(refCounts.nonEmpty, "need at least one slice reference")
    val bins = refCounts.head._2.length
    require(bins >= 1 && hi > lo, "need >= 1 reference bin and hi > lo")
    require(refCounts.values.forall(_.length == bins),
      "all slice references must share the bin grid")
    require(refCounts.values.forall(_.forall(_ >= 0)),
      "negative reference count")
    val refKeys = refCounts.keys.toSeq.sorted // deterministic literal order
    val refMap = map(refKeys.flatMap { k =>
      Seq(lit(k), array(refCounts(k).map(lit(_)): _*)) }: _*)
    val nrMap = map(refKeys.flatMap { k =>
      Seq(lit(k), lit(refCounts(k).sum)) }: _*)
    binnedDrift(events, Seq(keyCol), lo, hi, bins, watermark, window_,
        "psi") { i =>
      (element_at(element_at(refMap, col(keyCol)), i + 1) + 1)
        .cast("double") /
        (element_at(nrMap, col(keyCol)) + bins).cast("double")
    }(psiTerm)
  }

  /** [[windowedPsi]] with a LIVE reference refresh — closes the "refresh
    * by restarting" caveat: the input stream carries ordinary data rows
    * (`ref` null) and rare CONTROL rows (`ref` = the new per-bin
    * reference counts; `value` ignored), and the monitor swaps its
    * reference mid-stream without a restart. Two chained stateful
    * stages (Spark 4 multi-stateful support, probed under test):
    *
    *  1. The DISTRIBUTED windowed aggregate — data-row count + the
    *     fixed-grid histogram (control rows masked to NaN, which
    *     [[graft.functions.Sketches.HistAgg]] skips) + the window's
    *     latest control payload via max_by(ts). All heavy lifting,
    *     identical to [[windowedPsi]]'s plan shape; watermark closes
    *     windows exactly once (append).
    *  2. A single-key flatMapGroupsWithState over the CLOSED-WINDOW
    *     rows (one metadata-sized row per window — the raw stream never
    *     passes through it), which walks windows in bucket order,
    *     scores each against the reference IN STATE, then applies the
    *     window's control — so a swap takes effect for windows strictly
    *     AFTER the window containing it (the containing window mixes
    *     pre/post-swap rows and is scored against the old reference).
    *
    * The per-term math mirrors [[windowedPsi]]'s pinned chain
    * (double term → scale-12 HALF_UP decimal → exact sum → double), so
    * a stream with no control rows emits windowedPsi's values
    * bit-for-bit (spec-pinned). Windows holding ONLY control rows apply
    * the swap but emit no score (n = 0 — PSI of an empty window is
    * noise). State: stage 1 = bins+1 longs per OPEN window; stage 2 =
    * one bins-long array, total. q232 (the fixed-reference monitor)
    * is unchanged.
    *
    * CONTRACT — stage 2 is a deliberate single-task serialization
    * point with NEVER-EXPIRING state: every closed window of the
    * stream's lifetime funnels through one groupByKey(_ => 1) group.
    * That is acceptable BECAUSE of what flows through it — one
    * (bucket, n, bins-long histogram) row per closed window (metadata,
    * not data; at a 1-hour window that is 24 tiny rows/day) and the
    * state is a single bins-long array regardless of uptime. It is NOT
    * a pattern to copy for row-scale streams — the sequential walk is
    * the price of a strictly-ordered reference swap, which a
    * distributed stage cannot provide. Two control rows sharing one
    * ts_us within a window tie-break DETERMINISTICALLY (max_by on a
    * (ts_us, payload) struct — lexicographic array order), so the
    * applied reference never depends on partition visit order. */
  def windowedPsiLive(events: DataFrame, initialRef: Seq[Long],
                      lo: Double, hi: Double,
                      watermark: String = "0 seconds",
                      window_ : String = "1 hour"): DataFrame = {
    val bins = initialRef.length
    require(bins >= 1 && hi > lo, "need >= 1 reference bin and hi > lo")
    require(initialRef.forall(_ >= 0), "negative reference count")
    import events.sparkSession.implicits._
    val isData = col("ref").isNull
    val closed = windowAgg(events, watermark, window_)(
        sum(when(isData, 1L).otherwise(0L)).as("n"),
        Sketches.histCol(lo, hi, bins)(
          when(isData, col("value")).otherwise(lit(Double.NaN))).as("counts"),
        // tie-break deterministically: two control rows sharing a ts_us
        // within one window order by payload (lexicographic array), so
        // the applied reference never depends on partition visit order
        max_by(col("ref"), when(!isData, struct(col("ts_us"), col("ref"))))
          .as("ctrl"))
    walkClosed[(Long, Long, Seq[Long], Option[Seq[Long]]), Seq[Long],
      (Long, Long, Double)](
      closed.as[(Long, Long, Seq[Long], Option[Seq[Long]])], _._1) {
      case (st, (b, n, counts, ctrl)) =>
        val ref = st.getOrElse(initialRef)
        val score = if (n > 0) Some {
          val nr = ref.sum
          // the windowedPsi term chain verbatim: double term,
          // scale-12 HALF_UP decimal, exact sum, one final double
          var acc = java.math.BigDecimal.ZERO
          var i = 0
          while (i < bins) {
            val pb = (counts(i) + 1).toDouble / (n + bins).toDouble
            val pa = (ref(i) + 1).toDouble / (nr + bins).toDouble
            val t = (pb - pa) * math.log(pb / pa)
            acc = acc.add(java.math.BigDecimal.valueOf(t)
              .setScale(12, java.math.RoundingMode.HALF_UP))
            i += 1
          }
          (b, n, acc.doubleValue)
        } else None
        ctrl.foreach { c =>
          require(c.length == bins && c.forall(_ >= 0),
            s"control row: need $bins non-negative counts, got $c")
        }
        (ctrl.getOrElse(ref), score)
    }.toDF("bucket_us", "n", "psi")
  }

  /** Streaming EWMA control chart over window means — the live
    * level-anomaly monitor (did THIS window's mean jump relative to the
    * exponentially-weighted history: the streaming complement of the
    * batch [[graft.operators.TimeSeries.cusumChangepoint]] locator and
    * the [[windowedPsi]] shape monitor, which both miss a plain level
    * spike):
    *   stage 1 — the distributed tumbling-window aggregate: n + the
    *   window mean as an exact decimal(18,2) sum over a pinned double
    *   division (all heavy lifting; watermark closes windows once);
    *   stage 2 — the [[windowedPsiLive]] single-key walk over CLOSED
    *   windows in bucket order, carrying (m, v) — EWMA mean and
    *   EWM-variance:
    *     z = (x − m)/√v   (scored BEFORE update; NULL for the first
    *                       window and while v = 0)
    *     d = x − m;  m ← m + α·d;  v ← (1−α)·(v + α·d²)
    *   with every double op in a FIXED order, so an ordered
    *   struct-fold over the same window means replays each z
    *   bit-for-bit (the oneWayF ordered-fold discipline, per prefix).
    *
    * Stage 2 inherits windowedPsiLive's CONTRACT verbatim: a deliberate
    * single-task serialization point with never-expiring state — one
    * (bucket, n, mean) row per closed window flows through it and the
    * state is two doubles, so it is metadata-sized by construction and
    * NOT a pattern for row-scale streams. Output per closed window:
    * (bucket_us, n, mean, z, is_anomaly = |z| > threshold; both NULL
    * until v > 0). */
  def windowedEwmaAnomaly(events: DataFrame, alpha: Double = 0.25,
                          threshold: Double = 3.0,
                          watermark: String = "0 seconds",
                          window_ : String = "1 day"): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0,1): $alpha")
    require(threshold > 0.0, s"threshold must be > 0: $threshold")
    import events.sparkSession.implicits._
    val closed = windowAgg(events, watermark, window_)(count(lit(1)).as("n"),
      (sum(col("value").cast("decimal(18,2)")).cast("double") /
        count(lit(1)).cast("double")).as("mean"))
    walkClosed[(Long, Long, Double), (Double, Double),
      (Long, Long, Double, Option[Double])](
      closed.as[(Long, Long, Double)], _._1) {
      case (None, (b, n, x)) => ((x, 0.0), Some((b, n, x, None)))
      case (Some((m, v)), (b, n, x)) =>
        val z = if (v > 0) Some((x - m) / math.sqrt(v)) else None
        val d = x - m
        ((m + alpha * d, (1.0 - alpha) * (v + alpha * d * d)),
          Some((b, n, x, z)))
    }.toDF("bucket_us", "n", "mean", "z")
      .withColumn("is_anomaly", when(col("z").isNotNull,
        abs(col("z")) > threshold))
  }

  /** Streaming ALWAYS-VALID sequential mean monitor — the live arm of
    * [[graft.operators.Analytics.msprtMeanTest]] (see its scaladoc for
    * the statistics: Robbins 1970 mixture martingale; Ville's
    * inequality makes the α hold under CONTINUOUS peeking, which is
    * exactly what a streaming monitor does — the fixed-threshold
    * alternative inflates its false-alarm rate with every window it
    * scores):
    *   stage 1 — the distributed tumbling-window aggregate: per-window
    *   count + value sum as exact decimal(28,12) (mergeable state, all
    *   heavy lifting; watermark closes windows once);
    *   stage 2 — the [[windowedPsiLive]] single-key walk over CLOSED
    *   windows in bucket order, carrying (N, S) — cumulative count and
    *   EXACT cumulative decimal sum; per window it emits the mSPRT
    *   log-e-value at prefix N via the batch operator's pinned double
    *   chain VERBATIM (a DuckDB replay of the same windows lands
    *   bit-identical, the q232 discipline).
    * Stage 2 inherits windowedPsiLive's contract: a deliberate
    * single-task serialization point over metadata-sized closed-window
    * rows (one (bucket, n, sum) row per window; state = one long + one
    * exact decimal carried as its PLAIN STRING — the tuple encoder's
    * default decimal(38,18) would cut the batch operator's
    * decimal(38,12) integer headroom by 10^6), NOT a row-scale
    * pattern. `crossed` is this window's
    * logΛ ≥ ln(1/α); the sequential decision is its running OR.
    * Output per closed window: (bucket_us, n_window, n_total,
    * mean_total, e_log, crossed). */
  def windowedMsprt(events: DataFrame, mu0: Double, sigma2: Double,
                    tau2: Double, alpha: Double = 0.05,
                    watermark: String = "0 seconds",
                    window_ : String = "1 day"): DataFrame = {
    require(sigma2 > 0, s"sigma2 must be > 0, got $sigma2")
    require(tau2 > 0, s"tau2 must be > 0, got $tau2")
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    import events.sparkSession.implicits._
    meanWalk(events, watermark, window_) { (b, n, nTot, mean) =>
      // the batch msprtMeanTest double chain, term for term
      val nd = nTot.toDouble
      val dev = mean - mu0
      val mix = sigma2 + nd * tau2
      val eLog = 0.5 * math.log(sigma2 / mix) +
        (nd * nd * tau2 * (dev * dev)) / (2.0 * sigma2 * mix)
      (b, n, nTot, mean, eLog, eLog >= math.log(1.0 / alpha))
    }.toDF("bucket_us", "n_window", "n_total", "mean_total", "e_log",
      "crossed")
  }

  /** Streaming ALWAYS-VALID CONFIDENCE SEQUENCE — the live error-bar
    * twin of [[graft.operators.Analytics.meanConfidenceSequence]] (see
    * its scaladoc for the statistics: the inverted Robbins-mixture
    * band whose simultaneous coverage P(∃n: μ ∉ CI_n) ≤ α survives the
    * continuous peeking a dashboard does by construction — the
    * ±1.96·se band it replaces does not):
    *   stage 1 — [[windowedMsprt]]'s distributed tumbling-window
    *   aggregate verbatim: per-window count + exact decimal(28,12)
    *   value sum (mergeable state; watermark closes windows once);
    *   stage 2 — the single-key walk over CLOSED windows in bucket
    *   order carrying (N, S) with the sum in PLAIN-STRING form (the
    *   [[windowedMsprt]] encoder-width rule); per window it emits the
    *   batch operator's pinned double chain — V = σ²/N, radius =
    *   √((V(V+τ²)/τ²)·(ln((V+τ²)/V) − 2·ln α)) — so a DuckDB replay
    *   of the same windows lands bit-identical (the q232 discipline).
    * Stage 2 inherits windowedPsiLive's contract: a deliberate
    * single-task serialization point over metadata-sized closed-window
    * rows, NOT a row-scale pattern. Output per closed window:
    * (bucket_us, n_window, n_total, mean_total, radius, ci_lo,
    * ci_hi). */
  def windowedMeanCs(events: DataFrame, sigma2: Double, tau2: Double,
                     alpha: Double = 0.05,
                     watermark: String = "0 seconds",
                     window_ : String = "1 day"): DataFrame = {
    require(sigma2 > 0, s"sigma2 must be > 0, got $sigma2")
    require(tau2 > 0, s"tau2 must be > 0, got $tau2")
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    import events.sparkSession.implicits._
    meanWalk(events, watermark, window_) { (b, n, nTot, mean) =>
      // the batch meanConfidenceSequence double chain, term for term
      val vt = sigma2 / nTot.toDouble
      val radius = math.sqrt((vt * (vt + tau2) / tau2) *
        (math.log((vt + tau2) / vt) - 2.0 * math.log(alpha)))
      (b, n, nTot, mean, radius, mean - radius, mean + radius)
    }.toDF("bucket_us", "n_window", "n_total", "mean_total", "radius",
      "ci_lo", "ci_hi")
  }

  /** The walk of [[windowedMsprt]] and [[windowedMeanCs]]: per closed
    * window its count and exact decimal(28,12) value sum, folded in
    * bucket order into the running (N, S), the sum carried as its plain
    * string (the tuple encoder's default decimal(38,18) would cut the
    * batch operators' decimal(38,12) integer headroom by 10^6; the
    * string round-trip is exact at any magnitude). `emit` gets
    * (bucket_us, n_window, N, S/N). */
  private def meanWalk[O: Encoder](events: DataFrame, watermark: String,
      window_ : String)(emit: (Long, Long, Long, Double) => O): Dataset[O] = {
    import events.sparkSession.implicits._
    val closed = windowAgg(events, watermark, window_)(count(lit(1)).as("n"),
      sum(col("value").cast("decimal(28,12)")).as("s"))
      .withColumn("s", col("s").cast("string"))
    walkClosed[(Long, Long, String), (Long, String), O](
      closed.as[(Long, Long, String)], _._1) {
      case (st, (b, n, s)) =>
        val (n0, s0) = st.getOrElse((0L, "0"))
        val nTot = n0 + n
        val sTot = new java.math.BigDecimal(s0).add(new java.math.BigDecimal(s))
        ((nTot, sTot.toPlainString),
          Some(emit(b, n, nTot, sTot.doubleValue / nTot.toDouble)))
    }
  }

  /** Streaming TWO-SAMPLE always-valid monitor — the live twin of
    * [[graft.operators.Analytics.msprtTwoSampleTest]] and the deployed
    * A/B shape ([[windowedMsprt]] monitors one stream against a fixed
    * (μ₀, σ²); a real experiment has two LIVE arms):
    *   stage 1 — the distributed tumbling-window aggregate: per-window
    *   PER-ARM counts + exact decimal(28,12) value sums (mergeable
    *   state, all heavy lifting; rows in neither arm are excluded);
    *   stage 2 — the [[windowedPsiLive]] single-key walk over CLOSED
    *   windows in bucket order carrying per-arm (N, S) — counts as
    *   longs, sums as exact decimals in their PLAIN-STRING form (the
    *   [[windowedMsprt]] encoder-width rule); per window it emits the
    *   batch operator's pinned double chain VERBATIM:
    *     V = σ²(1/n_A + 1/n_B),
    *     log Λ = ½·ln(V/(V + τ²)) + Δ²·τ² / (2·V·(V + τ²)),
    *   NULL until BOTH arms have an observation.
    * Stage 2 inherits windowedPsiLive's contract: a deliberate
    * single-task serialization point over metadata-sized
    * closed-window rows (one (bucket, n_a, s_a, n_b, s_b) row per
    * window), NOT a row-scale pattern. `crossed` is this window's
    * logΛ ≥ ln(1/α); the sequential decision is its running OR.
    * Output per closed window: (bucket_us, n_a_window, n_b_window,
    * n_a, n_b, mean_a, mean_b, e_log, crossed). */
  def windowedMsprtTwoSample(events: DataFrame, groupCol: String,
                             groupA: String, groupB: String,
                             sigma2: Double, tau2: Double,
                             alpha: Double = 0.05,
                             watermark: String = "0 seconds",
                             window_ : String = "1 day"): DataFrame = {
    require(sigma2 > 0, s"sigma2 must be > 0, got $sigma2")
    require(tau2 > 0, s"tau2 must be > 0, got $tau2")
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    import events.sparkSession.implicits._
    armWalk(events, groupCol, groupA, groupB, watermark, window_) {
      (b, na, nb, nA, nB, meanA, meanB) =>
        // the batch msprtTwoSampleTest double chain, term for term
        val eLog = for (ma <- meanA; mb <- meanB) yield {
          val vt = sigma2 * (1.0 / nA.toDouble + 1.0 / nB.toDouble)
          val delta = ma - mb
          0.5 * math.log(vt / (vt + tau2)) +
            (delta * delta * tau2) / (2.0 * vt * (vt + tau2))
        }
        (b, na, nb, nA, nB, meanA, meanB, eLog,
          eLog.map(_ >= math.log(1.0 / alpha)))
    }.toDF("bucket_us", "n_a_window", "n_b_window", "n_a", "n_b",
      "mean_a", "mean_b", "e_log", "crossed")
  }

  /** Streaming TWO-SAMPLE CONFIDENCE SEQUENCE — the anytime-valid
    * LIFT BAND for the live A/B dashboard, completing the streaming
    * pair the way [[graft.operators.Analytics.diffConfidenceSequence]]
    * completes the batch one: [[windowedMsprtTwoSample]] answers
    * "has the experiment decided"; this emits the error bar around
    * the running lift that stays simultaneously valid however often
    * the dashboard redraws it (Ville on the inverted mixture; see the
    * batch operator's scaladoc). Same machinery end to end — the
    * per-window PER-ARM mergeable aggregate, the single-key walk
    * carrying per-arm (N, S) with sums in PLAIN-STRING exact-decimal
    * form (the [[windowedMsprt]] encoder-width rule) — with the batch
    * radius chain per closed window: V = σ²(1/n_A + 1/n_B),
    * radius = √((V(V+τ²)/τ²)·(ln((V+τ²)/V) − 2·ln α)). NULL interval
    * until BOTH arms report. Stage 2 inherits windowedPsiLive's
    * contract: a deliberate single-task serialization point over
    * metadata-sized closed-window rows, NOT a row-scale pattern.
    * Output per closed window: (bucket_us, n_a_window, n_b_window,
    * n_a, n_b, mean_a, mean_b, diff, radius, ci_lo, ci_hi). */
  def windowedDiffCs(events: DataFrame, groupCol: String,
                     groupA: String, groupB: String,
                     sigma2: Double, tau2: Double,
                     alpha: Double = 0.05,
                     watermark: String = "0 seconds",
                     window_ : String = "1 day"): DataFrame = {
    require(sigma2 > 0, s"sigma2 must be > 0, got $sigma2")
    require(tau2 > 0, s"tau2 must be > 0, got $tau2")
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    import events.sparkSession.implicits._
    armWalk(events, groupCol, groupA, groupB, watermark, window_) {
      (b, na, nb, nA, nB, meanA, meanB) =>
        // the batch diffConfidenceSequence double chain, term for term
        val diff = for (ma <- meanA; mb <- meanB) yield ma - mb
        val radius = if (nA > 0 && nB > 0) Some {
          val vt = sigma2 * (1.0 / nA.toDouble + 1.0 / nB.toDouble)
          math.sqrt((vt * (vt + tau2) / tau2) *
            (math.log((vt + tau2) / vt) - 2.0 * math.log(alpha)))
        } else None
        (b, na, nb, nA, nB, meanA, meanB, diff, radius,
          for (d0 <- diff; r <- radius) yield d0 - r,
          for (d0 <- diff; r <- radius) yield d0 + r)
    }.toDF("bucket_us", "n_a_window", "n_b_window", "n_a", "n_b",
      "mean_a", "mean_b", "diff", "radius", "ci_lo", "ci_hi")
  }

  /** Stage 1 of the two-arm monitors: rows of either arm whose
    * `valueCol` is not NULL, and per closed window each arm's row count
    * (`n_a`, `n_b`) and sum of `v` (`s_a`, `s_b`; `zero` for an arm with
    * no row in the window). */
  private def armWindows(events: DataFrame, groupCol: String,
      groupA: String, groupB: String, valueCol: String, v: Column,
      zero: Column, watermark: String, window_ : String): DataFrame = {
    def arm(group: String, sfx: String) = {
      val in = col(groupCol) === group
      Seq(sum(when(in, 1L).otherwise(0L)).as(s"n_$sfx"),
        coalesce(sum(when(in, v).otherwise(zero)), zero).as(s"s_$sfx"))
    }
    windowAgg(events.filter(col(groupCol).isin(groupA, groupB) &&
        col(valueCol).isNotNull), watermark, window_)(
      arm(groupA, "a") ++ arm(groupB, "b"): _*)
  }

  /** The walk of [[windowedMsprtTwoSample]] and [[windowedDiffCs]]: each
    * arm's window counts and exact decimal(28,12) value sums folded in
    * bucket order into per-arm (N, S), the sums carried as plain strings
    * (the [[meanWalk]] encoder-width rule; NULL values excluded up front,
    * the batch operators' filter: a NULL must not count in n while sum()
    * skips it). `emit` gets (bucket_us, n_a_window, n_b_window, N_A, N_B,
    * mean_A, mean_B), a mean None while its arm has no row. */
  private def armWalk[O: Encoder](events: DataFrame, groupCol: String,
      groupA: String, groupB: String, watermark: String, window_ : String)(
      emit: (Long, Long, Long, Long, Long, Option[Double],
        Option[Double]) => O): Dataset[O] = {
    import events.sparkSession.implicits._
    val zero = lit(0).cast("decimal(28,12)")
    val closed = armWindows(events, groupCol, groupA, groupB, "value",
        col("value").cast("decimal(28,12)"), zero, watermark, window_)
      .select(col("bucket_us"), col("n_a"), col("s_a").cast("string"),
        col("n_b"), col("s_b").cast("string"))
    val mean = (n: Long, s: java.math.BigDecimal) =>
      if (n > 0) Some(s.doubleValue / n.toDouble) else None
    walkClosed[(Long, Long, String, Long, String), (Long, String, Long, String),
      O](closed.as[(Long, Long, String, Long, String)], _._1) {
      case (st, (b, na, sa, nb, sb)) =>
        val (nA0, sA0, nB0, sB0) = st.getOrElse((0L, "0", 0L, "0"))
        val (nA, nB) = (nA0 + na, nB0 + nb)
        val sA = new java.math.BigDecimal(sA0).add(new java.math.BigDecimal(sa))
        val sB = new java.math.BigDecimal(sB0).add(new java.math.BigDecimal(sb))
        ((nA, sA.toPlainString, nB, sB.toPlainString),
          Some(emit(b, na, nb, nA, nB, mean(nA, sA), mean(nB, sB))))
    }
  }

  /** Streaming TWO-PROPORTION always-valid monitor — the live
    * CONVERSION A/B twin of
    * [[graft.operators.Analytics.msprtTwoProportionTest]] (the single
    * most common deployed sequential dashboard:
    * [[windowedMsprtTwoSample]] watches two live MEANS; a
    * conversion/pass-rate experiment watches two live RATES):
    *   stage 1 — the distributed tumbling-window aggregate: per-window
    *   PER-ARM trial and success counts (mergeable state, all heavy
    *   lifting; rows in neither arm or with NULL success excluded);
    *   stage 2 — the single-key walk over CLOSED windows in bucket
    *   order carrying per-arm (n, x) — ALL LONGS, exact by
    *   construction (the [[windowedMsprt]] decimal-string
    *   encoder-width rule is moot for integer state); per window it
    *   emits the batch operator's pinned double chain VERBATIM
    *   (StrictMath.log — the engine's own libm, so the walk is
    *   bit-equal to the batch Column chain):
    *     p̄ = (x_A + x_B)/(n_A + n_B),
    *     V = p̄(1−p̄)·(1/n_A + 1/n_B),
    *     log Λ = ½·ln(V/(V + τ²)) + Δ²·τ² / (2·V·(V + τ²)),
    *   NULL until BOTH arms report AND p̄ ∈ (0,1) (V = 0 is
    *   undefined, not zero).
    * Stage 2 inherits windowedPsiLive's contract: a deliberate
    * single-task serialization point over metadata-sized
    * closed-window rows, NOT a row-scale pattern. `crossed` is this
    * window's logΛ ≥ ln(1/α); the sequential decision is its running
    * OR. Output per closed window: (bucket_us, n_a_window,
    * n_b_window, n_a, n_b, p_a, p_b, e_log, crossed). */
  def windowedMsprtTwoProportion(events: DataFrame, groupCol: String,
                                 successCol: String, groupA: String,
                                 groupB: String, tau2: Double,
                                 alpha: Double = 0.05,
                                 watermark: String = "0 seconds",
                                 window_ : String = "1 day"): DataFrame = {
    require(tau2 > 0, s"tau2 must be > 0, got $tau2")
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    import events.sparkSession.implicits._
    val closed = armWindows(events, groupCol, groupA, groupB, successCol,
      col(successCol).cast("int").cast("long"), lit(0L), watermark, window_)
    walkClosed[(Long, Long, Long, Long, Long), (Long, Long, Long, Long),
      (Long, Long, Long, Long, Long, Option[Double], Option[Double],
        Option[Double], Option[Boolean])](
      closed.as[(Long, Long, Long, Long, Long)], _._1) {
      case (st, (b, na, xa, nb, xb)) =>
        val (nA0, xA0, nB0, xB0) = st.getOrElse((0L, 0L, 0L, 0L))
        val (nA, xA, nB, xB) = (nA0 + na, xA0 + xa, nB0 + nb, xB0 + xb)
        val pA = if (nA > 0) Some(xA.toDouble / nA.toDouble) else None
        val pB = if (nB > 0) Some(xB.toDouble / nB.toDouble) else None
        val eLog = for (pa <- pA; pb <- pB;
                        pPool = (xA.toDouble + xB.toDouble) /
                          (nA.toDouble + nB.toDouble);
                        vt = pPool * (1.0 - pPool) *
                          (1.0 / nA.toDouble + 1.0 / nB.toDouble)
                        if vt > 0.0) yield {
          val delta = pa - pb
          0.5 * StrictMath.log(vt / (vt + tau2)) +
            (delta * delta * tau2) / (2.0 * vt * (vt + tau2))
        }
        // threshold via math.log: the batch operator bakes it as a
        // driver-side literal (lit(math.log(1/alpha))), not via the
        // engine's StrictMath-backed log expression
        ((nA, xA, nB, xB), Some((b, na, nb, nA, nB, pA, pB, eLog,
          eLog.map(_ >= math.log(1.0 / alpha)))))
    }.toDF("bucket_us", "n_a_window", "n_b_window", "n_a", "n_b",
      "p_a", "p_b", "e_log", "crossed")
  }

  /** Stateful streaming dedup: emit each key's row only the first time it
    * is seen (training-data pipelines run exactly this to dedup an
    * unbounded crawl). State = one boolean per key. In production, bound
    * state with EventTimeTimeout + a watermark (a ProcessingTimeTimeout
    * forces the micro-batch loop to keep running empty batches to fire
    * timers, which also breaks synchronous `processAllAvailable` drives). */
  final case class Keyed(key: String, payload: Long)
  def streamingDedup(ds: Dataset[Keyed]): Dataset[Keyed] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[Boolean, Keyed](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[Keyed], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            rows.take(1)
          }
      }
  }

  /** Per-key state of [[streamingTransitions]]: the last event seen, so
    * a transition spanning a micro-batch boundary is emitted when its
    * successor arrives. */
  final case class SeqEvent(key: Long, tsUs: Long, eventId: Long,
                            eventType: String)
  final case class LastEvent(eventType: String, tsUs: Long, eventId: Long)

  /** [[streamingTransitionsBounded]]'s own state class — MILLIS, the
    * unit `setTimeoutTimestamp` speaks. Deliberately distinct from
    * [[LastEvent]] (micros) so the two variants can never share a
    * checkpoint or helper with a silent 1000× TTL error: the field name
    * carries the unit, not a comment. */
  final case class LastEventMs(eventType: String, tsMs: Long, eventId: Long)

  /** Streaming Markov transitions — the live twin of
    * [[graft.operators.Sessions.markovTransitions]]: per key, each
    * micro-batch's events are sorted by (ts, id) (the in-batch iterator
    * order is NOT guaranteed — sorting inside the group restores the
    * batch operator's window order), every consecutive (prev → next)
    * pair is emitted INCLUDING the pair that spans the previous batch
    * (state = the key's last event), and state advances to the batch's
    * last event. Counting/normalizing is the consumer's aggregate over
    * the emitted pair stream (q249 drives two batches and gates the
    * final matrix against the batch oracle VERBATIM). State is O(1) per
    * key but NEVER expires — this unbounded form is for finite
    * backfills; the production form is [[streamingTransitionsBounded]]
    * (EventTimeTimeout TTL — unbounded keys, bounded state).
    * CONTRACT: correctness of cross-batch transitions assumes per-key
    * event-time ordering ACROSS batches (replay/backfill in order, the
    * cdcSink sequencing argument); late events inside one batch are
    * repaired by the sort, late events across batches by
    * [[streamingTransitionsLate]] (watermark-buffered). */
  def streamingTransitions(ds: Dataset[SeqEvent]): Dataset[(Long, String, String)] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[LastEvent, (Long, String, String)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[SeqEvent], state: GroupState[LastEvent]) =>
          val sorted = rows.toSeq.sortBy(e => (e.tsUs, e.eventId))
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String)]
          var prev = state.getOption
          sorted.foreach { e =>
            prev.foreach(p => out += ((key, p.eventType, e.eventType)))
            prev = Some(LastEvent(e.eventType, e.tsUs, e.eventId))
          }
          prev.foreach(state.update)
          out.iterator
      }
  }

  /** [[streamingTransitions]] input with a real event-time column, for
    * the watermark-governed variants below. */
  final case class SeqEventT(key: Long, eventTime: java.sql.Timestamp,
                             eventId: Long, eventType: String)

  /** TTL-bounded [[streamingTransitions]] — the form that runs
    * indefinitely at 100 TB (the [[streamingDedupBounded]] contract
    * applied to transition state): same per-key last-event semantics,
    * but a key whose last event is older than `ttlMs` behind the
    * watermark expires (EventTimeTimeout fires, state removed), so an
    * unbounded key population (users churning forever) holds bounded
    * state. A key that returns after expiry starts a fresh chain — its
    * first post-expiry event emits no transition, exactly as a brand-new
    * key. Cross-batch ORDER contract is [[streamingTransitions]]'s
    * (in-order replay across batches); for late events across batches
    * use [[streamingTransitionsLate]]. */
  def streamingTransitionsBounded(ds: Dataset[SeqEventT],
                                  watermarkDelay: String, ttlMs: Long)
      : Dataset[(Long, String, String)] = {
    import ds.sparkSession.implicits._
    ds.withWatermark("eventTime", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState[LastEventMs, (Long, String, String)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: Long, rows: Iterator[SeqEventT], state: GroupState[LastEventMs]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = rows.toSeq.sortBy(e => (e.eventTime.getTime, e.eventId))
            val out = scala.collection.mutable.ArrayBuffer
              .empty[(Long, String, String)]
            var prev = state.getOption
            sorted.foreach { e =>
              prev.foreach(p => out += ((key, p.eventType, e.eventType)))
              prev = Some(LastEventMs(e.eventType, e.eventTime.getTime, e.eventId))
            }
            prev.foreach { p =>
              state.update(p)
              // expiry slides with the last sighting; clamp above the
              // watermark (the streamingDedupBounded guard)
              state.setTimeoutTimestamp(math.max(p.tsMs + ttlMs,
                state.getCurrentWatermarkMs() + 1))
            }
            out.iterator
          }
      }
  }

  /** Buffered per-key state of [[streamingTransitionsLate]]: the last
    * FINALIZED event type (if any) plus the not-yet-finalized tail. */
  final case class PendingEvent(eventType: String, tsMs: Long, eventId: Long)
  final case class LateState(lastType: String, hasLast: Boolean,
                             pending: Seq[PendingEvent])

  /** Watermark-buffered streaming transitions — closes the one ordering
    * hole [[streamingTransitions]] documents: a LATE event arriving in a
    * later micro-batch than its successors. Events are held in per-key
    * state until the watermark passes them; only then are transitions
    * emitted, in full event-time order. Correctness argument: an event
    * is FINAL once eventTime ≤ watermark (anything arriving later has a
    * later eventTime, or is beyond the lateness bound), and every
    * finalized prefix is emitted exactly once — so the emitted pair SET
    * equals the batch operator's over the same (in-bound) events, no
    * matter how arrivals interleave. State per key = last finalized
    * type + the pending tail, bounded by rate × watermark delay; a key
    * idle past `ttlMs` after its pending tail drains expires (the
    * [[streamingTransitionsBounded]] TTL). The cost of the repair is
    * LATENCY: transitions emit one watermark advance behind arrivals —
    * the standard watermark trade. */
  def streamingTransitionsLate(ds: Dataset[SeqEventT], watermarkDelay: String,
                               ttlMs: Long): Dataset[(Long, String, String)] = {
    import ds.sparkSession.implicits._
    ds.withWatermark("eventTime", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState[LateState, (Long, String, String)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: Long, rows: Iterator[SeqEventT], state: GroupState[LateState]) =>
          val st = state.getOption.getOrElse(LateState(null, false, Nil))
          val incoming = rows.map(e =>
            PendingEvent(e.eventType, e.eventTime.getTime, e.eventId)).toSeq
          val all = (st.pending ++ incoming).sortBy(p => (p.tsMs, p.eventId))
          val w = state.getCurrentWatermarkMs()
          // finality: nothing with eventTime ≤ watermark can still arrive
          val (fin, pend) = all.partition(_.tsMs <= w)
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, String, String)]
          var prev = if (st.hasLast) Some(st.lastType) else None
          fin.foreach { e =>
            prev.foreach(p => out += ((key, p, e.eventType)))
            prev = Some(e.eventType)
          }
          // remove ONLY on true TTL expiry — a timeout that just drained
          // the pending tail (fin non-empty) must fall through to the
          // update branch, which re-arms fin.last.tsMs + ttlMs; dropping
          // lastType here would swallow the boundary transition of a key
          // returning within TTL after a no-data flush batch
          if (fin.isEmpty && pend.isEmpty && state.hasTimedOut) state.remove()
          else {
            state.update(LateState(prev.orNull, prev.isDefined, pend))
            // wake when the watermark passes the oldest pending event
            // (to flush it), else TTL-expire the idle last-type memory
            val nextFire =
              if (pend.nonEmpty) pend.map(_.tsMs).min + 1
              else fin.lastOption.map(_.tsMs).getOrElse(w) + ttlMs
            state.setTimeoutTimestamp(math.max(nextFire, w + 1))
          }
          out.iterator
      }
  }

  /** Bounded-state streaming dedup — the form that runs indefinitely at
    * 100 TB. State per key = last-seen event time; a key expires once the
    * watermark passes last-seen + `ttlMs` (EventTimeTimeout fires, state
    * removed), after which the key is re-admitted as new. The unbounded
    * variant above is only for finite backfills; an endless crawl MUST
    * expire state or the state store grows without bound. */
  final case class KeyedEvent(key: String, eventTime: java.sql.Timestamp, payload: Long)
  def streamingDedupBounded(ds: Dataset[KeyedEvent], watermarkDelay: String,
                            ttlMs: Long): Dataset[KeyedEvent] = {
    import ds.sparkSession.implicits._
    ds.withWatermark("eventTime", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState[Long, KeyedEvent](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: String, rows: Iterator[KeyedEvent], state: GroupState[Long]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val batch = rows.toSeq
            val lastSeen = batch.map(_.eventTime.getTime).max
            val isNew = !state.exists
            state.update(math.max(state.getOption.getOrElse(0L), lastSeen))
            // suppression window slides with the last sighting; clamp above
            // the watermark — a batch of late-but-in-watermark events could
            // otherwise compute an expiry ≤ watermark, which Spark rejects
            state.setTimeoutTimestamp(
              math.max(state.get + ttlMs, state.getCurrentWatermarkMs() + 1))
            if (isNew) batch.sortBy(e => (e.eventTime.getTime, e.payload)).take(1).iterator
            else Iterator.empty
          }
      }
  }

  /** Streaming corpus curation: the batch q63 pipeline (quality gate →
    * exact dedup) as an always-on crawl consumer. The quality gate is the
    * Gopher-style [[graft.functions.Text.gopherKeep]] conjunction — pure
    * narrow column exprs, so it filters each micro-batch with zero state —
    * and dedup is [[streamingDedupBounded]] keyed on the 256-bit digest of
    * the normalized text (exact content dedup; the TTL bounds state so an
    * endless crawl can run forever). Emits one row per first-seen distinct
    * quality document: (key = digest, eventTime, payload = doc id). */
  def curateStream(docs: DataFrame, idCol: String, textCol: String,
                   timeCol: String, watermarkDelay: String, ttlMs: Long,
                   minTokens: Long = 50, maxDupFrac: Double = 0.2): Dataset[KeyedEvent] = {
    import docs.sparkSession.implicits._
    import graft.functions.Text
    val keyed = docs
      .filter(Text.gopherKeep(col(textCol), minTokens = minTokens,
        maxDupFrac = maxDupFrac))
      .select(sha2(Text.normalize(col(textCol)), 256).as("key"),
        col(timeCol).as("eventTime"), col(idCol).as("payload"))
      .as[KeyedEvent]
    streamingDedupBounded(keyed, watermarkDelay, ttlMs)
  }

  /** Streaming SCD type-2 sink — [[graft.sources.IO.scdMerge]] as a
    * foreachBatch sink (the [[cdcSink]] pattern for VERSIONED dimension
    * maintenance): each micro-batch of dimension updates merges into the
    * persisted version table — changed keys close + reopen, unchanged
    * keys stay put (idempotent re-feeds), new keys insert, absent keys
    * stay open. The first batch bootstraps the table. `tsOfBatch` maps
    * the micro-batch id to the version timestamp (monotone by scdMerge's
    * guard — replays of an already-applied batch are the idempotent
    * case, consistent with checkpoint-replay semantics as long as the
    * feed is batch-deterministic, the [[aggSink]] contract). The write
    * is a localCheckpoint + full overwrite of the version table: a
    * dimension is small next to its fact tables; a partition-targeted
    * variant would compose [[graft.sources.IO.upsertPartitions]] on a
    * key-bucket column. */
  def scdSink(updates: DataFrame, dir: String, keyCols: Seq[String],
              trackedCols: Seq[String], tsOfBatch: Long => Long)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    updates.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val current =
            if (java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
              spark.read.parquet(dir)
            else batch.select((keyCols ++ trackedCols).map(col): _*)
              .withColumn("valid_from", lit(0L))
              .withColumn("valid_to", lit(null).cast("long")).limit(0)
          val merged = graft.sources.IO.scdMerge(current, batch, keyCols,
              trackedCols, tsOfBatch(id))
            .localCheckpoint(true) // reads the files the write replaces
          merged.write.mode("overwrite").parquet(dir)
        }
      }

  /** Streaming snapshot publisher — [[graft.sources.IO.saveSnapshot]] per
    * micro-batch: every non-empty batch commits a NEW isolated snapshot
    * version (immutable data dir + manifest + atomic pointer flip), so
    * downstream batch readers always see a complete, consistent version
    * while the stream keeps publishing — continuous publication without
    * ever exposing a partial write (the q207 isolation contract driven
    * from a stream). History retention is [[graft.sources.IO.vacuumSnapshots]]'s
    * job, on the consumer's schedule. Replay-idempotent with NO crash
    * window: the (queryId, batchId) rides the snapshot's `_latest`
    * pointer file itself (saveSnapshot's `sourceTag`), so the publish
    * and the replay marker commit in ONE atomic move — a crash at any
    * point leaves either "not published" (retry republishes) or
    * "published + recorded" (retry skips), never a recorded-but-
    * unpublished or published-but-unrecorded state. A per-queryId side
    * marker is ALSO kept (non-atomic, written after) so a table whose
    * pointer was since advanced by a DIFFERENT publisher still dedupes
    * this query's replays. The id is SCOPED by the streaming queryId
    * (stable across restarts of one checkpoint, fresh for a new
    * checkpoint — Spark's transactional-sink identity), so replays of
    * the same query dedupe while a brand-new query publishing into the
    * same table starts clean. */
  def snapshotSink(updates: DataFrame, dir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    updates.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty) {
          // foreachBatch runs on the stream-execution driver thread,
          // which carries the queryId as a local property
          val qid = Option(batch.sparkSession.sparkContext
            .getLocalProperty("sql.streaming.queryId")).getOrElse("default")
          val marker = java.nio.file.Paths.get(dir, "_manifests",
            s"_last_batch_$qid")
          // committed = pointer-carried tag (atomic with the publish)
          // OR the per-query side marker (survives another publisher
          // advancing the pointer afterwards)
          val tagCommitted = graft.sources.IO.latestSnapshotTag(dir)
            .flatMap { t => t.split(":", 2) match {
              case Array(q, b) if q == qid => b.toLongOption
              case _ => None
            } }.exists(_ >= id)
          val markerCommitted = java.nio.file.Files.exists(marker) &&
            java.nio.file.Files.readString(marker).trim.toLong >= id
          if (!tagCommitted && !markerCommitted) {
            graft.sources.IO.saveSnapshot(batch, dir, s"$qid:$id")
            java.nio.file.Files.createDirectories(marker.getParent)
            val tmp = marker.resolveSibling(s"_last_batch_$qid.tmp$id")
            java.nio.file.Files.writeString(tmp, id.toString)
            java.nio.file.Files.move(tmp, marker,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          }
          ()
        }
      }

  /** Drive a streaming query synchronously over whatever is currently in
    * the source (for tests and batch-parity checks). Note on modes: with a
    * watermarked aggregation, "append" only emits windows already closed
    * by the watermark — trailing open windows are withheld; use
    * "complete"/"update" for full-state parity. */
  def runOnce(df: DataFrame, queryName: String, mode: String = "append"): DataFrame = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(queryName).start()
    try q.processAllAvailable()
    finally q.stop() // always release the query + its memory-sink name
    df.sparkSession.table(queryName)
  }
}
