package graft

import graft.SparkEntry.Q
import org.apache.spark.sql.functions._

/** Query registry batch 11 (round 11): sessionization — the event-log
  * operator family — batch (single-shuffle window composition) and
  * streaming (native session_window with cross-batch session merge), both
  * under one gap-sessionization oracle.
  */
private[graft] object Batch11 {

  private val GapUs = 12L * 3600L * 1000000L // 12 h — fixture median inter-event gap is ~7.7 h, so sessions are multi-event but plural per user

  /** Gap-sessionization oracle: boundary lag → running-sum session index →
    * per-session stats. Shared verbatim by q129 (batch) and q130
    * (streaming) — the streaming result must be row-identical to batch. */
  private val SessionSql =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events),
      |b AS (SELECT user_id, ts_us, value,
      |    CASE WHEN LAG(ts_us) OVER w IS NULL
      |         OR ts_us - LAG(ts_us) OVER w >= 43200000000 THEN 1 ELSE 0 END AS is_new
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
      |s AS (SELECT user_id, ts_us, value,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM b)
      |SELECT user_id, MIN(ts_us) AS session_start_us, MAX(ts_us) AS session_end_us,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM s GROUP BY user_id, sid
      |ORDER BY user_id, session_start_us""".stripMargin

  /** CDC-merge oracle (q134 batch upsert, q140 streaming cdcSink): base
    * events, day-15 purchases replaced with doubled values, backfill rows
    * inserted — the final table both operators must converge to. */
  private val CdcSql =
    """WITH base AS (SELECT event_id, CAST(ts AS DATE) AS day, event_type, value
      |  FROM events),
      |upd AS (
      |  SELECT event_id, day, event_type, value * 2 AS value
      |  FROM base WHERE day = DATE '2024-01-15' AND event_type = 'purchase'
      |  UNION ALL
      |  SELECT event_id + 1000000000, day, 'backfill', value + 1
      |  FROM base WHERE day = DATE '2024-01-15' AND event_type = 'purchase'),
      |merged AS (
      |  SELECT * FROM base WHERE event_id NOT IN (SELECT event_id FROM upd)
      |  UNION ALL SELECT * FROM upd)
      |SELECT day, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin


  /** q133/q141 shared oracle: the full PQ pipeline re-derived in SQL
    * over the integer grid. */
  private val PqSql =
    """WITH w AS (SELECT vec_id AS id, generate_subscripts(embedding, 1) - 1 AS pos,
             |    FLOOR(CAST(unnest(embedding) AS DOUBLE) * 512) AS v FROM embeddings),
             |cb AS (SELECT gj.j, gi.i, gt.t,
             |    CAST(((gi.i*31 + gt.t*7 + gj.j*13) % 17 - 8) * 16 AS DOUBLE) AS cv
             |  FROM generate_series(0, 7) AS gj(j), generate_series(0, 15) AS gi(i),
             |       generate_series(0, 7) AS gt(t)),
             |d AS (SELECT w.id, cb.j, cb.i, SUM((w.v - cb.cv) * (w.v - cb.cv)) AS d2
             |  FROM w JOIN cb ON cb.j = w.pos // 8 AND cb.t = w.pos % 8
             |  GROUP BY 1, 2, 3),
             |codes AS (SELECT id, j, i AS code FROM (
             |    SELECT id, j, i, ROW_NUMBER() OVER (PARTITION BY id, j
             |      ORDER BY d2 ASC, i ASC) AS rn FROM d) WHERE rn = 1),
             |cn AS (SELECT codes.id, sqrt(SUM(cv * cv)) AS cnorm
             |  FROM codes JOIN cb ON cb.j = codes.j AND cb.i = codes.code GROUP BY 1),
             |qn AS (SELECT id, sqrt(SUM(v * v)) AS qnrm FROM w WHERE id < 5 GROUP BY 1),
             |dots AS (SELECT q.id AS query_id, c.id AS id, SUM(q.v * cb.cv) AS dotpq
             |  FROM w q
             |  JOIN codes c ON c.j = q.pos // 8 AND c.id <> q.id
             |  JOIN cb ON cb.j = c.j AND cb.i = c.code AND cb.t = q.pos % 8
             |  WHERE q.id < 5 GROUP BY 1, 2),
             |scored AS (SELECT dots.query_id, dots.id,
             |    CAST(dotpq AS DOUBLE) / (qn.qnrm * cn.cnorm) AS cos
             |  FROM dots JOIN qn ON qn.id = dots.query_id
             |  JOIN cn ON cn.id = dots.id),
             |ranked AS (SELECT query_id, id, cos,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
             |      ORDER BY cos DESC, id ASC) AS BIGINT) AS rank
             |  FROM scored)
             |SELECT query_id, rank, id, cos FROM ranked WHERE rank <= 10
             |ORDER BY query_id, rank""".stripMargin

  /** q133/q141 shared PQ fixtures: integer-grid vectors (floor(v·512))
    * and the closed-form integer codebook — every distance/dot exact. */
  private def pqW(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val wcol = transform(col("embedding"),
      x => floor(x.cast("double") * lit(512.0)).cast("double"))
    Tables.embeddings(s, dir).select(col("vec_id"), wcol.as("wvec"))
  }
  private def pqModel = graft.functions.Similarity.PqModel(subDim = 8,
    Array.tabulate(8, 16, 8)((j, i, t) =>
      (((i * 31 + t * 7 + j * 13) % 17) - 8).toDouble * 16.0))

  /** Per-dir IVF×PQ code-index fixture (q141) — IvfSq8Index's pattern. */
  private object IvfPqIndex {
    private val cache =
      scala.collection.concurrent.TrieMap.empty[String, (graft.functions.Similarity.IvfModel, String)]
    def forDir(s: org.apache.spark.sql.SparkSession, dir: String): (graft.functions.Similarity.IvfModel, String) =
      cache.getOrElseUpdate(dir, {
        val w = pqW(s, dir)
        val ivf = graft.functions.Similarity.trainIvf(w, "wvec", nlist = 4, maxIter = 3)
        val path = java.nio.file.Files.createTempDirectory("graft-ivfpq-")
          .toAbsolutePath.toString + "/codes"
        graft.functions.Similarity.writeIvfCorpusPq(w, "vec_id", "wvec", ivf, pqModel, path)
        (ivf, path)
      })
  }

  /** Per-dir range-layout copy of events (q131) — built once per JVM,
    * IvfSq8Index's caching pattern: the write is the one-time layout cost
    * the operator exists to amortize; the measured query is the read. */
  private object SortedEvents {
    private val cache = scala.collection.concurrent.TrieMap.empty[String, String]
    def forDir(s: org.apache.spark.sql.SparkSession, dir: String): String =
      cache.getOrElseUpdate(dir, {
        val path = java.nio.file.Files.createTempDirectory("graft-evsorted-")
          .toAbsolutePath.toString + "/events_sorted"
        graft.sources.IO.saveSorted(Tables.events(s, dir), path,
          numFiles = 8, sortCols = Seq("ts"))
        path
      })
  }

  /** Per-dir hive day-partitioned copy of events (q132). */
  private object HiveEvents {
    private val cache = scala.collection.concurrent.TrieMap.empty[String, String]
    def forDir(s: org.apache.spark.sql.SparkSession, dir: String): String =
      cache.getOrElseUpdate(dir, {
        val path = java.nio.file.Files.createTempDirectory("graft-evhive-")
          .toAbsolutePath.toString + "/events_by_day"
        graft.sources.IO.savePartitioned(
          Tables.events(s, dir).withColumn("day",
            to_date(timestamp_micros(expr("ts div 1000")))),
          path, partCols = Seq("day"), sortCols = Seq("ts"))
        path
      })
  }

  /** Per-dir z-ordered copy of events (q136). */
  private object ZEvents {
    private val cache = scala.collection.concurrent.TrieMap.empty[String, String]
    def forDir(s: org.apache.spark.sql.SparkSession, dir: String): String =
      cache.getOrElseUpdate(dir, {
        val path = java.nio.file.Files.createTempDirectory("graft-evz-")
          .toAbsolutePath.toString + "/events_z"
        graft.sources.IO.saveZOrdered(Tables.events(s, dir), path,
          numFiles = 8, zCols = ("user_id", "ts"))
        path
      })
  }

  val queries: Seq[Q] = Seq(

    // Batch gap-sessionization under the oracle: Sessions.sessionStats —
    // boundary lag + ROWS running-sum index + per-session aggregate, all
    // clustered by a subset of (user_id, session_idx) so EnsureRequirements
    // inserts exactly ONE hash Exchange (the 100 TB plan: shuffle once by
    // key, then partition-local sorts; a hot key spills through the
    // out-of-core sort, not OOM — see Sessions scaladoc). The sum rides
    // the decimal discipline so the emitted value is order-independent.
    Q("q129_sessionize",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("user_id"), expr("ts div 1000").as("ts_us"), col("value"))
        graft.operators.Sessions.sessionStats(ev, Seq("user_id"), "ts_us", GapUs,
            "n_events" -> count(lit(1)),
            "sum_value" -> sum(col("value").cast("decimal(18,4)")).cast("double"))
          .withColumnRenamed("session_start", "session_start_us")
          .withColumnRenamed("session_end", "session_end_us")
          .select("user_id", "session_start_us", "session_end_us", "n_events", "sum_value")
          .orderBy("user_id", "session_start_us")
      },
      Some(SessionSql)),

    // STREAMING sessionization under the same oracle verbatim — Spark's
    // native session_window, driven through a REAL two-micro-batch
    // MemoryStream split at the fixture's ts median: sessions that span
    // the split must MERGE in the state store across batches (the
    // mechanism that makes streaming sessions correct at all), and the
    // ts-ordered split makes the drive safe by construction — a session
    // still continuable in batch semantics is necessarily still OPEN in
    // stream semantics (its last event is within gap of the split, hence
    // of the watermark), so nothing a batch engine would merge can be
    // dropped as late. Batch 2 ends with one flush row 4 gaps past the
    // fixture max (sentinel user -1): it advances the watermark so every
    // real session closes and append mode emits it exactly once; the
    // flush row's own session never closes and is never emitted. Green
    // certifies cross-batch merge, watermark close, exactly-once emit,
    // and the batch-equal (count AND decimal-exact sum) per session.
    Q("q130_stream_sessions",
      (s, dir) => {
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        import s.implicits._
        import graft.streaming.Streams
        val rows = Tables.events(s, dir)
          .select(expr("ts div 1000").as("ts_us"), col("user_id"), col("value"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .sortBy(_._1)
        val split = rows(rows.length / 2)._1
        val (b1, b2) = rows.partition(_._1 <= split)
        require(b1.nonEmpty && b2.nonEmpty, "split must leave two non-empty batches")
        val flush = (rows.map(_._1).max + 4 * GapUs, -1L, 0.0)
        val ms = MemoryStream[(Long, Long, Double)](s)
        val out = Streams.sessionAgg(ms.toDS().toDF("ts_us", "user_id", "value"),
          watermark = "0 seconds", gap = "12 hours")
        val q = out.writeStream.outputMode("append").format("memory")
          .queryName("q130_sink").start()
        try {
          ms.addData(b1.toSeq); q.processAllAvailable()
          ms.addData(b2.toSeq :+ flush); q.processAllAvailable()
        } finally q.stop()
        s.table("q130_sink").orderBy("user_id", "session_start_us")
      },
      Some(SessionSql)),

    // Range-layout scan under the oracle: a 1-day window aggregate read
    // THROUGH an IO.saveSorted copy of events (range-partitioned by ts,
    // sorted within files). The result must equal the same aggregate over
    // the original table — green certifies the layout round-trip (no row
    // lost/duplicated/reordered into the wrong file by repartitionByRange
    // + partition-local sort) and the pushed range predicate's bounds.
    // The SCALE story — the sorted copy's scan reads ~1/30th of the rows
    // the unsorted one does — is pinned by scan-node metrics in
    // IOStreamsSpec and was measured at 10M rows (NOTES_r11.md
    // "Data-skipping layouts"); a hash gate can only see values.
    Q("q131_sorted_scan",
      (s, dir) => {
        // 2024-01-15 UTC, [00:00, 24:00) in ns — ~3.3% of the 30-day span
        val loNs = 1705276800000000L * 1000L
        val hiNs = 1705363200000000L * 1000L
        val sorted = s.read.parquet(SortedEvents.forDir(s, dir))
        sorted.filter(col("ts") >= lit(loNs) && col("ts") < lit(hiNs))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, COUNT(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
             |FROM events
             |WHERE epoch_us(ts) >= 1705276800000000 AND epoch_us(ts) < 1705363200000000
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // HIVE day-partition layout under the oracle — q131's sibling for the
    // strongest skip lever: IO.savePartitioned writes events as
    // day=YYYY-MM-DD directories (ts-sorted within), and the day
    // predicate prunes STATICALLY — non-matching directories are never
    // listed, no footer opened, no row decoded (the IOStreamsSpec
    // partition-pruning assert pins the mechanism; SCALE.md records it
    // measured at 100M rows). Same oracle as q131 VERBATIM: the
    // day dir + in-day ts range must reproduce the plain table's answer
    // exactly — green certifies the partition derivation (UTC day from
    // int64 ns), the dynamic-partition write, and the pruned read.
    Q("q132_hive_scan",
      (s, dir) => {
        val loNs = 1705276800000000L * 1000L
        val hiNs = 1705363200000000L * 1000L
        val hive = s.read.parquet(HiveEvents.forDir(s, dir))
        hive.filter(col("day") === lit(java.sql.Date.valueOf("2024-01-15")) &&
            col("ts") >= lit(loNs) && col("ts") < lit(hiNs))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, COUNT(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
             |FROM events
             |WHERE epoch_us(ts) >= 1705276800000000 AND epoch_us(ts) < 1705363200000000
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Product-quantization ANN under the oracle — the q119 pattern applied
    // to PQ: the gate pins the MACHINERY (subspace L2-argmin encode with
    // lowest-index ties, reconstructed norms, per-query ADC lookup tables,
    // m-lookup scoring, ranking) with every quantity EXACT by
    // construction, so the DuckDB oracle re-derives the entire pipeline:
    // vectors are floored to integer grids (floor(v·512) — ·2^9 is an
    // exponent shift, floor exact in both engines) and the codebook is a
    // closed-form integer lattice, making all distances/dots exact
    // integer sums (order-independent in ANY engine) and cos one shared
    // double rounding. Codebook QUALITY is deliberately out of the gate —
    // k-means luck on regenerating fixtures is what broke round 10 — and
    // lives in FunctionsSpec instead (trained recall floor, centroid-
    // fixpoint roundtrip, rerank == exact under full coverage).
    Q("q133_ann_pq",
      (s, dir) => {
        val wdf = pqW(s, dir)
        graft.functions.Similarity.pqTopK(wdf, wdf.filter(col("vec_id") < 5),
            "vec_id", "wvec", pqModel, k = 10)
          .orderBy("query_id", "rank")
      },
      Some(PqSql)),

    // Watermarked STREAM-STREAM join under the oracle — the last
    // Structured Streaming idiom without a gate (windowed agg q121,
    // quantile state q122, sessions q130, TTL dedup q107 all have one):
    // purchases and clicks arrive as two REAL MemoryStreams, and each
    // purchase joins the same user's clicks from the trailing 24 h of
    // EVENT time. The clicks stream is fed FIRST and the purchases only
    // in a second round of batches, so every match is found against
    // buffered right-side STATE — the mechanism that makes stream-stream
    // joins work at all. The oracle is the equivalent batch interval
    // join over the events table verbatim: green certifies the time-
    // bound condition (closed [t−24h, t] interval), key equality, state
    // buffering across batches, and exactly-once match emission.
    Q("q135_stream_join",
      (s, dir) => {
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        import s.implicits._
        import graft.streaming.Streams
        val ev = Tables.events(s, dir)
          .select(expr("ts div 1000").as("ts_us"), col("user_id"),
            col("event_type"), col("event_id"), col("value"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select("ts_us", "user_id", "event_id").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        val clicks = ev.filter(col("event_type") === "click")
          .select("ts_us", "user_id", "event_id", "value").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        val msL = MemoryStream[(Long, Long, Long)](s)
        val msR = MemoryStream[(Long, Long, Long, Double)](s)
        val out = Streams.enrichJoin(
          msL.toDS().toDF("ts_us", "user_id", "purchase_id"),
          msR.toDS().toDF("click_ts_us", "user_id", "click_id", "click_value"),
          key = "user_id", lTime = "ts_us", rTime = "click_ts_us",
          watermark = "0 seconds", lookback = "24 hours")
        val q = out.writeStream.outputMode("append").format("memory")
          .queryName("q135_sink").start()
        try {
          msR.addData(clicks.toSeq); q.processAllAvailable()
          msL.addData(purchases.toSeq); q.processAllAvailable()
        } finally q.stop()
        s.table("q135_sink")
          .select(col("purchase_id"), col("click_id"), col("user_id"),
            col("click_value"))
          .orderBy("purchase_id", "click_id")
      },
      Some("""SELECT l.event_id AS purchase_id, r.event_id AS click_id,
             |  l.user_id, r.value AS click_value
             |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
             |JOIN (SELECT * FROM events WHERE event_type = 'click') r
             |  ON l.user_id = r.user_id
             |  AND epoch_us(r.ts) BETWEEN epoch_us(l.ts) - 86400000000 AND epoch_us(l.ts)
             |ORDER BY purchase_id, click_id""".stripMargin)),

    // Partition-targeted CDC upsert under the oracle: events persisted as
    // a day-partitioned table, then one day's purchases are UPDATED
    // (value doubled) and a backfill batch INSERTED (new keys), through
    // IO.upsertPartitions — which reads and rewrites ONLY the touched
    // day directory (dynamic partition overwrite; the untouched-dirs
    // claim is spec-pinned by file mtimes in IOStreamsSpec). The final
    // per-day aggregate over the whole table must equal the oracle's
    // re-derivation of the merge (base minus replaced keys, plus
    // updates) — green certifies replace-by-key, insert, untouched-day
    // preservation, and the round-trip through the hive layout. Fresh
    // temp dir per run: the mutation is part of the operator under test.
    Q("q134_partition_upsert",
      (s, dir) => {
        import graft.sources.IO
        val path = java.nio.file.Files.createTempDirectory("graft-upsert-")
          .toAbsolutePath.toString + "/events_cdc"
        val ev = Tables.events(s, dir)
          .withColumn("day", to_date(timestamp_micros(expr("ts div 1000"))))
          .select("event_id", "day", "event_type", "value")
        IO.savePartitioned(ev, path, partCols = Seq("day"), sortCols = Seq("event_id"))
        val day15 = ev.filter(col("day") === lit(java.sql.Date.valueOf("2024-01-15")) &&
          col("event_type") === "purchase")
        val upd = day15.withColumn("value", col("value") * 2)
          .unionByName(day15.select(
            (col("event_id") + 1000000000L).as("event_id"), col("day"),
            lit("backfill").as("event_type"), (col("value") + 1).as("value")))
        IO.upsertPartitions(s, path, upd,
          partCols = Seq("day"), keyCols = Seq("event_id"), sortCols = Seq("event_id"))
        s.read.parquet(path).groupBy("day")
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
          .orderBy("day")
      },
      Some(CdcSql)),

    // Z-ORDER layout under the oracle — the third skip lever: events laid
    // out along a Morton curve over (user_id, ts), so row-group stats
    // stay tight on BOTH dimensions and a 2-D predicate (a user band ×
    // a 1-day window) prunes on each — where saveSorted's 1-D layout
    // serves only its leading column (the IOStreamsSpec metrics pin
    // the both-dims pruning). Oracle = the same aggregate over the
    // plain table: green certifies the curve layout is a pure relayout
    // (no row lost/duplicated through bucketing, bit interleave, range
    // partition, sort, and the dropped-column write).
    Q("q136_zorder_scan",
      (s, dir) => {
        val loNs = 1705276800000000L * 1000L
        val hiNs = 1705363200000000L * 1000L
        s.read.parquet(ZEvents.forDir(s, dir))
          .filter(col("user_id") >= 10 && col("user_id") <= 40 &&
            col("ts") >= lit(loNs) && col("ts") < lit(hiNs))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, COUNT(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
             |FROM events
             |WHERE user_id BETWEEN 10 AND 40
             |  AND epoch_us(ts) >= 1705276800000000 AND epoch_us(ts) < 1705363200000000
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Append-ingest + targeted compaction under the oracle: a partitioned
    // table takes two APPEND batches into one day (the file-accumulation
    // regime — streaming ingest and micro-batch backfills append files;
    // the dynamic-overwrite upsert does not), then IO.compactPartitions
    // rewrites ONLY the oversized day back to one file. The aggregate
    // after compaction must equal the SQL union re-derivation — green
    // certifies append-mode partitioned writes, oversized-partition
    // detection from the directory listing, and content-preserving
    // rewrite. The untouched-dir and file-count mechanics are spec-pinned
    // (IOStreamsSpec mtimes + counts).
    Q("q137_ingest_compact",
      (s, dir) => {
        import graft.sources.IO
        val path = java.nio.file.Files.createTempDirectory("graft-compact-")
          .toAbsolutePath.toString + "/events_ing"
        val ev = Tables.events(s, dir)
          .withColumn("day", to_date(timestamp_micros(expr("ts div 1000"))))
          .select("event_id", "day", "event_type", "value")
        IO.savePartitioned(ev, path, partCols = Seq("day"), sortCols = Seq("event_id"))
        val day15 = ev.filter(col("day") === lit(java.sql.Date.valueOf("2024-01-15")) &&
          col("event_type") === "purchase")
        val backfill = day15.select(
          (col("event_id") + 1000000000L).as("event_id"), col("day"),
          lit("backfill").as("event_type"), (col("value") + 1).as("value"))
        for (parity <- 0 to 1)
          backfill.filter(pmod(col("event_id"), lit(2)) === parity)
            .write.mode("append").partitionBy("day").parquet(path)
        IO.compactPartitions(s, path, "day", sortCols = Seq("event_id"))
        s.read.parquet(path).groupBy("day")
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
          .orderBy("day")
      },
      Some("""WITH base AS (SELECT event_id, CAST(ts AS DATE) AS day, event_type, value
             |  FROM events),
             |backfill AS (
             |  SELECT event_id + 1000000000 AS event_id, day, 'backfill', value + 1
             |  FROM base WHERE day = DATE '2024-01-15' AND event_type = 'purchase'),
             |merged AS (SELECT * FROM base UNION ALL SELECT * FROM backfill)
             |SELECT day, COUNT(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
             |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Importance-weighted sampling under the oracle: keep probability ∝ a
    // per-doc weight (length/2000, clamped) × base fraction 0.5 — the
    // "keep more of what scores higher" curation step, reproducible
    // because membership is the salted-md5 threshold everywhere in the
    // Sampling module and the per-row boundary is two IEEE ops + floor
    // (the exponential-key formulation was rejected: libm ln() rounding
    // must not decide a hash gate). Row-level gate: the kept doc ids and
    // their weights, verbatim.
    Q("q138_weighted_sample",
      (s, dir) => {
        import graft.functions.Sampling
        val w = length(col("text")).cast("double") / lit(2000.0)
        Sampling.weightedSampleByHash(Tables.documents(s, dir), "doc_id", w,
            fraction = 0.5, salt = "w1")
          .select(col("doc_id"),
            least(greatest(w, lit(0.0)), lit(1.0)).as("weight"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  LEAST(GREATEST(CAST(length(text) AS DOUBLE) / 2000.0, 0.0), 1.0) AS weight
             |FROM documents
             |WHERE CAST('0x' || substr(md5('w1' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
             |  < FLOOR(LEAST(GREATEST(CAST(length(text) AS DOUBLE) / 2000.0, 0.0), 1.0)
             |          * 0.5 * 4294967296.0)
             |ORDER BY doc_id""".stripMargin)),

    // The SALTED sessionization under the oracle — q129's semantics
    // through the two-level segmented gap-merge (partial sessions per
    // (key, 1 h bucket), then the same gap rule over the partials), which
    // is what breaks the hot key's sequential sort (measured ~10× on the
    // 50%-hot stress fixture). Gated by q129's SessionSql VERBATIM: the
    // salted plan must reproduce the plain operator's sessions
    // bit-for-bit, bucket width notwithstanding (width-invariance is
    // additionally spec-swept in CoreSpec).
    Q("q139_sessionize_salted",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("user_id"), expr("ts div 1000").as("ts_us"), col("value"))
        graft.operators.Sessions.sessionStatsSalted(ev, Seq("user_id"), "ts_us",
            GapUs, bucketUs = 3600L * 1000000L, valueCol = "value")
          .withColumnRenamed("session_start", "session_start_us")
          .withColumnRenamed("session_end", "session_end_us")
          .orderBy("user_id", "session_start_us")
      },
      Some(SessionSql)),

    // STREAMING CDC pipeline under the oracle — the ingest loop closed:
    // a MemoryStream of keyed deltas drives Streams.cdcSink (foreachBatch
    // → IO.upsertPartitions), bootstrap included (batch 1 creates the
    // table — the not-yet-existing-dir path). Batch 1 is the full events
    // feed; batch 2 re-sends day-15's purchase keys with doubled values
    // plus backfill inserts — the LATER batch must win per key
    // (foreachBatch runs micro-batches sequentially, which is the CDC
    // ordering guarantee). The final table must equal q134's batch
    // upsert result — CdcSql VERBATIM — so green certifies bootstrap,
    // sequential replace-by-key across micro-batches, insert, and
    // untouched-day preservation through the streaming path.
    Q("q140_stream_cdc",
      (s, dir) => {
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        import s.implicits._
        import graft.streaming.Streams
        val path = java.nio.file.Files.createTempDirectory("graft-cdcsink-")
          .toAbsolutePath.toString + "/events_cdc_stream"
        val ev = Tables.events(s, dir)
          .select(col("event_id"), expr("ts div 1000").as("ts_us"),
            col("event_type"), col("value"))
        val base = ev.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
        val d15 = base.filter { case (_, ts, tpe, _) =>
          ts >= 1705276800000000L && ts < 1705363200000000L && tpe == "purchase" }
        val delta = d15.map { case (id, ts, tpe, v) => (id, ts, tpe, v * 2) } ++
          d15.map { case (id, ts, _, v) => (id + 1000000000L, ts, "backfill", v + 1) }
        val ms = MemoryStream[(Long, Long, String, Double)](s)
        val upd = ms.toDS().toDF("event_id", "ts_us", "event_type", "value")
          .withColumn("day", to_date(timestamp_micros(col("ts_us")))).drop("ts_us")
        val q = Streams.cdcSink(upd, path, partCols = Seq("day"),
          keyCols = Seq("event_id"), sortCols = Seq("event_id")).start()
        try {
          ms.addData(base.toSeq); q.processAllAvailable()
          ms.addData(delta.toSeq); q.processAllAvailable()
        } finally q.stop()
        s.read.parquet(path).groupBy("day")
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
          .orderBy("day")
      },
      Some(CdcSql)),

    // IVF×PQ composed index under the oracle — q125's pattern at the
    // memory floor: the closed-form-codebook PQ corpus persisted as a
    // cell-partitioned CODE table (assignment on the raw vector), read
    // back isin-pruned and ADC-scored identically to pqTopK. nprobe =
    // nlist probes every cell, so the result must be bit-identical to
    // q133's and PqSql gates the whole persisted pipeline: encode at
    // write, hive cell layout, pruned read, lookup-table scoring.
    // Partial-probe recall + actual partition pruning are FunctionsSpec's.
    Q("q141_ann_ivf_pq",
      (s, dir) => {
        val wdf = pqW(s, dir)
        val (ivf, path) = IvfPqIndex.forDir(s, dir)
        graft.functions.Similarity.ivfTopKIndexedPq(path,
            wdf.filter(col("vec_id") < 5), "vec_id", "wvec",
            k = 10, nprobe = 4, ivf = ivf, pq = pqModel)
          .orderBy("query_id", "rank")
      },
      Some(PqSql))
  )
}
