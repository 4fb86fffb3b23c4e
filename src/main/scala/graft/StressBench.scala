package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 scale-knob stress bench: measures each skew/size knob in the
  * regime it exists FOR, on a derived fixture with a genuinely hot key —
  * the regime the sf0.1 fixtures never reach (there, the plain forms win
  * and every crossover claim was reasoning; see NOTES_r7). Run manually:
  *
  *   SPARK_GRAFT_CPUS=32 sbt -batch "runMain graft.StressBench"
  *
  * Fixture (built once into /tmp/graft_stress, ~600 MB):
  *  - docs_stress: sf0.1 documents × 10 replicas, every token re-hashed
  *    per replica (so replicas share no shingles — background shingle
  *    df ≈ 1 and the measured contrast is attributable to the planted
  *    key, not replication artifacts), plus a 3-token hot sentence
  *    appended to 10% of docs → one shingle with df = 5,000 whose
  *    uncapped pair volume is C(5000,2) ≈ 12.5M rows.
  *  - events_stress: sf0.1 events × 100 (10M rows, ts jittered per
  *    replica to stay distinct), with 50% of ALL rows folded onto
  *    user_id 0 — the single-window-task funnel asofJoinSalted exists
  *    for.
  *
  * Measurements (median + min/max over N timed iters after one excluded
  * warmup, noop-sink materialization — same discipline as Bench):
  *  - jaccard capped (maxDF=100) vs uncapped on the hot corpus
  *  - capped jaccard under SHUFFLE_HASH vs forced-broadcast build
  *  - asofJoin plain vs salted on the hot-user event stream
  *  - connectedComponents driver union-find vs distributed label
  *    propagation on a 4M-edge graph just inside the 5M fast-path gate
  *    (571k chain components of diameter 7 — the iterative path pays
  *    ~8 join+aggregate rounds; the gate's justification measured, not
  *    argued)
  *  - minhashLSH signature sharing vs recompute-per-join-side (the
  *    ReuseExchange gap): the k-hash pass dominates at corpus scale
  * Emits one JSON line (stdout + target/stress_latest.json) for
  * NOTES/SCALE tables. */
object StressBench {

  private val root = "/tmp/graft_stress"

  /** rangeJoin arm: points-in-interval over the hot-burst fixture at the
    * given bucket width. The output set is width-invariant (exact bounds
    * filter); only candidate volume and its placement move. */
  private def rangeArm(spark: SparkSession, width: Long): DataFrame =
    graft.operators.Joins.rangeJoin(
      spark.read.parquet(s"$root/range_points_stress"),
      spark.read.parquet(s"$root/range_intervals_stress"),
      ids = Seq.empty, pointCol = "p", loCol = "lo", hiCol = "hi",
      bucketWidth = width)

  /** Data-skipping arm: 1-day ts-window aggregate; the layout under `dir`
    * is the ONLY variable between paired arms. `wide = true` additionally
    * aggregates over the fat `props` JSON string — the realistic
    * document-table shape, where the un-skipped scan must DECODE the
    * payload column of every row its row-group stats failed to exclude
    * (column pruning protects the narrow arms from that cost, job fixed
    * overhead ~0.45 s floors both, and 32 warm cores decode 100M narrow
    * rows inside that floor — so only the wide shape can show the knob
    * in local wall-time; the narrow pair is kept as the recorded
    * overhead-bound negative result). */
  private def scanArm(spark: SparkSession, dir: String, wide: Boolean = false,
                      hive: Boolean = false): DataFrame = {
    val loNs = 1705276800000000L * 1000L // 2024-01-15 UTC
    val hiNs = 1705363200000000L * 1000L
    val read = spark.read.parquet(dir)
    val filtered =
      if (hive) read.filter(col("day") === lit(java.sql.Date.valueOf("2024-01-15")) &&
        col("ts") >= lit(loNs) && col("ts") < lit(hiNs))
      else read.filter(col("ts") >= lit(loNs) && col("ts") < lit(hiNs))
    val base = filtered.groupBy("event_type")
    if (wide)
      base.agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"),
        max(length(col("props"))).as("max_props"))
    else
      base.agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
  }

  /** Sessionization arm: per-key gap sessions over the 10M-row hot-user
    * fixture; `hot = false` re-keys the SAME rows uniformly so the pair
    * isolates the hot key's sequential cost. */
  private def sessionsArm(spark: SparkSession, hot: Boolean): DataFrame = {
    val ev = spark.read.parquet(s"$root/events_stress")
      .select(
        (if (hot) col("user_id") else pmod(col("event_id"), lit(100000L))).as("k"),
        expr("ts div 1000").as("ts_us"), col("value"))
    graft.operators.Sessions.sessionStats(ev, Seq("k"), "ts_us",
      12L * 3600L * 1000000L,
      "n" -> count(lit(1)),
      "sv" -> sum(col("value").cast("decimal(18,4)")).cast("double"))
  }

  private def sessionsSaltedArm(spark: SparkSession): DataFrame = {
    val ev = spark.read.parquet(s"$root/events_stress")
      .select(col("user_id").as("k"), expr("ts div 1000").as("ts_us"), col("value"))
    graft.operators.Sessions.sessionStatsSalted(ev, Seq("k"), "ts_us",
      gapUs = 12L * 3600L * 1000000L, bucketUs = 3600L * 1000000L,
      valueCol = "value")
  }

  /** The two groupjoin payload arms share this input split: per-user
    * purchase summaries grouped-join clicks by user_id, on the hot-user
    * event fixture. The left side is pre-aggregated to ONE row per user
    * on purpose: with raw purchases on the left, the hot user's ~1.6M
    * left rows would each receive a copy of its ~1.6M-element click
    * array — a petabyte-scale join fan-out that measures nothing about
    * the payload (the first groupjoin arm draft did exactly that and ran
    * effectively forever). One row per key means the array payload is
    * aggregated, shuffled, joined, and materialized exactly once — the
    * costs the struct-vs-SoA contrast is about. */
  private def groupjoinInput(spark: SparkSession): (DataFrame, DataFrame) = {
    val events = spark.read.parquet(s"$root/events_stress")
    val l = events.filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_purch"), sum(col("value")).as("purch_value"))
    val r = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("value").as("click_value"))
    (l, r)
  }

  private def groupjoinStructArm(spark: SparkSession): DataFrame = {
    val (l, r) = groupjoinInput(spark)
    graft.operators.Joins.groupjoin(graft.core.JTable(l), graft.core.JTable(r),
      Seq("user_id"), Seq("click_id", "click_value"))
  }

  /** SoA candidate: collect each value column into its own primitive
    * array (the two collect_lists run in ONE aggregate over the same row
    * stream, so indices correspond), join, then rebuild the exact
    * array<struct> schema with zip_with + a positional struct cast. */
  private def groupjoinSoaArm(spark: SparkSession): DataFrame = {
    val (l, r) = groupjoinInput(spark)
    val grouped = r.groupBy(col("user_id"))
      .agg(collect_list(col("click_id")).as("g1"),
        collect_list(col("click_value")).as("g2"))
      .hint("merge")
    l.join(grouped, Seq("user_id"), "inner")
      .withColumn("groups",
        zip_with(col("g1"), col("g2"), (a, b) => struct(a, b))
          .cast("array<struct<click_id:bigint,click_value:double>>"))
      .drop("g1", "g2")
  }

  /** cosinePairsLSH arm over the near-parallel-cluster fixture. The
    * cluster's C(2k,2) ≈ 2M true near-dup pairs dominate candidate volume
    * in every configuration (the background thins with `bits`; the
    * cluster never does). */
  private def cosineArm(spark: SparkSession, bits: Int, dedupFirst: Boolean,
                        maxBucket: Long = 0L): DataFrame =
    graft.functions.Similarity.cosinePairsLSH(
      spark.read.parquet(s"$root/vectors_stress"), "vec_id", "emb",
      threshold = 0.9, dim = 64, bits = bits, tables = 24,
      dedupFirst = dedupFirst, maxBucket = maxBucket)

  /** Equi-join arm over the output-skew fixture: salts=0 is the plain
    * join; the decimal-cast sum keeps the aggregate order-independent so
    * all arms produce byte-identical results. */
  private def equijoinArm(spark: SparkSession, salts: Int): DataFrame = {
    val jl = spark.read.parquet(s"$root/join_left_stress")
    val jr = spark.read.parquet(s"$root/join_right_stress")
    val joined =
      if (salts == 0) jl.join(jr, "k")
      else graft.operators.Joins.saltedEquiJoin(jl, jr, Seq("k"), Seq("k"),
        salts, saltBy = Seq("id"))
    joined.agg(count(lit(1)).as("n"),
      sum((col("v") * col("w")).cast("decimal(18,4)")).as("s"))
  }

  /** Bloom-join arm: fact ⋈ dim with the aggregate forcing both sides'
    * payloads through the join; the ONLY variable is whether the fact
    * scan probes the dim-key bloom before the exchange. */
  private def bloomJoinArm(spark: SparkSession, bloom: Boolean): DataFrame = {
    val fact = spark.read.parquet(s"$root/events_stress100")
    val dim = spark.read.parquet(s"$root/dim_stress")
    val joined =
      if (bloom) graft.operators.Joins.bloomPrefilteredJoin(
        fact, dim, "event_id", "dk")
      else fact.join(dim, col("event_id") === dim("dk"))
    joined.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).as("sv"),
        sum(length(col("dpayload"))).as("sp"))
  }

  /** The MV arm's query — the raw-vs-rewritten pair runs THIS verbatim;
    * only the registration state differs. */
  private def mvQuery(spark: SparkSession): DataFrame =
    spark.read.parquet(s"$root/events_stress100")
      .groupBy("event_type")
      .agg(sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"),
        count(lit(1)).as("cnt"))

  private def buildFixtures(spark: SparkSession, sfDir: String): Unit = {
    val fs = java.nio.file.Paths.get(root)
    val t0 = System.nanoTime()
    if (!java.nio.file.Files.exists(fs.resolve("docs_stress/_SUCCESS"))) {
      val docs = Tables.documents(spark, sfDir)
      val reps = explode(sequence(lit(0), lit(9))).as("rep")
      // per-replica token re-hash: xxhash64(token, rep) rendered to hex —
      // cheap, deterministic, and shingle-disjoint across replicas
      val stressDocs = docs.select(col("doc_id"), col("text"), reps)
        .select((col("doc_id") * 10 + col("rep")).as("doc_id"),
          concat_ws(" ", transform(split(col("text"), "\\s+"),
            t => hex(xxhash64(t, col("rep"))))).as("text"))
        .withColumn("text",
          when(pmod(col("doc_id"), lit(10)) === 0,
            concat(col("text"), lit(" hotaa hotbb hotcc"))).otherwise(col("text")))
      stressDocs.repartition(32).write.mode("overwrite").parquet(s"$root/docs_stress")
    }
    if (!java.nio.file.Files.exists(fs.resolve("events_stress/_SUCCESS"))) {
      // 100 replicas (10M rows), HALF of all rows folded onto user 0: the
      // hot window partition is ~2.8M rows (purchases+clicks of user 0) —
      // deep enough that one task's sort dominates the plain operator's
      // wall clock on 32 cores (at 25%/5M rows the salt overhead and the
      // skew cancelled: plain 1.44 vs salted 1.54 — measured, kept in
      // NOTES_r8 as the crossover's other side)
      val ev = Tables.events(spark, sfDir)
      val evReps = explode(sequence(lit(0), lit(99))).as("rep")
      val stressEv = ev.select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"), col("value"), evReps)
        .select((col("event_id") * 100 + col("rep")).as("event_id"),
          when(pmod(col("event_id") * 100 + col("rep"), lit(2)) === 0, lit(0L))
            .otherwise(col("user_id") + 1).as("user_id"),
          (col("ts") + col("rep")).as("ts"), col("event_type"), col("value"))
      stressEv.repartition(32).write.mode("overwrite").parquet(s"$root/events_stress")
    }
    if (!java.nio.file.Files.exists(fs.resolve("events_sorted_stress/_SUCCESS"))) {
      // range-layout copy of events_stress (same 10M rows, same 32-file
      // count): the scan_sorted/scan_unsorted contrast is then purely the
      // LAYOUT — events_stress's round-robin files each span the whole
      // 30-day range (row-group stats exclude nothing), the sorted copy's
      // files each own ~1/32nd of it. Side effect worth its own note:
      // the sorted copy is 81 MB vs the control's 164 MB — identical
      // rows, 2× compression, because clustering makes ts delta-encode
      // and the other columns' dictionaries local.
      graft.sources.IO.saveSorted(spark.read.parquet(s"$root/events_stress"),
        s"$root/events_sorted_stress", numFiles = 32, sortCols = Seq("ts"))
    }
    if (!java.nio.file.Files.exists(fs.resolve("events_stress100/_SUCCESS"))) {
      // 100M-row pair for the DECODE-BOUND regime: at 10M cache-warm rows
      // the whole scan hides under job fixed costs, so the layout contrast
      // measures nothing (recorded as the negative arm). At 100M the
      // unsorted scan must decode ~3.1M rows per task on 32 cores while
      // the sorted copy's window decodes ~3.3M rows TOTAL. Both copies
      // get the SAME 32-file count so the pair differs in layout alone
      // (a 256-file sorted variant was measured and rejected: 256 cold
      // footer opens cost as much as the control's whole 1.8 GB
      // sequential read on local NVMe, hiding the skip win behind
      // metadata latency — the small-files tax, itself a scale lesson).
      val ev100 = Tables.events(spark, sfDir)
      val reps1k = explode(sequence(lit(0), lit(999))).as("rep")
      val big = ev100.select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"), col("value"), col("props"), reps1k)
        .select((col("event_id") * 1000 + col("rep")).as("event_id"),
          col("user_id"), (col("ts") + col("rep")).as("ts"),
          col("event_type"), col("value"), col("props"))
      big.repartition(32).write.mode("overwrite").parquet(s"$root/events_stress100")
    }
    if (!java.nio.file.Files.exists(fs.resolve("dim_stress/_SUCCESS"))) {
      // bloom-join dim fixture: 5M keys (every 20th event id → 5% of the
      // 100M-row fact matches) with an INCOMPRESSIBLE 128-hex payload so
      // the on-disk relation sizes far above any broadcast threshold —
      // the unbroadcastable-but-selective dim regime the bloom exists for
      spark.read.parquet(s"$root/events_stress100")
        .select(col("event_id").as("dk"))
        .filter(pmod(col("dk"), lit(20L)) === 0)
        .withColumn("dpayload", concat_ws("",
          (0 until 8).map(i => hex(xxhash64(col("dk"), lit(i)))): _*))
        .repartition(32).write.mode("overwrite").parquet(s"$root/dim_stress")
    }
    if (!java.nio.file.Files.exists(fs.resolve("mv_rollup_stress/_SUCCESS"))) {
      // MV-rewrite rollup fixture: the (event_type, user_id) rollup of
      // the 100M-row fact, maintained by the upsertAggregate algebra —
      // ~100k rows standing in for the raw scan in the rewritten arm
      graft.sources.IO.upsertAggregate(spark, s"$root/mv_rollup_stress",
        spark.read.parquet(s"$root/events_stress100")
          .groupBy("event_type", "user_id")
          .agg(sum(col("value").cast("decimal(18,4)"))
              .cast("decimal(18,4)").as("sum_value"),
            count(lit(1)).as("cnt")),
        Seq("event_type"), Seq("user_id"),
        Seq("sum_value" -> ((a: Column, b: Column) => (a + b).cast("decimal(18,4)")),
          "cnt" -> ((a: Column, b: Column) => a + b)))
    }
    if (!java.nio.file.Files.exists(fs.resolve("events_sorted_stress100/_SUCCESS"))) {
      graft.sources.IO.saveSorted(spark.read.parquet(s"$root/events_stress100"),
        s"$root/events_sorted_stress100", numFiles = 32, sortCols = Seq("ts"))
    }
    if (!java.nio.file.Files.exists(fs.resolve("events_hive_stress100/_SUCCESS"))) {
      // the production layout: day=YYYY-MM-DD directories, ts-sorted
      // within — the day predicate prunes directories STATICALLY (no
      // listing, no footers, no decode outside the day)
      graft.sources.IO.savePartitioned(
        spark.read.parquet(s"$root/events_stress100").withColumn("day",
          to_date(timestamp_micros(expr("ts div 1000")))),
        s"$root/events_hive_stress100", partCols = Seq("day"), sortCols = Seq("ts"),
        filesPerPartition = 16)
    }
    if (!java.nio.file.Files.exists(fs.resolve("range_points_stress/_SUCCESS"))) {
      // rangeJoin hot-BUCKET fixture: 10M points over a 30-day ns span,
      // 20% folded into ONE 1-second window (a flash-sale burst); 200k
      // intervals of span 1e7 ns, 2000 of them inside the burst window.
      // With bucketWidth=1e9 the burst is ONE join key: ~2M point rows ×
      // ~2000 intervals ≈ 4G same-bucket candidates in ONE task (the
      // quadratic blowup the width knob exists for), vs ~80M spread over
      // ~100 keys at width 1e7. True matches (~40M rows) are
      // width-invariant, so the measured contrast is candidate volume +
      // placement. Hash-derived values keep the fixture deterministic.
      val hotLo = 1300000000000000L // burst start, mid-span
      val pts = spark.range(10000000L).select(col("id").as("point_id"),
        when(pmod(col("id"), lit(5)) === 0,
            lit(hotLo) + pmod(xxhash64(col("id")), lit(1000000000L)))
          .otherwise(pmod(xxhash64(col("id"), lit(1)), lit(2592000000000000L)))
          .as("p"))
      pts.repartition(32).write.mode("overwrite").parquet(s"$root/range_points_stress")
      val iv = spark.range(200000L).select(col("id").as("iv_id"),
        when(col("id") < 2000,
            lit(hotLo) + pmod(xxhash64(col("id"), lit(2)), lit(980000000L)))
          .otherwise(pmod(xxhash64(col("id"), lit(3)), lit(2592000000000000L)))
          .as("lo"))
        .withColumn("hi", col("lo") + 10000000L)
      iv.repartition(32).write.mode("overwrite").parquet(s"$root/range_intervals_stress")
    }
    if (!java.nio.file.Files.exists(fs.resolve("vectors_stress/_SUCCESS"))) {
      // cosinePairsLSH hot-RHP-bucket fixture: 50k background vectors with
      // hash-derived components (uniform signatures) + a 2k NEAR-PARALLEL
      // cluster (one base vector + per-vector noise ~1e-4 of the component
      // scale). The cluster agrees on EVERY hyperplane (θ ≈ 0 → p ≈ 1),
      // so all 2k land in the same bucket of every table regardless of
      // `bits`: C(2k,2) ≈ 2M candidate pairs per table × tables.
      val dim = 64
      def comp(seedCol: Column, pos: Int, scale: Double) =
        (pmod(xxhash64(seedCol, lit(pos)), lit(2000001L)) - 1000000L) / 1e6 * scale
      val bg = spark.range(50000L).select(col("id").as("vec_id"),
        array((0 until dim).map(p => comp(col("id"), p, 1.0)): _*).as("emb"))
      val hot = spark.range(50000L, 52000L).select(col("id").as("vec_id"),
        array((0 until dim).map(p =>
          comp(lit(-1L), p, 1.0) + comp(col("id"), p, 1e-4)): _*).as("emb"))
      bg.unionAll(hot).withColumn("emb", col("emb").cast("array<float>"))
        .repartition(32).write.mode("overwrite").parquet(s"$root/vectors_stress")
    }
    if (!java.nio.file.Files.exists(fs.resolve("docs_stress100/_SUCCESS"))) {
      // 100-replica corpus (~500k docs, ~100M shingle rows) for the
      // decontam crossover's far side: the corpus-side shingle shuffle
      // must dominate the bloom path's fixed costs (two bench passes +
      // the scan probe) for the prefilter to pay — at the 10-replica
      // size it measurably does not (decontam_sparse arms).
      val docs = Tables.documents(spark, sfDir)
      val reps = explode(sequence(lit(0), lit(99))).as("rep")
      val stressDocs = docs.select(col("doc_id"), col("text"), reps)
        .select((col("doc_id") * 100 + col("rep")).as("doc_id"),
          concat_ws(" ", transform(split(col("text"), "\\s+"),
            t => hex(xxhash64(t, pmod(col("rep"), lit(10)))))).as("text"))
        .withColumn("text",
          when(pmod(col("doc_id"), lit(10)) === 0,
            concat(col("text"), lit(" hotaa hotbb hotcc"))).otherwise(col("text")))
      stressDocs.repartition(32).write.mode("overwrite")
        .parquet(s"$root/docs_stress100")
    }
    if (!java.nio.file.Files.exists(fs.resolve("bench_sparse/_SUCCESS"))) {
      // sparse-overlap benchmark fixture (round 11, decontam bloom arms):
      // the REAL decontamination shape — an eval suite whose shingles are
      // almost entirely absent from the corpus. Tokens re-hashed with
      // salt 99 (disjoint from every docs_stress replica's salt 0..9);
      // the planted hot sentence is the only shared content, so the
      // corpus-side shingle hit rate is ~0 and the bloom prefilter's
      // thinning is attributable to the regime, not tuning.
      val docs = Tables.documents(spark, sfDir)
      val bench = docs.select(col("doc_id"),
        concat(concat_ws(" ", transform(split(col("text"), "\\s+"),
            t => hex(xxhash64(t, lit(99))))),
          lit(" hotaa hotbb hotcc")).as("text"))
      bench.repartition(8).write.mode("overwrite").parquet(s"$root/bench_sparse")
    }
    if (!java.nio.file.Files.exists(fs.resolve("docs_chunkhot/_SUCCESS"))) {
      // chunk-dedup hot-chunk fixture: 1M docs that all OPEN with the same
      // 16-token boilerplate header (aligned at chunk 0 — the realistic
      // shape: licenses, nav bars, scraper banners), followed by 8
      // hash-unique tokens. At chunkSize=16 the header is ONE chunk with
      // df = 1M while every tail chunk is unique — the output-skew shape
      // the firsts-selection strategy has to survive (2M chunk rows, half
      // of them landing on a single digest).
      val header = (0 until 16).map(i => f"boiler$i%02d").mkString(" ")
      val hot = spark.range(1000000L).select(col("id").as("doc_id"),
        concat(lit(header), lit(" "),
          concat_ws(" ", (0 until 8).map(p =>
            hex(xxhash64(col("id"), lit(p)))): _*)).as("text"))
      hot.repartition(32).write.mode("overwrite").parquet(s"$root/docs_chunkhot")
    }
    if (!java.nio.file.Files.exists(fs.resolve("docs_chunkhot2/_SUCCESS"))) {
      // the PATHOLOGICAL profile: 8M docs that are NOTHING BUT the same
      // 16-token boilerplate — one digest owning all 8M chunk rows. This
      // is the pure-skew bracket for the firsts-selection strategy: the
      // window formulation must sort all 8M occurrences in ONE task,
      // while the aggregate collapses them map-side and the join's hot
      // probe partition is AQE-splittable.
      val header = (0 until 16).map(i => f"boiler$i%02d").mkString(" ")
      spark.range(8000000L).select(col("id").as("doc_id"), lit(header).as("text"))
        .repartition(32).write.mode("overwrite").parquet(s"$root/docs_chunkhot2")
    }
    if (!java.nio.file.Files.exists(fs.resolve("join_left_stress/_SUCCESS"))) {
      // saltedEquiJoin OUTPUT-skew fixture (round 11, session 4): the
      // general-join analog of the round-8 maxDF finding. Left: 2M rows,
      // HALF on key 0; right: 5M uniform keys (one row each — too big to
      // broadcast at ~80 MB, so the join must shuffle) plus 256 rows on
      // key 0. Plain SMJ puts key 0's partition in ONE task computing
      // 1M × 256 = 256M pairs from ~24 MB of input — far under AQE's
      // 256 MB skew threshold, so the split never fires: input-byte skew
      // detection is blind to multiplicative output, exactly as with the
      // hot shingle. Salting splits the pair work `salts` ways at the
      // price of replicating the 5M-row right side per salt.
      val jl = spark.range(2000000L).select(col("id"),
        when(pmod(col("id"), lit(2)) === 0, lit(0L))
          .otherwise(pmod(xxhash64(col("id")), lit(5000000L)) + 1).as("k"),
        (pmod(xxhash64(col("id"), lit(1)), lit(1000L)) / 10.0).as("v"))
      jl.repartition(32).write.mode("overwrite").parquet(s"$root/join_left_stress")
      val jr = spark.range(5000256L).select(
        when(col("id") < 256, lit(0L)).otherwise(col("id") - 255).as("k"),
        (pmod(xxhash64(col("id"), lit(2)), lit(1000L)) / 10.0).as("w"))
      jr.repartition(32).write.mode("overwrite").parquet(s"$root/join_right_stress")
    }
    if (!java.nio.file.Files.exists(fs.resolve("edges_stress/_SUCCESS"))) {
      // 4M edges just inside the 5M driver-union-find gate: 8-node chain
      // blocks (7 edges each, diameter 7), so the distributed path pays
      // the full O(diameter) round count while the driver path is one
      // collect + one linear pass — the regime the gate exists for
      val edges = spark.range(4000000L)
        .select(((col("id") / 7).cast("long") * 8 + pmod(col("id"), lit(7))).as("i"))
        .select(col("i"), (col("i") + 1).as("j"))
      edges.repartition(32).write.mode("overwrite").parquet(s"$root/edges_stress")
    }
    if (!java.nio.file.Files.exists(fs.resolve("bm25_idx_b16/tf/_SUCCESS"))) {
      // BM25 persisted-index pair (round 12, cold arms): the SAME 500k-doc
      // corpus indexed at buckets=16 vs buckets=256 — the tb= directory
      // count is the ONLY variable. Per query the pruned read touches the
      // ≤|terms| directories its terms hash into: at b=16 each directory
      // owns ~1/16 of the ~22M-row tf table (coarse pruning, big
      // sequential reads), at b=256 ~1/256 (fine pruning, but 16× more
      // directories/footers at build and maintenance). The cold arms put
      // numbers on that trade.
      val docs = spark.read.parquet(s"$root/docs_stress100")
      graft.functions.Retrieval.writeBm25Index(docs, "doc_id", "text",
        s"$root/bm25_idx_b16", buckets = 16)
      graft.functions.Retrieval.writeBm25Index(docs, "doc_id", "text",
        s"$root/bm25_idx_b256", buckets = 256)
    }
    if (!java.nio.file.Files.exists(fs.resolve("bm25_queries/_SUCCESS"))) {
      // 32 realistic queries: the first 4 tokens of every 15625th doc —
      // multi-term, guaranteed nonzero df, deterministic
      spark.read.parquet(s"$root/docs_stress100")
        .filter(pmod(col("doc_id"), lit(15625L)) === 7)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(graft.functions.Text.tokens(col("text")), 1, 4))
            .as("qtext"))
        .repartition(1).write.mode("overwrite").parquet(s"$root/bm25_queries")
    }
    if (!java.nio.file.Files.exists(fs.resolve("vectors_big_stress/_SUCCESS"))) {
      // 1M×64-dim float corpus (~260 MB) for the cell= index cold arms —
      // big enough that directory pruning, not job fixed cost, sets the
      // cold read bill; hash-derived, deterministic
      val dim = 64
      def vcomp(seedCol: Column, pos: Int) =
        (pmod(xxhash64(seedCol, lit(pos)), lit(2000001L)) - 1000000L) / 1e6
      spark.range(1000000L).select(col("id").as("vec_id"),
          array((0 until dim).map(p => vcomp(col("id"), p)): _*)
            .cast("array<float>").as("emb"))
        .repartition(32).write.mode("overwrite")
        .parquet(s"$root/vectors_big_stress")
      spark.range(2000000L, 2000064L).select(col("id").as("vec_id"),
          array((0 until dim).map(p => vcomp(col("id"), p)): _*)
            .cast("array<float>").as("emb"))
        .repartition(1).write.mode("overwrite")
        .parquet(s"$root/ann_queries_stress")
    }
    if (!java.nio.file.Files.exists(fs.resolve("ivf_idx_n16/_SUCCESS"))) {
      // IVF cell= index pair at nlist=16 vs nlist=256 over the SAME 1M
      // vectors. The arms probe nprobe = nlist/16 on both (1 vs 16), so
      // each query touches the SAME ~1/16 expected fraction of the corpus
      // — the contrast isolates directory GRANULARITY at constant data
      // fraction: n16 reads 1 big directory per query-cell, n256 reads 16
      // small ones (more footers, tighter candidate sets). Models are
      // persisted next to the index (the saveIvf production shape) and
      // loaded per arm iteration — honest query-session cost.
      val vb = spark.read.parquet(s"$root/vectors_big_stress")
      for (nlist <- Seq(16, 256)) {
        val m = graft.functions.Similarity.trainIvf(vb, "emb", nlist,
          sampleFraction = 0.05)
        graft.functions.Similarity.saveIvf(m, s"$root/ivf_model_n$nlist", spark)
        graft.functions.Similarity.writeIvfCorpus(vb, "vec_id", "emb", m,
          s"$root/ivf_idx_n$nlist")
      }
    }
    System.err.println(f"[stress] fixtures ready in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = Diagnostics.sfDir
    val iters = math.max(sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "5").toInt, 1)
    // SPARK_GRAFT_CONF="k=v;k=v" — extra session confs for one-off A/B
    // diagnosis runs (e.g. disabling AQE's skew split to attribute a
    // win); the recorded suite numbers always run WITHOUT it
    val extraConf = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); (k, v) }
    extraConf.foreach { case (k, v) => System.err.println(s"[stress] extra conf: $k=$v") }
    // deliberately NO autoBroadcastJoinThreshold override: broadcast
    // HINTS are honored regardless of the threshold (and the 8 GB cap
    // is hardcoded in BroadcastExchangeExec), while raising it would
    // silently change the UN-hinted joins inside the operators (e.g.
    // the maxDF cap's anti-join side) across every arm — the plans
    // must be the production-default plans the comparison is about
    val spark = Diagnostics.localSession(Diagnostics.cpus, extraConf: _*)
    buildFixtures(spark, sfDir)

    val docs = spark.read.parquet(s"$root/docs_stress")
    val events = spark.read.parquet(s"$root/events_stress")
    val l = events.filter(col("event_type") === "purchase")
    val r = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"),
        col("event_id").as("click_id"), col("value").as("click_value"))

    import graft.functions.Dedup
    import graft.operators.Joins
    def jaccard(maxDF: Long, strategy: String): DataFrame =
      Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.8,
        maxDF = maxDF, hashShingles = true, joinStrategy = strategy)
    def bm25Arm(buckets: Int): DataFrame =
      graft.functions.Retrieval.bm25TopKIndexed(s"$root/bm25_idx_b$buckets",
        spark.read.parquet(s"$root/bm25_queries"), "query_id", "qtext",
        k = 10, buckets = buckets)
    def ivfArm(nlist: Int): DataFrame = {
      val m = graft.functions.Similarity.loadIvf(spark, s"$root/ivf_model_n$nlist")
      graft.functions.Similarity.ivfTopKIndexed(s"$root/ivf_idx_n$nlist",
        spark.read.parquet(s"$root/ann_queries_stress"), "vec_id", "emb",
        k = 10, nprobe = nlist / 16, model = m, excludeSelf = false)
    }
    // Kendall τ-b A/B (round 13): the self-join form costs |pairs|²
    // cells; the Knight form is O(|pairs| log) sweeps + a B·|Y| grid.
    // Same deterministic range-built fixture both sides (generation is
    // identical overhead in each arm). The hicard arm (10M rows, 5M
    // distinct x → ~1e14 self-join cells) has NO self-join twin — that
    // infeasibility is the point; only the Knight plan can run it.
    // Poisson-bootstrap uniform-derivation A/B (round 14): the operator's
    // ONE-md5 + B mixU32 fan-out vs the superseded B-md5s-per-row chain,
    // reconstructed here verbatim as the baseline. Same 10M-row fixture,
    // same 2B map-combined aggregate shape — the pair isolates the
    // per-row hashing cost alone (at B=16: 1 digest + 16 integer mixes
    // vs 16 digests of a widening concat string).
    def bootstrapFixture: DataFrame =
      spark.read.parquet(s"$root/events_stress")
        .select(col("event_id").cast("string").as("rid"), col("value").as("v"))
    def bootstrapMd5PerRep(df: DataFrame, b: Int): DataFrame = {
      val aggs = (0 until b).flatMap { j =>
        val u = graft.functions.Sampling.hashU32(
            concat(col("rid"), lit(s":$j")), "bs")
          .cast("double") / lit(4294967296.0)
        val w = graft.functions.ML.poisson1Cdf.zipWithIndex
          .foldLeft(Option.empty[Column]) { case (acc, (t, k)) =>
            Some(acc.fold(when(u < t, k))(_.when(u < t, k)))
          }.get.otherwise(graft.functions.ML.poisson1Cdf.length).cast("long")
        Seq(sum(w).as(s"__n$j"),
          sum(w.cast("decimal(19,0)") *
            col("v").cast("decimal(18,4)")).as(s"__s$j"))
      }
      df.agg(aggs.head, aggs.tail: _*)
    }
    def kendallFixture(rows: Long, dx: Long, yv: Long): DataFrame =
      spark.range(rows).select(
        (col("id") % dx).cast("double").as("x"),
        (((col("id") % dx) % 31) * 3 + col("id") % yv).cast("double").as("y"))
    def kendallArm(exact: Boolean, rows: Long, dx: Long, yv: Long): DataFrame = {
      val f = kendallFixture(rows, dx, yv)
      if (exact) graft.operators.Analytics.kendallTauExact(f, "x", "y")
      else graft.operators.Analytics.kendallTau(f, "x", "y")
    }

    val cases: Seq[(String, () => DataFrame)] = Seq(
      "bootstrap_mix" -> (() => graft.functions.ML.bootstrapMeans(
        bootstrapFixture, "rid", "v", b = 16, salt = "bs")),
      "bootstrap_md5perrep" -> (() => bootstrapMd5PerRep(bootstrapFixture, 16)),
      "kendall_selfjoin" -> (() => kendallArm(exact = false, 1000000L, 10000L, 2L)),
      "kendall_knight" -> (() => kendallArm(exact = true, 1000000L, 10000L, 2L)),
      "kendall_knight_hicard" -> (() => kendallArm(exact = true, 10000000L, 5000000L, 3L)),
      // round 14: 50M rows, ALL x distinct — the raw-continuous regime
      // the operator exists for. Exercises the distributed dense rank
      // (the r13 single-task row_number ceiling) and the auto-scaled
      // bucket count (50M/250k → 200 sweep buckets) in one arm.
      "kendall_knight_50m" -> (() => kendallArm(exact = true, 50000000L, 50000000L, 3L)),
      // round 15: BOTH axes all-distinct — the natural two-raw-doubles
      // regime (50M distinct x × 50M distinct y). The r14 form owed a
      // B·|Y| ≈ 10¹⁰-row zero-filled grid here; the non-empty-cells
      // sweep pays O(|cells|·log B) + a ≤4.2M-row closing spine instead,
      // so this arm must land in the same order of magnitude as the
      // x-only arm above.
      "kendall_knight_50m_xy" -> (() => kendallArm(exact = true, 50000000L, 50000000L, 50000000L)),
      // round 14: exact p50/p90/p99 over 50M ALL-DISTINCT doubles — the
      // prefixBefore family (quantilesCont/ksTest/gini/aucRoc/
      // trimmedMean) at the cardinality where the old single-task
      // distinct-value window serialized 50M rows through one task
      "pctl_distinct_50m" -> (() => graft.operators.Aggregations.quantilesCont(
        spark.range(50000000L).select(
          ((col("id") * 2654435761L) % 50000000L).cast("double").as("v")),
        "v", Seq(0.5, 0.9, 0.99))),
      // round 15: the HOT-SLICE regime of the By-family — one group owns
      // 90% of 50M all-distinct values (the per-language profile where
      // one language is most of the corpus). A per-key window would
      // serialize the hot group's ~45M distinct values through ONE
      // task; the keyed prefix (prefixBefore — range exchange on
      // (group, value) compound) splits it across slices, so this arm
      // must land near the un-keyed pctl_distinct_50m above.
      "pctl_by_hotslice_50m" -> (() => graft.operators.Aggregations.quantilesContBy(
        spark.range(50000000L).select(
          when(col("id") % 10 < 9, lit("hot"))
            .otherwise(concat(lit("g"), (col("id") % 100).cast("string"))).as("g"),
          ((col("id") * 2654435761L) % 50000000L).cast("double").as("v")),
        Seq("g"), "v", Seq(0.5, 0.9, 0.99))),
      // round 15: exact W1 over 50M rows with ~50M DISTINCT pooled
      // values split into two interleaved 25M-row groups — the
      // worst-case for the distinct-value spine (|distinct| ≈ |rows|)
      // AND for the next-value equi-join (a 50M-row self-join on
      // index+1). Must land in pctl_distinct_50m's ballpark plus the
      // join: the dense index rides the SAME prefix pass, so the only
      // added exchange is the idx-keyed join.
      "wasserstein_50m" -> (() => graft.operators.Analytics.wasserstein1(
        spark.range(50000000L).select(
          when(col("id") % 2 === 0, lit("ref")).otherwise(lit("cur")).as("g"),
          ((col("id") * 2654435761L) % 50000000L).cast("double").as("v")),
        "g", "v", "ref", "cur", share = false)),
      // the share knob's crossover, measured: share=true checkpoints
      // the ~50M-row cum frame (spills at this heap) but is the ONLY
      // sane plan when the corpus scan is the expensive side (distinct
      // ≪ rows, the 100 TB design point); share=false rescans the
      // cheap synthetic source twice and wins in THIS all-distinct
      // local regime. Both measured; operator default is share=true.
      "wasserstein_50m_shared" -> (() => graft.operators.Analytics.wasserstein1(
        spark.range(50000000L).select(
          when(col("id") % 2 === 0, lit("ref")).otherwise(lit("cur")).as("g"),
          ((col("id") * 2654435761L) % 50000000L).cast("double").as("v")),
        "g", "v", "ref", "cur")),
      // round 16 session 2: exact energy distance over the
      // wasserstein_50m fixture — 50M rows, ~50M distinct pooled
      // values in two interleaved groups. FOUR weights (both counts,
      // both value masses) ride one distributed prefix; values reach
      // 5e7, past the old long-quanta bound (~9.2e6), so this arm
      // also pins the decimal(38,0) quanta path that replaced the
      // silent long overflow. No next-value join (unlike W1), so this
      // must land at-or-below wasserstein_50m.
      "energy_50m" -> (() => graft.operators.Analytics.energyDistance(
        spark.range(50000000L).select(
          when(col("id") % 2 === 0, lit("ref")).otherwise(lit("cur")).as("g"),
          ((col("id") * 2654435761L) % 50000000L).cast("double").as("v")),
        "g", "v", "ref", "cur")),
      // round 17: k-sample AD over the wasserstein fixture's regime -
      // 50M rows in THREE interleaved groups, ~50M distinct pooled
      // values. Exercises the k-weight distributed prefix (the widest
      // weight set of any prefix consumer) PLUS the operator's novel
      // second pass: the (N-1)-row harmonic spine prefix for the exact
      // 4-moment standardization (a range exchange over 50M synthetic
      // rows - the only operator whose variance CONSTANT costs a
      // linear pass; this arm prices it).
      "adk_50m" -> (() => graft.operators.Analytics.adKSample(
        spark.range(50000000L).select(
          when(col("id") % 3 === 0, lit("g0"))
            .when(col("id") % 3 === 1, lit("g1"))
            .otherwise(lit("g2")).as("g"),
          (((col("id") * 2654435761L) % 50000000L) +
            when(col("id") % 3 === 1, 1000000L).otherwise(0L))
            .cast("double").as("v")),
        "g", "v", Seq("g0", "g1", "g2"))),
      // round 15 session 4: Pettitt changepoint over 50M rows with
      // ~50M distinct VALUES and 50M distinct TIMES — both of the
      // operator's prefixes (value axis, time axis) at the unbounded-
      // cardinality design point simultaneously, plus the rows-sized
      // join between them. A deterministic level shift at the 60% mark
      // (+5e7 on the hashed value) gives the argmax real signal. Must
      // land in the same ballpark as two pctl_distinct_50m passes.
      "pettitt_50m" -> (() => graft.operators.Analytics.pettittTest(
        spark.range(50000000L).select(col("id").as("t"),
          (((col("id") * 2654435761L) % 50000000L) +
            when(col("id") >= 30000000L, 50000000L).otherwise(0L))
            .cast("double").as("v")),
        "t", "v")),
      // round 16 (VERDICT r15 Next #6): the KEYED CHAINED prefix at the
      // hot-slice design point — pettittTestBy with one group owning
      // 90% of 50M rows, ~45M distinct values AND times inside that
      // group (pctl_by_hotslice's regime one level up: value-axis
      // keyed prefix → rows-sized join → time-axis keyed prefix; a
      // per-key window would serialize the hot group through ONE task
      // in BOTH passes). Level shift at the 60% mark only in the hot
      // group, so the per-group argmax has real signal.
      "pettitt_by_hotslice_50m" -> (() => graft.operators.Analytics.pettittTestBy(
        spark.range(50000000L).select(
          when(col("id") % 10 < 9, lit("hot"))
            .otherwise(concat(lit("g"), (col("id") % 100).cast("string"))).as("g"),
          col("id").as("t"),
          (((col("id") * 2654435761L) % 50000000L) +
            when(col("id") >= 30000000L && col("id") % 10 < 9, 50000000L)
              .otherwise(0L)).cast("double").as("v")),
        Seq("g"), "t", "v")),
      // round 17 (VERDICT r16 Next #3): the NEWEST prefix family at the
      // hot-slice design point — wilcoxonSignedRankBy with one group
      // owning 90% of 50M pairs and ~22M distinct |d| magnitudes inside
      // it. The distinct-|d| ranking rides the KEYED prefix (range
      // exchange on (group, |d|) compound), so the hot group splits
      // across slices; a per-key window would serialize its distinct
      // magnitudes through ONE task — the pctl_by_hotslice/
      // pettitt_by_hotslice pattern, one family over. d = x − 2.5e7 is
      // centered (both signs carry mass — W⁺ is a real fraction of the
      // rank mass, not degenerate) and the occasional exact-0 d
      // exercises the zeros-dropped rule at scale.
      "signedrank_by_hotslice_50m" -> (() =>
        graft.operators.Analytics.wilcoxonSignedRankBy(
          spark.range(50000000L).select(
            when(col("id") % 10 < 9, lit("hot"))
              .otherwise(concat(lit("g"), (col("id") % 100).cast("string"))).as("g"),
            ((col("id") * 2654435761L) % 50000000L).cast("double").as("x"),
            lit(25000000.0).as("y")),
          Seq("g"), "x", "y")),
      // round 18: the WIDEST exchange any prefix consumer carries —
      // bootstrapQuantileCI over 50M rows / ~50M distinct values with
      // 24 replicate weight columns (25 including the original count;
      // adk's k=3 one order of magnitude over). Prices three things at
      // the design point: the per-row one-md5 + 24-integer-mix hash
      // fanout in the scan projection, the |distinct| x 25-long range/
      // window exchanges, and the 25-struct explode + map-combined
      // min-aggregate quantile extraction. Nothing resampled ever
      // materializes; the output is ONE row.
      "bootstrap_quantile_50m" -> (() => graft.functions.ML.bootstrapQuantileCI(
        spark.range(50000000L).select(col("id"),
          ((col("id") * 2654435761L) % 50000000L).cast("double").as("v")),
        "id", "v", p = 0.9, b = 24, salt = "sb")),
      // round 18: the sequential family's per-row-output shape at
      // scale — msprtTwoSampleTest over 50M observations (50M distinct
      // t, interleaved arms, a +5 shift on arm b): four weights on one
      // prefix, a per-row codegen'd e-process chain, and 50M rows OUT
      // (the monitor emits one row per observation; the noop sink
      // consumes them at full width).
      "msprt_two_sample_50m" -> (() => graft.operators.Analytics.msprtTwoSampleTest(
        spark.range(50000000L).select(col("id").as("t"),
          when(col("id") % 2 === 0, lit("a")).otherwise(lit("b")).as("g"),
          (((col("id") * 2654435761L) % 1000L).cast("double") / lit(10.0) +
            when(col("id") % 2 === 1, lit(5.0)).otherwise(lit(0.0))).as("v")),
        "t", "g", "v", "a", "b", sigma2 = 900.0, tau2 = 100.0)),
      // round 19 (VERDICT r18 Next #3): tokenBudgetSample's hot-score
      // regime — 50M rows in SIX quantized score levels (integer
      // quality buckets, the common practitioner shape). Unsalted,
      // each level's ~8.3M-row tie block serializes through ONE
      // window task (the documented hazard, measured here);
      // tieBreakSalt re-ranks the block over the KEYED prefix on
      // (score, hashU32(id, salt)) so it splits across range slices
      // with only hash-collision-sized residual windows. Same output
      // cardinality, same budget; the contrast is the tie machinery.
      "token_budget_hot6_salted_50m" -> (() =>
        graft.functions.Sampling.tokenBudgetSample(
          spark.range(50000000L).select(col("id"),
            ((col("id") * 2654435761L) % 6L).cast("double").as("score"),
            ((col("id") * 7919L) % 400L + 50L).as("tokens")),
          "id", "score", "tokens", budget = 5000000000L,
          tieBreakSalt = Some("ts"))),
      "token_budget_hot6_plain_50m" -> (() =>
        graft.functions.Sampling.tokenBudgetSample(
          spark.range(50000000L).select(col("id"),
            ((col("id") * 2654435761L) % 6L).cast("double").as("score"),
            ((col("id") * 7919L) % 400L + 50L).as("tokens")),
          "id", "score", "tokens", budget = 5000000000L)),
      // DSIR at the stress design points: the dominant cost is the
      // tokenize+bucket expression at the scans (text never shuffles),
      // so the arm prices tokens/s throughput; the 1M boilerplate arm
      // adds the hot-bucket regime (1M docs sharing header bigrams =
      // a few buckets carrying ~half the corpus mass — the model
      // aggregates stay <=4096 rows regardless, which is the point)
      "dsir_50k" -> (() => graft.functions.Sampling.dsirSample(
        docs, "doc_id", "text",
        docs.filter(col("doc_id") % 50L === 0L), "text",
        k = 5000, n = 2, buckets = 4096, salt = "sb")),
      "dsir_1m_boiler" -> (() => graft.functions.Sampling.dsirSample(
        spark.read.parquet(s"$root/docs_chunkhot"), "doc_id", "text",
        spark.read.parquet(s"$root/docs_chunkhot")
          .filter(col("doc_id") % 100L === 0L), "text",
        k = 10000, n = 2, buckets = 4096, salt = "sb")),
      "jaccard_capped" -> (() => jaccard(100, "shuffle_hash")),
      "jaccard_uncapped" -> (() => jaccard(0, "shuffle_hash")),
      // prefix filtering (round 11, session 5): the LOSSLESS pruning
      // lever vs the two points above — candidate generation joins only
      // each doc's ascending-df (|d|−⌈t·|d|⌉+1)-prefix, so df-hot
      // shingles (which sort LAST) never collide unless a doc is nearly
      // all boilerplate. Identical output to jaccard_uncapped (the
      // FunctionsSpec sweep pins it); the arm measures what that
      // losslessness costs/buys vs the lossy cap. The noshare arm
      // isolates the index localCheckpoint: FOUR consumers read the
      // exploded index here (df agg, rank join, both verify sides) vs
      // jaccardPairs' two
      "jaccard_prefix" -> (() => Dedup.jaccardPairsPrefix(docs, "doc_id",
        "text", n = 3, threshold = 0.8, hashShingles = true)),
      "jaccard_prefix_noshare" -> (() => Dedup.jaccardPairsPrefix(docs,
        "doc_id", "text", n = 3, threshold = 0.8, hashShingles = true,
        shareIndex = false)),
      // the boilerplate regime (1M docs sharing a 16-token header): the
      // header shingles have df=1M, so the UNCAPPED inverted index owes
      // ~10¹² pairs — that arm cannot run at all. The prefix excludes
      // the hot shingles losslessly (they sort last; every doc's prefix
      // fills from its unique tail), so the EXACT operator enters the
      // regime that previously only the lossy cap could
      "jaccard_boiler_prefix" -> (() => Dedup.jaccardPairsPrefix(
        spark.read.parquet(s"$root/docs_chunkhot"), "doc_id", "text",
        n = 3, threshold = 0.8, hashShingles = true)),
      "jaccard_boiler_capped" -> (() => Dedup.jaccardPairs(
        spark.read.parquet(s"$root/docs_chunkhot"), "doc_id", "text",
        n = 3, threshold = 0.8, maxDF = 100, hashShingles = true)),
      "jaccard_capped_broadcast" -> (() => jaccard(100, "broadcast")),
      "jaccard_uncapped_broadcast" -> (() => jaccard(0, "broadcast")),
      "asof_plain" -> (() => Joins.asofJoin(l, r, Seq("user_id"), "ts", "ts",
        lCols = Seq("event_id", "value"), rValueCols = Seq("click_id", "click_value"))),
      "asof_salted" -> (() => Joins.asofJoinSalted(l, r, Seq("user_id"), "ts", "ts",
        lCols = Seq("event_id", "value"), rValueCols = Seq("click_id", "click_value"),
        // 1h buckets in ns: ~720 buckets over the 30-day span → the hot
        // user's 1.25M rows split into ~1.7k-row window tasks
        bucketOf = t => (t / lit(3600000000000L)).cast("long"))),
      "cc_driver" -> (() => Dedup.connectedComponents(
        spark.read.parquet(s"$root/edges_stress"))),
      "cc_distributed" -> (() => Dedup.connectedComponents(
        spark.read.parquet(s"$root/edges_stress"), localEdgeLimit = 0L)),
      // the signature-sharing knob in ITS regime: the k-hash pass over the
      // 50k-doc stress corpus (sf0.1 docs ×10) dominates, so computing it once (lazy
      // localCheckpoint) beats the recompute-per-join-side plan that
      // ReuseExchange fails to rescue (subtrees canonicalize unequal)
      "minhash_shared" -> (() => Dedup.minhashLSH(docs, "doc_id", "text",
        n = 3, bands = 16, rowsPerBand = 8, minEstSim = 0.8)),
      "minhash_recompute" -> (() => Dedup.minhashLSH(docs, "doc_id", "text",
        n = 3, bands = 16, rowsPerBand = 8, minEstSim = 0.8,
        shareSignatures = false)),
      // rangeJoin bucketWidth sweep on the hot-burst fixture (round 9):
      // 1e9 swallows the whole 1-second burst into one join key, 1e8/1e7
      // split it 10/100 ways at the price of wider interval replication
      // (span 1e8 → 2 / 11 bucket rows per interval)
      "range_wide_1e9" -> (() => rangeArm(spark, 1000000000L)),
      "range_mid_1e8" -> (() => rangeArm(spark, 100000000L)),
      "range_narrow_1e7" -> (() => rangeArm(spark, 10000000L)),
      // cosinePairsLSH on the near-parallel-cluster fixture (round 9):
      // score-first vs dedup-first candidate order, and a bits bump that
      // thins BACKGROUND buckets but cannot split the parallel cluster
      "cosine_hot_score_first" -> (() => cosineArm(spark, bits = 12, dedupFirst = false)),
      "cosine_hot_dedup_first" -> (() => cosineArm(spark, bits = 12, dedupFirst = true)),
      "cosine_hot_bits16" -> (() => cosineArm(spark, bits = 16, dedupFirst = false)),
      // the maxDF-analog cap (round 9): buckets > 1000 dropped — the 2k
      // near-parallel cluster (hot in EVERY table) is excluded whole,
      // background buckets (~12 ids at bits=12) untouched
      "cosine_hot_cap1000" -> (() => cosineArm(spark, bits = 12,
        dedupFirst = false, maxBucket = 1000L)),
      // groupjoin payload-shape experiment (round 9, VERDICT #5): the
      // current array<struct> payload vs a structure-of-arrays form (one
      // primitive collect_list per value column, zipped back to the
      // identical array<struct> schema after the join). UnsafeArrayData
      // stores struct elements via per-element offset words + a per-
      // element UnsafeRow (null word + fields ≈ 40 B for a long+double
      // pair); primitive long/double arrays are 8 B/element flat — the
      // SoA shuffle ships ~16 B/element. The hot user-0 group (~2.5M
      // clicks) makes the payload the dominant cost.
      "groupjoin_struct" -> (() => groupjoinStructArm(spark)),
      "groupjoin_soa" -> (() => groupjoinSoaArm(spark)),
      // decontamination at a bench size where exact broadcast is off the
      // table (round 11): 2.5k bench docs → ~500k distinct shingles. The
      // baseline is the operator's own no-broadcast fallback (AQE-sized
      // SMJ: the FULL ~10M-row corpus shingle stream shuffles into the
      // join); the bloom arm prefilters that stream in the scan (~1.2 MB
      // filter, 1% FP) so only probable hits reach the exchange. The
      // bloom arm's time INCLUDES the bench count + driver-side filter
      // build every iteration — the honest end-to-end cost of the path.
      "decontam_smj" -> (() => graft.functions.Dedup.contaminationScores(
        spark.read.parquet(s"$root/docs_stress")
          .filter(pmod(col("doc_id"), lit(20L)) =!= 0),
        "doc_id", "text",
        spark.read.parquet(s"$root/docs_stress")
          .filter(pmod(col("doc_id"), lit(20L)) === 0),
        "text", n = 3, broadcastBench = false)),
      "decontam_bloom" -> (() => graft.functions.Dedup.contaminationScoresBloom(
        spark.read.parquet(s"$root/docs_stress")
          .filter(pmod(col("doc_id"), lit(20L)) =!= 0),
        "doc_id", "text",
        spark.read.parquet(s"$root/docs_stress")
          .filter(pmod(col("doc_id"), lit(20L)) === 0),
        "text", n = 3, fpp = 0.01)),
      // the sparse-overlap pair — the regime the bloom path exists for
      // (eval-suite bench vs web corpus: ~0 corpus-side hit rate, so the
      // prefilter kills ~99% of the ~10M-row corpus shingle stream
      // before the exchange, vs the SMJ baseline shuffling all of it)
      "decontam_sparse_smj" -> (() => graft.functions.Dedup.contaminationScores(
        spark.read.parquet(s"$root/docs_stress"), "doc_id", "text",
        spark.read.parquet(s"$root/bench_sparse"), "text",
        n = 3, broadcastBench = false)),
      "decontam_sparse_bloom" -> (() => graft.functions.Dedup.contaminationScoresBloom(
        spark.read.parquet(s"$root/docs_stress"), "doc_id", "text",
        spark.read.parquet(s"$root/bench_sparse"), "text",
        n = 3, fpp = 0.01)),
      // the crossover's far side: same sparse bench, 10× the corpus
      // (~100M shingle rows) — the regime where the stream's shuffle,
      // not the filter build, is the dominant term
      "decontam_big_smj" -> (() => graft.functions.Dedup.contaminationScores(
        spark.read.parquet(s"$root/docs_stress100"), "doc_id", "text",
        spark.read.parquet(s"$root/bench_sparse"), "text",
        n = 3, broadcastBench = false)),
      "decontam_big_bloom" -> (() => graft.functions.Dedup.contaminationScoresBloom(
        spark.read.parquet(s"$root/docs_stress100"), "doc_id", "text",
        spark.read.parquet(s"$root/bench_sparse"), "text",
        n = 3, fpp = 0.01)),
      // range-layout data skipping (round 11): a 1-day window aggregate
      // (~3.3% of the 30-day span, ~330k of 10M rows) over the SAME data
      // in two layouts — IO.saveSorted's ts-range files vs the
      // round-robin control. Both are 32 files; the only variable is
      // whether parquet row-group stats can exclude anything. This is
      // the scan-side analog of the bucketing arms: the sort is paid
      // once at write, every window query after it reads ~selectivity
      // instead of the corpus.
      "scan_sorted" -> (() => scanArm(spark, s"$root/events_sorted_stress")),
      "scan_unsorted" -> (() => scanArm(spark, s"$root/events_stress")),
      // the 100M-row pair, warm cache: RECORDED NEGATIVE RESULT — the
      // scan metrics show 3.32M vs 100M rows decoded (30×), but 32 warm
      // cores decode 100M narrow rows inside the ~0.6 s job floor, so
      // wall-time cannot see the layout. The regime where it can is the
      // cold/IO-bound one below.
      "scan100_sorted" -> (() => scanArm(spark, s"$root/events_sorted_stress100", wide = true)),
      "scan100_unsorted" -> (() => scanArm(spark, s"$root/events_stress100", wide = true)),
      "scan100_hive" -> (() => scanArm(spark, s"$root/events_hive_stress100",
        wide = true, hive = true)),
      // sessionization hot-key cost (round 11): the Sessions scaladoc
      // documents the per-key sequential bound (the running index is a
      // prefix sum — unsaltable without a carry chain); these arms put a
      // NUMBER on it: 10M events with 50% on ONE key vs the same rows
      // re-keyed uniformly (~100 rows/key). The hot arm's wall time is
      // one task sorting+walking 5M rows; the contrast is the measured
      // price the documented upstream levers (dedup/bounding) exist for.
      "sessions_hot" -> (() => sessionsArm(spark, hot = true)),
      "sessions_uniform" -> (() => sessionsArm(spark, hot = false)),
      // the salted fix in its regime: same hot fixture, 1 h buckets →
      // the hot key's sort spreads across ~720 bucket tasks and the
      // sequential part shrinks to the per-key partial-merge
      "sessions_hot_salted" -> (() => sessionsSaltedArm(spark)),
      // chunk-dedup firsts-selection strategy on the boilerplate-header
      // fixture (round 11): the aggregate+join form (hot digest collapses
      // map-side; the residual skewed join partition is AQE-splittable)
      // vs the window-over-digest (hot chunk's occurrence list sorts in
      // ONE task). The window WON both profiles locally — including the
      // 8M-deep pure-skew bracket — so it is the operator default and
      // aggFirsts is the documented beyond-local escape hatch.
      "chunkdedup_agg" -> (() => graft.functions.Dedup.dedupChunks(
        spark.read.parquet(s"$root/docs_chunkhot"), "doc_id", "text",
        chunkSize = 16, aggFirsts = true)),
      "chunkdedup_window" -> (() => graft.functions.Dedup.dedupChunks(
        spark.read.parquet(s"$root/docs_chunkhot"), "doc_id", "text",
        chunkSize = 16)),
      // the pure-skew bracket: one digest owns ALL 8M chunk rows
      "chunkdedup_allhot_agg" -> (() => graft.functions.Dedup.dedupChunks(
        spark.read.parquet(s"$root/docs_chunkhot2"), "doc_id", "text",
        chunkSize = 16, aggFirsts = true)),
      "chunkdedup_allhot_window" -> (() => graft.functions.Dedup.dedupChunks(
        spark.read.parquet(s"$root/docs_chunkhot2"), "doc_id", "text",
        chunkSize = 16)),
      // saltedEquiJoin on the output-skew fixture (round 11, session 4):
      // plain SMJ — one task enumerates the hot key's 256M pairs (input
      // bytes far below AQE's skew threshold; the split never fires) —
      // vs salts=8 (pair work ÷8, right side replicated 8×) and
      // salts=32 (the replication-tax side of the crossover: 160M
      // replicated right rows vs a 32M-pair hot task). The aggregate
      // rides the join stage, so the measured cost is pair enumeration
      // + the salt machinery, not result materialization.
      "equijoin_plain" -> (() => equijoinArm(spark, salts = 0)),
      "equijoin_salted8" -> (() => equijoinArm(spark, salts = 8)),
      "equijoin_salted32" -> (() => equijoinArm(spark, salts = 32)),
      // bloom-prefiltered join in ITS regime (round 11, session 6): a
      // 100M-row fact ⋈ 5M-key incompressible-payload dim (5% selective,
      // far above broadcast size) — the plain SMJ shuffles the whole
      // fact stream; the bloom arm probes a ~6 MB filter IN the fact
      // scan so ~94% of rows never reach the exchange. The bloom arm's
      // time INCLUDES the per-iteration dim distinct + filter build
      // (the decontam arms' honest-cost discipline).
      "bloomjoin_plain" -> (() => bloomJoinArm(spark, bloom = false)),
      "bloomjoin_bloom" -> (() => bloomJoinArm(spark, bloom = true)),
      // MV rewrite (round 11, session 6): the IDENTICAL aggregate over
      // the 100M-row fact, answered from the raw scan vs silently
      // rewritten onto the ~100k-row (event_type, user_id) rollup. The
      // raw arm defensively deregisters so filtered/reordered runs can
      // never leak the rule into it; the rewritten arm registers inside
      // its closure (both are per-iteration, so each timed run carries
      // its own registration cost — negligible, and honest).
      "mv_raw" -> (() => {
        graft.plans.MvRewrite.deregister(s"$root/events_stress100")
        mvQuery(spark)
      }),
      "mv_rewritten" -> (() => {
        graft.plans.MvRewrite.register(spark, graft.plans.MvRewrite.MvDef(
          rawPath = s"$root/events_stress100",
          rollupPath = s"$root/mv_rollup_stress",
          keyCols = Set("event_type", "user_id"),
          sumCols = Map("value" -> "sum_value"),
          countCol = Some("cnt")))
        mvQuery(spark)
      }),
      // warm twins of the round-12 index cold arms: the compute-bound
      // floor the cold deltas are read against
      "bm25warm_b16" -> (() => bm25Arm(16)),
      "bm25warm_b256" -> (() => bm25Arm(256)),
      "ivfwarm_n16" -> (() => ivfArm(16)),
      "ivfwarm_n256" -> (() => ivfArm(256)),
      // Spearman formulation A/B (round 12): the r11 VERDICT flagged the
      // row-window form (two full-table ranking windows — every row
      // through ONE task) as the registry's perf-weak spot; the rework
      // is distinct-value-bounded. Same 10M-row input, ~370 x-values ×
      // 1k y-values: the window arm sorts 10M rows in one task twice,
      // the distinct arm's single-task windows see ≤1k rows. Bit-equal
      // results (spec-pinned) — this pair measures the plan difference
      // alone.
      "spearman_rowwindow" -> (() => graft.operators.Analytics.spearmanRowWindow(
        spark.read.parquet(s"$root/events_stress")
          .select(floor(col("value")).as("x"), pmod(col("user_id"), lit(997L)).as("y")),
        "x", "y")),
      "spearman_distinct" -> (() => graft.operators.Analytics.spearman(
        spark.read.parquet(s"$root/events_stress")
          .select(floor(col("value")).as("x"), pmod(col("user_id"), lit(997L)).as("y")),
        "x", "y")))

    // Cold-cache arms: page cache dropped before EVERY iteration
    // (warmup included), making the scan IO-bound — the local analog of
    // the 100 TB regime, where the table does not fit any cache and the
    // bill is bytes read from storage. Here the layout is the whole
    // game: the sorted copy reads the 1-2 files owning the window range
    // (~60 MB) against the control's full 1.8 GB.
    val coldCases: Seq[(String, () => DataFrame)] = Seq(
      "scan100cold_sorted" -> (() => scanArm(spark, s"$root/events_sorted_stress100", wide = true)),
      "scan100cold_unsorted" -> (() => scanArm(spark, s"$root/events_stress100", wide = true)),
      "scan100cold_hive" -> (() => scanArm(spark, s"$root/events_hive_stress100",
        wide = true, hive = true)),
      // persisted-index query paths, cold (round 12): the r11 layout
      // campaign measured cold only for the generic scan layouts; these
      // put cold numbers on the tb= BM25 index and the cell= IVF index
      // with BUCKET COUNT as the knob. BM25: per query the read is the
      // ≤|terms| term-hash directories — b=16 drags ~1/16 of the tf
      // table per term, b=256 ~1/256 (warm twins below for the
      // compute-bound floor). IVF: nprobe scales with nlist (1/16 of
      // cells both) so the scanned FRACTION is constant and the contrast
      // is directory granularity alone — coarse few-big-files reads vs
      // fine many-small-files reads (the 256-footer small-files tax,
      // re-tested on a query path that PRUNES).
      "bm25cold_b16" -> (() => bm25Arm(16)),
      "bm25cold_b256" -> (() => bm25Arm(256)),
      "ivfcold_n16" -> (() => ivfArm(16)),
      "ivfcold_n256" -> (() => ivfArm(256)))

    // optional arg: substring filter over arm names (comma-separated),
    // for iterating on one knob without re-measuring the whole suite
    val allCases: Seq[(String, () => DataFrame, Boolean)] =
      cases.map { case (n, mk) => (n, mk, false) } ++
        coldCases.map { case (n, mk) => (n, mk, true) }
    val selected = args.headOption match {
      case Some(f) =>
        val subs = f.split(",").map(_.trim).filter(_.nonEmpty)
        allCases.filter { case (n, _, _) => subs.exists(n.contains) }
      case None => allCases
    }
    def fmt(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(d))
    def run(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def dropPageCache(): Unit = {
      val rc = new ProcessBuilder("sh", "-c",
        "sync; echo 3 > /proc/sys/vm/drop_caches").start().waitFor()
      if (rc != 0) System.err.println(
        s"[stress] drop_caches failed (rc=$rc) — cold arms are measuring WARM cache")
    }
    val results = selected.map { case (name, mk, cold) =>
      if (cold) dropPageCache()
      run(mk()) // warmup, excluded (for cold arms: JIT/plan warm, cache still dropped per iter)
      val times = (1 to iters).map { _ =>
        if (cold) dropPageCache()
        val t0 = System.nanoTime(); run(mk()); (System.nanoTime() - t0) / 1e9
      }.sorted
      val med = if (times.length % 2 == 1) times(times.length / 2)
        else (times(times.length / 2 - 1) + times(times.length / 2)) / 2.0
      System.err.println(f"[stress] $name%-26s median ${med}%7.2f s  " +
        f"[${times.head}%.2f, ${times.last}%.2f]")
      (name, med, times.head, times.last)
    }
    // host-state stanza (round 16): ambient load context for every
    // recorded arm — see Bench.scala's rationale
    val loadAvg = fmt(java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage)
    val payload = results.map { case (n, m, lo, hi) =>
      s""""$n":{"median":${fmt(m)},"min":${fmt(lo)},"max":${fmt(hi)}}"""
    }.mkString("{\"stress\":{", ",",
      s"},\"iters\":$iters,\"host\":{\"load_avg\":$loadAvg},\"sf\":\"$sfDir\"}")
    println(payload)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/stress_latest.json"), payload + "\n")
    catch { case e: Throwable => System.err.println(s"[stress] file write: $e") }
    spark.stop()
  }
}
