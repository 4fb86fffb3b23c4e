package graft

import graft.core.JTable
import graft.sources.IO
import graft.streaming.Streams
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** CSV loadtable semantics, save/load roundtrip, and Structured Streaming
  * batch-parity (the reference's test_readwrite.jl territory). */
class IOStreamsSpec extends SparkSpec {
  import spark.implicits._

  test("loadtable: csv options, canonicalized names, filenamecol") {
    val dir = Files.createTempDirectory("graft_csv").toFile
    val f1 = new java.io.File(dir, "stocks_2020.csv")
    val f2 = new java.io.File(dir, "stocks_2021.csv")
    Files.writeString(f1.toPath, "ticker,close price\nAAPL,100.5\nMSFT,200.25\n")
    Files.writeString(f2.toPath, "ticker,close price\nAAPL,150.75\n")
    val t = IO.loadtable(spark, Seq(f1.getPath, f2.getPath),
      IO.CsvOptions(filenamecol = Some("year"),
        filenameFn = p => p.replaceAll(".*_(\\d+)\\.csv$", "$1")),
      indexcols = Seq("ticker"))
    assert(t.df.columns.toSeq == Seq("ticker", "close_price", "year"))
    val rows = t.df.orderBy("ticker", "year").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getString(2))).toSeq
    assert(rows == Seq(("AAPL", 100.5, "2020"), ("AAPL", 150.75, "2021"),
      ("MSFT", 200.25, "2020")))
  }

  test("loadtable: explicit colparsers schema skips inference") {
    val dir = Files.createTempDirectory("graft_csv3").toFile
    Files.writeString(new java.io.File(dir, "t.csv").toPath,
      Seq("a,b", "1,x", "2,y", "").mkString(System.lineSeparator))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("a", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("b", org.apache.spark.sql.types.StringType)))
    val t = IO.loadtable(spark, Seq(s"$dir/t.csv"),
      IO.CsvOptions(colparsers = Some(schema)))
    assert(t.df.schema("a").dataType == org.apache.spark.sql.types.LongType)
    assert(t.df.count() == 2)
    intercept[IllegalArgumentException] {
      IO.loadtable(spark, Seq(s"$dir/t.csv"), IO.CsvOptions(skiplinesBegin = 1))
    }
  }

  test("loadtableUnify: missing columns null-filled across files") {
    val dir = Files.createTempDirectory("graft_csv2").toFile
    Files.writeString(new java.io.File(dir, "a.csv").toPath, "x,y\n1,2\n")
    Files.writeString(new java.io.File(dir, "b.csv").toPath, "x,z\n3,4\n")
    val df = IO.loadtableUnify(spark,
      Seq(s"$dir/a.csv", s"$dir/b.csv"))
    assert(df.columns.toSet == Set("x", "y", "z"))
    assert(df.count() == 2)
    assert(df.filter(col("z").isNull).count() == 1)
  }

  test("loadJdbc: embedded Derby source, serial and range-partitioned") {
    val dbDir = Files.createTempDirectory("graft_derby").toFile.getPath + "/db"
    val url = s"jdbc:derby:$dbDir;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.createStatement().execute(
        "CREATE TABLE stocks (id BIGINT, ticker VARCHAR(8), price DOUBLE)")
      val ps = conn.prepareStatement("INSERT INTO stocks VALUES (?, ?, ?)")
      Seq((1L, "AAPL", 100.5), (2L, "MSFT", 200.25), (3L, "GOOG", 150.0))
        .foreach { case (i, t, p) =>
          ps.setLong(1, i); ps.setString(2, t); ps.setDouble(3, p); ps.addBatch()
        }
      ps.executeBatch()
    } finally conn.close()
    val t = IO.loadJdbc(spark, url, "stocks",
      options = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver"))
    assert(t.df.orderBy("id").collect().map(r => (r.getString(1), r.getDouble(2))).toSeq ==
      Seq(("AAPL", 100.5), ("MSFT", 200.25), ("GOOG", 150.0)))
    // range-partitioned parallel read: same rows, n partitions
    val p = IO.loadJdbc(spark, url, "stocks",
      options = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver"),
      partitioning = Some(("id", 1L, 4L, 2)))
    assert(p.df.rdd.getNumPartitions == 2)
    assert(p.df.count() == 3)
    // predicate pushdown: the filter must reach the JDBC scan (travel as
    // a WHERE clause in each range-split query, so the database — not
    // Spark — drops the rows; at scale this is the difference between
    // shipping the table and shipping the answer)
    val filtered = p.df.filter(col("price") > 120.0)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.toLowerCase.contains("greaterthan(price,120.0)"),
      s"price predicate not pushed to the JDBC scan:\n$plan")
    assert(filtered.collect().map(_.getString(1)).toSet == Set("MSFT", "GOOG"))
  }

  test("save/load roundtrip preserves data") {
    val dir = Files.createTempDirectory("graft_save").toFile.getPath + "/t"
    val t = JTable(Tables.nation(spark, sf), Seq("n_nationkey"))
    IO.save(t, dir)
    val back = IO.load(spark, dir, Seq("n_nationkey"))
    assert(back.collectOrdered().map(_.getInt(0)).toSeq ==
      t.collectOrdered().map(_.getInt(0)).toSeq)
  }

  test("partitionIterator batches without full materialization") {
    val batches = IO.partitionIterator(Tables.nation(spark, sf), 7).toSeq
    assert(batches.map(_.size).sum == 25)
    assert(batches.forall(_.size <= 7))
  }

  test("dropManagedTable: scope-checked, URI-form warehouse dirs, idempotent") {
    // a table name that would resolve outside the warehouse must be
    // refused BEFORE any delete happens (the recursive rm is aimed by
    // session config — the scope check is the only thing between a
    // misconfigured conf and deleting a home directory)
    intercept[IllegalArgumentException] {
      IO.dropManagedTable(spark, "../evil")
    }
    // idempotent on a table that never existed (no catalog entry, no dir)
    IO.dropManagedTable(spark, "graft_never_created")
    // and actually clears both catalog entry and on-disk location
    import spark.implicits._
    val t = JTable(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Seq("k"))
    IO.saveBucketed(t, "graft_drop_me", 2)
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir"))
    val loc = new java.io.File(wh.getPath, "graft_drop_me")
    assert(loc.exists(), s"expected managed location $loc after saveBucketed")
    IO.dropManagedTable(spark, "graft_drop_me")
    assert(!loc.exists(), "location must be gone")
    assert(!spark.catalog.tableExists("graft_drop_me"))
    // a second save into the same name succeeds (the LOCATION_ALREADY_
    // EXISTS failure mode this helper exists to prevent)
    IO.saveBucketed(t, "graft_drop_me", 2)
    IO.dropManagedTable(spark, "graft_drop_me")
  }

  test("bucketed save: pkey joins/groupBys read shuffle-free") {
    val li = JTable(Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_quantity")), Seq("l_orderkey"))
    val ord = JTable(Tables.orders(spark, sf)
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice")), Seq("l_orderkey"))
    // the derby metastore is per-JVM but the warehouse dir persists: drop
    // any stale table AND its leftover location before re-creating
    for (t <- Seq("li_bucketed", "ord_bucketed")) IO.dropManagedTable(spark, t)
    IO.saveBucketed(li, "li_bucketed", 4)
    IO.saveBucketed(ord, "ord_bucketed", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val lb = IO.loadBucketed(spark, "li_bucketed")
      assert(lb.pkey == Seq("l_orderkey")) // pkey derived from catalog spec
      val joined = lb.df
        .join(IO.loadBucketed(spark, "ord_bucketed").df, "l_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      // note: a partition-local Sort remains above each scan — Spark does
      // not exploit bucket sortBy metadata for SMJ (SPARK-19256); the
      // scale win here is the eliminated Exchange.
      assert(joined.count() == Tables.lineitem(spark, sf).count())
      val grouped = IO.loadBucketed(spark, "li_bucketed").df
        .groupBy("l_orderkey").agg(sum(col("l_quantity")))
      val gplan = grouped.queryExecution.executedPlan.toString
      assert(!gplan.contains("Exchange"), s"bucketed groupBy still shuffles:\n$gplan")
      intercept[Exception] { IO.loadBucketed(spark, "nonexistent_tbl") }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    }
  }

  test("materialized inverted index: bucketed self-join adds no index re-shuffle") {
    // SCALE.md's materialize-for-reuse recipe for Dedup.jaccardPairs,
    // proven in plan form: persist the exploded (id, sz, shingle) index
    // ONCE bucketed by shingle, and candidate generation over the saved
    // table self-joins with NO Exchange under the join — the only
    // exchange left in the whole pair pipeline is the (i, j) aggregate's.
    // At 100 TB this is how several thresholds/runs share one index
    // build (the lazy operator re-derives it per run, a documented 2×).
    IO.dropManagedTable(spark, "shingle_idx")
    val sh = Tables.documents(spark, sf)
      .select(col("doc_id").as("id"),
        graft.plans.HashExpressions.shingleStrings(col("text"), 3).as("__arr"))
      .select(col("id"), size(col("__arr")).cast("long").as("sz"),
        explode(col("__arr")).as("s"))
    IO.saveBucketed(JTable(sh, Seq("s")), "shingle_idx", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val idx = IO.loadBucketed(spark, "shingle_idx").df
      val a = idx.as("a"); val b = idx.as("b")
      val pairs = a.join(b, col("a.s") === col("b.s") && col("a.id") < col("b.id"))
        .groupBy(col("a.id").as("i"), col("b.id").as("j"))
        .agg(count(lit(1)).as("n_common"))
      val plan = pairs.queryExecution.executedPlan.toString
      val nExchanges = "Exchange".r.findAllIn(plan).size
      assert(nExchanges == 1,
        s"expected exactly 1 Exchange (the pair aggregate), got $nExchanges:\n$plan")
      // and the result matches the lazy operator's intersection counts
      val fromSaved = pairs.collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      val lazyPairs = graft.functions.Dedup.jaccardPairs(
          Tables.documents(spark, sf), "doc_id", "text", 3, threshold = 0.0)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      assert(fromSaved == lazyPairs,
        s"saved-index pair counts diverge from the lazy operator")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS shingle_idx")
    }
  }

  test("streaming windowedAgg == batch q39 on the same data") {
    val dir = Files.createTempDirectory("graft_stream").toFile.getPath
    val ev = Tables.events(spark, sf)
      .withColumn("ts_us", expr("ts div 1000"))
      .select("ts_us", "event_type", "value")
    ev.coalesce(1).write.mode("overwrite").parquet(dir)
    val stream = Streams.parquetStream(spark, dir, ev.schema)
    val result = Streams.runOnce(
      Streams.windowedAgg(stream), "win_test", mode = "append")
    // append mode holds back open windows until the watermark passes; on a
    // finite file source the final windows never close, so compare with
    // the batch result restricted to emitted windows.
    val batch = ev.withColumn("tstamp", timestamp_micros(col("ts_us")))
      .groupBy(window(col("tstamp"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("bucket_us"), col("event_type"), col("n"))
    val got = result.select("bucket_us", "event_type", "n").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val want = batch.collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    got.foreach { case (k, v) => assert(want.get(k).contains(v), s"window $k") }
  }

  test("streaming windowedQuantiles: KHist p50/p90 track batch exact percentiles") {
    val dir = Files.createTempDirectory("graft_qstream").toFile.getPath
    val ev = Tables.events(spark, sf)
      .withColumn("ts_us", expr("ts div 1000"))
      .select("ts_us", "event_type", "value")
    ev.coalesce(1).write.mode("overwrite").parquet(dir)
    val stream = Streams.parquetStream(spark, dir, ev.schema)
    val result = Streams.runOnce(
      Streams.windowedQuantiles(stream), "q_test", mode = "append")
    // append emits only watermark-closed windows (same as the windowedAgg
    // test); every emitted window must carry sketch quantiles within the
    // KHist tolerance of the batch-exact percentiles on the same slice.
    val batch = ev.withColumn("tstamp", timestamp_micros(col("ts_us")))
      .groupBy(window(col("tstamp"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        percentile(col("value"), lit(0.5)).as("e50"),
        percentile(col("value"), lit(0.9)).as("e90"))
      .select(unix_micros(col("window.start")).as("bucket_us"),
        col("event_type"), col("n"), col("e50"), col("e90"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    val rows = result.collect()
    assert(rows.nonEmpty, "no closed windows emitted")
    rows.foreach { r =>
      val key = (r.getLong(0), r.getString(1))
      val (n, e50, e90) = batch(key)
      assert(r.getLong(2) == n, s"window $key count")
      def close(est: Double, want: Double) =
        math.abs(est - want) <= math.max(0.15 * math.abs(want), 1e-9)
      assert(close(r.getDouble(3), e50), s"window $key p50 ${r.getDouble(3)} vs $e50")
      assert(close(r.getDouble(4), e90), s"window $key p90 ${r.getDouble(4)} vs $e90")
    }
  }

  test("streaming windowedPsi: per-window PSI bit-equal to the batch " +
      "formula; zero drift → exactly 0") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val hourUs = 3600L * 1000000L
    // reference: uniform over bins 0..3 (40 each); window 1: same shape
    // (→ PSI exactly 0: identical smoothed shares); window 2: all mass
    // in bin 0 (→ the batch formula's value, recomputed here)
    val refCounts = Seq(40L, 40L, 40L, 40L)
    val w1 = (0 until 40).flatMap(i => Seq(0.5, 1.5, 2.5, 3.5).map(v => (i * 1000L, v)))
    val w2 = (0 until 80).map(i => (hourUs + i * 1000L, 0.5))
    val flush = (10L * hourUs, 0.5)
    val ms = MemoryStream[(Long, Double)](spark)
    val out = Streams.windowedPsi(ms.toDS().toDF("ts_us", "value"),
      refCounts, lo = 0.0, hi = 4.0, watermark = "0 seconds",
      window_ = "1 hour")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("psi_spec_sink").start()
    try {
      ms.addData(w1 ++ w2); q.processAllAvailable()
      ms.addData(flush); q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("psi_spec_sink")
      .filter(col("bucket_us") < 2 * hourUs).orderBy("bucket_us").collect()
    assert(rows.length == 2, s"expected 2 closed windows, got ${rows.length}")
    assert(rows(0).getLong(1) == 160L && rows(0).getDouble(2) == 0.0,
      s"identical-shape window must score exactly 0, got ${rows(0)}")
    // batch model for window 2 (n=80, all in bin 0), same smoothing +
    // scale-12 term rounding as the operator
    val want = (0 until 4).map { i =>
      val pb = (if (i == 0) 81.0 else 1.0) / 84.0
      val pa = 41.0 / 164.0
      BigDecimal((pb - pa) * math.log(pb / pa))
        .setScale(12, BigDecimal.RoundingMode.HALF_UP)
    }.sum.toDouble
    assert(rows(1).getLong(1) == 80L &&
      math.abs(rows(1).getDouble(2) - want) < 1e-12,
      s"drifted window ${rows(1).getDouble(2)} vs model $want")
  }

  test("windowedEwmaAnomaly: z bit-equal to the driver recursion; " +
      "first/second windows NULL; cross-batch state carry; spike flags") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dayUs = 86400L * 1000000L
    // 6 daily windows of 4 rows each; day 4 spikes ×10
    val means = Seq(10.0, 12.0, 11.0, 9.0, 110.0, 10.5)
    val rows = means.zipWithIndex.flatMap { case (m, d) =>
      (0 until 4).map(i => (d * dayUs + i * 1000L, m + (i - 1.5) * 0.2)) }
    val ms = MemoryStream[(Long, Double)](spark)
    val out = Streams.windowedEwmaAnomaly(ms.toDS().toDF("ts_us", "value"),
      alpha = 0.25, threshold = 3.0, watermark = "0 seconds",
      window_ = "1 day")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("ewma_spec_sink").start()
    try {
      // split mid-stream: (m, v) must carry across micro-batches
      ms.addData(rows.filter(_._1 < 3 * dayUs)); q.processAllAvailable()
      ms.addData(rows.filter(_._1 >= 3 * dayUs)); q.processAllAvailable()
      ms.addData((20L * dayUs, 0.0)); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ewma_spec_sink")
      .filter(col("bucket_us") < 6 * dayUs).orderBy("bucket_us").collect()
    assert(got.length == 6)
    // driver model: the same window means (exact decimal sums of the
    // synthetic values land exactly on `means`), same fixed op order
    var m = 0.0; var v = 0.0; var init = false
    val wantZ = means.map { x =>
      val z = if (!init) { m = x; v = 0.0; init = true; None }
        else {
          val zz = if (v > 0) Some((x - m) / math.sqrt(v)) else None
          val d = x - m
          m = m + 0.25 * d; v = 0.75 * (v + 0.25 * d * d)
          zz
        }
      z
    }
    got.zip(wantZ).zipWithIndex.foreach { case ((r, w), i) =>
      val gz = if (r.isNullAt(3)) None else Some(r.getDouble(3))
      assert(gz == w, s"window $i: z $gz vs model $w")
    }
    assert(got(0).isNullAt(4) && got(1).isNullAt(4))
    assert(got(4).getBoolean(4), "the ×10 spike window must flag")
    assert(!got(3).getBoolean(4) && !got(5).getBoolean(4))
  }

  test("windowedMsprt: e_log bit-equal to the batch msprtMeanTest " +
      "chain at every window prefix; cross-batch (N, S) state carry; " +
      "drifted tail crosses ln(1/alpha)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dayUs = 86400L * 1000000L
    // 6 daily windows, 4 rows each; the last three windows shift +9
    val means = Seq(10.0, 10.4, 9.8, 19.0, 19.6, 19.2)
    val rows = means.zipWithIndex.flatMap { case (m, d) =>
      (0 until 4).map(i => (d * dayUs + i * 1000L, m + (i - 1.5) * 0.2)) }
    val (mu0, s2, t2, alpha) = (10.0, 4.0, 1.0, 0.05)
    val ms = MemoryStream[(Long, Double)](spark)
    val out = Streams.windowedMsprt(ms.toDS().toDF("ts_us", "value"),
      mu0 = mu0, sigma2 = s2, tau2 = t2, alpha = alpha,
      watermark = "0 seconds", window_ = "1 day")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("msprt_spec_sink").start()
    try {
      // split mid-stream: (N, S) must carry across micro-batches
      ms.addData(rows.filter(_._1 < 3 * dayUs)); q.processAllAvailable()
      ms.addData(rows.filter(_._1 >= 3 * dayUs)); q.processAllAvailable()
      ms.addData((20L * dayUs, 0.0)); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("msprt_spec_sink")
      .filter(col("bucket_us") < 6 * dayUs).orderBy("bucket_us").collect()
    assert(got.length == 6)
    // driver model: exact decimal window sums folded in bucket order
    // through the batch operator's fixed double chain
    var nTot = 0L
    var sTot = java.math.BigDecimal.ZERO
    val want = means.zipWithIndex.map { case (m, d) =>
      val ws = (0 until 4).map(i => m + (i - 1.5) * 0.2)
        .map(v => java.math.BigDecimal.valueOf(v)
          .setScale(12, java.math.RoundingMode.HALF_UP))
        .reduce(_.add(_))
      nTot += 4; sTot = sTot.add(ws)
      val nd = nTot.toDouble
      val mean = sTot.doubleValue / nd
      val dev = mean - mu0
      val mix = s2 + nd * t2
      val eLog = 0.5 * math.log(s2 / mix) +
        (nd * nd * t2 * (dev * dev)) / (2.0 * s2 * mix)
      (nTot, mean, eLog)
    }
    got.zip(want).zipWithIndex.foreach { case ((r, (n, mean, e)), i) =>
      assert(r.getAs[Long]("n_total") == n, s"window $i n_total")
      assert(r.getAs[Double]("mean_total") == mean, s"window $i mean")
      assert(r.getAs[Double]("e_log") == e, s"window $i e_log")
      assert(r.getAs[Boolean]("crossed") ==
        (e >= math.log(1.0 / alpha)), s"window $i crossed")
    }
    // the +9 shift from window 3 on must cross ln(1/0.05) by the end
    assert(got.last.getAs[Boolean]("crossed"))
    assert(!got.head.getAs[Boolean]("crossed"))
  }

  test("windowedMeanCs: radius bit-equal to the batch " +
      "meanConfidenceSequence chain at every window prefix; " +
      "cross-batch (N, S) state carry; band shrinks monotonically") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dayUs = 86400L * 1000000L
    val means = Seq(10.0, 10.4, 9.8, 19.0, 19.6, 19.2)
    val rows = means.zipWithIndex.flatMap { case (m, d) =>
      (0 until 4).map(i => (d * dayUs + i * 1000L, m + (i - 1.5) * 0.2)) }
    val (s2, t2, alpha) = (4.0, 1.0, 0.05)
    val ms = MemoryStream[(Long, Double)](spark)
    val out = Streams.windowedMeanCs(ms.toDS().toDF("ts_us", "value"),
      sigma2 = s2, tau2 = t2, alpha = alpha,
      watermark = "0 seconds", window_ = "1 day")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("meancs_spec_sink").start()
    try {
      // split mid-stream: (N, S) must carry across micro-batches
      ms.addData(rows.filter(_._1 < 3 * dayUs)); q.processAllAvailable()
      ms.addData(rows.filter(_._1 >= 3 * dayUs)); q.processAllAvailable()
      ms.addData((20L * dayUs, 0.0)); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("meancs_spec_sink")
      .filter(col("bucket_us") < 6 * dayUs).orderBy("bucket_us").collect()
    assert(got.length == 6)
    // driver model: exact decimal window sums folded in bucket order
    // through the batch operator's fixed double chain
    var nTot = 0L
    var sTot = java.math.BigDecimal.ZERO
    val want = means.zipWithIndex.map { case (m, d) =>
      val ws = (0 until 4).map(i => m + (i - 1.5) * 0.2)
        .map(v => java.math.BigDecimal.valueOf(v)
          .setScale(12, java.math.RoundingMode.HALF_UP))
        .reduce(_.add(_))
      nTot += 4; sTot = sTot.add(ws)
      val nd = nTot.toDouble
      val mean = sTot.doubleValue / nd
      val vt = s2 / nd
      val radius = math.sqrt((vt * (vt + t2) / t2) *
        (math.log((vt + t2) / vt) - 2.0 * math.log(alpha)))
      (nTot, mean, radius)
    }
    got.zip(want).zipWithIndex.foreach { case ((r, (n, mean, rad)), i) =>
      assert(r.getAs[Long]("n_total") == n, s"window $i n_total")
      assert(r.getAs[Double]("mean_total") == mean, s"window $i mean")
      assert(r.getAs[Double]("radius") == rad, s"window $i radius")
      assert(r.getAs[Double]("ci_lo") == mean - rad, s"window $i lo")
      assert(r.getAs[Double]("ci_hi") == mean + rad, s"window $i hi")
    }
    // more data, tighter band: the radius shrinks window over window
    val radii = got.map(_.getAs[Double]("radius"))
    assert(radii.zip(radii.tail).forall { case (a, b) => b < a })
  }

  test("windowedMsprtTwoSample: e_log bit-equal to the batch " +
      "msprtTwoSampleTest chain at every window prefix; per-arm (N, S) " +
      "state carries across micro-batches; e_log NULL until both arms " +
      "report; the shifted arm crosses ln(1/alpha)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dayUs = 86400L * 1000000L
    // window 0 has ONLY arm a (e_log must be NULL); arm b joins from
    // window 1 with a +6 shift that grows — crossing by the last window
    val perWin: Seq[Seq[(String, Double)]] = Seq(
      (0 until 4).map(i => ("a", 10.0 + i * 0.1)),
      (0 until 3).map(i => ("a", 10.2 + i * 0.1)) ++
        (0 until 3).map(i => ("b", 16.0 + i * 0.1)),
      (0 until 4).map(i => ("a", 9.9 + i * 0.1)) ++
        (0 until 4).map(i => ("b", 16.5 + i * 0.1)),
      (0 until 3).map(i => ("a", 10.1 + i * 0.1)) ++
        (0 until 5).map(i => ("b", 16.8 + i * 0.1)))
    val rows = perWin.zipWithIndex.flatMap { case (ws, d) =>
      ws.zipWithIndex.map { case ((g, v), i) =>
        (d * dayUs + i * 1000L, g, v) } }
    val (s2, t2, alpha) = (4.0, 1.0, 0.05)
    val ms = MemoryStream[(Long, String, Double)](spark)
    val out = Streams.windowedMsprtTwoSample(
      ms.toDS().toDF("ts_us", "grp", "value"), "grp", "a", "b",
      sigma2 = s2, tau2 = t2, alpha = alpha,
      watermark = "0 seconds", window_ = "1 day")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("msprt2_spec_sink").start()
    try {
      // split mid-stream: per-arm (N, S) must carry across batches
      ms.addData(rows.filter(_._1 < 2 * dayUs)); q.processAllAvailable()
      ms.addData(rows.filter(_._1 >= 2 * dayUs)); q.processAllAvailable()
      ms.addData((20L * dayUs, "a", 0.0)); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("msprt2_spec_sink")
      .filter(col("bucket_us") < 4 * dayUs).orderBy("bucket_us").collect()
    assert(got.length == 4)
    // driver model: per-arm exact decimal window sums folded in bucket
    // order through the batch operator's fixed double chain
    var nA = 0L; var nB = 0L
    var sA = java.math.BigDecimal.ZERO
    var sB = java.math.BigDecimal.ZERO
    def dq(v: Double) = java.math.BigDecimal.valueOf(v)
      .setScale(12, java.math.RoundingMode.HALF_UP)
    val want = perWin.map { ws =>
      ws.foreach { case (g, v) =>
        if (g == "a") { nA += 1; sA = sA.add(dq(v)) }
        else { nB += 1; sB = sB.add(dq(v)) }
      }
      val meanA = if (nA > 0) Some(sA.doubleValue / nA.toDouble) else None
      val meanB = if (nB > 0) Some(sB.doubleValue / nB.toDouble) else None
      val eLog = for (ma <- meanA; mb <- meanB) yield {
        val vt = s2 * (1.0 / nA.toDouble + 1.0 / nB.toDouble)
        val delta = ma - mb
        0.5 * math.log(vt / (vt + t2)) +
          (delta * delta * t2) / (2.0 * vt * (vt + t2))
      }
      (nA, nB, meanA, meanB, eLog)
    }
    got.zip(want).zipWithIndex.foreach {
      case ((r, (na, nb, ma, mb, e)), i) =>
        assert(r.getAs[Long]("n_a") == na, s"window $i n_a")
        assert(r.getAs[Long]("n_b") == nb, s"window $i n_b")
        def opt(idx: Int): Option[Double] =
          if (r.isNullAt(idx)) None else Some(r.getDouble(idx))
        assert(opt(5) == ma, s"window $i mean_a")
        assert(opt(6) == mb, s"window $i mean_b")
        assert(opt(7) == e, s"window $i e_log")
        val crossed = if (r.isNullAt(8)) None else Some(r.getBoolean(8))
        assert(crossed == e.map(_ >= math.log(1.0 / alpha)),
          s"window $i crossed")
    }
    assert(got.head.isNullAt(7), "arm-a-only window must emit NULL e_log")
    assert(got.last.getBoolean(8), "the shifted arm must cross by the end")
  }

  test("windowedDiffCs: radius bit-equal to the batch " +
      "diffConfidenceSequence chain at every window prefix; per-arm " +
      "(N, S) carry across micro-batches; NULL band until both arms " +
      "report; the real lift leaves the band") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dayUs = 86400L * 1000000L
    val perWin: Seq[Seq[(String, Double)]] = Seq(
      (0 until 4).map(i => ("a", 10.0 + i * 0.1)),
      (0 until 3).map(i => ("a", 10.2 + i * 0.1)) ++
        (0 until 3).map(i => ("b", 16.0 + i * 0.1)),
      (0 until 4).map(i => ("a", 9.9 + i * 0.1)) ++
        (0 until 4).map(i => ("b", 16.5 + i * 0.1)),
      (0 until 3).map(i => ("a", 10.1 + i * 0.1)) ++
        (0 until 5).map(i => ("b", 16.8 + i * 0.1)))
    val rows = perWin.zipWithIndex.flatMap { case (ws, d) =>
      ws.zipWithIndex.map { case ((g, v), i) =>
        (d * dayUs + i * 1000L, g, v) } }
    val (s2, t2, alpha) = (4.0, 1.0, 0.05)
    val ms = MemoryStream[(Long, String, Double)](spark)
    val out = Streams.windowedDiffCs(
      ms.toDS().toDF("ts_us", "grp", "value"), "grp", "a", "b",
      sigma2 = s2, tau2 = t2, alpha = alpha,
      watermark = "0 seconds", window_ = "1 day")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("diffcs_spec_sink").start()
    try {
      ms.addData(rows.filter(_._1 < 2 * dayUs)); q.processAllAvailable()
      ms.addData(rows.filter(_._1 >= 2 * dayUs)); q.processAllAvailable()
      ms.addData((20L * dayUs, "a", 0.0)); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("diffcs_spec_sink")
      .filter(col("bucket_us") < 4 * dayUs).orderBy("bucket_us").collect()
    assert(got.length == 4)
    var nA = 0L; var nB = 0L
    var sA = java.math.BigDecimal.ZERO
    var sB = java.math.BigDecimal.ZERO
    def dq(v: Double) = java.math.BigDecimal.valueOf(v)
      .setScale(12, java.math.RoundingMode.HALF_UP)
    val want = perWin.map { ws =>
      ws.foreach { case (g, v) =>
        if (g == "a") { nA += 1; sA = sA.add(dq(v)) }
        else { nB += 1; sB = sB.add(dq(v)) }
      }
      val meanA = if (nA > 0) Some(sA.doubleValue / nA.toDouble) else None
      val meanB = if (nB > 0) Some(sB.doubleValue / nB.toDouble) else None
      val radius = if (nA > 0 && nB > 0) Some {
        val vt = s2 * (1.0 / nA.toDouble + 1.0 / nB.toDouble)
        math.sqrt((vt * (vt + t2) / t2) *
          (math.log((vt + t2) / vt) - 2.0 * math.log(alpha)))
      } else None
      (nA, nB, meanA, meanB,
        for (ma <- meanA; mb <- meanB) yield ma - mb, radius)
    }
    got.zip(want).zipWithIndex.foreach {
      case ((r, (na, nb, ma, mb, diff, rad)), i) =>
        assert(r.getAs[Long]("n_a") == na, s"window $i n_a")
        assert(r.getAs[Long]("n_b") == nb, s"window $i n_b")
        def opt(idx: Int): Option[Double] =
          if (r.isNullAt(idx)) None else Some(r.getDouble(idx))
        assert(opt(5) == ma, s"window $i mean_a")
        assert(opt(6) == mb, s"window $i mean_b")
        assert(opt(7) == diff, s"window $i diff")
        assert(opt(8) == rad, s"window $i radius")
        assert(opt(9) == (for (d0 <- diff; r0 <- rad) yield d0 - r0),
          s"window $i ci_lo")
        assert(opt(10) == (for (d0 <- diff; r0 <- rad) yield d0 + r0),
          s"window $i ci_hi")
    }
    assert(got.head.isNullAt(8), "arm-a-only window must emit NULL band")
    // the planted ~ -6 lift: by the last window 0 sits outside the band
    assert(got.last.getAs[Double]("ci_hi") < 0.0)
  }

  test("windowedMsprtTwoProportion: e_log bit-equal to the batch " +
      "pooled-variance chain at every window prefix; all-long state " +
      "carries across micro-batches; NULL until both arms report AND " +
      "pooled rate in (0,1); the split crosses ln(1/alpha)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dayUs = 86400L * 1000000L
    // window 0: arm a only (NULL e_log); arm b joins from window 1
    // converting far below a — crossing by the last window
    val perWin: Seq[Seq[(String, Int)]] = Seq(
      Seq(("a", 1), ("a", 1), ("a", 0), ("a", 1)),
      Seq(("a", 1), ("a", 0), ("a", 1), ("b", 0), ("b", 0), ("b", 1)),
      Seq(("a", 1), ("a", 1), ("a", 0), ("a", 1),
        ("b", 0), ("b", 0), ("b", 0), ("b", 1)),
      (0 until 8).map(_ => ("a", 1)) ++ (0 until 8).map(_ => ("b", 0)))
    val rows = perWin.zipWithIndex.flatMap { case (ws, d) =>
      ws.zipWithIndex.map { case ((g, s), i) =>
        (d * dayUs + i * 1000L, g, s) } }
    val (t2, alpha) = (0.04, 0.05)
    val ms = MemoryStream[(Long, String, Int)](spark)
    val out = Streams.windowedMsprtTwoProportion(
      ms.toDS().toDF("ts_us", "grp", "s"), "grp", "s", "a", "b",
      tau2 = t2, alpha = alpha,
      watermark = "0 seconds", window_ = "1 day")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("msprt2p_spec_sink").start()
    try {
      ms.addData(rows.filter(_._1 < 2 * dayUs)); q.processAllAvailable()
      ms.addData(rows.filter(_._1 >= 2 * dayUs)); q.processAllAvailable()
      ms.addData((20L * dayUs, "a", 0)); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("msprt2p_spec_sink")
      .filter(col("bucket_us") < 4 * dayUs).orderBy("bucket_us").collect()
    assert(got.length == 4)
    // driver model: exact integer state through the batch chain
    var nA = 0L; var xA = 0L; var nB = 0L; var xB = 0L
    val want = perWin.map { ws =>
      ws.foreach { case (g, s) =>
        if (g == "a") { nA += 1; xA += s } else { nB += 1; xB += s } }
      val pA = if (nA > 0) Some(xA.toDouble / nA.toDouble) else None
      val pB = if (nB > 0) Some(xB.toDouble / nB.toDouble) else None
      val eLog = for (pa <- pA; pb <- pB;
                      pPool = (xA.toDouble + xB.toDouble) /
                        (nA.toDouble + nB.toDouble);
                      vt = pPool * (1.0 - pPool) *
                        (1.0 / nA.toDouble + 1.0 / nB.toDouble)
                      if vt > 0.0) yield {
        val delta = pa - pb
        0.5 * StrictMath.log(vt / (vt + t2)) +
          (delta * delta * t2) / (2.0 * vt * (vt + t2))
      }
      (nA, nB, pA, pB, eLog)
    }
    got.zip(want).zipWithIndex.foreach {
      case ((r, (na, nb, pa, pb, e)), i) =>
        assert(r.getAs[Long]("n_a") == na, s"window $i n_a")
        assert(r.getAs[Long]("n_b") == nb, s"window $i n_b")
        def opt(idx: Int): Option[Double] =
          if (r.isNullAt(idx)) None else Some(r.getDouble(idx))
        assert(opt(5) == pa, s"window $i p_a")
        assert(opt(6) == pb, s"window $i p_b")
        assert(opt(7) == e, s"window $i e_log")
        val crossed = if (r.isNullAt(8)) None else Some(r.getBoolean(8))
        assert(crossed == e.map(_ >= math.log(1.0 / alpha)),
          s"window $i crossed")
    }
    assert(got.head.isNullAt(7), "arm-a-only window must emit NULL e_log")
    assert(got.last.getBoolean(8), "the split must cross by the end")
    // degenerate pooled rate: both arms all-success -> vt = 0 -> NULL
    // e_log even though both arms report
    val ms2 = MemoryStream[(Long, String, Int)](spark)
    val out2 = Streams.windowedMsprtTwoProportion(
      ms2.toDS().toDF("ts_us", "grp", "s"), "grp", "s", "a", "b",
      tau2 = t2, alpha = alpha,
      watermark = "0 seconds", window_ = "1 day")
    val q2 = out2.writeStream.outputMode("append").format("memory")
      .queryName("msprt2p_spec_sink2").start()
    try {
      ms2.addData(Seq((0L, "a", 1), (1000L, "a", 1), (2000L, "b", 1)))
      q2.processAllAvailable()
      ms2.addData((20L * dayUs, "a", 0)); q2.processAllAvailable()
    } finally q2.stop()
    val deg = spark.table("msprt2p_spec_sink2")
      .filter(col("bucket_us") === 0L).collect().head
    assert(deg.getAs[Long]("n_b") == 1L && deg.isNullAt(7),
      "unanimous pooled rate must emit NULL e_log, not zero")
  }

  test("streaming windowedJsd: per-window JSD equal to the batch " +
      "formula; zero drift → exactly 0; bounded by ln 2") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val hourUs = 3600L * 1000000L
    val refCounts = Seq(40L, 40L, 40L, 40L)
    val w1 = (0 until 40).flatMap(i => Seq(0.5, 1.5, 2.5, 3.5).map(v => (i * 1000L, v)))
    val w2 = (0 until 80).map(i => (hourUs + i * 1000L, 0.5))
    val flush = (10L * hourUs, 0.5)
    val ms = MemoryStream[(Long, Double)](spark)
    val out = Streams.windowedJsd(ms.toDS().toDF("ts_us", "value"),
      refCounts, lo = 0.0, hi = 4.0, watermark = "0 seconds",
      window_ = "1 hour")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("jsd_spec_sink").start()
    try {
      ms.addData(w1 ++ w2); q.processAllAvailable()
      ms.addData(flush); q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("jsd_spec_sink")
      .filter(col("bucket_us") < 2 * hourUs).orderBy("bucket_us").collect()
    assert(rows.length == 2, s"expected 2 closed windows, got ${rows.length}")
    assert(rows(0).getLong(1) == 160L && rows(0).getDouble(2) == 0.0,
      s"identical-shape window must score exactly 0, got ${rows(0)}")
    // batch model for window 2 (n=80, all in bin 0), same smoothing +
    // scale-12 term rounding as the operator
    val want = (0 until 4).map { i =>
      val pb = (if (i == 0) 81.0 else 1.0) / 84.0
      val pa = 41.0 / 164.0
      val m = (pa + pb) / 2
      BigDecimal((pa * math.log(pa / m) + pb * math.log(pb / m)) * 0.5)
        .setScale(12, BigDecimal.RoundingMode.HALF_UP)
    }.sum.toDouble
    assert(rows(1).getLong(1) == 80L &&
      math.abs(rows(1).getDouble(2) - want) < 1e-12,
      s"drifted window ${rows(1).getDouble(2)} vs model $want")
    assert(rows.forall(r => r.getDouble(2) >= 0 &&
      r.getDouble(2) <= math.log(2.0)), "JSD must sit inside [0, ln 2]")
  }

  test("windowedPsiBy: each slice equals windowedPsi on that slice's " +
      "rows under the same reference, bit for bit; an unknown slice " +
      "scores NULL") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val hourUs = 3600L * 1000000L
    val rnd = new scala.util.Random(7)
    val refs = Map("x" -> Seq(40L, 40L, 40L, 40L),
      "y" -> Seq(5L, 20L, 30L, 70L))
    // three hourly windows; slice y skews toward the low bins, slice z
    // has no reference; values span past the grid on both sides
    val rows = (0 until 3).flatMap { w =>
      Seq("x", "y", "z").flatMap { k =>
        (0 until 30).map { i =>
          val v = if (k == "y") rnd.nextDouble() * 2.5 - 0.3
            else rnd.nextDouble() * 4.6 - 0.3
          (w * hourUs + i * 1000L, k, v)
        }
      }
    }
    def drive(name: String, df: org.apache.spark.sql.DataFrame,
              ms: MemoryStream[(Long, String, Double)]) = {
      val q = df.writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try {
        ms.addData(rows); q.processAllAvailable()
        // one flush row per slice: a stream fed one slice still closes
        ms.addData(Seq("x", "y", "z").map(k => (10L * hourUs, k, 0.5)))
        q.processAllAvailable()
      } finally q.stop()
      spark.table(name).filter(col("bucket_us") < 3 * hourUs)
    }
    val msBy = MemoryStream[(Long, String, Double)](spark)
    val by = drive("psiby_spec_sink", Streams.windowedPsiBy(
      msBy.toDS().toDF("ts_us", "k", "value"), "k", refs, lo = 0.0,
      hi = 4.0), msBy)
    refs.foreach { case (k, ref) =>
      val ms = MemoryStream[(Long, String, Double)](spark)
      val one = drive(s"psiby_spec_sink_$k", Streams.windowedPsi(
        ms.toDS().toDF("ts_us", "k", "value").filter(col("k") === k), ref,
        lo = 0.0, hi = 4.0), ms)
        .orderBy("bucket_us").collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val slice = by.filter(col("k") === k).orderBy("bucket_us").collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toSeq
      assert(one.length == 3 && slice == one,
        s"slice $k: windowedPsiBy $slice vs windowedPsi $one")
    }
    assert(by.filter(col("k") === "z").collect()
      .forall(r => r.getLong(2) == 30L && r.isNullAt(3)),
      "a slice with no reference must score NULL")
  }

  test("sequential monitors: output schema (names, types, nullability) " +
      "of the 10 streaming monitors and the 6 batch tests") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Analytics
    def shape(df: org.apache.spark.sql.DataFrame): String =
      df.schema.fields.map(f =>
        s"${f.name}:${f.dataType.simpleString}${if (f.nullable) "?" else ""}")
        .mkString(" ")
    val ev = MemoryStream[(Long, Double)](spark).toDS().toDF("ts_us", "value")
    val live = MemoryStream[(Long, Double, Option[Seq[Long]])](spark).toDS()
      .toDF("ts_us", "value", "ref")
    val arms = MemoryStream[(Long, String, Double)](spark).toDS()
      .toDF("ts_us", "g", "value")
    val conv = MemoryStream[(Long, String, Int)](spark).toDS()
      .toDF("ts_us", "g", "s")
    val one = Seq((1L, 1.0), (2L, 3.0), (3L, 2.0)).toDF("t", "v")
    val two = Seq((1L, "a", 1.0), (2L, "b", 3.0), (3L, "a", 2.0))
      .toDF("t", "g", "v")
    val bin = Seq((1L, "a", 1), (2L, "b", 0), (3L, "a", 1)).toDF("t", "g", "s")
    val rate = Seq((1L, 2L, 1.0), (2L, 0L, 0.5)).toDF("t", "x", "e")
    val ref = Seq(3L, 4L)
    val got = Seq(
      "windowedPsi" -> Streams.windowedPsi(ev, ref, 0.0, 1.0),
      "windowedJsd" -> Streams.windowedJsd(ev, ref, 0.0, 1.0),
      "windowedPsiBy" -> Streams.windowedPsiBy(arms, "g", Map("a" -> ref),
        0.0, 1.0),
      "windowedPsiLive" -> Streams.windowedPsiLive(live, ref, 0.0, 1.0),
      "windowedEwmaAnomaly" -> Streams.windowedEwmaAnomaly(ev),
      "windowedMsprt" -> Streams.windowedMsprt(ev, 0.0, 1.0, 1.0),
      "windowedMeanCs" -> Streams.windowedMeanCs(ev, 1.0, 1.0),
      "windowedMsprtTwoSample" -> Streams.windowedMsprtTwoSample(arms, "g",
        "a", "b", 1.0, 1.0),
      "windowedDiffCs" -> Streams.windowedDiffCs(arms, "g", "a", "b", 1.0,
        1.0),
      "windowedMsprtTwoProportion" -> Streams.windowedMsprtTwoProportion(
        conv, "g", "s", "a", "b", 0.05),
      "msprtMeanTest" -> Analytics.msprtMeanTest(one, "t", "v", 0.0, 1.0,
        1.0),
      "meanConfidenceSequence" -> Analytics.meanConfidenceSequence(one, "t",
        "v", 1.0, 1.0),
      "msprtTwoSampleTest" -> Analytics.msprtTwoSampleTest(two, "t", "g",
        "v", "a", "b", 1.0, 1.0),
      "diffConfidenceSequence" -> Analytics.diffConfidenceSequence(two, "t",
        "g", "v", "a", "b", 1.0, 1.0),
      "msprtTwoProportionTest" -> Analytics.msprtTwoProportionTest(bin, "t",
        "g", "s", "a", "b", 0.05),
      "msprtRateTest" -> Analytics.msprtRateTest(rate, "t", "x", "e", 1.0,
        1.0)).map { case (n, df) => n -> shape(df) }
    val want = Seq(
      "windowedPsi" ->
        "bucket_us:bigint? n:bigint psi:double?",
      "windowedJsd" ->
        "bucket_us:bigint? n:bigint jsd:double?",
      "windowedPsiBy" ->
        "bucket_us:bigint? g:string? n:bigint psi:double?",
      "windowedPsiLive" ->
        "bucket_us:bigint n:bigint psi:double",
      "windowedEwmaAnomaly" ->
        ("bucket_us:bigint n:bigint mean:double z:double? " +
         "is_anomaly:boolean?"),
      "windowedMsprt" ->
        ("bucket_us:bigint n_window:bigint n_total:bigint " +
         "mean_total:double e_log:double crossed:boolean"),
      "windowedMeanCs" ->
        ("bucket_us:bigint n_window:bigint n_total:bigint " +
         "mean_total:double radius:double ci_lo:double ci_hi:double"),
      "windowedMsprtTwoSample" ->
        ("bucket_us:bigint n_a_window:bigint n_b_window:bigint " +
         "n_a:bigint n_b:bigint mean_a:double? mean_b:double? " +
         "e_log:double? crossed:boolean?"),
      "windowedDiffCs" ->
        ("bucket_us:bigint n_a_window:bigint n_b_window:bigint " +
         "n_a:bigint n_b:bigint mean_a:double? mean_b:double? " +
         "diff:double? radius:double? ci_lo:double? ci_hi:double?"),
      "windowedMsprtTwoProportion" ->
        ("bucket_us:bigint n_a_window:bigint n_b_window:bigint " +
         "n_a:bigint n_b:bigint p_a:double? p_b:double? e_log:double? " +
         "crossed:boolean?"),
      "msprtMeanTest" ->
        ("t:bigint n:bigint? mean_v:double? e_log:double? " +
         "crossed:boolean?"),
      "meanConfidenceSequence" ->
        ("t:bigint n:bigint? mean_v:double? radius:double? " +
         "ci_lo:double? ci_hi:double?"),
      "msprtTwoSampleTest" ->
        ("t:bigint n_a:bigint? n_b:bigint? mean_a:double? " +
         "mean_b:double? e_log:double? crossed:boolean?"),
      "diffConfidenceSequence" ->
        ("t:bigint n_a:bigint? n_b:bigint? mean_a:double? " +
         "mean_b:double? diff:double? radius:double? ci_lo:double? " +
         "ci_hi:double?"),
      "msprtTwoProportionTest" ->
        ("t:bigint n_a:bigint? n_b:bigint? p_a:double? p_b:double? " +
         "e_log:double? crossed:boolean?"),
      "msprtRateTest" ->
        ("t:bigint x_total:double e_total:double? rate:double? " +
         "e_log:double? crossed:boolean?"))
    assert(got == want, got.map { case (n, s) => s"\"$n\" -> \"$s\"" }
      .mkString("\n"))
  }

  test("windowedPsiLive: mid-stream reference swap via a control row — " +
      "effective strictly after its window; no-control windows bit-equal " +
      "to windowedPsi; control-only windows emit nothing") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val hourUs = 3600L * 1000000L
    val initRef = Seq(40L, 40L, 40L, 40L)
    // w0: same shape as initRef → 0. w1: all mass in bin 0, PLUS a
    // control row swapping the reference to (80,0,0,0) — w1 itself must
    // still score against the OLD uniform reference. w2: all mass in
    // bin 0 again → against the NEW reference that is a perfect match
    // (exactly 0); without the swap it would repeat w1's drift score.
    val w0 = (0 until 40).flatMap(i =>
      Seq(0.5, 1.5, 2.5, 3.5).map(v => (i * 1000L, v, Option.empty[Seq[Long]])))
    val w1 = (0 until 80).map(i =>
      (hourUs + i * 1000L, 0.5, Option.empty[Seq[Long]]))
    val ctrl = (hourUs + 500L, 0.0, Option(Seq(80L, 0L, 0L, 0L)))
    val w2 = (0 until 80).map(i =>
      (2 * hourUs + i * 1000L, 0.5, Option.empty[Seq[Long]]))
    // w3 holds ONLY a second control row — swap applies, nothing emits
    val ctrl2 = (3 * hourUs + 1L, 0.0, Option(Seq(0L, 99L, 0L, 0L)))
    val flush = (10L * hourUs, 0.5, Option.empty[Seq[Long]])
    val ms = MemoryStream[(Long, Double, Option[Seq[Long]])](spark)
    val q = Streams.windowedPsiLive(ms.toDS().toDF("ts_us", "value", "ref"),
        initRef, lo = 0.0, hi = 4.0, watermark = "0 seconds",
        window_ = "1 hour")
      .writeStream.outputMode("append").format("memory")
      .queryName("psilive_sink").start()
    try {
      ms.addData(w0 ++ w1 :+ ctrl); q.processAllAvailable()
      ms.addData(w2 :+ ctrl2); q.processAllAvailable()
      ms.addData(Seq(flush)); q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("psilive_sink")
      .filter(col("bucket_us") < 4 * hourUs).orderBy("bucket_us").collect()
    // three scored windows (w3 was control-only: swap, no emission)
    assert(rows.length == 3, s"expected 3 scored windows, got ${rows.toSeq}")
    assert(rows(0).getLong(1) == 160L && rows(0).getDouble(2) == 0.0)
    assert(rows(2).getLong(1) == 80L && rows(2).getDouble(2) == 0.0,
      s"post-swap perfect-match window must score exactly 0: ${rows(2)}")
    // w1 against the OLD reference — and bit-equal to windowedPsi run
    // over the same data rows with the same fixed reference
    val ms2 = MemoryStream[(Long, Double)](spark)
    val q2 = Streams.windowedPsi(ms2.toDS().toDF("ts_us", "value"), initRef,
        lo = 0.0, hi = 4.0, watermark = "0 seconds", window_ = "1 hour")
      .writeStream.outputMode("append").format("memory")
      .queryName("psilive_ref_sink").start()
    try {
      ms2.addData(w0.map(t => (t._1, t._2)) ++ w1.map(t => (t._1, t._2)))
      q2.processAllAvailable()
      ms2.addData(Seq((10L * hourUs, 0.5))); q2.processAllAvailable()
    } finally q2.stop()
    val fixed = spark.table("psilive_ref_sink")
      .filter(col("bucket_us") < 2 * hourUs).orderBy("bucket_us").collect()
    assert(fixed.length == 2)
    (0 to 1).foreach { i =>
      assert(java.lang.Double.doubleToLongBits(rows(i).getDouble(2)) ==
        java.lang.Double.doubleToLongBits(fixed(i).getDouble(2)),
        s"window $i: live ${rows(i).getDouble(2)} != fixed ${fixed(i).getDouble(2)}")
    }
  }

  test("streamingTransitions: cross-batch boundary pair from state, " +
      "in-batch disorder repaired by the group sort") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ms = MemoryStream[Streams.SeqEvent](spark)
    val q = Streams.streamingTransitions(ms.toDS())
      .toDF("k", "prev", "next")
      .writeStream.outputMode("append").format("memory")
      .queryName("st_spec_sink").start()
    try {
      // batch 1, user 7: events delivered OUT of ts order (30 before 10)
      ms.addData(Seq(Streams.SeqEvent(7L, 30L, 3L, "C"),
        Streams.SeqEvent(7L, 10L, 1L, "A"), Streams.SeqEvent(7L, 20L, 2L, "B")))
      q.processAllAvailable()
      // batch 2: the boundary transition C→D must come out of state
      ms.addData(Seq(Streams.SeqEvent(7L, 40L, 4L, "D"),
        Streams.SeqEvent(8L, 5L, 5L, "X"))) // fresh key: no transition yet
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("st_spec_sink")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(got == Seq((7L, "A", "B"), (7L, "B", "C"), (7L, "C", "D")),
      s"got $got")
  }

  test("streamingTransitionsBounded: transitions as unbounded, TTL expiry " +
      "drops idle keys, returning key starts a fresh chain") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def t(ms: Long) = new java.sql.Timestamp(ms)
    val ms = MemoryStream[Streams.SeqEventT](spark)
    val q = Streams.streamingTransitionsBounded(ms.toDS(),
        watermarkDelay = "1 millisecond", ttlMs = 5000L)
      .toDF("k", "prev", "next")
      .writeStream.outputMode("append").format("memory")
      .queryName("stb_spec_sink").start()
    try {
      // b1: key 7 chains A→B; expiry arms at 11s + 5s = 16s
      ms.addData(Seq(Streams.SeqEventT(7L, t(10000), 1L, "A"),
        Streams.SeqEventT(7L, t(11000), 2L, "B")))
      q.processAllAvailable()
      // b2: advance the watermark far past key 7's expiry
      ms.addData(Seq(Streams.SeqEventT(8L, t(100000), 3L, "X")))
      q.processAllAvailable()
      // b3: watermark ≈ 100s > 16s → key 7's state expires THIS batch
      ms.addData(Seq(Streams.SeqEventT(8L, t(101000), 4L, "Y")))
      q.processAllAvailable()
      // b4: key 7 returns AFTER expiry — must emit NO boundary pair
      ms.addData(Seq(Streams.SeqEventT(7L, t(102000), 5L, "C")))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("stb_spec_sink")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(x => (x._1, x._2)).toSeq
    assert(got == Seq((7L, "A", "B"), (8L, "X", "Y")), s"got $got")
  }

  test("streamingTransitionsLate: a late cross-batch event is repaired " +
      "into event-time order before its transitions emit") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def t(ms: Long) = new java.sql.Timestamp(ms)
    val ms = MemoryStream[Streams.SeqEventT](spark)
    val q = Streams.streamingTransitionsLate(ms.toDS(),
        watermarkDelay = "5 seconds", ttlMs = 60000L)
      .toDF("k", "prev", "next")
      .writeStream.outputMode("append").format("memory")
      .queryName("stl_spec_sink").start()
    try {
      // b1: A@10s, C@12s — the naive per-batch walk would chain A→C
      ms.addData(Seq(Streams.SeqEventT(1L, t(10000), 1L, "A"),
        Streams.SeqEventT(1L, t(12000), 3L, "C")))
      q.processAllAvailable()
      // b2: B@11s arrives LATE (a batch after its successor C) but
      // inside the 5s bound; D@30s advances the watermark
      ms.addData(Seq(Streams.SeqEventT(1L, t(11000), 2L, "B"),
        Streams.SeqEventT(1L, t(30000), 4L, "D")))
      q.processAllAvailable()
      // b3: watermark 25s finalizes A,B,C → A→B, B→C emit (repaired)
      ms.addData(Seq(Streams.SeqEventT(1L, t(100000), 5L, "E")))
      q.processAllAvailable()
      // b4: watermark 95s finalizes D → C→D emits; then the no-data
      // batch Spark runs after the watermark advances to 195s fires the
      // pending-flush timeout and finalizes E → D→E (F stays pending)
      ms.addData(Seq(Streams.SeqEventT(1L, t(200000), 6L, "F")))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("stl_spec_sink")
      .collect().map(r => (r.getString(1), r.getString(2))).sorted.toSeq
    assert(got == Seq(("A", "B"), ("B", "C"), ("C", "D"), ("D", "E")),
      s"got $got")
  }

  test("streamingTransitionsLate: a flush timeout that drains the WHOLE " +
      "pending tail keeps lastType for ttlMs — a key returning within TTL " +
      "still emits its boundary transition") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def t(ms: Long) = new java.sql.Timestamp(ms)
    val ms = MemoryStream[Streams.SeqEventT](spark)
    val q = Streams.streamingTransitionsLate(ms.toDS(),
        watermarkDelay = "5 seconds", ttlMs = 500000L)
      .toDF("k", "prev", "next")
      .writeStream.outputMode("append").format("memory")
      .queryName("stl_flush_sink").start()
    try {
      // b1: A@10s is key 1's ONLY pending event
      ms.addData(Seq(Streams.SeqEventT(1L, t(10000), 1L, "A")))
      q.processAllAvailable()
      // b2: key 2 advances the watermark to 95s; the no-data batch then
      // fires key 1's pending-flush timeout with fin=[A], pend=[] — the
      // path that must KEEP lastType=A (TTL re-arms at 10s+500s), not
      // remove the state with the finalized tail
      ms.addData(Seq(Streams.SeqEventT(2L, t(100000), 2L, "X")))
      q.processAllAvailable()
      // b3: key 1 returns WITHIN TTL — B@101s buffers against lastType A
      ms.addData(Seq(Streams.SeqEventT(1L, t(101000), 3L, "B")))
      q.processAllAvailable()
      // b4: watermark → 195s; the flush finalizes B → A→B must emit
      ms.addData(Seq(Streams.SeqEventT(2L, t(200000), 4L, "Y")))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("stl_flush_sink")
      .collect().filter(_.getLong(0) == 1L)
      .map(r => (r.getString(1), r.getString(2))).sorted.toSeq
    assert(got == Seq(("A", "B")), s"got $got")
  }

  test("windowedHeavyHitters: per-window top-k with tie-break; exact " +
      "regime == batch groupBy; over-capacity keeps the overestimate " +
      "invariant and emits err") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val hourUs = 3600L * 1000000L
    // w0: a×3, b×2, c×2 (b/c tie → key asc); w1: a×1, d×4
    val w0 = Seq.fill(3)("a") ++ Seq.fill(2)("b") ++ Seq.fill(2)("c")
    val w1 = Seq("a") ++ Seq.fill(4)("d")
    val rows = w0.zipWithIndex.map { case (k, i) => (i * 1000L, k) } ++
      w1.zipWithIndex.map { case (k, i) => (hourUs + i * 1000L, k) }
    val ms = MemoryStream[(Long, String)](spark)
    val q = Streams.windowedHeavyHitters(ms.toDS().toDF("ts_us", "key"),
        watermark = "0 seconds", window_ = "1 hour", capacity = 8, k = 2)
      .writeStream.outputMode("append").format("memory")
      .queryName("hh_sink").start()
    try {
      ms.addData(rows); q.processAllAvailable()
      ms.addData(Seq((10L * hourUs, "z"))); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("hh_sink")
      .filter(col("bucket_us") < 2 * hourUs)
      .orderBy("bucket_us", "rank").collect()
      .map(r => (r.getLong(0) / hourUs, r.getLong(1), r.getLong(2),
        r.getString(3), r.getLong(4), r.getLong(5))).toSeq
    // capacity 8 > distinct keys → EXACT: counts right, err 0, b beats
    // c on the key tie-break
    assert(got == Seq(
      (0L, 7L, 1L, "a", 3L, 0L), (0L, 7L, 2L, "b", 2L, 0L),
      (1L, 5L, 1L, "d", 4L, 0L), (1L, 5L, 2L, "a", 1L, 0L)), s"got $got")
    // over-capacity: 5 distinct through capacity 2 — the top key's
    // count may overestimate but never undercounts, err bounds the gap
    val heavy = (Seq.fill(10)("hot") ++ Seq("x", "y", "u", "v"))
      .zipWithIndex.map { case (k, i) => (i * 1000L, k) }
    val ms2 = MemoryStream[(Long, String)](spark)
    val q2 = Streams.windowedHeavyHitters(ms2.toDS().toDF("ts_us", "key"),
        watermark = "0 seconds", window_ = "1 hour", capacity = 2, k = 1)
      .writeStream.outputMode("append").format("memory")
      .queryName("hh_sink2").start()
    try {
      ms2.addData(heavy); q2.processAllAvailable()
      ms2.addData(Seq((10L * hourUs, "z"))); q2.processAllAvailable()
    } finally q2.stop()
    val top = spark.table("hh_sink2").filter(col("bucket_us") === 0L)
      .collect().map(r => (r.getString(3), r.getLong(4), r.getLong(5))).head
    assert(top._1 == "hot")
    assert(top._2 >= 10L && top._2 <= 10L + top._3,
      s"overestimate invariant violated: $top")
  }

  test("Moments sketch runs under Structured Streaming == batch result") {
    val dir = Files.createTempDirectory("graft_skstream").toFile.getPath
    val ev = Tables.events(spark, sf).select(col("event_type"), col("value"))
    ev.coalesce(1).write.mode("overwrite").parquet(dir)
    val src = spark.readStream.schema(ev.schema).parquet(dir)
      .as[(String, Double)]
    val agg = src.groupByKey(_._1).mapValues(_._2)
      .agg(graft.functions.Sketches.MomentsAgg.toColumn)
    val got = Streams.runOnce(agg.toDF("event_type", "moments"), "mom_test",
      mode = "complete")
    val batch = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"), avg("value").as("mean")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    got.collect().foreach { r =>
      val m = r.getStruct(1)
      val (n, mean) = batch(r.getString(0))
      assert(m.getLong(0) == n)
      assert(math.abs(m.getDouble(1) - mean) < 1e-9)
    }
  }

  test("loadtable: multi-nastrings nulled post-load; spacedelim") {
    val dir = Files.createTempDirectory("graft_csv4").toFile
    Files.writeString(new java.io.File(dir, "na.csv").toPath,
      "a,b\n1,x\nNA,NULL\n2,-\n")
    val t = IO.loadtable(spark, Seq(s"$dir/na.csv"),
      IO.CsvOptions(nastrings = Seq("NA", "NULL", "-")))
    val rows = t.df.orderBy(col("a").asc_nulls_last).collect()
    assert(rows.map(r => Option(r.get(0))).toSeq == Seq(Some(1), Some(2), None))
    assert(rows.map(r => Option(r.get(1))).toSeq == Seq(Some("x"), None, None))

    Files.writeString(new java.io.File(dir, "sp.csv").toPath, "a b\n1 2\n3 4\n")
    val sp = IO.loadtable(spark, Seq(s"$dir/sp.csv"), IO.CsvOptions(spacedelim = true))
    assert(sp.df.columns.toSeq == Seq("a", "b"))
    assert(sp.df.orderBy("a").collect().map(r => (r.getInt(0), r.getInt(1))).toSeq ==
      Seq((1, 2), (3, 4)))
  }

  test("loadtable: typeDetectRows pins the schema from the first N rows") {
    val dir = Files.createTempDirectory("graft_csv5").toFile
    // first 2 data rows are integral; row 3 is not — the reference's
    // type_detect_rows=2 sample infers Int and later rows fail to parse
    Files.writeString(new java.io.File(dir, "t.csv").toPath, "a\n1\n2\n3.5\n")
    val t = IO.loadtable(spark, Seq(s"$dir/t.csv"), IO.CsvOptions(typeDetectRows = 2))
    assert(t.df.schema("a").dataType == org.apache.spark.sql.types.IntegerType)
    assert(t.df.filter(col("a").isNull).count() == 1) // "3.5" → null, not a full-scan re-infer
    // a larger sample sees the double and widens
    val t2 = IO.loadtable(spark, Seq(s"$dir/t.csv"), IO.CsvOptions(typeDetectRows = 3))
    assert(t2.df.schema("a").dataType == org.apache.spark.sql.types.DoubleType)
  }

  test("loadtable inference: later files' headers can't enter the sample") {
    val dir = Files.createTempDirectory("graft_csv6").toFile
    // file one has FEWER data rows than typeDetectRows: a raw-line sample
    // would spill into file two and read its header "a,b" as a data row,
    // demoting both columns to string; sampling through the CSV reader
    // consumes every file's header
    Files.writeString(new java.io.File(dir, "f1.csv").toPath, "a,b\n1,10\n2,20\n")
    Files.writeString(new java.io.File(dir, "f2.csv").toPath, "a,b\n3,30\n4,40\n")
    val t = IO.loadtable(spark, Seq(s"$dir/f1.csv", s"$dir/f2.csv"),
      IO.CsvOptions(typeDetectRows = 5))
    assert(t.df.schema("a").dataType == org.apache.spark.sql.types.IntegerType,
      s"header line polluted the inference sample: ${t.df.schema}")
    assert(t.df.schema("b").dataType == org.apache.spark.sql.types.IntegerType)
    assert(t.df.count() == 4)
  }

  test("loadtable inference: quoted multi-line records sampled whole") {
    val dir = Files.createTempDirectory("graft_csv7").toFile
    // a raw-line sample would split the quoted record mid-field and see
    // "two" / "lines" as malformed rows; the CSV reader keeps it whole
    Files.writeString(new java.io.File(dir, "m.csv").toPath,
      "a,b\n1,\"two\nlines\"\n2,plain\n")
    val t = IO.loadtable(spark, Seq(s"$dir/m.csv"),
      IO.CsvOptions(typeDetectRows = 2, multiline = true))
    assert(t.df.schema("a").dataType == org.apache.spark.sql.types.IntegerType)
    assert(t.df.count() == 2)
    assert(t.df.filter(col("b").contains("\n")).count() == 1)
  }

  test("loadndsparse: implicit 1:n index when no indexcols (reference io.jl:19-29)") {
    val dir = Files.createTempDirectory("graft_nd").toFile
    Files.writeString(new java.io.File(dir, "nd.csv").toPath,
      "x,y\n10,a\n20,b\n30,c\n")
    val nd = IO.loadndsparse(spark, Seq(s"$dir/nd.csv"))
    assert(nd.dims == Seq("idx"))
    assert(nd.valueCols == Seq("x", "y"))
    val rows = nd.table.df.orderBy("idx").collect()
      .map(r => (r.getAs[Long]("idx"), r.getAs[Int]("x"), r.getAs[String]("y"))).toSeq
    assert(rows == Seq((1L, 10, "a"), (2L, 20, "b"), (3L, 30, "c")))
    // point lookup on the synthesized dimension
    assert(nd.lookup(2L).collect().map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((20, "b")))
    // explicit indexcols still win
    val nd2 = IO.loadndsparse(spark, Seq(s"$dir/nd.csv"), indexcols = Seq("x"))
    assert(nd2.dims == Seq("x") && nd2.valueCols == Seq("y"))
  }

  test("streamingDedupBounded: expired keys re-admit (EventTimeTimeout)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    val ms = MemoryStream[Streams.KeyedEvent](spark)
    val out = Streams.streamingDedupBounded(ms.toDS(), "0 seconds", ttlMs = 10000L)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("dedup_ttl_test").start()
    try {
      def t(sec: Int) = new Timestamp(1700000000000L + sec * 1000L)
      ms.addData(Streams.KeyedEvent("a", t(0), 1L)); q.processAllAvailable()
      ms.addData(Streams.KeyedEvent("c", t(60), 2L)); q.processAllAvailable()  // watermark → t(0+60)
      ms.addData(Streams.KeyedEvent("d", t(120), 3L)); q.processAllAvailable() // a times out here
      ms.addData(Streams.KeyedEvent("a", t(180), 4L)); q.processAllAvailable() // a re-admitted
      val keys = spark.table("dedup_ttl_test").collect().map(_.getString(0)).toSeq
      assert(keys.count(_ == "a") == 2, s"expired key not re-admitted: $keys")
      assert(keys.count(_ == "c") == 1 && keys.count(_ == "d") == 1)
      // within-TTL duplicates stay suppressed
      ms.addData(Streams.KeyedEvent("a", t(181), 5L)); q.processAllAvailable()
      assert(spark.table("dedup_ttl_test").collect().count(_.getString(0) == "a") == 2)
    } finally q.stop()
  }

  test("curateStream: quality gate + digest dedup over a micro-batched crawl") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    val good = ("spark " * 10 + "table scan the a of merge join " +
      (1 to 40).map(i => s"w$i").mkString(" ")).trim  // 57 tokens, low dup2
    val short = "the a tiny doc"                      // fails minTokens
    val ms = MemoryStream[(Long, String, Timestamp)](spark)
    val docs = ms.toDS().toDF("doc_id", "text", "crawl_ts")
    val out = Streams.curateStream(docs, "doc_id", "text", "crawl_ts",
      "0 seconds", ttlMs = 3600 * 1000L, minTokens = 50, maxDupFrac = 0.9)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("curate_test").start()
    try {
      def t(sec: Int) = new Timestamp(1700000000000L + sec * 1000L)
      ms.addData((1L, good, t(0)), (2L, short, t(1)))
      q.processAllAvailable()
      // duplicate content (same normalized text, different id) in a later batch
      ms.addData((3L, good + "  ", t(2)), (4L, good + " extra tail", t(3)))
      q.processAllAvailable()
      val ids = spark.table("curate_test").collect().map(_.getLong(2)).sorted.toSeq
      // 1 survives (first-seen quality doc); 2 fails the gate; 3 is a
      // normalized-content dup of 1; 4 is distinct content
      assert(ids == Seq(1L, 4L), s"got $ids")
    } finally q.stop()
  }

  /** (rows emitted by the parquet scans, files read) of an ALREADY
    * EXECUTED df — recursing through AQE roots and materialized query
    * stages, which collectLeaves treats as leaves. */
  private def scanMetrics(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scans = Diagnostics.planNodes(df.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec => f }
    (scans.map(_.metrics("numOutputRows").value).sum,
      scans.map(_.metrics("numFiles").value).sum)
  }

  test("saveSorted: range predicate SKIPS row groups (scan metrics), unsorted reads all") {
    import graft.sources.IO
    val ev = Tables.events(spark, sf) // 1000 rows, ts spans 30 days of ns
    val total = ev.count()
    val base = Files.createTempDirectory("graft_sorted").toFile.getPath
    IO.saveSorted(ev, s"$base/sorted", numFiles = 8, sortCols = Seq("ts"))
    // unsorted control: same data, same file count, round-robin layout —
    // every file spans the whole ts range, so its stats exclude nothing
    ev.repartition(8).write.mode("overwrite").parquet(s"$base/unsorted")
    val loNs = 1705276800000000L * 1000L // 2024-01-15 UTC, 1-day window
    val hiNs = 1705363200000000L * 1000L
    def scannedRows(dir: String): (Long, Seq[Row]) = {
      val df = spark.read.parquet(dir)
        .filter(col("ts") >= lit(loNs) && col("ts") < lit(hiNs))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("sv"))
        .orderBy("event_type")
      val rows = df.collect().toSeq
      (scanMetrics(df)._1, rows)
    }
    val (sortedScan, sortedRows) = scannedRows(s"$base/sorted")
    val (unsortedScan, unsortedRows) = scannedRows(s"$base/unsorted")
    assert(sortedRows == unsortedRows, "layout changed query results")
    assert(sortedRows.nonEmpty, "window must hit rows for the test to mean anything")
    // unsorted: every file's row group overlaps the window → reader emits
    // everything; sorted: only the 1-2 files owning the window's range
    assert(unsortedScan == total, s"control should read all $total rows, read $unsortedScan")
    assert(sortedScan <= total / 4,
      s"sorted layout should skip most row groups: scanned $sortedScan of $total")
  }

  test("savePartitioned: day predicate prunes directories STATICALLY; roundtrip exact") {
    import graft.sources.IO
    val ev = Tables.events(spark, sf)
      .withColumn("day", to_date(timestamp_micros(expr("ts div 1000"))))
    val base = Files.createTempDirectory("graft_hive").toFile.getPath
    IO.savePartitioned(ev.drop("day").withColumn("day",
        to_date(timestamp_micros(expr("ts div 1000")))),
      s"$base/by_day", partCols = Seq("day"), sortCols = Seq("ts"))
    val day = java.sql.Date.valueOf("2024-01-15")
    val dayRows = ev.filter(col("day") === lit(day)).count()
    assert(dayRows > 0 && dayRows < ev.count(), "fixture must spread across days")
    // roundtrip: the day's rows through the hive layout == through the table
    val hive = spark.read.parquet(s"$base/by_day").filter(col("day") === lit(day))
      .select(col("event_id"), col("ts"), col("value"))
    val direct = ev.filter(col("day") === lit(day))
      .select(col("event_id"), col("ts"), col("value"))
    assert(hive.collect().sortBy(_.getLong(0)).toSeq ==
      direct.collect().sortBy(_.getLong(0)).toSeq)
    // pruning is STATIC: the plan carries the day as a PartitionFilter and
    // the executed scan touches only that day's rows/files
    val agg = spark.read.parquet(s"$base/by_day").filter(col("day") === lit(day))
      .agg(count(lit(1))).toDF("n")
    agg.collect()
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("day"),
      s"day predicate should be a partition filter:\n$plan")
    val (scanned, files) = scanMetrics(agg)
    assert(scanned == dayRows, s"scan should emit only the day's $dayRows rows, got $scanned")
    val nDays = ev.select("day").distinct().count()
    assert(files < nDays, s"should read fewer files ($files) than partition dirs ($nDays)")
  }

  test("upsertPartitionsCdc: upsert/delete/full-partition-delete; untouched files; bad op") {
    import spark.implicits._
    import graft.sources.IO
    val dir = java.nio.file.Files.createTempDirectory("graft-cdcdel-spec")
      .toFile.getPath + "/t"
    val base = Seq(("a", 1L, 10.0), ("a", 2L, 20.0),
      ("b", 3L, 30.0), ("c", 4L, 40.0)).toDF("p", "k", "v")
    IO.savePartitioned(base, dir, Seq("p"), Seq("k"))
    val untouchedFile = new java.io.File(s"$dir/p=c").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val m0 = untouchedFile.lastModified()
    // upsert k=1, delete k=2 (partition a survives), delete k=3
    // (partition b fully emptied → directory must vanish)
    val changes = Seq(
      ("a", 1L, 11.0, "upsert"), ("a", 2L, 0.0, "delete"),
      ("b", 3L, 0.0, "delete")).toDF("p", "k", "v", "op")
    IO.upsertPartitionsCdc(spark, dir, changes, Seq("p"), Seq("k"), "op")
    val got = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
      .sortBy(_._1).toSeq
    assert(got == Seq((1L, 11.0, "a"), (4L, 40.0, "c"))
      || got.map(t => (t._1, t._2)) == Seq((1L, 11.0), (4L, 40.0)))
    assert(!new java.io.File(s"$dir/p=b").exists(), "emptied partition dir must be removed")
    assert(new java.io.File(s"$dir/p=c").exists())
    assert(untouchedFile.lastModified() == m0, "untouched partition rewritten")
    // unknown op fails loudly, naming the column
    val bad = Seq(("a", 1L, 1.0, "merge")).toDF("p", "k", "v", "op")
    val e = intercept[Exception] {
      IO.upsertPartitionsCdc(spark, dir, bad, Seq("p"), Seq("k"), "op")
    }
    assert(e.getMessage.contains("upsert") || e.getMessage.contains("op"))
  }

  test("loadBinary: arbitrary bytes round-trip exactly; glob filters; path metadata") {
    val root = java.nio.file.Files.createTempDirectory("graft-binspec-")
    // adversarial: non-UTF8 bytes, zero bytes, empty file
    val payloads = Map(
      "a.bin" -> Array[Byte](0, 1, -1, -128, 127, 0, 66),
      "b.bin" -> Array[Byte](42),
      "empty.bin" -> Array.empty[Byte], // zero-length: SKIPPED by the source
      "skip.txt" -> Array[Byte](9, 9, 9))
    payloads.foreach { case (n, b) =>
      java.nio.file.Files.write(root.resolve(n), b) }
    val got = graft.sources.IO.loadBinary(spark, root.toString,
        globFilter = Some("*.bin"))
      .select("path", "length", "content").collect()
      .map(r => (r.getString(0).split('/').last, r.getLong(1), r.getAs[Array[Byte]](2)))
      .sortBy(_._1)
    // .txt glob-filtered; the zero-length file is dropped by Spark's
    // file-source listing (pinned here as the documented contract)
    assert(got.map(_._1).toSeq == Seq("a.bin", "b.bin"))
    got.foreach { case (n, len, bytes) =>
      assert(len == payloads(n).length.toLong)
      assert(bytes.sameElements(payloads(n)), s"bytes differ for $n")
    }
  }

  test("saveZOrdered: row-group stats prune on BOTH dimensions; roundtrip exact") {
    import graft.sources.IO
    val ev = Tables.events(spark, sf) // 1000 rows, 15 users, 30 days
    val total = ev.count()
    val base = Files.createTempDirectory("graft_z").toFile.getPath
    IO.saveZOrdered(ev, s"$base/z", numFiles = 8, zCols = ("user_id", "ts"))
    def scan(filter: org.apache.spark.sql.Column): (Long, Long) = {
      val df = spark.read.parquet(s"$base/z").filter(filter)
        .agg(count(lit(1)), sum(col("value").cast("decimal(18,4)")))
      df.collect()
      (scanMetrics(df)._1,
        ev.filter(filter).count())
    }
    // roundtrip: full content preserved through the relayout
    assert(spark.read.parquet(s"$base/z").count() == total)
    // a predicate on EITHER z dimension alone prunes row groups — the
    // property a 1-D sort cannot give its trailing column
    val (uScan, uRows) = scan(col("user_id") <= 2)
    val loNs = 1705276800000000L * 1000L
    val (tScan, tRows) = scan(col("ts") >= lit(loNs) && col("ts") < lit(loNs + 86400000000L * 1000L))
    assert(uRows > 0 && tRows > 0, "both predicates must select rows")
    assert(uScan < total, s"user_id predicate should skip row groups: scanned $uScan of $total")
    assert(tScan < total, s"ts predicate should skip row groups: scanned $tScan of $total")
  }

  test("compactPartitions: oversized day rewritten to one file, others untouched") {
    import graft.sources.IO
    import java.nio.file.{Files => JFiles, Paths}
    val base = Files.createTempDirectory("graft_compact").toFile.getPath + "/t"
    val t0 = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "p", "v")
    IO.savePartitioned(t0, base, partCols = Seq("p"), sortCols = Seq("k"))
    // the append-ingest regime: two more batches land in partition a
    Seq((3L, "a", 3.0)).toDF("k", "p", "v")
      .write.mode("append").partitionBy("p").parquet(base)
    Seq((4L, "a", 4.0)).toDF("k", "p", "v")
      .write.mode("append").partitionBy("p").parquet(base)
    def files(p: String): Map[String, Long] =
      JFiles.list(Paths.get(s"$base/p=$p")).toArray.map(_.toString)
        .filter(_.endsWith(".parquet"))
        .map(f => f -> JFiles.getLastModifiedTime(Paths.get(f)).toMillis).toMap
    assert(files("a").size == 3, s"append should accumulate files: ${files("a")}")
    val bBefore = files("b")
    IO.compactPartitions(spark, base, "p", sortCols = Seq("k"))
    assert(files("a").size == 1, s"compaction should leave one file: ${files("a")}")
    assert(files("b") == bBefore, "partition within bound must not be rewritten")
    val got = spark.read.parquet(base).select("k", "p", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(got == Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0), (4L, "a", 4.0)))
  }

  test("cdcSink: bootstrap creates the table; later micro-batches win per key") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Streams
    val base = Files.createTempDirectory("graft_cdcsink").toFile.getPath + "/t"
    val ms = MemoryStream[(Long, String, Double)](spark)
    val upd = ms.toDS().toDF("k", "p", "v")
    val q = Streams.cdcSink(upd, base, partCols = Seq("p"), keyCols = Seq("k"),
      sortCols = Seq("k")).start()
    try {
      ms.addData(Seq((1L, "a", 1.0), (2L, "b", 2.0))) // bootstrap: no dir yet
      q.processAllAvailable()
      ms.addData(Seq((1L, "a", 10.0), (3L, "a", 3.0))) // replace k=1, insert k=3
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(base).select("k", "p", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(got == Seq((1L, "a", 10.0), (2L, "b", 2.0), (3L, "a", 3.0)))
  }

  test("upsertPartitions: replace/insert/new-partition; untouched dirs NOT rewritten") {
    import graft.sources.IO
    import java.nio.file.{Files => JFiles, Paths}
    val base = Files.createTempDirectory("graft_cdc").toFile.getPath + "/t"
    val t0 = Seq(
      (1L, "a", 10.0), (2L, "a", 20.0), // partition a
      (3L, "b", 30.0)) // partition b — never touched
      .toDF("k", "p", "v")
    IO.savePartitioned(t0, base, partCols = Seq("p"), sortCols = Seq("k"))
    def filesOf(p: String): Map[String, Long] = {
      val d = Paths.get(s"$base/p=$p")
      if (!JFiles.exists(d)) Map.empty
      else JFiles.list(d).toArray.map(_.toString)
        .filter(_.endsWith(".parquet"))
        .map(f => f -> JFiles.getLastModifiedTime(Paths.get(f)).toMillis).toMap
    }
    val bBefore = filesOf("b")
    assert(bBefore.nonEmpty)
    // update k=1, insert k=9 into partition a, open NEW partition c
    val upd = Seq((1L, "a", 11.0), (9L, "a", 90.0), (7L, "c", 70.0))
      .toDF("k", "p", "v")
    IO.upsertPartitions(spark, base, upd, partCols = Seq("p"), keyCols = Seq("k"),
      sortCols = Seq("k"))
    val got = spark.read.parquet(base).select("k", "p", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(got == Seq((1L, "a", 11.0), (2L, "a", 20.0), (3L, "b", 30.0),
      (7L, "c", 70.0), (9L, "a", 90.0)))
    // the untouched partition's files are byte-for-byte the ones written
    // at save time — same paths, same mtimes (dynamic overwrite never
    // visited the directory)
    assert(filesOf("b") == bBefore,
      s"untouched partition rewritten: $bBefore -> ${filesOf("b")}")
    assert(filesOf("c").nonEmpty, "new partition directory must be created")
  }

  test("streaming sessionAgg: session MERGES across micro-batches, watermark closes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Streams
    val h = 3600L * 1000000L // 1 h in µs; gap = 12 h
    val ms = MemoryStream[(Long, Long, Double)](spark)
    val out = Streams.sessionAgg(ms.toDS().toDF("ts_us", "user_id", "value"),
      watermark = "0 seconds", gap = "12 hours")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("sessions_test").start()
    try {
      // batch 1: user 1 session open (0 h, 6 h); user 2 singleton at 1 h
      ms.addData(Seq((0L, 1L, 1.0), (6 * h, 1L, 2.0), (1 * h, 2L, 5.0)))
      q.processAllAvailable()
      // batch 2: 10 h is within 12 h of 6 h → must MERGE into the open
      // session in the state store (not start a new one); flush at +4 gaps
      // advances the watermark so both real sessions close and emit
      ms.addData(Seq((10 * h, 1L, 4.0), (10 * h + 48 * h, -1L, 0.0)))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("sessions_test").orderBy("user_id", "session_start_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(rows == Seq(
      (1L, 0L, 10 * h, 3L, 7.0),
      (2L, 1 * h, 1 * h, 1L, 5.0)))
  }

  test("enrichJoin: interval bounds inclusive, cross-batch state, wrong-key/outside excluded") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Streams
    val h = 3600L * 1000000L
    val msL = MemoryStream[(Long, Long, Long)](spark)
    val msR = MemoryStream[(Long, Long, Long)](spark)
    val out = Streams.enrichJoin(
      msL.toDS().toDF("ts_us", "k", "lid"),
      msR.toDS().toDF("rts_us", "k", "rid"),
      key = "k", lTime = "ts_us", rTime = "rts_us",
      watermark = "0 seconds", lookback = "2 hours")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("enrich_test").start()
    try {
      // batch 1: only right rows — they must be BUFFERED as state
      msR.addData(Seq(
        (10 * h, 1L, 100L), // exactly at lookback edge of the 12h purchase → inclusive
        (12 * h, 1L, 101L), // exactly at purchase time → inclusive
        (13 * h, 1L, 102L), // after the purchase → excluded
        (11 * h, 2L, 103L), // wrong key → excluded
        (10 * h - 1, 1L, 104L))) // 1 µs before the window → excluded
      q.processAllAvailable()
      // batch 2: the purchase arrives — matches come from buffered state
      msL.addData(Seq((12 * h, 1L, 7L)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("enrich_test").select("lid", "rid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == Seq((7L, 100L), (7L, 101L)), got.mkString(","))
  }

  test("streamingDedup emits first occurrence per key only") {
    val dir = Files.createTempDirectory("graft_dedup").toFile.getPath
    Seq(Streams.Keyed("a", 1L), Streams.Keyed("a", 2L), Streams.Keyed("b", 3L))
      .toDS().coalesce(1).write.mode("overwrite").parquet(dir)
    val src = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[Streams.Keyed]].schema)
      .parquet(dir).as[Streams.Keyed]
    val out = Streams.runOnce(Streams.streamingDedup(src).toDF(), "dedup_test")
    val keys = out.collect().map(_.getString(0)).sorted.toSeq
    assert(keys == Seq("a", "b"))
  }

  test("dedupSink: digest index survives a query RESTART (unlike state-store dedup)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = Files.createTempDirectory("graft_sdedup").toFile.getPath
    def drive(ckpt: String, rows: Seq[(Long, String)]): Unit = {
      val ms = MemoryStream[(Long, String)](spark)
      val q = Streams.dedupSink(ms.toDS().toDF("id", "text"), "id", "text",
          s"$root/digests", s"$root/out")
        .option("checkpointLocation", s"$root/$ckpt").start()
      try { ms.addData(rows); q.processAllAvailable() } finally q.stop()
    }
    drive("ckpt1", Seq((1L, "alpha"), (2L, "beta")))
    // a brand-new query (fresh checkpoint, fresh source — nothing shared
    // but the index path) must still reject the already-admitted texts
    drive("ckpt2", Seq((10L, "alpha"), (11L, "gamma"), (12L, "beta")))
    val got = spark.read.parquet(s"$root/out")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 2L, 11L), got.mkString(","))
  }

  test("loadJsonl: corrupt line isolated, not fatal; adversarial text round-trips byte-exact") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_jsonl").toFile
    // hand-authored shard: 2 good lines, 1 broken line in the middle
    val f = new java.io.File(dir, "part-0.jsonl")
    Files.writeString(f.toPath,
      """{"id": 1, "text": "ok line"}
        |{"id": 2, "text": BROKEN
        |{"id": 3, "text": "also ok"}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val got = IO.loadJsonl(spark, Seq(f.getAbsolutePath), schema)
      .orderBy("id").collect()
    assert(got.length == 3)
    val corrupt = got.filter(!_.isNullAt(2))
    assert(corrupt.length == 1 && corrupt.head.getString(2).contains("BROKEN"),
      "broken line must land in _corrupt_record, not kill the read")
    assert(got.filter(_.isNullAt(2)).map(r => (r.getLong(0), r.getString(1))).toSeq
      == Seq((1L, "ok line"), (3L, "also ok")))
    // save→load round trip of text JSON must escape: quotes, backslashes,
    // newlines/tabs, unicode, control chars
    val nasty = Seq(
      (1L, "plain"),
      (2L, "with \"quotes\" and \\backslash\\"),
      (3L, "line\nbreak\tand tab"),
      (4L, "unicode: é中文 😀"),
      (5L, "ctrl: end")).toDF("id", "text")
    val rt = new java.io.File(dir, "roundtrip").getAbsolutePath
    IO.saveJsonl(nasty, rt)
    val back = IO.loadJsonl(spark, Seq(rt),
        StructType(Seq(StructField("id", LongType), StructField("text", StringType))))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(back == nasty.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq)
  }

  test("snapshots: versioned reads, reader isolation, pointer is the commit") {
    import spark.implicits._
    val dir = Files.createTempDirectory("snap-spec-").toAbsolutePath
      .toString + "/t"
    def slice(lo: Long, hi: Long) =
      (lo until hi).map(i => (i, s"row$i")).toDF("id", "s")
    assert(IO.saveSnapshot(slice(0, 5), dir) == 1)
    // a reader planned on v1 BEFORE v2 exists...
    val v1Reader = IO.loadSnapshot(spark, dir)
    assert(IO.saveSnapshot(slice(100, 108), dir) == 2)
    assert(IO.saveSnapshot(slice(200, 201), dir) == 3)
    // ...is undisturbed by the later commits (immutable files)
    assert(v1Reader.collect().map(_.getLong(0)).sorted.toSeq == (0L until 5L))
    // time travel: every version exact
    assert(IO.loadSnapshot(spark, dir, 1).count() == 5)
    assert(IO.loadSnapshot(spark, dir, 2)
      .collect().map(_.getLong(0)).sorted.toSeq == (100L until 108L))
    assert(IO.loadSnapshot(spark, dir, 3).count() == 1)
    // latest follows the pointer
    assert(IO.loadSnapshot(spark, dir).collect().map(_.getLong(0)).toSeq
      == Seq(200L))
    assert(IO.snapshotVersions(spark, dir) == Seq(1, 2, 3))
    // a crashed save (manifest written, pointer never flipped) must NOT
    // become latest — the flip is the commit point
    Files.writeString(java.nio.file.Paths.get(s"$dir/_manifests/v9.manifest"),
      s"$dir/v1/nonexistent.parquet")
    assert(IO.loadSnapshot(spark, dir).collect().map(_.getLong(0)).toSeq
      == Seq(200L))
    // unknown explicit version fails loudly
    intercept[IllegalArgumentException] { IO.loadSnapshot(spark, dir, 7) }
  }

  test("snapshots: sourceTag rides the pointer flip atomically") {
    import spark.implicits._
    val dir = Files.createTempDirectory("snaptag-spec-").toAbsolutePath
      .toString + "/t"
    // untagged save: no tag, pointer still parses
    IO.saveSnapshot(Seq((1L, "a")).toDF("id", "s"), dir)
    assert(IO.latestSnapshotTag(dir).isEmpty)
    // tagged save: the tag and the version commit in the same pointer
    // file — this is snapshotSink's no-crash-window replay marker
    IO.saveSnapshot(Seq((2L, "b")).toDF("id", "s"), dir, "qX:7")
    assert(IO.latestSnapshotTag(dir).contains("qX:7"))
    assert(IO.loadSnapshot(spark, dir).collect().map(_.getLong(0)).toSeq
      == Seq(2L))
    assert(IO.snapshotVersions(spark, dir) == Seq(1, 2))
    // vacuum parses the tagged pointer too
    assert(IO.vacuumSnapshots(spark, dir, keepLast = 1) == Seq(1))
    // whitespace tags are rejected (would corrupt the pointer grammar)
    intercept[IllegalArgumentException] {
      IO.saveSnapshot(Seq((3L, "c")).toDF("id", "s"), dir, "bad tag")
    }
  }

  test("snapshotSink: crash between publish and side marker does not " +
    "duplicate on replay (pointer tag is the commit)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = Files.createTempDirectory("ssnapcrash-spec-").toAbsolutePath
      .toString + "/t"
    val ms = MemoryStream[(Long, String)](spark)
    val q = Streams.snapshotSink(ms.toDS().toDF("id", "s"), dir)
      .option("checkpointLocation", dir + "-ck").start()
    try { ms.addData(Seq((1L, "a"))); q.processAllAvailable() }
    finally q.stop()
    assert(IO.snapshotVersions(spark, dir) == Seq(1))
    val tag = IO.latestSnapshotTag(dir)
    assert(tag.exists(_.endsWith(":0")), s"tag: $tag")
    // simulate the old crash window: the side marker never landed
    val marker = new java.io.File(s"$dir/_manifests").listFiles()
      .find(_.getName.startsWith("_last_batch_")).get
    assert(marker.delete())
    // foreachBatch replays batch 0 from the same checkpoint only if the
    // sink raced the commit; drive the same decision path directly —
    // the pointer-carried (queryId, batchId) alone must skip the replay
    val qid = tag.get.split(":")(0)
    val tagCommitted = IO.latestSnapshotTag(dir)
      .flatMap { t => t.split(":", 2) match {
        case Array(q0, b) if q0 == qid => b.toLongOption
        case _ => None
      } }.exists(_ >= 0L)
    assert(tagCommitted, "replayed batch 0 would have re-published")
    // and a LATER batch (id 1) is not blocked by the tag
    val laterBlocked = IO.latestSnapshotTag(dir)
      .flatMap { t => t.split(":", 2) match {
        case Array(q0, b) if q0 == qid => b.toLongOption
        case _ => None
      } }.exists(_ >= 1L)
    assert(!laterBlocked)
  }

  test("vacuumSnapshots: drops old versions, latest always survives") {
    import spark.implicits._
    val dir = Files.createTempDirectory("vac-spec-").toAbsolutePath
      .toString + "/t"
    (1 to 4).foreach(i => IO.saveSnapshot(
      Seq((i.toLong, s"v$i")).toDF("id", "s"), dir))
    val dropped = IO.vacuumSnapshots(spark, dir, keepLast = 2)
    assert(dropped == Seq(1, 2))
    assert(IO.snapshotVersions(spark, dir) == Seq(3, 4))
    assert(!new java.io.File(s"$dir/v1").exists())
    assert(IO.loadSnapshot(spark, dir).collect().head.getString(1) == "v4")
    assert(IO.loadSnapshot(spark, dir, 3).collect().head.getString(1) == "v3")
    intercept[IllegalArgumentException] { IO.loadSnapshot(spark, dir, 1) }
    // keepLast larger than history: no-op
    assert(IO.vacuumSnapshots(spark, dir, keepLast = 10) == Seq.empty)
  }

  test("snapshotSink: one version per batch, publication survives restart") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = Files.createTempDirectory("ssnap-spec-").toAbsolutePath
      .toString + "/t"
    val ms1 = MemoryStream[(Long, String)](spark)
    val q1 = Streams.snapshotSink(ms1.toDS().toDF("id", "s"), dir)
      .option("checkpointLocation", dir + "-ck1").start()
    try { ms1.addData(Seq((1L, "a"), (2L, "b"))); q1.processAllAvailable() }
    finally q1.stop()
    assert(IO.snapshotVersions(spark, dir) == Seq(1))
    // a BRAND-NEW query (fresh checkpoint) keeps publishing into the
    // same table — the state is the table, not the stream
    val ms2 = MemoryStream[(Long, String)](spark)
    val q2 = Streams.snapshotSink(ms2.toDS().toDF("id", "s"), dir)
      .option("checkpointLocation", dir + "-ck2").start()
    try { ms2.addData(Seq((3L, "c"))); q2.processAllAvailable() }
    finally q2.stop()
    assert(IO.snapshotVersions(spark, dir) == Seq(1, 2))
    assert(IO.loadSnapshot(spark, dir).collect().map(_.getLong(0)).toSeq
      == Seq(3L))
    assert(IO.loadSnapshot(spark, dir, 1).count() == 2)
    // the replay-idempotence marker is scoped per queryId: both queries
    // recorded their last batch, and a restart from ck2 (same queryId,
    // batch ids continue) publishes exactly one more version — the
    // marker skips only REPLAYED ids, never new ones
    val markers = new java.io.File(s"$dir/_manifests").listFiles()
      .map(_.getName).filter(_.startsWith("_last_batch_"))
    assert(markers.length == 2, s"markers: ${markers.toSeq}")
    // (a fresh MemoryStream starts at offset 0, but ck2 already
    // committed through offset 1 — so the first row is swallowed by the
    // restored source position and batch 1 carries only the second)
    val ms3 = MemoryStream[(Long, String)](spark)
    val q3 = Streams.snapshotSink(ms3.toDS().toDF("id", "s"), dir)
      .option("checkpointLocation", dir + "-ck2").start()
    try {
      ms3.addData(Seq((4L, "d"))); ms3.addData(Seq((5L, "e")))
      q3.processAllAvailable()
    } finally q3.stop()
    assert(IO.snapshotVersions(spark, dir) == Seq(1, 2, 3))
    assert(IO.loadSnapshot(spark, dir).collect().map(_.getLong(0)).toSeq
      == Seq(5L))
  }

  test("ohlc: deterministic open/close on ts ties, exact volume") {
    import spark.implicits._
    import graft.operators.TimeSeries
    // bucket width 100: rows at ts 10,10,50 (bucket 0) + 110 (bucket 1);
    // ts tie at 10 resolved by tie id: open = id 1's value
    val df = Seq((1L, 10L, 5.0), (2L, 10L, 9.0), (3L, 50L, 1.0),
      (4L, 110L, 7.0)).toDF("eid", "t", "v").withColumn("k", lit("a"))
    val got = TimeSeries.ohlc(df, Seq("k"), "t", "v", "eid", width = 100L)
      .collect().map(r => r.getAs[Long]("bucket") ->
        (r.getAs[Long]("n"), r.getAs[Double]("open"), r.getAs[Double]("high"),
          r.getAs[Double]("low"), r.getAs[Double]("close"),
          r.getAs[Double]("volume"))).toMap
    assert(got(0L) == (3L, 5.0, 9.0, 1.0, 1.0, 15.0))
    assert(got(1L) == (1L, 7.0, 7.0, 7.0, 7.0, 7.0))
    // partition sweep: open/close invariant to shuffling
    partitionSweep { n =>
      TimeSeries.ohlc(df.repartition(n), Seq("k"), "t", "v", "eid", 100L)
        .orderBy("bucket").collect().map(_.toSeq).toSeq
    }
  }
}
