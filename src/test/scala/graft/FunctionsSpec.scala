package graft

import graft.functions.{Dedup, ML, Multimodal, Similarity, Sketches, Text}
import org.apache.spark.sql.functions._

/** Sketch-merge correctness (the reference's test_onlinestats.jl pattern:
  * distributed merge == single-node), dedup recall, similarity recall,
  * ML featurization shapes. */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("MomentsAgg merge == exact formula, any partitioning") {
    val li = Tables.lineitem(spark, sf).select(col("l_quantity")).as[Double]
    val exact = Tables.lineitem(spark, sf)
      .agg(count(lit(1)), avg("l_quantity"), var_samp("l_quantity"),
        min("l_quantity"), max("l_quantity")).head()
    partitionSweep { n =>
      val m = li.repartition(n).select(Sketches.MomentsAgg.toColumn).head()
      assert(m.n == exact.getLong(0))
      assert(math.abs(m.mean - exact.getDouble(1)) < 1e-9)
      assert(math.abs(m.variance - exact.getDouble(2)) < 1e-6)
      assert(m.min == exact.getDouble(3) && m.max == exact.getDouble(4))
      Seq(m.n)
    }
  }

  test("HistAgg == floor-binned groupBy, any partitioning") {
    val o = Tables.orders(spark, sf)
    val expected = o.groupBy(floor(col("o_totalprice") / 100000.0).cast("int").as("bin"))
      .agg(count(lit(1))).collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val agg = Sketches.HistAgg(0.0, 600000.0, 6)
    partitionSweep { n =>
      val hist = o.select(col("o_totalprice")).as[Double].repartition(n)
        .select(agg.toColumn).head()
      hist.zipWithIndex.foreach { case (cnt, bin) =>
        assert(cnt == expected.getOrElse(bin, 0L), s"bin $bin")
      }
      hist
    }
  }

  test("CountMapAgg == groupBy count") {
    val ev = Tables.events(spark, sf).select(col("event_type")).as[String]
    val expected = Tables.events(spark, sf).groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val m = ev.select(Sketches.CountMapAgg(100).toColumn).head()
    assert(m == expected)
  }

  test("KHistAgg preserves total weight and value bounds") {
    val v = Tables.orders(spark, sf).select(col("o_totalprice")).as[Double]
    val centers = v.select(Sketches.KHistAgg(16).toColumn).head()
    assert(centers.map(_._2).sum == v.count())
    assert(centers.size <= 16)
    assert(centers.map(_._1) == centers.map(_._1).sorted)
  }

  test("partitionSketch: sequential-chunk summary in pkey order (reference Partition)") {
    import spark.implicits._
    val t = graft.core.JTable(
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0), (5L, 50.0)).toDF("k", "v"),
      Seq("k"))
    val parts = Sketches.partitionSketch(t, "v", 2)
    assert(parts.map(_.n) == Seq(3L, 2L))
    assert(parts(0).mean == 20.0 && parts(1).mean == 45.0)
    assert(parts(0).min == 10.0 && parts(1).max == 50.0)
  }

  test("FixedPoint.sumFixed == decimal sum, fixture columns + signed edges") {
    import graft.functions.FixedPoint
    // fixture money/quantity columns (the q01 domain)
    val li = Tables.lineitem(spark, sf)
    val a = li.agg(
      FixedPoint.sumFixed(col("l_quantity"), 2).as("f1"),
      sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("d1"),
      FixedPoint.sumFixed(col("l_extendedprice"), 2).as("f2"),
      sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("d2")).head()
    assert(a.getDouble(0) == a.getDouble(1) && a.getDouble(2) == a.getDouble(3))
    // signed values + half-way cases: the snap must round half AWAY from
    // zero exactly like the decimal(18,2) HALF_UP cast (-2.345 → -2.35);
    // NaN/±Inf must be SKIPPED like the decimal cast's null mapping (an
    // unguarded cast(Inf as long) is Long.MaxValue — a destroyed total)
    import spark.implicits._
    val edge = Seq(-2.345, 2.345, -0.005, 0.005, 0.0, -123.455, 99.995,
      -0.01, 490.02, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity).toDF("v")
    val e = edge.agg(
      FixedPoint.sumFixed(col("v"), 2).as("f"),
      sum(col("v").cast("decimal(18,2)")).cast("double").as("d")).head()
    assert(e.getDouble(0) == e.getDouble(1), s"${e.getDouble(0)} vs ${e.getDouble(1)}")
    // all-non-finite input sums to NULL on both paths, not 0.0
    val allBad = Seq(Double.NaN, Double.PositiveInfinity).toDF("v")
      .agg(FixedPoint.sumFixed(col("v"), 2).as("f"),
        sum(col("v").cast("decimal(18,2)")).cast("double").as("d")).head()
    assert(allBad.isNullAt(0) && allBad.isNullAt(1),
      s"expected null/null, got $allBad")
  }

  test("FixedPoint.sumFixed: overflow tripwire fails loudly instead of wrapping") {
    import graft.functions.FixedPoint
    import spark.implicits._
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    // two rows whose unscaled (scale-2) values are ~9e18 each: the true
    // sum ~1.8e19 exceeds 2^63. Under ANSI (session default) the sum
    // itself throws ARITHMETIC_OVERFLOW during accumulation, before the
    // tripwire's projection evaluates — either way the failure is LOUD,
    // never a wrapped total
    val overflow = Seq(9.0e16, 9.0e16).toDF("v")
    val e = intercept[Exception] {
      overflow.agg(FixedPoint.sumFixed(col("v"), 2).as("f")).head()
    }
    assert(messages(e).exists(m =>
        (m.contains("sumFixed") && m.contains("decimal")) ||
          m.contains("ARITHMETIC_OVERFLOW")),
      s"expected a loud overflow failure, got: ${messages(e).mkString(" | ")}")
    // the tripwire's own value over ANSI: it is DETERMINISTIC. A
    // mixed-sign sum whose TRUE total is tiny never trips ANSI in any
    // partition order here, but under an adversarial order it could have
    // wrapped mid-fold — the n·max(abs) bound fails it with the
    // actionable message regardless of order or ANSI mode
    val mixed = Seq(9.0e16, -9.0e16, 0.01).toDF("v")
    val e2 = intercept[Exception] {
      mixed.agg(FixedPoint.sumFixed(col("v"), 2).as("f")).head()
    }
    assert(messages(e2).exists(m => m.contains("sumFixed") && m.contains("decimal")),
      s"expected the sumFixed overflow tripwire, got: ${messages(e2).mkString(" | ")}")
    // and values just inside the bound still sum exactly (n=2, max=4e18
    // unscaled → n·max = 8e18 < 2^63): no false positive near the edge
    val nearEdge = Seq(4.0e16, -4.0e16).toDF("v")
    assert(nearEdge.agg(FixedPoint.sumFixed(col("v"), 2).as("f"))
      .head().getDouble(0) == 0.0)
  }

  test("FixedPoint.sumFixedDecimal: a total past decimal(18,2) but " +
    "inside the long tripwire raises in both ANSI modes, never NULL") {
    import graft.functions.FixedPoint
    import spark.implicits._
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    // total 1.2e16 > 10^16: unscaled 1.2e18 fits a long (n·max =
    // 1.2e18 < 2^63, so sumFixed's tripwire passes) but not
    // decimal(18,2), whose ANSI-off cast would return NULL
    val big = Seq(6.0e15, 6.0e15).toDF("v")
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    for (ansi <- Seq("false", "true")) {
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      try {
        val e = intercept[Exception] {
          big.agg(FixedPoint.sumFixedDecimal(col("v"), 2, 18)).head()
        }
        assert(messages(e).exists(m => m.contains("sumFixedDecimal") ||
            m.contains("NUMERIC_VALUE_OUT_OF_RANGE")),
          s"ansi=$ansi: expected a loud failure, got: ${messages(e).mkString(" | ")}")
        // just inside the bound the exact decimal comes back
        val ok = Seq(4.0e15, 5.0e15).toDF("v")
          .agg(FixedPoint.sumFixedDecimal(col("v"), 2, 18)).head()
        assert(ok.getDecimal(0).compareTo(
          new java.math.BigDecimal("9000000000000000.00")) == 0)
      } finally spark.conf.set("spark.sql.ansi.enabled", prev)
    }
  }

  test("FixedPoint: ANSI-off snap saturation trips loudly (round-9 hole)") {
    import graft.functions.FixedPoint
    import spark.implicits._
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    // THE hole the round-8 tripwire missed: one value whose |unscaled|
    // exceeds 2^63. In an ANSI-off session the double→long cast
    // SATURATES it to Long.MaxValue — max|unscaled| then reads 2^63−1,
    // n=1 makes try_multiply(max, 1) pass, and pre-fix the aggregate
    // returned a silently wrong 9.2e16 total. The snap's range guard +
    // finite-count compare must fail it LOUDLY in BOTH ANSI modes (the
    // guard nulls before any cast runs, so ANSI-on raises no cast error
    // either — the trip is the deterministic failure path).
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    for (ansi <- Seq("false", "true")) {
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      try {
        val one = Seq(1.0e18, 1.0).toDF("v") // unscaled 1e20 at scale 2
        val e = intercept[Exception] {
          one.agg(FixedPoint.sumFixed(col("v"), 2).as("f")).head()
        }
        assert(messages(e).exists(m => m.contains("sumFixed") &&
            m.contains("unscaled range")),
          s"ansi=$ansi: expected the range trip, got: ${messages(e).mkString(" | ")}")
        // factor-level sibling in the product form: an out-of-range
        // factor must trip, not silently drop the row
        val pe = intercept[Exception] {
          Seq((1.0e18, 1.0)).toDF("a", "b")
            .agg(FixedPoint.sumProductFixed(col("a"), col("b"), 2, 2)).head()
        }
        assert(messages(pe).exists(m => m.contains("sumProductFixed")),
          s"ansi=$ansi: expected the product trip, got: ${messages(pe).mkString(" | ")}")
      } finally spark.conf.set("spark.sql.ansi.enabled", prev)
    }
  }

  test("FixedPoint.sumProductFixed == decimal product sum, fixture + edges + row-overflow trip") {
    import graft.functions.FixedPoint
    import spark.implicits._
    // the q01/q05/q08 revenue shape on the fixture: bit-identical to the
    // decimal(18,4) product-cast sum, per group
    val li = Tables.lineitem(spark, sf)
    val diff = li.groupBy("l_returnflag", "l_linestatus")
      .agg(FixedPoint.sumProductFixed(col("l_extendedprice"),
          lit(1.0) - col("l_discount"), 2, 2).as("f"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("d"))
      .filter(col("f") =!= col("d")).count()
    assert(diff == 0L)
    // null/NaN/Inf factors skip like the decimal form (product → null);
    // all finite values are honest 2-dp rationals — the documented
    // contract (a 3-dp input like 0.005 would diverge: the decimal form
    // rounds the PRODUCT to 4 dp, this form rounds each FACTOR first)
    val edge = Seq((2.5, 4.0), (Double.NaN, 3.0), (2.0, Double.PositiveInfinity),
      (-1.25, 0.75), (0.01, -0.03), (-99999.99, 0.97)).toDF("a", "b")
    val e = edge.agg(
      FixedPoint.sumProductFixed(col("a"), col("b"), 2, 2).as("f"),
      sum((col("a") * col("b")).cast("decimal(18,4)")).cast("double").as("d")).head()
    assert(e.getDouble(0) == e.getDouble(1), s"${e.getDouble(0)} vs ${e.getDouble(1)}")
    // a row whose unscaled PRODUCT overflows 2^63 must fail loudly (the
    // try_multiply null would otherwise silently DROP the row)
    val big = Seq((5.0e10, 5.0e10)).toDF("a", "b") // 5e12 * 5e12 unscaled
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val ex = intercept[Exception] {
      big.agg(FixedPoint.sumProductFixed(col("a"), col("b"), 2, 2)).head()
    }
    assert(messages(ex).exists(m => m.contains("sumProductFixed") && m.contains("decimal")),
      s"expected the per-row product tripwire, got: ${messages(ex).mkString(" | ")}")
  }

  test("decodeImage: real ImageIO round-trip (PNG exact, JPEG approximate, junk dropped)") {
    // PNG is lossless: decode must return the synthetic pattern's exact
    // dimensions and channel sums (the q119 oracle recomputes these in
    // SQL; this spec pins the same contract locally, plus the formats
    // the oracle can't cover)
    for (id <- Seq(0L, 1L, 7L, 499L)) {
      val w = (8 + id % 5).toInt; val h = (8 + id % 3).toInt
      var er = 0L; var eg = 0L; var eb = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val base = id * 31 + 7 * x + 13 * y
        er += base % 256; eg += (base + 29) % 256; eb += (base + 58) % 256
      }
      val f = Multimodal.decodeImage(Multimodal.syntheticPng(id)).get
      assert((f.width, f.height, f.sum_r, f.sum_g, f.sum_b) == (w, h, er, eg, eb),
        s"id=$id: $f vs ($w,$h,$er,$eg,$eb)")
    }
    // JPEG: lossy, so dimensions must be exact and channel means close —
    // proves the decoder handles a second real codec, not just PNG
    val img = new java.awt.image.BufferedImage(
      16, 12, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 12; x <- 0 until 16)
      img.setRGB(x, y, (128 << 16) | (64 << 8) | 200)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val j = Multimodal.decodeImage(bos.toByteArray).get
    assert(j.width == 16 && j.height == 12)
    val n = 16 * 12
    assert(math.abs(j.sum_r.toDouble / n - 128) < 8 &&
      math.abs(j.sum_g.toDouble / n - 64) < 8 &&
      math.abs(j.sum_b.toDouble / n - 200) < 8,
      s"jpeg channel means drifted: $j")
    // junk bytes: None, not an exception (a scraped corpus always has
    // undecodable blobs; the pipeline must filter, not crash)
    assert(Multimodal.decodeImage(Array[Byte](1, 2, 3, 4)).isEmpty)
    assert(Multimodal.decodeImage(Array.emptyByteArray).isEmpty)
    // TRUNCATED image: the PNG magic matches a reader, so the failure
    // comes from read(0) mid-decode — must also filter, not throw
    assert(Multimodal.decodeImage(Multimodal.syntheticPng(7L).take(40)).isEmpty)
    assert(Multimodal.decodeAudio(Multimodal.syntheticWav(7L).take(30)).isEmpty)
    // and the distributed path drops the junk row while decoding the rest
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRow(1L, Multimodal.syntheticPng(1L), "image/png", 9, 9),
      Multimodal.MediaRow(2L, Array[Byte](9, 9, 9), "junk", 0, 0)).toDS()
    val feats = Multimodal.imageFeatures(media).collect()
    assert(feats.map(_.media_id).toSeq == Seq(1L))
  }

  test("frameSample FrameDecoder SPI: claimed formats route through the provider, others keep the stand-in") {
    import spark.implicits._
    // discovery: the test provider (META-INF/services in test resources)
    // must be visible through the ServiceLoader seam
    assert(Multimodal.FrameDecoder.registry.contains("video/test-quarters"),
      s"registry=${Multimodal.FrameDecoder.registry.keySet}")
    val payload = Array.tabulate(40)(i => (i + 1).toByte)
    val media = Seq(
      Multimodal.MediaRow(1L, payload, "video/test-quarters", 0, 0),
      Multimodal.MediaRow(2L, payload, "video/unclaimed", 0, 0)).toDS()
    val out = Multimodal.frameSample(media, frameBytes = 16, stride = 1)
      .collect().groupBy(_.media_id)
    // routed row: codec framing (4 × 10 bytes), NOT the 16-byte chunking
    val routed = out(1L).sortBy(_.frame_idx)
    assert(routed.map(_.n_bytes).toSeq == Seq(10L, 10L, 10L, 10L), routed.toSeq)
    // checksum is computed on the DECODED frame bytes: frame 1 holds
    // payload(10..19), checksummed positionally from its own offset 0
    val expect1 = (0 until 10).map(i => (i + 1).toLong * (payload(10 + i) & 0xff)).sum % 1000000007L
    assert(routed(1).checksum == expect1)
    // unclaimed row: byte-chunk stand-in untouched (40 bytes / 16 → 16,16,8)
    val stand = out(2L).sortBy(_.frame_idx)
    assert(stand.map(_.n_bytes).toSeq == Seq(16L, 16L, 8L), stand.toSeq)
    // stride rides through the SPI too (every 2nd codec frame)
    val strided = Multimodal.frameSample(media.filter(_.media_id == 1L),
      frameBytes = 16, stride = 2).collect().sortBy(_.frame_idx)
    assert(strided.map(_.frame_idx).toSeq == Seq(0L, 2L))
  }

  test("decodeAudio: real WAV round-trip, endianness/width variants, junk dropped") {
    // lossless PCM round-trip: decode must return the synthetic pattern's
    // exact frame count and sample stats (q120's oracle recomputes these
    // in SQL; here we pin the local contract plus variants it can't cover)
    for (id <- Seq(0L, 3L, 499L)) {
      val n = (500 + id % 250).toInt
      var sum = 0L; var mx = 0L
      for (i <- 0 until n) {
        val a = math.abs(((id * 7 + i * 13) % 4001) - 2000)
        sum += a; if (a > mx) mx = a
      }
      val f = Multimodal.decodeAudio(Multimodal.syntheticWav(id)).get
      assert((f.n_samples, f.channels, f.sample_rate, f.sum_abs, f.max_abs) ==
        (n.toLong, 1, 8000.0, sum, mx), s"id=$id: $f")
    }
    // big-endian 16-bit stereo: the decoder must honor the container's
    // declared byte order and count frames (not raw samples)
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val samples = Seq[Short](1000, -1000, 500, -500, 2000, -2000) // 3 stereo frames
    val be = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      be(2 * i) = ((s >> 8) & 0xff).toByte; be(2 * i + 1) = (s & 0xff).toByte }
    val fmt = new AudioFormat(44100f, 16, 2, true, true)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(
      new java.io.ByteArrayInputStream(be), fmt, 3L), AudioFileFormat.Type.AIFF, bos)
    val g = Multimodal.decodeAudio(bos.toByteArray).get
    assert(g.n_samples == 3 && g.channels == 2, s"$g")
    assert(g.sum_abs == samples.map(s => math.abs(s.toLong)).sum && g.max_abs == 2000, s"$g")
    // unsigned 8-bit (the WAV-spec 8-bit form): silence is 0x80, which a
    // sign-extending decoder would report as sum_abs = 128·n — the
    // encoding gate must rebase to signed instead
    val u8 = Array.fill[Byte](100)(0x80.toByte)
    val ufmt = new AudioFormat(8000f, 8, 1, false, false)
    val ubos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(
      new java.io.ByteArrayInputStream(u8), ufmt, 100L), AudioFileFormat.Type.WAVE, ubos)
    val u = Multimodal.decodeAudio(ubos.toByteArray).get
    assert(u.n_samples == 100 && u.sum_abs == 0L && u.max_abs == 0L, s"$u")
    // junk: None, not an exception
    assert(Multimodal.decodeAudio(Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.decodeAudio(Multimodal.syntheticPng(1L)).isEmpty)
  }

  test("partitionData == partitionSketch chunk summaries on the fixture") {
    // ties the SQL-expressible exact twin (q106's operator) to the
    // mergeable sketch form: same chunk boundaries (the sketch's double
    // binning and the twin's pure-long grid agree away from 2^52-scale
    // representation boundaries), exact n/min/max, means within sketch
    // arithmetic tolerance (decimal-exact sum vs Welford merges)
    val t = graft.core.JTable(Tables.lineitem(spark, sf),
      Seq("l_orderkey", "l_linenumber"))
    val nparts = 7
    val sketch = Sketches.partitionSketch(t, "l_extendedprice", nparts)
    val data = Sketches.partitionData(t, "l_extendedprice", nparts)
      .orderBy("part").collect()
    assert(data.length == nparts && sketch.length == nparts)
    data.zip(sketch).foreach { case (row, mo) =>
      assert(row.getAs[Long]("n") == mo.n, s"n mismatch at part ${row.get(0)}")
      assert(row.getAs[Double]("min_v") == mo.min)
      assert(row.getAs[Double]("max_v") == mo.max)
      assert(math.abs(row.getAs[Double]("mean_v") - mo.mean) <=
        1e-9 * math.max(1.0, math.abs(mo.mean)),
        s"mean mismatch at part ${row.get(0)}: ${row.getAs[Double]("mean_v")} vs ${mo.mean}")
    }
  }

  test("KHist quantiles track exact percentiles (approximation quality)") {
    val o = Tables.orders(spark, sf)
    val exact = o.select(
      percentile(col("o_totalprice"), lit(0.25)),
      percentile(col("o_totalprice"), lit(0.5)),
      percentile(col("o_totalprice"), lit(0.75))).head()
    val centers = o.select(col("o_totalprice")).as[Double]
      .select(Sketches.KHistAgg(64).toColumn).head()
    for ((q, i) <- Seq(0.25, 0.5, 0.75).zipWithIndex) {
      val est = Sketches.khistQuantile(centers, q)
      val want = exact.getDouble(i)
      assert(math.abs(est - want) / want < 0.15,
        s"q=$q: khist $est vs exact $want")
    }
  }

  test("MosaicAgg and IndexedPartitionAgg merge correctly across partitionings") {
    val ev2 = Tables.events(spark, sf)
      .select(col("event_type"), concat(lit("u"), pmod(col("user_id"), lit(3))).as("ub"))
      .as[(String, String)]
    val expected = ev2.toDF("x", "y")
      .groupBy(concat(col("x"), lit(Sketches.MosaicAgg.Sep), col("y")).as("k"))
      .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    partitionSweep { n =>
      val m = ev2.repartition(n).select(Sketches.MosaicAgg(1000).toColumn).head()
      assert(m == expected)
      Seq(m.size)
    }
    val xy = Tables.orders(spark, sf)
      .select(col("o_totalprice"), col("o_totalprice") * 2).as[(Double, Double)]
    val ip = xy.select(Sketches.IndexedPartitionAgg(0, 600000, 4).toColumn).head()
    assert(ip.map(_.n).sum == Tables.orders(spark, sf).count())
    ip.filter(_.n > 0).foreach(mo => assert(mo.min <= mo.mean && mo.mean <= mo.max))
  }

  test("partitionplotData == IndexedPartition sketch bin-for-bin") {
    import spark.implicits._
    val li = Tables.lineitem(spark, sf)
    val table = Sketches.partitionplotData(li, "l_extendedprice", "l_quantity",
        Seq.empty, lo = 0.0, hi = 120000.0, bins = 8)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
      .toMap
    val sk = li.select(col("l_extendedprice"), col("l_quantity")).as[(Double, Double)]
      .select(Sketches.IndexedPartitionAgg(0.0, 120000.0, 8).toColumn).head()
    sk.zipWithIndex.foreach { case (mo, bin) =>
      table.get(bin.toLong) match {
        case Some((n, mean, mn, mx)) =>
          assert(mo.n == n && mo.min == mn && mo.max == mx, s"bin $bin")
          // sketch mean is double-order accumulation; table mean is exact
          // decimal — equal to fp noise
          assert(math.abs(mo.mean - mean) < 1e-6, s"bin $bin mean")
        case None => assert(mo.n == 0, s"bin $bin missing but sketch n=${mo.n}")
      }
    }
    // by-grouped form: per-group rows sum to the ungrouped counts
    val byTotals = Sketches.partitionplotData(li, "l_extendedprice", "l_quantity",
        Seq("l_returnflag"), lo = 0.0, hi = 120000.0, bins = 8)
      .groupBy(col("bin")).agg(sum(col("n")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byTotals == table.view.mapValues(_._1).toMap)
    // decimal-mean determinism: identical rows under any partitioning
    partitionSweep { n =>
      Sketches.partitionplotData(li.repartition(n), "l_extendedprice",
          "l_quantity", Seq("l_returnflag"), 0.0, 120000.0, 8)
        .orderBy("l_returnflag", "bin").collect().map(_.toSeq).toSeq
    }
    // NaN y rows are DROPPED (documented divergence): the decimal cast
    // nulls NaN, so keeping the row would bias the mean (sum skips it,
    // count doesn't)
    val nan = Seq((1.0, 1.0), (1.5, Double.NaN)).toDF("x", "y")
    val row = Sketches.partitionplotData(nan, "x", "y", Seq.empty, 0.0, 10.0, 2)
      .collect()
    assert(row.length == 1 && row(0).getLong(3) == 1L && row(0).getDouble(4) == 1.0,
      row.mkString("; "))
  }

  test("normalize_ws == trim(regexp_replace(lower, \\s+)) on fixture + edge cases") {
    import spark.implicits._
    val edge = Seq("", "   ", "\t\n A  B\r\nC ", "Ünïcode  ÇH文字  x",
      "ab", " mixed\tws\n\fruns ", "NoWs").toDF("text")
    val regexForm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
    for (df <- Seq(edge, Tables.documents(spark, sf).select(col("text")))) {
      val diff = df.select(Text.normalize(col("text")).as("native"), regexForm.as("re"))
        .filter(not(col("native") <=> col("re")))
      assert(diff.isEmpty, diff.take(3).mkString("; "))
    }
  }

  test("Text functions: tokens/quality/langid on inline docs") {
    val docs = Seq(
      (1L, "The cat and the dog sat on the mat together today."),
      (2L, "der hund und die katze das ist gut und der tag"),
      (3L, "le chat et la maison les arbres et le jardin est"),
      (4L, "el perro y los gatos las casas y el sol es"),
      (5L, "这是 中文 文本 测试")).toDF("id", "text")
    val out = docs.select(col("id"), Text.langId(col("text")).as("lang"),
      Text.tokenCount(col("text")).as("n")).orderBy("id").collect()
    assert(out.map(_.getString(1)).toSeq == Seq("en", "de", "fr", "es", "zh"))
    assert(out(0).getLong(2) == 11L)
    val q = docs.select(Text.qualityScore(col("text"))).collect().map(_.getDouble(0))
    q.foreach(x => assert(x >= 0.0 && x <= 1.0))
  }

  test("shingles: golden 3-grams, short docs empty") {
    val d = Seq((1L, "a b c d"), (2L, "a b")).toDF("id", "text")
    val sh = d.select(col("id"), Dedup.shingles(col("text"), 3).as("s"))
      .orderBy("id").collect()
    assert(sh(0).getSeq[String](1).toSet == Set("a b c", "b c d"))
    assert(sh(1).getSeq[String](1).isEmpty)
  }

  test("shingle_strings (native) == HOF formulation, order included") {
    import spark.implicits._
    val edge = Seq("", "   ", "a b", "a b c", "A  b\tC d\n e", "x x x x x",
      "Ünïcode ÇH文字 x y z", "the quick brown fox jumps over the lazy dog")
      .toDF("text")
    for (df <- Seq(edge, Tables.documents(spark, sf).select(col("text")));
         n <- Seq(2, 3, 5)) {
      val diff = df.select(Dedup.shingles(col("text"), n).as("native"),
          Dedup.shinglesHof(col("text"), n).as("hof"))
        .filter(not(col("native") <=> col("hof")))
      assert(diff.isEmpty, s"n=$n: " + diff.take(3).mkString("; "))
    }
  }

  test("jaccardPairs: golden values on near-dup docs") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "completely different words entirely here now")).toDF("id", "text")
    val pairs = Dedup.jaccardPairs(d, "id", "text", n = 3, threshold = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(pairs.length == 1)
    val (i, j, jac) = pairs.head
    assert(i == 1L && j == 2L)
    // doc1/doc2: 7 shingles each, 6 shared -> jaccard 6/8
    assert(math.abs(jac - 0.75) < 1e-12)
  }

  test("jaccardPairsPrefix == jaccardPairs: fixture sweep + prefix-edge docs") {
    import spark.implicits._
    // threshold sweep on the real fixture: the prefix filter is lossless
    // by theorem, so output must be BIT-identical to the full
    // inverted-index operator at every t (including a low t where the
    // prefix is most of the doc and a high t where it is a single token)
    val docs = Tables.documents(spark, sf)
    for (t <- Seq(0.15, 0.3, 0.7)) {
      val full = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(p => (p._1, p._2))
      val pre = Dedup.jaccardPairsPrefix(docs, "doc_id", "text", n = 3, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(p => (p._1, p._2))
      assert(pre.sameElements(full), s"prefix diverged from full at t=$t")
    }
    // edge shapes the fixture may miss: single-shingle docs (prefix = the
    // whole set), exact duplicates (J=1 must survive t=1.0's 1-prefix),
    // and a boundary pair whose jaccard equals the threshold exactly
    val edge = Seq(
      (1L, "a b c"),                 // 1 shingle
      (2L, "a b c"),                 // dup of 1 — J=1
      (3L, "a b c d"),               // 2 shingles, J(1,3)=0.5
      (4L, "x y z w v u t s")).toDF("id", "text")
    for (t <- Seq(0.5, 1.0)) {
      val full = Dedup.jaccardPairs(edge, "id", "text", n = 3, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      val pre = Dedup.jaccardPairsPrefix(edge, "id", "text", n = 3, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(pre.sameElements(full), s"edge diverged at t=$t")
    }
    // t=0.5 must include the boundary pair (1,3) at exactly J=0.5
    val b = Dedup.jaccardPairsPrefix(edge, "id", "text", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(b.exists(p => p._1 == 1L && p._2 == 3L && p._3 == 0.5))
    assert(b.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 1.0))
  }

  test("minhashJoinAcross == minhashLSH pairs restricted to cross-side") {
    val d = Tables.documents(spark, sf)
    val self = Dedup.minhashLSH(d, "doc_id", "text", n = 3, bands = 8,
        rowsPerBand = 2, minEstSim = 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the cross-corpus join over the %3 split must produce exactly the
    // self-join pairs with one endpoint on each side, re-oriented
    // (left id first) — same signatures, same banding, same threshold
    val want = self.flatMap { case (i, j, s) =>
      if (i % 3 == 0 && j % 3 != 0) Some((i, j, s))
      else if (j % 3 == 0 && i % 3 != 0) Some((j, i, s))
      else None
    }.sortBy(t => (t._1, t._2)).toSeq
    val got = Dedup.minhashJoinAcross(
        d.filter(col("doc_id") % 3 === 0), d.filter(col("doc_id") % 3 =!= 0),
        "doc_id", "text", n = 3, bands = 8, rowsPerBand = 2, minEstSim = 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(got == want)
    assert(got.nonEmpty) // the fixture has cross-side near-dups
  }

  test("minhashLSH finds the high-jaccard pairs (recall vs exact)") {
    val docs = Tables.documents(spark, sf)
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLSH(docs, "doc_id", "text", n = 3,
      bands = 8, rowsPerBand = 2, minEstSim = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    if (exact.nonEmpty) {
      val recall = exact.intersect(lsh).size.toDouble / exact.size
      assert(recall >= 0.8, s"LSH recall $recall over ${exact.size} true pairs")
    }
    // the recompute-per-side plan (shareSignatures = false — the stress
    // bench's comparison arm) must emit the identical pair set
    val unshared = Dedup.minhashLSH(docs, "doc_id", "text", n = 3,
      bands = 8, rowsPerBand = 2, minEstSim = 0.3, shareSignatures = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(unshared == lsh, "shared vs recompute plans diverge")
  }

  test("minhashLSH: both self-join sides reference ONE shared signature RDD") {
    // pins the sharing structurally (the measured 58.6 → 47.7 s win —
    // see Dedup.shared): the analyzed plan must hold exactly two
    // LogicalRDD references and they must be the SAME underlying RDD.
    // A regression to per-side recompute (or an accidental second
    // checkpoint) changes one of the two counts.
    val docs = Tables.documents(spark, sf)
    val lrdds = Dedup.minhashLSH(docs, "doc_id", "text", 3, 8, 2, 0.3)
      .queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
      }
    assert(lrdds.length == 2 && lrdds.distinct.length == 1,
      s"expected 2 references to 1 shared RDD, got ids $lrdds")
  }

  test("minhashLSH: hashed band buckets == value-joined band slices on fixture") {
    // The q34 oracle joins raw band-slice VALUES while the operator joins
    // xxhash64-packed (band, slice) buckets — semantically equal modulo a
    // 64-bit bucket collision, which can only ADD a candidate pair. This
    // pins that equality on the fixture (hash candidates are always ⊇
    // value candidates; equality means zero collisions here), so a future
    // fixture change that introduces a colliding pair fails THIS spec
    // with a clear message instead of hash-mismatching q34's gate.
    val docs = Tables.documents(spark, sf)
    val n = 3; val bands = 8; val rpb = 2
    val sigs = docs.filter(Text.tokenCount(col("text")) >= n)
      .select(col("doc_id").as("id"),
        Dedup.minhashSignature(col("text"), n, bands * rpb).as("sig"))
    def pairsOf(bucketed: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
      val a = bucketed.as("a"); val b = bucketed.as("b")
      a.join(b, col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
        .select(col("a.id"), col("b.id")).distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val hashed = pairsOf(sigs.select(col("id"),
      explode(array((0 until bands).map(bb =>
        xxhash64(lit(bb), slice(col("sig"), bb * rpb + 1, rpb))): _*)).as("bucket")))
    val valued = pairsOf(sigs.select(col("id"),
      explode(array((0 until bands).map(bb =>
        struct(lit(bb), slice(col("sig"), bb * rpb + 1, rpb))): _*)).as("bucket")))
    assert(valued.subsetOf(hashed),
      "hashed buckets LOST candidates - packing must be superset-safe")
    assert(hashed == valued,
      s"xxhash64 bucket collision on this fixture: ${(hashed -- valued).take(5)} " +
        "- q34's value-joined oracle is no longer exactly equal to the " +
        "operator; re-pick fixture params or document the extra pair")
  }

  test("index self-joins plan as ShuffledHashJoin, never an index broadcast") {
    // Round-7 fix pinned: left alone, the planner broadcast the ENTIRE
    // inverted index / signature table whenever it fit under the
    // threshold — 2.4× slower at fixture scale and the exact plan that
    // dies on the 8 GB broadcast limit at 100 TB. The SHUFFLE_HASH hints
    // must survive optimization; a Spark upgrade that drops them would
    // silently reintroduce the broadcast.
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    val plans = Seq(
      "jaccardPairs" -> Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.3),
      "sharedPassages" -> Dedup.sharedPassages(docs, "doc_id", "text", 3, 3),
      "minhashLSH" -> Dedup.minhashLSH(docs, "doc_id", "text", 3, 8, 2, 0.25),
      "simhashPairs" -> Dedup.simhashPairs(docs, "doc_id", "text"),
      "cosinePairsLSH" -> Similarity.cosinePairsLSH(emb, "vec_id", "embedding",
        0.25, dim = 64))
    plans.foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("ShuffledHashJoin"),
        s"$name: candidate self-join is not a ShuffledHashJoin:\n$plan")
      val indexBroadcast = Seq("BroadcastHashJoin [s#", "BroadcastHashJoin [h#",
        "BroadcastHashJoin [bucket#", "BroadcastHashJoin [tbl#",
        "BroadcastHashJoin [sig#").exists(plan.contains)
      assert(!indexBroadcast,
        s"$name: the corpus-sized index side is being broadcast:\n$plan")
    }
  }

  test("simhash: identical docs distance 0, near docs small distance") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox jumps over the lazy cat")).toDF("id", "text")
    val sigs = d.select(col("id"), Dedup.simhash(col("text")).as("s"))
      .orderBy("id").collect().map(_.getLong(1))
    assert(sigs(0) == sigs(1))
    assert(java.lang.Long.bitCount(sigs(0) ^ sigs(2)) <= 10)
  }

  test("cosine: golden values; lshTopK recall vs brute force") {
    val v = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)), (3L, Seq(1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val cos = v.select(Similarity.cosine(
      col("embedding").cast("array<double>"),
      array(lit(1.0), lit(0.0)))).collect().map(_.getDouble(0))
    assert(math.abs(cos(0) - 1.0) < 1e-12)
    assert(math.abs(cos(1)) < 1e-12)
    assert(math.abs(cos(2) - math.sqrt(0.5)) < 1e-12)

    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 3)
    val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val lsh = Similarity.lshTopK(emb, queries, "vec_id", "embedding", 64, 4, 5,
      tables = 6)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // 6 OR-amplified 4-bit tables: high-cosine neighbors land in a shared
    // bucket in at least one table with high probability
    val recall = bf.intersect(lsh).size.toDouble / bf.size
    assert(recall >= 0.4, s"LSH recall $recall")
  }

  test("sq8: code range + clamp + constant-dim edge; grid error bound; recall vs exact") {
    // hand fixture: dim 3 with a constant dimension (hi == lo) and a
    // query value outside the trained range (must clamp, not wrap/fail)
    val corpus = Seq(
      (1L, Seq(0.0f, 5.0f, -1.0f)),
      (2L, Seq(1.0f, 5.0f, 1.0f)),
      (3L, Seq(0.5f, 5.0f, 0.0f))).toDF("vec_id", "embedding")
    val m = Similarity.sq8Train(corpus, "embedding")
    assert(m.lo.toSeq == Seq(0.0, 5.0, -1.0) && m.hi.toSeq == Seq(1.0, 5.0, 1.0))
    val codes = corpus.select(col("vec_id"),
        Similarity.sq8Encode(col("embedding"), m).as("c"))
      .orderBy("vec_id").collect().map(_.getSeq[Int](1))
    assert(codes.forall(_.forall(c => c >= 0 && c <= 255)))
    assert(codes.forall(_(1) == 0), "constant dim must encode 0")
    assert(codes(0).toSeq == Seq(0, 0, 0) && codes(1).toSeq == Seq(255, 0, 255))
    val outside = Seq((9L, Seq(-3.0f, 5.0f, 7.0f))).toDF("vec_id", "embedding")
    val oc = outside.select(Similarity.sq8Encode(col("embedding"), m))
      .head().getSeq[Int](0)
    assert(oc.toSeq == Seq(0, 0, 255), s"out-of-range must clamp: $oc")

    // decode(encode(v)) stays within half a quantization step per dim
    val emb = Tables.embeddings(spark, sf)
    val me = Similarity.sq8Train(emb, "embedding")
    val err = emb.select(
        aggregate(
          zip_with(col("embedding").cast("array<double>"),
            Similarity.sq8Decode(Similarity.sq8Encode(col("embedding"), me), me),
            (a, b) => abs(a - b)),
          lit(0.0), (acc, v) => greatest(acc, v)).as("e"))
      .agg(max(col("e"))).head().getDouble(0)
    val step = (0 until me.dim).map(i => (me.hi(i) - me.lo(i)) / 255.0).max
    assert(err <= step / 2 + 1e-12, s"max abs grid error $err > half-step ${step / 2}")

    // recall@10 vs the exact float baseline: 8 bits/dim on unit-scale
    // embeddings must be a near-perfect preselector
    val queries = emb.filter(col("vec_id") < 5)
    val bfe = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding",
        k = 10, excludeSelf = true, exact = true)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val sq = Similarity.sq8TopK(emb, queries, "vec_id", "embedding",
        k = 10, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val rc = bfe.intersect(sq).size.toDouble / bfe.size
    assert(rc >= 0.9, s"sq8 recall@10 $rc vs exact baseline")

    // ADC: full-precision queries vs the quantized corpus — recall holds,
    // and the scores sit closer to the exact baseline than the symmetric
    // path's (half the quantization noise per dot product)
    val adcDf = Similarity.sq8TopK(emb, queries, "vec_id", "embedding",
      k = 10, excludeSelf = true, asymmetric = true)
    val adc = adcDf.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val rcAdc = bfe.intersect(adc).size.toDouble / bfe.size
    assert(rcAdc >= 0.9, s"sq8 ADC recall@10 $rcAdc vs exact baseline")
    def scores(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    val exactScores = scores(Similarity.bruteForceTopK(emb, queries,
      "vec_id", "embedding", k = 10, excludeSelf = true, exact = true))
    def meanErr(m: Map[(Long, Long), Double]) = {
      val common = m.keySet.intersect(exactScores.keySet)
      common.toSeq.map(k2 => math.abs(m(k2) - exactScores(k2))).sum / common.size
    }
    val symErr = meanErr(scores(Similarity.sq8TopK(emb, queries,
      "vec_id", "embedding", k = 10, excludeSelf = true)))
    val adcErr = meanErr(scores(adcDf))
    assert(adcErr <= symErr,
      s"ADC mean |cos err| $adcErr should not exceed symmetric's $symErr")
  }

  test("weightedSampleByHash: rate tracks weight, clamps, edges, determinism") {
    import graft.functions.Sampling
    val n = 4000
    val df = spark.range(n).select(col("id"),
      (col("id") % 4).cast("double").as("wbase")) // weights 0, 1, 2(→1), 3(→1)
    def kept(fraction: Double, weight: org.apache.spark.sql.Column): Long =
      Sampling.weightedSampleByHash(df, "id", weight, fraction, salt = "t").count()
    // weight 0 → never kept; weight ≥ 1 clamps to the plain Bernoulli rate
    assert(kept(0.5, lit(0.0)) == 0)
    val plain = Sampling.sampleByHash(df, "id", 0.5, salt = "t").count()
    assert(kept(0.5, lit(5.0)) == plain, "clamped weight must equal unweighted sample")
    // rate tracks weight: w=0.25 keeps ~half of w=0.5's rows (±30% slack)
    val k25 = kept(0.8, lit(0.25)).toDouble
    val k50 = kept(0.8, lit(0.5)).toDouble
    assert(k25 > 0 && math.abs(k25 / k50 - 0.5) < 0.15,
      s"keep rates $k25 vs $k50 should be ~1:2")
    // fraction edges + determinism across partitionings
    assert(kept(0.0, lit(1.0)) == 0)
    assert(kept(1.0, lit(1.0)) == n)
    partitionSweep { p =>
      Sampling.weightedSampleByHash(df.repartition(p), "id",
          col("wbase") / 4.0, 0.6, salt = "t")
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
    }
  }

  test("containmentPairs: catches the quote relation Jaccard misses; " +
      "directionality; threshold; capped path defined") {
    import spark.implicits._
    val long = "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11 t12 t13 t14 t15"
    val quote = "t0 t1 t2 t3 t4 t5" // first 6 tokens → 4 shingles, all in long
    val other = "u0 u1 u2 u3 u4 u5 u6 u7"
    val df = Seq((1L, long), (2L, quote), (3L, other)).toDF("id", "t")
    val got = Dedup.containmentPairs(df, "id", "t", n = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    // (1,2): quote's 4 shingles all inside long's 14 → c_ji = 1.0,
    // c_ij = 4/14; Jaccard = 4/14 ≈ 0.29 would never pass 0.9
    assert(got.keySet == Set((1L, 2L)))
    assert(got((1L, 2L)) == ((4L, 4.0 / 14.0, 1.0)))
    val jac = Dedup.jaccardPairs(df, "id", "t", n = 3, threshold = 0.9)
      .collect()
    assert(jac.isEmpty, "Jaccard at the same threshold must miss the quote")
    // below threshold: nothing survives
    assert(Dedup.containmentPairs(df, "id", "t", n = 3, threshold = 1.01)
      .collect().isEmpty)
    // capped path: containment recomputed over surviving sets stays
    // defined and deterministic
    partitionSweep { p =>
      Dedup.containmentPairs(df.repartition(p), "id", "t", n = 3,
          threshold = 0.9, maxDF = 10)
        .orderBy("i", "j").collect().map(_.toSeq).toSeq
    }
  }

  test("registrableDomain: subdomain collapse, two-level suffixes, " +
      "short hosts pass through") {
    import spark.implicits._
    val cases = Seq(
      "www.example.com" -> "example.com",
      "a.b.c.example.co.uk" -> "example.co.uk",
      "example.com.au" -> "example.com.au",
      "deep.example.com.au" -> "example.com.au",
      "example.org" -> "example.org",
      "localhost" -> "localhost",
      "co.uk" -> "co.uk") // two labels that ARE a suffix: nothing above them
    val got = cases.map(_._1).toDF("h")
      .select(col("h"), Text.registrableDomain(col("h")).as("d"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (h, want) =>
      assert(got(h) == want, s"$h → ${got(h)}, want $want")
    }
  }

  test("unigramKl: identical slices → exactly 0; disjoint vocab raises " +
      "it; asymmetry; driver model") {
    import spark.implicits._
    // identical token distributions → p == q per token → kl == 0
    val same = Seq(("a", "x y x"), ("b", "x y x")).toDF("g", "t")
    val r0 = graft.functions.Text.unigramKl(same, "t", "g", "a", "b")
      .collect().head
    assert(r0.getAs[Double]("kl") == 0.0 && r0.getAs[Long]("vocab") == 2L)
    // drifted: driver model with the operator's smoothing + rounding
    val df = Seq(("a", "x x y"), ("b", "x z z z")).toDF("g", "t")
    val r = graft.functions.Text.unigramKl(df, "t", "g", "a", "b")
      .collect().head
    val counts = Map("x" -> (2L, 1L), "y" -> (1L, 0L), "z" -> (0L, 3L))
    val (na, nb, v) = (3L, 4L, 3L)
    val want = counts.values.map { case (ca, cb) =>
      val p = (ca + 1).toDouble / (na + v).toDouble
      val q = (cb + 1).toDouble / (nb + v).toDouble
      BigDecimal(p * math.log(p / q))
        .setScale(12, BigDecimal.RoundingMode.HALF_UP)
    }.sum.toDouble
    assert(r.getAs[Long]("n_a") == na && r.getAs[Long]("n_b") == nb &&
      r.getAs[Long]("vocab") == v)
    assert(math.abs(r.getAs[Double]("kl") - want) < 1e-12)
    assert(r.getAs[Double]("kl") > 0.0)
    // asymmetry: KL(a‖b) != KL(b‖a) on this fixture
    val rev = graft.functions.Text.unigramKl(df, "t", "g", "b", "a")
      .collect().head.getAs[Double]("kl")
    assert(rev != r.getAs[Double]("kl"))
  }

  test("redactPii/piiCounts: every class redacted and counted, " +
      "multiples handled, clean text untouched") {
    import spark.implicits._
    val df = Seq(
      (1L, "reach alice.smith+x@sub.example.org or 555-1234 from 192.168.0.1"),
      (2L, "no pii here at all"),
      (3L, "a@b.co c.d@e.f.gg twice 555-0000 555-9999 10.0.0.1 8.8.8.8"))
      .toDF("id", "t")
    val out = df.select((col("id") +: Text.piiCounts(col("t"))) :+
        Text.redactPii(col("t")).as("r"): _*)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(out(1L) == (1L, 1L, 1L,
      "reach <EMAIL> or <PHONE> from <IP>"))
    assert(out(2L) == (0L, 0L, 0L, "no pii here at all"))
    assert(out(3L) == (2L, 2L, 2L,
      "<EMAIL> <EMAIL> twice <PHONE> <PHONE> <IP> <IP>"))
  }

  test("unigramNll: golden model; uniform corpus scores exactly ln V; " +
      "rare tokens raise the score; partition sweep") {
    import spark.implicits._
    // uniform LM: tokens a,b each appear twice → p = 1/2 → every doc's
    // avg_nll is ln 2 (up to the scale-12 term rounding)
    val uni = Seq((1L, "a a b"), (2L, "b")).toDF("id", "t")
    val ru = graft.functions.Text.unigramNll(uni, "id", "t")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(ru(1L)._1 == 3L && ru(2L)._1 == 1L)
    assert(math.abs(ru(1L)._2 - math.log(2)) < 1e-11)
    assert(math.abs(ru(2L)._2 - math.log(2)) < 1e-11)
    // rare token: doc 2's singleton 'z' must score above doc 1's
    // all-common tokens; golden value from the driver model with the
    // operator's exact scale-12 term rounding
    val df = Seq((1L, "a a a"), (2L, "a z")).toDF("id", "t")
    val r = graft.functions.Text.unigramNll(df, "id", "t")
      .collect().map(x => x.getLong(0) -> x.getDouble(2)).toMap
    def term(c: Long, n: Long) = BigDecimal(-math.log(c.toDouble / n))
      .setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val w1 = (term(4, 5) + term(4, 5) + term(4, 5)).toDouble / 3
    val w2 = (term(4, 5) + term(1, 5)).toDouble / 2
    assert(math.abs(r(1L) - w1) < 1e-12 && math.abs(r(2L) - w2) < 1e-12)
    assert(r(2L) > r(1L), "rare-token doc must score higher")
    partitionSweep { p =>
      graft.functions.Text.unigramNll(df.repartition(p), "id", "t")
        .orderBy("id").collect().map(_.toSeq).toSeq
    }
  }

  test("weightedReservoir: exact k, weight-proportional inclusion, " +
      "nonpositive excluded, top-k plan, determinism") {
    import graft.functions.Sampling
    // 500 heavy (w=10) + 500 light (w=1) rows
    val df = spark.range(1000).select(col("id"),
      when(col("id") < 500, 10.0).otherwise(1.0).as("w"))
    val got = Sampling.weightedReservoir(df, "id", col("w"), k = 100,
      salt = "res")
    val rows = got.collect()
    assert(rows.length == 100, s"expected exactly k rows, got ${rows.length}")
    // proportional-to-weight: heavy ids (w=10) should dominate the sample
    val heavy = rows.count(_.getLong(0) < 500)
    assert(heavy > 65, s"heavy class underrepresented: $heavy/100")
    // nonpositive weights can never be drawn
    val withZero = spark.range(1000).select(col("id"),
      when(col("id") % 2 === 0, 0.0).otherwise(1.0).as("w"))
    val drawn = Sampling.weightedReservoir(withZero, "id", col("w"),
      k = 400, salt = "res").collect()
    assert(drawn.length == 400 && drawn.forall(_.getLong(0) % 2 == 1),
      "zero-weight rows drawn")
    // scale contract: per-partition heaps + k-row merge, never a global sort
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"no top-k operator:\n$plan")
    partitionSweep { p =>
      Sampling.weightedReservoir(df.repartition(p), "id", col("w"),
          k = 50, salt = "res")
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
    }
  }

  test("weightedReservoirByKey: per-group cap, small groups kept whole, " +
      "nonpositive excluded, WindowGroupLimit plan, determinism") {
    import graft.functions.Sampling
    // 4 groups: g0 has 100 rows, g1 has 50, g2 has 2 (< k), g3 all zero-weight
    val df = spark.range(160).select(col("id"),
      when(col("id") < 100, "g0").when(col("id") < 150, "g1")
        .when(col("id") < 152, "g2").otherwise("g3").as("g"),
      when(col("id") >= 152, 0.0).otherwise((col("id") % 7 + 1).cast("double")).as("w"))
    val got = Sampling.weightedReservoirByKey(df, Seq("g"), "id", col("w"),
      k = 5, salt = "byk")
    val rows = got.collect()
    val byG = rows.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    // full groups capped at exactly k; the 2-row group keeps both;
    // the all-zero-weight group vanishes entirely
    assert(byG == Map("g0" -> 5, "g1" -> 5, "g2" -> 2), s"group sizes: $byG")
    // rank is 1..n by priority desc within each group
    rows.groupBy(_.getString(1)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq == (1L to rs.length).toSeq)
      val pr = sorted.map(_.getAs[Double]("priority")).toSeq
      assert(pr == pr.sorted.reverse, s"rank order != priority desc: $pr")
    }
    // same (salt, id, w) ⇒ same priority as the global sampler's formula:
    // keep-set of the global form restricted to one group equals the
    // per-key form on that group (both are A-Res top-k by priority)
    val g0 = df.filter(col("g") === "g0")
    val global = Sampling.weightedReservoir(g0, "id", col("w"), k = 5,
      salt = "byk").select("id").collect().map(_.getLong(0)).toSet
    val perKey = rows.filter(_.getString(1) == "g0").map(_.getLong(0)).toSet
    assert(global == perKey, s"per-key keep-set diverges from global: $global vs $perKey")
    // scale contract: per-partition group-limit pushdown, ONE exchange on g
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"no WindowGroupLimit pushdown:\n$plan")
    partitionSweep { p =>
      Sampling.weightedReservoirByKey(df.repartition(p), Seq("g"), "id",
          col("w"), k = 3, salt = "byk")
        .select("g", "id").collect().map(r => (r.getString(0), r.getLong(1)))
        .sorted.toSeq
    }
  }

  test("pq: centroid fixpoint + exact-reconstruction ADC; trained recall; rerank") {
    // 1) centroid fixpoint: vectors placed EXACTLY at codebook entries
    //    must encode to those indices, cnorm must equal the true norm, and
    //    ADC scores equal exact cosines (reconstruction is lossless here)
    val model = Similarity.PqModel(subDim = 2, Array.tabulate(2, 3, 2)(
      (j, i, t) => (j * 10 + i * 3 + t + 1).toDouble))
    def cat(j0: Int, j1: Int): Seq[Double] =
      (model.codebooks(0)(j0) ++ model.codebooks(1)(j1)).toSeq
    val fix = Seq((0L, cat(0, 2)), (1L, cat(2, 0)), (2L, cat(1, 1)))
      .toDF("vec_id", "v")
    val enc = Similarity.pqEncodeTable(fix, "vec_id", "v", model)
      .orderBy("id").collect()
    assert(enc.map(_.getSeq[Int](1).toSeq).toSeq ==
      Seq(Seq(0, 2), Seq(2, 0), Seq(1, 1)))
    enc.zip(Seq(cat(0, 2), cat(2, 0), cat(1, 1))).foreach { case (r, v) =>
      assert(math.abs(r.getDouble(2) - math.sqrt(v.map(x => x * x).sum)) < 1e-12) }
    val adc = Similarity.pqTopK(fix, fix.filter(col("vec_id") === 0L),
        "vec_id", "v", model, k = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    val ex = Similarity.bruteForceTopK(fix, fix.filter(col("vec_id") === 0L),
        "vec_id", "v", k = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    assert(adc.keySet == ex.keySet)
    adc.keys.foreach(k2 => assert(math.abs(adc(k2) - ex(k2)) < 1e-9,
      s"lossless reconstruction must score exactly: $k2 ${adc(k2)} vs ${ex(k2)}"))

    // 1b) native pq_codes expression == the HOF reference model BIT-FOR-
    //     BIT on real float vectors (the MinHashSig discipline: same
    //     fold order, same first-minimum ties)
    val embAll = Tables.embeddings(spark, sf)
    val mNat = Similarity.trainPq(embAll, "embedding", m = 8, k = 16)
    val pairs = embAll.select(
        Similarity.pqEncode(col("embedding"), mNat).as("nat"),
        Similarity.pqEncodeHof(col("embedding"), mNat).as("hof"))
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach(r => assert(r.getSeq[Int](0) == r.getSeq[Int](1),
      s"native/HOF encode diverged: ${r.getSeq[Int](0)} vs ${r.getSeq[Int](1)}"))

    // 2) trained recall floor on the real fixture (PQ is the aggressive
    //    end of the family — 64-dim floats → 16 codes — so the floor is
    //    honest, not flattering; the near-perfect preselector in this
    //    corpus is SQ8/IVF, and q133 gates PQ's machinery exactly)
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 5)
    val trained = Similarity.trainPq(emb, "embedding", m = 16, k = 16)
    val bfe = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding",
        k = 10, excludeSelf = true, exact = true)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val plain = Similarity.pqTopK(emb, queries, "vec_id", "embedding",
        trained, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val rc = bfe.intersect(plain).size.toDouble / bfe.size
    assert(rc >= 0.3, s"trained PQ recall@10 $rc vs exact baseline")

    // 3) rerank: full-coverage shortlist == bruteForceTopK(exact) BIT-FOR-
    //    BIT (the shortlist contains everything, so the exact re-scorer
    //    must reproduce q37's rows), and a moderate shortlist dominates
    //    plain ADC
    val n = emb.count().toInt
    val full = Similarity.pqTopK(emb, queries, "vec_id", "embedding",
        trained, k = 10, rerank = Some(n))
      .orderBy("query_id", "rank").collect().toSeq
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding",
        k = 10, excludeSelf = true, exact = true)
      .orderBy("query_id", "rank").collect().toSeq
    assert(full == exact, "full-coverage rerank must equal the exact baseline")
    val rr64 = Similarity.pqTopK(emb, queries, "vec_id", "embedding",
        trained, k = 10, rerank = Some(64))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val rcRr = bfe.intersect(rr64).size.toDouble / bfe.size
    assert(rcRr >= rc, s"rerank recall $rcRr must dominate plain ADC's $rc")
  }

  test("multimodal: stub features match byte-level recompute") {
    val media = Multimodal.mediaFromDocuments(spark,
      Tables.documents(spark, sf).limit(20))
    val feats = Multimodal.extractFeatures(media).collect()
    val raw = media.collect().map(m => m.media_id -> m.payload).toMap
    feats.foreach { f =>
      val bytes = raw(f.media_id)
      assert(f.n_bytes == bytes.length)
      assert(f.first_byte == (bytes(0) & 0xff).toLong)
    }
  }

  test("multimodal frameSample/resize: batch shapes and deterministic stubs") {
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRow(1L, Array.tabulate(10)(i => (i + 1).toByte), "fake", 0, 0),
      Multimodal.MediaRow(2L, Array.emptyByteArray, "fake", 0, 0)).toDS()
    val frames = Multimodal.frameSample(media, frameBytes = 4, stride = 2).collect()
    // id1: 10 bytes → frames {0:4B, 1:4B, 2:2B}; stride 2 keeps idx 0 and 2;
    // empty payload emits nothing
    assert(frames.map(f => (f.media_id, f.frame_idx, f.n_bytes)).toSet ==
      Set((1L, 0L, 4L), (1L, 2L, 2L)))
    assert(frames.find(_.frame_idx == 0L).get.checksum == 30L) // 1·1+2·2+3·3+4·4
    assert(frames.find(_.frame_idx == 2L).get.checksum == 29L) // 1·9+2·10
    val resized = Multimodal.resize(media, 2, 3).collect().sortBy(_.media_id)
    assert(resized(0).payload.length == 6)
    assert((resized(0).width, resized(0).height) == (2, 3))
    // strided downsample: position i samples payload(i·n/target)
    assert(resized(0).payload.toSeq == Seq(0, 1, 3, 5, 6, 8).map(p => (p + 1).toByte))
    assert(resized(1).payload.isEmpty)
  }

  test("guard rails: simhash completeness bound, quantile name collisions refuse loudly") {
    val docs = Tables.documents(spark, sf).limit(5)
    intercept[IllegalArgumentException](
      Dedup.simhashPairs(docs, "doc_id", "text", nBlocks = 4, maxHamming = 6))
    intercept[IllegalArgumentException](
      graft.streaming.Streams.windowedQuantiles(docs.toDF(), qs = Seq(0.055, 0.0551)))
  }

  test("dedup pipeline is partition-invariant (reference sweep pattern)") {
    val docs = Tables.documents(spark, sf)
    partitionSweep { n =>
      Dedup.jaccardPairs(docs.repartition(n), "doc_id", "text", 3, 0.3)
        .orderBy("i", "j").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    }
    partitionSweep { n =>
      Dedup.minhashLSH(docs.repartition(n), "doc_id", "text", 3, 8, 2, 0.3)
        .orderBy("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    val emb = Tables.embeddings(spark, sf).filter(col("label") === 0)
    partitionSweep { n =>
      Similarity.cosinePairsLSH(emb.repartition(n), "vec_id", "embedding", 0.25, dim = 64)
        .orderBy("i", "j").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    }
  }

  test("SQL registration: graft expressions callable from spark.sql") {
    graft.plans.GraftExtensions.registerAll(spark)
    Tables.documents(spark, sf).limit(5).createOrReplaceTempView("docs_sql")
    val viaSql = spark.sql(
      "SELECT doc_id, simhash64(text) AS s, minhash_sig(text, 3, 4) AS m, " +
        "rep_stats(text, 2) AS r FROM docs_sql ORDER BY doc_id")
      .collect()
    val viaCol = Tables.documents(spark, sf).limit(5)
      .select(col("doc_id"), Dedup.simhash(col("text")).as("s"),
        Dedup.minhashSignature(col("text"), 3, 4).as("m"),
        graft.plans.HashExpressions.repStats(col("text"), 2).as("r"))
      .orderBy("doc_id").collect()
    assert(viaSql.map(_.getLong(1)).toSeq == viaCol.map(_.getLong(1)).toSeq)
    assert(viaSql.map(_.getSeq[Long](2)).toSeq == viaCol.map(_.getSeq[Long](2)).toSeq)
    assert(viaSql.map(_.getSeq[Long](3)).toSeq == viaCol.map(_.getSeq[Long](3)).toSeq)
  }

  test("ML featuremat: vector width = n_cont + n_indicators + sum(card-1 per cat)") {
    val df = Tables.customer(spark, sf)
      .select(col("c_acctbal"), col("c_mktsegment"))
    val out = ML.featuremat(df)
    assert(out.count() == df.count()) // Maybe featurization never drops rows
    val width = out.select(col("features")).head()
      .getAs[org.apache.spark.ml.linalg.Vector](0).size
    val card = df.select(countDistinct(col("c_mktsegment"))).head().getLong(0)
    // nullable continuous cols add a missing-indicator column each;
    // OneHotEncoder drops the last category by default
    val nInd = if (df.schema("c_acctbal").nullable) 1 else 0
    assert(width == 1 + nInd + (card - 1))
  }

  test("ML width/splitschema (reference ml.jl:142,155)") {
    val df = Tables.customer(spark, sf)
      .select(col("c_acctbal"), col("c_mktsegment"), col("c_nationkey"))
    // width from stats (no fit) == the fitted featuremat vector's size
    val vecSize = ML.featuremat(df).select(col("features")).head()
      .getAs[org.apache.spark.ml.linalg.Vector](0).size
    assert(ML.width(df) == vecSize)
    // missing level counts toward the categorical cardinality
    import spark.implicits._
    val withNullCat = Seq((1.0, Some("x")), (2.0, None), (3.0, Some("y")))
      .toDF("v", "c")
    val vecSize2 = ML.featuremat(withNullCat).select(col("features")).head()
      .getAs[org.apache.spark.ml.linalg.Vector](0).size
    assert(ML.width(withNullCat) == vecSize2)
    // splitschema: (rest, targets) partition of the inferred roles
    val (feats, targets) = ML.splitschema(df, Map.empty, "c_acctbal")
    assert(targets == Map("c_acctbal" -> ML.Continuous))
    assert(feats.keySet == Set("c_mktsegment", "c_nationkey"))
    assert(!feats.contains("c_acctbal"))
  }

  test("ML featuremat: Maybe missing-value featurization (reference ml.jl:20-40)") {
    import spark.implicits._
    val df = Seq((Some(1.0), "x"), (None, "y"), (Some(3.0), "x"))
      .toDF("v", "c")
    val out = ML.featuremat(df)
    assert(out.count() == 3) // rows preserved, not na.drop()ed
    assert(out.columns.contains("v_missing"))
    assert(out.filter(col("v_missing") === 1.0).count() == 1)
    // mean imputation: the missing v becomes mean(1.0, 3.0) = 2.0
    val imputed = out.filter(col("v_missing") === 1.0)
      .select(col("__imp_v")).head().getDouble(0)
    assert(imputed == 2.0)
    // missing categorical becomes its own level, not a dropped row
    val catMissing = Seq((1.0, Some("x")), (2.0, None)).toDF("v", "c")
    val out2 = ML.featuremat(catMissing)
    assert(out2.count() == 2)
    assert(out2.filter(col("c") === ML.MissingCategory).count() == 1)
  }

  test("fingerprint64/eq_frac natives == Column formulations") {
    import graft.plans.HashExpressions.eqFrac
    import spark.implicits._
    // fingerprint: native O(n) pass vs the transform∘sequence∘substr form
    val docs = Tables.documents(spark, sf).select(col("text"))
      .unionByName(Seq("", "  ", "中文 测试 abc", "plain ascii doc").toDF("text"))
    val columnForm = {
      val n = Text.normalize(col("text"))
      pmod(aggregate(transform(sequence(lit(1), length(n)),
        i => i.cast("long") * ascii(n.substr(i, lit(1))).cast("long")),
        lit(0L), (acc, x) => acc + x), lit(Text.FpMod))
    }
    val fpDiff = docs.select(Text.fingerprint(col("text")).as("native"),
      columnForm.as("col")).filter(not(col("native") <=> col("col")))
    assert(fpDiff.isEmpty, fpDiff.take(3).mkString("; "))
    // eq_frac golden
    val arrs = Seq((Seq(1L, 2L, 3L, 4L), Seq(1L, 9L, 3L, 8L))).toDF("a", "b")
    assert(arrs.select(eqFrac(col("a"), col("b"))).head().getDouble(0) == 0.5)
  }

  test("fix9/dotFix9 == interpreted decimal HOF dot (bit-identical)") {
    import graft.plans.HashExpressions.{dotFix9, fix9}
    val emb = Tables.embeddings(spark, sf).limit(200)
      .select(col("vec_id"), col("embedding"))
    val both = emb.select(
      dotFix9(fix9(col("embedding")), fix9(col("embedding"))).as("native"),
      Similarity.dotExact(col("embedding").cast("array<double>"),
        col("embedding").cast("array<double>")).cast("double").as("hof"))
    val diff = both.filter(not(col("native") <=> col("hof")))
    assert(diff.isEmpty, diff.take(3).mkString("; "))
    // negative values exercise the 128-bit accumulation sign paths
    import spark.implicits._
    val v = Seq((Seq(-1.5f, 2.25f, -3.0f), Seq(4.0f, -5.5f, 6.75f))).toDF("a", "b")
    val r = v.select(dotFix9(fix9(col("a")), fix9(col("b"))).as("native"),
      Similarity.dotExact(col("a").cast("array<double>"),
        col("b").cast("array<double>")).cast("double").as("hof")).head()
    assert(r.getDouble(0) == r.getDouble(1))
  }

  test("cosinePairsLSH == cosinePairsExact (full recall, exact scores)") {
    val emb = Tables.embeddings(spark, sf).filter(col("label") === 0)
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    val exact = Similarity.cosinePairsExact(emb, "vec_id", "embedding", 0.25)
      .collect().map(key).toSet
    val lsh = Similarity.cosinePairsLSH(emb, "vec_id", "embedding", 0.25, dim = 64)
      .collect().map(key).toSet
    // the scale path must reproduce the oracle path bit-for-bit: same pair
    // set (full recall at these (bits, tables)) and same exact-decimal cos
    assert(lsh == exact, s"lsh=${lsh.size} exact=${exact.size}")
    // dedupFirst is a PLAN knob (hot-bucket regime), not a semantics knob:
    // same pair set, same exact-decimal scores
    val dedupFirst = Similarity.cosinePairsLSH(emb, "vec_id", "embedding",
      0.25, dim = 64, dedupFirst = true).collect().map(key).toSet
    assert(dedupFirst == exact, s"dedupFirst=${dedupFirst.size} exact=${exact.size}")
    // a maxBucket no bucket reaches is a no-op (the cap only ever REMOVES)
    val capped = Similarity.cosinePairsLSH(emb, "vec_id", "embedding",
      0.25, dim = 64, maxBucket = 1000000L).collect().map(key).toSet
    assert(capped == exact, s"capped=${capped.size} exact=${exact.size}")
  }

  test("cosinePairsLSH maxBucket: near-parallel clique excluded whole, background pairs kept") {
    import spark.implicits._
    // 6-vector near-parallel clique (same direction, tiny per-vector tilt
    // on one axis) + one background near-dup pair pointing elsewhere: the
    // clique shares EVERY table's bucket (size 6), the pair's buckets
    // hold 2 — a cap of 5 must drop all C(6,2)=15 clique pairs and keep
    // the background pair with its exact score
    def vec(dir: Int, tilt: Float): Seq[Float] =
      Seq.tabulate(4)(i => (if (i == dir) 10f else 0f) + (if (i == 3) tilt else 0f))
    val rows = (0L until 6L).map(id => (id, vec(0, 0.001f * (id + 1)))) ++
      Seq((100L, vec(1, 0.002f)), (101L, vec(1, 0.003f)))
    val df = rows.toDF("vec_id", "embedding")
    def pairs(cap: Long) = Similarity.cosinePairsLSH(df, "vec_id", "embedding",
      0.9, dim = 4, bits = 8, maxBucket = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = pairs(0L)
    assert(uncapped.count { case (i, j) => i < 6 && j < 6 } == 15, uncapped)
    assert(uncapped.contains((100L, 101L)))
    val capped = pairs(5L)
    assert(capped == Set((100L, 101L)), s"capped=$capped")
    // the recall contract's graceful half: a cap the clique fits under
    // keeps everything
    assert(pairs(6L) == uncapped)
  }

  test("jaccardPairs hashShingles (8-byte-key scale form) == string form") {
    val docs = Tables.documents(spark, sf)
    def run(hashed: Boolean) =
      Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.3, hashShingles = hashed)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(run(hashed = true) == run(hashed = false))
  }

  test("jaccardPairs joinStrategy: identical pairs under all three join plans") {
    // the round-8 measurement knob must be semantics-free: shuffle_hash
    // (default), merge, and broadcast are PLAN choices only — identical
    // pair sets, capped and uncapped
    val docs = Tables.documents(spark, sf)
    for (maxDF <- Seq(0L, 3L)) {
      val runs = Seq("shuffle_hash", "merge", "broadcast").map { strat =>
        strat -> Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.2,
            maxDF = maxDF, joinStrategy = strat)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      }
      val (_, base) = runs.head
      runs.tail.foreach { case (s, got) =>
        assert(got == base, s"strategy $s diverged at maxDF=$maxDF") }
    }
    intercept[IllegalArgumentException] {
      Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.2, joinStrategy = "nested_loop")
    }
  }

  test("jaccardPairs maxDF: hot shingles contribute no candidate pairs") {
    import spark.implicits._
    val d = Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "a b c d e"))
      .toDF("id", "text")
    // all shingles have df=3: capped out at maxDF=1 → no pairs at all
    assert(Dedup.jaccardPairs(d, "id", "text", n = 3, threshold = 0.1, maxDF = 1L).count() == 0)
    // cap above the max df: identical to the uncapped result
    val uncapped = Dedup.jaccardPairs(d, "id", "text", 3, 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    val capped = Dedup.jaccardPairs(d, "id", "text", 3, 0.1, maxDF = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    assert(capped == uncapped && uncapped.size == 3)
  }

  test("Combinators: Series/Group/FTSeries fit in ONE pass (single Exchange)") {
    import Sketches.Combinators._
    import org.apache.spark.sql.Column
    val li = Tables.lineitem(spark, sf)
    val cols = series(col("l_quantity"),
        "n" -> (c => count(c)), "mx" -> (c => max(c))) ++
      group(col("l_extendedprice") -> (("mn_price", (c: Column) => min(c)))) ++
      ftSeries(col("l_quantity"), c => c > 10, c => c * 2,
        "s2" -> (c => sum(c)))
    val out = reduceAll(li, Seq("l_returnflag"), cols)
    val plan = out.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllMatchIn(plan).size == 1,
      s"combined sketch pass should have exactly one Exchange:\n$plan")
    val got = out.orderBy("l_returnflag").collect()
    val want = li.groupBy("l_returnflag").agg(count(col("l_quantity")),
        max(col("l_quantity")), min(col("l_extendedprice")),
        sum(when(col("l_quantity") > 10, col("l_quantity") * 2)))
      .orderBy("l_returnflag").collect()
    got.zip(want).foreach { case (g, w) => assert(g.toSeq == w.toSeq) }
    // custom sketches compose in the same single pass
    val withSketch = reduceAll(li, Seq("l_returnflag"),
      series(col("l_quantity"), "m" -> Sketches.momentsCol _, "n" -> (c => count(c))))
    val row = withSketch.orderBy("l_returnflag").head()
    assert(row.getStruct(1).getLong(0) == row.getLong(2))
  }

  test("SpaceSaving: late heavy hitter guaranteed present, bounded error; exact regime") {
    import Sketches.{SpaceSavingAgg, spaceSavingCol}
    val agg = SpaceSavingAgg(4)
    // adversarial arrival order: 8 light keys saturate the 4-slot summary
    // BEFORE the heavy hitter appears — exactly the pattern CountMapAgg's
    // lightest-key eviction undercounts. HH is 30/70 ≈ 43% of the stream,
    // far above the N/capacity = 17.5 presence guarantee.
    val stream = (0 until 40).map(i => s"k${i % 8}") ++ Seq.fill(30)("HH")
    val bufs = stream.grouped(10).map(c => c.foldLeft(agg.zero)(agg.reduce)).toSeq
    val out = agg.finish(bufs.reduce(agg.merge))
    assert(out.size <= 4)
    val hh = out.find(_.key == "HH")
      .getOrElse(fail("late heavy hitter missing — the guarantee SpaceSaving exists for"))
    assert(hh.count >= 30, s"space-saving counts must overestimate: $hh")
    assert(hh.count - hh.err <= 30, s"error bound violated: $hh")
    // exact regime through the Column API (distinct keys ≤ capacity →
    // exact counts, zero error), swept across partitionings to exercise
    // Spark's partial/merge path
    partitionSweep { n =>
      stream.toDF("x").repartition(n)
        .agg(spaceSavingCol(32)(col("x")).as("m"))
        .select(explode(col("m")).as("e"))
        .select(col("e.key"), col("e.count"), col("e.err"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    }
    val exact = stream.toDF("x")
      .agg(spaceSavingCol(32)(col("x")).as("m"))
      .select(explode(col("m")).as("e"))
      .select(col("e.key"), col("e.count"), col("e.err"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(exact == ((0 until 8).map(i => (s"k$i", 5L, 0L)).toSet + (("HH", 30L, 0L))))
  }

  test("ivfTopK: nprobe=nlist is exactly brute force; partial probes keep recall") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 5)
    val model = Similarity.trainIvf(emb, "embedding", nlist = 8, maxIter = 10)
    assert(model.nlist == 8)
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getLong(2))
    // all cells probed → the approximate operator degenerates to exact search
    val full = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      k = 10, nprobe = 8, model = model)
    val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 10)
    assert(full.collect().map(key).toSet == bf.collect().map(key).toSet)
    // half the cells probed: clustered fixture → top-10 recall stays high
    val part = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      k = 10, nprobe = 4, model = model)
    val recall = bf.collect().map(key).toSet.intersect(part.collect().map(key).toSet)
      .size.toDouble / 50.0
    assert(recall >= 0.5, s"IVF recall $recall at nprobe=4/8")
  }

  test("IVF index: partition-pruned search == ivfTopK; empty queries → empty result") {
    val emb = Tables.embeddings(spark, sf)
    val model = Similarity.trainIvf(emb, "embedding", nlist = 8, maxIter = 10)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toFile.getPath + "/corpus"
    Similarity.writeIvfCorpus(emb, "vec_id", "embedding", model, dir)
    val queries = emb.filter(col("vec_id") < 3)
    val got = Similarity.ivfTopKIndexed(dir, queries, "vec_id", "embedding",
      k = 5, nprobe = 2, model = model)
    val want = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      k = 5, nprobe = 2, model = model)
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(got.collect().map(key).toSet == want.collect().map(key).toSet)
    // only the probed cell= directories are read
    val scanPlan = got.queryExecution.executedPlan.toString
    assert(scanPlan.contains("PartitionFilters: ["), scanPlan)
    assert(scanPlan.contains("cell"), "cell predicate not pushed to the scan")
    val none = Similarity.ivfTopKIndexed(dir, queries.filter(lit(false)),
      "vec_id", "embedding", k = 5, nprobe = 2, model = model)
    assert(none.count() == 0)
  }

  test("IVF×SQ8 code index: nprobe=nlist == sq8TopK bit-for-bit; pruning; partial-probe recall") {
    val emb = Tables.embeddings(spark, sf)
    val ivf = Similarity.trainIvf(emb, "embedding", nlist = 8, maxIter = 10)
    val sq8 = Similarity.sq8Train(emb, "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfsq8").toFile.getPath + "/codes"
    Similarity.writeIvfCorpusSq8(emb, "vec_id", "embedding", ivf, sq8, dir)
    // the persisted table carries codes, not vectors
    val codeSchema = spark.read.parquet(dir).schema
    assert(codeSchema("codes").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.IntegerType, true))
    val queries = emb.filter(col("vec_id") < 5)
    // full probe degenerates to the in-memory quantized scorer EXACTLY
    // (same grid, same fix9 scoring, same tie-break) — the q125 gate's
    // local twin, including the cos values
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val full = Similarity.ivfTopKIndexedSq8(dir, queries, "vec_id", "embedding",
      k = 10, nprobe = 8, ivf = ivf, sq8 = sq8)
    val mem = Similarity.sq8TopK(emb, queries, "vec_id", "embedding", k = 10)
    assert(keyed(full) == keyed(mem))
    // partial probe: pruned scan + recall vs the full-probe result
    val part = Similarity.ivfTopKIndexedSq8(dir, queries, "vec_id", "embedding",
      k = 10, nprobe = 2, ivf = ivf, sq8 = sq8)
    val scanPlan = part.queryExecution.executedPlan.toString
    assert(scanPlan.contains("PartitionFilters: ["), scanPlan)
    assert(scanPlan.contains("cell"), "cell predicate not pushed to the scan")
    val ids = (df: org.apache.spark.sql.DataFrame) =>
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = ids(part).intersect(ids(mem)).size.toDouble / ids(mem).size
    assert(recall >= 0.5, s"IVF×SQ8 recall@10 at nprobe 2/8: $recall")
  }

  test("IVF×PQ code index: nprobe=nlist == pqTopK bit-for-bit; pruning; partial probe") {
    val emb = Tables.embeddings(spark, sf)
    val ivf = Similarity.trainIvf(emb, "embedding", nlist = 8, maxIter = 10)
    val pq = Similarity.trainPq(emb, "embedding", m = 8, k = 16)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq").toFile.getPath + "/codes"
    Similarity.writeIvfCorpusPq(emb, "vec_id", "embedding", ivf, pq, dir)
    // the persisted table carries m codes + a norm, not vectors
    val sch = spark.read.parquet(dir).schema
    assert(sch.fieldNames.toSet == Set("id", "codes", "cnorm", "cell"), sch.fieldNames.toSeq)
    val queries = emb.filter(col("vec_id") < 5)
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val full = Similarity.ivfTopKIndexedPq(dir, queries, "vec_id", "embedding",
      k = 10, nprobe = 8, ivf = ivf, pq = pq)
    val mem = Similarity.pqTopK(emb, queries, "vec_id", "embedding", pq, k = 10)
    assert(keyed(full) == keyed(mem), "full probe must equal the in-memory ADC scorer exactly")
    val part = Similarity.ivfTopKIndexedPq(dir, queries, "vec_id", "embedding",
      k = 10, nprobe = 2, ivf = ivf, pq = pq)
    val scanPlan = part.queryExecution.executedPlan.toString
    assert(scanPlan.contains("PartitionFilters: [") && scanPlan.contains("cell"),
      s"cell predicate not pushed:\n$scanPlan")
    val ids = (df: org.apache.spark.sql.DataFrame) =>
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = ids(part).intersect(ids(mem)).size.toDouble / ids(mem).size
    assert(recall >= 0.5, s"IVF×PQ recall@10 at nprobe 2/8: $recall")
  }

  test("ivfTopK plan: broadcast probe join and NO dedup aggregate (cells partition the corpus)") {
    val emb = Tables.embeddings(spark, sf)
    val model = Similarity.trainIvf(emb, "embedding", nlist = 4, maxIter = 3)
    val df = Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 3),
      "vec_id", "embedding", k = 5, nprobe = 2, model = model)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"probe join not broadcast:\n$plan")
    // cell routing is a native expression (nearest_cell/top_cells) — no
    // ScalaUDF eval boundary in the corpus scan
    assert(!plan.contains("UDF"), s"UDF boundary in the IVF plan:\n$plan")
    // LSH needs dropDuplicates (OR-amplified tables duplicate candidates),
    // which lowers to an aggregate; IVF cells are disjoint so the plan must
    // carry NO aggregate at all — pin that structural advantage
    assert(!plan.contains("HashAggregate"), s"unexpected dedup/aggregate in IVF plan:\n$plan")
    // excludeSelf=false: every query's rank-1 hit is itself at cos == 1
    val self = Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 3),
      "vec_id", "embedding", k = 1, nprobe = 4, model = model, excludeSelf = false)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(self == Set((0L, 0L), (1L, 1L), (2L, 2L)))
  }

  test("saveIvf/loadIvf roundtrip: loaded model reproduces the saved model's results") {
    val emb = Tables.embeddings(spark, sf)
    val model = Similarity.trainIvf(emb, "embedding", nlist = 4, maxIter = 3)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfm").toFile.getPath + "/model"
    Similarity.saveIvf(model, dir, spark)
    val loaded = Similarity.loadIvf(spark, dir)
    assert(loaded.centroids.map(_.toSeq).toSeq == model.centroids.map(_.toSeq).toSeq,
      "centroids changed through the parquet roundtrip")
    val queries = emb.filter(col("vec_id") < 3)
    def run(m: Similarity.IvfModel) =
      Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
        k = 5, nprobe = 2, model = m)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(run(loaded) == run(model))
    // corrupt save (non-contiguous cells) fails loudly, not with skewed cells
    import spark.implicits._
    val bad = java.nio.file.Files.createTempDirectory("graft_ivfb").toFile.getPath + "/m"
    Seq((0, Seq(1.0)), (2, Seq(2.0))).toDF("cell", "centroid")
      .write.mode("overwrite").parquet(bad)
    val e = intercept[IllegalArgumentException](Similarity.loadIvf(spark, bad))
    assert(e.getMessage.contains("non-contiguous"))
  }

  test("connectedComponents: multi-hop chain converges; maxIter guard fails loudly") {
    import spark.implicits._
    // a 12-node path: min label must travel 11 hops — exercises the
    // iteration loop well past the one-round case
    val chain = (0L until 11L).map(i => (i, i + 1)).toDF("i", "j")
    // localEdgeLimit = 0: force the DISTRIBUTED path — an 11-edge chain
    // takes the driver fast path by default, and both the 11-hop
    // propagation and the maxIter guard live on the iterative side
    val cc = Dedup.connectedComponents(chain, localEdgeLimit = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == (0L to 11L).map(_ -> 0L).toMap, s"chain not collapsed: $cc")
    val e = intercept[IllegalStateException](
      Dedup.connectedComponents(chain, maxIter = 2, localEdgeLimit = 0L))
    assert(e.getMessage.contains("did not converge"))
    // fast path on the same chain: identical labeling, no iteration
    val fcc = Dedup.connectedComponents(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fcc == cc, s"fast-path labeling diverges: $fcc")
  }

  test("decontaminate: flagged docs removed, clean docs keep all columns") {
    import spark.implicits._
    val bench = Seq((100L, "the quick brown fox jumps high")).toDF("id", "text")
    val docs = Seq(
      (1L, "the quick brown fox jumps low", "keepmeta"), // 3 shared 3-grams
      (2L, "completely different words here now", "other"),
      (3L, "the quick brown fox jumps high today", "dup")  // ≥4 shared
    ).toDF("doc_id", "text", "source")
    val clean = Dedup.decontaminate(docs, "doc_id", "text", bench, "text",
      n = 3, minShared = 3)
    assert(clean.columns.toSeq == Seq("doc_id", "text", "source"))
    assert(clean.select("doc_id").collect().map(_.getLong(0)).toSet == Set(2L))
  }

  test("approxDistinct (HLL++): partition-invariant estimate within 4·rsd of exact") {
    val ev = Tables.events(spark, sf)
    val exact = ev.select(count_distinct(col("user_id"))).head().getLong(0)
    // register-max merge is order/partitioning-independent: the estimate
    // must be IDENTICAL at every partitioning (the OnlineStats
    // copy-per-chunk + merge contract, like the other sketches)
    val ests = (1 to 5).map { n =>
      ev.repartition(n).select(
        graft.functions.Sketches.approxDistinct(col("user_id"), rsd = 0.02))
        .head().getLong(0)
    }
    assert(ests.distinct.size == 1, s"estimate moved with partitioning: $ests")
    val err = math.abs(ests.head.toDouble - exact) / exact
    assert(err <= 0.08, s"HLL err $err > 4·rsd (exact $exact, est ${ests.head})")
  }

  test("contaminationScoresBloom == contaminationScores (verify kills FPs, even at fpp 0.5); native probe in plan") {
    val d = Tables.documents(spark, sf)
    val bench = d.filter(pmod(col("doc_id"), lit(20L)) === 0)
    val cand = d.filter(pmod(col("doc_id"), lit(20L)) =!= 0)
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = keyed(Dedup.contaminationScores(cand, "doc_id", "text",
      bench, "text", n = 3))
    assert(exact.nonEmpty, "fixture should have contaminated docs")
    val bloom = Dedup.contaminationScoresBloom(cand, "doc_id", "text",
      bench, "text", n = 3, fpp = 0.01)
    assert(keyed(bloom) == exact)
    // the probe is the native codegen expression, applied in the corpus
    // scan stage (before the verify join), not a ScalaUDF
    val plan = bloom.queryExecution.executedPlan.toString
    assert(plan.contains("bloom_might_contain"), plan)
    assert(!plan.contains("ScalaUDF"), "probe must not be a UDF")
    // adversarial FP pressure: a deliberately terrible filter (50% FP)
    // floods the verify join with false candidates — the RESULT must not
    // change by a single row (exactness comes from the verify, the filter
    // only sizes the exchange)
    val floody = Dedup.contaminationScoresBloom(cand, "doc_id", "text",
      bench, "text", n = 3, fpp = 0.5)
    assert(keyed(floody) == exact)
  }

  test("packGreedy: oversized docs isolated; binStats fill ratios; shards bound runs") {
    import spark.implicits._
    val df = Seq(("g", 1L, 60L), ("g", 2L, 50L), ("g", 3L, 200L), ("g", 4L, 10L))
      .toDF("grp", "ord", "ntok")
    val packed = graft.functions.Packing.packGreedy(df, "grp", "ord", col("ntok"), budget = 100)
    val bins = packed.collect().map(r => r.getLong(2) -> r.getLong(4)).toMap
    // 60 | 50 would overflow → new bin; 200 > budget → own bin; 10 follows
    assert(bins == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L), s"bins=$bins")
    val stats = graft.functions.Packing.binStats(packed, "grp", budget = 100)
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .sortBy(_._1)
    assert(stats.map(s => (s._1, s._3)).toSeq ==
      Seq((0L, 60L), (1L, 50L), (2L, 200L), (3L, 10L)))
    assert(math.abs(stats(2)._4 - 2.0) < 1e-12) // 200/100 fill
    // sharded: every row still assigned exactly once
    val sharded = graft.functions.Packing.packGreedy(df, "grp", "ord", col("ntok"),
      budget = 100, shards = 2)
    assert(sharded.count() == 4)
  }

  test("resampleToMixture plan: filter pass carries NO join (thresholds inlined)") {
    import spark.implicits._
    val df = Seq(("x", 1L), ("x", 2L), ("y", 3L), ("z", 4L)).toDF("dom", "k")
    val out = graft.functions.Sampling.resampleToMixture(
      df, "dom", "k", Map("x" -> 0.5, "y" -> 0.5))
    out.count()
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"corpus-side join in the mixture filter:\n$plan")
    // domain outside the target ('z') is dropped
    assert(!out.collect().map(_.getString(0)).contains("z"))
  }

  test("bucketed ANN corpus: partition-pruned query == lshTopK") {
    val emb = Tables.embeddings(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_ann").toFile.getPath + "/corpus"
    Similarity.writeBucketedCorpus(emb, "vec_id", "embedding", 64, 4, 4, dir)
    val queries = emb.filter(col("vec_id") < 3)
    val got = Similarity.lshTopKBucketed(dir, queries, "vec_id", "embedding",
      64, 4, 5, tables = 4)
    val want = Similarity.lshTopK(emb, queries, "vec_id", "embedding", 64, 4, 5,
      tables = 4)
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(got.collect().map(key).toSet == want.collect().map(key).toSet)
    // the scan must read only matching (tbl, sig) directories
    val scanPlan = got.queryExecution.executedPlan.toString
    assert(scanPlan.contains("PartitionFilters: ["), scanPlan)
    assert(scanPlan.contains("sig"), "bucket predicate not pushed to the scan")
  }

  test("n-parameterized expressions refuse n < 1 loudly") {
    import graft.plans.HashExpressions
    for (bad <- Seq(0, -1)) {
      intercept[IllegalArgumentException](HashExpressions.repStats(col("text"), bad))
      intercept[IllegalArgumentException](HashExpressions.shingleStrings(col("text"), bad))
      intercept[IllegalArgumentException](HashExpressions.shingleHashes(col("text"), bad))
      intercept[IllegalArgumentException](HashExpressions.minhashSig(col("text"), bad, 4))
    }
    intercept[IllegalArgumentException](HashExpressions.minhashSig(col("text"), 3, 0))
  }

  test("sharedPassages: golden runs, diagonals, minRun gate") {
    import spark.implicits._
    val df = Seq(
      (1L, "p q r s t u v"),
      (2L, "x p q r s y t u v"),
      (3L, "m n o m n o m n z")).toDF("id", "text")
    def runs(minRun: Long) =
      Dedup.sharedPassages(df, "id", "text", n = 3, minRun = minRun)
        .orderBy("i", "j", "start_i", "start_j").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSeq
    // docs 1↔2 share "p q r","q r s" (one diagonal, run 2 → 4 tokens) and
    // "t u v" (another diagonal, run 1); doc 3's internal repeats match
    // nothing across docs
    assert(runs(2) == Seq((1L, 2L, 0L, 1L, 2L, 4L)))
    assert(runs(1) == Seq((1L, 2L, 0L, 1L, 2L, 4L), (1L, 2L, 4L, 6L, 1L, 3L)))
  }

  test("sharedPassages recall pin (the ExactSubstr differential, round " +
    "18): every literal shared token substring of >= minRun+n-1 tokens " +
    "is reported exactly - planted ground truth AND the full sf0.01 " +
    "documents corpus vs a token-level substring oracle; miss rate 0, " +
    "spurious 0") {
    import spark.implicits._
    val n = 3; val minRun = 3L; val L = minRun.toInt + n - 1 // 5 tokens
    // literal substring oracle, no gram hashing anywhere: seed on exact
    // L-token WINDOWS (any shared substring of >= L tokens must contain
    // one - arithmetic, not machinery), then extend each seed match
    // token-by-token to maximality; set-dedup collapses the seeds of
    // one run to its single maximal form
    def literalRuns(toks: Map[Long, IndexedSeq[String]])
        : Set[(Long, Long, Long, Long, Long)] = {
      val idx = scala.collection.mutable
        .Map.empty[Seq[String], List[(Long, Int)]]
      for ((id, ts) <- toks; p <- 0 to ts.length - L) {
        val k = ts.slice(p, p + L)
        idx(k) = (id, p) :: idx.getOrElse(k, Nil)
      }
      val out = scala.collection.mutable
        .Set.empty[(Long, Long, Long, Long, Long)]
      for ((_, occs) <- idx; (a, pa) <- occs; (b, pb) <- occs if a < b) {
        val (ta, tb) = (toks(a), toks(b))
        var (si, sj) = (pa, pb)
        while (si > 0 && sj > 0 && ta(si - 1) == tb(sj - 1)) {
          si -= 1; sj -= 1
        }
        var (ei, ej) = (pa + L, pb + L)
        while (ei < ta.length && ej < tb.length && ta(ei) == tb(ej)) {
          ei += 1; ej += 1
        }
        out += ((a, b, si.toLong, sj.toLong, (ei - si).toLong))
      }
      out.toSet
    }
    def opRuns(df: org.apache.spark.sql.DataFrame)
        : Set[(Long, Long, Long, Long, Long)] =
      Dedup.sharedPassages(df, "doc_id", "text", n, minRun)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(5))).toSet
    def tokensOf(df: org.apache.spark.sql.DataFrame)
        : Map[Long, IndexedSeq[String]] =
      df.select(col("doc_id"), Text.tokens(col("text")).as("t"))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1).toIndexedSeq).toMap
    // ---- (a) planted ground truth, independent of ANY oracle model:
    // globally-unique filler tokens (no accidental repeats possible),
    // a 7-token passage planted in docs 3/11, an exactly-L 5-token
    // passage in docs 5/6, a 4-token (< L) passage in docs 7/8 that
    // must NOT surface
    val p7 = "alpha beta gamma delta epsilon zeta eta"
    val p5 = "one two three four five"
    val p4 = "red green blue white"
    def filler(id: Long, from: Int, cnt: Int): String =
      (from until from + cnt).map(k => s"d${id}x$k").mkString(" ")
    val planted = (1L to 12L).map { id =>
      val text = id match {
        case 3L => filler(id, 0, 4) + " " + p7 + " " + filler(id, 4, 6)
        case 11L => filler(id, 0, 9) + " " + p7 + " " + filler(id, 9, 3)
        case 5L => p5 + " " + filler(id, 0, 8)
        case 6L => filler(id, 0, 5) + " " + p5
        case 7L => filler(id, 0, 6) + " " + p4
        case 8L => p4 + " " + filler(id, 0, 7)
        case _ => filler(id, 0, 14)
      }
      (id, text)
    }.toDF("doc_id", "text")
    val gotPlanted = opRuns(planted)
    assert(gotPlanted == Set((3L, 11L, 4L, 9L, 7L), (5L, 6L, 0L, 5L, 5L)),
      s"planted ground truth mismatch: $gotPlanted")
    // the synthetic corpus also agrees with the literal oracle exactly
    assert(gotPlanted == literalRuns(tokensOf(planted)))
    // ---- (b) the real sf0.01 corpus: operator vs literal oracle over
    // every document pair - the recall bound is EXACT (misses are only
    // possible through a maxDF cap, which is off here; a 64-bit gram
    // hash collision could only ADD a run, and none exists at this
    // scale)
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
      .select("doc_id", "text")
    val got = opRuns(docs)
    val want = literalRuns(tokensOf(docs))
    val missed = want -- got
    val spurious = got -- want
    assert(missed.isEmpty && spurious.isEmpty,
      s"recall differential: |oracle|=${want.size} |op|=${got.size} " +
        s"missed=${missed.take(5)} spurious=${spurious.take(5)}")
    assert(want.nonEmpty, "fixture regression: no shared passages at all")
  }

  test("stripPassages: keep-first removal, chains, total removal, pass-through") {
    import spark.implicits._
    // docs 1<2<3 all share "p q r s t"; doc 4 is untouched
    val df = Seq(
      (1L, "p q r s t a"),
      (2L, "b p q r s t"),
      (3L, "p q r s t c d"),
      (4L, "e f g h")).toDF("id", "text")
    val out = Dedup.stripPassages(df, "id", "text", n = 3, minRun = 3)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, "p q r s t a", 6L),  // smallest id keeps the passage
      (2L, "b", 1L),            // span [1,6) removed
      (3L, "c d", 2L),          // span [0,5) removed (pairs with BOTH 1 and 2)
      (4L, "e f g h", 4L)))     // no shared passage: normalized pass-through
    // total removal: an exact duplicate empties to "" (the Spark
    // counterpart of the DuckDB array_to_string-NULL gotcha), and a true
    // transitive chain (1~2 via X, 2~3 via Y, 1∩3 = ∅) strips each later
    // doc only where its own pairs shared
    val df2 = Seq(
      (1L, "x1 x2 x3 x4 x5"),
      (2L, "x1 x2 x3 x4 x5"),      // exact dup of 1 → emptied
      (3L, "x1 x2 x3 x4 x5 y1 y2 y3 y4 y5"), // loses X (from 1,2); keeps Y
      (4L, "z y1 y2 y3 y4 y5")).toDF("id", "text") // loses Y (from 3); keeps z
    val out2 = Dedup.stripPassages(df2, "id", "text", n = 3, minRun = 3)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(3)))
    assert(out2.toSeq == Seq(
      (1L, "x1 x2 x3 x4 x5", 5L),
      (2L, "", 0L),
      (3L, "y1 y2 y3 y4 y5", 5L),
      (4L, "z", 1L)), out2.mkString("; "))
  }

  test("sharedPassages maxDF caps DOC frequency, not in-doc repetitions") {
    import spark.implicits._
    // A↔B share the passage "p q r s t"; C repeats the gram "p q r"
    // internally many times (occurrences ≫ cap) but its DOC frequency is 3
    val df = Seq(
      (1L, "p q r s t"),
      (2L, "z p q r s t"),
      (3L, "p q r p q r p q r p q r")).toDF("id", "text")
    def runsAt(maxDF: Long) =
      Dedup.sharedPassages(df, "id", "text", n = 3, minRun = 2, maxDF = maxDF)
        .orderBy("i", "j", "start_i").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSeq
    // cap 3 ≥ every gram's doc frequency → A↔B run of 3 grams survives
    // intact (an occurrence-counting cap would wrongly evict "p q r")
    assert(runsAt(3).contains((1L, 2L, 0L, 1L, 3L)), runsAt(3).toString)
    // cap 2 < df("p q r")=3 → the run loses its first gram, survives as 2
    assert(runsAt(2).contains((1L, 2L, 1L, 2L, 2L)), runsAt(2).toString)
  }

  test("rep_stats native == sorted-fold HOF reference on fixture + edges") {
    import spark.implicits._
    val edge = Seq("", "   ", "a", "a a", "a a a a", "x y x y x y",
      "one two three two three two", "A  a\tA \n a").toDF("text")
    for (df <- Seq(edge, Tables.documents(spark, sf).select(col("text")));
         n <- Seq(1, 2, 3)) {
      val diff = df.select(Text.repetitionStats(col("text"), n).as("native"),
          Text.repetitionStatsHof(col("text"), n).as("re"))
        .filter(not(col("native") <=> col("re")))
      assert(diff.isEmpty, s"n=$n: " + diff.take(3).mkString("; "))
    }
  }

  test("PII scrub: counts and redaction on adversarial inline cases") {
    import spark.implicits._
    val cases = Seq(
      // (text, n_email, n_phone, n_ip, redacted)
      ("mail a@b.co and c.d-e@f.org now", 2L, 0L, 0L, "mail <EMAIL> and <EMAIL> now"),
      ("+1-555-1234", 0L, 1L, 0L, "<PHONE>"),
      ("ip 10.0.0.1 edge", 0L, 0L, 1L, "ip <IP> edge"),
      ("999.999.999.999", 0L, 0L, 1L, "<IP>"), // syntactic match; no range check
      ("adjacent a@b.co 1.2.3.4 +12-345-6789", 1L, 1L, 1L,
        "adjacent <EMAIL> <IP> <PHONE>"),
      ("digits15@ex4mple.com", 1L, 0L, 0L, "<EMAIL>"),
      ("no pii at all", 0L, 0L, 0L, "no pii at all"),
      ("1.2.3.4.5", 0L, 0L, 1L, "<IP>.5"), // greedy leftmost match, documented
      ("v1.2.3 semver", 0L, 0L, 0L, "v1.2.3 semver")) // \b guards the left edge
    val df = cases.map(_._1).toDF("text")
    val got = df.select(col("text"), Text.emailCount(col("text")),
        Text.phoneCount(col("text")), Text.ipCount(col("text")),
        Text.scrubPii(col("text"))).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(got.toSeq == cases, got.toSeq.diff(cases).mkString("; "))
  }

  test("gopherKeep == conjunction of its exported signals") {
    val docs = Tables.documents(spark, sf)
    val out = docs.select(
      Text.tokenCount(col("text")).as("nt"),
      Text.meanTokenLen(col("text")).as("ml"),
      Text.stopwordRatio(col("text")).as("sr"),
      Text.dupNgramFrac(col("text"), 2).as("d2"),
      Text.gopherKeep(col("text"), minTokens = 40, maxTokens = 100000,
        minMeanLen = 3.0, maxMeanLen = 10.0,
        minStopRatio = 0.02, maxDupFrac = 0.05).as("keep"))
    val bad = out.filter(col("keep") =!= (col("nt") >= 40 && col("nt") <= 100000 &&
      col("ml") >= 3.0 && col("ml") <= 10.0 && col("sr") >= 0.02 && col("d2") <= 0.05))
    assert(bad.isEmpty, bad.take(3).mkString("; "))
    // the fixture thresholds must exercise BOTH outcomes
    val keeps = out.groupBy(col("keep")).count().collect().map(_.getBoolean(0)).toSet
    assert(keeps == Set(true, false), s"gate does not discriminate: $keeps")
  }

  test("gopherKeep: fused gate runs inside WholeStageCodegen, one tokenizer call per row") {
    // Round-6 audit result: the HOF-based conjunction evaluated the tokens
    // subtree ~10× per row AND ejected the projection from WholeStageCodegen
    // (ArrayFilter/ArrayAggregate are CodegenFallback, and fresh lambda
    // ExprIds defeat subexpression elimination — CSE could never have saved
    // it). The gate is now ONE native expression; this pins both halves:
    // the projection is codegen'd (starred in the plan) and the generated
    // code calls gopherKeepJava exactly once — one tokenizer pass per row.
    val docs = Tables.documents(spark, sf)
    val df = docs.select(Text.gopherKeep(col("text"),
      minTokens = 40, maxTokens = 100000, minMeanLen = 3.0, maxMeanLen = 10.0,
      minStopRatio = 0.02, maxDupFrac = 0.05).as("keep"))
    val planStr = df.queryExecution.executedPlan.toString
    assert(planStr.contains("*(1) Project"),
      s"gopherKeep projection fell out of WholeStageCodegen:\n$planStr")
    val code = org.apache.spark.sql.execution.debug.codegenString(
      df.queryExecution.executedPlan)
    val nGate = "gopherKeepJava\\(".r.findAllIn(code).size
    assert(nGate == 1,
      s"expected exactly 1 gopherKeepJava call site in generated code, got $nGate")
  }

  test("gopherKeep: fused native gate == HOF conjunction, fixture + edge cases") {
    import spark.implicits._
    // fixture corpus at thresholds that split it, plus hand-built edges:
    // empty text, whitespace-only, token-less-after-normalize, all-stopword
    // (mean len < 3 but stop ratio 1), pure repetition (dup2 = 1), null
    val edges = Seq("", "   ", "\t\n", "the the the the the",
      ("spark " * 60).trim, "one two three four five six seven eight nine ten")
      .toDF("text")
    val corpus = Tables.documents(spark, sf).select(col("text")).union(edges)
    for ((minT, maxT, minL, maxL, minS, maxD) <-
           Seq((40L, 100000L, 3.0, 10.0, 0.02, 0.05),
               (0L, 100000L, 0.0, 100.0, 0.0, 1.0),
               (50L, 100000L, 3.0, 10.0, 0.0, 0.2))) {
      val bad = corpus.select(
          Text.gopherKeep(col("text"), minT, maxT, minL, maxL, minS, maxD).as("a"),
          Text.gopherKeepHof(col("text"), minT, maxT, minL, maxL, minS, maxD).as("b"))
        .filter(!(col("a") <=> col("b")))
      assert(bad.isEmpty,
        s"fused/HOF divergence at ($minT,$maxT,$minL,$maxL,$minS,$maxD): " +
          bad.take(3).mkString("; "))
      // NULL text: the fused gate's contract is a definitive FALSE (the
      // HOF's null result is threshold-dependent three-valued noise —
      // false when some conjunct collapses, null otherwise; a curation
      // gate must never pass a null document either way)
      val onNull = spark.sql("SELECT CAST(NULL AS STRING) AS text")
        .select(Text.gopherKeep(col("text"), minT, maxT, minL, maxL, minS, maxD))
        .head().getBoolean(0)
      assert(!onNull, "null text must gate to false")
    }
  }

  test("chunkTokens: golden grid + lossless reconstruction on fixture") {
    import spark.implicits._
    val df = Seq((1L, "a b c d e f g"), (2L, "x"), (3L, "  ")).toDF("id", "text")
    val got = Text.chunkTokens(df, "id", "text", chunkSize = 4, overlap = 1)
      .orderBy("id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // doc1: n=7, stride=3 → chunks [a b c d], [d e f g] (share 1 token);
    // doc2: single short chunk; doc3 (no tokens): no rows
    assert(got.toSeq == Seq(
      (1L, 0L, 4L, "a b c d"), (1L, 1L, 4L, "d e f g"), (2L, 0L, 1L, "x")))
    // fixture invariant: dropping each non-first chunk's leading `overlap`
    // tokens and concatenating reproduces the token stream exactly
    val docs = Tables.documents(spark, sf)
    val chunks = Text.chunkTokens(docs, "doc_id", "text", chunkSize = 32, overlap = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    val model = docs.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq).toMap
    for ((id, toks) <- model if toks.nonEmpty) {
      val rebuilt = chunks(id).zipWithIndex.flatMap { case (c, k) =>
        val t = c.split(" ").toSeq
        if (k == 0) t else t.drop(8)
      }
      assert(rebuilt.toSeq == toks, s"doc $id reconstruction mismatch")
    }
    assert(chunks.keySet == model.filter(_._2.nonEmpty).keySet)
  }

  test("tfidfTopK: exact scores and ranks on a hand-computed corpus") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple apple banana"),
      (2L, "banana cherry"),
      (3L, "cherry cherry cherry apple")).toDF("id", "text")
    // N=3; df: apple 2, banana 2, cherry 2 → score = tf * 3.0 / 2
    val got = Text.tfidfTopK(docs, "id", "text", k = 2)
      .orderBy("id", "term").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    val want = Seq(
      (1L, "apple", 2L, 2L, 3.0), (1L, "banana", 1L, 2L, 1.5),
      (2L, "banana", 1L, 2L, 1.5), (2L, "cherry", 1L, 2L, 1.5),
      (3L, "apple", 1L, 2L, 1.5), (3L, "cherry", 3L, 2L, 4.5))
    assert(got.toSeq == want, got.mkString("; "))
  }

  test("dedupChunks: golden keep-first, within-doc repeats, all-dup collapse, empty doc") {
    val docs = Seq(
      (1L, "a b c d"),    // chunks [a b][c d] — both first occurrences
      (2L, "a b x y"),    // [a b] seen in doc 1 → removed; [x y] kept
      (3L, "c d"),        // [c d] seen → collapses to ""
      (4L, ""),           // zero tokens → 0 chunks, ""
      (5L, "p q p q"),    // within-doc repeat: 2nd [p q] removed
      (6L, "z")           // short tail chunk, unique
    ).toDF("doc_id", "text")
    partitionSweep { n =>
      val got = Dedup.dedupChunks(docs.repartition(n), "doc_id", "text", chunkSize = 2)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
      assert(got == Seq(
        (1L, "a b c d", 2L, 2L),
        (2L, "x y", 2L, 1L),
        (3L, "", 1L, 0L),
        (4L, "", 0L, 0L),
        (5L, "p q", 2L, 1L),
        (6L, "z", 1L, 1L)), got.mkString("; "))
      // the aggregate+join formulation (the beyond-local-skew escape
      // hatch; SCALE.md's dedupChunks rows) is semantically identical
      val agg = Dedup.dedupChunks(docs.repartition(n), "doc_id", "text",
          chunkSize = 2, aggFirsts = true)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
      assert(agg == got, "aggFirsts diverged from the window default")
      got
    }
  }

  test("countMin: estimates partition-invariant, never undercount, bound holds") {
    val ev = Tables.events(spark, sf).select(col("user_id"))
    val exact = ev.groupBy("user_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val keys = exact.keys.toSeq.sorted
    partitionSweep { p =>
      val est = Sketches.countMinEstimates(ev.repartition(p), "user_id",
          eps = 0.001, confidence = 0.999, seed = 42, keys = keys)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      est.foreach { case (k, e) =>
        assert(e >= exact(k), s"undercount at $k: $e < ${exact(k)}")
        assert(e <= exact(k) + math.ceil(0.001 * n).toLong,
          s"bound violated at $k: $e vs ${exact(k)}")
      }
      est
    }
  }

  test("dedupLines: alignment-free removal, empty lines dropped, delimiter reassembly") {
    val docs = Seq(
      (1L, "x\ny"),     // both first occurrences
      (2L, "y\nz\n"),   // y seen in doc 1 (different position — alignment-free) → "z"
      (3L, "x"),        // whole doc seen → ""
      (4L, "q\nq"),     // within-doc repeat → "q"
      (5L, "\n\n")      // only empty lines → 0 units
    ).toDF("doc_id", "text")
    partitionSweep { n =>
      val got = Dedup.dedupLines(docs.repartition(n), "doc_id", "text")
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
      assert(got == Seq(
        (1L, "x\ny", 2L, 2L),
        (2L, "z", 2L, 1L),
        (3L, "", 1L, 0L),
        (4L, "q", 2L, 1L),
        (5L, "", 0L, 0L)), got.mkString("; "))
      got
    }
  }

  test("hashedLinearScore: exact vs a driver-side model; bounds; discrimination") {
    val docs = Tables.documents(spark, sf).limit(100)
    val got = docs.select(col("doc_id"), col("text"),
        ML.hashedLinearScore(col("text"), dim = 65536, salt = "m7").as("r"))
      .select(col("doc_id"), col("text"), col("r.n_tokens"), col("r.w_sum"), col("r.score"))
      .collect()
    val md = java.security.MessageDigest.getInstance("MD5")
    def u32(s: String): Long = {
      val h = md.digest(("m7" + s).getBytes("UTF-8"))
      java.lang.Long.parseLong(h.take(4).map(b => f"$b%02x").mkString, 16)
    }
    var kept, dropped = 0
    got.foreach { r =>
      val toks = r.getString(1).toLowerCase.trim.split("\\s+").filter(_.nonEmpty)
      val ws = toks.map(t => (u32(t) % 65536) % 100000L * 2654435761L % 1001L - 500L).sum
      assert(r.getLong(2) == toks.length, s"doc ${r.getLong(0)} n_tokens")
      assert(r.getLong(3) == ws, s"doc ${r.getLong(0)} w_sum ${r.getLong(3)} vs $ws")
      val score = r.getDouble(4)
      assert(math.abs(score) <= 0.5)
      if (toks.nonEmpty)
        assert(score == ws.toDouble / (1000.0 * toks.length), s"doc ${r.getLong(0)} score")
      if (score > 0.0) kept += 1 else dropped += 1
    }
    // a mean-zero hashed model must split a 100-doc corpus, not rubber-stamp it
    assert(kept > 10 && dropped > 10, s"no discrimination: $kept kept, $dropped dropped")
    // empty text scores 0 with 0 tokens
    val e = Seq((1L, ""), (2L, "   ")).toDF("id", "text")
      .select(ML.hashedLinearScore(col("text"), 65536, "m7").as("r"))
      .select(col("r.n_tokens"), col("r.w_sum"), col("r.score")).collect()
    e.foreach(r => assert((r.getLong(0), r.getLong(1), r.getDouble(2)) == ((0L, 0L, 0.0))))
  }

  test("ivfAppendCorpus: resident files untouched (mtime/length), appended index == rebuilt") {
    val emb = Tables.embeddings(spark, sf)
    val model = Similarity.trainIvf(emb, "embedding", nlist = 4, maxIter = 3)
    val root = java.nio.file.Files.createTempDirectory("ivfapp-spec-").toFile
    val appended = s"${root.getAbsolutePath}/appended"
    val rebuilt = s"${root.getAbsolutePath}/rebuilt"
    Similarity.writeIvfCorpus(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", model, appended)
    def files(dir: String): Map[String, (Long, Long)] = {
      val b = java.nio.file.Paths.get(dir)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(b).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => (b.relativize(p).toString,
          (java.nio.file.Files.getLastModifiedTime(p).toMillis, java.nio.file.Files.size(p))))
        .toMap
    }
    val before = files(appended)
    assert(before.nonEmpty)
    Thread.sleep(20) // make an illegal rewrite visible in mtime
    Similarity.ivfAppendCorpus(emb.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", model, appended)
    val after = files(appended)
    // every pre-append file still present, byte-identical metadata
    before.foreach { case (name, meta) =>
      assert(after.get(name).contains(meta), s"resident file $name was rewritten") }
    assert(after.size > before.size, "append added no files")
    // the appended index answers exactly like a from-scratch build
    Similarity.writeIvfCorpus(emb, "vec_id", "embedding", model, rebuilt)
    val q = emb.filter(col("vec_id") < 5)
    def top(path: String) = Similarity.ivfTopKIndexed(path, q, "vec_id", "embedding",
        k = 5, nprobe = 4, model = model, exact = true)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(top(appended) == top(rebuilt))
  }

  test("exactIncremental: within-batch min-id, index lookups, append survives re-read") {
    val idx = java.nio.file.Files.createTempDirectory("dedupidx-spec-")
      .toAbsolutePath.toString + "/digests"
    val b1 = Seq((3L, "Hello  World"), (1L, "hello world"), (2L, "fresh one"))
      .toDF("id", "text") // ids 1,3 normalize equal → min id 1 survives
    val s1 = Dedup.exactIncremental(b1, "id", "text", idx)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(s1.toSeq == Seq(1L, 2L))
    val b2 = Seq((10L, "HELLO WORLD"), (11L, "brand new"), (12L, "fresh one"))
      .toDF("id", "text") // 10, 12 already indexed; 11 is new
    val s2 = Dedup.exactIncremental(b2, "id", "text", idx)
    assert(s2.select("id").collect().map(_.getLong(0)).toSeq == Seq(11L))
    // the checkpoint guard: s2 must stay stable AFTER its own digests were
    // appended (a lazy plan would anti-join them against themselves → empty)
    val b3 = Seq((20L, "brand new")).toDF("id", "text")
    assert(Dedup.exactIncremental(b3, "id", "text", idx).count() == 0L)
    assert(s2.count() == 1L)
    // index holds one digest per distinct text, nothing double-counted
    val distinctDigests = spark.read.parquet(idx).distinct().count()
    assert(spark.read.parquet(idx).count() == 3L && distinctDigests == 3L)
  }

  test("foldAccents: golden folds, non-decomposable passthrough, canonicalKey") {
    val rows = Seq(
      ("café", "cafe"), ("El Niño", "El Nino"), ("Mühleisen", "Muhleisen"),
      ("Ångström", "Angstrom"),
      ("søren", "søren"),      // ø has no canonical decomposition: passthrough
      ("plain ascii!", "plain ascii!"), ("", ""))
      .toDF("in", "want")
    val got = rows.select(col("want"), Text.foldAccents(col("in")).as("got"))
      .collect()
    got.foreach(r => assert(r.getString(1) == r.getString(0),
      s"foldAccents mismatch: got ${r.getString(1)}, want ${r.getString(0)}"))
    // matches the reference formulation: Java Normalizer NFD → strip \p{M} → NFC
    val texts = Seq("Über straße", "naïve — déjà vu", "ASCII only", "ñçõâęł")
    val ref = texts.map { s =>
      val nfd = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)
      java.text.Normalizer.normalize(nfd.replaceAll("\\p{M}+", ""),
        java.text.Normalizer.Form.NFC)
    }
    val out = texts.toDF("t").select(Text.foldAccents(col("t")))
      .collect().map(_.getString(0)).toSeq
    assert(out == ref)
    // canonicalKey collapses encoding variants of the same page to one key
    val variants = Seq("Quick  Brown\tFox", "qüíck brówn fóx ", "QUICK BROWN FOX")
      .toDF("t").select(Text.canonicalKey(col("t")).as("k"))
      .distinct().collect().map(_.getString(0))
    assert(variants.toSeq == Seq("quick brown fox"))
    // null in, null out
    assert(Seq[Option[String]](None).toDF("t")
      .select(Text.foldAccents(col("t"))).collect().head.isNullAt(0))
  }

  test("scriptProfile: per-block counts, dominant fraction, edge cases") {
    val rows = Seq(
      "hello мир 123",      // 5 latin, 3 cyrillic, 3 digits
      "αβγ 中文 test",       // 3 greek, 2 cjk, 4 latin
      "مرحبا",              // 5 arabic
      "12345 .,;!",         // digits + punctuation only: no script chars
      "").toDF("t")
    val got = rows.select(Text.scriptProfile(col("t")).as("p"))
      .select("p.*").collect()
    def r(i: Int) = got(i)
    assert(r(0).getAs[Long]("n_latin") == 5 && r(0).getAs[Long]("n_cyrillic") == 3
      && r(0).getAs[Long]("n_digit") == 3 && r(0).getAs[Long]("n_script") == 8)
    assert(r(0).getAs[Double]("main_frac") == 5.0 / 8.0)
    assert(r(1).getAs[Long]("n_greek") == 3 && r(1).getAs[Long]("n_cjk") == 2
      && r(1).getAs[Long]("n_latin") == 4)
    assert(r(2).getAs[Long]("n_arabic") == 5 &&
      r(2).getAs[Double]("main_frac") == 1.0)
    // script-less text: zero counts, NULL fraction (not NaN, not 0/0)
    assert(r(3).getAs[Long]("n_script") == 0 &&
      r(3).isNullAt(r(3).fieldIndex("main_frac")))
    assert(r(4).getAs[Long]("n_script") == 0)
  }

  test("bfsDistances: golden chain, hop bound, symmetric closure, multi-seed") {
    import graft.functions.Graphs
    // chain 1-2-3-4-5, branch 3-6, island 7-8 (unreachable from seed 1)
    val e = Seq((1L, 2L), (3L, 2L), (3L, 4L), (4L, 5L), (3L, 6L), (7L, 8L))
      .toDF("i", "j")
    val seeds1 = Seq(1L).toDF("node")
    val d3 = Graphs.bfsDistances(e, seeds1, maxHops = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // edge (3,2) is undirected: 2->3 traversal must work
    assert(d3 == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 6L -> 3L))
    val d9 = Graphs.bfsDistances(e, seeds1, maxHops = 9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(d9(5L) == 4L && !d9.contains(7L) && !d9.contains(8L))
    // multi-source: min distance over seeds; seed duplicates harmless
    val d2 = Graphs.bfsDistances(e, Seq(1L, 5L, 5L).toDF("node"), maxHops = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(d2 == Map(1L -> 0L, 5L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 2L))
    // maxHops=0: just the seeds
    assert(Graphs.bfsDistances(e, seeds1, 0).collect().map(
      r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 0L)))
    // seeded random graphs against a driver-side BFS: several components,
    // self-loops, repeated edges in either orientation (most edges listed
    // one way only), duplicate seeds and an isolated seed, and hop bounds
    // from 0 past the diameter
    def model(edges: Seq[(Long, Long)], seeds: Seq[Long],
              maxHops: Int): Map[Long, Long] = {
      val adj = edges.filter { case (a, b) => a != b }
        .flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).distinct }
      var dist = seeds.distinct.map(_ -> 0L).toMap
      var front = seeds.distinct
      (1 to maxHops).foreach { h =>
        front = front.flatMap(adj.getOrElse(_, Nil)).distinct
          .filterNot(dist.contains)
        dist ++= front.map(_ -> h.toLong)
      }
      dist
    }
    (1 to 3).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      // two components on 0..29 and 40..59, self-loops, repeats
      val edges = (0 until 45).map { _ =>
        val base = if (rnd.nextBoolean()) 0L else 40L
        val span = if (base == 0L) 30 else 20
        (base + rnd.nextInt(span), base + rnd.nextInt(span))
      } ++ Seq((5L, 5L), (41L, 41L))
      val seeds = Seq(rnd.nextInt(30).toLong, 41L, 41L, 99L)
      val edf = edges.toDF("i", "j")
      val sdf = seeds.toDF("node")
      Seq(0, 1, 2, 40).foreach { hops =>
        val got = Graphs.bfsDistances(edf, sdf, hops).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        assert(got.map(_._1).distinct.length == got.length,
          s"seed $seed hops $hops: a node appears twice")
        assert(got.toMap == model(edges, seeds, hops),
          s"seed $seed hops $hops")
      }
    }
  }

  test("dotTopK: exact MIPS vs driver model; magnitude beats direction") {
    import graft.functions.Similarity
    // c2 points the same way as q but c3 is longer: MIPS must prefer c3,
    // cosine would prefer c2 — the metric difference is the point
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),        // query
      (2L, Array(0.9f, 0.1f)),
      (3L, Array(5.0f, -2.0f)),
      (4L, Array(-1.0f, 0.0f)))
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity.dotTopK(df, df.filter(col("vec_id") === 0),
        "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got.map(_._2) == Seq(3L, 2L, 4L)) // 5.0 > 0.9 > -1.0
    // exact decimal model
    def d9(x: Float) = BigDecimal(x.toDouble).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    def dotM(a: Array[Float], b: Array[Float]) =
      a.zip(b).map { case (x, y) => d9(x) * d9(y) }.sum.toDouble
    got.foreach { case (_, id, dv) =>
      assert(dv == dotM(vecs.head._2, vecs.find(_._1 == id).get._2))
    }
  }

  test("calibrationBins: bin edges, clamping, exact rates") {
    val rows = Seq((0.05, true), (0.05, false), (0.14, false), // bin 0, 1
      (0.95, true), (0.95, true),                              // bin 9
      (-0.3, false), (1.7, true))                              // clamped 0 / 9
      .toDF("s", "lab")
    val got = ML.calibrationBins(rows, "s", col("lab"), bins = 10)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got(0L)._1 == 3L && got(0L)._2 == 1L) // two 0.05s + clamped -0.3
    assert(got(0L)._4 == 1.0 / 3.0)
    assert(got(1L) == (1L, 0L, 0.14, 0.0))
    assert(got(9L)._1 == 3L && got(9L)._2 == 3L && got(9L)._4 == 1.0)
    assert(got.keySet == Set(0L, 1L, 9L)) // empty bins absent by design
  }

  test("kfoldAssign: exact balance per stratum, determinism, key-stability") {
    val df = (0 until 103).map(i => (i.toLong, if (i % 3 == 0) "a" else "b"))
      .toDF("id", "strata")
    val folds = ML.kfoldAssign(df, "id", k = 4, strataCols = Seq("strata"))
    // exact balance: per stratum, fold sizes differ by at most 1
    val sizes = folds.groupBy("strata", "fold").count()
      .collect().groupBy(_.getString(0))
      .view.mapValues(_.map(_.getLong(2))).toMap
    sizes.foreach { case (s, ns) =>
      assert(ns.max - ns.min <= 1, s"stratum $s unbalanced: ${ns.toSeq}")
      assert(ns.length == 4, s"stratum $s missing folds")
    }
    // deterministic: same assignment on re-run and under repartitioning
    val a1 = folds.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val a2 = ML.kfoldAssign(df.repartition(5), "id", 4, Seq("strata"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(a1 == a2)
    // a row's fold depends only on its stratum's key population —
    // adding rows to ANOTHER stratum never moves it
    val grown = ML.kfoldAssign(
      df.union(Seq((1000L, "c"), (1001L, "c")).toDF("id", "strata")),
      "id", 4, Seq("strata"))
      .filter(col("strata") =!= "c")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(grown == a1)
  }

  test("nodeSimilarity: golden jaccard, minCommon, maxDegree cap") {
    import graft.functions.Graphs
    // K4 on {1,2,3,4} plus pendant 5-1: every K4 pair shares the other
    // two; pair (2,3) common = {1,4}; degrees: 1->4, 2,3,4->3, 5->1
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 1L)).toDF("i", "j")
    val got = Graphs.nodeSimilarity(e).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(got((2L, 3L)) == (2L, 3L, 3L, 2.0 / 4.0))
    assert(got((1L, 2L)) == (2L, 4L, 3L, 2.0 / 5.0))
    // pendant 5 shares neighbor 1 with 2,3,4 (via wedge at 1)
    assert(got((2L, 5L)) == (1L, 3L, 1L, 1.0 / 3.0))
    // minCommon prunes
    val mc = Graphs.nodeSimilarity(e, minCommon = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mc == Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
    // maxDegree: node 1 (deg 4) excluded from wedge generation -> pairs
    // through it vanish; pairs through other wedges survive with the
    // SAME degrees (the cap affects candidate generation only)
    val capped = Graphs.nodeSimilarity(e, maxDegree = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(!capped.contains((2L, 5L))) // only wedge was at node 1
    assert(capped((2L, 3L)) == 1L)     // {1,4} -> {4}
    assert(capped((1L, 2L)) == 2L)     // wedges at 3,4 survive
  }

  test("canonicalizeUrl: ports, params, fragments, slashes, idempotence") {
    val cases = Seq(
      ("HTTPS://Example.COM:443/Path/Sub/?b=2&utm_source=x&a=1#frag",
        "https://example.com/Path/Sub?a=1&b=2"),
      ("http://site.org:8080/a//b?z=9&y=8&fbclid=abc",
        "http://site.org:8080/a//b?y=8&z=9"),
      ("https://plain.net/", "https://plain.net/"),
      ("http://Host.com:80?utm_campaign=c", "http://host.com/"),
      ("http://h.io/x?", "http://h.io/x"),
      ("https://h.io/deep/?gclid=1&B=2&a=1", "https://h.io/deep?B=2&a=1"))
      .toDF("in", "want")
    cases.select(col("want"), Text.canonicalizeUrl(col("in")).as("got"))
      .collect().foreach(r => assert(r.getString(1) == r.getString(0),
        s"got ${r.getString(1)}, want ${r.getString(0)}"))
    // canonicalization is idempotent: canon(canon(u)) == canon(u)
    val once = cases.select(Text.canonicalizeUrl(col("in")).as("c"))
    val twice = once.select(Text.canonicalizeUrl(col("c")))
      .collect().map(_.getString(0)).toSeq
    assert(twice == once.collect().map(_.getString(0)).toSeq)
  }

  test("confusionMetrics: exact counts and pinned ratios vs driver model") {
    val rows = Seq( // (grp, actual, predicted)
      ("g", true, true), ("g", true, true), ("g", true, false),
      ("g", false, true), ("g", false, false), ("g", false, false),
      ("h", true, false), ("h", false, false)) // h: tp=0 -> null precision
    val df = rows.toDF("grp", "a", "p")
    val got = ML.confusionMetrics(df, Seq("grp"), col("a"), col("p"))
      .collect().map(r => r.getString(0) -> r).toMap
    val g = got("g")
    assert((g.getAs[Long]("tp"), g.getAs[Long]("fp"), g.getAs[Long]("fn"),
      g.getAs[Long]("tn")) == (2L, 1L, 1L, 2L))
    assert(g.getAs[Double]("precision") == 2.0 / 3.0)
    assert(g.getAs[Double]("recall") == 2.0 / 3.0)
    assert(g.getAs[Double]("f1") == 4.0 / 6.0)
    val h = got("h")
    assert(h.isNullAt(h.fieldIndex("precision")), "0-denominator must be NULL")
    assert(h.getAs[Double]("recall") == 0.0 && h.getAs[Double]("f1") == 0.0)
    // global (no keys) variant
    val all = ML.confusionMetrics(df, Seq.empty, col("a"), col("p")).collect().head
    assert(all.getAs[Long]("tp") == 2L && all.getAs[Long]("tn") == 3L)
  }

  test("neighborAgg: golden stats, normalization, star node, missing attrs") {
    import graft.functions.Graphs
    // raw edges carry duplicates, a self-loop, and both orientations;
    // normalized graph: 1-2, 1-3, 2-3, 3-4
    val e = Seq((1L, 2L), (2L, 1L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 4L),
      (1L, 2L)).toDF("i", "j")
    val attrs = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0))
      .toDF("nid", "price")
    val byNode = Graphs.neighborAgg(e, attrs, "nid",
        aggs = Seq("s" -> sum(col("price").cast("decimal(18,2)")).cast("double")))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(byNode == Map(
      1L -> (2L, 50.0),   // nbrs 2, 3
      2L -> (2L, 40.0),   // nbrs 1, 3
      3L -> (3L, 70.0),   // nbrs 1, 2, 4
      4L -> (1L, 30.0)))  // nbr 3 (self-loop dropped)
    // a neighbor without an attribute row contributes nothing (inner join)
    val sparse = Graphs.neighborAgg(e, attrs.filter(col("nid") =!= 3),
        "nid", aggs = Seq("s" -> sum(col("price")).cast("double")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sparse(1L) == 1L && sparse(3L) == 3L) // node 3 still aggregates ITS nbrs
  }

  test("randomProjectSparse: exact vs driver model, matrix contract") {
    val signs = ML.sparseSignMatrix(k = 8, dim = 16, salt = "spec")
    assert(signs.length == 8 && signs.forall(_.length == 16))
    assert(signs.flatten.forall(s => s == -1 || s == 0 || s == 1))
    val flat = signs.flatten
    // Achlioptas density: ~1/3 nonzero (loose band; 128 entries)
    val nz = flat.count(_ != 0)
    assert(nz > 20 && nz < 70, s"suspicious sign density: $nz/128 nonzero")
    val vecs = Seq(
      (1L, Array.tabulate(16)(i => (i + 1) * 0.125f)),
      (2L, Array.fill(16)(0.0f)),
      (3L, Array.tabulate(16)(i => if (i % 2 == 0) -1.5f else 2.25f)))
    val df = vecs.toDF("vec_id", "embedding")
    val got = ML.randomProjectSparse(df, "vec_id", "embedding",
        dim = 16, k = 8, salt = "spec")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // driver model: exact decimal(12,9) signed sums, one rounding at the end
    vecs.foreach { case (id, v) =>
      val want = (0 until 8).map { j =>
        var sum = BigDecimal(0)
        for (i <- 0 until 16)
          sum += BigDecimal(v(i).toDouble).setScale(9, BigDecimal.RoundingMode.HALF_UP) * signs(j)(i)
        sum.toDouble
      }
      assert(got(id) == want, s"projection mismatch for vec $id")
    }
    // zero vector projects to exact zeros
    assert(got(2L).forall(_ == 0.0))
    // dim mismatch fails loudly, never truncates
    intercept[Exception] {
      ML.randomProjectSparse(df, "vec_id", "embedding", dim = 12, k = 4,
        salt = "spec").collect()
    }
  }

  test("aucRoc: exact vs driver pairwise model, ties, degenerate NULL") {
    // scores with ties; labels mixed within a tie group
    val rows = Seq((1L, false), (1L, true), (2L, false), (3L, true),
      (3L, true), (3L, false), (5L, true))
    val df = rows.toDF("score", "lab")
    val r = ML.aucRoc(df, "score", col("lab")).collect().head
    // pairwise model: P(pos > neg) + 0.5 P(pos == neg)
    val pos = rows.filter(_._2).map(_._1); val neg = rows.filterNot(_._2).map(_._1)
    val pairs = for (p <- pos; n <- neg) yield
      if (p > n) 1.0 else if (p == n) 0.5 else 0.0
    val want = pairs.sum / (pos.size * neg.size)
    assert(r.getAs[Long]("n_pos") == 4L && r.getAs[Long]("n_neg") == 3L)
    assert(math.abs(r.getAs[Double]("auc") - want) < 1e-12)
    // perfect separation -> exactly 1; reversed -> exactly 0
    val perfect = Seq((1L, false), (2L, false), (9L, true), (8L, true)).toDF("score", "lab")
    assert(ML.aucRoc(perfect, "score", col("lab")).collect().head.getAs[Double]("auc") == 1.0)
    // single-class: NULL, not NaN
    val one = Seq((1L, true), (2L, true)).toDF("score", "lab")
    val r1 = ML.aucRoc(one, "score", col("lab")).collect().head
    assert(r1.isNullAt(r1.fieldIndex("auc")))
  }

  test("charEntropy: golden bit values, unicode code points, null/empty " +
    "contracts, matches a driver model with the decimal term rounding") {
    import spark.implicits._
    val docs = Seq(
      (1L, Some("aaaa")),            // one symbol → 0 bits
      (2L, Some("ab")),              // two equiprobable → exactly 1 bit
      (3L, Some("abcd")),            // four equiprobable → 2 bits
      (4L, Some("aab")),             // 2/3, 1/3 → H ≈ 0.9183
      (5L, Some("日本語テスト")),      // non-BMP-free CJK: 6 distinct cps
      (6L, Some("𝄞𝄞a")),            // surrogate-pair code point counted ONCE
      (7L, Some("")),                // empty → 0
      (8L, None))                    // null in → null out
    val got = docs.toDF("id", "t")
      .select(col("id"), graft.functions.Text.charEntropy(col("t")).as("h"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    def model(s: String): Double = {
      val cps = s.codePoints().toArray
      if (cps.isEmpty) return 0.0
      val n = cps.length.toDouble
      cps.groupBy(identity).values.map { g =>
        val p = g.length / n
        BigDecimal(-(p * math.log(p)) / math.log(2.0))
          .setScale(12, BigDecimal.RoundingMode.HALF_UP)
      }.sum.toDouble
    }
    assert(got(1L).get == 0.0)
    assert(math.abs(got(2L).get - 1.0) < 1e-11)
    assert(math.abs(got(3L).get - 2.0) < 1e-11)
    assert(got(4L).get == model("aab"))
    assert(math.abs(got(4L).get - 0.9182958340544896) < 1e-10)
    assert(got(5L).get == model("日本語テスト"))
    // 𝄞𝄞a = 3 code points: p = (2/3, 1/3) — the surrogate pair is ONE
    // symbol, not two broken halves
    assert(got(6L).get == model("𝄞𝄞a"))
    assert(math.abs(got(6L).get - got(4L).get) < 1e-12)
    assert(got(7L).get == 0.0)
    assert(got(8L).isEmpty)
  }

  test("bigramNll: exact vs driver LM model; <2-token docs emit no row; " +
    "repeated pattern scores lower surprisal than a scrambled one") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat the cat the cat"),
      (3L, "mat on sat cat the the"),
      (4L, "solo"),
      (5L, "THE  Cat\tsat")) // case-fold + whitespace normalization
    val got = graft.functions.Text.bigramNll(docs.toDF("id", "t"), "id", "t")
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_bigram"), r.getAs[Double]("avg_nll"))).toMap
    // driver model over the SAME corpus LM
    val tokenized = docs.map { case (id, t) =>
      id -> t.toLowerCase.trim.split("\\s+").filter(_.nonEmpty).toSeq }
    val bgs = tokenized.flatMap { case (id, ts) =>
      ts.zip(ts.drop(1)).map(p => (id, p)) }
    val c12 = bgs.groupBy(_._2).map { case (p, g) => p -> g.size.toLong }
    val c1 = c12.groupBy(_._1._1).map { case (w1, g) => w1 -> g.values.sum }
    val vocab = tokenized.flatMap(_._2).distinct.size.toDouble
    def nll(p: (String, String)): BigDecimal =
      BigDecimal(-math.log((c12(p) + 1.0) / (c1(p._1) + 1.0 * vocab)))
        .setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val expect = bgs.groupBy(_._1).map { case (id, g) =>
      // mirror the operator: EXACT decimal sum → double → one division
      id -> (g.size.toLong, g.map(x => nll(x._2)).sum.toDouble / g.size) }
    assert(!got.contains(4L)) // no bigram events
    assert(got.keySet == Set(1L, 2L, 3L, 5L))
    expect.filter(_._1 != 4L).foreach { case (id, (n, a)) =>
      assert(got(id)._1 == n, s"n_bigram at $id")
      assert(got(id)._2 == a, s"avg_nll at $id: ${got(id)._2} vs $a")
    }
    // the repeated pattern's bigrams are corpus-frequent → lower NLL
    assert(got(2L)._2 < got(3L)._2)
  }

  test("Bench.priorMedians: bare payload, wrapper-parsed, and the " +
    "r13 failure shape — a front-truncated tail starting mid-spread") {
    val bare = """{"metric":"total","value":3.0,"unit":"sec","queries":{"q01":1.5,"q02":0.75},"spread":{"q01":{"min":1.4,"max":1.6,"med":1.5},"q02":{"min":0.7,"max":0.8,"med":0.75}},"sf":"x"}"""
    assert(Bench.priorMedians(bare) == Map("q01" -> 1.5, "q02" -> 0.75))
    val wrapped = s"""{"rc":0,"parsed":$bare,"tail":"ignored"}"""
    assert(Bench.priorMedians(wrapped) == Map("q01" -> 1.5, "q02" -> 0.75))
    // the r13 shape: parsed:null, tail front-truncated to start MID-
    // spread — the queries map is gone entirely; med entries must carry
    // the tripwire. Note q01's own entry is cut (its med is lost), q02
    // onward survive.
    val tail = """ax":1.6,"med":1.5},"q02":{"min":0.7,"max":0.8,"med":0.75},"q03":{"min":2.0,"max":2.2,"med":2.1}},"iters":5,"sanity":null,"errors":[],"sf":"x"}"""
    val truncated = "{\"rc\":0,\"parsed\":null,\"tail\":\"" +
      tail.replace("\"", "\\\"") + "\"}"
    assert(Bench.priorMedians(truncated) ==
      Map("q02" -> 0.75, "q03" -> 2.1))
    // pre-r14 artifacts: spread has min/max only — priorMedians finds
    // nothing, priorMins recovers the min bands (the sanity fallback)
    val oldTail = """ax":1.6},"q02":{"min":0.7,"max":0.8},"q03":{"min":2.0,"max":2.2}},"iters":5,"sf":"x"}"""
    val oldTrunc = "{\"rc\":0,\"parsed\":null,\"tail\":\"" +
      oldTail.replace("\"", "\\\"") + "\"}"
    assert(Bench.priorMedians(oldTrunc).isEmpty)
    assert(Bench.priorMins(oldTrunc) == Map("q02" -> 0.7, "q03" -> 2.0))
    assert(Bench.priorMins(bare) == Map("q01" -> 1.4, "q02" -> 0.7))
  }

  test("Bench.sanityStanza compares only like with like: a baseline at " +
    "another sf or core count is skipped, not flagged") {
    // the wrapped artifact's shape: top-level sf/cpus beside the payload
    val prior = """{"n":20,"rc":0,"cpus":32,"sf":0.1,"parsed":{"queries":{"q01":1.0,"q02":1.0},"spread":{"q01":{"min":0.9,"max":1.1,"med":1.0},"q02":{"min":0.9,"max":1.1,"med":1.0}}}}"""
    val cur = Seq(("q01", 3.0, 2.9), ("q02", 1.1, 1.0))
    val same = Bench.sanityStanza("BENCH_r20.json", 20, prior, Some(0.1), 32,
      cur)
    assert(same.contains("\"flags\":{\"q01\":{\"prev\":1.0000," +
      "\"cur\":3.0000}}") && !same.contains("skipped"), same)
    for ((sf, cpus) <- Seq((Some(0.001), 32), (Some(0.1), 4), (None, 32))) {
      val other = Bench.sanityStanza("BENCH_r20.json", 20, prior, sf, cpus,
        cur)
      assert(other.contains("\"baseline\":\"BENCH_r20.json\"") &&
        other.contains("\"skipped\"") && !other.contains("flags"), other)
    }
    // an artifact without its scale cannot vouch for the compare
    val bare = """{"queries":{"q01":1.0},"sf":"x"}"""
    assert(Bench.sanityStanza("BENCH_r01.json", 1, bare, Some(0.1), 32, cur)
      .contains("skipped"))
    assert(Bench.sfOf("/data/testdata/sf0.001") == Some(0.001))
    assert(Bench.sfOf("../testdata/sf0.1/") == Some(0.1))
    assert(Bench.sfOf("/data/fixture").isEmpty)
  }

  test("zipfSlope: hand-computed weighted LS over frequency classes; " +
    "single class NULL fit; partition sweep") {
    // "a a a a b b c": classes (f=4,m=1),(f=2,m=1),(f=1,m=1);
    // midranks 1,2,3 → x=ln1,ln2,ln3, y=ln4,ln2,ln1, w=1 each
    val df = Seq("a a a a b b c").toDF("t")
    val r = Text.zipfSlope(df, "t").collect().head
    assert(r.getLong(0) == 7L && r.getLong(1) == 3L && r.getLong(2) == 3L)
    // replicate the fold in f-ascending order (f=1, f=2, f=4)
    val xs = Seq(math.log(3.0), math.log(2.0), math.log(1.0))
    val ys = Seq(math.log(1.0), math.log(2.0), math.log(4.0))
    val (sx, sy) = (xs.sum, ys.sum)
    val sxx = xs.map(x => x * x).sum
    val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
    val den = sxx - sx * sx / 3.0
    val slope = (sxy - sx * sy / 3.0) / den
    assert(math.abs(r.getDouble(3) - slope) < 1e-12, s"slope ${r.get(3)}")
    assert(math.abs(r.getDouble(4) - (sy - slope * sx) / 3.0) < 1e-12)
    // all tokens the same frequency → one class → NULL fit
    val one = Text.zipfSlope(Seq("x y z").toDF("t"), "t").collect().head
    assert(one.getLong(2) == 1L && one.isNullAt(3) && one.isNullAt(4))
    partitionSweep { p =>
      Text.zipfSlope(df.repartition(p), "t").collect().map(_.toSeq).toSeq
    }
  }

  test("fingerprintClusters: accent/case/punct/order-invariant key; " +
    "singletons cut by minSize; empty keys filtered; partition sweep") {
    val df = Seq((1L, "José García!"), (2L, "garcia jose"),
      (3L, "GARCIA,  jose."), (4L, "something else"), (5L, "!!!"))
      .toDF("id", "t")
    val r = Dedup.fingerprintClusters(df, "id", "t", minSize = 2)
      .collect()
    assert(r.length == 1)
    assert(r.head.getString(0) == "garcia jose")
    assert(r.head.getLong(1) == 3L)
    assert(r.head.getSeq[Long](2) == Seq(1L, 2L, 3L))
    // minSize = 1 keeps the singleton but never the empty-key row
    val all = Dedup.fingerprintClusters(df, "id", "t", minSize = 1)
      .collect().map(_.getString(0)).toSet
    assert(all == Set("garcia jose", "else something"))
    partitionSweep { p =>
      Dedup.fingerprintClusters(df.repartition(p), "id", "t", 2)
        .collect().map(_.toSeq).toSeq
    }
  }

  test("levPairsD1 == brute-force levenshtein<=1 pairs (FastSS " +
    "completeness); minLength floor; partition sweep") {
    val rows = Seq((1L, "abc"), (2L, "abd"), (3L, "abcd"), (4L, "xyz"),
      (5L, "ab"), (6L, "abc"), (7L, "a"))
    val df = rows.toDF("id", "s")
    val got = Dedup.levPairsD1(df, "id", "s")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
      .toSet
    // brute force over the minLength-surviving strings
    val kept = rows.filter(_._2.length >= 2)
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = (for {
      (i1, s1) <- kept; (i2, s2) <- kept if i1 < i2
      d = lev(s1, s2) if d <= 1
    } yield (i1, i2, d.toLong)).toSet
    assert(got == want, s"got $got want $want")
    assert(!got.exists(t => t._1 == 7L || t._2 == 7L)) // minLength floor
    partitionSweep { p =>
      Dedup.levPairsD1(df.repartition(p), "id", "s")
        .collect().map(_.toSeq).toSeq.sortBy(t =>
          (t.head.asInstanceOf[Long], t(1).asInstanceOf[Long]))
    }
  }

  test("topPrincipalComponent: recovers a planted dominant direction; " +
    "certificates hold; sign convention; n<2 degenerate; partition " +
    "sweep") {
    import org.apache.spark.sql.Row
    // plant variance along (3,4)/5: x = 5t*(3/5), y = 5t*(4/5) + tiny
    // noise-free second dim — loadings must be (0.6, 0.8)
    val rows = (-20 to 20).map(t => (3.0 * t, 4.0 * t))
    val df = rows.toDF("x", "y")
    val r = ML.topPrincipalComponent(df, Seq("x", "y"))
      .collect().map(x => x.getString(0) -> x).toMap
    assert(math.abs(r("x").getDouble(2) - 0.6) < 1e-9)
    assert(math.abs(r("y").getDouble(2) - 0.8) < 1e-9)
    assert(r("x").getBoolean(5) && r("x").getBoolean(6),
      "certificates must hold on a clean fixture")
    // explained = 1 for a rank-1 cloud
    assert(math.abs(r("x").getDouble(4) - 1.0) < 1e-9)
    // eigenvalue = total variance along the direction: var(5t) = 25·var(t)
    val varT = rows.map(_._1 / 3.0).map(t => t * t).sum / (rows.size - 1)
    assert(math.abs(r("x").getDouble(3) - 25.0 * varT) < 1e-6)
    // sign: first nonzero loading positive even when the plant is flipped
    val neg = (-20 to 20).map(t => (-3.0 * t, 4.0 * t)).toDF("x", "y")
    val rn = ML.topPrincipalComponent(neg, Seq("x", "y"))
      .collect().map(x => x.getString(0) -> x.getDouble(2)).toMap
    assert(rn("x") > 0 && math.abs(rn("x") - 0.6) < 1e-9)
    assert(math.abs(rn("y") + 0.8) < 1e-9)
    // n < 2: NULL loadings, both flags false
    val deg = ML.topPrincipalComponent(
      Seq((1.0, 2.0)).toDF("x", "y"), Seq("x", "y")).collect()
    assert(deg.forall(x => x.isNullAt(2) && !x.getBoolean(5)))
    partitionSweep { p =>
      ML.topPrincipalComponent(df.repartition(p), Seq("x", "y"))
        .collect().map(_.toSeq).toSeq.sortBy(_.head.toString)
    }
  }

  test("liftTableBy == liftTable per slice; empty buckets via the " +
    "spine; partition sweep") {
    val rows = (1 to 40).map(i => ("s1", i.toLong, i.toDouble, i % 3 == 0)) ++
      (1 to 7).map(i => ("s2", i.toLong, 1.0, i <= 2)) // all-tied scores
    val df = rows.toDF("k", "id", "score", "lab")
    val by = ML.liftTableBy(df, Seq("k"), "id", "score", col("lab"),
        buckets = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.toSeq.drop(1))
      .toMap
    for (sl <- Seq("s1", "s2")) {
      val slice = rows.filter(_._1 == sl)
        .map(t => (t._2, t._3, t._4)).toDF("id", "score", "lab")
      val g = ML.liftTable(slice, "id", "score", col("lab"), buckets = 10)
        .collect().map(r => r.getLong(0) -> r.toSeq).toMap
      for ((b, row) <- g)
        assert(by((sl, b)) == row, s"liftTableBy($sl, $b): ${by((sl, b))} vs $row")
    }
    // s2 has 7 rows in 10 buckets: some buckets are spine-filled empties
    assert((0L to 9L).forall(b => by.contains(("s2", b))))
    assert(by(("s2", 3L))(1) == 0L) // (r*10) div 7 skips 3, 6, 9
    partitionSweep { p =>
      ML.liftTableBy(df.repartition(p), Seq("k"), "id", "score",
          col("lab"), 10)
        .collect().map(_.toSeq).toSeq.sortBy(t =>
          (t.head.toString, t(1).asInstanceOf[Long]))
    }
  }

  test("woeTable: hand-computed WoE and IV terms; zero-cell level " +
    "NULL; partition sweep") {
    // A: g=30 b=10, B: g=10 b=30, C: g=0 b=20 -> G=40, Bt=60
    val rows = Seq.fill(30)(("A", true)) ++ Seq.fill(10)(("A", false)) ++
      Seq.fill(10)(("B", true)) ++ Seq.fill(30)(("B", false)) ++
      Seq.fill(20)(("C", false))
    val df = rows.toDF("f", "y")
    val r = ML.woeTable(df, "f", col("y"))
      .collect().map(x => x.getString(0) -> x).toMap
    val a = r("A")
    assert(a.getLong(1) == 40L && a.getLong(2) == 30L && a.getLong(3) == 10L)
    assert(a.getDouble(4) == 0.75)
    assert(math.abs(a.getDouble(5) - 10.0 / 60) < 1e-15)
    assert(math.abs(a.getDouble(6) - math.log(0.75 / (10.0 / 60))) < 1e-12)
    assert(math.abs(a.getDouble(7) -
      (0.75 - 10.0 / 60) * a.getDouble(6)) < 1e-12)
    val cc = r("C")
    assert(cc.isNullAt(6) && cc.isNullAt(7), "zero-cell level must be NULL")
    val b = r("B")
    assert(math.abs(b.getDouble(6) - math.log(0.25 / 0.5)) < 1e-12)
    assert(math.abs(b.getDouble(7) - (0.25 - 0.5) * b.getDouble(6)) < 1e-12)
    partitionSweep { p =>
      ML.woeTable(df.repartition(p), "f", col("y"))
        .collect().map(_.toSeq).toSeq.sortBy(_.head.toString)
    }
  }

  test("cohensKappa: textbook 2x2 exact 0.4; By == global per slice; " +
    "both-constant slice NULL kappa; NULL rows excluded; partition " +
    "sweep") {
    // 20 yy, 5 yn, 10 ny, 15 nn: po = 0.7, pe = 0.5, kappa = 0.4 exact
    val rows = Seq.fill(20)(("y", "y")) ++ Seq.fill(5)(("y", "n")) ++
      Seq.fill(10)(("n", "y")) ++ Seq.fill(15)(("n", "n"))
    val df = rows.toDF("a", "b")
    val r = ML.cohensKappa(df, "a", "b").collect().head
    assert(r.getLong(0) == 50L)
    assert(r.getDouble(1) == 0.7 && r.getDouble(2) == 0.5 &&
      r.getDouble(3) == 0.4)
    // NULL on either side is excluded entirely
    val wn = ML.cohensKappa(
      (rows.map { case (a, b) => (Option(a), Option(b)) } ++
        Seq((Some("y"), None), (None, Some("n")))).toDF("a", "b"),
      "a", "b").collect().head
    assert(wn.toSeq == r.toSeq)
    // sliced == global per slice; a slice where both raters are
    // constant has pe = 1 → NULL kappa (po, pe still emitted)
    val sliced = rows.map { case (a, b) => ("s1", a, b) } ++
      Seq(("s2", "x", "x"), ("s2", "x", "x"))
    val sdf = sliced.toDF("k", "a", "b")
    val by = ML.cohensKappaBy(sdf, Seq("k"), "a", "b")
      .collect().map(x => x.getString(0) -> x.toSeq.drop(1)).toMap
    assert(by("s1") == r.toSeq)
    assert(by("s2")(1) == 1.0 && by("s2")(2) == 1.0 &&
      by("s2").last == null, s"constant slice: ${by("s2")}")
    partitionSweep { p =>
      ML.cohensKappaBy(sdf.repartition(p), Seq("k"), "a", "b")
        .collect().map(_.toSeq).toSeq.sortBy(_.head.toString)
    }
  }

  test("goodTuringMass: hand spectrum; saturated corpus; empty corpus") {
    // tokens: a a a b b c d -> N=7 V=4 N1=2 (c,d) N2=1 (b)
    val df = Seq("a a a b b", "c d").toDF("text")
    val r = Text.goodTuringMass(df, "text").collect().head
    assert(r.getLong(0) == 7L && r.getLong(1) == 4L &&
      r.getLong(2) == 2L && r.getLong(3) == 1L)
    assert(math.abs(r.getDouble(4) - 2.0 / 7.0) < 1e-15)
    assert(math.abs(r.getDouble(5) - 5.0 / 7.0) < 1e-15)
    assert(math.abs(r.getDouble(6) - 1.0) < 1e-15) // 2*N2/N1 = 2/2
    assert(math.abs(r.getDouble(7) - 6.0) < 1e-15) // chao1 = 4 + 4/2
    // saturated: every type seen twice -> N1 = 0, r1_star NULL
    val sat = Seq("a b a b").toDF("text")
    val rs = Text.goodTuringMass(sat, "text").collect().head
    assert(rs.getLong(2) == 0L && rs.getDouble(4) == 0.0 && rs.isNullAt(6))
    // empty corpus: zero counts, NULL ratios
    val re = Text.goodTuringMass(Seq("", "   ").toDF("text"), "text")
      .collect().head
    assert(re.getLong(0) == 0L && re.getLong(1) == 0L && re.isNullAt(4))
    // bigram order: "a b a b" -> grams [a b, b a, a b]: N=3 V=2
    // N1=1 (b a) N2=1 (a b); a 1-token doc yields no grams
    val rb = Text.goodTuringMass(Seq("a b a b", "c").toDF("text"),
      "text", n = 2).collect().head
    assert(rb.getLong(0) == 3L && rb.getLong(1) == 2L &&
      rb.getLong(2) == 1L && rb.getLong(3) == 1L)
    assert(math.abs(rb.getDouble(6) - 2.0) < 1e-15) // 2*N2/N1
  }

  test("lexiconHits: non-overlapping leftmost counts; multi-word and " +
      "self-overlapping terms; normalization; miss rows absent") {
    val docs = Seq(
      (1L, "Spark spark  SPARK pipeline"),   // case + spacing collapse
      (2L, "a hash  join inside a hash join"), // multi-word term, x2
      (3L, "aaa"),                            // self-overlap: "aa" -> 1
      (4L, "nothing here")).toDF("id", "txt")
    val lex = Seq("spark", "hash join", "aa", "", "spark").toDF("term")
    val got = Text.lexiconHits(docs, "id", "txt", lex)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(got == Set((1L, "spark", 3L), (2L, "hash join", 2L),
      (3L, "aa", 1L)))
  }

  test("degreeAssortativity: path P3 is exactly -1; regular graph NULL; " +
      "duplicate edges collapse; partition sweep") {
    import graft.functions.Graphs
    val p3 = Seq((1L, 2L), (2L, 3L)).toDF("i", "j")
    val r = Graphs.degreeAssortativity(p3).collect().head
    assert(r.getLong(0) == 4L && r.getDouble(1) == -1.0)
    // 4-cycle: 2-regular, zero degree variance -> r NULL
    val c4 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("i", "j")
    val rc = Graphs.degreeAssortativity(c4).collect().head
    assert(rc.getLong(0) == 8L && rc.isNullAt(1))
    // duplicates don't inflate degrees (distinct is the operator's job)
    val dup = Seq((1L, 2L), (1L, 2L), (2L, 3L)).toDF("i", "j")
    assert(Graphs.degreeAssortativity(dup).collect().head.toSeq ==
      r.toSeq)
    partitionSweep { p =>
      Graphs.degreeAssortativity(p3.repartition(p))
        .collect().map(_.toSeq).toSeq
    }
  }

  test("centroidDrift: hand centroids (cos 1 on aligned means, 0 on " +
    "orthogonal); ragged dims raise; empty cohort NULL; partition sweep") {
    import spark.implicits._
    import graft.functions.Similarity
    // A = {(1,0),(0,1)} -> centroid (.5,.5); B = {(1,1)}: cos = 1, l2 = sqrt(.5)
    val df = Seq(("a", Seq(1.0f, 0.0f)), ("a", Seq(0.0f, 1.0f)),
      ("b", Seq(1.0f, 1.0f))).toDF("g", "v")
    val r = Similarity.centroidDrift(df, "g", "v", "a", "b").collect().head
    assert(r.getAs[Long]("dim") == 2L)
    assert(r.getAs[Long]("n_a") == 2L && r.getAs[Long]("n_b") == 1L)
    assert(math.abs(r.getAs[Double]("cos_centroids") - 1.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("l2_centroids") - math.sqrt(0.5)) < 1e-9)
    val o = Similarity.centroidDrift(
      Seq(("a", Seq(1.0f, 0.0f)), ("b", Seq(0.0f, 1.0f))).toDF("g", "v"),
      "g", "v", "a", "b").collect().head
    assert(math.abs(o.getAs[Double]("cos_centroids")) < 1e-9)
    assert(math.abs(o.getAs[Double]("l2_centroids") - math.sqrt(2.0)) < 1e-9)
    // ragged dims must raise loudly, not skew counts silently
    val ragged = Seq(("a", Seq(1.0f, 0.0f)), ("a", Seq(1.0f)),
      ("b", Seq(0.0f, 1.0f))).toDF("g", "v")
    intercept[Exception] {
      Similarity.centroidDrift(ragged, "g", "v", "a", "b").collect()
    }
    // two internally-consistent cohorts of DIFFERENT dims get their
    // own diagnosis, not a misleading "ragged in cohort A" (round 18,
    // ADVICE r17): dim-2 cohort A vs dim-3 cohort B
    val dimsDiffer = Seq(("a", Seq(1.0f, 0.0f)), ("a", Seq(0.0f, 1.0f)),
      ("b", Seq(1.0f, 1.0f, 1.0f))).toDF("g", "v")
    val ex = intercept[Exception] {
      Similarity.centroidDrift(dimsDiffer, "g", "v", "a", "b").collect()
    }
    assert(ex.getMessage.contains("cohort dimensions differ") &&
      ex.getMessage.contains("A has dim 2") &&
      ex.getMessage.contains("B has dim 3"))
    // empty cohort: NULL drift columns, not a crash
    val e = Similarity.centroidDrift(
      Seq(("a", Seq(1.0f, 0.0f))).toDF("g", "v"), "g", "v", "a", "b")
      .collect().head
    assert(e.isNullAt(e.fieldIndex("cos_centroids")))
    partitionSweep { pn =>
      Similarity.centroidDrift(df.repartition(pn), "g", "v", "a", "b")
        .collect().map(_.toSeq).toSeq
    }
  }

  test("tokenBudgetSample: greedy rank-order knapsack with (score " +
    "desc, id asc) ties; budget boundary blocks the straddling doc; " +
    "partition sweep") {
    import spark.implicits._
    import graft.functions.Sampling
    val df = Seq((1L, 0.9, 10L), (2L, 0.9, 20L), (3L, 0.8, 50L),
      (4L, 0.7, 30L), (5L, 0.6, 100L)).toDF("id", "score", "tokens")
    def keptAt(budget: Long): Set[Long] =
      Sampling.tokenBudgetSample(df, "id", "score", "tokens", budget)
        .filter(col("kept")).collect().map(_.getLong(0)).toSet
    assert(keptAt(100L) == Set(1L, 2L, 3L))
    assert(keptAt(110L) == Set(1L, 2L, 3L, 4L))
    assert(keptAt(9L) == Set.empty[Long])
    // cumulative column is the full running total in rank order
    val cums = Sampling.tokenBudgetSample(df, "id", "score", "tokens", 100L)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(cums == Map(1L -> 10L, 2L -> 30L, 3L -> 80L, 4L -> 110L,
      5L -> 210L))
    partitionSweep { pn =>
      Sampling.tokenBudgetSample(df.repartition(pn), "id", "score",
        "tokens", 100L).orderBy("id").collect().map(_.toSeq).toSeq
    }
    // duplicate ids: the within-score cumulative ordered by id is
    // ambiguous — must raise, not split arbitrarily (r18 advisor)
    val dup = Seq((1L, 0.9, 10L), (1L, 0.9, 20L), (2L, 0.8, 5L))
      .toDF("id", "score", "tokens")
    intercept[Exception] {
      Sampling.tokenBudgetSample(dup, "id", "score", "tokens", 100L)
        .collect()
    }
  }

  test("tokenBudgetSample with tieBreakSalt: cumulative follows " +
    "(score desc, hashU32(id, salt) asc, id asc) — bit-equal to the " +
    "literal re-ranked model; unsalted contract untouched; partition " +
    "sweep") {
    import spark.implicits._
    import graft.functions.Sampling
    // ONE hot quantized score (2.0 shared by 8 docs) + a higher and a
    // lower score — exactly the shape the salted path exists for
    val rows = Seq((10L, 3.0, 7L), (11L, 3.0, 9L)) ++
      (1 to 8).map(i => (i.toLong, 2.0, (i * 13 % 29 + 5).toLong)) ++
      Seq((20L, 1.0, 40L))
    val df = rows.toDF("id", "score", "tokens")
    val salt = "tb"
    def hash(id: Long): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest((salt + id.toString).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8), 16)
    val ranked = rows.sortBy { case (id, sc, _) => (-sc, hash(id), id) }
    val wantCum = ranked.scanLeft(0L)(_ + _._3).tail
      .zip(ranked).map { case (c, (id, _, _)) => id -> c }.toMap
    val budget = wantCum.values.toSeq.sorted.apply(4) // keep exactly 5
    val got = Sampling.tokenBudgetSample(df, "id", "score", "tokens",
      budget, tieBreakSalt = Some(salt)).collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getBoolean(4))).toMap
    rows.foreach { case (id, _, _) =>
      assert(got(id)._1 == wantCum(id), s"cum at id=$id")
      assert(got(id)._2 == (wantCum(id) <= budget), s"kept at id=$id")
    }
    // the unsalted path still ranks ties by id alone
    val plain = Sampling.tokenBudgetSample(df, "id", "score", "tokens",
      budget).collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val rankedPlain = rows.sortBy { case (id, sc, _) => (-sc, id) }
    val wantPlain = rankedPlain.scanLeft(0L)(_ + _._3).tail
      .zip(rankedPlain).map { case (c, (id, _, _)) => id -> c }.toMap
    rows.foreach { case (id, _, _) =>
      assert(plain(id) == wantPlain(id), s"plain cum at id=$id") }
    partitionSweep { pn =>
      Sampling.tokenBudgetSample(df.repartition(pn), "id", "score",
        "tokens", budget, tieBreakSalt = Some(salt))
        .orderBy("id").collect().map(_.toSeq).toSeq
    }
  }

  test("tokenBudgetByMix: per-domain budgets are the floor'd mix " +
    "split; each domain fills independently; an oversized top doc " +
    "blocks its whole domain; out-of-design domains dropped; " +
    "duplicate raises; partition sweep") {
    import spark.implicits._
    import graft.functions.Sampling
    // domain x: top-score doc is OVERSIZED (60 > budget 50) and blocks
    // everything behind it; domain y fills to its own 50 exactly;
    // domain z is outside the design and must vanish
    val df = Seq(
      (1L, "x", 0.9, 60L), (2L, "x", 0.8, 10L), (3L, "x", 0.7, 5L),
      (10L, "y", 0.9, 20L), (11L, "y", 0.8, 30L), (12L, "y", 0.7, 10L),
      (99L, "z", 1.0, 1L)).toDF("id", "dom", "score", "tokens")
    val got = Sampling.tokenBudgetByMix(df, "id", "score", "tokens",
      "dom", budget = 100L, mix = Seq("x" -> 0.5, "y" -> 0.5))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(4), r.getLong(5), r.getBoolean(6)))
      .toMap
    assert(!got.contains(99L), "out-of-design domain must be dropped")
    assert(got.values.forall(_._3 == 50L), "floor(100 * 0.5) = 50")
    // x: cum 60, 70, 75 — nothing fits (the blocking contract)
    assert(got(1L) == (("x", 60L, 50L, false)))
    assert(got(2L) == (("x", 70L, 50L, false)))
    assert(got(3L) == (("x", 75L, 50L, false)))
    // y: cum 20, 50, 60 — first two kept
    assert(got(10L) == (("y", 20L, 50L, true)))
    assert(got(11L) == (("y", 50L, 50L, true)))
    assert(got(12L) == (("y", 60L, 50L, false)))
    // uneven shares: floor(100 * 2/3) = 66, floor(100 * 1/3) = 33
    val uneven = Sampling.tokenBudgetByMix(df, "id", "score", "tokens",
      "dom", budget = 100L, mix = Seq("x" -> 2.0, "y" -> 1.0))
      .select("domain", "domain_budget").distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(uneven == Map("x" -> 66L, "y" -> 33L))
    // duplicate (domain, score, id) raises
    intercept[Exception] {
      Sampling.tokenBudgetByMix(
        df.union(Seq((1L, "x", 0.9, 60L)).toDF("id", "dom", "score",
          "tokens")), "id", "score", "tokens", "dom",
        budget = 100L, mix = Seq("x" -> 0.5, "y" -> 0.5)).collect()
    }
    partitionSweep { pn =>
      Sampling.tokenBudgetByMix(df.repartition(pn), "id", "score",
        "tokens", "dom", budget = 100L,
        mix = Seq("x" -> 0.5, "y" -> 0.5))
        .orderBy("id").collect().map(_.toSeq).toSeq
    }
  }

  test("tokenMixToShares: binding domain by TOKEN mass kept in full, " +
    "others thinned to the token-derived rate; NULL-token rows " +
    "dropped; zero-mass designed domain raises") {
    import spark.implicits._
    import graft.functions.Sampling
    // domain a: 100 docs x 10 tokens = 1000; domain b: 10 docs x 20
    // tokens = 200. Targets 50/50 -> S = min(1000/.5, 200/.5) = 400;
    // rate_a = 400*.5/1000 = 0.2, rate_b = 400*.5/200 = 1.0
    val df = ((1 to 100).map(i => (i.toLong, "a", Some(10L))) ++
      (101 to 110).map(i => (i.toLong, "b", Some(20L))) ++
      Seq((998L, "a", None: Option[Long]), (999L, "z", Some(5L))))
      .toDF("id", "dom", "tokens")
    val kept = Sampling.tokenMixToShares(df, "dom", "id", "tokens",
      Seq("a" -> 0.5, "b" -> 0.5), salt = "tmx")
    val byDom = kept.collect().groupBy(_.getString(1))
    assert(!byDom.contains("z"), "out-of-design domain dropped")
    assert(byDom("b").length == 10, "binding domain kept in full")
    assert(byDom("b").head.getAs[Double]("keep_rate") == 1.0)
    assert(byDom("a").head.getAs[Double]("keep_rate") == 0.2)
    // membership is exactly the hash threshold at rate 0.2
    val thr = Sampling.thresholdU32(0.2)
    val wantA = (1 to 100).filter { i =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(("tmx" + i.toString).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16) < thr
    }.map(_.toLong).toSet
    assert(byDom("a").map(_.getLong(0)).toSet == wantA)
    intercept[IllegalArgumentException] {
      Sampling.tokenMixToShares(df, "dom", "id", "tokens",
        Seq("a" -> 0.5, "missing" -> 0.5), salt = "tmx")
    }
  }

  test("mixToShares: binding domain kept in full, others thinned to " +
    "the sampleByHash threshold; keep_rate column; zero-row designed " +
    "domain raises") {
    import spark.implicits._
    import graft.functions.Sampling
    val df = ((1 to 100).map(i => (i.toLong, "a")) ++
      (101 to 150).map(i => (i.toLong, "b")) ++
      Seq((999L, "junk"))).toDF("id", "dom")
    val kept = Sampling.mixToShares(df, "dom", "id",
      Seq("a" -> 0.5, "b" -> 0.5), salt = "mx")
    // S = min(100/.5, 50/.5) = 100 -> rate_a = .5, rate_b = 1.0
    val b = kept.filter(col("dom") === "b")
    assert(b.count() == 50L)
    assert(b.select("keep_rate").distinct().collect()
      .head.getDouble(0) == 1.0)
    val aKept = kept.filter(col("dom") === "a")
      .collect().map(_.getLong(0)).toSet
    val aExpected = Sampling.sampleByHash(
      df.filter(col("dom") === "a"), "id", 0.5, salt = "mx")
      .collect().map(_.getLong(0)).toSet
    assert(aKept == aExpected)
    assert(kept.filter(col("dom") === "junk").count() == 0L)
    intercept[IllegalArgumentException] {
      Sampling.mixToShares(df, "dom", "id",
        Seq("a" -> 0.5, "missing" -> 0.5), salt = "mx")
    }
  }

  test("weightDiagnostics: uniform weights ESS = n; one dominant " +
    "weight collapses ESS and owns max_share; negative raises; empty " +
    "input clean") {
    import spark.implicits._
    import graft.functions.Sampling
    val u = Sampling.weightDiagnostics(
      Seq(1.0, 1.0, 1.0, 1.0).toDF("w"), "w").collect().head
    assert(u.getAs[Long]("n") == 4L)
    assert(math.abs(u.getAs[Double]("ess") - 4.0) < 1e-12)
    assert(math.abs(u.getAs[Double]("ess_ratio") - 1.0) < 1e-12)
    assert(math.abs(u.getAs[Double]("max_share") - 0.25) < 1e-12)
    val skew = Sampling.weightDiagnostics(
      Seq(9.0, 1.0).toDF("w"), "w").collect().head
    assert(math.abs(skew.getAs[Double]("ess") - 100.0 / 82.0) < 1e-12)
    assert(math.abs(skew.getAs[Double]("max_share") - 0.9) < 1e-12)
    intercept[Exception] {
      Sampling.weightDiagnostics(
        Seq(1.0, -0.5).toDF("w"), "w").collect()
    }
    val e = Sampling.weightDiagnostics(
      Seq.empty[Double].toDF("w"), "w").collect().head
    assert(e.getAs[Long]("n") == 0L && e.isNullAt(e.fieldIndex("ess")))
  }

  test("rakeWeights: literal IPF model on a 2x2 table; both margins " +
    "hit the targets; off-design rows counted not fitted; bad shares " +
    "raise") {
    import spark.implicits._
    import graft.functions.Sampling
    // 40/10/10/40 with an already-balanced A margin and a 30/70 B
    // target: raking must shift mass from u to v inside each row
    val rows = Seq.fill(40)(("x", "u")) ++ Seq.fill(10)(("x", "v")) ++
      Seq.fill(10)(("y", "u")) ++ Seq.fill(40)(("y", "v")) ++
      Seq.fill(3)(("z", "u")) // off-design level
    val df = rows.toDF("a", "b")
    val tA = Seq("x" -> 0.5, "y" -> 0.5)
    val tB = Seq("u" -> 0.3, "v" -> 0.7)
    val r = Sampling.rakeWeights(df, "a", "b", tA, tB, iters = 10)
      .collect()
    assert(r.length == 4 && r.forall(_.getAs[Long]("n_off") == 3L))
    // literal model: same alternating fit, same fold order
    var m = Map(("x", "u") -> 40.0, ("x", "v") -> 10.0,
      ("y", "u") -> 10.0, ("y", "v") -> 40.0)
    val bigN = 100.0
    for (_ <- 1 to 10) {
      for (a <- Seq("x", "y")) {
        val tot = Seq("u", "v").map(b => m((a, b))).foldLeft(0.0)(_ + _)
        for (b <- Seq("u", "v"))
          m += (a, b) -> (m((a, b)) * ((0.5 * bigN) / tot))
      }
      for (b <- Seq("u", "v")) {
        val tot = Seq("x", "y").map(a => m((a, b))).foldLeft(0.0)(_ + _)
        val sh = if (b == "u") 0.3 else 0.7
        for (a <- Seq("x", "y"))
          m += (a, b) -> (m((a, b)) * ((sh * bigN) / tot))
      }
    }
    r.foreach { row =>
      val key = (row.getAs[String]("a"), row.getAs[String]("b"))
      assert(math.abs(row.getAs[Double]("mass") - m(key)) < 1e-12)
      assert(math.abs(row.getAs[Double]("weight") -
        m(key) / (if (key == ("x", "u") || key == ("y", "v")) 40.0
          else 10.0)) < 1e-12)
    }
    // the LAST-fitted margin (B) is exact by construction; the
    // first-fitted margin (A) carries the geometric residual at T=10
    val byA = r.groupBy(_.getAs[String]("a")).view
      .mapValues(_.map(_.getAs[Double]("mass")).sum)
    val byB = r.groupBy(_.getAs[String]("b")).view
      .mapValues(_.map(_.getAs[Double]("mass")).sum)
    assert(math.abs(byB("u") - 30.0) < 1e-9 &&
      math.abs(byB("v") - 70.0) < 1e-9)
    assert(math.abs(byA("x") - 50.0) < 1e-3 &&
      math.abs(byA("y") - 50.0) < 1e-3)
    // more iterations buy convergence on BOTH margins
    val deep = Sampling.rakeWeights(df, "a", "b", tA, tB, iters = 40)
      .collect()
    val dA = deep.groupBy(_.getAs[String]("a")).view
      .mapValues(_.map(_.getAs[Double]("mass")).sum)
    assert(math.abs(dA("x") - 50.0) < 1e-9 &&
      math.abs(dA("y") - 50.0) < 1e-9)
    intercept[IllegalArgumentException] {
      Sampling.rakeWeights(df, "a", "b", Seq("x" -> 0.5, "x" -> 0.5),
        tB)
    }
    intercept[IllegalArgumentException] {
      Sampling.rakeWeights(df, "a", "b", tA, Seq("u" -> -0.1,
        "v" -> 1.1))
    }
  }

  test("dsirSample: literal end-to-end model (bucket counts, smoothed " +
    "log-ratios, per-doc fold, hashed Gumbel top-k on the quantized " +
    "key); short docs ineligible; duplicate ids raise") {
    import spark.implicits._
    import graft.functions.Sampling
    import graft.plans.HashOps
    // the hand anchor for the bucket hash: "a b" at n=2, buckets=8:
    // h = 1*'a' + 2*' ' + 3*'b' = 97 + 64 + 294 = 455; 455 % P % 8 = 7
    val anchor = HashOps.shingleBucketsAllJava(
      org.apache.spark.unsafe.types.UTF8String.fromString("a b"), 2, 8)
    assert(anchor.toLongArray().toSeq == Seq(455L % 8))
    // multiplicity preserved: "a b a b" -> grams (a b, b a, a b)
    val mult = HashOps.shingleBucketsAllJava(
      org.apache.spark.unsafe.types.UTF8String.fromString("a b a b"), 2, 8)
    assert(mult.numElements() == 3 &&
      mult.toLongArray().count(_ == 455L % 8) == 2)
    val raw = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "the quick brown dog sits"),
      (3L, "lorem ipsum dolor sit amet"),
      (4L, "fox jumps over the dog"),
      (5L, "single"), // one token, no bigram: ineligible
      (6L, "the quick brown fox runs")).toDF("doc_id", "text")
    val tgt = Seq("the quick brown fox", "fox jumps high")
      .toDF("t")
    val r = Sampling.dsirSample(raw, "doc_id", "text", tgt, "t",
      k = 3, n = 2, buckets = 16, salt = "s19")
      .collect()
    // literal model of the whole chain
    def bks(s: String) = HashOps.shingleBucketsAllJava(
      org.apache.spark.unsafe.types.UTF8String.fromString(s), 2, 16)
      .toLongArray().toSeq
    val rawDocs = Seq(1L -> "the quick brown fox jumps",
      2L -> "the quick brown dog sits", 3L -> "lorem ipsum dolor sit amet",
      4L -> "fox jumps over the dog", 5L -> "single",
      6L -> "the quick brown fox runs")
    val tCnt = Seq("the quick brown fox", "fox jumps high")
      .flatMap(bks).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val rCnt = rawDocs.flatMap(t => bks(t._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val (tt, tr) = (tCnt.values.sum.toDouble, rCnt.values.sum.toDouble)
    def lr(b: Long) =
      math.log((tCnt.getOrElse(b, 0L) + 1.0) / (tt + 16.0)) -
        math.log((rCnt.getOrElse(b, 0L) + 1.0) / (tr + 16.0))
    def u32(key: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(("s19" + key).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16)
    }
    val model = rawDocs.flatMap { case (id, s) =>
      val bs = bks(s)
      if (bs.isEmpty) None else {
        val ell = bs.groupBy(identity).view
          .mapValues(_.size.toLong).toSeq.sortBy(_._1)
          .foldLeft(0.0)((a, bc) => a + bc._2.toDouble * lr(bc._1))
        val u = (u32(id.toString).toDouble + 0.5) / 4294967296.0
        val key = BigDecimal(ell - math.log(-math.log(u)))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP)
        Some((id, ell, key))
      }
    }.sortBy(t => (t._3.unary_-, t._1)).take(3)
    assert(r.length == 3)
    assert(r.map(_.getAs[Long]("id")).toSeq == model.map(_._1))
    r.zip(model).foreach { case (row, (_, ell, key)) =>
      // both columns are quantized at the decimal(28,4) grid, emitted
      // as the double nearest the quantized value
      val ellQ = BigDecimal(ell).setScale(4, BigDecimal.RoundingMode.HALF_UP)
      assert(row.getAs[Double]("log_weight") == ellQ.toDouble)
      assert(row.getAs[Double]("key") == key.toDouble)
    }
    // the ineligible one-token doc never surfaces even at k = 99
    val all = Sampling.dsirSample(raw, "doc_id", "text", tgt, "t",
      k = 99, n = 2, buckets = 16, salt = "s19").collect()
    assert(all.length == 5 && !all.exists(_.getAs[Long]("id") == 5L))
    // duplicate ids raise
    intercept[Exception] {
      Sampling.dsirSample(
        raw.union(Seq((1L, "dup text here")).toDF("doc_id", "text")),
        "doc_id", "text", tgt, "t", k = 2, n = 2, buckets = 16,
        salt = "s19").collect()
    }
  }

  test("weightTailDiagnostic: published tail-fraction rule sizes k; " +
    "light tail reads good, planted power tail reads unreliable; " +
    "tiny input NULL diagnosis") {
    import spark.implicits._
    import graft.functions.Sampling
    // n = 20 -> M = ceil(min(4, 3*sqrt(20))) = 4; top-5 = 20..16
    val light = Sampling.weightTailDiagnostic(
      (1 to 20).map(_.toDouble).toDF("w"), "w").collect().head
    assert(light.getAs[Long]("k") == 4L)
    assert(light.getAs[Double]("x_k1") == 16.0)
    val lnsum = Seq(20.0, 19, 18, 17).map(x =>
      BigDecimal(math.log(x / 16.0))
        .setScale(18, BigDecimal.RoundingMode.HALF_UP))
      .sum.toDouble
    assert(light.getAs[Double]("xi_hill") == lnsum / 4.0)
    assert(light.getAs[String]("diagnosis") == "good")
    // planted decade ladder in the tail: xi = 10*ln(10)/4 >> 0.7
    val heavy = Sampling.weightTailDiagnostic(
      ((1 to 16).map(_ => 1.0) ++ Seq(10.0, 100.0, 1000.0, 10000.0))
        .toDF("w"), "w").collect().head
    assert(heavy.getAs[String]("diagnosis") == "unreliable")
    // a single positive weight: M = 1 needs n_pos >= 2 -> NULLs
    val tiny = Sampling.weightTailDiagnostic(
      Seq(3.0).toDF("w"), "w").collect().head
    assert(tiny.isNullAt(tiny.fieldIndex("xi_hill")) &&
      tiny.isNullAt(tiny.fieldIndex("diagnosis")))
  }

  test("ngramCoverage: hand-counted distinct and df-mass coverage; " +
    "per-doc dedup matches shingle semantics; empty target NULLs; " +
    "empty candidate reads zero; partition sweep") {
    import spark.implicits._
    import graft.functions.Text
    val target = Seq("a b c d", "b c d e").toDF("text")
    val cand = Seq("a b c x", "c d e").toDF("text")
    // target 3-grams: {a b c}(df1), {b c d}(df2), {c d e}(df1);
    // candidate distinct: {a b c, b c x, c d e}
    val r = Text.ngramCoverage(target, cand, "text", 3).collect().head
    assert(r.getAs[Long]("n_target_grams") == 3L)
    assert(r.getAs[Long]("n_covered") == 2L)
    assert(math.abs(r.getAs[Double]("coverage") - 2.0 / 3.0) < 1e-15)
    assert(r.getAs[Long]("df_total") == 4L)
    assert(r.getAs[Long]("df_covered") == 2L)
    assert(r.getAs[Double]("mass_coverage") == 0.5)
    // duplicated gram inside ONE doc counts once (per-doc dedup)
    val dup = Seq("a b c a b c").toDF("text")
    val rd = Text.ngramCoverage(dup, cand, "text", 3).collect().head
    // grams: {a b c, b c a, c a b} after dedup; only "a b c" covered
    assert(rd.getAs[Long]("n_target_grams") == 3L)
    assert(rd.getAs[Long]("n_covered") == 1L)
    // empty target: nothing to cover -> NULL shares, zero counts
    val rt = Text.ngramCoverage(target.filter(lit(false)), cand,
      "text", 3).collect().head
    assert(rt.getAs[Long]("n_target_grams") == 0L)
    assert(rt.isNullAt(rt.fieldIndex("coverage")))
    assert(rt.getAs[Long]("df_total") == 0L)
    // empty candidate: coverage is honestly zero
    val rc = Text.ngramCoverage(target, cand.filter(lit(false)),
      "text", 3).collect().head
    assert(rc.getAs[Double]("coverage") == 0.0)
    assert(rc.getAs[Double]("mass_coverage") == 0.0)
    partitionSweep { pn =>
      Text.ngramCoverage(target.repartition(pn), cand.repartition(pn),
        "text", 3).collect().map(_.toSeq).toSeq
    }
  }

  test("dupProfile: hand-counted cluster-size histogram on exact's " +
    "own digest; normalization folds case/whitespace variants into " +
    "one cluster; removable_share sums to exact()'s drop count; " +
    "partition sweep") {
    import spark.implicits._
    import graft.functions.Dedup
    val docs = Seq("a", " a ", "A", "b", "b", "c", "d", "e")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val got = Dedup.dupProfile(docs, "text").orderBy("copies").collect()
    // clusters: {a,a,A} size 3, {b,b} size 2, {c},{d},{e} size 1; N=8
    assert(got.length == 3)
    val byC = got.map(r => r.getAs[Long]("copies") -> r).toMap
    assert(byC(1L).getAs[Long]("n_clusters") == 3L)
    assert(byC(1L).getAs[Long]("n_docs") == 3L)
    assert(byC(1L).getAs[Double]("removable_share") == 0.0)
    assert(byC(2L).getAs[Long]("n_clusters") == 1L)
    assert(byC(2L).getAs[Double]("share_of_corpus") == 0.25)
    assert(byC(2L).getAs[Double]("removable_share") == 0.125)
    assert(byC(3L).getAs[Double]("share_of_corpus") == 0.375)
    assert(byC(3L).getAs[Double]("removable_share") == 0.25)
    // the profile's removable mass IS exact()'s drop count
    val removable = got.map(r => r.getAs[Double]("removable_share"))
      .sum * 8.0
    val kept = Dedup.exact(docs, "id", "text").count()
    assert(math.round(removable) == 8L - kept)
    partitionSweep { pn =>
      Dedup.dupProfile(docs.repartition(pn), "text")
        .collect().map(_.toSeq).toSeq
    }
  }
}
