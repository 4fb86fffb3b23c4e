package graft

import graft.core.{JTable, Sel}
import graft.operators.{Aggregations => A, Joins, NDSparse, Reshape, TypedOps}
import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType}

/** Core operator semantics on tiny inline tables with partition sweeps —
  * the reference's `test/test_table.jl` pattern (golden values, chunks=1..5). */
class CoreSpec extends SparkSpec {
  import spark.implicits._

  private def tinyTable = Seq(
    (1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0),
    (4L, "b", 40.0), (5L, "a", 50.0)).toDF("k", "g", "v")

  test("pkey invariant: rows sorted within range partitions") {
    val t = JTable(tinyTable.repartition(3), Seq("k"), numPartitions = 2)
    assertSortedWithinPartitions(t.df)
    val perPart = t.df.rdd.mapPartitions(it => Iterator(it.map(_.getLong(0)).toSeq)).collect()
    val ranges = perPart.filter(_.nonEmpty).map(p => (p.head, p.last)).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi <= lo, "range partitions overlap")
      case _ =>
    }
  }

  test("selector language: name/pos/regex/type/not/between/fn/as") {
    val li = Tables.lineitem(spark, sf)
    val t = JTable(li)
    assert(t.select(Sel("l_orderkey")).columns == Seq("l_orderkey"))
    assert(t.select(Sel(1)).columns == Seq("l_orderkey")) // 1-based like reference
    assert(t.select(Sel.Re("price$".r)).columns == Seq("l_extendedprice"))
    assert(t.select(Sel.OfType(StringType)).columns == Seq("l_returnflag", "l_linestatus"))
    assert(t.select(Sel.Between("l_quantity", "l_discount")).columns ==
      Seq("l_quantity", "l_extendedprice", "l_discount"))
    assert(t.select(Sel.Not(Sel.OfType(StringType))).columns.size == li.columns.length - 2)
    val computed = t.select(Sel("l_quantity").andThen(c => c * 2).as("qty2"))
    assert(computed.columns == Seq("qty2"))
    val keyed = JTable(li, Seq("l_orderkey"))
    assert(keyed.select(Sel.Keys, Sel("l_quantity")).columns ==
      Seq("l_orderkey", "l_quantity"))
  }

  test("select keeps pkey when pkey columns survive projection") {
    val t = JTable(tinyTable, Seq("k"))
    assert(t.select(Sel("k"), Sel("v")).pkey == Seq("k"))
    assert(t.select(Sel("v")).pkey.isEmpty)
  }

  test("select drops pkey claim when a transforming selector touches a pkey column") {
    val t = JTable(tinyTable, Seq("k"))
    // Fn over the pkey column: transformed values can't claim sortedness
    assert(t.select(Sel("k").andThen(c => c * 2).as("k"), Sel("v")).pkey.isEmpty)
    // As-rename shadowing the pkey name from another column: not plain
    assert(t.select(Sel("v").as("k")).pkey.isEmpty)
    // plain projection keeps it
    assert(t.select(Sel("k"), Sel("g")).pkey == Seq("k"))
  }

  test("transform replacing a pkey column re-sorts (reference test_table.jl:83-85)") {
    val t = JTable(tinyTable, Seq("k"))
    val t2 = t.transform("k" -> (lit(6L) - col("k"))) // reverses key order
    assert(t2.pkey == Seq("k"))
    val perPart = t2.df.rdd.mapPartitions(it => Iterator(it.map(_.getLong(0)).toSeq)).collect()
    perPart.foreach(p => assert(p == p.sorted))
  }

  test("groupreduce/reduce across partition sweep") {
    partitionSweep { n =>
      val t = JTable(tinyTable.repartition(n))
      A.groupreduce(t, Seq("g"), "s" -> sum(col("v")), "n" -> count(lit(1)))
        .orderBy("g").collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    }
    val r = A.reduce(JTable(tinyTable), "s" -> sum(col("v")), "mx" -> max(col("v"))).head()
    assert(r.getDouble(0) == 150.0 && r.getDouble(1) == 50.0)
  }

  test("asofJoin golden semantics (reference test_join.jl:32-43)") {
    // left: (id, time); right: (id, time, value); match greatest rt <= lt
    val l = Seq(("x", 3L), ("x", 5L), ("x", 1L), ("y", 4L), ("z", 2L))
      .toDF("id", "t")
    val r = Seq(("x", 2L, 100.0), ("x", 3L, 200.0), ("x", 6L, 300.0),
      ("y", 5L, 400.0)).toDF("id", "t", "rv")
    val out = Joins.asofJoin(l, r, Seq("id"), "t", "t", Seq.empty, Seq("rv"))
      .orderBy("id", "t").collect()
      .map(x => (x.getString(0), x.getLong(1), Option(x.get(2)).map(_.asInstanceOf[Double])))
    assert(out.toSeq == Seq(
      ("x", 1L, None),          // no right row <= 1
      ("x", 3L, Some(200.0)),   // equal time matches (<= semantics)
      ("x", 5L, Some(200.0)),   // greatest <= 5 is t=3
      ("y", 4L, None),          // y's only right row is later
      ("z", 2L, None)))         // no right rows for z
  }

  test("asofJoin partition sweep") {
    val ev = Tables.events(spark, sf)
    partitionSweep { n =>
      val l = ev.filter(col("event_type") === "purchase").repartition(n)
      val r = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value").as("cv")).repartition(n)
      Joins.asofJoin(l, r, Seq("user_id"), "ts", "ts", Seq("event_id"), Seq("cv"))
        .orderBy("event_id").collect().map(_.toSeq).toSeq
    }
  }

  test("asofJoinSalted == asofJoin across bucket widths (hot-id fallback)") {
    val ev = Tables.events(spark, sf)
    val l = ev.filter(col("event_type") === "purchase")
    val r = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"),
        col("event_id").as("click_id"), col("value").as("cv"))
    val base = Joins.asofJoin(l, r, Seq("user_id"), "ts", "ts",
      Seq("event_id"), Seq("click_id", "cv"))
      .orderBy("event_id").collect().map(_.toSeq).toSeq
    for (bucketNs <- Seq(3600L * 1000000000L, 86400L * 1000000000L)) {
      val salted = Joins.asofJoinSalted(l, r, Seq("user_id"), "ts", "ts",
        Seq("event_id"), Seq("click_id", "cv"),
        t => floor(t / bucketNs).cast("long"))
        .orderBy("event_id").collect().map(_.toSeq).toSeq
      assert(salted == base, s"bucket $bucketNs diverged")
    }
    // golden carry path: matches crossing one and two bucket boundaries
    val ll = Seq(("x", 10L), ("x", 25L)).toDF("id", "t")
    val rr = Seq(("x", 3L, 1.0), ("x", 12L, 2.0)).toDF("id", "t", "v")
    val out = Joins.asofJoinSalted(ll, rr, Seq("id"), "t", "t",
      Seq.empty, Seq("v"), c => floor(c / 10).cast("long"))
      .orderBy("t").collect()
      .map(x => (x.getLong(1), Option(x.get(2)).map(_.asInstanceOf[Double]))).toSeq
    assert(out == Seq((10L, Some(1.0)), (25L, Some(2.0))))
  }

  test("rangeJoin golden: inclusive bounds, negatives, empty intervals, wide spans") {
    val pts = Seq(("x", -5L), ("x", 0L), ("x", 7L), ("y", 7L), ("z", 100L))
      .toDF("id", "v")
    val ivs = Seq(
      ("x", -7L, -5L, "a"),   // inclusive hi catches -5
      ("x", 0L, 0L, "b"),     // degenerate single-point interval
      ("x", 5L, 3L, "c"),     // hi < lo: empty, must match nothing
      ("x", -100L, 100L, "d"), // spans many buckets; each point matches once
      ("y", 6L, 8L, "e"))
      .toDF("id", "lo", "hi", "tag")
    for (w <- Seq(1L, 3L, 1000L)) {
      val got = Joins.rangeJoin(pts, ivs, Seq("id"), "v", "lo", "hi", w)
        .select(col("id"), col("v"), col("tag")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).sorted.toSeq
      assert(got == Seq(("x", -5L, "a"), ("x", -5L, "d"), ("x", 0L, "b"),
        ("x", 0L, "d"), ("x", 7L, "d"), ("y", 7L, "e")), s"width=$w: $got")
    }
    // the point is the plan: bucketed equi-join, never a nested-loop scan
    val plan = Joins.rangeJoin(pts, ivs, Seq("id"), "v", "lo", "hi", 3L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop"), plan)
  }

  test("rangeJoin: interval-span guard fires with an actionable message") {
    // the round-7 guard: an interval spanning >1M buckets must fail with
    // the raise-bucketWidth message, not an opaque ArrayData allocation
    // error — and the guard must SURVIVE optimization (it rides inside
    // the sequence bound precisely so column pruning can't drop it)
    val pts = Seq(("x", 5L)).toDF("id", "v")
    val huge = Seq(("x", 0L, 5000000L)).toDF("id", "lo", "hi")
    val e = intercept[Exception] {
      Joins.rangeJoin(pts, huge, Seq("id"), "v", "lo", "hi", bucketWidth = 1L)
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("rangeJoin")),
      s"expected the rangeJoin span guard, got: ${messages(e).mkString(" | ")}")
    // and a sane width over the same data still works
    assert(Joins.rangeJoin(pts, huge, Seq("id"), "v", "lo", "hi",
      bucketWidth = 1000000L).count() == 1)
  }

  test("rangeJoin: span guard catches a 64-bit-overflowed bucket count") {
    // pathological bounds: bucket(hi) − bucket(lo) wraps Long (non-ANSI
    // subtraction), producing a NEGATIVE span that a one-sided <= check
    // would wave through into the opaque sequence() failure — the guard's
    // BETWEEN form must fire the same actionable message instead
    val pts = Seq(("x", 5L)).toDF("id", "v")
    val wrap = Seq(("x", -4611686018427387904L, 4611686018427387904L))
      .toDF("id", "lo", "hi") // hi − lo = 2^63: wraps negative at width 1
    val e = intercept[Exception] {
      Joins.rangeJoin(pts, wrap, Seq("id"), "v", "lo", "hi", bucketWidth = 1L)
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("rangeJoin")),
      s"expected the rangeJoin span guard, got: ${messages(e).mkString(" | ")}")
  }

  test("AQE skew split fires on hinted SHUFFLE_HASH joins — including the self-join shape") {
    // Settles the SCALE.md question round 7 left open: does
    // OptimizeSkewedJoin split a SHUFFLE_HASH-hinted join's oversized
    // partitions, and does that extend to the inverted-index SELF-join
    // (both sides hot on the same key, reading ONE ReusedExchange)?
    // Verified here: yes and yes — ShuffledHashJoin(skew=true) with both
    // sides' AQEShuffleRead marked skewed. Detection subtlety this spec
    // encodes deliberately: skewedPartitionThresholdInBytes measures
    // COMPRESSED map-output bytes, so the payload is md5 (incompressible)
    // — a repetitive payload compresses ~10× and can hide a genuinely hot
    // partition under the threshold (a false "AQE doesn't help" reading
    // this round hit before catching it).
    val tuned = Map(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "20k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "20k",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = tuned.keys.map(k => k -> spark.conf.getOption(k)).toMap
    tuned.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // the plan must come from the SAME QueryExecution that ran: a
      // write-path action runs its own command QE and leaves this one
      // un-finalized (AdaptiveSparkPlan isFinalPlan=false, no skew info)
      def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
        spark.sparkContext.runJob(df.queryExecution.toRdd,
          (it: Iterator[_]) => it.foreach(_ => ()))
        df.queryExecution.executedPlan.toString
      }
      // hot key 0 carries 2500 incompressible rows (~80KB) vs ~20KB
      // median partitions: clears factor 2 and the 20k threshold
      val idx = spark.range(0, 5000)
        .select(when(col("id") < 2500, lit(0L)).otherwise(col("id")).as("s"),
          md5(col("id").cast("string")).as("doc"))
      // two-input join, hot stream side (the rangeJoin hot-bucket shape)
      val dim = spark.range(0, 100).select(col("id").as("s"),
        md5(col("id").cast("string")).as("rv"))
      val two = finalPlan(idx.hint("shuffle_hash").join(dim.hint("shuffle_hash"), "s"))
      assert(two.contains("ShuffledHashJoin(skew=true)"),
        s"expected stream-side skew split on the hinted SHJ:\n$two")
      // self-join on the hot key — the jaccardPairs / LSH bucket shape;
      // both sides must split even though they read one reused exchange
      val self = finalPlan(idx.as("a").hint("shuffle_hash")
        .join(idx.as("b").hint("shuffle_hash"), col("a.s") === col("b.s")))
      assert(self.contains("ShuffledHashJoin(skew=true)"),
        s"expected skew split on the self-join:\n$self")
      assert(self.contains("ReusedExchange"),
        s"expected the self-join to reuse one exchange:\n$self")
      assert(self.linesIterator.count(_.contains("AQEShuffleRead skewed")) == 2,
        s"expected BOTH sides' shuffle reads split:\n$self")
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("rangeJoin partition sweep (events ±1h window)") {
    val ev = Tables.events(spark, sf)
    val us = expr("ts DIV 1000")
    partitionSweep { n =>
      val pts = ev.filter(col("event_type") === "click")
        .select(col("user_id"), us.as("v"), col("event_id")).repartition(n)
      val ivs = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("pid"),
          (us - 3600000000L).as("lo"), (us + 3600000000L).as("hi")).repartition(n)
      Joins.rangeJoin(pts, ivs, Seq("user_id"), "v", "lo", "hi", 3600000000L)
        .select(col("pid"), col("event_id"))
        .orderBy("pid", "event_id").collect().map(_.toSeq).toSeq
    }
  }

  test("rangeJoin: huge widths and mixed long/double sides bucket consistently") {
    // regression: Spark lowers decimal/long division to decimal(38,10)
    // HALF_UP — a bare floor(cast(decimal)/w) rounds the quotient UP across
    // an integer boundary at w > ~2e10, so a long point at 50·w−1 bucketed
    // to 50 while its double interval bound bucketed to 49 → match dropped
    val w = 100000000000L // 1e11
    val v = 50L * w - 1
    val longPts = Seq(("x", v)).toDF("id", "v")
    val dblIvs = Seq(("x", (v - 5).toDouble, v.toDouble)).toDF("id", "lo", "hi")
    val mixed = Joins.rangeJoin(longPts, dblIvs, Seq("id"), "v", "lo", "hi", w)
    assert(mixed.count() == 1, "mixed long/double boundary match dropped")
    val longIvs = Seq(("x", v - 5, v)).toDF("id", "lo", "hi")
    val exact = Joins.rangeJoin(longPts, longIvs, Seq("id"), "v", "lo", "hi", w)
    assert(exact.count() == 1, "integral boundary match dropped at huge width")
    // negative side of the same boundary family
    val negPts = Seq(("x", -v)).toDF("id", "v")
    val negIvs = Seq(("x", -v, -v + 5)).toDF("id", "lo", "hi")
    assert(Joins.rangeJoin(negPts, negIvs, Seq("id"), "v", "lo", "hi", w).count() == 1)
  }

  test("merge with agg combines duplicate keys (reference join.jl:245-262)") {
    val l = JTable(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"), Seq("k"))
    val r = JTable(Seq((2L, 5.0), (3L, 30.0)).toDF("k", "v"), Seq("k"))
    val m = Joins.merge(l, r, Seq("v" -> sum(col("v"))))
    assert(m.collectOrdered().map(x => (x.getLong(0), x.getDouble(1))).toSeq ==
      Seq((1L, 10.0), (2L, 25.0), (3L, 30.0)))
  }

  test("groupjoin nests right rows; empty groups for unmatched left") {
    val l = JTable(Seq((1L, "a"), (2L, "b")).toDF("k", "lv"))
    val r = JTable(Seq((1L, 1.0), (1L, 2.0)).toDF("k", "rv"))
    val out = Joins.groupjoin(l, r, Seq("k"), Seq("rv"), how = "left")
      .orderBy("k").collect()
    assert(out(0).getSeq[Row](2).size == 2)
    assert(out(1).getSeq[Row](2).isEmpty)
  }

  test("NDSparse construction dedups keys via agg (reference ndsparse.jl:19-23)") {
    val df = Seq((1L, 10.0), (1L, 5.0), (2L, 1.0)).toDF("k", "v")
    val nd = NDSparse(df, Seq("k"), Seq("v"), agg = Some(c => sum(c)))
    assert(nd.table.collectOrdered().map(x => (x.getLong(0), x.getDouble(1))).toSeq ==
      Seq((1L, 15.0), (2L, 1.0)))
  }

  test("NDSparse lookup / slice / permutedims") {
    val nd = NDSparse(tinyTable, Seq("g", "k"), Seq("v"))
    assert(nd.lookup("a", 3L).collect().map(_.getDouble(0)).toSeq == Seq(30.0))
    assert(nd.slice("g" -> "b").table.df.count() == 2)
    val p = nd.permutedims(Seq(1, 0))
    assert(p.dims == Seq("k", "g"))
  }

  test("reshape: stack/unstack roundtrip, flatten") {
    val t = JTable(Seq((1L, 1.0, 2.0), (2L, 3.0, 4.0)).toDF("k", "x", "y"))
    val long = Reshape.stack(t, Seq("k"), Seq("x", "y"))
    assert(long.count() == 4)
    val wide = Reshape.unstack(JTable(long), Seq("k"), "variable", "value",
      pivotValues = Seq("x", "y"))
    assert(wide.orderBy("k").collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .toSeq == Seq((1L, 1.0, 2.0), (2L, 3.0, 4.0)))
    val arr = Seq((1L, Seq(1.0, 2.0))).toDF("k", "a")
    assert(Reshape.flatten(JTable(arr), "a", Seq("k")).count() == 2)
  }

  test("groupbyFlatten = the reference's flatten=true window idiom") {
    // per-group ordinal rank by v desc, as a table-returning group function
    val ds = tinyTable.as[(Long, String, Double)]
    val ranked = TypedOps.groupbyFlatten(ds, (t: (Long, String, Double)) => t._2) { (g, rows) =>
      rows.sortBy(-_._3).zipWithIndex.map { case ((k, _, v), i) => (g, k, v, i + 1) }
    }.toDF("g", "k", "v", "rank")
    val w = Window.partitionBy(col("g")).orderBy(col("v").desc)
    val expected = tinyTable.withColumn("rank", row_number().over(w))
      .select("g", "k", "v", "rank")
    assert(ranked.orderBy("g", "rank").collect().toSeq ==
      expected.orderBy("g", "rank").collect().toSeq)
  }

  test("salted groupreduce == plain groupreduce (skew path)") {
    val li = Tables.lineitem(spark, sf)
    val plain = A.groupreduce(JTable(li), Seq("l_returnflag"),
      "n" -> count(lit(1)), "s" -> sum(col("l_quantity")), "mx" -> max(col("l_quantity")))
      .orderBy("l_returnflag").collect().map(_.toSeq).toSeq
    val salted = A.groupreduceSalted(JTable(li), Seq("l_returnflag"), 8,
      ("n", count(lit(1)), (c: org.apache.spark.sql.Column) => sum(c)),
      ("s", sum(col("l_quantity")), (c: org.apache.spark.sql.Column) => sum(c)),
      ("mx", max(col("l_quantity")), (c: org.apache.spark.sql.Column) => max(c)))
      .orderBy("l_returnflag").collect().map(_.toSeq).toSeq
    assert(salted == plain)
  }

  test("equalsTable: multiset equality across partitionings") {
    val a = JTable(Tables.nation(spark, sf).repartition(5))
    val b = JTable(Tables.nation(spark, sf).repartition(2))
    assert(a.equalsTable(b))
    assert(!a.equalsTable(JTable(Tables.nation(spark, sf).limit(20))))
  }

  test("dropmissing narrows rows; subtable row-range") {
    val df = Seq((1L, Some(1.0)), (2L, None), (3L, Some(3.0)))
      .toDF("k", "v")
    assert(JTable(df).dropmissing("v").df.count() == 2)
  }

  test("subtable: global row-range by pkey position (golden + sweep)") {
    val got = JTable(tinyTable, Seq("k")).subtable(2, 4)
      .select(col("k"), col("__pos")).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((2L, 2L), (3L, 3L), (4L, 4L)))
    partitionSweep { n =>
      JTable(tinyTable.repartition(n), Seq("k")).subtable(2, 4)
        .select(col("k")).collect().map(_.getLong(0)).sorted.toSeq
    }
  }

  test("distribute(rowgroups): explicit chunk sizes in pkey order (reference ndsparse.jl:426-474)") {
    val t = JTable(tinyTable, Seq("k")).distribute(Seq(2L, 3L))
    assert(t.pkey == Seq("k"))
    val per = t.df.rdd.mapPartitions(it => Iterator(it.map(_.getLong(0)).toSeq)).collect()
    assert(per.map(_.size).toSeq == Seq(2, 3))
    assert(per(0) == Seq(1L, 2L) && per(1) == Seq(3L, 4L, 5L))
    // overflow lands in the last chunk rather than throwing
    val t2 = JTable(tinyTable, Seq("k")).distribute(Seq(1L, 1L))
    val per2 = t2.df.rdd.mapPartitions(it => Iterator(it.map(_.getLong(0)).toSeq)).collect()
    assert(per2.map(_.size).toSeq == Seq(1, 4))
  }

  test("convertdim vecagg: vector-level collision merge (reference selection.jl:36-47)") {
    val median: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      A.medianCol(_) // general (self-sorting) form
    partitionSweep { n =>
      val nd = NDSparse(tinyTable.repartition(n), Seq("k"), Seq("v"))
      nd.convertdimVec("k", c => pmod(c, lit(2L)), "v", median, as = "med")
        .table.df.orderBy("k").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }
    val nd = NDSparse(tinyTable, Seq("k"), Seq("v"))
    val got = nd.convertdimVec("k", c => pmod(c, lit(2L)), "v", median, as = "med")
      .table.df.orderBy("k").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // k%2==0 → v∈{20,40} → 30.0; k%2==1 → v∈{10,30,50} → 30.0
    assert(got == Seq((0L, 30.0), (1L, 30.0)))
  }

  test("withRowIndex: pkey-order numbering invariant across chunkings (reference io.jl:151-154)") {
    partitionSweep { n =>
      JTable(tinyTable.repartition(n), Seq("k")).withRowIndex("idx")
        .df.orderBy("idx").collect()
        .map(r => (r.getAs[Long]("idx"), r.getAs[Long]("k"))).toSeq
    }
    val t = JTable(tinyTable, Seq("k")).withRowIndex("idx")
    assert(t.pkey == Seq("idx")) // the synthesized dim is the new key
    assert(t.df.orderBy("idx").collect()
      .map(r => (r.getAs[Long]("idx"), r.getAs[Long]("k"))).toSeq ==
      (1L to 5L).map(i => (i, i)).toSeq)
    intercept[IllegalArgumentException](t.withRowIndex("idx")) // name collision
  }

  test("upsert: right-wins by pkey, right-only inserts, deterministic within-side dups") {
    val base = JTable(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("k", "s", "v"), Seq("k"))
    // duplicate k=2 WITHIN updates resolves to the side's max value struct
    val ups = JTable(Seq((2L, "B", 20.0), (2L, "A", 10.0), (4L, "D", 40.0))
      .toDF("k", "s", "v"), Seq("k"))
    val want = Seq((1L, "a", 1.0), (2L, "B", 20.0), (3L, "c", 3.0), (4L, "D", 40.0))
    assert(Joins.upsert(base, ups).df.orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq == want)
    partitionSweep { n =>
      Joins.upsert(JTable(base.df.repartition(n), Seq("k")),
          JTable(ups.df.repartition(n), Seq("k")))
        .df.orderBy("k").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    }
    intercept[IllegalArgumentException](Joins.upsert(JTable(base.df), ups)) // pkey required
    intercept[IllegalArgumentException]( // schema mismatch
      Joins.upsert(base, JTable(ups.df.drop("v"), Seq("k"))))
  }

  test("groupjoinSize == size(groupjoin groups) for inner/left/outer") {
    val l = JTable(Seq("a", "b", "x").toDF("g"))
    val r = JTable(tinyTable)
    for (how <- Seq("inner", "left", "outer")) {
      val viaList = Joins.groupjoin(l, r, Seq("g"), Seq("k", "v"), how)
        .select(col("g"), size(col("groups")).cast("long").as("n"))
      val viaCount = Joins.groupjoinSize(l, r, Seq("g"), how, as = "n")
        .select(col("g"), col("n"))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("g").collect().map(x => (x.getString(0), x.getLong(1))).toSeq
      assert(rows(viaCount) == rows(viaList), s"fast path diverges for how=$how")
    }
  }

  test("reducedimVec: vector aggregate after dropping dims (reference reduce.jl:117-134)") {
    val median: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      A.medianCol(_, assumeSorted = true) // pins the lowering's sorted-array contract
    partitionSweep { n =>
      NDSparse(tinyTable.repartition(n), Seq("g", "k"), Seq("v"))
        .reducedimVec(Seq("k"), "v", median, as = "med")
        .table.df.orderBy("g").collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
    }
    val got = NDSparse(tinyTable, Seq("g", "k"), Seq("v"))
      .reducedimVec(Seq("k"), "v", median, as = "med")
      .table.df.orderBy("g").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    // g=a → {10,30,50} → 30.0; g=b → {20,40} → 30.0
    assert(got == Seq(("a", 30.0), ("b", 30.0)))
  }

  test("q77 slice predicate reaches the parquet scan (PushedFilters)") {
    val df = SparkEntry.queries("q77_permutedims_slice")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(l_linenumber,7)"),
      s"l_linenumber = 7 not in PushedFilters — storage-level row-group skip lost:\n$plan")
  }

  test("AQE is on (SCALE.md ground rule: runtime re-plan, skew split, coalesce)") {
    assert(spark.conf.get("spark.sql.adaptive.enabled").toBoolean)
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled").toBoolean)
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled").toBoolean)
  }

  test("upsert plan: exactly ONE exchange (the groupBy hash, reused for the pkey claim)") {
    // assumeSorted inputs isolate the operator's own plan from input keying
    val base = JTable.assumeSorted(tinyTable.select(col("k"), col("v")), Seq("k"))
    val ups = JTable.assumeSorted(
      Seq((2L, 99.0), (9L, 1.0)).toDF("k", "v"), Seq("k"))
    val out = Joins.upsert(base, ups)
    out.df.collect()
    // AQE prints Final AND Initial plans — count only the executed (final)
    val plan = out.df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val exchanges = "Exchange".r.findAllMatchIn(plan).size
    assert(exchanges == 1, s"expected the single groupBy hash exchange, got $exchanges:\n$plan")
  }

  test("fromColumns: distributed-vector ctor zips by position (reference table.jl:52-81)") {
    val sc = spark.sparkContext
    val a = sc.parallelize(1L to 6L, 3).toDF("a")
    val aligned = sc.parallelize(Seq(10.0, 20.0, 30.0, 40.0, 50.0, 60.0), 3).toDF("x")
    val misaligned = sc.parallelize(Seq("u", "v", "w", "x", "y", "z"), 2).toDF("b")
    val t = JTable.fromColumns(Seq("a" -> a, "x" -> aligned, "b" -> misaligned), Seq("a"))
    assert(t.columns == Seq("a", "x", "b"))
    assert(t.pkey == Seq("a"))
    val rows = t.df.orderBy("a").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
    assert(rows == Seq((1L, 10.0, "u"), (2L, 20.0, "v"), (3L, 30.0, "w"),
      (4L, 40.0, "x"), (5L, 50.0, "y"), (6L, 60.0, "z")))
    // length mismatch is an error, not silent truncation
    val short = sc.parallelize(Seq(1.0, 2.0), 2).toDF("s")
    intercept[IllegalArgumentException] {
      JTable.fromColumns(Seq("a" -> a, "s" -> short))
    }
  }

  test("convertmissing: null ↔ flagged round-trip (reference selection.jl:14-18)") {
    val df = Seq((1L, Some(10.0)), (2L, None), (3L, Some(30.0))).toDF("k", "v")
    val t = JTable(df, Seq("k"))
    val flagged = t.convertmissing("flagged", "v")
    val fr = flagged.df.orderBy("k").collect()
    assert(fr.map(_.getStruct(1).getBoolean(1)).toSeq == Seq(true, false, true))
    // presence is data now: groupable without conflating null with no-match
    assert(flagged.df.where(col("v")("present")).count() == 2)
    val back = flagged.convertmissing("null", "v")
    assert(back.df.schema("v").dataType == DoubleType)
    val vs = back.df.orderBy("k").collect()
      .map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1))).toSeq
    assert(vs == Seq(Some(10.0), None, Some(30.0)))
    intercept[IllegalArgumentException] { t.convertmissing("bogus", "v") }
    // an EXPLICIT request for a pkey column fails loudly, never no-ops
    intercept[IllegalArgumentException] { t.convertmissing("flagged", "k") }
  }

  test("tracktime: listener-sourced action + task totals (reference diagnostics.jl:84-98)") {
    val (res, timings) = Diagnostics.tracktime(spark) {
      tinyTable.repartition(4).groupBy("g").count().collect().length
    }
    assert(res == 2)
    assert(timings.actions.nonEmpty, "QueryExecutionListener saw no action")
    assert(timings.tasks.tasks > 0, "SparkListener saw no tasks")
    // the skew tell: the max single task is bounded by the run-time total
    assert(timings.tasks.maxTaskMs <= timings.tasks.executorRunTimeMs)
    assert(timings.summary.contains("max task"))
    assert(timings.summary.contains("tasks:"))
  }

  test("tracktime: codegen deltas — a new query shape compiles, the " +
      "same query run again in the session compiles nothing") {
    // a literal no earlier query used makes the generated source new
    val k = 1000003L + scala.util.Random.nextInt(1 << 30)
    def q() = spark.range(0, 64, 1, 2)
      .select((col("id") * lit(k) + lit(k % 97)).as("x"))
      .groupBy(col("x") % 5).agg(sum("x")).collect().length
    val (n1, first) = Diagnostics.tracktime(spark)(q())
    val (n2, again) = Diagnostics.tracktime(spark)(q())
    assert(n1 >= 1 && n2 == n1)
    assert(first.codegenClasses >= 1 && first.codegenCompileMs > 0.0,
      first.summary)
    assert(again.codegenClasses == 0L, again.summary)
    assert(first.summary.contains("codegen:"))
  }

  test("analyze: static plan summary — scan pushdown/pruning, exchange + join census") {
    val lineitem = spark.read.parquet(s"$sf/lineitem.parquet")
    val agg = lineitem.filter(col("l_quantity") > 40)
      .groupBy("l_returnflag").agg(sum("l_extendedprice").as("rev"))
    val p = Diagnostics.analyze(agg)
    // the two facts a user checks before a 100 TB run: the filter reached
    // the parquet scan, and the scan reads only the referenced columns
    assert(p.scans.size == 1, p.summary)
    assert(p.scans.head.pushedFilters.contains("l_quantity"), p.scans.head)
    assert(p.scans.head.readSchema.split(", ").toSet ==
      Set("l_quantity", "l_returnflag", "l_extendedprice"), p.scans.head)
    assert(p.exchanges == 1, p.summary) // partial agg -> ONE shuffle -> final
    assert(p.joins.isEmpty, p.summary)

    // join census sees through the AQE root: a hinted dim join is counted
    // as broadcast_hash with its BroadcastExchange, pre-execution
    val supplier = spark.read.parquet(s"$sf/supplier.parquet")
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    val j = supplier.join(broadcast(nation),
      col("s_nationkey") === col("n_nationkey"))
    val pj = Diagnostics.analyze(j)
    assert(pj.joins.getOrElse("broadcast_hash", 0) == 1, pj.summary)
    assert(pj.broadcastExchanges == 1, pj.summary)
    assert(pj.exchanges == 0, pj.summary)

    // codegen spans appear once AQE finalizes stages (post-execution);
    // summary renders without throwing in both states
    assert(p.summary.contains("pushed"))
    agg.collect()
    assert(Diagnostics.analyze(agg).codegenSpans > 0)
    // the executed AQE plan wraps the exchange in a query stage: the
    // stage is walked through, never counted as a second shuffle
    assert(Diagnostics.analyze(agg).exchanges == 1)
    assert(PlanWalk.shuffleCount(agg.queryExecution.executedPlan) == 1)
  }

  test("broadcastOp dimmap: excluded same-named dim stays as a (renamed) output dim") {
    // both sides carry (x, y); joining on x only means each side keeps its
    // own y — B's is disambiguated to y_r (the reference's dims are
    // positional, so "both keep their unmatched dim" can't collide there)
    val a = NDSparse(Seq((1L, 1L, 10.0), (1L, 2L, 20.0)).toDF("x", "y", "va"),
      Seq("x", "y"), Seq("va"))
    val b = NDSparse(Seq((1L, 7L, 2.0)).toDF("x", "y", "vb"),
      Seq("x", "y"), Seq("vb"))
    val out = a.broadcastOp(b, (l, r) => l * r, "v", dimmap = Some(Seq("x")))
    assert(out.dims == Seq("x", "y", "y_r"))
    val rows = out.table.df.orderBy("y").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(rows == Seq((1L, 1L, 7L, 20.0), (1L, 2L, 7L, 40.0)))
  }

  test("lookup with no usable key selects all values (full-colon getindex)") {
    val nd = NDSparse(tinyTable, Seq("k"), Seq("v"))
    assert(nd.lookup().count() == 5)
    assert(nd.lookup(null).count() == 5)
    assert(nd.lookup(3L).collect().map(_.getDouble(0)).toSeq == Seq(30.0))
  }

  test("sessionize golden: gap ≥ threshold opens, ties share, keys independent") {
    import graft.operators.Sessions
    val df = Seq(
      (1L, 0L, 1.0), (1L, 5L, 2.0), (1L, 9L, 3.0), // gaps 5, 4 < 10 → one session
      (1L, 19L, 4.0), // gap 10 ≥ 10 → new session (session_window semantics)
      (1L, 19L, 5.0), // tied ts → same session regardless of tie order
      (2L, 9L, 6.0)) // other key: independent; ts collision with key 1 irrelevant
      .toDF("k", "t", "v")
    val out = Sessions.sessionStats(df, Seq("k"), "t", gapUs = 10L,
        "n" -> count(lit(1)), "sv" -> sum(col("v")))
      .orderBy("k", "session_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSeq
    assert(out == Seq(
      (1L, 0L, 9L, 3L, 6.0), (1L, 19L, 19L, 2L, 9.0), (2L, 9L, 9L, 1L, 6.0)))
  }

  test("sessionStats == sequential walk model on events (partition sweep)") {
    import graft.operators.Sessions
    val gap = 12L * 3600L * 1000000L
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), expr("ts div 1000").as("ts_us"), col("value"))
    // model: per-user sorted walk, split where the gap reaches the threshold
    val model = ev.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).toSeq.flatMap { case (u, rows) =>
        val sorted = rows.sortBy(_._2)
        val sessions = sorted.tail.foldLeft(Vector(Vector(sorted.head))) { (acc, e) =>
          if (e._2 - acc.last.last._2 >= gap) acc :+ Vector(e)
          else acc.init :+ (acc.last :+ e)
        }
        sessions.map(ss => (u, ss.head._2, ss.last._2, ss.length.toLong,
          math.rint(ss.map(_._3).sum * 1e4) / 1e4))
      }.sortBy(s => (s._1, s._2))
    partitionSweep { n =>
      Sessions.sessionStats(ev.repartition(n), Seq("user_id"), "ts_us", gap,
          "n" -> count(lit(1)),
          "sv" -> sum(col("value").cast("decimal(18,4)")).cast("double"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
        .toSeq.sortBy(s => (s._1, s._2))
    }
    val got = Sessions.sessionStats(ev, Seq("user_id"), "ts_us", gap,
        "n" -> count(lit(1)),
        "sv" -> sum(col("value").cast("decimal(18,4)")).cast("double"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSeq.sortBy(s => (s._1, s._2))
    assert(got.map(s => (s._1, s._2, s._3, s._4)) == model.map(s => (s._1, s._2, s._3, s._4)))
    got.zip(model).foreach { case (g, m) =>
      assert(math.abs(g._5 - m._5) < 1e-9, s"sum_value diverged: $g vs $m") }
  }

  test("sessionStatsSalted == sessionStats across bucket widths (hot-key fallback)") {
    import graft.operators.Sessions
    val gap = 12L * 3600L * 1000000L
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), expr("ts div 1000").as("ts_us"), col("value"))
    val plain = Sessions.sessionStats(ev, Seq("user_id"), "ts_us", gap,
        "n_events" -> count(lit(1)),
        "sum_value" -> sum(col("value").cast("decimal(18,4)")).cast("double"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSeq.sortBy(s => (s._1, s._2))
    // widths below, equal to, a non-divisor of, and far above the gap —
    // correctness must be width-invariant (partials merge in pass 2)
    for (bucket <- Seq(gap / 12, gap, gap * 7 / 3, gap * 40)) {
      val salted = Sessions.sessionStatsSalted(ev, Seq("user_id"), "ts_us",
          gap, bucket, "value")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
        .toSeq.sortBy(s => (s._1, s._2))
      assert(salted == plain, s"bucketUs=$bucket diverged")
    }
    // golden: a session spanning three buckets must chain-merge
    val chain = Seq((1L, 0L, 1.0), (1L, 9L, 1.0), (1L, 19L, 1.0), (1L, 40L, 2.0))
      .toDF("user_id", "ts_us", "value") // gap 12: 0-9-19 chain, 40 new
    val got = Sessions.sessionStatsSalted(chain, Seq("user_id"), "ts_us",
        gapUs = 12L, bucketUs = 10L, valueCol = "value")
      .orderBy("session_start").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSeq
    assert(got == Seq((0L, 19L, 3L, 3.0), (40L, 40L, 1L, 2.0)), got.mkString(","))
  }

  test("sessionStats plan: ONE exchange — windows and final agg reuse the key hash") {
    import graft.operators.Sessions
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), expr("ts div 1000").as("ts_us"), col("value"))
    val out = Sessions.sessionStats(ev, Seq("user_id"), "ts_us",
      12L * 3600L * 1000000L, "n" -> count(lit(1)))
    out.collect()
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val exchanges = "Exchange".r.findAllMatchIn(plan).size
    assert(exchanges == 1,
      s"boundary window, session-start window and per-session agg should share one hash exchange, got $exchanges:\n$plan")
  }

  test("broadcastOp keeps B-only dims (reference join.jl:286-322)") {
    val a = NDSparse(Seq((1L, 10.0), (2L, 20.0)).toDF("x", "va"), Seq("x"), Seq("va"))
    val b = NDSparse(Seq((1L, "p", 1.0), (1L, "q", 2.0), (2L, "p", 3.0))
      .toDF("x", "y", "vb"), Seq("x", "y"), Seq("vb"))
    val out = a.broadcastOp(b, (l, r) => l * r, "v")
    assert(out.dims == Seq("x", "y"))
    val rows = out.table.df.orderBy("x", "y").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(rows == Seq((1L, "p", 10.0), (1L, "q", 20.0), (2L, "p", 60.0)))
  }

  test("intervalJoin: golden semantics, width sweep, guard rails") {
    import spark.implicits._
    // k1: [0,10]×[5,20] overlap; [0,10]×[10,30] TOUCH at the closed
    // endpoint (must match); [0,10]×[11,12] disjoint. k2: key isolation
    // (identical intervals, different key — no cross match). l2 [100,400]
    // spans many buckets at width 7 — the canonical rule must keep the
    // pair exactly ONCE despite meeting in dozens of buckets.
    val l = Seq((1L, 100L, 0L, 10L), (1L, 101L, 100L, 400L),
      (2L, 102L, 0L, 10L)).toDF("k", "lid", "lo", "hi")
    val r = Seq((1L, 200L, 5L, 20L), (1L, 201L, 10L, 30L),
      (1L, 202L, 11L, 12L), (1L, 203L, 150L, 160L),
      (3L, 204L, 0L, 10L)).toDF("k", "rid", "rlo", "rhi")
    def run(width: Long) =
      Joins.intervalJoin(l, r, Seq("k"), "lo", "hi", "rlo", "rhi", width)
        .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1)))
        .sorted.toSeq
    val want = Seq((100L, 200L), (100L, 201L), (101L, 203L))
    // width sweep: tiny (heavy replication), near-span, and huge (all in
    // one bucket) must agree bit-for-bit — the width is a cost knob only
    for (wd <- Seq(1L, 7L, 16L, 1000000000L))
      assert(run(wd) == want, s"width=$wd")
    // non-integral interval column refuses loudly
    val frac = Seq((1L, 1L, 0.5, 2.5)).toDF("k", "lid", "lo", "hi")
    val e1 = intercept[IllegalArgumentException] {
      Joins.intervalJoin(frac, r, Seq("k"), "lo", "hi", "rlo", "rhi", 7L)
    }
    assert(e1.getMessage.contains("must be integral"))
    // span guard: one absurd interval at width 1 names the knob
    val wide = Seq((1L, 1L, 0L, 2000000000L)).toDF("k", "rid2", "rlo", "rhi")
    val e2 = intercept[Exception] {
      Joins.intervalJoin(l, wide, Seq("k"), "lo", "hi", "rlo", "rhi", 1L)
        .count()
    }
    assert(e2.getMessage.contains("raise bucketWidth"))
    // inverted interval (hi < lo) is empty, dropped silently
    val inv = Seq((1L, 300L, 10L, 0L)).toDF("k", "rid", "rlo", "rhi")
    assert(Joins.intervalJoin(l, inv, Seq("k"), "lo", "hi", "rlo", "rhi", 7L)
      .count() == 0L)
  }

  test("asofJoinTolerance: stale match nulled, row kept; boundary inclusive; huge tol == plain") {
    import spark.implicits._
    val l = Seq((1L, 100L, 10L), (1L, 101L, 50L), (1L, 102L, 200L))
      .toDF("u", "lid", "ts")
    val r = Seq((1L, 900L, 5L, 1.0), (1L, 901L, 40L, 2.0))
      .toDF("u", "rid", "ts", "v")
      .select(col("u"), col("ts"), col("rid"), col("v"))
    def run(tol: Long) = Joins.asofJoinTolerance(l, r, Seq("u"), "ts", "ts",
        lCols = Seq("lid"), rValueCols = Seq("rid", "v"), tolerance = tol)
      .select("lid", "rid").collect()
      .map(x => (x.getLong(0), if (x.isNullAt(1)) -1L else x.getLong(1)))
      .sortBy(_._1).toSeq
    // tol=10: lid 100 (ts 10) matches rid 900 (ts 5, age 5 ≤ 10) — the
    // boundary-inclusive case is lid 101 (ts 50) vs rid 901 (ts 40,
    // age exactly 10); lid 102 (ts 200)'s best match is age 160 → nulled
    assert(run(10L) == Seq((100L, 900L), (101L, 901L), (102L, -1L)))
    // huge tolerance degenerates to plain asofJoin
    val plain = Joins.asofJoin(l, r, Seq("u"), "ts", "ts",
        lCols = Seq("lid"), rValueCols = Seq("rid", "v"))
      .select("lid", "rid").collect()
      .map(x => (x.getLong(0), if (x.isNullAt(1)) -1L else x.getLong(1)))
      .sortBy(_._1).toSeq
    assert(run(Long.MaxValue / 4) == plain)
  }

  test("clusteringCoefficient: clique 1.0, star 0.0, path middle 0.0") {
    import graft.functions.Graphs
    import spark.implicits._
    val k4 = Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L)).toDF("i","j")
    val lccK4 = Graphs.clusteringCoefficient(k4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).sorted.toSeq
    assert(lccK4 == (1L to 4L).map(n => (n, 3L, 1.0)))
    // star: hub degree 5, no closing edges → 0.0 everywhere; leaves deg 1
    val star = (2L to 6L).map(x => (1L, x)).toDF("i","j")
    val lccStar = Graphs.clusteringCoefficient(star).collect()
      .map(r => (r.getLong(0), r.getDouble(3))).sorted.toSeq
    assert(lccStar == Seq((1L, 0.0), (2L, 0.0), (3L, 0.0), (4L, 0.0), (5L, 0.0), (6L, 0.0)))
    // path 1-2-3: middle node deg 2, no triangle → 0.0
    val path = Seq((1L,2L),(2L,3L)).toDF("i","j")
    val mid = Graphs.clusteringCoefficient(path)
      .filter(col("node") === 2L).collect().head
    assert(mid.getLong(1) == 2L && mid.getDouble(3) == 0.0)
  }

  test("triangleCount: golden graphs, raw-edge normalization, naive-model equality") {
    import graft.functions.Graphs
    import spark.implicits._
    // K4 on {1,2,3,4}: 4 triangles, each node in exactly 3
    val k4 = Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L)).toDF("i","j")
    val gotK4 = Graphs.triangleCount(k4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(gotK4 == Seq((1L,3L),(2L,3L),(3L,3L),(4L,3L)))
    // star K1,5 has no triangles → empty output
    val star = (2L to 6L).map(x => (1L, x)).toDF("i","j")
    assert(Graphs.triangleCount(star).count() == 0L)
    // raw edges: duplicates, reversed duplicates, self-loops — all
    // normalized away; triangle (1,2,3) counted once per corner
    val raw = Seq((1L,2L),(2L,1L),(1L,1L),(2L,3L),(3L,2L),(1L,3L),(3L,3L))
      .toDF("i","j")
    val gotRaw = Graphs.triangleCount(raw).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(gotRaw == Seq((1L,1L),(2L,1L),(3L,1L)))
    // hub graph (one node on every edge — the orientation's worst enemy):
    // hub 0 connects to 1..20, ring edges (1,2),(2,3),...: triangles are
    // exactly (0, i, i+1). Compare against the naive driver model.
    val hub = (1L to 20L).map(x => (0L, x)) ++ (1L until 20L).map(x => (x, x+1))
    val hubDf = hub.toDF("i","j")
    val got = Graphs.triangleCount(hubDf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val edges = hub.map(e => (math.min(e._1,e._2), math.max(e._1,e._2))).toSet
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val triples = for {
      a <- nodes; b <- nodes if b > a; c <- nodes if c > b
      if edges((a,b)) && edges((a,c)) && edges((b,c))
    } yield Seq(a, b, c)
    val wantCounts = triples.flatten.groupBy(identity).view
      .mapValues(_.size.toLong).toSeq.map { case (n, c) => (n, c) }.sorted
    assert(got == wantCounts)
  }

  test("bloomPrefilteredJoin: identical to the plain join at any fpp") {
    import spark.implicits._
    val fact = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e"),
      (6L, "f"), (2L, "g")).toDF("k", "payload")
    val dim = Seq((2L, "x"), (4L, "y"), (9L, "z")).toDF("dk", "dval")
    def plain = fact.join(dim, fact("k") === dim("dk"))
      .select("k", "payload", "dval").collect().map(_.toSeq).toSet
    for (fpp <- Seq(0.01, 0.5)) { // adversarial fpp: exactness never depends on filter quality
      val got = Joins.bloomPrefilteredJoin(fact, dim, "k", "dk", fpp = fpp)
        .select("k", "payload", "dval").collect().map(_.toSeq).toSet
      assert(got == plain, s"bloom join diverged at fpp=$fpp")
    }
    // string keys use the UTF-8 probe domain
    val factS = Seq(("aa", 1L), ("bb", 2L), ("cc", 3L)).toDF("k", "v")
    val dimS = Seq(("bb", 10L)).toDF("dk", "w")
    val gotS = Joins.bloomPrefilteredJoin(factS, dimS, "k", "dk")
      .select("k", "v", "w").collect().map(_.toSeq).toSet
    assert(gotS == Set(Seq("bb", 2L, 10L)))
    // the probe is native codegen, never a ScalaUDF
    val plan = Joins.bloomPrefilteredJoin(fact, dim, "k", "dk")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"))
  }

  test("quantileCont: interpolation golden, integral-h member value, sweep") {
    import spark.implicits._
    // g1: values 10,20,30,40 -> q=0.25: h=0.75, lo=10, hi=20 -> 17.5
    // g2: values 1,2,3 -> q=0.5: h=1.0 integral -> exactly 2.0
    val df = (Seq(10.0, 20.0, 30.0, 40.0).map(("g1", _)) ++
      Seq(1.0, 2.0, 3.0).map(("g2", _))).toDF("g", "v")
    val q25 = A.quantileCont(df, Seq("g"), "v", 0.25)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(q25("g1") == 10.0 + 0.75 * 10.0)
    assert(q25("g2") == 1.0 + 0.5 * 1.0)
    val q50 = A.quantileCont(df, Seq("g"), "v", 0.5)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(q50("g2") == 2.0) // integral h: the member value, no rounding
    assert(q50("g1") == 25.0)
    // q=0 / q=1: the extremes exactly
    assert(A.quantileCont(df, Seq("g"), "v", 0.0)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap ==
      Map("g1" -> 10.0, "g2" -> 1.0))
    assert(A.quantileCont(df, Seq("g"), "v", 1.0)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap ==
      Map("g1" -> 40.0, "g2" -> 3.0))
    // partition sweep: result invariant to input partitioning
    partitionSweep { n =>
      A.quantileCont(df.repartition(n), Seq("g"), "v", 0.25)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1).toSeq
    }
  }

  test("asofJoinForward/Nearest: goldens, boundary, tie rule, tolerance") {
    import spark.implicits._
    val l = Seq((1L, 1L, 10L), (2L, 1L, 25L), (3L, 1L, 50L), (4L, 2L, 5L))
      .toDF("eid", "id", "t")
    val r = Seq((1L, 12L, "a"), (1L, 20L, "b"), (1L, 25L, "c"), (1L, 30L, "d"))
      .toDF("id", "t", "v")
    def fwd(tol: Option[Long]) = Joins.asofJoinForward(l, r, Seq("id"),
        "t", "t", Seq("eid"), Seq("v"), tol)
      .collect().map(x => x.getLong(2) -> Option(x.getString(3))).toMap
    // forward: earliest rt >= lt; boundary INCLUSIVE (eid 2 at t=25 -> c)
    assert(fwd(None) == Map(1L -> Some("a"), 2L -> Some("c"), 3L -> None,
      4L -> None))
    // tolerance: eid 1 (gap 2) keeps, eid 2 (gap 0) keeps under tol=1
    assert(fwd(Some(1L)) == Map(1L -> None, 2L -> Some("c"), 3L -> None,
      4L -> None))
    def near(tol: Option[Long]) = Joins.asofJoinNearest(l, r, Seq("id"),
        "t", "t", Seq("eid"), Seq("v"), tol)
      .collect().map(x => x.getLong(2) -> Option(x.getString(3))).toMap
    // eid1 t=10: back none, fwd a(d2) -> a; eid2 t=25: back c(d0) beats
    // fwd c; eid3 t=50: back d(d20) only -> d; eid4: no rows for id 2
    assert(near(None) == Map(1L -> Some("a"), 2L -> Some("c"),
      3L -> Some("d"), 4L -> None))
    assert(near(Some(5L)) == Map(1L -> Some("a"), 2L -> Some("c"),
      3L -> None, 4L -> None))
    // exact tie goes BACKWARD: l at 16 sits between 12 and 20 (dist 4 both)
    val lt = Seq((9L, 1L, 16L)).toDF("eid", "id", "t")
    val tie = Joins.asofJoinNearest(lt, r, Seq("id"), "t", "t",
      Seq("eid"), Seq("v")).collect().head.getString(3)
    assert(tie == "a")
    // vs brute-force driver model on the fixture rows
    val rs = Seq((12L, "a"), (20L, "b"), (25L, "c"), (30L, "d"))
    def model(t: Long): Option[String] = {
      val back = rs.filter(_._1 <= t).sortBy(x => (x._1, x._2)).lastOption
      val forw = rs.filter(_._1 >= t).sortBy(x => (x._1, x._2)).headOption
      (back, forw) match {
        case (Some(bv), Some(fv)) =>
          if (t - bv._1 <= fv._1 - t) Some(bv._2) else Some(fv._2)
        case (b, f) => b.orElse(f).map(_._2)
      }
    }
    val all = Joins.asofJoinNearest(
        Seq.tabulate(40)(i => (i.toLong, 1L, i.toLong + 5L)).toDF("eid", "id", "t"),
        r, Seq("id"), "t", "t", Seq("eid"), Seq("v"))
      .collect().map(x => x.getLong(2) -> Option(x.getString(3))).toMap
    (0 until 40).foreach(i => assert(all(i.toLong) == model(i.toLong + 5L),
      s"nearest mismatch at t=${i + 5}"))
  }

  test("weightedMean: exact decimal accumulation, zero-weight NULL") {
    import spark.implicits._
    val df = Seq(("g", 10.0, 1.0), ("g", 20.0, 3.0), ("g", 100.0, 0.0),
      ("z", 5.0, 0.0), ("z", 7.0, 0.0)).toDF("k", "v", "w")
    val got = A.weightedMean(df, Seq("k"), "v", "w")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(got("g") == (3L, 4.0, Some((10.0 + 60.0) / 4.0)))
    assert(got("z") == (2L, 0.0, None)) // zero total weight: NULL, not NaN
    partitionSweep { n =>
      A.weightedMean(df.repartition(n), Seq("k"), "v", "w")
        .orderBy("k").collect().map(_.toSeq).toSeq
    }
  }
}
