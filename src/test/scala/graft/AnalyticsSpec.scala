package graft

import graft.functions.ML
import graft.operators.Analytics
import org.apache.spark.sql.functions._

/** Batch-15 operators: funnel, cohort retention, corpus diff. */
class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  test("funnel: strict ordering, partial depths, window boundary") {
    // u1: full chain inside window; u2: simultaneous B does NOT advance;
    // u3: depth 2 only; u4: completes but outside window; u5: no step A.
    val ev = Seq(
      (1L, "A", 10L), (1L, "B", 20L), (1L, "C", 30L),
      (2L, "A", 10L), (2L, "B", 10L), (2L, "C", 30L), // B at t=10 not > 10
      (3L, "A", 10L), (3L, "B", 15L),
      (4L, "A", 10L), (4L, "B", 20L), (4L, "C", 200L),
      (5L, "B", 10L), (5L, "C", 20L)).toDF("u", "et", "ts")
    val got = Analytics.funnel(ev, "u", "ts", "et", Seq("A", "B", "C"),
        within = 50L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4))).sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 3L, 10L, 30L, true),
      (2L, 1L, 10L, 10L, false), // simultaneous B never advances: depth 1
      (3L, 2L, 10L, 15L, false),
      (4L, 3L, 10L, 200L, false))) // completed but 190 > 50
  }

  test("funnel: greedy earliest-first maximizes completion") {
    // A at 10 and 50; B only at 20. Greedy takes A@10 -> B@20 completes;
    // an A@50 anchor would fail.
    val ev = Seq((1L, "A", 10L), (1L, "A", 50L), (1L, "B", 20L)).toDF("u", "et", "ts")
    val got = Analytics.funnel(ev, "u", "ts", "et", Seq("A", "B"), within = 100L)
      .collect().map(r => (r.getLong(1), r.getBoolean(4))).toSeq
    assert(got == Seq((2L, true)))
  }

  test("cohortRetention: golden triangle + partition sweep") {
    val ev = Seq(
      (1L, 0L), (1L, 10L), (1L, 20L), // cohort 0, offsets 0,1,2
      (2L, 0L), (2L, 20L),            // cohort 0, offsets 0,2
      (3L, 10L), (3L, 15L)            // cohort 1, offset 0 (two events, one bucket)
    ).toDF("u", "ts")
    def mk(parts: Int) = Analytics.cohortRetention(ev.repartition(parts), "u", "ts", width = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(mk(1) == Seq((0L, 0L, 2L), (0L, 1L, 1L), (0L, 2L, 2L), (1L, 0L, 1L)))
    partitionSweep(mk)
  }

  test("corpusDiff: four statuses; whitespace-only change is unchanged") {
    val a = Seq((1L, "alpha beta"), (2L, "keep me"), (3L, "gone soon")).toDF("id", "text")
    val b = Seq((1L, "alpha  BETA "), // normalizes equal
      (2L, "keep me now"), (4L, "brand new")).toDF("id", "text")
    val got = graft.functions.Dedup.corpusDiff(a, b, "id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got == Seq((1L, "unchanged"), (2L, "changed"), (3L, "removed"), (4L, "added")))
  }

  test("fuzzyJoin: blocked candidates, distance cap, best-per-left ranking") {
    val dirty = Seq((1L, "blk", "kitten"), (2L, "blk", "zzzzz"), (3L, "oth", "kitten"))
      .toDF("d_id", "b", "d_name")
    val ref = Seq((10L, "blk", "sitten"), (11L, "blk", "sittin"), (12L, "oth", "mitten"))
      .toDF("r_id", "b", "r_name")
    val got = graft.operators.Joins.fuzzyJoin(dirty, ref, "d_id", "r_id",
        Seq("b"), "d_name", "r_name", maxDist = 2, topPerLeft = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._4)).toSeq
    // kitten->sitten d1, kitten->sittin d2; zzzzz matches nothing;
    // cross-block kitten->mitten d1 only within its own block
    assert(got == Seq((1L, 10L, 1L, 1L), (1L, 11L, 2L, 2L), (3L, 12L, 1L, 1L)))
  }

  test("validate: all rule kinds, zero-violation rules report 0, null counts as violation") {
    import graft.functions.Validation._
    val df = Seq(
      (1L, 10.0), (2L, 20.0), (2L, 30.0), // dup key 2
      (3L, -1.0),                          // range violation
      (9L, 5.0)                            // orphan vs ref
    ).toDF("k", "v").withColumn("v",
      when(col("k") === 1L, lit(null).cast("double")).otherwise(col("v")))
    val ref = Seq(1L, 2L, 3L).toDF("rk")
    val got = validate(df, Seq(
      Check("v_pos", col("v") >= 0),        // null v (k=1) + -1.0 => 2
      Check("k_pos", col("k") >= 1),        // 0
      Unique("k_unique", Seq("k")),         // the two k=2 rows => 2
      ForeignKey("k_fk", Seq("k"), ref, Seq("rk")))) // k=9 => 1
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(got == Seq((0L, "v_pos", 2L), (1L, "k_pos", 0L),
      (2L, "k_unique", 2L), (3L, "k_fk", 1L)))
  }

  test("skipgramPairs: golden window pairs, edges, empty docs") {
    val df = Seq((1L, "a b c d"), (2L, ""), (3L, "x")).toDF("id", "text")
    val got = graft.functions.Text.skipgramPairs(df, "text", window = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    // positions: a1 b2 c3 d4, window 2 — model by brute force
    val toks = Seq("a", "b", "c", "d")
    val want = (for {
      i <- toks.indices; j <- toks.indices
      if i != j && math.abs(i - j) <= 2
    } yield (toks(i), toks(j))).groupBy(identity).map { case (k, v) =>
      (k._1, k._2, v.size.toLong) }.toSeq.sortBy(t => (t._1, t._2))
    assert(got == want) // singleton doc 3 and empty doc 2 contribute nothing
  }

  test("ORC round trip is byte-exact on adversarial strings") {
    val dir = java.nio.file.Files.createTempDirectory("graft-orcspec-").toString + "/t"
    val rows = Seq((1L, "plain"), (2L, "quo\"te"), (3L, "back\\slash"),
      (4L, "new\nline\ttab"), (5L, "unicode \u00e9\u4e2d\ud83d\ude00"))
    rows.toDF("id", "text").write.orc(dir)
    val back = spark.read.orc(dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(back == rows)
  }

  test("winsorize: golden bounds and clamps; degenerate full-range band") {
    import spark.implicits._
    // values 0..10 → q0.1 bound = rank ⌊0.1·10⌋+1 = 2nd smallest = 1.0;
    // q0.9 = rank 10 = 9.0; clamp pins 0→1 and 10→9, middle unchanged
    val df = (0 to 10).map(v => ("g", v.toLong, v.toDouble)).toDF("g", "id", "v")
    val got = ML.winsorize(df, Seq("g"), "v", 0.1, 0.9)
      .select("id", "lo", "hi", "v_w").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    assert(got.forall(t => t._2 == 1.0 && t._3 == 9.0))
    assert(got.head == (0L, 1.0, 9.0, 1.0) && got.last == (10L, 1.0, 9.0, 9.0))
    assert(got(5) == (5L, 1.0, 9.0, 5.0))
    // [0,1] band = identity transform
    val id = ML.winsorize(df, Seq("g"), "v", 0.0, 1.0)
      .select("v", "v_w").collect().map(r => (r.getDouble(0), r.getDouble(1)))
    assert(id.forall(t => t._1 == t._2))
  }

  test("outliersMad: golden flags; zero-MAD group empty") {
    // g1: values 1..7 plus 100 → med=4 (rank ⌊.5·7⌋+1=4), devs
    // {3,2,1,0,1,2,3,96} → mad = 2 (rank 4 of sorted devs 0,1,1,2,2,3,3,96)
    // → k=3: flags only 100 (dev 96 > 6); 7 has dev 3 ≤ 6
    val rows = (Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 100.0).zipWithIndex
      .map { case (v, i) => ("g1", i.toLong, v) } ++
      Seq(("g2", 100L, 5.0), ("g2", 101L, 5.0), ("g2", 102L, 5.0)))
    import spark.implicits._
    val got = Analytics.outliersMad(
        spark.createDataset(rows).toDF("g", "id", "v"), Seq("g"), "v", k = 3.0)
      .select("id", "med", "mad", "z_mad").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    assert(got.toSeq == Seq((7L, 4.0, 2.0, 48.0)))
  }

  test("transitions: golden pairs, tie order, probabilities sum to 1 per from") {
    val ev = Seq(
      // u1: a→b→b→c ; u2: a→c ; tie at ts=5 broken by id (b before c)
      (1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "b"), (1L, 4L, "c"),
      (2L, 1L, "a"), (2L, 2L, "c"),
      (3L, 5L, "b"), (3L, 5L, "c")) // tie: id 6 vs 7 decides b→c
      .zipWithIndex.map { case ((u, t, s), i) => (u, t, i.toLong, s) }
    import spark.implicits._
    val got = Analytics.transitions(
        spark.createDataset(ev).toDF("u", "ts", "id", "st"),
        Seq("u"), "ts", "st", tieCols = Seq("id"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(4)))
      .sortBy(t => (t._1, t._2)).toSeq
    val want = Seq(
      ("a", "b", 1L, 0.5), ("a", "c", 1L, 0.5),
      ("b", "b", 1L, 1.0 / 3.0), ("b", "c", 2L, 2.0 / 3.0))
    assert(got == want)
  }

  test("giniImpurity: pure group 0, uniform 2-class 0.5, skewed exact") {
    val rows = Seq(
      ("pure", "x"), ("pure", "x"), ("pure", "x"),
      ("half", "x"), ("half", "y"),
      ("skew", "x"), ("skew", "x"), ("skew", "x"), ("skew", "y"))
    import spark.implicits._
    val got = Analytics.giniImpurity(
        spark.createDataset(rows).toDF("g", "v"), Seq("g"), "v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(got == Seq(
      ("half", 2L, 0.5),
      ("pure", 3L, 0.0),
      ("skew", 4L, 1.0 - 10.0 / 16.0)))
  }

  test("collocations: golden counts and lift; single-token docs; minCount prunes") {
    import graft.functions.Text
    val docs = Seq(
      (1L, "new york new york"),
      (2L, "york new"),
      (3L, "solo")).toDF("doc_id", "text")
    val got = Text.collocations(docs, "text", minCount = 1L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).sortBy(t => (t._1, t._2)).toSeq
    // tokens: doc1 [new york new york], doc2 [york new], doc3 [solo] → N=7
    // bigrams: (new,york)×2, (york,new)×1 (doc1) + (york,new)×1 (doc2)
    // unigrams: new=3, york=3, solo=1
    val want = Seq(
      ("new", "york", 2L, 3L, 3L, 2.0 * 7.0 / (3.0 * 3.0)),
      ("york", "new", 2L, 3L, 3L, 2.0 * 7.0 / (3.0 * 3.0)))
    assert(got == want)
    // minCount=2 keeps both here; minCount=3 prunes everything
    assert(Text.collocations(docs, "text", minCount = 3L).count() == 0L)
  }

  test("modeExact: tie breaks to smallest value; partition sweep") {
    def mk(parts: Int) = graft.operators.Aggregations.modeExact(
        Seq(("g1", "b"), ("g1", "b"), ("g1", "a"), ("g1", "a"), ("g1", "c"),
          ("g2", "z")).toDF("g", "v").repartition(parts),
        Seq("g"), "v")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    // g1: a and b tie at 2 → "a" (smallest) wins; g2 singleton
    assert(mk(1) == Seq(("g1", "a", 2L), ("g2", "z", 1L)))
    partitionSweep(mk)
  }

  test("olsFit: perfect line recovered exactly; degenerate groups NULL; partition-invariant") {
    val pts = Seq(
      // g1: y = 2x + 1 exactly — slope/intercept recovered to double exact
      ("g1", 1.0, 3.0), ("g1", 2.0, 5.0), ("g1", 3.0, 7.0), ("g1", 4.0, 9.0),
      // g2: anti-correlated line y = 10 - x
      ("g2", 1.0, 9.0), ("g2", 2.0, 8.0), ("g2", 3.0, 7.0),
      // g3: singleton — slope/intercept/r NULL, not ±Inf
      ("g3", 5.0, 5.0),
      // g4: zero x-variance — NULL
      ("g4", 2.0, 1.0), ("g4", 2.0, 9.0))
    def run(parts: Int) = {
      import spark.implicits._
      val df = spark.createDataset(pts).toDF("g", "x", "y").repartition(parts)
      ML.olsFit(df, Seq("g"), "x", "y")
        .collect().map(r => (r.getString(0), r.getLong(1),
          Option(r.get(2)), Option(r.get(3)), Option(r.get(4))))
        .sortBy(_._1).toSeq
    }
    val base = run(1)
    val byG = base.map(t => t._1 -> t).toMap
    assert(byG("g1")._3.contains(2.0) && byG("g1")._4.contains(1.0))
    assert(math.abs(byG("g1")._5.get.asInstanceOf[Double] - 1.0) < 1e-12)
    assert(byG("g2")._3.contains(-1.0) && byG("g2")._4.contains(10.0))
    assert(math.abs(byG("g2")._5.get.asInstanceOf[Double] + 1.0) < 1e-12)
    assert(byG("g3")._3.isEmpty && byG("g3")._4.isEmpty && byG("g3")._5.isEmpty)
    assert(byG("g4")._3.isEmpty && byG("g4")._4.isEmpty && byG("g4")._5.isEmpty)
    // decimal sufficient statistics ⇒ identical at any partitioning
    partitionSweep(run)
  }

  test("outliersZ: flags exactly the model's rows; zero-variance group empty") {
    val rows = Seq(
      // g1: mean 10, values ±spread — model computed below
      ("g1", 1L, 4.0), ("g1", 2L, 9.0), ("g1", 3L, 10.0),
      ("g1", 4L, 11.0), ("g1", 5L, 16.0),
      // g2: constant — std 0, nothing can exceed k·0
      ("g2", 6L, 7.0), ("g2", 7L, 7.0), ("g2", 8L, 7.0))
    import spark.implicits._
    val df = spark.createDataset(rows).toDF("g", "id", "v")
    val got = Analytics.outliersZ(df, Seq("g"), "v", k = 1.2)
      .select("id", "z").collect().map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy(_._1)
    // driver model with the operator's pinned formula
    val g1 = rows.filter(_._1 == "g1").map(_._3)
    val (n, s, ss) = (g1.size.toDouble, g1.sum, g1.map(v => v * v).sum)
    val mean = s / n
    val std = math.sqrt((ss - s * s / n) / n)
    val want = rows.filter(_._1 == "g1")
      .filter(r => math.abs(r._3 - mean) > 1.2 * std)
      .map(r => (r._2, (r._3 - mean) / std)).sortBy(_._1)
    assert(got.toSeq == want)
    assert(want.nonEmpty && want.size < g1.size) // the test discriminates
  }

  test("chiSquareDrift: golden terms, unseen category excluded from chi2") {
    import spark.implicits._
    // ref: a=50, b=30, c=20 (tot 100); cur: a=40, b=40, z=20 (tot 100).
    // c vanished (obs 0 vs exp 20 -> term 20); z is ref-unseen (no term).
    def rep(cat: String, n: Int) = Seq.fill(n)(cat)
    val ref = (rep("a", 50) ++ rep("b", 30) ++ rep("c", 20)).toDF("lang")
    val cur = (rep("a", 40) ++ rep("b", 40) ++ rep("z", 20)).toDF("lang")
    val got = Analytics.chiSquareDrift(ref, cur, "lang")
      .orderBy("cat").collect()
    val byCat = got.map(r => r.getString(0) -> r).toMap
    assert(byCat.keySet == Set("a", "b", "c", "z"))
    // expected under ref proportions scaled to cur total 100: a 50, b 30, c 20
    assert(byCat("a").getAs[Double]("expected") == 50.0)
    assert(byCat("a").getAs[Double]("term") == 2.0)   // (40-50)^2/50
    assert(byCat("b").getAs[Double]("term") == (10.0 * 10.0) / 30.0)
    assert(byCat("c").getAs[Double]("term") == 20.0)  // (0-20)^2/20
    assert(byCat("z").isNullAt(byCat("z").fieldIndex("term")))
    val chi2 = got.head.getAs[Double]("chi2")
    assert(math.abs(chi2 - (2.0 + 100.0 / 30.0 + 20.0)) < 1e-9)
    assert(got.head.getAs[Long]("dof") == 2L)      // 3 ref categories - 1
    assert(got.head.getAs[Long]("n_unseen") == 1L) // z
    // no drift => chi2 == 0 exactly (counts equal, terms all zero)
    val same = Analytics.chiSquareDrift(ref, ref, "lang").collect()
    assert(same.head.getAs[Double]("chi2") == 0.0)
  }

  test("welchT: exact vs driver model; n<2 side yields nulls") {
    import spark.implicits._
    val a = Seq(10.0, 12.0, 11.0, 13.0, 9.0)
    val b = Seq(14.0, 15.0, 13.5, 16.0)
    val df = (a.map(("A", _)) ++ b.map(("B", _))).toDF("grp", "v")
    val r = Analytics.welchT(df, "grp", "v", "A", "B").collect().head
    // driver model with the operator's pinned op order (scale-2 decimals
    // are exact for these literals)
    def stats(xs: Seq[Double]) = {
      val n = xs.size.toDouble
      val s = xs.sum; val ss = xs.map(x => x * x).sum
      (n, s / n, (ss - s * s / n) / (n - 1.0))
    }
    val (na, ma, va) = stats(a); val (nb, mb, vb) = stats(b)
    val se2 = va / na + vb / nb
    assert(r.getAs[Long]("n_a") == 5L && r.getAs[Long]("n_b") == 4L)
    assert(r.getAs[Double]("mean_a") == ma && r.getAs[Double]("mean_b") == mb)
    assert(math.abs(r.getAs[Double]("var_a") - va) < 1e-12)
    assert(math.abs(r.getAs[Double]("t") - (ma - mb) / math.sqrt(se2)) < 1e-12)
    assert(math.abs(r.getAs[Double]("t2") -
      (ma - mb) * (ma - mb) / se2) < 1e-12)
    val dofW = se2 * se2 / ((va / na) * (va / na) / (na - 1.0) +
      (vb / nb) * (vb / nb) / (nb - 1.0))
    assert(math.abs(r.getAs[Double]("dof") - dofW) < 1e-12)
    // a 1-row side: variance undefined -> null var/t/dof, counts intact
    val tiny = (Seq(("A", 1.0)) ++ b.map(("B", _))).toDF("grp", "v")
    val r2 = Analytics.welchT(tiny, "grp", "v", "A", "B").collect().head
    assert(r2.getAs[Long]("n_a") == 1L)
    assert(r2.isNullAt(r2.fieldIndex("var_a")) && r2.isNullAt(r2.fieldIndex("t")))
  }

  test("ksTest: golden D vs driver ECDF model, identical-distribution zero") {
    import spark.implicits._
    val a = Seq(1L, 2L, 2L, 3L, 5L)
    val b = Seq(2L, 4L, 4L, 6L)
    val df = (a.map(("A", _)) ++ b.map(("B", _))).toDF("g", "v")
    val r = Analytics.ksTest(df, "g", "v", "A", "B").collect().head
    // driver model
    val pool = (a ++ b).distinct.sorted
    val ds = pool.map(x => (x, math.abs(
      a.count(_ <= x).toDouble / a.size - b.count(_ <= x).toDouble / b.size)))
    val dMax = ds.map(_._2).max
    assert(r.getAs[Long]("n_a") == 5L && r.getAs[Long]("n_b") == 4L)
    assert(math.abs(r.getAs[Double]("d") - dMax) < 1e-12)
    assert(r.getAs[Long]("d_at") == ds.filter(_._2 == dMax).map(_._1).min)
    // identical distributions: D == 0 exactly
    val same = (a.map(("A", _)) ++ a.map(("B", _))).toDF("g", "v")
    assert(Analytics.ksTest(same, "g", "v", "A", "B")
      .collect().head.getAs[Double]("d") == 0.0)
  }

  test("spearman: exact vs driver model with ties, monotone 1, constant NULL") {
    import spark.implicits._
    val xs = Seq(1L, 2L, 2L, 4L, 7L, 7L, 7L, 9L)
    val ys = Seq(3L, 1L, 4L, 4L, 8L, 2L, 9L, 9L)
    val df = xs.zip(ys).toDF("x", "y")
    val r = Analytics.spearman(df, "x", "y").collect().head
    // driver model: average ranks, then Pearson
    def ranks(v: Seq[Long]): Seq[Double] = {
      val sorted = v.sorted
      v.map(x => (sorted.indexOf(x) + 1 + sorted.lastIndexOf(x) + 1) / 2.0)
    }
    val (rx, ry) = (ranks(xs), ranks(ys))
    val n = xs.size.toDouble
    def s(a: Seq[Double]) = a.sum
    def sp(a: Seq[Double], b: Seq[Double]) = a.zip(b).map(t => t._1 * t._2).sum
    val want = (n * sp(rx, ry) - s(rx) * s(ry)) /
      (math.sqrt(n * sp(rx, rx) - s(rx) * s(rx)) *
        math.sqrt(n * sp(ry, ry) - s(ry) * s(ry)))
    assert(r.getAs[Long]("n") == 8L)
    assert(math.abs(r.getAs[Double]("rho") - want) < 1e-12)
    // strictly monotone relation: 1 up to the formula's last-ulp rounding
    // (sqrt(vx)*sqrt(vy) vs the exact product — not guaranteed exact)
    val mono = Seq((1L, 10L), (2L, 20L), (3L, 21L)).toDF("x", "y")
    assert(math.abs(Analytics.spearman(mono, "x", "y")
      .collect().head.getAs[Double]("rho") - 1.0) < 1e-12)
    // constant column: NULL, not NaN
    val const = Seq((1L, 5L), (2L, 5L), (3L, 5L)).toDF("x", "y")
    val rc = Analytics.spearman(const, "x", "y").collect().head
    assert(rc.isNullAt(rc.fieldIndex("rho")))
  }

  test("histogram2d: bin edges, clamping, sparse cells, exact counts") {
    import spark.implicits._
    val df = Seq((0.0, 0.0), (0.5, 0.5), (0.999, 1.5), (1.0, 1.0),
      (-5.0, 9.0), (3.0, -1.0)).toDF("x", "y")
    val got = Analytics.histogram2d(df, "x", "y",
        xLo = 0.0, xHi = 1.0, binsX = 2, yLo = 0.0, yHi = 2.0, binsY = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // (0,0): (0,0); (0.5,0.5): bin (1,0); (0.999,1.5): (1,1);
    // (1.0,1.0): clamps x to 1, y bin 1; (-5,9): clamps to (0,1);
    // (3,-1): clamps to (1,0)
    assert(got == Map((0L, 0L) -> 1L, (1L, 0L) -> 2L, (1L, 1L) -> 2L,
      (0L, 1L) -> 1L))
    partitionSweep { n =>
      Analytics.histogram2d(df.repartition(n), "x", "y", 0.0, 1.0, 2, 0.0, 2.0, 2)
        .orderBy("bx", "by").collect().map(_.toSeq).toSeq
    }
  }

  test("spearman: distinct-bounded form bit-equal to row-window form; " +
      "windows only over aggregated rows") {
    import spark.implicits._
    // heavy ties on both sides + an asymmetric tail — the shapes where
    // average-rank arithmetic differs from dense/min ranks
    val df = Seq((1L, 9L), (1L, 9L), (1L, 7L), (2L, 9L), (2L, 5L),
      (3L, 5L), (3L, 3L), (7L, 1L), (7L, 1L), (9L, 1L)).toDF("x", "y")
    val a = Analytics.spearman(df, "x", "y").collect().head
    val b = Analytics.spearmanRowWindow(df, "x", "y").collect().head
    assert(a.getAs[Long]("n") == b.getAs[Long]("n"))
    // bit-equality: identical integer doubled-ranks → identical decimal
    // sufficient statistics → the identical pinned double chain
    assert(java.lang.Double.doubleToLongBits(a.getAs[Double]("rho")) ==
      java.lang.Double.doubleToLongBits(b.getAs[Double]("rho")))
    partitionSweep { n =>
      Analytics.spearman(df.repartition(n), "x", "y")
        .collect().map(_.toSeq).toSeq
    }
    // the r11 VERDICT contract: no window over ROW-level data. The two
    // marginal cumulatives are prefix folds over the AGGREGATED
    // distinct-value frames (pinned LogicalRDD leaves carrying
    // `__cum_w`, distinct-value-bounded by construction), and every
    // logical Window left must have an Aggregate or such a fold
    // beneath it, so window size is bounded by value cardinality,
    // never by corpus rows
    import org.apache.spark.sql.catalyst.plans.logical
    val lp = Analytics.spearman(df, "x", "y").queryExecution.optimizedPlan
    def fold(p: logical.LogicalPlan) = p.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD
        if r.output.exists(_.name == "__cum_w") => r }
    assert(fold(lp).length == 2, "expected the two marginal prefix folds")
    lp.collect { case w: logical.Window => w }.foreach { w =>
      val bounded =
        w.child.collectFirst { case a: logical.Aggregate => a }.isDefined ||
          fold(w.child).nonEmpty
      assert(bounded,
        s"row-level window found (no Aggregate or checkpointed " +
          s"distinct-value frame beneath):\n$w")
    }
  }

  test("ksTestSketch: uncompressed == exact ksTest bit-for-bit; " +
      "compressed D within sketch error on a shifted fixture") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // group A: values on a 40-point grid; B: the same grid shifted — a
    // real distribution difference with plenty of ties
    val rows = (1 to 400).map(_ => ("A", (rnd.nextInt(40) * 0.5))) ++
      (1 to 300).map(_ => ("B", (rnd.nextInt(40) * 0.5 + 2.0)))
    val df = rnd.shuffle(rows).toDF("g", "v")
    val exact = Analytics.ksTest(df, "g", "v", "A", "B").collect().head
    // k=256 ≥ 40+40 distinct values → no compression → exact centroids
    val skE = Analytics.ksTestSketch(df, "g", "v", "A", "B", k = 256)
      .collect().head
    assert(skE.getAs[Long]("n_a") == exact.getAs[Long]("n_a"))
    assert(skE.getAs[Long]("n_b") == exact.getAs[Long]("n_b"))
    assert(java.lang.Double.doubleToLongBits(skE.getAs[Double]("d")) ==
      java.lang.Double.doubleToLongBits(exact.getAs[Double]("d")))
    assert(skE.getAs[Double]("d_at") == exact.getAs[Double]("d_at"))
    // k=16 compresses 40 distinct values per group: D̂ approximates D
    // (centroid mass moves by at most a few grid steps; bound is loose
    // but pins that compression degrades gracefully, not catastrophically)
    val skC = Analytics.ksTestSketch(df, "g", "v", "A", "B", k = 16)
      .collect().head
    assert(math.abs(skC.getAs[Double]("d") - exact.getAs[Double]("d")) < 0.1,
      s"compressed D ${skC.getAs[Double]("d")} vs exact ${exact.getAs[Double]("d")}")
    // identical distributions → D = 0 at any k
    val same = ((1 to 200).map(_ => ("A", rnd.nextInt(20).toDouble)) ++
      (1 to 200).map(_ => ("B", rnd.nextInt(20).toDouble))).toDF("g", "v")
    assert(Analytics.ksTestSketch(same, "g", "v", "A", "B", k = 64)
      .collect().head.getAs[Double]("d") < 0.15)
  }

  test("ksTestBy: each slice == global ksTest on that slice; the " +
    "shifted slice alone lights up; missing-group slice yields NULL d") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val rows =
      (1 to 300).map(_ => ("s1", "A", rnd.nextInt(30).toDouble)) ++
      (1 to 250).map(_ => ("s1", "B", rnd.nextInt(30).toDouble)) ++     // same dist
      (1 to 300).map(_ => ("s2", "A", rnd.nextInt(30).toDouble)) ++
      (1 to 250).map(_ => ("s2", "B", rnd.nextInt(30).toDouble + 15)) ++ // shifted
      (1 to 50).map(_ => ("s3", "A", rnd.nextInt(30).toDouble))          // B absent
    val df = rnd.shuffle(rows).toDF("k", "g", "v")
    val by = Analytics.ksTestBy(df, Seq("k"), "g", "v", "A", "B")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(by.keySet == Set("s1", "s2", "s3"))
    Seq("s1", "s2").foreach { k =>
      val solo = Analytics.ksTest(df.filter(col("k") === k), "g", "v",
        "A", "B").collect().head
      assert(by(k).getAs[Long]("n_a") == solo.getAs[Long]("n_a"))
      assert(by(k).getAs[Long]("n_b") == solo.getAs[Long]("n_b"))
      assert(by(k).getAs[Double]("d_at") == solo.getAs[Double]("d_at"))
      assert(java.lang.Double.doubleToLongBits(by(k).getAs[Double]("d")) ==
        java.lang.Double.doubleToLongBits(solo.getAs[Double]("d")), s"d at $k")
    }
    assert(by("s2").getAs[Double]("d") > by("s1").getAs[Double]("d") + 0.2,
      "the shifted slice must dominate")
    assert(by("s3").getAs[Long]("n_b") == 0L)
    assert(by("s3").isNullAt(by("s3").fieldIndex("d")))
  }

  test("ksTestSketchBounded: |D̂ − D| ≤ the sketch-derived err_bound " +
    "across compression levels on continuous fixtures (the q257 gate " +
    "invariant); uncompressed bound still holds with D̂ == D") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // fully continuous values — every row a distinct double, so any
    // k below group size forces real compression
    val rows = (1 to 800).map(_ => ("A", rnd.nextDouble() * 10)) ++
      (1 to 600).map(_ => ("B", rnd.nextDouble() * 10 + 1.7))
    val df = rnd.shuffle(rows).toDF("g", "v")
    val exact = Analytics.ksTest(df, "g", "v", "A", "B").collect()
      .head.getAs[Double]("d")
    for (k <- Seq(8, 16, 32, 64, 1024); p <- Seq(1, 5)) {
      val r = Analytics.ksTestSketchBounded(df.repartition(p), "g", "v",
        "A", "B", k = k).collect().head
      val (dsk, eb) = (r.getAs[Double]("d"), r.getAs[Double]("err_bound"))
      assert(math.abs(dsk - exact) <= eb,
        s"k=$k p=$p: |${dsk} - $exact| > bound $eb")
      if (k == 1024) // no compression: exact, and the bound is tiny
        assert(dsk == exact, s"uncompressed mismatch at p=$p")
    }
  }

  test("psi: identical groups → exactly 0; shift raises it; " +
      "empty bins stay in the sum; driver model") {
    import spark.implicits._
    val a = (1 to 100).map(i => ("A", (i % 10).toDouble))
    val b = (1 to 100).map(i => ("B", (i % 10).toDouble))
    val same = (a ++ b).toDF("g", "v")
    // identical counts bin-for-bin → every term is (p−p)·ln(1) = 0
    assert(Analytics.psi(same, "g", "v", "A", "B", 0.0, 10.0, 10)
      .collect().head.getAs[Double]("psi") == 0.0)
    // shifted current → positive PSI matching the driver model (Laplace
    // smoothing keeps the vacated and newly-hit bins in the sum)
    val shifted = (a ++ (1 to 100).map(i => ("B", (i % 10 + 3).toDouble)))
      .toDF("g", "v")
    val r = Analytics.psi(shifted, "g", "v", "A", "B", 0.0, 13.0, 13)
      .collect().head
    val ca = Array.tabulate(13)(bin => a.count(_._2.toInt == bin))
    val cb = Array.tabulate(13)(bin => (1 to 100).count(i => i % 10 + 3 == bin))
    val want = (0 until 13).map { i =>
      val pa = (ca(i) + 1.0) / (100 + 13)
      val pb = (cb(i) + 1.0) / (100 + 13)
      BigDecimal((pa - pb) * math.log(pa / pb))
        .setScale(12, BigDecimal.RoundingMode.HALF_UP)
    }.sum.toDouble
    assert(r.getAs[Long]("n_a") == 100L && r.getAs[Long]("n_b") == 100L)
    assert(math.abs(r.getAs[Double]("psi") - want) < 1e-12,
      s"psi ${r.getAs[Double]("psi")} vs model $want")
    assert(r.getAs[Double]("psi") > 0.25, "a 3-bin shift should alarm")
    partitionSweep { n =>
      Analytics.psi(shifted.repartition(n), "g", "v", "A", "B", 0.0, 13.0, 13)
        .collect().map(_.toSeq).toSeq
    }
  }

  test("mutualInformation: independence → 0, identity → H, " +
      "constant column → NULL nmi") {
    import spark.implicits._
    // x ⟂ y (full factorial, uniform): every term ln(1) = 0
    val indep = (for { x <- 0 until 4; y <- 0 until 3; _ <- 0 until 5 }
      yield (x.toLong, y.toLong)).toDF("x", "y")
    val ri = Analytics.mutualInformation(indep, "x", "y").collect().head
    assert(ri.getAs[Double]("mi") == 0.0)
    assert(math.abs(ri.getAs[Double]("nmi")) < 1e-12)
    // y == x uniform over 4 values: MI = H(X) = ln 4, NMI = 1
    val ident = (for { x <- 0 until 4; _ <- 0 until 10 }
      yield (x.toLong, x.toLong)).toDF("x", "y")
    val rd = Analytics.mutualInformation(ident, "x", "y").collect().head
    assert(math.abs(rd.getAs[Double]("mi") - math.log(4)) < 1e-9)
    assert(math.abs(rd.getAs[Double]("h_x") - math.log(4)) < 1e-9)
    assert(math.abs(rd.getAs[Double]("nmi") - 1.0) < 1e-9)
    // constant y: H(Y) = 0 → nmi NULL, mi 0
    val const = (1 to 20).map(i => (i.toLong % 3, 7L)).toDF("x", "y")
    val rc = Analytics.mutualInformation(const, "x", "y").collect().head
    assert(rc.getAs[Double]("mi") == 0.0)
    assert(rc.isNullAt(rc.fieldIndex("nmi")))
    partitionSweep { n =>
      Analytics.mutualInformation(ident.repartition(n), "x", "y")
        .collect().map(_.toSeq).toSeq
    }
  }

  test("cramersV: perfect association → 1, independence → 0, 1×m → NULL") {
    import spark.implicits._
    val perfect = (for { x <- 0 until 3; _ <- 0 until 7 }
      yield (x.toLong, x.toLong)).toDF("x", "y")
    val rp = Analytics.cramersV(perfect, "x", "y").collect().head
    assert(math.abs(rp.getAs[Double]("v") - 1.0) < 1e-9)
    assert(rp.getAs[Long]("r_x") == 3L && rp.getAs[Long]("r_y") == 3L)
    val indep = (for { x <- 0 until 3; y <- 0 until 4; _ <- 0 until 5 }
      yield (x.toLong, y.toLong)).toDF("x", "y")
    val ri = Analytics.cramersV(indep, "x", "y").collect().head
    assert(math.abs(ri.getAs[Double]("chi2")) < 1e-9)
    assert(math.abs(ri.getAs[Double]("v")) < 1e-9)
    val oneRow = (1 to 12).map(i => (1L, i.toLong % 4)).toDF("x", "y")
    val r1 = Analytics.cramersV(oneRow, "x", "y").collect().head
    assert(r1.isNullAt(r1.fieldIndex("v")))
  }

  test("kendallTau: perfect concordance/discordance, golden tie model, " +
      "all-tied NULL, partition sweep") {
    import spark.implicits._
    val up = (1L to 6L).map(i => (i, i * 10)).toDF("x", "y")
    assert(Analytics.kendallTau(up, "x", "y").collect().head
      .getAs[Double]("tau_b") == 1.0)
    val down = (1L to 6L).map(i => (i, -i)).toDF("x", "y")
    assert(Analytics.kendallTau(down, "x", "y").collect().head
      .getAs[Double]("tau_b") == -1.0)
    // ties on both axes: driver pairwise model
    val xs = Seq((1L, 1L), (1L, 2L), (2L, 2L), (2L, 1L), (3L, 2L),
      (3L, 3L), (3L, 3L))
    val r = Analytics.kendallTau(xs.toDF("x", "y"), "x", "y").collect().head
    val pairsIdx = for {
      i <- xs.indices; j <- xs.indices if i < j
    } yield (xs(i), xs(j))
    val nc = pairsIdx.count { case ((x1, y1), (x2, y2)) =>
      (x1 - x2) * (y1 - y2) > 0 }
    val nd = pairsIdx.count { case ((x1, y1), (x2, y2)) =>
      (x1 - x2) * (y1 - y2) < 0 }
    val n = xs.size.toDouble
    def tie(vs: Seq[Long]) = vs.groupBy(identity).values
      .map(g => g.size.toDouble * (g.size - 1) / 2).sum
    val n0 = n * (n - 1) / 2
    val want = (nc - nd) /
      math.sqrt((n0 - tie(xs.map(_._1))) * (n0 - tie(xs.map(_._2))))
    assert(r.getAs[Double]("nc") == nc.toDouble)
    assert(r.getAs[Double]("nd") == nd.toDouble)
    assert(math.abs(r.getAs[Double]("tau_b") - want) < 1e-12)
    // constant x: every pair tied → denominator 0 → NULL
    val flat = Seq((1L, 1L), (1L, 2L), (1L, 3L)).toDF("x", "y")
    val rf = Analytics.kendallTau(flat, "x", "y").collect().head
    assert(rf.isNullAt(rf.fieldIndex("tau_b")))
    partitionSweep { p =>
      Analytics.kendallTau(xs.toDF("x", "y").repartition(p), "x", "y")
        .collect().map(_.toSeq).toSeq
    }
  }

  test("markovTransitions: golden chain with ts tiebreak; first events " +
      "excluded; rows sum to 1 per prev; partition sweep") {
    import spark.implicits._
    import graft.operators.Sessions
    // u1: A→B→A (ordered by ts); u2: ts tie at 5 broken by id (3 before
    // 4): A→B; u3: singleton, contributes nothing
    val ev = Seq(
      (1L, 1L, 10L, "A"), (2L, 1L, 20L, "B"), (3L, 1L, 30L, "A"),
      (4L, 2L, 5L, "A"), (5L, 2L, 5L, "B"),
      (6L, 3L, 1L, "C")).toDF("event_id", "user_id", "ts_us", "event_type")
    val got = Sessions.markovTransitions(ev, Seq("user_id"), "ts_us",
        "event_type", "event_id")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // transitions: A→B (u1), B→A (u1), A→B (u2) — no C rows
    assert(got == Map(
      ("A", "B") -> (2L, 1.0),
      ("B", "A") -> (1L, 1.0)))
    // per-prev probabilities always sum to 1
    val ev2 = Seq(
      (1L, 1L, 1L, "A"), (2L, 1L, 2L, "B"), (3L, 1L, 3L, "A"),
      (4L, 1L, 4L, "C"), (5L, 1L, 5L, "A"), (6L, 1L, 6L, "B"))
      .toDF("event_id", "user_id", "ts_us", "event_type")
    val byPrev = Sessions.markovTransitions(ev2, Seq("user_id"), "ts_us",
        "event_type", "event_id")
      .collect().groupBy(_.getString(0))
      .map { case (p, rows) => p -> rows.map(_.getDouble(3)).sum }
    assert(byPrev.values.forall(s => math.abs(s - 1.0) < 1e-12), s"$byPrev")
    partitionSweep { p =>
      Sessions.markovTransitions(ev.repartition(p), Seq("user_id"),
          "ts_us", "event_type", "event_id")
        .orderBy("prev", "next").collect().map(_.toSeq).toSeq
    }
  }

  test("dpNoisyCounts: exact counts, deterministic replayable noise, " +
      "epsilon scales the noise, salt decorrelates") {
    import spark.implicits._
    val df = (1 to 100).map(i => (if (i <= 60) "a" else "b", i)).toDF("k", "x")
    def run(eps: Double, salt: String) =
      Analytics.dpNoisyCounts(df, Seq("k"), eps, salt)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val r1 = run(1.0, "s1")
    assert(r1("a")._1 == 60L && r1("b")._1 == 40L)
    // driver model: same md5 uniform, same inverse-CDF chain
    def model(key: String, n: Long, eps: Double, salt: String): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest((salt + key).getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      val u = java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0
      n.toDouble - (1.0 / eps) * math.signum(u - 0.5) *
        math.log(1.0 - 2.0 * math.abs(u - 0.5))
    }
    assert(r1("a")._2 == model("a", 60, 1.0, "s1"))
    assert(r1("b")._2 == model("b", 40, 1.0, "s1"))
    // determinism + epsilon scaling: noise at eps=0.5 is exactly 2× eps=1's
    val r2 = run(0.5, "s1")
    assert(math.abs((r2("a")._2 - 60.0) - 2.0 * (r1("a")._2 - 60.0)) < 1e-12)
    // a different salt draws different noise
    assert(run(1.0, "s2")("a")._2 != r1("a")._2)
    partitionSweep { n =>
      Analytics.dpNoisyCounts(df.repartition(n), Seq("k"), 1.0, "s1")
        .orderBy("k").collect().map(_.toSeq).toSeq
    }
  }

  test("gini: perfect equality 0, extreme concentration → (n-1)/n, " +
      "ties match the sorted-row formula, zero-total NULL") {
    import spark.implicits._
    val equal = (1 to 10).map(_ => 5.0).toDF("v")
    assert(Analytics.gini(equal, "v").collect().head.getAs[Double]("gini")
      == 0.0)
    // one holder owns everything: G = (n−1)/n
    val conc = (0.0 +: Seq.fill(9)(0.0) :+ 100.0).toDF("v")
    val rc = Analytics.gini(conc, "v").collect().head
    assert(math.abs(rc.getAs[Double]("gini") - 10.0 / 11.0) < 1e-12)
    // ties: driver model on the sorted-row formula Σ(2i−n−1)v/(n·Σv)
    val vs = Seq(1.0, 1.0, 2.0, 4.0, 4.0, 8.0)
    val rt = Analytics.gini(vs.toDF("v"), "v").collect().head
    val sorted = vs.sorted
    val n = sorted.size
    val want = sorted.zipWithIndex
      .map { case (v, i) => (2 * (i + 1) - n - 1) * v }.sum /
      (n * sorted.sum)
    assert(math.abs(rt.getAs[Double]("gini") - want) < 1e-12)
    val zeros = Seq(0.0, 0.0).toDF("v")
    val rz = Analytics.gini(zeros, "v").collect().head
    assert(rz.isNullAt(rz.fieldIndex("gini")))
  }

  test("acf: exact sine-free golden on a short series; lag-period peak; " +
      "constant series NULL; gaps shrink n_pairs") {
    import spark.implicits._
    import graft.operators.TimeSeries
    // period-2 alternation: acf(1) < 0, acf(2) > 0, and the exact values
    // follow the driver model with the operator's decimal mean
    val vs = Seq(1.0, 9.0, 1.0, 9.0, 1.0, 9.0, 1.0, 9.0)
    val df = vs.zipWithIndex.map { case (v, t) => (t.toLong, v) }.toDF("t", "v")
    val got = TimeSeries.acf(df, "t", "v", maxLag = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val mean = vs.sum / vs.size // exact at scale 6 (values are integral)
    def model(k: Int): Double = {
      def term(x: Double) = BigDecimal(x)
        .setScale(12, BigDecimal.RoundingMode.HALF_UP)
      val num = (0 until vs.size - k)
        .map(t => term((vs(t) - mean) * (vs(t + k) - mean))).sum.toDouble
      val den = vs.map(v => term((v - mean) * (v - mean))).sum.toDouble
      num / den
    }
    assert(got(1L)._1 == 7L && math.abs(got(1L)._2 - model(1)) < 1e-12)
    assert(got(2L)._1 == 6L && math.abs(got(2L)._2 - model(2)) < 1e-12)
    assert(got(1L)._2 < 0 && got(2L)._2 > 0, s"alternation signs: $got")
    // constant series: zero variance → NULL
    val const = (0 until 5).map(t => (t.toLong, 3.0)).toDF("t", "v")
    val rc = TimeSeries.acf(const, "t", "v", 1).collect().head
    assert(rc.isNullAt(rc.fieldIndex("acf")))
    // a gap at t=2 removes the pairs touching it
    val gap = Seq((0L, 1.0), (1L, 2.0), (3L, 4.0), (4L, 5.0)).toDF("t", "v")
    assert(TimeSeries.acf(gap, "t", "v", 1).collect().head.getLong(1) == 2L)
  }

  test("mannWhitneyU: golden vs driver rank model with ties; " +
      "symmetric fixture → z 0; U identities") {
    import spark.implicits._
    // ties across and within groups
    val df = Seq(("A", 1L), ("A", 2L), ("A", 2L), ("A", 5L),
      ("B", 2L), ("B", 3L), ("B", 5L), ("B", 7L), ("B", 7L)).toDF("g", "v")
    val r = Analytics.mannWhitneyU(df, "g", "v", "A", "B").collect().head
    // driver model: average ranks over the pooled sorted values
    val xs = Seq(("A", 1.0), ("A", 2.0), ("A", 2.0), ("A", 5.0),
      ("B", 2.0), ("B", 3.0), ("B", 5.0), ("B", 7.0), ("B", 7.0))
    val sorted = xs.map(_._2).sorted
    def rank(v: Double) =
      (sorted.indexOf(v) + 1 + sorted.lastIndexOf(v) + 1) / 2.0
    val ra = xs.filter(_._1 == "A").map(t => rank(t._2)).sum
    val na = 4.0; val nb = 5.0
    val uA = ra - na * (na + 1) / 2
    assert(r.getAs[Long]("n_a") == 4L && r.getAs[Long]("n_b") == 5L)
    assert(math.abs(r.getAs[Double]("u_a") - uA) < 1e-12)
    assert(math.abs(r.getAs[Double]("u_b") - (na * nb - uA)) < 1e-12)
    // tie-corrected z matches the model formula
    val tieGroups = xs.map(_._2).groupBy(identity).values.map(_.size.toLong)
    val ties = tieGroups.map(t => t * t * t - t).sum.toDouble
    val nn = na + nb
    val varU = na * nb / 12.0 * ((nn + 1) - ties / (nn * (nn - 1)))
    val zWant = (uA - na * nb / 2.0) / math.sqrt(varU)
    assert(math.abs(r.getAs[Double]("z") - zWant) < 1e-12)
    // identical groups → U_a == U_b and z == 0
    val sym = (1 to 50).flatMap(i =>
      Seq(("A", (i % 7).toLong), ("B", (i % 7).toLong))).toDF("g", "v")
    val rs = Analytics.mannWhitneyU(sym, "g", "v", "A", "B").collect().head
    assert(rs.getAs[Double]("u_a") == rs.getAs[Double]("u_b"))
    assert(math.abs(rs.getAs[Double]("z")) < 1e-12)
    partitionSweep { n =>
      Analytics.mannWhitneyU(df.repartition(n), "g", "v", "A", "B")
        .collect().map(_.toSeq).toSeq
    }
  }

  test("corrMatrix: golden vs driver Pearson model; perfect linear pair " +
    "~1; constant column NULL everywhere incl. diagonal; listwise " +
    "deletion; partition sweep") {
    import spark.implicits._
    val rows = (1 to 200).map { i =>
      val x = (i % 17).toDouble
      (x, 2 * x + 1,                      // y: exact linear in x
        ((i * 7) % 13).toDouble,          // z: unrelated
        3.0,                              // c: constant
        if (i % 50 == 0) None else Some(x)) // w: nullable copy of x
    }
    val df = rows.toDF("x", "y", "z", "c", "w")
    val got = Analytics.corrMatrix(df, Seq("x", "y", "z", "c"), scale = 4)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n"), Option(r.getAs[java.lang.Double]("corr")))).toMap
    assert(got.size == 10)
    // upper triangle in INPUT-LIST order (not lexicographic)
    val order = Seq("x", "y", "z", "c").zipWithIndex.toMap
    assert(got.keys.forall { case (a, b) => order(a) <= order(b) })
    assert(got(("x", "x"))._1 == 200L)
    // driver Pearson over the same decimal-rounded values
    def pearson(a: Seq[Double], b: Seq[Double]): Double = {
      val n = a.length.toDouble
      val (sa, sb) = (a.sum, b.sum)
      val num = n * a.zip(b).map { case (p, q) => p * q }.sum - sa * sb
      val va = n * a.map(p => p * p).sum - sa * sa
      val vb = n * b.map(q => q * q).sum - sb * sb
      num / (math.sqrt(va) * math.sqrt(vb))
    }
    val xs = rows.map(_._1); val ys = rows.map(_._2); val zs = rows.map(_._3)
    assert(math.abs(got(("x", "y"))._2.get - 1.0) < 1e-12)
    assert(math.abs(got(("x", "x"))._2.get - 1.0) < 1e-12)
    assert(math.abs(got(("x", "z"))._2.get - pearson(xs, zs)) < 1e-9)
    assert(math.abs(got(("y", "z"))._2.get - pearson(ys, zs)) < 1e-9)
    // constant column: NULL against everything, including itself
    assert(got.filter(_._1.productIterator.contains("c"))
      .forall(_._2._2.isEmpty))
    // listwise deletion: any NULL in any listed column drops the row
    val lw = Analytics.corrMatrix(df, Seq("x", "w"), scale = 4).collect()
    assert(lw.forall(_.getAs[Long]("n") == 196L))
    partitionSweep { p =>
      Analytics.corrMatrix(df.repartition(p), Seq("x", "y", "z"), scale = 4)
        .collect().map(_.toSeq).toSeq
    }
    // grouped form: each group's matrix equals corrMatrix over that
    // group's rows alone (same single-scan statistics, keyed)
    val grouped = rows.zipWithIndex.map { case ((x, y, z, c, _), i) =>
      (if (i % 2 == 0) "g0" else "g1", x, y, z) }
      .toDF("g", "x", "y", "z")
    val by = Analytics.corrMatrixBy(grouped, Seq("g"), Seq("x", "y", "z"),
        scale = 4).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        (r.getAs[Long]("n"), Option(r.getAs[java.lang.Double]("corr")))).toMap
    Seq("g0", "g1").foreach { g =>
      val solo = Analytics.corrMatrix(grouped.filter(col("g") === g),
          Seq("x", "y", "z"), scale = 4).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getAs[Long]("n"), Option(r.getAs[java.lang.Double]("corr")))).toMap
      solo.foreach { case ((a, b), v) =>
        assert(by((g, a, b)) == v, s"group $g pair ($a,$b)") }
    }
  }

  test("theilsU: deterministic Y|X → U(Y|X)=1 while U(X|Y)<1; " +
    "independence → both ~0; constant side NULL") {
    import spark.implicits._
    // y = f(x) deterministically (knowing x removes ALL of y's
    // uncertainty) but x is NOT a function of y (two x's share a y)
    val det = Seq(("a", 1L), ("b", 1L), ("c", 2L), ("d", 2L), ("a", 1L),
      ("b", 1L), ("c", 2L), ("d", 2L)).toDF("x", "y")
    val r = Analytics.theilsU(det, "x", "y").collect().head
    assert(math.abs(r.getAs[Double]("u_y_given_x") - 1.0) < 1e-12)
    assert(r.getAs[Double]("u_x_given_y") < 0.6)
    // independent uniform grid: I ≈ 0 exactly (balanced counts)
    val ind = (for { x <- Seq("p", "q"); y <- Seq(1L, 2L); _ <- 1 to 5 }
      yield (x, y)).toDF("x", "y")
    val ri = Analytics.theilsU(ind, "x", "y").collect().head
    assert(math.abs(ri.getAs[Double]("u_x_given_y")) < 1e-12)
    assert(math.abs(ri.getAs[Double]("u_y_given_x")) < 1e-12)
    // constant x: H(X)=0 → U(X|Y) NULL
    val const = Seq(("k", 1L), ("k", 2L)).toDF("x", "y")
    val rc = Analytics.theilsU(const, "x", "y").collect().head
    assert(rc.isNullAt(rc.fieldIndex("u_x_given_y")))
  }

  test("partialCorr: confounder-driven correlation vanishes when z is " +
    "controlled; exact vs driver model; degenerate NULL") {
    import spark.implicits._
    // x and y both driven by z (plus independent wiggle): r_xy is large,
    // r_xy·z collapses toward the wiggle-only association
    val rnd = new scala.util.Random(3)
    val rows = (1 to 400).map { i =>
      val z = (i % 20).toDouble
      // independent wiggles on a binary-exact 0.25 grid, so the
      // decimal(18,4) cast is lossless and the driver model matches
      val ex = (rnd.nextInt(17) - 8) * 0.25
      val ey = (rnd.nextInt(17) - 8) * 0.25
      (z + ex, 2 * z + ey, z)
    }
    val df = rows.toDF("x", "y", "z")
    val got = Analytics.partialCorr(df, "x", "y", "z").collect().head
    def pearson(a: Seq[Double], b: Seq[Double]): Double = {
      val n = a.length.toDouble
      val (sa, sb) = (a.sum, b.sum)
      ((n * a.zip(b).map { case (p, q) => p * q }.sum - sa * sb) /
        (math.sqrt(n * a.map(p => p * p).sum - sa * sa) *
          math.sqrt(n * b.map(q => q * q).sum - sb * sb)))
    }
    val (xs, ys, zs) = (rows.map(_._1), rows.map(_._2), rows.map(_._3))
    val (rxy, rxz, ryz) = (pearson(xs, ys), pearson(xs, zs), pearson(ys, zs))
    val want = (rxy - rxz * ryz) /
      math.sqrt((1 - rxz * rxz) * (1 - ryz * ryz))
    assert(math.abs(got.getAs[Double]("r_xy") - rxy) < 1e-9)
    assert(math.abs(got.getAs[Double]("pcorr") - want) < 1e-9)
    assert(got.getAs[Double]("r_xy") > 0.9, "confounded correlation high")
    assert(math.abs(got.getAs[Double]("pcorr")) < 0.3,
      s"controlled correlation should collapse: ${got.getAs[Double]("pcorr")}")
    // x ≡ z: |r_xz| = 1 → denominator 0 → NULL, not Inf
    val degen = rows.map { case (_, y, z) => (z, y, z) }.toDF("x", "y", "z")
    val d = Analytics.partialCorr(degen, "x", "y", "z").collect().head
    assert(d.isNullAt(d.fieldIndex("pcorr")))
  }

  test("prefixBefore: distributed strictly-before prefix == the global " +
    "window it replaces; NULL sorts first; weighted; partition sweep") {
    import spark.implicits._
    val dv = Seq(Option(5.0), Option(1.0), None, Option(3.0), Option(9.0),
      Option(2.0)).toDF("v").withColumn("w", coalesce(col("v") * 10, lit(100.0))
        .cast("long"))
    // unit weight: __cum_w = dense-rank − 1, NULL FIRST (asc window order)
    val got = Analytics.prefixBefore(dv, Nil, "v", Seq("w" -> lit(1L)))._2
      .collect().map(r => (Option(r.get(0)), r.getAs[Long]("__cum_w")))
      .sortBy(_._2).toSeq
    assert(got == Seq((None, 0L), (Some(1.0), 1L), (Some(2.0), 2L),
      (Some(3.0), 3L), (Some(5.0), 4L), (Some(9.0), 5L)))
    // weighted: cum of strictly-preceding w (null w=100 first)
    val gw = Analytics.prefixBefore(dv, Nil, "v", Seq("w" -> col("w")))._2
      .collect().map(r => (Option(r.get(0)), r.getAs[Long]("__cum_w"))).toMap
    assert(gw(None) == 0L && gw(Some(1.0)) == 100L && gw(Some(2.0)) == 110L
      && gw(Some(3.0)) == 130L && gw(Some(5.0)) == 160L
      && gw(Some(9.0)) == 210L)
    partitionSweep { p =>
      Analytics.prefixBefore(dv.repartition(p), Nil, "v",
          Seq("w" -> col("w")))._2
        .collect().map(r => (Option(r.get(0)).map(_.toString).getOrElse(""),
          r.getAs[Long]("__cum_w"))).sortBy(_._1).toSeq
    }
  }

  test("giniBy / spearmanBy: per-group == the global operator run per " +
    "slice; NULL key slice; degenerate group NULL; partition sweep") {
    import spark.implicits._
    val rows = Seq(
      ("a", 1.0, 10.0), ("a", 1.0, 20.0), ("a", 3.0, 30.0), ("a", 9.0, 90.0),
      ("b", 5.0, 50.0), ("b", 4.0, 45.0), ("b", 2.0, 30.0), ("b", 2.0, 20.0),
      ("c", 7.0, 7.0), ("c", 7.0, 7.0)) // constant slice → NULL rho
    val df = rows.toDF("k", "v", "y")
    val gb = Analytics.giniBy(df, Seq("k"), "v")
      .collect().map(r => r.getString(0) -> (r.getLong(1), Option(r.get(2)))).toMap
    val sb = Analytics.spearmanBy(df, Seq("k"), "v", "y")
      .collect().map(r => r.getString(0) -> (r.getLong(1), Option(r.get(2)))).toMap
    for (g <- Seq("a", "b", "c")) {
      val slice = rows.filter(_._1 == g).map(t => (t._2, t._3)).toDF("v", "y")
      val gw = Analytics.gini(slice, "v").collect().head
      assert(gb(g) == ((gw.getLong(0), Option(gw.get(1)))), s"giniBy $g")
      val sw = Analytics.spearman(slice, "v", "y").collect().head
      assert(sb(g) == ((sw.getLong(0), Option(sw.get(1)))), s"spearmanBy $g")
    }
    assert(sb("c")._2.isEmpty, "constant slice must emit NULL rho")
    // "a" is monotone except the v-tie (1,1) against distinct y: the
    // average-rank model gives rho just under 1
    assert(sb("a")._2.exists(v => v.asInstanceOf[Double] > 0.9),
      s"near-monotone slice → rho near 1: ${sb("a")}")
    // NULL key: its rows are their own slice (null-safe joins/windows)
    val dfn = (rows.map { case (k, v, y) => (Option(k), v, y) } :+
      ((Option.empty[String], 2.0, 4.0)) :+ ((Option.empty[String], 5.0, 9.0)))
      .toDF("k", "v", "y")
    val gn = Analytics.spearmanBy(dfn, Seq("k"), "v", "y")
      .collect().map(r => Option(r.get(0)) -> r.getLong(1)).toMap
    assert(gn(None) == 2L, s"NULL slice present: $gn")
    partitionSweep { p =>
      Analytics.giniBy(df.repartition(p), Seq("k"), "v")
        .collect().map(_.toSeq).toSeq.sortBy(_.head.toString) ++
        Analytics.spearmanBy(df.repartition(p), Seq("k"), "v", "y")
          .collect().map(_.toSeq).toSeq.sortBy(_.head.toString)
    }
  }

  test("cramersVBy / theilsUBy: per-group == the global operator run " +
    "per slice; 1xm slice NULL v; partition sweep") {
    import spark.implicits._
    val rows = Seq(
      ("a", "x1", "y1"), ("a", "x1", "y2"), ("a", "x2", "y1"),
      ("a", "x2", "y2"), ("a", "x2", "y2"), ("b", "x1", "y1"),
      ("b", "x2", "y2"), ("b", "x2", "y1"), ("c", "x1", "y1"),
      ("c", "x1", "y2")) // c: 1×2 table → NULL v
    val df = rows.toDF("k", "x", "y")
    val cb = Analytics.cramersVBy(df, Seq("k"), "x", "y")
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    val tb = Analytics.theilsUBy(df, Seq("k"), "x", "y")
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    for (g <- Seq("a", "b", "c")) {
      val slice = rows.filter(_._1 == g).map(t => (t._2, t._3)).toDF("x", "y")
      val cw = Analytics.cramersV(slice, "x", "y").collect().head
      assert(cb(g) == cw.toSeq, s"cramersVBy $g: ${cb(g)} vs $cw")
      val tw = Analytics.theilsU(slice, "x", "y").collect().head
      assert(tb(g) == tw.toSeq, s"theilsUBy $g: ${tb(g)} vs $tw")
    }
    assert(cb("c").last == null, "1xm slice must emit NULL v")
    partitionSweep { p =>
      Analytics.cramersVBy(df.repartition(p), Seq("k"), "x", "y")
        .collect().map(_.toSeq).toSeq.sortBy(_.head.toString) ++
        Analytics.theilsUBy(df.repartition(p), Seq("k"), "x", "y")
          .collect().map(_.toSeq).toSeq.sortBy(_.head.toString)
    }
  }

  test("aucRocBy / psiBy: per-group == the global operator run per " +
    "slice; single-class slice NULL auc; partition sweep") {
    import spark.implicits._
    val rows = Seq( // (slice, score, labelFlag, psi-group, value)
      ("a", 1.0, false, "ref", 10.0), ("a", 2.0, false, "cur", 15.0),
      ("a", 3.0, true, "ref", 20.0), ("a", 4.0, true, "cur", 90.0),
      ("a", 2.0, true, "ref", 35.0), ("b", 5.0, true, "cur", 50.0),
      ("b", 6.0, true, "ref", 55.0), ("b", 1.0, false, "cur", 70.0),
      ("b", 2.0, false, "ref", 80.0), ("c", 9.0, true, "ref", 5.0),
      ("c", 8.0, true, "cur", 95.0)) // c: single-class → NULL auc
    val df = rows.toDF("k", "score", "lab", "grp", "v")
    val ab = graft.functions.ML.aucRocBy(df, Seq("k"), "score", col("lab"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), Option(r.get(3)))).toMap
    val pb = Analytics.psiBy(df, Seq("k"), "grp", "v", "ref", "cur",
        lo = 0.0, hi = 100.0, bins = 5)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val mb = Analytics.mannWhitneyUBy(df, Seq("k"), "grp", "v", "ref", "cur")
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    for (g <- Seq("a", "b", "c")) {
      val slice = rows.filter(_._1 == g)
        .map(t => (t._2, t._3, t._4, t._5)).toDF("score", "lab", "grp", "v")
      val aw = graft.functions.ML.aucRoc(slice, "score", col("lab"))
        .collect().head
      assert(ab(g) == ((aw.getLong(0), aw.getLong(1), Option(aw.get(2)))),
        s"aucRocBy $g: ${ab(g)} vs $aw")
      val pw = Analytics.psi(slice, "grp", "v", "ref", "cur",
        lo = 0.0, hi = 100.0, bins = 5).collect().head
      assert(pb(g) == ((pw.getLong(0), pw.getLong(1), pw.getDouble(2))),
        s"psiBy $g: ${pb(g)} vs $pw")
      val mw = Analytics.mannWhitneyU(slice, "grp", "v", "ref", "cur")
        .collect().head
      assert(mb(g) == mw.toSeq, s"mannWhitneyUBy $g: ${mb(g)} vs $mw")
    }
    assert(ab("c")._3.isEmpty, "single-class slice must emit NULL auc")
    partitionSweep { p =>
      graft.functions.ML.aucRocBy(df.repartition(p), Seq("k"), "score",
          col("lab")).collect().map(_.toSeq).toSeq.sortBy(_.head.toString) ++
        Analytics.psiBy(df.repartition(p), Seq("k"), "grp", "v", "ref",
          "cur", 0.0, 100.0, 5)
          .collect().map(_.toSeq).toSeq.sortBy(_.head.toString)
    }
  }

  test("avgPrecision: hand-computed step AP with tied scores; " +
    "avgPrecisionBy == the global operator per slice; zero-positive " +
    "slice NULL ap; partition sweep") {
    import spark.implicits._
    // Global fixture by descending score: s=4 (1 pos / 1), s=3
    // (1 pos / 2), s=2 (0 pos / 1), s=1 (1 pos / 2); np=3, nt=6.
    //   AP = (1/3)(1/1) + (1/3)(2/3) + 0 + (1/3)(3/6) = 13/18.
    val g = Seq((4L, true), (3L, true), (3L, false), (2L, false),
      (1L, true), (1L, false)).toDF("score", "lab")
    val r = graft.functions.ML.avgPrecision(g, "score", col("lab"))
      .collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 3L)
    assert(math.abs(r.getDouble(2) - 13.0 / 18.0) < 1e-12,
      s"AP ${r.getDouble(2)} != 13/18")
    val rows = Seq( // (slice, score, lab); c has ZERO positives
      ("a", 4L, true), ("a", 3L, true), ("a", 3L, false), ("a", 2L, false),
      ("a", 1L, true), ("a", 1L, false), ("b", 5L, true), ("b", 2L, false),
      ("b", 2L, true), ("c", 7L, false), ("c", 6L, false))
    val df = rows.toDF("k", "score", "lab")
    val ab = graft.functions.ML.avgPrecisionBy(df, Seq("k"), "score",
        col("lab"))
      .collect().map(x => x.getString(0) -> x.toSeq.drop(1)).toMap
    for (grp <- Seq("a", "b", "c")) {
      val slice = rows.filter(_._1 == grp).map(t => (t._2, t._3))
        .toDF("score", "lab")
      val w = graft.functions.ML.avgPrecision(slice, "score", col("lab"))
        .collect().head
      assert(ab(grp) == w.toSeq, s"avgPrecisionBy $grp: ${ab(grp)} vs $w")
    }
    assert(ab("c").last == null, "zero-positive slice must emit NULL ap")
    partitionSweep { p =>
      graft.functions.ML.avgPrecisionBy(df.repartition(p), Seq("k"),
          "score", col("lab"))
        .collect().map(_.toSeq).toSeq.sortBy(_.head.toString)
    }
  }

  test("wasserstein1: hand-computed integral of |Fa-Fb|; " +
    "wasserstein1By == the global operator per slice; single-value " +
    "slice 0; missing-group slice NULL; partition sweep") {
    import spark.implicits._
    // a: {0, 4}, b: {2, 4} — |Fa-Fb| is 0.5 on [0,2), 0 on [2,4) →
    // W1 = 0.5·2 = 1.0
    val g = Seq(("a", 0L), ("a", 4L), ("b", 2L), ("b", 4L)).toDF("grp", "v")
    val shared = Analytics.wasserstein1(g, "grp", "v", "a", "b")
    val r = shared.collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12, s"W1 ${r.getDouble(2)}")
    // share=false rescans the prefix instead of checkpointing the cum
    // frame — must be bit-equal, and the checkpoint must actually
    // collapse the duplicated prefix pipeline. Count the outer plan's
    // scans of the PINNED source (a leaf whose RDD lineage still
    // reaches the range shuffle): the checkpoint's leaf reads its
    // stored blocks (0 such scans), while the rescan reads the pinned
    // prefix once per consumer branch.
    val rescan = Analytics.wasserstein1(g, "grp", "v", "a", "b",
      share = false)
    assert(rescan.collect().head.toSeq == r.toSeq)
    def readsShuffle(rdd: org.apache.spark.rdd.RDD[_]): Boolean =
      rdd.dependencies.exists {
        case _: org.apache.spark.ShuffleDependency[_, _, _] => true
        case d => readsShuffle(d.rdd)
      }
    def nPinned(d: org.apache.spark.sql.DataFrame): Int =
      Diagnostics.planNodes(d.queryExecution.executedPlan).count {
        case s: org.apache.spark.sql.execution.RDDScanExec =>
          readsShuffle(s.rdd)
        case _ => false
      }
    assert(nPinned(shared) < nPinned(rescan),
      s"checkpoint must collapse the duplicated prefix pipeline: " +
        s"${nPinned(shared)} vs ${nPinned(rescan)}")
    val rows = Seq( // (slice, grp, v)
      ("s1", "a", 0L), ("s1", "a", 4L), ("s1", "b", 2L), ("s1", "b", 4L),
      ("s2", "a", 1L), ("s2", "a", 3L), ("s2", "b", 5L), // W1 = 3.0
      ("s3", "a", 1L), ("s3", "a", 2L), // missing group b → NULL
      ("s4", "a", 7L), ("s4", "b", 7L)) // one distinct value → 0
    val df = rows.toDF("k", "grp", "v")
    val wb = Analytics.wasserstein1By(df, Seq("k"), "grp", "v", "a", "b")
      .collect().map(x => x.getString(0) -> x.toSeq.drop(1)).toMap
    for (sl <- Seq("s1", "s2", "s3", "s4")) {
      val slice = rows.filter(_._1 == sl).map(t => (t._2, t._3))
        .toDF("grp", "v")
      val w = Analytics.wasserstein1(slice, "grp", "v", "a", "b")
        .collect().head
      assert(wb(sl) == w.toSeq, s"wasserstein1By $sl: ${wb(sl)} vs $w")
    }
    // keyed form: share=false bit-equal to the default
    val wbRescan = Analytics.wasserstein1By(df, Seq("k"), "grp", "v",
        "a", "b", share = false)
      .collect().map(x => x.getString(0) -> x.toSeq.drop(1)).toMap
    assert(wbRescan == wb, "wasserstein1By share=false must be bit-equal")
    assert(wb("s2") == Seq(2L, 1L, 3.0))
    assert(wb("s3").last == null, "missing-group slice must emit NULL w1")
    assert(wb("s4") == Seq(1L, 1L, 0.0), "single-value slice must emit 0")
    partitionSweep { p =>
      Analytics.wasserstein1By(df.repartition(p), Seq("k"), "grp", "v",
          "a", "b")
        .collect().map(_.toSeq).toSeq.sortBy(_.head.toString)
    }
  }

  test("welchTBy: hand-computed t and Welch-Satterthwaite dof; " +
    "== the global operator per slice; n<2 / missing-group / " +
    "zero-variance slices NULL; partition sweep") {
    import spark.implicits._
    // s1: a = {1,2,3,4}, b = {2,4,6} (exact at scale 2): va = 5/3,
    // vb = 4, se2 = 21/12, t = -1.5/sqrt(1.75),
    // dof = 3.0625/(25/432 + 8/9) = 1323/409
    val rows = Seq( // (slice, grp, v)
      ("s1", "a", 1.0), ("s1", "a", 2.0), ("s1", "a", 3.0), ("s1", "a", 4.0),
      ("s1", "b", 2.0), ("s1", "b", 4.0), ("s1", "b", 6.0),
      ("s2", "a", 5.0), ("s2", "a", 7.0), // missing group b
      ("s3", "a", 5.0), ("s3", "b", 1.0), ("s3", "b", 2.0), // n_a = 1
      ("s4", "a", 3.0), ("s4", "a", 3.0), ("s4", "b", 3.0), ("s4", "b", 3.0))
    val df = rows.toDF("k", "grp", "v")
    val wb = Analytics.welchTBy(df, Seq("k"), "grp", "v", "a", "b")
      .collect().map(x => x.getString(0) -> x).toMap
    val h = wb("s1")
    assert(h.getAs[Long]("n_a") == 4L && h.getAs[Long]("n_b") == 3L)
    assert(math.abs(h.getAs[Double]("mean_a") - 2.5) < 1e-12)
    assert(math.abs(h.getAs[Double]("var_a") - 5.0 / 3.0) < 1e-12)
    assert(math.abs(h.getAs[Double]("var_b") - 4.0) < 1e-12)
    assert(math.abs(h.getAs[Double]("t") - (-1.5 / math.sqrt(1.75))) < 1e-9,
      s"t ${h.getAs[Double]("t")}")
    assert(math.abs(h.getAs[Double]("dof") - 1323.0 / 409.0) < 1e-9,
      s"dof ${h.getAs[Double]("dof")}")
    for (sl <- Seq("s1", "s2", "s3", "s4")) {
      val slice = rows.filter(_._1 == sl).map(t => (t._2, t._3))
        .toDF("grp", "v")
      val w = Analytics.welchT(slice, "grp", "v", "a", "b").collect().head
      assert(wb(sl).toSeq.drop(1) == w.toSeq, s"welchTBy $sl vs $w")
    }
    assert(wb("s2").isNullAt(wb("s2").fieldIndex("t")),
      "missing-group slice must emit NULL t")
    assert(wb("s2").isNullAt(wb("s2").fieldIndex("mean_b")),
      "empty side must emit NULL mean, not an ANSI error")
    assert(wb("s3").isNullAt(wb("s3").fieldIndex("t")),
      "n<2 slice must emit NULL t")
    assert(wb("s4").isNullAt(wb("s4").fieldIndex("t")),
      "zero-variance slice must emit NULL t, not an ANSI error")
    assert(wb("s4").getAs[Double]("mean_a") == 3.0 &&
      wb("s4").getAs[Double]("var_a") == 0.0)
    partitionSweep { p =>
      Analytics.welchTBy(df.repartition(p), Seq("k"), "grp", "v", "a", "b")
        .collect().map(_.toSeq).toSeq.sortBy(_.head.toString)
    }
  }

  test("calibration: hand-computed Brier and ECE with edge-bin clamp; " +
    "calibrationBy == the global operator per slice; partition sweep") {
    import spark.implicits._
    // bins=2: (0.2,F)(0.4,T) -> bin0 acc .5 conf .3; (0.9,T)(0.6,F)
    // (1.0,T) -> bin1 (p=1.0 clamps in) acc 2/3 conf 5/6.
    // Brier = 0.77/5 = 0.154; ECE = 0.4*0.2 + 0.6*(1/6) = 0.18.
    val g = Seq((0.2, false), (0.4, true), (0.9, true), (0.6, false),
      (1.0, true)).toDF("p", "lab")
    val r = graft.functions.ML.calibration(g, "p", col("lab"), bins = 2)
      .collect().head
    assert(r.getLong(0) == 5L)
    assert(math.abs(r.getDouble(1) - 0.154) < 1e-9, s"brier ${r.getDouble(1)}")
    assert(math.abs(r.getDouble(2) - 0.18) < 1e-9, s"ece ${r.getDouble(2)}")
    val rows = Seq( // (slice, p, lab)
      ("s1", 0.2, false), ("s1", 0.4, true), ("s1", 0.9, true),
      ("s1", 0.6, false), ("s1", 1.0, true),
      ("s2", 0.7, true)) // one row: brier 0.09, ece 0.3
    val df = rows.toDF("k", "p", "lab")
    val cb = graft.functions.ML.calibrationBy(df, Seq("k"), "p",
        col("lab"), bins = 2)
      .collect().map(x => x.getString(0) -> x.toSeq.drop(1)).toMap
    for (sl <- Seq("s1", "s2")) {
      val slice = rows.filter(_._1 == sl).map(t => (t._2, t._3))
        .toDF("p", "lab")
      val w = graft.functions.ML.calibration(slice, "p", col("lab"),
        bins = 2).collect().head
      assert(cb(sl) == w.toSeq, s"calibrationBy $sl: ${cb(sl)} vs $w")
    }
    assert(math.abs(cb("s2")(1).asInstanceOf[Double] - 0.09) < 1e-9)
    assert(math.abs(cb("s2")(2).asInstanceOf[Double] - 0.3) < 1e-9)
    partitionSweep { p =>
      graft.functions.ML.calibrationBy(df.repartition(p), Seq("k"), "p",
          col("lab"), bins = 2)
        .collect().map(_.toSeq).toSeq.sortBy(_.head.toString)
    }
  }

  test("jsDivergence: driver model over smoothed bins; symmetric; 0 on " +
    "identical data; bounded by ln 2; jsDivergenceBy == global per " +
    "slice; partition sweep") {
    import spark.implicits._
    val rows = Seq(("a", 10.0), ("a", 10.0), ("a", 30.0), ("b", 30.0))
    val g = rows.toDF("grp", "v")
    val r = Analytics.jsDivergence(g, "grp", "v", "a", "b",
      lo = 0.0, hi = 40.0, bins = 4).collect().head
    // driver model: ca = [0,2,0,1], cb = [0,0,0,1], Laplace-smoothed
    val ca = Seq(0, 2, 0, 1); val cb = Seq(0, 0, 0, 1)
    val exp = ca.zip(cb).map { case (x, y) =>
      val pa = (x + 1).toDouble / 7.0; val pb = (y + 1).toDouble / 5.0
      val m = (pa + pb) / 2
      (pa * math.log(pa / m) + pb * math.log(pb / m)) * 0.5
    }.sum
    assert(r.getLong(0) == 3L && r.getLong(1) == 1L)
    assert(math.abs(r.getDouble(2) - exp) < 1e-9, s"jsd ${r.getDouble(2)}")
    assert(r.getDouble(2) > 0 && r.getDouble(2) <= math.log(2.0))
    // symmetric in the two groups
    val rSym = Analytics.jsDivergence(g, "grp", "v", "b", "a",
      lo = 0.0, hi = 40.0, bins = 4).collect().head
    assert(math.abs(rSym.getDouble(2) - r.getDouble(2)) < 1e-15)
    // identical per-bin counts -> exactly 0 (every ln(1))
    val same = Seq(("a", 5.0), ("b", 5.0), ("a", 25.0), ("b", 25.0))
      .toDF("grp", "v")
    assert(Analytics.jsDivergence(same, "grp", "v", "a", "b",
      0.0, 40.0, 4).collect().head.getDouble(2) == 0.0)
    val sliced = rows.map { case (grp, v) => ("s1", grp, v) } ++
      Seq(("s2", "a", 5.0), ("s2", "b", 35.0))
    val df = sliced.toDF("k", "grp", "v")
    val jb = Analytics.jsDivergenceBy(df, Seq("k"), "grp", "v", "a", "b",
        0.0, 40.0, 4)
      .collect().map(x => x.getString(0) -> x.toSeq.drop(1)).toMap
    for (sl <- Seq("s1", "s2")) {
      val slice = sliced.filter(_._1 == sl).map(t => (t._2, t._3))
        .toDF("grp", "v")
      val w = Analytics.jsDivergence(slice, "grp", "v", "a", "b",
        0.0, 40.0, 4).collect().head
      assert(jb(sl) == w.toSeq, s"jsDivergenceBy $sl: ${jb(sl)} vs $w")
    }
    partitionSweep { p =>
      Analytics.jsDivergenceBy(df.repartition(p), Seq("k"), "grp", "v",
          "a", "b", 0.0, 40.0, 4)
        .collect().map(_.toSeq).toSeq.sortBy(_.head.toString)
    }
  }

  test("cramerVonMises + cliffsDelta: hand-computed statistics; By == " +
    "global per slice; degenerate slices; partition sweep") {
    import spark.implicits._
    // a = {0,4}, b = {2,4}: only v=0 has Fa!=Fb (1/2 vs 0), weight 1
    // -> T = (4/16)·(1·0.25) = 0.0625
    val g = Seq(("a", 0L), ("a", 4L), ("b", 2L), ("b", 4L)).toDF("grp", "v")
    val r = Analytics.cramerVonMises(g, "grp", "v", "a", "b").collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)
    assert(math.abs(r.getDouble(2) - 0.0625) < 1e-12, s"cvm ${r.getDouble(2)}")
    // identical one-point distributions -> exactly 0
    val same = Seq(("a", 7L), ("b", 7L)).toDF("grp", "v")
    assert(Analytics.cramerVonMises(same, "grp", "v", "a", "b")
      .collect().head.getDouble(2) == 0.0)
    // cliff's delta: a = {1,2}, b = {2,3}: (0 gt - 3 lt)/4 = -0.75;
    // total dominance a = {5,6} over b = {1,2} -> +1
    val cd = Seq(("a", 1L), ("a", 2L), ("b", 2L), ("b", 3L)).toDF("grp", "v")
    val rc = Analytics.cliffsDelta(cd, "grp", "v", "a", "b").collect().head
    assert(math.abs(rc.getDouble(2) - (-0.75)) < 1e-12, s"delta ${rc.getDouble(2)}")
    val dom = Seq(("a", 5L), ("a", 6L), ("b", 1L), ("b", 2L)).toDF("grp", "v")
    assert(Analytics.cliffsDelta(dom, "grp", "v", "a", "b")
      .collect().head.getDouble(2) == 1.0)
    val rows = Seq( // (slice, grp, v)
      ("s1", "a", 0L), ("s1", "a", 4L), ("s1", "b", 2L), ("s1", "b", 4L),
      ("s2", "a", 1L), ("s2", "a", 2L), ("s2", "b", 2L), ("s2", "b", 3L),
      ("s3", "a", 1L), ("s3", "a", 2L)) // missing group b -> NULLs
    val df = rows.toDF("k", "grp", "v")
    val vb = Analytics.cramerVonMisesBy(df, Seq("k"), "grp", "v", "a", "b")
      .collect().map(x => x.getString(0) -> x.toSeq.drop(1)).toMap
    val db = Analytics.cliffsDeltaBy(df, Seq("k"), "grp", "v", "a", "b")
      .collect().map(x => x.getString(0) -> x.toSeq.drop(1)).toMap
    for (sl <- Seq("s1", "s2", "s3")) {
      val slice = rows.filter(_._1 == sl).map(t => (t._2, t._3))
        .toDF("grp", "v")
      val vw = Analytics.cramerVonMises(slice, "grp", "v", "a", "b")
        .collect().head
      assert(vb(sl) == vw.toSeq, s"cramerVonMisesBy $sl: ${vb(sl)} vs $vw")
      val dw = Analytics.cliffsDelta(slice, "grp", "v", "a", "b")
        .collect().head
      assert(db(sl) == dw.toSeq, s"cliffsDeltaBy $sl: ${db(sl)} vs $dw")
    }
    assert(vb("s3").last == null && db("s3").last == null,
      "missing-group slice must emit NULLs")
    partitionSweep { p =>
      Analytics.cramerVonMisesBy(df.repartition(p), Seq("k"), "grp", "v",
          "a", "b")
        .collect().map(_.toSeq).toSeq.sortBy(_.head.toString) ++
        Analytics.cliffsDeltaBy(df.repartition(p), Seq("k"), "grp", "v",
          "a", "b")
          .collect().map(_.toSeq).toSeq.sortBy(_.head.toString)
    }
  }

  test("quantileShift: hand-computed per-quantile shifts; missing side " +
    "surfaces as NULLs, not dropped rows; partition sweep") {
    import spark.implicits._
    val df = Seq(("a", 0L), ("a", 1L), ("a", 2L), ("a", 3L), ("a", 4L),
      ("b", 10L), ("b", 20L)).toDF("grp", "v")
    val r = graft.operators.Aggregations.quantileShift(df, "grp", "v",
        "a", "b", Seq(0.0, 0.5))
      .collect().map(x => x.getDouble(0) -> x).toMap
    assert(r(0.0).getDouble(3) == 0.0 && r(0.0).getDouble(4) == 10.0 &&
      r(0.0).getDouble(5) == 10.0)
    assert(r(0.5).getDouble(3) == 2.0 && r(0.5).getDouble(4) == 15.0 &&
      r(0.5).getDouble(5) == 13.0, s"p50 ${r(0.5)}")
    assert(r(0.5).getLong(1) == 5L && r(0.5).getLong(2) == 2L)
    // a side with no rows: rows survive with NULL q_b/shift
    val miss = graft.operators.Aggregations.quantileShift(df, "grp", "v",
      "a", "zz", Seq(0.5)).collect().head
    assert(miss.getDouble(3) == 2.0 && miss.isNullAt(4) && miss.isNullAt(5))
    partitionSweep { p =>
      graft.operators.Aggregations.quantileShift(df.repartition(p), "grp",
          "v", "a", "b", Seq(0.0, 0.5, 1.0))
        .collect().map(_.toSeq).toSeq.sortBy(_.head.toString.toDouble)
    }
  }

  test("oneWayF: hand-computed F; degenerate NULLs; brownForsythe == " +
    "oneWayF over |v - group median|; partition sweep") {
    import spark.implicits._
    // a = {1,2,3}, b = {4,5,6}: SSB = 13.5, SSW = 4, F = 13.5/1 over
    // 4/4 = 13.5
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 4.0), ("b", 5.0), ("b", 6.0)).toDF("g", "v")
    val r = Analytics.oneWayF(df, "g", "v").collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 6L)
    assert(math.abs(r.getAs[Double]("ss_between") - 13.5) < 1e-9)
    assert(math.abs(r.getAs[Double]("ss_within") - 4.0) < 1e-9)
    assert(r.getAs[Long]("df1") == 1L && r.getAs[Long]("df2") == 4L)
    assert(math.abs(r.getAs[Double]("f") - 13.5) < 1e-9, s"f $r")
    // one group -> NULL f; all-constant -> zero SSW -> NULL f
    val one = Seq(("a", 1.0), ("a", 2.0)).toDF("g", "v")
    assert(Analytics.oneWayF(one, "g", "v").collect().head.isNullAt(6))
    val const = Seq(("a", 3.0), ("a", 3.0), ("b", 3.0), ("b", 3.0))
      .toDF("g", "v")
    assert(Analytics.oneWayF(const, "g", "v").collect().head.isNullAt(6))
    // brownForsythe == oneWayF applied to manually median-centered |z|
    val bf = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0),
      ("a", 100.0), ("b", 5.0), ("b", 6.0), ("b", 7.0), ("b", 8.0),
      ("b", 9.0)).toDF("g", "v")
    val got = Analytics.brownForsythe(bf, "g", "v").collect().head
    val z = bf.withColumn("z",
      abs(col("v") - when(col("g") === "a", 3.0).otherwise(7.0)))
    val want = Analytics.oneWayF(z, "g", "z").collect().head
    assert(got.toSeq == want.toSeq, s"BF $got vs $want")
    assert(got.getAs[Double]("f") > 0)
    partitionSweep { p =>
      Analytics.brownForsythe(bf.repartition(p), "g", "v")
        .collect().map(_.toSeq).toSeq
    }
  }

  test("confusionStats: hand-computed precision/recall/F1/MCC; " +
    "degenerate margins NULL; By == global per slice; shareDrift " +
    "top movers with tie-break; partition sweep") {
    import spark.implicits._
    // tp=2 fp=1 fn=3 tn=4: p=2/3, r=2/5, f1=0.5, mcc=5/sqrt(525)
    val rows = Seq((true, true), (true, true), (false, true),
      (true, false), (true, false), (true, false),
      (false, false), (false, false), (false, false), (false, false))
    val g = rows.toDF("lab", "pred")
    val r = graft.functions.ML.confusionStats(g, col("lab"), col("pred"))
      .collect().head
    assert(r.getAs[Long]("n") == 10L && r.getAs[Long]("tp") == 2L &&
      r.getAs[Long]("fp") == 1L && r.getAs[Long]("fn") == 3L &&
      r.getAs[Long]("tn") == 4L)
    assert(math.abs(r.getAs[Double]("precision") - 2.0 / 3.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("recall") - 0.4) < 1e-12)
    assert(math.abs(r.getAs[Double]("f1") - 0.5) < 1e-12)
    assert(math.abs(r.getAs[Double]("mcc") - 5.0 / math.sqrt(525.0)) < 1e-12)
    // no predicted positives: precision/f1/mcc NULL, recall 0
    val nopred = Seq((true, false), (false, false)).toDF("lab", "pred")
    val r2 = graft.functions.ML.confusionStats(nopred, col("lab"),
      col("pred")).collect().head
    assert(r2.isNullAt(r2.fieldIndex("precision")) &&
      r2.isNullAt(r2.fieldIndex("f1")) && r2.isNullAt(r2.fieldIndex("mcc")))
    assert(r2.getAs[Double]("recall") == 0.0)
    val sliced = rows.map { case (l, p) => ("s1", l, p) } ++
      Seq(("s2", true, false), ("s2", false, false))
    val sdf = sliced.toDF("key", "lab", "pred")
    val cb = graft.functions.ML.confusionStatsBy(sdf, Seq("key"),
        col("lab"), col("pred"))
      .collect().map(x => x.getString(0) -> x.toSeq.drop(1)).toMap
    for (sl <- Seq("s1", "s2")) {
      val slice = sliced.filter(_._1 == sl).map(t => (t._2, t._3))
        .toDF("lab", "pred")
      val w = graft.functions.ML.confusionStats(slice, col("lab"),
        col("pred")).collect().head
      assert(cb(sl) == w.toSeq, s"confusionStatsBy $sl: ${cb(sl)} vs $w")
    }
    // shareDrift: ref k1x2 k2x2, cur k1x3 k2x1 -> diffs +-0.25,
    // |diff| ties break on key asc
    val sd = Seq(("ref", 1L), ("ref", 1L), ("ref", 2L), ("ref", 2L),
      ("cur", 1L), ("cur", 1L), ("cur", 1L), ("cur", 2L))
      .toDF("grp", "k")
    val top = Analytics.shareDrift(sd, "k", "grp", "ref", "cur", topN = 1)
      .collect()
    assert(top.length == 1 && top.head.getLong(0) == 1L)
    assert(math.abs(top.head.getAs[Double]("diff") - 0.25) < 1e-12)
    val all2 = Analytics.shareDrift(sd, "k", "grp", "ref", "cur", 5)
      .collect()
    assert(all2.length == 2 && all2(1).getLong(0) == 2L)
    assert(math.abs(all2(1).getAs[Double]("diff") + 0.25) < 1e-12)
    partitionSweep { p =>
      graft.functions.ML.confusionStatsBy(sdf.repartition(p), Seq("key"),
          col("lab"), col("pred"))
        .collect().map(_.toSeq).toSeq.sortBy(_.head.toString) ++
        Analytics.shareDrift(sd.repartition(p), "k", "grp", "ref", "cur", 5)
          .collect().map(_.toSeq).toSeq
    }
  }

  test("acfBy == acf per slice (own-mean centering); constant slice " +
    "NULL acf; partition sweep") {
    import spark.implicits._
    import graft.operators.TimeSeries
    val rows = Seq( // (slice, t, v): s1 alternating, s2 trend, s3 const
      ("s1", 0L, 1.0), ("s1", 1L, -1.0), ("s1", 2L, 1.0), ("s1", 3L, -1.0),
      ("s1", 4L, 1.0),
      ("s2", 0L, 1.0), ("s2", 1L, 2.0), ("s2", 2L, 3.0), ("s2", 3L, 4.0),
      ("s3", 0L, 5.0), ("s3", 1L, 5.0), ("s3", 2L, 5.0))
    val df = rows.toDF("k", "t", "v")
    val ab = TimeSeries.acfBy(df, Seq("k"), "t", "v", maxLag = 2)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.toSeq.drop(2))
      .toMap
    for (sl <- Seq("s1", "s2", "s3")) {
      val slice = rows.filter(_._1 == sl).map(x => (x._2, x._3))
        .toDF("t", "v")
      for (w <- TimeSeries.acf(slice, "t", "v", maxLag = 2).collect()) {
        assert(ab((sl, w.getLong(0))) == w.toSeq.drop(1),
          s"acfBy $sl lag ${w.getLong(0)}: ${ab((sl, w.getLong(0)))} vs $w")
      }
    }
    assert(ab(("s1", 1L)).last.asInstanceOf[Double] < -0.5,
      "alternating slice must be strongly negative at lag 1")
    assert(ab(("s3", 1L)).last == null, "constant slice must emit NULL acf")
    partitionSweep { p =>
      TimeSeries.acfBy(df.repartition(p), Seq("k"), "t", "v", 2)
        .collect().map(_.toSeq).toSeq
        .sortBy(r => (r.head.toString, r(1).asInstanceOf[Long]))
    }
  }

  test("propTest + oddsRatio: hand-computed 2x2 chains; zero-cell OR " +
    "finite via Haldane; degenerate NULLs; By == global per slice; " +
    "partition sweep") {
    import spark.implicits._
    // a: 6/10 success, b: 2/8
    val rows = ("a", true, 6) :: ("a", false, 4) :: ("b", true, 2) ::
      ("b", false, 6) :: Nil
    val flat = rows.flatMap { case (g, s, n) => Seq.fill(n)((g, s)) }
    val df = flat.toDF("grp", "succ")
    val r = Analytics.propTest(df, "grp", col("succ"), "a", "b")
      .collect().head
    assert(r.getLong(0) == 10L && r.getLong(1) == 8L &&
      r.getLong(2) == 6L && r.getLong(3) == 2L)
    assert(r.getAs[Double]("p_a") == 0.6 && r.getAs[Double]("p_b") == 0.25)
    val pp = 8.0 / 18.0
    val zWant = (0.6 - 0.25) / math.sqrt(pp * (1 - pp) * (0.1 + 0.125))
    assert(math.abs(r.getAs[Double]("z") - zWant) < 1e-12, s"z $r")
    val or = Analytics.oddsRatio(df, "grp", col("succ"), "a", "b")
      .collect().head
    val orWant = (6.5 * 6.5) / (4.5 * 2.5)
    assert(math.abs(or.getAs[Double]("odds_ratio") - orWant) < 1e-12)
    val seWant = math.sqrt(1 / 6.5 + 1 / 4.5 + 1 / 2.5 + 1 / 6.5)
    assert(math.abs(or.getAs[Double]("ci_lo") -
      math.exp(math.log(orWant) - 1.96 * seWant)) < 1e-12)
    // zero cell: finite OR; all-success pooled: NULL z
    val zc = (Seq.fill(5)(("a", true)) ++ Seq.fill(5)(("b", false)))
      .toDF("grp", "succ")
    val orZ = Analytics.oddsRatio(zc, "grp", col("succ"), "a", "b")
      .collect().head
    assert(orZ.getAs[Double]("odds_ratio") == (5.5 * 5.5) / (0.5 * 0.5))
    val allS = (Seq.fill(3)(("a", true)) ++ Seq.fill(3)(("b", true)))
      .toDF("grp", "succ")
    assert(Analytics.propTest(allS, "grp", col("succ"), "a", "b")
      .collect().head.isNullAt(7), "zero pooled variance must NULL z")
    val sliced = flat.map { case (g, s) => ("s1", g, s) } ++
      Seq(("s2", "a", true), ("s2", "a", false)) // missing group b
    val sdf = sliced.toDF("k", "grp", "succ")
    val pb = Analytics.propTestBy(sdf, Seq("k"), "grp", col("succ"),
        "a", "b")
      .collect().map(x => x.getString(0) -> x.toSeq.drop(1)).toMap
    val ob = Analytics.oddsRatioBy(sdf, Seq("k"), "grp", col("succ"),
        "a", "b")
      .collect().map(x => x.getString(0) -> x.toSeq.drop(1)).toMap
    for (sl <- Seq("s1", "s2")) {
      val slice = sliced.filter(_._1 == sl).map(t => (t._2, t._3))
        .toDF("grp", "succ")
      val pw = Analytics.propTest(slice, "grp", col("succ"), "a", "b")
        .collect().head
      assert(pb(sl) == pw.toSeq, s"propTestBy $sl: ${pb(sl)} vs $pw")
      val ow = Analytics.oddsRatio(slice, "grp", col("succ"), "a", "b")
        .collect().head
      assert(ob(sl) == ow.toSeq, s"oddsRatioBy $sl: ${ob(sl)} vs $ow")
    }
    assert(pb("s2").last == null && ob("s2")(4) == null,
      "missing-side slice must emit NULLs")
    partitionSweep { p =>
      Analytics.propTestBy(sdf.repartition(p), Seq("k"), "grp",
          col("succ"), "a", "b")
        .collect().map(_.toSeq).toSeq.sortBy(_.head.toString) ++
        Analytics.oddsRatioBy(sdf.repartition(p), Seq("k"), "grp",
          col("succ"), "a", "b")
          .collect().map(_.toSeq).toSeq.sortBy(_.head.toString)
    }
  }

  test("liftTable: hand-computed decile capture/lift with score ties; " +
    "empty buckets surface with NULL rates; partition sweep") {
    import spark.implicits._
    // ranks (score desc, id asc): ids 1,2 tie at 9.0 and split on id;
    // y by rank = [1,1,1,1,0,0,0,0,1,0]; B=5 -> pos per bucket
    // [2,2,0,0,1], rate [1,1,0,0,.5], base .5 -> lift [2,2,0,0,1]
    val rows = Seq(
      (1L, 9.0, true), (2L, 9.0, true), (3L, 8.0, true), (4L, 7.0, true),
      (5L, 6.0, false), (6L, 5.0, false), (7L, 4.0, false),
      (8L, 3.0, false), (9L, 2.0, true), (10L, 1.0, false))
    val df = rows.toDF("id", "score", "lab")
    val got = graft.functions.ML.liftTable(df, "id", "score",
        col("lab"), buckets = 5).collect()
    assert(got.map(_.getLong(2)).toSeq == Seq(2L, 2L, 0L, 0L, 1L))
    assert(got.map(_.getLong(4)).toSeq == Seq(2L, 4L, 4L, 4L, 5L))
    assert(got.map(_.getAs[Double]("lift")).toSeq ==
      Seq(2.0, 2.0, 0.0, 0.0, 1.0), got.mkString(";"))
    assert(got.map(_.getAs[Double]("capture")).toSeq ==
      Seq(0.4, 0.8, 0.8, 0.8, 1.0))
    // more buckets than rows: trailing buckets empty with NULL rate
    val wide = graft.functions.ML.liftTable(df, "id", "score",
      col("lab"), buckets = 12).collect()
    assert(wide.length == 12 && wide.last.getLong(1) == 0L &&
      wide.last.isNullAt(3) && wide.last.getLong(4) == 5L)
    partitionSweep { p =>
      graft.functions.ML.liftTable(df.repartition(p), "id", "score",
          col("lab"), 5)
        .collect().map(_.toSeq).toSeq
    }
  }

  test("categoricalProfile: hand-computed entropy/HHI; one-level mix " +
    "entropy 0 / NULL norm / hhi 1; By == global per slice; " +
    "partition sweep") {
    import spark.implicits._
    // counts [2,1,1]: H = .5 ln2 + .5 ln4, norm = H/ln3, hhi = 0.375
    val g = Seq("a", "a", "b", "c").toDF("cat")
    val r = Analytics.categoricalProfile(g, "cat").collect().head
    assert(r.getLong(0) == 4L && r.getLong(1) == 3L)
    val hWant = 0.5 * math.log(2) + 0.5 * math.log(4)
    assert(math.abs(r.getDouble(2) - hWant) < 1e-12, s"H ${r.getDouble(2)}")
    assert(math.abs(r.getDouble(3) - hWant / math.log(3)) < 1e-12)
    assert(math.abs(r.getDouble(4) - 0.375) < 1e-12)
    val one = Seq("x", "x").toDF("cat")
    val r1 = Analytics.categoricalProfile(one, "cat").collect().head
    assert(r1.getDouble(2) == 0.0 && r1.isNullAt(3) && r1.getDouble(4) == 1.0)
    val sliced = Seq(("s1", "a"), ("s1", "a"), ("s1", "b"), ("s1", "c"),
      ("s2", "x"), ("s2", "x"))
    val df = sliced.toDF("key", "cat")
    val cb = Analytics.categoricalProfileBy(df, Seq("key"), "cat")
      .collect().map(x => x.getString(0) -> x.toSeq.drop(1)).toMap
    for (sl <- Seq("s1", "s2")) {
      val slice = sliced.filter(_._1 == sl).map(_._2).toDF("cat")
      val w = Analytics.categoricalProfile(slice, "cat").collect().head
      assert(cb(sl) == w.toSeq, s"categoricalProfileBy $sl: ${cb(sl)} vs $w")
    }
    partitionSweep { p =>
      Analytics.categoricalProfileBy(df.repartition(p), Seq("key"), "cat")
        .collect().map(_.toSeq).toSeq.sortBy(_.head.toString)
    }
  }

  test("bootstrapMeanDiff: each side equals bootstrapMeans on its own " +
    "subset (weights depend only on id/salt/rep); empty-side replicate " +
    "NULLs; partition sweep") {
    import spark.implicits._
    val rows = (1 to 40).map(i =>
      (i.toString, if (i % 2 == 0) "a" else "b", i.toDouble))
    val df = rows.toDF("rid", "grp", "v")
    val got = graft.functions.ML.bootstrapMeanDiff(df, "rid", "v", "grp",
        "a", "b", b = 4, salt = "t")
      .collect().map(r => r.getLong(0) -> r).toMap
    val aSide = graft.functions.ML.bootstrapMeans(
        df.filter(col("grp") === "a"), "rid", "v", b = 4, salt = "t")
      .collect().map(r => r.getLong(0) -> r).toMap
    val bSide = graft.functions.ML.bootstrapMeans(
        df.filter(col("grp") === "b"), "rid", "v", b = 4, salt = "t")
      .collect().map(r => r.getLong(0) -> r).toMap
    for (rep <- 0L until 4L) {
      assert(got(rep).getLong(1) == aSide(rep).getLong(1) &&
        got(rep).get(3) == aSide(rep).get(2),
        s"rep $rep side a: ${got(rep)} vs ${aSide(rep)}")
      assert(got(rep).getLong(2) == bSide(rep).getLong(1) &&
        got(rep).get(4) == bSide(rep).get(2),
        s"rep $rep side b: ${got(rep)} vs ${bSide(rep)}")
    }
    // a frame with only one arm: NULL mean_b/diff, exact n_b = 0
    val solo = graft.functions.ML.bootstrapMeanDiff(
        df.filter(col("grp") === "a"), "rid", "v", "grp", "a", "b",
        b = 2, salt = "t")
      .collect()
    assert(solo.forall(r => r.getLong(2) == 0L && r.isNullAt(4) &&
      r.isNullAt(5)))
    partitionSweep { p =>
      graft.functions.ML.bootstrapMeanDiff(df.repartition(p), "rid", "v",
          "grp", "a", "b", 4, "t")
        .collect().map(_.toSeq).toSeq
    }
  }

  test("kendallTauBy == kendallTau per slice (incl. single-distinct-x " +
    "NULL slice); opposite-sign slices; partition sweep") {
    import spark.implicits._
    val rows = Seq( // s1 increasing, s2 decreasing, s3 one distinct x
      ("s1", 1L, 1L), ("s1", 2L, 2L), ("s1", 3L, 3L), ("s1", 3L, 2L),
      ("s2", 1L, 5L), ("s2", 2L, 4L), ("s2", 3L, 1L),
      ("s3", 7L, 1L), ("s3", 7L, 2L))
    val df = rows.toDF("k", "x", "y")
    val tb = Analytics.kendallTauBy(df, Seq("k"), "x", "y")
      .collect().map(r => r.getString(0) -> r).toMap
    for (sl <- Seq("s1", "s2", "s3")) {
      val slice = rows.filter(_._1 == sl).map(t => (t._2, t._3))
        .toDF("x", "y")
      val w = Analytics.kendallTau(slice, "x", "y").collect().head
      assert(tb(sl).toSeq.drop(1) == w.toSeq,
        s"kendallTauBy $sl: ${tb(sl)} vs $w")
    }
    assert(tb("s1").getAs[Double]("tau_b") > 0 &&
      tb("s2").getAs[Double]("tau_b") == -1.0)
    assert(tb("s3").isNullAt(tb("s3").fieldIndex("tau_b")),
      "single-distinct-x slice must emit NULL tau")
    partitionSweep { p =>
      Analytics.kendallTauBy(df.repartition(p), Seq("k"), "x", "y")
        .collect().map(_.toSeq).toSeq.sortBy(_.head.toString)
    }
  }

  test("lexicalDiversity: hand-computed TTR/hapax; empty docs survive " +
    "with NULL ratios; partition sweep") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat and the dog and the bird"), // 8 toks, 5 types, 3 hapax
      (2L, "a a a a"), // 4 toks, 1 type, 0 hapax
      (3L, "   ")).toDF("doc_id", "text") // token-less
    val got = graft.functions.Text.lexicalDiversity(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getLong(1) == 8L && got(1L).getLong(2) == 5L &&
      got(1L).getLong(3) == 3L)
    assert(math.abs(got(1L).getAs[Double]("ttr") - 0.625) < 1e-15)
    assert(math.abs(got(1L).getAs[Double]("hapax_share") - 0.6) < 1e-15)
    assert(got(2L).getAs[Double]("ttr") == 0.25 &&
      got(2L).getAs[Double]("hapax_share") == 0.0)
    assert(got(3L).getLong(1) == 0L && got(3L).isNullAt(4) &&
      got(3L).isNullAt(5), "token-less doc must survive with NULLs")
    partitionSweep { p =>
      graft.functions.Text.lexicalDiversity(df.repartition(p), "doc_id",
          "text")
        .collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long])
    }
  }

  test("prefixBefore: ONE pinned RDD feeds both the summary job and the " +
    "per-slice fold (structural single execution — the r14 ReuseExchange " +
    "lean broke for real at the 50M pettitt arm), and a summary that " +
    "disagrees with the fold fails loudly, never silently") {
    // 1. lineage: the fold's leaf is a one-to-one map over the pinned
    //    leaf `shared` exposes — the summary ran over that same RDD at
    //    construction, so the two can only slice identically
    val dv = spark.range(0, 100000).select(col("id").cast("double").as("v"))
    val (shared, pb) = Analytics.prefixBefore(dv, Nil, "v", Seq("w" -> lit(1L)))
    def leafRdd(d: org.apache.spark.sql.DataFrame) = {
      val l = d.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd }
      assert(l.length == 1, s"expected ONE pinned leaf:\n" +
        d.queryExecution.optimizedPlan)
      l.head
    }
    assert(leafRdd(pb).dependencies.map(_.rdd.id) == Seq(leafRdd(shared).id),
      "the fold must read the pinned RDD itself, not a re-execution")
    assert(pb.count() == 100000L)
    // 2. the guard: a slice whose second execution differs from the
    //    first must fail the task with the range-slice mismatch, not
    //    emit a wrong prefix. `doll` puts a non-deterministic step after
    //    the range exchange, so the summary (calls 1..1000) and the fold
    //    (calls 1001..) see different slices
    def doll(step: (org.apache.spark.sql.DataFrame,
        () => org.apache.spark.sql.Column) =>
        org.apache.spark.sql.DataFrame): Unit = {
      AnalyticsSpec.dollCalls.set(0L)
      val firstRun = udf(() =>
        AnalyticsSpec.dollCalls.incrementAndGet() <= 1000L)
        .asNondeterministic()
      val sorted = step(spark.range(0, 1000).select(col("id").as("v"),
          lit(1L).as("w")).repartitionByRange(4, col("v")),
        () => firstRun()).sortWithinPartitions("v")
      val (_, folded) = org.apache.spark.sql.graftbridge.PrefixFold(sorted,
        Nil, "v", Seq("w" -> "w"), withTotals = false)
      val e = intercept[Exception](folded.collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage)
          .contains("range-slice mismatch")),
        s"expected the range-slice mismatch, got: $e")
    }
    // the summary sees every row and the fold none
    doll((d, first) => d.filter(first()))
    // every slice keeps its row count and its one (global) group, but
    // the fold sees each key one higher: only the key ends can tell
    doll((d, first) => d.withColumn("v",
      when(first(), col("v")).otherwise(col("v") + 1)))
  }

  test("cohenD / cohenDBy: hand pooled-SD case + Hedges J; n<2 side " +
    "contributes zero SS; constant pooled data NULL; By == global per " +
    "slice; partition sweep") {
    import spark.implicits._
    // a = [1,2,3,4], b = [3,4,5,6]: means 2.5/4.5, SS 5 each,
    // sp² = 10/6, d = −2/√(5/3), J = 1 − 3/23
    val rows = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0),
      ("b", 3.0), ("b", 4.0), ("b", 5.0), ("b", 6.0))
    val df = rows.toDF("g", "v")
    val r = Analytics.cohenD(df, "g", "v", "a", "b").collect().head
    val expD = -2.0 / math.sqrt(5.0 / 3.0)
    assert(r.getAs[Long]("n_a") == 4L && r.getAs[Long]("n_b") == 4L)
    assert(math.abs(r.getAs[Double]("mean_a") - 2.5) < 1e-12)
    assert(math.abs(r.getAs[Double]("d") - expD) < 1e-12,
      s"d ${r.getAs[Double]("d")} vs $expD")
    assert(math.abs(r.getAs[Double]("g") - expD * (1.0 - 3.0 / 23.0)) < 1e-12)
    // one-point side: its SS weight is 0; d still defined off b's SS
    val one = (Seq(("a", 10.0)) ++ rows.filter(_._1 == "b")).toDF("g", "v")
    val r1 = Analytics.cohenD(one, "g", "v", "a", "b").collect().head
    val spOne = math.sqrt(5.0 / 3.0) // (0 + 5)/(5−2)... n=5 → (0+5)/3
    assert(math.abs(r1.getAs[Double]("d") -
      (10.0 - 4.5) / math.sqrt(5.0 / 3.0)) < 1e-12)
    // constant pooled data: sp = 0 → NULL d
    val const = Seq(("a", 7.0), ("a", 7.0), ("b", 7.0)).toDF("g", "v")
    val rc = Analytics.cohenD(const, "g", "v", "a", "b").collect().head
    assert(rc.isNullAt(rc.fieldIndex("d")))
    // By == global per slice
    val sliced = rows.map { case (g, v) => ("s1", g, v) } ++
      rows.map { case (g, v) => ("s2", g, v + (if (g == "b") 10 else 0)) }
    val by = Analytics.cohenDBy(sliced.toDF("k", "g", "v"), Seq("k"),
      "g", "v", "a", "b").collect()
      .map(x => x.getString(0) -> x.toSeq.drop(1)).toMap
    for (sl <- Seq("s1", "s2")) {
      val slice = sliced.filter(_._1 == sl).map(t => (t._2, t._3))
        .toDF("g", "v")
      val w = Analytics.cohenD(slice, "g", "v", "a", "b").collect().head
      assert(by(sl) == w.toSeq, s"cohenDBy $sl")
    }
    partitionSweep { p =>
      Analytics.cohenD(df.repartition(p), "g", "v", "a", "b")
        .collect().map(_.toSeq).toSeq
    }
  }

  test("moodMedianTest: hand 2x2 with Yates correction, ties count " +
    "below the grand median; zero-margin NULL; partition sweep") {
    import spark.implicits._
    // pooled median 4.0; above: a → 1, b → 3; Yates χ² = 250/600
    val df = (Seq(1, 2, 3, 4, 5).map(("a", _)) ++
      Seq(3, 4, 5, 6, 7).map(("b", _))).map { case (g, v) => (g, v.toDouble) }
      .toDF("g", "v")
    val r = Analytics.moodMedianTest(df, "g", "v", "a", "b").collect().head
    assert(r.getAs[Double]("grand_median") == 4.0)
    assert(r.getAs[Long]("above_a") == 1L && r.getAs[Long]("above_b") == 3L)
    assert(math.abs(r.getAs[Double]("chi2") - 250.0 / 600.0) < 1e-12,
      s"chi2 ${r.getAs[Double]("chi2")}")
    // everything on one side of M → a margin is zero → NULL
    val degen = Seq(("a", 5.0), ("a", 5.0), ("b", 5.0)).toDF("g", "v")
    val rd = Analytics.moodMedianTest(degen, "g", "v", "a", "b")
      .collect().head
    assert(rd.isNullAt(rd.fieldIndex("chi2")))
    partitionSweep { p =>
      Analytics.moodMedianTest(df.repartition(p), "g", "v", "a", "b")
        .collect().map(_.toSeq).toSeq
    }
  }

  test("hodgesLehmann: median of cross differences — even count " +
    "midpoint, tie weights, NULL on empty side; partition sweep") {
    import spark.implicits._
    // a = [1,2], b = [4,7] → diffs {2,3,5,6} → HL = 4.0
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 4.0), ("b", 7.0))
      .toDF("g", "v")
    val r = Analytics.hodgesLehmann(df, "g", "v", "a", "b").collect().head
    assert(r.getAs[Long]("n_a") == 2L && r.getAs[Long]("n_b") == 2L)
    assert(r.getAs[Double]("hl_shift") == 4.0, s"${r.toSeq}")
    // tie weights: a = [1,1,2], b = [2,2] → diffs {1,1,0,0,1,1} → 1.0
    val ties = Seq(("a", 1.0), ("a", 1.0), ("a", 2.0),
      ("b", 2.0), ("b", 2.0)).toDF("g", "v")
    val rt = Analytics.hodgesLehmann(ties, "g", "v", "a", "b")
      .collect().head
    assert(rt.getAs[Double]("hl_shift") == 1.0, s"${rt.toSeq}")
    // empty side → NULL shift, counts still reported
    val half = Seq(("a", 1.0), ("a", 2.0)).toDF("g", "v")
    val rh = Analytics.hodgesLehmann(half, "g", "v", "a", "b")
      .collect().head
    assert(rh.getAs[Long]("n_b") == 0L &&
      rh.isNullAt(rh.fieldIndex("hl_shift")))
    partitionSweep { p =>
      Analytics.hodgesLehmann(df.repartition(p), "g", "v", "a", "b")
        .collect().map(_.toSeq).toSeq
    }
  }

  test("hellingerDistance: hand BC over the psi bin spine; identical " +
    "distributions clamp to H=0; By == global per slice; partition " +
    "sweep") {
    import spark.implicits._
    // lo=0, hi=4, bins=2: a = [.5,.5,2.5], b = [2.5,2.5]
    // pa = (.6, .4), pb = (.25, .75) → BC = √.15 + √.3
    val df = Seq(("a", 0.5), ("a", 0.5), ("a", 2.5),
      ("b", 2.5), ("b", 2.5)).toDF("g", "v")
    val r = Analytics.hellingerDistance(df, "g", "v", "a", "b",
      0.0, 4.0, 2).collect().head
    val bc = math.sqrt(0.15) + math.sqrt(0.3)
    assert(r.getAs[Long]("n_a") == 3L && r.getAs[Long]("n_b") == 2L)
    assert(math.abs(r.getAs[Double]("bc") - bc) < 1e-12)
    assert(math.abs(r.getAs[Double]("hellinger") - math.sqrt(1 - bc)) < 1e-12)
    // identical distributions: BC = 1 up to rounding, H clamps to >= 0
    val same = Seq(("a", 1.0), ("a", 3.0), ("b", 1.0), ("b", 3.0))
      .toDF("g", "v")
    val rs = Analytics.hellingerDistance(same, "g", "v", "a", "b",
      0.0, 4.0, 4).collect().head
    assert(rs.getAs[Double]("hellinger") < 1e-7)
    // By == global per slice
    val rows = Seq(("s1", "a", 0.5), ("s1", "a", 0.5), ("s1", "a", 2.5),
      ("s1", "b", 2.5), ("s1", "b", 2.5),
      ("s2", "a", 1.0), ("s2", "b", 3.5))
    val by = Analytics.hellingerDistanceBy(rows.toDF("k", "g", "v"),
      Seq("k"), "g", "v", "a", "b", 0.0, 4.0, 2).collect()
      .map(x => x.getString(0) -> x.toSeq.drop(1)).toMap
    for (sl <- Seq("s1", "s2")) {
      val slice = rows.filter(_._1 == sl).map(t => (t._2, t._3)).toDF("g", "v")
      val w = Analytics.hellingerDistance(slice, "g", "v", "a", "b",
        0.0, 4.0, 2).collect().head
      assert(by(sl) == w.toSeq, s"hellingerBy $sl")
    }
    partitionSweep { p =>
      Analytics.hellingerDistance(df.repartition(p), "g", "v", "a", "b",
        0.0, 4.0, 2).collect().map(_.toSeq).toSeq
    }
  }

  test("seasonalMannKendall: opposing within-season trends cancel S " +
    "with the exact Hirsch-Slack variance; pooled Sen slope; series " +
    "tripwire; n<2 one-row contract; partition sweep") {
    import spark.implicits._
    // season 0 rises (S=3), season 1 falls (S=-3): S=0, no ties →
    // var = 2·(3·2·11)/18 = 132/18; pooled slopes {±0.5}×3 → median 0;
    // intercept = median(y) = 3.0
    val rows = Seq((0, 0.0, 1.0), (0, 2.0, 2.0), (0, 4.0, 3.0),
      (1, 1.0, 5.0), (1, 3.0, 4.0), (1, 5.0, 3.0))
    val df = rows.toDF("season", "t", "y")
    val r = Analytics.seasonalMannKendall(df, "season", "t", "y")
      .collect().head
    assert(r.getAs[Long]("n") == 6L && r.getAs[Long]("n_seasons") == 2L)
    assert(r.getAs[Long]("s") == 0L)
    assert(math.abs(r.getAs[Double]("var_s") - 132.0 / 18.0) < 1e-12)
    assert(r.getAs[Double]("z") == 0.0)
    assert(r.getAs[Double]("sen_slope") == 0.0)
    assert(r.getAs[Double]("intercept") == 3.0)
    // a seasonal drift invisible to the plain test: alternating level
    // + small upward drift — seasonal z must exceed the plain z
    val drift = (0 until 12).map(i =>
      (i % 2, i.toDouble, (i % 2) * 10.0 + i * 0.1)).toDF("season", "t", "y")
    val zs = Analytics.seasonalMannKendall(drift, "season", "t", "y")
      .collect().head.getAs[Double]("z")
    val zp = Analytics.mannKendallTrend(drift.select("t", "y"), "t", "y")
      .collect().head.getAs[Double]("z")
    assert(zs > zp, s"seasonal z $zs must exceed plain z $zp")
    // duplicate (season, t) → loud series-contract failure
    val dup = (rows :+ ((0, 0.0, 9.0))).toDF("season", "t", "y")
    val e = intercept[Exception] {
      Analytics.seasonalMannKendall(dup, "season", "t", "y").collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("per-season series"))
    // one point: ONE row, NULL slope/z
    val one = Seq((0, 1.0, 5.0)).toDF("season", "t", "y")
    val r1 = Analytics.seasonalMannKendall(one, "season", "t", "y").collect()
    assert(r1.length == 1 && r1.head.getAs[Long]("n") == 1L)
    assert(r1.head.isNullAt(r1.head.fieldIndex("sen_slope")))
    partitionSweep { p =>
      Analytics.seasonalMannKendall(df.repartition(p), "season", "t", "y")
        .collect().map(_.toSeq).toSeq
    }
  }

  test("pairedT / pairedTBy: hand one-sample t on differences; NULL " +
    "pairs excluded; n<2 and zero-variance NULLs; By == global per " +
    "slice; partition sweep") {
    import spark.implicits._
    // d = [1,-2,3,-4,5]: mean .6, s² = 13.3, t = .6/(s/√5)
    val rows = Seq((2.0, 1.0), (1.0, 3.0), (5.0, 2.0), (0.0, 4.0),
      (7.0, 2.0))
    val df = rows.toDF("x", "y")
    val r = Analytics.pairedT(df, "x", "y").collect().head
    assert(r.getAs[Long]("n") == 5L)
    assert(math.abs(r.getAs[Double]("mean_diff") - 0.6) < 1e-12)
    val expT = 0.6 / (math.sqrt(13.3) / math.sqrt(5.0))
    assert(math.abs(r.getAs[Double]("t") - expT) < 1e-12,
      s"t ${r.getAs[Double]("t")} vs $expT")
    assert(r.getAs[Long]("dof") == 4L)
    // a NULL on either side drops the pair
    val withNull = (rows.map { case (a, b) =>
      (Option(a), Option(b)) } :+ ((Option(9.0), Option.empty[Double])))
      .toDF("x", "y")
    assert(Analytics.pairedT(withNull, "x", "y").collect()
      .head.getAs[Long]("n") == 5L)
    // constant differences → zero variance → NULL t
    val const = Seq((3.0, 1.0), (5.0, 3.0)).toDF("x", "y")
    val rc = Analytics.pairedT(const, "x", "y").collect().head
    assert(rc.isNullAt(rc.fieldIndex("t")) &&
      rc.getAs[Double]("mean_diff") == 2.0)
    // By == global per slice
    val sliced = rows.map { case (a, b) => ("s1", a, b) } ++
      rows.map { case (a, b) => ("s2", a + 1, b) }
    val by = Analytics.pairedTBy(sliced.toDF("k", "x", "y"), Seq("k"),
      "x", "y").collect().map(x => x.getString(0) -> x.toSeq.drop(1)).toMap
    for (sl <- Seq("s1", "s2")) {
      val slice = sliced.filter(_._1 == sl).map(t => (t._2, t._3))
        .toDF("x", "y")
      val w = Analytics.pairedT(slice, "x", "y").collect().head
      assert(by(sl) == w.toSeq, s"pairedTBy $sl")
    }
    partitionSweep { p =>
      Analytics.pairedT(df.repartition(p), "x", "y")
        .collect().map(_.toSeq).toSeq
    }
  }

  test("wilcoxonSignedRank / By: hand rank sums (no ties, ties, " +
    "zeros dropped); all-zero slice NULL z; By == global per slice; " +
    "partition sweep") {
    import spark.implicits._
    // d = [1,-2,3,-4,5]: ranks 1..5, W+ = 9, W- = 6,
    // z = 1.5/√18.75
    val rows = Seq((2.0, 1.0), (1.0, 3.0), (5.0, 2.0), (0.0, 4.0),
      (7.0, 2.0))
    val df = rows.toDF("x", "y")
    val r = Analytics.wilcoxonSignedRank(df, "x", "y").collect().head
    assert(r.getAs[Long]("n") == 5L && r.getAs[Long]("n_zero") == 0L)
    assert(r.getAs[Double]("w_plus") == 9.0 &&
      r.getAs[Double]("w_minus") == 6.0)
    assert(math.abs(r.getAs[Double]("z") - 1.5 / math.sqrt(18.75)) < 1e-12)
    // ties + a zero: d = [1, 1, -1, 2, 0] → |d| ties at 1 (t=3,
    // avg rank 2), W+ = 8, W- = 2, var = 4·5·13/24 − 24/48
    val ties = Seq((2.0, 1.0), (3.0, 2.0), (1.0, 2.0), (5.0, 3.0),
      (4.0, 4.0)).toDF("x", "y")
    val rt = Analytics.wilcoxonSignedRank(ties, "x", "y").collect().head
    assert(rt.getAs[Long]("n") == 4L && rt.getAs[Long]("n_zero") == 1L)
    assert(rt.getAs[Double]("w_plus") == 8.0 &&
      rt.getAs[Double]("w_minus") == 2.0)
    val expVar = 4.0 * 5.0 * 13.0 / 24.0 - 24.0 / 48.0
    assert(math.abs(rt.getAs[Double]("z") - 3.0 / math.sqrt(expVar)) < 1e-12)
    // all-zero differences: one row, n = 0, NULL z
    val zeros = Seq((1.0, 1.0), (2.0, 2.0)).toDF("x", "y")
    val rz = Analytics.wilcoxonSignedRank(zeros, "x", "y").collect()
    assert(rz.length == 1 && rz.head.getAs[Long]("n") == 0L &&
      rz.head.getAs[Long]("n_zero") == 2L &&
      rz.head.isNullAt(rz.head.fieldIndex("z")))
    // By == global per slice (incl. an all-zero slice)
    val sliced = rows.map { case (a, b) => ("s1", a, b) } ++
      Seq(("s2", 1.0, 1.0), ("s2", 2.0, 2.0))
    val by = Analytics.wilcoxonSignedRankBy(sliced.toDF("k", "x", "y"),
      Seq("k"), "x", "y").collect()
      .map(x => x.getString(0) -> x.toSeq.drop(1)).toMap
    for (sl <- Seq("s1", "s2")) {
      val slice = sliced.filter(_._1 == sl).map(t => (t._2, t._3))
        .toDF("x", "y")
      val w = Analytics.wilcoxonSignedRank(slice, "x", "y").collect().head
      assert(by(sl) == w.toSeq, s"wilcoxonBy $sl")
    }
    partitionSweep { p =>
      Analytics.wilcoxonSignedRank(df.repartition(p), "x", "y")
        .collect().map(_.toSeq).toSeq
    }
  }

  test("quantileBinBy: per-group equal-frequency bins == the global " +
    "binner run per slice; tied values share a bin; NULL value NULL " +
    "bin; partition sweep") {
    import spark.implicits._
    val rows = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0),
      ("b", 10.0), ("b", 10.0), ("b", 30.0), ("b", 40.0))
    val df = rows.toDF("k", "v")
    val by = graft.operators.Aggregations.quantileBinBy(df, Seq("k"), "v", 2)
      .collect().map(r => (r.getString(0), r.getDouble(1)) ->
        r.getAs[Long]("bin")).toMap
    for (g <- Seq("a", "b")) {
      val slice = rows.filter(_._1 == g).map(_._2).toDF("v")
      val glob = graft.operators.Aggregations.quantileBin(slice, "v", 2)
        .collect().map(r => r.getDouble(0) -> r.getAs[Long]("bin")).toMap
      rows.filter(_._1 == g).foreach { case (_, v) =>
        assert(by((g, v)) == glob(v), s"quantileBinBy $g v=$v") }
    }
    // the b-group tie at 10 shares bin 0
    assert(by(("b", 10.0)) == 0L && by(("b", 30.0)) == 1L)
    // NULL value keeps a NULL bin
    val withNull = (rows.map { case (k, v) => (k, Option(v)) } :+
      (("a", Option.empty[Double]))).toDF("k", "v")
    val nullRow = graft.operators.Aggregations
      .quantileBinBy(withNull, Seq("k"), "v", 2)
      .filter(col("v").isNull).collect()
    assert(nullRow.length == 1 && nullRow.head.isNullAt(
      nullRow.head.fieldIndex("bin")))
    partitionSweep { p =>
      graft.operators.Aggregations.quantileBinBy(df.repartition(p),
          Seq("k"), "v", 2)
        .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    }
  }

  test("winsorizeCont: per-group percentile_cont fences clamp both " +
    "tails; global form; NULL value stays NULL; partition sweep") {
    import spark.implicits._
    // 0..10 per group, p10/p90 fences = 1.0/9.0 (t = p·(n−1) integral)
    val rows = (0 to 10).map(i => ("a", i.toDouble)) ++
      (0 to 10).map(i => ("b", i * 10.0))
    val df = rows.toDF("k", "v")
    val w = graft.operators.Aggregations
      .winsorizeCont(df, Seq("k"), "v", 0.1, 0.9)
      .collect().map(r => (r.getString(0), r.getDouble(1)) ->
        r.getAs[Double]("v_winsorized")).toMap
    assert(w(("a", 0.0)) == 1.0 && w(("a", 10.0)) == 9.0)
    assert(w(("a", 5.0)) == 5.0)
    assert(w(("b", 0.0)) == 10.0 && w(("b", 100.0)) == 90.0)
    // global form: pooled fences
    val g = graft.operators.Aggregations
      .winsorizeCont(df, Nil, "v", 0.0, 0.5)
      .collect().map(r => (r.getString(0), r.getDouble(1)) ->
        r.getAs[Double]("v_winsorized")).toMap
    // pooled p50 of the 22 values: sorted has 9.5 at the median slot
    assert(g(("b", 100.0)) == g(("b", 50.0)), "upper tail clamps to p50")
    assert(g(("a", 0.0)) == 0.0, "pLo = 0 leaves the lower tail alone")
    // NULL value stays NULL (greatest/least skip nulls — guarded)
    val withNull = (rows.map { case (k, v) => (k, Option(v)) } :+
      (("a", Option.empty[Double]))).toDF("k", "v")
    val nl = graft.operators.Aggregations
      .winsorizeCont(withNull, Seq("k"), "v", 0.1, 0.9)
      .filter(col("v").isNull).collect()
    assert(nl.length == 1 &&
      nl.head.isNullAt(nl.head.fieldIndex("v_winsorized")))
    partitionSweep { p =>
      graft.operators.Aggregations.winsorizeCont(df.repartition(p),
          Seq("k"), "v", 0.1, 0.9)
        .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    }
  }

  test("prefixBefore (global): the fold runs ON the pinned partitions — " +
    "no exchange of the pinned frame anywhere in the final plan, while " +
    "results stay the proven prefix") {
    val dv = spark.range(0, 50000)
      .select(col("id").cast("double").as("v"))
    val pb = Analytics.prefixBefore(dv, Nil, "v", Seq("w" -> lit(1L)))._2
    // execute so AQE finalizes, then read the FINAL plan
    assert(pb.count() == 50000L)
    val plan = pb.queryExecution.executedPlan.toString
    assert(plan.contains("Scan ExistingRDD"),
      s"expected the pinned LogicalRDD leaf:\n$plan")
    assert(PlanWalk.shuffleCount(pb.queryExecution.executedPlan) == 0 &&
      !plan.toLowerCase.contains("hashpartitioning"),
      s"the fold must run ON the pinned partitions — found an exchange:\n$plan")
    // spot-check values against the closed form (v = 0..N-1 distinct,
    // weight 1 → __cum_w = rank)
    val sample = pb.filter(col("v").isin(0.0, 1.0, 25000.0, 49999.0))
      .collect().map(r => r.getAs[Double]("v") -> r.getAs[Long]("__cum_w"))
      .toMap
    assert(sample == Map(0.0 -> 0L, 1.0 -> 1L, 25000.0 -> 25000L,
      49999.0 -> 49999L))
  }

  test("mannKendallTrend: n < 2 emits ONE row with NULL slope/z, not " +
    "zero rows (r15 advisor: the empty median frame annihilated the " +
    "aggregate row through crossJoin); empty input likewise") {
    import spark.implicits._
    val one = Seq((1.0, 5.0)).toDF("t", "y")
    val r1 = Analytics.mannKendallTrend(one, "t", "y").collect()
    assert(r1.length == 1, s"n=1 must yield one row, got ${r1.length}")
    assert(r1.head.getAs[Long]("n") == 1L)
    assert(r1.head.isNullAt(r1.head.fieldIndex("sen_slope")))
    assert(r1.head.isNullAt(r1.head.fieldIndex("intercept")))
    assert(r1.head.isNullAt(r1.head.fieldIndex("z")))
    val empty = Seq.empty[(Double, Double)].toDF("t", "y")
    val r0 = Analytics.mannKendallTrend(empty, "t", "y").collect()
    assert(r0.length == 1, s"empty input must yield one row, got ${r0.length}")
    assert(r0.head.getAs[Long]("n") == 0L)
    assert(r0.head.isNullAt(r0.head.fieldIndex("sen_slope")))
    // n >= 2 unchanged: slope/intercept/z all populated
    val two = Seq((1.0, 5.0), (2.0, 7.0)).toDF("t", "y")
    val r2 = Analytics.mannKendallTrend(two, "t", "y").collect().head
    assert(r2.getAs[Long]("n") == 2L &&
      r2.getAs[Double]("sen_slope") == 2.0)
  }

  test("runningMinDescIncl / bhAdjust: the suffix-cummin frame is " +
    "pinned (LogicalRDD) like the prefix family's — the r15 advisor's " +
    "remaining optimizer-courtesy double execution is closed") {
    import spark.implicits._
    val df = Seq(0.01, 0.02, 0.02, 0.5, 0.04, 1.0).toDF("p")
    val adj = Analytics.bhAdjust(df, "p")
    val optimized = adj.queryExecution.optimizedPlan.toString
    // two pinned frames now: the rank prefix's and the suffix-cummin's
    // (the full fdr_bh value replay lives in its own spec below)
    assert(optimized.split("LogicalRDD", -1).length - 1 >= 2,
      s"expected BOTH the prefix and the suffix-cummin pinned leaves:\n$optimized")
    assert(adj.count() == 6L)
  }

  test("kendallTauExact: bit-equal to the self-join form on tie-heavy, " +
    "monotone, anti-monotone, and constant fixtures, across bucket " +
    "counts and partitionings") {
    def mk(rows: Seq[(Double, Double)]) = rows.toDF("x", "y")
    // tie-heavy pseudo-random (deterministic arithmetic, no RNG)
    val messy = mk((1 to 400).map(i =>
      ((i * 7 % 13).toDouble, (i * 11 % 7).toDouble)))
    // continuous x (all distinct — the regime the self-join gate forbids)
    val cont = mk((1 to 300).map(i =>
      (i * 1.7 + (i % 9) * 0.013, (i * 5 % 11).toDouble)))
    val mono = mk((1 to 50).map(i => (i.toDouble, (i * 2).toDouble)))
    val anti = mk((1 to 50).map(i => (i.toDouble, -i.toDouble)))
    val allTied = mk(Seq.fill(10)((3.0, 7.0)))
    for (df <- Seq(messy, cont, mono, anti, allTied)) {
      val want = Analytics.kendallTau(df, "x", "y").collect().head
      for (b <- Seq(1, 3, 32); p <- Seq(1, 7)) {
        val got = Analytics.kendallTauExact(df.repartition(p), "x", "y",
          buckets = b).collect().head
        assert(got.getAs[Long]("n") == want.getAs[Long]("n"), s"n b=$b p=$p")
        assert(got.getAs[Double]("nc") == want.getAs[Double]("nc"),
          s"nc b=$b p=$p: ${got.getAs[Double]("nc")} vs ${want.getAs[Double]("nc")}")
        assert(got.getAs[Double]("nd") == want.getAs[Double]("nd"),
          s"nd b=$b p=$p")
        val (gt, wt) = (got.getAs[java.lang.Double]("tau_b"),
          want.getAs[java.lang.Double]("tau_b"))
        assert(gt == wt || (gt != null && wt != null && gt.doubleValue ==
          wt.doubleValue), s"tau b=$b p=$p: $gt vs $wt")
      }
    }
    // sanity anchors: τ = +1 / −1 on the strict monotone fixtures
    assert(Analytics.kendallTauExact(mono, "x", "y").collect()
      .head.getAs[Double]("tau_b") == 1.0)
    assert(Analytics.kendallTauExact(anti, "x", "y").collect()
      .head.getAs[Double]("tau_b") == -1.0)
  }

  test("dyadicEwma: golden integer series, exact dyadic weights, " +
    "partition-invariant") {
    val df = Seq(("k", 1L, 3L), ("k", 2L, 5L), ("k", 3L, 2L))
      .toDF("g", "t", "v")
    // weights 2^j: (3·1)/1, (3+10)/3, (3+10+8)/7 — all exact in double
    val got = graft.operators.TimeSeries.dyadicEwma(df, Seq("g"), "t", "v")
      .orderBy("t").collect()
      .map(r => (r.getAs[Long]("i"), r.getAs[Double]("ewma"))).toSeq
    assert(got == Seq((0L, 3.0), (1L, 13.0 / 3.0), (2L, 3.0)))
    (1 to 3).foreach { n =>
      val re = graft.operators.TimeSeries.dyadicEwma(df.repartition(n),
        Seq("g"), "t", "v").orderBy("t").collect().map(_.getAs[Double]("ewma"))
      assert(re.toSeq == got.map(_._2), s"repartition($n) drifted")
    }
  }

  test("cusumChangepoint: level shift located at the last pre-shift step, " +
    "earliest tie-break, constant series → rank 1 shift 0") {
    val df = Seq(
      ("A", 1L, 1L), ("A", 2L, 1L), ("A", 3L, 1L), ("A", 4L, 5L), ("A", 5L, 5L),
      ("B", 1L, 2L), ("B", 2L, 2L)).toDF("g", "t", "v")
    val got = graft.operators.TimeSeries.cusumChangepoint(df, Seq("g"), "t", "v")
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getAs[Long]("n"), r.getAs[Long]("cp_rank"),
        r.getAs[Long]("cp_t"), r.getAs[Double]("shift"))).toSeq
    // A: |n·P − r·G| peaks at r=3 (|15−39| = 24), shift = 24/5
    // B: constant → every statistic 0, earliest rank wins
    assert(got == Seq(("A", 5L, 3L, 3L, 4.8), ("B", 2L, 1L, 1L, 0.0)))
  }

  test("ridgeFit: λ=0 recovers an exact plane; collinear features at λ=0 " +
    "→ NULL via the relative tolerance; λ>0 regularizes them non-null") {
    val pts = Seq((0.0, 0.0), (1.0, 0.0), (0.0, 1.0), (1.0, 1.0),
      (2.0, 1.0), (1.0, 2.0))
    val plane = pts.map { case (x1, x2) => ("g", x1, x2, 1.0 + 2 * x1 + 3 * x2) }
      .toDF("g", "x1", "x2", "y")
    val fit = ML.ridgeFit(plane, Seq("g"), "x1", "x2", "y", lambda = 0.0)
      .collect().head
    assert(math.abs(fit.getAs[Double]("b0") - 1.0) < 1e-9)
    assert(math.abs(fit.getAs[Double]("b1") - 2.0) < 1e-9)
    assert(math.abs(fit.getAs[Double]("b2") - 3.0) < 1e-9)
    // x2 ≡ x1: the Gram matrix is singular at λ=0; the double
    // determinant may not cancel EXACTLY, which is what the relative
    // |det| ≤ 1e-9·(row-norm product) tolerance is for
    val coll = Seq(1.0, 2.0, 3.0, 4.0)
      .map(x => ("g", x, x, 2 * x)).toDF("g", "x1", "x2", "y")
    val sing = ML.ridgeFit(coll, Seq("g"), "x1", "x2", "y", lambda = 0.0)
      .collect().head
    assert(sing.isNullAt(sing.fieldIndex("b0")))
    assert(sing.isNullAt(sing.fieldIndex("b1")))
    assert(sing.isNullAt(sing.fieldIndex("b2")))
    val reg = ML.ridgeFit(coll, Seq("g"), "x1", "x2", "y", lambda = 1.0)
      .collect().head
    assert(!reg.isNullAt(reg.fieldIndex("b1")))
    // symmetric columns + symmetric penalty → identical slopes
    assert(math.abs(reg.getAs[Double]("b1") - reg.getAs[Double]("b2")) < 1e-12)
  }

  test("ridgeFit: small-magnitude features (x ~ 1e-3, n = 1000) are NOT " +
    "falsely singular — the row-norm-product tolerance tracks det's scale") {
    // a max-entry³ gate would compare det ~ 0.07 against 1e-9·n³ = 1 and
    // NULL this perfectly-conditioned group; the row-norm product
    // threshold is 1e-9·n·max(s1,…)² ~ 2e-5
    val rows = (0 until 1000).map { i =>
      val x1 = (i % 10) * 1e-3
      val x2 = ((i / 10) % 10) * 1e-3
      ("g", x1, x2, 1.0 + x1 + x2)
    }.toDF("g", "x1", "x2", "y")
    val fit = ML.ridgeFit(rows, Seq("g"), "x1", "x2", "y", lambda = 0.0,
      scale = 6).collect().head
    assert(!fit.isNullAt(fit.fieldIndex("b0")))
    assert(math.abs(fit.getAs[Double]("b0") - 1.0) < 1e-6)
    assert(math.abs(fit.getAs[Double]("b1") - 1.0) < 1e-6)
    assert(math.abs(fit.getAs[Double]("b2") - 1.0) < 1e-6)
  }

  test("benfordDigits: digit extraction through the decimal cast, " +
    "sub-1 filter, zero-filled spine, χ² terms") {
    val df = Seq(1.0, 1.5, 19.0, 2.0, 300.0, 0.5, 9.99).toDF("v")
    val got = Analytics.benfordDigits(df, "v").collect()
      .map(r => (r.getAs[Int]("digit"), r.getAs[Long]("observed"),
        r.getAs[Double]("expected"), r.getAs[Double]("chi2_term")))
    assert(got.map(_._1).toSeq == (1 to 9))
    assert(got.map(_._2).toSeq == Seq(3L, 1L, 1L, 0L, 0L, 0L, 0L, 0L, 1L))
    assert(got.map(_._2).sum == 6L) // 0.5 filtered out
    assert(math.abs(got(0)._3 - 6 * 0.3010299956639812) < 1e-12)
    // an empty digit's χ² term is exactly its expectation
    assert(math.abs(got(3)._4 - got(3)._3) < 1e-12)
  }

  test("joinSkewReport: hot key ranks first, decimal(38,0) product " +
    "(no long wrap at 3e9×3e9), mean-normalized skew, topN cut") {
    val left = (Seq.fill(3)("a") ++ Seq("b") ++ Seq.fill(2)("c")).toDF("k")
    val right = (Seq.fill(2)("a") ++ Seq.fill(5)("b") ++ Seq("d")).toDF("k")
    val rep = graft.operators.Joins.joinSkewReport(left, right, "k", "k",
      topN = 10)
    // the EMITTED column follows the all-double output convention …
    assert(rep.schema("out_rows").dataType ==
      org.apache.spark.sql.types.DoubleType)
    // … but the ORDER BY underneath rides the exact decimal(38,0)
    // product (the anti-wrap ranking: 3e9×3e9 must sort first, not
    // negative) — pin the internal sort key's type, not the output's
    val sortKeyTypes = rep.queryExecution.analyzed.collect {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort =>
        s.order.head.child.dataType
    }
    assert(sortKeyTypes.contains(org.apache.spark.sql.types.DecimalType(38, 0)))
    val rows = rep.collect().map(r => (r.getString(0),
      r.getAs[Double]("out_rows").toLong,
      r.getAs[Double]("skew")))
    // c and d never meet: inner key join — per = {a: 3·2=6, b: 1·5=5}
    assert(rows.map(t => (t._1, t._2)).toSeq == Seq(("a", 6L), ("b", 5L)))
    assert(math.abs(rows(0)._3 - 6.0 / 5.5) < 1e-12)
    assert(graft.operators.Joins.joinSkewReport(left, right, "k", "k",
      topN = 1).count() == 1)
  }

  test("kaplanMeier: textbook product-limit values; censor-only times " +
    "emit no row but shrink the risk set; d=n sends S to exact 0; " +
    "partition sweep") {
    import spark.implicits._
    // events at t=1 (risk 4) and t=3 (risk 2), censorings at 2 and 4:
    // S(1) = 3/4, S(3) = 3/4 * 1/2 = 3/8
    val df = Seq((1L, true), (2L, false), (3L, true), (4L, false))
      .toDF("dur", "ev")
    val r = Analytics.kaplanMeier(df, "dur", col("ev")).collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
      x.getLong(3))).toSeq == Seq((1L, 4L, 1L, 0L), (3L, 2L, 1L, 0L)))
    assert(math.abs(r(0).getDouble(4) - 0.75) < 1e-9)
    assert(math.abs(r(1).getDouble(4) - 0.375) < 1e-9)
    // everyone dies: the last event time has d = n_risk -> S exactly 0
    val z = Analytics.kaplanMeier(
      Seq((1L, true), (2L, true)).toDF("dur", "ev"), "dur", col("ev"))
      .collect()
    assert(math.abs(z(0).getDouble(4) - 0.5) < 1e-9)
    assert(z(1).getDouble(4) == 0.0)
    // a censoring AT an event time is still at risk there
    val c = Analytics.kaplanMeier(
      Seq((1L, true), (1L, false), (2L, true)).toDF("dur", "ev"),
      "dur", col("ev")).collect()
    assert(c(0).getLong(1) == 3L && c(0).getLong(3) == 1L)
    assert(math.abs(c(0).getDouble(4) - 2.0 / 3) < 1e-9)
    partitionSweep { p =>
      Analytics.kaplanMeier(df.repartition(p), "dur", col("ev"))
        .collect().map(_.toSeq).toSeq
    }
  }

  test("quantileBin: equal-frequency bins; tied values share a bin; " +
    "constant column one bin; NULL value NULL bin; partition sweep") {
    import spark.implicits._
    val df = (1L to 10L).toDF("v")
    val b = graft.operators.Aggregations.quantileBin(df, "v", bins = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).forall(b(_) == 0L) && (6L to 10L).forall(b(_) == 1L))
    val ties = graft.operators.Aggregations.quantileBin(
      Seq(1L, 1L, 1L, 2L).toDF("v"), "v", bins = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ties(1L) == 0L && ties(2L) == 1L)
    val const = graft.operators.Aggregations.quantileBin(
      Seq(7L, 7L).toDF("v"), "v", bins = 4)
      .collect().map(_.getLong(1)).toSet
    assert(const == Set(0L))
    val wn = graft.operators.Aggregations.quantileBin(
      Seq(Some(1L), None).toDF("v"), "v", bins = 2).collect()
    assert(wn.exists(r => r.isNullAt(0) && r.isNullAt(1)))
    partitionSweep { p =>
      graft.operators.Aggregations.quantileBin(df.repartition(p), "v", 2)
        .collect().map(_.toSeq).toSeq
        .sortBy(_.head.asInstanceOf[Long])
    }
  }

  test("rollingCorr: exact +1/-1 on linear series; n=1 and " +
    "zero-variance windows NULL; range frame respects gaps; " +
    "partition sweep") {
    import spark.implicits._
    val pos = (0L to 3L).map(t => ("k", t, (t + 1).toDouble,
      2.0 * (t + 1)))
    val neg = (0L to 3L).map(t => ("m", t, (t + 1).toDouble,
      8.0 - 2.0 * t))
    val cst = Seq(("c", 0L, 1.0, 1.0), ("c", 1L, 1.0, 2.0))
    val df = (pos ++ neg ++ cst).toDF("k", "t", "x", "y")
    val r = graft.operators.TimeSeries.rollingCorr(df, Seq("k"), "t",
        "x", "y", lookback = 1)
      .collect().map(x => ((x.getString(0), x.getLong(1)),
        (x.getLong(4), Option(x.get(5))))).toMap
    assert(r(("k", 0L)) == (1L, None))
    for (t <- 1L to 3L) assert(r(("k", t)) == (2L, Some(1.0)))
    for (t <- 1L to 3L) assert(r(("m", t)) == (2L, Some(-1.0)))
    assert(r(("c", 1L)) == (2L, None), "zero x-variance must be NULL")
    // a gap wider than the lookback resets the window to n=1
    val gap = Seq(("g", 0L, 1.0, 2.0), ("g", 5L, 2.0, 4.0))
      .toDF("k", "t", "x", "y")
    val rg = graft.operators.TimeSeries.rollingCorr(gap, Seq("k"), "t",
        "x", "y", lookback = 1)
      .collect().map(x => x.getLong(1) -> x.getLong(4)).toMap
    assert(rg == Map(0L -> 1L, 5L -> 1L))
    partitionSweep { p =>
      graft.operators.TimeSeries.rollingCorr(df.repartition(p), Seq("k"),
          "t", "x", "y", 1)
        .collect().map(_.toSeq).toSeq.sortBy(t =>
          (t.head.toString, t(1).asInstanceOf[Long]))
    }
  }

  test("kruskalWallis: hand-computed tie-corrected H; By == global per " +
    "slice; all-tied slice NULL; single-group slice NULL; partition " +
    "sweep") {
    import spark.implicits._
    // a={1,2}, b={2,3}, c={5}: mid-ranks 1, 2.5, 2.5, 4, 5 →
    // R_a=3.5, R_b=6.5, R_c=5; H_raw = 12/30·(6.125+21.125+25) − 18 =
    // 2.9; ties Σ(t³−t)=6 → corr = 1 − 6/120 = 0.95; H = 2.9/0.95
    val g = Seq(("a", 1L), ("a", 2L), ("b", 2L), ("b", 3L), ("c", 5L))
      .toDF("grp", "v")
    val r = Analytics.kruskalWallis(g, "grp", "v").collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 5L)
    assert(math.abs(r.getDouble(2) - 2.9 / 0.95) < 1e-12, s"H ${r.get(2)}")
    val rows = Seq(
      ("s1", "a", 1L), ("s1", "a", 2L), ("s1", "b", 2L), ("s1", "b", 3L),
      ("s1", "c", 5L),
      ("s2", "a", 7L), ("s2", "b", 7L), ("s2", "c", 7L), // all tied → NULL
      ("s3", "a", 1L), ("s3", "a", 9L)) // k=1 → NULL
    // key column named "sl" (the operator's own output has a `k`
    // group-count column; a key literally named "k" would collide)
    val df = rows.toDF("sl", "grp", "v")
    val by = Analytics.kruskalWallisBy(df, Seq("sl"), "grp", "v")
      .collect().map(x => x.getString(0) -> x.toSeq.drop(1)).toMap
    for (sl <- Seq("s1", "s2", "s3")) {
      val slice = rows.filter(_._1 == sl).map(t => (t._2, t._3))
        .toDF("grp", "v")
      val w = Analytics.kruskalWallis(slice, "grp", "v").collect().head
      assert(by(sl) == w.toSeq, s"kruskalWallisBy $sl: ${by(sl)} vs $w")
    }
    assert(by("s2").last == null, "all-tied slice must emit NULL h")
    assert(by("s3").last == null, "single-group slice must emit NULL h")
    partitionSweep { p =>
      Analytics.kruskalWallisBy(df.repartition(p), Seq("sl"), "grp", "v")
        .collect().map(_.toSeq).toSeq.sortBy(_.head.toString)
    }
  }

  test("bhAdjust: statsmodels fdr_bh model incl. tie group sharing the " +
    "largest rank; cap at 1; NULL p passes through; partition sweep") {
    import spark.implicits._
    // p = [.01, .02, .02, .04, .5]: q = p·5/r with tie rank 3 →
    // [.05, .1/3, .05, .5]; suffix-inclusive min →
    // adj = [.1/3, .1/3, .1/3, .05, .5]
    val df = Seq(("a", 0.01), ("b", 0.02), ("c", 0.02), ("d", 0.04),
      ("e", 0.5)).toDF("id", "p")
    val adj = Analytics.bhAdjust(df, "p").collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(math.abs(adj("a") - 0.1 / 3) < 1e-15)
    assert(math.abs(adj("b") - 0.1 / 3) < 1e-15)
    assert(math.abs(adj("c") - 0.1 / 3) < 1e-15)
    assert(math.abs(adj("d") - 0.05) < 1e-15)
    assert(math.abs(adj("e") - 0.5) < 1e-15)
    // cap: q(0.9) = 1.8 → capped by suffix min to 0.95, q(0.95)=0.95
    val cap = Analytics.bhAdjust(
        Seq(("x", 0.9), ("y", 0.95)).toDF("id", "p"), "p")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(cap("x") == 0.95 && cap("y") == 0.95)
    // one p = 1.0 alone: adj = min(1, 1·1/1) = 1
    val one = Analytics.bhAdjust(Seq(("z", 1.0)).toDF("id", "p"), "p")
      .collect().head
    assert(one.getDouble(2) == 1.0)
    // NULL p: row survives, p_adj NULL, and n excludes it (others as
    // if the NULL row were absent)
    val wn = Analytics.bhAdjust(
        Seq(("a", Some(0.02)), ("b", None), ("c", Some(0.5)))
          .toDF("id", "p"), "p")
      .collect().map(r => r.getString(0) -> Option(r.get(2))).toMap
    assert(wn("b").isEmpty)
    assert(math.abs(wn("a").get.asInstanceOf[Double] - 0.04) < 1e-15)
    partitionSweep { p =>
      Analytics.bhAdjust(df.repartition(p), "p")
        .collect().map(_.toSeq).toSeq.sortBy(_.head.toString)
    }
  }

  test("pettittTest: hand case localizes the split; ties on both axes; " +
      "partition sweep") {
    // x = [0,0,5,5] at t = 1..4: s = [2,2,-2,-2], U = [2,4,2] over the
    // three splits -> K = 4 at t = 2, p = 2*exp(-6*16/(64+16))
    val df = Seq((1L, 0.0), (2L, 0.0), (3L, 5.0), (4L, 5.0)).toDF("t", "v")
    val r = Analytics.pettittTest(df, "t", "v").collect().head
    assert(r.getLong(0) == 4L && r.getLong(1) == 2L)
    assert(r.getDouble(2) == 4.0 && r.getDouble(3) == 4.0)
    assert(math.abs(r.getDouble(4) - 2.0 * math.exp(-96.0 / 80.0)) < 1e-15)
    // constant series: every U_t = 0, K = 0, p capped at 1, earliest t
    val flat = Seq((1L, 3.0), (2L, 3.0), (3L, 3.0)).toDF("t", "v")
    val rf = Analytics.pettittTest(flat, "t", "v").collect().head
    assert(rf.getDouble(3) == 0.0 && rf.getDouble(4) == 1.0 &&
      rf.getLong(1) == 1L)
    partitionSweep { p =>
      Analytics.pettittTest(df.repartition(p), "t", "v")
        .collect().map(_.toSeq).toSeq
    }
  }

  test("mannKendallTrend: monotone series golden; tie correction; " +
      "duplicate t raises; partition sweep") {
    val up = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("t", "y")
    val r = Analytics.mannKendallTrend(up, "t", "y").collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 3L)
    assert(math.abs(r.getDouble(2) - 66.0 / 18.0) < 1e-15)
    assert(math.abs(r.getDouble(3) - 2.0 / math.sqrt(66.0 / 18.0)) < 1e-15)
    assert(r.getDouble(4) == 1.0 && r.getDouble(5) == 0.0)
    // all-tied y: S = 0, Var = 0 (fully tie-corrected), z NULL
    val flat = Seq((1L, 2.0), (2L, 2.0), (3L, 2.0)).toDF("t", "y")
    val rf = Analytics.mannKendallTrend(flat, "t", "y").collect().head
    assert(rf.getLong(1) == 0L && rf.getDouble(2) == 0.0 && rf.isNullAt(3))
    // duplicate t is not a series: the tripwire must fire, not return
    val dup = Seq((1L, 1.0), (1L, 2.0), (2L, 3.0)).toDF("t", "y")
    intercept[Exception] {
      Analytics.mannKendallTrend(dup, "t", "y").collect()
    }
    partitionSweep { p =>
      Analytics.mannKendallTrend(up.repartition(p), "t", "y")
        .collect().map(_.toSeq).toSeq
    }
  }

  test("pettittTestBy == pettittTest per slice; NULL key slice; " +
      "single-t group absent; partition sweep") {
    val df = Seq(
      (Some("a"), 1L, 0.0), (Some("a"), 2L, 0.0),
      (Some("a"), 3L, 5.0), (Some("a"), 4L, 5.0),
      (Some("b"), 1L, 9.0), (Some("b"), 2L, 1.0), (Some("b"), 3L, 9.0),
      (None, 1L, 1.0), (None, 2L, 7.0),
      (Some("c"), 5L, 3.0) // one time point: no split, absent
    ).toDF("g", "t", "v")
    // the argmax orders t itself, so any orderable t works: a DATE too
    val dated = df.withColumn("t",
      date_add(lit("2024-01-01").cast("date"), col("t").cast("int")))
    for (d <- Seq(df, dated)) {
      val by = Analytics.pettittTestBy(d, Seq("g"), "t", "v")
        .collect().map(r => Option(r.getString(0)) -> r.toSeq.drop(1)).toMap
      assert(!by.contains(Some("c")) && by.size == 3)
      for (g <- Seq(Some("a"), Some("b"), None)) {
        val slice = d.filter(col("g") <=> g.map(lit).getOrElse(lit(null)))
        val global = Analytics.pettittTest(slice, "t", "v")
          .collect().head.toSeq
        assert(by(g) == global, s"slice $g: ${by(g)} vs $global")
      }
    }
    partitionSweep { p =>
      Analytics.pettittTestBy(df.repartition(p), Seq("g"), "t", "v")
        .collect().map(_.toSeq).toSeq
        .sortBy(r => String.valueOf(r.head))
    }
  }

  test("mannKendallTrendBy == mannKendallTrend per slice; NULL key " +
      "slice; single-point slice NULLs; dup t in one slice raises") {
    val df = Seq(
      (Some("a"), 1L, 1.0), (Some("a"), 2L, 2.0), (Some("a"), 3L, 3.0),
      (Some("b"), 1L, 5.0), (Some("b"), 2L, 1.0), (Some("b"), 3L, 4.0),
      (None, 1L, 2.0), (None, 2L, 2.0), (None, 3L, 2.0),
      (Some("c"), 9L, 7.0)).toDF("g", "t", "y")
    val by = Analytics.mannKendallTrendBy(df, Seq("g"), "t", "y")
      .collect().map(r => Option(r.getString(0)) -> r.toSeq.drop(1)).toMap
    for (g <- Seq(Some("a"), Some("b"), None)) {
      val slice = df.filter(col("g") <=> g.map(lit).getOrElse(lit(null)))
      val global = Analytics.mannKendallTrend(slice, "t", "y")
        .collect().head.toSeq
      assert(by(g) == global, s"slice $g: ${by(g)} vs $global")
    }
    // single-point slice: present, S=0, Var=0, NULL z/slope/intercept
    assert(by(Some("c")) == Seq(1L, 0L, 0.0, null, null, null))
    val dup = Seq(("a", 1L, 1.0), ("a", 1L, 2.0), ("b", 1L, 1.0))
      .toDF("g", "t", "y")
    intercept[Exception] {
      Analytics.mannKendallTrendBy(dup, Seq("g"), "t", "y").collect()
    }
  }

  test("rankBiasedOverlap: identical lists -> truncated max; disjoint " +
      "-> 0; hand overlap; short lists") {
    val a = Seq((1L, 30.0), (2L, 20.0), (3L, 10.0)).toDF("item", "score")
    val b = Seq((1L, 9.0), (2L, 8.0), (3L, 7.0)).toDF("item", "score")
    val k = 3; val p = 0.9
    // identical rankings: X_d = d, so RBO = (1-p) * sum p^(d-1)
    val rId = Analytics.rankBiasedOverlap(a, b, "item", "score", k, p)
      .collect().head
    val wExp = (1 to k).map(d =>
      BigDecimal(math.pow(p, d - 1) / d).setScale(12, BigDecimal.RoundingMode.HALF_UP))
    val expId = (1.0 - p) * (1 to k).map(d => d * wExp(d - 1).toDouble).sum
    assert(rId.getLong(2) == 3L)
    assert(math.abs(rId.getDouble(4) - expId) < 1e-9)
    // disjoint: rbo exactly 0
    val c = Seq((7L, 5.0), (8L, 4.0)).toDF("item", "score")
    val rDis = Analytics.rankBiasedOverlap(a, c, "item", "score", k, p)
      .collect().head
    assert(rDis.getLong(2) == 0L && rDis.getDouble(4) == 0.0)
    // hand case: a = [1,2,3], b' ranks item 3 first -> common m values:
    // item1 m=max(1,2)=2, item2 m=max(2,3)=3, item3 m=max(3,1)=3
    // X_1=0, X_2=1, X_3=3
    val b2 = Seq((3L, 9.0), (1L, 8.0), (2L, 7.0)).toDF("item", "score")
    val rH = Analytics.rankBiasedOverlap(a, b2, "item", "score", k, p)
      .collect().head
    val expH = (1.0 - p) * (wExp(1).toDouble * 1 + wExp(2).toDouble * 3)
    assert(math.abs(rH.getDouble(4) - expH) < 1e-9)
    // lists shorter than k: n_a/n_b report true sizes
    val rS = Analytics.rankBiasedOverlap(a, c, "item", "score", 10, p)
      .collect().head
    assert(rS.getLong(0) == 3L && rS.getLong(1) == 2L)
  }

  test("cochranArmitage: hand three-dose golden; single level NULL z; " +
      "partition sweep") {
    // doses 0/1/2, 10 trials each, 2/5/8 successes:
    // T = 21 - 15*30/30 = 6, Var = 0.25*(50 - 900/30) = 5
    val rows = (0 until 10).flatMap { i =>
      Seq((0L, i < 2), (1L, i < 5), (2L, i < 8)) }
    val df = rows.toDF("dose", "succ")
    val r = Analytics.cochranArmitage(df, "dose", col("succ"))
      .collect().head
    assert(r.getLong(0) == 30L && r.getLong(1) == 3L && r.getLong(2) == 15L)
    assert(r.getDouble(3) == 6.0 && r.getDouble(4) == 5.0)
    assert(math.abs(r.getDouble(5) - 6.0 / math.sqrt(5.0)) < 1e-15)
    // one level: Var = 0 -> z NULL
    val one = Seq((1L, true), (1L, false)).toDF("dose", "succ")
    assert(Analytics.cochranArmitage(one, "dose", col("succ"))
      .collect().head.isNullAt(5))
    partitionSweep { p =>
      Analytics.cochranArmitage(df.repartition(p), "dose", col("succ"))
        .collect().map(_.toSeq).toSeq
    }
  }

  test("quantileForecastEval: hand pinball + coverage; NULL forecast " +
      "excluded per level; partition sweep") {
    import graft.operators.TimeSeries
    // a=10, f=8: q=.5 -> .5*2=1; a=10, f=12: q=.5 -> .5*2 on the
    // (q-1) branch = 1; coverage: a<=f on the second row only
    val df = Seq((10.0, Some(8.0)), (10.0, Some(12.0)), (5.0, None))
      .toDF("a", "f")
    val r = TimeSeries.quantileForecastEval(df, "a",
        Seq(0.5 -> col("f"), 0.9 -> col("f")))
      .collect().map(x => x.getDouble(0) ->
        (x.getLong(1), x.getDouble(2), x.getDouble(3))).toMap
    assert(r(0.5) == ((2L, 1.0, 0.5)))
    // q=.9: row1 .9*2=1.8; row2 -(0.9-1)*(-2)=0.2 -> mean 1.0
    assert(r(0.9)._1 == 2L && math.abs(r(0.9)._2 - 1.0) < 1e-12)
    partitionSweep { p =>
      TimeSeries.quantileForecastEval(df.repartition(p), "a",
          Seq(0.5 -> col("f")))
        .collect().map(_.toSeq).toSeq
    }
  }

  test("adTest: hand midrank A2akN golden; symmetric in the groups; " +
      "all-tied NULL; partition sweep") {
    // a = [1,2], b = [1,3]: per pooled distinct value the midrank
    // terms are 0, 1/44 + 1/44 per side at v=2, 1/6 + ... — the full
    // hand chain sums to 14/33, A2 = (3/4)*(14/33) = 7/22
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 1.0), ("b", 3.0))
      .toDF("g", "v")
    val r = Analytics.adTest(df, "g", "v", "a", "b").collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)
    assert(math.abs(r.getDouble(2) - 7.0 / 22.0) < 1e-12)
    val rs = Analytics.adTest(df, "g", "v", "b", "a").collect().head
    assert(math.abs(rs.getDouble(2) - r.getDouble(2)) < 1e-15)
    // every row one value: denominator degenerates -> NULL
    val tied = Seq(("a", 5.0), ("a", 5.0), ("b", 5.0)).toDF("g", "v")
    assert(Analytics.adTest(tied, "g", "v", "a", "b")
      .collect().head.isNullAt(2))
    // separation grows the statistic (tail-sensitivity smoke)
    val sep = Seq(("a", 1.0), ("a", 2.0), ("b", 10.0), ("b", 11.0))
      .toDF("g", "v")
    assert(Analytics.adTest(sep, "g", "v", "a", "b")
      .collect().head.getDouble(2) > r.getDouble(2))
    partitionSweep { p =>
      Analytics.adTest(df.repartition(p), "g", "v", "a", "b")
        .collect().map(_.toSeq).toSeq
    }
  }

  test("adTestBy == adTest per slice; NULL key slice; all-tied slice " +
      "NULL; partition sweep") {
    val df = Seq(
      (Some("s1"), "a", 1.0), (Some("s1"), "a", 2.0),
      (Some("s1"), "b", 1.0), (Some("s1"), "b", 3.0),
      (Some("s2"), "a", 5.0), (Some("s2"), "a", 9.0),
      (Some("s2"), "b", 5.0), (Some("s2"), "b", 6.0),
      (None, "a", 1.0), (None, "a", 4.0), (None, "b", 2.0),
      (Some("s3"), "a", 7.0), (Some("s3"), "b", 7.0) // all tied: NULL
    ).toDF("k", "g", "v")
    val by = Analytics.adTestBy(df, Seq("k"), "g", "v", "a", "b")
      .collect().map(r => Option(r.getString(0)) -> r.toSeq.drop(1)).toMap
    for (k <- Seq(Some("s1"), Some("s2"), None)) {
      val slice = df.filter(col("k") <=> k.map(lit).getOrElse(lit(null)))
      val global = Analytics.adTest(slice, "g", "v", "a", "b")
        .collect().head.toSeq
      assert(by(k) == global, s"slice $k: ${by(k)} vs $global")
    }
    assert(by(Some("s3")).last == null)
    partitionSweep { p =>
      Analytics.adTestBy(df.repartition(p), Seq("k"), "g", "v", "a", "b")
        .collect().map(_.toSeq).toSeq
        .sortBy(r => String.valueOf(r.head))
    }
  }

  test("jonckheereTerpstra: hand two-group tie case; no-tie variance " +
      "matches the classic formula; rows outside groups ignored; " +
      "partition sweep") {
    // g1: [1,2], g2: [2,3] -> J = 3.5 (one cross-group tie at 2),
    // E = 2, Var = 102/72 + 0 + 8/96 = 1.5
    val df = Seq((1L, 1.0), (1L, 2.0), (2L, 2.0), (2L, 3.0),
      (9L, 99.0)).toDF("g", "v") // group 9 not listed: ignored
    val r = Analytics.jonckheereTerpstra(df, "g", "v", Seq(1L, 2L))
      .collect().head
    assert(r.getLong(0) == 4L && r.getLong(1) == 2L)
    assert(r.getDouble(2) == 3.5 && r.getDouble(3) == 2.0)
    assert(math.abs(r.getDouble(4) - 1.5) < 1e-12)
    assert(math.abs(r.getDouble(5) - 1.5 / math.sqrt(1.5)) < 1e-12)
    // no ties: Var must equal [N^2(2N+3) - sum n_i^2(2n_i+3)]/72
    val nt = Seq((1L, 1.0), (1L, 2.0), (2L, 3.0), (2L, 4.0)).toDF("g", "v")
    val rn = Analytics.jonckheereTerpstra(nt, "g", "v", Seq(1L, 2L))
      .collect().head
    assert(rn.getDouble(2) == 4.0)
    assert(math.abs(rn.getDouble(4) - 120.0 / 72.0) < 1e-12)
    partitionSweep { p =>
      Analytics.jonckheereTerpstra(df.repartition(p), "g", "v", Seq(1L, 2L))
        .collect().map(_.toSeq).toSeq
    }
  }

  test("noveltyCurve: golden new/returning split; duplicate visits " +
      "collapse; NULL keys dropped; partition sweep") {
    val df = Seq(
      (0L, Some(1L)), (0L, Some(2L)), (0L, Some(2L)), // dup visit
      (1L, Some(1L)), (1L, Some(3L)),
      (2L, Some(2L)), (2L, Some(3L)), (2L, None)      // null key dropped
    ).toDF("b", "k")
    def run(d: org.apache.spark.sql.DataFrame) =
      Analytics.noveltyCurve(d, "b", "k").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
    assert(run(df) == Seq((0L, 2L, 2L, 0L), (1L, 2L, 1L, 1L),
      (2L, 2L, 0L, 2L)))
    partitionSweep { p => run(df.repartition(p)) }
  }

  test("mcNemar / mcNemarBy: hand 2x2; zero-discordant NULLs; " +
      "By == global per slice") {
    val df = Seq(
      ("g1", true, true), ("g1", true, false), ("g1", true, false),
      ("g1", false, true), ("g1", false, false),
      ("g2", true, true), ("g2", false, false)).toDF("g", "a", "b")
    val r = Analytics.mcNemar(df.filter(col("g") === "g1"),
      col("a"), col("b")).collect().head
    assert(r.getLong(0) == 5L && r.getLong(1) == 2L && r.getLong(2) == 1L)
    assert(r.getDouble(3) == 0.0) // (|2-1|-1)^2/3 = 0
    assert(math.abs(r.getDouble(4) - 1.0 / math.sqrt(3.0)) < 1e-15)
    // g2 has no discordant pairs: chi2/z NULL, not zero
    val by = Analytics.mcNemarBy(df, Seq("g"), col("a"), col("b"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(by("g2").isNullAt(4) && by("g2").isNullAt(5))
    assert(by("g1").getLong(2) == 2L && by("g1").getLong(3) == 1L)
  }

  test("nelsonAalen: hand cumulative hazard + Aalen variance; " +
    "censor-only times emit no row but shrink the risk set; " +
    "partition sweep") {
    import spark.implicits._
    // events at t=1 (risk 4) and t=3 (risk 2), censorings at 2 and 4:
    // H(1) = 1/4, H(3) = 1/4 + 1/2 = 3/4; var 1/16 then 1/16 + 1/4
    val df = Seq((1L, true), (2L, false), (3L, true), (4L, false))
      .toDF("dur", "ev")
    val r = Analytics.nelsonAalen(df, "dur", col("ev")).collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
      x.getLong(3))).toSeq == Seq((1L, 4L, 1L, 0L), (3L, 2L, 1L, 0L)))
    assert(math.abs(r(0).getDouble(4) - 0.25) < 1e-9)
    assert(math.abs(r(0).getDouble(5) - 0.0625) < 1e-9)
    assert(math.abs(r(1).getDouble(4) - 0.75) < 1e-9)
    assert(math.abs(r(1).getDouble(5) - 0.3125) < 1e-9)
    partitionSweep { p =>
      Analytics.nelsonAalen(df.repartition(p), "dur", col("ev"))
        .collect().map(_.toSeq).toSeq
    }
  }

  test("logRankTest: hand hypergeometric O-E-V chain; times with no " +
    "event contribute nothing; one-sided group NULLs; partition sweep") {
    import spark.implicits._
    // A: events at 1, 2; B: event at 2, censored at 3.
    // t=1: ra=2 rb=2 d=1 da=1 -> E+=0.5, V+=1*2*2*3/(16*3)=0.25
    // t=2: ra=1 rb=2 d=2 da=1 -> E+=2/3, V+=2*1*2*1/(9*2)=2/9
    // t=3: no events. O=2, E=7/6, V=17/36
    val df = Seq(("a", 1L, true), ("a", 2L, true),
      ("b", 2L, true), ("b", 3L, false)).toDF("g", "dur", "ev")
    val r = Analytics.logRankTest(df, "g", "dur", col("ev"), "a", "b")
      .collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L && r.getLong(2) == 2L)
    assert(math.abs(r.getDouble(3) - 7.0 / 6.0) < 1e-9)
    assert(math.abs(r.getDouble(4) - 17.0 / 36.0) < 1e-9)
    val z = (2.0 - 7.0 / 6.0) / math.sqrt(17.0 / 36.0)
    assert(math.abs(r.getDouble(5) - z) < 1e-9)
    assert(math.abs(r.getDouble(6) - z * z) < 1e-9)
    // group b entirely absent: test undefined, z/chi2 NULL
    val solo = Analytics.logRankTest(
      df.filter(col("g") === "a"), "g", "dur", col("ev"), "a", "b")
      .collect().head
    assert(solo.isNullAt(5) && solo.isNullAt(6))
    partitionSweep { p =>
      Analytics.logRankTest(df.repartition(p), "g", "dur", col("ev"),
        "a", "b").collect().map(_.toSeq).toSeq
    }
  }

  test("energyDistance: hand pair-distance means via the prefix " +
    "identity; equal distributions give exactly 0; missing group " +
    "NULLs; By == global per slice; partition sweep") {
    import spark.implicits._
    // A = {0, 2}, B = {1, 3}: m_ab = 6/4, m_aa = 4/4, m_bb = 4/4, E = 1
    val df = Seq(("a", 0.0), ("a", 2.0), ("b", 1.0), ("b", 3.0))
      .toDF("g", "v")
    val r = Analytics.energyDistance(df, "g", "v", "a", "b")
      .collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)
    assert(math.abs(r.getDouble(2) - 1.5) < 1e-9)
    assert(math.abs(r.getDouble(3) - 1.0) < 1e-9)
    assert(math.abs(r.getDouble(4) - 1.0) < 1e-9)
    assert(math.abs(r.getDouble(5) - 1.0) < 1e-9)
    // identical distributions: E exactly 0 (the metric's zero axiom)
    val eq = Analytics.energyDistance(
      Seq(("a", 1.0), ("a", 2.0), ("b", 1.0), ("b", 2.0)).toDF("g", "v"),
      "g", "v", "a", "b").collect().head
    assert(math.abs(eq.getDouble(5)) < 1e-12)
    // group b absent: energy NULL, not zero
    val solo = Analytics.energyDistance(
      df.filter(col("g") === "a"), "g", "v", "a", "b").collect().head
    assert(solo.isNullAt(2) && solo.isNullAt(5))
    // By == global per slice (s0 = hand case, s1 = equal dists)
    val sliced = Seq(
      (0L, "a", 0.0), (0L, "a", 2.0), (0L, "b", 1.0), (0L, "b", 3.0),
      (1L, "a", 1.0), (1L, "a", 2.0), (1L, "b", 1.0), (1L, "b", 2.0))
      .toDF("s", "g", "v")
    val by = Analytics.energyDistanceBy(sliced, Seq("s"), "g", "v",
      "a", "b").collect().map(x => x.getLong(0) -> x).toMap
    assert(math.abs(by(0L).getDouble(6) - 1.0) < 1e-9)
    assert(math.abs(by(1L).getDouble(6)) < 1e-12)
    partitionSweep { p =>
      Analytics.energyDistance(df.repartition(p), "g", "v", "a", "b")
        .collect().map(_.toSeq).toSeq
    }
  }

  test("theilIndex: hand T = L = ln2/3 fixture; all-equal gives 0; " +
    "non-positive excluded and counted; By == global per slice") {
    import spark.implicits._
    // {1, 1, 4}: mu = 2, T = 8ln2/6 - ln2 = ln2/3, L = ln2 - 2ln2/3
    val df = Seq(1.0, 1.0, 4.0).toDF("v")
    val r = Analytics.theilIndex(df, "v").collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 0L)
    assert(math.abs(r.getDouble(2) - 2.0) < 1e-12)
    assert(math.abs(r.getDouble(3) - math.log(2.0) / 3.0) < 1e-9)
    assert(math.abs(r.getDouble(4) - math.log(2.0) / 3.0) < 1e-9)
    val eq = Analytics.theilIndex(Seq(5.0, 5.0).toDF("v"), "v")
      .collect().head
    assert(math.abs(eq.getDouble(3)) < 1e-9 &&
      math.abs(eq.getDouble(4)) < 1e-9)
    val ex = Analytics.theilIndex(
      Seq(2.0, 0.0, -1.0, 2.0).toDF("v"), "v").collect().head
    assert(ex.getLong(0) == 2L && ex.getLong(1) == 2L)
    val by = Analytics.theilIndexBy(
      Seq(("s0", 1.0), ("s0", 1.0), ("s0", 4.0), ("s1", 5.0), ("s1", 5.0))
        .toDF("s", "v"), Seq("s"), "v")
      .collect().map(x => x.getString(0) -> x).toMap
    assert(math.abs(by("s0").getDouble(4) - math.log(2.0) / 3.0) < 1e-9)
    assert(math.abs(by("s1").getDouble(4)) < 1e-9)
  }

  test("atkinsonIndex: eps=1 geometric form and eps=0.5 pow form on " +
    "the {1,4} hand case; all-equal gives 0") {
    import spark.implicits._
    val df = Seq(1.0, 4.0).toDF("v")
    // eps=1: 1 - geomean/mu = 1 - 2/2.5
    val a1 = Analytics.atkinsonIndex(df, "v", epsilon = 1.0)
      .collect().head
    assert(math.abs(a1.getDouble(3) - 0.2) < 1e-9)
    // eps=0.5: 1 - ((1+2)/2)^2 / 2.5 = 1 - 2.25/2.5
    val a05 = Analytics.atkinsonIndex(df, "v", epsilon = 0.5)
      .collect().head
    assert(math.abs(a05.getDouble(3) - 0.1) < 1e-9)
    val eq = Analytics.atkinsonIndex(Seq(3.0, 3.0).toDF("v"), "v")
      .collect().head
    assert(math.abs(eq.getDouble(3)) < 1e-9)
  }

  test("herfindahl: hand count and weighted shares; k=1 NULL norm; " +
    "By == global per slice; partition sweep") {
    import spark.implicits._
    // counts a,a,a,b: shares .75/.25 -> hhi .625, norm .25, eff 1.6
    val df = Seq("a", "a", "a", "b").toDF("g")
    val r = Analytics.herfindahl(df, "g").collect().head
    assert(r.getLong(0) == 2L)
    assert(math.abs(r.getDouble(1) - 0.625) < 1e-9)
    assert(math.abs(r.getDouble(2) - 0.25) < 1e-9)
    assert(math.abs(r.getDouble(3) - 1.6) < 1e-9)
    // weighted: a mass 1, b mass 3 -> hhi = 1/16 + 9/16 = 0.625
    val w = Analytics.herfindahl(
      Seq(("a", 1.0), ("b", 2.0), ("b", 1.0)).toDF("g", "w"),
      "g", Some("w")).collect().head
    assert(math.abs(w.getDouble(1) - 0.625) < 1e-9)
    // single group: hhi 1, norm NULL (undefined), eff 1
    val one = Analytics.herfindahl(Seq("a", "a").toDF("g"), "g")
      .collect().head
    assert(math.abs(one.getDouble(1) - 1.0) < 1e-9 && one.isNullAt(2))
    val by = Analytics.herfindahlBy(
      Seq(("s0", "a"), ("s0", "a"), ("s0", "a"), ("s0", "b"),
        ("s1", "a"), ("s1", "b")).toDF("s", "g"), Seq("s"), "g")
      .collect().map(x => x.getString(0) -> x).toMap
    assert(math.abs(by("s0").getDouble(2) - 0.625) < 1e-9)
    assert(math.abs(by("s1").getDouble(2) - 0.5) < 1e-9)
    partitionSweep { p =>
      Analytics.herfindahl(df.repartition(p), "g")
        .collect().map(_.toSeq).toSeq
    }
  }

  test("domain-contract guards (ADVICE r16): DW/ljungBox drop NULL " +
    "rows so n matches the sums; herfindahl excludes non-positive " +
    "weights; atkinson eps>1 excludes term-overflow rows visibly; " +
    "logRankStratified counts a NULL stratum") {
    import spark.implicits._
    import graft.operators.TimeSeries
    // DW: the NULL row is dropped entirely - n=4 (not 5), and only
    // the two adjacent-t pairs that survive count in n_pairs/num.
    val gap = Seq((0L, Some(1.0)), (1L, Some(2.0)), (2L, None),
      (3L, Some(0.0)), (4L, Some(3.0))).toDF("t", "v")
    val dw = TimeSeries.durbinWatson(gap, "t", "v").collect().head
    assert(dw.getLong(0) == 4L && dw.getLong(1) == 2L)
    assert(math.abs(dw.getDouble(2) - 10.0 / 14.0) < 1e-12)
    // ljungBox: n counts non-null rows only (4, not 5)
    val lb = TimeSeries.ljungBox(gap, "t", "v", maxLag = 1)
      .collect().head
    assert(lb.getLong(0) == 4L)
    // herfindahl: zero and negative weights are excluded - result
    // equals the clean weighted fixture (a mass 1, b mass 3)
    val hw = Analytics.herfindahl(
      Seq(("a", 1.0), ("b", 2.0), ("b", 1.0), ("b", -5.0), ("a", 0.0))
        .toDF("g", "w"), "g", Some("w")).collect().head
    assert(math.abs(hw.getDouble(1) - 0.625) < 1e-9)
    // atkinson eps=2: x=1e-17 has term 1/x = 1e17 >= 1e16 (the
    // decimal(28,12) bound) - excluded and COUNTED, not silently
    // nulled out of the sum. Included {1,4}: mean 2.5,
    // ede = (1.25/2)^(-1) = 1.6, A = 1 - 1.6/2.5 = 0.36.
    val at = Analytics.atkinsonIndex(
      Seq(1.0, 4.0, 1e-17).toDF("v"), "v", epsilon = 2.0)
      .collect().head
    assert(at.getLong(0) == 2L && at.getLong(1) == 1L)
    assert(math.abs(at.getDouble(2) - 2.5) < 1e-9)
    assert(math.abs(at.getDouble(3) - 0.36) < 1e-9)
    // logRankStratified: a NULL stratum is a valid slice and counts
    // in k_strata (countDistinct over the struct, not bare keys)
    val sn = Seq((null.asInstanceOf[String], "a", 1L, true),
      (null.asInstanceOf[String], "a", 2L, true),
      (null.asInstanceOf[String], "b", 2L, true),
      (null.asInstanceOf[String], "b", 3L, false),
      ("s1", "a", 1L, true), ("s1", "a", 5L, false),
      ("s1", "b", 1L, true), ("s1", "b", 2L, true))
      .toDF("s", "g", "dur", "ev")
    val lrs = Analytics.logRankStratified(sn, Seq("s"), "g", "dur",
      col("ev"), "a", "b").collect().head
    assert(lrs.getLong(0) == 2L)
    assert(lrs.getLong(1) == 4L && lrs.getLong(2) == 4L)
  }

  test("durbinWatson: hand DW=1 and DW=3 (alternating) fixtures; " +
    "all-zero NULL; partition sweep") {
    import spark.implicits._
    import graft.operators.TimeSeries
    // v=[1,2,0,3]: num (1+4+9)=14, den (1+4+0+9)=14 -> DW=1
    val df = Seq((0L, 1.0), (1L, 2.0), (2L, 0.0), (3L, 3.0)).toDF("t", "v")
    val r = TimeSeries.durbinWatson(df, "t", "v").collect().head
    assert(r.getLong(0) == 4L && r.getLong(1) == 3L)
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
    // alternating residuals: num 12, den 4 -> DW 3 (negative autocorr)
    val alt = TimeSeries.durbinWatson(
      Seq((0L, 1.0), (1L, -1.0), (2L, 1.0), (3L, -1.0)).toDF("t", "v"),
      "t", "v").collect().head
    assert(math.abs(alt.getDouble(2) - 3.0) < 1e-12)
    val z = TimeSeries.durbinWatson(
      Seq((0L, 0.0), (1L, 0.0)).toDF("t", "v"), "t", "v").collect().head
    assert(z.isNullAt(2))
    partitionSweep { p =>
      TimeSeries.durbinWatson(df.repartition(p), "t", "v")
        .collect().map(_.toSeq).toSeq
    }
  }

  test("ljungBox: hand Q on v=[1,2,0,3] h=2; constant series NULL") {
    import spark.implicits._
    import graft.operators.TimeSeries
    // r1=-0.65, r2=0.3: Q = 4*6*(0.4225/3 + 0.09/2) = 4.46
    val df = Seq((0L, 1.0), (1L, 2.0), (2L, 0.0), (3L, 3.0)).toDF("t", "v")
    val r = TimeSeries.ljungBox(df, "t", "v", maxLag = 2).collect().head
    assert(r.getLong(0) == 4L && r.getLong(1) == 2L)
    assert(math.abs(r.getDouble(2) - 4.46) < 1e-9)
    val c = TimeSeries.ljungBox(
      Seq((0L, 5.0), (1L, 5.0), (2L, 5.0)).toDF("t", "v"),
      "t", "v", maxLag = 1).collect().head
    assert(c.isNullAt(2))
  }

  test("ccf: hand lead-lag values on a shifted series; pair counts " +
    "per lag; partition sweep") {
    import spark.implicits._
    import graft.operators.TimeSeries
    // x=[1,2,0,3], y=[0,1,2,0] (x shifted +1): peak at lag +1
    val df = Seq((0L, 1.0, 0.0), (1L, 2.0, 1.0), (2L, 0.0, 2.0),
      (3L, 3.0, 0.0)).toDF("t", "x", "y")
    val r = TimeSeries.ccf(df, "t", "x", "y", maxLag = 1)
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r(-1L).getLong(1) == 3L && r(0L).getLong(1) == 4L &&
      r(1L).getLong(1) == 3L)
    assert(math.abs(r(1L).getDouble(2) - 1.625 / math.sqrt(13.75)) < 1e-9)
    assert(math.abs(r(0L).getDouble(2) - -2.5 / math.sqrt(13.75)) < 1e-9)
    assert(math.abs(r(-1L).getDouble(2) - 1.125 / math.sqrt(13.75)) < 1e-9)
    partitionSweep { p =>
      TimeSeries.ccf(df.repartition(p), "t", "x", "y", 1)
        .collect().map(_.toSeq).toSeq
    }
  }

  test("ordinalAssociation: hand gamma/Somers-D/tau chain with the " +
    "tau^2 = Dyx*Dxy identity; constant axis NULLs its statistic") {
    import spark.implicits._
    // cells (1,1)x1 (1,2)x1 (2,1)x1 (2,2)x2: nc=2 nd=1, Tx=Ty=4,
    // n0=10 -> gamma 1/3, Dyx = Dxy = tau_b = 1/6
    val df = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (2L, 2L))
      .toDF("x", "y")
    val r = Analytics.ordinalAssociation(df, "x", "y").collect().head
    assert(r.getLong(0) == 5L)
    assert(r.getDouble(1) == 2.0 && r.getDouble(2) == 1.0)
    assert(math.abs(r.getDouble(3) - 1.0 / 3.0) < 1e-12)
    assert(math.abs(r.getDouble(4) - 1.0 / 6.0) < 1e-12)
    assert(math.abs(r.getDouble(5) - 1.0 / 6.0) < 1e-12)
    assert(math.abs(r.getDouble(6) - 1.0 / 6.0) < 1e-12)
    assert(math.abs(r.getDouble(6) * r.getDouble(6) -
      r.getDouble(4) * r.getDouble(5)) < 1e-12)
    // constant y: gamma undefined (no untied pairs), D_xy undefined,
    // D_yx = 0 (pairs untied on x exist, none concordant/discordant)
    val cy = Analytics.ordinalAssociation(
      Seq((1L, 1L), (2L, 1L)).toDF("x", "y"), "x", "y").collect().head
    assert(cy.isNullAt(3) && cy.isNullAt(5) && cy.getDouble(4) == 0.0)
  }

  test("dunnTest: hand pairwise z on three clean groups; all-tied " +
    "values NULL z; partition sweep") {
    import spark.implicits._
    // a={1,2} b={3,4} c={5}: ranks 1..5, V=2.5, pairs as computed
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 4.0),
      ("c", 5.0)).toDF("g", "v")
    val r = Analytics.dunnTest(df, "g", "v").collect()
      .map(x => (x.getString(0), x.getString(1)) -> x).toMap
    assert(r.size == 3)
    val ab = r(("a", "b"))
    assert(ab.getLong(2) == 2L && ab.getLong(3) == 2L)
    assert(math.abs(ab.getDouble(4) - 1.5) < 1e-12)
    assert(math.abs(ab.getDouble(5) - 3.5) < 1e-12)
    assert(math.abs(ab.getDouble(6) - -2.0 / math.sqrt(2.5)) < 1e-9)
    assert(math.abs(r(("a", "c")).getDouble(6) -
      -3.5 / math.sqrt(3.75)) < 1e-9)
    assert(math.abs(r(("b", "c")).getDouble(6) -
      -1.5 / math.sqrt(3.75)) < 1e-9)
    // every value tied: variance 0, z NULL
    val tied = Analytics.dunnTest(
      Seq(("a", 1.0), ("a", 1.0), ("b", 1.0)).toDF("g", "v"), "g", "v")
      .collect().head
    assert(tied.isNullAt(6))
    partitionSweep { p =>
      Analytics.dunnTest(df.repartition(p), "g", "v")
        .collect().map(_.toSeq).toSeq.sortBy(_.head.toString)
    }
  }

  test("kendallW: perfect agreement W=1; near-reversal W=1/9; " +
    "incomplete items excluded; chi2 = m(n-1)W") {
    import spark.implicits._
    val perfect = Seq(
      ("j1", "i1", 1.0), ("j1", "i2", 2.0), ("j1", "i3", 3.0),
      ("j2", "i1", 1.5), ("j2", "i2", 2.5), ("j2", "i3", 3.5),
      ("j3", "i1", 0.5), ("j3", "i2", 1.5), ("j3", "i3", 2.5))
      .toDF("j", "i", "v")
    val p = Analytics.kendallW(perfect, "j", "i", "v").collect().head
    assert(p.getLong(0) == 3L && p.getLong(1) == 3L && p.getLong(2) == 0L)
    assert(math.abs(p.getDouble(3) - 1.0) < 1e-9)
    assert(math.abs(p.getDouble(4) - 3.0 * 2.0 * 1.0) < 1e-9)
    // one judge reversed: R = [5,6,7], W = 24/216 = 1/9
    val mixed = Seq(
      ("j1", "i1", 1.0), ("j1", "i2", 2.0), ("j1", "i3", 3.0),
      ("j2", "i1", 3.0), ("j2", "i2", 2.0), ("j2", "i3", 1.0),
      ("j3", "i1", 1.0), ("j3", "i2", 2.0), ("j3", "i3", 3.0))
      .toDF("j", "i", "v")
    val mx = Analytics.kendallW(mixed, "j", "i", "v").collect().head
    assert(math.abs(mx.getDouble(3) - 1.0 / 9.0) < 1e-9)
    // item i4 scored by one judge only: excluded, result unchanged
    val inc = Analytics.kendallW(
      mixed.union(Seq(("j1", "i4", 9.0)).toDF("j", "i", "v")),
      "j", "i", "v").collect().head
    assert(inc.getLong(1) == 3L && inc.getLong(2) == 1L)
    assert(math.abs(inc.getDouble(3) - 1.0 / 9.0) < 1e-9)
  }

  test("fleissKappa: classic two-rater hand case kappa = -1/3; " +
    "wrong-arity subjects excluded; single-category NULL") {
    import spark.implicits._
    import graft.functions.ML
    // s1: X,X; s2: X,Y -> Pbar .5, Pe .625, kappa -1/3
    val df = Seq(("s1", "X"), ("s1", "X"), ("s2", "X"), ("s2", "Y"))
      .toDF("s", "k")
    val r = ML.fleissKappa(df, "s", "k", raters = 2).collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 0L && r.getInt(2) == 2)
    assert(math.abs(r.getDouble(3) - 0.5) < 1e-12)
    assert(math.abs(r.getDouble(4) - 0.625) < 1e-12)
    assert(math.abs(r.getDouble(5) - -1.0 / 3.0) < 1e-9)
    // a 3-rating subject is excluded, result unchanged
    val ex = ML.fleissKappa(
      df.union(Seq(("s3", "X"), ("s3", "X"), ("s3", "Y")).toDF("s", "k")),
      "s", "k", raters = 2).collect().head
    assert(ex.getLong(0) == 2L && ex.getLong(1) == 1L)
    assert(math.abs(ex.getDouble(5) - -1.0 / 3.0) < 1e-9)
    // all ratings one category: Pe = 1, kappa undefined
    val one = ML.fleissKappa(
      Seq(("s1", "X"), ("s1", "X"), ("s2", "X"), ("s2", "X"))
        .toDF("s", "k"), "s", "k", raters = 2).collect().head
    assert(one.isNullAt(5))
  }

  test("cmhTest: single-stratum hand 2x2 (OR=8, Yates chi2); " +
    "two-stratum pooling sums term by term") {
    import spark.implicits._
    // stratum s0: a=10 b=5 c=3 d=12 -> E=6.5, V=15*15*13*17/(900*29),
    // OR_MH = (10*12/30)/(5*3/30) = 8
    def rows(s: String, e: Boolean, o: Boolean, n: Int) =
      Seq.fill(n)((s, e, o))
    val s0 = rows("s0", true, true, 10) ++ rows("s0", true, false, 5) ++
      rows("s0", false, true, 3) ++ rows("s0", false, false, 12)
    val df = s0.toDF("s", "e", "o")
    val r = Analytics.cmhTest(df, Seq("s"), col("e"), col("o"))
      .collect().head
    assert(r.getLong(0) == 1L && r.getLong(1) == 30L && r.getLong(2) == 10L)
    assert(math.abs(r.getDouble(3) - 6.5) < 1e-12)
    val v0 = 15.0 * 15.0 * 13.0 * 17.0 / (900.0 * 29.0)
    assert(math.abs(r.getDouble(4) - v0) < 1e-9)
    assert(math.abs(r.getDouble(5) - 8.0) < 1e-9)
    assert(math.abs(r.getDouble(6) - 3.0 * 3.0 / v0) < 1e-9)
    // second stratum s1: a=2 b=2 c=2 d=2 -> E=2, V=16/(16*3*... n=8:
    // V = 4*4*4*4/(64*7) = 256/448; ad/n = bc/n = 0.5 each
    val df2 = (s0 ++ rows("s1", true, true, 2) ++ rows("s1", true, false, 2)
      ++ rows("s1", false, true, 2) ++ rows("s1", false, false, 2))
      .toDF("s", "e", "o")
    val r2 = Analytics.cmhTest(df2, Seq("s"), col("e"), col("o"))
      .collect().head
    assert(r2.getLong(0) == 2L && r2.getLong(2) == 12L)
    assert(math.abs(r2.getDouble(3) - 8.5) < 1e-12)
    assert(math.abs(r2.getDouble(4) - (v0 + 256.0 / 448.0)) < 1e-9)
    assert(math.abs(r2.getDouble(5) - (4.0 + 0.5) / (0.5 + 0.5)) < 1e-9)
  }

  test("friedmanTest: perfect consistency chi2 = b(k-1); one reversed " +
    "block W=0.25; incomplete block excluded") {
    import spark.implicits._
    def block(b: String, v1: Double, v2: Double, v3: Double) =
      Seq((b, "t1", v1), (b, "t2", v2), (b, "t3", v3))
    val perfect = (block("b1", 1, 2, 3) ++ block("b2", 4, 5, 6) ++
      block("b3", 1, 5, 9) ++ block("b4", 0, 1, 2)).toDF("b", "t", "v")
    val p = Analytics.friedmanTest(perfect, "b", "t", "v").collect().head
    assert(p.getLong(0) == 4L && p.getLong(1) == 3L && p.getLong(2) == 0L)
    assert(math.abs(p.getDouble(3) - 1.0) < 1e-9)
    assert(math.abs(p.getDouble(4) - 8.0) < 1e-9)
    // b4 reversed: R = [6,8,10], W = 96/384 = 0.25, chi2 = 2
    val mixed = (block("b1", 1, 2, 3) ++ block("b2", 4, 5, 6) ++
      block("b3", 1, 5, 9) ++ block("b4", 2, 1, 0)).toDF("b", "t", "v")
    val mx = Analytics.friedmanTest(mixed, "b", "t", "v").collect().head
    assert(math.abs(mx.getDouble(3) - 0.25) < 1e-9)
    assert(math.abs(mx.getDouble(4) - 2.0) < 1e-9)
    // a block missing t3 is excluded, result unchanged
    val inc = Analytics.friedmanTest(
      mixed.union(Seq(("b5", "t1", 1.0), ("b5", "t2", 2.0)).toDF("b", "t", "v")),
      "b", "t", "v").collect().head
    assert(inc.getLong(0) == 4L && inc.getLong(2) == 1L)
    assert(math.abs(inc.getDouble(4) - 2.0) < 1e-9)
  }

  test("cochranQ: textbook Q = 8/3; incomplete subject excluded; " +
    "all-success NULL") {
    import spark.implicits._
    // subjects x (t1,t2,t3): (1,1,0),(1,0,0),(1,1,1),(0,1,0)
    // C=(3,3,1) T=7 R=(2,1,3,1) SR2=15: Q = 2*(3*19-49)/(21-15) = 8/3
    val rows = Seq(
      ("s1", "t1", 1), ("s1", "t2", 1), ("s1", "t3", 0),
      ("s2", "t1", 1), ("s2", "t2", 0), ("s2", "t3", 0),
      ("s3", "t1", 1), ("s3", "t2", 1), ("s3", "t3", 1),
      ("s4", "t1", 0), ("s4", "t2", 1), ("s4", "t3", 0))
      .toDF("s", "t", "x")
    val r = Analytics.cochranQ(rows, "s", "t", col("x") === 1)
      .collect().head
    assert(r.getLong(0) == 4L && r.getLong(1) == 0L && r.getLong(2) == 3L)
    assert(math.abs(r.getDouble(3) - 8.0 / 3.0) < 1e-12)
    assert(r.getLong(4) == 2L)
    // subject missing a treatment: excluded, Q unchanged
    val inc = Analytics.cochranQ(
      rows.union(Seq(("s5", "t1", 1)).toDF("s", "t", "x")),
      "s", "t", col("x") === 1).collect().head
    assert(inc.getLong(0) == 4L && inc.getLong(1) == 1L)
    assert(math.abs(inc.getDouble(3) - 8.0 / 3.0) < 1e-12)
    // every cell succeeds: k*T - SR2 = 0 -> NULL
    val all = Analytics.cochranQ(
      Seq(("s1", "t1", 1), ("s1", "t2", 1), ("s2", "t1", 1),
        ("s2", "t2", 1)).toDF("s", "t", "x"),
      "s", "t", col("x") === 1).collect().head
    assert(all.isNullAt(3))
  }

  test("bartlettTest: hand two-group chain; singleton group excluded; " +
    "zero-variance group NULLs") {
    import spark.implicits._
    // a={1,2,3} s2=1, b={2,4,6} s2=4: raw = 4 ln2.5 - 2 ln4, corr 1.25
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 2.0), ("b", 4.0), ("b", 6.0)).toDF("g", "v")
    val r = Analytics.bartlettTest(df, "g", "v").collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 0L && r.getLong(2) == 6L)
    val raw = 4.0 * math.log(2.5) - 2.0 * math.log(4.0)
    assert(math.abs(r.getDouble(3) - raw / 1.25) < 1e-9)
    assert(r.getLong(4) == 1L)
    // singleton group c excluded and counted
    val ex = Analytics.bartlettTest(
      df.union(Seq(("c", 9.0)).toDF("g", "v")), "g", "v").collect().head
    assert(ex.getLong(0) == 2L && ex.getLong(1) == 1L)
    assert(math.abs(ex.getDouble(3) - raw / 1.25) < 1e-9)
    // a zero-variance group: ln 0 undefined -> NULL chi2
    val z = Analytics.bartlettTest(
      df.union(Seq(("c", 9.0), ("c", 9.0)).toDF("g", "v")), "g", "v")
      .collect().head
    assert(z.isNullAt(3))
  }

  test("pageTrendTest: perfect ascending order L=56 z=2sqrt2; " +
    "off-order treatments ignored; incomplete block excluded") {
    import spark.implicits._
    def block(b: String, v1: Double, v2: Double, v3: Double) =
      Seq((b, "t1", v1), (b, "t2", v2), (b, "t3", v3))
    val perfect = (block("b1", 1, 2, 3) ++ block("b2", 4, 5, 6) ++
      block("b3", 1, 5, 9) ++ block("b4", 0, 1, 2)).toDF("b", "t", "v")
    val r = Analytics.pageTrendTest(perfect, "b", "t", "v",
      Seq("t1", "t2", "t3")).collect().head
    assert(r.getLong(0) == 4L && r.getLong(1) == 3L && r.getLong(2) == 0L)
    assert(math.abs(r.getDouble(3) - 56.0) < 1e-12)
    assert(math.abs(r.getDouble(4) - 48.0) < 1e-12)
    assert(math.abs(r.getDouble(6) - 8.0 / math.sqrt(8.0)) < 1e-9)
    // an unknown treatment is ignored; a block missing t3 is excluded
    val noisy = perfect
      .union(Seq(("b1", "t9", 99.0), ("b5", "t1", 1.0), ("b5", "t2", 2.0))
        .toDF("b", "t", "v"))
    val n = Analytics.pageTrendTest(noisy, "b", "t", "v",
      Seq("t1", "t2", "t3")).collect().head
    assert(n.getLong(0) == 4L && n.getLong(2) == 1L)
    assert(math.abs(n.getDouble(3) - 56.0) < 1e-12)
  }

  test("krippendorffAlpha: hand nominal cases (0, 1, -0.5); " +
    "single-rating unit excluded; one-category NULL") {
    import spark.implicits._
    import graft.functions.ML
    // (X,X),(X,Y): Do = 2/4, De = 6/12 -> alpha 0
    val a0 = ML.krippendorffAlpha(
      Seq(("u1", "X"), ("u1", "X"), ("u2", "X"), ("u2", "Y"))
        .toDF("u", "k"), "u", "k").collect().head
    assert(a0.getLong(0) == 2L && a0.getLong(2) == 4L)
    assert(math.abs(a0.getDouble(5)) < 1e-12)
    // (X,X),(Y,Y): perfect agreement
    val a1 = ML.krippendorffAlpha(
      Seq(("u1", "X"), ("u1", "X"), ("u2", "Y"), ("u2", "Y"))
        .toDF("u", "k"), "u", "k").collect().head
    assert(math.abs(a1.getDouble(5) - 1.0) < 1e-12)
    // (X,Y),(X,Y): systematic disagreement -0.5
    val am = ML.krippendorffAlpha(
      Seq(("u1", "X"), ("u1", "Y"), ("u2", "X"), ("u2", "Y"))
        .toDF("u", "k"), "u", "k").collect().head
    assert(math.abs(am.getDouble(5) - -0.5) < 1e-12)
    // a single-rating unit is excluded and counted, result unchanged
    val ex = ML.krippendorffAlpha(
      Seq(("u1", "X"), ("u1", "X"), ("u2", "Y"), ("u2", "Y"), ("u3", "X"))
        .toDF("u", "k"), "u", "k").collect().head
    assert(ex.getLong(0) == 2L && ex.getLong(1) == 1L)
    assert(math.abs(ex.getDouble(5) - 1.0) < 1e-12)
    // every rating one category: De = 0 -> NULL
    val one = ML.krippendorffAlpha(
      Seq(("u1", "X"), ("u1", "X"), ("u2", "X"), ("u2", "X"))
        .toDF("u", "k"), "u", "k").collect().head
    assert(one.isNullAt(5))
  }

  test("tostEquivalence: hand two-one-sided chain (se, dof=4, both " +
    "t's); degenerate side NULLs") {
    import spark.implicits._
    // a={1,2,3} b={1.5,2.5,3.5}: diff=-0.5, se2=2/3, dof=4
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 1.5), ("b", 2.5), ("b", 3.5)).toDF("g", "v")
    val r = Analytics.tostEquivalence(df, "g", "v", "a", "b",
      margin = 1.0).collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 3L)
    assert(math.abs(r.getDouble(4) - -0.5) < 1e-9)
    val se = math.sqrt(2.0 / 3.0)
    assert(math.abs(r.getDouble(5) - se) < 1e-9)
    assert(math.abs(r.getDouble(6) - 4.0) < 1e-9)
    assert(r.getDouble(7) == 1.0)
    assert(math.abs(r.getDouble(8) - 0.5 / se) < 1e-9)
    assert(math.abs(r.getDouble(9) - -1.5 / se) < 1e-9)
    // one-point side: variance undefined -> NULL se/t's
    val solo = Analytics.tostEquivalence(
      Seq(("a", 1.0), ("b", 2.0), ("b", 3.0)).toDF("g", "v"),
      "g", "v", "a", "b", margin = 1.0).collect().head
    assert(solo.isNullAt(5) && solo.isNullAt(8) && solo.isNullAt(9))
  }

  test("gwetAC1: the prevalence contrast - AC1 = 0.2 where Fleiss " +
    "kappa = -1/3 on the same cells; single-category NULL") {
    import spark.implicits._
    import graft.functions.ML
    val df = Seq(("s1", "X"), ("s1", "X"), ("s2", "X"), ("s2", "Y"))
      .toDF("s", "k")
    val r = ML.gwetAC1(df, "s", "k", raters = 2).collect().head
    assert(r.getLong(0) == 2L && r.getLong(3) == 2L)
    assert(math.abs(r.getDouble(4) - 0.5) < 1e-12)
    assert(math.abs(r.getDouble(5) - 0.375) < 1e-12)
    assert(math.abs(r.getDouble(6) - 0.2) < 1e-12)
    // same data, kappa = -1/3: the documented prevalence warning gap
    val kap = ML.fleissKappa(df, "s", "k", raters = 2).collect().head
    assert(math.abs(kap.getDouble(5) - -1.0 / 3.0) < 1e-9)
    // one category observed: chance term undefined
    val one = ML.gwetAC1(
      Seq(("s1", "X"), ("s1", "X"), ("s2", "X"), ("s2", "X"))
        .toDF("s", "k"), "s", "k", raters = 2).collect().head
    assert(one.isNullAt(6))
  }

  test("linConcordance: y=2x gives r=1 but ccc=4/11; identity gives " +
    "ccc=1; constant side NULL r") {
    import spark.implicits._
    import graft.functions.ML
    val df = Seq((1.0, 2.0), (2.0, 4.0), (3.0, 6.0)).toDF("x", "y")
    val r = ML.linConcordance(df, "x", "y").collect().head
    assert(r.getLong(0) == 3L)
    assert(math.abs(r.getDouble(3) - 1.0) < 1e-9)
    assert(math.abs(r.getDouble(4) - 4.0 / 11.0) < 1e-9)
    assert(math.abs(r.getDouble(5) - 4.0 / 11.0) < 1e-9)
    val id = ML.linConcordance(
      Seq((1.0, 1.0), (2.0, 2.0), (5.0, 5.0)).toDF("x", "y"), "x", "y")
      .collect().head
    assert(math.abs(id.getDouble(4) - 1.0) < 1e-12)
    val const = ML.linConcordance(
      Seq((1.0, 1.0), (1.0, 2.0)).toDF("x", "y"), "x", "y")
      .collect().head
    assert(const.isNullAt(3)) // zero x-variance: r undefined
  }

  test("blandAltman: alternating differences give bias 0 and " +
    "sd 2/sqrt3; n=1 NULL limits") {
    import spark.implicits._
    import graft.functions.ML
    val df = Seq((2.0, 1.0), (1.0, 2.0), (2.0, 1.0), (1.0, 2.0))
      .toDF("x", "y")
    val r = ML.blandAltman(df, "x", "y").collect().head
    assert(r.getLong(0) == 4L)
    assert(math.abs(r.getDouble(1)) < 1e-12)
    val sd = 2.0 / math.sqrt(3.0)
    assert(math.abs(r.getDouble(2) - sd) < 1e-9)
    assert(math.abs(r.getDouble(3) - -1.96 * sd) < 1e-9)
    assert(math.abs(r.getDouble(4) - 1.96 * sd) < 1e-9)
    val one = ML.blandAltman(Seq((1.0, 2.0)).toDF("x", "y"), "x", "y")
      .collect().head
    assert(one.isNullAt(2) && one.isNullAt(3))
  }

  test("icc21: hand two-way decomposition (rater bias penalized to " +
    "0.8, bias-free case 1.0); incomplete subject excluded") {
    import spark.implicits._
    import graft.functions.ML
    // s1: r1=1 r2=2; s2: r1=3 r2=4 -> MSR=4 MSC=1 MSE=0, ICC=4/5
    val df = Seq(("s1", "r1", 1.0), ("s1", "r2", 2.0),
      ("s2", "r1", 3.0), ("s2", "r2", 4.0)).toDF("s", "r", "v")
    val r = ML.icc21(df, "s", "r", "v").collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 0L && r.getLong(2) == 2L)
    assert(math.abs(r.getDouble(3) - 4.0) < 1e-9)
    assert(math.abs(r.getDouble(4) - 1.0) < 1e-9)
    assert(math.abs(r.getDouble(5)) < 1e-9)
    assert(math.abs(r.getDouble(6) - 0.8) < 1e-9)
    // no rater bias: perfect absolute agreement
    val perfect = ML.icc21(
      Seq(("s1", "r1", 1.0), ("s1", "r2", 1.0),
        ("s2", "r1", 3.0), ("s2", "r2", 3.0)).toDF("s", "r", "v"),
      "s", "r", "v").collect().head
    assert(math.abs(perfect.getDouble(6) - 1.0) < 1e-9)
    // subject missing a rater: excluded and counted
    val ex = ML.icc21(
      df.union(Seq(("s3", "r1", 9.0)).toDF("s", "r", "v")),
      "s", "r", "v").collect().head
    assert(ex.getLong(0) == 2L && ex.getLong(1) == 1L)
    assert(math.abs(ex.getDouble(6) - 0.8) < 1e-9)
  }

  test("cronbachAlpha: perfectly correlated items give 1, independent " +
    "mix gives 0; incomplete subject excluded; zero-total-var NULL") {
    import spark.implicits._
    import graft.functions.ML
    val perfect = Seq(("s1", "i1", 1.0), ("s1", "i2", 1.0),
      ("s2", "i1", 3.0), ("s2", "i2", 3.0)).toDF("s", "i", "v")
    val p = ML.cronbachAlpha(perfect, "s", "i", "v").collect().head
    assert(p.getLong(0) == 2L && p.getLong(2) == 2L)
    assert(math.abs(p.getDouble(3) - 4.0) < 1e-9) // 2 + 2
    assert(math.abs(p.getDouble(4) - 8.0) < 1e-9)
    assert(math.abs(p.getDouble(5) - 1.0) < 1e-9)
    // checkerboard: item variances 1/3 each, total var 2/3 -> alpha 0
    val indep = Seq(("s1", "i1", 1.0), ("s1", "i2", 0.0),
      ("s2", "i1", 0.0), ("s2", "i2", 1.0),
      ("s3", "i1", 1.0), ("s3", "i2", 1.0),
      ("s4", "i1", 0.0), ("s4", "i2", 0.0)).toDF("s", "i", "v")
    val z = ML.cronbachAlpha(indep, "s", "i", "v").collect().head
    assert(math.abs(z.getDouble(5)) < 1e-9)
    // incomplete subject excluded
    val ex = ML.cronbachAlpha(
      perfect.union(Seq(("s3", "i1", 9.0)).toDF("s", "i", "v")),
      "s", "i", "v").collect().head
    assert(ex.getLong(0) == 2L && ex.getLong(1) == 1L)
    assert(math.abs(ex.getDouble(5) - 1.0) < 1e-9)
    // constant totals: total variance 0 -> NULL
    val const = ML.cronbachAlpha(
      Seq(("s1", "i1", 1.0), ("s1", "i2", 0.0),
        ("s2", "i1", 0.0), ("s2", "i2", 1.0)).toDF("s", "i", "v"),
      "s", "i", "v").collect().head
    assert(const.isNullAt(5))
  }

  test("conoverSquaredRanks: hand normalized-score chain (z = sqrt3); " +
    "all-tied deviations NULL; partition sweep") {
    import spark.implicits._
    // a = {0,10} (u=5,5), b = {4,6} (u=1,1): mid-ranks 3.5 / 1.5,
    // s = (7/8)^2, (3/8)^2: T=1.53125, E=0.90625, Var=0.13020833
    val df = Seq(("a", 0.0), ("a", 10.0), ("b", 4.0), ("b", 6.0))
      .toDF("g", "v")
    val r = Analytics.conoverSquaredRanks(df, "g", "v", "a", "b")
      .collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)
    assert(math.abs(r.getDouble(2) - 1.53125) < 1e-9)
    assert(math.abs(r.getDouble(3) - 0.90625) < 1e-9)
    assert(math.abs(r.getDouble(4) - 0.09765625 * 4.0 / 3.0) < 1e-9)
    assert(math.abs(r.getDouble(5) - math.sqrt(3.0)) < 1e-9)
    // equal dispersions of constant deviation: sigma_s = 0 -> NULL z
    val tied = Analytics.conoverSquaredRanks(
      Seq(("a", 1.0), ("a", 3.0), ("b", 5.0), ("b", 7.0)).toDF("g", "v"),
      "g", "v", "a", "b").collect().head
    assert(tied.isNullAt(5)) // every u = 1: one distinct deviation
    partitionSweep { p =>
      Analytics.conoverSquaredRanks(df.repartition(p), "g", "v", "a", "b")
        .collect().map(_.toSeq).toSeq
    }
  }

  test("riskRatio: hand RR=2, Katz CI, Cohen's h = pi/6; zero-success " +
    "side NULL rr but defined h") {
    import spark.implicits._
    val df = Seq(("a", 1), ("a", 1), ("a", 0), ("a", 0),
      ("b", 1), ("b", 0), ("b", 0), ("b", 0)).toDF("g", "x")
    val r = Analytics.riskRatio(df, "g", col("x") === 1, "a", "b")
      .collect().head
    assert(r.getLong(0) == 4L && r.getLong(2) == 2L && r.getLong(3) == 1L)
    assert(math.abs(r.getDouble(6) - 2.0) < 1e-12)
    val se = math.sqrt(1.0 / 2 - 1.0 / 4 + 1.0 / 1 - 1.0 / 4)
    assert(math.abs(r.getDouble(7) - math.exp(math.log(2.0) - 1.96 * se)) < 1e-9)
    assert(math.abs(r.getDouble(8) - math.exp(math.log(2.0) + 1.96 * se)) < 1e-9)
    assert(math.abs(r.getDouble(9) - math.Pi / 6.0) < 1e-9)
    val z = Analytics.riskRatio(
      Seq(("a", 1), ("b", 0)).toDF("g", "x"), "g", col("x") === 1,
      "a", "b").collect().head
    assert(z.isNullAt(6) && !z.isNullAt(9))
  }

  test("rateRatio: hand Poisson rates (2x, se = sqrt(0.35)); zero " +
    "events NULL ratio") {
    import spark.implicits._
    val df = Seq(("a", 6L, 3.0), ("a", 4L, 2.0), ("b", 4L, 4.0))
      .toDF("g", "ev", "exp")
    val r = Analytics.rateRatio(df, "g", "ev", "exp", "a", "b")
      .collect().head
    assert(r.getLong(0) == 10L && r.getLong(1) == 4L)
    assert(math.abs(r.getDouble(2) - 5.0) < 1e-12)
    assert(math.abs(r.getDouble(4) - 2.0) < 1e-12)
    assert(math.abs(r.getDouble(6) - 2.0) < 1e-12)
    val se = math.sqrt(0.35)
    assert(math.abs(r.getDouble(7) - math.exp(math.log(2.0) - 1.96 * se)) < 1e-9)
    val z = Analytics.rateRatio(
      Seq(("a", 0L, 1.0), ("b", 2L, 1.0)).toDF("g", "ev", "exp"),
      "g", "ev", "exp", "a", "b").collect().head
    assert(z.isNullAt(6))
  }

  test("chapmanEstimate: hand overlap estimate; m=0 stays finite; " +
    "duplicates collapse") {
    import spark.implicits._
    val a = (1L to 8L).toDF("id")
    val b = (5L to 12L).toDF("id")
    val r = Analytics.chapmanEstimate(a, b, "id").collect().head
    assert(r.getLong(0) == 8L && r.getLong(1) == 8L && r.getLong(2) == 4L)
    assert(math.abs(r.getDouble(3) - (81.0 / 5.0 - 1.0)) < 1e-12)
    assert(math.abs(r.getDouble(4) - math.sqrt(81.0 * 16.0 / (25.0 * 6.0))) < 1e-9)
    // duplicate captures of the same id count once
    val dup = Analytics.chapmanEstimate(
      a.union(a), b, "id").collect().head
    assert(dup.getLong(0) == 8L && dup.getLong(2) == 4L)
    val disjoint = Analytics.chapmanEstimate(
      Seq(1L).toDF("id"), Seq(2L).toDF("id"), "id").collect().head
    assert(math.abs(disjoint.getDouble(3) - 3.0) < 1e-12)
    assert(math.abs(disjoint.getDouble(4) - math.sqrt(2.0)) < 1e-12)
  }

  test("logRankStratified: single stratum == logRankTest; two strata " +
    "pool O/E/V as the per-stratum sums") {
    import spark.implicits._
    val s0 = Seq(("s0", "a", 1L, true), ("s0", "a", 2L, true),
      ("s0", "b", 2L, true), ("s0", "b", 3L, false))
    val df0 = s0.toDF("s", "g", "dur", "ev")
    val strat = Analytics.logRankStratified(df0, Seq("s"), "g", "dur",
      col("ev"), "a", "b").collect().head
    val flat = Analytics.logRankTest(df0, "g", "dur", col("ev"),
      "a", "b").collect().head
    assert(strat.getLong(0) == 1L)
    assert(strat.getLong(3) == flat.getLong(2)) // o_a
    assert(math.abs(strat.getDouble(4) - flat.getDouble(3)) < 1e-12)
    assert(math.abs(strat.getDouble(5) - flat.getDouble(4)) < 1e-12)
    assert(math.abs(strat.getDouble(6) - flat.getDouble(5)) < 1e-12)
    // two strata: O/E/V must be the sums of per-stratum logRankTests
    val s1 = Seq(("s1", "a", 1L, true), ("s1", "a", 5L, false),
      ("s1", "b", 1L, true), ("s1", "b", 2L, true))
    val df01 = (s0 ++ s1).toDF("s", "g", "dur", "ev")
    val both = Analytics.logRankStratified(df01, Seq("s"), "g", "dur",
      col("ev"), "a", "b").collect().head
    val f1 = Analytics.logRankTest(s1.toDF("s", "g", "dur", "ev"),
      "g", "dur", col("ev"), "a", "b").collect().head
    assert(both.getLong(0) == 2L)
    assert(both.getLong(3) == flat.getLong(2) + f1.getLong(2))
    assert(math.abs(both.getDouble(4) -
      (flat.getDouble(3) + f1.getDouble(3))) < 1e-12)
    assert(math.abs(both.getDouble(5) -
      (flat.getDouble(4) + f1.getDouble(4))) < 1e-12)
  }

  test("seasonalDecompose: linear + zero-sum period-4 seasonal is " +
    "recovered EXACTLY on interior rows; edges NULL trend, keep " +
    "seasonal; partition sweep") {
    import spark.implicits._
    import graft.operators.TimeSeries
    // v_t = t + s[t mod 4], s = (2, 0, -1, -1): the even-period
    // half-weight MA covers one full cycle, so trend_t = t exactly
    val sPat = Seq(2.0, 0.0, -1.0, -1.0)
    val df = (0L to 11L).map(t => (t, t.toDouble + sPat((t % 4).toInt)))
      .toDF("t", "v")
    val r = TimeSeries.seasonalDecompose(df, "t", "v", period = 4)
      .collect().map(x => x.getLong(0) -> x).toMap
    (2L to 9L).foreach { t =>
      assert(math.abs(r(t).getDouble(2) - t.toDouble) < 1e-9,
        s"trend at $t")
      assert(math.abs(r(t).getDouble(3) - sPat((t % 4).toInt)) < 1e-9,
        s"seasonal at $t")
      assert(math.abs(r(t).getDouble(4)) < 1e-9, s"resid at $t")
    }
    // edges: no full MA window -> NULL trend/resid, seasonal present
    assert(r(0L).isNullAt(2) && r(0L).isNullAt(4))
    assert(math.abs(r(0L).getDouble(3) - 2.0) < 1e-9)
    assert(r(11L).isNullAt(2))
    partitionSweep { p =>
      TimeSeries.seasonalDecompose(df.repartition(p), "t", "v", 4)
        .collect().map(_.toSeq).toSeq
    }
  }

  test("spiegelhalterZ: calibrated fixture z=0, miscalibrated 2sqrt3; " +
    "all-half probabilities NULL") {
    import spark.implicits._
    import graft.functions.ML
    // p=0.25, 1 of 4 positive: perfectly calibrated -> num 0, z 0
    val cal = Seq((0.25, 1), (0.25, 0), (0.25, 0), (0.25, 0))
      .toDF("p", "y")
    val r = ML.spiegelhalterZ(cal, "p", col("y") === 1).collect().head
    assert(r.getLong(0) == 4L)
    assert(math.abs(r.getDouble(1)) < 1e-12)
    assert(math.abs(r.getDouble(2) - 0.1875) < 1e-12)
    assert(math.abs(r.getDouble(3)) < 1e-9)
    // same p, ALL positive: num = 1.5, z = 1.5/sqrt(0.1875) = 2sqrt3
    val mis = ML.spiegelhalterZ(
      Seq((0.25, 1), (0.25, 1), (0.25, 1), (0.25, 1)).toDF("p", "y"),
      "p", col("y") === 1).collect().head
    assert(math.abs(mis.getDouble(3) - 2.0 * math.sqrt(3.0)) < 1e-9)
    // every p = 0.5: (1-2p) = 0 everywhere, variance 0 -> NULL
    val half = ML.spiegelhalterZ(
      Seq((0.5, 1), (0.5, 0)).toDF("p", "y"), "p", col("y") === 1)
      .collect().head
    assert(half.isNullAt(3))
  }

  test("brierDecomposition: hand Murphy terms; the exact identity " +
    "brier = rel - res + unc; partition sweep") {
    import spark.implicits._
    import graft.functions.ML
    // p=0.2 x3 (1 pos), p=0.8 x2 (2 pos): brier .16, rel 4/150, res
    // 16/150, unc .24
    val df = Seq((0.2, 1), (0.2, 0), (0.2, 0), (0.8, 1), (0.8, 1))
      .toDF("p", "y")
    val r = ML.brierDecomposition(df, "p", col("y") === 1).collect().head
    assert(r.getLong(0) == 5L)
    assert(math.abs(r.getDouble(1) - 0.16) < 1e-12)
    assert(math.abs(r.getDouble(2) - 4.0 / 150.0) < 1e-9)
    assert(math.abs(r.getDouble(3) - 16.0 / 150.0) < 1e-9)
    assert(math.abs(r.getDouble(4) - 0.24) < 1e-12)
    assert(math.abs(r.getDouble(1) -
      (r.getDouble(2) - r.getDouble(3) + r.getDouble(4))) < 1e-9)
    partitionSweep { p =>
      ML.brierDecomposition(df.repartition(p), "p", col("y") === 1)
        .collect().map(_.toSeq).toSeq
    }
  }

  test("neymanAllocation: hand N*S weights split the budget 25/75; " +
    "zero-variance and singleton strata get 0") {
    import spark.implicits._
    import graft.functions.Sampling
    // a: {0,2} sd=sqrt2; b: {0,6} sd=3sqrt2 -> weights 2sqrt2, 6sqrt2
    val df = Seq(("a", 0.0), ("a", 2.0), ("b", 0.0), ("b", 6.0))
      .toDF("s", "v")
    val r = Sampling.neymanAllocation(df, Seq("s"), "v", total = 100L)
      .collect().map(x => x.getString(0) -> x).toMap
    assert(math.abs(r("a").getDouble(3) - 2.0 * math.sqrt(2.0)) < 1e-9)
    assert(math.abs(r("a").getDouble(4) - 25.0) < 1e-9)
    assert(math.abs(r("b").getDouble(4) - 75.0) < 1e-9)
    // constant stratum: sd 0 -> weight 0, alloc 0; singleton: sd NULL
    val z = Sampling.neymanAllocation(
      df.union(Seq(("c", 5.0), ("c", 5.0), ("d", 1.0)).toDF("s", "v")),
      Seq("s"), "v", total = 100L)
      .collect().map(x => x.getString(0) -> x).toMap
    assert(z("c").getDouble(4) == 0.0)
    assert(z("d").isNullAt(2) && z("d").getDouble(4) == 0.0)
    assert(math.abs(z("a").getDouble(4) - 25.0) < 1e-9)
  }

  test("chiSquareResiduals: hand 2x2 pearson + adjusted residuals; " +
    "zero cells appear on the spine; partition sweep") {
    import spark.implicits._
    def rows(a: String, b: String, n: Int) = Seq.fill(n)((a, b))
    // 2x2: (10, 5 / 3, 12): e11 = 6.5, adj = 3.5/sqrt(6.5*.5*(17/30))
    val df = (rows("a1", "b1", 10) ++ rows("a1", "b2", 5) ++
      rows("a2", "b1", 3) ++ rows("a2", "b2", 12)).toDF("a", "b")
    val r = Analytics.chiSquareResiduals(df, "a", "b").collect()
      .map(x => (x.getString(0), x.getString(1)) -> x).toMap
    assert(r.size == 4)
    val c11 = r(("a1", "b1"))
    assert(c11.getLong(2) == 10L)
    assert(math.abs(c11.getDouble(3) - 6.5) < 1e-12)
    assert(math.abs(c11.getDouble(4) - 3.5 / math.sqrt(6.5)) < 1e-9)
    assert(math.abs(c11.getDouble(5) -
      3.5 / math.sqrt(6.5 * 0.5 * (17.0 / 30.0))) < 1e-9)
    // a level pair never observed still gets a row with observed 0
    val z = Analytics.chiSquareResiduals(
      (rows("a1", "b1", 2) ++ rows("a2", "b2", 2)).toDF("a", "b"),
      "a", "b").collect().map(x => (x.getString(0), x.getString(1)) -> x)
      .toMap
    assert(z.size == 4 && z(("a1", "b2")).getLong(2) == 0L)
    assert(math.abs(z(("a1", "b2")).getDouble(3) - 1.0) < 1e-12)
    partitionSweep { p =>
      Analytics.chiSquareResiduals(df.repartition(p), "a", "b")
        .collect().map(_.toSeq).toSeq
        .sortBy(x => (x.head.toString, x(1).toString))
    }
  }

  test("holmAdjust: hand step-down with ties (smallest-rank factor); " +
    "monotone non-decreasing; clip at 1; partition sweep") {
    import spark.implicits._
    // m=4: sorted .005 .01 .03 .04 -> factors .02 .03 .06 .04 ->
    // cummax .02 .03 .06 .06
    val df = Seq(0.01, 0.04, 0.03, 0.005).toDF("p")
    val r = Analytics.holmAdjust(df, "p").collect()
      .map(x => x.getDouble(0) -> x.getDouble(1)).toMap
    assert(math.abs(r(0.005) - 0.02) < 1e-12)
    assert(math.abs(r(0.01) - 0.03) < 1e-12)
    assert(math.abs(r(0.03) - 0.06) < 1e-12)
    assert(math.abs(r(0.04) - 0.06) < 1e-12)
    // tie block shares the SMALLEST rank's factor: m=5, the two .03s
    // get (5-2)*.03 = .09
    val t = Analytics.holmAdjust(
      Seq(0.01, 0.04, 0.03, 0.03, 0.005).toDF("p"), "p").collect()
      .map(x => x.getDouble(0) -> x.getDouble(1)).toMap
    assert(math.abs(t(0.005) - 0.025) < 1e-12)
    assert(math.abs(t(0.01) - 0.04) < 1e-12)
    assert(math.abs(t(0.03) - 0.09) < 1e-12)
    assert(math.abs(t(0.04) - 0.09) < 1e-12)
    // clip: large p saturates at 1
    val c = Analytics.holmAdjust(Seq(0.9, 0.8).toDF("p"), "p")
      .collect().map(_.getDouble(1))
    assert(c.forall(_ == 1.0))
    partitionSweep { pn =>
      Analytics.holmAdjust(df.repartition(pn), "p")
        .collect().map(_.toSeq).toSeq.sortBy(_.head.toString)
    }
  }

  test("byAdjust: BH times the harmonic constant, clipped; equals BH " +
    "at m=1") {
    import spark.implicits._
    // m=4 uniform spacing: every BH q = .04; c(4) = 25/12
    val r = Analytics.byAdjust(
      Seq(0.01, 0.02, 0.03, 0.04).toDF("p"), "p").collect()
      .map(_.getDouble(1))
    r.foreach(v => assert(math.abs(v - 0.04 * 25.0 / 12.0) < 1e-9))
    val one = Analytics.byAdjust(Seq(0.2).toDF("p"), "p")
      .collect().head.getDouble(1)
    assert(math.abs(one - 0.2) < 1e-12) // c(1) = 1: BY == BH == p
  }

  test("mannWhitneyEffects: clean dominance cles=1 rb=1; ties credit " +
    "half; matches mannWhitneyU columns") {
    import spark.implicits._
    val dom = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 0.0))
      .toDF("g", "v")
    val r = Analytics.mannWhitneyEffects(dom, "g", "v", "a", "b")
      .collect().head
    assert(math.abs(r.getAs[Double]("cles") - 1.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("rank_biserial") - 1.0) < 1e-12)
    // A={1,2} vs B={2}: pair (1,2) loses, (2,2) ties half -> U_A=0.5,
    // cles = 0.5/2 = 0.25, rank-biserial = -0.5
    val tie = Seq(("a", 1.0), ("a", 2.0), ("b", 2.0)).toDF("g", "v")
    val rt = Analytics.mannWhitneyEffects(tie, "g", "v", "a", "b")
      .collect().head
    assert(math.abs(rt.getAs[Double]("cles") - 0.25) < 1e-12)
    assert(math.abs(rt.getAs[Double]("rank_biserial") + 0.5) < 1e-12)
  }

  test("lorenzPoints: hand curve with tied boundary block; p=0 gives " +
    "exactly 0, p=1 exactly 1; palmaRatio hand value; partition sweep") {
    import spark.implicits._
    val df = Seq(1.0, 1.0, 2.0, 6.0).toDF("v")
    val r = Analytics.lorenzPoints(df, "v",
      Seq(0.0, 0.25, 0.5, 0.75, 1.0)).collect()
      .map(x => x.getDouble(0) -> x).toMap
    assert(r(0.0).getDouble(3) == 0.0 && r(0.0).getLong(2) == 0L)
    assert(math.abs(r(0.25).getDouble(3) - 0.1) < 1e-12)
    assert(math.abs(r(0.5).getDouble(3) - 0.2) < 1e-12)
    assert(math.abs(r(0.75).getDouble(3) - 0.4) < 1e-12)
    assert(r(1.0).getDouble(3) == 1.0)
    // tie straddle: k=2 falls INSIDE the block of three 1s
    val t = Analytics.lorenzPoints(Seq(1.0, 1.0, 1.0, 7.0).toDF("v"),
      "v", Seq(0.5)).collect().head
    assert(math.abs(t.getDouble(3) - 0.2) < 1e-12)
    // palma on 0..9: L(.4)=6/45, L(.9)=36/45 -> (1-.8)/(6/45)=1.5
    val p = Analytics.palmaRatio(
      (0 to 9).map(_.toDouble).toDF("v"), "v").collect().head
    assert(math.abs(p.getAs[Double]("palma") - 1.5) < 1e-9)
    partitionSweep { pn =>
      Analytics.lorenzPoints(df.repartition(pn), "v", Seq(0.25, 0.75))
        .collect().map(_.toSeq).toSeq
    }
  }

  test("hosmerLemeshow: two-bin hand chi2; pbar 0/1 bins excluded " +
    "and counted") {
    import spark.implicits._
    import graft.functions.ML
    val df = Seq((0.1, false), (0.1, false), (0.9, true), (0.9, true))
      .toDF("p", "y")
    val r = ML.hosmerLemeshow(df, "p", col("y"), bins = 2)
      .collect().head
    assert(r.getLong(0) == 4L && r.getLong(1) == 2L && r.getLong(2) == 2L)
    // each bin: (o-e)^2/(n pbar (1-pbar)) = .04/.18
    assert(math.abs(r.getDouble(3) - 2 * 0.04 / 0.18) < 1e-9)
    assert(r.isNullAt(4)) // dof = g_used - 2 = 0 -> NULL
    // a degenerate all-zero-prob bin is excluded, not divided by zero
    val z = ML.hosmerLemeshow(
      Seq((0.0, false), (0.0, false), (0.5, true), (0.5, false))
        .toDF("p", "y"), "p", col("y"), bins = 2).collect().head
    assert(z.getLong(1) == 2L && z.getLong(2) == 1L)
  }

  test("runsTest: alternating series runs=6 z hand value; ties at the " +
    "median dropped and counted; degenerate NULL z; partition sweep") {
    import spark.implicits._
    import graft.operators.TimeSeries
    val alt = Seq((0L, 1.0), (1L, 2.0), (2L, 1.0), (3L, 2.0),
      (4L, 1.0), (5L, 2.0)).toDF("t", "v")
    val r = TimeSeries.runsTest(alt, "t", "v").collect().head
    assert(r.getLong(0) == 6L && r.getLong(1) == 3L && r.getLong(2) == 3L)
    assert(r.getLong(3) == 0L && r.getLong(4) == 6L)
    // mu=4, var=1.2
    assert(math.abs(r.getDouble(5) - 2.0 / math.sqrt(1.2)) < 1e-9)
    // v=[1,2,3]: median 2 dropped -> one run change, runs 2, var 0
    val d3 = TimeSeries.runsTest(
      Seq((0L, 1.0), (1L, 2.0), (2L, 3.0)).toDF("t", "v"), "t", "v")
      .collect().head
    assert(d3.getLong(3) == 1L && d3.getLong(4) == 2L && d3.isNullAt(5))
    // nanosecond-scale long t (~1.7e18 > 2^53): distinct t values 64ns
    // apart collapse under a double cast and would spuriously trip the
    // duplicate-t raise - the long cast (acf convention) must keep
    // them distinct (round 18, ADVICE r17); same fixture through all
    // three randomness screens
    val base = 1700000000000000000L
    val nano = Seq((base, 1.0), (base + 64L, 2.0), (base + 128L, 1.0),
      (base + 192L, 2.0), (base + 256L, 1.0), (base + 320L, 2.0))
      .toDF("t", "v")
    val rn = TimeSeries.runsTest(nano, "t", "v").collect().head
    assert(rn.getLong(0) == 6L && rn.getLong(4) == 6L)
    assert(TimeSeries.coxStuartTest(nano, "t", "v")
      .collect().head.getLong(0) == 6L)
    assert(TimeSeries.turningPointsTest(nano, "t", "v")
      .collect().head.getLong(0) == 6L)
    partitionSweep { pn =>
      TimeSeries.runsTest(alt.repartition(pn), "t", "v")
        .collect().map(_.toSeq).toSeq
    }
  }

  test("coxStuartTest: monotone rise all-plus with continuity z; odd " +
    "middle drops; tied pairs counted; turningPointsTest hand zigzag") {
    import spark.implicits._
    import graft.operators.TimeSeries
    val up = (0L to 4L).map(t => (t, (t + 1).toDouble)).toDF("t", "v")
    val r = TimeSeries.coxStuartTest(up, "t", "v").collect().head
    assert(r.getLong(0) == 5L && r.getLong(1) == 2L && r.getLong(2) == 0L)
    assert(r.getLong(3) == 2L && r.getLong(4) == 0L)
    assert(math.abs(r.getDouble(5) - 0.5 / math.sqrt(0.5)) < 1e-9)
    val flat = TimeSeries.coxStuartTest(
      Seq((0L, 2.0), (1L, 2.0), (2L, 2.0), (3L, 2.0)).toDF("t", "v"),
      "t", "v").collect().head
    assert(flat.getLong(2) == 2L && flat.isNullAt(5)) // all ties
    val tp = TimeSeries.turningPointsTest(
      Seq((0L, 1.0), (1L, 3.0), (2L, 2.0), (3L, 4.0), (4L, 3.0))
        .toDF("t", "v"), "t", "v").collect().head
    assert(tp.getLong(0) == 5L && tp.getLong(1) == 3L && tp.getLong(2) == 3L)
    assert(math.abs(tp.getDouble(3) - 2.0) < 1e-12)
    assert(math.abs(tp.getDouble(4) - 1.0 / math.sqrt(51.0 / 90.0)) < 1e-9)
  }

  test("ksUniformTest: hand D on a 5-point grid; out-of-range values " +
    "clamp F0 honestly; partition sweep") {
    import spark.implicits._
    // v = .1 .3 .5 .7 .9 vs U(0,1): both one-sided gaps are .1
    val df = Seq(0.1, 0.3, 0.5, 0.7, 0.9).toDF("v")
    val r = Analytics.ksUniformTest(df, "v", 0.0, 1.0).collect().head
    assert(r.getLong(0) == 5L)
    assert(math.abs(r.getDouble(1) - 0.1) < 1e-12)
    assert(math.abs(r.getDouble(2) - 0.1) < 1e-12)
    assert(math.abs(r.getDouble(3) - 0.1) < 1e-12)
    // values outside [lo, hi]: F0 clamps, D = 1/3
    val o = Analytics.ksUniformTest(
      Seq(-1.0, 0.5, 2.0).toDF("v"), "v", 0.0, 1.0).collect().head
    assert(math.abs(o.getDouble(3) - 1.0 / 3.0) < 1e-12)
    partitionSweep { pn =>
      Analytics.ksUniformTest(df.repartition(pn), "v", 0.0, 1.0)
        .collect().map(_.toSeq).toSeq
    }
  }


  test("breslowDay: two identical strata give chi2 == 0 (fitted root " +
    "== observed), or_mh matches cmhTest; heterogeneous strata give " +
    "chi2 > 0; partition sweep") {
    import spark.implicits._
    def stratum(s: String, a: Int, b: Int, c: Int, dd: Int) =
      Seq.fill(a)((s, true, true)) ++ Seq.fill(b)((s, true, false)) ++
        Seq.fill(c)((s, false, true)) ++ Seq.fill(dd)((s, false, false))
    val hom = (stratum("s0", 10, 5, 5, 10) ++ stratum("s1", 10, 5, 5, 10))
      .toDF("s", "e", "o")
    val r = Analytics.breslowDay(hom, Seq("s"), col("e"), col("o"))
      .collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 0L)
    assert(math.abs(r.getDouble(3) - 4.0) < 1e-9) // psi = 4
    assert(math.abs(r.getDouble(4)) < 1e-9)       // chi2 = 0
    assert(r.getLong(5) == 1L)
    val cmh = Analytics.cmhTest(hom, Seq("s"), col("e"), col("o"))
      .collect().head
    assert(math.abs(r.getDouble(3) - cmh.getAs[Double]("or_mh")) < 1e-12)
    // flipped OR across strata: homogeneity must reject visibly
    val het = (stratum("s0", 20, 5, 5, 20) ++ stratum("s1", 5, 20, 20, 5))
      .toDF("s", "e", "o")
    val h = Analytics.breslowDay(het, Seq("s"), col("e"), col("o"))
      .collect().head
    assert(h.getDouble(4) > 10.0)
    partitionSweep { pn =>
      Analytics.breslowDay(hom.repartition(pn), Seq("s"),
        col("e"), col("o")).collect().map(_.toSeq).toSeq
    }
  }

  test("yuenTrimmedT: hand outlier fixture (trim kills the 100); " +
    "alpha=0 equals welchT exactly") {
    import spark.implicits._
    import graft.operators.Aggregations
    val df = (Seq(1.0, 2.0, 3.0, 4.0, 100.0).map(("a", _)) ++
      Seq(2.0, 3.0, 4.0, 5.0, 6.0).map(("b", _))).toDF("g", "v")
    val r = Aggregations.yuenTrimmedT(df, "g", "v", "a", "b", alpha = 0.2)
      .collect().head
    assert(r.getAs[Long]("h_a") == 3L && r.getAs[Long]("h_b") == 3L)
    assert(math.abs(r.getAs[Double]("mean_a") - 3.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("mean_b") - 4.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("s2w_a") - 1.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("s2w_b") - 1.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("t") + math.sqrt(3.0) / 2.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("dof") - 4.0) < 1e-9)
    // alpha = 0: trimmed mean is the mean, winsorized variance the
    // sample variance -> welchT's exact numbers
    val y0 = Aggregations.yuenTrimmedT(df, "g", "v", "a", "b", alpha = 0.0)
      .collect().head
    val w = Analytics.welchT(df, "g", "v", "a", "b").collect().head
    assert(math.abs(y0.getAs[Double]("mean_a") -
      w.getAs[Double]("mean_a")) < 1e-9)
    assert(math.abs(y0.getAs[Double]("t") - w.getAs[Double]("t")) < 1e-9)
    assert(math.abs(y0.getAs[Double]("dof") - w.getAs[Double]("dof")) < 1e-9)
  }

  test("distributionMoments: symmetric hand moments (skew 0, excess " +
    "kurtosis -1.5, JB); constant series NULL shape; partition sweep") {
    import spark.implicits._
    val df = Seq(1.0, 2.0, 3.0).toDF("v")
    val r = Analytics.distributionMoments(df, "v").collect().head
    assert(r.getLong(0) == 3L)
    assert(math.abs(r.getDouble(1) - 2.0) < 1e-12)
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(3)) < 1e-9)
    assert(math.abs(r.getDouble(4) + 1.5) < 1e-9)
    assert(math.abs(r.getDouble(5) - 3.0 / 6.0 * (1.5 * 1.5 / 4.0)) < 1e-9)
    val c = Analytics.distributionMoments(Seq(5.0, 5.0).toDF("v"), "v")
      .collect().head
    assert(c.isNullAt(3) && c.isNullAt(4) && c.isNullAt(5))
    partitionSweep { pn =>
      Analytics.distributionMoments(df.repartition(pn), "v")
        .collect().map(_.toSeq).toSeq
    }
  }

  test("madCont: hand median/MAD with interpolated fences; constant " +
    "series MAD 0; partition sweep") {
    import spark.implicits._
    import graft.operators.Aggregations
    // {1,2,3,7}: median 2.5; |dev| = {1.5,.5,.5,4.5} -> MAD 1.0
    val df = Seq(1.0, 2.0, 3.0, 7.0).toDF("v")
    val r = Aggregations.madCont(df, "v").collect().head
    assert(r.getLong(0) == 4L)
    assert(math.abs(r.getDouble(1) - 2.5) < 1e-12)
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(3) - 1.4826) < 1e-12)
    val c = Aggregations.madCont(Seq(3.0, 3.0, 3.0).toDF("v"), "v")
      .collect().head
    assert(math.abs(c.getDouble(2)) < 1e-12)
    partitionSweep { pn =>
      Aggregations.madCont(df.repartition(pn), "v")
        .collect().map(_.toSeq).toSeq
    }
  }

  test("brunnerMunzel: the published heavy-ties example (W=3.1375, " +
    "dof=17.68); tiny tie fixture p_hat=0.875; partition sweep") {
    import spark.implicits._
    // the Brunner-Munzel 2000 / scipy doc example, heavy ties
    val x1 = Seq(1, 2, 1, 1, 1, 1, 1, 1, 1, 1, 2, 4, 1, 1)
    val x2 = Seq(3, 3, 4, 3, 1, 2, 3, 1, 1, 5, 4)
    val df = (x1.map(v => ("a", v.toDouble)) ++
      x2.map(v => ("b", v.toDouble))).toDF("g", "v")
    val r = Analytics.brunnerMunzel(df, "g", "v", "a", "b")
      .collect().head
    assert(r.getLong(0) == 14L && r.getLong(1) == 11L)
    assert(math.abs(r.getDouble(2) - 0.7889610389610391) < 1e-9)
    assert(math.abs(r.getDouble(3) - 3.1374674823029505) < 1e-9)
    assert(math.abs(r.getDouble(4) - 17.682841979481548) < 1e-9)
    // A={1,2}, B={2,3}: P(A<B) + half-ties = 3.5/4
    val t = Analytics.brunnerMunzel(
      Seq(("a", 1.0), ("a", 2.0), ("b", 2.0), ("b", 3.0)).toDF("g", "v"),
      "g", "v", "a", "b").collect().head
    assert(math.abs(t.getDouble(2) - 0.875) < 1e-12)
    assert(math.abs(t.getDouble(3) - 2.1213203435596424) < 1e-9)
    partitionSweep { pn =>
      Analytics.brunnerMunzel(df.repartition(pn), "g", "v", "a", "b")
        .collect().map(_.toSeq).toSeq
    }
  }

  test("gTest: perfect 2x2 association G = 8ln2 dof 1; independence " +
    "G ~ 0; equals 2n*MI; NULL level counts in dof; partition sweep") {
    import spark.implicits._
    val dep = Seq(("a", "a"), ("a", "a"), ("b", "b"), ("b", "b"))
      .toDF("x", "y")
    val r = Analytics.gTest(dep, "x", "y").collect().head
    assert(r.getLong(0) == 4L && r.getLong(1) == 2L && r.getLong(2) == 2L)
    assert(math.abs(r.getDouble(3) - 8.0 * math.log(2.0)) < 1e-9)
    assert(r.getLong(4) == 1L)
    val mi = Analytics.mutualInformation(dep, "x", "y").collect().head
    assert(math.abs(r.getDouble(3) -
      2.0 * 4.0 * mi.getAs[Double]("mi")) < 1e-12)
    // independent uniform 2x2: every cell count 1 -> G = 0
    val ind = Seq(("a", "a"), ("a", "b"), ("b", "a"), ("b", "b"))
      .toDF("x", "y")
    assert(math.abs(Analytics.gTest(ind, "x", "y")
      .collect().head.getDouble(3)) < 1e-9)
    // NULL is a level: cells include it, dof counts it
    val withNull = Seq(("a", "a"), ("a", "a"), (null, "b"), (null, "b"))
      .asInstanceOf[Seq[(String, String)]].toDF("x", "y")
    val nr = Analytics.gTest(withNull, "x", "y").collect().head
    assert(nr.getLong(1) == 2L && nr.getLong(4) == 1L)
    partitionSweep { pn =>
      Analytics.gTest(dep.repartition(pn), "x", "y")
        .collect().map(_.toSeq).toSeq
    }
  }

  test("cvmUniformTest / adUniformTest: hand EDF values incl. tied " +
    "blocks; AD boundary values excluded and counted; partition sweep") {
    import spark.implicits._
    val one = Seq(0.5).toDF("v")
    val c1 = Analytics.cvmUniformTest(one, "v", 0.0, 1.0).collect().head
    assert(math.abs(c1.getDouble(1) - 1.0 / 12.0) < 1e-12)
    val c2 = Analytics.cvmUniformTest(Seq(0.25, 0.75).toDF("v"),
      "v", 0.0, 1.0).collect().head
    assert(math.abs(c2.getDouble(1) - 1.0 / 24.0) < 1e-12)
    // tied block: the rank-interval closed forms must reproduce the
    // per-row sum exactly
    val ct = Analytics.cvmUniformTest(Seq(0.5, 0.5).toDF("v"),
      "v", 0.0, 1.0).collect().head
    assert(math.abs(ct.getDouble(1) - 1.0 / 6.0) < 1e-12)
    val a1 = Analytics.adUniformTest(one, "v", 0.0, 1.0).collect().head
    assert(math.abs(a1.getDouble(2) - 0.3862943611198906) < 1e-9)
    val a2 = Analytics.adUniformTest(Seq(0.25, 0.75).toDF("v"),
      "v", 0.0, 1.0).collect().head
    assert(math.abs(a2.getDouble(2) - 0.24934057847523317) < 1e-9)
    val at = Analytics.adUniformTest(Seq(0.5, 0.5).toDF("v"),
      "v", 0.0, 1.0).collect().head
    assert(math.abs(at.getDouble(2) - 0.7725887222397811) < 1e-9)
    // v = 0 sits AT the support edge: excluded, counted, statistic
    // computed over the interior
    val ab = Analytics.adUniformTest(Seq(0.0, 0.5).toDF("v"),
      "v", 0.0, 1.0).collect().head
    assert(ab.getLong(0) == 1L && ab.getLong(1) == 1L)
    assert(math.abs(ab.getDouble(2) - 0.3862943611198906) < 1e-9)
    partitionSweep { pn =>
      Analytics.cvmUniformTest(Seq(0.1, 0.4, 0.4, 0.8).toDF("v")
        .repartition(pn), "v", 0.0, 1.0).collect().map(_.toSeq).toSeq
    }
  }

  test("cramersV: a NULL level counts in r_x/r_y (its cells are in " +
    "the chi2 sum - the logRankStratified convention)") {
    import spark.implicits._
    val df = Seq(("a", "u"), ("a", "u"), (null, "w"), (null, "w"))
      .asInstanceOf[Seq[(String, String)]].toDF("x", "y")
    val r = Analytics.cramersV(df, "x", "y").collect().head
    assert(r.getAs[Long]("r_x") == 2L && r.getAs[Long]("r_y") == 2L)
    // perfect association on the 2x2 incl. the NULL level: V = 1
    assert(math.abs(r.getAs[Double]("v") - 1.0) < 1e-9)
  }

  test("oneSampleT / grubbsStat: hand t against mu0; Grubbs argmax " +
    "with deterministic tie-break toward the larger value") {
    import spark.implicits._
    val df = Seq(1.0, 2.0, 3.0).toDF("v")
    val r = Analytics.oneSampleT(df, "v", mu0 = 1.0).collect().head
    assert(r.getLong(0) == 3L)
    assert(math.abs(r.getDouble(1) - 2.0) < 1e-12)
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(4) - math.sqrt(3.0)) < 1e-9)
    assert(r.getLong(5) == 2L)
    val g = Analytics.grubbsStat(Seq(1.0, 2.0, 3.0, 10.0).toDF("v"), "v")
      .collect().head
    assert(math.abs(g.getDouble(3) - 1.4696938456699067) < 1e-9)
    assert(math.abs(g.getDouble(4) - 10.0) < 1e-12)
    // tied deviations: the larger VALUE wins deterministically
    val t = Analytics.grubbsStat(Seq(0.0, 4.0, 2.0, 2.0).toDF("v"), "v")
      .collect().head
    assert(math.abs(t.getDouble(4) - 4.0) < 1e-12)
    partitionSweep { pn =>
      Analytics.grubbsStat(df.repartition(pn), "v")
        .collect().map(_.toSeq).toSeq
    }
  }

  test("medianCI: order-statistic interval on 1..25 (ranks 7/19); " +
    "tiny n clamps to the extremes and reports it; even-n median " +
    "interpolates") {
    import spark.implicits._
    val df = (1 to 25).map(_.toDouble).toDF("v")
    val r = Analytics.medianCI(df, "v").collect().head
    assert(r.getLong(0) == 25L)
    assert(math.abs(r.getDouble(1) - 13.0) < 1e-12)
    assert(math.abs(r.getDouble(2) - 7.0) < 1e-12)
    assert(math.abs(r.getDouble(3) - 19.0) < 1e-12)
    assert(r.getLong(4) == 7L && r.getLong(5) == 19L)
    assert(!r.getBoolean(6))
    val tiny = Analytics.medianCI(Seq(1.0, 2.0, 3.0).toDF("v"), "v")
      .collect().head
    assert(tiny.getBoolean(6))
    assert(math.abs(tiny.getDouble(2) - 1.0) < 1e-12)
    assert(math.abs(tiny.getDouble(3) - 3.0) < 1e-12)
    val even = Analytics.medianCI((1 to 4).map(_.toDouble).toDF("v"), "v")
      .collect().head
    assert(math.abs(even.getDouble(1) - 2.5) < 1e-12)
  }

  test("riskDifference: hand Newcombe interval (Wilson bounds at " +
    "z=1.959964); degenerate p=0/1 stays inside [-1, 1]") {
    import spark.implicits._
    val df = ((1 to 8).map(_ => ("a", true)) ++ (1 to 2).map(_ => ("a", false)) ++
      (1 to 4).map(_ => ("b", true)) ++ (1 to 6).map(_ => ("b", false)))
      .toDF("g", "s")
    val r = Analytics.riskDifference(df, "g", col("s"), "a", "b")
      .collect().head
    assert(r.getAs[Long]("x_a") == 8L && r.getAs[Long]("x_b") == 4L)
    assert(math.abs(r.getAs[Double]("diff") - 0.4) < 1e-12)
    assert(math.abs(r.getAs[Double]("ci_lo") + 0.02255846835804487) < 1e-9)
    assert(math.abs(r.getAs[Double]("ci_hi") - 0.6725442458426698) < 1e-9)
    // all-success vs all-failure: Wald would pin the CI at the point;
    // Newcombe keeps a real interval inside [-1, 1]
    val d = Analytics.riskDifference(
      (Seq.fill(5)(("a", true)) ++ Seq.fill(5)(("b", false))).toDF("g", "s"),
      "g", col("s"), "a", "b").collect().head
    assert(math.abs(d.getAs[Double]("diff") - 1.0) < 1e-12)
    assert(d.getAs[Double]("ci_lo") > -1.0 && d.getAs[Double]("ci_lo") < 1.0)
    assert(d.getAs[Double]("ci_hi") <= 1.0 + 1e-12)
  }

  test("madContBy: per-slice == global madCont per slice; NULL key " +
    "is its own slice") {
    import spark.implicits._
    import graft.operators.Aggregations
    val df = (Seq(1.0, 2.0, 3.0, 7.0).map(("s0", _)) ++
      Seq(10.0, 20.0, 30.0).map(("s1", _))).toDF("s", "v")
    val by = Aggregations.madContBy(df, Seq("s"), "v")
      .collect().map(x => x.getString(0) -> x).toMap
    val g0 = Aggregations.madCont(df.filter(col("s") === "s0"), "v")
      .collect().head
    assert(by("s0").getLong(1) == g0.getLong(0))
    assert(math.abs(by("s0").getDouble(2) - g0.getDouble(1)) < 1e-12)
    assert(math.abs(by("s0").getDouble(3) - g0.getDouble(2)) < 1e-12)
    assert(math.abs(by("s1").getDouble(2) - 20.0) < 1e-12)
    assert(math.abs(by("s1").getDouble(3) - 10.0) < 1e-12)
  }

  test("adKSample: hand Scholz-Stephens A2akN and exact-moment t on " +
    "the three-sample fixture; identical samples give a2 = 0; " +
    "partition sweep") {
    import spark.implicits._
    // {1,2,3,4} vs {5,6,7,8} vs {2,3,4,5}: literal-model reference
    // A2akN = 5.044969016336841, var = 0.7767365054378029,
    // t = 3.454983832765859 (midrank version, paper's 4-moment sigma)
    val df = (Seq(1, 2, 3, 4).map(v => ("g0", v.toDouble)) ++
      Seq(5, 6, 7, 8).map(v => ("g1", v.toDouble)) ++
      Seq(2, 3, 4, 5).map(v => ("g2", v.toDouble))).toDF("g", "v")
    val r = Analytics.adKSample(df, "g", "v", Seq("g0", "g1", "g2"))
      .collect().head
    assert(r.getLong(0) == 12L && r.getInt(1) == 3)
    // 5e-6 tolerance: the per-value terms are quantized to
    // decimal(38,6) (the scale-safety cast) before the exact sum, so
    // the operator differs from the pure-double literal model at the
    // quantization level, deterministically
    assert(math.abs(r.getDouble(2) - 5.044969016336841) < 5e-6)
    assert(math.abs(r.getDouble(3) - 0.7767365054378029) < 1e-9)
    assert(math.abs(r.getDouble(4) - 3.454983832765859) < 5e-6)
    // identical samples: no distributional difference at all
    val same = (Seq("a", "b", "c").flatMap(g =>
      Seq(1.0, 2.0, 3.0).map((g, _)))).toDF("g", "v")
    val rs = Analytics.adKSample(same, "g", "v", Seq("a", "b", "c"))
      .collect().head
    assert(math.abs(rs.getDouble(2)) < 1e-9)
    // ONE distinct pooled value: every per-value denominator
    // B(N-B) - N*l/4 is zero, so no term contributes - a2akn must be
    // NULL (tracked by the positive-denominator count), not a
    // spurious 0 passed off as "no difference" (round 18, ADVICE r17)
    val const = Seq("a", "b", "c").flatMap(g =>
      Seq.fill(3)((g, 7.0))).toDF("g", "v")
    val rc = Analytics.adKSample(const, "g", "v", Seq("a", "b", "c"))
      .collect().head
    assert(rc.isNullAt(2) && rc.isNullAt(4))
    // exactVariance = false: identical a2akn, NULL variance/t, and no
    // harmonic spine or driver count paid (round 18 - the corpus-scale
    // ordering mode)
    val fast = Analytics.adKSample(df, "g", "v", Seq("g0", "g1", "g2"),
      exactVariance = false).collect().head
    assert(fast.getDouble(2) == r.getDouble(2))
    assert(fast.isNullAt(3) && fast.isNullAt(4))
    partitionSweep { pn =>
      Analytics.adKSample(df.repartition(pn), "g", "v",
        Seq("g0", "g1", "g2")).collect().map(_.toSeq).toSeq
    }
  }

  test("bowkerTest: hand 3x3 asymmetry chi2=5 dof=3; all-diagonal " +
    "table NULL chi2; partition sweep") {
    import spark.implicits._
    def rows(a: String, b: String, c: Int) = Seq.fill(c)((a, b))
    // off-diagonal: (a,b)=3 vs (b,a)=1 -> 1; (a,c)=2 vs (c,a)=2 -> 0;
    // (b,c)=0 vs (c,b)=4 -> 4; plus 5 diagonal rows
    val df = (rows("a", "b", 3) ++ rows("b", "a", 1) ++
      rows("a", "c", 2) ++ rows("c", "a", 2) ++ rows("c", "b", 4) ++
      rows("a", "a", 3) ++ rows("b", "b", 2)).toDF("x", "y")
    val r = Analytics.bowkerTest(df, "x", "y").collect().head
    assert(r.getLong(0) == 17L && r.getLong(1) == 3L)
    assert(r.getLong(2) == 3L && r.getLong(4) == 3L)
    assert(math.abs(r.getDouble(3) - 5.0) < 1e-12)
    val diag = Analytics.bowkerTest(
      (rows("a", "a", 2) ++ rows("b", "b", 2)).toDF("x", "y"), "x", "y")
      .collect().head
    assert(diag.getLong(2) == 0L && diag.isNullAt(3) && diag.isNullAt(4))
    partitionSweep { pn =>
      Analytics.bowkerTest(df.repartition(pn), "x", "y")
        .collect().map(_.toSeq).toSeq
    }
  }

  test("pairwiseKappa: per-pair == cohensKappa on the co-rated items; " +
    "duplicate (item, rater) raises") {
    import spark.implicits._
    import graft.functions.ML
    // r1 == r2 everywhere (kappa 1 given both levels appear);
    // r3 flips every label
    val panel = (1 to 8).flatMap { i =>
      val l = if (i % 2 == 0) "x" else "y"
      val fl = if (i % 2 == 0) "y" else "x"
      Seq((i.toLong, "r1", l), (i.toLong, "r2", l), (i.toLong, "r3", fl))
    }.toDF("item", "rater", "label")
    val m = ML.pairwiseKappa(panel, "item", "rater", "label")
      .collect().map(x => (x.getString(0), x.getString(1)) -> x).toMap
    assert(m.size == 3)
    assert(math.abs(m(("r1", "r2")).getAs[Double]("kappa") - 1.0) < 1e-12)
    assert(math.abs(m(("r1", "r3")).getAs[Double]("kappa") + 1.0) < 1e-12)
    assert(m(("r1", "r2")).getAs[Long]("n") == 8L)
    intercept[Exception] {
      ML.pairwiseKappa(panel.union(
        Seq((1L, "r1", "x")).toDF("item", "rater", "label")),
        "item", "rater", "label").collect()
    }
    // duplicates must raise even when NO pair co-rates anything (the
    // guard rides a one-row broadcast on the main path, not a column
    // on the possibly-empty output - round 18, ADVICE r17): a
    // single-rater panel with a duplicated (item, rater) yields an
    // empty kappa frame, and the raise must still fire
    intercept[Exception] {
      ML.pairwiseKappa(
        Seq((1L, "r1", "x"), (2L, "r1", "y"), (1L, "r1", "x"))
          .toDF("item", "rater", "label"),
        "item", "rater", "label").collect()
    }
    // ...and the same empty-output panel WITHOUT duplicates is fine
    assert(ML.pairwiseKappa(
      Seq((1L, "r1", "x"), (2L, "r1", "y"))
        .toDF("item", "rater", "label"),
      "item", "rater", "label").collect().isEmpty)
  }

  test("ndcgAtK (consolidated, includeNDocs): hand graded query " +
    "(ndcg 0.66532); perfect order 1; no relevant docs NULL; n_docs " +
    "counts the full judged set; partition sweep") {
    import spark.implicits._
    import graft.functions.Retrieval
    val df = Seq(
      ("q1", 1L, 9.0, 0L), ("q1", 2L, 8.0, 3L), ("q1", 3L, 7.0, 2L),
      ("q2", 4L, 5.0, 2L), ("q2", 5L, 4.0, 1L),
      ("q3", 6L, 1.0, 0L), ("q3", 7L, 0.5, 0L))
      .toDF("q", "doc", "score", "rel")
    val r = Retrieval.ndcgAtK(df, "q", "doc", "score", "rel", k = 3,
        includeNDocs = true)
      .collect().map(x => x.getString(0) -> x).toMap
    assert(math.abs(r("q1").getAs[Double]("dcg") - 5.9165082750002025) < 1e-9)
    assert(math.abs(r("q1").getAs[Double]("idcg") - 8.892789260714373) < 1e-9)
    assert(math.abs(r("q1").getAs[Double]("ndcg") - 0.6653152460429406) < 1e-9)
    assert(math.abs(r("q2").getAs[Double]("ndcg") - 1.0) < 1e-12)
    assert(r("q1").getAs[Long]("n_docs") == 3L)
    assert(r("q3").getAs[Long]("n_docs") == 2L)
    assert(r("q3").isNullAt(r("q3").fieldIndex("ndcg")))
    partitionSweep { pn =>
      Retrieval.ndcgAtK(df.repartition(pn), "q", "doc", "score", "rel",
          3, includeNDocs = true)
        .collect().map(_.toSeq).toSeq
    }
  }

  test("msprtMeanTest: literal-model e-process row for row on a " +
    "6-point series; always-valid martingale starts at logE < 0; " +
    "large shift crosses ln(1/alpha); duplicate t raises; proportion " +
    "delegate = mean test with null variance; partition sweep") {
    import spark.implicits._
    val xs = Seq(0.4, 1.2, 0.8, 3.0, 2.6, 3.4)
    val df = xs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("t", "v")
    val (mu0, s2, t2, alpha) = (0.5, 1.0, 0.25, 0.05)
    val got = Analytics.msprtMeanTest(df, "t", "v", mu0, s2, t2, alpha)
      .collect()
    // literal model: the operator's own arithmetic re-run in plain
    // scala — decimal(38,12) inclusive prefix, double mean, the fixed
    // double chain (Robbins mixture logLambda)
    var s = BigDecimal(0).setScale(12)
    val expect = xs.zipWithIndex.map { case (v, i) =>
      s = s + BigDecimal(v).setScale(12, BigDecimal.RoundingMode.HALF_UP)
      val n = i + 1
      val nd = n.toDouble
      val mean = s.toDouble / nd
      val dev = mean - mu0
      val mix = s2 + nd * t2
      val eLog = 0.5 * math.log(s2 / mix) +
        (nd * nd * t2 * (dev * dev)) / (2.0 * s2 * mix)
      (n.toLong, mean, eLog)
    }
    assert(got.length == 6)
    got.zip(expect).foreach { case (r, (n, mean, eLog)) =>
      assert(r.getAs[Long]("n") == n)
      assert(math.abs(r.getAs[Double]("mean_v") - mean) < 1e-12)
      assert(math.abs(r.getAs[Double]("e_log") - eLog) < 1e-12)
      assert(r.getAs[Boolean]("crossed") ==
        (eLog >= math.log(1.0 / alpha)))
    }
    // a martingale starts below 1 (n=1 shrinkage term dominates):
    assert(got.head.getAs[Double]("e_log") < 0.0)
    // a large persistent shift must cross ln(1/alpha) = ~3.0
    val shifted = (1 to 60).map(i => (i.toLong, 4.0 + (i % 3) * 0.1))
      .toDF("t", "v")
    val crossRows = Analytics.msprtMeanTest(
      shifted, "t", "v", mu0, s2, t2, alpha)
      .filter(col("crossed")).collect()
    assert(crossRows.nonEmpty)
    // duplicate t: ambiguous observation order must raise
    intercept[Exception] {
      Analytics.msprtMeanTest(
        Seq((1L, 1.0), (1L, 2.0)).toDF("t", "v"),
        "t", "v", mu0, s2, t2, alpha).collect()
    }
    // proportion delegate: identical to the mean test at
    // mu0 = p0, sigma2 = p0(1-p0) on the 0/1 stream
    val succ = (1 to 40).map(i => (i.toLong, if (i % 5 == 0) 0 else 1))
      .toDF("t", "succ")
    val viaProp = Analytics.msprtProportionTest(
      succ, "t", "succ", p0 = 0.5, tau2 = 0.1).collect().map(_.toSeq)
    val viaMean = Analytics.msprtMeanTest(
      succ.withColumn("v", col("succ").cast("double")),
      "t", "v", mu0 = 0.5, sigma2 = 0.25, tau2 = 0.1)
      .collect().map(_.toSeq)
    assert(viaProp.toSeq == viaMean.toSeq)
    partitionSweep { pn =>
      Analytics.msprtMeanTest(df.repartition(pn), "t", "v",
        mu0, s2, t2, alpha).collect().map(_.toSeq).toSeq
    }
  }

  test("meanConfidenceSequence: literal-model radius row for row; " +
    "exact mSPRT duality (crossed at mu0 <=> mu0 outside CI) over a " +
    "mu0 grid; diff CS NULL until both arms + duality at theta=0; " +
    "duplicate t raises; partition sweep") {
    import spark.implicits._
    val xs = Seq(0.4, 1.2, 0.8, 3.0, 2.6, 3.4)
    val df = xs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("t", "v")
    val (s2, t2, alpha) = (1.0, 0.25, 0.05)
    val got = Analytics.meanConfidenceSequence(df, "t", "v", s2, t2,
      alpha).collect()
    // literal model: the operator's own arithmetic in plain scala
    var s = BigDecimal(0).setScale(12)
    val expect = xs.zipWithIndex.map { case (v, i) =>
      s = s + BigDecimal(v).setScale(12, BigDecimal.RoundingMode.HALF_UP)
      val nd = (i + 1).toDouble
      val mean = s.toDouble / nd
      val vt = s2 / nd
      val radius = math.sqrt((vt * (vt + t2) / t2) *
        (math.log((vt + t2) / vt) - 2.0 * math.log(alpha)))
      (i + 1L, mean, radius)
    }
    assert(got.length == 6)
    got.zip(expect).foreach { case (r, (n, mean, radius)) =>
      assert(r.getAs[Long]("n") == n)
      assert(math.abs(r.getAs[Double]("mean_v") - mean) < 1e-12)
      assert(math.abs(r.getAs[Double]("radius") - radius) < 1e-12)
      assert(math.abs(r.getAs[Double]("ci_lo") - (mean - radius)) < 1e-12)
      assert(math.abs(r.getAs[Double]("ci_hi") - (mean + radius)) < 1e-12)
    }
    // duality with the e-process: for any mu0, the mSPRT has crossed
    // at n exactly when mu0 falls outside CI_n (same martingale,
    // inverted) — checked over a mu0 grid spanning inside/outside
    for (mu0 <- Seq(-2.0, 0.5, 1.5, 2.0, 6.0)) {
      val crossed = Analytics.msprtMeanTest(df, "t", "v", mu0, s2, t2,
        alpha).orderBy("t").collect().map(_.getAs[Boolean]("crossed"))
      got.sortBy(_.getAs[Long]("t")).zip(crossed).foreach {
        case (r, c) =>
          val lo = r.getAs[Double]("ci_lo")
          val hi = r.getAs[Double]("ci_hi")
          val slack = math.min(math.abs(mu0 - lo), math.abs(mu0 - hi))
          if (slack > 1e-9)
            assert(c == (mu0 < lo || mu0 > hi),
              s"duality broke at t=${r.getAs[Long]("t")} mu0=$mu0")
      }
    }
    // two-sample: B-only prefix keeps the interval NULL, then duality
    // against msprtTwoSampleTest at theta = 0
    val two = Seq((1L, "b", 2.0), (2L, "b", 1.0), (3L, "a", 9.0),
      (4L, "a", 8.0), (5L, "b", 1.5), (6L, "a", 9.5))
      .toDF("t", "g", "v")
    val cs2 = Analytics.diffConfidenceSequence(two, "t", "g", "v",
      "a", "b", sigma2 = 1.0, tau2 = 0.5).orderBy("t").collect()
    assert(cs2.length == 6)
    assert(cs2.take(2).forall(_.isNullAt(cs2.head.fieldIndex("radius"))))
    assert(cs2.drop(2).forall(!_.isNullAt(cs2.head.fieldIndex("radius"))))
    val crossed2 = Analytics.msprtTwoSampleTest(two, "t", "g", "v",
      "a", "b", sigma2 = 1.0, tau2 = 0.5).orderBy("t").collect()
    cs2.zip(crossed2).foreach { case (r, cr) =>
      if (!r.isNullAt(r.fieldIndex("radius"))) {
        val lo = r.getAs[Double]("ci_lo")
        val hi = r.getAs[Double]("ci_hi")
        val slack = math.min(math.abs(lo), math.abs(hi))
        if (slack > 1e-9)
          assert(cr.getAs[Boolean]("crossed") == (0.0 < lo || 0.0 > hi),
            s"two-sample duality broke at t=${r.getAs[Long]("t")}")
      } else assert(cr.isNullAt(cr.fieldIndex("e_log")))
    }
    // duplicate t: ambiguous observation order must raise
    intercept[Exception] {
      Analytics.meanConfidenceSequence(
        Seq((1L, 1.0), (1L, 2.0)).toDF("t", "v"), "t", "v", s2, t2,
        alpha).collect()
    }
    partitionSweep { pn =>
      Analytics.meanConfidenceSequence(df.repartition(pn), "t", "v",
        s2, t2, alpha).collect().map(_.toSeq).toSeq
    }
  }

  test("clusterRandomizedTest: literal Welch-over-cluster-means model; " +
    "cluster in both arms raises; single-cluster arm NULLs t; " +
    "designEffect literal ANOVA/ICC/DEFF model + equal-means pooling " +
    "regime; partition sweep") {
    import spark.implicits._
    val rows = Seq(
      ("a", 1L, 1.0), ("a", 1L, 3.0), ("a", 2L, 5.0),
      ("a", 3L, 3.0), ("a", 3L, 3.0), ("a", 3L, 3.0),
      ("b", 4L, 6.0), ("b", 4L, 8.0), ("b", 5L, 9.0),
      ("b", 6L, 11.0), ("b", 6L, 13.0))
    val df = rows.toDF("g", "cl", "v")
    val r = Analytics.clusterRandomizedTest(df, "g", "cl", "v", "a", "b")
      .collect()
    assert(r.length == 1)
    // literal model: cluster means in cluster order, double folds
    def armStats(g: String) = {
      val ms = rows.filter(_._1 == g).groupBy(_._2).toSeq.sortBy(_._1)
        .map { case (_, vs) => vs.map(_._3).sum / vs.size }
      val k = ms.size.toDouble
      val sm = ms.foldLeft(0.0)(_ + _)
      val sm2 = ms.map(m => m * m).foldLeft(0.0)(_ + _)
      (k, sm / k, (sm2 - sm * sm / k) / (k - 1.0))
    }
    val (ka, ma, va) = armStats("a"); val (kb, mb, vb) = armStats("b")
    val se2 = va / ka + vb / kb
    val dof = se2 * se2 /
      ((va / ka) * (va / ka) / (ka - 1.0) +
        (vb / kb) * (vb / kb) / (kb - 1.0))
    val row = r.head
    assert(row.getAs[Long]("k_a") == 3L && row.getAs[Long]("k_b") == 3L)
    assert(row.getAs[Long]("n_a") == 6L && row.getAs[Long]("n_b") == 5L)
    assert(math.abs(row.getAs[Double]("mean_a") - ma) < 1e-12)
    assert(math.abs(row.getAs[Double]("mean_b") - mb) < 1e-12)
    assert(math.abs(row.getAs[Double]("t") -
      (ma - mb) / math.sqrt(se2)) < 1e-12)
    assert(math.abs(row.getAs[Double]("dof") - dof) < 1e-12)
    // broken randomization: cluster 2 rows in BOTH arms must raise
    intercept[Exception] {
      Analytics.clusterRandomizedTest(
        (rows :+ (("b", 2L, 4.0))).toDF("g", "cl", "v"),
        "g", "cl", "v", "a", "b").collect()
    }
    // a single-cluster arm has no across-cluster variance: NULL t
    val one = Seq(("a", 1L, 2.0), ("a", 1L, 4.0), ("b", 2L, 5.0),
      ("b", 3L, 7.0)).toDF("g", "cl", "v")
    val r1 = Analytics.clusterRandomizedTest(one, "g", "cl", "v",
      "a", "b").collect().head
    assert(r1.isNullAt(r1.fieldIndex("t")))
    assert(r1.getAs[Long]("k_a") == 1L)
    // designEffect: literal one-way ANOVA -> ICC(1) -> DEFF
    val de = Analytics.designEffect(df.filter(col("g") === "a"), "cl",
      "v").collect().head
    val cls = rows.filter(_._1 == "a").groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (_, vs) => (vs.size, vs.map(_._3).sum,
        vs.map(x => x._3 * x._3).sum) }
    val n = cls.map(_._1).sum.toDouble; val k = cls.size.toDouble
    val bt = cls.map { case (ng, s1, _) => s1 * s1 / ng }
      .foldLeft(0.0)(_ + _)
    val wt = cls.map { case (ng, s1, s2q) => s2q - s1 * s1 / ng }
      .foldLeft(0.0)(_ + _)
    val s1all = cls.map(_._2).sum
    val ssb = bt - s1all * s1all / n
    val msb = ssb / (k - 1.0); val msw = wt / (n - k)
    val n0 = (n - cls.map(c => c._1.toDouble * c._1).sum / n) / (k - 1.0)
    val icc = (msb - msw) / (msb + (n0 - 1.0) * msw)
    val deff = 1.0 + (n / k - 1.0) * icc
    assert(de.getAs[Long]("k") == 3L && de.getAs[Long]("n") == 6L)
    assert(math.abs(de.getAs[Double]("msb") - msb) < 1e-12)
    assert(math.abs(de.getAs[Double]("msw") - msw) < 1e-12)
    assert(math.abs(de.getAs[Double]("icc") - icc) < 1e-12)
    assert(math.abs(de.getAs[Double]("deff") - deff) < 1e-12)
    // equal cluster means, within-noise only: ICC moment estimate
    // goes NEGATIVE (clusters don't matter) and DEFF reads below 1
    val flat = Seq((1L, 1.0), (1L, 3.0), (2L, 1.0), (2L, 3.0),
      (3L, 1.0), (3L, 3.0)).toDF("cl", "v")
    val deFlat = Analytics.designEffect(flat, "cl", "v").collect().head
    assert(deFlat.getAs[Double]("icc") < 0.0)
    assert(deFlat.getAs[Double]("deff") < 1.0)
    partitionSweep { pn =>
      Analytics.clusterRandomizedTest(df.repartition(pn), "g", "cl",
          "v", "a", "b").collect().map(_.toSeq).toSeq ++
        Analytics.designEffect(df.repartition(pn), "cl", "v")
          .collect().map(_.toSeq).toSeq
    }
  }

  test("mdeHorizon: m=1 row equals mdeTwoSample; literal 1/sqrt(m) " +
    "shrink from observed moments; degenerate arm NULLs; partition " +
    "sweep") {
    import spark.implicits._
    val df = Seq(("A", 10.0), ("A", 14.0), ("A", 12.0), ("B", 9.0),
      ("B", 13.0), ("B", 11.0), ("B", 15.0)).toDF("g", "v")
    val hor = Analytics.mdeHorizon(df, "g", "v", "A", "B", periods = 6)
      .orderBy("m").collect()
    assert(hor.length == 6)
    val one = Analytics.mdeTwoSample(df, "g", "v", "A", "B")
      .collect().head
    assert(hor.head.getAs[Long]("n_a_cum") == one.getAs[Long]("n_a"))
    assert(hor.head.getAs[Double]("mde_abs") ==
      one.getAs[Double]("mde_abs"))
    // literal model straight from the observed moments
    val (na, nb) = (one.getAs[Long]("n_a"), one.getAs[Long]("n_b"))
    val (va, vb) = (one.getAs[Double]("var_a"), one.getAs[Double]("var_b"))
    hor.foreach { r =>
      val m = r.getAs[Long]("m")
      val se2 = va / (m * na).toDouble + vb / (m * nb).toDouble
      val mde = (1.959964 + 0.841621) * math.sqrt(se2)
      assert(r.getAs[Long]("n_a_cum") == m * na)
      assert(math.abs(r.getAs[Double]("mde_abs") - mde) < 1e-15)
      assert(math.abs(r.getAs[Double]("mde_rel") -
        mde / one.getAs[Double]("mean_b")) < 1e-15)
    }
    // the curve shrinks: each period buys sensitivity
    val c = hor.map(_.getAs[Double]("mde_abs"))
    assert(c.zip(c.tail).forall { case (a, b) => b < a })
    // a single-row arm has no variance: the whole curve is NULL
    val r1 = Analytics.mdeHorizon(Seq(("A", 1.0), ("B", 2.0), ("B", 3.0))
      .toDF("g", "v"), "g", "v", "A", "B", periods = 3)
      .collect()
    assert(r1.length == 3 &&
      r1.forall(_.isNullAt(r1.head.fieldIndex("mde_abs"))))
    partitionSweep { pn =>
      Analytics.mdeHorizon(df.repartition(pn), "g", "v", "A", "B", 4)
        .collect().map(_.toSeq).toSeq
    }
  }

  test("gpdMomentTail: literal DEdH model on a dyadic ladder; exact " +
    "Pareto sign read; all-tied top-k NULLs xi; n_pos < k+1 NULLs; " +
    "partition sweep") {
    import spark.implicits._
    // ladder 16,8,4,2,1: k=4, x_k1=1, ln-ratios are (4,3,2,1)*ln2
    val df = Seq(16.0, 8.0, 4.0, 2.0, 1.0).toDF("v")
    val r = Analytics.gpdMomentTail(df, "v", k = 4).collect().head
    val l2 = math.log(2.0)
    val m1 = (4 + 3 + 2 + 1) * l2 / 4.0
    val m2 = (16 + 9 + 4 + 1) * (l2 * l2) / 4.0
    val xi = m1 + 1.0 - 0.5 / (1.0 - m1 * m1 / m2)
    assert(r.getAs[Long]("n_pos") == 5L && r.getAs[Long]("k") == 4L)
    assert(r.getAs[Double]("x_k1") == 1.0)
    assert(math.abs(r.getAs[Double]("m1") - m1) < 1e-12)
    assert(math.abs(r.getAs[Double]("m2") - m2) < 1e-12)
    assert(math.abs(r.getAs[Double]("xi") - xi) < 1e-12)
    // a hard upper endpoint reads xi < 0 where Hill would read a
    // spurious positive index
    val bounded = (1 to 400).map(i => 10.0 - 1.0 / i).toDF("v")
    val rb = Analytics.gpdMomentTail(bounded, "v", k = 50).collect().head
    assert(rb.getAs[Double]("xi") < 0.0)
    assert(rb.isNullAt(rb.fieldIndex("alpha")))
    // all-tied top-k: degenerate tail, NULL xi
    val tied = Seq.fill(10)(7.0).toDF("v")
    val rt = Analytics.gpdMomentTail(tied, "v", k = 3).collect().head
    assert(rt.isNullAt(rt.fieldIndex("xi")))
    // not enough positive mass: loudly incomplete
    val small = Seq(3.0, 2.0).toDF("v")
    val rs = Analytics.gpdMomentTail(small, "v", k = 4).collect().head
    assert(rs.isNullAt(rs.fieldIndex("m1")))
    partitionSweep { pn =>
      Analytics.gpdMomentTail(df.repartition(pn), "v", 4)
        .collect().map(_.toSeq).toSeq
    }
  }

  test("stratifiedTest: literal post-stratified model; segment-mix " +
    "confounding cancels exactly; missing-arm stratum NULLs loudly; " +
    "small-arm stratum NULLs se only; partition sweep") {
    import spark.implicits._
    val rows = Seq(
      ("s1", "A", 10.0), ("s1", "A", 14.0), ("s1", "B", 7.0),
      ("s1", "B", 9.0),
      ("s2", "A", 20.0), ("s2", "A", 24.0), ("s2", "A", 22.0),
      ("s2", "B", 16.0), ("s2", "B", 18.0))
    val df = rows.toDF("st", "g", "v")
    val r = Analytics.stratifiedTest(df, "st", "g", "v", "A", "B")
      .collect().head
    // literal model in stratum order
    def m(xs: Seq[Double]) = xs.sum / xs.size
    def va(xs: Seq[Double]) = {
      val mu = m(xs); xs.map(x => (x - mu) * (x - mu)).sum / (xs.size - 1)
    }
    val byStr = rows.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (_, rs) =>
        val a = rs.filter(_._2 == "A").map(_._3)
        val b = rs.filter(_._2 == "B").map(_._3)
        val ns = (a.size + b.size).toDouble
        (ns, ns * (m(a) - m(b)),
          ns * ns * (va(a) / a.size + va(b) / b.size))
    }
    val nn = byStr.map(_._1).sum
    val diff = byStr.map(_._2).foldLeft(0.0)(_ + _) / nn
    val se = math.sqrt(byStr.map(_._3).foldLeft(0.0)(_ + _) / (nn * nn))
    assert(r.getAs[Long]("n_strata") == 2L)
    assert(r.getAs[Long]("n_a") == 5L && r.getAs[Long]("n_b") == 4L)
    assert(math.abs(r.getAs[Double]("diff") - diff) < 1e-12)
    assert(math.abs(r.getAs[Double]("se") - se) < 1e-12)
    assert(math.abs(r.getAs[Double]("z") - diff / se) < 1e-12)
    // pure segment confounding: the metric is stratum-determined, the
    // arms' mixes differ wildly — the stratified diff is EXACTLY 0
    val conf = (Seq.fill(8)(("s2", "A", 10.0)) ++
      Seq.fill(2)(("s1", "A", 1.0)) ++ Seq.fill(8)(("s1", "B", 1.0)) ++
      Seq.fill(2)(("s2", "B", 10.0))).toDF("st", "g", "v")
    val rc = Analytics.stratifiedTest(conf, "st", "g", "v", "A", "B")
      .collect().head
    assert(rc.getAs[Double]("diff") == 0.0)
    // one stratum missing arm B entirely: loud NULL, counted
    val miss = (rows :+ (("s3", "A", 5.0))).toDF("st", "g", "v")
    val rm = Analytics.stratifiedTest(miss, "st", "g", "v", "A", "B")
      .collect().head
    assert(rm.getAs[Long]("n_strata_incomplete") == 1L)
    assert(rm.isNullAt(rm.fieldIndex("diff")))
    // a singleton arm: the point estimate stands, the variance cannot
    val small = (rows ++ Seq(("s3", "A", 5.0), ("s3", "B", 6.0),
      ("s3", "B", 8.0))).toDF("st", "g", "v")
    val rs2 = Analytics.stratifiedTest(small, "st", "g", "v", "A", "B")
      .collect().head
    assert(rs2.getAs[Long]("n_strata_smallarm") == 1L)
    assert(!rs2.isNullAt(rs2.fieldIndex("diff")))
    assert(rs2.isNullAt(rs2.fieldIndex("se")))
    partitionSweep { pn =>
      Analytics.stratifiedTest(df.repartition(pn), "st", "g", "v",
        "A", "B").collect().map(_.toSeq).toSeq
    }
  }

  test("randomEffectsMeta: literal DerSimonian-Laird model; " +
    "homogeneous studies collapse to the fixed pool with tau2 = 0; " +
    "duplicate study raises; bad variance raises; k = 1 passes the " +
    "fixed row through; partition sweep") {
    import spark.implicits._
    val studies = Seq(("s1", 0.5, 0.04), ("s2", 0.2, 0.09),
      ("s3", 0.8, 0.01))
    val df = studies.toDF("sid", "y", "v")
    val r = Analytics.randomEffectsMeta(df, "sid", "y", "v")
      .collect().head
    // literal model: folds in study order
    val os = studies.sortBy(_._1)
    val sw = os.map(s => 1.0 / s._3).foldLeft(0.0)(_ + _)
    val swy = os.map(s => (1.0 / s._3) * s._2).foldLeft(0.0)(_ + _)
    val swyy = os.map(s => (1.0 / s._3) * s._2 * s._2)
      .foldLeft(0.0)(_ + _)
    val sww = os.map(s => (1.0 / s._3) * (1.0 / s._3))
      .foldLeft(0.0)(_ + _)
    val fixed = swy / sw
    val q = swyy - swy * swy / sw
    val tau2 = math.max(0.0, (q - 2.0) / (sw - sww / sw))
    val i2 = math.max(0.0, (q - 2.0) / q)
    val sws = os.map(s => 1.0 / (s._3 + tau2)).foldLeft(0.0)(_ + _)
    val swsy = os.map(s => (1.0 / (s._3 + tau2)) * s._2)
      .foldLeft(0.0)(_ + _)
    assert(r.getAs[Long]("k") == 3L)
    assert(math.abs(r.getAs[Double]("fixed_effect") - fixed) < 1e-12)
    assert(math.abs(r.getAs[Double]("fixed_se") - math.sqrt(1.0 / sw))
      < 1e-12)
    assert(math.abs(r.getAs[Double]("q_stat") - q) < 1e-12)
    assert(math.abs(r.getAs[Double]("tau2") - tau2) < 1e-12)
    assert(math.abs(r.getAs[Double]("i2") - i2) < 1e-12)
    assert(math.abs(r.getAs[Double]("re_effect") - swsy / sws) < 1e-12)
    assert(math.abs(r.getAs[Double]("re_se") - math.sqrt(1.0 / sws))
      < 1e-12)
    // heterogeneity widens the interval and pulls the pool toward the
    // unweighted center (the precise high-variance study loses grip)
    assert(r.getAs[Double]("re_se") > r.getAs[Double]("fixed_se"))
    // homogeneous replications: tau2 clamps to 0, RE = fixed exactly
    val homog = Seq(("a", 0.3, 0.04), ("b", 0.3, 0.02), ("c", 0.3, 0.05))
      .toDF("sid", "y", "v")
    val rh = Analytics.randomEffectsMeta(homog, "sid", "y", "v")
      .collect().head
    assert(rh.getAs[Double]("tau2") == 0.0)
    assert(rh.getAs[Double]("re_effect") ==
      rh.getAs[Double]("fixed_effect"))
    intercept[Exception] {
      Analytics.randomEffectsMeta(Seq(("a", 0.1, 0.04), ("a", 0.2, 0.04))
        .toDF("sid", "y", "v"), "sid", "y", "v").collect()
    }
    intercept[Exception] {
      Analytics.randomEffectsMeta(Seq(("a", 0.1, 0.0))
        .toDF("sid", "y", "v"), "sid", "y", "v").collect()
    }
    val r1 = Analytics.randomEffectsMeta(Seq(("a", 0.4, 0.09))
      .toDF("sid", "y", "v"), "sid", "y", "v").collect().head
    assert(r1.isNullAt(r1.fieldIndex("tau2")))
    assert(r1.getAs[Double]("re_effect") ==
      r1.getAs[Double]("fixed_effect"))
    partitionSweep { pn =>
      Analytics.randomEffectsMeta(df.repartition(pn), "sid", "y", "v")
        .collect().map(_.toSeq).toSeq
    }
  }

  test("msprtRateTest: literal-model e-process row for row; unit " +
    "exposure collapses to msprtMeanTest at sigma2 = lambda0; " +
    "elevated rate crosses ln(1/alpha); duplicate t raises; " +
    "nonpositive exposure raises; partition sweep") {
    import spark.implicits._
    val rows = Seq((1L, 3L, 2.0), (2L, 1L, 0.5), (3L, 4L, 2.5),
      (4L, 2L, 1.0), (5L, 6L, 3.0), (6L, 2L, 1.5))
    val df = rows.toDF("t", "x", "e")
    val (l0, t2, alpha) = (1.5, 0.25, 0.05)
    val got = Analytics.msprtRateTest(df, "t", "x", "e", l0, t2, alpha)
      .orderBy("t").collect()
    var xT = 0L
    var eT = BigDecimal(0).setScale(12)
    val want = rows.map { case (_, x, e) =>
      xT += x
      eT = eT + BigDecimal(e).setScale(12, BigDecimal.RoundingMode.HALF_UP)
      val ed = eT.toDouble
      val rate = xT.toDouble / ed
      val vt = l0 / ed
      val dev = rate - l0
      val eLog = 0.5 * math.log(vt / (vt + t2)) +
        (dev * dev * t2) / (2.0 * vt * (vt + t2))
      (xT.toDouble, ed, rate, eLog)
    }
    assert(got.length == 6)
    got.zip(want).foreach { case (r, (x, e, rate, eLog)) =>
      assert(r.getAs[Double]("x_total") == x)
      assert(math.abs(r.getAs[Double]("e_total") - e) < 1e-12)
      assert(math.abs(r.getAs[Double]("rate") - rate) < 1e-12)
      assert(math.abs(r.getAs[Double]("e_log") - eLog) < 1e-12)
      assert(r.getAs[Boolean]("crossed") ==
        (eLog >= math.log(1.0 / alpha)))
    }
    // unit exposure: the rate monitor IS the mean monitor at
    // sigma2 = lambda0 (V = lambda0/n both ways)
    val unit = (1 to 30).map(i => (i.toLong, (i % 3).toLong, 1.0))
      .toDF("t", "x", "e")
    val viaRate = Analytics.msprtRateTest(unit, "t", "x", "e", l0, t2)
      .orderBy("t").collect().map(_.getAs[Double]("e_log"))
    val viaMean = Analytics.msprtMeanTest(
      unit.withColumn("v", col("x").cast("double")), "t", "v",
      mu0 = l0, sigma2 = l0, tau2 = t2)
      .orderBy("t").collect().map(_.getAs[Double]("e_log"))
    // same statistic through a different (algebraically equal) op
    // order — agree to ulps, not bits
    assert(viaRate.length == viaMean.length)
    viaRate.zip(viaMean).foreach { case (a, m) =>
      assert(math.abs(a - m) < 1e-12, s"unit-exposure collapse: $a vs $m")
    }
    // a persistently elevated rate must cross
    val hot = (1 to 60).map(i => (i.toLong, 5L, 1.0)).toDF("t", "x", "e")
    assert(Analytics.msprtRateTest(hot, "t", "x", "e", l0, t2)
      .filter(col("crossed")).count() > 0)
    intercept[Exception] {
      Analytics.msprtRateTest(Seq((1L, 1L, 1.0), (1L, 2L, 1.0))
        .toDF("t", "x", "e"), "t", "x", "e", l0, t2).collect()
    }
    intercept[Exception] {
      Analytics.msprtRateTest(Seq((1L, 1L, 0.0))
        .toDF("t", "x", "e"), "t", "x", "e", l0, t2).collect()
    }
    partitionSweep { pn =>
      Analytics.msprtRateTest(df.repartition(pn), "t", "x", "e", l0, t2)
        .collect().map(_.toSeq).toSeq
    }
  }

  test("bootstrapRatioCI: bit-equal to the literal expanded-resample " +
    "model (md5 mix -> Poisson weights -> ratio of weighted sums -> " +
    "percentile CI); zero-denominator replicates excluded; partition " +
    "sweep") {
    import spark.implicits._
    import graft.functions.ML
    val rows = (1 to 40).map { i =>
      ((i).toLong, ((i * 37 % 19) + 1).toDouble / 2.0,
        ((i * 23 % 11) + 1).toDouble / 4.0)
    }
    val df = rows.toDF("id", "x", "y")
    val (b, salt) = (12, "br")
    def md5words(key: String): (Long, Long) = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest((salt + key).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.substring(0, 8), 16),
        java.lang.Long.parseLong(hex.substring(8, 16), 16))
    }
    def mix(h1: Long, h2: Long, j: Int): Long = {
      val m = 4294967296L
      val a = (h2 + j.toLong * 2654435761L) % m
      val x0 = h1 ^ a
      val x1 = (x0 * 1597334677L) % m
      val x2 = x1 ^ (x1 >> 16)
      val x3 = (x2 * 887987685L) % m
      x3 ^ (x3 >> 13)
    }
    val cdf = ML.poisson1Cdf
    def pois(u: Double): Int = {
      val i = cdf.indexWhere(u < _); if (i < 0) cdf.length else i
    }
    def q4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    val got = ML.bootstrapRatioCI(df, "id", "x", "y", b, salt)
      .collect().head
    val ratios = (0 until b).flatMap { j =>
      var sx = BigDecimal(0); var sy = BigDecimal(0)
      rows.foreach { case (id, x, y) =>
        val (h1, h2) = md5words(id.toString)
        val w = pois(mix(h1, h2, j).toDouble / 4294967296.0)
        sx += q4(x) * w; sy += q4(y) * w
      }
      if (sy == BigDecimal(0)) None
      else Some(sx.toDouble / sy.toDouble)
    }
    val rs = ratios.sorted
    def pick(p: Double) =
      rs(math.max(1, math.ceil(p * rs.size).toInt) - 1)
    val estWant = rows.map(r => q4(r._2)).sum.toDouble /
      rows.map(r => q4(r._3)).sum.toDouble
    assert(got.getAs[Long]("n") == 40L)
    assert(got.getAs[Long]("b_eff") == ratios.size.toLong)
    assert(got.getAs[Double]("est") == estWant)
    assert(got.getAs[Double]("lo") == pick(0.025))
    assert(got.getAs[Double]("hi") == pick(0.975))
    assert(got.getAs[Double]("lo") <= got.getAs[Double]("hi"))
    // an all-zero denominator kills every replicate loudly
    val dead = rows.map { case (id, x, _) => (id, x, 0.0) }
      .toDF("id", "x", "y")
    val rd = ML.bootstrapRatioCI(dead, "id", "x", "y", b, salt)
      .collect().head
    assert(rd.getAs[Long]("b_eff") == 0L)
    assert(rd.isNullAt(rd.fieldIndex("est")))
    assert(rd.isNullAt(rd.fieldIndex("lo")))
    partitionSweep { pn =>
      ML.bootstrapRatioCI(df.repartition(pn), "id", "x", "y", b, salt)
        .collect().map(_.toSeq).toSeq
    }
  }

  test("eventStudy: literal per-period Welch model; base row anchors " +
    "at 0 with NULL rel_se; pre-period reads the parallel-trends " +
    "check; incomplete period stays visible; missing/one-armed base " +
    "raises; partition sweep") {
    import spark.implicits._
    val rows = Seq(
      ("p1", "T", 10.0), ("p1", "T", 12.0), ("p1", "C", 9.0),
      ("p1", "C", 11.0),
      ("p2", "T", 11.0), ("p2", "T", 13.0), ("p2", "C", 10.0),
      ("p2", "C", 12.0),
      ("p3", "T", 20.0), ("p3", "T", 22.0), ("p3", "C", 12.0),
      ("p3", "C", 14.0),
      ("p4", "T", 24.0), ("p4", "C", 13.0), ("p4", "C", 15.0))
    val df = rows.toDF("p", "g", "v")
    val got = Analytics.eventStudy(df, "g", "p", "v", "T", "C", "p2")
      .orderBy("period").collect()
    assert(got.length == 4)
    def stats(p: String, g: String) = {
      val vs = rows.filter(r => r._1 == p && r._2 == g).map(_._3)
      val m = vs.sum / vs.size
      val va = if (vs.size >= 2)
        Some(vs.map(x => (x - m) * (x - m)).sum / (vs.size - 1))
      else None
      (vs.size, m, va)
    }
    def dse2(p: String) = {
      val (nt, mt, vt) = stats(p, "T"); val (nc, mc, vc) = stats(p, "C")
      (mt - mc, (vt, vc) match {
        case (Some(a), Some(b)) => Some(a / nt + b / nc)
        case _ => None
      })
    }
    val (bd, bs2) = dse2("p2")
    got.foreach { r =>
      val p = r.getAs[String]("period")
      val (diff, se2) = dse2(p)
      assert(math.abs(r.getAs[Double]("diff") - diff) < 1e-12, s"$p diff")
      if (p == "p2") {
        assert(r.getAs[Double]("rel_effect") == 0.0)
        assert(r.isNullAt(r.fieldIndex("rel_se")))
      } else {
        assert(math.abs(r.getAs[Double]("rel_effect") - (diff - bd))
          < 1e-12, s"$p rel")
        (se2, bs2) match {
          case (Some(a), Some(b)) =>
            assert(math.abs(r.getAs[Double]("rel_se") -
              math.sqrt(a + b)) < 1e-12, s"$p rel_se")
          case _ => assert(r.isNullAt(r.fieldIndex("rel_se")))
        }
      }
    }
    // parallel trends: the pre-base period's rel sits near 0, the
    // post periods carry the effect
    val byP = got.map(r => r.getAs[String]("period") ->
      r.getAs[Double]("rel_effect")).toMap
    assert(math.abs(byP("p1")) < 1.0)
    assert(byP("p3") > 5.0 && byP("p4") > 5.0)
    // p4's treat arm is a singleton: diff stands, rel_se is NULL
    val p4 = got.find(_.getAs[String]("period") == "p4").get
    assert(!p4.isNullAt(p4.fieldIndex("diff")))
    assert(p4.isNullAt(p4.fieldIndex("rel_se")))
    // missing base period / one-armed base: loud raise
    intercept[Exception] {
      Analytics.eventStudy(df, "g", "p", "v", "T", "C", "p9").collect()
    }
    intercept[Exception] {
      Analytics.eventStudy(df.filter(!(col("p") === "p2" &&
        col("g") === "C")), "g", "p", "v", "T", "C", "p2").collect()
    }
    partitionSweep { pn =>
      Analytics.eventStudy(df.repartition(pn), "g", "p", "v", "T", "C",
        "p2").collect().map(_.toSeq).toSeq
    }
  }

  test("rmst: hand-integrated KM area at an interior tau; tau before " +
    "first event = tau; extrapolation holds the last plateau; the " +
    "no-censoring case recovers the truncated mean exactly; empty " +
    "input NULLs; partition sweep") {
    import spark.implicits._
    val subj = Seq((1.0, true), (2.0, false), (3.0, true), (5.0, true),
      (7.0, false)).toDF("dur", "ev")
    // KM: S=0.8 after t=1, 0.5333.. after 3, 0.2666.. after 5
    val r6 = Analytics.rmst(subj, "dur", col("ev"), tau = 6.0)
      .collect().head
    assert(r6.getAs[Long]("n") == 5L && r6.getAs[Long]("events") == 3L)
    val s5 = 0.8 * (2.0 / 3.0) * 0.5
    assert(math.abs(r6.getAs[Double]("survival_tau") - s5) < 1e-9)
    val want6 = 1.0 + 2.0 * 0.8 + 2.0 * (0.8 * 2.0 / 3.0) + 1.0 * s5
    assert(math.abs(r6.getAs[Double]("rmst") - want6) < 1e-9)
    // tau inside the first flat stretch: everyone survives the window
    val rHalf = Analytics.rmst(subj, "dur", col("ev"), tau = 0.5)
      .collect().head
    assert(rHalf.getAs[Double]("survival_tau") == 1.0)
    assert(rHalf.getAs[Double]("rmst") == 0.5)
    // beyond follow-up: the last plateau extrapolates (the standard
    // KM-integration caveat — pick tau inside follow-up in practice)
    val r100 = Analytics.rmst(subj, "dur", col("ev"), tau = 100.0)
      .collect().head
    assert(math.abs(r100.getAs[Double]("rmst") - 29.0) < 1e-7)
    // no censoring: RMST at large tau IS the sample mean (S hits 0)
    val all = Seq((1.0, true), (2.0, true), (3.0, true)).toDF("dur", "ev")
    val rAll = Analytics.rmst(all, "dur", col("ev"), tau = 10.0)
      .collect().head
    assert(rAll.getAs[Double]("survival_tau") == 0.0)
    assert(math.abs(rAll.getAs[Double]("rmst") - 2.0) < 1e-9)
    // empty input: loud NULL, not a silent zero
    val rEmpty = Analytics.rmst(subj.filter(col("dur") < 0), "dur",
      col("ev"), tau = 6.0).collect().head
    assert(rEmpty.isNullAt(rEmpty.fieldIndex("rmst")))
    partitionSweep { pn =>
      Analytics.rmst(subj.repartition(pn), "dur", col("ev"), 6.0)
        .collect().map(_.toSeq).toSeq
    }
  }

  test("survivalQuantile: censoring-correct quantiles off the KM " +
    "curve; unreached quantile reads reached=false not an invented " +
    "number; agrees with the kaplanMeier output; S-hits-zero case; " +
    "partition sweep") {
    import spark.implicits._
    val subj = Seq((1.0, true), (2.0, false), (3.0, true), (5.0, true),
      (7.0, false)).toDF("dur", "ev")
    // S: 0.8 after t=1, 0.5333 after 3, 0.2667 after 5
    def q(p: Double) = Analytics.survivalQuantile(subj, "dur",
      col("ev"), p).collect().head
    assert(q(0.1).getAs[Double]("quantile") == 1.0)
    assert(q(0.5).getAs[Double]("quantile") == 5.0)
    assert(q(0.7).getAs[Double]("quantile") == 5.0)
    val unreached = q(0.9)
    assert(!unreached.getAs[Boolean]("reached"))
    assert(unreached.isNullAt(unreached.fieldIndex("quantile")))
    assert(unreached.getAs[Long]("n") == 5L &&
      unreached.getAs[Long]("events") == 3L)
    // composition: the quantile IS the first KM row at or under 1-p
    val km = Analytics.kaplanMeier(subj, "dur", col("ev"))
      .orderBy("t").collect()
    val wantMedian = km.find(_.getAs[Double]("survival") <= 0.5).get
      .getAs[Double]("t")
    assert(q(0.5).getAs[Double]("quantile") == wantMedian)
    // everyone dies: S hits exact 0, every deep quantile is the last t
    val all = Seq((1.0, true), (2.0, true), (3.0, true)).toDF("dur", "ev")
    val rz = Analytics.survivalQuantile(all, "dur", col("ev"), 0.99)
      .collect().head
    assert(rz.getAs[Double]("quantile") == 3.0)
    // empty input: NULL, not zero
    val re = Analytics.survivalQuantile(subj.filter(col("dur") < 0),
      "dur", col("ev"), 0.5).collect().head
    assert(re.isNullAt(re.fieldIndex("quantile")))
    assert(re.isNullAt(re.fieldIndex("reached")))
    partitionSweep { pn =>
      Analytics.survivalQuantile(subj.repartition(pn), "dur",
        col("ev"), 0.5).collect().map(_.toSeq).toSeq
    }
  }

  test("srmTestBy: per-segment chi2 equals srmTest on the slice; a " +
    "one-segment break the global test dilutes away flags loudly in " +
    "its own row; NULL key is its own segment; n_other counted; " +
    "partition sweep") {
    import spark.implicits._
    val rows =
      (1 to 10).map(_ => (Some("s1"), "a")) ++
        (1 to 10).map(_ => (Some("s1"), "b")) ++
        (1 to 16).map(_ => (Some("s2"), "a")) ++
        (1 to 4).map(_ => (Some("s2"), "b")) ++
        Seq((Some("s2"), "zz")) ++
        (1 to 3).map(_ => (Option.empty[String], "a")) ++
        (1 to 3).map(_ => (Option.empty[String], "b"))
    val df = rows.toDF("seg", "g")
    val design = Seq("a" -> 0.5, "b" -> 0.5)
    val got = Analytics.srmTestBy(df, Seq("seg"), "g", design)
      .collect()
    assert(got.length == 3)
    def chi2(na: Long, nb: Long): Double = {
      val n = (na + nb).toDouble
      val e = n * 0.5
      (na - e) * (na - e) / e + (nb - e) * (nb - e) / e
    }
    val byKey = got.map(r => Option(r.getAs[String]("seg")) -> r).toMap
    assert(byKey(Some("s1")).getAs[Double]("chi2") == chi2(10, 10))
    assert(byKey(Some("s2")).getAs[Double]("chi2") == chi2(16, 4))
    assert(byKey(Some("s2")).getAs[Long]("n_other") == 1L)
    assert(byKey(None).getAs[Double]("chi2") == chi2(3, 3))
    // the broken segment screams in its row while the GLOBAL test is
    // diluted well below it
    val global = Analytics.srmTest(df, "g", design).collect().head
    assert(byKey(Some("s2")).getAs[Double]("chi2") >
      global.getAs[Double]("chi2"))
    // per-segment == srmTest restricted to the slice
    val s2only = Analytics.srmTest(df.filter(col("seg") === "s2"), "g",
      design).collect().head
    assert(byKey(Some("s2")).getAs[Double]("chi2") ==
      s2only.getAs[Double]("chi2"))
    partitionSweep { pn =>
      Analytics.srmTestBy(df.repartition(pn), Seq("seg"), "g", design)
        .collect().map(_.toSeq).toSeq
    }
  }

  test("upliftCurve: hand-computed qini at every distinct score; " +
    "control-free prefix NULLs visibly; the final point is the total " +
    "experiment lift and random diagonal ends there too; model beats " +
    "the diagonal where built to; partition sweep") {
    import spark.implicits._
    val rows = Seq(
      (4.0, "T", 1.0),
      (3.0, "T", 1.0), (3.0, "T", 1.0), (3.0, "C", 0.0),
      (2.0, "T", 0.0), (2.0, "C", 1.0), (2.0, "C", 0.0),
      (1.0, "T", 1.0), (1.0, "C", 1.0))
    val df = rows.toDF("s", "g", "y")
    val got = Analytics.upliftCurve(df, "s", "g", "y", "T", "C")
      .orderBy(desc("score")).collect()
    assert(got.length == 4)
    val qtot = 4.0 - 2.0 * (5.0 / 4.0) // 1.5
    val want = Seq( // (score, n, n_t, n_c, qini, random)
      (4.0, 1L, 1L, 0L, None, 1.0 / 9.0 * qtot),
      (3.0, 4L, 3L, 1L, Some(3.0), 4.0 / 9.0 * qtot),
      (2.0, 7L, 4L, 3L, Some(3.0 - 1.0 * 4.0 / 3.0), 7.0 / 9.0 * qtot),
      (1.0, 9L, 5L, 4L, Some(qtot), qtot))
    got.zip(want).foreach { case (r, (s, n, nt, nc, q, rnd)) =>
      assert(r.getAs[Double]("score") == s)
      assert(r.getAs[Long]("n") == n)
      assert(r.getAs[Long]("n_t") == nt && r.getAs[Long]("n_c") == nc)
      q match {
        case None => assert(r.isNullAt(r.fieldIndex("qini")), s"s=$s")
        case Some(v) =>
          assert(math.abs(r.getAs[Double]("qini") - v) < 1e-12, s"s=$s")
      }
      assert(math.abs(r.getAs[Double]("qini_random") - rnd) < 1e-12)
    }
    // the model concentrates lift early: the curve clears the diagonal
    assert(got(1).getAs[Double]("qini") >
      got(1).getAs[Double]("qini_random"))
    partitionSweep { pn =>
      Analytics.upliftCurve(df.repartition(pn), "s", "g", "y", "T", "C")
        .collect().map(_.toSeq).toSeq
    }
  }

  test("balanceTable: literal per-covariate SMD model; per-covariate " +
    "NULL exclusion; planted shift flags |SMD| > 0.1 while the " +
    "balanced covariate does not; constant covariate NULLs smd; " +
    "partition sweep") {
    import spark.implicits._
    val rows = Seq(
      // (arm, x balanced, z shifted in B, w with NULLs in A, c const)
      ("A", 1.0, 5.0, Some(2.0), 7.0), ("A", 2.0, 6.0, None, 7.0),
      ("A", 3.0, 5.5, Some(4.0), 7.0), ("A", 2.0, 6.5, Some(3.0), 7.0),
      ("B", 1.5, 9.0, Some(2.5), 7.0), ("B", 2.5, 10.0, Some(3.5), 7.0),
      ("B", 2.0, 9.5, Some(3.0), 7.0), ("B", 2.0, 8.5, None, 7.0))
    val df = rows.toDF("g", "x", "z", "w", "c")
    val got = Analytics.balanceTable(df, "g", Seq("x", "z", "w", "c"),
      "A", "B").collect()
    assert(got.length == 4)
    val byCov = got.map(r => r.getAs[String]("covariate") -> r).toMap
    def model(vsA: Seq[Double], vsB: Seq[Double]) = {
      def m(v: Seq[Double]) = v.sum / v.size
      def va(v: Seq[Double]) = {
        val mu = m(v); v.map(x => (x - mu) * (x - mu)).sum / (v.size - 1)
      }
      (m(vsA), m(vsB),
        (m(vsA) - m(vsB)) / math.sqrt((va(vsA) + va(vsB)) / 2.0))
    }
    val (mxA, mxB, smdX) = model(
      rows.filter(_._1 == "A").map(_._2), rows.filter(_._1 == "B").map(_._2))
    assert(math.abs(byCov("x").getAs[Double]("mean_a") - mxA) < 1e-12)
    assert(math.abs(byCov("x").getAs[Double]("mean_b") - mxB) < 1e-12)
    assert(math.abs(byCov("x").getAs[Double]("smd") - smdX) < 1e-12)
    // the planted +3.5 shift on z: |SMD| far over the 0.1 flag, while
    // the balanced covariate sits under it
    assert(math.abs(byCov("z").getAs[Double]("smd")) > 1.0)
    assert(math.abs(byCov("x").getAs[Double]("smd")) < 0.5)
    // per-covariate NULL exclusion: w's counts drop only ITS nulls
    assert(byCov("w").getAs[Long]("n_a") == 3L)
    assert(byCov("w").getAs[Long]("n_b") == 3L)
    assert(byCov("x").getAs[Long]("n_a") == 4L)
    val (mwA, mwB, smdW) = model(Seq(2.0, 4.0, 3.0), Seq(2.5, 3.5, 3.0))
    assert(math.abs(byCov("w").getAs[Double]("smd") - smdW) < 1e-12)
    // both arms constant: pooled SD degenerate, NULL smd (not Inf)
    assert(byCov("c").isNullAt(byCov("c").fieldIndex("smd")))
    partitionSweep { pn =>
      Analytics.balanceTable(df.repartition(pn), "g",
        Seq("x", "z", "w"), "A", "B").collect().map(_.toSeq).toSeq
    }
  }

  test("qiniAuc: hand-computed trapezoid area anchored at the origin; " +
    "excess over the random triangle; any control-free prefix NULLs " +
    "the area loudly; empty input NULLs; partition sweep") {
    import spark.implicits._
    val rows = Seq(
      (3.0, "T", 1.0), (3.0, "T", 1.0), (3.0, "C", 0.0),
      (2.0, "T", 0.0), (2.0, "C", 1.0), (2.0, "C", 0.0),
      (1.0, "T", 1.0), (1.0, "C", 1.0))
    val df = rows.toDF("s", "g", "y")
    val r = Analytics.qiniAuc(df, "s", "g", "y", "T", "C")
      .collect().head
    // points: (3/8, 2), (6/8, 1), (1, 1); origin-anchored trapezoids
    val want = (3.0 / 8.0) * (0.0 + 2.0) / 2.0 +
      (3.0 / 8.0) * (2.0 + 1.0) / 2.0 + (2.0 / 8.0) * (1.0 + 1.0) / 2.0
    assert(r.getAs[Long]("n") == 8L)
    assert(r.getAs[Long]("n_points") == 3L)
    assert(r.getAs[Long]("n_undefined") == 0L)
    assert(r.getAs[Double]("q_total") == 1.0)
    assert(math.abs(r.getAs[Double]("auuc") - want) < 1e-12)
    assert(r.getAs[Double]("auuc_random") == 0.5)
    assert(math.abs(r.getAs[Double]("auuc_excess") - (want - 0.5))
      < 1e-12)
    // a treated-only head makes the first point undefined: no area
    val withHead = ((4.0, "T", 1.0) +: rows).toDF("s", "g", "y")
    val rh = Analytics.qiniAuc(withHead, "s", "g", "y", "T", "C")
      .collect().head
    assert(rh.getAs[Long]("n_undefined") == 1L)
    assert(rh.isNullAt(rh.fieldIndex("auuc")))
    assert(!rh.isNullAt(rh.fieldIndex("auuc_random")))
    // empty input: NULL, not zero
    val re = Analytics.qiniAuc(df.filter(lit(false)), "s", "g", "y",
      "T", "C").collect().head
    assert(re.getAs[Long]("n") == 0L)
    assert(re.isNullAt(re.fieldIndex("auuc")))
    partitionSweep { pn =>
      Analytics.qiniAuc(df.repartition(pn), "s", "g", "y", "T", "C")
        .collect().map(_.toSeq).toSeq
    }
  }

  test("bootstrapQuantileCI: bit-equal to the literal resample model " +
    "(md5 mix -> Poisson weights -> expanded sorted resample -> type-1 " +
    "quantile -> percentile CI); est = exact full-sample quantile; " +
    "p sweep; partition sweep") {
    import spark.implicits._
    import graft.functions.ML
    val vals = (1 to 40).map(i => ((i * 37 % 19) + 1).toDouble / 2.0)
    val df = vals.zipWithIndex.map { case (v, i) => ((i + 1).toLong, v) }
      .toDF("id", "v")
    val (b, salt) = (12, "bq")
    // literal model: the operator's contract executed naively — every
    // replicate EXPANDED to a real resample list, sorted, indexed
    def md5words(key: String): (Long, Long) = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest((salt + key).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.substring(0, 8), 16),
        java.lang.Long.parseLong(hex.substring(8, 16), 16))
    }
    def mix(h1: Long, h2: Long, j: Int): Long = {
      val m = 4294967296L
      val a = (h2 + j.toLong * 2654435761L) % m
      val x0 = h1 ^ a
      val x1 = (x0 * 1597334677L) % m
      val x2 = x1 ^ (x1 >> 16)
      val x3 = (x2 * 887987685L) % m
      x3 ^ (x3 >> 13)
    }
    val cdf = ML.poisson1Cdf
    def pois(u: Double): Int = {
      val i = cdf.indexWhere(u < _); if (i < 0) cdf.length else i
    }
    def typed1(sorted: Seq[Double], p: Double): Double =
      sorted(math.max(1, math.ceil(p * sorted.size).toInt) - 1)
    for (p <- Seq(0.5, 0.9, 0.25)) {
      val got = ML.bootstrapQuantileCI(df, "id", "v", p, b, salt)
        .collect().head
      val stats = (0 until b).flatMap { j =>
        val resample = vals.zipWithIndex.flatMap { case (v, i) =>
          val (h1, h2) = md5words((i + 1).toString)
          val u = mix(h1, h2, j).toDouble / 4294967296.0
          Seq.fill(pois(u))(v)
        }
        if (resample.isEmpty) None else Some(typed1(resample.sorted, p))
      }
      val sortedStats = stats.sorted
      assert(got.getAs[Long]("n") == 40L)
      assert(got.getAs[Long]("b_eff") == stats.size.toLong)
      assert(got.getAs[Double]("est") == typed1(vals.sorted, p),
        s"est at p=$p")
      assert(got.getAs[Double]("lo") == typed1(sortedStats, 0.025),
        s"lo at p=$p")
      assert(got.getAs[Double]("hi") == typed1(sortedStats, 0.975),
        s"hi at p=$p")
    }
    partitionSweep { pn =>
      ML.bootstrapQuantileCI(df.repartition(pn), "id", "v", 0.5, b, salt)
        .collect().map(_.toSeq).toSeq
    }
  }

  test("groupSequentialTest: boundaries match the published Jennison & " +
    "Turnbull tables (OBF 2.040·√(5/ℓ), Pocock flat 2.413 at K=5, " +
    "alpha=0.05); z matches the hand Welch chain; stopped is the " +
    "running OR; out-of-design look raises; cConst path; partition " +
    "sweep") {
    import spark.implicits._
    // 5 looks, 4 rows per (look, arm); arm b shifted so later looks
    // cross OBF but look 1 does not
    val rows = for {
      l <- 1 to 5; arm <- Seq("a", "b"); i <- 0 until 4
    } yield (l.toLong, arm,
      10.0 + i * 2.0 + (if (arm == "b") l * 1.1 else 0.0))
    val df = rows.toDF("look", "g", "v")
    val got = Analytics.groupSequentialTest(df, "look", "g", "v",
      "a", "b", k = 5, design = "obf").orderBy("look").collect()
    assert(got.length == 5)
    // the PUBLISHED boundary shape, checked value-for-value
    (1 to 5).foreach { l =>
      assert(got(l - 1).getAs[Double]("boundary") ==
        2.040 * math.sqrt(5.0 / l), s"OBF boundary at look $l")
    }
    val pk = Analytics.groupSequentialTest(df, "look", "g", "v",
      "a", "b", k = 5, design = "pocock").orderBy("look").collect()
    assert(pk.forall(_.getAs[Double]("boundary") == 2.413))
    // driver model: cumulative moments at decimal scale 2, Welch z
    def model(l: Int): (Long, Long, Double, Double, Double) = {
      def arm(g: String) = rows.filter(r => r._1 <= l && r._2 == g)
        .map(r => BigDecimal(r._3).setScale(2, BigDecimal.RoundingMode.HALF_UP))
      val (va, vb) = (arm("a"), arm("b"))
      def mom(xs: Seq[BigDecimal]) = {
        val n = xs.size
        val s = xs.sum.toDouble
        val ss = xs.map(x => x * x).sum.toDouble
        val mean = s / n
        val vv = (ss - s * s / n) / (n - 1.0)
        (n.toLong, mean, vv)
      }
      val (na, ma, vva) = mom(va); val (nb, mb, vvb) = mom(vb)
      val se = math.sqrt(vva / na + vvb / nb)
      (na, nb, ma, mb, (ma - mb) / se)
    }
    got.zipWithIndex.foreach { case (r, i) =>
      val (na, nb, ma, mb, z) = model(i + 1)
      assert(r.getAs[Long]("n_a") == na && r.getAs[Long]("n_b") == nb)
      assert(r.getAs[Double]("mean_a") == ma, s"mean_a look ${i + 1}")
      assert(r.getAs[Double]("mean_b") == mb, s"mean_b look ${i + 1}")
      assert(r.getAs[Double]("z") == z, s"z look ${i + 1}")
      assert(r.getAs[Boolean]("crossed") ==
        (math.abs(z) >= r.getAs[Double]("boundary")))
    }
    // stopped = running OR of crossed
    val crossedSeq = got.map(_.getAs[Boolean]("crossed"))
    got.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Boolean]("stopped") == crossedSeq.take(i + 1)
        .exists(identity), s"stopped at look ${i + 1}")
    }
    // a look outside the design raises on every output row
    intercept[Exception] {
      Analytics.groupSequentialTest(
        df.union(Seq((9L, "a", 1.0)).toDF("look", "g", "v")),
        "look", "g", "v", "a", "b", k = 5).collect()
    }
    // non-tabulated alpha needs an explicit constant
    intercept[IllegalArgumentException] {
      Analytics.groupSequentialTest(df, "look", "g", "v", "a", "b",
        k = 5, alpha = 0.01)
    }
    val cc = Analytics.groupSequentialTest(df, "look", "g", "v", "a",
      "b", k = 5, design = "pocock", alpha = 0.01, cConst = Some(2.986))
      .orderBy("look").collect()
    assert(cc.forall(_.getAs[Double]("boundary") == 2.986))
    partitionSweep { pn =>
      Analytics.groupSequentialTest(df.repartition(pn), "look", "g",
        "v", "a", "b", k = 5).orderBy("look").collect()
        .map(_.toSeq).toSeq
    }
  }

  test("twoProportionTest: hand 2x2 chains (pooled z, Wald diff CI, " +
    "Katz RR CI, Woolf OR CI); degenerate cells NULL the right " +
    "statistics; mdeProportion pooled sizing; partition sweep") {
    import spark.implicits._
    // a: 30/100 successes, b: 10/50
    val rows = (1 to 100).map(i => ("a", if (i <= 30) 1 else 0)) ++
      (1 to 50).map(i => ("b", if (i <= 10) 1 else 0))
    val df = rows.toDF("g", "s")
    val r = Analytics.twoProportionTest(df, "g", "s", "a", "b")
      .collect().head
    val (na, xa, nb, xb) = (100.0, 30.0, 50.0, 10.0)
    val (pa, pb) = (xa / na, xb / nb)
    val pp = (xa + xb) / (na + nb)
    val z = (pa - pb) / math.sqrt(pp * (1.0 - pp) * (1.0 / na + 1.0 / nb))
    val sew = math.sqrt(pa * (1 - pa) / na + pb * (1 - pb) / nb)
    assert(r.getAs[Double]("p_a") == pa && r.getAs[Double]("p_b") == pb)
    assert(r.getAs[Double]("z") == z)
    assert(r.getAs[Double]("diff_lo") == (pa - pb) - 1.959964 * sew)
    assert(r.getAs[Double]("diff_hi") == (pa - pb) + 1.959964 * sew)
    val selr = math.sqrt((1 - pa) / xa + (1 - pb) / xb)
    assert(r.getAs[Double]("risk_ratio") == pa / pb)
    assert(r.getAs[Double]("rr_lo") ==
      math.exp(math.log(pa / pb) - 1.959964 * selr))
    val orr = (xa * (nb - xb)) / (xb * (na - xa))
    val selo = math.sqrt(1 / xa + 1 / (na - xa) + 1 / xb + 1 / (nb - xb))
    assert(r.getAs[Double]("odds_ratio") == orr)
    assert(r.getAs[Double]("or_hi") ==
      math.exp(math.log(orr) + 1.959964 * selo))
    // zero successes in one arm: RR and OR NULL, z still defined
    val zr = Analytics.twoProportionTest(
      (Seq(("a", 1), ("a", 0), ("b", 0), ("b", 0))).toDF("g", "s"),
      "g", "s", "a", "b").collect().head
    assert(zr.isNullAt(zr.fieldIndex("risk_ratio")))
    assert(zr.isNullAt(zr.fieldIndex("odds_ratio")))
    assert(!zr.isNullAt(zr.fieldIndex("z")))
    // mdeProportion: pooled-rate sizing chain
    val m = Analytics.mdeProportion(df, "g", "s", "a", "b").collect().head
    val mde = (1.959964 + 0.841621) *
      math.sqrt(pp * (1.0 - pp) * (1.0 / na + 1.0 / nb))
    assert(m.getAs[Double]("p_pool") == pp)
    assert(m.getAs[Double]("mde_abs") == mde)
    assert(m.getAs[Double]("mde_rel") == mde / pp)
    partitionSweep { pn =>
      Analytics.twoProportionTest(df.repartition(pn), "g", "s", "a", "b")
        .collect().map(_.toSeq).toSeq
    }
  }

  test("msprtTwoProportionTest: e_log bit-equal to the hand pooled-" +
    "variance chain at every t; NULL until both arms report and the " +
    "pooled rate leaves {0,1}; duplicate t raises; shifted arm " +
    "crosses; partition sweep") {
    import spark.implicits._
    // interleaved arms; arm a converts every 5th, arm b every 2nd
    val rows = (1 to 200).map { i =>
      val a = i % 2 == 0
      (i.toLong, if (a) "a" else "b",
        if (a) (if (i % 10 == 0) 1 else 0) else (if (i % 4 == 1) 1 else 0))
    }
    val df = rows.toDF("t", "g", "s")
    val (t2, alpha) = (0.05, 0.05)
    val got = Analytics.msprtTwoProportionTest(df, "t", "g", "s",
      "a", "b", tau2 = t2, alpha = alpha).orderBy("t").collect()
    assert(got.length == 200)
    var (nA, xA, nB, xB) = (0L, 0L, 0L, 0L)
    rows.zipWithIndex.foreach { case ((_, g, s), i) =>
      if (g == "a") { nA += 1; xA += s } else { nB += 1; xB += s }
      val want: Option[Double] =
        if (nA == 0 || nB == 0) None
        else {
          val pp = (xA + xB).toDouble / (nA + nB).toDouble
          val vt = pp * (1.0 - pp) * (1.0 / nA + 1.0 / nB)
          if (vt <= 0) None
          else {
            val delta = xA.toDouble / nA - xB.toDouble / nB
            // StrictMath, not Math: Spark's Log expression evaluates
            // through StrictMath.log, and the intrinsic differs by
            // 1 ulp on some inputs (measured at t = 11 here)
            Some(0.5 * java.lang.StrictMath.log(vt / (vt + t2)) +
              (delta * delta * t2) / (2.0 * vt * (vt + t2)))
          }
        }
      val gE = if (got(i).isNullAt(5)) None else Some(got(i).getDouble(5))
      assert(gE == want, s"e_log at t=${i + 1}")
    }
    // t=1 is arm b only -> NULL; the 2.5x rate gap crosses by the end
    assert(got.head.isNullAt(5))
    assert(got.last.getBoolean(6), "rate gap must cross ln(1/alpha)")
    intercept[Exception] {
      Analytics.msprtTwoProportionTest(
        Seq((1L, "a", 1), (1L, "b", 0)).toDF("t", "g", "s"),
        "t", "g", "s", "a", "b", tau2 = 0.05).collect()
    }
    partitionSweep { pn =>
      Analytics.msprtTwoProportionTest(df.repartition(pn), "t", "g",
        "s", "a", "b", tau2 = t2).orderBy("t").collect()
        .map(_.toSeq).toSeq
    }
  }

  test("hillTailIndex: hand Pareto-ish fixture; ties at the threshold " +
    "contribute zero; n_pos < k+1 gives NULL estimates; non-positive " +
    "values excluded; partition sweep") {
    import spark.implicits._
    // values 1..20 (descending top-6: 20,19,18,17,16 with x_(6)=15)
    val df = (1 to 20).map(_.toDouble).toDF("v")
    val r = Analytics.hillTailIndex(df, "v", k = 5).collect().head
    val lnsum = Seq(20.0, 19, 18, 17, 16).map(x =>
      BigDecimal(math.log(x / 15.0))
        .setScale(18, BigDecimal.RoundingMode.HALF_UP))
      .sum.toDouble
    assert(r.getAs[Long]("n_pos") == 20L)
    assert(r.getAs[Double]("x_k1") == 15.0)
    assert(r.getAs[Double]("hill_inv") == lnsum / 5.0)
    assert(r.getAs[Double]("alpha") == 5.0 / lnsum)
    // ties at the threshold: top-4 of (9,9,9,9,9,1) has x_k1 = 9 and
    // all ln ratios 0 -> hill_inv exactly 0, alpha NULL
    val tied = Seq(9.0, 9.0, 9.0, 9.0, 9.0, 1.0).toDF("v")
    val t = Analytics.hillTailIndex(tied, "v", k = 3).collect().head
    assert(t.getAs[Double]("hill_inv") == 0.0)
    assert(t.isNullAt(t.fieldIndex("alpha")))
    // not enough positive mass: NULLs, n_pos honest
    val small = Seq(5.0, 4.0, -1.0, 0.0).toDF("v")
    val s = Analytics.hillTailIndex(small, "v", k = 3).collect().head
    assert(s.getAs[Long]("n_pos") == 2L)
    assert(s.isNullAt(s.fieldIndex("hill_inv")))
    partitionSweep { pn =>
      Analytics.hillTailIndex(df.repartition(pn), "v", k = 5)
        .collect().map(_.toSeq).toSeq
    }
  }

  test("weissmanQuantile: literal extrapolation on the hill fixture; " +
    "all-tied top degenerates to the threshold; insufficient data " +
    "NULL; partition sweep") {
    import spark.implicits._
    val df = (1 to 20).map(_.toDouble).toDF("v")
    val r = Analytics.weissmanQuantile(df, "v", k = 5, tailProb = 0.01)
      .collect().head
    val lnsum = Seq(20.0, 19, 18, 17, 16).map(x =>
      BigDecimal(math.log(x / 15.0))
        .setScale(18, BigDecimal.RoundingMode.HALF_UP))
      .sum.toDouble
    val xi = lnsum / 5.0
    // q(0.01) = x_(6) * exp(xi * ln(k/(n p))) = 15 * exp(xi ln 25)
    assert(r.getAs[Double]("tail_prob") == 0.01)
    assert(math.abs(r.getAs[Double]("quantile") -
      15.0 * math.exp(xi * math.log(5.0 / (20.0 * 0.01)))) < 1e-12)
    // extrapolated past the max (the whole point)
    assert(r.getAs[Double]("quantile") > 20.0)
    // all-tied top: hill_inv exactly 0 -> quantile = threshold
    val tied = Seq(9.0, 9.0, 9.0, 9.0, 9.0, 1.0).toDF("v")
    val t = Analytics.weissmanQuantile(tied, "v", k = 3, tailProb = 0.01)
      .collect().head
    assert(t.getAs[Double]("quantile") == 9.0)
    // insufficient positive mass: NULL quantile
    val s = Analytics.weissmanQuantile(
      Seq(5.0, 4.0).toDF("v"), "v", k = 3, tailProb = 0.01)
      .collect().head
    assert(s.isNullAt(s.fieldIndex("quantile")))
    partitionSweep { pn =>
      Analytics.weissmanQuantile(df.repartition(pn), "v", k = 5,
        tailProb = 0.01).collect().map(_.toSeq).toSeq
    }
  }

  test("storeyQValue: hand pi0 and q on a mixed p set; pi0 = 1 " +
    "degenerates to bhAdjust; all-below-lambda gives pi0 = 0 and " +
    "zero q; NULL p preserved; partition sweep") {
    import spark.implicits._
    // 8 p-values, 2 above lambda=0.5 -> pi0 = 2/(0.5*8) = 0.5
    val ps = Seq(0.01, 0.02, 0.03, 0.04, 0.10, 0.20, 0.60, 0.90)
    val df = ps.zipWithIndex.map { case (p, i) => (i.toLong, p) }
      .toDF("id", "p")
    val got = Analytics.storeyQValue(df, "p", lambda = 0.5).collect()
      .map(r => r.getDouble(1) -> (r.getDouble(2), r.getDouble(3))).toMap
    val m = ps.size
    // literal model: q = min(1, pi0 * suffix-min of p*m/rank)
    val pi0 = 0.5
    val ranked = ps.sorted.zipWithIndex
      .map { case (p, i) => p -> p * m / (i + 1.0) }
    val want = ranked.map { case (p, _) =>
      p -> math.min(1.0,
        pi0 * ranked.filter(_._1 >= p).map(_._2).min)
    }.toMap
    ps.foreach { p =>
      assert(math.abs(got(p)._1 - pi0) < 1e-12)
      assert(math.abs(got(p)._2 - want(p)) < 1e-12, s"q at p=$p")
    }
    // q = pi0 * BH when nothing caps: check against bhAdjust scaled
    val bh = Analytics.bhAdjust(df, "p").collect()
      .map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    ps.filter(p => bh(p) < 1.0).foreach { p =>
      assert(math.abs(got(p)._2 - pi0 * bh(p)) < 1e-12)
    }
    // every p below lambda -> pi0 = 0, all q = 0 (documented honesty)
    val low = Seq(0.1, 0.2).zipWithIndex.map { case (p, i) =>
      (i.toLong, p) }.toDF("id", "p")
    val l = Analytics.storeyQValue(low, "p").collect()
    assert(l.forall(r => r.getDouble(2) == 0.0 && r.getDouble(3) == 0.0))
    // NULL p: NULL q, excluded from m
    val withNull = Seq((1L, Some(0.04)), (2L, None)).toDF("id", "p")
    val wn = Analytics.storeyQValue(withNull, "p").collect()
      .map(r => r.getLong(0) -> r.isNullAt(3)).toMap
    assert(!wn(1L) && wn(2L))
    partitionSweep { pn =>
      Analytics.storeyQValue(df.repartition(pn), "p")
        .orderBy("id").collect().map(_.toSeq).toSeq
    }
  }

  test("fisherCombine: hand -2*sum(ln p) and dof; NULLs excluded and " +
    "counted; p = 0 raises; p > 1 raises") {
    import spark.implicits._
    val ps = Seq(0.01, 0.04, 0.5, 1.0)
    val df = ps.zipWithIndex.map { case (p, i) => (i.toLong, p) }
      .toDF("id", "p")
    val r = Analytics.fisherCombine(df, "p").collect().head
    assert(r.getAs[Long]("k") == 4L && r.getAs[Long]("dof") == 8L)
    // literal: each ln term quantized at scale 12 then summed
    val want = -2.0 * ps.map(p =>
      BigDecimal(math.log(p)).setScale(12, BigDecimal.RoundingMode.HALF_UP))
      .sum.toDouble
    assert(math.abs(r.getAs[Double]("chi2") - want) < 1e-12)
    val withNull = Analytics.fisherCombine(
      Seq((1L, Some(0.5)), (2L, None)).toDF("id", "p"), "p")
      .collect().head
    assert(withNull.getAs[Long]("k") == 1L &&
      withNull.getAs[Long]("n_null") == 1L)
    intercept[Exception] {
      Analytics.fisherCombine(
        Seq((1L, 0.5), (2L, 0.0)).toDF("id", "p"), "p").collect()
    }
    intercept[Exception] {
      Analytics.fisherCombine(
        Seq((1L, 0.5), (2L, 1.5)).toDF("id", "p"), "p").collect()
    }
  }

  test("bootstrapQuantileDiffCI: bit-equal to the literal paired-" +
    "resample model; est_a/est_b are the exact arm quantiles; " +
    "partition sweep") {
    import spark.implicits._
    import graft.functions.ML
    val rows = (1 to 60).map { i =>
      val g = if (i % 2 == 0) "a" else "b"
      (i.toLong, g, ((i * 37 % 19) + 1).toDouble / 2.0 +
        (if (g == "a") 2.0 else 0.0))
    }
    val df = rows.toDF("id", "g", "v")
    val (p, b, salt) = (0.5, 10, "bd")
    val got = ML.bootstrapQuantileDiffCI(df, "g", "id", "v", "a", "b",
      p, b, salt).collect().head
    // literal model: per replicate, EXPAND each arm's resample, take
    // both type-1 quantiles, pair by replicate index, percentile CI
    // over the differences (the md5/mix/poisson chain of the
    // bootstrapQuantileCI spec)
    def md5words(key: String): (Long, Long) = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest((salt + key).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.substring(0, 8), 16),
        java.lang.Long.parseLong(hex.substring(8, 16), 16))
    }
    def mix(h1: Long, h2: Long, j: Int): Long = {
      val m = 4294967296L
      val a = (h2 + j.toLong * 2654435761L) % m
      val x0 = h1 ^ a
      val x1 = (x0 * 1597334677L) % m
      val x2 = x1 ^ (x1 >> 16)
      val x3 = (x2 * 887987685L) % m
      x3 ^ (x3 >> 13)
    }
    val cdf = ML.poisson1Cdf
    def pois(u: Double): Int = {
      val i = cdf.indexWhere(u < _); if (i < 0) cdf.length else i
    }
    def typed1(sorted: Seq[Double], q: Double): Double =
      sorted(math.max(1, math.ceil(q * sorted.size).toInt) - 1)
    def resample(g: String, j: Int): Seq[Double] =
      rows.filter(_._2 == g).flatMap { case (id, _, v) =>
        val (h1, h2) = md5words(id.toString)
        Seq.fill(pois(mix(h1, h2, j).toDouble / 4294967296.0))(v)
      }
    val diffs = (0 until b).flatMap { j =>
      val (ra, rb) = (resample("a", j), resample("b", j))
      if (ra.isEmpty || rb.isEmpty) None
      else Some(typed1(ra.sorted, p) - typed1(rb.sorted, p))
    }
    val sd = diffs.sorted
    def full(g: String) = rows.filter(_._2 == g).map(_._3).sorted
    assert(got.getAs[Double]("est_a") == typed1(full("a"), p))
    assert(got.getAs[Double]("est_b") == typed1(full("b"), p))
    assert(got.getAs[Long]("b_eff") == diffs.size.toLong)
    assert(got.getAs[Double]("lo") == typed1(sd, 0.025))
    assert(got.getAs[Double]("hi") == typed1(sd, 0.975))
    assert(got.getAs[Double]("diff") ==
      typed1(full("a"), p) - typed1(full("b"), p))
    partitionSweep { pn =>
      ML.bootstrapQuantileDiffCI(df.repartition(pn), "g", "id", "v",
        "a", "b", p, b, salt).collect().map(_.toSeq).toSeq
    }
  }

  test("bootstrapQuantile{,Diff}CI at tiny n: an all-zero-weight " +
    "replicate is EXCLUDED (NULL threshold), never handed the corpus " +
    "minimum; b_eff and the interval match the literal model over the " +
    "survivors") {
    import spark.implicits._
    import graft.functions.ML
    def md5words(salt: String, key: String): (Long, Long) = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest((salt + key).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.substring(0, 8), 16),
        java.lang.Long.parseLong(hex.substring(8, 16), 16))
    }
    def mix(h1: Long, h2: Long, j: Int): Long = {
      val m = 4294967296L
      val a = (h2 + j.toLong * 2654435761L) % m
      val x0 = h1 ^ a
      val x1 = (x0 * 1597334677L) % m
      val x2 = x1 ^ (x1 >> 16)
      val x3 = (x2 * 887987685L) % m
      x3 ^ (x3 >> 13)
    }
    val cdf = ML.poisson1Cdf
    def pois(u: Double): Int = {
      val i = cdf.indexWhere(u < _); if (i < 0) cdf.length else i
    }
    def w(salt: String, id: Long, j: Int): Int = {
      val (h1, h2) = md5words(salt, id.toString)
      pois(mix(h1, h2, j).toDouble / 4294967296.0)
    }
    def typed1(sorted: Seq[Double], q: Double): Double =
      sorted(math.max(1, math.ceil(q * sorted.size).toInt) - 1)
    // ONE-SAMPLE: n = 2, b = 16, salt "z0" — replicates {4,6,10,13}
    // draw weight 0 for BOTH rows (enumerated; P ≈ e⁻² each). Before
    // the round-19 fix the ceil(p·0) = 0 threshold let min(__incl >= 0)
    // hand those replicates the corpus minimum, silently biasing lo.
    val df = Seq((1L, 1.0), (2L, 5.0)).toDF("id", "v")
    val got = ML.bootstrapQuantileCI(df, "id", "v", 0.5, 16, "z0")
      .collect().head
    val stats = (0 until 16).flatMap { j =>
      val rs = Seq((1L, 1.0), (2L, 5.0)).flatMap { case (id, v) =>
        Seq.fill(w("z0", id, j))(v) }
      if (rs.isEmpty) None else Some(typed1(rs.sorted, 0.5))
    }
    assert(stats.size < 16, "fixture must produce an empty replicate")
    assert(got.getAs[Long]("b_eff") == stats.size.toLong)
    assert(got.getAs[Double]("lo") == typed1(stats.sorted, 0.025))
    assert(got.getAs[Double]("hi") == typed1(stats.sorted, 0.975))
    // TWO-SAMPLE: arm a = one row, so replicates empty it with
    // P ≈ e⁻¹ — salt "d2", b = 12 excludes {3,4,5,6}
    val rows2 = Seq((1L, "a", 4.0), (2L, "b", 1.0), (3L, "b", 3.0))
    val df2 = rows2.toDF("id", "g", "v")
    val got2 = ML.bootstrapQuantileDiffCI(df2, "g", "id", "v", "a", "b",
      0.5, 12, "d2").collect().head
    val diffs = (0 until 12).flatMap { j =>
      def rs(g: String) = rows2.filter(_._2 == g)
        .flatMap { case (id, _, v) => Seq.fill(w("d2", id, j))(v) }
      val (ra, rb) = (rs("a"), rs("b"))
      if (ra.isEmpty || rb.isEmpty) None
      else Some(typed1(ra.sorted, 0.5) - typed1(rb.sorted, 0.5))
    }
    assert(diffs.size < 12, "fixture must empty an arm")
    assert(got2.getAs[Long]("b_eff") == diffs.size.toLong)
    assert(got2.getAs[Double]("lo") == typed1(diffs.sorted, 0.025))
    assert(got2.getAs[Double]("hi") == typed1(diffs.sorted, 0.975))
  }

  test("conformalQuantile: hand k and qhat on 1..10 calibration " +
    "residuals; eval coverage fraction; alpha too small clamps; " +
    "partition sweep") {
    import spark.implicits._
    import graft.functions.ML
    // calib residuals 1..10; eval residuals 1..20
    val df = ((1 to 10).map(r => (r.toDouble, true)) ++
      (1 to 20).map(r => (r.toDouble + 0.5, false)))
      .toDF("resid", "cal")
    val r = ML.conformalQuantile(df, col("cal"), "resid", alpha = 0.25)
      .collect().head
    // k = ceil(11 * 0.75) = 9 -> qhat = 9.0; eval <= 9.0: residuals
    // 1.5..8.5 -> 8 of 20
    assert(r.getAs[Long]("n_cal") == 10L && r.getAs[Long]("n_eval") == 20L)
    assert(r.getAs[Long]("k") == 9L)
    assert(r.getAs[Double]("qhat") == 9.0)
    assert(math.abs(r.getAs[Double]("coverage_eval") - 8.0 / 20.0) < 1e-12)
    assert(!r.getAs[Boolean]("clamped"))
    // alpha = 0.01: k = ceil(11 * 0.99) = 11 > 10 -> clamped, NULL qhat
    val c = ML.conformalQuantile(df, col("cal"), "resid", alpha = 0.01)
      .collect().head
    assert(c.getAs[Boolean]("clamped") && c.isNullAt(c.fieldIndex("qhat")))
    partitionSweep { pn =>
      ML.conformalQuantile(df.repartition(pn), col("cal"), "resid", 0.25)
        .collect().map(_.toSeq).toSeq
    }
  }

  test("stratifiedMean: hand two-strata estimate and se; missing " +
    "designed stratum NULLs the estimate; singleton stratum keeps the " +
    "estimate with NULL se; off-design rows counted") {
    import spark.implicits._
    import graft.functions.ML
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 10.0),
      ("b", 20.0), ("junk", 99.0)).toDF("s", "v")
    val r = ML.stratifiedMean(df, "s", "v",
      Seq("a" -> 0.5, "b" -> 0.5)).collect().head
    assert(r.getAs[Long]("n") == 5L && r.getAs[Long]("n_other") == 1L)
    // est = .5*2 + .5*15 = 8.5; se2 = .25*(1/3)/3... careful:
    // se2 = W^2 * s2/n per stratum = .25*(1.0/3) + .25*(50.0/2)
    assert(math.abs(r.getAs[Double]("estimate") - 8.5) < 1e-12)
    assert(math.abs(r.getAs[Double]("se") -
      math.sqrt(0.25 * (1.0 / 3.0) + 0.25 * (50.0 / 2.0))) < 1e-12)
    // designed stratum absent -> NULL estimate (loudly incomplete)
    val m = ML.stratifiedMean(df, "s", "v",
      Seq("a" -> 0.5, "b" -> 0.3, "c" -> 0.2)).collect().head
    assert(m.isNullAt(m.fieldIndex("estimate")))
    // singleton stratum: estimate present, se NULL
    val s1 = ML.stratifiedMean(
      Seq(("a", 1.0), ("a", 3.0), ("b", 7.0)).toDF("s", "v"),
      "s", "v", Seq("a" -> 0.5, "b" -> 0.5)).collect().head
    assert(math.abs(s1.getAs[Double]("estimate") - 4.5) < 1e-12)
    assert(s1.isNullAt(s1.fieldIndex("se")))
  }

  test("msprtTwoSampleTest: literal-model e-process on an interleaved " +
    "A/B stream; NULL e_log until both arms seen; persistent shift " +
    "crosses; duplicate t raises; partition sweep") {
    import spark.implicits._
    val rows = Seq(
      (1L, "a", 1.0), (2L, "b", 1.2), (3L, "a", 0.8), (4L, "b", 1.4),
      (5L, "a", 1.1), (6L, "b", 1.3), (7L, "a", 0.9), (8L, "b", 1.5))
    val df = rows.toDF("t", "g", "v")
    val (s2, t2, alpha) = (0.25, 0.5, 0.05)
    val got = Analytics.msprtTwoSampleTest(df, "t", "g", "v", "a", "b",
      s2, t2, alpha).collect()
    assert(got.length == 8)
    // row 1: only arm a seen -> NULL e_log
    assert(got.head.isNullAt(got.head.fieldIndex("e_log")))
    // literal model from row 2 on
    var (na, nb) = (0L, 0L)
    var (sa, sb) = (BigDecimal(0), BigDecimal(0))
    rows.zip(got).foreach { case ((t, g, v), r) =>
      val vq = BigDecimal(v).setScale(12, BigDecimal.RoundingMode.HALF_UP)
      if (g == "a") { na += 1; sa += vq } else { nb += 1; sb += vq }
      assert(r.getAs[Long]("n_a") == na && r.getAs[Long]("n_b") == nb)
      if (na > 0 && nb > 0) {
        val delta = sa.toDouble / na.toDouble - sb.toDouble / nb.toDouble
        val vt = s2 * (1.0 / na.toDouble + 1.0 / nb.toDouble)
        val eLog = 0.5 * math.log(vt / (vt + t2)) +
          (delta * delta * t2) / (2.0 * vt * (vt + t2))
        assert(math.abs(r.getAs[Double]("e_log") - eLog) < 1e-12,
          s"t=$t")
        assert(r.getAs[Boolean]("crossed") ==
          (eLog >= math.log(1.0 / alpha)))
      }
    }
    // a persistent +3 shift must cross
    val shifted = (1 to 80).map { i =>
      val g = if (i % 2 == 0) "a" else "b"
      (i.toLong, g, (if (g == "a") 4.0 else 1.0) + (i % 3) * 0.1)
    }.toDF("t", "g", "v")
    assert(Analytics.msprtTwoSampleTest(shifted, "t", "g", "v", "a", "b",
      s2, t2, alpha).filter(col("crossed")).count() > 0)
    intercept[Exception] {
      Analytics.msprtTwoSampleTest(
        Seq((1L, "a", 1.0), (1L, "b", 2.0)).toDF("t", "g", "v"),
        "t", "g", "v", "a", "b", s2, t2, alpha).collect()
    }
    partitionSweep { pn =>
      Analytics.msprtTwoSampleTest(df.repartition(pn), "t", "g", "v",
        "a", "b", s2, t2, alpha).collect().map(_.toSeq).toSeq
    }
  }

  test("mdeTwoSample: hand moments and the z-sum chain; relative MDE " +
    "against the control mean; n < 2 NULL; partition sweep") {
    import spark.implicits._
    val rows = (1 to 30).map { i =>
      val g = if (i % 2 == 0) "a" else "b"
      (g, ((i % 9) + 1).toDouble + (if (g == "a") 0.5 else 0.0))
    }
    val df = rows.toDF("g", "v")
    val r = Analytics.mdeTwoSample(df, "g", "v", "a", "b").collect().head
    def mom(g: String): (Long, Double, Double) = {
      val a = rows.filter(_._1 == g).map(_._2)
      val n = a.size.toDouble
      val s = a.sum; val ss = a.map(x => x * x).sum
      (a.size.toLong, s / n, (ss - s * s / n) / (n - 1))
    }
    val (naL, ma, va) = mom("a"); val (nbL, mb, vb) = mom("b")
    assert(r.getAs[Long]("n_a") == naL && r.getAs[Long]("n_b") == nbL)
    assert(math.abs(r.getAs[Double]("mean_a") - ma) < 1e-12)
    assert(math.abs(r.getAs[Double]("var_b") - vb) < 1e-12)
    val mde = (1.959964 + 0.841621) *
      math.sqrt(va / naL.toDouble + vb / nbL.toDouble)
    assert(math.abs(r.getAs[Double]("mde_abs") - mde) < 1e-12)
    assert(math.abs(r.getAs[Double]("mde_rel") - mde / mb) < 1e-12)
    // tighter alpha widens the MDE monotonically
    val strict = Analytics.mdeTwoSample(df, "g", "v", "a", "b",
      zAlpha = 2.575829).collect().head
    assert(strict.getAs[Double]("mde_abs") > r.getAs[Double]("mde_abs"))
    val tiny = Analytics.mdeTwoSample(
      Seq(("a", 1.0), ("b", 2.0)).toDF("g", "v"), "g", "v", "a", "b")
      .collect().head
    assert(tiny.isNullAt(tiny.fieldIndex("mde_abs")))
    partitionSweep { pn =>
      Analytics.mdeTwoSample(df.repartition(pn), "g", "v", "a", "b")
        .collect().map(_.toSeq).toSeq
    }
  }

  test("cupedTest: literal-model theta/rho2/adjusted moments; " +
    "uncorrelated covariate ~ welchT; constant covariate NULL theta; " +
    "partition sweep") {
    import spark.implicits._
    // x correlates with y (y = x + arm shift + per-row wiggle); values
    // exact at scale 2 so decimal sums equal plain double sums
    val rows = (1 to 20).map { i =>
      val g = if (i % 2 == 0) "a" else "b"
      val x = (i % 7).toDouble + 1.0
      val y = x * 2.0 + (if (g == "a") 1.5 else 0.0) + (i % 3) * 0.25
      (g, y, x)
    }
    val df = rows.toDF("g", "y", "x")
    val r = Analytics.cupedTest(df, "g", "y", "x", "a", "b").collect().head
    // literal model: the operator's chain in plain scala
    val n = rows.size.toDouble
    val (sy, sx) = (rows.map(_._2).sum, rows.map(_._3).sum)
    val syy = rows.map(t => t._2 * t._2).sum
    val sxx = rows.map(t => t._3 * t._3).sum
    val sxy = rows.map(t => t._3 * t._2).sum
    val varx = (sxx - sx * sx / n) / (n - 1)
    val vary = (syy - sy * sy / n) / (n - 1)
    val covxy = (sxy - sx * sy / n) / (n - 1)
    val theta = covxy / varx
    val xbar = sx / n
    assert(math.abs(r.getAs[Double]("theta") - theta) < 1e-12)
    assert(math.abs(r.getAs[Double]("rho2") -
      covxy * covxy / (varx * vary)) < 1e-12)
    def armStats(g: String): (Double, Double) = {
      val a = rows.filter(_._1 == g)
      val na = a.size.toDouble
      val meanAdj = a.map(_._2).sum / na -
        theta * (a.map(_._3).sum / na - xbar)
      val vy = (a.map(t => t._2 * t._2).sum -
        a.map(_._2).sum * a.map(_._2).sum / na) / (na - 1)
      val vx = (a.map(t => t._3 * t._3).sum -
        a.map(_._3).sum * a.map(_._3).sum / na) / (na - 1)
      val cv = (a.map(t => t._3 * t._2).sum -
        a.map(_._3).sum * a.map(_._2).sum / na) / (na - 1)
      (meanAdj, vy - 2 * theta * cv + theta * theta * vx)
    }
    val (ma, va) = armStats("a"); val (mb, vb) = armStats("b")
    assert(math.abs(r.getAs[Double]("mean_a_adj") - ma) < 1e-12)
    assert(math.abs(r.getAs[Double]("var_a_adj") - va) < 1e-12)
    assert(math.abs(r.getAs[Double]("mean_b_adj") - mb) < 1e-12)
    assert(math.abs(r.getAs[Double]("var_b_adj") - vb) < 1e-12)
    // CUPED with X ~ Y gives a sharper t than plain Welch on this
    // fixture (that is the whole point)
    val tw = Analytics.welchT(df, "g", "y", "a", "b")
      .collect().head.getAs[Double]("t")
    assert(math.abs(r.getAs[Double]("t")) > math.abs(tw))
    // constant covariate: var(X) = 0 -> NULL theta, NULL adjusted
    val cst = Analytics.cupedTest(
      rows.map(t => (t._1, t._2, 5.0)).toDF("g", "y", "x"),
      "g", "y", "x", "a", "b").collect().head
    assert(cst.isNullAt(cst.fieldIndex("theta")) &&
      cst.isNullAt(cst.fieldIndex("t")))
    partitionSweep { pn =>
      Analytics.cupedTest(df.repartition(pn), "g", "y", "x", "a", "b")
        .collect().map(_.toSeq).toSeq
    }
  }

  test("srmTest: hand 60/40 vs 50/50 chi2 = 4; off-design rows " +
    "counted not folded in; three-arm design; empty NULL") {
    import spark.implicits._
    val df = ((1 to 60).map(_ => "a") ++ (1 to 40).map(_ => "b") ++
      Seq("junk", "junk")).toDF("g")
    val r = Analytics.srmTest(df, "g", Seq("a" -> 0.5, "b" -> 0.5))
      .collect().head
    assert(r.getAs[Long]("n") == 100L && r.getAs[Long]("n_other") == 2L)
    assert(r.getAs[Long]("k") == 2L && r.getAs[Long]("dof") == 1L)
    assert(math.abs(r.getAs[Double]("chi2") - 4.0) < 1e-12)
    // three arms at 2:1:1 — 50/25/25 observed 40/30/30:
    // (40-50)^2/50 + (30-25)^2/25 + (30-25)^2/25 = 2 + 1 + 1 = 4
    val d3 = ((1 to 40).map(_ => "x") ++ (1 to 30).map(_ => "y") ++
      (1 to 30).map(_ => "z")).toDF("g")
    val r3 = Analytics.srmTest(d3, "g",
      Seq("x" -> 2.0, "y" -> 1.0, "z" -> 1.0)).collect().head
    assert(math.abs(r3.getAs[Double]("chi2") - 4.0) < 1e-12)
    assert(r3.getAs[Long]("dof") == 2L)
    val e = Analytics.srmTest(Seq.empty[String].toDF("g"), "g",
      Seq("a" -> 0.5, "b" -> 0.5)).collect().head
    assert(e.getAs[Long]("n") == 0L && e.isNullAt(e.fieldIndex("chi2")))
  }

  test("ratioMetricTest: literal delta-method model; equal-ratio arms " +
    "diff 0; zero denominator NULL; partition sweep") {
    import spark.implicits._
    val rows = (1 to 24).map { i =>
      val g = if (i % 2 == 0) "a" else "b"
      val den = ((i % 5) + 1).toDouble
      val num = den * (if (g == "a") 0.5 else 0.25) + (i % 3) * 0.25
      (g, num, den)
    }
    val df = rows.toDF("g", "num", "den")
    val r = Analytics.ratioMetricTest(df, "g", "num", "den", "a", "b")
      .collect().head
    def armModel(g: String): (Double, Double) = {
      val a = rows.filter(_._1 == g)
      val n = a.size.toDouble
      val (sn, sd) = (a.map(_._2).sum, a.map(_._3).sum)
      val ratio = sn / sd
      val dbar = sd / n
      val varn = (a.map(t => t._2 * t._2).sum - sn * sn / n) / (n - 1)
      val vard = (a.map(t => t._3 * t._3).sum - sd * sd / n) / (n - 1)
      val covnd = (a.map(t => t._2 * t._3).sum - sn * sd / n) / (n - 1)
      (ratio,
        (varn - 2.0 * ratio * covnd + ratio * ratio * vard) /
          (n * dbar * dbar))
    }
    val (ra, sa2) = armModel("a"); val (rb, sb2) = armModel("b")
    assert(math.abs(r.getAs[Double]("ratio_a") - ra) < 1e-12)
    assert(math.abs(r.getAs[Double]("ratio_b") - rb) < 1e-12)
    assert(math.abs(r.getAs[Double]("z") -
      (ra - rb) / math.sqrt(sa2 + sb2)) < 1e-12)
    // zero total denominator -> NULL ratio and z
    val z0 = Analytics.ratioMetricTest(
      Seq(("a", 1.0, 0.0), ("a", -1.0, 0.0), ("b", 1.0, 2.0),
        ("b", 2.0, 2.0)).toDF("g", "num", "den"),
      "g", "num", "den", "a", "b").collect().head
    assert(z0.isNullAt(z0.fieldIndex("ratio_a")) &&
      z0.isNullAt(z0.fieldIndex("z")))
    partitionSweep { pn =>
      Analytics.ratioMetricTest(df.repartition(pn), "g", "num", "den",
        "a", "b").collect().map(_.toSeq).toSeq
    }
  }

  test("eBHAdjust: hand alpha_star on {10,4,2,1}; tie block shares the " +
    "largest descending rank; e <= 0 and NULL excluded from rejection; " +
    "agrees with the literal e-BH rejection rule; partition sweep") {
    import spark.implicits._
    val df = Seq(10.0, 4.0, 2.0, 1.0).zipWithIndex
      .map { case (e, i) => (i.toLong, e) }.toDF("id", "e")
    val m = Analytics.eBHAdjust(df, "e").collect()
      .map(r => r.getAs[Double]("e") -> r.getAs[Double]("alpha_star")).toMap
    // q = k*e over desc ranks: 10, 8, 6, 4; alpha_star = m / suffix-max
    assert(math.abs(m(10.0) - 0.4) < 1e-12)
    assert(math.abs(m(4.0) - 0.5) < 1e-12)
    assert(math.abs(m(2.0) - 4.0 / 6.0) < 1e-12)
    assert(math.abs(m(1.0) - 1.0) < 1e-12)
    // literal e-BH rule at alpha = 0.5: k* = max{k : k*e_(k) >= m/alpha}
    // = 2 -> reject the top two = exactly the alpha_star <= 0.5 rows
    assert(m.filter(_._2 <= 0.5).keySet == Set(10.0, 4.0))
    // ties: {4,4,1,1} -> block rank 2 for the 4s: alpha_star = 4/8
    val mt = Analytics.eBHAdjust(
      Seq(4.0, 4.0, 1.0, 1.0).zipWithIndex
        .map { case (e, i) => (i.toLong, e) }.toDF("id", "e"), "e")
      .collect().map(r => r.getAs[Double]("e") ->
        r.getAs[Double]("alpha_star")).toMap
    assert(math.abs(mt(4.0) - 0.5) < 1e-12)
    assert(math.abs(mt(1.0) - 1.0) < 1e-12)
    // NULL e: excluded from m, NULL alpha_star; e = 0 counts toward m
    // but can never reject
    val mixed = Seq((1L, Some(8.0)), (2L, Some(0.0)), (3L, None))
      .toDF("id", "e")
    val rows = Analytics.eBHAdjust(mixed, "e").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(rows(1L) == Some(0.25)) // m = 2, q = 1*8
    assert(rows(2L).isEmpty && rows(3L).isEmpty)
    partitionSweep { pn =>
      Analytics.eBHAdjust(df.repartition(pn), "e")
        .orderBy("id").collect().map(_.toSeq).toSeq
    }
  }

  test("linRegressionTest: literal per-arm model on heterogeneous " +
    "slopes; equal-slope fixture agrees with CUPED; one-arm constant " +
    "covariate NULLs only that arm; partition sweep") {
    import spark.implicits._
    // arm a: slope 2; arm b: slope 0.5 (plus per-row wiggle) — the
    // heterogeneous case Lin's per-arm slopes exist for
    val rows = (1 to 20).map { i =>
      val g = if (i % 2 == 0) "a" else "b"
      val x = (i % 7).toDouble + 1.0
      val slope = if (g == "a") 2.0 else 0.5
      (g, x * slope + (if (g == "a") 1.5 else 0.0) + (i % 3) * 0.25, x)
    }
    val df = rows.toDF("g", "y", "x")
    val r = Analytics.linRegressionTest(df, "g", "y", "x", "a", "b")
      .collect().head
    val xbar = rows.map(_._3).sum / rows.size
    def arm(g: String): (Double, Double, Double, Double, Double) = {
      val a = rows.filter(_._1 == g); val n = a.size.toDouble
      val (sy, sx) = (a.map(_._2).sum, a.map(_._3).sum)
      val vx = (a.map(t => t._3 * t._3).sum - sx * sx / n) / (n - 1)
      val vy = (a.map(t => t._2 * t._2).sum - sy * sy / n) / (n - 1)
      val cv = (a.map(t => t._3 * t._2).sum - sx * sy / n) / (n - 1)
      val beta = cv / vx
      (beta, cv * cv / (vx * vy), sy / n + beta * (xbar - sx / n),
        vy - cv * cv / vx, n)
    }
    val (ba, r2a, ma, vra, na) = arm("a")
    val (bb, r2b, mb, vrb, nb) = arm("b")
    assert(math.abs(r.getAs[Double]("beta_a") - ba) < 1e-12)
    assert(math.abs(r.getAs[Double]("beta_b") - bb) < 1e-12)
    assert(math.abs(r.getAs[Double]("r2_a") - r2a) < 1e-12)
    assert(math.abs(r.getAs[Double]("r2_b") - r2b) < 1e-12)
    assert(math.abs(r.getAs[Double]("mean_a_adj") - ma) < 1e-12)
    assert(math.abs(r.getAs[Double]("mean_b_adj") - mb) < 1e-12)
    val se = math.sqrt(vra / na + vrb / nb)
    assert(math.abs(r.getAs[Double]("se") - se) < 1e-12)
    assert(math.abs(r.getAs[Double]("t") - (ma - mb) / se) < 1e-12)
    // the per-arm slopes really differ on this fixture
    assert(r.getAs[Double]("beta_a") > 1.5 &&
      r.getAs[Double]("beta_b") < 1.0)
    // equal-slope fixture: Lin and CUPED coincide in diff (same x
    // distribution per arm up to the wiggle; slopes pooled == per-arm)
    val eq = (1 to 20).map { i =>
      val g = if (i % 2 == 0) "a" else "b"
      val x = (i % 5).toDouble + 1.0
      (g, x * 2.0 + (if (g == "a") 1.0 else 0.0), x)
    }.toDF("g", "y", "x")
    val dLin = Analytics.linRegressionTest(eq, "g", "y", "x", "a", "b")
      .collect().head.getAs[Double]("diff")
    val dCup = Analytics.cupedTest(eq, "g", "y", "x", "a", "b")
      .collect().head.getAs[Double]("diff")
    assert(math.abs(dLin - dCup) < 1e-12)
    // constant covariate in arm a only: beta_a/mean_a_adj NULL, arm b
    // survives (CUPED would NULL both — the pooled slope still exists
    // here, but Lin's contract is per-arm)
    val ca = rows.map(t => if (t._1 == "a") (t._1, t._2, 5.0) else t)
      .toDF("g", "y", "x")
    val rc = Analytics.linRegressionTest(ca, "g", "y", "x", "a", "b")
      .collect().head
    assert(rc.isNullAt(rc.fieldIndex("beta_a")) &&
      rc.isNullAt(rc.fieldIndex("mean_a_adj")) &&
      rc.isNullAt(rc.fieldIndex("t")))
    assert(!rc.isNullAt(rc.fieldIndex("beta_b")) &&
      !rc.isNullAt(rc.fieldIndex("mean_b_adj")))
    partitionSweep { pn =>
      Analytics.linRegressionTest(df.repartition(pn), "g", "y", "x",
        "a", "b").collect().map(_.toSeq).toSeq
    }
  }

  test("mdeRate: literal Poisson sizing; zero exposure NULL; " +
    "NULL rows excluded; partition sweep") {
    import spark.implicits._
    // pooled rate = 40/20 = 2; v = 2*(1/10 + 1/10) = 0.4
    val df = Seq(("a", 12L, 4.0), ("a", 18L, 6.0),
      ("b", 6L, 5.0), ("b", 4L, 5.0)).toDF("g", "e", "t")
    val r = Analytics.mdeRate(df, "g", "e", "t", "a", "b")
      .collect().head
    assert(math.abs(r.getAs[Double]("rate_pool") - 2.0) < 1e-12)
    val mde = (1.959964 + 0.841621) * math.sqrt(0.4)
    assert(math.abs(r.getAs[Double]("mde_abs") - mde) < 1e-12)
    assert(math.abs(r.getAs[Double]("mde_rel") - mde / 2.0) < 1e-12)
    // an exposure-less arm: NULL mde
    val z = Analytics.mdeRate(
      Seq(("a", 5L, 2.0)).toDF("g", "e", "t"), "g", "e", "t", "a", "b")
      .collect().head
    assert(z.isNullAt(z.fieldIndex("mde_abs")))
    // NULL events/exposure rows excluded from n and the sums
    val nn = Analytics.mdeRate(
      Seq(("a", Some(12L), Some(4.0)), ("a", None, Some(6.0)),
        ("a", Some(18L), Some(6.0)), ("b", Some(10L), Some(10.0)))
        .toDF("g", "e", "t"), "g", "e", "t", "a", "b").collect().head
    assert(nn.getAs[Long]("n_a") == 2L &&
      math.abs(nn.getAs[Double]("exposure_a") - 10.0) < 1e-12)
    partitionSweep { pn =>
      Analytics.mdeRate(df.repartition(pn), "g", "e", "t", "a", "b")
        .collect().map(_.toSeq).toSeq
    }
  }

  test("diffInDiff: literal four-cell estimate, Welch-Satterthwaite " +
    "dof over the cells; empty cell NULLs did; off-design rows " +
    "excluded; partition sweep") {
    import spark.implicits._
    val rows = Seq(
      ("t", "pre", 10.0), ("t", "pre", 12.0),
      ("t", "post", 20.0), ("t", "post", 24.0),
      ("c", "pre", 5.0), ("c", "pre", 7.0),
      ("c", "post", 9.0), ("c", "post", 13.0),
      ("x", "pre", 999.0), ("t", "mid", 999.0)) // off-design, ignored
    val df = rows.toDF("g", "p", "v")
    val r = Analytics.diffInDiff(df, "g", "p", "v", "t", "c",
      "pre", "post").collect().head
    assert(r.getAs[Long]("n_tpre") == 2L && r.getAs[Long]("n_cpost") == 2L)
    assert(math.abs(r.getAs[Double]("mean_tpre") - 11.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("mean_tpost") - 22.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("mean_cpre") - 6.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("mean_cpost") - 11.0) < 1e-12)
    // DiD = (22-11) - (11-6) = 6; cell mean-vars 1, 4, 1, 4
    assert(math.abs(r.getAs[Double]("did") - 6.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("se") - math.sqrt(10.0)) < 1e-12)
    assert(math.abs(r.getAs[Double]("t") - 6.0 / math.sqrt(10.0)) < 1e-12)
    assert(math.abs(r.getAs[Double]("dof") - 100.0 / 34.0) < 1e-12)
    // a missing corner: NULL did (and everything downstream)
    val noCell = Analytics.diffInDiff(
      rows.filterNot(t => t._1 == "c" && t._2 == "post")
        .toDF("g", "p", "v"),
      "g", "p", "v", "t", "c", "pre", "post").collect().head
    assert(noCell.getAs[Long]("n_cpost") == 0L &&
      noCell.isNullAt(noCell.fieldIndex("did")))
    partitionSweep { pn =>
      Analytics.diffInDiff(df.repartition(pn), "g", "p", "v", "t", "c",
        "pre", "post").collect().map(_.toSeq).toSeq
    }
  }

  test("rateDispersion: Poisson-consistent fixture reads 1, planted " +
    "burst reads high; expansion equals the direct chi2; bad " +
    "exposures counted; zero events NULL; partition sweep") {
    import spark.implicits._
    val df = Seq(
      ("a", 4L, 2.0), ("a", 2L, 2.0), ("a", 6L, 2.0),
      ("b", 0L, 1.0), ("b", 10L, 1.0)).toDF("g", "e", "t")
    val rows = Analytics.rateDispersion(df, "g", "e", "t").collect()
      .map(r => r.getAs[String]("group") -> r).toMap
    // a: lambda = 2, chi2 = (0+4+4)/4 = 2, dispersion 1
    assert(math.abs(rows("a").getAs[Double]("chi2") - 2.0) < 1e-12)
    assert(math.abs(rows("a").getAs[Double]("dispersion") - 1.0) < 1e-12)
    assert(math.abs(rows("a").getAs[Double]("rate") - 2.0) < 1e-12)
    // b: lambda = 5, chi2 = (25+25)/5 = 10, dispersion 10
    assert(math.abs(rows("b").getAs[Double]("chi2") - 10.0) < 1e-12)
    assert(math.abs(rows("b").getAs[Double]("dispersion") - 10.0) < 1e-12)
    // NULL/zero exposure: excluded, counted
    val bad = Analytics.rateDispersion(
      Seq(("a", Some(4L), Some(2.0)), ("a", Some(2L), Some(2.0)),
        ("a", Some(6L), Some(2.0)), ("a", Some(9L), Some(0.0)),
        ("a", Some(9L), None)).toDF("g", "e", "t"),
      "g", "e", "t").collect().head
    assert(bad.getAs[Long]("n") == 3L &&
      bad.getAs[Long]("n_bad_exposure") == 2L &&
      math.abs(bad.getAs[Double]("chi2") - 2.0) < 1e-12)
    // zero events: NULL chi2
    val z = Analytics.rateDispersion(
      Seq(("a", 0L, 1.0), ("a", 0L, 2.0)).toDF("g", "e", "t"),
      "g", "e", "t").collect().head
    assert(z.isNullAt(z.fieldIndex("chi2")))
    partitionSweep { pn =>
      Analytics.rateDispersion(df.repartition(pn), "g", "e", "t")
        .collect().map(_.toSeq).toSeq
    }
  }

  test("weightedMeanTest: literal Hajek means and linearization " +
    "variances; ESS rides along; zero weights carry no mass; " +
    "negative weight raises; partition sweep") {
    import spark.implicits._
    val df = Seq(("a", 10.0, 1.0), ("a", 20.0, 3.0),
      ("b", 5.0, 2.0), ("b", 15.0, 2.0)).toDF("g", "y", "w")
    val r = Analytics.weightedMeanTest(df, "g", "y", "w", "a", "b")
      .collect().head
    // arm a: mu = 70/4 = 17.5, v = (1*56.25 + 9*6.25)/16 = 7.03125
    // arm b: mu = 10, v = (4*25 + 4*25)/16 = 12.5
    assert(r.getAs[Long]("n_a") == 2L && r.getAs[Long]("n_b") == 2L)
    assert(math.abs(r.getAs[Double]("mean_a") - 17.5) < 1e-12)
    assert(math.abs(r.getAs[Double]("mean_b") - 10.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("ess_a") - 1.6) < 1e-12)
    assert(math.abs(r.getAs[Double]("ess_b") - 2.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("diff") - 7.5) < 1e-12)
    val se = math.sqrt(7.03125 + 12.5)
    assert(math.abs(r.getAs[Double]("se") - se) < 1e-12)
    assert(math.abs(r.getAs[Double]("z") - 7.5 / se) < 1e-12)
    // uniform weights reproduce the unweighted means; v is the
    // POPULATION-style linearization (divisor n, not n-1)
    val u = Analytics.weightedMeanTest(
      df.withColumn("w", lit(1.0)), "g", "y", "w", "a", "b")
      .collect().head
    assert(math.abs(u.getAs[Double]("mean_a") - 15.0) < 1e-12)
    assert(math.abs(u.getAs[Double]("ess_a") - 2.0) < 1e-12)
    // zero-weight rows: counted in n, no mass
    val z0 = Analytics.weightedMeanTest(
      (Seq(("a", 999.0, 0.0)) ++ Seq(("a", 10.0, 1.0), ("a", 20.0, 3.0),
        ("b", 5.0, 2.0), ("b", 15.0, 2.0))).toDF("g", "y", "w"),
      "g", "y", "w", "a", "b").collect().head
    assert(z0.getAs[Long]("n_a") == 3L &&
      math.abs(z0.getAs[Double]("mean_a") - 17.5) < 1e-12)
    // negative weight raises
    intercept[Exception] {
      Analytics.weightedMeanTest(
        Seq(("a", 1.0, -1.0), ("b", 1.0, 1.0)).toDF("g", "y", "w"),
        "g", "y", "w", "a", "b").collect()
    }
    partitionSweep { pn =>
      Analytics.weightedMeanTest(df.repartition(pn), "g", "y", "w",
        "a", "b").collect().map(_.toSeq).toSeq
    }
  }

  test("ebShrinkRates: literal MoM beta prior and posterior means; " +
    "small groups shrink harder; noise-only spread pools completely; " +
    "ceiling spread passes raw; k = 1 NULLs; partition sweep") {
    import spark.implicits._
    // three groups: 8/10, 2/10, 5/10 -> m = 0.5, between-var 0.09,
    // mean noise (0.016+0.016+0.025)/3 -> a genuine partial shrink
    def mk(g: String, x: Int, n: Int) =
      (1 to n).map(i => (g, if (i <= x) 1 else 0))
    val df = (mk("a", 8, 10) ++ mk("b", 2, 10) ++ mk("c", 5, 10))
      .toDF("g", "s")
    val rows = ML.ebShrinkRates(df, "g", "s").collect()
      .map(r => r.getAs[String]("group") -> r).toMap
    // the model folds in group order (a, b, c), matching the pinned
    // sorted-array fold
    val ps = Seq(0.8, 0.2, 0.5)
    val sp = ps.foldLeft(0.0)(_ + _)
    val spp = ps.foldLeft(0.0)((a, p) => a + p * p)
    val snoise = ps.foldLeft(0.0)((a, p) => a + p * (1.0 - p) / 10.0)
    val m = sp / 3.0
    val v = (spp - sp * sp / 3.0) / 2.0 - snoise / 3.0
    val strength = m * (1.0 - m) / v - 1.0
    assert(math.abs(rows("a").getAs[Double]("prior_mean") - m) < 1e-15)
    assert(math.abs(rows("a").getAs[Double]("prior_strength") -
      strength) < 1e-12)
    assert(rows("a").getAs[Boolean]("pooled") == false)
    def shrunk(x: Int) = (m * strength + x) / (strength + 10.0)
    assert(math.abs(rows("a").getAs[Double]("rate_shrunk") -
      shrunk(8)) < 1e-12)
    assert(math.abs(rows("b").getAs[Double]("rate_shrunk") -
      shrunk(2)) < 1e-12)
    // shrinkage moves every group TOWARD m, never past it
    assert(rows("a").getAs[Double]("rate_shrunk") < 0.8 &&
      rows("a").getAs[Double]("rate_shrunk") > m)
    assert(rows("b").getAs[Double]("rate_shrunk") > 0.2 &&
      rows("b").getAs[Double]("rate_shrunk") < m)
    // a smaller group with the same raw rate shrinks harder
    val sz = ML.ebShrinkRates(
      (mk("big", 16, 20) ++ mk("sml", 4, 5) ++ mk("mid", 5, 10))
        .toDF("g", "s"), "g", "s").collect()
      .map(r => r.getAs[String]("group") ->
        r.getAs[Double]("rate_shrunk")).toMap
    assert(sz("sml") < sz("big")) // both raw 0.8, sml pulled harder
    // identical rates: v <= 0 -> complete pooling, NULL strength
    val pool = ML.ebShrinkRates(
      (mk("a", 3, 10) ++ mk("b", 3, 10)).toDF("g", "s"), "g", "s")
      .collect().head
    assert(pool.getAs[Boolean]("pooled") &&
      pool.isNullAt(pool.fieldIndex("prior_strength")) &&
      math.abs(pool.getAs[Double]("rate_shrunk") - 0.3) < 1e-15)
    // 0/10 vs 10/10: v = 0.5 >= m(1-m) = 0.25 -> strength 0, raw kept
    val ceil0 = ML.ebShrinkRates(
      (mk("a", 0, 10) ++ mk("b", 10, 10)).toDF("g", "s"), "g", "s")
      .collect().map(r => r.getAs[String]("group") -> r).toMap
    assert(ceil0("a").getAs[Double]("prior_strength") == 0.0 &&
      ceil0("a").getAs[Double]("rate_shrunk") == 0.0 &&
      ceil0("b").getAs[Double]("rate_shrunk") == 1.0)
    // one group: no ensemble, NULL prior and shrunk
    val k1 = ML.ebShrinkRates(mk("a", 3, 10).toDF("g", "s"), "g", "s")
      .collect().head
    assert(k1.isNullAt(k1.fieldIndex("prior_mean")) &&
      k1.isNullAt(k1.fieldIndex("rate_shrunk")))
    partitionSweep { pn =>
      ML.ebShrinkRates(df.repartition(pn), "g", "s")
        .collect().map(_.toSeq).toSeq
    }
  }

  test("ebShrinkMeans: literal normal-normal prior and posterior " +
    "means; noisy groups shrink harder; singleton groups loudly " +
    "unshrunk; noise-only spread pools; k = 1 fit NULLs; partition " +
    "sweep") {
    import spark.implicits._
    val rows = Seq(("a", 10.0), ("a", 12.0),
      ("b", 0.0), ("b", 2.0), ("b", 4.0), ("c", 6.0))
    val df = rows.toDF("g", "v")
    val r = ML.ebShrinkMeans(df, "g", "v").collect()
      .map(x => x.getAs[String]("group") -> x).toMap
    // fit over a, b (c is a singleton): m = 6.5, vraw = 40.5,
    // noise = (2/2 + 4/3)/2, tau2 = vraw - noise
    val m = (11.0 + 2.0) / 2.0
    val vraw = (11.0 * 11.0 + 2.0 * 2.0 - 13.0 * 13.0 / 2.0) / 1.0
    val noise = (2.0 / 2.0 + (4.0 / 3.0) / 1.0) / 2.0
    val tau2 = vraw - noise
    assert(math.abs(r("a").getAs[Double]("prior_mean") - m) < 1e-12)
    assert(math.abs(r("a").getAs[Double]("tau2") - tau2) < 1e-9)
    val ba = (2.0 / 2.0) / (2.0 / 2.0 + tau2)
    assert(math.abs(r("a").getAs[Double]("shrink_b") - ba) < 1e-12)
    assert(math.abs(r("a").getAs[Double]("mean_shrunk") -
      (ba * m + (1 - ba) * 11.0)) < 1e-12)
    // the noisier group (bigger s^2/n) shrinks harder
    assert(r("b").getAs[Double]("shrink_b") >
      r("a").getAs[Double]("shrink_b"))
    // shrinkage moves toward m, never past it
    assert(r("a").getAs[Double]("mean_shrunk") < 11.0 &&
      r("a").getAs[Double]("mean_shrunk") > m)
    // singleton: participates in output, loudly unshrunk
    assert(r("c").getAs[Long]("n") == 1L &&
      r("c").isNullAt(r("c").fieldIndex("shrink_b")) &&
      r("c").isNullAt(r("c").fieldIndex("mean_shrunk")))
    // identical group means: tau2 <= 0 -> complete pooling
    val pool = ML.ebShrinkMeans(
      Seq(("a", 10.0), ("a", 12.0), ("b", 10.0), ("b", 12.0))
        .toDF("g", "v"), "g", "v").collect().head
    assert(pool.getAs[Boolean]("pooled") &&
      pool.getAs[Double]("shrink_b") == 1.0 &&
      math.abs(pool.getAs[Double]("mean_shrunk") - 11.0) < 1e-12)
    // only one group with n >= 2: no ensemble -> NULL prior
    val k1 = ML.ebShrinkMeans(
      Seq(("a", 10.0), ("a", 12.0), ("c", 6.0)).toDF("g", "v"),
      "g", "v").collect().map(x => x.getAs[String]("group") -> x).toMap
    assert(k1("a").isNullAt(k1("a").fieldIndex("prior_mean")) &&
      k1("a").isNullAt(k1("a").fieldIndex("mean_shrunk")))
    partitionSweep { pn =>
      ML.ebShrinkMeans(df.repartition(pn), "g", "v")
        .collect().map(_.toSeq).toSeq
    }
  }

  test("twoRateTest: literal Poisson chains (rate ratio, Wald CIs); " +
    "zero-event arm NULLs ratio stats only; NULL rows excluded; " +
    "partition sweep") {
    import spark.implicits._
    // arm a: 30 events over 10.0 exposure (rate 3); arm b: 10 over
    // 10.0 (rate 1) — unit grain, uneven per-unit splits
    val rows = Seq(
      ("a", 12L, 4.0), ("a", 10L, 3.5), ("a", 8L, 2.5),
      ("b", 4L, 5.0), ("b", 6L, 5.0))
    val df = rows.toDF("g", "ev", "ex")
    val r = Analytics.twoRateTest(df, "g", "ev", "ex", "a", "b")
      .collect().head
    assert(r.getAs[Long]("n_a") == 3L && r.getAs[Long]("n_b") == 2L)
    assert(r.getAs[Long]("events_a") == 30L &&
      r.getAs[Long]("events_b") == 10L)
    assert(math.abs(r.getAs[Double]("rate_a") - 3.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("rate_b") - 1.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("rate_ratio") - 3.0) < 1e-12)
    val seRR = math.sqrt(1.0 / 30 + 1.0 / 10)
    assert(math.abs(r.getAs[Double]("z") - math.log(3.0) / seRR) < 1e-12)
    assert(math.abs(r.getAs[Double]("rr_lo") -
      math.exp(math.log(3.0) - 1.959964 * seRR)) < 1e-12)
    assert(math.abs(r.getAs[Double]("rr_hi") -
      math.exp(math.log(3.0) + 1.959964 * seRR)) < 1e-12)
    val seD = math.sqrt(30.0 / 100 + 10.0 / 100)
    assert(math.abs(r.getAs[Double]("diff") - 2.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("diff_lo") -
      (2.0 - 1.959964 * seD)) < 1e-12)
    assert(math.abs(r.getAs[Double]("diff_hi") -
      (2.0 + 1.959964 * seD)) < 1e-12)
    // zero-event arm: ratio family NULL, diff family survives
    val z0 = Analytics.twoRateTest(
      Seq(("a", 5L, 2.0), ("b", 0L, 3.0)).toDF("g", "ev", "ex"),
      "g", "ev", "ex", "a", "b").collect().head
    assert(z0.isNullAt(z0.fieldIndex("rate_ratio")) &&
      z0.isNullAt(z0.fieldIndex("z")) &&
      z0.isNullAt(z0.fieldIndex("rr_lo")))
    assert(math.abs(z0.getAs[Double]("diff") - 2.5) < 1e-12 &&
      !z0.isNullAt(z0.fieldIndex("diff_lo")))
    // NULL events or exposure: excluded from n entirely
    val nn = Analytics.twoRateTest(
      Seq(("a", Some(5L), Some(2.0)), ("a", None, Some(9.0)),
        ("a", Some(7L), None), ("b", Some(3L), Some(3.0)))
        .toDF("g", "ev", "ex"),
      "g", "ev", "ex", "a", "b").collect().head
    assert(nn.getAs[Long]("n_a") == 1L &&
      nn.getAs[Long]("events_a") == 5L &&
      math.abs(nn.getAs[Double]("exposure_a") - 2.0) < 1e-12)
    partitionSweep { pn =>
      Analytics.twoRateTest(df.repartition(pn), "g", "ev", "ex",
        "a", "b").collect().map(_.toSeq).toSeq
    }
  }

  // ---- the key-less path of the By-family: every global below is its
  // XBy with no keys, so these pin the two shapes where a grouped and a
  // global aggregate part ways — empty input (a global aggregate still
  // emits its one row) and an all-NULL key column (one NULL slice that
  // must equal the global statistic).

  private def edgeCases(name: String,
      global: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      keyed: (org.apache.spark.sql.DataFrame, Seq[String]) =>
        org.apache.spark.sql.DataFrame,
      data: org.apache.spark.sql.DataFrame,
      emptyRows: Seq[Seq[Any]]): Unit = {
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq).toSeq.sortBy(_.toString)
    val empty = data.limit(0)
    assert(rows(global(empty)) == emptyRows,
      s"$name: the global form on empty input")
    assert(keyed(empty.withColumn("slice", lit("s")), Seq("slice")).isEmpty,
      s"$name: no slice exists on empty input")
    val nullKey = data.withColumn("slice", lit(null).cast("string"))
    val by = keyed(nullKey, Seq("slice"))
    assert(by.filter(col("slice").isNotNull).isEmpty,
      s"$name: an all-NULL key is ONE slice: ${rows(by)}")
    assert(rows(by.drop("slice")) == rows(global(data)),
      s"$name: the NULL slice equals the global statistic")
  }

  test("key-less edge cases: psi / jsDivergence / hellingerDistance on " +
    "empty input emit the n_a = n_b = 0 row; an all-NULL key slice " +
    "equals the global form") {
    val df = Seq(("a", 1.0), ("a", 2.5), ("a", 9.0), ("b", 2.0), ("b", 7.5),
      ("b", 7.6), ("a", -3.0), ("b", 12.0)).toDF("g", "v")
    edgeCases("psi", Analytics.psi(_, "g", "v", "a", "b", 0.0, 10.0, 4),
      Analytics.psiBy(_, _, "g", "v", "a", "b", 0.0, 10.0, 4), df,
      Seq(Seq(0L, 0L, 0.0)))
    edgeCases("jsDivergence",
      Analytics.jsDivergence(_, "g", "v", "a", "b", 0.0, 10.0, 4),
      Analytics.jsDivergenceBy(_, _, "g", "v", "a", "b", 0.0, 10.0, 4), df,
      Seq(Seq(0L, 0L, 0.0)))
    // four empty bins with shares 1/4 each: bc = 4 · 0.25 = 1, h = 0
    edgeCases("hellingerDistance",
      Analytics.hellingerDistance(_, "g", "v", "a", "b", 0.0, 10.0, 4),
      Analytics.hellingerDistanceBy(_, _, "g", "v", "a", "b", 0.0, 10.0, 4),
      df, Seq(Seq(0L, 0L, 1.0, 0.0)))
  }

  test("key-less edge cases: kendallTau / wilcoxonSignedRank / " +
    "categoricalProfile / herfindahl on empty input and an all-NULL key") {
    val xy = Seq((1, 2), (2, 1), (3, 3), (3, 4), (4, 4), (5, 2))
      .toDF("x", "y")
    edgeCases("kendallTau", Analytics.kendallTau(_, "x", "y"),
      Analytics.kendallTauBy(_, _, "x", "y"), xy,
      Seq(Seq(null, null, null, null)))
    val paired = Seq((1.0, 1.0), (2.0, 3.5), (4.0, 1.0), (3.0, 3.0),
      (7.0, 2.0), (0.5, 2.0)).toDF("x", "y")
    edgeCases("wilcoxonSignedRank",
      Analytics.wilcoxonSignedRank(_, "x", "y"),
      Analytics.wilcoxonSignedRankBy(_, _, "x", "y"), paired,
      Seq(Seq(0L, 0L, 0.0, 0.0, null)))
    val cats = Seq("en", "en", "de", "fr", "en", null).toDF("c")
    edgeCases("categoricalProfile", Analytics.categoricalProfile(_, "c"),
      Analytics.categoricalProfileBy(_, _, "c"), cats,
      Seq(Seq(null, 0L, null, null, null)))
    val hosts = Seq(("h1", 2.0), ("h1", 1.0), ("h2", 3.0), ("h3", 0.5))
      .toDF("h", "w")
    edgeCases("herfindahl", Analytics.herfindahl(_, "h", Some("w")),
      Analytics.herfindahlBy(_, _, "h", Some("w")), hosts,
      Seq(Seq(0L, null, null, null)))
    // the Aggregations / ML / TimeSeries globals written as their By
    // form with no keys
    import graft.operators.{Aggregations => Ag, TimeSeries => TS}
    import graft.functions.{ML => M}
    val v = Seq(3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.5).toDF("v")
    edgeCases("quantilesCont", Ag.quantilesCont(_, "v", Seq(0.25, 0.5)),
      Ag.quantilesContBy(_, _, "v", Seq(0.25, 0.5)), v, Nil)
    edgeCases("trimmedMean", Ag.trimmedMean(_, "v", 0.2),
      Ag.trimmedMeanBy(_, _, "v", 0.2), v, Seq(Seq(null, null, null)))
    edgeCases("winsorizedMean", Ag.winsorizedMean(_, "v", 0.2),
      Ag.winsorizedMeanBy(_, _, "v", 0.2), v, Nil)
    edgeCases("madCont", Ag.madCont(_, "v"), Ag.madContBy(_, _, "v"), v, Nil)
    edgeCases("quantileBin", Ag.quantileBin(_, "v", 3),
      Ag.quantileBinBy(_, _, "v", 3), v, Nil)
    edgeCases("winsorizeCont", Ag.winsorizeCont(_, Nil, "v", 0.1, 0.9),
      Ag.winsorizeCont(_, _, "v", 0.1, 0.9), v, Nil)
    val scored = Seq((1L, 0.9, true), (2L, 0.8, false), (3L, 0.7, true),
      (4L, 0.7, false), (5L, 0.2, false), (6L, 0.4, true), (7L, 0.6, true))
      .toDF("id", "s", "y")
    edgeCases("aucRoc", M.aucRoc(_, "s", col("y")),
      M.aucRocBy(_, _, "s", col("y")), scored, Seq(Seq(null, null, null)))
    edgeCases("avgPrecision", M.avgPrecision(_, "s", col("y")),
      M.avgPrecisionBy(_, _, "s", col("y")), scored,
      Seq(Seq(null, null, null)))
    edgeCases("calibration", M.calibration(_, "s", col("y"), 4),
      M.calibrationBy(_, _, "s", col("y"), 4), scored,
      Seq(Seq(0L, null, null)))
    edgeCases("confusionStats",
      M.confusionStats(_, col("y"), col("s") > 0.5),
      M.confusionStatsBy(_, _, col("y"), col("s") > 0.5), scored,
      Seq(Seq.fill(9)(null)))
    edgeCases("liftTable", M.liftTable(_, "id", "s", col("y"), 3),
      M.liftTableBy(_, _, "id", "s", col("y"), 3), scored,
      (0L until 3L).map(b => Seq(b, 0L, 0L, null, 0L, null, null)))
    val raters = Seq(("a", "a"), ("a", "b"), ("b", "b"), ("c", "c"),
      ("b", "b"), ("c", "a")).toDF("r1", "r2")
    edgeCases("cohensKappa", M.cohensKappa(_, "r1", "r2"),
      M.cohensKappaBy(_, _, "r1", "r2"), raters,
      Seq(Seq(null, null, null, null)))
    val series = Seq((1, 2.0), (2, 4.0), (3, 3.0), (4, 5.0), (5, 4.0),
      (6, 6.0)).toDF("t", "v")
    edgeCases("acf", TS.acf(_, "t", "v", 2), TS.acfBy(_, _, "t", "v", 2),
      series, Nil)
    val steps = Seq((1L, 0.0), (2L, 1.0), (3L, 0.0), (4L, 5.0), (5L, 6.0),
      (6L, 5.0)).toDF("t", "v")
    // no time point, no split: zero rows
    edgeCases("pettittTest", Analytics.pettittTest(_, "t", "v"),
      Analytics.pettittTestBy(_, _, "t", "v"), steps, Nil)
    // the empty series is ONE row: n = s = 0, Var = 0, NULL z/slope
    edgeCases("mannKendallTrend", Analytics.mannKendallTrend(_, "t", "v"),
      Analytics.mannKendallTrendBy(_, _, "t", "v"), steps,
      Seq(Seq(0L, 0L, 0.0, null, null, null)))
  }

  test("concurrently: one side failing cancels the other side's Spark " +
    "jobs, both sides are awaited, and both errors surface") {
    ConcurrentlyDoll.reset()
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      Analytics.concurrently(spark.sparkContext)(
        { ConcurrentlyDoll.started.await(); throw new IllegalStateException("side a") },
        spark.range(0, 2, 1, 2).foreach { _ =>
          ConcurrentlyDoll.started.countDown(); Thread.sleep(120000L) })
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage == "side a")
    assert(e.getSuppressed.length == 1,
      "the cancelled sibling's own error must surface beside the cause")
    assert(secs < 60.0, s"the sibling's job ran on for $secs s after the failure")
    // and a clean pair returns both results
    assert(Analytics.concurrently(spark.sparkContext)(1, "two") == (1, "two"))
  }
  test("sequential tests: each duplicate-t raise names its own operator") {
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => String.valueOf(e.getMessage)).mkString(" | ")
    val one = Seq((1L, 1.0), (1L, 2.0)).toDF("t", "v")
    val two = Seq((1L, "a", 1.0), (1L, "b", 2.0)).toDF("t", "g", "v")
    val bin = Seq((1L, "a", 1), (1L, "b", 0)).toDF("t", "g", "s")
    val rate = Seq((1L, 1L, 1.0), (1L, 2L, 1.0)).toDF("t", "x", "e")
    Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "msprtMeanTest" -> (() =>
        Analytics.msprtMeanTest(one, "t", "v", 0.0, 1.0, 1.0)),
      "meanConfidenceSequence" -> (() =>
        Analytics.meanConfidenceSequence(one, "t", "v", 1.0, 1.0)),
      "msprtTwoSampleTest" -> (() => Analytics.msprtTwoSampleTest(two, "t",
        "g", "v", "a", "b", 1.0, 1.0)),
      "diffConfidenceSequence" -> (() => Analytics.diffConfidenceSequence(
        two, "t", "g", "v", "a", "b", 1.0, 1.0)),
      "msprtTwoProportionTest" -> (() => Analytics.msprtTwoProportionTest(
        bin, "t", "g", "s", "a", "b", 0.05)),
      "msprtRateTest" -> (() =>
        Analytics.msprtRateTest(rate, "t", "x", "e", 1.0, 1.0))
    ).foreach { case (op, run) =>
      val e = intercept[Exception](run().collect())
      assert(messages(e).contains(s"$op: duplicate t values"),
        s"$op raised: ${messages(e)}")
    }
  }
}

/** Cross-thread latch for the `concurrently` doll: local-mode tasks run
  * in the test JVM, so a task can signal the driver-side thunk. */
private object ConcurrentlyDoll {
  @volatile var started = new java.util.concurrent.CountDownLatch(1)
  def reset(): Unit = started = new java.util.concurrent.CountDownLatch(1)
}

object AnalyticsSpec {
  /** The guard doll's call counter (a static, so the non-deterministic
    * UDF sees one count across its two executions in local mode). */
  val dollCalls = new java.util.concurrent.atomic.AtomicLong(0L)
}
