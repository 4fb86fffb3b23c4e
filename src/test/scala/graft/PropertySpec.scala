package graft

import graft.core.JTable
import graft.functions.Dedup
import graft.operators.{Aggregations, Analytics, Joins}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.forAll

/** Property-based differential tests: random inputs checked against simple
  * Scala reference models — the operator-semantics analog of the fixed
  * golden fixtures (the reference's randomized `test/test_join.jl` style).
  * Sizes are kept small so each property runs many cases through real
  * Spark plans in reasonable time. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Run a scalacheck property under ScalaTest (no scalatestplus bridge in
    * the offline cache): fail the test with the shrunk counterexample. */
  private def check(p: Prop, minTests: Int = 30): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(minTests), p)
    assert(res.passed, res.status.toString)
  }

  private val smallTable: Gen[List[(Long, Double)]] =
    Gen.listOfN(12, Gen.zip(Gen.choose(0L, 7L), Gen.choose(-100.0, 100.0)))

  test("upsert == Map-model: right wins on key match, right-only inserts") {
    check(forAll(smallTable, smallTable) { (l, r) =>
      // model: per-side max-struct resolution (the operator's documented
      // within-side determinism), then right overlays left
      def resolve(rows: List[(Long, Double)], side: Int): Map[Long, (Int, Double)] =
        rows.groupBy(_._1).map { case (k, g) => k -> (side, g.map(_._2).max) }
      val expect = resolve(l, 0) ++ resolve(r, 1)
      val lt = JTable(l.toDF("k", "v"), Seq("k"))
      val rt = JTable(r.toDF("k", "v"), Seq("k"))
      val got = Joins.upsert(lt, rt).df.collect()
        .map(x => x.getLong(0) -> x.getDouble(1)).toMap
      Prop(got == expect.map { case (k, (_, v)) => k -> v }) :| s"got=$got expect=$expect"
    })
  }

  test("medianCol == scala median (incl. empty arrays)") {
    val arrays: Gen[List[Double]] =
      Gen.choose(0, 9).flatMap(n => Gen.listOfN(n, Gen.choose(-50.0, 50.0)))
    check(forAll(Gen.listOfN(6, arrays)) { (arrs: List[List[Double]]) =>
      def model(xs: List[Double]): Option[Double] =
        if (xs.isEmpty) None
        else {
          val s = xs.sorted; val n = s.length
          Some(if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0)
        }
      val df = arrs.zipWithIndex.map { case (a, i) => (i, a) }.toDF("i", "arr")
      val got = df.select(col("i"), Aggregations.medianCol(col("arr")).as("m"))
        .collect().map(r => r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
        .toMap
      val expect = arrs.zipWithIndex.map { case (a, i) => i -> model(a) }.toMap
      Prop(got == expect) :| s"got=$got expect=$expect"
    })
  }

  test("asofJoin and asofJoinSalted == per-row model (last right at ts ≤ t, max-struct ties)") {
    val events: Gen[List[(Long, Long, Double)]] =
      Gen.listOfN(14, Gen.zip(Gen.choose(0L, 2L), Gen.choose(0L, 20L),
        Gen.choose(0.0, 9.0)))
    check(forAll(events, events) { (l, r) =>
      // model: for each left row, the right row with max ts ≤ t on the same
      // id; duplicate-ts candidates resolve to max value (the operator's
      // max-struct tiebreak — struct(ts, v) ordering)
      def model(id: Long, t: Long): Option[Double] = {
        val cand = r.filter(x => x._1 == id && x._2 <= t)
        if (cand.isEmpty) None
        else Some(cand.max(Ordering.by((x: (Long, Long, Double)) => (x._2, x._3)))._3)
      }
      val expect = l.map { case (id, t, v) => (id, t, v, model(id, t)) }
        .groupBy(identity).view.mapValues(_.size).toMap
      val ldf = l.toDF("id", "t", "lv")
      val rdf = r.toDF("id", "t", "rv")
      def collectOut(df: org.apache.spark.sql.DataFrame) = df
        .select(col("id"), col("t"), col("lv"), col("rv")).collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2),
          if (x.isNullAt(3)) None else Some(x.getDouble(3))))
        .groupBy(identity).view.mapValues(_.size).toMap
      val plain = collectOut(Joins.asofJoin(ldf, rdf, Seq("id"), "t", "t",
        Seq("lv"), Seq("rv")))
      val salted = collectOut(Joins.asofJoinSalted(ldf, rdf, Seq("id"), "t", "t",
        Seq("lv"), Seq("rv"), b => (b / 5L).cast("long")))
      (Prop(plain == expect) :| s"plain got=$plain expect=$expect") &&
        (Prop(salted == expect) :| s"salted got=$salted expect=$expect")
    }, minTests = 20)
  }

  test("jaccardPairs == brute-force set model on random small corpora") {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps")
    val docGen: Gen[String] =
      Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab))).map(_.mkString(" "))
    check(forAll(Gen.listOfN(8, docGen)) { docs =>
      def sh(s: String): Set[String] = {
        val t = s.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
        if (t.length < 2) Set.empty[String]
        else t.sliding(2).map(_.mkString(" ")).toSet
      }
      val model = (for {
        i <- docs.indices; j <- docs.indices if i < j
        si = sh(docs(i)); sj = sh(docs(j))
        inter = si.intersect(sj).size
        if inter >= 1
        if inter.toDouble / (si.size + sj.size - inter) >= 0.3
      } yield (i.toLong, j.toLong, inter.toLong)).toSet
      val df = docs.zipWithIndex.map { case (d, i) => (i.toLong, d) }.toDF("doc_id", "text")
      val got = Dedup.jaccardPairs(df, "doc_id", "text", 2, 0.3).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      Prop(got == model) :| s"got=$got expect=$model docs=$docs"
    }, minTests = 15)
  }

  test("groupreduceSalted == plain groupreduce (random skewed keys, any partitioning)") {
    val rows: Gen[List[(Long, Long)]] =
      Gen.listOfN(20, Gen.zip(Gen.frequency(5 -> Gen.const(0L), 2 -> Gen.choose(1L, 3L)),
        Gen.choose(0L, 100L)))
    check(forAll(rows, Gen.choose(1, 4), Gen.choose(1, 5)) { (xs, nparts, buckets) =>
      val t = JTable(xs.toDF("k", "v").repartition(nparts), Seq("k"))
      val plain = Aggregations.groupreduce(t, Seq("k"),
          "s" -> sum(col("v")), "n" -> count(lit(1)))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val salted = Aggregations.groupreduceSalted(t, Seq("k"), buckets,
          ("s", sum(col("v")), (c: org.apache.spark.sql.Column) => sum(c)),
          ("n", count(lit(1)), (c: org.apache.spark.sql.Column) => sum(c)))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      Prop(salted == plain) :| s"salted=$salted plain=$plain"
    }, minTests = 20)
  }

  test("subtable == sorted-slice model (random tables, ranges, partitionings)") {
    val rows: Gen[List[(Long, Double)]] =
      Gen.listOfN(10, Gen.zip(Gen.choose(0L, 30L), Gen.choose(0.0, 9.0)))
    check(forAll(rows, Gen.choose(1, 4), Gen.choose(1L, 10L), Gen.choose(0L, 5L)) {
      (xs, nparts, lo, span) =>
        val hi = lo + span
        val t = JTable(xs.toDF("k", "v").repartition(nparts), Seq("k"))
        val got = t.subtable(lo, hi).collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toList
        // pkey order pins only the KEY sequence; among equal keys the
        // slice may take any of the tied rows (sort is by pkey alone). So:
        // key sequence must equal the positional slice exactly, and value
        // multisets must match for keys fully inside the window.
        val expectKeys = xs.map(_._1).sorted.slice((lo - 1).toInt, hi.toInt)
        val fullKeys = expectKeys.groupBy(identity).collect {
          case (k, g) if g.size == xs.count(_._1 == k) => k
        }.toSet
        val gotFull = got.filter(r => fullKeys(r._1)).groupBy(_._1)
          .view.mapValues(_.map(_._2).sorted).toMap
        val expFull = fullKeys.map(k => k -> xs.filter(_._1 == k).map(_._2).sorted).toMap
        Prop(got.map(_._1).sorted == expectKeys && gotFull == expFull) :|
          s"got=$got expectKeys=$expectKeys"
    }, minTests = 20)
  }

  test("unstack(stack(t)) roundtrip on random wide tables") {
    val rows: Gen[List[(Long, Double, Double)]] =
      Gen.listOfN(6, Gen.zip(Gen.choose(0L, 20L), Gen.choose(0.0, 9.0), Gen.choose(0.0, 9.0)))
    check(forAll(rows) { xs0 =>
      // distinct keys: unstack pivots one row per key
      val xs = xs0.groupBy(_._1).map(_._2.head).toList
      val t = JTable(xs.toDF("k", "a", "b"), Seq("k"))
      val long = graft.operators.Reshape.stack(t, Seq("k"), Seq("a", "b"))
      val wide = graft.operators.Reshape.unstack(
          JTable(long, Seq("k")), Seq("k"), "variable", "value")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
      Prop(wide == xs.toSet) :| s"wide=$wide expect=${xs.toSet}"
    }, minTests = 20)
  }

  test("broadcastOp == join model (shared dims matched, B-only dims crossed)") {
    import graft.operators.NDSparse
    val aGen: Gen[List[(Long, Long, Double)]] =
      Gen.listOfN(8, Gen.zip(Gen.choose(0L, 3L), Gen.choose(0L, 2L), Gen.choose(1.0, 9.0)))
    val bGen: Gen[List[(Long, Long, Double)]] =
      Gen.listOfN(8, Gen.zip(Gen.choose(0L, 3L), Gen.choose(10L, 12L), Gen.choose(1.0, 9.0)))
    check(forAll(aGen, bGen) { (a0, b0) =>
      // dedup index collisions (NDSparse keys are unique per (dims))
      val a = a0.groupBy(x => (x._1, x._2)).map(_._2.head).toList
      val b = b0.groupBy(x => (x._1, x._2)).map(_._2.head).toList
      val nda = NDSparse(a.toDF("x", "y", "va"), Seq("x", "y"), Seq("va"))
      val ndb = NDSparse(b.toDF("x", "z", "vb"), Seq("x", "z"), Seq("vb"))
      val out = nda.broadcastOp(ndb, (l, r) => l * r, "v")
      val got = out.table.df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      val expect = (for {
        (ax, ay, av) <- a; (bx, bz, bv) <- b if ax == bx
      } yield (ax, ay, bz, av * bv)).toSet
      Prop(got == expect) :| s"got=$got expect=$expect"
    }, minTests = 20)
  }

  test("merge(agg) == grouped-union model (exercises the reused hash exchange)") {
    val rows: Gen[List[(Long, Long)]] =
      Gen.listOfN(12, Gen.zip(Gen.choose(0L, 5L), Gen.choose(0L, 50L)))
    check(forAll(rows, rows, Gen.choose(1, 4)) { (l, r, nparts) =>
      val lt = JTable(l.toDF("k", "v").repartition(nparts), Seq("k"))
      val rt = JTable(r.toDF("k", "v"), Seq("k"))
      val merged = Joins.merge(lt, rt, Seq("v" -> sum(col("v"))))
      val got = merged.df.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      val expect = (l ++ r).groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      // the result must also satisfy the claimed pkey invariant: sorted
      // within each partition
      assertSortedWithinPartitions(merged.df)
      Prop(got == expect) :| s"got=$got expect=$expect"
    }, minTests = 20)
  }

  test("simhashPairs == popcount model within the completeness bound") {
    val vocab = Vector("red", "green", "blue", "cyan", "teal", "onyx")
    val docGen: Gen[String] =
      Gen.choose(1, 5).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab))).map(_.mkString(" "))
    check(forAll(Gen.listOfN(7, docGen)) { docs =>
      val df = docs.zipWithIndex.map { case (d, i) => (i.toLong, d) }.toDF("doc_id", "text")
      // model: exact signature hamming ≤ nBlocks−1 = 3 over all pairs —
      // the regime where block bucketing is COMPLETE, so the operator
      // must find exactly these pairs
      val sigs = df.select(col("doc_id"),
          Dedup.simhash(col("text")).as("sig")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expect = (for {
        i <- docs.indices; j <- docs.indices if i < j
        h = java.lang.Long.bitCount(sigs(i.toLong) ^ sigs(j.toLong))
        if h <= 3
      } yield (i.toLong, j.toLong, h.toLong)).toSet
      val got = Dedup.simhashPairs(df, "doc_id", "text", nBlocks = 4, maxHamming = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      Prop(got == expect) :| s"got=$got expect=$expect docs=$docs"
    }, minTests = 15)
  }

  test("exact dedup == normalize-groupBy model") {
    val docGen: Gen[String] = Gen.oneOf(
      "The cat", "the  cat", " THE CAT ", "a dog", "A  DOG", "bird")
    check(forAll(Gen.listOfN(8, docGen)) { docs =>
      val df = docs.zipWithIndex.map { case (d, i) => (i.toLong, d) }.toDF("doc_id", "text")
      def norm(s: String) = s.trim.toLowerCase.replaceAll("\\s+", " ")
      val expect = docs.zipWithIndex.groupBy { case (d, _) => norm(d) }
        .map { case (_, g) => (g.map(_._2.toLong).min, g.size.toLong) }.toSet
      val got = Dedup.exact(df, "doc_id", "text").collect()
        .map(r => (r.getLong(1), r.getLong(2))).toSet
      Prop(got == expect) :| s"got=$got expect=$expect docs=$docs"
    }, minTests = 20)
  }

  test("loadtable roundtrip: written CSV == read table (quotes, commas, separators, inference)") {
    val cell: Gen[String] =
      Gen.listOfN(6, Gen.oneOf('a', 'b', ',', '"', ' ', 'x', '\u0001')).map(_.mkString)
    val rows: Gen[List[(Long, String)]] =
      Gen.listOfN(8, Gen.zip(Gen.choose(0L, 99L), cell))
    // ONE temp dir for the whole property (mode=overwrite reuses it) —
    // per-iteration dirs would leak into /tmp on every run
    val dir = java.nio.file.Files.createTempDirectory("graft_csv")
      .toFile.getPath + "/t"
    check(forAll(rows) { xs =>
      xs.toDF("k", "s").coalesce(1).write
        .option("header", "true")
        // the writer trims unquoted whitespace by default — disable so the
        // roundtrip is byte-faithful
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .mode("overwrite").csv(dir)
      val t = graft.sources.IO.loadtable(spark, Seq(dir))
      val got = t.df.select(col("k").cast("long"), col("s")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      Prop(got == xs.toSet) :| s"got=$got expect=${xs.toSet}"
    }, minTests = 10)
  }

  test("chunkOf == linear scan over cumulative bounds") {
    val groups: Gen[List[Long]] = Gen.nonEmptyListOf(Gen.choose(1L, 5L)).map(_.take(6))
    check(forAll(groups, Gen.choose(0L, 40L)) { (sizes, i) =>
      val bounds = sizes.scanLeft(0L)(_ + _).tail.toArray
      def model: Int = {
        val idx = bounds.indexWhere(i < _)
        if (idx >= 0) idx else bounds.length - 1
      }
      Prop(JTable.chunkOf(i, bounds) == model) :| s"i=$i bounds=${bounds.toSeq}"
    })
  }

  test("connectedComponents == union-find model on random edge lists (incl. null endpoints)") {
    // ~1 in 8 endpoints is null: a half-null pair is NO edge and must be
    // dropped WHOLE on both paths (round-9 fix: per-path filtering labeled
    // the half-null pair's survivor on the distributed path only)
    val endpoint: Gen[Option[Long]] =
      Gen.frequency(7 -> Gen.choose(0L, 9L).map(Some(_): Option[Long]),
        1 -> Gen.const(None: Option[Long]))
    val edges: Gen[List[(Option[Long], Option[Long])]] =
      Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, Gen.zip(endpoint, endpoint)))
    check(forAll(edges) { es0 =>
      // model sees only real edges; self-pairs carry no info and are kept
      // OUT of the operator input too (a self-loop IS a 1-pair node)
      val es = es0.collect { case (Some(a), Some(b)) if a != b => (a, b) }
      val input = es0.filter { case (a, b) =>
        a.isEmpty || b.isEmpty || a != b }.toDF("i", "j")
      // model: textbook union-find, components labeled by their min node
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
      val roots = nodes.groupBy(find)
      val expect = roots.flatMap { case (_, ns) => ns.map(_ -> ns.min) }.toMap
      // BOTH paths of the size-adaptive operator against the model:
      // the driver union-find fast path (default gate) and the
      // distributed label propagation (localEdgeLimit = 0 forces it)
      val fast = Dedup.connectedComponents(input).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = Dedup.connectedComponents(input,
          localEdgeLimit = 0L).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      (Prop(fast == expect) :| s"fast got=$fast expect=$expect edges=$es0") &&
        (Prop(dist == expect) :| s"dist got=$dist expect=$expect edges=$es0")
    }, minTests = 12)
  }

  test("clusters/dedupByPairs: singletons self-labeled, one canonical row per cluster") {
    check(forAll(Gen.listOfN(6, Gen.zip(Gen.choose(0L, 7L), Gen.choose(0L, 7L)))) { es0 =>
      val es = es0.filter { case (a, b) => a != b }
      val docs = (0L to 9L).map(i => (i, s"doc$i")).toList
      val df = docs.toDF("doc_id", "text")
      val pairs = (if (es.isEmpty) List((98L, 99L)) else es).toDF("i", "j")
      val cl = Dedup.clusters(df, "doc_id", pairs)
        .select(col("doc_id"), col("comp")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // every doc labeled; comp ≤ id; docs outside the pair graph keep self
      val inGraph = es.flatMap(e => Seq(e._1, e._2)).toSet
      val selfOk = docs.map(_._1).filterNot(inGraph).forall(i => cl(i) == i)
      val kept = Dedup.dedupByPairs(df, "doc_id", pairs).collect()
        .map(_.getLong(0)).toSet
      // canonical set == distinct comp labels that are real doc ids
      val expectKept = cl.values.toSet.intersect(docs.map(_._1).toSet)
      Prop(cl.size == docs.size && selfOk && kept == expectKept &&
        cl.forall { case (i, c) => c <= i }) :| s"cl=$cl kept=$kept"
    }, minTests = 12)
  }

  test("packGreedy == sequential greedy model, per (group, shard) run") {
    val rows: Gen[List[(String, Long)]] =
      Gen.choose(1, 14).flatMap(n => Gen.listOfN(n,
        Gen.zip(Gen.oneOf("a", "b"), Gen.choose(1L, 120L))))
    check(forAll(rows, Gen.oneOf(1, 3)) { (xs, shards) =>
      val budget = 100L
      val df = xs.zipWithIndex.map { case ((g, tok), i) => (g, i.toLong, tok) }
        .toDF("g", "ord", "ntok")
      val got = graft.functions.Packing
        .packGreedy(df, "g", "ord", col("ntok"), budget, shards)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      def model(run: Seq[(Long, Long)]): Map[Long, Long] = { // ord→bin
        var bin = 0L; var acc = 0L; var first = true
        run.sortBy(_._1).map { case (ord, tok) =>
          if (first) { first = false; acc = tok }
          else if (acc + tok > budget) { bin += 1; acc = tok }
          else acc += tok
          ord -> bin
        }.toMap
      }
      // validate each (g, shard) run against the model — the shard map
      // itself is the operator's own hash, read back from the output
      val ok = got.groupBy(r => (r._1, r._2)).forall { case (_, run) =>
        val m = model(run.map(r => (r._3, r._4)).toSeq)
        run.forall(r => m(r._3) == r._5)
      }
      val complete = got.length == xs.length
      Prop(ok && complete) :| s"got=${got.toSeq} xs=$xs shards=$shards"
    }, minTests = 20)
  }

  test("packTexts == sequential greedy model: bins, counts, and concatenated text") {
    val rows: Gen[List[(String, Long, String)]] =
      Gen.choose(1, 14).flatMap(n => Gen.listOfN(n,
        Gen.zip(Gen.oneOf("a", "b"), Gen.choose(1L, 120L),
          Gen.choose('p', 't').map(_.toString))))
    check(forAll(rows, Gen.oneOf(1, 3)) { (xs, shards) =>
      val budget = 100L
      val df = xs.zipWithIndex.map { case ((g, tok, txt), i) => (g, i.toLong, tok, txt) }
        .toDF("g", "ord", "ntok", "txt")
      val got = graft.functions.Packing
        .packTexts(df, "g", "ord", col("ntok"), "txt", budget, sep = "|", shards)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) ->
          (r.getLong(3), r.getLong(4), r.getString(5))).toMap
      // sequential model per (g, shard) run: walk in ord order, close the
      // bin when the next doc would overflow, concatenate with the sep.
      // The shard map is the operator's own hash, read back in one pass.
      val shardMap: Map[Long, Long] =
        if (shards > 1)
          df.select(col("ord"),
              org.apache.spark.sql.functions.pmod(
                org.apache.spark.sql.functions.xxhash64(col("ord")),
                lit(shards.toLong)))
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        else xs.indices.map(i => i.toLong -> 0L).toMap
      val expect = xs.zipWithIndex
        .map { case ((g, tok, txt), i) => (g, shardMap(i.toLong), i.toLong, tok, txt) }
        .groupBy(r => (r._1, r._2))
        .flatMap { case ((g, sh), run) =>
          var bin = 0L; var acc = 0L; var first = true
          val members = scala.collection.mutable.Map
            .empty[Long, scala.collection.mutable.ListBuffer[(Long, String)]]
          run.sortBy(_._3).foreach { case (_, _, _, tok, txt) =>
            if (first) { first = false; acc = tok }
            else if (acc + tok > budget) { bin += 1; acc = tok }
            else acc += tok
            members.getOrElseUpdate(bin, scala.collection.mutable.ListBuffer())
              .append((tok, txt))
          }
          members.map { case (b, m) =>
            (g, sh, b) -> (m.size.toLong, m.map(_._1).sum, m.map(_._2).mkString("|"))
          }
        }
      Prop(got == expect) :| s"got=$got expect=$expect xs=$xs shards=$shards"
    }, minTests = 20)
  }

  test("splitByHash/sampleByHash == salted-md5 model, bands disjoint+exhaustive") {
    def u32(salt: String, key: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$salt$key".getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
    }
    check(forAll(Gen.listOfN(12, Gen.choose(0L, 999L)), Gen.identifier) { (keys0, salt) =>
      val keys = keys0.distinct
      val df = keys.map(Tuple1(_)).toDF("k")
      val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
      val got = graft.functions.Sampling.splitByHash(df, "k", splits, salt)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val expect = keys.map { k =>
        val u = u32(salt, k)
        k -> (if (u < 3435973836L) "train" else if (u < 3865470566L) "val" else "test")
      }.toMap
      val sampled = graft.functions.Sampling.sampleByHash(df, "k", 0.5, salt)
        .collect().map(_.getLong(0)).toSet
      val expectSampled = keys.filter(k => u32(salt, k) < 2147483648L).toSet
      (Prop(got == expect) :| s"split got=$got expect=$expect") &&
        (Prop(sampled == expectSampled) :| s"sample got=$sampled expect=$expectSampled")
    }, minTests = 15)
  }

  test("resampleToMixture == Scala model (same double shapes, same hash threshold)") {
    val rows: Gen[List[(String, Long)]] =
      Gen.choose(4, 20).flatMap(n => Gen.listOfN(n,
        Gen.zip(Gen.oneOf("x", "y", "z"), Gen.choose(0L, 999L))))
    check(forAll(rows) { xs0 =>
      val xs = xs0.distinctBy(_._2) // unique keys
      val target = Map("x" -> 0.5, "y" -> 0.25, "z" -> 0.25)
      val present = xs.map(_._1).toSet
      if (!present.exists(target.contains)) Prop(true)
      else {
        def u32(key: Long): Long = {
          val d = java.security.MessageDigest.getInstance("MD5")
            .digest(s"m$key".getBytes("UTF-8"))
          java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
        }
        val counts = xs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
          .filter { case (d, _) => target.contains(d) }
        val tMin = counts.map { case (d, c) => c.toDouble / target(d) }.min
        val expect = xs.filter { case (d, k) =>
          counts.contains(d) && {
            val f = math.min(target(d) * tMin / counts(d).toDouble, 1.0)
            u32(k) < math.floor(f * 4294967296.0).toLong
          }
        }.toSet
        val got = graft.functions.Sampling
          .resampleToMixture(xs.toDF("dom", "k"), "dom", "k", target, salt = "m")
          .select(col("dom"), col("k")).collect()
          .map(r => (r.getString(0), r.getLong(1))).toSet
        Prop(got == expect) :| s"got=$got expect=$expect xs=$xs"
      }
    }, minTests = 15)
  }

  test("contaminationScores == brute-force shingle-set model") {
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff")
    val docGen: Gen[String] =
      Gen.choose(0, 8).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab))).map(_.mkString(" "))
    check(forAll(Gen.listOfN(6, docGen), Gen.listOfN(2, docGen)) { (cand, bench) =>
      def sh(s: String): Set[String] = {
        val t = s.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
        if (t.length < 2) Set.empty else t.sliding(2).map(_.mkString(" ")).toSet
      }
      val benchSet = bench.flatMap(sh).toSet
      val expect = cand.zipWithIndex
        .map { case (d, i) => i.toLong -> sh(d).intersect(benchSet).size.toLong }
        .filter(_._2 > 0).toMap
      val got = Dedup.contaminationScores(
          cand.zipWithIndex.map { case (d, i) => (i.toLong, d) }.toDF("doc_id", "text"),
          "doc_id", "text",
          bench.zipWithIndex.map { case (d, i) => (i.toLong, d) }.toDF("bid", "btext"),
          "btext", n = 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      Prop(got == expect) :| s"got=$got expect=$expect cand=$cand bench=$bench"
    }, minTests = 15)
  }

  test("rangeJoin == brute-force interval-containment model") {
    val pts: Gen[List[(Long, Long)]] =
      Gen.listOfN(10, Gen.zip(Gen.choose(0L, 2L), Gen.choose(-20L, 20L)))
    val ivs: Gen[List[(Long, Long, Long)]] = Gen.listOfN(8,
      Gen.zip(Gen.choose(0L, 2L), Gen.choose(-20L, 20L), Gen.choose(-8L, 8L))
        .map { case (id, lo, span) => (id, lo, lo + span) }) // span<0 → empty
    check(forAll(pts, ivs, Gen.oneOf(1L, 2L, 7L, 50L)) { (ps, is, w) =>
      val expect = (for {
        ((pid, v), pi) <- ps.zipWithIndex
        ((iid, lo, hi), ii) <- is.zipWithIndex
        if pid == iid && v >= lo && v <= hi
      } yield (pi.toLong, ii.toLong)).sorted
      val got = Joins.rangeJoin(
          ps.zipWithIndex.map { case ((id, v), i) => (i.toLong, id, v) }
            .toDF("pi", "id", "v"),
          is.zipWithIndex.map { case ((id, lo, hi), i) => (i.toLong, id, lo, hi) }
            .toDF("ii", "id", "lo", "hi"),
          Seq("id"), "v", "lo", "hi", w)
        .select(col("pi"), col("ii")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toList.sorted
      Prop(got == expect) :| s"w=$w got=$got expect=$expect"
    }, minTests = 20)
  }

  test("chunkTokens == sequential chunk model across random size/overlap") {
    val word = Gen.oneOf("aa", "b", "ccc", "dd")
    val doc = Gen.choose(0, 30).flatMap(k => Gen.listOfN(k, word)).map(_.mkString(" "))
    val cfg = for {
      cs <- Gen.choose(1, 8)
      ov <- Gen.choose(0, cs - 1)
    } yield (cs, ov)
    check(forAll(Gen.listOfN(4, doc), cfg) { case (texts, (cs, ov)) =>
      val stride = cs - ov
      def model(t: String): Seq[(Long, Long, String)] = {
        val toks = t.split("\\s+").filter(_.nonEmpty).toSeq
        if (toks.isEmpty) Seq.empty
        else {
          val k = math.max((toks.length - ov + stride - 1) / stride, 1)
          (0 until k).map { c =>
            val chunk = toks.slice(c * stride, c * stride + cs)
            (c.toLong, chunk.length.toLong, chunk.mkString(" "))
          }
        }
      }
      val expect = texts.zipWithIndex.flatMap { case (t, i) =>
        model(t).map { case (c, n, s) => (i.toLong, c, n, s) }
      }.sorted
      val got = graft.functions.Text.chunkTokens(
          texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text"),
          "id", "text", cs, ov)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toList.sorted
      Prop(got == expect) :| s"cs=$cs ov=$ov got=$got expect=$expect"
    }, minTests = 20)
  }

  test("sharedPassages == brute-force diagonal-run model on random docs") {
    val word = Gen.oneOf("u", "v", "w", "x")
    val doc = Gen.choose(0, 10).flatMap(k => Gen.listOfN(k, word)).map(_.mkString(" "))
    check(forAll(Gen.listOfN(4, doc), Gen.choose(1L, 3L)) { (texts, minRun) =>
      val n = 2
      def grams(t: String): Seq[String] =
        t.split("\\s+").filter(_.nonEmpty).sliding(n).filter(_.length == n)
          .map(_.mkString(" ")).toSeq
      val g = texts.map(grams)
      val expect = (for {
        i <- g.indices; j <- g.indices if i < j
        matches = for {
          (ga, pa) <- g(i).zipWithIndex; (gb, pb) <- g(j).zipWithIndex
          if ga == gb
        } yield (pa, pb)
        (d, ms) <- matches.groupBy { case (pa, pb) => pa - pb }
        // maximal runs of consecutive pa within one diagonal
        run <- {
          val ps = ms.map(_._1).sorted
          ps.foldLeft(List.empty[List[Int]]) {
            case (acc @ (h :: t), p) if h.nonEmpty && p == h.head + 1 =>
              (p :: h) :: t
            case (acc, p) => List(p) :: acc
          }
        }
        if run.length >= minRun
      } yield (i.toLong, j.toLong, run.min.toLong, (run.min - d).toLong,
        run.length.toLong)).toList.sorted
      val got = Dedup.sharedPassages(
          texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text"),
          "id", "text", n, minRun)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toList.sorted
      Prop(got == expect) :| s"minRun=$minRun got=$got expect=$expect texts=$texts"
    }, minTests = 25)
  }

  test("repetitionStats == n-gram count-map model on random docs") {
    val word = Gen.oneOf("aa", "b", "ccc", "dd", "e")
    val doc = Gen.choose(0, 12).flatMap(k => Gen.listOfN(k, word))
      .map(_.mkString(" "))
    check(forAll(Gen.listOfN(5, doc), Gen.choose(1, 3)) { (texts, n) =>
      def model(t: String): (Long, Long, Long) = {
        val toks = t.split("\\s+").filter(_.nonEmpty)
        val grams = toks.sliding(n).filter(_.length == n).map(_.mkString(" ")).toSeq
        val counts = grams.groupBy(identity).view.mapValues(_.size).toMap
        (grams.size.toLong, counts.size.toLong,
          if (counts.isEmpty) 0L else counts.values.max.toLong)
      }
      val expect = texts.map(model)
      val got = texts.zipWithIndex.map { case (t, i) => (i, t) }
        .toDF("i", "text")
        .select(col("i"), graft.functions.Text.repetitionStats(col("text"), n).as("st"))
        .orderBy("i").collect()
        .map { r =>
          val st = r.getStruct(1)
          (st.getLong(0), st.getLong(1), st.getLong(2))
        }.toList
      Prop(got == expect) :| s"n=$n got=$got expect=$expect texts=$texts"
    }, minTests = 20)
  }

  test("FixedPoint.sumFixed == decimal sum on random signed 2-dp values") {
    // values constructed AS 2-dp rationals (k/100 for random k) — the
    // helper's documented exactness domain, signs included
    val cents = Gen.choose(-1000000000L, 1000000000L)
    check(forAll(Gen.listOfN(40, cents)) { ks =>
      val df = ks.map(k => Tuple1(k / 100.0)).toDF("v")
      val r = df.agg(
        graft.functions.FixedPoint.sumFixed(col("v"), 2).as("f"),
        sum(col("v").cast("decimal(18,2)")).cast("double").as("d")).head()
      Prop(r.getDouble(0) == r.getDouble(1)) :|
        s"fixed=${r.getDouble(0)} decimal=${r.getDouble(1)}"
    }, minTests = 25)
  }

  test("FixedPoint.sumProductFixed == decimal product sum on random 2-dp pairs") {
    // both factors are honest 2-dp rationals (the revenue-shape domain:
    // money × (1 − discount)); signs included on the money side
    val cents = Gen.choose(-100000000L, 100000000L)
    val pct = Gen.choose(0L, 100L)
    check(forAll(Gen.listOfN(30, Gen.zip(cents, pct))) { ks =>
      val df = ks.map { case (a, b) => (a / 100.0, b / 100.0) }.toDF("a", "b")
      val r = df.agg(
        graft.functions.FixedPoint.sumProductFixed(col("a"), col("b"), 2, 2).as("f"),
        sum((col("a") * col("b")).cast("decimal(18,4)")).cast("double").as("d")).head()
      Prop(r.getDouble(0) == r.getDouble(1)) :|
        s"fixed=${r.getDouble(0)} decimal=${r.getDouble(1)}"
    }, minTests = 25)
  }

  test("gopherKeep fused == HOF conjunction on random ASCII docs + thresholds") {
    // the fused native gate's documented equivalence domain is ASCII-ish
    // text (the tokenSpans String.toLowerCase vs normalize_ws
    // UTF8String.toLowerCase divergence only appears for locale-special
    // unicode like U+0130); generate adversarial ASCII: stopwords, long
    // and 1-char words, digits, punctuation, every Java-regex \s
    // whitespace char, repeated grams, empty docs
    val word = Gen.oneOf("the", "a", "of", "spark", "q", "zz", "12345",
      "w1", "longtokenword", "x.y!", "THE", "In")
    val ws = Gen.oneOf(" ", "  ", "\t", "\n", "", "\f", "\r", " \t ")
    val doc = for {
      k <- Gen.choose(0, 24)
      words <- Gen.listOfN(k, word)
      seps <- Gen.listOfN(math.max(k - 1, 0), ws)
      lead <- ws; trail <- ws
    } yield {
      val body = words.zipAll(seps, "", "").map { case (w, s) => w + s }.mkString
      lead + body + trail
    }
    val thresholds = for {
      minT <- Gen.choose(0L, 6L); maxT <- Gen.choose(6L, 30L)
      minL <- Gen.choose(0.0, 3.0); maxL <- Gen.choose(3.0, 14.0)
      minS <- Gen.choose(0.0, 0.4); maxD <- Gen.choose(0.0, 1.0)
    } yield (minT, maxT, minL, maxL, minS, maxD)
    check(forAll(Gen.listOfN(6, doc), thresholds) { case (texts, (minT, maxT, minL, maxL, minS, maxD)) =>
      val rows = texts.zipWithIndex.map { case (t, i) => (i, t) }
        .toDF("i", "text")
        .select(col("i"),
          graft.functions.Text.gopherKeep(col("text"), minT, maxT, minL, maxL, minS, maxD).as("a"),
          graft.functions.Text.gopherKeepHof(col("text"), minT, maxT, minL, maxL, minS, maxD).as("b"))
        .orderBy("i").collect()
        .map(r => (r.getBoolean(1), if (r.isNullAt(2)) null else r.getBoolean(2)))
      // HOF nulls only arise from null TEXT (not generated here), so
      // plain equality is the property
      Prop(rows.forall { case (a, b) => b != null && a == b }) :|
        s"thresholds=($minT,$maxT,$minL,$maxL,$minS,$maxD) rows=${rows.toList} texts=$texts"
    }, minTests = 25)
  }

  test("prefixBefore == sorted-scan model on random distinct keys + " +
    "weights, across partitionings (the exact-statistics rank engine)") {
    // random distinct doubles (some negative, some null-free — NULL is
    // pinned by the fixed fixture), random long weights incl. zero
    val entries: Gen[List[(Double, Long)]] = for {
      n <- Gen.choose(1, 40)
      ks <- Gen.listOfN(n, Gen.choose(-1000, 1000))
      ws <- Gen.listOfN(n, Gen.choose(0L, 50L))
    } yield ks.distinct.map(k => k / 7.0).zip(ws)
    check(forAll(entries, Gen.choose(1, 6)) { (rows, parts) =>
      // model: ascending scan, each key's value = Σ weights strictly before
      val sorted = rows.sortBy(_._1)
      val cums = sorted.map(_._2).scanLeft(0L)(_ + _).dropRight(1)
      val expect = sorted.map(_._1).zip(cums).toMap
      val df = rows.toDF("k", "w").repartition(parts)
      val got = graft.operators.Analytics
        .prefixBefore(df, Nil, "k", Seq("w" -> col("w")))._2
        .collect().map(r => r.getDouble(0) -> r.getAs[Long]("__cum_w")).toMap
      Prop(got == expect) :| s"got=$got expect=$expect parts=$parts"
    }, minTests = 25)
  }

  test("prefixBeforeBy == per-group sorted-scan model on random " +
    "(group, key, weight) triples incl. a NULL group, across " +
    "partitionings (the By-family rank engine: compound range slices, " +
    "per-(pid, group) offsets)") {
    // random groups (incl. null), per-group-distinct keys, random
    // weights — the keyed form must reproduce, per group, exactly the
    // global model run on that group's rows
    val entries: Gen[List[(Option[String], Double, Long)]] = for {
      n <- Gen.choose(1, 50)
      gs <- Gen.listOfN(n, Gen.oneOf(Some("a"), Some("b"), Some("c"),
        Some("hot"), None))
      ks <- Gen.listOfN(n, Gen.choose(-1000, 1000))
      ws <- Gen.listOfN(n, Gen.choose(0L, 50L))
    } yield gs.lazyZip(ks).lazyZip(ws).toList
      .map { case (g, k, w) => (g, k / 7.0, w) }
      .groupBy(t => (t._1, t._2)).map(_._2.head).toList // distinct (g, k)
    check(forAll(entries, Gen.choose(1, 6)) { (rows, parts) =>
      val expect = rows.groupBy(_._1).flatMap { case (g, rs) =>
        val sorted = rs.sortBy(_._2)
        val cums = sorted.map(_._3).scanLeft(0L)(_ + _).dropRight(1)
        sorted.map(_._2).zip(cums).map { case (k, c) => (g, k) -> c }
      }
      val df = rows.toDF("g", "k", "w").repartition(parts)
      val got = graft.operators.Analytics
        .prefixBefore(df, Seq("g"), "k", Seq("w" -> col("w")))._2
        .collect().map(r => (Option(r.getString(0)), r.getDouble(1)) ->
          r.getAs[Long]("__cum_w")).toMap
      Prop(got == expect) :| s"got=$got expect=$expect parts=$parts"
    }, minTests = 25)
  }

  test("energyDistance == brute-force pair model (the prefix-sum " +
    "identity against literal O(n^2) enumeration)") {
    // 2-decimal values: the operator's 1e-12 quantization is exact, so
    // the only divergence left is double-sum noise
    val vals: Gen[List[Double]] =
      Gen.choose(1, 8).flatMap(n =>
        Gen.listOfN(n, Gen.choose(-5000, 5000).map(_ / 100.0)))
    check(forAll(vals, vals) { (a, b) =>
      def m(x: List[Double], y: List[Double]): Double =
        (for { u <- x; v <- y } yield math.abs(u - v)).sum /
          (x.size.toDouble * y.size.toDouble)
      val expect = 2.0 * m(a, b) - m(a, a) - m(b, b)
      val df = (a.map(("a", _)) ++ b.map(("b", _))).toDF("g", "v")
      val row = graft.operators.Analytics
        .energyDistance(df, "g", "v", "a", "b").collect().head
      val got = row.getDouble(5)
      Prop(math.abs(got - expect) < 1e-8) :| s"got=$got expect=$expect"
    }, minTests = 20)
  }

  test("logRankTest == event-time walk model (O/E/V accumulated by a " +
    "literal risk-set iteration)") {
    val rows: Gen[List[(String, Long, Boolean)]] =
      Gen.choose(2, 10).flatMap(n => Gen.listOfN(n,
        Gen.zip(Gen.oneOf("a", "b"), Gen.choose(0L, 5L), Gen.oneOf(true, false))))
    check(forAll(rows) { rs =>
      val hasBoth = rs.exists(_._1 == "a") && rs.exists(_._1 == "b")
      val na0 = rs.count(_._1 == "a"); val nb0 = rs.count(_._1 == "b")
      var ra = na0.toLong; var rb = nb0.toLong
      var o = 0L; var e = 0.0; var v = 0.0
      rs.map(_._2).distinct.sorted.foreach { t =>
        val atT = rs.filter(_._2 == t)
        val da = atT.count(x => x._1 == "a" && x._3).toLong
        val db = atT.count(x => x._1 == "b" && x._3).toLong
        val nt = ra + rb; val dt = da + db
        if (dt > 0) {
          o += da
          e += dt.toDouble * ra / nt
          if (nt > 1)
            v += dt.toDouble * ra * rb * (nt - dt) /
              (nt.toDouble * nt * (nt - 1))
        }
        ra -= atT.count(_._1 == "a"); rb -= atT.count(_._1 == "b")
      }
      val row = graft.operators.Analytics.logRankTest(
        rs.toDF("g", "dur", "ev"), "g", "dur", col("ev"), "a", "b")
        .collect().head
      val ok = row.getLong(2) == o &&
        math.abs(row.getDouble(3) - e) < 1e-9 &&
        math.abs(row.getDouble(4) - v) < 1e-9 &&
        (if (hasBoth && v > 0)
          math.abs(row.getDouble(5) - (o - e) / math.sqrt(v)) < 1e-9
        else row.isNullAt(5))
      Prop(ok) :| s"got=${row.mkString(",")} o=$o e=$e v=$v"
    }, minTests = 25)
  }

  test("ordinalAssociation == brute-force pair counting (gamma, both " +
    "Somers' D, tau_b from literal pair enumeration)") {
    val rows: Gen[List[(Long, Long)]] =
      Gen.choose(2, 10).flatMap(n => Gen.listOfN(n,
        Gen.zip(Gen.choose(0L, 3L), Gen.choose(0L, 3L))))
    check(forAll(rows) { rs =>
      var nc = 0L; var nd = 0L; var untiedX = 0L; var untiedY = 0L
      for (i <- rs.indices; j <- rs.indices if i < j) {
        val ((x1, y1), (x2, y2)) = (rs(i), rs(j))
        if (x1 != x2) untiedX += 1
        if (y1 != y2) untiedY += 1
        if (x1 != x2 && y1 != y2) {
          if ((x2 - x1) * (y2 - y1) > 0) nc += 1 else nd += 1
        }
      }
      val s = (nc - nd).toDouble
      val row = graft.operators.Analytics
        .ordinalAssociation(rs.toDF("x", "y"), "x", "y").collect().head
      def near(i: Int, exp: Option[Double]): Boolean = exp match {
        case None => row.isNullAt(i)
        case Some(d) => !row.isNullAt(i) && math.abs(row.getDouble(i) - d) < 1e-9
      }
      val ok = row.getDouble(1) == nc.toDouble &&
        row.getDouble(2) == nd.toDouble &&
        near(3, if (nc + nd > 0) Some(s / (nc + nd)) else None) &&
        near(4, if (untiedX > 0) Some(s / untiedX) else None) &&
        near(5, if (untiedY > 0) Some(s / untiedY) else None) &&
        near(6, if (untiedX > 0 && untiedY > 0)
          Some(s / math.sqrt(untiedX.toDouble * untiedY)) else None)
      Prop(ok) :| s"got=${row.mkString(",")} nc=$nc nd=$nd ux=$untiedX uy=$untiedY"
    }, minTests = 25)
  }

  test("brunnerMunzel == literal midranks model on tie-heavy samples") {
    // the per-row definition: pooled midranks, within-group midranks,
    // studentized rank-mean difference with Welch-type dof - the
    // operator's doubled-rank block identity must reproduce it exactly
    val vals: org.scalacheck.Gen[List[Double]] =
      Gen.choose(2, 10).flatMap(n =>
        Gen.listOfN(n, Gen.choose(0, 6).map(_.toDouble)))
    check(forAll(vals, vals) { (xs, ys) =>
      def midranks(all: List[Double]): Map[Double, Double] = {
        val cnt = all.groupBy(identity).view.mapValues(_.size).toMap
        val sorted = cnt.keys.toList.sorted
        var before = 0L
        sorted.map { v =>
          val c = cnt(v); val r = before + (c + 1) / 2.0
          before += c; v -> r
        }.toMap
      }
      val n1 = xs.length; val n2 = ys.length
      val rc = midranks(xs ++ ys)
      val rx = midranks(xs); val ry = midranks(ys)
      val mx = xs.map(rc).sum / n1; val my = ys.map(rc).sum / n2
      val sx = xs.map(v => math.pow(rc(v) - rx(v) - mx + (n1 + 1) / 2.0, 2))
        .sum / (n1 - 1)
      val sy = ys.map(v => math.pow(rc(v) - ry(v) - my + (n2 + 1) / 2.0, 2))
        .sum / (n2 - 1)
      val va = n1 * sx; val vb = n2 * sy
      val expW = if (va + vb > 0)
        Some(n1 * n2 * (my - mx) / ((n1 + n2) * math.sqrt(va + vb)))
      else None
      val expP = (my - (n2 + 1) / 2.0) / n1
      val df = (xs.map(("a", _)) ++ ys.map(("b", _))).toDF("g", "v")
      val r = Analytics.brunnerMunzel(df, "g", "v", "a", "b").collect().head
      val gotP = r.getDouble(2)
      val gotW = if (r.isNullAt(3)) None else Some(r.getDouble(3))
      val okP = math.abs(gotP - expP) < 1e-9
      val okW = (gotW, expW) match {
        case (Some(a), Some(b)) => math.abs(a - b) < 1e-9
        case (None, None) => true
        case _ => false
      }
      Prop(okP && okW) :| s"got=($gotP,$gotW) expect=($expP,$expW) xs=$xs ys=$ys"
    }, minTests = 25)
  }

  test("lorenzPoints == sorted-rows model (tie-heavy, any p)") {
    val vals: org.scalacheck.Gen[List[Double]] =
      Gen.choose(1, 12).flatMap(n =>
        Gen.listOfN(n, Gen.choose(0, 5).map(_.toDouble)))
    val pGen = Gen.oneOf(0.0, 0.2, 0.25, 0.5, 0.75, 0.9, 1.0)
    check(forAll(vals, pGen) { (xs, p) =>
      val n = xs.length
      val k = math.floor(p * n).toLong
      val sorted = xs.sorted
      val tot = sorted.sum
      val expect =
        if (k == 0) Some(0.0)
        else if (tot == 0.0) None
        else Some(sorted.take(k.toInt).sum / tot)
      val got0 = Analytics.lorenzPoints(xs.toDF("v"), "v", Seq(p))
        .collect().head
      val got = if (got0.isNullAt(3)) None else Some(got0.getDouble(3))
      val ok = (got, expect) match {
        case (Some(a), Some(b)) => math.abs(a - b) < 1e-9
        case (None, None) => true
        case _ => false
      }
      Prop(ok && got0.getLong(2) == k) :| s"got=$got expect=$expect xs=$xs p=$p"
    }, minTests = 30)
  }

  test("cvmUniformTest / adUniformTest == per-row sorted-index model " +
    "(tie-heavy draws in (0,1))") {
    val vals: org.scalacheck.Gen[List[Double]] =
      Gen.choose(1, 12).flatMap(n =>
        Gen.listOfN(n, Gen.choose(1, 9).map(_ / 10.0)))
    check(forAll(vals) { xs =>
      val n = xs.length
      val sorted = xs.sorted
      val expCvm = 1.0 / (12.0 * n) + sorted.zipWithIndex.map {
        case (v, i) => math.pow(v - (2 * i + 1) / (2.0 * n), 2) }.sum
      val expAd = -n - sorted.zipWithIndex.map { case (v, i) =>
        (2 * i + 1) * math.log(v) +
          (2 * (n - 1 - i) + 1) * math.log(1 - v) }.sum / n
      val df = xs.toDF("v")
      val gotC = Analytics.cvmUniformTest(df, "v", 0.0, 1.0)
        .collect().head.getDouble(1)
      val gotA = Analytics.adUniformTest(df, "v", 0.0, 1.0)
        .collect().head.getDouble(2)
      Prop(math.abs(gotC - expCvm) < 1e-9 &&
        math.abs(gotA - expAd) < 1e-9) :|
        s"cvm got=$gotC exp=$expCvm ad got=$gotA exp=$expAd xs=$xs"
    }, minTests = 30)
  }

  test("holmAdjust == literal step-down model (ties share the " +
    "smallest rank's factor)") {
    val ps: org.scalacheck.Gen[List[Double]] =
      Gen.choose(1, 10).flatMap(n =>
        Gen.listOfN(n, Gen.choose(0, 20).map(_ / 20.0)))
    check(forAll(ps) { xs =>
      val m = xs.length
      val sorted = xs.sorted
      // literal per-test step-down: factor (m - rank + 1) with ranks
      // 1..m assigned in sorted order (ties get ascending ranks, so the
      // tie block's max factor lands at its smallest rank), running max
      val raw = sorted.zipWithIndex.map { case (p, i) => (m - i) * p }
      val adj = raw.scanLeft(0.0)(math.max).tail.map(q => math.min(1.0, q))
      val expect = sorted.zip(adj).groupBy(_._1)
        .map { case (p, g) => p -> g.map(_._2).max }
      val got = Analytics.holmAdjust(xs.toDF("p"), "p").collect()
        .map(r => r.getDouble(0) -> r.getDouble(1)).groupBy(_._1)
        .map { case (p, g) => p -> g.head._2 }
      val ok = expect.forall { case (p, e) =>
        got.get(p).exists(v => math.abs(v - e) < 1e-12) }
      Prop(ok) :| s"got=$got expect=$expect xs=$xs"
    }, minTests = 30)
  }

  test("yuenTrimmedT == literal trim/winsorize model (2-dp values, " +
    "random alpha)") {
    val vals: org.scalacheck.Gen[List[Double]] =
      Gen.choose(3, 12).flatMap(n =>
        Gen.listOfN(n, Gen.choose(0, 40).map(_ / 4.0)))
    val alphaGen = Gen.oneOf(0.0, 0.1, 0.2, 0.3)
    check(forAll(vals, vals, alphaGen) { (xs, ys, alpha) =>
      def side(v: List[Double]): (Long, Long, Double, Option[Double]) = {
        val n = v.length
        val k = math.floor(alpha * n).toInt
        val h = n - 2 * k
        val sorted = v.sorted
        val tmean = sorted.slice(k, n - k).sum / h
        val flo = sorted(k); val fhi = sorted(n - k - 1)
        val w = v.map(x => math.min(math.max(x, flo), fhi))
        val sw = w.sum; val qw = w.map(x => x * x).sum
        val s2w = if (n > 1) Some((qw - sw * sw / n) / (n - 1)) else None
        (n.toLong, h.toLong, tmean, s2w)
      }
      val (na, ha, ma, s2a) = side(xs)
      val (nb, hb, mb, s2b) = side(ys)
      def dd(n: Long, h: Long, s2: Option[Double]): Option[Double] =
        if (h > 1) s2.map(_ * (n - 1.0) / (h * (h - 1.0))) else None
      val expT = for { da <- dd(na, ha, s2a); db <- dd(nb, hb, s2b)
        if da + db > 0 } yield (ma - mb) / math.sqrt(da + db)
      val df = (xs.map(("a", _)) ++ ys.map(("b", _))).toDF("g", "v")
      val r = Aggregations.yuenTrimmedT(df, "g", "v", "a", "b", alpha)
        .collect().head
      val okMeans = math.abs(r.getAs[Double]("mean_a") - ma) < 1e-9 &&
        math.abs(r.getAs[Double]("mean_b") - mb) < 1e-9
      val gotT = if (r.isNullAt(r.fieldIndex("t"))) None
        else Some(r.getAs[Double]("t"))
      val okT = (gotT, expT) match {
        case (Some(a), Some(b)) => math.abs(a - b) < 1e-7
        case (None, None) => true
        case _ => false
      }
      Prop(okMeans && okT) :|
        s"gotT=$gotT expT=$expT xs=$xs ys=$ys alpha=$alpha"
    }, minTests = 25)
  }

  test("medianCI == literal order-statistic model (tie-heavy)") {
    val vals: org.scalacheck.Gen[List[Double]] =
      Gen.choose(1, 15).flatMap(n =>
        Gen.listOfN(n, Gen.choose(0, 6).map(_.toDouble)))
    check(forAll(vals) { xs =>
      val n = xs.length
      val z = 1.959964
      val sorted = xs.sorted
      val l = math.max(1L,
        math.floor((n - z * math.sqrt(n.toDouble)) / 2.0).toLong)
      val u = math.min(n.toLong, n - l + 1)
      val expLo = sorted((l - 1).toInt); val expHi = sorted((u - 1).toInt)
      val expMed = if (n % 2 == 1) sorted(n / 2)
        else (sorted(n / 2 - 1) + sorted(n / 2)) / 2.0
      val r = Analytics.medianCI(xs.toDF("v"), "v").collect().head
      Prop(math.abs(r.getDouble(1) - expMed) < 1e-12 &&
        math.abs(r.getDouble(2) - expLo) < 1e-12 &&
        math.abs(r.getDouble(3) - expHi) < 1e-12 &&
        r.getLong(4) == l && r.getLong(5) == u) :|
        s"got=${r.mkString(",")} exp=($expMed,$expLo,$expHi,$l,$u) xs=$xs"
    }, minTests = 30)
  }
}
