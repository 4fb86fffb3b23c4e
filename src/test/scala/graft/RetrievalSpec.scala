package graft

import graft.functions.{Retrieval, Similarity}
import graft.operators.{Joins, TimeSeries}
import org.apache.spark.sql.functions._

/** Batch-13 operators: BM25 / RRF retrieval, SemDeDup, resampleFill,
  * saltedEquiJoin, upsertAggregate. */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Tables.documents(spark, sf)

  test("bm25Scores == driver-side model over the fixture corpus") {
    val corpus = docs.select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val qs = Seq((1L, "spark window merge"), (2L, "the customer stream"))
    val got = Retrieval.bm25Scores(docs, "doc_id", "text",
        qs.toDF("query_id", "qtext"), "query_id", "qtext")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3))))
      .toMap

    // driver model: same tokenization, same op order, exact decimal sum
    def toks(t: String): Seq[String] =
      t.toLowerCase.trim.split("\\s+").filter(_.nonEmpty).toSeq
    val tokenized = corpus.map { case (id, t) => id -> toks(t) }
    val nDocs = tokenized.length.toLong
    val sumDl = tokenized.map(_._2.length.toLong).sum
    val tf = tokenized.flatMap { case (id, ts) =>
      ts.groupBy(identity).map { case (term, o) => (id, term, o.length.toLong, ts.length.toLong) }
    }
    val want = qs.flatMap { case (qid, qt) =>
      val terms = toks(qt).distinct
      val byDoc = terms.flatMap { term =>
        val matches = tf.filter(_._2 == term)
        val df = matches.length.toLong
        matches.map { case (id, _, tfv, dl) =>
          val idf = (nDocs - df + 0.5) / (df + 0.5)
          val ratio = dl.toDouble / (sumDl.toDouble / nDocs)
          val tfc = (tfv * (1.2 + 1.0)) / (tfv + 1.2 * ((1.0 - 0.75) + 0.75 * ratio))
          (id, idf * tfc)
        }
      }.groupBy(_._1)
      byDoc.map { case (id, ss) =>
        val sum = ss.map(s => BigDecimal(s._2).setScale(12, BigDecimal.RoundingMode.HALF_UP))
          .sum
        ((qid, id), (ss.length.toLong, sum.toDouble))
      }
    }.toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (k, (n, s)) =>
      assert(want(k)._1 == n, s"n_terms at $k")
      assert(want(k)._2 == s, s"score at $k: got $s want ${want(k)._2}")
    }
  }

  test("bm25TopK: ranks by score desc with id tiebreak; unknown terms match nothing") {
    val tiny = Seq(
      (1L, "alpha beta beta"), (2L, "alpha beta"), (3L, "alpha"),
      (4L, "gamma gamma gamma")).toDF("id", "text")
    val q = Seq((7L, "beta")).toDF("qid", "qt")
    val got = Retrieval.bm25TopK(tiny, "id", "text", q, "qid", "qt", k = 5)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    // docs 1 and 2 contain beta; doc 1 has higher tf but longer dl — with
    // k1=1.2, b=0.75: doc1 tf=2 dl=3, doc2 tf=1 dl=2, avgdl=9/4
    // doc1 tfc = 2*2.2/(2+1.2*(0.25+0.75*3/2.25)) = 4.4/(2+1.5) = 1.257
    // doc2 tfc = 2.2/(1+1.2*(0.25+0.75*2/2.25)) = 2.2/(1+1.1) = 1.048
    assert(got.map(_._2).toSeq == Seq(1L, 2L))
    val none = Retrieval.bm25TopK(tiny, "id", "text",
      Seq((8L, "zeta")).toDF("qid", "qt"), "qid", "qt", k = 5)
    assert(none.count() == 0)
  }

  test("rrfFuse: golden fusion; single-list membership contributes once") {
    val a = Seq((0L, 1L, 10L), (0L, 2L, 20L), (0L, 3L, 30L))
      .toDF("query_id", "rank", "id")
    val b = Seq((0L, 1L, 20L), (0L, 2L, 40L))
      .toDF("query_id", "rank", "id")
    val got = Retrieval.rrfFuse(Seq(a, b), k = 10)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    def f(r: Long) = 1.0 / (60.0 + r)
    val want = Seq(
      (20L, 0.0 + f(2) + f(1)), // in both lists
      (10L, 0.0 + f(1)), (40L, 0.0 + f(2)), (30L, 0.0 + f(3)))
      .sortBy { case (id, s) => (-s, id) }
      .zipWithIndex.map { case ((id, s), i) => (i + 1L, id, s) }
    assert(got == want)
  }

  test("semanticDedup: earlier-wins rule on a golden micro-corpus") {
    // 2-d vectors: centroids = ids 0,1. Cluster axis-x: {0,2,3}, axis-y: {1,4}.
    // tau=0.9: 2 and 3 are near-parallel to 0 (dropped); 4 lands in cell 1
    // (cos 0.8 vs (0,1) > 0.6 vs (1,0)) but under tau vs vector 1 (kept).
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)),
      (2L, Seq(0.99f, 0.1f)), (3L, Seq(0.98f, -0.05f)),
      (4L, Seq(0.6f, 0.8f))).toDF("id", "v")
    val model = Similarity.seedCentroids(vecs, "id", "v", k = 2)
    for (exact <- Seq(true, false)) {
      val got = Similarity.semanticDedup(vecs, "id", "v", model, tau = 0.9,
          exact = exact)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .sortBy(_._1).toSeq
      assert(got == Seq((0L, 0L, true), (1L, 1L, true), (2L, 0L, false),
        (3L, 0L, false), (4L, 1L, true)), s"exact=$exact")
    }
  }

  test("semanticDedup: exact and fast paths agree on the fixture embeddings") {
    val emb = Tables.embeddings(spark, sf)
    val model = Similarity.seedCentroids(emb, "vec_id", "embedding", k = 4)
    def run(exact: Boolean) =
      Similarity.semanticDedup(emb, "vec_id", "embedding", model,
          tau = 0.25, exact = exact)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .sortBy(_._1).toSeq
    val e = run(exact = true)
    assert(run(exact = false) == e)
    assert(e.exists(!_._3) && e.exists(_._3), "both branches populated")
    // trained-model path: same machinery, different centroids — sane shape
    val trained = Similarity.trainIvf(emb, "embedding", nlist = 4, maxIter = 3)
    val t = Similarity.semanticDedup(emb, "vec_id", "embedding", trained,
      tau = 0.25, exact = false).collect()
    assert(t.length == e.length)
  }

  test("knnJoinCells == driver fixed-point model; exact == native; k-truncation") {
    val emb = Tables.embeddings(spark, sf)
    val qs = emb.filter(col("vec_id") % 2 === 0)
    val cs = emb.filter(col("vec_id") % 2 === 1)
    val model = Similarity.seedCentroids(cs, "vec_id", "embedding", k = 4)
    val got = Similarity.knnJoinCells(qs, cs, "vec_id", "embedding", model,
        k = 3, exact = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4), r.getDouble(3)))
      .sortBy(t => (t._1, t._3)).toSeq
    // driver model of the exact arithmetic: decimal(·,9) snap per
    // component, exact BigDecimal dot, one double division
    def snap(v: Array[Float]): Array[BigDecimal] =
      v.map(x => BigDecimal(x.toDouble).setScale(9, BigDecimal.RoundingMode.HALF_UP))
    def cosOf(a: Array[BigDecimal], b: Array[BigDecimal]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum.toDouble
      val na = math.sqrt(a.map(x => x * x).sum.toDouble)
      val nb = math.sqrt(b.map(x => x * x).sum.toDouble)
      d / (na * nb)
    }
    val all = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> snap(r.getSeq[Float](1).toArray)).toMap
    val cents = all.keys.filter(_ % 2 == 1).toSeq.sorted.take(4).map(all)
    def cellOf(v: Array[BigDecimal]): Int =
      cents.zipWithIndex.map { case (c, i) => (cosOf(v, c), i) }
        .reduceLeft((a, b) => if (b._1 > a._1) b else a)._2 // earliest-cell ties
    val qCells = all.filter(_._1 % 2 == 0).map { case (id, v) => id -> cellOf(v) }
    val cCells = all.filter(_._1 % 2 == 1).map { case (id, v) => id -> cellOf(v) }
    val want = qCells.toSeq.flatMap { case (qid, qc) =>
      cCells.filter(_._2 == qc).keys.toSeq
        .map(cid => (qid, cid, cosOf(all(qid), all(cid))))
        .sortBy(t => (-t._3, t._2)).take(3).zipWithIndex
        .map { case ((_, cid, cos), i) => (qid, cid, (i + 1).toLong, cos) }
    }.sortBy(t => (t._1, t._3))
    assert(got.map(t => (t._1, t._2, t._3)) == want.map(t => (t._1, t._2, t._3)))
    got.zip(want).foreach { case (g, w) =>
      assert(math.abs(g._4 - w._4) < 1e-12, s"cos mismatch at ${g._1}") }
    // native routing agrees on the fixture (the q153 trained-path check)
    val nat = Similarity.knnJoinCells(qs, cs, "vec_id", "embedding", model,
        k = 3, exact = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
      .sortBy(t => (t._1, t._3)).toSeq
    assert(nat == got.map(t => (t._1, t._2, t._3)))
    // k beyond any cell population truncates without padding
    val big = Similarity.knnJoinCells(qs, cs, "vec_id", "embedding", model,
      k = 1000000, exact = true)
    val perQ = big.groupBy("q_id").agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).collect().head.getLong(0)
    assert(perQ <= cCells.size)
    // multi-probe: nprobe = nlist sees EVERY corpus row → equals the
    // global driver model exactly (assignment stops mattering)
    val full = Similarity.knnJoinCells(qs, cs, "vec_id", "embedding", model,
        k = 3, exact = true, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
      .sortBy(t => (t._1, t._3)).toSeq
    val wantFull = qCells.keys.toSeq.flatMap { qid =>
      cCells.keys.toSeq.map(cid => (qid, cid, cosOf(all(qid), all(cid))))
        .sortBy(t => (-t._3, t._2)).take(3).zipWithIndex
        .map { case ((_, cid, _), i) => (qid, cid, (i + 1).toLong) }
    }.sortBy(t => (t._1, t._3))
    assert(full == wantFull)
    // recall is monotone in nprobe (vs the full-probe truth)
    def recall(res: Seq[(Long, Long, Long)]) =
      res.toSet.intersect(wantFull.toSet).size.toDouble / wantFull.size
    val r1 = recall(got.map(t => (t._1, t._2, t._3)))
    val r2 = recall(Similarity.knnJoinCells(qs, cs, "vec_id", "embedding",
        model, k = 3, exact = true, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
      .sortBy(t => (t._1, t._3)).toSeq)
    assert(r2 >= r1, s"recall regressed: nprobe2 $r2 < nprobe1 $r1")
  }

  test("knnJoinCellsIndexed == lazy operator bit-for-bit; cell= dirs pruned") {
    val emb = Tables.embeddings(spark, sf)
    val qs = emb.filter(col("vec_id") % 2 === 0)
    val cs = emb.filter(col("vec_id") % 2 === 1)
    val model = Similarity.seedCentroids(cs, "vec_id", "embedding", k = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-knnidx-spec")
      .toFile.getPath + "/corpus"
    Similarity.writeIvfCorpus(cs, "vec_id", "embedding", model, dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
      .sortBy(t => (t._1, t._5)).toSeq
    val lazyRows = rows(Similarity.knnJoinCells(qs, cs, "vec_id", "embedding",
      model, k = 3, exact = true))
    val idx = Similarity.knnJoinCellsIndexed(dir, qs, "vec_id", "embedding",
      model, k = 3)
    assert(rows(idx) == lazyRows)
    // the probed cell= directories are the only ones read
    val scanPlan = idx.queryExecution.executedPlan.toString
    assert(scanPlan.contains("PartitionFilters: [") && scanPlan.contains("cell"),
      scanPlan.take(2000))
    // multi-probe through the index agrees with the lazy multi-probe
    val lazy2 = rows(Similarity.knnJoinCells(qs, cs, "vec_id", "embedding",
      model, k = 3, exact = true, nprobe = 2))
    val idx2 = rows(Similarity.knnJoinCellsIndexed(dir, qs, "vec_id",
      "embedding", model, k = 3, nprobe = 2))
    assert(idx2 == lazy2)
  }

  test("scdSink: restart with a fresh query continues from the persisted version table") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.streaming.Streams
    val dir = java.nio.file.Files.createTempDirectory("graft-scdsink-spec")
      .toFile.getPath + "/dim"
    // query 1: initial load
    val ms1 = MemoryStream[(Long, String)](spark)
    val q1 = Streams.scdSink(ms1.toDS().toDF("k", "seg"), dir, Seq("k"),
      Seq("seg"), tsOfBatch = id => 100L * (id + 1)).start()
    try { ms1.addData(Seq((1L, "a"), (2L, "b"))); q1.processAllAvailable() }
    finally q1.stop()
    // query 2 — a brand-new stream (restart): k=1 changes, k=3 inserts
    val ms2 = MemoryStream[(Long, String)](spark)
    val q2 = Streams.scdSink(ms2.toDS().toDF("k", "seg"), dir, Seq("k"),
      Seq("seg"), tsOfBatch = id => 200L + 100L * id).start()
    try { ms2.addData(Seq((1L, "a2"), (3L, "c"))); q2.processAllAvailable() }
    finally q2.stop()
    val got = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
      .sortBy(t => (t._1, t._3)).toSeq
    assert(got == Seq(
      (1L, "a", 100L, 200L), (1L, "a2", 200L, -1L),
      (2L, "b", 100L, -1L),
      (3L, "c", 200L, -1L)))
  }

  test("resampleFill: golden gap fill, single-point keys, partition sweep") {
    def mk(parts: Int) = TimeSeries.resampleFill(
      Seq((1L, 100L, 5.0), (1L, 135L, 7.0), (1L, 141L, 1.0), (2L, 77L, 2.0))
        .toDF("k", "ts", "v").repartition(parts),
      Seq("k"), "ts", width = 10L,
      aggs = Seq("n" -> count(lit(1)), "sv" -> sum(col("v").cast("decimal(18,4)")).cast("double")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getLong(3), r.getDouble(4)))
      .sortBy(t => (t._1, t._2)).toSeq
    val want = Seq(
      (1L, 10L, true, 1L, 5.0),
      (1L, 11L, false, 1L, 5.0), (1L, 12L, false, 1L, 5.0),
      (1L, 13L, true, 1L, 7.0),
      (1L, 14L, true, 1L, 1.0),
      (2L, 7L, true, 1L, 2.0))
    assert(mk(1) == want)
    partitionSweep(mk)
  }

  test("twap: golden step integral; single obs NULL; all-equal-ts NULL; partition sweep") {
    // k=1: v=10 over [0,100), v=30 over [100,400) → twap = (10·100 +
    // 30·300)/400 = 25.0; k=2 single obs → NULL; k=3 two obs same ts →
    // zero duration → NULL (not NaN)
    def mk(parts: Int) = TimeSeries.twap(
      Seq((1L, 0L, 5L, 10.0), (1L, 100L, 6L, 30.0), (1L, 400L, 7L, 99.0),
        (2L, 50L, 8L, 7.0), (3L, 60L, 9L, 1.0), (3L, 60L, 10L, 2.0))
        .toDF("k", "ts", "id", "v").repartition(parts),
      Seq("k"), "ts", "v", tieCols = Seq("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(4)) Double.NaN else r.getDouble(4)))
      .sortBy(_._1).toSeq
    val base = mk(1)
    assert(base.map(_._1) == Seq(1L, 2L, 3L))
    assert(base(0)._2 == 3L && base(0)._3 == 25.0)
    assert(base(1)._2 == 1L && base(1)._3.isNaN)
    assert(base(2)._2 == 2L && base(2)._3.isNaN)
    partitionSweep(mk(_).map(t => (t._1, t._2, t._3.toString)))
  }

  test("resampleInterp: golden linear fill, endpoints exact, partition sweep") {
    // k=1: observed buckets 10 (v 6.0) and 13 (v 12.0) → gaps 11, 12
    // interpolate to 8.0, 10.0; count interpolates fractionally (2 obs at
    // bucket 10, 1 at 13 → 5/3-ish grid values). k=2: single point —
    // exactly one row, no interpolation partner needed.
    def mk(parts: Int) = TimeSeries.resampleInterp(
      Seq((1L, 100L, 2.0), (1L, 105L, 4.0), (1L, 135L, 12.0), (2L, 77L, 9.0))
        .toDF("k", "ts", "v").repartition(parts),
      Seq("k"), "ts", width = 10L,
      aggs = Seq("n" -> count(lit(1)), "sv" -> sum(col("v").cast("decimal(18,4)"))))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getDouble(3), r.getDouble(4)))
      .sortBy(t => (t._1, t._2)).toSeq
    val want = Seq(
      (1L, 10L, true, 2.0, 6.0),
      (1L, 11L, false, 2.0 + (1.0 - 2.0) * (1.0 / 3.0), 6.0 + (12.0 - 6.0) * (1.0 / 3.0)),
      (1L, 12L, false, 2.0 + (1.0 - 2.0) * (2.0 / 3.0), 6.0 + (12.0 - 6.0) * (2.0 / 3.0)),
      (1L, 13L, true, 1.0, 12.0),
      (2L, 7L, true, 1.0, 9.0))
    assert(mk(1) == want)
    partitionSweep(mk)
  }

  test("scdMerge: change/unchanged/new/absent outcomes, idempotent re-feed, ts guard") {
    import graft.sources.IO
    val v0 = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "seg", "bal")
      .withColumn("valid_from", lit(100L))
      .withColumn("valid_to", lit(null).cast("long"))
    // delta: k=1 changed, k=2 identical (no new version), k=4 new;
    // k=3 absent (stays open)
    val d = Seq((1L, "a2", 11.0), (2L, "b", 20.0), (4L, "d", 40.0))
      .toDF("k", "seg", "bal")
    val t1 = IO.scdMerge(v0, d, Seq("k"), Seq("seg", "bal"), batchTs = 200L)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4)))
      .sortBy(t => (t._1, t._4, t._5)).toSeq
    assert(rows(t1) == Seq(
      (1L, "a", 10.0, 100L, 200L), (1L, "a2", 11.0, 200L, -1L),
      (2L, "b", 20.0, 100L, -1L),
      (3L, "c", 30.0, 100L, -1L),
      (4L, "d", 40.0, 200L, -1L)))
    // re-feeding the SAME delta is a no-op (idempotence)
    val t2 = IO.scdMerge(t1, d, Seq("k"), Seq("seg", "bal"), batchTs = 300L)
    assert(rows(t2) == rows(t1))
    // null-safe change detection: null → value and value → null both version
    val vN = Seq((7L, null.asInstanceOf[String], 1.0)).toDF("k", "seg", "bal")
      .withColumn("valid_from", lit(100L))
      .withColumn("valid_to", lit(null).cast("long"))
    val dN = Seq((7L, "x", 1.0)).toDF("k", "seg", "bal")
    assert(IO.scdMerge(vN, dN, Seq("k"), Seq("seg", "bal"), 200L).count() == 2L)
    // time-order guard: a batch OLDER than an open version fails loudly
    // collect (not count): the guard rides the valid_to column, which any
    // real write evaluates — count() would prune it away
    val e = intercept[Exception] {
      IO.scdMerge(t1, Seq((1L, "zz", 0.0)).toDF("k", "seg", "bal"),
        Seq("k"), Seq("seg", "bal"), batchTs = 150L).collect()
    }
    assert(e.getMessage.contains("timestamp order"))
  }

  test("saltedEquiJoin == plain inner join (fixture + salts sweep)") {
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_linenumber", "l_quantity")
    val ord = Tables.orders(spark, sf).select("o_orderkey", "o_orderpriority")
    val plain = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select("l_orderkey", "l_linenumber", "o_orderpriority")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .sorted.toSeq
    for (salts <- Seq(1, 3, 8)) {
      val got = Joins.saltedEquiJoin(li, ord, Seq("l_orderkey"), Seq("o_orderkey"),
          salts, saltBy = Seq("l_orderkey", "l_linenumber"))
        .select("l_orderkey", "l_linenumber", "o_orderpriority")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
        .sorted.toSeq
      assert(got == plain, s"salts=$salts")
    }
  }

  test("bm25TopKIndexed == bm25TopK bit-for-bit; read prunes to query-term buckets") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25spec-")
      .toString + "/idx"
    Retrieval.writeBm25Index(docs, "doc_id", "text", dir, buckets = 16)
    val qs = Seq((1L, "spark window merge"), (2L, "the customer stream"))
      .toDF("query_id", "qtext")
    val scan = Retrieval.bm25TopK(docs, "doc_id", "text", qs, "query_id", "qtext", k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sorted.toSeq
    val idx = Retrieval.bm25TopKIndexed(dir, qs, "query_id", "qtext", k = 8, buckets = 16)
    val got = idx.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sorted.toSeq
    assert(got == scan)
    // partition pruning: the tf scan's partition filter carries the tb isin
    val scanPlan = idx.queryExecution.executedPlan.toString
    assert(scanPlan.contains("PartitionFilters: [") && scanPlan.contains("tb"),
      scanPlan)
  }

  test("pageRank: golden 4-node graph, 2 iterations, hand-computed") {
    // edges: a->b, a->c, b->c, c->a  (out: a=2, b=1, c=1; d dangling-free)
    val e = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a")).toDF("s", "d")
    def dec(x: Double) = BigDecimal(x).setScale(15, BigDecimal.RoundingMode.HALF_UP)
    val base = 1.0 - 0.85 // the operator's exact expression, NOT a 0.15 literal
    // iter1 from rank 1.0: contrib b = 1/2, c = 1/2 + 1/1, a = 1/1
    val r1 = Map(
      "a" -> (base + 0.85 * dec(1.0).toDouble),
      "b" -> (base + 0.85 * dec(0.5).toDouble),
      "c" -> (base + 0.85 * (dec(0.5) + dec(1.0)).toDouble))
    val r2 = Map(
      "a" -> (base + 0.85 * dec(r1("c") / 1).toDouble),
      "b" -> (base + 0.85 * dec(r1("a") / 2).toDouble),
      "c" -> (base + 0.85 * (dec(r1("a") / 2) + dec(r1("b") / 1)).toDouble))
    val got = graft.functions.Graphs.pageRank(e, "s", "d", iters = 2)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == r2, s"got $got want $r2")
    // rank conservation sanity on the fixture graph shape: every node ≥ 1−d
    assert(got.values.forall(_ >= base))
  }

  test("personalizedPageRank: seed-restricted teleport on a ring golden; " +
      "non-seed components stay at zero") {
    import spark.implicits._
    // ring a→b→c→a plus a detached pair x→y; seed = a
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("x", "y")).toDF("s", "d")
    val got = graft.functions.Graphs.personalizedPageRank(e, "s", "d",
        seeds = Seq("a"), iters = 2)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // outdegs all 1, so each contribution is the rank itself through the
    // operator's decimal(28,15) cast; r0 = (1,0,0,0,0)
    def dec(x: Double) = BigDecimal(x)
      .setScale(15, BigDecimal.RoundingMode.HALF_UP).toDouble
    val base = 1.0 - 0.85
    val r1 = Map("a" -> (base + 0.85 * dec(0.0)),
      "b" -> (0.0 + 0.85 * dec(1.0)), "c" -> (0.0 + 0.85 * dec(0.0)))
    val want = Map("a" -> (base + 0.85 * dec(r1("c"))),
      "b" -> (0.0 + 0.85 * dec(r1("a"))),
      "c" -> (0.0 + 0.85 * dec(r1("b"))),
      "x" -> 0.0, "y" -> 0.0)
    assert(got == want, s"got $got want $want")
  }

  /** JVM twin of [[graft.functions.Sampling.mixU32]] — the golden model
    * the Spark expression and the SQL oracle must both reproduce. */
  private def mixModel(h1: Long, h2: Long, j: Int): Long = {
    val a = (h2 + j.toLong * 2654435761L) % 4294967296L
    val x0 = h1 ^ a
    val x1 = (x0 * 1597334677L) % 4294967296L
    val x2 = x1 ^ (x1 >> 16)
    val x3 = (x2 * 887987685L) % 4294967296L
    x3 ^ (x3 >> 13)
  }

  private def md5Words(s: String): (Long, Long) = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex.substring(0, 8), 16),
      java.lang.Long.parseLong(hex.substring(8, 16), 16))
  }

  test("bootstrapMeans: exact one-md5 + mixU32 driver model per replicate; " +
      "means concentrate near the true mean; partition sweep") {
    import spark.implicits._
    val df = (1 to 200).map(i => (s"r$i", i.toDouble)).toDF("rid", "v")
    val got = graft.functions.ML.bootstrapMeans(df, "rid", "v",
        b = 8, salt = "t")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.size == 8)
    // driver model: ONE md5 of salt||id, the mixU32 fan-out per
    // replicate, the same CDF chain, the same decimal(18,4) weighted
    // sum and division
    def weight(id: String, rep: Int): Long = {
      val (h1, h2) = md5Words("t" + id)
      val u = mixModel(h1, h2, rep).toDouble / 4294967296.0
      graft.functions.ML.poisson1Cdf.indexWhere(u < _) match {
        case -1 => 8L case k => k.toLong
      }
    }
    (0 until 8).foreach { rep =>
      val ws = (1 to 200).map(i => (weight(s"r$i", rep), i.toDouble))
      val nEff = ws.map(_._1).sum
      val sum = ws.map { case (w, v) =>
        BigDecimal(w) * BigDecimal(v).setScale(4) }.sum
      assert(got(rep.toLong)._1 == nEff, s"n_eff mismatch at rep $rep")
      assert(got(rep.toLong)._2 == sum.toDouble / nEff.toDouble,
        s"mean mismatch at rep $rep")
    }
    // all replicate means within a loose band of the true mean 100.5
    assert(got.values.forall(m => math.abs(m._2 - 100.5) < 15),
      s"bootstrap means drifted: $got")
    partitionSweep { p =>
      graft.functions.ML.bootstrapMeans(df.repartition(p), "rid", "v",
        b = 4, salt = "t").collect().map(_.toSeq).toSeq
    }
  }

  test("doll: bootstrapMeans reads its input parallelism from the plan - " +
    "a shuffle upstream launches no Spark job at construction, and a " +
    "narrow input still gets its spread") {
    import spark.implicits._
    val plain = (1 to 200).map(i => (s"r$i", i.toDouble)).toDF("rid", "v")
    // two hash partitions behind an exchange: fewer than the session's
    // defaultParallelism (local[4]), so the gate must fire
    val shuffled = plain.repartition(2, col("rid"))
    val (got, timings) = Diagnostics.tracktime(spark) {
      graft.functions.ML.bootstrapMeans(shuffled, "rid", "v", b = 4,
        salt = "t")
    }
    val jobs = timings.jobs.size
    assert(jobs == 0,
      s"construction ran $jobs Spark job(s) to count partitions")
    val plan = got.queryExecution.executedPlan.toString
    assert("hashpartitioning\\(rid#\\d+, 4\\)".r.findFirstIn(plan).nonEmpty,
      s"expected the spread to defaultParallelism (4):\n$plan")
    assert(got.collect().map(_.toSeq).toSet ==
      graft.functions.ML.bootstrapMeans(plain, "rid", "v", b = 4,
        salt = "t").collect().map(_.toSeq).toSet)
  }

  test("mixU32: Spark expression == JVM golden model; derived uniforms " +
      "are distribution-sane across j and uncorrelated between j's") {
    import spark.implicits._
    val n = 4096
    val ids = (0 until n).map(i => s"k$i").toDF("id")
    val (h1, h2) = graft.functions.Sampling.hash64Words(col("id"), "s")
    val out = ids.select(col("id"), h1.as("h1"), h2.as("h2"),
        graft.functions.Sampling.mixU32(h1, h2, 0).as("m0"),
        graft.functions.Sampling.mixU32(h1, h2, 7).as("m7"))
      .collect()
    out.foreach { r =>
      val (g1, g2) = md5Words("s" + r.getString(0))
      assert(r.getLong(1) == g1 && r.getLong(2) == g2,
        s"hash64Words mismatch for ${r.getString(0)}")
      assert(r.getLong(3) == mixModel(g1, g2, 0))
      assert(r.getLong(4) == mixModel(g1, g2, 7))
    }
    // distribution sanity: every value in [0, 2^32); per-j mean near
    // 0.5·2^32 (CLT band ~4σ = 4·2^32/√(12·4096) ≈ 0.018·2^32); the
    // j=0 vs j=7 streams decorrelated (|r| ≪ 1)
    val m0 = out.map(_.getLong(3).toDouble)
    val m7 = out.map(_.getLong(4).toDouble)
    val full = 4294967296.0
    assert((m0 ++ m7).forall(v => v >= 0 && v < full))
    def mean(xs: Array[Double]) = xs.sum / xs.length
    assert(math.abs(mean(m0) / full - 0.5) < 0.02)
    assert(math.abs(mean(m7) / full - 0.5) < 0.02)
    val (a0, a7) = (mean(m0), mean(m7))
    val cov = m0.zip(m7).map { case (x, y) => (x - a0) * (y - a7) }.sum / n
    val sd0 = math.sqrt(m0.map(x => (x - a0) * (x - a0)).sum / n)
    val sd7 = math.sqrt(m7.map(x => (x - a7) * (x - a7)).sum / n)
    assert(math.abs(cov / (sd0 * sd7)) < 0.05,
      s"j-streams correlated: r=${cov / (sd0 * sd7)}")
  }

  test("rollingAgg: golden trailing frame (inclusive bounds, equal-ts peers)") {
    val rows = Seq(
      (1L, 0L, 10L, 1.0), (2L, 0L, 15L, 2.0), (3L, 0L, 20L, 4.0),
      (4L, 0L, 20L, 8.0), // equal-ts peer: in 3's frame and vice versa
      (5L, 0L, 31L, 16.0), // 31−10=21 > 10: row 1 out of frame
      (6L, 9L, 10L, 32.0)).toDF("id", "k", "ts", "v")
    val got = graft.operators.TimeSeries.rollingAgg(rows, Seq("k"), "ts",
        lookback = 10L, aggs = Seq("n" -> count(lit(1)), "sv" -> sum(col("v"))))
      .select(col("id"), col("n"), col("sv")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 1L, 1.0), (2L, 2L, 3.0),
      (3L, 4L, 15.0), (4L, 4L, 15.0), // both peers see rows 1..4 (20−10=10 inclusive)
      (5L, 1L, 16.0), // frame [21,31]: the ts-20 peers fall out, only row 5 remains
      (6L, 1L, 32.0)))
  }

  test("quantileDisc: golden selection + partition sweep") {
    val rows = Seq((0L, 5.0), (0L, 1.0), (0L, 3.0), (0L, 9.0), // n=4: rn=floor(.5*3)+1=2 → 3.0
      (1L, 7.0), (1L, 2.0), (1L, 4.0), // n=3: rn=2 → 4.0
      (2L, 6.0)).toDF("k", "v") // n=1: rn=1 → 6.0
    def mk(parts: Int) = graft.operators.Aggregations.quantileDisc(
      rows.repartition(parts).toDF, Seq("k"), "v", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(mk(1) == Seq((0L, 4L, 3.0), (1L, 3L, 4.0), (2L, 1L, 6.0)))
    partitionSweep(mk)
  }

  test("quantilesCont: percentile_cont semantics with ties; edges; " +
      "matches Spark's own percentile; partition sweep") {
    // values with heavy ties: 1,1,1,2,5,5,9 (n=7)
    val df = Seq(1.0, 1.0, 1.0, 2.0, 5.0, 5.0, 9.0).toDF("v")
    val got = graft.operators.Aggregations.quantilesCont(df, "v",
        Seq(0.0, 0.25, 0.5, 0.75, 1.0))
      .collect().map(r => r.getDouble(0) -> r.getDouble(2)).toMap
    // t = p·6: p=0→v[0]=1; p=.25→t=1.5→1+0.5·(1−1)=1; p=.5→t=3→2;
    // p=.75→t=4.5→5+0.5·(5−5)=5; p=1→t=6→9 (kHi clamps to n−1)
    assert(got == Map(0.0 -> 1.0, 0.25 -> 1.0, 0.5 -> 2.0,
      0.75 -> 5.0, 1.0 -> 9.0))
    // interpolating case + cross-check against Spark's percentile()
    val df2 = Seq(10.0, 20.0, 40.0, 80.0).toDF("v")
    val mine = graft.operators.Aggregations.quantilesCont(df2, "v",
        Seq(0.1, 0.5, 0.9))
      .collect().map(r => r.getDouble(0) -> r.getDouble(2)).toMap
    val ref = df2.agg(
        percentile(col("v"), lit(0.1)), percentile(col("v"), lit(0.5)),
        percentile(col("v"), lit(0.9)))
      .collect().head
    assert(mine(0.1) == ref.getDouble(0) && mine(0.5) == ref.getDouble(1) &&
      mine(0.9) == ref.getDouble(2),
      s"$mine vs (${ref.getDouble(0)}, ${ref.getDouble(1)}, ${ref.getDouble(2)})")
    partitionSweep { p =>
      graft.operators.Aggregations.quantilesCont(df.repartition(p), "v",
        Seq(0.25, 0.5, 0.75)).collect().map(_.toSeq).toSeq
    }
  }

  test("quantilesContBy: per-group percentile_cont == the global form " +
      "run per slice; single-distinct-value group; NULL key group; " +
      "partition sweep") {
    import graft.operators.Aggregations
    // three groups with different shapes: ties, interpolating, constant
    val rows = Seq(("a", 1.0), ("a", 1.0), ("a", 2.0), ("a", 5.0),
      ("a", 5.0), ("a", 9.0), ("b", 10.0), ("b", 20.0), ("b", 40.0),
      ("b", 80.0), ("c", 7.0), ("c", 7.0))
    val df = rows.toDF("k", "v")
    val ps = Seq(0.1, 0.5, 0.9)
    val got = Aggregations.quantilesContBy(df, Seq("k"), "v", ps)
      .collect().map(r => (r.getString(0), r.getDouble(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // each group must equal the GLOBAL operator run on that slice alone
    for (g <- Seq("a", "b", "c")) {
      val slice = rows.filter(_._1 == g).map(_._2).toDF("v")
      val want = Aggregations.quantilesCont(slice, "v", ps)
        .collect().map(r => r.getDouble(0) -> (r.getLong(1), r.getDouble(2)))
        .toMap
      for (p <- ps) assert(got((g, p)) == want(p),
        s"group $g p=$p: ${got((g, p))} vs ${want(p)}")
    }
    assert(got(("c", 0.5)) == ((2L, 7.0))) // constant group: value at every p
    // NULL group key: its rows form their own slice (the <=> join)
    val withNull = rows.map { case (k, v) => (Option(k), v) } ++
      Seq((Option.empty[String], 3.0), (Option.empty[String], 4.0))
    val dfn = withNull.toDF("k", "v")
    val gn = Aggregations.quantilesContBy(dfn, Seq("k"), "v", Seq(0.5))
      .collect().map(r => Option(r.get(0)) -> r.getDouble(3)).toMap
    assert(gn(None) == 3.5 && gn(Some("b")) == 30.0)
    partitionSweep { p =>
      Aggregations.quantilesContBy(df.repartition(p), Seq("k"), "v", ps)
        .collect().map(_.toSeq).toSeq
    }
  }

  test("trimmedMean: golden with boundary-splitting ties; alpha=0 is the " +
      "plain mean; outlier resistance; partition sweep") {
    import graft.operators.Aggregations
    // 10 values, alpha=0.2 → k=2: drop {1,1} and {90,100};
    // the tie block {5,5,5} is INSIDE; boundary block {2,2} is split
    // (one of the two 2s survives at rank 2): kept = 2,3,4,5,5,5 → wait
    // values: 1,1,2,3,4,5,5,5,90,100 → ranks 0..9, keep [2,8) =
    // 2,3,4,5,5,5 → mean 4.0
    val vs = Seq(1.0, 1.0, 2.0, 3.0, 4.0, 5.0, 5.0, 5.0, 90.0, 100.0)
    val df = vs.toDF("v")
    val r = Aggregations.trimmedMean(df, "v", alpha = 0.2).collect().head
    assert(r.getLong(0) == 10L && r.getLong(1) == 6L)
    assert(r.getDouble(2) == 4.0)
    // alpha 0: exactly the decimal mean
    val r0 = Aggregations.trimmedMean(df, "v", alpha = 0.0).collect().head
    assert(r0.getLong(1) == 10L && r0.getDouble(2) == vs.sum / 10)
    // robustness: a huge outlier moves the mean, not the trimmed mean
    val poisoned = (vs.dropRight(1) :+ 1.0e9).toDF("v")
    assert(Aggregations.trimmedMean(poisoned, "v", 0.2)
      .collect().head.getDouble(2) == 4.0)
    partitionSweep { p =>
      Aggregations.trimmedMean(df.repartition(p), "v", 0.2)
        .collect().map(_.toSeq).toSeq
    }
  }

  test("winsorizedMean: golden clamp at the fences; alpha=0 is the plain " +
      "mean; outlier capped not dropped; partition sweep") {
    import graft.operators.Aggregations
    // 1,1,2,3,4,5,5,5,90,100; alpha=0.2 → k=2, fences = rank-2 (2.0)
    // and rank-7 (5.0): winsorized set = 2,2,2,3,4,5,5,5,5,5 → mean 3.8
    val vs = Seq(1.0, 1.0, 2.0, 3.0, 4.0, 5.0, 5.0, 5.0, 90.0, 100.0)
    val df = vs.toDF("v")
    val r = Aggregations.winsorizedMean(df, "v", alpha = 0.2).collect().head
    assert(r.getAs[Long]("n") == 10L && r.getAs[Long]("k") == 2L)
    assert(r.getAs[Double]("fence_lo") == 2.0)
    assert(r.getAs[Double]("fence_hi") == 5.0)
    assert(r.getAs[Double]("mean") == 3.8)
    // alpha 0: fences are min/max, zero clamp weight → the plain mean
    val r0 = Aggregations.winsorizedMean(df, "v", alpha = 0.0).collect().head
    assert(r0.getAs[Long]("k") == 0L)
    assert(r0.getAs[Double]("fence_lo") == 1.0 &&
      r0.getAs[Double]("fence_hi") == 100.0)
    assert(r0.getAs[Double]("mean") == vs.sum / 10)
    // a huge outlier is CAPPED at the fence (contributes fence_hi, not 0)
    val poisoned = (vs.dropRight(1) :+ 1.0e9).toDF("v")
    assert(Aggregations.winsorizedMean(poisoned, "v", 0.2)
      .collect().head.getAs[Double]("mean") == 3.8)
    partitionSweep { p =>
      Aggregations.winsorizedMean(df.repartition(p), "v", 0.2)
        .collect().map(_.toSeq).toSeq
    }
  }

  test("profile: exact per-column stats incl. boundary-split ties and nulls") {
    import org.apache.spark.sql.functions._
    val df = Seq((1L, Some("a")), (2L, Some("b")), (3L, None),
      (3L, Some("a"))).toDF("id", "s")
    val got = Diagnostics.profile(df, Seq("id", "s"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))
      .toMap
    assert(got("id") == (4L, 0L, 3L, "1", "3"))
    // countDistinct and min/max ignore nulls; n_null counts them
    assert(got("s") == (4L, 1L, 2L, "a", "b"))
  }

  test("rankFeatures: golden ranks with ties; deciles balanced and deterministic") {
    // group g: values 1,2,2,4 -> rank 1,2,2,4; n=4; pct = 0,1/3,1/3,1
    val rows = Seq((1L, "g", 1.0), (2L, "g", 2.0), (3L, "g", 2.0), (4L, "g", 4.0),
      (5L, "h", 7.0)).toDF("id", "grp", "v")
    val got = graft.functions.ML.rankFeatures(rows, Seq("grp"), "v",
        tieCols = Seq("id"), buckets = 2)
      .select(col("id"), col("pct_rank"), col("decile"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 0.0, 1L), (2L, 1.0 / 3, 1L), (3L, 1.0 / 3, 2L), (4L, 1.0, 2L),
      (5L, 0.0, 1L))) // singleton group: pct 0.0 by contract
  }

  test("targetEncodeLoo: golden LOO means; singleton falls back to global-minus-own") {
    val rows = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "a", 60.0),
      (4L, "b", 100.0)).toDF("id", "cat", "y")
    val got = graft.functions.ML.targetEncodeLoo(rows, "cat", "y")
      .select(col("id"), col("te")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 40.0), (2L, 35.0), (3L, 15.0), // (90-own)/2
      (4L, 30.0))) // singleton 'b': (190-100)/3
  }

  test("tfidfCosinePairs: identical docs cos 1.0; disjoint docs absent; maxDF drops hot terms") {
    val rows = Seq(
      (1L, "red green blue red green blue"), // true tf=2 per gram matters
      (2L, "red green blue red green blue"),
      (3L, "cyan teal pink onyx"),
      (4L, "wheat maize corn oats")).toDF("id", "text")
    val got = Retrieval.tfidfCosinePairs(rows, "id", "text", threshold = 0.0,
        gram = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(t => (t._1, t._2))
    assert(got.map(t => (t._1, t._2)).toSeq == Seq((1L, 2L)))
    assert(math.abs(got.head._3 - 1.0) < 1e-12)
    // cap at maxDF=1: every shared gram (df=2) is dropped -> no pairs
    assert(Retrieval.tfidfCosinePairs(rows, "id", "text", 0.0, gram = 2,
      maxDF = 1L).count() == 0)
  }

  test("upsertAggregate: any slicing converges to the from-scratch rollup; untouched partitions untouched") {
    import java.nio.file.{Files, Paths}
    val ev = Tables.events(spark, sf)
    def partial(f: org.apache.spark.sql.Column) = ev.filter(f)
      .withColumn("day", expr("ts div 86400000000000L"))
      .groupBy("day", "user_id")
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,4)")).as("sv"))
    val merge: Seq[(String, (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column)] =
      Seq("n" -> (_ + _), "sv" -> ((a, b) => (a + b).cast("decimal(18,4)")))
    val full = partial(lit(true))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDecimal(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    // three uneven slices by event_id mod 3
    val dir = Files.createTempDirectory("graft-ivmspec-").toString + "/t"
    for (m <- 0 to 2)
      graft.sources.IO.upsertAggregate(spark, dir,
        partial(pmod(col("event_id"), lit(3L)) === m),
        Seq("day"), Seq("user_id"), merge)
    val got = spark.read.parquet(dir)
      .select(col("day").cast("long"), col("user_id"), col("n"), col("sv"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDecimal(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(got == full)

    // delta touching ONE day must leave every other day's files untouched
    val days = got.map(_._1).distinct.sorted
    val hot = days.head
    def filesOf(d: Long) = {
      val p = Paths.get(dir, s"day=$d")
      Files.list(p).toArray.map(_.toString).filter(_.endsWith(".parquet")).sorted
        .map(f => (f, Files.getLastModifiedTime(Paths.get(f)).toMillis))
    }
    val before = days.tail.map(d => d -> filesOf(d).toSeq).toMap
    val delta = Seq((hot, 99999L, 5L, new java.math.BigDecimal("1.5000")))
      .toDF("day", "user_id", "n", "sv")
      .select(col("day"), col("user_id"), col("n"), col("sv").cast("decimal(18,4)"))
    graft.sources.IO.upsertAggregate(spark, dir, delta, Seq("day"), Seq("user_id"), merge)
    days.tail.foreach(d => assert(filesOf(d).toSeq == before(d), s"day=$d rewritten"))
    val merged = spark.read.parquet(dir).filter(col("user_id") === 99999L).count()
    assert(merged == 1L)
  }

  test("seasonalNaiveError: golden MAE, unmatched buckets skipped") {
    import spark.implicits._
    // user 1: buckets 0,1,7,8 with totals 10,20,13,26 -> eval pairs
    // (7 vs 0: |13-10|=3) and (8 vs 1: |26-20|=6) -> mae 4.5;
    // user 2: only bucket 0 -> no evaluable bucket, absent
    val rows = Seq((1L, 0L, 10.0), (1L, 1L, 20.0), (1L, 7L, 13.0),
      (1L, 8L, 26.0), (2L, 0L, 5.0))
      .flatMap { case (u, b, v) => Seq((u, b * 100L, v)) }
      .toDF("u", "t", "v")
    val got = graft.operators.TimeSeries.seasonalNaiveError(rows,
        Seq("u"), "t", org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.col("v").cast("decimal(18,4)")),
        width = 100L, period = 7L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got == Map(1L -> (2L, 4.5)))
  }

  test("pctChange: first-row NULL, zero-prev NULL, exact diffs") {
    import spark.implicits._
    val df = Seq((1L, 10L, 1L, 4.0), (1L, 20L, 2L, 6.0), (1L, 30L, 3L, 0.0),
      (1L, 40L, 4L, 5.0), (2L, 10L, 9L, 7.0)).toDF("u", "t", "id", "v")
    val got = graft.operators.TimeSeries.pctChange(df, Seq("u"), "t", "v", "id")
      .collect().map(r => r.getLong(2) -> (
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toMap
    assert(got(1L) == (None, None))                 // first row
    assert(got(2L) == (Some(2.0), Some(0.5)))
    assert(got(3L) == (Some(-6.0), Some(-1.0)))
    assert(got(4L) == (Some(5.0), None))            // prev == 0: NULL pct
    assert(got(9L) == (None, None))                 // other key's first row
  }

  test("ndcgAtK: hand-computed DCG/IDCG with score- and rel-ranked " +
    "tie-breaks; all-zero-relevance query NULL ndcg; partition sweep") {
    val rows = Seq( // (query, doc, score, rel)
      ("q1", 1L, 10.0, 0L), ("q1", 2L, 9.0, 2L),
      ("q1", 3L, 8.0, 1L), ("q1", 4L, 7.0, 3L),
      ("q2", 5L, 3.0, 0L), ("q2", 6L, 2.0, 0L))
    val df = rows.toDF("q", "doc", "score", "rel")
    val got = Retrieval.ndcgAtK(df, "q", "doc", "score", "rel", k = 3)
      .collect().map(r => r.getString(0) -> r).toMap
    // q1 by score: rels (0,2,1) -> DCG = 0 + 3/log2(3) + 1/log2(4);
    // ideal rels (3,2,1) -> IDCG = 7 + 3/log2(3) + 1/log2(4)
    def lg2(x: Double) = math.log(x) / math.log(2.0)
    val dcg = 0.0 + 3.0 / lg2(3.0) + 1.0 / lg2(4.0)
    val idcg = 7.0 + 3.0 / lg2(3.0) + 1.0 / lg2(4.0)
    assert(math.abs(got("q1").getDouble(1) - dcg) < 1e-9)
    assert(math.abs(got("q1").getDouble(2) - idcg) < 1e-9)
    assert(math.abs(got("q1").getDouble(3) - dcg / idcg) < 1e-9)
    assert(got("q2").getDouble(1) == 0.0 && got("q2").getDouble(2) == 0.0)
    assert(got("q2").isNullAt(3),
      "all-zero-relevance query must emit NULL ndcg")
    partitionSweep { p =>
      Retrieval.ndcgAtK(df.repartition(p), "q", "doc", "score", "rel", 3)
        .collect().map(_.toSeq).toSeq.sortBy(_.head.toString)
    }
  }

  test("retrievalEvalAtK: hand-computed P@k/R@k/RR; zero-relevant " +
    "query NULLs; relevant-beyond-k gives rr 0; partition sweep") {
    val rows = Seq( // (query, doc, score, rel)
      ("q1", 1L, 10.0, false), ("q1", 2L, 9.0, true),
      ("q1", 3L, 8.0, false), ("q1", 4L, 7.0, true),
      ("q2", 5L, 3.0, false), ("q2", 6L, 2.0, false),
      ("q3", 7L, 9.0, false), ("q3", 8L, 8.0, false), ("q3", 9L, 7.0, true))
    val df = rows.toDF("q", "doc", "score", "rel")
    val got = Retrieval.retrievalEvalAtK(df, "q", "doc", "score",
        col("rel"), k = 2)
      .collect().map(r => r.getString(0) -> r).toMap
    val g1 = got("q1") // hit at rank 2 only
    assert(g1.getLong(1) == 4L && g1.getLong(2) == 2L && g1.getLong(3) == 1L)
    assert(g1.getDouble(4) == 0.5 && g1.getDouble(5) == 0.5 &&
      g1.getDouble(6) == 0.5)
    assert(got("q2").isNullAt(5) && got("q2").isNullAt(6),
      "zero-relevant query must emit NULL r/rr")
    assert(got("q2").getDouble(4) == 0.0)
    val g3 = got("q3") // only relevant doc at rank 3 > k
    assert(g3.getLong(3) == 0L && g3.getDouble(4) == 0.0 &&
      g3.getDouble(5) == 0.0 && g3.getDouble(6) == 0.0)
    partitionSweep { p =>
      Retrieval.retrievalEvalAtK(df.repartition(p), "q", "doc", "score",
          col("rel"), 2)
        .collect().map(_.toSeq).toSeq.sortBy(_.head.toString)
    }
  }

  test("maseEval: hand-computed MASE/sMAPE; forecastless rows excluded; " +
    "no naive pairs -> NULL mase; zero-zero rows excluded from sMAPE; " +
    "partition sweep") {
    // actual [10,12,8,14,11] at t=0..4, forecast = lag-1, period=2:
    // eval |f-a| = [2,4,6,3] -> mae 3.75; naive pairs |a_t - a_{t-2}| =
    // [2,2,3] -> mae_naive 7/3; mase = 3.75/(7/3)
    val rows = Seq(
      ("k1", 0L, Some(10.0), None), ("k1", 1L, Some(12.0), Some(10.0)),
      ("k1", 2L, Some(8.0), Some(12.0)), ("k1", 3L, Some(14.0), Some(8.0)),
      ("k1", 4L, Some(11.0), Some(14.0)),
      // k2: two steps only — period 2 finds no naive pair -> NULL mase;
      // the (0,0) row is excluded from sMAPE but counted in n_eval
      ("k2", 0L, Some(0.0), Some(0.0)), ("k2", 1L, Some(5.0), Some(3.0)))
    val df = rows.toDF("k", "t", "actual", "forecast")
    val r = TimeSeries.maseEval(df, Seq("k"), "t", "actual", "forecast",
        period = 2)
      .collect().map(x => x.getString(0) -> x.toSeq.drop(1)).toMap
    val k1 = r("k1")
    assert(k1(0) == 4L && k1(1) == 3.75 && k1(2) == 3L)
    assert(math.abs(k1(3).asInstanceOf[Double] - 7.0 / 3) < 1e-12)
    assert(math.abs(k1(4).asInstanceOf[Double] - 3.75 / (7.0 / 3)) < 1e-12)
    assert(k1(5) == 4L)
    val sm = (2.0 * 2 / 22 + 2.0 * 4 / 20 + 2.0 * 6 / 22 + 2.0 * 3 / 25) / 4
    assert(math.abs(k1(6).asInstanceOf[Double] - sm) < 1e-9)
    val k2 = r("k2")
    assert(k2(0) == 2L && k2(2) == 0L && k2(3) == null && k2(4) == null)
    assert(k2(5) == 1L && k2(6) == 0.5) // only the (3,5) row: 2*2/8
    partitionSweep { p =>
      TimeSeries.maseEval(df.repartition(p), Seq("k"), "t", "actual",
          "forecast", period = 2)
        .collect().map(_.toSeq).toSeq.sortBy(_.head.toString)
    }
  }

  test("embeddingDrift: hand-computed l2 and cosine; ragged dims " +
    "dropped; zero-norm mean -> NULL cos; partition sweep") {
    // mu_a = [2,4], mu_b = [3,1]: l2 = sqrt(10),
    // cos = 10/(sqrt(20)*sqrt(10)) = 1/sqrt(2)
    val df = Seq(
      ("a", Seq(1.0, 3.0)), ("a", Seq(3.0, 5.0)),
      ("b", Seq(2.0, 0.0)), ("b", Seq(4.0, 2.0))).toDF("g", "v")
    val r = Similarity.embeddingDrift(df, "g", "v", "a", "b")
      .collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L && r.getLong(2) == 2L)
    assert(math.abs(r.getDouble(3) - math.sqrt(10.0)) < 1e-12)
    assert(math.abs(r.getDouble(4) - 1.0 / math.sqrt(2.0)) < 1e-12)
    // a third a-dim with no b counterpart is dropped from the fold
    val ragged = Seq(("a", Seq(1.0, 3.0, 9.0)), ("a", Seq(3.0, 5.0, 9.0)),
      ("b", Seq(2.0, 0.0)), ("b", Seq(4.0, 2.0))).toDF("g", "v")
    val rr = Similarity.embeddingDrift(ragged, "g", "v", "a", "b")
      .collect().head
    assert(rr.getLong(2) == 2L && rr.getDouble(3) == r.getDouble(3))
    // zero-norm mean vector: cos undefined, l2 = ||mu_b||
    val z = Similarity.embeddingDrift(
      Seq(("a", Seq(0.0, 0.0)), ("b", Seq(3.0, 4.0))).toDF("g", "v"),
      "g", "v", "a", "b").collect().head
    assert(z.getDouble(3) == 5.0 && z.isNullAt(4))
    partitionSweep { p =>
      Similarity.embeddingDrift(df.repartition(p), "g", "v", "a", "b")
        .collect().map(_.toSeq).toSeq
    }
  }

  test("pairRules: textbook support/confidence/lift; within-basket " +
    "dupes collapse; infrequent items never pair; pair support filter; " +
    "topN cut; partition sweep") {
    val rows = Seq(("b1", "x"), ("b1", "x"), ("b1", "y"), ("b2", "x"),
      ("b2", "y"), ("b3", "x"), ("b3", "z"), ("b4", "y"), ("b5", "w"))
    val df = rows.toDF("b", "i")
    val r = graft.functions.Baskets.pairRules(df, "b", "i",
      minSupport = 0.4, topN = 10).collect()
    // N=5; freq = {x:3, y:3} (z, w infrequent); the only pair (x,y)
    // occurs in 2 baskets >= ceil(0.4*5)=2
    assert(r.length == 1)
    val row = r.head
    assert(row.getString(0) == "x" && row.getString(1) == "y")
    assert(row.getLong(2) == 5L && row.getLong(3) == 3L &&
      row.getLong(4) == 3L && row.getLong(5) == 2L)
    assert(row.getDouble(6) == 0.4)
    assert(math.abs(row.getDouble(7) - 2.0 / 3) < 1e-15)
    assert(math.abs(row.getDouble(8) - 2.0 / 3) < 1e-15)
    assert(math.abs(row.getDouble(9) - 10.0 / 9) < 1e-15)
    // raising the bar to 0.5 kills the pair (2 < ceil(0.5*5)=3)
    assert(graft.functions.Baskets.pairRules(df, "b", "i",
      minSupport = 0.5, topN = 10).collect().isEmpty)
    partitionSweep { p =>
      graft.functions.Baskets.pairRules(df.repartition(p), "b", "i",
          minSupport = 0.4, topN = 10)
        .collect().map(_.toSeq).toSeq
    }
  }
}
