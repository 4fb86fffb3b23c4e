package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Two paths:
  *  - brute-force cosine top-k: broadcast the (small) query set against the
  *    full corpus — one narrow pass over the corpus, no shuffle of the big
  *    side; this is the exactness baseline and is how re-ranking works at
  *    scale;
  *  - LSH-bucketed ANN (random hyperplane signs): corpus is bucketed by a
  *    b-bit signature (narrow compute + one small shuffle at query time);
  *    only same-bucket (or near-bucket) vectors are scored. At 100 TB the
  *    bucketed corpus is written partitioned by signature so a query touches
  *    a handful of partitions (IVF-style partition pruning).
  */
object Similarity {

  /** Sequential-order dot product of two double arrays (IEEE-deterministic:
    * left-to-right fold, same result in any engine). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** DECIMAL-exact dot product: each element rounds once to decimal(12,9),
    * products (scale 18) accumulate exactly — order-independent, so the
    * value is bit-identical to any other engine's exact decimal sum (the
    * property the correctness oracle needs; the double fold above is
    * order-dependent and engine-specific once Spark/DuckDB sum in
    * different orders). */
  def dotExact(a: Column, b: Column): Column =
    // accumulator is (37,18), NOT (38,18): Spark types (37,18)+(25,18) as
    // decimal(38,18) — still exact — whereas a (38,18) accumulator
    // overflows the 38-digit cap on every addition and Catalyst silently
    // reduces the result scale to 17, dropping the 18th digit per step
    // (a last-ulp divergence from any engine that sums exactly).
    aggregate(
      zip_with(a, b, (x, y) => x.cast("decimal(12,9)") * y.cast("decimal(12,9)")),
      lit(0).cast("decimal(37,18)"),
      (acc, v) => (acc + v).cast("decimal(37,18)"))

  /** Cosine via decimal-exact dot/norms; one double rounding per factor
    * then one division — deterministic across engines. */
  def cosineExact(a: Column, b: Column): Column =
    dotExact(a, b).cast("double") /
      (sqrt(dotExact(a, a).cast("double")) * sqrt(dotExact(b, b).cast("double")))

  /** Brute-force cosine top-k: for each query vector (small set, broadcast),
    * score every corpus vector, keep k best. The corpus is scanned ONCE and
    * never shuffled at full width: the only exchange carries (query_id, id,
    * cos) scored rows into the per-query ranking window. This is the plan
    * that survives 100× — the posexplode/join-on-position relational form
    * (kept only as the DuckDB oracle) keys its shuffle on `pos` (≤ dim
    * distinct values) and materializes every (query, corpus) pair.
    *
    * `exact=true` scores with [[cosineExact]] so results hash-match an
    * exact-decimal oracle; default is the faster double fold. The exact
    * path requires dense non-null vectors with |v| < 1000 (the fix9
    * fixed-point domain, enforced with a clear error) — embeddings are
    * unit-scale, so this is a documentation of the contract, not a
    * practical limit. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int,
                     excludeSelf: Boolean = true, exact: Boolean = false): DataFrame = {
    // excludeSelf=true assumes query and corpus share an id space (self-
    // search); pass false when the query set is an unrelated table.
    // Norms are computed ONCE per vector (query norms inside the broadcast,
    // corpus norms in the narrow scan) — scoring a pair is then one dot
    // product, not three: cos = dot(q,c) / (|q|·|c|), the same arithmetic
    // as computing cosine from scratch, at a third of the per-pair cost.
    // exact=true additionally pre-converts each vector to its fix9 image
    // (exact decimal-9 unscaled longs, once per vector) so per-pair exact
    // scoring is a native long loop (DotFix9), not interpreted decimal
    // HOFs — bit-identical output either way.
    import graft.plans.HashExpressions.{dotFix9, fix9}
    val prep: Column => Column =
      if (exact) fix9 else (v: Column) => v.cast("array<double>")
    val dotF: (Column, Column) => Column = if (exact) dotFix9 else dot
    def nrm(v: Column) = sqrt(dotF(v, v))
    val q = queries.select(col(idCol).as("query_id"), prep(col(vecCol)).as("qv"))
      .withColumn("qn", nrm(col("qv")))
    val c = corpus.select(col(idCol).as("id"), prep(col(vecCol)).as("cv"))
      .withColumn("cn", nrm(col("cv")))
    val cond = if (excludeSelf) col("query_id") =!= col("id") else lit(true)
    val scored = c.join(broadcast(q), cond)
      .withColumn("cos", dotF(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id"), col("cos"))
  }

  /** Exact max-inner-product top-k (MIPS) — recommendation-model scoring,
    * where magnitude matters and cosine is the WRONG metric (a retrieval
    * model's item norms encode popularity): rank by the raw dot product
    * on the fix9 exact path (each pair ONE native long-loop dot, no
    * norms at all — a third of bruteForceTopK's per-pair work). Same
    * broadcast-queries single-scan plan and (score desc, id asc)
    * deterministic ranking. */
  def dotTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int,
              excludeSelf: Boolean = true): DataFrame = {
    import graft.plans.HashExpressions.{dotFix9, fix9}
    val q = queries.select(col(idCol).as("query_id"), fix9(col(vecCol)).as("qv"))
    val c = corpus.select(col(idCol).as("id"), fix9(col(vecCol)).as("cv"))
    val cond = if (excludeSelf) col("query_id") =!= col("id") else lit(true)
    val scored = c.join(broadcast(q), cond)
      .withColumn("dot", dotFix9(col("qv"), col("cv")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("dot").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id"), col("dot"))
  }

  /** Random-hyperplane signature: b deterministic pseudo-random hyperplanes
    * (hash-derived coefficients in [-1,1]), sign bits packed into a long.
    * Native Catalyst expression (plans.RhpSignature) — one pass over the
    * vector per row, computed in the scan, no shuffle. */
  def rhpSignature(vec: Column, dim: Int, bits: Int, seed: Int = 0): Column =
    graft.plans.HashExpressions.rhpSignature(vec, dim, bits, seed)

  /** LSH-bucketed approximate top-k: only score pairs whose signatures
    * share a bucket in at least one of `tables` independent hash tables
    * (standard OR-amplification — recall rises with tables, candidate
    * volume stays ~corpus/2^bits per table). Recall is tested against the
    * brute-force baseline. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, dim: Int, bits: Int, k: Int,
              tables: Int = 4, excludeSelf: Boolean = true): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        posexplode(tableSigs(col(vecCol), dim, bits, tables)).as(Seq("qtbl", "qsig")))
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("cv"),
        posexplode(tableSigs(col(vecCol), dim, bits, tables)).as(Seq("ctbl", "csig")))
    val selfCond = if (excludeSelf) col("query_id") =!= col("id") else lit(true)
    val scored = c.join(broadcast(q),
        col("qtbl") === col("ctbl") && col("qsig") === col("csig") && selfCond)
      .dropDuplicates("query_id", "id")
      .withColumn("cos", cosine(col("qv").cast("array<double>"), col("cv").cast("array<double>")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id"), col("cos"))
  }

  private def tableSigs(v: Column, dim: Int, bits: Int, tables: Int): Column =
    array((0 until tables).map(t =>
      rhpSignature(v.cast("array<double>"), dim, bits, seed = t * 7919)): _*)

  /** Write the corpus in the IVF-style bucketed layout the class doc
    * promises: one hive partition per (hash table, signature) bucket —
    * each vector written once per table under `tbl=<t>/sig=<s>/`. At
    * 100 TB this is the ANN index: it costs `tables`× storage (standard
    * LSH-index tradeoff) and is built with one narrow pass + one
    * partitioned write. */
  def writeBucketedCorpus(corpus: DataFrame, idCol: String, vecCol: String,
                          dim: Int, bits: Int, tables: Int, path: String): Unit =
    corpus.select(col(idCol).as("id"), col(vecCol).as("cv"),
        posexplode(tableSigs(col(vecCol), dim, bits, tables)).as(Seq("tbl", "sig")))
      .write.mode("overwrite").partitionBy("tbl", "sig").parquet(path)

  /** Query the bucketed corpus: compute the (small) query set's signatures,
    * push them as literal partition predicates so the scan reads ONLY the
    * matching `tbl=/sig=` directories — directory-level partition pruning,
    * never a full-corpus scan — then score and rank as in [[lshTopK]].
    * Collecting the query buckets to the driver is by design: the query
    * set is the broadcast-small side. Same (bits, tables) as the write. */
  def lshTopKBucketed(corpusPath: String, queries: DataFrame, idCol: String,
                      vecCol: String, dim: Int, bits: Int, k: Int,
                      tables: Int = 4, excludeSelf: Boolean = true): DataFrame = {
    val spark = queries.sparkSession
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      posexplode(tableSigs(col(vecCol), dim, bits, tables)).as(Seq("qtbl", "qsig")))
    val buckets = q.select(col("qtbl"), col("qsig")).distinct().collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    // ONE isin per hash table (≤ `tables` disjuncts, each a partition-column
    // IN-list) instead of an O(#distinct buckets) OR-chain of equality pairs:
    // same directory-level pruning, bounded planning cost for large query
    // sets. An empty query set folds to a constant-false scan predicate —
    // an empty result through the NORMAL plan, so the id columns keep the
    // corpus's actual types (a hand-built empty frame hardcoding LongType
    // would diverge for string-id corpora).
    val bucketPred =
      if (buckets.isEmpty) lit(false)
      else buckets.groupBy(_._1).map { case (t, grp) =>
        col("tbl") === lit(t) && col("sig").isin(grp.map(_._2).toSeq: _*)
      }.reduce(_ || _)
    val c = spark.read.parquet(corpusPath).filter(bucketPred)
    val selfCond = if (excludeSelf) col("query_id") =!= col("id") else lit(true)
    val scored = c.join(broadcast(q),
        col("qtbl") === col("tbl") && col("qsig") === col("sig") && selfCond)
      .dropDuplicates("query_id", "id")
      .withColumn("cos", cosine(col("qv").cast("array<double>"), col("cv").cast("array<double>")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id"), col("cos"))
  }

  /** SQ8 scalar-quantization model: per-dimension [lo, hi] ranges. The
    * whole model is `2·dim` doubles (~1 KB at dim 64) — driver-held and
    * broadcast as literals, like the IVF centroids.
    *
    * This is the 100 TB memory-side ANN lever the float corpus lacks: a
    * float32 embedding column is 4 B/dim; SQ8 codes are 1 B/dim with a
    * closed-form trainer (per-dim min/max — one aggregate pass, unlike
    * PQ's iterative k-means), so a 100 TB embedding corpus becomes a
    * 25 TB code table that scans 4× faster and, decoded against the tiny
    * model, reranks to near-full recall (8 bits/dim keeps ~1e-3 relative
    * error on unit-scale embeddings; recall vs the exact baseline is
    * spec-gated). Encode/decode are narrow per-row transforms — no
    * shuffle anywhere except the final per-query ranking window. */
  case class Sq8Model(lo: Array[Double], hi: Array[Double]) {
    require(lo.length == hi.length, s"sq8: lo/hi dim mismatch ${lo.length}/${hi.length}")
    def dim: Int = lo.length
  }

  /** Train = per-dimension min/max over the corpus. posexplode fans out
    * (pos, v) rows, but the groupBy(pos) aggregate partial-combines to
    * `dim` rows per task BEFORE the exchange — the shuffle carries
    * dim × partitions tiny rows at any corpus size. Floats widen to
    * double exactly, and min/max select (never compute), so any engine
    * training on the same data produces bit-identical ranges. */
  def sq8Train(corpus: DataFrame, vecCol: String): Sq8Model = {
    val rows = corpus
      .select(posexplode(col(vecCol).cast("array<double>")).as(Seq("pos", "v")))
      .groupBy("pos").agg(min("v").as("lo"), max("v").as("hi"))
      .orderBy("pos").collect()
    require(rows.nonEmpty, "sq8Train: empty corpus")
    Sq8Model(rows.map(_.getDouble(1)), rows.map(_.getDouble(2)))
  }

  /** Encode a vector to array<int> codes in [0, 255]:
    * `floor((v-lo)/(hi-lo)·255 + 0.5)` clamped — written with exactly
    * this operation order so any engine repeating it on doubles gets the
    * identical IEEE result (the oracle recomputes codes in SQL; a
    * degenerate hi==lo dimension encodes as 0). Values outside the
    * trained range (a query vector under a corpus-trained model) clamp
    * to the range edge — standard SQ behavior. */
  def sq8Encode(vec: Column, model: Sq8Model): Column = {
    val loL = typedLit(model.lo.toSeq); val hiL = typedLit(model.hi.toSeq)
    transform(vec.cast("array<double>"), (v, i) => {
      val l = element_at(loL, i + 1); val h = element_at(hiL, i + 1)
      when(h === l, lit(0L)).otherwise(
        greatest(lit(0L), least(lit(255L),
          floor((v - l) / (h - l) * lit(255.0) + lit(0.5))))).cast("int")
    })
  }

  /** Decode codes back to the quantized grid: `lo + c·((hi-lo)/255)` —
    * again a pinned operation order, so decoded values (and everything
    * computed from them) match a SQL re-derivation bit-for-bit. */
  def sq8Decode(codes: Column, model: Sq8Model): Column = {
    val loL = typedLit(model.lo.toSeq); val hiL = typedLit(model.hi.toSeq)
    transform(codes, (c, i) => {
      val l = element_at(loL, i + 1); val h = element_at(hiL, i + 1)
      l + c.cast("double") * ((h - l) / lit(255.0))
    })
  }

  /** The persistable form: (id, codes) — write THIS at 100 TB (4× smaller
    * than the float corpus, splittable parquet ints) and keep the ~1 KB
    * model next to it; queries encode on the fly against the same model. */
  def sq8EncodeTable(df: DataFrame, idCol: String, vecCol: String,
                     model: Sq8Model): DataFrame =
    df.select(col(idCol).as("id"), sq8Encode(col(vecCol), model).as("codes"))

  /** Quantized brute-force top-k: train on the corpus, encode+decode both
    * sides onto the SQ8 grid, then score with the PROVEN exact machinery
    * ([[bruteForceTopK]] `exact=true`: fix9 images + native decimal-exact
    * dot products) so the result hash-matches a pure-SQL oracle that
    * re-derives the same grid. Ranking ties (two corpus vectors decoding
    * to the same grid point) break deterministically by id — same rule
    * both sides.
    *
    * `asymmetric=true` is ADC (asymmetric distance computation), the
    * standard SQ accuracy upgrade: only the CORPUS is quantized — it is
    * the side that must shrink at 100 TB — while queries score at full
    * precision, halving the quantization noise per dot product for free
    * (the query side was never the memory problem). Still oracle-exact:
    * the SQL twin takes raw decimals on the query side and the grid on
    * the corpus side. */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, excludeSelf: Boolean = true,
              asymmetric: Boolean = false): DataFrame = {
    val model = sq8Train(corpus, vecCol)
    def decoded(df: DataFrame) = df.select(col(idCol),
      sq8Decode(sq8Encode(col(vecCol), model), model).as(vecCol))
    val qSide = if (asymmetric) queries else decoded(queries)
    bruteForceTopK(decoded(corpus), qSide, idCol, vecCol, k,
      excludeSelf = excludeSelf, exact = true)
  }

  /** Embedding-space DRIFT between two cohorts — "did the corpus move
    * in representation space" (the scored-text drift family in
    * [[graft.operators.Analytics]] watches scalar columns; after a
    * crawl-source or filter change the first embedding-side question
    * is whether the mean representation shifted, and by how much):
    * per-cohort exact centroids, then their cosine and L2 gap.
    * Components accumulate as decimal(12,9) per the cosinePairsExact
    * engine-parity convention — the per-dimension sums are exact and
    * order-free, the centroid divisions and the dim-sized
    * cosine/L2 chains pinned doubles summed as decimal(28,12). Plan:
    * ONE posexplode scan map-side combined into a ≤dim-row frame —
    * the shuffle carries dim·partitions rows, nothing pairwise,
    * nothing row-scale after the explode. Cohorts of RAGGED dims
    * raise loudly (a truncated embedding column would otherwise skew
    * per-dimension counts silently), and two internally-consistent
    * cohorts of DIFFERENT dims raise their own "cohort dimensions
    * differ (A=…, B=…)" error — detected via per-cohort max position,
    * checked before the per-cohort ragged guards so neither side is
    * blamed for a cross-cohort mismatch; an empty cohort yields NULL
    * drift columns. Output: one row (dim, n_a, n_b, cos_centroids,
    * l2_centroids). A near-1 cosine with a small L2 says "no mean
    * shift"; dispersion/shape changes need the scalar family over
    * projections (e.g. [[graft.functions.ML.topPrincipalComponent]]
    * scores) or [[cosinePairsLSH]]-based neighborhood stats. */
  def centroidDrift(df: DataFrame, groupCol: String, vecCol: String,
                    groupA: String, groupB: String): DataFrame = {
    def d(c: Column) = c.cast("double")
    val dec28 = (c: Column) => c.cast("decimal(28,12)")
    val comp = df.filter(col(groupCol).isin(groupA, groupB) &&
        col(vecCol).isNotNull)
      .select(col(groupCol).as("__g"),
        posexplode(col(vecCol).cast("array<double>"))
          .as(Seq("__pos", "__x")))
      .withColumn("__xd", col("__x").cast("decimal(12,9)"))
    val sums = comp.groupBy(col("__pos"))
      .agg(sum(when(col("__g") === groupA, 1L).otherwise(0L)).as("__na"),
        sum(when(col("__g") === groupA, col("__xd"))).as("__sa"),
        sum(when(col("__g") === groupB, 1L).otherwise(0L)).as("__nb"),
        sum(when(col("__g") === groupB, col("__xd"))).as("__sb"))
    sums
      .withColumn("__ca", when(col("__na") > 0,
        col("__sa").cast("double") / d(col("__na"))))
      .withColumn("__cb", when(col("__nb") > 0,
        col("__sb").cast("double") / d(col("__nb"))))
      .agg(count(lit(1)).as("dim"),
        min(col("__na")).as("__namin"), max(col("__na")).as("__namax"),
        min(col("__nb")).as("__nbmin"), max(col("__nb")).as("__nbmax"),
        max(when(col("__na") > 0, col("__pos"))).as("__pamax"),
        max(when(col("__nb") > 0, col("__pos"))).as("__pbmax"),
        sum(dec28(col("__ca") * col("__cb"))).cast("double").as("__dot"),
        sum(dec28(col("__ca") * col("__ca"))).cast("double").as("__qa"),
        sum(dec28(col("__cb") * col("__cb"))).cast("double").as("__qb"),
        sum(dec28((col("__ca") - col("__cb")) *
          (col("__ca") - col("__cb")))).cast("double").as("__l2q"))
      // cross-cohort dim mismatch FIRST: two internally-consistent
      // cohorts of different dims would otherwise trip the per-cohort
      // ragged check below (the shorter cohort has zero-count rows at
      // the longer cohort's positions) with a message blaming one side.
      .withColumn("n_a",
        when(col("__namax") > 0 && col("__nbmax") > 0 &&
            !(col("__pamax") <=> col("__pbmax")),
          raise_error(concat(
            lit("centroidDrift: cohort dimensions differ — A has dim "),
            (col("__pamax") + 1).cast("string"), lit(", B has dim "),
            (col("__pbmax") + 1).cast("string"),
            lit("; embeddings must share one length across cohorts"))))
        .when(col("__namin") <=> col("__namax"), col("__namax"))
        .otherwise(raise_error(lit("centroidDrift: ragged vector " +
          "dimensions in cohort A — every embedding must have the " +
          "same length; filter or pad upstream"))))
      .withColumn("n_b", when(col("__nbmin") <=> col("__nbmax"),
        col("__nbmax"))
        .otherwise(raise_error(lit("centroidDrift: ragged vector " +
          "dimensions in cohort B — every embedding must have the " +
          "same length; filter or pad upstream"))))
      .select(col("dim"), col("n_a"), col("n_b"),
        when(col("__qa") > 0 && col("__qb") > 0,
          col("__dot") / (sqrt(col("__qa")) * sqrt(col("__qb"))))
          .as("cos_centroids"),
        when(col("__l2q").isNotNull, sqrt(col("__l2q")))
          .as("l2_centroids"))
  }

  /** Embedding-cosine near-duplicate pairs with DECIMAL-exact accumulation:
    * explode to (id, pos, val), join on pos, sum decimal products.
    *
    * ORACLE-ONLY — not a scale path. The `a.pos === b.pos` join keys the
    * shuffle on ≤ dim distinct values and materializes every (id, id) pair:
    * all-pairs by construction, O(n²·dim) intermediate. It exists because
    * its arithmetic is expressible identically in any SQL engine (the
    * correctness gate's job). The exported near-dup-pairs operator is
    * [[cosinePairsLSH]]: bucket prefilter + exact re-check, same answer at
    * full recall, candidate-pair cost instead of n². */
  def cosinePairsExact(df: DataFrame, idCol: String, vecCol: String,
                       threshold: Double): DataFrame = {
    // decimal(12,9): products stay within both engines' 38-digit cap
    // (12,9)×(12,9) → scale-18 products summed exactly.
    val e = df.select(col(idCol).as("id"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("pos", "v")))
      .withColumn("vd", col("v").cast("decimal(12,9)"))
    val norms = e.groupBy("id")
      .agg(sum(col("vd") * col("vd")).as("nsq"))
      .withColumn("nrm", sqrt(col("nsq").cast("double")))
    val a = e.as("a"); val b = e.as("b")
    val dots = a.join(b, col("a.pos") === col("b.pos") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("i"), col("b.id").as("j"))
      .agg(sum(col("a.vd") * col("b.vd")).as("dotd"))
    dots
      .join(norms.select(col("id").as("i"), col("nrm").as("norm_i")), "i")
      .join(norms.select(col("id").as("j"), col("nrm").as("norm_j")), "j")
      .withColumn("cos", col("dotd").cast("double") / (col("norm_i") * col("norm_j")))
      .filter(col("cos") >= threshold)
      .select(col("i"), col("j"), col("cos"))
  }

  /** Near-duplicate pairs at scale: LSH candidate generation (random-
    * hyperplane signatures, OR-amplified over `tables` hash tables) then an
    * exact decimal-cosine re-check of ONLY the surviving candidates.
    *
    * This is the library path [[cosinePairsExact]] is not: the only joins
    * are keyed on (table, signature) buckets — candidate volume ~
    * n²/2^bits per table instead of all pairs — and the expensive exact
    * scoring runs once per deduped candidate. False positives are removed
    * by the re-check; recall is 1-(1-p^bits)^tables per pair (p = 1-θ/π),
    * so choose (bits, tables) for the cosine floor you care about — the
    * defaults give full recall at threshold ≥ 0.25 on the test fixtures
    * (verified against [[cosinePairsExact]] in the spec AND by the oracle
    * gate, which compares this operator to the all-pairs SQL). Scores use
    * [[cosineExact]], so matched pairs are bit-identical to the oracle's.
    * Exact scoring runs on the fix9 fixed-point image: dense non-null
    * vectors with |v| < 1000 (enforced — see plans.HashExpressions.fix9Java).
    *
    * `dedupFirst` flips the candidate-dedup/score order (default false =
    * score-before-dedup). The flipped order was built for the hot-bucket
    * regime: a NEAR-PARALLEL vector cluster of size m collides in every
    * table (p = 1-θ/π ≈ 1 agrees on all hyperplanes, so more `bits`
    * cannot split it) and score-first re-scores each of its C(m,2) pairs
    * once per table — `tables`× redundant dot products — while
    * dedup-first scores each pair once, at the price of carrying both
    * fix9 vectors through the dedup exchange. MEASURED (round 9,
    * NOTES_r9.md "cosinePairsLSH hot RHP bucket": 50k uniform vectors + a 2k
    * near-parallel cluster, ~48M cluster candidates over 24 tables):
    * score-first 39.8 s [31.1, 43.1], dedup-first 131.1 s [101.4, 171.4]
    * — the DEFAULT wins 3.3× with disjoint bands even in the regime the
    * knob was built for, because the deduped exchange ships ~1 KB of
    * vector payload per candidate row while the redundant dot products
    * are cheap codegen'd arithmetic on rows already in hand. bits 12→16
    * trims only the background (39.8 → 32.5 s): the cluster is the
    * floor, exactly as the p ≈ 1 analysis predicts. The knob stays for
    * wider-than-1KB vector payloads (dim ≫ 64), where the tradeoff
    * re-opens; every regime measured so far says keep the default.
    *
    * `maxBucket` (0 = off) is this operator's [[Dedup.jaccardPairs]]
    * `maxDF` analog — the knob that bounds the O(m²) work no ordering
    * or AQE setting can remove (the round-9 finding above): buckets
    * holding more than `maxBucket` vectors are dropped from candidate
    * generation BEFORE the self-join, so a degenerate near-parallel
    * clique of size m (10⁶ vectors of one template at corpus scale →
    * C(m,2) ≈ 5·10¹¹ candidates PER TABLE) costs one count aggregate
    * instead of the quadratic join. RECALL CONTRACT: a pair survives if
    * ANY of its `tables` shared buckets is within the cap, so ordinary
    * hot spots (hot in some tables only) degrade gracefully; a
    * genuinely near-parallel clique collides in EVERY table and is
    * excluded whole — by design, mirroring maxDF's contract: past the
    * cap, "these m vectors are one clique" is established by the
    * capped-out bucket itself far cheaper than enumerating its pairs
    * (route a representative through exact scoring / [[Dedup.clusters]]
    * instead). The count rides the already-exploded signature rows —
    * one aggregate + anti-join, no extra corpus scan (same shape as
    * Dedup.capHotKeys). MEASURED in the hot regime (NOTES_r9.md,
    * cosine_hot_cap1000, same fixture as above): 39.8 s [31.1, 43.1]
    * uncapped → 2.57 s [2.39, 3.15] capped — 15.5×, disjoint bands; the
    * cap removes the cluster's ~48M candidate scorings for the price of
    * one count aggregate, while every background pair survives (the
    * background's ~12-id buckets are far under the 1000 cap). */
  def cosinePairsLSH(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, dim: Int, bits: Int = 2,
                     tables: Int = 24, dedupFirst: Boolean = false,
                     maxBucket: Long = 0L): DataFrame = {
    import graft.plans.HashExpressions.{dotFix9, fix9}
    def sigs(v: Column) = array((0 until tables).map(t =>
      rhpSignature(v, dim, bits, seed = t * 7919)): _*)
    // fix9 image + norm once per vector in the narrow scan (computed
    // BEFORE the signature explode so neither repeats per table row);
    // signatures from the raw vector (float→double is exact)
    // deliberately NOT Dedup.shared() (see that helper's doc): the fix9
    // image + signatures are ~3× the raw float vector's bytes, and the
    // fused madd loops recompute cheaper than the cache round-trip —
    // measured slightly slower with sharing (q67: 0.46 → 0.53 s)
    val base = df.select(col(idCol).as("id"), fix9(col(vecCol)).as("vf"),
        sigs(col(vecCol)).as("ss"))
      .withColumn("nrm", sqrt(dotFix9(col("vf"), col("vf"))))
    val e0 = base.select(col("id"), col("vf"), col("nrm"),
      posexplode(col("ss")).as(Seq("tbl", "sig")))
    // hot-bucket cap (see scaladoc): each id appears exactly once per
    // table, so the occurrence count per (tbl, sig) IS the bucket size —
    // no per-id dedup pass needed before counting
    val e =
      if (maxBucket > 0L) {
        val hot = e0.groupBy(col("tbl"), col("sig"))
          .agg(count(lit(1)).as("__n"))
          .filter(col("__n") > maxBucket).select(col("tbl"), col("sig"))
        e0.join(hot, Seq("tbl", "sig"), "left_anti")
      } else e0
    // SHUFFLE_HASH: the signature-exploded corpus is never a broadcast
    // candidate at scale (same rationale as Dedup.jaccardPairs)
    val a = e.hint("shuffle_hash").as("a"); val b = e.hint("shuffle_hash").as("b")
    // score BEFORE dedup (round 8 — minhashLSH's order, reversed from
    // earlier rounds): the exact dot is one codegen'd long loop over dim
    // elements, so re-scoring a pair per extra colliding table costs
    // ~dim multiplies — while deduping first carried BOTH fix9 vectors
    // through the (i, j) exchange (~2·dim·9 B per candidate row, the
    // operator's biggest shuffle at scale) and the array payload forced
    // Sort + SortAggregate with first() aggregates. Scoring first also
    // lets the THRESHOLD filter run before the dedup exchange, which
    // then carries only surviving (i, j, cos) rows — 24 bytes each,
    // hash-aggregated. distinct() over all three columns (cos is a
    // deterministic decimal dot, so duplicates agree bit-for-bit) keeps
    // the dedup a pure group-by-keys aggregate: no first(), nothing
    // order-dependent. Measured at sf0.1 (q67, median of 5, same host):
    // 0.556 [0.553, 0.566] → 0.398 [0.371, 0.427] s — disjoint bands.
    val cand = a.join(b,
      col("a.tbl") === col("b.tbl") && col("a.sig") === col("b.sig") &&
        col("a.id") < col("b.id"))
    if (dedupFirst)
      // the pre-round-8 order, kept as the hot-bucket knob: dedup the
      // (i, j) candidate set BEFORE scoring, so a pair colliding in t
      // tables is scored once, not t times. min() not first(): vf/nrm
      // are functionally dependent on the grouped id (same rationale as
      // pairStage's sz) and min is deterministic. The cost is the wide
      // exchange (two fix9 vectors per candidate row) and a
      // SortAggregate under the array payload.
      cand.groupBy(col("a.id").as("i"), col("b.id").as("j"))
        .agg(min(col("a.vf")).as("vfi"), min(col("b.vf")).as("vfj"),
          min(col("a.nrm")).as("ni"), min(col("b.nrm")).as("nj"))
        .select(col("i"), col("j"),
          (dotFix9(col("vfi"), col("vfj")) / (col("ni") * col("nj"))).as("cos"))
        .filter(col("cos") >= threshold)
    else
      cand.select(col("a.id").as("i"), col("b.id").as("j"),
          (dotFix9(col("a.vf"), col("b.vf")) / (col("a.nrm") * col("b.nrm"))).as("cos"))
        .filter(col("cos") >= threshold)
        .distinct()
  }

  // ---------------------------------------------------------------- IVF ANN

  /** IVF coarse-quantizer model: `nlist` k-means centroids. Tiny by
    * construction (nlist × dim doubles) — broadcast to every task. */
  final case class IvfModel(centroids: Array[Array[Double]]) {
    def nlist: Int = centroids.length
    /** Unit-norm centroids: nearest-by-cosine becomes argmax-dot, so
      * assignment is one fused multiply-add loop per (vector, centroid). */
    lazy val unitCentroids: Array[Array[Double]] = centroids.map { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      if (n == 0.0) c else c.map(_ / n)
    }
  }

  /** Train the IVF coarse quantizer: spherical k-means (Spark ML `KMeans`
    * with cosine distance) over (a sample of) the corpus. At 100 TB train
    * on a sample — centroid quality converges long before the full pass;
    * `sampleFraction` sizes it. Zero vectors are excluded (cosine distance
    * is undefined on them; at query time they land in cell 0). */
  def trainIvf(corpus: DataFrame, vecCol: String, nlist: Int, seed: Long = 42L,
               sampleFraction: Double = 1.0, maxIter: Int = 20): IvfModel = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val base =
      if (sampleFraction < 1.0) corpus.sample(withReplacement = false, sampleFraction, seed)
      else corpus
    val vecs = base.select(col(vecCol).cast("array<double>").as("v"))
      .filter(dot(col("v"), col("v")) > 0.0)
      .select(array_to_vector(col("v")).as("features"))
    val model = new KMeans().setK(nlist).setSeed(seed).setMaxIter(maxIter)
      .setDistanceMeasure("cosine").setFeaturesCol("features").fit(vecs)
    IvfModel(model.clusterCenters.map(_.toArray))
  }

  /** Persist the coarse quantizer next to its index: (cell, centroid)
    * rows in parquet. Training is the expensive step at 100 TB (a k-means
    * pass over a corpus sample) — persisting the model means index builds,
    * backfills, and every query session reuse ONE training run, and the
    * index stays queryable by jobs that never saw the training data. */
  def saveIvf(model: IvfModel, path: String,
              spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    model.centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .repartition(1) // nlist×dim doubles — one tiny file
      .write.mode("overwrite").parquet(path)
  }

  /** Load a persisted quantizer. Cell ids are positional (row i = cell i),
    * so the load re-orders by the stored cell column — assignments from a
    * loaded model are identical to the model that was saved. */
  def loadIvf(spark: org.apache.spark.sql.SparkSession, path: String): IvfModel = {
    val rows = spark.read.parquet(path)
      .select(col("cell").cast("int"), col("centroid").cast("array<double>"))
      .collect()
      .sortBy(_.getInt(0))
    require(rows.nonEmpty, s"no IVF model at $path")
    require(rows.map(_.getInt(0)).toSeq == rows.indices.toSeq,
      s"IVF model at $path has non-contiguous cell ids — corrupt save")
    IvfModel(rows.map(_.getSeq[Double](1).toArray))
  }

  // Cell routing and probe lists are native Catalyst expressions
  // (plans.NearestCell / plans.TopCells): the centroid matrix rides the
  // codegen REFERENCE array (shipped once per task binary, which the
  // scheduler broadcasts) — not inlined source constants (nlist×dim
  // literals would blow past JIT limits at real dims) and no UDF Seq
  // boxing on the per-corpus-row hot path.

  /** Vector column in the expressions' native domain: float/double arrays
    * pass through untouched (the expressions read both without
    * conversion); other numeric arrays are widened to array<double> — the
    * acceptance the pre-native UDF path had via its unconditional cast. */
  private def vecInput(df: DataFrame, vecCol: String): Column =
    df.schema(vecCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType |
            org.apache.spark.sql.types.DoubleType, _) => col(vecCol)
      case _ => col(vecCol).cast("array<double>")
    }

  /** IVF (inverted-file) approximate top-k — the classic coarse-quantizer
    * scale path next to LSH ([[lshTopK]]): corpus vectors are assigned ONCE
    * to their nearest-centroid cell (narrow scan, no shuffle), and a query
    * scores only the `nprobe` cells whose centroids are nearest it.
    * Candidate volume ≈ |corpus|·nprobe/nlist, and because the cells
    * PARTITION the corpus (unlike OR-amplified LSH tables) every candidate
    * pair arises exactly once — no dropDuplicates exchange in the plan.
    *
    * `nprobe = nlist` probes every cell and is EXACTLY brute force — the
    * oracle gate (q84) runs that configuration with `exact=true` against
    * the same relational oracle as q37, which certifies the whole pipeline
    * (assignment, probing, join, ranking) bit-identically; approximate
    * recall at `nprobe < nlist` is spec'd against [[bruteForceTopK]].
    * Scoring mirrors [[bruteForceTopK]]: norms once per vector, one dot
    * per pair; `exact=true` uses the fix9 fixed-point image. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nprobe: Int,
              model: IvfModel, excludeSelf: Boolean = true,
              exact: Boolean = false): DataFrame = {
    import graft.plans.HashExpressions.{dotFix9, fix9, nearestCell, topCells}
    val prep: Column => Column =
      if (exact) fix9 else (v: Column) => v.cast("array<double>")
    val dotF: (Column, Column) => Column = if (exact) dotFix9 else dot
    def nrm(v: Column) = sqrt(dotF(v, v))
    val q = queries.select(col(idCol).as("query_id"), prep(col(vecCol)).as("qv"),
        explode(topCells(vecInput(queries, vecCol), model.unitCentroids,
          math.min(nprobe, model.nlist))).as("cell"))
      .withColumn("qn", nrm(col("qv")))
    val c = corpus.select(col(idCol).as("id"), prep(col(vecCol)).as("cv"),
        nearestCell(vecInput(corpus, vecCol), model.unitCentroids).as("cell"))
      .withColumn("cn", nrm(col("cv")))
    rankProbed(c, q, k, excludeSelf, dotF)
  }

  /** Score (corpus row, query probe) matches on `cell` and keep each
    * query's top k. The query side is broadcast; the corpus side is never
    * shuffled before ranking. */
  private def rankProbed(c: DataFrame, q: DataFrame, k: Int,
                         excludeSelf: Boolean,
                         dotF: (Column, Column) => Column): DataFrame = {
    val selfCond = if (excludeSelf) col("query_id") =!= col("id") else lit(true)
    val scored = c.join(broadcast(q), // tiny: |Q|·nprobe rows
        q("cell") === c("cell") && selfCond)
      .withColumn("cos", dotF(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id"), col("cos"))
  }

  /** Write the corpus in the IVF index layout: one hive partition per cell
    * (`cell=<i>/`). Unlike the LSH index ([[writeBucketedCorpus]]) each
    * vector is written exactly once — no storage amplification. One narrow
    * assignment pass + one partitioned write. */
  def writeIvfCorpus(corpus: DataFrame, idCol: String, vecCol: String,
                     model: IvfModel, path: String): Unit =
    corpus.select(col(idCol).as("id"), col(vecCol).as("cv"),
        graft.plans.HashExpressions.nearestCell(vecInput(corpus, vecCol),
          model.unitCentroids).as("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  /** Incremental index MAINTENANCE: route and append a delta batch into an
    * existing [[writeIvfCorpus]] layout without touching resident data —
    * the delta's rows are assigned cells and written in append mode, so
    * new files land inside (or create) exactly the `cell=` directories the
    * delta routes to and existing files are never read or rewritten:
    * maintenance cost ∝ delta, not corpus (the CDC-upsert argument, q134,
    * applied to the ANN index). Cell assignment is a pure function of
    * (vector, centroids), so an appended row lands in the cell a full
    * rebuild would give it and a query through [[ivfTopKIndexed]] cannot
    * distinguish appended from rebuilt (q145 gates build-half +
    * append-half against q84's full-rebuild oracle verbatim; the
    * untouched-file claim is mtime-pinned in FunctionsSpec). Contract:
    * `model` MUST be the centroids the index was built with — routing a
    * delta through retrained centroids splits the index across two
    * clusterings; persist the model next to the index ([[saveIvf]]) and
    * load it for every delta. Compaction of append-accumulated small
    * files is [[graft.sources.IO.compactPartitions]]. */
  def ivfAppendCorpus(delta: DataFrame, idCol: String, vecCol: String,
                      model: IvfModel, path: String): Unit =
    delta.select(col(idCol).as("id"), col(vecCol).as("cv"),
        graft.plans.HashExpressions.nearestCell(vecInput(delta, vecCol),
          model.unitCentroids).as("cell"))
      .write.mode("append").partitionBy("cell").parquet(path)

  /** Query the written IVF index: the probed-cell set across the query set
    * (≤ nlist ints — driver-safe by construction) becomes ONE `isin`
    * partition predicate, so the scan reads only the probed `cell=`
    * directories. An empty query set yields an empty `isin` (constant
    * false) — an empty result, not an error. */
  /** IVF×SQ8: the composed index SCALE.md promises — the routing lever
    * (cell partitions, probe pruning) over the memory lever (1 B/dim
    * codes). The written table carries CODES, not vectors: 4× smaller
    * directories, 4× fewer scanned bytes per probe; cell assignment uses
    * the original float vector (routing quality is not quantized). */
  def writeIvfCorpusSq8(corpus: DataFrame, idCol: String, vecCol: String,
                        ivf: IvfModel, sq8: Sq8Model, path: String): Unit =
    corpus.select(col(idCol).as("id"),
        sq8Encode(col(vecCol), sq8).as("codes"),
        graft.plans.HashExpressions.nearestCell(vecInput(corpus, vecCol),
          ivf.unitCentroids).as("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  /** Query the SQ8 code index: probe cells by the RAW query vector (the
    * same routing domain the corpus was assigned in), prune the scan to
    * the probed `cell=` directories, decode candidate codes onto the SQ8
    * grid, and score EXACTLY like [[sq8TopK]] (both sides on the grid,
    * fix9 decimal-exact) — so `nprobe = nlist` returns bit-identically
    * the [[sq8TopK]] result, which is how the oracle gate (q125 runs
    * q124's SQL verbatim) certifies the whole persisted pipeline: encode
    * at write, cell layout, pruned read, decode, quantized scoring.
    * Partial-probe recall is spec-gated like the float IVF path's. */
  def ivfTopKIndexedSq8(corpusPath: String, queries: DataFrame, idCol: String,
                        vecCol: String, k: Int, nprobe: Int, ivf: IvfModel,
                        sq8: Sq8Model, excludeSelf: Boolean = true): DataFrame = {
    import graft.plans.HashExpressions.{dotFix9, fix9, topCells}
    val spark = queries.sparkSession
    def nrm(v: Column) = sqrt(dotFix9(v, v))
    val q = queries.select(col(idCol).as("query_id"),
        fix9(sq8Decode(sq8Encode(col(vecCol), sq8), sq8)).as("qv"),
        explode(topCells(vecInput(queries, vecCol), ivf.unitCentroids,
          math.min(nprobe, ivf.nlist))).as("cell"))
      .withColumn("qn", nrm(col("qv")))
    val probed = q.select(col("cell")).distinct().collect().map(_.getInt(0)).toSeq
    val c = spark.read.parquet(corpusPath)
      .filter(col("cell").isin(probed: _*))
      .select(col("id"), fix9(sq8Decode(col("codes"), sq8)).as("cv"), col("cell"))
      .withColumn("cn", nrm(col("cv")))
    rankProbed(c, q, k, excludeSelf, dotFix9)
  }

  def ivfTopKIndexed(corpusPath: String, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int, nprobe: Int, model: IvfModel,
                     excludeSelf: Boolean = true,
                     exact: Boolean = false): DataFrame = {
    import graft.plans.HashExpressions.{dotFix9, fix9}
    val spark = queries.sparkSession
    // exact=true mirrors ivfTopK: fix9 fixed-point scoring, so results from
    // a PERSISTED index hash-match the same decimal oracle as the in-memory
    // path (the q84 gate runs this with nprobe = nlist = brute force)
    val prep: Column => Column =
      if (exact) fix9 else (v: Column) => v.cast("array<double>")
    val dotF: (Column, Column) => Column = if (exact) dotFix9 else dot
    def nrm(v: Column) = sqrt(dotF(v, v))
    val q = queries.select(col(idCol).as("query_id"), prep(col(vecCol)).as("qv"),
        explode(graft.plans.HashExpressions.topCells(vecInput(queries, vecCol),
          model.unitCentroids, math.min(nprobe, model.nlist))).as("cell"))
      .withColumn("qn", nrm(col("qv")))
    val probed = q.select(col("cell")).distinct().collect().map(_.getInt(0)).toSeq
    val c = spark.read.parquet(corpusPath)
      .filter(col("cell").isin(probed: _*))
      .select(col("id"), prep(col("cv")).as("cv"), col("cell"))
      .withColumn("cn", nrm(col("cv")))
    rankProbed(c, q, k, excludeSelf, dotF)
  }

  // ----------------------------------------------------------------- PQ ANN

  /** Product-quantization codebook: `m` disjoint subspaces of `subDim`
    * dims, each with its own k-means codebook — a vector becomes `m`
    * small-int codes. Completes the compression family: SQ8 is 4× with
    * per-dim grids; PQ at m=8, k=16 stores 64-dim float32 vectors in
    * 8 nibble-codes (~64×; 4 B with a norm float) because it quantizes
    * SUBVECTORS jointly instead of dims independently. Tiny by
    * construction (m·k·subDim doubles) — rides broadcasts/literals. */
  final case class PqModel(subDim: Int, codebooks: Array[Array[Array[Double]]]) {
    def m: Int = codebooks.length
    def k: Int = codebooks.head.length
    def dim: Int = m * subDim
    /** ‖codebook[j][c]‖² — reconstructed corpus norms are
      * sqrt(Σ_j norm2(j, code_j)) since subspaces are disjoint coords. */
    lazy val centroidNorm2: Array[Array[Double]] =
      codebooks.map(_.map(c => c.map(x => x * x).sum))
  }

  /** Train the PQ codebooks: EUCLIDEAN k-means per subspace (PQ minimizes
    * reconstruction MSE — spherical k-means is the coarse ROUTING
    * quantizer's job, see [[trainIvf]]). `m` small training jobs over one
    * persisted slice projection; at 100 TB train on a sample
    * (`sampleFraction`), like the IVF trainer. */
  def trainPq(corpus: DataFrame, vecCol: String, m: Int, k: Int = 16,
              seed: Long = 42L, maxIter: Int = 20,
              sampleFraction: Double = 1.0): PqModel = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val base =
      if (sampleFraction < 1.0) corpus.sample(withReplacement = false, sampleFraction, seed)
      else corpus
    val dim = base.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim is not divisible by m=$m subspaces")
    val subDim = dim / m
    val slices = base.select((0 until m).map(j =>
      array_to_vector(slice(col(vecCol).cast("array<double>"), j * subDim + 1, subDim))
        .as(s"s$j")): _*).persist()
    try {
      val cbs = (0 until m).map { j =>
        new KMeans().setK(k).setSeed(seed + j).setMaxIter(maxIter)
          .setFeaturesCol(s"s$j").fit(slices)
          .clusterCenters.map(_.toArray)
      }.toArray
      PqModel(subDim, cbs)
    } finally { slices.unpersist(); () }
  }

  /** codes(vec): the m nearest-centroid indices, L2 per subspace (ties →
    * lowest index). Native codegen'd expression (plans.PqCodes) — one
    * pass per row with the codebook riding the codegen reference array;
    * the HOF formulation it replaced ([[pqEncodeHof]]) evaluated k
    * interpreted aggregate lambdas per subspace per row and is kept only
    * as the spec's bit-identity reference model. */
  def pqEncode(vec: Column, model: PqModel): Column =
    graft.plans.HashExpressions.pqCodes(vec, model.codebooks, model.subDim)

  /** The pre-native Column formulation of [[pqEncode]] — retained as the
    * independent reference the FunctionsSpec bit-identity test compares
    * the native expression against (the MinHashSig/RhpSignature
    * discipline). Same distance fold order, same first-minimum tie rule. */
  private[graft] def pqEncodeHof(vec: Column, model: PqModel): Column = {
    val v = vec.cast("array<double>")
    array((0 until model.m).map { j =>
      val sub = slice(v, j * model.subDim + 1, model.subDim)
      val cb = typedLit(model.codebooks(j).map(_.toSeq).toSeq)
      val dists = transform(cb, c =>
        aggregate(zip_with(sub, c, (x, y) => (x - y) * (x - y)),
          lit(0.0), (a, d) => a + d))
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }: _*)
  }

  /** Reconstructed norm from a codes column: sqrt of the per-subspace
    * centroid-norm² lookups (subspaces are disjoint coordinates). */
  private def pqCnormCol(codes: Column, model: PqModel): Column = {
    val nrm2 = typedLit(model.centroidNorm2.map(_.toSeq).toSeq)
    sqrt(aggregate(zip_with(codes, nrm2, (c, t) => element_at(t, c + 1)),
      lit(0.0), (a, v) => a + v))
  }

  /** The persistable PQ corpus: (id, codes array<int>[m], cnorm) — the
    * reconstructed norm is precomputed at encode so ADC scoring never
    * touches the codebook's vectors again. */
  def pqEncodeTable(df: DataFrame, idCol: String, vecCol: String,
                    model: PqModel): DataFrame =
    df.select(col(idCol).as("id"), pqEncode(col(vecCol), model).as("codes"))
      .withColumn("cnorm", pqCnormCol(col("codes"), model))

  /** IVF×PQ composed index: the routing lever (cell directories, probe
    * pruning) over the memory FLOOR (m codes + a norm per vector).
    * Assignment stays on the raw vector, so routing quality is
    * unquantized — the q125 (IVF×SQ8) design point at ~4× less storage
    * still. */
  def writeIvfCorpusPq(corpus: DataFrame, idCol: String, vecCol: String,
                       ivf: IvfModel, pq: PqModel, path: String): Unit =
    corpus.select(col(idCol).as("id"),
        pqEncode(col(vecCol), pq).as("codes"),
        graft.plans.HashExpressions.nearestCell(vecInput(corpus, vecCol),
          ivf.unitCentroids).as("cell"))
      .withColumn("cnorm", pqCnormCol(col("codes"), pq))
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  /** Query the PQ code index: probe cells by the raw query vector, prune
    * to the probed `cell=` directories, and ADC-score the candidate codes
    * exactly like [[pqTopK]] — at `nprobe = nlist` the result is
    * bit-identical to pqTopK over the same model, which is how the q141
    * gate runs q133's oracle verbatim through the persisted index. */
  def ivfTopKIndexedPq(corpusPath: String, queries: DataFrame, idCol: String,
                       vecCol: String, k: Int, nprobe: Int, ivf: IvfModel,
                       pq: PqModel, excludeSelf: Boolean = true): DataFrame = {
    import graft.plans.HashExpressions.topCells
    val spark = queries.sparkSession
    val probed = queries.select(
        explode(topCells(vecInput(queries, vecCol), ivf.unitCentroids,
          math.min(nprobe, ivf.nlist))).as("cell"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val codes = spark.read.parquet(corpusPath)
      .filter(col("cell").isin(probed: _*))
      .select(col("id"), col("codes"), col("cnorm"))
    pqTopK(queries, queries, idCol, vecCol, pq, k, excludeSelf,
      codes = Some(codes))
  }

  /** PQ cosine top-k via ADC (asymmetric distance computation): each query
    * precomputes its m×k dot-product lookup table against the codebook
    * driver-side (queries are driver-small by the ANN broadcast-query
    * contract), and scoring a corpus vector is m table lookups — no
    * decode, no per-dim work. `rerank = Some(n)` is the production
    * composition: ADC shortlists n candidates, the exact decimal scorer
    * re-ranks the shortlist from the RAW vectors — when the shortlist
    * covers the true top-k the result is bit-identical to
    * [[bruteForceTopK]](exact = true) at a fraction of its scoring cost. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, model: PqModel, k: Int,
             excludeSelf: Boolean = true,
             codes: Option[DataFrame] = None,
             rerank: Option[Int] = None): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val enc = codes.getOrElse(pqEncodeTable(corpus, idCol, vecCol, model))
    val qRows = queries
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>")).collect()
    val qTab = qRows.toSeq.map { r =>
      val qid = r.getLong(0)
      val q = r.getSeq[Double](1).toArray
      require(q.length == model.dim,
        s"query dim ${q.length} != model dim ${model.dim}")
      val table = Array.tabulate(model.m, model.k) { (j, c) =>
        var s = 0.0; var t = 0
        while (t < model.subDim) {
          s += q(j * model.subDim + t) * model.codebooks(j)(c)(t); t += 1
        }
        s
      }
      (qid, table.map(_.toSeq).toSeq, math.sqrt(q.map(x => x * x).sum))
    }.toDF("query_id", "qtab", "qn")
    val cond = if (excludeSelf) col("query_id") =!= col("id") else lit(true)
    val shortK = rerank.map(n => math.max(n, k)).getOrElse(k)
    val scored = enc.join(broadcast(qTab), cond)
      .withColumn("dotpq", aggregate(
        zip_with(col("codes"), col("qtab"), (c, t) => element_at(t, c + 1)),
        lit(0.0), (a, v) => a + v))
      .withColumn("cos", col("dotpq") / (col("qn") * col("cnorm")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos").desc, col("id").asc)
    val short = scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= shortK)
      .select(col("query_id"), col("rank"), col("id"), col("cos"))
    rerank match {
      case None => short
      case Some(_) =>
        // exact re-score of the shortlist from raw vectors: shortlist ids
        // join back to the corpus (broadcast — shortlist is |queries|·n
        // rows), then the fix9 exact scorer and a fresh ranking
        import graft.plans.HashExpressions.{dotFix9, fix9}
        val raw = corpus.select(col(idCol).as("id"), fix9(col(vecCol)).as("cv"))
          .withColumn("cn", sqrt(dotFix9(col("cv"), col("cv"))))
        val qRaw = queries
          .select(col(idCol).as("query_id"), fix9(col(vecCol)).as("qv"))
          .withColumn("qn2", sqrt(dotFix9(col("qv"), col("qv"))))
        val rescored = short.select(col("query_id"), col("id"))
          .join(raw, Seq("id"))
          .join(broadcast(qRaw), Seq("query_id"))
          .withColumn("cos", dotFix9(col("qv"), col("cv")) / (col("qn2") * col("cn")))
        val w2 = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id")).orderBy(col("cos").desc, col("id").asc)
        rescored.withColumn("rank", row_number().over(w2).cast("long"))
          .filter(col("rank") <= k)
          .select(col("query_id"), col("rank"), col("id"), col("cos"))
    }
  }

  // ------------------------------------------------------------- SemDeDup

  /** Deterministic k-center seeding: the vectors of the `k` smallest ids
    * become the centroids, in id order (centroid i = i-th smallest id).
    * This is the oracle-checkable model the q153 gate runs — any engine
    * can re-derive "first k by id"; a production run passes [[trainIvf]]'s
    * k-means model instead (same [[IvfModel]] type, same downstream code —
    * the q84 pattern: the MACHINERY is gated with closed-form centroids,
    * centroid QUALITY is a spec concern). */
  def seedCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                    k: Int): IvfModel = {
    val rows = corpus.orderBy(col(idCol).asc).limit(k)
      .select(col(vecCol).cast("array<double>")).collect()
    require(rows.length == k, s"seedCentroids: corpus has ${rows.length} < $k rows")
    IvfModel(rows.map(_.getSeq[Double](0).toArray))
  }

  /** SemDeDup (Abbas et al. 2023): semantic deduplication by clustering —
    * assign every vector to its nearest centroid (cosine), then within
    * each cluster drop any vector whose cosine to an EARLIER-id cluster
    * member is ≥ `tau`. Candidate generation is cluster-local (the whole
    * point: pair volume is Σ|cell|² instead of |corpus|², and nlist is
    * the knob that bounds cell size at scale — same role as
    * [[cosinePairsLSH]]'s measured `maxBucket` for a pathological hot
    * cluster). The earlier-wins ε-neighbor keep rule is the module's
    * standard pair semantics (q32/q36): one pass, no iteration; full
    * transitive clustering composes [[cosinePairsLSH]] + Dedup.clusters.
    *
    * `exact = true` (the gated configuration) does assignment AND pair
    * scoring on the fix9 fixed-point image — decimal-exact dots, one
    * double rounding, one division — so a relational oracle re-derives
    * cell assignment, every within-cell cosine, and the keep set
    * bit-for-bit. `exact = false` is the scale path: native
    * `nearest_cell` routing (centroids on the codegen reference array)
    * and double-fold cosines — same plan shape, cheaper arithmetic, spec'd
    * to agree with the exact path on the fixture.
    *
    * Shuffle shape at 100 TB: assignment is narrow (rides the scan); ONE
    * hash exchange on `cell` feeds the self-join; the drop set (distinct
    * dropped ids) joins back to the assigned frame. The assigned
    * projection is evaluated once per side of the self-join — a repeated-
    * run deployment persists it `cell=`-partitioned ([[writeIvfCorpus]])
    * and reads both sides exchange-free.
    *
    * Output: (id, cell, kept) for EVERY corpus row — kept=false marks
    * semantic duplicates; callers filter or anti-join as needed. */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
                    model: IvfModel, tau: Double,
                    exact: Boolean = true): DataFrame = {
    import graft.plans.HashExpressions.dotFix9
    val asg = assignCells(corpus, idCol, vecCol, model, exact)
    val a = asg.select(col("id").as("i"), col("vf").as("avf"),
      col("vn").as("avn"), col("cell"))
    val b = asg.select(col("id").as("j"), col("vf").as("bvf"),
      col("vn").as("bvn"), col("cell"))
    val dropped = a.join(b, Seq("cell"))
      .filter(col("j") < col("i") &&
        dotFix9(col("avf"), col("bvf")) / (col("avn") * col("bvn")) >= tau)
      .select(col("i").as("id")).distinct()
      .withColumn("__drop", lit(true))
    asg.select(col("id"), col("cell").cast("long").as("cell"))
      .join(dropped, Seq("id"), "left")
      .select(col("id"), col("cell"), col("__drop").isNull.as("kept"))
  }

  /** Nearest-centroid assignment shared by [[semanticDedup]] and
    * [[knnJoinCells]] — returns (id, vf, vn, cell). `exact = true` is
    * the oracle-replayable arithmetic (fix9 images of the centroids
    * computed BY the fix9 expression over literal double arrays — the
    * exact snap the corpus side gets — decimal-exact dots, one double
    * per cos, argmax with earliest-cell ties); `exact = false` is the
    * native `nearest_cell` codegen routing, the scale path. */
  private def assignCells(df: DataFrame, idCol: String, vecCol: String,
                          model: IvfModel, exact: Boolean): DataFrame = {
    import graft.plans.HashExpressions.{dotFix9, fix9, nearestCell}
    if (exact) {
      val cents = model.centroids.map(c =>
        fix9(array(c.map(lit(_)): _*).cast("array<double>")))
      val base = df.select(col(idCol).as("id"),
          fix9(vecInput(df, vecCol)).as("vf"))
        .withColumn("vn", sqrt(dotFix9(col("vf"), col("vf"))))
      val cos = cents.map(cf =>
        dotFix9(col("vf"), cf) / (col("vn") * sqrt(dotFix9(cf, cf))))
      val best = cos.zipWithIndex.tail.foldLeft((lit(0), cos.head)) {
        case ((bc, bs), (s, i)) =>
          (when(s > bs, lit(i)).otherwise(bc), greatest(s, bs))
      }
      base.select(col("id"), col("vf"), col("vn"), best._1.as("cell"))
    } else {
      df.select(col(idCol).as("id"),
          fix9(vecInput(df, vecCol)).as("vf"),
          nearestCell(vecInput(df, vecCol), model.unitCentroids).as("cell"))
        .withColumn("vn", sqrt(dotFix9(col("vf"), col("vf"))))
    }
  }

  /** Top-`nprobe` cell assignment (exact arithmetic): one row per
    * (vector, probed cell), probes ordered by (cos desc, cell asc) —
    * the same tie rule as [[assignCells]]' argmax, so nprobe=1 agrees
    * bit-for-bit. The (cos, −cell) struct sort makes the tiebreak ride
    * the one descending sort_array. */
  private def assignCellsMulti(df: DataFrame, idCol: String, vecCol: String,
                               model: IvfModel, nprobe: Int): DataFrame = {
    import graft.plans.HashExpressions.{dotFix9, fix9}
    val cents = model.centroids.map(c =>
      fix9(array(c.map(lit(_)): _*).cast("array<double>")))
    val base = df.select(col(idCol).as("id"),
        fix9(vecInput(df, vecCol)).as("vf"))
      .withColumn("vn", sqrt(dotFix9(col("vf"), col("vf"))))
    val scored = cents.zipWithIndex.map { case (cf, i) =>
      struct((dotFix9(col("vf"), cf) /
        (col("vn") * sqrt(dotFix9(cf, cf)))).as("cos"),
        lit(-i).as("negcell"))
    }
    base
      .withColumn("__probe",
        explode(slice(sort_array(array(scored: _*), asc = false), 1, nprobe)))
      .select(col("id"), col("vf"), col("vn"),
        (-col("__probe.negcell")).as("cell"))
  }

  /** k-NN JOIN — both sides large: top-k corpus neighbors for EVERY
    * query row, with candidates bounded by shared-centroid cell
    * co-location. The broadcast-queries shape ([[bruteForceTopK]] and
    * the whole persisted-index family) assumes the query side fits a
    * broadcast; when BOTH sides are corpus-scale (cross-snapshot linking,
    * embedding-join of two crawls), the join must be an equi-join on a
    * routing key — here the nearest cell under ONE shared model, so
    * co-membership is decided by the same arithmetic on both sides.
    *
    * Pair volume is Σ|q_cell|·|c_cell| (nlist bounds it — semanticDedup's
    * knob, measured there); ranking is the module's WindowGroupLimit
    * top-k per query. Like IVF at nprobe=1, a neighbor routed to a
    * different cell is MISSED — the documented recall trade; raise
    * nlist quality with [[trainIvf]] or union multi-probe assignments.
    * `exact = true` is the gated configuration (decimal-exact
    * assignment AND scoring — an oracle re-derives every cell, cosine,
    * and rank); `exact = false` swaps in native cell routing.
    *
    * Output: (q_id, c_id, cell, cos, rank) with rank ≤ k per query. */
  def knnJoinCells(queries: DataFrame, corpus: DataFrame, idCol: String,
                   vecCol: String, model: IvfModel, k: Int,
                   exact: Boolean = true, nprobe: Int = 1): DataFrame = {
    import graft.plans.HashExpressions.dotFix9
    require(k > 0, s"k must be positive, got $k")
    require(nprobe >= 1 && nprobe <= model.nlist,
      s"nprobe must be in [1, ${model.nlist}], got $nprobe")
    // multi-probe rides the exact-cos expressions (the all-cells cos
    // vector is computed anyway to rank probes); the native nearest_cell
    // routing is inherently single-probe — the scale path for nprobe>1
    // is to persist a multi-probed assignment next to the index
    require(nprobe == 1 || exact,
      "nprobe > 1 requires exact = true (native routing is single-probe)")
    // QUERY side probes its nprobe nearest cells (recall lever — the
    // IVF nprobe semantics); the corpus stays single-cell, so a pair
    // can meet in at most one cell and no dedup pass is needed
    val q = (if (nprobe == 1) assignCells(queries, idCol, vecCol, model, exact)
             else assignCellsMulti(queries, idCol, vecCol, model, nprobe))
      .select(col("id").as("q_id"), col("vf").as("qvf"),
        col("vn").as("qvn"), col("cell"))
    val c = assignCells(corpus, idCol, vecCol, model, exact)
      .select(col("id").as("c_id"), col("vf").as("cvf"),
        col("vn").as("cvn"), col("cell"))
    knnRank(q, c, k)
  }

  /** The cell-join + per-query ranking stage shared by [[knnJoinCells]]
    * and [[knnJoinCellsIndexed]] — one implementation, so the lazy and
    * persisted forms can never drift. */
  private def knnRank(q: DataFrame, c: DataFrame, k: Int): DataFrame = {
    import graft.plans.HashExpressions.dotFix9
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id").asc)
    q.join(c, Seq("cell"))
      .withColumn("cos",
        dotFix9(col("qvf"), col("cvf")) / (col("qvn") * col("cvn")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("cell").cast("long").as("cell"),
        col("cos"), col("rank"))
  }

  /** [[knnJoinCells]] against a PERSISTED [[writeIvfCorpus]] layout — the
    * repeated-run form (the q123/q158 persisted-index pattern applied to
    * the kNN join): the corpus side's assignment was paid ONCE at index
    * build; each run assigns only the query side, collects the probed
    * cell set (≤ nlist ints — driver-safe by construction), and reads
    * only those `cell=` directories via an isin partition predicate.
    * At 100 TB this removes the full corpus scan+assignment from every
    * recurring join (new-crawl-vs-index linking) — the query side's
    * scan is the whole per-run cost.
    *
    * Arithmetic is the exact path ([[assignCells]] exact / fix9 pair
    * cosines), so results are bit-identical to the lazy operator when
    * the index was routed consistently (native nearest_cell at write —
    * spec-pinned to agree with exact assignment on the fixture; ties
    * between equal-cos cells are the only possible divergence, and the
    * q186 gate would catch one). `model` must be the centroids the
    * index was written with ([[ivfAppendCorpus]]'s contract). */
  def knnJoinCellsIndexed(corpusPath: String, queries: DataFrame,
                          idCol: String, vecCol: String, model: IvfModel,
                          k: Int, nprobe: Int = 1): DataFrame = {
    import graft.plans.HashExpressions.{dotFix9, fix9}
    require(k > 0, s"k must be positive, got $k")
    require(nprobe >= 1 && nprobe <= model.nlist,
      s"nprobe must be in [1, ${model.nlist}], got $nprobe")
    val spark = queries.sparkSession
    val q = (if (nprobe == 1) assignCells(queries, idCol, vecCol, model, exact = true)
             else assignCellsMulti(queries, idCol, vecCol, model, nprobe))
      .select(col("id").as("q_id"), col("vf").as("qvf"),
        col("vn").as("qvn"), col("cell").cast("int").as("cell"))
    val probed = q.select(col("cell")).distinct().collect().map(_.getInt(0)).toSeq
    val c = spark.read.parquet(corpusPath)
      .filter(col("cell").isin(probed: _*))
      .select(col("id").as("c_id"), fix9(col("cv")).as("cvf"), col("cell"))
      .withColumn("cvn", sqrt(dotFix9(col("cvf"), col("cvf"))))
    knnRank(q, c, k)
  }

  /** Embedding-distribution drift between two corpora slices — the
    * representation-level companion of the value-level drift gauges
    * ([[graft.operators.Analytics.psi]]/ksTest work per scalar column;
    * this asks "did the EMBEDDING cloud move between snapshot A and
    * snapshot B" in one corpus pass): per-dimension means from a
    * posexplode + (group, dim) aggregate (map-side combined — the
    * explode is a ×dims fan-out of narrow rows, reduced per partition
    * before any exchange), then ‖μ_A − μ_B‖₂ and cos(μ_A, μ_B) folded
    * over the dims-sized mean table in dim order (deterministic,
    * engine-replayable). Dims present in only one group are dropped
    * (ragged inputs; `dims` reports the compared count). Each
    * per-dim mean is Σx (per-row decimal cast) / n — for exactness
    * across engines feed values inside the decimal-cast safe zone
    * (integers or |x| ≲ 1e3; see SCALE.md's cast contract). Output:
    * one row (n_a, n_b, dims, l2, cos_sim); an empty group → NULL
    * metrics, a zero-norm mean vector → NULL cos_sim. */
  def embeddingDrift(df: DataFrame, groupCol: String, vecCol: String,
                     groupA: String, groupB: String,
                     scale: Int = 9): DataFrame = {
    def d(c: Column) = c.cast("double")
    val expl = df
      .filter(col(groupCol).isin(groupA, groupB) && col(vecCol).isNotNull)
      .select(col(groupCol).as("__g"),
        posexplode(col(vecCol)).as(Seq("__dim", "__x")))
    val sums = expl.groupBy(col("__g"), col("__dim"))
      .agg(count(lit(1)).as("__n"),
        sum(col("__x").cast(s"decimal(28,$scale)")).as("__s1"))
      .withColumn("__m", d(col("__s1")) / d(col("__n")))
    val a = sums.filter(col("__g") === groupA)
      .select(col("__dim"), col("__n").as("__na"), col("__m").as("__ma"))
    val b = sums.filter(col("__g") === groupB)
      .select(col("__dim").as("__dimb"), col("__n").as("__nb"),
        col("__m").as("__mb"))
    a.join(b, col("__dim") === col("__dimb"))
      .select(col("__na"), col("__nb"),
        struct(col("__dim"),
          ((col("__ma") - col("__mb")) * (col("__ma") - col("__mb")))
            .as("d2"),
          (col("__ma") * col("__mb")).as("ab"),
          (col("__ma") * col("__ma")).as("aa"),
          (col("__mb") * col("__mb")).as("bb")).as("__t"))
      .agg(max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
        count(lit(1)).as("dims"),
        sort_array(collect_list(col("__t"))).as("__gs"))
      .withColumn("__d2", aggregate(col("__gs"), lit(0.0),
        (acc, x) => acc + x.getField("d2")))
      .withColumn("__ab", aggregate(col("__gs"), lit(0.0),
        (acc, x) => acc + x.getField("ab")))
      .withColumn("__aa", aggregate(col("__gs"), lit(0.0),
        (acc, x) => acc + x.getField("aa")))
      .withColumn("__bb", aggregate(col("__gs"), lit(0.0),
        (acc, x) => acc + x.getField("bb")))
      .select(col("n_a"), col("n_b"), col("dims"),
        when(col("dims") > 0, sqrt(col("__d2"))).as("l2"),
        when(col("__aa") > 0 && col("__bb") > 0,
          col("__ab") / (sqrt(col("__aa")) * sqrt(col("__bb"))))
          .as("cos_sim"))
  }
}
