package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph analytics over edge tables — the companion of
  * [[Dedup.connectedComponents]] (min-label propagation) for WEIGHTED
  * importance: PageRank, the standard quality/importance signal for
  * web-scale corpus curation (link-graph page importance feeding crawl
  * prioritization and quality weighting).
  */
object Graphs {

  /** Fixed-iteration PageRank with exact-reproducible arithmetic:
    *   rank₀(v) = 1.0;  rankᵢ₊₁(v) = (1−d) + d·Σ_{u→v} rankᵢ(u)/out(u)
    * over DISTINCT directed edges (the classic un-normalized-total
    * convention; dangling-node rank leaks each iteration — the simplest
    * standard variant, documented as the contract). Per-edge
    * contributions are one double division then an exact decimal(28,15)
    * cast, so the per-node sum is order-independent and the whole
    * fixed-iteration computation is re-derivable by any engine (the
    * q160 gate re-runs every iteration in SQL).
    *
    * Scale shape: each iteration is one shuffle join (ranks ⋈ edges on
    * src — at 100 TB the dominant exchange; pre-partitioning/bucketing
    * both on src makes it co-located across ALL iterations) plus one
    * map-side-combined aggregate on dst. Iterations are localCheckpoint-
    * bounded (the connectedComponents pattern) so plan depth stays flat
    * at any iteration count. Hot DESTINATION nodes are absorbed by the
    * partial aggregate; a hot SOURCE node is a broadcast-sized problem
    * by definition (one row replicated to its out-edges by the join). */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // outdeg folded INTO the pinned edge table once (round 19): it is a
    // pure function of the edge set, so joining it per iteration paid
    // an extra |src-nodes| join every round for a value that never
    // changes — one upfront join widens each edge by one long and every
    // iteration drops to edges ⋈ ranks + the per-node sum. ONE pinned
    // frame: nodes derive from the widened edges (both endpoints ride
    // along), so the distinct edge set is materialized once, not twice.
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()
    val e = e0.join(e0.groupBy("src").agg(count(lit(1)).as("outdeg")),
        Seq("src"))
      .localCheckpoint(false)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint(false)
    var rank = nodes.withColumn("rank", lit(1.0))
    for (_ <- 1 to iters) {
      val contribs = e.join(rank.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"),
          (col("rank") / col("outdeg")).cast("decimal(28,15)").as("__c"))
        .groupBy("node").agg(sum(col("__c")).as("__s"))
      rank = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          ((lit(1.0) - lit(damping)) +
            lit(damping) * coalesce(col("__s").cast("double"), lit(0.0))).as("rank"))
        .localCheckpoint(false)
    }
    rank
  }

  /** Personalized PageRank — [[pageRank]] with the teleport mass
    * concentrated on a SEED set (the relevance-propagation primitive:
    * "what is near these trusted/curated nodes"): r⁰ = 1 on seeds / 0
    * elsewhere, and each iteration teleports (1−d) back to the seeds
    * only — rᵏ(v) = (1−d)·1[v∈seeds] + d·Σ contributions. Same exact
    * arithmetic contract as pageRank (per-edge double division,
    * decimal(28,15) contribution sums, one pinned double per
    * iteration), so the unrolled-iteration SQL oracle replays it
    * bit-for-bit (q239). Seeds are a driver-side list by contract
    * (curated sets are small); unknown seed names simply contribute
    * nothing. Scale shape is pageRank's: per-iteration cost = one
    * edge⋈rank join keyed on src + one per-node sum — the seed
    * restriction changes the VALUES, not the plan. */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: Seq[String], iters: Int,
                           damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(seeds.nonEmpty, "need at least one seed node")
    // outdeg folded into the ONE pinned edge table — see [[pageRank]]
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()
    val e = e0.join(e0.groupBy("src").agg(count(lit(1)).as("outdeg")),
        Seq("src"))
      .localCheckpoint(false)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint(false)
    val isSeed = col("node").isin(seeds: _*)
    var rank = nodes.withColumn("rank",
      when(isSeed, lit(1.0)).otherwise(lit(0.0)))
    for (_ <- 1 to iters) {
      val contribs = e.join(rank.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"),
          (col("rank") / col("outdeg")).cast("decimal(28,15)").as("__c"))
        .groupBy("node").agg(sum(col("__c")).as("__s"))
      rank = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (when(isSeed, lit(1.0) - lit(damping)).otherwise(lit(0.0)) +
            lit(damping) * coalesce(col("__s").cast("double"), lit(0.0)))
            .as("rank"))
        .localCheckpoint(false)
    }
    rank
  }

  /** Per-node triangle counts by degree-ordered edge orientation — the
    * published MapReduce triangle-counting shape (Suri & Vassilvitskii,
    * WWW'11; the orientation trick is Chiba–Nishizeki): orient every
    * undirected edge from its lower endpoint to its higher in the total
    * order (degree, id); every triangle then has exactly ONE wedge
    * vertex with two outgoing oriented edges, so
    *   triangles = σ(wedge (a→b, a→c) ∧ closing oriented edge x→y)
    * where (x,y) is (b,c) sorted by the same order — one self-join +
    * one semi-ish join, each pair counted exactly once, no distinct.
    *
    * Why orientation is the scale lever: wedge fanout is Σ outdeg(v)²,
    * and degree-ordering bounds every outdeg by O(√m) for ANY graph —
    * a star node of degree 10⁶ has outdeg ~0 (all its edges orient
    * AWAY from it at the low-order endpoints), so the hot-vertex wedge
    * blowup a naive i-join suffers (deg² = 10¹² wedges from one node)
    * never materializes. This is the join-side analog of the maxDF
    * finding: the skew is in the OUTPUT of the wedge join, invisible
    * to byte-based AQE — the algorithm, not the runtime, must remove
    * it.
    *
    * Input edges are normalized first (self-loops dropped, (u,v)
    * canonicalized to u<v, duplicates collapsed), so any raw pair list
    * works. Output: (node, n_triangles) for every node in ≥1 triangle.
    * Shuffles: normalize distinct + degree agg + orient join + wedge
    * self-join + closing join + the final explode agg — each keyed on
    * node ids or (node, node) pairs, never on anything corpus-wide. */
  def triangleCount(edges: DataFrame, iCol: String = "i",
                    jCol: String = "j"): DataFrame =
    triangleCountOn(normalizedUnd(edges, iCol, jCol))

  /** The (u < v)-normalized distinct edge list, PINNED (round 20): it
    * has three consumers in the orientation plan (the deg union's two
    * arms and the withDeg join side), and while ReuseExchange dedupes
    * the distinct's EXCHANGE across them, the distinct's reduce-side
    * HashAggregate sits ABOVE the exchange and re-executed once per
    * consumer — at sf0.1 three identical ~1.2 s jobs re-hashing the
    * 5M-pair self-join output (Profile r20). Pinning costs one O(m)
    * block write and the aggregation runs once; at 100 TB the saving
    * is 2× an O(pairs) CPU aggregation for an O(m) write. Also lets
    * [[clusteringCoefficient]] share ONE normalization with the
    * triangle pass instead of deriving its own. */
  private def normalizedUnd(edges: DataFrame, iCol: String,
                            jCol: String): DataFrame =
    shared(edges
      .filter(col(iCol) =!= col(jCol))
      .select(least(col(iCol), col(jCol)).as("u"),
        greatest(col(iCol), col(jCol)).as("v"))
      .distinct())

  private def triangleCountOn(und: DataFrame): DataFrame = {
    val deg = und.select(col("u").as("n")).union(und.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    // orient by (degree, id): src = the endpoint lower in that order.
    // Both endpoint degrees ride along so the wedge stage can order
    // (b, c) without another degree join.
    val withDeg = und
      .join(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du"), Seq("u"))
      .join(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv"), Seq("v"))
    val oriented = withDeg.select(
      when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("u"))
        .otherwise(col("v")).as("src"),
      when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("v"))
        .otherwise(col("u")).as("dst"),
      when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("dv"))
        .otherwise(col("du")).as("ddeg"))
    val o = shared(oriented) // three consumers: two wedge sides + closing
    // wedges from a: (b, c) with b strictly before c in (deg, id) order —
    // the closing edge, if it exists, is oriented exactly b→c
    val wedges = o.as("e1").join(o.as("e2"),
        col("e1.src") === col("e2.src") &&
          (col("e1.ddeg") < col("e2.ddeg") ||
            (col("e1.ddeg") === col("e2.ddeg") && col("e1.dst") < col("e2.dst"))))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
    val closing = o.select(col("src").as("b"), col("dst").as("c"))
    // Bloom-prefilter the wedge side before its (b, c) exchange (guide
    // §3.2, round 19): wedges outnumber edges by the orientation's
    // O(√m) fanout and MOST wedges do not close, so shuffling (and
    // sorting) every wedge to meet the closing edge moves mostly
    // dead rows — a Bloom filter over the m oriented edges (hashed to
    // one 64-bit key; hash collisions only add false positives, which
    // the exact join erases) drops non-closing wedges BEFORE the
    // exchange. Measured at sf0.1 (co-purchase graph, 0.9M edges):
    // the closing-join exchange fell from every wedge to ~closing
    // fraction + 2% fpp of them. Gated at 1e8 edges (~100 MB sketch at
    // fpp 0.02): past that building the sketch (a driver-side collect)
    // and holding it per executor stop paying for themselves, and the
    // wedge volume is the O(m√m) design bound anyway — above the gate
    // the plan is UNCHANGED from r18. The sketch ships as a BROADCAST
    // (round 20), so task binaries carry a handle, not the image.
    // The count is a re-fetch of o's pinned
    // checkpoint (materialized here either way), not an extra lineage
    // pass. The closing join builds its hash side from the EDGE list
    // (SHUFFLE_HASH) — the bounded side by construction (|edges| ≤
    // |wedges| always): SMJ would sort the wedge side, the one
    // data-scale sort this operator had left.
    val m = o.count()
    val wedgesPruned = if (m > 0 && m <= 100000000L) {
      val bf = closing.stat.bloomFilter(
        xxhash64(col("b"), col("c")), math.max(m, 1L), 0.02)
      // ship the sketch as a BROADCAST (round 20, r19 VERDICT #6): as a
      // raw expression reference it serialized into every task binary
      // of every stage referencing it (~100 MB at the gate boundary);
      // the broadcast handle is bytes, executors torrent the sketch once
      val bfB = und.sparkSession.sparkContext.broadcast(bf)
      wedges.filter(graft.plans.HashExpressions.bloomMightContain(
        xxhash64(col("b"), col("c")), bfB))
    } else wedges
    val tris = wedgesPruned.join(closing.hint("shuffle_hash"),
      Seq("b", "c"), "inner")
    tris.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Local clustering coefficient per node —
    * `lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1))` for deg ≥ 2, else 0.0:
    * how close a node's neighborhood is to a clique, the standard
    * community-structure signal next to [[triangleCount]] (which does
    * the heavy lifting; this adds the degree aggregate and one pinned
    * double ratio). Output: (node, degree, n_triangles, lcc) for every
    * node of the normalized graph. */
  def clusteringCoefficient(edges: DataFrame, iCol: String = "i",
                            jCol: String = "j"): DataFrame = {
    // ONE pinned normalization shared with the triangle pass (round
    // 20): this operator used to derive its own und + degree table AND
    // call triangleCount, which re-ran the whole edge normalization —
    // the input self-join + distinct executed twice per run
    val und = normalizedUnd(edges, iCol, jCol)
    val deg = und.select(col("u").as("node")).union(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    deg.join(triangleCountOn(und), Seq("node"), "left")
      .withColumn("n_triangles", coalesce(col("n_triangles"), lit(0L)))
      .withColumn("lcc",
        when(col("degree") >= 2,
          (lit(2.0) * col("n_triangles").cast("double")) /
            (col("degree").cast("double") * (col("degree").cast("double") - 1.0)))
          .otherwise(lit(0.0)))
  }

  /** Multi-source BFS shortest-path distances, bounded at `maxHops`:
    * dist(v) = the fewest edges from any seed to v (seeds at 0), nodes
    * unreached within the bound absent from the output. Classic BSP
    * frontier expansion — iteration h is ONE shuffle join
    * (frontier ⋈ edges on the node id) plus one LEFT ANTI against the
    * last two levels, so per-iteration cost ∝ |frontier|·avg-degree,
    * never the whole graph; localCheckpoint bounds plan depth (the
    * pageRank pattern). The frontier-only expansion is what survives
    * 100×: a saturating graph's late iterations join near-empty
    * frontiers, not the full distance table. Every hop from the second
    * on runs the same plan (the distance is the frontier's plus one,
    * not a per-hop literal), so its generated code compiles once.
    *
    * Input edges are treated as UNDIRECTED (normalized + symmetric
    * closure); `seeds` is any one-column frame of node ids (duplicates
    * fine). Output: (node, dist). */
  def bfsDistances(edges: DataFrame, seeds: DataFrame, maxHops: Int,
                   iCol: String = "i", jCol: String = "j"): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    // both orientations of every edge in one pipeline
    val u = least(col(iCol), col(jCol))
    val v = greatest(col(iCol), col(jCol))
    val e = edges.filter(col(iCol) =!= col(jCol))
      .select(explode(array(struct(u.as("s"), v.as("t")),
        struct(v.as("s"), u.as("t")))).as("__e"))
      .select(col("__e.s").as("s"), col("__e.t").as("t"))
      .distinct()
      .localCheckpoint(false)
    var frontier = seeds.select(col(seeds.columns.head).as("node")).distinct()
      .withColumn("dist", lit(0L))
      .localCheckpoint(false)
    // settled stays a UNION of per-hop checkpointed frames (round 19):
    // every piece is already pinned, so the union's lineage is flat —
    // re-checkpointing it per hop rewrote the ENTIRE settled set's
    // blocks every iteration (O(settled) extra I/O per hop, quadratic
    // over the walk) for no plan-depth benefit. ADJUDICATED round 20
    // (VERDICT r19 #2) with full-protocol A/B at driver conditions
    // (BENCH_LOCAL_r20_q196_{flat,rechk}.json): flat med 2.45 s vs
    // per-hop-recheckpoint med 2.78 s on the QUIETER window (canary
    // 0.110 vs 0.095).
    var settled = frontier
    // levels h−2 and h−1: e is symmetric, so a neighbour of level h−1
    // lies in level h−2, h−1 or h, and only these two can exclude it
    var near = frontier
    (1 to maxHops).foreach { _ =>
      val next = frontier.join(e, frontier("node") === e("s"))
        .select(col("t").as("node"), (col("dist") + 1L).as("dist"))
        .distinct()
        .join(near, Seq("node"), "left_anti")
        .localCheckpoint(false)
      settled = settled.union(next)
      near = frontier.union(next)
      frontier = next
    }
    settled
  }

  /** Common-neighbor node similarity — the link-prediction primitive:
    * for node pairs sharing ≥ `minCommon` neighbors, the common count,
    * both degrees, and the neighborhood Jaccard
    * common / (deg_a + deg_b − common) as one pinned division.
    *
    * Pair generation enumerates, per node w, all pairs of w's
    * neighbors — inherently Σ C(deg(w), 2), the SAME quadratic-output
    * shape as the dedup inverted index (and equally invisible to AQE's
    * byte-based skew detection: a degree-10⁵ hub owes 5·10⁹ pairs from
    * kilobytes of input). `maxDegree` is the maxDF-analog knob: nodes
    * above it are excluded from WEDGE GENERATION (their pairs are
    * dropped — documented lossy contract; a hub this hot links
    * everything to everything and carries no similarity signal), while
    * still counting toward degrees. 0 = uncapped. */
  def nodeSimilarity(edges: DataFrame, minCommon: Long = 1L,
                     maxDegree: Long = 0L, iCol: String = "i",
                     jCol: String = "j"): DataFrame = {
    val und = edges
      .filter(col(iCol) =!= col(jCol))
      .select(least(col(iCol), col(jCol)).as("u"),
        greatest(col(iCol), col(jCol)).as("v"))
      .distinct()
    val sym = und.select(col("u").as("w"), col("v").as("n"))
      .union(und.select(col("v").as("w"), col("u").as("n")))
      .localCheckpoint(false) // two wedge sides + the degree aggregate
    val deg = sym.groupBy(col("n").as("node"))
      .agg(count(lit(1)).as("degree"))
    val wedgeSrc = if (maxDegree > 0L) {
      val hot = deg.filter(col("degree") > maxDegree)
        .select(col("node").as("w"))
      sym.join(broadcast(hot), Seq("w"), "left_anti")
    } else sym
    val common = wedgeSrc.as("x").join(wedgeSrc.as("y"),
        col("x.w") === col("y.w") && col("x.n") < col("y.n"))
      .groupBy(col("x.n").as("a"), col("y.n").as("b"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common") >= minCommon)
    // the two degree joins build their hash side from the NODES-sized
    // deg table (round 20, the q176 closing-join treatment / guide
    // §3.1): the planner's SortMergeJoin sorted the Σ C(deg,2)-sized
    // pair table TWICE — the only data-scale sorts this operator had
    // (Profile r20 at sf0.1: two ~7 s jobs of the 24 s wall). SHJ's
    // build side is |nodes|/N per partition — bounded far below the
    // pair table by construction.
    common
      .join(deg.select(col("node").as("a"), col("degree").as("deg_a"))
        .hint("shuffle_hash"), Seq("a"))
      .join(deg.select(col("node").as("b"), col("degree").as("deg_b"))
        .hint("shuffle_hash"), Seq("b"))
      .withColumn("jaccard", col("common").cast("double") /
        (col("deg_a") + col("deg_b") - col("common")).cast("double"))
      .select("a", "b", "common", "deg_a", "deg_b", "jaccard")
  }

  /** One-hop neighbor aggregation — the message-passing / GNN-feature
    * primitive: for each node of the (undirected, normalized) graph,
    * aggregate the given expressions over its NEIGHBORS' attribute rows.
    * `nodeAttrs` is keyed by `nodeCol`; output is (node, n_neighbors,
    * <one column per agg>). Plan: symmetric edge closure ⋈ attrs on the
    * neighbor endpoint (the one exchange that matters — co-partitioning
    * edges and attrs on the node id makes it local at scale), then a
    * map-side-combined aggregate on the node endpoint. A hot node's
    * neighbor list lands in partial aggregation, not a window — the
    * star-node case costs its degree, never degree². */
  def neighborAgg(edges: DataFrame, nodeAttrs: DataFrame, nodeCol: String,
                  aggs: Seq[(String, Column)], iCol: String = "i",
                  jCol: String = "j"): DataFrame = {
    require(aggs.nonEmpty, "neighborAgg needs at least one aggregate")
    val und = edges
      .filter(col(iCol) =!= col(jCol))
      .select(least(col(iCol), col(jCol)).as("u"),
        greatest(col(iCol), col(jCol)).as("v"))
      .distinct()
    val sym = und.select(col("u").as("node"), col("v").as("nbr"))
      .union(und.select(col("v").as("node"), col("u").as("nbr")))
    sym.join(nodeAttrs.withColumnRenamed(nodeCol, "nbr"), Seq("nbr"))
      .groupBy("node")
      .agg(count(lit(1)).as("n_neighbors"),
        aggs.map { case (n, c) => c.as(n) }: _*)
  }

  /** Degree assortativity — the one-number graph-health summary (do
    * hubs link to hubs, r > 0, or to leaves, r < 0? a link graph whose
    * r flips between crawls changed its shape, whatever the node
    * counts say): Pearson correlation of (deg(u), deg(v)) over directed
    * edge STUBS — each undirected edge {i,j} counted once per
    * direction, the standard Newman formulation, so r is symmetric by
    * construction. Input: undirected edges as (i, j) pairs, ONE
    * orientation per edge (same-orientation duplicates are deduped
    * here; a pair present in BOTH orientations double-counts — emit
    * canonical i < j upstream, as every graph fixture in this repo
    * does).
    *
    * Plan: symmetrize (union both orientations), one map-side-combined
    * degree aggregate, degrees joined to stubs on each endpoint (two
    * shuffle joins on node id — the degree table is nodes-sized, AQE
    * broadcasts it when small), then FIVE exact decimal(38,0) sums of
    * long degree products in ONE aggregate — order-independent, so the
    * oracle replays them as HUGEINT sums; the final r chain is pinned
    * doubles (exact decimal→double below 2^53 — Σd² tops that only
    * past ~3e15 edge-stub-degree² mass, documented here as the
    * magnitude contract). r NULL when the degree variance is 0 (a
    * regular graph has no assortativity). Output: one row
    * (m_stubs, r). */
  def degreeAssortativity(edges: DataFrame, iCol: String = "i",
                          jCol: String = "j"): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    def d(c: Column) = c.cast("double")
    val e = edges.select(col(iCol).as("__i"), col(jCol).as("__j")).distinct()
    val und = e.union(e.select(col("__j").as("__i"), col("__i").as("__j")))
    val deg = und.groupBy(col("__i").as("__n")).agg(count(lit(1)).as("__d"))
    val stubs = und
      .join(deg.select(col("__n").as("__ni"), col("__d").as("__dx")),
        col("__i") === col("__ni"))
      .join(deg.select(col("__n").as("__nj"), col("__d").as("__dy")),
        col("__j") === col("__nj"))
    val agg = stubs.agg(count(lit(1)).as("m_stubs"),
      sum(dec(col("__dx"))).as("__sx"), sum(dec(col("__dy"))).as("__sy"),
      sum(dec(col("__dx")) * dec(col("__dy"))).as("__sxy"),
      sum(dec(col("__dx")) * dec(col("__dx"))).as("__sxx"),
      sum(dec(col("__dy")) * dec(col("__dy"))).as("__syy"))
    agg
      .withColumn("__m", d(col("m_stubs")))
      .withColumn("__cov",
        d(col("__sxy")) * col("__m") - d(col("__sx")) * d(col("__sy")))
      .withColumn("__vx",
        d(col("__sxx")) * col("__m") - d(col("__sx")) * d(col("__sx")))
      .withColumn("__vy",
        d(col("__syy")) * col("__m") - d(col("__sy")) * d(col("__sy")))
      .withColumn("r", when(col("__vx") > 0 && col("__vy") > 0,
        col("__cov") / sqrt(col("__vx") * col("__vy"))))
      .select(col("m_stubs"), col("r"))
  }

  private def shared(df: DataFrame): DataFrame =
    df.localCheckpoint(eager = false)
}
