package graft.operators

import graft.core.JTable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join surface (reference §2.3: `join(how=…)`, broadcast variant,
  * `groupjoin`, `naturaljoin`, `leftjoin`, `asofjoin`, `merge`).
  *
  * The reference's distributed join is: co-range-partition both sides on the
  * key, then per-chunk sort-merge (`src/join.jl:3-113`). Spark's
  * SortMergeJoin IS that algorithm (exchange + sort + merge), and
  * BroadcastHashJoin covers the reference's `broadcast=:right` replication
  * path (`src/join.jl:37-57`) — so plain `df.join` with an explicit
  * `broadcast()` hint for small sides is the whole story for equi-joins.
  * AQE upgrades SMJ→BHJ at runtime when a side turns out small, and handles
  * skewed keys by splitting oversized partitions.
  */
object Joins {

  /** `join(l, r; how, lkey, rkey)` — equi-join. `how` ∈ inner|left|outer|anti
    * (reference `src/join.jl:26-134`). */
  def join(l: JTable, r: JTable, lkey: Seq[String], rkey: Seq[String],
           how: String = "inner"): DataFrame = {
    val sparkHow = how match {
      case "inner" => "inner"
      case "left"  => "left_outer"
      case "outer" => "full_outer"
      case "anti"  => "left_anti"
      case "semi"  => "left_semi" // parity-plus: absent in reference (§2.3 notes)
      case other   => other
    }
    if (lkey == rkey) l.df.join(r.df, lkey, sparkHow)
    else {
      val cond = lkey.zip(rkey).map { case (a, b) => l.df(a) === r.df(b) }.reduce(_ && _)
      l.df.join(r.df, cond, sparkHow)
    }
  }

  /** Broadcast variant — reference's out-of-core "join small to big"
    * (`docs/src/out_of_core.md:64-72`): replicate the right side. */
  def broadcastJoin(l: JTable, r: JTable, key: Seq[String],
                    how: String = "inner"): DataFrame =
    l.df.join(broadcast(r.df), key, if (how == "left") "left_outer" else how)

  /** Salted inner equi-join — the general-join analog of
    * [[asofJoinSalted]]'s hot-key knob: when one join key owns a large
    * fraction of the LEFT side (and the right side is too big to
    * broadcast), a plain shuffle join lands the hot key's every row in
    * one task. Salting splits it `salts` ways: the left side gets a
    * deterministic per-row salt (hash of `saltBy`, so re-runs are
    * identical), the right side is replicated once per salt bucket, and
    * the join keys on (key, salt). Result is EXACTLY the plain inner
    * join — each left row meets each matching right row in precisely its
    * one salt bucket (gated by the plain join's oracle, q155).
    *
    * Cost model — MEASURED (round 11 s4, recorded in SCALE.md's
    * measured-knob table and NOTES_r11.md "output-skew blindness", on
    * the output-skew fixture: 2M-row left with 50% on one key × 5M-row
    * unbroadcastable right with 256 rows on that key → the hot SMJ task
    * enumerates 256M pairs from ~24 MB of input, far under AQE's 256 MB
    * skew threshold, so the split never fires — the round-8
    * output-skew-is-AQE-blind finding generalized to joins): plain
    * 105.2 s [104.6, 108.5] vs salts=8 28.3 s [28.1, 30.5] (3.7×,
    * disjoint bands) vs salts=32 23.0 s [22.3, 39.4] (4.6× — the 4×
    * bigger right-side replication mostly cancels the 4× smaller hot
    * task; past ~salts=cores the knob is spent). When the hot key is
    * visible to AQE as INPUT bytes (plain size skew, no multiplicative
    * output), prefer letting AQE split; when the right side broadcasts,
    * there is no skew problem at all — salt only the genuinely
    * unbroadcastable output-skew regime this fixture models. */
  def saltedEquiJoin(l: DataFrame, r: DataFrame, lkey: Seq[String],
                     rkey: Seq[String], salts: Int,
                     saltBy: Seq[String]): DataFrame = {
    require(salts > 0, s"salts must be positive, got $salts")
    require(saltBy.nonEmpty, "saltBy needs at least one left-side column")
    val ls = l.withColumn("__salt",
      pmod(xxhash64(saltBy.map(col): _*), lit(salts.toLong)))
    val rs = r.withColumn("__salt",
      explode(sequence(lit(0L), lit(salts.toLong - 1))))
    val keyCond = lkey.zip(rkey).map { case (a, b) => ls(a) === rs(b) }
      .reduce(_ && _)
    ls.join(rs, keyCond && (ls("__salt") === rs("__salt")))
      .drop("__salt")
  }

  /** Bloom-prefiltered equi-join: probe the FACT side against a bloom
    * filter of the (selective) dim side's join keys IN THE SCAN, so only
    * probable matches reach the shuffle — the generalization of the
    * decontamination bloom (Dedup.contaminationScoresBloom) to arbitrary
    * fact ⋈ dim joins, and the manual form of Spark's runtime row-group
    * filters with an explicit size/fpp contract. The exact join after
    * the probe removes every false positive, so the result is IDENTICAL
    * to the plain join (q201 is gated on exactly that) — the filter only
    * sizes the exchange.
    *
    * Regime (the decontam stress finding carries over): wins when the
    * dim side is too big to broadcast as ROWS but its ~1.2 MB/M-keys
    * bloom IMAGE broadcasts fine, AND dim is selective against fact
    * (most fact rows miss) — the canonical 100 TB fact ⋈ filtered-dim
    * shape, where the fact-side shuffle dominates everything. When most
    * fact rows match, or the dim broadcasts as rows anyway, the probe is
    * pure overhead — measured for decontamination (NOTES_r11.md "Bloom
    * decontam: crossover measured from BOTH sides"); same
    * verdict here. Native codegen probe (`bloom_might_contain` on the
    * long or UTF-8 image — matching `stat.bloomFilter`'s insertion
    * domain), never a ScalaUDF. */
  def bloomPrefilteredJoin(fact: DataFrame, dim: DataFrame,
                           factKey: String, dimKey: String,
                           fpp: Double = 0.01,
                           expectedKeys: Long = 0L): DataFrame = {
    val keys = dim.select(col(dimKey)).distinct()
    val items = if (expectedKeys > 0L) expectedKeys
      else math.max(keys.count(), 1L)
    val bf = keys.stat.bloomFilter(dimKey, items, fpp)
    // broadcast the sketch (round 20): the handle rides the task
    // binary, not the ~1.2 MB/M-keys image itself
    val bfB = fact.sparkSession.sparkContext.broadcast(bf)
    fact.filter(graft.plans.HashExpressions.bloomMightContain(col(factKey), bfB))
      .join(dim, col(factKey) === dim(dimKey))
  }

  /** Fuzzy record linkage: blocked edit-distance join — the classic
    * dedup/linkage shape (match dirty records to a reference table).
    * Candidates are generated ONLY within equal `blockCols` groups (the
    * "blocking key" — without it linkage is an all-pairs cross join; with
    * it pair volume is Σ|block|², the SemDeDup/LSH-bucket argument with
    * the same hot-block caveat), scored by Levenshtein distance (unit
    * edit costs — identical semantics in any engine), kept at distance ≤
    * `maxDist`, and ranked per left record (distance, then right id) to
    * `topPerLeft`. Output: (lId, rId, dist, rank); unmatched left
    * records are absent (anti-join upstream to count them). */
  def fuzzyJoin(l: DataFrame, r: DataFrame, lId: String, rId: String,
                blockCols: Seq[String], lStr: String, rStr: String,
                maxDist: Int, topPerLeft: Int = 1): DataFrame = {
    require(blockCols.nonEmpty,
      "fuzzyJoin requires blocking columns (unblocked linkage is a cross join)")
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val lk = l.select((blockCols :+ lId :+ lStr).distinct.map(col): _*)
    val rk = r.select((blockCols :+ rId :+ rStr).distinct.map(col): _*)
    val w = Window.partitionBy(col(lId))
      .orderBy(col("dist").asc, col(rId).asc)
    lk.join(rk, blockCols)
      .withColumn("dist", levenshtein(col(lStr), col(rStr)).cast("long"))
      .filter(col("dist") <= maxDist)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topPerLeft)
      .select(col(lId), col(rId), col("dist"), col("rank"))
  }

  /** `groupjoin(l, r; how)` — matching right rows grouped into a nested
    * `groups` column (reference `src/join.jl:120-126`, `test/test_table.jl:117-122`).
    * Lowered as: pre-aggregate the right side per key (one shuffle of r,
    * map-side combined), then join — cheaper at scale than join-then-regroup
    * because the grouped right side is at most |distinct keys| rows. */
  def groupjoin(l: JTable, r: JTable, key: Seq[String], rValueCols: Seq[String],
                how: String = "inner"): DataFrame = {
    require(Set("inner", "left", "outer").contains(how),
      s"groupjoin supports inner|left|outer (reference src/join.jl:120-126), got: $how")
    val grouped = r.df
      .groupBy(key.map(col): _*)
      .agg(collect_list(struct(rValueCols.map(col): _*)).as("groups"))
      // merge-join hint: the grouped side is already hash-partitioned on the
      // key by its aggregation exchange (reused by SMJ), while broadcasting
      // it would ship the full nested payload through the driver — size
      // estimates on array columns routinely fool the broadcast chooser.
      // Not shuffle_hash either (round 8): SHJ's build side does not
      // spill (verified against Spark 4.1.2 — see Dedup.jaccardPairs'
      // memory contract), and the grouped side's nested arrays are
      // unbounded per key; SMJ keeps the giant-group failure mode
      // spillable.
      // Payload shape (round 9, measured): collect_list(struct(...)) vs a
      // structure-of-arrays form (one primitive collect_list per value
      // column, zip_with-rebuilt to the same schema after the join) on
      // the hot-user stress corpus (~1.6M-element hot group): struct
      // 0.97 s [0.93, 1.65] vs SoA 1.14 s [1.09, 1.43] — the SoA's
      // narrower shuffle (8 B/element flat vs per-element offset word +
      // UnsafeRow) is repaid by its second aggregation buffer and the
      // zip_with rebuild; NEGATIVE result, the direct struct list stays
      // (NOTES_r9.md "groupjoin payload shape").
      .hint("merge")
    val sparkHow = if (how == "left") "left_outer" else if (how == "outer") "full_outer" else how
    val joined = l.df.join(grouped, key, sparkHow)
    // outer/left: missing groups become empty lists, mirroring the reference
    val emptyGroups = array().cast(grouped.schema("groups").dataType)
    joined.withColumn("groups", coalesce(col("groups"), emptyGroups))
  }

  /** [[groupjoin]] size fast path: when the consumer only needs each
    * group's CARDINALITY, aggregating `count(*)` per key ships one long
    * through the shuffle instead of the full `collect_list(struct(...))`
    * payload — identical result to `size(groupjoin(...).groups)` at a
    * fraction of the cost (the q09/q82 bench pair measures the gap). No
    * join hint: the counted side is |distinct keys| × 16 bytes, so AQE's
    * size-based broadcast choice is trustworthy here (unlike the nested-
    * array case in [[groupjoin]], where size estimates mislead). */
  def groupjoinSize(l: JTable, r: JTable, key: Seq[String],
                    how: String = "inner", as: String = "n_groups"): DataFrame = {
    require(Set("inner", "left", "outer").contains(how),
      s"groupjoinSize supports inner|left|outer (reference src/join.jl:120-126), got: $how")
    val grouped = r.df.groupBy(key.map(col): _*).agg(count(lit(1)).as(as))
    val sparkHow = if (how == "left") "left_outer" else if (how == "outer") "full_outer" else how
    l.df.join(grouped, key, sparkHow)
      .withColumn(as, coalesce(col(as), lit(0L)))
  }

  /** `asofjoin(l, r)` (reference `src/join.jl:232-243`, semantics
    * `test/test_join.jl:32-43`): keys = (id…, time); each left row picks the
    * right row with the same id-keys and the greatest rtime ≤ ltime.
    *
    * Implementation: union both sides tagged by origin, then one window
    * `last(struct(values), ignoreNulls)` ordered by (time, side) per id-key
    * — a right row at the same timestamp is visible to the left row (≤
    * semantics). The right value columns travel as ONE struct so the match
    * is a whole right row, like the reference: filling each column
    * independently would blend columns from different right rows whenever a
    * later right row carries a null in one of them.
    * Cost at scale: ONE shuffle of l∪r on the id-keys + an in-partition
    * sort — strictly cheaper than the range-join + dedup alternative (which
    * shuffles twice and explodes matches before deduping). A hot id still
    * lands on a single window task (AQE skew-split applies to join
    * partitions, not window exchanges); if one id dominates, use
    * [[asofJoinSalted]] — the time-bucket split with boundary repair,
    * spec-asserted equal to this operator.
    */
  def asofJoin(l: DataFrame, r: DataFrame, ids: Seq[String], ltime: String,
               rtime: String, lCols: Seq[String], rValueCols: Seq[String]): DataFrame = {
    val rStruct = struct(rValueCols.map(col): _*)
    val rStructType = r.select(rStruct).schema.head.dataType
    val lTagged = l.select(
      (ids.map(col) :+ col(ltime).as("__t") :+ lit(1).as("__side")) ++
        lCols.map(col) :+ lit(null).cast(rStructType).as("__rv"): _*)
    val rTagged = r.select(
      (ids.map(col) :+ col(rtime).as("__t") :+ lit(0).as("__side")) ++
        lCols.map(c => lit(null).cast(l.schema(c).dataType).as(c)) :+ rStruct.as("__rv"): _*)
    val unioned = lTagged.unionByName(rTagged)
    // tiebreak on the right value struct: duplicate right (ids, time) rows
    // would otherwise resolve by shuffle arrival order (nondeterministic)
    val w = Window.partitionBy(ids.map(col): _*)
      .orderBy(col("__t").asc, col("__side").asc, col("__rv").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = unioned.withColumn("__rv", last(col("__rv"), ignoreNulls = true).over(w))
    filled.filter(col("__side") === 1)
      .select((ids.map(col) :+ col("__t").as(ltime)) ++ lCols.map(col) ++
        rValueCols.map(c => col("__rv").getField(c).as(c)): _*)
  }

  /** [[asofJoin]] with a MATCH TOLERANCE (the pandas `merge_asof
    * tolerance` / polars `join_asof tolerance` semantics): a right match
    * older than `ltime − tolerance` is rejected — the left row keeps its
    * place with all right values null, exactly as if no match existed.
    * The window fill cannot express this directly (its `last(...,
    * ignoreNulls)` carries matches arbitrarily far forward), so the
    * match's own timestamp rides through the fill inside the value
    * struct and one per-row predicate invalidates stale matches after —
    * same single-shuffle plan, one extra 8-byte struct field.
    * Time columns must be numeric (the module's usual int64 epoch
    * values); `tolerance` is in the same unit. */
  def asofJoinTolerance(l: DataFrame, r: DataFrame, ids: Seq[String],
                        ltime: String, rtime: String, lCols: Seq[String],
                        rValueCols: Seq[String], tolerance: Long): DataFrame = {
    require(tolerance >= 0, s"tolerance must be non-negative, got $tolerance")
    val withRt = asofJoin(l, r.withColumn("__rt", col(rtime)), ids, ltime,
      rtime, lCols, rValueCols :+ "__rt")
    val ok = col("__rt").isNotNull && col("__rt") >= col(ltime) - tolerance
    rValueCols.foldLeft(withRt) { case (d, c) =>
      d.withColumn(c, when(ok, col(c)))
    }.drop("__rt")
  }

  /** Tag l ∪ r with the right-value struct CARRYING the match timestamp
    * (shared by the forward/nearest variants — the rider is what makes
    * tolerance and distance comparisons per-row decidable after the
    * fill). */
  private def asofTagged(l: DataFrame, r: DataFrame, ids: Seq[String],
                         ltime: String, rtime: String, lCols: Seq[String],
                         rValueCols: Seq[String]): DataFrame = {
    val rStruct = struct(col(rtime).as("__rt") +: rValueCols.map(col): _*)
    val rStructType = r.select(rStruct).schema.head.dataType
    val lTagged = l.select(
      (ids.map(col) :+ col(ltime).as("__t") :+ lit(1).as("__side")) ++
        lCols.map(col) :+ lit(null).cast(rStructType).as("__rv"): _*)
    val rTagged = r.select(
      (ids.map(col) :+ col(rtime).as("__t") :+ lit(0).as("__side")) ++
        lCols.map(c => lit(null).cast(l.schema(c).dataType).as(c)) :+
        rStruct.as("__rv"): _*)
    lTagged.unionByName(rTagged)
  }

  /** FORWARD asof join (pandas `merge_asof direction="forward"`): each
    * left row takes the EARLIEST right row with `rtime ≥ ltime`
    * (inclusive), optionally within `ltime + tolerance`. Same
    * single-shuffle union-window plan as [[asofJoin]], with the fill
    * running first(…) over the FOLLOWING frame (sides ordered so a right
    * row at the exact left timestamp is inside the frame). Duplicate
    * right (ids, time) rows resolve to the SMALLEST value struct —
    * the mirror of asofJoin's largest-struct rule, equally deterministic.
    * Time columns must be numeric (int64 epoch values). */
  def asofJoinForward(l: DataFrame, r: DataFrame, ids: Seq[String],
                      ltime: String, rtime: String, lCols: Seq[String],
                      rValueCols: Seq[String],
                      tolerance: Option[Long] = None): DataFrame = {
    require(tolerance.forall(_ >= 0), s"tolerance must be non-negative")
    val unioned = asofTagged(l, r, ids, ltime, rtime, lCols, rValueCols)
    val w = Window.partitionBy(ids.map(col): _*)
      .orderBy(col("__t").asc, col("__side").desc, col("__rv").asc_nulls_last)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val filled = unioned
      .withColumn("__rv", first(col("__rv"), ignoreNulls = true).over(w))
    val ok = tolerance match {
      case Some(tol) => col("__rv").isNotNull &&
        col("__rv").getField("__rt") <= col("__t") + tol
      case None => col("__rv").isNotNull
    }
    filled.filter(col("__side") === 1)
      .select((ids.map(col) :+ col("__t").as(ltime)) ++ lCols.map(col) ++
        rValueCols.map(c => when(ok, col("__rv").getField(c)).as(c)): _*)
  }

  /** NEAREST asof join (pandas `merge_asof direction="nearest"`): each
    * left row takes whichever of its backward / forward matches is
    * closer in time — exact ties go BACKWARD (the documented rule; the
    * oracle replays it). `tolerance` bounds the distance on BOTH sides.
    * ONE shuffle, TWO in-partition sorts (the backward and forward fills
    * share the hash exchange; Spark inserts the second sort only), so
    * the plan costs one extra sort over plain [[asofJoin]] — never a
    * second exchange, never a self-join. */
  def asofJoinNearest(l: DataFrame, r: DataFrame, ids: Seq[String],
                      ltime: String, rtime: String, lCols: Seq[String],
                      rValueCols: Seq[String],
                      tolerance: Option[Long] = None): DataFrame = {
    require(tolerance.forall(_ >= 0), s"tolerance must be non-negative")
    val unioned = asofTagged(l, r, ids, ltime, rtime, lCols, rValueCols)
    val wb = Window.partitionBy(ids.map(col): _*)
      .orderBy(col("__t").asc, col("__side").asc, col("__rv").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy(ids.map(col): _*)
      .orderBy(col("__t").asc, col("__side").desc, col("__rv").asc_nulls_last)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val filled = unioned
      .withColumn("__bv", last(col("__rv"), ignoreNulls = true).over(wb))
      .withColumn("__fv", first(col("__rv"), ignoreNulls = true).over(wf))
    val bd = col("__t") - col("__bv").getField("__rt") // ≥ 0 by construction
    val fd = col("__fv").getField("__rt") - col("__t")
    val bOk = col("__bv").isNotNull && tolerance.map(t => bd <= t).getOrElse(lit(true))
    val fOk = col("__fv").isNotNull && tolerance.map(t => fd <= t).getOrElse(lit(true))
    val chosen = when(bOk && (!fOk || bd <= fd), col("__bv"))
      .when(fOk, col("__fv"))
    filled.filter(col("__side") === 1)
      .select((ids.map(col) :+ col("__t").as(ltime)) ++ lCols.map(col) ++
        rValueCols.map(c => chosen.getField(c).as(c)): _*)
  }

  /** Skew-hardened asofjoin — the hot-id fallback [[asofJoin]]'s doc
    * names, implemented. Same semantics, but the per-id window is split
    * by a coarse time bucket (`bucketOf`, any monotone coarsening of the
    * time column) so one id's events never funnel into a single window
    * task:
    *  1. the within-bucket pass is [[asofJoin]]'s window keyed by
    *     (ids, bucket) — task size bounded by bucket width;
    *  2. rows whose match lives in an EARLIER bucket are repaired from a
    *     per-(id, bucket) "latest right row" summary, whose running
    *     window is over ≤ #buckets rows per id — tiny no matter how hot
    *     the id — and joins back on (ids, bucket), which is exactly the
    *     salted (spread) key.
    * Equality with the unsalted operator is spec-asserted across bucket
    * widths and partitionings. */
  def asofJoinSalted(l: DataFrame, r: DataFrame, ids: Seq[String], ltime: String,
                     rtime: String, lCols: Seq[String], rValueCols: Seq[String],
                     bucketOf: Column => Column): DataFrame = {
    val rStruct = struct(rValueCols.map(col): _*)
    val rStructType = r.select(rStruct).schema.head.dataType
    val lTagged = l.select(
      (ids.map(col) :+ col(ltime).as("__t") :+ lit(1).as("__side")) ++
        lCols.map(col) :+ lit(null).cast(rStructType).as("__rv"): _*)
    val rTagged = r.select(
      (ids.map(col) :+ col(rtime).as("__t") :+ lit(0).as("__side")) ++
        lCols.map(c => lit(null).cast(l.schema(c).dataType).as(c)) :+ rStruct.as("__rv"): _*)
    val unioned = lTagged.unionByName(rTagged).withColumn("__b", bucketOf(col("__t")))
    val inBucketW = Window.partitionBy((ids :+ "__b").map(col): _*)
      .orderBy(col("__t").asc, col("__side").asc, col("__rv").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = unioned.withColumn("__rv", last(col("__rv"), ignoreNulls = true).over(inBucketW))
    // latest right row per (id, bucket): max(struct(t, rv)) matches the
    // window's (t asc, rv asc) last-wins tiebreak for duplicate times
    val bucketLast = rTagged.withColumn("__b", bucketOf(col("__t")))
      .groupBy((ids :+ "__b").map(col): _*)
      .agg(max(struct(col("__t"), col("__rv"))).as("__bl"))
    // every (id, bucket) the data touches — buckets with no right rows
    // must still receive a carry
    val allBuckets = unioned.select((ids :+ "__b").map(col): _*).distinct()
    val carryW = Window.partitionBy(ids.map(col): _*).orderBy(col("__b").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = allBuckets.join(bucketLast, ids :+ "__b", "left_outer")
      .withColumn("__prev",
        max(when(col("__bl").isNotNull, struct(col("__b"), col("__bl")))).over(carryW))
      .select((ids :+ "__b").map(col) :+
        col("__prev").getField("__bl").getField("__rv").as("__carry_rv"): _*)
    filled.filter(col("__side") === 1)
      .join(carry, ids :+ "__b", "left_outer")
      .withColumn("__rv", coalesce(col("__rv"), col("__carry_rv")))
      .select((ids.map(col) :+ col("__t").as(ltime)) ++ lCols.map(col) ++
        rValueCols.map(c => col("__rv").getField(c).as(c)): _*)
  }

  /** Range (interval/band) join: rows of `l` whose `pointCol` falls inside
    * `r`'s `[loCol, hiCol]` (inclusive), optionally under `ids` equi-keys —
    * the "events within a window around each anchor" join next to
    * [[asofJoin]]'s "latest before".
    *
    * Spark lowers the naive `l.join(r, p >= lo && p <= hi)` with no
    * equi-key to a BroadcastNestedLoopJoin — an O(|l|·|r|) scan that dies
    * long before 100 TB — and even with equi-keys the range is a
    * post-filter over every same-key pairing. This operator makes the join
    * an EQUI-join on coarse buckets of width `bucketWidth`: points map to
    * the single bucket containing them; each interval explodes to the
    * buckets it overlaps (ceil(span/width)+1 rows). A (point, interval)
    * candidate meets in exactly ONE bucket — the point's — so there is no
    * dedup pass, and the exact bounds filter runs only on same-bucket
    * candidates.
    *
    * Scale: shuffle = |l| + Σ(interval spans)/width rows, keyed on
    * (ids, bucket) 8-byte-ish keys. Pick `bucketWidth` near the typical
    * interval span: wider buckets cut interval replication but admit more
    * false candidates; narrower buckets do the reverse. Do NOT count on
    * AQE to rescue a too-wide width under a point burst — measured
    * (round 9, hot-burst fixture: 20% of 10M points + 2k intervals in one
    * 1-second window): at width 1e9 the burst is ONE bucket whose ~4e9
    * same-key candidates run in ONE ~3.1 s task, and AQE's skew split
    * never fires because the bucket's shuffle INPUT (~50 MB) is far under
    * the 256 MB byte threshold — candidate AMPLIFICATION is invisible to
    * byte-based skew detection, the same blind spot as the jaccard maxDF
    * finding (skew-on vs skew-off: identical 64 tasks, 3.6 vs 3.9 s wall).
    * Even forcing the split (4 MB threshold) only SPREADS the candidates
    * (3.3 s); width 1e7 ≈ the interval span REMOVES them (~40M true + few
    * false candidates): 1.54 s [1.47, 1.80] vs wide's 3.77 [3.37, 4.12] —
    * 2.5×, disjoint bands (NOTES_r9.md "rangeJoin bucketWidth").
    * Intervals with hi < lo are empty and dropped (Spark's
    * `sequence(a,b)` would DESCEND and fabricate buckets). */
  def rangeJoin(l: DataFrame, r: DataFrame, ids: Seq[String], pointCol: String,
                loCol: String, hiCol: String, bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    // Integral columns bucket EXACTLY: subtract the nonneg remainder first
    // (c − pmod(c, w) = w·⌊c/w⌋ in pure long arithmetic), so the division's
    // true quotient is an integer — then any rounding mode returns it
    // unchanged. A bare floor(c.cast(decimal)/w) is WRONG at large widths:
    // Spark lowers decimal/long to decimal(38,10) with HALF_UP, which can
    // round the quotient UP across an integer boundary before floor runs
    // (off-by-one bucket at w > ~2e10; a plain double division breaks
    // earlier, above 2^53). Fractional columns use the double floor, whose
    // quotient can land one off its mathematical bucket at representation
    // boundaries — so when ANY bucketed column is fractional, the interval
    // explode widens by ±1 bucket. Widening only ADDS candidates (each
    // (point, interval) pair still meets in exactly one bucket — the
    // point's), and the exact bounds filter removes the extras; the ±1
    // bound holds while |value/width| < 2^52 (double floor error < 1).
    import org.apache.spark.sql.types._
    def isIntegral(df: DataFrame, c: String): Boolean = df.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    def bucketOf(df: DataFrame, c: String): Column =
      if (isIntegral(df, c))
        ((col(c) - pmod(col(c), lit(bucketWidth))).cast("decimal(38,0)") / bucketWidth)
          .cast("long")
      else floor(col(c) / bucketWidth).cast("long")
    val anyFractional = !isIntegral(l, pointCol) || !isIntegral(r, loCol) ||
      !isIntegral(r, hiCol)
    val pad = if (anyFractional) 1L else 0L
    // Guard the interval explode: an interval spanning span/width buckets
    // materializes that many rows, and past ~134M elements Spark's
    // sequence() throws an opaque ArrayData allocation error from deep
    // inside the plan — while even a 10^5-bucket interval silently blows up
    // shuffle volume first. Fail loudly per offending row with the knob to
    // turn (assert_true evaluates BEFORE the sequence, so a mis-tuned width
    // surfaces as this message, not an allocation failure). 1M buckets per
    // interval is already ~1000× over any sane width choice.
    val maxBucketsPerInterval = 1000000L
    // try_subtract/try_add: pathological bounds (hi near Long.MaxValue
    // with a far-negative lo under a small width) overflow the span
    // arithmetic itself — plain ops would either WRAP negative (ANSI
    // off: sails past a one-sided <= check into the opaque sequence()
    // failure) or throw a bare ARITHMETIC_OVERFLOW with no mention of
    // which knob to turn (ANSI on, the session default). The try_ forms
    // yield NULL on overflow in both modes, and assert_true treats a
    // NULL condition as failed — so an overflowed span deterministically
    // takes THIS actionable message. BETWEEN (not <=) additionally rules
    // out any negative count.
    val nBuckets = try_add(try_subtract(bucketOf(r, hiCol), bucketOf(r, loCol)),
      lit(1 + 2 * pad))
    val guard = assert_true(nBuckets.between(0L, maxBucketsPerInterval),
      concat(lit(s"rangeJoin: an interval spans more than " +
          s"$maxBucketsPerInterval buckets of width $bucketWidth ("),
        // concat is null-propagating: an overflowed (null) count must not
        // blank the whole message
        coalesce(nBuckets.cast("string"), lit("overflowed-64-bit")),
        lit(" buckets — a negative or overflowed count means the span " +
          "itself exceeds 64 bits — interval ["), col(loCol), lit(", "),
        col(hiCol), lit("]) — raise bucketWidth toward the typical " +
          "interval span")))
    val lb = l.withColumn("__b", bucketOf(l, pointCol))
    // the guard rides INSIDE the sequence bound (assert_true yields null on
    // pass, coalesce restores the bound) so column pruning can't drop it
    val rb = r.filter(col(hiCol) >= col(loCol))
      .withColumn("__b",
        explode(sequence(bucketOf(r, loCol) - pad,
          coalesce(guard.cast("long"), bucketOf(r, hiCol) + pad))))
    lb.join(rb, ids :+ "__b", "inner")
      .filter(col(pointCol) >= col(loCol) && col(pointCol) <= col(hiCol))
      .drop("__b")
  }

  /** Interval×interval overlap join — the two-sided sibling of
    * [[rangeJoin]]: pairs of same-key rows whose CLOSED intervals
    * `[lLo,lHi]`, `[rLo,rHi]` overlap (`lLo ≤ rHi ∧ rLo ≤ lHi`). Naive
    * plans are the same trap as rangeJoin's (a per-key cartesian with a
    * post-filter); this lowers to an equi-join on coarse buckets of
    * `bucketWidth`, with BOTH sides exploding to the buckets they span.
    *
    * A candidate pair now meets in EVERY bucket both intervals cover —
    * so instead of a distinct pass (an extra full shuffle of the
    * candidate set), each pair is kept exactly once by the canonical-
    * bucket rule: only the joined row whose bucket equals
    * `bucket(greatest(lLo, rLo))` survives. That bucket provably lies
    * in both intervals' covered ranges whenever the pair overlaps
    * (max(starts) ≤ min(ends) bounds it into every side's span), so
    * the rule never drops a true pair, and it is a plain per-row
    * filter — no exchange.
    *
    * Bucket columns must be INTEGRAL (long/int/...): integral
    * bucketing is exact (the rangeJoin remainder-subtract form), which
    * is what makes the canonical-bucket membership argument airtight.
    * A fractional interval column would need rangeJoin's ±1 pad AND a
    * pad-aware canonical rule — refuse loudly rather than quietly
    * approximate. Same span guard as rangeJoin: an interval spanning
    * >1M buckets fails with the bucketWidth knob named, before
    * sequence() can fail opaquely or the shuffle silently blows up.
    *
    * Scale: shuffle = Σ(spans)/width rows per side on (ids, bucket)
    * keys; width tunes replication vs false candidates exactly like
    * rangeJoin (whose measured hot-burst numbers — and AQE's blindness
    * to candidate amplification — carry over unchanged; the same
    * salting escape applies if one bucket×key goes hot). */
  def intervalJoin(l: DataFrame, r: DataFrame, ids: Seq[String],
                   lLo: String, lHi: String, rLo: String, rHi: String,
                   bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    import org.apache.spark.sql.types._
    def requireIntegral(df: DataFrame, c: String): Unit = df.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case other => throw new IllegalArgumentException(
        s"intervalJoin: bucket column $c must be integral, got $other " +
          "(fractional intervals need a pad-aware canonical rule — cast " +
          "to a fixed-point long first)")
    }
    Seq(lLo, lHi).foreach(requireIntegral(l, _))
    Seq(rLo, rHi).foreach(requireIntegral(r, _))
    def bucketOf(c: Column): Column =
      ((c - pmod(c, lit(bucketWidth))).cast("decimal(38,0)") / bucketWidth)
        .cast("long")
    val maxBucketsPerInterval = 1000000L
    def explodeSide(df: DataFrame, loCol: String, hiCol: String): DataFrame = {
      val nBuckets = try_add(
        try_subtract(bucketOf(col(hiCol)), bucketOf(col(loCol))), lit(1L))
      val guard = assert_true(nBuckets.between(0L, maxBucketsPerInterval),
        concat(lit(s"intervalJoin: an interval spans more than " +
            s"$maxBucketsPerInterval buckets of width $bucketWidth ("),
          coalesce(nBuckets.cast("string"), lit("overflowed-64-bit")),
          lit(" buckets — interval ["), col(loCol), lit(", "), col(hiCol),
          lit("]) — raise bucketWidth toward the typical interval span")))
      df.filter(col(hiCol) >= col(loCol))
        .withColumn("__b", explode(sequence(bucketOf(col(loCol)),
          coalesce(guard.cast("long"), bucketOf(col(hiCol))))))
    }
    explodeSide(l, lLo, lHi)
      .join(explodeSide(r, rLo, rHi), ids :+ "__b", "inner")
      .filter(col(lLo) <= col(rHi) && col(rLo) <= col(lHi) &&
        col("__b") === bucketOf(greatest(col(lLo), col(rLo))))
      .drop("__b")
  }

  /** `leftjoin(op, l, r)` (reference `src/join.jl:192-230`): keep the left
    * index set; where a right value exists, combine with `op`, else keep
    * the left value. */
  def leftjoinWith(l: JTable, r: JTable, key: Seq[String],
                   lVal: String, rVal: String, op: (Column, Column) => Column,
                   as: String = "value"): DataFrame = {
    val joined = l.df.join(r.df, key, "left_outer")
    joined.select(key.map(col) :+
      when(col(rVal).isNotNull, op(col(lVal), col(rVal)))
        .otherwise(col(lVal)).as(as): _*)
  }

  /** Keyed upsert — last-write-wins merge by pkey. This is the operator
    * form of the documented `setindex!`/`insert_row!` divergence (reference
    * `src/indexing.jl:47-86` mutates the local table in place; an immutable
    * DataFrame expresses the same as a merge where the RIGHT row replaces
    * the left on a key match, and right-only keys insert). Duplicate keys
    * WITHIN a side resolve deterministically to that side's max value
    * struct. Cost: ONE hash shuffle with map-side-combined `max` — no join,
    * no window. [[merge]] remains the symmetric-aggregation form. */
  def upsert(l: JTable, r: JTable): JTable = {
    require(l.pkey.nonEmpty, "upsert requires a pkey (the reference's setindex! key)")
    require(l.df.columns.toSeq == r.df.columns.toSeq,
      s"upsert requires identical schemas: ${l.df.columns.toSeq} vs ${r.df.columns.toSeq}")
    val key = l.pkey
    val valCols = l.df.columns.toSeq.filterNot(key.contains)
    val tagged = l.df.withColumn("__side", lit(0))
      .unionByName(r.df.withColumn("__side", lit(1)))
    val picked = tagged.groupBy(key.map(col): _*)
      .agg(max(struct(col("__side") +: valCols.map(col): _*)).as("__w"))
    val out = picked.select(l.df.columns.toSeq.map(c =>
      if (key.contains(c)) col(c) else col("__w").getField(c).as(c)): _*)
    // the groupBy output is already hash-partitioned by the key — sort
    // within partitions and claim co-partitioning, instead of paying a
    // second (range) exchange to re-establish the pkey invariant
    JTable.assumeCoPartitioned(out.sortWithinPartitions(key.map(col): _*), key)
  }

  /** `merge(l, r; agg)` — union by pkey; duplicate keys combined by `agg`
    * when given (reference `src/join.jl:245-267`). The no-agg union
    * re-establishes the pkey invariant through the standard range exchange
    * + in-partition sort — Spark's analog of the reference's chunk merge
    * (restoring NON-OVERLAPPING sorted chunks from two interleaved keyed
    * tables is a range exchange by definition; each row moves once). The
    * agg path reuses its own groupBy hash exchange instead of paying a
    * second one. */
  def merge(l: JTable, r: JTable, aggs: Seq[(String, Column)] = Nil): JTable = {
    val u = l.df.unionByName(r.df)
    if (aggs.isEmpty) JTable(u, l.pkey)
    else JTable.assumeCoPartitioned(
      u.groupBy(l.pkey.map(col): _*)
        .agg(aggs.head._2.as(aggs.head._1), aggs.tail.map { case (n, c) => c.as(n) }: _*)
        .sortWithinPartitions(l.pkey.map(col): _*),
      l.pkey)
  }

  /** Pre-join skew diagnostic: per-key multiplicities of both sides, the
    * output-row count their product, and the skew factor vs the MEAN
    * output per key — the planning probe run BEFORE a big join to decide
    * salting ([[saltedJoin]]), broadcasting, or a hot-key split. The
    * quadratic-blowup case (self-join pair generation: dedup candidate
    * pairs, sessions × sessions) is `right = left`. Everything is
    * exact integer/decimal counting INTERNALLY (the lcnt·rcnt product
    * and the ORDER BY ride decimal(38,0), so a 3e9×3e9 hot key ranks
    * first instead of wrapping negative) — two map-combined aggregates,
    * a key-equi join of key-cardinality-sized sides, one scalar total
    * broadcast back — so the report costs two scans however large the
    * join WOULD be; the keys it flags are exactly the ones whose single
    * shuffle partition would receive lcnt·rcnt rows. Output: top-`topN`
    * keys by `out_rows` desc (key asc tiebreak) with (key, lcnt, rcnt,
    * out_rows, skew); `out_rows` is EMITTED as double (the project-wide
    * output convention — no raw decimal output columns; the ranking
    * already happened exactly, and a diagnostic magnitude survives the
    * 2^53 boundary as a rounded double just fine). */
  def joinSkewReport(left: DataFrame, right: DataFrame, leftKey: String,
                     rightKey: String, topN: Int): DataFrame = {
    require(topN >= 1, s"topN must be >= 1, got $topN")
    val lc = left.groupBy(col(leftKey).as("key"))
      .agg(count(lit(1)).as("lcnt"))
    val rc = right.groupBy(col(rightKey).as("key"))
      .agg(count(lit(1)).as("rcnt"))
    // decimal(19,0)×decimal(19,0) → decimal(38,0): the product of two
    // ≳3e9-row hot keys (exactly the quadratic-blowup regime this probe
    // exists for) would wrap negative in long and the hottest key would
    // sort LAST and drop out of the report.
    val per = lc.join(rc, Seq("key"))
      .withColumn("out_rows",
        col("lcnt").cast("decimal(19,0)") * col("rcnt").cast("decimal(19,0)"))
    val tot = per.agg(sum(col("out_rows")).as("__total"),
      count(lit(1)).as("__nkeys"))
    per.crossJoin(broadcast(tot))
      .withColumn("skew", col("out_rows").cast("double") /
        (col("__total").cast("double") / col("__nkeys").cast("double")))
      .drop("__total", "__nkeys")
      .orderBy(col("out_rows").desc, col("key").asc)
      .limit(topN)
      // cast-at-the-boundary: the exact decimal already decided the
      // ranking above; the emitted column follows the all-double/bigint
      // output convention (a Project over the Sort+Limit — order kept)
      .withColumn("out_rows", col("out_rows").cast("double"))
  }
}
