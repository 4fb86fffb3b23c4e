package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, BroadcastQueryStageExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.RddShareBridge

import graft.operators.Analytics

/** THE bridge contract, asserted in one place (round 17, VERDICT r16
  * Next #1/#2). `RddShareBridge` + `ColumnBridge` ride `private[sql]`
  * API (`LogicalRDD`, `qe.toRdd`, `SQLExecution`) and sit under the
  * entire exact-statistics family — a Spark version bump that changes
  * any of their semantics must produce ONE red flare here, not a
  * scatter of range-guard aborts at 50M rows. The four clauses:
  *
  *  1. EAGER, ONCE: construction materializes the upstream map stage
  *     synchronously, and downstream branches only re-fetch shuffle
  *     files (never re-run the map side) — asserted with a row-scan
  *     accumulator through the input RDD.
  *  2. ONE lineage: the prefix fold's summary job and its per-slice
  *     fold both read the SAME pinned RDD (one ShuffleDependency, the
  *     structural slice-consistency guarantee), and the summary runs
  *     once, under the pin's execution id.
  *  3. The pid-clustered CLAIM elides the consumer-side exchange: a
  *     window over `__pid` on a claimed frame plans with ZERO
  *     shuffles, while the same window on the unclaimed bridge pays
  *     one — the claim is load-bearing, not decorative.
  *  4. Execution attribution: the eager construction jobs carry a SQL
  *     execution id (no dangling jobs in the UI).
  *
  * Plus the MISUSE TRIPWIRE ([[shuffledJoinsAgainstClaimedLeaf]]):
  * the claim's hash-placement half is FALSE (row with pid = i sits at
  * partition i, not hash(i) % n), so a planner-chosen SHUFFLED join
  * that co-partitions another side against the claimed leaf silently
  * misses matches (`RddShareBridge.scala` scaladoc). Every
  * `sharedExecutionClusteredBy` consumer is walked here and a
  * deliberate-misuse doll proves the walker fires. */
class BridgeContractSpec extends SparkSpec {

  /** Plan nodes reachable WITHOUT crossing a shuffle or broadcast
    * boundary — the region over which a leaf's claimed partitioning
    * still governs row placement (an exchange re-partitions honestly,
    * so anything behind one is safe). */
  private def reachableNoExchange(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case _: ShuffleQueryStageExec | _: BroadcastQueryStageExec |
           _: ShuffleExchangeExec | _: BroadcastExchangeExec |
           _: ReusedExchangeExec => Seq.empty
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: kids.flatMap(reachableNoExchange)
  }

  /** A claimed leaf: the bridge's pinned `LogicalRDD` plans as an
    * `RDDScanExec` carrying the declared `HashPartitioning` — the
    * `__pid` column in the claim is the convention's fingerprint
    * (nothing else in graft hash-claims a pid column). */
  private def isClaimedLeaf(p: SparkPlan): Boolean = p match {
    case r: RDDScanExec => r.outputPartitioning match {
      case h: HashPartitioning =>
        h.expressions.exists(_.references.exists(_.name == "__pid"))
      case _ => false
    }
    case _ => false
  }

  /** THE TRIPWIRE (VERDICT r16 Next #1): shuffled joins whose
    * co-partitioning leans on a claimed leaf's false hash-placement.
    * Returns one description per violation; empty = plan safe. Walk
    * the FINAL (post-AQE) plan, so run the query first. */
  private def shuffledJoinsAgainstClaimedLeaf(df: DataFrame): Seq[String] =
    Diagnostics.planNodes(df.queryExecution.executedPlan)
      .filter(p => p.isInstanceOf[SortMergeJoinExec] ||
        p.isInstanceOf[ShuffledHashJoinExec])
      .flatMap { j =>
        val hit = j.children.flatMap(reachableNoExchange)
          .filter(isClaimedLeaf)
        if (hit.nonEmpty)
          Some(s"${j.nodeName} reaches a __pid-claimed RDDScanExec " +
            "without an intervening exchange - the other side " +
            "co-partitions to hash(pid) % n while the claimed side " +
            "sits at partition pid: matches silently miss")
        else None
      }

  private def assertNoShuffledJoinAgainstClaimedLeaf(
      name: String, df: DataFrame): Unit = {
    df.write.format("noop").mode("overwrite").save() // finalize AQE
    val v = shuffledJoinsAgainstClaimedLeaf(df)
    assert(v.isEmpty, s"$name: ${v.mkString("; ")}\n" +
      df.queryExecution.executedPlan.toString)
  }

  test("tripwire: every sharedExecutionClusteredBy consumer plans " +
    "zero shuffled joins against the claimed leaf (global prefix, " +
    "chained prefixes, suffix-cummin, signed-rank)") {
    import spark.implicits._
    val vals = (1 to 5000).map(i => ((i * 7 % 97).toDouble,
      (i * 13 % 89).toDouble)).toDF("x", "y")
    // the prefix family through four public faces (incl. the
    // two-chained-prefix pettitt and the signed-rank family) must stay
    // claim-free now that the prefix is a fold; bhAdjust covers
    // runningMinDescIncl, the claim site, plus a prefix in ONE plan.
    assertNoShuffledJoinAgainstClaimedLeaf("quantilesCont",
      graft.operators.Aggregations.quantilesCont(
        vals, "x", Seq(0.25, 0.5, 0.75)))
    assertNoShuffledJoinAgainstClaimedLeaf("pettittTest",
      Analytics.pettittTest(
        (1 to 2000).map(i => (i.toLong, (i * 11 % 101).toDouble))
          .toDF("t", "v"), "t", "v"))
    assertNoShuffledJoinAgainstClaimedLeaf("bhAdjust",
      Analytics.bhAdjust(
        (1 to 500).map(i => (i * 7 % 97 + 1).toDouble / 100.0)
          .toDF("p"), "p"))
    assertNoShuffledJoinAgainstClaimedLeaf("wilcoxonSignedRank",
      Analytics.wilcoxonSignedRank(vals, "x", "y"))
    assertNoShuffledJoinAgainstClaimedLeaf("kendallTauExact",
      Analytics.kendallTauExact(vals, "x", "y"))
  }

  test("tripwire doll: a DELIBERATE shuffled join against a claimed " +
    "frame fires the walker; the safe broadcast shape stays silent") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val ranged = spark.range(0, 1000)
        .select(col("id").cast("double").as("v"))
        .repartitionByRange(4, col("v"))
        .withColumn("__pid", spark_partition_id())
      val claimed = RddShareBridge
        .sharedExecutionClusteredBy(ranged, Seq("__pid"))
      val offsets = spark.range(0, 4)
        .select(col("id").cast("int").as("__pid"),
          (col("id") * 10).as("off"))
      // the documented silent-miss shape: SMJ keyed on the claimed col
      val doll = claimed.join(offsets.hint("shuffle_merge"), Seq("__pid"))
      doll.write.format("noop").mode("overwrite").save()
      assert(shuffledJoinsAgainstClaimedLeaf(doll).nonEmpty,
        "the walker MUST fire on a shuffled join against a claimed " +
          s"leaf:\n${doll.queryExecution.executedPlan}")
      // and the silent miss is REAL: partitions 1..3 sit at pid, the
      // shuffled side lands at hash(pid) % 4 - rows drop
      val matched = doll.count()
      val total = claimed.count()
      assert(matched < total,
        s"expected the misuse to LOSE rows ($matched vs $total) - if " +
          "this ever holds, Spark's hash placement changed and the " +
          "claim contract needs re-auditing")
      // negative control: broadcast join against the claim is the
      // sanctioned shape and must not trip the walker
      val safe = claimed.join(broadcast(offsets), Seq("__pid"))
      safe.write.format("noop").mode("overwrite").save()
      assert(shuffledJoinsAgainstClaimedLeaf(safe).isEmpty)
      assert(safe.count() == total)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("contract 1+4: construction is EAGER and runs the map stage " +
    "ONCE (branches re-fetch shuffle files), and the eager jobs carry " +
    "a SQL execution id") {
    val sc = spark.sparkContext
    val acc = sc.longAccumulator("bridge-contract-scans")
    val rows = sc.parallelize(1L to 1000L, 8).map { i =>
      acc.add(1)
      org.apache.spark.sql.Row(i)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType)))
    val ranged = spark.createDataFrame(rows, schema)
      .repartitionByRange(4, col("v"))
      .withColumn("__pid", spark_partition_id())
    assert(acc.value == 0L, "nothing may execute before the bridge")
    val (pinned, timings) =
      Diagnostics.tracktime(spark)(RddShareBridge.sharedExecution(ranged))
    val execIds = timings.jobs.map(_.executionId.getOrElse("MISSING"))
    // EAGER: the range exchange ran AT CONSTRUCTION - exactly two
    // input scans (the RangePartitioner bounds-sampling pass, then
    // the shuffle map stage; both are the documented construction
    // cost - a third scan here means the bridge started compiling
    // the plan twice, a Spark bump changing 2000 means the exchange
    // machinery itself changed shape and is worth re-auditing)
    assert(acc.value == 2000L,
      s"construction must scan the input exactly twice (sampling + " +
        s"map), saw ${acc.value}")
    // ...attributed to a SQL execution id, not dangling (contract 4)
    assert(execIds.nonEmpty && !execIds.contains("MISSING"),
      s"eager construction jobs must carry spark.sql.execution.id, " +
        s"saw $execIds")
    // ONCE: two consuming branches re-fetch the same shuffle files -
    // the input is NEVER re-scanned
    val c1 = pinned.filter(col("v") > 10).count()
    val c2 = pinned.groupBy("__pid").count().count()
    assert(c1 == 990L && c2 == 4L)
    assert(acc.value == 2000L,
      s"branches must NOT re-run the map stage, saw ${acc.value}")
  }

  test("contract 1+2+4 (prefix fold): construction runs the map stage " +
    "ONCE plus ONE summary job, all under the pin's execution id; the " +
    "fold maps the pinned RDD itself (one ShuffleDependency) and never " +
    "re-scans the input") {
    val sc = spark.sparkContext
    val acc = sc.longAccumulator("bridge-contract-fold-scans")
    val rows = sc.parallelize(1L to 1000L, 8).map { i =>
      acc.add(1)
      org.apache.spark.sql.Row(i)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType)))
    val dv = spark.createDataFrame(rows, schema)
    // the pin alone, on the frame prefixBefore pins, for the job count
    val (_, pinOnly) = Diagnostics.tracktime(spark)(
      RddShareBridge.sharedExecution(dv.repartitionByRange(col("v").asc)
        .withColumn("__w_w", lit(1L)).sortWithinPartitions(col("v").asc)))
    acc.reset()
    val ((shared, result), timings) = Diagnostics.tracktime(spark)(
      Analytics.prefixBefore(dv, Nil, "v", Seq("w" -> lit(1L))))
    // EAGER and ONCE: sampling + map scans, no third
    assert(acc.value == 2000L,
      s"construction must scan the input exactly twice, saw ${acc.value}")
    // ONE summary job beyond the pin's, inside the pin's execution id
    assert(timings.jobs.length == pinOnly.jobs.length + 1,
      s"expected the pin's ${pinOnly.jobs.length} job(s) plus ONE " +
        s"summary job, saw ${timings.jobs.length}")
    val execIds = timings.jobs.map(_.executionId.getOrElse("MISSING"))
    assert(execIds.distinct.length == 1 && !execIds.contains("MISSING"),
      s"every construction job (pin and summary) must run under the " +
        s"pin's ONE execution id, saw $execIds")
    // ONE lineage: the fold's leaf is a one-to-one map over the pinned
    // RDD, so both sit over the same ShuffleDependency
    def leaf(d: DataFrame) = d.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }
    def shuffles(r: org.apache.spark.rdd.RDD[_]): Set[Int] =
      r.dependencies.flatMap {
        case d: org.apache.spark.ShuffleDependency[_, _, _] =>
          Set(d.shuffleId) ++ shuffles(d.rdd)
        case d => shuffles(d.rdd)
      }.toSet
    val (Seq(pinned), Seq(fold)) = (leaf(shared), leaf(result))
    assert(fold.dependencies.map(_.rdd.id) == Seq(pinned.id),
      "the fold must map the pinned RDD itself")
    assert(shuffles(pinned).nonEmpty && shuffles(fold) == shuffles(pinned),
      s"fold and pin must share ONE ShuffleDependency: " +
        s"${shuffles(fold)} vs ${shuffles(pinned)}")
    // the fold re-fetches the pinned shuffle files: still two scans
    assert(result.count() == 1000L && shared.count() == 1000L)
    assert(acc.value == 2000L,
      s"the fold must NOT re-run the map stage, saw ${acc.value}")
  }

  test("contract 3: the pid-clustered claim elides the consumer " +
    "exchange - claimed window plans zero shuffles, unclaimed pays one") {
    def windowPlan(claim: Boolean): (DataFrame, Int) = {
      val ranged = spark.range(0, 2000)
        .select(col("id").cast("double").as("v"))
        .repartitionByRange(4, col("v"))
        .withColumn("__pid", spark_partition_id())
      val pinned =
        if (claim) RddShareBridge
          .sharedExecutionClusteredBy(ranged, Seq("__pid"))
        else RddShareBridge.sharedExecution(ranged)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("__pid").orderBy(col("v").asc)
        .rowsBetween(Long.MinValue, -1)
      val out = pinned.withColumn("c", count(lit(1)).over(w))
      out.write.format("noop").mode("overwrite").save()
      (out, PlanWalk.shuffleCount(out.queryExecution.executedPlan))
    }
    val (claimedOut, claimedShuffles) = windowPlan(claim = true)
    val (_, unclaimedShuffles) = windowPlan(claim = false)
    assert(claimedShuffles == 0,
      "the claim must let the window run ON the pinned partitions:\n" +
        claimedOut.queryExecution.executedPlan.toString)
    assert(unclaimedShuffles >= 1,
      "the unclaimed bridge should pay the window exchange - if it " +
        "stops doing so, the claim variant is dead weight; re-audit")
  }
}
