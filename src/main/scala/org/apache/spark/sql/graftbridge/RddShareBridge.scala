package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}

/** Pin ONE physical execution of a DataFrame that several branches of a
  * downstream plan will consume, WITHOUT materializing it to storage.
  *
  * Why it exists (round 15): the prefix family read one range-exchanged
  * frame from two plan branches, and when Catalyst plans a shared
  * subtree twice, each instance re-executes the range exchange — a
  * RangePartitioner samples its bounds per execution, so at 50M rows
  * with a complex upstream lineage AQE's runtime decisions diverged
  * between the two instances and the branches sliced the keys
  * differently (caught live by the operator's range-slice guard).
  * `ReuseExchange` usually dedupes the subtree, but that is an
  * optimizer courtesy, not a contract. Today `Analytics.prefixBefore`
  * pins its slice-sorted frame here and runs its summary job and its
  * per-slice fold ([[PrefixFold]]) over the ONE pinned RDD;
  * `runningMinDescIncl` and several callers still consume a pinned
  * frame from several plan branches.
  *
  * `localCheckpoint` fixes it structurally but WRITES the frame to block
  * storage (measured 2.3× on the 50M-distinct percentile stress arm).
  * This bridge instead wraps the frame's already-planned RDD in a new
  * leaf: both consumers then share ONE RDD lineage, so the exchange's
  * map stage runs once and each branch merely re-fetches the same
  * shuffle files — exactly `ReuseExchange`'s economics, with RDD-layer
  * semantics (one `ShuffleDependency`) as the guarantee instead of plan
  * canonicalization. Task retries re-fetch the same shuffle output, so
  * partition membership — and therefore `spark_partition_id()` — is
  * stable across both branches by construction.
  *
  * EXECUTION IS EAGER, AT CONSTRUCTION (round 16, was mis-documented as
  * lazy): `queryExecution.toRdd` calls `executedPlan.execute()`, and
  * with AQE enabled (the default, which the repo relies on)
  * `AdaptiveSparkPlanExec.execute()` materializes every upstream query
  * stage synchronously — the range exchange's map job RUNS here, before
  * the caller's first action (and even without AQE the RangePartitioner
  * sampling job would). Consequences callers accept: (1) every
  * prefix-family operator launches Spark jobs at DataFrame BUILD time
  * (the pin's, plus the fold's one summary job) and snapshots its
  * input as of that moment; (2) those jobs are attributed to their own
  * SQL execution (the `withNewExecutionId` wrap in [[pin]]) rather
  * than dangling outside any execution id. This is
  * the right trade for the internal operators that use the bridge —
  * they build the frame and consume it immediately.
  *
  * `LogicalRDD`, `SQLExecution` and `queryExecution.toRdd` are
  * `private[sql]`, hence this file lives in the `org.apache.spark.sql`
  * namespace (the ColumnBridge discipline: the bridges are the only
  * places graft touches non-public Spark API).
  *
  * THE WHOLE CONTRACT IS EXECUTABLE: `graft.BridgeContractSpec`
  * (round 17) asserts eager-once execution, the one-RDD-lineage
  * guarantee (the prefix fold's summary and fold over one
  * ShuffleDependency), the clustered claim's exchange elision, and SQL
  * execution-id attribution in one suite — a Spark version bump that
  * breaks any clause flares there first — and its misuse-doll test
  * proves the shuffled-join-against-claimed-leaf walker fires on the
  * silent-miss shape documented below. */
object RddShareBridge {
  def sharedExecution(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    shared(df, None)

  /** [[sharedExecution]] plus a CLUSTERING claim: declares the pinned
    * leaf hash-partitioned on `clusterCols`, so downstream operators
    * whose requirement is `ClusteredDistribution(clusterCols ⊆ …)` —
    * windows, aggregations — elide their shuffle and run directly on
    * the pinned partitions.
    *
    * THE CLAIM IS A CONTRACT THE CALLER MUST HOLD, NOT A FACT SPARK
    * VERIFIES. `HashPartitioning(cols, n)` promises two things: (a)
    * equal values co-locate (clustering), and (b) rows sit at partition
    * `hash(cols) % n` (placement). For a frame whose `clusterCols` is
    * `spark_partition_id()` derived IN the pinned execution, (a) holds
    * trivially — every row of partition i carries pid = i, stable
    * under task retry (same shuffle files re-fetched) — but (b) is
    * FALSE (the row with pid = i sits at partition i, not at
    * hash(i) % n). Safe consumers are the clustering-only ones: a
    * Window partitioned on a superset of the claimed columns, a
    * groupBy on a superset, a broadcast join. UNSAFE is any plan where
    * EnsureRequirements may co-partition a SHUFFLED other side against
    * this claim (a sort-merge/shuffled-hash join keyed on the claimed
    * columns): the other side would land at hash(i) % n while this
    * side sits at i, and matches silently miss. Callers therefore only
    * use this variant when every join against the claimed frame is
    * structurally broadcast (`runningMinDescIncl` — its #partitions-row
    * offset table is broadcast-hinted). Its (min,max) range guard
    * remains the loud backstop: a missed offset row surfaces as
    * raise_error, never as a silently wrong running min. */
  def sharedExecutionClusteredBy(df: org.apache.spark.sql.DataFrame,
      clusterCols: Seq[String]): org.apache.spark.sql.DataFrame =
    shared(df, Some(clusterCols))

  private def shared(df: org.apache.spark.sql.DataFrame,
      clusterCols: Option[Seq[String]]): org.apache.spark.sql.DataFrame = {
    val (p, _) = pin(df)(_ => ())
    p.frame(clusterCols match {
      case Some(cols) if p.rdd.getNumPartitions > 0 =>
        HashPartitioning(
          cols.map(c => p.output.find(_.name == c).getOrElse(throw
            new IllegalArgumentException(
              s"sharedExecutionClusteredBy: no column '$c' in " +
                p.output.map(_.name).mkString("[", ",", "]")))),
          p.rdd.getNumPartitions)
      case _ => UnknownPartitioning(0)
    })
  }

  /** One pinned execution: its session, output attributes and RDD. */
  private[graftbridge] final case class Pinned(spark: SparkSession,
      output: Seq[Attribute], rdd: RDD[InternalRow]) {
    /** A `LogicalRDD` leaf over `rdd` declaring `partitioning`. */
    def frame(partitioning: Partitioning): org.apache.spark.sql.DataFrame =
      Dataset.ofRows(spark, LogicalRDD(output, rdd, partitioning)(spark))
  }

  /** Pin `df`'s execution: the eager `toRdd` (its upstream stages run
    * now) under a `graft-shared-exec` SQL execution id. `within` runs
    * inside that SAME execution id on the pinned RDD, so jobs it
    * launches (the prefix fold's summary) are attributed with the
    * pin's. */
  private[graftbridge] def pin[T](df: org.apache.spark.sql.DataFrame)(
      within: RDD[InternalRow] => T): (Pinned, T) = {
    val classic = df.asInstanceOf[Dataset[org.apache.spark.sql.Row]]
    val qe = classic.queryExecution
    // attribute the eagerly-materialized AQE stages to an execution id
    // (nested-execution contexts restore the outer id on exit)
    val (rdd, t) =
      SQLExecution.withNewExecutionId(qe, Some("graft-shared-exec")) {
        val rdd = qe.toRdd
        (rdd, within(rdd))
      }
    (Pinned(classic.sparkSession, qe.analyzed.output, rdd), t)
  }
}
