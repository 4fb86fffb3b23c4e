package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet test tables (TESTDATA.md).
  *
  * Every table is a plain parquet directory/file; at cluster scale these
  * reads parallelize by parquet row-group splits automatically
  * (`spark.sql.files.maxPartitionBytes`), so no custom source is needed.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Dimension tables small enough to broadcast at any scale factor. */
  val broadcastable: Set[String] = Set("region", "nation")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  /** `events.ts` normalized to int64 nanos-since-epoch regardless of the
    * physical parquet type. The generator has shipped this column two ways
    * across testdata refreshes: TIMESTAMP(NANOS) (which, under
    * `spark.sql.legacy.parquet.nanosAsLong`, arrives as a plain LongType
    * of nanos) and TIMESTAMP(MICROS) (which arrives as TIMESTAMP_NTZ).
    * Every query treats `ts` as int64 nanos, so
    * normalize here — the single choke point — instead of per query.
    * The NTZ→long conversion relies on the session timezone being UTC
    * (all entry points set `spark.sql.session.timeZone=UTC`), matching
    * the generator's epoch-based values. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = load(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType => df // TIMESTAMP(NANOS) + nanosAsLong: already nanos
      case TimestampNTZType | TimestampType =>
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case other =>
        throw new IllegalStateException(s"events.ts: unexpected type $other")
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** The co-purchase edge list shared by the graph queries
    * (q176/q189/q196/q206/q212/q336): (i, j) part pairs with i < j
    * co-occurring in an order — ONE definition instead of six copies.
    *
    * The explicit `repartition(shufflePartitions, l_orderkey)` pins the
    * self-join's width to the session's shuffle parallelism (round 20,
    * guide §2.5): the join's reduce stage turns kilobytes of key
    * shuffle into O(Σ c_order²) pairs — extreme CPU-per-byte — and
    * AQE's BYTE-based coalescing ran it 3-wide on a 32-core box
    * (Profile r20: the 1.2–1.4 s 3-task job under q176/q196). A
    * user-numbered repartition is not AQE-coalescible, so the stage
    * runs at the width the planner would have chosen before
    * coalescing; both join sides read the SAME exchange
    * (ReuseExchange), so no second shuffle appears. At cluster scale
    * the shuffle is GBs, AQE would not have coalesced it, and the
    * explicit width equals the planner's own default — a no-op by
    * construction, not a local-mode tune. */
  def coPurchaseEdges(spark: SparkSession, dir: String): DataFrame = {
    val li = lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .repartition(spark.sessionState.conf.numShufflePartitions,
        col("l_orderkey"))
    li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("i"), col("b.l_partkey").as("j"))
  }
}
