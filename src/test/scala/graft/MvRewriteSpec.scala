package graft

import graft.plans.MvRewrite
import graft.plans.MvRewrite.MvDef
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Materialized-view rewrite (plans.MvRewrite): plan substitution fires
  * on exactly the declared shapes, is bit-identical to the raw
  * aggregation, and leaves everything else untouched. */
class MvRewriteSpec extends SparkSpec {

  private val raw = s"$sf/lineitem.parquet"

  private def mvSlice(f: DataFrame): DataFrame =
    f.groupBy("l_returnflag", "l_linestatus")
      .agg(sum(col("l_quantity").cast("decimal(18,2)"))
          .cast("decimal(18,2)").as("sum_qty"),
        count(lit(1)).as("cnt"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"))

  private val merge: Seq[(String, (Column, Column) => Column)] = Seq(
    "sum_qty" -> ((a, b) => (a + b).cast("decimal(18,2)")),
    "cnt" -> ((a, b) => a + b),
    "min_qty" -> ((a, b) => least(a, b)),
    "max_qty" -> ((a, b) => greatest(a, b)))

  /** Build + register a fresh rollup at `mvDir`; run `body` with it;
    * deregister. */
  private def withMv[T](mvDir: String =
      java.nio.file.Files.createTempDirectory("graft-mvspec-")
        .toAbsolutePath.toString + "/rollup")(body: String => T): T = {
    val li = spark.read.parquet(raw)
    graft.sources.IO.upsertAggregate(spark, mvDir,
      mvSlice(li.filter(col("l_orderkey") % 2 === 0)),
      Seq("l_returnflag"), Seq("l_linestatus"), merge)
    graft.sources.IO.upsertAggregate(spark, mvDir,
      mvSlice(li.filter(col("l_orderkey") % 2 === 1)),
      Seq("l_returnflag"), Seq("l_linestatus"), merge)
    MvRewrite.register(spark, MvDef(raw, mvDir,
      keyCols = Set("l_returnflag", "l_linestatus"),
      sumCols = Map("l_quantity" -> "sum_qty"),
      countCol = Some("cnt"),
      minCols = Map("l_quantity" -> "min_qty"),
      maxCols = Map("l_quantity" -> "max_qty")))
    try body(mvDir) finally MvRewrite.deregister(raw)
  }

  private def readsRollup(df: DataFrame, mvDir: String): Boolean =
    MvRewrite.rewritten(df, raw, mvDir)

  private def q(df: DataFrame): DataFrame =
    df.groupBy("l_returnflag", "l_linestatus")
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sum_qty"),
        count(lit(1)).as("cnt"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"))

  test("mv rewrite: fires on the declared shapes, bit-identical results") {
    withMv() { mvDir =>
      val viaMv = q(spark.read.parquet(raw))
      assert(readsRollup(viaMv, mvDir), "full-key aggregate did not rewrite")
      val viaMvRows = viaMv.orderBy("l_returnflag", "l_linestatus").collect()
      MvRewrite.deregister(raw)
      val rawRows = q(spark.read.parquet(raw))
        .orderBy("l_returnflag", "l_linestatus").collect()
      assert(viaMvRows.toSeq == rawRows.toSeq)
    }
  }

  test("mv rewrite: key-subset grouping, global agg, key filter") {
    withMv() { mvDir =>
      def sub(df: DataFrame) = df.groupBy("l_returnflag")
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("s"),
          count(lit(1)).as("c"))
      val viaMv = sub(spark.read.parquet(raw))
      assert(readsRollup(viaMv, mvDir), "key-subset aggregate did not rewrite")
      val got = viaMv.orderBy("l_returnflag").collect()

      val glob = spark.read.parquet(raw)
        .agg(count(lit(1)).as("c"), max(col("l_quantity")).as("m"))
      assert(readsRollup(glob, mvDir), "global aggregate did not rewrite")
      val gotGlob = glob.collect()

      val filt = spark.read.parquet(raw)
        .filter(col("l_linestatus") === "F")
        .groupBy("l_returnflag").agg(count(lit(1)).as("c"))
      assert(readsRollup(filt, mvDir), "key-filtered aggregate did not rewrite")
      val gotFilt = filt.orderBy("l_returnflag").collect()

      MvRewrite.deregister(raw)
      assert(got.toSeq == sub(spark.read.parquet(raw))
        .orderBy("l_returnflag").collect().toSeq)
      assert(gotGlob.toSeq == spark.read.parquet(raw)
        .agg(count(lit(1)).as("c"), max(col("l_quantity")).as("m"))
        .collect().toSeq)
      assert(gotFilt.toSeq == spark.read.parquet(raw)
        .filter(col("l_linestatus") === "F")
        .groupBy("l_returnflag").agg(count(lit(1)).as("c"))
        .orderBy("l_returnflag").collect().toSeq)
    }
  }

  test("mv rewrite: cast-after-sum house style fires and re-wraps") {
    withMv() { mvDir =>
      def cq(df: DataFrame) = df.groupBy("l_returnflag")
        .agg(sum(col("l_quantity").cast("decimal(18,2)"))
            .cast("double").as("sum_qty"),
          count(lit(1)).cast("double").as("cnt_d"))
      val viaMv = cq(spark.read.parquet(raw))
      assert(readsRollup(viaMv, mvDir), "cast-wrapped aggregate did not rewrite")
      val got = viaMv.orderBy("l_returnflag").collect()
      MvRewrite.deregister(raw)
      assert(got.toSeq == cq(spark.read.parquet(raw))
        .orderBy("l_returnflag").collect().toSeq)
    }
  }

  test("mv rewrite: parent operators above the aggregate still resolve") {
    withMv() { mvDir =>
      val df = q(spark.read.parquet(raw))
        .withColumn("avg_qty",
          col("sum_qty").cast("double") / col("cnt").cast("double"))
        .orderBy(col("cnt").desc, col("l_returnflag"), col("l_linestatus"))
      assert(readsRollup(df, mvDir), "aggregate under sort/project did not rewrite")
      val got = df.collect()
      MvRewrite.deregister(raw)
      val want = q(spark.read.parquet(raw))
        .withColumn("avg_qty",
          col("sum_qty").cast("double") / col("cnt").cast("double"))
        .orderBy(col("cnt").desc, col("l_returnflag"), col("l_linestatus"))
        .collect()
      assert(got.toSeq == want.toSeq)
    }
  }

  test("mv rewrite: a rollup path longer than the plan string shows " +
    "still reads as rewritten") {
    // the plan string abbreviates each scan location to 100 characters
    // (spark.sql.maxMetadataStringLength), so the rollup dir's last name
    // is cut off here, as it is for q200/q216 under a long java.io.tmpdir
    val base = java.nio.file.Files.createTempDirectory("mvspec-long-")
      .toAbsolutePath.toString
    val mvDir = s"$base/${"nested-level-" * 8}graft-mvspec-rollup"
    assert(mvDir.length > 120, mvDir)
    withMv(mvDir) { _ =>
      val viaMv = q(spark.read.parquet(raw))
      assert(readsRollup(viaMv, mvDir), "long-path rollup did not rewrite")
      assert(!readsRollup(q(spark.read.parquet(raw).filter(
        col("l_quantity") > 10)), mvDir), "a non-key filter must read raw")
    }
  }

  test("mv rewrite: undeclared shapes are left strictly untouched") {
    withMv() { _ =>
      def readsRaw(df: DataFrame) =
        df.queryExecution.executedPlan.toString.contains("lineitem.parquet")
      // avg: not a declared mergeable
      assert(readsRaw(spark.read.parquet(raw)
        .groupBy("l_returnflag").agg(avg("l_quantity"))))
      // sum of an undeclared column
      assert(readsRaw(spark.read.parquet(raw)
        .groupBy("l_returnflag")
        .agg(sum(col("l_discount").cast("decimal(18,2)")))))
      // sum at a DIFFERENT decimal type than stored
      assert(readsRaw(spark.read.parquet(raw)
        .groupBy("l_returnflag")
        .agg(sum(col("l_quantity").cast("decimal(12,2)")))))
      // distinct aggregate
      assert(readsRaw(spark.read.parquet(raw)
        .groupBy("l_returnflag").agg(countDistinct("l_linestatus"))))
      // filter on a NON-key column
      assert(readsRaw(spark.read.parquet(raw)
        .filter(col("l_quantity") > 10)
        .groupBy("l_returnflag").agg(count(lit(1)))))
      // grouping by a non-key column
      assert(readsRaw(spark.read.parquet(raw)
        .groupBy("l_suppkey").agg(count(lit(1)))))
    }
  }
}
