package graft

import graft.operators.Analytics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `Analytics.prefixBefore` (the pinned range-slice fold plus driver
  * carry, `graftbridge.PrefixFold`) against a SQL window oracle:
  *
  *   coalesce(sum(w) OVER (PARTITION BY keys ORDER BY key
  *            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
  *
  * plus `sum(w)`/`min(key)`/`max(key) OVER (PARTITION BY keys)` for the
  * totals, compared row for row and schema for schema at one to five
  * range slices (AQE coalescing off, so the slice count is the shuffle
  * partition count). */
class PrefixFoldSpec extends SparkSpec {
  import spark.implicits._

  /** cum and tot types per weight type: `sum` widens integrals to long
    * and a decimal(p, s) to decimal(p + 10, s); cum is
    * `coalesce(sum(sum(w)), 0) + coalesce(sum(w), 0)`, whose Add rounds
    * decimal(38,18) to decimal(38,17). */
  private val outTypes: Map[DataType, (DataType, DataType)] = Map(
    LongType -> (LongType, LongType),
    IntegerType -> (LongType, LongType),
    DecimalType(10, 2) -> (DecimalType(31, 2), DecimalType(30, 2)),
    DecimalType(38, 18) -> (DecimalType(38, 17), DecimalType(38, 18)))

  private def withSlices[T](n: Int)(f: => T): T = {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), n.toString)
    spark.conf.set(keys(1), "false")
    try f
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private var view = 0

  /** The fold's sorted rows (after asserting its schema) and the
    * oracle's, cast to the fold's types. */
  private def both(df: DataFrame, keyCols: Seq[String], key: String,
                   withTotals: Boolean): (Seq[String], Seq[String]) = {
    val (cumT, totT) = outTypes(df.schema("w").dataType)
    val got = Analytics.prefixBefore(df, keyCols, key, Seq("w" -> col("w")),
      withTotals)._2
    val added =
      (if (withTotals) Seq(StructField("__tot_w", totT),
        StructField("__keymin", df.schema(key).dataType),
        StructField("__keymax", df.schema(key).dataType))
      else Nil) :+ StructField("__cum_w", cumT)
    assert(got.schema == StructType(df.schema.fields ++ added),
      s"schema ${got.schema.simpleString}")
    view += 1
    val name = s"prefix_fold_oracle_$view"
    df.createOrReplaceTempView(name)
    val part =
      if (keyCols.isEmpty) "" else keyCols.mkString("PARTITION BY ", ", ", "")
    val tot =
      if (!withTotals) ""
      else s"CAST(sum(w) OVER ($part) AS ${totT.sql}) AS __tot_w, " +
        s"min($key) OVER ($part) AS __keymin, " +
        s"max($key) OVER ($part) AS __keymax, "
    val want = spark.sql(s"SELECT *, $tot CAST(coalesce(sum(w) OVER ($part " +
      s"ORDER BY $key ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) " +
      s"AS ${cumT.sql}) AS __cum_w FROM $name")
    assert(want.schema.map(_.dataType) == got.schema.map(_.dataType))
    def rows(d: DataFrame) = d.collect().map(_.toString).toSeq.sorted
    (rows(got), rows(want))
  }

  /** Oracle equality at one to five slices, with and without totals. */
  private def sweep(df: DataFrame, keyCols: Seq[String], key: String): Unit =
    for (withTotals <- Seq(false, true)) partitionSweep { n =>
      withSlices(n) {
        val (got, want) = both(df, keyCols, key, withTotals)
        assert(got == want, s"slices=$n totals=$withTotals\n" +
          got.zip(want).filter(p => p._1 != p._2).take(5).mkString("\n"))
        got
      }
    }

  /** Distinct (g, v) pairs: a NULL group, a hot group of 150 rows that
    * spans three or more of five slices, a one-row group between two
    * larger ones, NULL keys and NULL weights. */
  private val keyed: DataFrame = {
    val hot = (1 to 150).map(i => (Option("hot"), Option(i.toLong),
      Option(i % 7).filter(_ != 3).map(_.toLong)))
    val rest = Seq[(Option[String], Option[Long], Option[Long])](
      (None, Some(1L), Some(5L)), (None, None, Some(2L)), (None, Some(4L), None),
      (Some("a"), None, Some(1L)), (Some("a"), Some(2L), Some(3L)),
      (Some("m"), Some(9L), Some(4L)),
      (Some("p"), Some(1L), None), (Some("p"), Some(2L), None)) ++
      (1 to 20).map(i => (Option("z"), Option(i.toLong), Option(2L)))
    (hot ++ rest).toDF("g", "v", "w")
  }

  test("prefixBefore == SQL window oracle, keyed: NULL groups, NULL keys, " +
    "NULL weights, an all-NULL-weight group, a hot group over >= 3 slices, " +
    "a one-row group inside a slice") {
    sweep(keyed, Seq("g"), "v")
    // the hot group really spans >= 3 of 5 slices, and at one slice the
    // one-row group "m" is interior (neither the slice's first nor last)
    withSlices(5) {
      val shared = Analytics.prefixBefore(keyed, Seq("g"), "v",
        Seq("w" -> col("w")))._1
      val hotSlices = shared.filter(col("g") === "hot")
        .select(spark_partition_id()).distinct().count()
      assert(hotSlices >= 3, s"hot group spans $hotSlices slices")
    }
    // two key columns, int weights
    val two = keyed.select(
      when(col("g").isNull, lit(null)).otherwise(length(col("g"))).as("g1"),
      col("g").as("g2"), col("v"), col("w").cast("int").as("w"))
    sweep(two, Seq("g1", "g2"), "v")
  }

  test("prefixBefore == SQL window oracle, global: decimal(38,18) and " +
    "decimal(10,2) weights with NULLs, a NULL key, string keys") {
    val dec = (1 to 60).map(i => (Option(i.toDouble * 1.5).filter(_ => i != 7),
      if (i % 9 == 0) None else Some(BigDecimal(i) / 3 + BigDecimal("1e-18"))))
      .toDF("v", "w")
    sweep(dec.withColumn("w", col("w").cast("decimal(38,18)")), Nil, "v")
    sweep(dec.withColumn("w", col("w").cast("decimal(10,2)")), Nil, "v")
    val str = (1 to 40).map(i => (f"k$i%03d", i.toLong)).toDF("v", "w")
    sweep(str, Nil, "v")
  }

  test("prefixBefore edge shapes: empty input, a single row, and a " +
    "one-row group inside a slice with and without totals") {
    sweep(Seq.empty[(Long, Long)].toDF("v", "w"), Nil, "v")
    sweep(Seq((7L, 3L)).toDF("v", "w"), Nil, "v")
    sweep(Seq.empty[(String, Long, Long)].toDF("g", "v", "w"), Seq("g"), "v")
    val single = Analytics.prefixBefore(Seq((7L, 3L)).toDF("v", "w"), Nil,
      "v", Seq("w" -> col("w")), withTotals = true)._2.collect()
    assert(single.toSeq == Seq(Row(7L, 3L, 3L, 7L, 7L, 0L)))
    // at one slice every group but the first and last is interior: the
    // buffered path must give the one-row group its own total
    withSlices(1) {
      val m = Analytics.prefixBefore(keyed, Seq("g"), "v",
        Seq("w" -> col("w")), withTotals = true)._2
        .filter(col("g") === "m").collect()
      assert(m.toSeq == Seq(Row("m", 9L, 4L, 4L, 9L, 9L, 0L)))
    }
  }

  test("prefixBefore: long overflow raises under ANSI; a float or double " +
    "weight fails the require") {
    // the last row's cum, Long.MaxValue + 5, overflows at any slicing
    val big = Seq((1L, Long.MaxValue - 1), (2L, 1L), (3L, 5L), (4L, 0L))
      .toDF("v", "w")
    if (spark.conf.get("spark.sql.ansi.enabled").toBoolean) {
      val e = intercept[Exception] {
        withSlices(2) {
          Analytics.prefixBefore(big, Nil, "v", Seq("w" -> col("w")))._2
            .collect()
        }
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("overflow")), e)
    }
    for (t <- Seq("double", "float")) {
      val e = intercept[IllegalArgumentException] {
        Analytics.prefixBefore(big, Nil, "v",
          Seq("w" -> col("w").cast(t)))
      }
      assert(e.getMessage.contains("float or double"), e.getMessage)
    }
  }
}
