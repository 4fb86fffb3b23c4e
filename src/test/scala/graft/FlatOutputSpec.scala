package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Registry-wide FLAT-OUTPUT lint — the driver-gate contract the q199
  * incident exposed (round 11's only non-green row): the driver's
  * correctness harness compares Spark vs DuckDB results through a pandas
  * `sort_values` + hash, which CRASHES on nested cells (`unhashable
  * type: numpy.ndarray`). So every registry query's OUTPUT schema must
  * be atomic columns only — no Array, Map, or Struct. Nested payloads
  * (sketches, projected vectors, centroid lists) must be reduced to
  * scalars (or exploded to one row per element, q199's fix) BEFORE the
  * query returns.
  *
  * The check reads `.schema`, which for most queries is plan
  * construction only — but a handful of registry entries are EAGER
  * (they collect a sketch or drive a MemoryStream to build their
  * result, e.g. q225/q232/q249), so building their DataFrame executes
  * real work at sf0.001. The lint therefore costs a small sf0.001 run,
  * not zero; in exchange it covers every query including the eager ones
  * and fails with the full list of offending (query, column, type)
  * triples — the lint a new batch hits at `sbt test` time instead of at
  * the next round's driver gate.
  */
class FlatOutputSpec extends SparkSpec {

  private def isAtomic(dt: DataType): Boolean = dt match {
    case _: ArrayType | _: MapType | _: StructType => false
    case _ => true
  }

  /** The q462 incident (rounds 19-20): pandas reads a DECIMAL parquet
    * column as `Decimal` objects while DuckDB's `.df()` returns the
    * same column as float64, so the driver's hash differs even when
    * every value is equal. Registry outputs quantize through a decimal
    * cast and emit DOUBLE (the `SparkEntry` header convention). */
  private def isDecimal(dt: DataType): Boolean = dt.isInstanceOf[DecimalType]

  /** (column, type, rule) for every output column that breaks the
    * driver's pandas oracle compare. */
  private def offenders(schema: StructType): Seq[(String, String, String)] =
    schema.fields.toSeq.collect {
      case f if !isAtomic(f.dataType) => (f.name, f.dataType.sql, "nested")
      case f if isDecimal(f.dataType) => (f.name, f.dataType.sql, "decimal")
    }

  test("every registry query emits only atomic (driver-hashable) columns") {
    val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val schema =
          try fn(spark, sf).schema
          catch { case e: Throwable =>
            fail(s"$name failed to build at sf0.001: ${e.getMessage}", e)
          }
        offenders(schema).map { case (c, t, rule) => (name, c, t, rule) }
    }
    assert(bad.isEmpty,
      s"nested or decimal output columns break the driver's pandas " +
        "oracle compare (reduce nested payloads to scalars; cast " +
        "decimals to double):\n" +
        bad.map { case (q, c, t, r) => s"  $q.$c: $t ($r)" }.mkString("\n"))
  }

  test("doll: the rule flags a DECIMAL output column and a nested one, " +
    "and passes their double/scalar replacements") {
    import spark.implicits._
    val df = Seq((1L, 2.5)).toDF("id", "x")
      .select(col("id"), col("x").cast("decimal(28,4)").as("q"),
        array(col("x")).as("arr"),
        col("x").cast("decimal(28,4)").cast("double").as("q_ok"))
    assert(offenders(df.schema) == Seq(
      ("q", "DECIMAL(28,4)", "decimal"), ("arr", "ARRAY<DOUBLE>", "nested")))
    assert(offenders(df.select("id", "q_ok").schema).isEmpty)
  }
}
