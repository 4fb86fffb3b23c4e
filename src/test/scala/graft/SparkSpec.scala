package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM, one session). */
object SparkSpec {
  lazy val session: SparkSession =
    Diagnostics.localSession("4", "spark.app.name" -> "graft-test")
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf: String = "/root/testdata/sf0.001"

  /** The reference's differential pattern (`test/test_query.jl`): run `f`
    * at several partition counts and assert identical sorted results. */
  def partitionSweep[T](mk: Int => Seq[T]): Unit = {
    val base = mk(1)
    for (n <- 2 to 5) assert(mk(n) == base, s"partition sweep diverged at n=$n")
  }

  /** Assert the pkey sortedness half of the JTable invariant: the first
    * (long) key column is non-decreasing within every partition. */
  def assertSortedWithinPartitions(df: org.apache.spark.sql.DataFrame): Unit = {
    val perPart = df.rdd
      .mapPartitions(it => Iterator(it.map(_.getLong(0)).toSeq)).collect()
    perPart.foreach(p => assert(p == p.sorted, s"partition not sorted: $p"))
  }
}
