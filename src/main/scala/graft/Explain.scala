package graft

/** Dump formatted physical plans for the headline queries — the
  * plan-inspection loop: check pushed filters, read schemas, broadcast vs
  * SMJ choices, and whole-stage codegen spans. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = Diagnostics.sfDir
    val spark = Diagnostics.localSession(Diagnostics.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.benchQueries
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
