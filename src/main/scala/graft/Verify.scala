package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: only run queries whose name contains ANY of the
    // comma-separated substrings (local iteration aid; the driver always
    // passes exactly 2 args)
    val Array(sfDir, outDir) = args.take(2)
    val nameFilter = args.lift(2)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val spark = Diagnostics.localSession(Diagnostics.cpus)
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => nameFilter.forall(_.exists(name.contains)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name
      }
    }
    // Round-10 lesson: a query that throws here is simply ABSENT from the
    // driver's CORRECTNESS compare, so coverage can shrink while every
    // remaining row stays green ("all pass" on 116/123). Surface the loss
    // loudly: a machine-readable status file next to the outputs plus an
    // unmissable stderr banner. rc stays 0 so the driver still runs the
    // DuckDB compare over the queries that DID produce output.
    if (failed.nonEmpty) {
      System.err.println(s"[verify] *** ${failed.size}/${SparkEntry.queries.size} queries FAILED " +
        s"(absent from correctness compare): ${failed.mkString(", ")} ***")
    }
    Files.writeString(Paths.get(s"$outDir/_verify_status.json"),
      s"""{"declared":${SparkEntry.queries.size},"failed":[${failed.map("\"" + _ + "\"").mkString(",")}]}""")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
