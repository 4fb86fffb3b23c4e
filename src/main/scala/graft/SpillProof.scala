package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession

/** Round-8 out-of-core proof: run a window-heavy operator on the stress
  * fixture in a deliberately memory-tight JVM and show it goes GREEN by
  * SPILLING, not by fitting. The reference documents out-of-core
  * execution as its scale contract (`docs/src/out_of_core.md:5-19`);
  * Spark's analog is the UnsafeExternalSorter spill path under the
  * unified memory manager — cited in SCALE.md since round 1, measured
  * here for the first time. Run:
  *
  *   SPARK_DRIVER_MEM=2g SPARK_GRAFT_CPUS=8 sbt -batch "runMain graft.SpillProof"
  *
  * The heap comes from build.sbt's javaOptions (SPARK_DRIVER_MEM); the
  * execution-memory pool is squeezed further with memory.fraction=0.1
  * (~170 MB for 8 tasks), far below the plain asof join's hot-user
  * window partition (1.25M rows ≈ 100+ MB in one task). The run must
  * (a) complete with the exact expected row count (left rows preserved
  * by asof-left semantics) and (b) report spilledBytes > 0 through
  * Diagnostics.tracktime — proving the sort/window path degrades to
  * disk instead of dying when a partition outgrows memory. */
object SpillProof {
  def main(args: Array[String]): Unit = {
    val cpus = Diagnostics.cpus
    val spark = Diagnostics.localSession(cpus,
      // squeeze the unified pool so the hot window partition cannot fit:
      // the point is the spill path, not a big heap
      "spark.memory.fraction" -> "0.1",
      // the boundary arms must observe the STATIC plan choice: AQE's
      // skew split would re-partition the SHJ build reads and move the
      // failure point with it (that defense is measured separately in
      // CoreSpec "AQE skew split fires…") — here we demonstrate the raw
      // build-side no-spill contract itself
      "spark.sql.adaptive.enabled" ->
        (if (args.headOption.contains("shj_boundary")) "false" else "true"))
    val heapMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    System.err.println(s"[spill] heap ${heapMb} MB, memory.fraction 0.1, local[$cpus]")
    if (args.headOption.contains("shj_boundary")) { shjBoundary(spark, heapMb); return }

    val events = spark.read.parquet("/tmp/graft_stress/events_stress")
    val l = events.filter(col("event_type") === "purchase")
    val r = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"),
        col("event_id").as("click_id"), col("value").as("click_value"))
    val expected = l.count()

    val df = graft.operators.Joins.asofJoin(l, r, Seq("user_id"), "ts", "ts",
      lCols = Seq("event_id", "value"), rValueCols = Seq("click_id", "click_value"))
    // track ONLY the noop-sink write, so the reported spill/run metrics
    // are the cost of ONE full-width execution. The row-count check runs
    // UNTRACKED afterwards: count() is correct for cardinality but its
    // plan prunes the window's value columns (the round-7 lesson), so
    // folding it into the tracked block would both double the metrics
    // and mix in a degenerate plan's tasks.
    val (_, timings) = Diagnostics.tracktime(spark) {
      df.write.format("noop").mode("overwrite").save()
    }
    val rows = df.count()
    System.err.println(timings.summary)
    val spilled = timings.tasks.spilledBytes
    val ok = rows == expected && spilled > 0
    println(s"""{"spill_proof":{"rows":$rows,"expected":$expected,""" +
      s""""spilled_bytes":$spilled,"heap_mb":$heapMb,""" +
      s""""executor_run_ms":${timings.tasks.executorRunTimeMs},"ok":$ok}}""")
    if (!ok) {
      System.err.println(s"[spill] FAILED: rows=$rows expected=$expected spilled=$spilled")
      spark.stop(); sys.exit(1)
    }
    spark.stop()
  }

  /** The OTHER side of the memory contract (Dedup.jaccardPairs doc): the
    * SHJ build-side hash relation does NOT spill — in a starved JVM the
    * build must fail LOUDLY with Spark's cannot-acquire-memory error,
    * while the `merge` strategy on the IDENTICAL input goes green by
    * spilling its sorts. Run:
    *
    *   SPARK_DRIVER_MEM=2g SPARK_GRAFT_CPUS=8 \
    *     sbt -batch "runMain graft.SpillProof shj_boundary"
    *
    * Arms (docs_stress corpus, ~10M exploded index rows):
    *  - shj_uncapped: SHUFFLE_HASH, no cap — expect the build failure
    *  - shj_capped:   SHUFFLE_HASH, maxDF=100 — the cap removes the hot
    *    shingle's O(df²) OUTPUT but only ~5k of ~10M index rows, so the
    *    per-task BUILD is virtually unchanged; whether this arm fails
    *    too is exactly what the run measures (the cap and the strategy
    *    are orthogonal knobs — output work vs build memory)
    *  - merge_uncapped: SMJ on the same uncapped input — expect green
    *    via sort spill, proving the failure is the SHJ build side, not
    *    the input size.
    *
    * MEASURED (round 9, heap 2048 MB): shj_uncapped FAILED with
    * "Can't acquire 16777216 bytes memory to build hash relation";
    * shj_capped FAILED with the same error (orthogonality confirmed);
    * merge_uncapped GREEN with 6.76 GB spilled
    * (target/shj_boundary_latest.json, NOTES_r9.md). */
  private def shjBoundary(spark: SparkSession, heapMb: Long): Unit = {
    import graft.functions.Dedup
    val docs = spark.read.parquet("/tmp/graft_stress/docs_stress")
    def jaccard(maxDF: Long, strategy: String) =
      Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.8,
        maxDF = maxDF, hashShingles = true, joinStrategy = strategy)
    def attempt(name: String, maxDF: Long, strategy: String): (String, String) = {
      try {
        val (_, timings) = Diagnostics.tracktime(spark) {
          jaccard(maxDF, strategy).write.format("noop").mode("overwrite").save()
        }
        val sp = timings.tasks.spilledBytes
        System.err.println(s"[shj] $name: GREEN, spilled_bytes=$sp")
        (name, s"""{"outcome":"green","spilled_bytes":$sp}""")
      } catch { case e: Throwable =>
        // the interesting failure is Spark's explicit build-side
        // acquisition error; walk the cause chain for it
        def chain(t: Throwable): Seq[Throwable] =
          if (t == null) Seq.empty else t +: chain(t.getCause)
        val msgs = chain(e).map(t => s"${t.getClass.getSimpleName}: ${t.getMessage}")
        val hit = msgs.exists(m => m.contains("acquire") && m.contains("memory")) ||
          msgs.exists(_.contains("UnsafeHashedRelation"))
        System.err.println(s"[shj] $name: FAILED ${msgs.headOption.getOrElse("?")}")
        (name, s"""{"outcome":"failed","expected_error":$hit,""" +
          s""""error":"${msgs.headOption.getOrElse("").replace("\"", "'").take(200)}"}""")
      }
    }
    val arms = Seq(
      attempt("shj_uncapped", 0L, "shuffle_hash"),
      attempt("shj_capped", 100L, "shuffle_hash"),
      attempt("merge_uncapped", 0L, "merge"))
    val payload = arms.map { case (n, j) => s""""$n":$j""" }
      .mkString(s"""{"shj_boundary":{"heap_mb":$heapMb,""", ",", "}}")
    println(payload)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/shj_boundary_latest.json"), payload + "\n")
    catch { case e: Throwable => System.err.println(s"[shj] file write: $e") }
    spark.stop()
  }
}
