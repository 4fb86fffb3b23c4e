package graft

/** Per-job wall-time profile of one registry query — the measurement
  * companion to [[Explain]], and a view of [[Diagnostics.tracktime]]:
  * many operators here execute EAGERLY through the pinned-execution
  * bridge, so a single `queries(name)(spark, dir)` call can launch a
  * dozen Spark jobs before the noop sink even runs, and `explain` alone
  * cannot show where the seconds go. This runs the query (construction
  * + noop materialization) `iters` times after one excluded warmup and
  * prints per-iteration construction vs materialization split plus
  * every job of `Timings.jobs` — the "which of the 14 jobs is the
  * 800 ms one" readout that drives the optimization loop.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *   sbt "runMain graft.Profile q431_bootstrap_median_ci [iters]" */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <queryName> [iters]")
    val name = args(0)
    val iters = if (args.length > 1) args(1).toInt else 3
    val sfDir = Diagnostics.sfDir
    val spark = Diagnostics.localSession(Diagnostics.cpus)
    val fn = SparkEntry.queries(name)
    def once() = Diagnostics.tracktime(spark) {
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (t0, t1, System.nanoTime())
    }
    once()
    (1 to iters).foreach { i =>
      val ((t0, t1, t2), t) = once()
      println(f"[iter $i] construct ${(t1 - t0) / 1e9}%.3f s  " +
        f"materialize ${(t2 - t1) / 1e9}%.3f s  " +
        f"total ${(t2 - t0) / 1e9}%.3f s  " +
        f"codegen ${t.codegenClasses} classes ${t.codegenCompileMs}%.1f ms" +
        (if (t.complete) "" else "  [listener drain timed out: jobs incomplete]"))
      t.jobs.foreach { j =>
        val secs = j.endMs.fold("running")(e => f"${(e - j.startMs) / 1e3}%8.3f s")
        println(f"  job ${j.jobId}%3d  $secs  tasks=${j.tasks}%4d  ${j.description.getOrElse("")}")
      }
      val sum = t.jobs.flatMap(j => j.endMs.map(_ - j.startMs)).sum
      println(f"  jobs=${t.jobs.length}  sum-of-jobs ${sum / 1e3}%.3f s")
    }
    spark.stop()
  }
}
