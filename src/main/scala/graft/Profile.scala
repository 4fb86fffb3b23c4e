package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Per-job wall-time profile of one registry query — the measurement
  * companion to [[Explain]]: many operators here execute EAGERLY through
  * the pinned-execution bridge, so a single `queries(name)(spark, dir)`
  * call can launch a dozen Spark jobs before the noop sink even runs,
  * and `explain` alone cannot show where the seconds go. This runs the
  * query (construction + noop materialization) `iters` times after one
  * excluded warmup, with a listener recording each job's [start, end]
  * wall span, and prints per-iteration construction vs materialization
  * split plus every job's duration — the "which of the 14 jobs is the
  * 800 ms one" readout that drives the optimization loop.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *   sbt "runMain graft.Profile q431_bootstrap_median_ci [iters]" */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <queryName> [iters]")
    val name = args(0)
    val iters = if (args.length > 1) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, String, Int)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs.put(js.jobId, (js.time, desc, js.stageInfos.map(_.numTasks).sum))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.remove(je.jobId)).foreach { case (t0, desc, nt) =>
          done.add((je.jobId, t0, je.time, desc, nt))
        }
      }
    })
    val fn = SparkEntry.queries(name)
    def once(label: String, print: Boolean): Unit = {
      done.clear()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      // listener events are async: drain the bus before reading the
      // job list, and say so when the drain timed out
      val drained = Diagnostics.drainListenerBus(spark.sparkContext)
      if (print) {
        println(f"[$label] construct ${(t1 - t0) / 1e9}%.3f s  " +
          f"materialize ${(t2 - t1) / 1e9}%.3f s  " +
          f"total ${(t2 - t0) / 1e9}%.3f s" +
          (if (drained) "" else "  [listener drain timed out: jobs incomplete]"))
        val js = done.toArray(Array.empty[(Int, Long, Long, String, Int)])
          .sortBy(_._1)
        js.foreach { case (id, s, e, desc, nt) =>
          println(f"  job $id%3d  ${(e - s) / 1e3}%8.3f s  tasks=$nt%4d  $desc")
        }
        println(f"  jobs=${js.length}  sum-of-jobs ${js.map(j => j._3 - j._2).sum / 1e3}%.3f s")
      }
    }
    once("warmup", print = false)
    (1 to iters).foreach(i => once(s"iter $i", print = true))
    spark.stop()
  }
}
