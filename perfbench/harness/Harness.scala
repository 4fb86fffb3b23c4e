package perfbench

import java.nio.file.{FileVisitResult, Files, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.GraftListenerShim
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.functions.{col, count, lit, shiftright, sum}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** JVM side of the benchmark: one closed-loop client timing registry
  * entries (`SparkEntry.queries(name)(spark, dir)`) from outside the
  * program.
  *
  * A run is: one set-up (start the session, open the tables, run every
  * call once for the first time), timed from JVM start to the end of the
  * warm-up, then timed passes until `seconds` have gone by and at least
  * `minPasses` passes are complete. The warm-up also dumps every output
  * for the oracle check. Every timed call has three phases: construct (the
  * registry call itself), plan (forcing `executedPlan`) and materialize (a
  * `noop`-format write). The seed fixes each pass's call order, so a burst
  * of host load lands on one sample of many calls.
  *
  * With `trace=1` the harness registers one SparkListener and one
  * StreamingQueryListener and writes every span (call, phase, job, stage)
  * and SQL execution to `trace.json`; with `trace=0` it registers nothing.
  * Raw numbers only: `run.py` turns them into metrics. */
object Harness {
  final case class Call(name: String, module: String, kind: String)

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  private val t0Nanos = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with sub-millisecond resolution, on the same
    * clock as the listener events' `System.currentTimeMillis` stamps. */
  private def nowMs(): Double = t0Ms + (System.nanoTime() - t0Nanos) / 1e6

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val calls = opt("calls").split(",").toSeq.map { s =>
      val Array(name, tag) = s.split(":")
      val Array(module, kind) = (tag.split("\\.") :+ "").take(2)
      Call(name, module, kind)
    }
    val dataDir = opt("data")
    val outDir = Paths.get(opt("out"))
    val scratch = Paths.get(opt("scratch")).toAbsolutePath
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val minPasses = opt("min-passes").toInt
    val cpus = opt("cpus").toInt
    val fns = graft.SparkEntry.queries
    val missing = calls.map(_.name).filterNot(fns.contains)
    require(missing.isEmpty, s"not in the registry: ${missing.mkString(", ")}")
    Files.createDirectories(outDir)

    val tracer = if (trace) Some(new Tracer) else None
    val records = new ConcurrentLinkedQueue[Map[String, Any]]()
    val callIds = new AtomicLong(0)

    def session(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.extensions", "graft.plans.GraftExtensions")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", scratch.resolve("local").toString)
        .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
        .config("spark.hadoop.hadoop.tmp.dir", scratch.resolve("tmp").toString)
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      tracer.foreach { t =>
        s.sparkContext.addSparkListener(t)
        s.streams.addListener(t.streams)
      }
      s
    }

    /** Run one call's three phases; returns its record. */
    def runCall(spark: SparkSession, c: Call, pass: Int,
                output: Option[Path] = None): Map[String, Any] = {
      val sc = spark.sparkContext
      val id = callIds.incrementAndGet()
      // traced runs tag every job and SQL execution with "perfbench:<call>:<phase>"
      var tag: String = null
      def phase(name: String): Unit = if (trace) {
        if (tag != null) sc.removeJobTag(tag)
        tag = s"perfbench:$id:$name"
        sc.addJobTag(tag)
      }
      val cg0 = CodeGenerator.compileTime
      val cgN0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val start = nowMs()
      var marks = Vector(start)
      var df: DataFrame = null
      val err = try {
        phase("construct"); df = fns(c.name)(spark, dataDir); marks :+= nowMs()
        phase("plan"); df.queryExecution.executedPlan; marks :+= nowMs()
        phase("materialize")
        output match {
          case None => df.write.format("noop").mode("overwrite").save()
          case Some(dir) => df.write.parquet(dir.resolve(c.name).toString)
        }
        marks :+= nowMs()
        None
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] ${c.name} failed: $e")
        Some(e.toString)
      } finally if (tag != null) sc.removeJobTag(tag)
      val phases = Seq("construct", "plan", "materialize").zip(marks.zip(marks.drop(1)))
      val base = Map[String, Any](
        "id" -> id, "pass" -> pass, "name" -> c.name, "module" -> c.module,
        "kind" -> c.kind, "start" -> start, "end" -> marks.last,
        "phases" -> phases.map { case (n, (a, b)) => Map("name" -> n, "start" -> a, "end" -> b) },
        "ok" -> err.isEmpty, "error" -> err.orNull)
      if (!trace || err.nonEmpty) base
      else base ++ Map(
        "codegen_ns" -> (CodeGenerator.compileTime - cg0),
        "codegen_classes" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cgN0))
    }

    def order(pass: Int): Seq[Call] =
      new scala.util.Random(seed * 1000003L + pass).shuffle(calls)

    // ---- set-up, timed from JVM start: start the session with the
    // extensions, open every table and run every call once, cold, in a
    // seeded order. The warm-up writes each output as parquet for the
    // oracle check instead of to the noop sink (same plan below the sink).
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val outputs = outDir.resolve("outputs")
    val warmErrors = scala.collection.mutable.Map.empty[String, String]
    val spark = session()
    graft.Tables.all.foreach(n => graft.Tables.load(spark, dataDir, n).schema)
    val warmRecords = new scala.util.Random(seed).shuffle(calls).map { c =>
      val rec = runCall(spark, c, -1, Some(outputs))
      if (rec("error") != null) warmErrors(c.name) = rec("error").toString
      rec
    }
    val setupS = (nowMs() - jvmStartMs) / 1000.0

    // ---- timed passes ----------------------------------------------------
    // everything a pass may leave on disk: java.io.tmpdir (where the write
    // entries make their directories) and the run's Spark local dir,
    // warehouse and Derby home. Shuffle files are left out: the context
    // cleaner deletes them once the collector frees their shuffle, so how
    // many are still there after a pass follows GC timing, not the program
    // (spark.shuffle_write_bytes counts them).
    val roots = Paths.get(System.getProperty("java.io.tmpdir")) +:
      Seq("tmp", "local", "warehouse", "derby").map(scratch.resolve)
    def leftovers() = files(roots).filter { case (p, _) => !p.getFileName.toString.startsWith("shuffle_") }
    val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val timed0 = System.nanoTime()
    while (passes.size < minPasses || (System.nanoTime() - timed0) / 1e9 < seconds) {
      val p = passes.size
      val c0 = nowMs()
      canary(spark, cpus)
      val canaryS = (nowMs() - c0) / 1000.0
      val loadAvg = java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
      val before = leftovers()
      val start = nowMs()
      order(p).foreach(c => records.add(runCall(spark, c, p)))
      val end = nowMs()
      val left = (leftovers() -- before.keySet).values.sum
      passes += Map("pass" -> p, "start" -> start, "end" -> end,
        "canary_s" -> canaryS, "load_avg" -> loadAvg, "bytes_left" -> left)
    }
    val peakRssKb = vmHwmKb()

    // ---- untimed: oracle SQL for the check, then the leak check ----------
    val oracle = graft.SparkEntry.oracleSql.filter { case (n, _) => calls.exists(_.name == n) }
    mapper.writeValue(outDir.resolve("oracle.json").toFile, oracle)
    val activeJobs = spark.sparkContext.statusTracker.getActiveJobIds().toSeq
    val activeStreams = spark.streams.active.map(_.name).toSeq
    tracer.foreach(_ => GraftListenerShim.waitUntilListenerBusEmpty(spark.sparkContext, 60000))

    mapper.writeValue(outDir.resolve("result.json").toFile, Map(
      "cpus" -> cpus, "setup_s" -> setupS, "warmup" -> warmRecords, "passes" -> passes.toSeq,
      "calls" -> records.asScala.toSeq, "peak_rss_kb" -> peakRssKb,
      "warmup_errors" -> warmErrors.toMap, "active_jobs" -> activeJobs,
      "active_streams" -> activeStreams))
    tracer.foreach(t => mapper.writeValue(outDir.resolve("trace.json").toFile, t.dump()))
    spark.stop()
    if (activeJobs.nonEmpty || activeStreams.nonEmpty) {
      System.err.println(s"[perfbench] leaked jobs $activeJobs, streams $activeStreams")
      sys.exit(3)
    }
  }

  /** Host reference: the fixed-plan canary shape of `q00_canary_fixedplan`
    * (range → arithmetic → one aggregate; no files, no library code), at
    * 2·10^7 rows. */
  private def canary(spark: SparkSession, cpus: Int): Unit =
    spark.range(0L, 20000000L, 1L, cpus)
      .select((((col("id") * 2654435761L) % 1000000007L)
        .bitwiseXOR(shiftright(col("id"), 7))).as("x"))
      .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
      .collect()

  /** Every regular file under the roots, with its size. A file or
    * directory that disappears during the walk (the context cleaner
    * removing shuffle files) is skipped. */
  private def files(roots: Seq[Path]): Map[Path, Long] = {
    val out = Map.newBuilder[Path, Long]
    roots.filter(Files.isDirectory(_)).foreach { r =>
      Files.walkFileTree(r, new SimpleFileVisitor[Path] {
        override def visitFile(p: Path, a: BasicFileAttributes): FileVisitResult = {
          if (a.isRegularFile) out += p -> a.size
          FileVisitResult.CONTINUE
        }
        override def visitFileFailed(p: Path, e: java.io.IOException): FileVisitResult =
          FileVisitResult.CONTINUE
      })
    }
    out.result()
  }

  private def vmHwmKb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble).getOrElse(0.0)

  /** Every node of a physical plan, through AQE wrappers, query stages and
    * subqueries. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val below = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => p.children.flatMap(nodes)
    }
    p +: (below ++ p.subqueries.flatMap(nodes))
  }

  /** The traced run's listener: job, stage and SQL-execution records,
    * kept in memory and turned into spans by [[dump]] after the run. */
  final class Tracer extends SparkListener {
    private val jobs = new ConcurrentHashMap[Int, Map[String, Any]]()
    private val jobEnds = new ConcurrentHashMap[Int, Double]()
    private val stageJob = new ConcurrentHashMap[Int, Int]()
    private val stages = new ConcurrentHashMap[String, Map[String, Any]]()
    private val taskSums = new ConcurrentHashMap[String, Array[Double]]()
    private val sqlStarts = new ConcurrentHashMap[Long, (Double, String)]()
    private val sqlEnds = new ConcurrentLinkedQueue[Map[String, Any]]()
    private val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
    // task metric slots, in this order
    private val taskKeys = Seq("tasks", "failed_tasks", "task_s", "task_cpu_s", "gc_s",
      "fetch_wait_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
      jobs.put(e.jobId, Map("job" -> e.jobId, "start" -> e.time.toDouble,
        "tag" -> prop("spark.job.tags").flatMap(t => ownTag(t.split(",").toSeq)).orNull,
        "execution" -> prop("spark.sql.execution.id").orNull))
    }
    private def ownTag(tags: Seq[String]): Option[String] = tags.find(_.startsWith("perfbench:"))

    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.put(e.jobId, e.time.toDouble)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.put(s"${i.stageId}.${i.attemptNumber()}", Map(
        "stage" -> i.stageId, "attempt" -> i.attemptNumber(),
        "job" -> Option(stageJob.get(i.stageId)).getOrElse(-1),
        "start" -> i.submissionTime.map(_.toDouble).getOrElse(0.0),
        "end" -> i.completionTime.map(_.toDouble).getOrElse(0.0),
        "num_tasks" -> i.numTasks, "failed" -> i.failureReason.isDefined))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val a = taskSums.computeIfAbsent(s"${e.stageId}.${e.stageAttemptId}",
        _ => new Array[Double](taskKeys.size))
      val failed = e.reason != org.apache.spark.Success
      val v = if (m == null) Seq(1.0, if (failed) 1.0 else 0.0) ++ Seq.fill(7)(0.0)
      else Seq(1.0, if (failed) 1.0 else 0.0, m.executorRunTime / 1e3,
        m.executorCpuTime / 1e9, m.jvmGCTime / 1e3,
        m.shuffleReadMetrics.fetchWaitTime / 1e3, m.shuffleReadMetrics.totalBytesRead.toDouble,
        m.shuffleWriteMetrics.bytesWritten.toDouble,
        (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      a.synchronized { v.indices.foreach(i => a(i) += v(i)) }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        sqlStarts.put(s.executionId, (s.time.toDouble, ownTag(s.jobTags.toSeq).orNull))
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
        // `executionName` and `qe` are sql-private fields of the event
        def field(n: String) = s.getClass.getMethod(n).invoke(s)
        val name = field("executionName").asInstanceOf[Option[String]].orNull
        val qe = Option(field("qe").asInstanceOf[QueryExecution])
        val plan = qe.flatMap(q => scala.util.Try(nodes(q.executedPlan)).toOption).getOrElse(Nil)
        val writes = plan.collect { case w: DataWritingCommandExec => w.cmd.metrics }
        def wsum(k: String) = writes.flatMap(_.get(k)).map(_.value).sum
        val scanned = plan.collect { case f: FileSourceScanExec =>
          f.metrics.get("numOutputRows").map(_.value).getOrElse(0L) }.sum
        val exchanges = plan.count {
          case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
          case _ => false
        }
        // optimizer and planner time, where GraftExtensions' and any
        // registered MvRewrite rule run
        val planMs = qe.map { q =>
          Seq(QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)
            .flatMap(q.tracker.phases.get).map(_.durationMs).sum
        }.getOrElse(0L)
        val (start, tag) = sqlStarts.getOrDefault(s.executionId, (s.time.toDouble, null))
        sqlEnds.add(Map("execution" -> s.executionId, "name" -> name, "tag" -> tag,
          "start" -> start,
          "end" -> s.time.toDouble, "files_written" -> wsum("numFiles"),
          "bytes_written" -> wsum("numOutputBytes"), "rows_scanned" -> scanned,
          "exchanges" -> exchanges, "plan_s" -> planMs / 1000.0))
      case _ =>
    }

    val streams: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        progress.add(Map("query" -> p.id.toString, "batch" -> p.batchId,
          "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          "duration_s" -> Option(p.durationMs.get("triggerExecution")).map(_.longValue / 1e3).getOrElse(0.0),
          "input_rows" -> p.numInputRows,
          "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum))
      }
    }

    /** Spans (call → phase → job → stage) plus the SQL executions and
      * micro-batches, for `run.py`. Call and phase spans come from the
      * call records; this adds the listener's. */
    def dump(): Map[String, Any] = {
      val bridgeExecs = sqlEnds.asScala.filter(_("name") == "graft-shared-exec")
        .map(_("execution").toString).toSet
      val jobSpans = jobs.asScala.values.toSeq.map { j =>
        val id = j("job").asInstanceOf[Int]
        val bridge = Option(j("execution")).exists(x => bridgeExecs.contains(x.toString))
        Map("id" -> s"job/$id", "parent" -> j("tag"),
          "kind" -> (if (bridge) "bridge_job" else "job"), "name" -> s"job $id",
          "start" -> j("start"), "end" -> jobEnds.getOrDefault(id, j("start").asInstanceOf[Double]))
      }
      val stageSpans = stages.asScala.toSeq.map { case (k, s) =>
        val sums = Option(taskSums.get(k)).getOrElse(new Array[Double](taskKeys.size))
        Map("id" -> s"stage/$k", "parent" -> s"job/${s("job")}", "kind" -> "stage",
          "name" -> s"stage $k", "start" -> s("start"), "end" -> s("end"),
          "failed" -> s("failed")) ++ taskKeys.zip(sums.toSeq)
      }
      Map("spans" -> (jobSpans ++ stageSpans), "sql" -> sqlEnds.asScala.toSeq,
        "batches" -> progress.asScala.toSeq)
    }
  }
}
