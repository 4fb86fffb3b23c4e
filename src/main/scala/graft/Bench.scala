package graft
import org.apache.spark.sql.SparkSession

object Bench {
  /** Extract per-query medians from a prior-round bench artifact.
   *
   *  Handles the three shapes seen in real driver artifacts: (a) the bare
   *  one-line payload this program prints ({"queries":{...}}), (b) the
   *  driver wrapper with a "parsed" copy of the payload, and (c) the
   *  driver wrapper where parsing failed (parsed:null) and only an
   *  escaped, possibly front-truncated "tail" string survives — BENCH_r08
   *  is shape (c), which is exactly why this uses a real JSON parser for
   *  the wrapper and a name:number regex over the decoded tail. Spread
   *  ({"min":..}) and sanity-flag entries are objects, not numbers, so
   *  the regex cannot confuse them with medians.
   *
   *  Round-14 fix (r13 Wrong #4): as the registry grew, the driver's
   *  tail-truncated copy lost the ENTIRE "queries" map (it prints before
   *  the spread) and the sanity compare fell 23 → 9 → 0 lines. The
   *  payload now duplicates each median as "med" INSIDE its spread entry
   *  — the spread is printed last, so it survives front-truncation — and
   *  this reader falls back to those (JSON field or a med-regex over the
   *  tail) when the queries map is gone. */
  private[graft] def priorMedians(txt: String): Map[String, Double] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    def fromPayload(j: JValue): Map[String, Double] = {
      val direct = j \ "queries" match {
        case JObject(fs) => fs.flatMap { case (n, v) => num(v).map(n -> _) }.toMap
        case _ => Map.empty[String, Double]
      }
      if (direct.nonEmpty) direct
      else j \ "spread" match {
        case JObject(fs) =>
          fs.flatMap { case (n, o) => num(o \ "med").map(n -> _) }.toMap
        case _ => Map.empty
      }
    }
    def fromText(s: String): Map[String, Double] = {
      // spread "med" entries FIRST (round 20): the payload now carries a
      // task_time map between queries and spread, and on a
      // front-truncated tail the bare name:number regex would read its
      // entries as medians — the med harvest is unambiguous, so it takes
      // precedence and the regex only fills names the spread lost
      val acc = scala.collection.mutable.Map.empty[String, Double]
      spreadField(s, "med").foreach { case (n, v) => acc(n) = v }
      val prx = java.util.regex.Pattern.compile("\"(q[^\"]+)\":(-?[0-9.]+)")
      val m = prx.matcher(s)
      while (m.find()) if (!acc.contains(m.group(1))) acc(m.group(1)) = m.group(2).toDouble
      acc.toMap
    }
    val j = try JsonMethods.parse(txt) catch { case _: Throwable => org.json4s.JNothing }
    val direct = fromPayload(j)
    if (direct.nonEmpty) direct
    else {
      val parsed = fromPayload(j \ "parsed")
      if (parsed.nonEmpty) parsed
      else j \ "tail" match {
        case JString(tail) => fromText(tail)
        case _ => fromText(txt)
      }
    }
  }

  /** `"qname":{… "<field>":N …}` harvest over raw text — spread-entry
    * mining for both the med fallback above and the min-band fallback
    * below. */
  private def spreadField(s: String, field: String): Map[String, Double] = {
    val rx = java.util.regex.Pattern
      .compile("\"(q[^\"]+)\":\\{[^}]*\"" + field + "\":(-?[0-9.]+)")
    val m = rx.matcher(s)
    val acc = scala.collection.mutable.Map.empty[String, Double]
    while (m.find()) if (!acc.contains(m.group(1))) acc(m.group(1)) = m.group(2).toDouble
    acc.toMap
  }

  /** Prior per-query MIN bands — the fallback basis for the sanity
    * compare against pre-round-14 artifacts, whose truncated tails kept
    * only {"min","max"} spread entries (no medians survive). Min is the
    * band the r13 judge anchored on: tight and host-load-resistant. */
  private[graft] def priorMins(txt: String): Map[String, Double] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val j = try JsonMethods.parse(txt) catch { case _: Throwable => org.json4s.JNothing }
    def fromSpread(j: JValue): Map[String, Double] = j \ "spread" match {
      case JObject(fs) =>
        fs.flatMap { case (n, o) => num(o \ "min").map(n -> _) }.toMap
      case _ => Map.empty
    }
    val direct = fromSpread(j)
    if (direct.nonEmpty) direct
    else {
      val parsed = fromSpread(j \ "parsed")
      if (parsed.nonEmpty) parsed
      else j \ "tail" match {
        case JString(tail) => spreadField(tail, "min")
        case _ => spreadField(txt, "min")
      }
    }
  }

  private def num(v: org.json4s.JValue): Option[Double] = v match {
    case org.json4s.JDouble(d) => Some(d)
    case org.json4s.JInt(i) => Some(i.toDouble)
    case org.json4s.JDecimal(d) => Some(d.toDouble)
    case _ => None
  }

  // Locale.ROOT: the f-interpolator delegates to the DEFAULT locale —
  // under a comma-decimal locale (de_DE etc.) it would print 0,8210 and
  // a json.load of the payload would reject it whole
  private def fmt(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.4f", Double.box(d))

  /** The scale factor in an sf directory's name (`…/sf0.1` → 0.1). */
  private[graft] def sfOf(dir: String): Option[Double] = {
    val m = java.util.regex.Pattern.compile("sf([0-9]+(?:\\.[0-9]+)?)/?$")
      .matcher(dir)
    if (m.find()) Some(m.group(1).toDouble) else None
  }

  /** The cross-round sanity stanza: each line's median against the
    * prior artifact `file` (round `round`, contents `txt`), flagging
    * >2x moves in either direction. A flag does NOT fail the bench —
    * the r8 lesson is that a 5x one-line move on unchanged code needed
    * a human re-run to adjudicate; the flags make such lines
    * self-announcing. Only like is compared with like: when the prior
    * artifact's top-level `sf` or `cpus` is missing or differs from
    * this run's, the stanza names the baseline with `"skipped"` instead
    * of `flags` (an sf0.001 run on 4 cores flagged against the sf0.1
    * 32-core baseline says nothing). `cur` is (name, median, min) of
    * every line that ran. */
  private[graft] def sanityStanza(file: String, round: Int, txt: String,
      sf: Option[Double], cpus: Int,
      cur: Seq[(String, Double, Double)]): String = {
    val j = try org.json4s.jackson.JsonMethods.parse(txt)
      catch { case _: Throwable => org.json4s.JNothing }
    val (priorSf, priorCpus) = (num(j \ "sf"), num(j \ "cpus").map(_.toInt))
    val head = s""""baseline":"$file","round":$round"""
    if (priorSf.isEmpty || priorSf != sf || !priorCpus.contains(cpus)) {
      def show[T](o: Option[T]) = o.fold("?")(_.toString)
      s"""{$head,"skipped":"baseline sf=${show(priorSf)} cpus=${
        show(priorCpus)}, this run sf=${show(sf)} cpus=$cpus"}"""
    } else {
      // medians when the prior artifact carries them (round 14+
      // spread "med" survives truncation); else fall back to
      // min-vs-min bands — the only numbers pre-r14 tails kept
      val prevMed = priorMedians(txt)
      val (prev, basis) =
        if (prevMed.nonEmpty) (prevMed, "median") else (priorMins(txt), "min")
      val flags = cur.flatMap { case (name, med, mn) =>
        val c = if (prevMed.nonEmpty) med else mn
        prev.get(name).collect { case p if p > 0 && (c > 2 * p || c * 2 < p) =>
          "\"" + name + "\":{\"prev\":" + fmt(p) + ",\"cur\":" + fmt(c) + "}" }
      }
      s"""{$head,"basis":"$basis","compared":${prev.size},"flags":${flags.mkString("{", ",", "}")}}"""
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = Diagnostics.sfDir
    val cpus = Diagnostics.cpus
    // Per-query time is the MEDIAN of N timed runs (default 5) AFTER one
    // excluded warmup run of that same query: single-run numbers at
    // sub-3-second scales showed a ±10-30% JIT/run-order noise band across
    // rounds, and two driver rounds showed ±50%+ host-load swings on
    // unchanged plans (r5 q09, r6 q86) — phantom regressions that burned
    // judge cycles because a single scraped number can't be told apart
    // from noise. The payload therefore carries the per-query MIN/MAX
    // spread across the timed runs next to the median: a real plan
    // regression moves the whole [min, max] band; host load widens it.
    //
    // ROUND-ROBIN PASSES (round 9): iterations are interleaved ACROSS
    // queries — pass 1 runs q01..qN once, pass 2 runs q01..qN again, … —
    // instead of running each query's 5 iterations back-to-back. Round 8
    // showed why: a multi-second host-load burst that covers one query's
    // whole contiguous 5-iteration window moves that line's ENTIRE
    // [min,max] band (driver r8 read q108 at 1.53 s; a same-HEAD re-run
    // measured 0.42 s — the burst swallowed every sample of one line and
    // the band defense designed for exactly this was defeated). With
    // interleaving the same burst lands on ONE sample of MANY queries:
    // each median-of-5 discards it, no single line's band jumps.
    val iters = math.max(sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "5").toInt, 1)
    val spark = Diagnostics.localSession(cpus)
    val qs0 = SparkEntry.queries
    // Materialize via a noop-sink WRITE, not count(): under count(),
    // Catalyst prunes every unreferenced column and EliminateSorts drops
    // the final orderBy — for project/window-shaped queries that can
    // optimize away the very operator being measured (an asof join's
    // value columns come from the window; prune them and the window
    // itself disappears from the plan). The noop sink consumes every row
    // at full width with zero serialization cost, so the timed plan is
    // the plan the query actually declares.
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // Focused A/B runs (round 18): SPARK_GRAFT_BENCH_ONLY=q90_...,q179_...
    // restricts the headline set — the per-line regression-pinning
    // protocol (suspect lines re-measured back-to-back at HEAD against
    // a prior round's committed band) without paying the full suite per
    // arm. NOT used by the driver (its artifacts always carry the full
    // set); the interleaving + median logic is unchanged.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // CANARY (round 19, VERDICT r18 Next #1): one fixed-plan synthetic
    // line reported alongside every run — a seeded integer range →
    // codegen'd arithmetic → one aggregate. No parquet, no library
    // code, no shuffle wider than the partial/final agg; the plan can
    // never change across rounds, so whole-set drift separates into
    // measured host noise (the canary moved too) vs a real regression
    // (the set moved, the canary didn't). Deliberately NOT in
    // SparkEntry.benchQueries (it is not a registry/headline query —
    // PlanBudgetSpec probes those) and excluded from the >2x sanity
    // flags' prior lookup only by never having a prior to flag against
    // in rounds before it existed.
    val canaryName = "q00_canary_fixedplan"
    def canary(s: SparkSession): org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.functions._
      s.range(0L, 200000000L, 1L, cpus.toInt)
        .select((((col("id") * 2654435761L) % 1000000007L)
          .bitwiseXOR(shiftright(col("id"), 7))).as("x"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
    }
    val qsAll = qs0 ++ Map(canaryName ->
      ((s: SparkSession, _: String) => canary(s)))
    // Per-line executor TASK-TIME next to wall (round 20, VERDICT r19
    // Next #8): each TIMED run is wrapped in Diagnostics.tracktime and its
    // executorRunTime summed per line (warmup runs are excluded, like
    // their wall times). Driver-bound lines (wall ≫ task_time/cores)
    // separate from data-bound ones mechanically — the scaling block's
    // ≈1 ratios at lower core counts are the expected signature of a
    // driver-bound line, not a harness bug.
    val taskTimeMs = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    // generated classes compiled and their compile time, per line, over
    // the same timed runs (Timings' codegen deltas)
    val cgClasses = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val cgMs = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var taskTimeComplete = true
    val names = (canaryName +: SparkEntry.benchQueries)
      .filter(n => only.forall(_.contains(n)))
    val times = scala.collection.mutable.Map.empty[String, scala.collection.mutable.ArrayBuffer[Double]]
    val ok = scala.collection.mutable.Map.empty[String, Boolean]
    names.foreach { n => times(n) = scala.collection.mutable.ArrayBuffer.empty[Double]; ok(n) = true }
    // Warmup pass, EXCLUDED from the stats: the first execution of a query
    // in a JVM pays JIT + codegen compilation + broadcast warm costs that
    // the steady-state runs don't — folding it in skewed every median
    // high and run-order-dependently. A query that crashes here is flagged
    // (value -1, listed in "errors") instead of silently folding its
    // time-to-crash into the headline total.
    names.foreach { name =>
      try { run(qsAll(name)(spark, sfDir)) }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed in warmup: $e"); ok(name) = false }
    }
    (1 to iters).foreach { _ =>
      names.foreach { name =>
        if (ok(name)) {
          try {
            val (secs, t) = Diagnostics.tracktime(spark) {
              val t0 = System.nanoTime()
              run(qsAll(name)(spark, sfDir))
              (System.nanoTime() - t0) / 1e9
            }
            times(name) += secs
            taskTimeMs(name) += t.tasks.executorRunTimeMs
            cgClasses(name) += t.codegenClasses
            cgMs(name) += t.codegenCompileMs
            taskTimeComplete &&= t.complete
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: $e"); ok(name) = false }
        }
      }
    }
    case class R(name: String, median: Double, min: Double, max: Double, ok: Boolean)
    val results = names.map { name =>
      if (!ok(name) || times(name).isEmpty) R(name, -1.0, -1.0, -1.0, ok = false)
      else {
        val s = times(name).sorted
        val med =
          if (s.length % 2 == 1) s(s.length / 2)
          else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
        R(name, med, s.head, s.last, ok = true)
      }
    }
    // Cross-round sanity: compare each median against the newest committed
    // BENCH_r{N}.json in the working directory (see sanityStanza).
    val sanity: String = {
      try {
        val cwd = java.nio.file.Paths.get(".")
        val rx = java.util.regex.Pattern.compile("BENCH_r(\\d+)\\.json")
        val prior = java.nio.file.Files.list(cwd).toArray.toSeq
          .map(_.toString.stripPrefix("./"))
          .flatMap { f => val m = rx.matcher(f); if (m.matches()) Some((m.group(1).toInt, f)) else None }
          .sortBy(-_._1).headOption
        prior match {
          case None => "null"
          case Some((rn, file)) =>
            val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(file))
            sanityStanza(file, rn, txt, sfOf(sfDir), cpus.toInt,
              results.filter(_.ok).map(r => (r.name, r.median, r.min)))
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] sanity compare skipped: $e"); "null" }
    }
    val qs = results.map(r => "\"" + r.name + "\":" + fmt(r.median))
      .mkString("{", ",", "}")
    // "med" rides INSIDE each spread entry (r13 Wrong #4): the spread is
    // the last big map in the payload, so it survives the driver's
    // front-truncating tail capture after the queries map is cut off —
    // priorMedians reads it back for the cross-round tripwire
    val spread = results.filter(_.ok).map(r =>
        "\"" + r.name + "\":{\"min\":" + fmt(r.min) + ",\"max\":" + fmt(r.max) +
          ",\"med\":" + fmt(r.median) + "}")
      .mkString("{", ",", "}")
    val errors = results.collect { case r if !r.ok => "\"" + r.name + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case r if r.ok => r.median }.sum
    // host-state stanza (round 16, VERDICT Next #4): the r15 driver run
    // flagged three >2x "regressions" that were ambient host drift (all
    // 29 compared lines moved together, geomean 1.34x). Recording the
    // 1-minute load average at payload time lets the reader tell a
    // loaded-host artifact from a plan regression without a re-run.
    val host = {
      val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      s"""{"load_avg":${fmt(os.getSystemLoadAverage)},"cpus":${os.getAvailableProcessors}}"""
    }
    // per line, the average per timed pass: executor task-seconds (a
    // listener drain timeout flags the map as partial, task_time_complete,
    // rather than undercounting it silently) and the codegen deltas
    def perPass(f: String => Double) = results.filter(_.ok).map(r =>
      "\"" + r.name + "\":" + fmt(f(r.name) / iters)).mkString("{", ",", "}")
    val taskTime = perPass(n => taskTimeMs(n) / 1000.0)
    val codegenClasses = perPass(n => cgClasses(n).toDouble)
    val codegenCompileS = perPass(n => cgMs(n) / 1000.0)
    // task_time and the codegen maps ride BETWEEN queries and spread: the
    // spread map (with its embedded "med" copies) must stay LAST among the
    // big maps so it survives a front-truncating tail capture of stdout
    // (r13/r14)
    val payload =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"task_time":$taskTime,"task_time_complete":$taskTimeComplete,"codegen_classes":$codegenClasses,"codegen_compile_s":$codegenCompileS,"spread":$spread,"iters":$iters,"warmup_excluded":true,"interleaved":true,"host":$host,"sanity":$sanity,"errors":$errors,"sf":"$sfDir"}"""
    println(payload)
    // ALSO drop the payload as a bare file: the driver scrapes stdout
    // through sbt, whose [info] prefix has left BENCH_r{N}.json with
    // parsed:null two rounds running — a file needs no log surgery
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/bench_latest.json"), payload + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] file write: $e") }
    spark.stop()
    // Per-query failures must surface in the exit status (round-10 lesson:
    // three -1.0 lines rode an rc:0 payload into a committed snapshot).
    // The payload is already printed and file-dropped above, so a non-zero
    // exit loses nothing and makes a broken round self-announcing.
    val nFailed = results.count(!_.ok)
    if (nFailed > 0) {
      System.err.println(s"[bench] $nFailed quer${if (nFailed == 1) "y" else "ies"} failed — exiting 1")
      sys.exit(1)
    }
  }
}
