package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.json4s._
import org.json4s.jackson.compactJson
import scala.collection.mutable

/** Benchmark main: a runner over the lane table ([[Lanes]]) at
  * SPARK_GRAFT_SF_DIR. It prints ONE COMPACT JSON line for a round's
  * BENCH_r{N}.json record and writes the full artifact (per-rep timings, shuffle
  * MB, full error messages, host evidence, plan warnings) to
  * BENCH_DETAIL.json in the working dir.
  *
  * - The stdout line is small on purpose: the round record parses the
  *   last JSON line of a ~2000-char stdout tail (round 7's line, carrying every rep
  *   inline, outgrew that and parsed to null), so bulk lives in the
  *   detail file and the line is tiered to fit ([[BenchPolicy.fitLine]]).
  * - Every group runs an untimed warm pass first, so JIT and codegen are
  *   not billed to the first timed rep, then round-major reps: a host
  *   interference window poisons one rep of each lane, never every rep
  *   of one. Lane minimums are taken over clean reps (successful, under
  *   the load gate); the retry pass gives never-clean headline and
  *   ingest lanes two more chances at the end of the run.
  * - Results are forced through the noop sink: count() would let Catalyst
  *   prune value columns. A failed rep is recorded in `errors` and never
  *   becomes a lane time; a lane that could not run is absent, never 0.0.
  * - Wall-clock budget (SPARK_GRAFT_BENCH_BUDGET_S): work is shed in
  *   priority order headline -> ingest -> x1 -> x10 -> x20, before it
  *   starts when its predicted cost would eat the end-of-run reserve, and
  *   recorded under skipped_deadline. A CHECKPOINT line prints after the
  *   headline+ingest blocks and every scale factor, and a shutdown hook
  *   prints one on a fatal exit, so a kill still leaves a parsed line.
  * - Exit 3, after the line is out, on a shuffle-byte scale-law violation
  *   or quiet-host growth of raw rep spreads.
  */
object Bench {
  private type Log[A] = mutable.LinkedHashMap[String, Vector[A]]

  private def log[A](): Log[A] = mutable.LinkedHashMap[String, Vector[A]]()

  private def add[A](log: Log[A], key: String, v: A): Unit =
    log(key) = log.getOrElse(key, Vector.empty) :+ v

  /** `v` rounded half-up to `dec` places, as the artifacts print it. */
  private[graft] def num(v: Double, dec: Int): JValue =
    if (v.isNaN || v.isInfinite) JNull
    else JDecimal(BigDecimal(v).setScale(dec, BigDecimal.RoundingMode.HALF_UP))

  private def nums(kvs: Iterable[(String, Double)], dec: Int): JObject =
    JObject(kvs.map { case (k, v) => k -> num(v, dec) }.toList)

  private def strs(xs: Iterable[String]): JArray = JArray(xs.map(JString(_)).toList)

  private def obj(fields: (String, JValue)*): JObject = JObject(fields.toList)

  def main(args: Array[String]): Unit = {
    // Async traces go to STDERR: round 8 lost its compact line to a
    // shutdown-time RejectedExecutionException printed after it.
    Thread.setDefaultUncaughtExceptionHandler(
      (_: Thread, e: Throwable) => e.printStackTrace(System.err))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.get("graft-bench")
    plans.PlanGuard.installWarn(spark)
    // Rep cleanup unpersists locally-checkpointed blocks by design, and
    // the bounded global windows log "No Partition Defined" at every
    // replan: either would flood the stdout tail. PlanGuard's byte law
    // is the plan-shape watchdog, not log grep.
    Seq("org.apache.spark.rdd", "org.apache.spark.sql.execution.window").foreach(p =>
      try org.apache.logging.log4j.core.config.Configurator.setLevel(
        p, org.apache.logging.log4j.Level.ERROR)
      catch { case _: Throwable => () })

    val budgetS = sys.env.get("SPARK_GRAFT_BENCH_BUDGET_S")
      .flatMap(_.toDoubleOption).getOrElse(BenchPolicy.DefaultBudgetS)
    val benchT0 = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - benchT0) / 1e9
    def remainingS: Double = budgetS - elapsedS
    def pastDeadline: Boolean = BenchPolicy.shed(remainingS)
    val skippedDeadline = mutable.LinkedHashSet[String]()
    // The previous artifact, read before it is overwritten: its reps are
    // the predictive-shed cost model, its raw-spread count the trend base.
    val detailPath = s"${sys.props("user.dir")}/BENCH_DETAIL.json"
    val prevDetail =
      try new String(Files.readAllBytes(Paths.get(detailPath)), UTF_8)
      catch { case _: Throwable => "" }
    val prevDetailReps = BenchPolicy.parseDetailReps(prevDetail, sfDir)

    // Failures, keyed like their timing entries; the first wins per key.
    val errors = mutable.LinkedHashMap[String, String]()
    def recordErr(key: String, t: Throwable): Unit =
      if (!errors.contains(key))
        errors(key) = s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(160)}"
    // Every attempted rep (the spread artifact), the successful ones, and
    // the clean ones that lane minimums prefer: a rep that fails fast must
    // never become a lane time.
    val repLog, successLog, cleanLog = log[Double]()
    // Host evidence per rep, keyed like repLog: 1-min load at rep start,
    // steal jiffies across the rep, and external cores across the rep —
    // the load-gate signal (host user+steal minus this JVM's user time).
    val loadLog, extLog = log[Double]()
    val stealLog = log[Long]()
    val loadGateFallback = mutable.ArrayBuffer[String]()
    // Once the host has been loud for LoudCap consecutive reps, remediation
    // reps (gated extras, steady) stop: on a loud host they buy nothing.
    var consecutiveGated = 0
    var remediationCapped = false

    // Predicted one-rep cost: the previous run's reps first (max — the
    // shed protects the reserve), this run's own as the fallback.
    def predictFor(key: String): Option[Double] =
      BenchPolicy.predictedCostS(prevDetailReps.getOrElse(key, Seq.empty),
        repLog.getOrElse(key, Seq.empty))
    def shedUnit(key: String): Boolean =
      BenchPolicy.shedPredicted(remainingS, predictFor(key))

    def key(lane: Lane, in: Inputs): String =
      if (lane.scales) s"x${in.times}.${lane.name}" else lane.name

    // A finished rep's outputs are discarded, and so are the RDDs it
    // pinned: accumulated checkpoint blocks made within-factor rep times
    // grow monotonically (round 9). Async and off the clock.
    def dropNew(before: Set[Int], in: Inputs): Unit =
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!before(id) && !in.standing(id)) rdd.unpersist(blocking = false)
      }
    def prepped(lane: Lane, in: Inputs, k: String): Boolean =
      try { lane.prep(in); true } catch { case t: Throwable => recordErr(k, t); false }

    /** One timed rep of `lane`: prep off the clock (a throw vetoes the
      * rep), host evidence and the load gate around the body, pinned RDDs
      * dropped after. Returns the rep's seconds when it was clean. With
      * `logged = false` the rep stays out of the lane's rep logs. */
    def rep(lane: Lane, in: Inputs, k: String, logged: Boolean = true): Option[Double] =
      if (!prepped(lane, in, k)) None
      else {
        add(loadLog, k, Metrics.load1())
        val s0 = Metrics.stealJiffies()
        val ext = new Metrics.ExtCores
        val before = Lanes.pinned(spark)
        val t0 = System.nanoTime()
        val ok = try { lane.run(in).foreach(Lanes.noop); true }
          catch { case t: Throwable => recordErr(k, t); false }
        val dt = (System.nanoTime() - t0) / 1e9
        if (!lane.keep) dropNew(before, in)
        val s1 = Metrics.stealJiffies()
        add(stealLog, k, if (s0 >= 0 && s1 >= 0) s1 - s0 else -1L)
        val e = ext.over(dt) // -1.0: no evidence, never gate on it
        add(extLog, k, e)
        consecutiveGated =
          BenchPolicy.nextConsecutiveGated(consecutiveGated, e, BenchPolicy.ExtCoresGate)
        val clean = ok && e <= BenchPolicy.ExtCoresGate
        if (logged) {
          add(repLog, k, dt)
          if (ok) add(successLog, k, dt)
          if (clean) add(cleanLog, k, dt)
        }
        if (clean) Some(dt) else None
      }

    /** The untimed warm pass, then the round-major reps: rep r of every
      * lane before rep r+1 of any, a consecutive lane's reps back-to-back
      * in its first slot. The warm pass builds each lane's full inputs up
      * front (a failure there is recorded by the lane's own reps) and runs
      * it once on `view`. A rep predicted to eat the reserve is shed and
      * its key recorded; `wholeRounds` instead guarantees round 1 and sheds
      * whole later rounds, so a shed round costs every lane one rep. */
    def stage(lanes: Seq[Lane], in: Inputs, view: Inputs,
              wholeRounds: Boolean = false): Unit = {
      for (lane <- lanes) {
        try lane.prep(in) catch { case _: Throwable => () }
        if (lane.warm) {
          val before = Lanes.pinned(spark)
          try { lane.prep(view); lane.run(view).foreach(Lanes.noop) }
          catch { case t: Throwable => recordErr(s"warmup.${key(lane, in)}", t) }
          if (!lane.keep) dropNew(before, in)
        }
      }
      // settle the warm pass's dropped blocks before the first timed rep
      // (a ~50 s self-inflicted transient once landed on x10's first reps)
      System.gc()
      Thread.sleep(1000)
      var roundsShed = false
      for (r <- 0 until lanes.map(_.reps(in.times)).max) {
        val slots = lanes.filter(l => r < l.reps(in.times) && (r == 0 || !l.consecutive))
        if (wholeRounds && r > 0 && !roundsShed) {
          val ps = slots.flatMap(l => predictFor(key(l, in)))
          roundsShed = BenchPolicy.shedPredicted(remainingS, ps.reduceOption(_ + _))
          if (roundsShed) skippedDeadline += s"${slots.head.group}.extra_rounds"
        }
        if (!roundsShed)
          for (l <- slots; _ <- 1 to (if (l.consecutive) l.reps(in.times) else 1)) {
            val k = key(l, in)
            if (!wholeRounds && shedUnit(k)) skippedDeadline += k else rep(l, in, k)
          }
      }
    }

    /** One untimed pass under `Metrics.measure` per lane with a successful
      * rep: (key, wall, I/O). Bytes are deterministic where walls are not. */
    def ioPass(lanes: Seq[Lane], in: Inputs): Seq[(String, Double, Metrics.IoStats)] =
      lanes.flatMap { lane =>
        val k = key(lane, in)
        if (!successLog.contains(k)) None
        else if (shedUnit(k)) { skippedDeadline += s"io.$k"; None }
        else if (!prepped(lane, in, k)) None
        else {
          val before = Lanes.pinned(spark)
          try {
            var wall = 0.0
            val io = Metrics.measure(spark) {
              val t0 = System.nanoTime()
              lane.run(in).foreach(Lanes.noop)
              wall = (System.nanoTime() - t0) / 1e9
            }
            Some((k, wall, io))
          } catch { case t: Throwable => recordErr(s"io.$k", t); None }
          finally if (!lane.keep) dropNew(before, in)
        }
      }

    // min over clean reps when any exist, else over successful ones with
    // the fallback recorded (the artifact then proves the host never got
    // quiet for the key); called only after the retry pass
    def gatedMin(key: String): Option[Double] =
      cleanLog.get(key).filter(_.nonEmpty).map(_.min).orElse(
        successLog.get(key).map { s => loadGateFallback += key; s.min })
    // the same minimum for checkpoint lines, recording nothing
    def peekMin(key: String): Option[Double] =
      cleanLog.get(key).filter(_.nonEmpty).orElse(successLog.get(key)).map(_.min)
    def mins(lanes: Seq[Lane], min: String => Option[Double]): Seq[(String, Double)] =
      lanes.flatMap(l => min(l.name).map(l.name -> _))

    // ---- headline: five round-major reps, min over clean ones ----------
    val headline = Lanes.group(Lanes.Headline)
    val base = new Inputs(spark, sfDir, 1, Scratch.dir("bench"))
    // two more shapes (text path, join path) warmed beside the headline
    Seq("q6_timeframe", "q19_fingerprint").foreach(q =>
      try Lanes.noop(SparkEntry.queries(q)(spark, sfDir))
      catch { case t: Throwable => recordErr(s"warmup.$q", t) })
    stage(headline, base, base, wholeRounds = true)
    // a lane the load gate left with < 2 clean reps gets up to 2 more
    for (l <- headline; _ <- 1 to 2
         if successLog.contains(l.name) && cleanLog.getOrElse(l.name, Vector.empty).size < 2) {
      if (!BenchPolicy.remediationAllowed(consecutiveGated, BenchPolicy.LoudCap))
        remediationCapped = true
      else if (shedUnit(l.name)) skippedDeadline += s"remediation.${l.name}"
      else rep(l, base, l.name)
    }
    // Five more clean reps per sub-2 s lane, kept out of the rep logs: the
    // 10-rep steady minimum ships as steady_sec BESIDE the min-of-5
    // series (extra warm reps would only widen the spread metrics).
    val steadyLog = log[Double]()
    val steadyTargets = headline.filter(l => peekMin(l.name).exists(_ < 2.0))
    var steadyShed = false
    for (_ <- 1 to 5; l <- steadyTargets) {
      if (shedUnit(l.name)) steadyShed = true
      if (!BenchPolicy.remediationAllowed(consecutiveGated, BenchPolicy.LoudCap))
        remediationCapped = true
      else if (!steadyShed)
        rep(l, base, s"steady.${l.name}", logged = false).foreach(add(steadyLog, l.name, _))
    }
    if (steadyShed) skippedDeadline += "steady.pass"

    for (g <- Seq(Lanes.Served, Lanes.CoreProbe); lanes = Lanes.group(g))
      if (pastDeadline) skippedDeadline ++= lanes.map(_.name)
      else stage(lanes, base, base)
    // Shuffle-write MB and job-wall attribution per headline query: rep
    // wall minus summed job wall is the work between jobs.
    val headlineIo = ioPass(headline, base)

    val ingest = Lanes.group(Lanes.Ingest)
    if (sys.env.contains("SPARK_GRAFT_SKIP_INGEST")) ()
    else if (pastDeadline) skippedDeadline += "ingest"
    else stage(ingest, base, base)

    // ---- checkpoint lines: same schema as the final line, marked ------
    // last assembled line: the shutdown hook's fallback when a concurrent
    // log mutation breaks assembly mid-death
    @volatile var lastCheckpointLine: String = null
    def printCheckpoint(stage: String): Unit = {
      val res = mins(headline, peekMin)
      val ing = mins(ingest, peekMin)
      val line = BenchPolicy.fitLine(obj(
        "metric" -> JString("total"), "value" -> num(res.map(_._2).sum, 3),
        "unit" -> JString("sec"), "checkpoint" -> JString(stage),
        "queries" -> nums(res, 3), "errors_n" -> JInt(errors.size),
        "skipped_deadline" -> strs(skippedDeadline.take(6)),
        "detail" -> JString("BENCH_DETAIL.json"), "sf" -> JString(sfDir),
        "ingest" -> (if (ing.isEmpty) JNothing else nums(ing, 2))))
      lastCheckpointLine = line
      println(line)
      System.out.flush()
    }
    printCheckpoint("ingest")
    // A fatal exit (executor OOM's System.exit, a SIGTERM) skips the final
    // line but runs shutdown hooks: print one last checkpoint from the
    // in-memory logs, no Spark calls. The main thread may still be
    // appending, so assembly is retried once, then the last good line.
    @volatile var finalLinePrinted = false
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      if (!finalLinePrinted) {
        val printed = (1 to 2).exists { _ =>
          try { printCheckpoint("shutdown"); true } catch { case _: Throwable => false }
        }
        if (!printed && lastCheckpointLine != null)
          try { println(lastCheckpointLine); System.out.flush() }
          catch { case _: Throwable => () }
      }))

    // ---- scale: the table's scale lanes per replica factor ------------
    // All factors share a warmed JVM, so the x1/xN ratio is the figure of
    // merit. Malformed env values never kill a bench that already has its
    // headline: bad tokens are dropped, duplicates removed.
    val factors: Seq[Int] = sys.env.get("SPARK_GRAFT_SCALE_FACTORS")
      .map(_.split(",").toSeq.flatMap(_.trim.toIntOption)).filter(_.nonEmpty)
      .getOrElse(Seq(10, 20)).filter(_ > 1).distinct
    val scale = Lanes.group(Lanes.Scale)
    val scaleIo = mutable.LinkedHashMap[String, Double]()
    val rocksState = mutable.LinkedHashMap[String, (Long, Long, Long)]()
    def block(times: Int): Seq[(String, Double)] = {
      val in = new Inputs(spark, sfDir, times, Scratch.dir(s"bench_x$times"))
      try {
        stage(scale, in, in.slice)
        ioPass(scale, in).foreach { case (k, _, io) => scaleIo(k) = io.shuffleWriteBytes / 1e6 }
        in.rocksState.foreach(rocksState(s"x$times") = _)
      } finally in.cleanup()
      scale.flatMap(l => gatedMin(key(l, in)).map(l.name -> _))
    }
    val scaleBlocks: Seq[(Int, Seq[(String, Double)])] =
      if (factors.isEmpty) Seq.empty
      else (1 +: factors).map { f =>
        if (pastDeadline) { skippedDeadline += s"x$f.block"; f -> Seq.empty }
        else {
          val r = try block(f)
            catch { case t: Throwable => recordErr(s"x$f.block", t); Seq.empty }
            finally {
              // A BLOCKING barrier: the next factor eagerly checkpoints its
              // replicas at once, and an async drop racing that OOM'd x20.
              spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
              System.gc()
            }
          printCheckpoint(s"x$f")
          f -> r
        }
      }

    // ---- end-of-run retry ----------------------------------------------
    // A headline or ingest key with no clean rep gets two more (the first
    // re-warms a page-cache-cold lane), inside the budget: never when the
    // reserve is gone or its predicted cost exceeds what remains. Scale
    // inputs are torn down with their block, so scale lanes are not
    // retried; their fallback ships with its ext-cores evidence.
    val retriedKeys = mutable.LinkedHashSet[String]()
    for (l <- headline ++ ingest
         if successLog.contains(l.name) && !cleanLog.contains(l.name);
         _ <- 1 to 2
         if BenchPolicy.retryAllowed(remainingS) && !predictFor(l.name).exists(_ > remainingS)) {
      retriedKeys += l.name
      rep(l, base, l.name)
    }
    base.cleanup()

    val results = mins(headline, gatedMin)
    // "value" stays the sum of the nine headline lanes; the core probe
    // rides in the queries map only
    val total = results.map(_._2).sum
    val resultsOut = results ++ mins(Lanes.group(Lanes.CoreProbe), gatedMin)
    val ingestMins = mins(ingest, gatedMin)
    val steady = mins(steadyTargets, n => (cleanLog.getOrElse(n, Vector.empty) ++
      steadyLog.getOrElse(n, Vector.empty)).minOption) ++ mins(Lanes.group(Lanes.Served), peekMin)

    // A lane whose successful reps spread > 5x max/min ran through an
    // interference window. With >= 3 reps the warning drops the slowest
    // rep (one outlier cannot bias a min-of-N); every untrimmed spread is
    // still recorded as rep_spread_raw. The 0.2 s floor keeps sub-noise
    // lanes out.
    def spreadOf(ts: Vector[Double]): Option[Double] =
      if (ts.size >= 2 && ts.min > 0.2) Some(ts.max / ts.min) else None
    val rawSpreads = successLog.toSeq.flatMap { case (k, ts) =>
      spreadOf(ts).filter(_ > 5.0).map(k -> _) }
    val spreadWarnings = successLog.toSeq.flatMap { case (k, ts) =>
      spreadOf(if (ts.size >= 3) ts.sorted.dropRight(1) else ts).filter(_ > 5.0).map(k -> _)
    }

    // ---- shuffle-byte scale law: the machine gate -----------------------
    // bytes(xN)/bytes(x1) at the largest factor must stay within N x the
    // lane's slack (1.15 unless the table documents a superlinear lane).
    // Lanes under 0.5 MB at x1 are fixed per-job bytes, not the operator.
    val slack = scale.map(l => l.name -> l.slack.fold(1.15)(_._1)).toMap
    val byteLawViolations: Seq[String] = for {
      maxF <- scaleBlocks.map(_._1).maxOption.toSeq
      if maxF > 1
      (k, x1b) <- scaleIo.toSeq if k.startsWith("x1.")
      lane = k.stripPrefix("x1.")
      xNb <- scaleIo.get(s"x$maxF.$lane")
      if x1b >= 0.5 && xNb / x1b > maxF * slack(lane)
    } yield f"$lane: x$maxF/x1 bytes ${xNb / x1b}%.1fx > ${maxF * slack(lane)}%.1fx cap"
    byteLawViolations.foreach { v =>
      val lane = v.takeWhile(_ != ':')
      if (!errors.contains(s"byte_law.$lane")) errors(s"byte_law.$lane") = v
    }

    // ---- rep_spread_raw trend guard --------------------------------------
    // More than 3 new raw spreads over the previous artifact fails the run
    // on a quiet host; fallback lanes are excluded, and growth on a loud
    // host (any fallback, or remediation capped) is only a warning.
    val prevRawSpreadN = BenchPolicy.rawSpreadCount(prevDetail)
    val fallbackSet = loadGateFallback.toSet
    val rawSpreadsQuiet = rawSpreads.filterNot { case (k, _) => fallbackSet(k) }
    val hostLoud = loadGateFallback.nonEmpty || remediationCapped
    val spreadTrendCap = prevRawSpreadN.map(_ + 3)
    val spreadTrendViolated = spreadTrendCap.exists(rawSpreadsQuiet.size > _)
    val spreadTrendSev = BenchPolicy.spreadTrendSeverity(spreadTrendViolated, hostLoud)
    if (spreadTrendSev == "error")
      errors("rep_spread_trend") =
        s"raw >5x spreads grew ${prevRawSpreadN.get} -> ${rawSpreadsQuiet.size} " +
          s"(cap ${spreadTrendCap.get}): systematic rep degradation"

    // ---- the artifacts ---------------------------------------------------
    // Ingest beside the baseline's own figures (BASELINE.md: Polars loads
    // the largest file in 10.42 s; the full ingest is "20-30 min minimum",
    // read at its most favorable 1200 s).
    val ingestJson =
      if (ingestMins.isEmpty) JNothing
      else JObject(nums(ingestMins, 2).obj ++ List(
        "baseline_load_largest" -> num(10.42, 2),
        "baseline_full_ingest" -> num(1200.0, 0)) ++
        ingestMins.collect { case ("ingest_load_largest", v) =>
          "load_vs_baseline" -> num(v / 10.42, 3) } ++
        ingestMins.collect { case ("ingest_full_warehouse", v) =>
          "full_vs_baseline" -> num(v / 1200.0, 4) })
    val steadyJson = nums(steady, 3)
    val spreadTrendJson = obj(
      "prev" -> prevRawSpreadN.fold[JValue](JNull)(JInt(_)),
      "now" -> JInt(rawSpreads.size), "now_quiet" -> JInt(rawSpreadsQuiet.size),
      "cap" -> spreadTrendCap.fold[JValue](JNull)(JInt(_)),
      "violated" -> JBool(spreadTrendViolated), "severity" -> JString(spreadTrendSev))
    val gatedRepsN = extLog.valuesIterator.flatten.count(_ > BenchPolicy.ExtCoresGate)
    val byFactor = scaleBlocks.map { case (f, kvs) => f -> kvs.toMap }
    val detail = obj(
      "metric" -> JString("total"), "value" -> JDouble(total), "unit" -> JString("sec"),
      "queries" -> JObject(resultsOut.map { case (k, v) => k -> JDouble(v) }.toList),
      "steady_sec" -> steadyJson,
      "shuffle_write_mb" -> nums(headlineIo.map { case (k, _, io) =>
        k -> io.shuffleWriteBytes / 1e6 }, 2),
      "scale_shuffle_mb" -> nums(scaleIo, 2),
      "byte_law_violations" -> strs(byteLawViolations.map(_.take(160))),
      "rocksdb_state" -> JObject(rocksState.map { case (k, (b, rows, bytes)) =>
        k -> obj("batches" -> JLong(b), "state_rows" -> JLong(rows),
          "state_bytes" -> JLong(bytes)) }.toList),
      "job_wall" -> JObject(headlineIo.map { case (k, wall, io) =>
        k -> obj("rep_wall" -> num(wall, 3), "job_wall" -> num(io.jobWall, 3),
          "jobs" -> JInt(io.jobs)) }.toList),
      "errors" -> JObject(errors.map { case (k, v) => k -> JString(v) }.toList),
      "reps" -> JObject(repLog.map { case (k, v) => k -> JArray(v.map(num(_, 3)).toList) }.toList),
      "rep_spread_warnings" -> nums(spreadWarnings, 2),
      "rep_spread_raw" -> nums(rawSpreads, 2),
      "rep_spread_raw_trend" -> spreadTrendJson,
      "load_gate" -> obj(
        "ext_cores_threshold" -> num(BenchPolicy.ExtCoresGate, 2), "hz" -> JInt(100),
        "gated_reps" -> JInt(gatedRepsN), "fallback" -> strs(loadGateFallback.distinct),
        "retried" -> strs(retriedKeys), "loud_cap" -> JInt(BenchPolicy.LoudCap),
        "remediation_capped" -> JBool(remediationCapped),
        "ext_cores" -> JObject(extLog.map { case (k, v) =>
          k -> JArray(v.map(num(_, 2)).toList) }.toList)),
      "budget" -> obj("budget_s" -> num(budgetS, 0), "elapsed_s" -> num(elapsedS, 1),
        "skipped_deadline" -> strs(skippedDeadline)),
      "host" -> obj("cpus" -> JInt(Session.cpus.toInt),
        "load1_at_rep_start" -> JObject(loadLog.map { case (k, v) =>
          k -> JArray(v.map(num(_, 2)).toList) }.toList),
        "steal_jiffies_per_rep" -> JObject(stealLog.map { case (k, v) =>
          k -> JArray(v.map(JLong(_)).toList) }.toList)),
      // keyless-join warnings PlanGuard fired in warn mode (expect none)
      "plan_warnings" -> strs(plans.PlanGuard.drainWarnings().map(_.take(160)).take(10)),
      "sf" -> JString(sfDir),
      "ingest" -> ingestJson,
      "scale" -> (if (scaleBlocks.isEmpty) JNothing else JObject(
        ("factor" -> JInt(factors.headOption.getOrElse(1): Int)) ::
        ("factors" -> JArray(factors.map(JInt(_)).toList)) ::
        scaleBlocks.map { case (f, kvs) =>
          s"x$f" -> JObject(kvs.map { case (k, v) => k -> JDouble(v) }.toList) }.toList)))
    try Files.write(Paths.get(detailPath), compactJson(detail).getBytes(UTF_8))
    catch { case t: Throwable => recordErr("detail_write", t) }

    // The compact line: key lists only while they fit, a per-lane
    // [x1, x10, x20] array for the scale block, and the pagerank byte
    // quartet at the largest factor (the q179 evidence).
    def keysFit(keys: Iterable[String]): JArray = {
      val a = strs(keys.take(8))
      if (compactJson(a).length <= 300) a else JArray(Nil)
    }
    val maxF = scaleBlocks.map(_._1).maxOption.getOrElse(0)
    val prIo = Seq("q146_pagerank", "q146_pagerank_aqe", "q146_pagerank_merge",
      "q179_pagerank_bucketed").flatMap(n =>
      scaleIo.get(s"x$maxF.$n").map(v => n.stripPrefix("q") -> num(v, 1)))
    val compactLine = BenchPolicy.fitLine(obj(
      "metric" -> JString("total"), "value" -> num(total, 3), "unit" -> JString("sec"),
      "queries" -> nums(resultsOut, 3), "steady" -> steadyJson,
      "errors_n" -> JInt(errors.size), "error_keys" -> keysFit(errors.keys),
      "rep_spread_warnings" -> keysFit(spreadWarnings.map(_._1)),
      "load_gate" -> obj("thr" -> num(BenchPolicy.ExtCoresGate, 2),
        "gated_reps" -> JInt(gatedRepsN),
        "fallback_n" -> JInt(loadGateFallback.distinct.size),
        "retried_n" -> JInt(retriedKeys.size), "capped" -> JBool(remediationCapped),
        // ingest lanes count as headline: the line reports them too
        "headline_fallback" -> strs(loadGateFallback.distinct.filter(k =>
          headline.exists(_.name == k) || k.startsWith("ingest_")).take(9))),
      "budget_s" -> num(budgetS, 0), "elapsed_s" -> num(elapsedS, 1),
      "skipped_n" -> JInt(skippedDeadline.size),
      "skipped_keys" -> strs(skippedDeadline.take(6)),
      "spread_trend" -> spreadTrendJson,
      "detail" -> JString("BENCH_DETAIL.json"), "sf" -> JString(sfDir),
      "ingest" -> ingestJson,
      "scale" -> (if (scaleBlocks.isEmpty) JNothing else obj(
        "factors" -> JArray(scaleBlocks.map(b => JInt(b._1)).toList),
        "sec" -> JObject(scaleBlocks.flatMap(_._2.map(_._1)).distinct.map(lane =>
          lane -> JArray(byFactor.map(_._2.get(lane).fold[JValue](JNull)(num(_, 2))).toList)
        ).toList))),
      s"pr_shuffle_mb_x$maxF" -> (if (prIo.isEmpty) JNothing else obj(prIo: _*))))

    // The compact line must be the LAST thing on stdout (round 8 printed it
    // before stop(), and a shutdown-race trace evicted it from the tail):
    // quiesce with one trivial job and a drain, stop() under try, then
    // print after stop with a short grace for merged-stream traces.
    try {
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      catch { case _: Throwable => () }
      Thread.sleep(2000)
      spark.stop()
    } catch { case t: Throwable => t.printStackTrace(System.err) }
    finally {
      Thread.sleep(500)
      System.err.flush()
      System.out.flush()
      finalLinePrinted = true // the real line is out; the hook stands down
      println(compactLine)
      System.out.flush()
      if (byteLawViolations.nonEmpty || spreadTrendSev == "error") sys.exit(3)
    }
  }
}
