package graftbench

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up (several times) and warm up,
  * then issue the workload's passes back to back from one client thread.
  * Writes a JSON-lines run log; `run.py` checks results against the
  * oracle and derives the metrics.
  *
  * Args: --workload w --data dir --out log --passes p --seed n
  *       --trace 0|1 --setups k --warmups m --cores c
  *
  * Every timed interval also records the host CPU time that was busy and
  * the time the hypervisor stole from it (see `HostCpu`).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workload(o("workload"))
    val dir = o("data")
    val seed = o("seed").toLong
    val passes = o("passes").toInt
    val trace = o("trace") == "1"
    val cores = o("cores").toInt
    val out = new Out(o("out"))
    val jvmUp = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    out.rec("env", "cores" -> cores, "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark" -> org.apache.spark.SPARK_VERSION, "jvm_start_s" -> jvmUp)
    wl.ops.foreach(op => op.oracle.foreach(sql => out.rec("oracle", "op" -> op.name, "sql" -> sql)))
    // the checker recomputes the validate counts with the same patterns
    if (wl eq EtlIngest)
      out.rec("patterns", "patterns" -> EtlIngest.patterns.map { case (c, p) => Seq(c, p) })
    val results = new Results(out)
    try {
      // set-up, several times: a fresh session, its registrations and
      // the workload's first operation (time to first result)
      var spark: SparkSession = null
      var ctx: Ctx = null
      for (i <- 1 to o("setups").toInt) {
        val c0 = HostCpu.sample()
        val t0 = System.nanoTime()
        if (spark != null) spark.stop()
        spark = graft.Session.builder("graftbench")
          .master(s"local[$cores]")
          .config("spark.sql.shuffle.partitions", cores.toString)
          .getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
        ctx = new Ctx(spark, dir, new Tracer(spark.sparkContext))
        wl.prepare(ctx)
        runPass(ctx, wl, wl.ops.take(1), s"setup$i", -1, results, out, None)
        val s = (System.nanoTime() - t0) / 1e9
        out.rec("setup", (Seq("i" -> i, "s" -> s) ++ HostCpu.since(c0)): _*)
      }
      // then warm-up passes over every operation; their wall counts as set-up
      for (w <- 1 to o("warmups").toInt) {
        val c0 = HostCpu.sample()
        val s = runPass(ctx, wl, wl.ops, "warmup", -w, results, out, None)
        out.rec("warmup", (("s" -> s) +: HostCpu.since(c0)): _*)
      }

      val listener = if (trace) Some(new Listener) else None
      listener.foreach { l =>
        spark.sparkContext.addSparkListener(l)
        spark.listenerManager.register(l)
      }
      val t0 = System.nanoTime()
      // traced runs interleave untraced and traced passes (untraced,
      // traced, traced, untraced, ...), so the tracing overhead is measured
      // inside one run and a steady speed-up across passes cancels out
      for (pass <- 0 until passes) {
        val traced = trace && (pass % 4 == 1 || pass % 4 == 2)
        settle()
        if (traced) {
          ctx.tr.enabled = true
          wl.probe(ctx)
          ctx.tr.enabled = false
          record(ctx, listener, out, pass, "probe")
        }
        val s = runPass(ctx, wl, wl.order(seed, pass), "measure", pass, results, out,
          if (traced) listener else None)
        out.rec("pass", "pass" -> pass, "traced" -> traced, "s" -> s)
        listener.foreach { l => BenchBus.drain(spark.sparkContext); l.take() }
      }
      out.rec("measured", "s" -> (System.nanoTime() - t0) / 1e9, "passes" -> passes)
      spark.stop()
    } finally {
      out.rec("rss", "peak_mb" -> peakRssMb)
      out.flush()
    }
  }

  /** Runs every operation once; returns the summed operation wall. */
  private def runPass(c: Ctx, wl: Workload, ops: Seq[Op], phase: String, pass: Int,
                      results: Results, out: Out, listener: Option[Listener]): Double = {
    c.tr.enabled = listener.isDefined
    var wall = 0.0
    for (op <- ops) {
      val c0 = HostCpu.sample()
      val t0 = System.nanoTime()
      val res = try Right(c.tr.span("op")(op.run(c)))
        catch { case e: Exception => Left(e) }
      val s = (System.nanoTime() - t0) / 1e9
      val cpu = HostCpu.since(c0)
      wall += s
      // untimed from here on
      c.tr.enabled = false
      val (digest, err) = res match {
        case Right((cols, rows)) => (results.digest(op.name, cols, rows), null)
        case Left(e) =>
          System.err.println(s"[graftbench] ${op.name} failed: $e")
          (null, e.getClass.getName)
      }
      out.rec("op", Seq("phase" -> phase, "pass" -> pass, "op" -> op.name, "s" -> s,
        "digest" -> digest, "error" -> err) ++ cpu: _*)
      if (listener.isDefined) record(c, listener, out, pass, op.name)
      wl.after(c, op, out, pass)
      c.tr.enabled = listener.isDefined
    }
    c.tr.enabled = false
    wall
  }

  /** Writes the spans and Spark counts gathered since the last call. */
  private def record(c: Ctx, listener: Option[Listener], out: Out, pass: Int, op: String): Unit =
    listener.foreach { l =>
      BenchBus.drain(c.spark.sparkContext)
      val n = l.take()
      c.tr.take().foreach(s => out.rec("span", "pass" -> pass, "op" -> op, "id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "start_ms" -> Clock.ms(s.startNs),
        "end_ms" -> Clock.ms(s.endNs)))
      n.jobs.foreach(j => out.rec("job", "pass" -> pass, "op" -> op, "id" -> j.id,
        "span" -> j.span, "start_ms" -> j.startMs, "end_ms" -> j.endMs))
      out.rec("counts", "pass" -> pass, "op" -> op, "jobs" -> n.jobs.size, "stages" -> n.stages,
        "tasks" -> n.tasks, "failed_tasks" -> n.failedTasks, "task_busy_s" -> n.busyMs / 1e3,
        "task_cpu_s" -> n.cpuNs / 1e9, "task_wait_s" -> n.waitMs / 1e3, "gc_s" -> n.gcMs / 1e3,
        "shuffle_write_b" -> n.shuffleWrite, "shuffle_read_b" -> n.shuffleRead,
        "spill_b" -> n.spill, "input_b" -> n.input, "analysis_s" -> n.analysisMs / 1e3,
        "optimization_s" -> n.optimizationMs / 1e3, "planning_s" -> n.planningMs / 1e3)
    }

  /** Before a measured pass: collect the heap and wait (at most 2 s) until
    * the JIT compiler has been idle for 0.2 s, so that neither a collection
    * nor the compiles queued by the previous pass land inside the next. */
  private def settle(): Unit = {
    System.gc()
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val t0 = System.nanoTime()
    var last = -1L
    var idle = 0
    while (idle < 2 && System.nanoTime() - t0 < 2e9) {
      Thread.sleep(100)
      val now = jit.getTotalCompilationTime
      if (now == last) idle += 1 else { idle = 0; last = now }
    }
  }

  /** Host CPU time from the first line of /proc/stat, in clock ticks:
    * busy (user, nice, system, irq, softirq) and steal, the time a virtual
    * CPU wanted to run but the hypervisor ran another guest. Zeros where
    * the file is missing. */
  object HostCpu {
    def sample(): (Long, Long) =
      try {
        val src = scala.io.Source.fromFile("/proc/stat")
        val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
        (f(0) + f(1) + f(2) + f(5) + f(6), if (f.length > 7) f(7) else 0L)
      } catch { case _: Exception => (0L, 0L) }

    def since(c0: (Long, Long)): Seq[(String, Any)] = {
      val c1 = sample()
      Seq("busy_j" -> (c1._1 - c0._1), "steal_j" -> (c1._2 - c0._2))
    }
  }

  /** Peak resident set of this JVM (Linux VmHWM), or -1 where unknown. */
  private def peakRssMb: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
      finally src.close()
    } catch { case _: Exception => -1.0 }
}
