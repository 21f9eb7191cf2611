package graft

/** Targeted headline-query attribution probe (round-12 verdict #4 —
  * an in-JVM interleaved A/B pointed at named queries): warm the FULL
  * headline suite once untimed, then run N round-major interleaved
  * reps of just the named queries, printing per-rep wall + the host
  * 1-min load, and a min/median/max summary. One JVM, so JIT, page
  * cache and host weather are shared across every rep — the tool for
  * deciding whether a cross-round artifact delta is the engine or the
  * sampling.
  *
  * Round-13 finding (committed in PLANS.md): q5/q25 at 10 reps reach
  * 0.558 s / 0.304 s steady-state — BELOW their r11 artifact values
  * (0.772 / 0.424) — so the r12/r13 artifact readings (0.886-0.898 /
  * 0.449-0.465) are min-of-5 sampling still inside the JIT ramp for
  * these two shapes, not a regression.
  *
  * Usage: runMain graft.QProbe [sfDir] [queriesCsv] [reps]
  */
object QProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val names = (if (args.length > 1) args(1)
      else "q5_tx_per_store,q25_cosine_topk").split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt else 10
    val spark = Session.builder("graft-qprobe").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def force(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
    def load1(): Double = Metrics.load1()
    Bench.headline.foreach(n => try force(n) catch { case _: Throwable => () })
    val log = collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    for (r <- 1 to reps; q <- names) {
      val h0 = Metrics.hostUserStealJiffies()
      val s0 = Metrics.selfUserJiffies()
      val t0 = System.nanoTime(); force(q)
      val dt = (System.nanoTime() - t0) / 1e9
      // same external-cores signal as Bench's load gate (user+steal,
      // self-user subtracted), so probe lines and BENCH_DETAIL's
      // ext_cores attribute interference in one currency
      val ext =
        if (h0 >= 0 && s0 >= 0 && dt > 0.01)
          math.max(0.0, ((Metrics.hostUserStealJiffies() - h0) -
            (Metrics.selfUserJiffies() - s0)).toDouble / Metrics.Hz / dt)
        else -1.0
      log(q) = log(q) :+ dt
      println(f"QPROBE $q rep$r: $dt%.3f s load1=${load1()} ext=$ext%.2f")
    }
    names.foreach { q =>
      val ts = log(q)
      println(f"QPROBE SUMMARY $q min=${ts.min}%.3f " +
        f"median=${ts.sorted.apply(ts.size / 2)}%.3f max=${ts.max}%.3f")
    }
    spark.stop()
  }
}
