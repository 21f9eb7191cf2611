package graft

/** `Probe.run` drives every mode on the shared test session at sf0.001
  * (`main` only adds the session's lifecycle): each mode prints its
  * tagged lines for a query target and two scale lanes of the bench's
  * table (`q29_sessionization` was not a probe lane before), `jobs`
  * accounts a rep to at least one job whose summed wall fits inside
  * the rep, and a bad mode or target is refused before any job runs. */
class ProbeSpec extends SparkSpec {

  private val targets =
    Seq("q4_top10_products", "q22_minhash_xx@x1", "q29_sessionization@x1")

  private def probe(args: String*): Seq[String] = {
    val out = new java.io.ByteArrayOutputStream
    Console.withOut(out)(Probe.run(spark, args.toArray))
    out.toString("UTF-8").linesIterator.toSeq
  }

  test("plan prints the formatted physical plan") {
    val out = probe("plan", sf, "q1_total_margin_2m")
    assert(out.contains("=================== q1_total_margin_2m ==================="))
    assert(out.contains("== Physical Plan =="))
  }

  test("time prints cold, per-rep and summary lines per target") {
    val out = probe("time", sf, targets.mkString(","), "1")
    targets.foreach { t =>
      assert(out.exists(_.startsWith(s"PROBE time $t cold: ")), t)
      assert(out.exists(l => l.startsWith(s"PROBE time $t rep1: ") &&
        l.contains(" load1=") && l.contains(" ext=")), t)
      assert(out.exists(_.startsWith(s"PROBE time SUMMARY $t min=")), t)
    }
  }

  test("jobs: every rep runs jobs whose summed wall fits in the rep") {
    val out = probe("jobs", sf, targets.mkString(","), "1")
    val Rep = """PROBE jobs (\S+) rep1: wall=([\d.]+) s jobs=(\d+) job_wall=([\d.]+) s shuffle_write_mb=[\d.]+""".r
    val reps = out.collect { case Rep(t, wall, n, jw) =>
      t -> (wall.toDouble, n.toInt, jw.toDouble)
    }.toMap
    assert(reps.keySet === targets.toSet, out.mkString("\n"))
    reps.foreach { case (t, (wall, n, jobWall)) =>
      assert(n >= 1, t)
      assert(out.count(_.startsWith(s"PROBE jobs $t rep1 job")) === n, t)
      assert(jobWall <= wall, s"$t: job_wall $jobWall > rep wall $wall")
      assert(out.contains(s"PROBE jobs $t plan:"), t)
    }
  }

  test("phases prints build, Catalyst phases and execute per rep") {
    val out = probe("phases", sf, targets.mkString(","), "1")
    val Phases = """PROBE phases (\S+) rep1: build=[\d.]+ analysis=[\d.]+ optimization=([\d.]+) planning=([\d.]+) execute=[\d.]+ s""".r
    val seen = out.collect { case Phases(t, opt, pl) => t -> (opt.toDouble + pl.toDouble) }.toMap
    assert(seen.keySet === targets.toSet, out.mkString("\n"))
    // optimization + planning are read from the tracker, not zeroed
    assert(seen("q4_top10_products") > 0.0)
  }

  test("an unknown mode or target is refused before any query runs") {
    def refused(args: String*): String = {
      var msg = ""
      val io = Metrics.measure(spark) {
        msg = intercept[IllegalArgumentException](probe(args: _*)).getMessage
      }
      assert(io.jobs === 0, s"${args.mkString(" ")} ran a job before refusing")
      msg
    }
    assert(refused("timing", sf).contains("unknown mode 'timing'"))
    assert(refused("time", sf, "q4_top10_products,q4_top10").contains(
      "unknown target 'q4_top10'"))
    assert(refused("jobs", sf, "q22_minhash@x2").contains("unknown lane 'q22_minhash'"))
    assert(refused("jobs", sf, "q22_minhash_xx").contains("needs a factor"))
    assert(refused("jobs", sf, "q22_minhash_xx@x0").contains("bad replica factor"))
  }
}
