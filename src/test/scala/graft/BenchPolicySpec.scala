package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench harness's budget/remediation/trend decision rules, tested
  * as pure functions (round-15 verdict #4/#5: a loud host must bound
  * the remediation rep count and downgrade spread-trend growth to a
  * warning — simulated here rep-by-rep, no real interference needed). */
class BenchPolicySpec extends AnyFunSuite {

  test("shed: past-deadline units are shed, in-budget units run") {
    assert(!BenchPolicy.shed(remainingS = 1.0))
    assert(BenchPolicy.shed(remainingS = 0.0))
    assert(BenchPolicy.shed(remainingS = -5.0))
  }

  test("consecutive-gated streak: loud extends, quiet resets, no-evidence holds") {
    val thr = 1.0
    assert(BenchPolicy.nextConsecutiveGated(0, 2.5, thr) === 1)
    assert(BenchPolicy.nextConsecutiveGated(3, 1.7, thr) === 4)
    assert(BenchPolicy.nextConsecutiveGated(5, 0.2, thr) === 0)
    // -1 = /proc unavailable: absence of evidence never resets OR
    // extends the streak
    assert(BenchPolicy.nextConsecutiveGated(4, -1.0, thr) === 4)
    // exactly at the threshold is NOT gated (the gate is strict >)
    assert(BenchPolicy.nextConsecutiveGated(2, 1.0, thr) === 0)
  }

  test("remediation on an always-loud host is bounded by the loud cap") {
    // r15's failure shape: gated_reps 32, every one of them a
    // remediation rep that never landed clean. Under the cap, an
    // arbitrarily long loud trace admits exactly loudCap reps.
    val loudTrace = Vector.fill(100)(3.0) // 3 external cores, forever
    assert(BenchPolicy.simulateRemediation(loudTrace, 1.0, loudCap = 6) === 6)
    assert(BenchPolicy.simulateRemediation(loudTrace, 1.0, loudCap = 3) === 3)
  }

  test("remediation resumes after a quiet window resets the streak") {
    // loud for 4, quiet for 1, loud for 10: the quiet rep resets the
    // streak, so admissions = 4 (streak 0..3) + 1 (quiet) + 6 (streak
    // 0..5 of the second loud run under cap 6) = 11
    val trace = Vector.fill(4)(3.0) ++ Vector(0.1) ++ Vector.fill(10)(3.0)
    assert(BenchPolicy.simulateRemediation(trace, 1.0, loudCap = 6) === 11)
  }

  test("quiet host admits every offered remediation rep") {
    val quiet = Vector.fill(20)(0.0)
    assert(BenchPolicy.simulateRemediation(quiet, 1.0, loudCap = 6) === 20)
  }

  test("spread-trend severity: loud-host growth is a warning, quiet-host an error") {
    assert(BenchPolicy.spreadTrendSeverity(violated = false,
      hostLoud = false) === "ok")
    assert(BenchPolicy.spreadTrendSeverity(violated = false,
      hostLoud = true) === "ok")
    // the r15 case: growth on a host with load1 2.7-4.0 → warning
    assert(BenchPolicy.spreadTrendSeverity(violated = true,
      hostLoud = true) === "warning")
    // the r13 guard keeps its teeth on a quiet host
    assert(BenchPolicy.spreadTrendSeverity(violated = true,
      hostLoud = false) === "error")
  }

  test("retry admission: the reserve is held back FROM the budget, never added") {
    // round-16 advice (medium): the old gate admitted retries until
    // elapsed exceeded budget + reserve. The reserve is now inside.
    assert(BenchPolicy.retryAllowed(remainingS = 91.0))
    assert(!BenchPolicy.retryAllowed(remainingS = 90.0))
    assert(!BenchPolicy.retryAllowed(remainingS = 10.0))
    assert(!BenchPolicy.retryAllowed(remainingS = -5.0))
  }

  test("predicted cost: previous run's reps first, own observation fallback, max") {
    // max-of-reps, not min: shedding protects the reserve, so the
    // conservative estimate is the one that errs toward shedding
    assert(BenchPolicy.predictedCostS(Seq(1.0, 50.8, 17.7),
      Seq(2.0)) === Some(50.8))
    assert(BenchPolicy.predictedCostS(Seq.empty, Seq(2.0, 3.5)) === Some(3.5))
    assert(BenchPolicy.predictedCostS(Seq.empty, Seq.empty) === None)
  }

  test("predictive shed: a unit predicted to eat the reserve sheds before start") {
    // remaining 100 s, reserve 90: a predicted-50 s unit would finish
    // at remaining 50 — inside the reserve — so it sheds BEFORE
    // running (the old shed-at-zero would have run it)
    assert(BenchPolicy.shedPredicted(100.0, Some(50.0), reserveS = 90.0))
    assert(!BenchPolicy.shed(100.0)) // ...which the plain check admits
    // comfortably-fitting unit runs
    assert(!BenchPolicy.shedPredicted(200.0, Some(50.0), reserveS = 90.0))
    // no prediction degrades to the plain deadline check
    assert(!BenchPolicy.shedPredicted(1.0, None, reserveS = 90.0))
    assert(BenchPolicy.shedPredicted(0.0, None, reserveS = 90.0))
  }

  test("detail-reps parse: keys and values extracted, wrong-sf and garbage ignored") {
    val detail = """{"metric":"total","value":6.9,"unit":"sec",""" +
      """"reps":{"q1_total_margin_2m":[0.522,0.541],""" +
      """"x10.q34_ivf_durable":[2.922,1.675,1.502]},""" +
      """"load_gate":{},"sf":"/root/testdata/sf0.1"}"""
    val m = BenchPolicy.parseDetailReps(detail, "/root/testdata/sf0.1")
    assert(m("q1_total_margin_2m") === Seq(0.522, 0.541))
    assert(m("x10.q34_ivf_durable") === Seq(2.922, 1.675, 1.502))
    // a detail from a different sf predicts nothing: ignored wholesale
    assert(BenchPolicy.parseDetailReps(detail,
      "/root/testdata/sf0.01") === Map.empty)
    // malformed input parses to empty, never throws
    assert(BenchPolicy.parseDetailReps("not json at all", "x") === Map.empty)
    assert(BenchPolicy.parseDetailReps("", "x") === Map.empty)
  }

  test("planted cost trace: predictive shed prevents the overrun the old policy allowed") {
    // The r16 shape: budget 200 s, reserve 90. Three units — a fast
    // lane, a 118 s interfered-ingest rep predicted from last run's
    // detail, another fast lane. Under shed-at-zero the 118 s unit
    // starts at remaining 190 and finishes at 72 — eating 80% of the
    // reserve; predictively it is shed before start and the cheap
    // lane after it still runs.
    val units = Seq(
      ("q1", Some(5.0), 5.0),
      ("ingest_stage_raw_read", Some(118.0), 118.0),
      ("q3", Some(4.0), 4.0))
    val (ran, shed, elapsed) =
      BenchPolicy.simulateShedding(units, budgetS = 200.0, reserveS = 90.0)
    assert(ran === Seq("q1", "q3"))
    assert(shed === Seq("ingest_stage_raw_read"))
    assert(elapsed === 9.0)
    // with room for everything, nothing sheds
    val (ranAll, shedNone, _) =
      BenchPolicy.simulateShedding(units, budgetS = 500.0, reserveS = 90.0)
    assert(ranAll.size === 3 && shedNone.isEmpty)
  }

  test("compact line: an oversized scale block drops first, then steady, then the queries map") {
    import org.json4s._
    import org.json4s.jackson.parseJson
    def lanes(n: Int, tag: String): JObject = JObject((1 to n).toList.map(i =>
      s"${tag}_lane_$i" -> JArray(List(JDecimal(1.25), JDecimal(2.5), JNull))))
    val queries = JObject(Lanes.headline.toList.map(_ -> JDecimal(0.512)))
    val steady = JObject("q1_total_margin_2m" -> JDecimal(0.5))
    def line(steady: JValue, scale: JValue, qs: JValue = queries): JObject = JObject(
      "metric" -> JString("total"), "queries" -> qs, "steady" -> steady,
      "errors_n" -> JInt(0), "sf" -> JString("/data/sf0.1"), "ingest" -> JNothing,
      "scale" -> scale, "pr_shuffle_mb_x20" -> JObject("146_pagerank" -> JDecimal(1.5)))
    def keys(v: JValue): List[String] = v match {
      case JObject(fs) => fs.map(_._1)
      case _ => Nil
    }
    def fit(l: JObject): JValue = {
      val s = BenchPolicy.fitLine(l)
      assert(s.length <= BenchPolicy.MaxLineChars, s)
      parseJson(s)
    }
    // a line that fits is rendered whole; an absent (JNothing) part is omitted
    val whole = fit(line(steady, lanes(2, "s")))
    assert(keys(whole) === List("metric", "queries", "steady", "errors_n", "sf",
      "scale", "pr_shuffle_mb_x20"))
    // an oversized scale block goes first; steady and queries stay
    val noScale = fit(line(steady, lanes(200, "s")))
    assert(keys(noScale) === List("metric", "queries", "steady", "errors_n", "sf",
      "pr_shuffle_mb_x20"))
    assert(keys(noScale \ "queries") === Lanes.headline.toList)
    // then steady
    val noSteady = fit(line(lanes(200, "t"), lanes(200, "s")))
    assert(keys(noSteady) === List("metric", "queries", "errors_n", "sf", "pr_shuffle_mb_x20"))
    assert(keys(noSteady \ "queries") === Lanes.headline.toList)
    // last, the queries map is emptied, never removed
    val emptied = fit(line(steady, lanes(200, "s"), qs = lanes(200, "q")))
    assert(keys(emptied) === List("metric", "queries", "errors_n", "sf", "pr_shuffle_mb_x20"))
    assert((emptied \ "queries") === JObject())
  }
}
