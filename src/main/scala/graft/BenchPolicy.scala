package graft

import org.json4s._
import org.json4s.jackson.{compactJson, parseJsonOpt}

/** Pure decision rules for the bench harness — extracted so the
  * budget/shedding/remediation policies are unit-testable without a
  * Spark session or a real loud host (round-15 verdict #1/#4/#5: the
  * r15 driver bench timed out, rc=124, because the work program was
  * fixed-size with no wall-clock budget, remediation ADDED reps
  * exactly when the host was loud, and the spread-trend guard
  * classified host weather as systematic degradation).
  *
  * The bench's work program is priority-ordered — headline → ingest →
  * x1 → x10 → x20 — and every unit after the first full headline
  * round checks [[shed]] before running; what doesn't fit the budget
  * is recorded under `skipped_deadline`, never silently absent.
  */
object BenchPolicy {

  /** Default wall-clock budget (seconds), env-overridable via
    * SPARK_GRAFT_BENCH_BUDGET_S. Sized comfortably under the driver's
    * observed kill window (the r15 SIGTERM landed past ~3600 s; a
    * quiet-host full program measured 3050 s wall in round 16, with
    * the last ~80 s the x20 io passes): the budget sheds the
    * expendable tail instead of letting the driver's timeout lose the
    * whole artifact. Since round 17 the retry pass runs INSIDE the
    * budget (see [[retryAllowed]]) and units shed pre-emptively on
    * predicted cost (see [[shedPredicted]]), so worst-case overrun
    * past the budget is one mispredicted in-flight rep + shutdown
    * quiesce — the kill-window margin is ~450 s, not ~200. */
  val DefaultBudgetS: Double = 3150.0

  /** Seconds held back from the work budget for end-of-run accounting:
    * the fallback retry pass, the untimed io passes' cleanup, JSON
    * assembly and the shutdown quiesce must always fit. A TRUE reserve
    * INSIDE the budget (round-16 advice): retries are admitted only
    * while at least this much budget remains, so an operator who sets
    * SPARK_GRAFT_BENCH_BUDGET_S at their driver's actual kill window
    * gets a run that finishes inside it — the reserve never EXTENDS
    * the budget. */
  val RetryReserveS: Double = 90.0

  /** External cores (host user+steal minus this JVM's user time, per
    * wall second) above which a rep is load-gated: it still counts as a
    * success, but not as a clean sample for the lane minimum. */
  val ExtCoresGate: Double = 1.0

  /** Consecutive gated reps after which remediation reps stop. */
  val LoudCap: Int = 6

  /** The stdout line's length cap: the round record parses the last JSON
    * line of a ~2000-char stdout tail, and a longer line leaves only a
    * suffix in the window (round 7's parsed:null). */
  val MaxLineChars: Int = 1800

  /** Renders a compact artifact line, dropping its elastic parts in
    * `drops` order until it fits [[MaxLineChars]]: each dropped key is
    * removed, except `queries`, which the round record reads and is
    * emptied.
    * The last tier is returned even if it still does not fit. */
  def fitLine(line: JObject,
              drops: Seq[String] = Seq("scale", "steady", "ingest", "queries")): String = {
    val tiers = drops.inits.toSeq.reverse.map(gone => compactJson(JObject(
      line.obj.collect {
        case ("queries", _) if gone.contains("queries") => "queries" -> JObject()
        case (k, v) if !gone.contains(k) => k -> v
      })))
    tiers.find(_.length <= MaxLineChars).getOrElse(tiers.last)
  }

  /** A unit of work past the deadline is shed (skip-and-record). */
  def shed(remainingS: Double): Boolean = remainingS <= 0

  /** End-of-run retry admission (round-16 advice, the medium item):
    * a retry rep runs only while the remaining budget still covers the
    * reserve — the reserve is held back FROM the work budget, so the
    * run's total stays at or under budget + one in-flight rep instead
    * of budget + reserve + one rep. */
  def retryAllowed(remainingS: Double,
                   reserveS: Double = RetryReserveS): Boolean =
    remainingS > reserveS

  /** Predicted cost of one lane rep from the PREVIOUS run's recorded
    * reps for the same key (BENCH_DETAIL `reps`), falling back to this
    * run's own first-rep observation. Max-of-reps, not min: shedding
    * protects the reserve, so the conservative estimate is the one
    * that errs toward shedding. None = no evidence either way. */
  def predictedCostS(prevReps: Seq[Double],
                     observedReps: Seq[Double]): Option[Double] = {
    val basis = if (prevReps.nonEmpty) prevReps else observedReps
    basis.maxOption
  }

  /** Pre-emptive shed-before-start (round-16 verdict #3): a unit whose
    * PREDICTED cost would eat into the end-of-run reserve is shed
    * before it runs — today's shed-at-zero admits a unit at
    * remaining=1s and a 50s rep then burns half the reserve. No
    * prediction (None) degrades to the plain deadline check: shedding
    * on absent evidence would starve every first rep. */
  def shedPredicted(remainingS: Double, predictedS: Option[Double],
                    reserveS: Double = RetryReserveS): Boolean =
    shed(remainingS) ||
      predictedS.exists(p => p > remainingS - reserveS)

  /** Parse the previous run's per-key rep durations out of a
    * BENCH_DETAIL.json text — the predictive-shed cost model's input.
    * Returns empty when the file records a DIFFERENT sf than `sfDir`:
    * sf0.1 rep times predict nothing about an sf0.01 run (10x off in
    * either direction — premature shed or useless admission). A
    * malformed file parses to empty, never throws. */
  def parseDetailReps(detailJson: String,
                      sfDir: String): Map[String, Seq[Double]] =
    parseJsonOpt(detailJson).filter(d => (d \ "sf") == JString(sfDir))
      .map(_ \ "reps").collect { case JObject(fs) =>
        fs.map { case (k, v) => k -> (v match {
          case JArray(xs) => xs.collect {
            case JDouble(x) => x
            case JInt(x) => x.toDouble
          }
          case _ => Nil
        }) }.toMap
      }.getOrElse(Map.empty)

  /** How many lanes the previous BENCH_DETAIL.json text lists under
    * `rep_spread_raw`; None when it does not parse or has no such map. */
  def rawSpreadCount(detailJson: String): Option[Int] =
    parseJsonOpt(detailJson).map(_ \ "rep_spread_raw")
      .collect { case JObject(fs) => fs.size }

  /** Simulate a priority-ordered unit trace `(key, predicted, actual)`
    * against a budget with the predictive shed: returns (ran, shed,
    * elapsed). The spec plants a trace where a long unit near the
    * budget edge is shed BEFORE starting — where the shed-at-zero
    * policy would run it and overrun into the reserve. */
  def simulateShedding(units: Seq[(String, Option[Double], Double)],
                       budgetS: Double,
                       reserveS: Double = RetryReserveS)
      : (Seq[String], Seq[String], Double) = {
    var elapsed = 0.0
    val ran = Seq.newBuilder[String]
    val shedKeys = Seq.newBuilder[String]
    units.foreach { case (key, predicted, actual) =>
      if (shedPredicted(budgetS - elapsed, predicted, reserveS))
        shedKeys += key
      else { ran += key; elapsed += actual }
    }
    (ran.result(), shedKeys.result(), elapsed)
  }

  /** Consecutive-gated-rep counter fold: ext_cores above the threshold
    * extends the streak, a quiet rep resets it, and a rep with NO
    * /proc evidence (ext < 0) leaves it unchanged — absence of
    * evidence is never evidence of quiet. */
  def nextConsecutiveGated(prev: Int, extCores: Double,
                           threshold: Double): Int =
    if (extCores < 0) prev
    else if (extCores > threshold) prev + 1
    else 0

  /** Remediation admission (round-15 verdict #4): gated-extra and
    * steady reps exist to catch a QUIET window — once the host has
    * been loud for `loudCap` consecutive reps, more reps buy nothing
    * and burn the budget, so remediation stops (the lane falls back,
    * recorded, exactly as if the extra reps had run and gated). */
  def remediationAllowed(consecutiveGated: Int, loudCap: Int): Boolean =
    consecutiveGated < loudCap

  /** Total remediation reps admitted under a rep-by-rep ext_cores
    * trace — the bounded-rep-count law the simulated-loud spec
    * asserts: on a host loud from the start, admissions stop after
    * `loudCap` reps regardless of how many are offered. */
  def simulateRemediation(extTrace: Seq[Double], threshold: Double,
                          loudCap: Int): Int = {
    var streak = 0
    var admitted = 0
    extTrace.foreach { ext =>
      if (remediationAllowed(streak, loudCap)) admitted += 1
      streak = nextConsecutiveGated(streak, ext, threshold)
    }
    admitted
  }

  /** Spread-trend severity (round-15 verdict #5): growth in raw >5x
    * rep spreads is an ERROR (exit 3) only on a quiet host — on a
    * loud one (any load-gate fallback, or remediation capped) the
    * growth is host weather, downgraded to a warning. Quiet-host
    * growth keeps the r13 guard's teeth. */
  def spreadTrendSeverity(violated: Boolean, hostLoud: Boolean): String =
    if (!violated) "ok" else if (hostLoud) "warning" else "error"
}
