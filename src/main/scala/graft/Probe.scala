package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** The one probe main: where a query's time goes, in one warmed JVM.
  * Usage: runMain graft.Probe <mode> <sfDir> [targets-csv] [reps]
  *  - `plan`: the formatted physical plan, before execution.
  *  - `time`: an untimed warm of the headline suite, each target's cold
  *    time, then round-major interleaved reps with load1 and external
  *    cores, and a min/median/max summary: the same-context A/B tool.
  *  - `jobs`: per rep, each job's wall, the job count, summed job wall
  *    and shuffle-write MB (`Metrics.measure`); rep wall minus job wall
  *    is driver work between jobs. Then the final AQE plan's skeleton.
  *  - `phases`: per rep, build and execute walls plus Catalyst analysis,
  *    optimization and planning from the frame's QueryPlanningTracker.
  * A target is a `SparkEntry.queries` name or a lane of the bench's
  * table ([[Lanes]]): `<lane>@x<N>` for a scale lane at replica factor N,
  * the bare name for a lane that does not scale (`ingest_*`,
  * `q22_served`, `q0_scaling_probe`). Targets default to the headline
  * queries, reps to 3. A lane's prep runs off the clock before each rep;
  * its inputs are released on the way out. `SPARK_GRAFT_EXTRA_CONFS`
  * (`k=v;k=v`) is set on the session first, so any mode can A/B a Spark
  * setting. */
object Probe {
  private val usage =
    "usage: Probe <plan|time|jobs|phases> <sfDir> [targets-csv] [reps]"

  /** A resolved target: its label, the off-the-clock prep each rep runs
    * first, and the function that makes the frame a rep forces. */
  private final case class Target(name: String, prep: () => Unit,
                                  build: () => DataFrame)

  private type Mode = (SparkSession, String, Seq[Target], Int) => Unit

  /** Parses a targets csv into (label, lane, replica factor); the lane is
    * None for a query. Refuses an unknown name before any query runs. */
  def parseTargets(csv: String): Seq[(String, Option[Lane], Int)] = {
    val targets = csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { t =>
      t.split("@x", 2) match {
        case Array(q) =>
          val lane = Lanes.named(q, scaled = false)
            .filterNot(_ => SparkEntry.queries.contains(q))
          require(SparkEntry.queries.contains(q) || lane.isDefined,
            if (Lanes.named(q, scaled = true).isDefined)
              s"lane target '$q' needs a factor: $q@x<N>"
            else s"unknown target '$q': not a SparkEntry query, a lane or <lane>@x<N>")
          (q, lane, 1)
        case Array(name, n) =>
          val lane = Lanes.named(name, scaled = true)
          require(lane.isDefined, s"unknown lane '$name' in target '$t' (scale " +
            s"lanes: ${Lanes.group(Lanes.Scale).map(_.name).sorted.mkString(",")})")
          val times = n.toIntOption.filter(_ >= 1)
          require(times.isDefined, s"bad replica factor in target '$t'")
          (s"$name@x${times.get}", lane, times.get)
      }
    }
    require(targets.nonEmpty, s"no targets in '$csv'")
    targets
  }

  private def force(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  private def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** The one rep loop: round-major, so every target sees the same host
    * weather within a round; each rep's prep runs first, off the clock. */
  private def eachRep(targets: Seq[Target], reps: Int)(
      body: (String, Int, () => DataFrame) => Unit): Unit =
    for (r <- 1 to reps; t <- targets) { t.prep(); body(t.name, r, t.build) }

  private val plan: Mode = (_, _, targets, _) =>
    targets.foreach { t =>
      t.prep()
      println(s"\n=================== ${t.name} ===================")
      println(t.build().queryExecution.explainString(FormattedMode))
    }

  private val time: Mode = (spark, sfDir, targets, reps) => {
    Lanes.headline.filterNot(n => targets.exists(_.name == n)).foreach(n =>
      try force(SparkEntry.queries(n)(spark, sfDir)) catch { case _: Throwable => () })
    targets.foreach { t =>
      t.prep()
      println(f"PROBE time ${t.name} cold: ${seconds(force(t.build()))}%.3f s")
    }
    val log = collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    eachRep(targets, reps) { (name, r, build) =>
      // Bench's load-gate signal, so probe lines and BENCH_DETAIL's
      // ext_cores attribute interference in one currency
      val extCores = new Metrics.ExtCores
      val dt = seconds(force(build()))
      val ext = extCores.over(dt)
      log(name) = log(name) :+ dt
      println(f"PROBE time $name rep$r: $dt%.3f s load1=${Metrics.load1()} ext=$ext%.2f")
    }
    targets.map(_.name).foreach { name =>
      val ts = log(name).sorted
      println(f"PROBE time SUMMARY $name min=${ts.head}%.3f " +
        f"median=${ts(ts.size / 2)}%.3f max=${ts.last}%.3f")
    }
  }

  private val jobs: Mode = (spark, _, targets, reps) => {
    val last = collection.mutable.Map[String, DataFrame]()
    eachRep(targets, reps) { (name, r, build) =>
      var wall = 0.0
      val io = Metrics.measure(spark) {
        wall = seconds { val df = build(); last(name) = df; force(df) }
      }
      io.jobWalls.zipWithIndex.foreach { case (w, i) =>
        println(f"PROBE jobs $name rep$r job$i: $w%.3f s")
      }
      println(f"PROBE jobs $name rep$r: wall=$wall%.3f s jobs=${io.jobs} " +
        f"job_wall=${io.jobWall}%.3f s shuffle_write_mb=${io.shuffleWriteBytes / 1e6}%.2f")
    }
    // the FINAL executed plan (AQE settles it at runtime)
    targets.map(_.name).foreach { name =>
      println(s"PROBE jobs $name plan:")
      last(name).queryExecution.executedPlan.toString.linesIterator
        .filter(l => l.contains("Join") || l.contains("Exchange") ||
          l.contains("HashAggregate") || l.contains("AQEShuffleRead"))
        .foreach(l => println("PROBE jobs   " + l.take(160)))
    }
  }

  private val phases: Mode = (_, _, targets, reps) =>
    eachRep(targets, reps) { (name, r, build) =>
      var df: DataFrame = null
      val tBuild = seconds { df = build() }
      // the frame's own QueryExecution records its phases once planned;
      // the noop write then plans its write command around that frame,
      // and that re-planning is part of execute
      df.queryExecution.executedPlan
      val p = df.queryExecution.tracker.phases
      val tExec = seconds(force(df))
      def phase(k: String): Double = p.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
      println(f"PROBE phases $name rep$r: build=$tBuild%.3f " +
        f"analysis=${phase("analysis")}%.3f optimization=${phase("optimization")}%.3f " +
        f"planning=${phase("planning")}%.3f execute=$tExec%.3f s")
    }

  private val modes: Map[String, Mode] =
    Map("plan" -> plan, "time" -> time, "jobs" -> jobs, "phases" -> phases)

  /** Runs one probe on a caller-owned session; `main` only adds the
    * session's lifecycle. */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    require(args.length >= 2, usage)
    val mode = modes.getOrElse(args(0), throw new IllegalArgumentException(
      s"unknown mode '${args(0)}'; $usage"))
    val sfDir = args(1)
    val targets = parseTargets(
      if (args.length > 2) args(2) else Lanes.headline.mkString(","))
    val reps = if (args.length > 3) args(3).toInt else 3
    require(reps >= 1, s"reps must be >= 1, got $reps")
    sys.env.get("SPARK_GRAFT_EXTRA_CONFS").foreach(
      _.split(";").filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2).map(_.trim)
        spark.conf.set(k, v)
        println(s"PROBE conf: $k=$v")
      })
    val scratch = s"${sys.props("user.dir")}/target/probe_fixtures"
    val inputs = collection.mutable.Map[Int, Inputs]()
    try mode(spark, sfDir, targets.map {
      case (q, None, _) => Target(q, () => (), () => SparkEntry.queries(q)(spark, sfDir))
      case (label, Some(lane), n) =>
        val in = inputs.getOrElseUpdate(n, new Inputs(spark, sfDir, n, s"$scratch/x$n"))
        Target(label, () => lane.prep(in), () => lane.frame(in))
    }, reps)
    finally {
      inputs.values.foreach(_.cleanup())
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(scratch))
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = Session.get("graft-probe")
    try run(spark, args) finally spark.stop()
  }
}
