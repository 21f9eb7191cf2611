package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.expr

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
  * A target is a `SparkEntry.queries` name or `<lane>@x<N>`, a
  * ScaleBench lane at replica factor N; targets default to
  * `Bench.headline`, reps to 3. Lane fixtures are built before the
  * first rep and deleted on the way out. `SPARK_GRAFT_EXTRA_CONFS`
  * (`k=v;k=v`) is set on the session first, so any mode can A/B a
  * Spark setting. */
object Probe {
  private val usage =
    "usage: Probe <plan|time|jobs|phases> <sfDir> [targets-csv] [reps]"

  private type Mode = (SparkSession, String, Seq[(String, () => DataFrame)], Int) => Unit

  /** A lane's rep body, built from (spark, sfDir, times, scratch dir);
    * building it runs the lane's off-the-clock fixture prep. */
  private type Lane = (SparkSession, String, Int, String) => () => DataFrame

  private def docsLane(op: DataFrame => DataFrame): Lane = (spark, sfDir, times, _) => {
    val docs = ScaleBench.documents(spark, sfDir, times)
    () => op(docs)
  }

  /** The `ingest_*` lanes run over the bench's cached CSV fixture
    * (largest file, all three files); the replica factor is ignored. */
  private def ingestLane(op: (SparkSession, (String, Seq[String]), String) => DataFrame): Lane =
    (spark, _, _, dir) => {
      val fixture = graft.sources.IngestFixture.ensure(spark)
      () => op(spark, fixture, dir)
    }

  private def nothing(spark: SparkSession): DataFrame = spark.range(0).toDF()

  private val tx = graft.model.ReferenceSchemas.transactions

  private val lanes: Map[String, Lane] = Map(
    // same 1/5 slice the bench lane runs (doc_id = base*times+i, so
    // `div times` recovers the base id in every replica)
    "q218_weighted_jaccard" -> { (spark, sfDir, times, _) =>
      val docs = ScaleBench.documents(spark, sfDir, times)
        .filter(expr(s"(doc_id div $times) % 5 = 0")).localCheckpoint(true)
      () => ScaleBench.weightedJaccard(docs)
    },
    "q22_minhash_xx" -> docsLane(ScaleBench.minhashPairs),
    "q99_prefix_jaccard" -> docsLane(ScaleBench.prefixJaccard),
    "q40_dedup_clusters" -> docsLane(ScaleBench.clusters),
    "q162_shared_substring" -> docsLane(ScaleBench.sharedSubstring),
    "q223_kcore" -> { (spark, sfDir, times, _) =>
      val e = ScaleBench.kcoreEdges(spark, sfDir, times).localCheckpoint(true)
      () => ScaleBench.kcore(e)
    },
    "q141_stream_incremental_cc" -> { (spark, sfDir, times, dir) =>
      ScaleBench.streamIncCcPrep(spark, sfDir, times, dir)
      () => ScaleBench.streamIncrementalCc(spark, sfDir, dir, times)
    },
    "q61_stream_rocksdb" -> { (spark, sfDir, times, dir) =>
      ScaleBench.streamNearDupPrep(spark, sfDir, times, dir)
      () => graft.streaming.StreamOps.withStateStore(spark,
        graft.streaming.StreamOps.RocksDbProvider)(ScaleBench.streamNearDup(_, dir, times))
    },
    // the build's shuffle shape: `jobs` prints its shuffle-write MB,
    // which must stay linear in the edge count at every factor
    "q146_layout_build" -> { (spark, sfDir, times, _) =>
      val e = ScaleBench.pageRankEdges(spark, sfDir, times)
      () => { ScaleBench.pageRankLayoutBuild(spark, e, times); nothing(spark) }
    },
    // typed parse of the largest file vs the same read without the
    // typed repair: the wall delta is the alignTo expression cost
    "ingest_load_largest" -> ingestLane((spark, f, _) =>
      graft.sources.CsvSource.alignTo(graft.sources.CsvSource.readRaw(spark, f._1), tx)),
    "ingest_raw_read" -> ingestLane((spark, f, _) =>
      graft.sources.CsvSource.readRaw(spark, f._1)),
    // read -> repair -> align -> union over all three files, no write
    "ingest_aligned" -> ingestLane((spark, f, _) =>
      graft.sources.CsvSource.readAligned(spark, f._2, tx)),
    // the whole lane, month-partitioned warehouse write included
    "ingest_full_warehouse" -> ingestLane { (spark, f, dir) =>
      graft.sources.IngestFixture.fullIngest(spark, f._2, dir); nothing(spark)
    })

  /** Parses a targets csv into (query-or-lane, replica factor), the
    * factor None for a query. Refuses an unknown name before any query
    * runs. */
  private def parseTargets(csv: String): Seq[(String, Option[Int])] = {
    val targets = csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { t =>
      t.split("@x", 2) match {
        case Array(q) =>
          require(SparkEntry.queries.contains(q),
            if (lanes.contains(q)) s"lane target '$q' needs a factor: $q@x<N>"
            else s"unknown target '$q': not a SparkEntry query or <lane>@x<N>")
          (q, None)
        case Array(lane, n) =>
          require(lanes.contains(lane), s"unknown lane '$lane' in target '$t' " +
            s"(lanes: ${lanes.keys.toSeq.sorted.mkString(",")})")
          val times = n.toIntOption.filter(_ >= 1)
          require(times.isDefined, s"bad replica factor in target '$t'")
          (lane, times)
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
    * weather within a round. */
  private def eachRep(targets: Seq[(String, () => DataFrame)], reps: Int)(
      body: (String, Int, () => DataFrame) => Unit): Unit =
    for (r <- 1 to reps; (name, build) <- targets) body(name, r, build)

  private val plan: Mode = (_, _, targets, _) =>
    targets.foreach { case (name, build) =>
      println(s"\n=================== $name ===================")
      println(build().queryExecution.explainString(FormattedMode))
    }

  private val time: Mode = (spark, sfDir, targets, reps) => {
    Bench.headline.filterNot(n => targets.exists(_._1 == n)).foreach(n =>
      try force(SparkEntry.queries(n)(spark, sfDir)) catch { case _: Throwable => () })
    targets.foreach { case (name, build) =>
      println(f"PROBE time $name cold: ${seconds(force(build()))}%.3f s")
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
    targets.foreach { case (name, _) =>
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
    targets.foreach { case (name, _) =>
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
      if (args.length > 2) args(2) else Bench.headline.mkString(","))
    val reps = if (args.length > 3) args(3).toInt else 3
    require(reps >= 1, s"reps must be >= 1, got $reps")
    sys.env.get("SPARK_GRAFT_EXTRA_CONFS").foreach(
      _.split(";").filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2).map(_.trim)
        spark.conf.set(k, v)
        println(s"PROBE conf: $k=$v")
      })
    val scratch = s"${sys.props("user.dir")}/target/probe_fixtures"
    try {
      val bodies = targets.map {
        case (q, None) => q -> (() => SparkEntry.queries(q)(spark, sfDir))
        case (lane, Some(n)) =>
          s"$lane@x$n" -> lanes(lane)(spark, sfDir, n, s"$scratch/${lane}_x$n")
      }
      mode(spark, sfDir, bodies, reps)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(scratch))
  }

  def main(args: Array[String]): Unit = {
    val spark = Session.get("graft-probe")
    try run(spark, args) finally spark.stop()
  }
}
