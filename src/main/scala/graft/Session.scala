package graft

import org.apache.spark.sql.SparkSession

/** The one place that decides how a graft session is configured.
  *
  * One Spark session owns both halves of the engine: the DataFrame
  * pipeline and the SQL surface over registered views. Its runtime SQL
  * confs are declared once, in [[confs]]:
  *
  *  - [[builder]] applies the table to a new session (plus the master,
  *    the UI switch and shuffle partitions sized to the local cores);
  *  - [[tune]] applies the same table to a session built elsewhere (the
  *    `SparkEntry.entry` contract);
  *  - [[child]] gives a builder that needs its own views or conf
  *    overrides a private session on the same SparkContext, planning
  *    like its parent.
  *
  * Builders leave the session they are given unchanged: no per-call
  * `conf.set`, and no temp view outside `Tables.registerAll`. A write
  * that needs a non-default mode states it as a write option. So
  * Verify's thread pool can share one session safely by construction.
  */
object Session {
  /** Runtime SQL confs, each declared once.
    *
    *  - AQE on: runtime coalescing of shuffle partitions, skew-join
    *    splitting and dynamic broadcast-join conversion keep a 100 TB
    *    plan healthy without hand-tuning per query.
    *  - UTC session timezone: date/timestamp semantics must match the
    *    DuckDB oracle and be machine-independent.
    *  - `nanosAsLong`: a TIMESTAMP(NANOS) events file reads as LongType
    *    nanos (see `Tables.events`); `timestamp[us]` files are unaffected.
    *
    * `spark.sql.files.maxPartitionBytes` stays at its 128 MB default: a
    * 32 MB local-sizing experiment measured the ingest parse slower
    * (~20 s vs ~17 s), and the conf perturbs every file scan. */
  val confs: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> "64m",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.parquet.filterPushdown" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** Local cores: `SPARK_GRAFT_CPUS`, else every available processor. */
  def cpus: String = sys.env.getOrElse(
    "SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString)

  /** Shuffle partitions = local cores; on a cluster this would be ~2-3x
    * total cores, and AQE coalesces down. */
  def builder(appName: String = "graft"): SparkSession.Builder =
    confs.foldLeft(SparkSession.builder()
      .appName(appName)
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cpus)) {
      case (b, (k, v)) => b.config(k, v)
    }

  def get(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Apply [[confs]] to an externally-created session. */
  def tune(spark: SparkSession): SparkSession = {
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    spark
  }

  /** A new session on `spark`'s SparkContext with `spark`'s runtime
    * conf and optimizer/planner rules, then `overrides`. It has its own
    * temp views and conf, so neither a view registered nor a conf set
    * on it reaches `spark` or a query running there concurrently. */
  def child(spark: SparkSession, overrides: (String, String)*): SparkSession = {
    val c = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      // static and core confs are the SparkContext's, already shared
      try c.conf.set(k, v)
      catch { case _: org.apache.spark.sql.AnalysisException => () }
    }
    overrides.foreach { case (k, v) => c.conf.set(k, v) }
    c.experimental.extraOptimizations = spark.experimental.extraOptimizations
    c.experimental.extraStrategies = spark.experimental.extraStrategies
    c
  }
}
