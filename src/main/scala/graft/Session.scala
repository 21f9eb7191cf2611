package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine.
  *
  * The reference (`/root/reference`) delegates execution to Polars +
  * PostgreSQL; here one Spark session owns both halves (programmatic
  * DataFrame pipeline + SQL surface). Config choices are made for a real
  * cluster and merely *sized* for local[32] testing:
  *
  *  - AQE on: runtime coalescing of shuffle partitions, skew-join
  *    splitting, and dynamic broadcast-join conversion are the knobs that
  *    keep a 100 TB plan healthy without hand-tuning per query.
  *  - shuffle.partitions = local cores. On a 1000-executor
  *    cluster this would be set ~2-3x total cores; AQE coalesces down.
  *  - UTC session timezone: date/timestamp semantics must match the
  *    DuckDB oracle and be machine-independent.
  */
object Session {
  /** Local cores: `SPARK_GRAFT_CPUS`, else every available processor. */
  def cpus: String = sys.env.getOrElse(
    "SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString)

  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.ui.enabled", "false")
      // events.parquet stores TIMESTAMP(NANOS); see Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // every partitioned overwrite in the engine targets either a
      // fresh scratch path or an intentional partition restate, so
      // dynamic mode is a session-wide invariant (per-operator
      // set/restore would race across Verify's concurrent query pool)
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")

  def get(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Apply graft configs to an externally-created session (the
    * `SparkEntry.entry` contract). Only dynamic (non-static) confs can be
    * set here. */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // session-wide invariants, NOT per-operator scoped confs: Verify
    // runs every query concurrently on this one session, and a
    // set/try/restore in one thread can flip the conf out from under
    // another thread's in-flight write or microbatch
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    // spark.sql.files.maxPartitionBytes stays at the 128 MB default:
    // a 32 MB local-sizing experiment (round 14) measured the ingest
    // parse SLOWER (~20 s vs ~17 s steady-state fresh-JVM) — per-task
    // parser setup outweighs the extra waves at this file size — and
    // the conf perturbs every file scan, so the cluster norm stands.
    spark
  }
}
