package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated testdata star schema
  * (`/root/testdata/sf*`, see TESTDATA.md). One parquet file per table.
  *
  * At 100 TB these would be partitioned/bucketed warehouse tables; the
  * loader is the single seam where that swap happens (path -> catalog
  * name), so every operator above it is storage-agnostic.
  *
  * A table's schema is resolved once per session, the way a catalog
  * resolves a table name. The memo holds one thing: a table's file
  * schema, per `SparkSession` (held weakly, so a `Session.child`
  * resolves on its own and a dropped session takes its entries with
  * it), keyed by the table's path and the path's [[dirFingerprint]]: a
  * rewritten file is a new identity and is inferred again. Inference
  * is a Spark job that reads a footer; reading with the memoised
  * schema skips it.
  *
  * Nothing else is kept. Every [[load]] builds a new relation (fresh
  * expression ids, a fresh file listing), so no relation, plan or
  * result is shared between calls, and the SQL path's views
  * ([[registerAll]]) go through the same [[load]].
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Per session: table path -> (its [[dirFingerprint]], its file schema). */
  private val schemas =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, (String, StructType)]]()

  private def schemasOf(spark: SparkSession): ConcurrentHashMap[String, (String, StructType)] =
    schemas.synchronized(schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap))

  /** The table's schema as stored in its file (for events, before the
    * `ts` normalisation of [[events]]), inferred once per session and
    * file identity. Concurrent callers of one table wait for the one
    * inference. A streaming builder gives it to `readStream.schema`. */
  def fileSchema(spark: SparkSession, dir: String, name: String): StructType = {
    val path = s"$dir/$name.parquet"
    val fp = dirFingerprint(path)
    schemasOf(spark).compute(path, (_, known) =>
      if (known != null && known._1 == fp) known
      else (fp, spark.read.parquet(path).schema))._2
  }

  /** A new relation over the table's file, read with its memoised schema. */
  private def read(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(fileSchema(spark, dir, name)).parquet(s"$dir/$name.parquet")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    name match {
      case "events" => events(spark, dir)
      case n        => read(spark, dir, n)
    }

  /** Driver-side metadata fingerprint of an input path: file names,
    * lengths and mtimes folded into one hex digest — the manifest-style
    * "did the source change" signal (a LIST call at 100 TB, never a
    * data scan). Stable across processes for unchanged data. The walk
    * is local: a `file:` URI resolves to its path, and any other scheme
    * is refused, since walking it as a local name would fingerprint
    * every version of it alike. */
  def dirFingerprint(path: String): String = {
    def walk(f: java.io.File): Seq[String] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).sortBy(_.getName)
          .toSeq.flatMap(walk)
      else Seq(s"${f.getName}:${f.length()}:${f.lastModified()}")
    val md = java.security.MessageDigest.getInstance("SHA-1")
    walk(new java.io.File(localPath(path))).foreach(s =>
      md.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  private val UriScheme = "^([a-zA-Z][a-zA-Z0-9+.-]*):".r

  private def localPath(path: String): String =
    UriScheme.findPrefixMatchOf(path).map(_.group(1).toLowerCase) match {
      case None => path
      case Some("file") =>
        val u = java.net.URI.create(path)
        Option(u.getPath).getOrElse(u.getSchemeSpecificPart)
      case Some(scheme) => throw new IllegalArgumentException(
        s"dirFingerprint walks local files only; cannot fingerprint $scheme path $path")
    }

  /** The events `ts` column has shipped in three parquet flavors across
    * testdata generations: TIMESTAMP(NANOS) (no native Spark type —
    * surfaces as LongType nanos under `legacy.parquet.nanosAsLong`,
    * which `Session.confs` sets),
    * plain `timestamp[us]` with isAdjustedToUTC=false (surfaces as
    * TIMESTAMP_NTZ under Spark 4's NTZ inference), and UTC-adjusted
    * micros (TimestampType). These helpers normalize any of them; the
    * session timezone is pinned to UTC, so the NTZ→LTZ cast is the
    * identity on the stored wall clock and both engines (Spark here,
    * DuckDB's naive read_parquet in the oracle) see the same instants. */
  def tsTimestamp(dt: DataType): Column = dt match {
    // integer division, NOT `/` (double division rounds: ns values
    // near 2^60 lose sub-microsecond digits and can round UP)
    case LongType         => timestamp_micros(expr("ts div 1000"))
    case TimestampNTZType => col("ts").cast(TimestampType)
    case _                => col("ts")
  }

  /** `ts` as epoch microseconds, regardless of storage flavor. */
  def tsMicros(dt: DataType): Column = dt match {
    case LongType => expr("ts div 1000")
    case dt       => unix_micros(tsTimestamp(dt))
  }

  /** Batch events loader: keeps lossless nanos in `ts_ns` (what oracle
    * comparisons use via epoch math) and exposes a micros-resolution
    * TimestampType `ts` for date logic. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = read(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case dt =>
        raw.withColumn("ts", tsTimestamp(dt))
          .withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
    }
  }

  /** Fan a small/few-split scan out across the session's cores
    * (optimization guide §2.5 — "input skew: one huge unsplittable
    * file ... repartition immediately after the read"). The sf*
    * testdata tables are single parquet files with ONE row group, so a
    * scan — and the whole projection/partial-aggregation stage
    * pipelined above it — runs as a single task no matter how many
    * cores the session has; measured on the sf0.1 headline block, the
    * scan stage was the serial bottleneck of q3/q4/q5/q17/q20.
    *
    * When the planned scan has fewer partitions than
    * `defaultParallelism`, one shuffle of the (projected) input spreads
    * the per-row work across every core: hash-partitioned on `keys`
    * when given (choose the downstream aggregation keys so the
    * exchange also satisfies the aggregate's distribution and no second
    * full-size exchange is planned), round-robin otherwise. When the
    * input already has enough splits — any real warehouse table — this
    * is the identity: no exchange is added, so at 100 TB it never
    * shuffles. The gate also tracks the core count, so lower-core runs
    * fan out to proportionally fewer partitions. The rule is a count,
    * not a byte threshold: skipping the fan-out for small files
    * measured slower (q17 at sf0.1 0.495 → 0.746 s). A one-row-group
    * file cut into as many byte splits as there are cores passes the
    * gate with one split reading rows (sf0.1 lineitem on 2 cores);
    * capping the count by row groups measured no gain there (q3/q4/q5,
    * 10 pairs).
    *
    * Contract: call on a freshly scanned/projected frame (the
    * partition probe plans the frame; anything with an exchange below
    * would be eagerly materialized by AQE), and project FIRST so the
    * one shuffle carries only the needed columns (guide §2.3).
    * Row-level results are unchanged: every caller aggregates with
    * order-independent functions (counts / exact decimal sums) or
    * re-sorts explicitly. */
  def fanOut(df: DataFrame, keys: Column*): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= p) df
    else if (keys.isEmpty) df.repartition(p)
    else df.repartition(p, keys: _*)
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Register every table as a temp view so `spark.sql` works against the
    * same names the DuckDB oracle sees (SURVEY §3.1 QueryRunner path). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    registerAll(names.map(n => n -> load(spark, dir, n)))

  /** Register each frame as a temp view on its own session: the one
    * temp-view registration in the engine. A builder that needs views
    * registers them on a `Session.child`, never on its caller's
    * session. */
  def registerAll(views: Seq[(String, DataFrame)]): Unit =
    views.foreach { case (n, df) => df.createOrReplaceTempView(n) }
}
