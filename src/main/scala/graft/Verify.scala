package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Queries run concurrently (Spark's scheduler interleaves their jobs
  * across the local[N] cores) — the queries are independent, and wall
  * clock matters because the driver runs this per round.
  */
object Verify {
  /** The query names a comma-separated filter selects. An unknown name
    * is refused: a mistyped filter must not dump nothing and pass. */
  def selectNames(filter: String): Set[String] = {
    val names = filter.split(",").map(_.trim).filter(_.nonEmpty).toSet
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(names.nonEmpty, s"empty query filter '$filter'")
    require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(",")}")
    names
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (local
    // iteration only — the driver always passes exactly 2 args and
    // gets the full map)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(selectNames(args(2))) else None
    def selected[V](m: Map[String, V]): Map[String, V] =
      only.fold(m)(names => m.view.filterKeys(names).toMap)
    val cpus = sys.env.getOrElse(
      "SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    Session.tune(spark)
    graft.plans.PlanGuard.installWarn(spark)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val futures = selected(SparkEntry.queries).toSeq.map { case (name, fn) =>
      Future {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    Await.result(Future.sequence(futures), Duration.Inf)
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = selected(SparkEntry.oracleSql)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    // q22x (production xxhash64 minhash lane) now shares q22's DuckDB
    // oracle — its verify join emits the exact h64-set Jaccard, which
    // is family-independent — so the gate row is a real hash compare.
    // Keep the pair-set selfcheck as a secondary artifact: it localizes
    // a failure to candidate RECALL (a borderline pair missing all
    // bands in one family) vs anything else.
    val selfCheck = try {
      val xx = spark.read.parquet(s"$outDir/q22x_minhash_xxhash")
        .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val md5 = spark.read.parquet(s"$outDir/q22_minhash_lsh")
        .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      s"""{"q22x_minhash_xxhash": {"check": "pair_set_equals_md5_lane", """ +
        s""""pass": ${xx == md5}, "n_pairs_xx": ${xx.size}, "n_pairs_md5": ${md5.size}}}"""
    } catch { case e: Throwable =>
      s"""{"q22x_minhash_xxhash": {"check": "pair_set_equals_md5_lane", """ +
        s""""pass": false, "error": ${q(String.valueOf(e.getMessage).take(160))}}}"""
    }
    Files.writeString(Paths.get(s"$outDir/selfcheck.json"), selfCheck)
    spark.stop()
  }
}
