package graft
import java.nio.file.{Files, Paths}
import org.json4s._
import org.json4s.jackson.compactJson
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
    val spark = Session.get("graft-verify")
    graft.plans.PlanGuard.installWarn(spark)
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
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), compactJson(JObject(
      selected(SparkEntry.oracleSql).toList.map { case (k, v) => k -> JString(v) })))

    // q22x (production xxhash64 minhash lane) now shares q22's DuckDB
    // oracle — its verify join emits the exact h64-set Jaccard, which
    // is family-independent — so the gate row is a real hash compare.
    // Keep the pair-set selfcheck as a secondary artifact: it localizes
    // a failure to candidate RECALL (a borderline pair missing all
    // bands in one family) vs anything else.
    def pairs(q: String): Set[(Long, Long)] = spark.read.parquet(s"$outDir/$q")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val outcome: List[(String, JValue)] = try {
      val (xx, md5) = (pairs("q22x_minhash_xxhash"), pairs("q22_minhash_lsh"))
      List("pass" -> JBool(xx == md5), "n_pairs_xx" -> JInt(xx.size),
        "n_pairs_md5" -> JInt(md5.size))
    } catch { case e: Throwable =>
      List("pass" -> JBool(false),
        "error" -> JString(String.valueOf(e.getMessage).take(160)))
    }
    Files.writeString(Paths.get(s"$outDir/selfcheck.json"), compactJson(JObject(
      "q22x_minhash_xxhash" -> JObject(
        ("check" -> JString("pair_set_equals_md5_lane")) :: outcome))))
    spark.stop()
  }
}
