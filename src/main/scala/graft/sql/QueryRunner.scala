package graft.sql

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** SQL analytics surface (SURVEY §2.1 S9/S10, §3.1): the reference's
  * `run_sql_cli` semantics on top of `spark.sql` over registered views —
  * same registry model (stem -> .sql file), same fallback-to-first-query
  * behavior (`run_sql_cli.py:90-99`), executed in-process by Catalyst
  * instead of shipping SQL to PostgreSQL.
  */
object QueryRunner {

  /** Register the testdata tables as temp views so SQL sees the same
    * names the DuckDB oracle does. */
  def register(spark: SparkSession, dir: String): Unit =
    Tables.registerAll(spark, dir)

  def run(spark: SparkSession, sql: String): DataFrame = spark.sql(sql)

  def runFile(spark: SparkSession, path: String): DataFrame =
    run(spark, Files.readString(Paths.get(path)))

  /** {stem -> path} registry over a directory of .sql files. */
  def registry(dir: String): Map[String, Path] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) Map.empty
    else Files.list(d).iterator().asScala
      .filter(_.toString.endsWith(".sql"))
      .map(p => p.getFileName.toString.stripSuffix(".sql") -> p)
      .toMap
  }

  /** Resolve by name, falling back to the first query alphabetically
    * when the name is absent (reference fallback semantics). */
  def resolve(dir: String, name: Option[String]): Option[Path] = {
    val reg = registry(dir)
    name.flatMap(reg.get).orElse(reg.toSeq.sortBy(_._1).headOption.map(_._2))
  }

  /** Built-in queries shipped with the engine, keyed by the reference
    * query they re-express: the reference questions' SQL texts, which
    * Spark runs as written and the DuckDB oracle checks q1-q6 with. */
  val builtins: Map[String, String] = {
    import graft.operators.Retail
    Map(
      "total_margin_signature_last_2_months" -> Retail.totalMarginLast2MonthsSql,
      "total_margin_signature_last_2_months_in_days" -> Retail.totalMarginLast60DaysSql,
      "number_transactions_per_store" -> Retail.transactionsPerStoreSql,
      "revenue_split_per_day" -> Retail.revenuePerDaySql,
      "top_10_products_units_sold" -> Retail.top10ProductsSql,
      "transactions_timeframe" -> Retail.timeframeSql)
  }
}

/** CLI: --list | --path <file.sql> | --name <q> | --sql "<text>"
  * [--dir <sqlDir>] [--data <sfDir>] (run_sql_cli.py:30-105 semantics —
  * --path executes a .sql file directly, taking precedence over --name,
  * exactly like the reference). */
object SqlCli {
  /** Resolution order mirrors run_sql_cli.py: explicit file path, then
    * inline SQL, then name within --dir (with first-query fallback),
    * then builtin by name, then first builtin. Exposed for tests. */
  def resolveSql(opts: Map[String, String]): String = {
    val sqlDir = opts.get("--dir")
    opts.get("--path").map(p => java.nio.file.Files.readString(Paths.get(p)))
      .orElse(opts.get("--sql"))
      .orElse(sqlDir.flatMap(d =>
        QueryRunner.resolve(d, opts.get("--name"))
          .map(p => java.nio.file.Files.readString(p))))
      .orElse(opts.get("--name").flatMap(QueryRunner.builtins.get))
      .getOrElse(QueryRunner.builtins.toSeq.minBy(_._1)._2)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val listOnly = args.contains("--list")
    val dataDir = opts.getOrElse("--data", "/root/testdata/sf0.001")
    val spark = graft.Session.get("graft-sql")
    QueryRunner.register(spark, dataDir)
    if (listOnly) {
      val names = opts.get("--dir").map(d => QueryRunner.registry(d).keys.toSeq)
        .getOrElse(QueryRunner.builtins.keys.toSeq)
      names.sorted.foreach(println)
    } else {
      QueryRunner.run(spark, resolveSql(opts)).show(50, truncate = false)
    }
    spark.stop()
  }
}
