package graftbench

import graft.{SparkEntry, Tables}
import graft.functions.Validate
import graft.model.ReferenceSchemas
import graft.sources.{CsvSource, Warehouse}
import graft.sql.QueryRunner
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

final class Ctx(val spark: SparkSession, val dir: String, val tr: Tracer)

/** One operation of a pass: returns its result's columns and rows. */
final case class Op(name: String, oracle: Option[String], run: Ctx => (Seq[String], Array[Row]))

trait Workload {
  def ops: Seq[Op]
  /** Operation order of one pass. */
  def order(seed: Long, pass: Int): Seq[Op] = new scala.util.Random(seed * 1000003L + pass).shuffle(ops)
  /** Per-session set-up before the warm-up pass. */
  def prepare(c: Ctx): Unit = ()
  /** Direct calls into single layers, made before each traced pass. */
  def probe(c: Ctx): Unit = ()
  /** Untimed bookkeeping after an operation. */
  def after(c: Ctx, op: Op, out: Out, pass: Int): Unit = ()
}

object Workload {
  def apply(name: String): Workload = name match {
    case "headline"     => Headline
    case "retail_small" => RetailSmall
    case "etl_ingest"   => EtlIngest
    case other          => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** A `SparkEntry.queries` builder, built fresh and collected. */
  def queryOp(q: String): Op = Op(q, SparkEntry.oracleSql.get(q), c => {
    val df = c.tr.span("operators.build")(SparkEntry.queries(q)(c.spark, c.dir))
    collect(c, df)
  })

  def collect(c: Ctx, df: DataFrame): (Seq[String], Array[Row]) =
    (df.columns.toSeq, c.tr.span("exec.collect")(df.collect()))

  /** Direct `Tables.load` per table a pass reads, and one `Tables.fanOut`
    * on a fresh projected scan. */
  def tablesProbe(c: Ctx, tables: Seq[String]): Unit = {
    tables.foreach(t => c.tr.span("tables.load")(Tables.load(c.spark, c.dir, t)))
    val scan = Tables.load(c.spark, c.dir, "lineitem").select("l_partkey", "l_quantity")
    c.tr.span("tables.fanout")(Tables.fanOut(scan, col("l_partkey")))
  }
}

/** One query per operator family, at the larger scale. */
object Headline extends Workload {
  val queries = Seq(
    "q1_total_margin_2m", "q3_revenue_per_day", "q4_top10_products",
    "q5_tx_per_store", "q17_lang_id", "q20_exact_dedup",
    "q22_minhash_lsh", "q25_cosine_topk", "q29_sessionization")
  val ops: Seq[Op] = queries.map(Workload.queryOp)
  override def probe(c: Ctx): Unit =
    Workload.tablesProbe(c, Seq("lineitem", "part", "documents", "embeddings", "events"))
}

/** The reference's six questions, once through the DataFrame builders
  * and once as SQL text over registered views. */
object RetailSmall extends Workload {
  val questions = Seq(
    "q1_total_margin_2m"  -> "total_margin_signature_last_2_months",
    "q2_total_margin_60d" -> "total_margin_signature_last_2_months_in_days",
    "q3_revenue_per_day"  -> "revenue_split_per_day",
    "q4_top10_products"   -> "top_10_products_units_sold",
    "q5_tx_per_store"     -> "number_transactions_per_store",
    "q6_timeframe"        -> "transactions_timeframe")

  val ops: Seq[Op] = questions.flatMap { case (q, ref) =>
    Seq(Workload.queryOp(q),
      Op(s"sql.$ref", SparkEntry.oracleSql.get(q), c => {
        val df = c.tr.span("sql.run")(QueryRunner.run(c.spark, QueryRunner.builtins(ref)))
        Workload.collect(c, df)
      }))
  }

  override def prepare(c: Ctx): Unit = QueryRunner.register(c.spark, c.dir)
  override def probe(c: Ctx): Unit = Workload.tablesProbe(c, Seq("lineitem", "part"))
}

/** Validate, ingest and read back the reference-shaped CSV set. */
object EtlIngest extends Workload {
  def files(dir: String): Seq[String] = (1 to 3).map(i => s"$dir/data$i.csv")
  def warehouse(dir: String): String = s"$dir/warehouse"

  /** Reference column patterns, keyed by raw CSV header. */
  val patterns: Seq[(String, String)] = Seq(
    "Date_Transaction" -> Validate.ReIsoDate,
    "Heure" -> Validate.ReTime,
    "Quantite_Vendue" -> Validate.ReInt,
    "CA_Net_HT" -> Validate.ReEuNumeric,
    "CA_Net_TTC" -> Validate.ReEuNumeric,
    "Marge_Nette_Magasin" -> Validate.ReEuNumeric)

  private val validate = Op("validate", None, c => c.tr.span("validate.run") {
    val rows = files(c.dir).zipWithIndex.flatMap { case (f, i) =>
      val counts = Validate.perColumnInvalidCounts(CsvSource.readRaw(c.spark, f), patterns).collect().head
      counts.schema.fieldNames.toSeq.map(n =>
        Row(i + 1, n.stripSuffix("__invalid_count"), counts.getAs[Long](n)))
    }
    (Seq("file", "column", "invalid"), rows.toArray)
  })

  private val ingest = Op("ingest", None, c => c.tr.span("sources.ingest") {
    val tx = CsvSource.readAligned(c.spark, files(c.dir), ReferenceSchemas.transactions)
      .withColumn("sale_month", date_format(col("date_transaction"), "yyyy-MM"))
    Warehouse.writePartitioned(tx, warehouse(c.dir), Seq("sale_month"))
    (Seq.empty, Array.empty[Row])
  })

  private val readback = Op("readback", None, c => c.tr.span("sources.readback") {
    val df = Warehouse.read(c.spark, warehouse(c.dir))
      .groupBy("sale_month")
      .agg(count(lit(1)).as("n_rows"),
        sum("quantite_vendue").as("quantite_vendue"),
        sum("ca_net_ht").as("ca_net_ht"),
        sum("ca_net_ttc").as("ca_net_ttc"),
        sum("marge_nette_magasin").as("marge_nette_magasin"))
    Workload.collect(c, df)
  })

  val ops: Seq[Op] = Seq(validate, ingest, readback)

  /** Readback depends on ingest: the order is fixed; the seed salts the
    * generated CSV content instead. */
  override def order(seed: Long, pass: Int): Seq[Op] = ops

  override def probe(c: Ctx): Unit = {
    def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
    c.tr.span("sources.raw_read")(files(c.dir).foreach(f => noop(CsvSource.readRaw(c.spark, f))))
    c.tr.span("sources.aligned")(
      noop(CsvSource.readAligned(c.spark, files(c.dir), ReferenceSchemas.transactions)))
  }

  override def after(c: Ctx, op: Op, out: Out, pass: Int): Unit =
    if (op eq ingest) {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(warehouse(c.dir)))
      val parts = try walk.iterator().asScala.map(_.toFile).filter(_.getName.endsWith(".parquet")).toList
        finally walk.close()
      out.rec("warehouse", "pass" -> pass, "files" -> parts.size, "bytes" -> parts.map(_.length).sum)
    }
}
