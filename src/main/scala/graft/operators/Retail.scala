package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The reference's analytical SQL surface (the six files under
  * `/root/reference/src/sql/queries`), re-expressed Spark-first over the testdata star
  * schema. Mapping of the retail schema onto the TPC-H-ish tables:
  *
  *   transactions            -> lineitem
  *   date_transaction        -> CAST(l_shipdate AS DATE)
  *   numero_transaction      -> l_orderkey
  *   point_de_vente (store)  -> l_suppkey
  *   modele_couleur_ref      -> l_partkey
  *   quantite_vendue         -> l_quantity
  *   product dimension       -> part   (broadcast side of J1)
  *   signature_product       -> p_size >= 25
  *   ca_net_ttc (revenue)    -> l_extendedprice * (1 - l_discount)
  *   marge_nette_magasin     -> revenue - p_retailprice * l_quantity * 0.8
  *
  * Determinism contract with the DuckDB oracle: every floating-point
  * aggregate casts its term to DECIMAL(18,4) *before* SUM (decimal
  * addition is exact, so the result is independent of partition/order),
  * then casts the total back to DOUBLE so both engines report the same
  * schema. Every ORDER BY carries a unique tiebreaker so LIMIT/sort
  * output is a function of the data, not the partitioning.
  *
  * Scale notes: the part dim is small relative to lineitem (as the
  * 210k-row product dim is to 18.8M transactions in the reference,
  * total_margin_signature_last_2_months.sql:16-17) -> explicit
  * broadcast() so the fact table never shuffles for the join. The
  * 1-row window-bounds relation is cross-joined (broadcast NLJ on one
  * row) exactly like the reference's `JOIN month_window ON TRUE`.
  */
object Retail {

  private val dec = DecimalType(18, 4)

  /** marge_nette_magasin analog; requires the part join. */
  private def margin = col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
    col("p_retailprice") * col("l_quantity") * lit(0.8)

  private def revenue = col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  /** Exact, order-independent SUM of a double expression. */
  private def dsum(c: org.apache.spark.sql.Column) = sum(c.cast(dec)).cast("double")

  /** Start-of-day for a date as a TimestampNTZ literal (l_shipdate reads
    * as timestamp_ntz) — filtering the raw timestamp column
    * (ts >= day0 && ts < dayN) is equivalent to filtering
    * CAST(ts AS DATE) but reaches the parquet scan as a pushed filter
    * (row-group pruning), which the cast form never does. */
  private def dayStartUtc(d: java.sql.Date): java.time.LocalDateTime =
    d.toLocalDate.atStartOfDay()

  /** total_margin_signature_last_2_months.sql: anchor month = month of
    * MAX(date); window = [anchor - 1 month, anchor + 1 month).
    *
    * The window bounds are computed as driver scalars first (exactly
    * what Catalyst does for an uncorrelated scalar subquery) so the
    * window predicate prunes the fact scan BEFORE the join — at 100 TB
    * the join should only ever see the two-month slice. The eager
    * `.head()` stays on evidence: the lazy `Dataset.scalar()` form's
    * filter is not pushed to the parquet scan, and measured in one JVM
    * on 4 vCPUs it is slower: 0.284 vs 0.242 s at sf0.01, 0.507 vs
    * 0.345 s at sf0.1. */
  def totalMarginLast2Months(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val pa = Tables.part(spark, dir)
    val bounds = li
      .agg(trunc(max(col("l_shipdate")), "month").as("anchor"))
      .select(
        add_months(col("anchor"), -1).as("start_date"),
        add_months(col("anchor"), 1).as("end_exclusive"))
      .head()
    // empty fact table -> null anchor: keep the SQL-aggregate shape
    // (one row, NULL sum) via an always-false window, not a driver NPE
    val window =
      if (bounds.isNullAt(0)) lit(false)
      else col("l_shipdate") >= lit(dayStartUtc(bounds.getDate(0))) &&
        col("l_shipdate") < lit(dayStartUtc(bounds.getDate(1)))
    li.where(window)
      .join(broadcast(pa.where(col("p_size") >= 25)),
        col("l_partkey") === col("p_partkey"))
      .agg(dsum(margin).as("total_margin_last_2_months"))
  }

  val totalMarginLast2MonthsSql: String =
    """WITH anchor AS (
      |  SELECT CAST(date_trunc('month', MAX(l_shipdate)) AS DATE) AS anchor_month FROM lineitem
      |), w AS (
      |  SELECT CAST(anchor_month - INTERVAL 1 MONTH AS DATE) AS start_date,
      |         CAST(anchor_month + INTERVAL 1 MONTH AS DATE) AS end_exclusive
      |  FROM anchor
      |)
      |SELECT CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |         - p_retailprice * l_quantity * 0.8 AS DECIMAL(18,4))) AS DOUBLE)
      |       AS total_margin_last_2_months
      |FROM lineitem JOIN part ON p_partkey = l_partkey JOIN w ON TRUE
      |WHERE p_size >= 25
      |  AND CAST(l_shipdate AS DATE) >= w.start_date
      |  AND CAST(l_shipdate AS DATE) <  w.end_exclusive""".stripMargin

  /** total_margin_signature_last_2_months_in_days.sql: trailing 60-day
    * window anchored at MAX(date); COALESCE(SUM, 0). The bounds are an
    * eager driver scalar for the same measured reason as q1's. */
  def totalMarginLast60Days(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val pa = Tables.part(spark, dir)
    val b = li.agg(max(col("l_shipdate").cast("date")).as("max_date"))
      .select(date_sub(col("max_date"), 60).as("start_date"),
        date_add(col("max_date"), 1).as("end_exclusive"))
      .head()
    // BETWEEN start AND max on the date == [start 00:00, max+1day) on ts;
    // empty fact table -> always-false window (same guard as the
    // 2-month variant), and the COALESCE keeps the published 0.0
    val window =
      if (b.isNullAt(0)) lit(false)
      else col("l_shipdate") >= lit(dayStartUtc(b.getDate(0))) &&
        col("l_shipdate") < lit(dayStartUtc(b.getDate(1)))
    li.where(window)
      .join(broadcast(pa.where(col("p_size") >= 25)),
        col("l_partkey") === col("p_partkey"))
      .agg(coalesce(dsum(margin), lit(0.0)).as("total_margin_last_60_days"))
  }

  val totalMarginLast60DaysSql: String =
    """SELECT COALESCE(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |         - p_retailprice * l_quantity * 0.8 AS DECIMAL(18,4))) AS DOUBLE), 0.0)
      |       AS total_margin_last_60_days
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_size >= 25
      |  AND CAST(l_shipdate AS DATE)
      |      BETWEEN ((SELECT MAX(CAST(l_shipdate AS DATE)) FROM lineitem) - INTERVAL 60 DAY)
      |          AND  (SELECT MAX(CAST(l_shipdate AS DATE)) FROM lineitem)""".stripMargin

  /** revenue_split_per_day.sql. Projected to the three needed columns,
    * then fanned out (Tables.fanOut) keyed on the grouping expression:
    * the single-row-group testdata scan otherwise runs the whole
    * scan+cast+decimal-sum partial aggregate as ONE task, and keying
    * the fan-out on cast(l_shipdate AS DATE) makes the one exchange
    * also satisfy the aggregation's distribution — no second full-size
    * exchange. Results unchanged (exact decimal sum is
    * order-independent by design).
    *
    * The presentation ORDER BY is a single-partition sort, not a range
    * sort: a range exchange determines its bounds by SAMPLING its
    * child, which re-runs the whole fanned-out aggregation a second
    * time (measured: the sort job cost as much as the agg job).
    * The output is bounded at one row per calendar day, so one sorted
    * partition is the right shape at every scale factor; the total
    * order is identical. */
  def revenuePerDay(spark: SparkSession, dir: String): DataFrame =
    Tables.fanOut(
        Tables.lineitem(spark, dir)
          .select("l_shipdate", "l_extendedprice", "l_discount"),
        col("l_shipdate").cast("date"))
      .groupBy(col("l_shipdate").cast("date").as("sale_date"))
      .agg(dsum(revenue).as("total_revenue"))
      .repartition(1)
      .sortWithinPartitions("sale_date")

  val revenuePerDaySql: String =
    """SELECT CAST(l_shipdate AS DATE) AS sale_date,
      |       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
      |       AS total_revenue
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** top_10_products_units_sold.sql — TakeOrderedAndProject top-k; the
    * l_partkey tiebreaker makes the cut deterministic under ties. */
  def top10Products(spark: SparkSession, dir: String): DataFrame =
    // project + fan out keyed on the group key (see revenuePerDay):
    // parallelizes the single-split scan stage, and the exchange
    // doubles as the aggregation's distribution
    Tables.fanOut(
        Tables.lineitem(spark, dir).select("l_partkey", "l_quantity"),
        col("l_partkey"))
      .groupBy("l_partkey")
      .agg(dsum(col("l_quantity")).as("total_units_sold"))
      .orderBy(desc("total_units_sold"), asc("l_partkey"))
      .limit(10)

  val top10ProductsSql: String =
    """SELECT l_partkey,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_units_sold
      |FROM lineitem GROUP BY 1
      |ORDER BY total_units_sold DESC, l_partkey ASC LIMIT 10""".stripMargin

  /** number_transactions_per_store.sql — COUNT + COUNT(DISTINCT) side by
    * side (Catalyst plans the expand + two-phase HashAggregate). */
  def transactionsPerStore(spark: SparkSession, dir: String): DataFrame =
    // project + fan out keyed on the distinct-aggregate's first-phase
    // keys (l_suppkey, l_orderkey): the one exchange parallelizes the
    // single-split scan AND satisfies the dedup aggregate's
    // distribution, so Catalyst's 4-phase count-distinct plan loses its
    // full-size mid-plan exchange
    Tables.fanOut(
        Tables.lineitem(spark, dir).select("l_suppkey", "l_orderkey"),
        col("l_suppkey"), col("l_orderkey"))
      .groupBy("l_suppkey")
      .agg(
        countDistinct(col("l_orderkey")).as("number_distinct_of_transactions"),
        count(col("l_orderkey")).as("number_of_transactions"))
      .orderBy(desc("number_of_transactions"), asc("l_suppkey"))

  val transactionsPerStoreSql: String =
    """SELECT l_suppkey,
      |       COUNT(DISTINCT l_orderkey) AS number_distinct_of_transactions,
      |       COUNT(l_orderkey) AS number_of_transactions
      |FROM lineitem GROUP BY 1
      |ORDER BY number_of_transactions DESC, l_suppkey ASC""".stripMargin

  /** transactions_timeframe.sql */
  def timeframe(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).agg(
      max(col("l_shipdate").cast("date")).as("last_transaction_date"),
      min(col("l_shipdate").cast("date")).as("first_transaction_date"))

  val timeframeSql: String =
    """SELECT MAX(CAST(l_shipdate AS DATE)) AS last_transaction_date,
      |       MIN(CAST(l_shipdate AS DATE)) AS first_transaction_date
      |FROM lineitem""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_total_margin_2m"  -> (totalMarginLast2Months _),
    "q2_total_margin_60d" -> (totalMarginLast60Days _),
    "q3_revenue_per_day"  -> (revenuePerDay _),
    "q4_top10_products"   -> (top10Products _),
    "q5_tx_per_store"     -> (transactionsPerStore _),
    "q6_timeframe"        -> (timeframe _))

  val oracles: Map[String, String] = Map(
    "q1_total_margin_2m"  -> totalMarginLast2MonthsSql,
    "q2_total_margin_60d" -> totalMarginLast60DaysSql,
    "q3_revenue_per_day"  -> revenuePerDaySql,
    "q4_top10_products"   -> top10ProductsSql,
    "q5_tx_per_store"     -> transactionsPerStoreSql,
    "q6_timeframe"        -> timeframeSql)
}
