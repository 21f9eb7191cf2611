package graft.sources

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed (hash-clustered) tables and the co-located join they buy —
  * the "reuse a partitioning across stages" lever: two fact tables
  * bucketed on their join keys with the same bucket count sort-merge
  * join WITHOUT either side shuffling, because the on-disk layout IS
  * the required hash partitioning. At 100 TB this converts the
  * biggest fact-fact join from two full-data exchanges into a
  * partition-local merge — the difference between a join bounded by
  * network bisection and one bounded by disk scan.
  *
  * Reference scope: the reference stages everything through PostgreSQL
  * tables (load.py); bucketing is the lakehouse analog of its indexed
  * warehouse, re-expressed as Spark's native clustered layout.
  *
  * The two bucketed copies are one [[IndexCatalog]] family with parts
  * `li` and `ord`, published once per (lineitem, orders, bucket count)
  * fingerprint and served from a pinned version, so a rerun reuses them
  * and vacuum reclaims superseded versions.
  */
object Bucketed {
  private val NumBuckets = 8
  private val Family = "coloc_q117"

  /** Get-or-publish lineitem/orders bucketed and sorted by their join
    * keys. Returns the version to pin. */
  def ensureTables(spark: SparkSession, dir: String): Int = {
    val fp = IndexCatalog.hexDigest(
      s"${Tables.dirFingerprint(s"$dir/lineitem.parquet")}|" +
        s"${Tables.dirFingerprint(s"$dir/orders.parquet")}|b$NumBuckets")
    IndexCatalog.getOrMint(spark, Family, fp) { (_, name) =>
      Warehouse.writeBucketed(
        Tables.lineitem(spark, dir)
          .select("l_orderkey", "l_extendedprice", "l_quantity"),
        name("li"), "l_orderkey", NumBuckets, Some("l_orderkey"))
      Warehouse.writeBucketed(
        Tables.orders(spark, dir).select("o_orderkey", "o_orderpriority"),
        name("ord"), "o_orderkey", NumBuckets, Some("o_orderkey"))
      Seq(IndexCatalog.Part("li", "l_orderkey", NumBuckets, "l_orderkey"),
        IndexCatalog.Part("ord", "o_orderkey", NumBuckets, "o_orderkey"))
    }
  }

  /** The co-located joined frame (pre-aggregation), exposed so the plan
    * audit can assert the join itself runs with NO exchange on either
    * side (PlanAuditSpec pins `SortMergeJoin` with zero
    * `Exchange hashpartitioning` below it when broadcast is disabled —
    * the fact-fact shape where bucketing pays). The merge hint pins the
    * strategy the layout was built for; at toy scale the optimizer
    * would otherwise broadcast the small side, which is also correct
    * but demonstrates nothing. */
  def colocatedJoinFrame(spark: SparkSession, dir: String): DataFrame = {
    val v = ensureTables(spark, dir)
    IndexCatalog.readPart(spark, Family, v, "li").hint("merge")
      .join(IndexCatalog.readPart(spark, Family, v, "ord").hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
  }

  /** q117: revenue per order priority over the co-located join. The
    * only exchange in the whole plan is the 5-row aggregate's. */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val out = colocatedJoinFrame(spark, dir)
    IndexCatalog.vacuum(spark, Family)
    out.groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double")
          .as("revenue"))
      .orderBy("o_orderpriority")
  }

  val bucketedJoinSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_items,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin
}
