package graft.operators

import graft.Tables
import graft.plans.GraftFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus integrity operators: order-independent table fingerprints
  * (q132) — the anti-entropy primitive for comparing replicas /
  * migration targets without sorting either side — and bloom-filter
  * semi-join reduction (q133) — the shuffle-avoidance pattern for
  * "tiny dirty fraction" joins at 100 TB. Reference scope: none
  * (beyond-parity); data model is the synthetic documents table.
  */
object Integrity {

  // ---- q132: order-independent table fingerprint ---------------------
  // Per-group (and grand-total, via ROLLUP) content checksum:
  // canonical row serialization -> md5 -> 60-bit hex window as i64 ->
  // two commutative aggregates (BIT_XOR, which no reordering or
  // spill-merge order can change, plus a DECIMAL(38,0) SUM that
  // additionally catches the duplicated-row-pair case XOR is blind
  // to). Comparing two 100 TB replicas becomes comparing a
  // |groups|-row frame — no sort, no shuffle beyond one
  // map-side-combinable aggregate. Cross-engine exact: md5 and the
  // hex window are byte-reproducible, XOR/SUM are order-independent,
  // so DuckDB computes the identical signature from the identical
  // rows.
  def tableFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    // \u0001 separator cannot appear in the corpus columns; every
    // non-string renders through an explicit BIGINT cast so both
    // engines print the identical canonical form.
    // Every column is NULL-ENCODED ('0' for NULL, '1'||value
    // otherwise): concat_ws SKIPS nulls, so without the marker
    // (lang=NULL, source="web") and (lang="web", source=NULL) would
    // serialize identically — an anti-entropy checker blind to
    // exactly the corruption class it exists to catch — and the
    // oracle's || concatenation would instead null the whole row out
    // of the checksum.
    def enc(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(c.isNull, lit("0")).otherwise(concat(lit("1"), c))
    val repr = concat_ws("\u0001",
      enc(col("doc_id").cast("long").cast("string")), enc(col("lang")),
      enc(col("source")), enc(col("n_chars").cast("long").cast("string")),
      enc(col("text")))
    val h = conv(substring(md5(repr.cast("binary")), 1, 15), 16, 10).cast("long")
    d.select(col("lang"), h.as("h"))
      .rollup("lang")
      .agg(count(lit(1)).as("n_rows"),
        // The sum genuinely needs ~69 bits (60-bit hashes x row
        // count), so it is computed in DECIMAL(38,0) — but EMITTED as
        // its canonical decimal string: decimal128 must never reach a
        // gate query's final schema (hashers canonicalize it
        // differently than live values; BIGINT and VARCHAR are safe).
        sum(col("h").cast("decimal(38,0)")).cast("string").as("sum_sig"),
        expr("bit_xor(h)").as("xor_sig"))
      .orderBy(col("lang").asc_nulls_first)
  }

  val tableFingerprintSql: String = {
    def e(x: String) = s"(CASE WHEN $x IS NULL THEN '0' ELSE '1' || $x END)"
    s"""WITH h AS (
       |  SELECT lang,
       |         CAST('0x' || substr(md5(
       |           ${e("CAST(doc_id AS BIGINT)::VARCHAR")} || chr(1) || ${e("lang")} || chr(1) ||
       |           ${e("source")} || chr(1) || ${e("CAST(n_chars AS BIGINT)::VARCHAR")} || chr(1) || ${e("text")}
       |         ), 1, 15) AS BIGINT) AS h
       |  FROM documents)
       |SELECT lang, COUNT(*) AS n_rows,
       |       CAST(SUM(CAST(h AS DECIMAL(38,0))) AS VARCHAR) AS sum_sig,
       |       bit_xor(h) AS xor_sig
       |FROM h GROUP BY ROLLUP(lang)
       |ORDER BY lang NULLS FIRST""".stripMargin
  }

  // ---- q133: bloom-prefiltered decontamination -----------------------
  // The DELIVERY half of q77's contamination report: the corpus with
  // every doc sharing a 5-gram with the benchmark set REMOVED,
  // summarized per language. The scale point is the join shape: at
  // 100 TB almost every doc is clean, so shuffling all corpus
  // shingles into an exact semi-join wastes the whole exchange on
  // rows that match nothing. Instead the benchmark shingle set
  // aggregates into ONE bloom filter cell (TypedImperativeAggregate,
  // map-side combined), the corpus pays a codegen'd in-scan membership
  // probe, and ONLY the flagged sliver (true hits + the fpp-bounded
  // false positives) enters the exact verify join. False positives
  // die in the verify, so the result is EXACTLY the unguarded
  // anti-join — which is what the oracle computes, and what
  // IntegritySpec asserts against the bloom-free form.
  //
  // The bloom attaches as a driver-collected literal (same
  // driver-scalar idiom as q1's date bounds — one bounded row moves,
  // sized ~numBits/8 bytes). Spark's own InjectRuntimeFilter plants
  // the identical expression pair via a scalar subquery; the explicit
  // form here keys the filter on a derived column (the shingle hash)
  // across a groupBy, which the automatic rule cannot see.
  def bloomDecontaminate(spark: SparkSession, dir: String): DataFrame =
    bloomDecontaminateFrom(Tables.documents(spark, dir))

  /** The reusable core over any documents-shaped frame (ScaleBench
    * drives the replicated corpus through this same code; its re-keyed
    * replicas pass a predicate that recovers the ORIGINAL 1-in-10
    * split so every replica carries the 1x contamination structure). */
  def bloomDecontaminateFrom(docs: DataFrame,
      benchClass: org.apache.spark.sql.Column = col("doc_id") % 10 === 0)
      : DataFrame = {
    val corpus = docs.filter(!benchClass)
    val bench = docs.filter(benchClass)
    val benchSet = Dedup.shingleTable(bench, "doc_id", "text", n = 5)
      .select("h64").distinct()
      .localCheckpoint(true) // consumed by the bloom build AND the verify
    val row = benchSet
      .agg(GraftFunctions.bloom_agg(col("h64"), 1L << 20, 1L << 24).as("bf"))
      .head()
    val contaminated =
      if (row.isNullAt(0)) corpus.select(col("doc_id")).limit(0)
      else {
        val bf = lit(row.getAs[Array[Byte]](0))
        // localCheckpoint: the contaminated-doc list is tiny (it IS the
        // dirty sliver), but un-checkpointed its subtree — a full
        // corpus shingle scan — re-executes inside the downstream
        // anti-join plan per consumer (the round-4 IVF lesson: AQE
        // materializes shared subtrees per query stage, not once).
        Dedup.shingleTable(corpus, "doc_id", "text", n = 5)
          .filter(GraftFunctions.might_contain(bf, col("h64")))
          .join(benchSet, Seq("h64"), "left_semi") // exact verify
          .select("doc_id").distinct()
          .localCheckpoint(true)
      }
    corpus.join(contaminated, Seq("doc_id"), "left_anti")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").cast("long").as("n_chars"))
      .orderBy("lang")
  }

  val bloomDecontaminateSql: String = {
    val gram = (0 until 5).map(i => s"t[i+$i]").mkString(" || ' ' || ")
    s"""WITH toksC AS (SELECT doc_id, lang, n_chars,
       |                      regexp_extract_all(lower(text), '[a-z0-9]+') AS t
       |               FROM documents WHERE doc_id % 10 != 0),
       |shC AS (SELECT DISTINCT doc_id, $gram AS s
       |        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-4)) AS i
       |              FROM toksC WHERE len(t) >= 5)),
       |toksB AS (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS t
       |          FROM documents WHERE doc_id % 10 = 0),
       |shB AS (SELECT DISTINCT $gram AS s
       |        FROM (SELECT t, unnest(generate_series(1, len(t)-4)) AS i
       |              FROM toksB WHERE len(t) >= 5)),
       |bad AS (SELECT DISTINCT doc_id FROM shC JOIN shB USING (s))
       |SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars
       |FROM toksC ANTI JOIN bad USING (doc_id)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---- q305: cascade-delete audit (right-to-be-forgotten) ------------
  // The GDPR erasure simulation: delete a deterministic user set
  // (c_custkey % 97 = 0 — stands in for the legal deletion list),
  // cascade through orders and lineitem, and PROVE referential
  // integrity of the remainder: the audit row carries before/removed/
  // after per table plus the orphan counts, which must be zero. At
  // 100 TB this is the dry-run report a deletion job emits before the
  // actual rewrite.
  //
  // Shape at scale: the deletion list is a filtered-key frame;
  // cascades are LEFT-SEMI joins fact->keys (the bloom-reducible q133
  // shape), counts are map-side-combinable; the orphan checks are two
  // LEFT-ANTI probes of the surviving facts against surviving dims.
  def cascadeDeleteAudit(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).select("c_custkey")
      .localCheckpoint(true) // before-count + survivor side
    val doomed = cust.filter(col("c_custkey") % 97 === 0)
    val orders = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
      .localCheckpoint(true)
    val doomedOrders = orders
      .join(doomed, col("o_custkey") === col("c_custkey"), "left_semi")
      .localCheckpoint(true) // count + lineitem cascade
    val li = Tables.lineitem(spark, dir).select("l_orderkey")
    val doomedLi = li.join(doomedOrders,
      col("l_orderkey") === col("o_orderkey"), "left_semi")
    val survOrders = orders.join(doomed,
      col("o_custkey") === col("c_custkey"), "left_anti")
      .localCheckpoint(true)
    val survCust = cust.filter(col("c_custkey") % 97 =!= 0)
    def cnt(df: DataFrame, name: String) =
      df.groupBy().agg(count(lit(1)).as(name))
    val orphanOrders = survOrders.join(survCust,
      col("o_custkey") === col("c_custkey"), "left_anti")
    val orphanLi = li.join(doomedOrders,
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .join(survOrders, col("l_orderkey") === survOrders("o_orderkey"),
        "left_anti")
    cnt(cust, "n_customers")
      .crossJoin(broadcast(cnt(doomed, "n_deleted_customers")))
      .crossJoin(broadcast(cnt(orders, "n_orders")))
      .crossJoin(broadcast(cnt(doomedOrders, "n_deleted_orders")))
      .crossJoin(broadcast(cnt(li, "n_lineitems")))
      .crossJoin(broadcast(cnt(doomedLi, "n_deleted_lineitems")))
      .crossJoin(broadcast(cnt(orphanOrders, "n_orphan_orders")))
      .crossJoin(broadcast(cnt(orphanLi, "n_orphan_lineitems")))
  }

  val cascadeDeleteAuditSql: String =
    """WITH doomed AS (SELECT c_custkey FROM customer
      |               WHERE c_custkey % 97 = 0),
      |do_ AS (SELECT o_orderkey FROM orders
      |        WHERE o_custkey IN (SELECT c_custkey FROM doomed)),
      |dl AS (SELECT l_orderkey FROM lineitem
      |       WHERE l_orderkey IN (SELECT o_orderkey FROM do_)),
      |so AS (SELECT o_orderkey, o_custkey FROM orders
      |       WHERE o_custkey NOT IN (SELECT c_custkey FROM doomed)),
      |oo AS (SELECT COUNT(*) AS n FROM so
      |       WHERE o_custkey NOT IN (SELECT c_custkey FROM customer
      |                               WHERE c_custkey % 97 <> 0)),
      |ol AS (SELECT COUNT(*) AS n FROM lineitem
      |       WHERE l_orderkey NOT IN (SELECT o_orderkey FROM do_)
      |         AND l_orderkey NOT IN (SELECT o_orderkey FROM so))
      |SELECT (SELECT COUNT(*) FROM customer) AS n_customers,
      |       (SELECT COUNT(*) FROM doomed) AS n_deleted_customers,
      |       (SELECT COUNT(*) FROM orders) AS n_orders,
      |       (SELECT COUNT(*) FROM do_) AS n_deleted_orders,
      |       (SELECT COUNT(*) FROM lineitem) AS n_lineitems,
      |       (SELECT COUNT(*) FROM dl) AS n_deleted_lineitems,
      |       (SELECT n FROM oo) AS n_orphan_orders,
      |       (SELECT n FROM ol) AS n_orphan_lineitems""".stripMargin

  // ---- q306: order-total reconciliation --------------------------------
  // The books-balancing check: does o_totalprice equal the sum of its
  // lines' extended prices? Per order, the signed difference in EXACT
  // cents (both sides through DECIMAL(18,2)·100 — never a float
  // subtraction), classified over/exact/under, plus the total absolute
  // discrepancy — the reconciliation report a warehouse emits after
  // every load, whatever the answer is.
  //
  // Shape at scale: one lineitem groupBy(orderkey) (map-side
  // combinable), one hash join to orders, a 1-row fold.
  def orderReconciliation(spark: SparkSession, dir: String): DataFrame = {
    val lineTotals = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("decimal(38,0)").as("line_cents"))
    Tables.orders(spark, dir)
      .select(col("o_orderkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("decimal(38,0)").as("order_cents"))
      .join(lineTotals, col("o_orderkey") === col("l_orderkey"), "left")
      .select(col("order_cents"),
        coalesce(col("line_cents"), lit(0L).cast("decimal(38,0)"))
          .as("line_cents"))
      .groupBy()
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("order_cents") > col("line_cents"), 1L).otherwise(0L))
          .as("n_over"),
        sum(when(col("order_cents") === col("line_cents"), 1L).otherwise(0L))
          .as("n_exact"),
        sum(when(col("order_cents") < col("line_cents"), 1L).otherwise(0L))
          .as("n_under"),
        expr("CAST(SUM(ABS(order_cents - line_cents)) AS BIGINT)")
          .as("abs_diff_cents"))
  }

  val orderReconciliationSql: String =
    """WITH lt AS (SELECT l_orderkey,
      |        SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * 100)
      |          AS line_cents
      |      FROM lineitem GROUP BY 1),
      |j AS (SELECT CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |          AS order_cents,
      |        COALESCE(lt.line_cents, 0) AS line_cents
      |      FROM orders LEFT JOIN lt ON o_orderkey = l_orderkey)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
      |       CAST(SUM(CASE WHEN order_cents > line_cents THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_over,
      |       CAST(SUM(CASE WHEN order_cents = line_cents THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_exact,
      |       CAST(SUM(CASE WHEN order_cents < line_cents THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_under,
      |       CAST(SUM(ABS(order_cents - line_cents)) AS BIGINT)
      |         AS abs_diff_cents
      |FROM j""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q132_table_fingerprint"  -> (tableFingerprint _),
    "q133_bloom_decontaminate" -> (bloomDecontaminate _),
    "q305_cascade_delete"     -> (cascadeDeleteAudit _),
    "q306_order_reconciliation" -> (orderReconciliation _))

  val oracles: Map[String, String] = Map(
    "q132_table_fingerprint"  -> tableFingerprintSql,
    "q133_bloom_decontaminate" -> bloomDecontaminateSql,
    "q305_cascade_delete"     -> cascadeDeleteAuditSql,
    "q306_order_reconciliation" -> orderReconciliationSql)
}
