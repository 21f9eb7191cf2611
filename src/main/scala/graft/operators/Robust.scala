package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Robust statistics & drift audits (round-11 batch, q246–q251): the
  * rank/median/first-digit family a corpus-monitoring pipeline runs
  * beside the moment-based q236–q244 batch — robust statistics keep
  * reporting sane numbers when a feed ships a pathological tail, which
  * is exactly when the OLS/χ²/KS panel is hardest to read.
  *
  * House discipline (same as Mining.scala's stats batch): every
  * statistic lives in an integer or DECIMAL(38,0) channel (HUGEINT in
  * the DuckDB oracle) — cross-multiplied comparisons instead of
  * divisions, explicit sign·(|a| div b) where a quotient's truncation
  * direction would otherwise differ between engines, and positional
  * (row_number) medians so both engines pick the identical element.
  * Medians/windows run on PRE-AGGREGATED frames (distinct values,
  * days) — hundreds of rows, never documents — the repo's
  * pre-aggregated-window pattern.
  */
object Robust {

  // ---- q246: Mann-Whitney U / rank-sum (src1 vs src2) ----------------
  // The rank-based two-sample test beside q242's KS: U is driven by the
  // whole ordering, not the single worst threshold, and U/(n1·n2) is
  // the probability a random src1 doc is shorter than a random src2
  // doc (the AUC). Tie handling is exact midranks computed in DOUBLED
  // rank units so everything stays integral: at each distinct value
  // with c1+c2=c occurrences after B cumulative predecessors,
  // 2·midrank = 2B + c + 1, so 2·R1 = Σ c1·(2B + c + 1) and
  // 2·U1 = 2·R1 − n1(n1+1). auc_ppm = 2U1·10⁶ div (2·n1·n2).
  //
  // Shape at scale: one (tc) grouped aggregate over the docs, then the
  // cumulative window on the |distinct lengths| frame.
  def mannWhitney(spark: SparkSession, dir: String): DataFrame = {
    mannWhitneyOf(Tables.documents(spark, dir)
      .filter(col("source").isin("src1", "src2"))
      .select(col("source"),
        graft.functions.Text.tokenCount(col("text")).cast("long").as("tc")))
  }

  /** U core over (source ∈ {src1,src2}, tc) rows — factored so the spec
    * can plant identical (AUC exactly 1/2) and disjoint (AUC 0 or 1)
    * distributions. */
  private[graft] def mannWhitneyOf(t: DataFrame): DataFrame = {
    val v = t.groupBy("tc").agg(
      sum(when(col("source") === "src1", 1L).otherwise(0L)).as("c1"),
      sum(when(col("source") === "src2", 1L).otherwise(0L)).as("c2"))
    val n = v.agg(sum("c1").as("n1"), sum("c2").as("n2"))
    v.withColumn("c", col("c1") + col("c2"))
      .withColumn("cum", sum("c").over(Window.orderBy("tc")))
      // 2·R1 contribution in DECIMAL(38,0): ranks reach n1+n2 and c1
      // multiplies them — int64 wraps past ~3e9 docs
      .select(sum((col("c1").cast("decimal(38,0)")) *
        (lit(2) * (col("cum") - col("c")) + col("c") + lit(1))).as("r2x"))
      .crossJoin(broadcast(n))
      .select(col("n1"), col("n2"),
        (col("r2x") - col("n1").cast("decimal(38,0)") * (col("n1") + 1))
          .cast("decimal(38,0)").as("u2x"))
      .select(col("n1"), col("n2"), col("u2x").cast("long").as("u2x"),
        expr("cast(u2x * 1000000 div (2 * cast(n1 as decimal(38,0)) * n2) as bigint)")
          .as("auc_ppm"))
  }

  val mannWhitneySql: String =
    """WITH t AS (SELECT source,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
      |      AS tc
      |  FROM documents WHERE source IN ('src1', 'src2')),
      |v AS (SELECT tc,
      |        SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS c1,
      |        SUM(CASE WHEN source = 'src2' THEN 1 ELSE 0 END) AS c2
      |      FROM t GROUP BY 1),
      |n AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM v),
      |w AS (SELECT c1, c1 + c2 AS c,
      |             SUM(c1 + c2) OVER (ORDER BY tc) AS cum FROM v),
      |r AS (SELECT SUM(CAST(c1 AS HUGEINT)
      |                 * (2 * (cum - c) + c + 1)) AS r2x FROM w)
      |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |       CAST(r2x - CAST(n1 AS HUGEINT) * (n1 + 1) AS BIGINT) AS u2x,
      |       CAST((r2x - CAST(n1 AS HUGEINT) * (n1 + 1)) * 1000000
      |            // (2 * CAST(n1 AS HUGEINT) * n2) AS BIGINT) AS auc_ppm
      |FROM r, n""".stripMargin

  // ---- q247: Theil–Sen slope of daily event volume --------------------
  // The robust trend estimator beside the moment-based drift panel:
  // the median of all pairwise day-to-day slopes shrugs off outlier
  // days that would drag an OLS fit. Slopes are quantized to ppm/day
  // with EXPLICIT sign·(|Δcount|·10⁶ div Δday) — Spark's `div` and
  // DuckDB's `//` disagree on negative operands (trunc vs floor), so
  // the sign is factored out before either engine divides. The median
  // is positional: the element at 1-indexed rank ceil(m/2) of the
  // ascending slope list (the lower median — identical in both
  // engines by construction, no averaging).
  //
  // Shape at scale: daily counts are one grouped aggregate; the pair
  // self-join and rank run on the |days|² ≈ thousands-row frame (the
  // documented pre-aggregated quadratic — days, never events).
  def theilSen(spark: SparkSession, dir: String): DataFrame =
    theilSenOf(Tables.events(spark, dir)
      .select(expr("ts_ns div 1000 div 86400000000").as("day")))

  /** Core over (day) observation rows. */
  private[graft] def theilSenOf(t: DataFrame): DataFrame = {
    val d = t.groupBy("day").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true) // feeds both sides of the pair join
    val pairs = d.as("a").join(d.as("b"), col("b.day") > col("a.day"))
      .select((col("b.cnt") - col("a.cnt")).as("dc"),
        (col("b.day") - col("a.day")).as("dd"))
      .select((signum(col("dc")).cast("long") *
        expr("cast(abs(dc) as decimal(38,0)) * 1000000 div dd")).as("s_ppm"))
    val m = pairs.agg(count(lit(1)).as("m"))
    pairs.withColumn("rn", row_number().over(Window.orderBy("s_ppm")))
      .crossJoin(broadcast(m))
      .filter(col("rn") === expr("(m + 1) div 2"))
      .crossJoin(broadcast(d.agg(count(lit(1)).as("n_days"))))
      .select(col("s_ppm").as("slope_ppm"), col("n_days"), col("m").as("n_pairs"))
  }

  val theilSenSql: String =
    """WITH e AS (SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
      |           FROM events),
      |d AS (SELECT day, COUNT(*) AS cnt FROM e GROUP BY 1),
      |p AS (SELECT CAST(CASE WHEN b.cnt > a.cnt THEN 1
      |                       WHEN b.cnt < a.cnt THEN -1 ELSE 0 END AS BIGINT)
      |             * CAST(CAST(abs(b.cnt - a.cnt) AS HUGEINT) * 1000000
      |                    // (b.day - a.day) AS BIGINT) AS s_ppm
      |      FROM d a JOIN d b ON b.day > a.day),
      |r AS (SELECT s_ppm, ROW_NUMBER() OVER (ORDER BY s_ppm) AS rn,
      |             COUNT(*) OVER () AS m FROM p)
      |SELECT CAST(s_ppm AS BIGINT) AS slope_ppm,
      |       (SELECT COUNT(*) FROM d) AS n_days,
      |       CAST(m AS BIGINT) AS n_pairs
      |FROM r WHERE rn = (m + 1) // 2""".stripMargin

  // ---- q248: collocation mining by integer lift -----------------------
  // Adjacent-token bigrams scored by lift = P(a,b)/(P(a·)·P(·b)) — the
  // log-free core of PMI, exact in the integer channel:
  // lift_ppm = c_ab·N·10⁶ div (c_a•·c_•b) with N = total bigrams,
  // c_a• = bigrams with left token a, c_•b = right token b. Top 15 by
  // (lift desc, a, b) at support ≥ 5 — boilerplate phrase discovery
  // without a single float or log.
  //
  // Shape at scale: bigrams come from an ARRAY-LOCAL zip (no
  // positional self-join, no window over tokens — the doc's token
  // array is already in the row); then one (a,b) grouped count and two
  // marginal joins on pre-aggregated vocab-sized frames.
  def collocations(spark: SparkSession, dir: String): DataFrame = {
    val bg = Tables.documents(spark, dir)
      .select(graft.functions.Text.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(t) - 2), i -> struct(t[i] as a, t[i+1] as b))"))
        .as("bg"))
      .select(col("bg.a").as("a"), col("bg.b").as("b"))
      .localCheckpoint(true) // feeds pair counts AND both marginals
    val ab = bg.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
    val la = bg.groupBy("a").agg(count(lit(1)).as("c_a"))
    val rb = bg.groupBy("b").agg(count(lit(1)).as("c_b"))
    val n = bg.agg(count(lit(1)).as("n"))
    ab.filter(col("c_ab") >= 5)
      .join(la, "a").join(rb, "b").crossJoin(broadcast(n))
      .select(col("a"), col("b"), col("c_ab"),
        expr("c_ab * cast(n as decimal(38,0)) * 1000000 div (cast(c_a as decimal(38,0)) * c_b)")
          .as("lift_ppm"))
      .orderBy(desc("lift_ppm"), asc("a"), asc("b"))
      .limit(15)
  }

  val collocationsSql: String =
    """WITH d AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS l
      |           FROM documents),
      |t AS (SELECT doc_id, unnest(l) AS tok,
      |             generate_subscripts(l, 1) AS pos FROM d),
      |bg AS (SELECT x.tok AS a, y.tok AS b
      |       FROM t x JOIN t y ON x.doc_id = y.doc_id AND y.pos = x.pos + 1),
      |ab AS (SELECT a, b, COUNT(*) AS c_ab FROM bg GROUP BY 1, 2),
      |la AS (SELECT a, COUNT(*) AS c_a FROM bg GROUP BY 1),
      |rb AS (SELECT b, COUNT(*) AS c_b FROM bg GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n FROM bg)
      |SELECT ab.a, ab.b, c_ab,
      |       CAST(c_ab * CAST(n AS HUGEINT) * 1000000
      |            // (CAST(c_a AS HUGEINT) * c_b) AS BIGINT) AS lift_ppm
      |FROM ab JOIN la ON ab.a = la.a JOIN rb ON ab.b = rb.b, n
      |WHERE c_ab >= 5
      |ORDER BY lift_ppm DESC, ab.a, ab.b LIMIT 15""".stripMargin

  // ---- q249: vocabulary growth curve (Heaps'-law audit) ---------------
  // Per source: how many distinct terms exist after the first 25%,
  // 50%, 75%, 100% of documents (by doc_id order)? The empirical
  // Heaps curve — sublinear growth is healthy natural text, a LINEAR
  // curve is the signature of synthetic/ID-bearing junk flooding the
  // vocabulary. Positional quartile cutoffs (row ceil(q·n), 1-indexed)
  // keep both engines on the identical document.
  //
  // Shape at scale: first-occurrence doc per (source, term) is ONE
  // grouped MIN over the exploded tokens (map-combinable); cutoffs
  // come from a per-source window on the docs frame (docs, not
  // tokens); the rollup is conditional counting on the terms frame.
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        graft.functions.Text.tokens(col("text")).as("t"))
      .localCheckpoint(true) // feeds the cutoff frame AND the explode
    val cuts = docs.select(col("source"), col("doc_id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy("doc_id")))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
      .groupBy("source").agg(
        max(when(col("rn") === expr("(n + 3) div 4"), col("doc_id"))).as("cut25"),
        max(when(col("rn") === expr("(n + 1) div 2"), col("doc_id"))).as("cut50"),
        max(when(col("rn") === expr("(n * 3 + 3) div 4"), col("doc_id"))).as("cut75"),
        count(lit(1)).as("n_docs"))
    val firsts = docs.select(col("source"), col("doc_id"),
        explode(col("t")).as("term"))
      .groupBy("source", "term").agg(min("doc_id").as("fd"))
    firsts.join(cuts, "source")
      .groupBy("source")
      .agg(sum(when(col("fd") <= col("cut25"), 1L).otherwise(0L)).as("q25_terms"),
        sum(when(col("fd") <= col("cut50"), 1L).otherwise(0L)).as("q50_terms"),
        sum(when(col("fd") <= col("cut75"), 1L).otherwise(0L)).as("q75_terms"),
        count(lit(1)).as("total_terms"),
        max("n_docs").as("n_docs"))
      .orderBy("source")
  }

  val vocabGrowthSql: String =
    """WITH docs AS (SELECT source, doc_id,
      |    regexp_extract_all(lower(text), '[a-z0-9]+') AS l FROM documents),
      |pos AS (SELECT source, doc_id,
      |          ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn,
      |          COUNT(*) OVER (PARTITION BY source) AS n
      |        FROM docs),
      |cuts AS (SELECT source,
      |           MAX(CASE WHEN rn = (n + 3) // 4 THEN doc_id END) AS cut25,
      |           MAX(CASE WHEN rn = (n + 1) // 2 THEN doc_id END) AS cut50,
      |           MAX(CASE WHEN rn = (n * 3 + 3) // 4 THEN doc_id END) AS cut75,
      |           COUNT(*) AS n_docs
      |         FROM pos GROUP BY 1),
      |firsts AS (SELECT source, term, MIN(doc_id) AS fd
      |           FROM (SELECT source, doc_id, unnest(l) AS term FROM docs)
      |           GROUP BY 1, 2)
      |SELECT f.source,
      |       CAST(SUM(CASE WHEN fd <= cut25 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS q25_terms,
      |       CAST(SUM(CASE WHEN fd <= cut50 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS q50_terms,
      |       CAST(SUM(CASE WHEN fd <= cut75 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS q75_terms,
      |       COUNT(*) AS total_terms,
      |       MAX(n_docs) AS n_docs
      |FROM firsts f JOIN cuts ON f.source = cuts.source
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q250: MAD anomaly summary over daily event volume --------------
  // Median-absolute-deviation outlier detection — the robust sibling
  // of z-score spike detection (q97): MAD is immune to the outliers
  // it hunts, where a mean/stddev channel lets one huge day mask the
  // others. Both medians are positional lower medians (rank
  // ceil(n/2)); a day is anomalous when |cnt − med| > 5·mad (integer
  // compare, no scaling constant). One summary row: day count, median,
  // MAD, anomaly count, and the worst day (min day among maximal
  // deviations, for determinism).
  def madAnomalies(spark: SparkSession, dir: String): DataFrame =
    madOf(Tables.events(spark, dir)
      .select(expr("ts_ns div 1000 div 86400000000").as("day")))

  /** Core over (day) observation rows. */
  private[graft] def madOf(t: DataFrame): DataFrame =
    madOnFrame(t.groupBy("day").agg(count(lit(1)).as("cnt")))

  /** The MAD screen over an arbitrary pre-built (day, cnt) frame — the
    * seam q276 reuses to screen q269's seasonal residuals. */
  private[graft] def madOnFrame(d0: DataFrame): DataFrame = {
    val d = d0
      .localCheckpoint(true) // 3 consumers: median, deviations, rollup
    def lowerMedian(df: DataFrame, c: String, out: String): DataFrame =
      df.withColumn("rn",
          row_number().over(Window.orderBy(col(c), col("day"))))
        .withColumn("n", count(lit(1)).over(Window.partitionBy()))
        .filter(col("rn") === expr("(n + 1) div 2"))
        .select(col(c).as(out))
    val med = lowerMedian(d, "cnt", "med")
    val dev = d.crossJoin(broadcast(med))
      .withColumn("dev", abs(col("cnt") - col("med")))
      .localCheckpoint(true) // feeds the MAD median, the max AND the rollup
    val mad = lowerMedian(dev, "dev", "mad")
    val mx = dev.agg(max("dev").as("max_dev"))
    dev.crossJoin(broadcast(mad)).crossJoin(broadcast(mx))
      .groupBy("med", "mad", "max_dev")
      .agg(count(lit(1)).as("n_days"),
        sum(when(col("dev") > col("mad") * 5, 1L).otherwise(0L))
          .as("n_anomalies"),
        min(when(col("dev") === col("max_dev"), col("day"))).as("max_dev_day"))
      .select(col("n_days"), col("med").as("med_cnt"), col("mad"),
        col("n_anomalies"), col("max_dev_day"), col("max_dev"))
  }

  val madAnomaliesSql: String =
    """WITH e AS (SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
      |           FROM events),
      |d AS (SELECT day, COUNT(*) AS cnt FROM e GROUP BY 1),
      |m1 AS (SELECT cnt AS med FROM
      |        (SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt, day) AS rn,
      |                COUNT(*) OVER () AS n FROM d)
      |       WHERE rn = (n + 1) // 2),
      |dv AS (SELECT day, cnt, abs(cnt - med) AS dev, med FROM d, m1),
      |m2 AS (SELECT dev AS mad FROM
      |        (SELECT dev, ROW_NUMBER() OVER (ORDER BY dev, day) AS rn,
      |                COUNT(*) OVER () AS n FROM dv)
      |       WHERE rn = (n + 1) // 2),
      |mx AS (SELECT MAX(dev) AS max_dev FROM dv)
      |SELECT COUNT(*) AS n_days, CAST(MAX(med) AS BIGINT) AS med_cnt,
      |       CAST(MAX(mad) AS BIGINT) AS mad,
      |       CAST(SUM(CASE WHEN dev > mad * 5 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_anomalies,
      |       MIN(CASE WHEN dev = max_dev THEN day END) AS max_dev_day,
      |       CAST(MAX(max_dev) AS BIGINT) AS max_dev
      |FROM dv, m2, mx""".stripMargin

  // ---- q251: Benford first-digit audit over order totals ---------------
  // The classic fabricated-numbers screen: natural multi-scale amounts
  // follow P(first digit = d) = log10(1 + 1/d); uniform or hand-picked
  // amounts do not. The expected shares are the nine CONSTANTS in ppm
  // (they sum to exactly 1,000,000), so no log ever evaluates at query
  // time; amounts go through the exact cents channel
  // (DECIMAL(18,4)·10⁴) before the leading digit is read off the
  // decimal string. Output: per digit, observed count, observed ppm
  // share, expected ppm share, and the signed gap.
  def benford(spark: SparkSession, dir: String): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    val exp = Seq(1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L,
      5 -> 79181L, 6 -> 66947L, 7 -> 57992L, 8 -> 51153L, 9 -> 45757L)
      .toDF("digit", "e_ppm")
    val o = Tables.orders(spark, dir)
      .select((col("o_totalprice").cast("decimal(18,4)") * 10000)
        .cast("decimal(38,0)").as("cents"))
      .select(substring(abs(col("cents")).cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("o"))
    val n = o.agg(sum("o").as("n"))
    broadcast(exp).join(o, Seq("digit"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(n))
      .select(col("digit").cast("long").as("digit"), col("o"),
        expr("cast(o as decimal(38,0)) * 1000000 div n").as("o_ppm"),
        col("e_ppm"),
        (expr("cast(o as decimal(38,0)) * 1000000 div n") - col("e_ppm"))
          .as("dev_ppm"))
      .orderBy("digit")
  }

  val benfordSql: String =
    """WITH exp AS (SELECT * FROM (VALUES (1, 301030), (2, 176091),
      |    (3, 124939), (4, 96910), (5, 79181), (6, 66947), (7, 57992),
      |    (8, 51153), (9, 45757)) AS t(digit, e_ppm)),
      |c AS (SELECT CAST(substr(CAST(abs(CAST(CAST(o_totalprice
      |               AS DECIMAL(18,4)) * 10000 AS HUGEINT)) AS VARCHAR),
      |             1, 1) AS INT) AS digit
      |      FROM orders),
      |o AS (SELECT digit, COUNT(*) AS o FROM c GROUP BY 1),
      |n AS (SELECT SUM(o) AS n FROM o)
      |SELECT CAST(exp.digit AS BIGINT) AS digit,
      |       CAST(COALESCE(o.o, 0) AS BIGINT) AS o,
      |       CAST(CAST(COALESCE(o.o, 0) AS HUGEINT) * 1000000 // n AS BIGINT)
      |         AS o_ppm,
      |       CAST(e_ppm AS BIGINT) AS e_ppm,
      |       CAST(CAST(COALESCE(o.o, 0) AS HUGEINT) * 1000000 // n - e_ppm
      |            AS BIGINT) AS dev_ppm
      |FROM exp LEFT JOIN o ON exp.digit = o.digit, n
      |ORDER BY 1""".stripMargin

  // ---- q254: CUSUM changepoint scan over daily event volume ----------
  // The sequential drift detector beside q250's MAD spike screen: MAD
  // flags single outlier days, CUSUM accumulates SMALL sustained
  // shifts that no single day trips. The textbook recurrence
  // S_t = max(0, S_{t-1} + (x_t − k)) has the closed form
  // S_t = P_t − min_{j≤t} P_j with P_t = Σ_{i≤t}(x_i − k) — a running
  // sum and a running min, so both engines compute it as two window
  // scans with NO recursion (and at scale it stays one sort-free pass
  // over the pre-aggregated |days| frame). The reference level k is
  // the positional lower median of the daily counts (q250's rank
  // ceil(n/2) discipline); the downward scan is the mirror
  // max_{j≤t} P_j − P_t. All integers end to end.
  def cusum(spark: SparkSession, dir: String): DataFrame =
    cusumOf(Tables.events(spark, dir)
      .select(expr("ts_ns div 1000 div 86400000000").as("day")))

  /** Core over (day) observation rows — factored so the spec can plant
    * a level shift (CUSUM ramps; MAD stays silent) and a pure spike. */
  private[graft] def cusumOf(t: DataFrame): DataFrame = {
    val d = t.groupBy("day").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true) // feeds the median pick and the scan
    val med = d.withColumn("rn",
        row_number().over(Window.orderBy(col("cnt"), col("day"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("cnt").as("k"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.crossJoin(broadcast(med))
      .withColumn("p", sum(col("cnt") - col("k")).over(w))
      .withColumn("cusum_up", col("p") - min("p").over(w))
      .withColumn("cusum_down", max("p").over(w) - col("p"))
      .select(col("day"), col("cnt"), col("k"),
        col("cusum_up"), col("cusum_down"))
      .orderBy("day")
  }

  val cusumSql: String =
    """WITH e AS (SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
      |           FROM events),
      |d AS (SELECT day, COUNT(*) AS cnt FROM e GROUP BY 1),
      |m AS (SELECT cnt AS k FROM
      |        (SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt, day) AS rn,
      |                COUNT(*) OVER () AS n FROM d)
      |      WHERE rn = (n + 1) // 2),
      |p AS (SELECT day, cnt, k,
      |        SUM(cnt - k) OVER (ORDER BY day
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
      |      FROM d, m)
      |SELECT day, CAST(cnt AS BIGINT) AS cnt, CAST(k AS BIGINT) AS k,
      |       CAST(p - MIN(p) OVER (ORDER BY day
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |         AS BIGINT) AS cusum_up,
      |       CAST(MAX(p) OVER (ORDER BY day
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - p
      |         AS BIGINT) AS cusum_down
      |FROM p ORDER BY day""".stripMargin

  // ---- q255: Spearman rank correlation of two daily series -----------
  // Rank correlation between the click and view daily volumes — the
  // robust dependence measure beside q239's moment panel: monotone
  // but curved co-movement scores the same as linear. Ranks use the
  // q246 doubled-midrank trick (2·midrank = 2B + c + 1 is always
  // integral, exact under ties); Pearson-on-doubled-ranks needs a
  // square root, so the channel carries sign(num)·num²·10⁶ div
  // (d1·d2) = the SIGNED SQUARED correlation in ppm — exact in
  // DECIMAL(38,0), no float ever materializes. Days missing a series
  // count as 0 (the day frame is the union of observed days).
  def spearmanDaily(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(expr("ts_ns div 1000 div 86400000000").as("day"),
        col("event_type"))
    spearmanOf(e.filter(col("event_type") === "click").select("day"),
      e.filter(col("event_type") === "view").select("day"))
  }

  /** Core over two (day) observation streams — factored so the spec
    * can plant perfectly concordant (rho²=1, sign +), reversed
    * (sign −) and shuffled series. */
  private[graft] def spearmanOf(ta: DataFrame, tb: DataFrame): DataFrame = {
    val a = ta.groupBy("day").agg(count(lit(1)).as("ca"))
    val b = tb.groupBy("day").agg(count(lit(1)).as("cb"))
    val d = a.join(b, Seq("day"), "full_outer")
      .select(col("day"),
        coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    // doubled midrank per series: 2B + c + 1 via RANGE frames on the
    // value (B = strictly-smaller count, c = tie-group size)
    def rank2(c: String, out: String) = {
      val smaller = Window.orderBy(col(c))
        .rangeBetween(Window.unboundedPreceding, -1)
      val equal = Window.orderBy(col(c)).rangeBetween(0, 0)
      (df: DataFrame) => df.withColumn(out,
        lit(2) * count(lit(1)).over(smaller) + count(lit(1)).over(equal) + 1)
    }
    val r = rank2("ca", "u")(rank2("cb", "v")(d))
    r.agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("u").cast("decimal(38,0)") * col("v")).as("suv"),
        sum(col("u").cast("decimal(38,0)")).as("su"),
        sum(col("v").cast("decimal(38,0)")).as("sv"),
        sum(col("u").cast("decimal(38,0)") * col("u")).as("suu"),
        sum(col("v").cast("decimal(38,0)") * col("v")).as("svv"))
      .select(col("n").cast("long").as("n_days"),
        (col("n") * col("suv") - col("su") * col("sv")).as("num"),
        (col("n") * col("suu") - col("su") * col("su")).as("d1"),
        (col("n") * col("svv") - col("sv") * col("sv")).as("d2"))
      .select(col("n_days"), col("num").cast("long").as("num"),
        col("d1").cast("long").as("d1"), col("d2").cast("long").as("d2"),
        (signum(col("num")).cast("long") *
          expr("cast(num as decimal(38,0)) * num * 1000000 div (d1 * d2)")
            .cast("long")).as("rho2_ppm"))
  }

  val spearmanDailySql: String =
    """WITH e AS (SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
      |                  event_type FROM events),
      |a AS (SELECT day, COUNT(*) AS ca FROM e
      |      WHERE event_type = 'click' GROUP BY 1),
      |b AS (SELECT day, COUNT(*) AS cb FROM e
      |      WHERE event_type = 'view' GROUP BY 1),
      |d AS (SELECT COALESCE(a.day, b.day) AS day,
      |             COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
      |      FROM a FULL OUTER JOIN b ON a.day = b.day),
      |r AS (SELECT
      |    2 * COUNT(*) OVER (ORDER BY ca
      |          RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      + COUNT(*) OVER (ORDER BY ca RANGE BETWEEN CURRENT ROW
      |          AND CURRENT ROW) + 1 AS u,
      |    2 * COUNT(*) OVER (ORDER BY cb
      |          RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      + COUNT(*) OVER (ORDER BY cb RANGE BETWEEN CURRENT ROW
      |          AND CURRENT ROW) + 1 AS v
      |  FROM d),
      |s AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |             SUM(CAST(u AS HUGEINT) * v) AS suv,
      |             SUM(CAST(u AS HUGEINT)) AS su,
      |             SUM(CAST(v AS HUGEINT)) AS sv,
      |             SUM(CAST(u AS HUGEINT) * u) AS suu,
      |             SUM(CAST(v AS HUGEINT) * v) AS svv FROM r),
      |f AS (SELECT CAST(n AS BIGINT) AS n_days,
      |             n * suv - su * sv AS num,
      |             n * suu - su * su AS d1,
      |             n * svv - sv * sv AS d2 FROM s)
      |SELECT n_days, CAST(num AS BIGINT) AS num, CAST(d1 AS BIGINT) AS d1,
      |       CAST(d2 AS BIGINT) AS d2,
      |       CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END
      |            * (num * num * 1000000 // (d1 * d2)) AS BIGINT) AS rho2_ppm
      |FROM f""".stripMargin

  // ---- q256: Goodman–Kruskal lambda (lang predictability from source) -
  // The log-free categorical association measure: how much better a
  // modal guess of `lang` gets once `source` is known, λ =
  // (Σ_s max_l n_sl − max_l n_l) / (n − max_l n_l) — proportional
  // reduction in prediction error (Goodman & Kruskal 1954, public
  // literature). Every term is a COUNT, so unlike mutual information
  // there is no log and the ppm channel is exact; numerator and
  // denominator are non-negative, so plain integer div has one
  // truncation direction in both engines.
  def gkLambda(spark: SparkSession, dir: String): DataFrame =
    gkLambdaOf(Tables.documents(spark, dir).select("source", "lang"))

  /** Core over (source, lang) rows — factored so the spec can plant
    * perfect prediction (λ=1) and independence (λ=0). */
  private[graft] def gkLambdaOf(t: DataFrame): DataFrame = {
    val cell = t.groupBy("source", "lang").agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // feeds per-source maxima AND the margins
    val perSrc = cell.groupBy("source").agg(max("c").as("mx"))
      .agg(sum("mx").as("sum_max"))
    val marg = cell.groupBy("lang").agg(sum("c").as("m"))
      .agg(max("m").as("max_marg"))
    val n = cell.agg(sum("c").as("n"))
    n.crossJoin(broadcast(perSrc)).crossJoin(broadcast(marg))
      .select(col("n"), col("sum_max"), col("max_marg"),
        expr("cast((sum_max - max_marg) as decimal(38,0)) * 1000000" +
          " div (n - max_marg)").cast("long").as("lambda_ppm"))
  }

  val gkLambdaSql: String =
    """WITH cell AS (SELECT source, lang, COUNT(*) AS c
      |              FROM documents GROUP BY 1, 2),
      |s AS (SELECT SUM(mx) AS sum_max FROM
      |        (SELECT source, MAX(c) AS mx FROM cell GROUP BY 1)),
      |m AS (SELECT MAX(m) AS max_marg FROM
      |        (SELECT lang, SUM(c) AS m FROM cell GROUP BY 1)),
      |n AS (SELECT SUM(c) AS n FROM cell)
      |SELECT CAST(n AS BIGINT) AS n, CAST(sum_max AS BIGINT) AS sum_max,
      |       CAST(max_marg AS BIGINT) AS max_marg,
      |       CAST(CAST(sum_max - max_marg AS HUGEINT) * 1000000
      |            // (n - max_marg) AS BIGINT) AS lambda_ppm
      |FROM n, s, m""".stripMargin

  // ---- q257: Fano-factor burstiness per event type --------------------
  // Variance-to-mean ratio of the daily arrival counts, the standard
  // burstiness index: a Poisson-like feed sits near F=1, a bursty one
  // far above. With x̄ = Σx/n and s² = (nΣx² − (Σx)²)/(n(n−1)),
  // F = s²/x̄ = (nΣx² − (Σx)²)/((n−1)·Σx) — one division at the end,
  // everything before it integer. The day frame is the full observed
  // day × type grid (missing combinations count 0, so every type is
  // scored over the SAME n days).
  def fanoBurstiness(spark: SparkSession, dir: String): DataFrame =
    fanoOf(Tables.events(spark, dir)
      .select(expr("ts_ns div 1000 div 86400000000").as("day"),
        col("event_type")))

  /** Core over (day, event_type) rows — factored so the spec can plant
    * a constant feed (F=0) and an all-in-one-day burst (F=n·x̄ scale). */
  private[graft] def fanoOf(t: DataFrame): DataFrame = {
    val cnt = t.groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // feeds the grid join and the day frame
    val days = cnt.select("day").distinct()
    val types = cnt.select("event_type").distinct()
    val grid = types.crossJoin(days) // |types|·|days| — a metadata frame
      .join(cnt, Seq("event_type", "day"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    grid.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum("c").as("sum_c"),
        sum(col("c").cast("decimal(38,0)") * col("c")).as("sum_c2"))
      .select(col("event_type"), col("n_days"), col("sum_c"),
        expr("cast((n_days * sum_c2 - cast(sum_c as decimal(38,0)) * sum_c)" +
          " * 1000000 div ((n_days - 1) * cast(sum_c as decimal(38,0)))" +
          " as bigint)").as("fano_ppm"))
      .orderBy("event_type")
  }

  val fanoBurstinessSql: String =
    """WITH e AS (SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
      |                  event_type FROM events),
      |cnt AS (SELECT event_type, day, COUNT(*) AS c FROM e GROUP BY 1, 2),
      |grid AS (SELECT t.event_type, d.day, COALESCE(c.c, 0) AS c
      |         FROM (SELECT DISTINCT event_type FROM cnt) t
      |         CROSS JOIN (SELECT DISTINCT day FROM cnt) d
      |         LEFT JOIN cnt c ON c.event_type = t.event_type
      |                        AND c.day = d.day),
      |s AS (SELECT event_type, COUNT(*) AS n_days, SUM(c) AS sum_c,
      |             SUM(CAST(c AS HUGEINT) * c) AS sum_c2
      |      FROM grid GROUP BY 1)
      |SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
      |       CAST(sum_c AS BIGINT) AS sum_c,
      |       CAST((n_days * sum_c2 - CAST(sum_c AS HUGEINT) * sum_c)
      |            * 1000000 // ((n_days - 1) * CAST(sum_c AS HUGEINT))
      |            AS BIGINT) AS fano_ppm
      |FROM s ORDER BY event_type""".stripMargin

  // ---- q260: day-of-week seasonality profile --------------------------
  // The weekday fingerprint of the event feed: per weekday, the
  // positional lower median of that weekday's daily totals, plus the
  // worst deviation day — the profile a seasonality-aware anomaly
  // gate subtracts before applying q250/q254. The weekday comes from
  // pure integer arithmetic on the epoch day ((day + 4) mod 7, 0 =
  // Sunday; 1970-01-01 was a Thursday) so neither engine's calendar
  // functions (with their locale-dependent week starts) ever runs.
  def dowSeasonality(spark: SparkSession, dir: String): DataFrame =
    dowOf(Tables.events(spark, dir)
      .select(expr("ts_ns div 1000 div 86400000000").as("day")))

  /** Core over (day) observation rows. */
  private[graft] def dowOf(t: DataFrame): DataFrame = {
    val d = t.groupBy("day").agg(count(lit(1)).as("cnt"))
      .withColumn("dow", pmod(col("day") + 4, lit(7L)))
      .localCheckpoint(true) // feeds the median pick and the residuals
    val med = d.withColumn("rn", row_number().over(
        Window.partitionBy("dow").orderBy(col("cnt"), col("day"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("dow")))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("dow"), col("cnt").as("med"), col("n").as("n_days"))
    d.join(broadcast(med), "dow")
      .withColumn("resid", abs(col("cnt") - col("med")))
      .groupBy("dow", "med", "n_days")
      .agg(max("resid").as("max_resid"))
      .orderBy("dow")
  }

  val dowSeasonalitySql: String =
    """WITH e AS (SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
      |           FROM events),
      |d AS (SELECT day, COUNT(*) AS cnt, (day + 4) % 7 AS dow
      |      FROM e GROUP BY 1),
      |m AS (SELECT dow, cnt AS med, n AS n_days FROM
      |        (SELECT dow, cnt, day,
      |                ROW_NUMBER() OVER (PARTITION BY dow
      |                  ORDER BY cnt, day) AS rn,
      |                COUNT(*) OVER (PARTITION BY dow) AS n FROM d)
      |      WHERE rn = (n + 1) // 2)
      |SELECT d.dow, CAST(MAX(m.med) AS BIGINT) AS med,
      |       CAST(MAX(m.n_days) AS BIGINT) AS n_days,
      |       CAST(MAX(abs(d.cnt - m.med)) AS BIGINT) AS max_resid
      |FROM d JOIN m ON d.dow = m.dow
      |GROUP BY d.dow ORDER BY d.dow""".stripMargin

  // ---- q261: per-slice AUC (grouped Mann-Whitney) ---------------------
  // q246's rank-sum AUC computed WITHIN each language slice — the
  // fairness/segment audit pattern: a global AUC of 0.5 can hide a
  // src1-longer-in-German, src2-longer-in-French cancellation that a
  // per-slice breakdown exposes. Same doubled-midrank integer channel,
  // with every window PARTITIONED by the slice key — at scale the
  // slices rank in parallel after one grouped aggregate (the window
  // runs on the |slice × distinct-length| frame, never documents).
  // Slices missing either source are dropped (AUC undefined).
  def aucBySlice(spark: SparkSession, dir: String): DataFrame = {
    aucBySliceOf(Tables.documents(spark, dir)
      .filter(col("source").isin("src1", "src2"))
      .select(col("lang").as("slice"), col("source"),
        graft.functions.Text.tokenCount(col("text")).cast("long").as("tc")))
  }

  /** Core over (slice, source ∈ {src1,src2}, tc) rows. */
  private[graft] def aucBySliceOf(t: DataFrame): DataFrame = {
    val v = t.groupBy("slice", "tc").agg(
      sum(when(col("source") === "src1", 1L).otherwise(0L)).as("c1"),
      sum(when(col("source") === "src2", 1L).otherwise(0L)).as("c2"))
    val w = Window.partitionBy("slice").orderBy("tc")
    v.withColumn("c", col("c1") + col("c2"))
      .withColumn("cum", sum("c").over(w))
      .groupBy("slice")
      .agg(sum("c1").as("n1"), sum("c2").as("n2"),
        sum((col("c1").cast("decimal(38,0)")) *
          (lit(2) * (col("cum") - col("c")) + col("c") + lit(1))).as("r2x"))
      .filter(col("n1") > 0 && col("n2") > 0)
      .select(col("slice"), col("n1"), col("n2"),
        (col("r2x") - col("n1").cast("decimal(38,0)") * (col("n1") + 1))
          .cast("decimal(38,0)").as("u2x"))
      .select(col("slice"), col("n1"), col("n2"),
        expr("cast(u2x * 1000000 div (2 * cast(n1 as decimal(38,0)) * n2) as bigint)")
          .as("auc_ppm"))
      .orderBy("slice")
  }

  val aucBySliceSql: String =
    """WITH t AS (SELECT lang AS slice, source,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
      |      AS tc
      |  FROM documents WHERE source IN ('src1', 'src2')),
      |v AS (SELECT slice, tc,
      |        SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS c1,
      |        SUM(CASE WHEN source = 'src2' THEN 1 ELSE 0 END) AS c2
      |      FROM t GROUP BY 1, 2),
      |w AS (SELECT slice, c1, c2, c1 + c2 AS c,
      |             SUM(c1 + c2) OVER (PARTITION BY slice ORDER BY tc) AS cum
      |      FROM v),
      |r AS (SELECT slice, SUM(c1) AS n1, SUM(c2) AS n2,
      |             SUM(CAST(c1 AS HUGEINT) * (2 * (cum - c) + c + 1)) AS r2x
      |      FROM w GROUP BY 1)
      |SELECT slice, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |       CAST((r2x - CAST(n1 AS HUGEINT) * (n1 + 1)) * 1000000
      |            // (2 * CAST(n1 AS HUGEINT) * n2) AS BIGINT) AS auc_ppm
      |FROM r WHERE n1 > 0 AND n2 > 0 ORDER BY slice""".stripMargin

  // ---- q263: Kendall tau-b of the click-vs-view daily series ----------
  // The third rank-dependence measure beside q255's Spearman: tau
  // counts pairwise ORDER AGREEMENTS (concordant minus discordant day
  // pairs), so a single wild day moves it by at most n−1 pairs —
  // strictly more outlier-robust than Spearman's rank covariance.
  // tau-b's denominator sqrt((n0−tx)(n0−ty)) is irrational, so the
  // channel carries the signed SQUARED tau-b in ppm (q255's
  // discipline): sign(C−D)·(C−D)²·10⁶ div ((n0−tx)(n0−ty)), with the
  // raw C/D/tie counts emitted alongside as exact integers. Day pairs
  // come from the q247 pattern: a self-join on the PRE-AGGREGATED
  // |days|² frame (calendar-bounded quadratic — days, never events).
  // Days missing a series count as 0 (union day frame, as q255).
  def kendallDaily(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(expr("ts_ns div 1000 div 86400000000").as("day"),
        col("event_type"))
    kendallOf(e.filter(col("event_type") === "click").select("day"),
      e.filter(col("event_type") === "view").select("day"))
  }

  /** Core over two (day) observation streams — factored so the spec
    * can plant concordant (tau²=1), reversed (sign −) and tied data. */
  private[graft] def kendallOf(ta: DataFrame, tb: DataFrame): DataFrame = {
    val a = ta.groupBy("day").agg(count(lit(1)).as("ca"))
    val b = tb.groupBy("day").agg(count(lit(1)).as("cb"))
    val d = a.join(b, Seq("day"), "full_outer")
      .select(col("day"),
        coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
      .localCheckpoint(true) // feeds both sides of the pair join
    val p = d.as("l").join(d.as("r"), col("r.day") > col("l.day"))
      .select((col("r.ca") - col("l.ca")).as("dx"),
        (col("r.cb") - col("l.cb")).as("dy"))
    p.agg(count(lit(1)).as("n0"),
        sum(when(col("dx") * col("dy") > 0, 1L).otherwise(0L)).as("conc"),
        sum(when(col("dx") * col("dy") < 0, 1L).otherwise(0L)).as("disc"),
        sum(when(col("dx") === 0, 1L).otherwise(0L)).as("tx"),
        sum(when(col("dy") === 0, 1L).otherwise(0L)).as("ty"))
      .select(col("n0").as("n_pairs"), col("conc").as("concordant"),
        col("disc").as("discordant"),
        col("tx").as("ties_x"), col("ty").as("ties_y"),
        (signum(col("conc") - col("disc")).cast("long") *
          expr("""cast(cast(conc - disc as decimal(38,0)) * (conc - disc)
                  * 1000000 div ((n0 - tx) * (n0 - ty)) as bigint)"""))
          .as("tau2_ppm"))
  }

  val kendallDailySql: String =
    """WITH e AS (SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
      |                  event_type FROM events),
      |a AS (SELECT day, COUNT(*) AS ca FROM e
      |      WHERE event_type = 'click' GROUP BY 1),
      |b AS (SELECT day, COUNT(*) AS cb FROM e
      |      WHERE event_type = 'view' GROUP BY 1),
      |d AS (SELECT COALESCE(a.day, b.day) AS day,
      |             COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
      |      FROM a FULL OUTER JOIN b ON a.day = b.day),
      |p AS (SELECT r.ca - l.ca AS dx, r.cb - l.cb AS dy
      |      FROM d l JOIN d r ON r.day > l.day),
      |s AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n0,
      |        CAST(SUM(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END) AS HUGEINT)
      |          AS conc,
      |        CAST(SUM(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END) AS HUGEINT)
      |          AS disc,
      |        CAST(SUM(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS tx,
      |        CAST(SUM(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS ty
      |      FROM p)
      |SELECT CAST(n0 AS BIGINT) AS n_pairs,
      |       CAST(conc AS BIGINT) AS concordant,
      |       CAST(disc AS BIGINT) AS discordant,
      |       CAST(tx AS BIGINT) AS ties_x, CAST(ty AS BIGINT) AS ties_y,
      |       CAST(CASE WHEN conc >= disc
      |            THEN (conc - disc) * (conc - disc) * 1000000
      |                 // ((n0 - tx) * (n0 - ty))
      |            ELSE -((disc - conc) * (disc - conc) * 1000000
      |                 // ((n0 - tx) * (n0 - ty))) END
      |            AS BIGINT) AS tau2_ppm
      |FROM s""".stripMargin

  // ---- q272: grouped weighted median -------------------------------
  // The weighted lower median of floor(extendedprice) per return flag,
  // weighted by quantity: the smallest value v whose cumulative weight
  // reaches half the group total (2·cumW ≥ W, all integers — no
  // interpolation, so both engines pick the identical element). The
  // quantity-weighted median answers "the price of the median UNIT
  // shipped", which a fat order at one price moves very differently
  // from the per-row median — the robust price-point statistic.
  //
  // Shape at scale: one grouped aggregate to the (flag, price) frame,
  // then the cumulative window runs per flag over |distinct prices|.
  def weightedMedian(spark: SparkSession, dir: String): DataFrame =
    weightedMedianOf(Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("grp"),
        floor(col("l_quantity")).cast("long").as("wt"),
        floor(col("l_extendedprice")).cast("long").as("v")))

  /** Core over (grp, wt, v) rows — factored so the spec can plant a
    * fat-weight row that drags the weighted median off the row
    * median. */
  private[graft] def weightedMedianOf(t: DataFrame): DataFrame = {
    val cells = t.groupBy("grp", "v").agg(sum("wt").as("w"))
    val cum = cells
      .withColumn("cw", sum("w").over(
        Window.partitionBy("grp").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tw", sum("w").over(Window.partitionBy("grp")))
    cum.filter(col("cw") * 2 >= col("tw"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("grp").orderBy("v")))
      .filter(col("rn") === 1)
      .select(col("grp"), col("v").as("weighted_median"),
        col("tw").as("total_weight"))
      .orderBy("grp")
  }

  val weightedMedianSql: String =
    """WITH t AS (SELECT l_returnflag AS grp,
      |                  CAST(floor(l_quantity) AS BIGINT) AS wt,
      |                  CAST(floor(l_extendedprice) AS BIGINT) AS v
      |           FROM lineitem),
      |c AS (SELECT grp, v, SUM(wt) AS w FROM t GROUP BY 1, 2),
      |s AS (SELECT grp, v, SUM(w) OVER (PARTITION BY grp ORDER BY v
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
      |        SUM(w) OVER (PARTITION BY grp) AS tw
      |      FROM c),
      |r AS (SELECT grp, v, tw,
      |        ROW_NUMBER() OVER (PARTITION BY grp ORDER BY v) AS rn
      |      FROM s WHERE cw * 2 >= tw)
      |SELECT grp, CAST(v AS BIGINT) AS weighted_median,
      |       CAST(tw AS BIGINT) AS total_weight
      |FROM r WHERE rn = 1 ORDER BY grp""".stripMargin

  // ---- q276: seasonal-adjusted MAD anomaly screen ---------------------
  // The composed monitoring stack: q269's decomposition strips the
  // weekly pattern, then q250's MAD screen runs ON THE RESIDUALS — so
  // a day that is normal in absolute volume but WRONG FOR ITS WEEKDAY
  // (Wednesday traffic on a Sunday) is flagged, where the raw q250
  // screen stays silent because the value sits inside the overall
  // spread. Same output shape and 5·MAD threshold as q250; medians
  // positional on the |days| frame.
  def seasonalMad(spark: SparkSession, dir: String): DataFrame =
    seasonalMadOf(Tables.events(spark, dir)
      .select(expr("ts_ns div 1000 div 86400000000").as("day")))

  /** Core over (day) observation rows — factored so the spec can plant
    * the in-season anomaly raw MAD provably misses. */
  private[graft] def seasonalMadOf(t: DataFrame): DataFrame =
    madOnFrame(Temporal.seasonalOf(t)
      .select(col("day"), col("residual").as("cnt")))

  val seasonalMadSql: String =
    """WITH e AS (SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
      |           FROM events),
      |d0 AS (SELECT day, COUNT(*) AS cnt FROM e GROUP BY 1),
      |t0 AS (SELECT day, cnt,
      |        list_sort(list(cnt) OVER (ORDER BY day
      |          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS win,
      |        (day + 4) % 7 AS dow
      |      FROM d0),
      |tr AS (SELECT day, cnt, dow, win[(len(win) + 1) // 2] AS trend,
      |              cnt - win[(len(win) + 1) // 2] AS detr
      |       FROM t0),
      |sm AS (SELECT dow, detr AS seasonal FROM
      |        (SELECT dow, detr, day,
      |                ROW_NUMBER() OVER (PARTITION BY dow
      |                  ORDER BY detr, day) AS rn,
      |                COUNT(*) OVER (PARTITION BY dow) AS n FROM tr)
      |      WHERE rn = (n + 1) // 2),
      |d AS (SELECT tr.day, tr.cnt - tr.trend - sm.seasonal AS cnt
      |      FROM tr JOIN sm ON tr.dow = sm.dow),
      |m1 AS (SELECT cnt AS med FROM
      |        (SELECT cnt, day, ROW_NUMBER() OVER (ORDER BY cnt, day) AS rn,
      |                COUNT(*) OVER () AS n FROM d)
      |       WHERE rn = (n + 1) // 2),
      |dv AS (SELECT day, cnt, abs(cnt - med) AS dev, med FROM d, m1),
      |m2 AS (SELECT dev AS mad FROM
      |        (SELECT dev, day, ROW_NUMBER() OVER (ORDER BY dev, day) AS rn,
      |                COUNT(*) OVER () AS n FROM dv)
      |       WHERE rn = (n + 1) // 2),
      |mx AS (SELECT MAX(dev) AS max_dev FROM dv)
      |SELECT COUNT(*) AS n_days, CAST(MAX(med) AS BIGINT) AS med_cnt,
      |       CAST(MAX(mad) AS BIGINT) AS mad,
      |       CAST(SUM(CASE WHEN dev > mad * 5 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_anomalies,
      |       CAST(MIN(CASE WHEN dev = mx.max_dev THEN day END) AS BIGINT)
      |         AS max_dev_day,
      |       CAST(MAX(mx.max_dev) AS BIGINT) AS max_dev
      |FROM dv, m2, mx""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q246_mann_whitney"  -> (mannWhitney _),
    "q247_theil_sen"     -> (theilSen _),
    "q248_collocations"  -> (collocations _),
    "q249_vocab_growth"  -> (vocabGrowth _),
    "q250_mad_anomalies" -> (madAnomalies _),
    "q251_benford"       -> (benford _),
    "q254_cusum_changepoint" -> (cusum _),
    "q255_spearman_daily"    -> (spearmanDaily _),
    "q256_gk_lambda"         -> (gkLambda _),
    "q257_fano_burstiness"   -> (fanoBurstiness _),
    "q260_dow_seasonality"   -> (dowSeasonality _),
    "q261_auc_by_slice"      -> (aucBySlice _),
    "q263_kendall_tau"       -> (kendallDaily _),
    "q272_weighted_median"   -> (weightedMedian _),
    "q276_seasonal_mad"      -> (seasonalMad _))

  val oracles: Map[String, String] = Map(
    "q246_mann_whitney"  -> mannWhitneySql,
    "q247_theil_sen"     -> theilSenSql,
    "q248_collocations"  -> collocationsSql,
    "q249_vocab_growth"  -> vocabGrowthSql,
    "q250_mad_anomalies" -> madAnomaliesSql,
    "q251_benford"       -> benfordSql,
    "q254_cusum_changepoint" -> cusumSql,
    "q255_spearman_daily"    -> spearmanDailySql,
    "q256_gk_lambda"         -> gkLambdaSql,
    "q257_fano_burstiness"   -> fanoBurstinessSql,
    "q260_dow_seasonality"   -> dowSeasonalitySql,
    "q261_auc_by_slice"      -> aucBySliceSql,
    "q263_kendall_tau"       -> kendallDailySql,
    "q272_weighted_median"   -> weightedMedianSql,
    "q276_seasonal_mad"      -> seasonalMadSql)
}
