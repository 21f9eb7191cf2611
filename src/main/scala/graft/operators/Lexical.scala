package graft.operators

import graft.Tables
import graft.functions.Text
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lexical corpus statistics beyond the unigram vocab (q79) and
  * surprisal (q80): collocation mining (q131) — the adjacent-bigram
  * association pass a corpus-analysis pipeline runs to find
  * multi-word expressions, tokenizer-merge candidates, and boilerplate
  * phrases. Reference scope: none (beyond-parity, LLM-pipeline block);
  * data model is the synthetic documents table.
  */
object Lexical {

  /** q131: top collocations by integer-exact lift.
    *
    * lift(a,b) = P(ab) / (P(a)P(b)) — the PMI family's association
    * measure — computed entirely in integer arithmetic so Spark and
    * DuckDB agree bit-for-bit: lift_ppm = floor(n_ab * N * 10^6 /
    * (n_a * n_b)), with the cross-products taken in DECIMAL(38,0)
    * (HUGEINT on the oracle side) so the 100 TB operating point
    * (N ~ 10^14) cannot overflow the i64 a float log-PMI would have
    * silently rounded anyway.
    *
    * Shape at scale: bigram extraction is ZERO-shuffle — a single
    * `transform(sequence(...))` projection per document (no
    * posexplode self-join); both count passes are map-side-combinable
    * hash aggregates; the n_a/n_b attachment joins are vocab-sized
    * (broadcast at dimension scale, plain hash joins at web-vocab
    * scale); the corpus total attaches as a 1-row broadcast; top-k is
    * TakeOrderedAndProject with full (lift, a, b) tiebreak so the
    * LIMIT boundary is deterministic.
    */
  def collocations(spark: SparkSession, dir: String,
                   minCount: Long = 5L, k: Int = 50): DataFrame =
    collocationsFrom(Tables.documents(spark, dir), "text", minCount, k)

  /** The reusable core over any (..., textCol) corpus frame. */
  def collocationsFrom(docs: DataFrame, textCol: String,
                       minCount: Long, k: Int): DataFrame = {
    val toks = docs
      .select(Text.tokens(col(textCol)).as("t"))
      .localCheckpoint(true) // consumed by the unigram AND bigram passes
    val uni = toks.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
    val tot = toks.select(sum(size(col("t"))).cast("decimal(38,0)").as("n_total"))
    val bi = toks.filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(t)-2), i -> struct(t[i] AS a, t[i+1] AS b))")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
    // No broadcast hint on the vocab joins: the unigram table grows
    // with the corpus (web-scale vocab is 1e8-1e9 rows — a forced
    // broadcast would OOM the driver). The checkpoint gives AQE an
    // exact size, so it picks broadcast when the vocab actually is
    // dim-sized and a hash join when it isn't. Only the 1-row total
    // keeps its hint.
    bi.join(uni.withColumnRenamed("w", "a").withColumnRenamed("n", "n_a"), Seq("a"))
      .join(uni.withColumnRenamed("w", "b").withColumnRenamed("n", "n_b"), Seq("b"))
      .crossJoin(broadcast(tot))
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
        call_function("div",
          col("n_ab").cast("decimal(38,0)") * col("n_total") * lit(1000000L),
          col("n_a").cast("decimal(38,0)") * col("n_b").cast("decimal(38,0)"))
          .cast("long").as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("a"), col("b"))
      .limit(k)
  }

  val collocationsSql: String =
    """WITH toks AS (
      |  SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
      |uni AS (SELECT unnest(t) AS w FROM toks),
      |ucnt AS (SELECT w, COUNT(*) AS n FROM uni GROUP BY 1),
      |tot AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n_total FROM uni),
      |bi AS (
      |  SELECT t[i] AS a, t[i+1] AS b
      |  FROM (SELECT t, unnest(generate_series(1, len(t)-1)) AS i
      |        FROM toks WHERE len(t) >= 2)),
      |bcnt AS (SELECT a, b, COUNT(*) AS n_ab FROM bi GROUP BY 1, 2
      |         HAVING COUNT(*) >= 5)
      |SELECT a, b, CAST(n_ab AS BIGINT) AS n_ab,
      |       CAST(ua.n AS BIGINT) AS n_a, CAST(ub.n AS BIGINT) AS n_b,
      |       CAST((CAST(n_ab AS HUGEINT) * n_total * 1000000)
      |            // (CAST(ua.n AS HUGEINT) * CAST(ub.n AS HUGEINT)) AS BIGINT) AS lift_ppm
      |FROM bcnt JOIN ucnt ua ON bcnt.a = ua.w
      |          JOIN ucnt ub ON bcnt.b = ub.w, tot
      |ORDER BY lift_ppm DESC, a, b LIMIT 50""".stripMargin

  // ---- q138: vocabulary drift between corpus snapshots ---------------
  // The distribution-shift monitor a continuously-ingested corpus
  // runs: which tokens' relative frequencies moved most between two
  // snapshots (here the deterministic doc_id-parity halves)? The
  // score is the cross-multiplied share delta |n_a*N_b - n_b*N_a| —
  // algebraically N_a*N_b*|share_a - share_b|, so it ranks identically
  // to the float share delta but stays in DECIMAL(38,0)/HUGEINT
  // integer arithmetic (no division, no epsilon, no ulp-flip at the
  // top-k boundary). Tokens absent from one side count 0 there (the
  // new-word / vanished-word cases rank naturally). Shape at scale:
  // two map-side-combinable unigram counts, one full-outer join on
  // the token (vocab-sized), top-k as TakeOrderedAndProject.
  def vocabDrift(spark: SparkSession, dir: String,
                 minCount: Long = 10L, k: Int = 40): DataFrame = {
    val docs = Tables.documents(spark, dir)
    def uni(side: DataFrame): DataFrame = side
      .select(explode(Text.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
    val a = uni(docs.filter(col("doc_id") % 2 === 0))
      .withColumnRenamed("n", "n_a")
    val b = uni(docs.filter(col("doc_id") % 2 === 1))
      .withColumnRenamed("n", "n_b")
    val joined = a.join(b, Seq("w"), "full_outer")
      .select(col("w"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
      .localCheckpoint(true) // consumed by the totals agg AND the rank
    val tot = joined.agg(
      sum("n_a").cast("decimal(38,0)").as("na_tot"),
      sum("n_b").cast("decimal(38,0)").as("nb_tot"))
    joined.filter(col("n_a") + col("n_b") >= minCount)
      .crossJoin(broadcast(tot))
      .select(col("w"), col("n_a"), col("n_b"),
        abs(col("n_a").cast("decimal(38,0)") * col("nb_tot") -
          col("n_b").cast("decimal(38,0)") * col("na_tot")).as("drift_d"))
      .orderBy(col("drift_d").desc, col("w"))
      .limit(k)
      // Rank on the exact DECIMAL(38,0); EMIT BIGINT. drift is bounded
      // by (n_a+n_b)*max(N_a,N_b) — at any benched scale that is far
      // inside int64 (measured 7.3e5 at sf0.01) and the top-k ranking
      // already happened in exact decimal, so the emitted value is the
      // same number. Decimal128 must not reach a gate query's final
      // schema: hashers canonicalize it differently than live values.
      // The cast is GUARDED: under non-ANSI Spark an overflowing
      // decimal->long cast silently yields NULL while the oracle's
      // HUGEINT->BIGINT cast raises — raise_error makes both engines
      // fail loudly and identically if the documented bound is ever
      // exceeded at larger scale.
      .select(col("w"), col("n_a"), col("n_b"),
        when(col("drift_d") >
            lit(Long.MaxValue).cast("decimal(38,0)"),
          raise_error(concat(lit("q138 drift exceeds int64: "),
            col("drift_d").cast("string"))).cast("long"))
        .otherwise(col("drift_d").cast("long")).as("drift"))
  }

  val vocabDriftSql: String =
    """WITH ua AS (
      |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      |  FROM documents WHERE doc_id % 2 = 0),
      |ub AS (
      |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      |  FROM documents WHERE doc_id % 2 = 1),
      |ca AS (SELECT w, COUNT(*) AS n_a FROM ua GROUP BY 1),
      |cb AS (SELECT w, COUNT(*) AS n_b FROM ub GROUP BY 1),
      |j AS (SELECT COALESCE(ca.w, cb.w) AS w,
      |             COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
      |      FROM ca FULL JOIN cb ON ca.w = cb.w),
      |tot AS (SELECT CAST(SUM(n_a) AS HUGEINT) AS na_tot,
      |               CAST(SUM(n_b) AS HUGEINT) AS nb_tot FROM j)
      |SELECT w, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
      |       CAST(abs(CAST(n_a AS HUGEINT) * nb_tot
      |                - CAST(n_b AS HUGEINT) * na_tot) AS BIGINT) AS drift
      |FROM j, tot WHERE n_a + n_b >= 10
      |ORDER BY drift DESC, w LIMIT 40""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q131_collocations" -> ((s, d) => collocations(s, d)),
    "q138_vocab_drift"  -> ((s, d) => vocabDrift(s, d)))

  val oracles: Map[String, String] = Map(
    "q131_collocations" -> collocationsSql,
    "q138_vocab_drift"  -> vocabDriftSql)
}
