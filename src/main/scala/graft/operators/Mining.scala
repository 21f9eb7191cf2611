package graft.operators

import graft.Tables
import graft.functions.Text
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-10 mining batch (beyond-parity, LLM-pipeline block): weighted
  * similarity joins exact + sketched (q218/q224), URL canonicalization
  * (q219), annotator agreement (q220), mixture reweighting (q221),
  * containment dedup (q222), k-core graph pruning (q223), l-diversity
  * (q226), modularity (q227), entity resolution (q228) and touch
  * attribution (q229); the streaming late-data gate (q225) lives in
  * streaming/StreamOps. Reference scope: none — these are the
  * corpus-curation operators a training-data pipeline layers on top of
  * the reference's retail analytics. All integer-exact against the
  * DuckDB oracles (revenue via the DECIMAL exact-sum channel).
  */
object Mining {

  // ---- q218: weighted (tf) Jaccard similarity join -------------------
  // The multiset generalization of q21/q99: J_w(A,B) =
  // sum_t min(tfA,tfB) / sum_t max(tfA,tfB), the measure that
  // separates "same words, same emphasis" from "same vocabulary" —
  // token-frequency near-dup detection where distinct-set Jaccard
  // saturates. Candidate generation is the weighted AllPairs prefix
  // filter (Bayardo, Ma & Srikant, WWW'07 "Scaling up all pairs
  // similarity search", public literature):
  //
  //  - one TOTAL term order everywhere (global document frequency asc,
  //    term asc — rarest first);
  //  - per doc, a term at sorted position i enters the index only if
  //    the doc's weight from i onward (sfx_i = sz - cum_i + tf_i)
  //    can still reach the minimum overlap p*sz/q: a qualifying pair
  //    must overlap by >= (p/q)*min-size (cross-multiplied from
  //    q*num >= p*(sA+sB-num) with the length bound sB >= (p/q)*sA),
  //    and the first shared term in the total order caps the overlap
  //    by BOTH docs' suffix weights at that term, so a pair sharing no
  //    (prefix x prefix) term cannot qualify;
  //  - LENGTH filter inside the index join: q*min(sA,sB) >= p*max —
  //    size-mismatched pairs never leave the join;
  //  - every candidate verifies with the full exact overlap sum.
  //
  // Everything is integer: the threshold p/q compares cross-multiplied
  // (no float epsilon anywhere, unlike the ceil-of-double q99 path),
  // and the emitted score is wj_ppm = num*10^6 div den. Shape at
  // scale: tf build is one map-side-combinable aggregate off a doc_id
  // pre-partition; the df join is vocab-sized; prefix selection is one
  // window cumsum per doc; the candidate join only indexes prefix
  // terms (hot terms are never prefix terms under rarest-first order).
  // The postings^2 caveat of q99's scaladoc applies unchanged — for
  // unbounded corpora the recall-trading LSH lane (q22) is the tool.
  private val WjP = 3L // threshold p/q = 3/5 = 0.6
  private val WjQ = 5L

  def weightedJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                           p: Long = WjP, q: Long = WjQ): DataFrame = {
    val tf = docs.repartition(col(idCol))
      .select(col(idCol).as("doc_id"),
        explode(Text.tokens(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true) // consumed by df, sz, prefix AND verify
    val sz = tf.groupBy("doc_id").agg(sum("tf").as("sz"))
      .localCheckpoint(true)
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("tdf"))
    val wDoc = Window.partitionBy("doc_id").orderBy(col("tdf"), col("term"))
    val pre = tf.join(dfT, "term").join(sz, "doc_id")
      .withColumn("cum", sum("tf").over(wDoc))
      // keep position i iff suffix weight (this term + later) could
      // still reach the p/q*sz minimum overlap — integer-exact prefix
      .filter((col("sz") - col("cum") + col("tf")) * lit(q) >= col("sz") * lit(p))
      .select(col("doc_id"), col("term"), col("sz"))
    val cand = pre.as("a").join(pre.as("b"),
        col("a.term") === col("b.term") && col("a.doc_id") < col("b.doc_id") &&
          least(col("a.sz"), col("b.sz")) * lit(q) >=
            greatest(col("a.sz"), col("b.sz")) * lit(p))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val num = cand
      .join(tf.as("ta"), col("doc_a") === col("ta.doc_id"))
      .join(tf.as("tb"),
        col("doc_b") === col("tb.doc_id") && col("ta.term") === col("tb.term"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(least(col("ta.tf"), col("tb.tf"))).as("num"))
    val den = col("sza") + col("szb") - col("num")
    num
      .join(sz.select(col("doc_id"), col("sz").as("sza")), col("doc_a") === col("doc_id")).drop("doc_id")
      .join(sz.select(col("doc_id"), col("sz").as("szb")), col("doc_b") === col("doc_id")).drop("doc_id")
      .filter(col("num") * lit(q) >= den * lit(p))
      .select(col("doc_a"), col("doc_b"),
        call_function("div", col("num") * lit(1000000L), den)
          .cast("long").as("wj_ppm"))
  }

  def weightedJaccard(spark: SparkSession, dir: String): DataFrame =
    weightedJaccardPairs(
        Tables.documents(spark, dir).filter(col("doc_id") < 400),
        "doc_id", "text")
      .orderBy("doc_a", "doc_b")

  val weightedJaccardSql: String =
    s"""WITH tf AS (
       |  SELECT doc_id, t AS term, COUNT(*) AS tf
       |  FROM (SELECT doc_id,
       |               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
       |        FROM documents WHERE doc_id < 400)
       |  GROUP BY 1, 2),
       |sz AS (SELECT doc_id, SUM(tf) AS sz FROM tf GROUP BY 1),
       |num AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |               SUM(LEAST(a.tf, b.tf)) AS num
       |        FROM tf a JOIN tf b ON a.term = b.term AND a.doc_id < b.doc_id
       |        GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |       CAST(num * 1000000 // (za.sz + zb.sz - num) AS BIGINT) AS wj_ppm
       |FROM num JOIN sz za ON doc_a = za.doc_id
       |         JOIN sz zb ON doc_b = zb.doc_id
       |WHERE num * $WjQ >= (za.sz + zb.sz - num) * $WjP
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- q219: URL canonicalization + per-domain dup stats -------------
  // The web-corpus hygiene pass (C4/CCNet-style curation, public
  // literature): canonicalize each document's URL (strip fragment,
  // strip utm_* tracking params, drop the dangling ?/& separator,
  // lowercase the authority — NOT the path, which is case-sensitive),
  // extract the registered domain (last two host labels), and report
  // per-domain document / distinct-URL / dup counts. The corpus has no
  // URL column, so both engines derive the SAME deterministic synthetic
  // URL from (doc_id, source) — subdomain, TLD, casing noise, tracking
  // params and fragments all planted as closed-form functions of
  // doc_id, so the normalizer has real work to do and the oracle can
  // rebuild it all arithmetically. Shape at scale: pure per-row
  // projections (codegen'd regex) + one hash aggregate keyed by
  // domain; COUNT(DISTINCT norm) is Spark's two-phase distinct
  // aggregate — no join anywhere.
  def urlHostStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val url = expr(
      """concat(
        |  'https://',
        |  CASE WHEN doc_id % 5 = 0
        |       THEN upper(concat(CASE WHEN doc_id % 2 = 0 THEN 'www' ELSE 'cdn' END,
        |                         '.', source, '.',
        |                         CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END))
        |       ELSE concat(CASE WHEN doc_id % 2 = 0 THEN 'www' ELSE 'cdn' END,
        |                   '.', source, '.',
        |                   CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END)
        |  END,
        |  '/p/', CAST(doc_id % 10 AS STRING),
        |  CASE doc_id % 4
        |    WHEN 0 THEN concat('?utm_source=feed&id=', CAST(doc_id % 10 AS STRING))
        |    WHEN 1 THEN concat('?id=', CAST(doc_id % 10 AS STRING), '&utm_campaign=w')
        |    WHEN 2 THEN ''
        |    ELSE concat('?ref=', CAST(doc_id % 5 AS STRING))
        |  END,
        |  CASE WHEN doc_id % 7 = 0 THEN concat('#s', CAST(doc_id % 3 AS STRING)) ELSE '' END)""".stripMargin)
    val n1 = regexp_replace(url, "#.*$", "")
    val n2 = regexp_replace(n1, "utm_[a-z]+=[a-z0-9]*&?", "")
    val n3 = regexp_replace(n2, "[?&]$", "")
    val auth = regexp_extract(n3, "^https://([^/]+)", 1)
    val norm = concat(lit("https://"), lower(auth),
      regexp_replace(n3, "^https://[^/]+", ""))
    val domain = regexp_extract(lower(auth), "([a-z0-9-]+\\.[a-z0-9]+)$", 1)
    docs.select(domain.as("domain"), norm.as("norm"))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("norm")).as("n_urls"))
      .select(col("domain"), col("n_docs"), col("n_urls"),
        (col("n_docs") - col("n_urls")).as("dup_docs"))
      .orderBy("domain")
  }

  val urlHostStatsSql: String =
    """WITH u AS (
      |  SELECT 'https://' ||
      |    CASE WHEN doc_id % 5 = 0
      |         THEN upper((CASE WHEN doc_id % 2 = 0 THEN 'www' ELSE 'cdn' END)
      |                    || '.' || source || '.' ||
      |                    (CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END))
      |         ELSE (CASE WHEN doc_id % 2 = 0 THEN 'www' ELSE 'cdn' END)
      |              || '.' || source || '.' ||
      |              (CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END)
      |    END ||
      |    '/p/' || CAST(doc_id % 10 AS VARCHAR) ||
      |    CASE doc_id % 4
      |      WHEN 0 THEN '?utm_source=feed&id=' || CAST(doc_id % 10 AS VARCHAR)
      |      WHEN 1 THEN '?id=' || CAST(doc_id % 10 AS VARCHAR) || '&utm_campaign=w'
      |      WHEN 2 THEN ''
      |      ELSE '?ref=' || CAST(doc_id % 5 AS VARCHAR)
      |    END ||
      |    CASE WHEN doc_id % 7 = 0 THEN '#s' || CAST(doc_id % 3 AS VARCHAR) ELSE '' END AS url
      |  FROM documents),
      |n AS (
      |  SELECT regexp_replace(
      |           regexp_replace(
      |             regexp_replace(url, '#.*$', ''),
      |             'utm_[a-z]+=[a-z0-9]*&?', ''),
      |           '[?&]$', '') AS n3
      |  FROM u),
      |c AS (
      |  SELECT 'https://' || lower(regexp_extract(n3, '^https://([^/]+)', 1))
      |           || regexp_replace(n3, '^https://[^/]+', '') AS norm,
      |         regexp_extract(lower(regexp_extract(n3, '^https://([^/]+)', 1)),
      |                        '([a-z0-9-]+\.[a-z0-9]+)$', 1) AS domain
      |  FROM n)
      |SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(COUNT(DISTINCT norm) AS BIGINT) AS n_urls,
      |       CAST(COUNT(*) - COUNT(DISTINCT norm) AS BIGINT) AS dup_docs
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q220: inter-annotator agreement (Cohen's kappa) ---------------
  // Cohen's kappa (Cohen 1960, public literature) — the label-quality
  // gate an annotation pipeline runs before trusting human/model
  // labels: chance-corrected agreement (po - pe) / (1 - pe). Annotator
  // A is the event_type; annotator B is a planted deterministic
  // corruption (agrees on event_id % 10 < 7, else emits an off-schema
  // 'auxK' label — categories only one side uses contribute zero to
  // pe, which the category inner join encodes naturally). Integer
  // form: with S = sum_k nA_k*nB_k, kappa = (agree*n - S)/(n^2 - S),
  // emitted in ppm via exact cross-multiplied div; the products run in
  // DECIMAL(38,0)/HUGEINT so the web-scale operating point (n ~ 1e10
  // labels) cannot overflow. Shape at scale: two map-side-combinable
  // marginal aggregates + a category-sized join + three 1-row
  // broadcasts — no per-row state.
  def annotatorKappa(spark: SparkSession, dir: String): DataFrame = {
    val lab = Tables.events(spark, dir).select(
        col("event_type").as("a"),
        expr("CASE WHEN event_id % 10 < 7 THEN event_type " +
          "ELSE concat('aux', CAST(event_id % 3 AS STRING)) END").as("b"))
      .localCheckpoint(true) // consumed by tot + both marginals
    val tot = lab.agg(
      count(lit(1)).as("n"),
      sum(when(col("a") === col("b"), 1L).otherwise(0L)).as("agree"))
    val ma = lab.groupBy(col("a").as("k")).agg(count(lit(1)).as("na"))
    val mb = lab.groupBy(col("b").as("k")).agg(count(lit(1)).as("nb"))
    val s = ma.join(mb, "k")
      .agg(sum(col("na").cast("decimal(38,0)") * col("nb")).as("s"))
    tot.crossJoin(broadcast(s))
      .select(
        col("n"),
        call_function("div", col("agree") * lit(1000000L), col("n"))
          .cast("long").as("po_ppm"),
        call_function("div", col("s") * lit(1000000L),
          col("n").cast("decimal(38,0)") * col("n"))
          .cast("long").as("pe_ppm"),
        call_function("div",
          (col("agree").cast("decimal(38,0)") * col("n") - col("s")) * lit(1000000L),
          col("n").cast("decimal(38,0)") * col("n") - col("s"))
          .cast("long").as("kappa_ppm"))
  }

  val annotatorKappaSql: String =
    """WITH lab AS (
      |  SELECT event_type AS a,
      |         CASE WHEN event_id % 10 < 7 THEN event_type
      |              ELSE 'aux' || CAST(event_id % 3 AS VARCHAR) END AS b
      |  FROM events),
      |tot AS (SELECT COUNT(*) AS n,
      |               SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS agree FROM lab),
      |ma AS (SELECT a AS k, COUNT(*) AS na FROM lab GROUP BY 1),
      |mb AS (SELECT b AS k, COUNT(*) AS nb FROM lab GROUP BY 1),
      |s AS (SELECT SUM(CAST(na AS HUGEINT) * nb) AS s
      |      FROM ma JOIN mb ON ma.k = mb.k)
      |SELECT CAST(n AS BIGINT) AS n,
      |       CAST(agree * 1000000 // n AS BIGINT) AS po_ppm,
      |       CAST(s * 1000000 // (CAST(n AS HUGEINT) * n) AS BIGINT) AS pe_ppm,
      |       CAST((CAST(agree AS HUGEINT) * n - s) * 1000000
      |            // (CAST(n AS HUGEINT) * n - s) AS BIGINT) AS kappa_ppm
      |FROM tot, s""".stripMargin

  // ---- q221: IPF mixture reweighting (raking) ------------------------
  // Iterative proportional fitting (Deming & Stephan 1940, public
  // literature) — the data-mixture tool that assigns per-(source,lang)
  // sampling weights so BOTH marginals hit targets simultaneously
  // (here: uniform across sources and across languages), the
  // 2-marginal generalization of q137's single-axis temperature mix.
  // Fixed 4 rounds of row-scale-then-column-scale in a 10^6
  // fixed-point integer channel: w' = (w * target * 10^6) div
  // current_marginal — `div` is exact floor division in both engines,
  // every intermediate stays well inside int64 (documented bound
  // ~ w_max * N * 10^6), so the oracle lands byte-identical weights,
  // the q146 integer-iteration rule applied to scaling instead of
  // propagation. Shape at scale: the cell table is
  // |sources| x |langs| — dimension-sized — and each round is two
  // tiny hash aggregates + two broadcast joins; the corpus-sized work
  // (the initial count) happens once.
  private val IpfRounds = 4

  def ipfWeights(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val tgt = docs.agg(
      expr("count(1) div count(DISTINCT source)").as("t_row"),
      expr("count(1) div count(DISTINCT lang)").as("t_col"))
    var w = docs.groupBy("source", "lang").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(tgt))
      .withColumn("w", lit(1000000L))
      .localCheckpoint(true)
    // products and marginals run in DECIMAL(38,0) (HUGEINT on the
    // oracle side): w*target*10^6 leaves int64 around n ~ 2e8 docs per
    // marginal cell, and a non-ANSI long would WRAP silently where the
    // oracle errors loudly — the wide channel keeps both engines exact
    // at any corpus size; only the ~10^6-scale w itself returns to long
    for (_ <- 1 to IpfRounds) {
      // the OPERAND is cast wide, not the product: a long n*w wraps
      // silently under non-ANSI Spark before any post-hoc cast
      val rm = w.groupBy("source").agg(
        sum(col("n").cast("decimal(38,0)") * col("w")).as("m"))
      val a = w.join(broadcast(rm), "source")
        .withColumn("w",
          expr("CAST((CAST(w AS DECIMAL(38,0)) * t_row * 1000000) div m AS BIGINT)"))
        .drop("m")
      val cm = a.groupBy("lang").agg(
        sum(col("n").cast("decimal(38,0)") * col("w")).as("m"))
      w = a.join(broadcast(cm), "lang")
        .withColumn("w",
          expr("CAST((CAST(w AS DECIMAL(38,0)) * t_col * 1000000) div m AS BIGINT)"))
        .drop("m")
        .localCheckpoint(true)
    }
    w.select(col("source"), col("lang"), col("n"), col("w").as("w_ppm"))
      .orderBy("source", "lang")
  }

  val ipfWeightsSql: String = {
    val head =
      """WITH cells AS (SELECT source, lang, COUNT(*) AS n
        |               FROM documents GROUP BY 1, 2),
        |t AS (SELECT (SELECT COUNT(*) FROM documents)
        |               // (SELECT COUNT(DISTINCT source) FROM documents) AS t_row,
        |             (SELECT COUNT(*) FROM documents)
        |               // (SELECT COUNT(DISTINCT lang) FROM documents) AS t_col),
        |w0 AS (SELECT source, lang, n, CAST(1000000 AS BIGINT) AS w FROM cells)""".stripMargin
    val rounds = (1 to IpfRounds).map { i =>
      s"""r$i AS (SELECT source, SUM(CAST(n AS HUGEINT) * w) AS m FROM w${i - 1} GROUP BY 1),
         |a$i AS (SELECT c.source, c.lang, c.n, CAST((CAST(c.w AS HUGEINT) * t_row * 1000000) // r$i.m AS BIGINT) AS w
         |        FROM w${i - 1} c JOIN r$i ON c.source = r$i.source, t),
         |c$i AS (SELECT lang, SUM(CAST(n AS HUGEINT) * w) AS m FROM a$i GROUP BY 1),
         |w$i AS (SELECT c.source, c.lang, c.n, CAST((CAST(c.w AS HUGEINT) * t_col * 1000000) // c$i.m AS BIGINT) AS w
         |        FROM a$i c JOIN c$i ON c.lang = c$i.lang, t)""".stripMargin
    }
    (head +: rounds).mkString(",\n") +
      s"""\nSELECT source, lang, CAST(n AS BIGINT) AS n, CAST(w AS BIGINT) AS w_ppm
         |FROM w$IpfRounds ORDER BY source, lang""".stripMargin
  }

  // ---- q222: shingle containment (asymmetric near-dup) ---------------
  // Broder's containment c(A,B) = |S(A) n S(B)| / |S(A)| (Broder 1997
  // "On the resemblance and containment of documents", public
  // literature) over distinct 5-gram word shingles: the DIRECTIONAL
  // measure that catches a short document living inside a longer one
  // (quotes, boilerplate wrappers, excerpt pages) where symmetric
  // Jaccard stays low because the size imbalance dilutes the union.
  // Pairs are ORDERED (a contained-in b and b contained-in a are
  // different rows). Integer-exact: cont_ppm = inter*10^6 div |A|,
  // threshold 0.8 cross-multiplied (5*inter >= 4*|A|). Shape at scale:
  // inverted-index self-join on the 8-byte shingle hash + one pair
  // aggregate; the postings^2 guard toolbox (q39's stop-shingle cap,
  // q99's prefix filter — prefix filtering adapts to containment with
  // an |A|-only bound) applies unchanged when the corpus outgrows the
  // exact index.
  private val ContP = 4L // threshold 4/5 = 0.8
  private val ContQ = 5L

  def containmentPairs(spark: SparkSession, dir: String): DataFrame = {
    val sh = Dedup.shingleTable(
        Tables.documents(spark, dir), "doc_id", "text", 5)
      .localCheckpoint(true) // consumed by sz + both join sides
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("szn"))
    val idx = sh.select("doc_id", "h64")
    val inter = idx.as("a").join(idx.as("b"),
        col("a.h64") === col("b.h64") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("c"))
    inter.join(sz, col("doc_a") === col("doc_id")).drop("doc_id")
      .filter(col("c") * lit(ContQ) >= col("szn") * lit(ContP))
      .select(col("doc_a"), col("doc_b"),
        call_function("div", col("c") * lit(1000000L), col("szn"))
          .cast("long").as("cont_ppm"))
      .orderBy("doc_a", "doc_b")
  }

  val containmentSql: String =
    s"""WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
       |              FROM documents),
       |idx AS (SELECT doc_id, t, unnest(generate_series(1, len(t)-4)) AS i
       |        FROM toks WHERE len(t) >= 5),
       |sh AS (SELECT DISTINCT doc_id,
       |              t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] AS s
       |       FROM idx),
       |sz AS (SELECT doc_id, COUNT(*) AS szn FROM sh GROUP BY 1),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
       |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id != b.doc_id
       |          GROUP BY 1, 2)
       |SELECT doc_a, doc_b, CAST(c * 1000000 // szn AS BIGINT) AS cont_ppm
       |FROM inter JOIN sz ON doc_a = sz.doc_id
       |WHERE c * $ContQ >= szn * $ContP
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- q223: k-core decomposition (graph pruning) --------------------
  // The k-core (Seidman 1983; synchronized peeling per Batagelj &
  // Zaversnik 2003, public literature) of the part co-purchase graph
  // (parts sharing an order >= 2 times): repeatedly remove nodes of
  // degree < k until the residual graph stabilizes. The standard
  // link-spam / weak-tie pruning pass before running PageRank-family
  // scoring (q146) — the 2-core strips every tree and pendant chain,
  // keeping only nodes embedded in cycles. The k-core is ORDER-
  // INDEPENDENT (peeling is confluent), so synchronized rounds land
  // the unique fixpoint any peel order would; the oracle unrolls
  // MaxPeelRounds rounds (peeling is idempotent after convergence, so
  // overshooting is harmless) and the Spark side REQUIREs convergence
  // within the same budget — a truncated run fails the gate rather
  // than shipping a non-core. Rounds needed grow with the depth of
  // pendant chains, not graph size (measured: 0/3/6 rounds at
  // sf0.001/0.01/0.1). Shape at scale: per round one degree aggregate
  // + two semi-join-shaped hash joins against the (shrinking) keep
  // set; edges are checkpointed per round to cut the loop's lineage,
  // exactly the q140/q177 iteration discipline.
  private val CoreK = 2L
  private val CoreSupport = 2L
  private val MaxPeelRounds = 10

  /** Synchronized peel over a SYMMETRIC (src, dst) edge table; returns
    * the unique k-core as `(node, deg)` with residual degrees. Throws
    * if the peel has not stabilized within `maxRounds`. */
  def kcoreOn(edges: DataFrame, k: Long = CoreK,
              maxRounds: Int = MaxPeelRounds): DataFrame = {
    var cur = edges.select("src", "dst").localCheckpoint(true)
    var converged = false
    var rounds = 0
    while (!converged) {
      val deg = cur.groupBy("src").agg(count(lit(1)).as("d"))
        .localCheckpoint(true)
      if (deg.filter(col("d") < k).isEmpty) converged = true
      else {
        // budget check BEFORE the peel, confirmation check after: a
        // graph needing exactly maxRounds peels converges (the oracle
        // unrolls maxRounds rounds), and only peel maxRounds+1 throws
        require(rounds < maxRounds,
          s"k-core peeling did not converge within $maxRounds rounds")
        rounds += 1
        val keep = deg.filter(col("d") >= k).select("src")
          .localCheckpoint(true)
        cur = cur.join(keep, "src")
          .join(keep.withColumnRenamed("src", "dst"), "dst")
          .select("src", "dst")
          .localCheckpoint(true)
      }
    }
    cur.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
  }

  /** Unordered (pa < pb) co-purchase pairs with >= `support` row-level
    * co-occurrences — the ONE derivation behind q223, q227 and the
    * bench/ScaleVerify kcore lanes. */
  def coPurchasePairs(spark: SparkSession, dir: String,
                      support: Long = CoreSupport): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
    li.as("a").join(li.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("pa"), col("b.p").as("pb"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= support)
      .select("pa", "pb")
  }

  /** [[coPurchasePairs]] symmetrized into the (src, dst) edge table the
    * peel iterates over. */
  def coPurchaseEdges(spark: SparkSession, dir: String,
                      support: Long = CoreSupport): DataFrame = {
    val pairs = coPurchasePairs(spark, dir, support)
    pairs.select(col("pa").as("src"), col("pb").as("dst"))
      .unionAll(pairs.select(col("pb").as("src"), col("pa").as("dst")))
  }

  def kcore(spark: SparkSession, dir: String): DataFrame =
    kcoreOn(coPurchaseEdges(spark, dir)).orderBy("node")

  val kcoreSql: String = {
    val head =
      s"""WITH li AS (SELECT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |pr AS (SELECT a.p AS pa, b.p AS pb
         |       FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
         |       GROUP BY 1, 2 HAVING COUNT(*) >= $CoreSupport),
         |e0 AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM pr
         |      UNION ALL SELECT pb, pa FROM pr)""".stripMargin
    val rounds = (1 to MaxPeelRounds).map { i =>
      s"""d$i AS (SELECT src, COUNT(*) AS d FROM e${i - 1} GROUP BY 1),
         |k$i AS (SELECT src FROM d$i WHERE d >= $CoreK),
         |e$i AS MATERIALIZED (SELECT e.src, e.dst FROM e${i - 1} e
         |       JOIN k$i a ON e.src = a.src JOIN k$i b ON e.dst = b.src)""".stripMargin
    }
    (head +: rounds).mkString(",\n") +
      s"""\nSELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
         |FROM e$MaxPeelRounds GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---- q224: weighted MinHash via multiset expansion -----------------
  // The LSH scale path for q218: for INTEGER weights, weighted Jaccard
  // over (term -> tf) multisets equals plain Jaccard over the expanded
  // element sets {term#1 .. term#tf} (the shared elements of a term
  // are exactly term#1..term#min(tfA,tfB)), so the entire proven q22
  // machinery — md5-rotation signatures, banding, exact verify —
  // applies verbatim to the expanded table and becomes a proper
  // weighted MinHash (the classic integer-weight reduction; Haveliwala
  // et al. 2000, public literature). Candidates band-join in O(corpus
  // x bucket occupancy) instead of q218's prefix-postings^2; every
  // surfaced pair carries the EXACT integer wj_ppm from the verify
  // join, so the result is a subset of q218's pair set with identical
  // scores (recall is the banding trade; MiningSpec measures it).
  // Shape at scale: identical to q22 — the 100 TB weighted-dedup lane.
  def weightedMinhashPairs(docs: DataFrame, idCol: String, textCol: String,
                           p: Long = WjP, q: Long = WjQ,
                           numHashes: Int = 12, bands: Int = 4): DataFrame = {
    val tf = docs.repartition(col(idCol))
      .select(col(idCol).as("doc_id"),
        explode(Text.tokens(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val exp = tf
      .select(col("doc_id"), col("term"), explode(expr("sequence(1L, tf)")).as("k"))
      .select(col("doc_id"),
        concat(col("term"), lit("#"), col("k").cast("string")).as("s"))
    val sh = exp
      .withColumn("h64", xxhash64(col("s")))
      .withColumn("__h", md5(col("s").cast("binary")))
      .select("doc_id", "h64", "__h")
      .localCheckpoint(true) // feeds signatures, sizes AND the verify join
    val sig = Dedup.minhashSignatures(sh, numHashes).localCheckpoint(true)
    val sz = sig.select(col("doc_id"), col("szn"))
    val bandsDf = Dedup.lshBands(sig, numHashes, bands)
    val cand = bandsDf.as("a").join(bandsDf.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val inter = cand
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"),
        col("doc_b") === col("sb.doc_id") && col("sa.h64") === col("sb.h64"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("c"))
    val den = col("sza") + col("szb") - col("c")
    inter
      .join(sz.select(col("doc_id"), col("szn").as("sza")), col("doc_a") === col("doc_id")).drop("doc_id")
      .join(sz.select(col("doc_id"), col("szn").as("szb")), col("doc_b") === col("doc_id")).drop("doc_id")
      .filter(col("c") * lit(q) >= den * lit(p))
      .select(col("doc_a"), col("doc_b"),
        call_function("div", col("c") * lit(1000000L), den)
          .cast("long").as("wj_ppm"))
  }

  def weightedMinhash(spark: SparkSession, dir: String): DataFrame =
    weightedMinhashPairs(
        Tables.documents(spark, dir).filter(col("doc_id") < 400),
        "doc_id", "text")
      .orderBy("doc_a", "doc_b")

  val weightedMinhashSql: String = {
    val numHashes = 12
    val bands = 4
    val rows = numHashes / bands
    val minExprs = (0 until numHashes)
      .map(i => s"MIN(substr(hh, ${i * 2 + 1}, 15)) AS m$i").mkString(", ")
    val bandSelects = (0 until bands).map { b =>
      val key = (0 until rows).map(r => s"m${b * rows + r}").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, $key AS bkey FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH tf AS (
       |  SELECT doc_id, t AS term, COUNT(*) AS tf
       |  FROM (SELECT doc_id,
       |               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
       |        FROM documents WHERE doc_id < 400)
       |  GROUP BY 1, 2),
       |exp AS (
       |  SELECT doc_id, term || '#' || CAST(k AS VARCHAR) AS s
       |  FROM (SELECT doc_id, term, unnest(generate_series(1, tf)) AS k FROM tf)),
       |hsh AS (SELECT doc_id, md5(s) || md5(s) AS hh, s FROM exp),
       |sig AS (SELECT doc_id, $minExprs FROM hsh GROUP BY doc_id),
       |sz AS (SELECT doc_id, COUNT(*) AS szn FROM exp GROUP BY 1),
       |bands AS (
       |  $bandSelects),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
       |           AND a.doc_id < b.doc_id),
       |inter AS (SELECT doc_a, doc_b, COUNT(*) AS c
       |          FROM cand JOIN exp sa ON sa.doc_id = doc_a
       |          JOIN exp sb ON sb.doc_id = doc_b AND sb.s = sa.s GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |       CAST(c * 1000000 // (za.szn + zb.szn - c) AS BIGINT) AS wj_ppm
       |FROM inter JOIN sz za ON za.doc_id = doc_a JOIN sz zb ON zb.doc_id = doc_b
       |WHERE c * $WjQ >= (za.szn + zb.szn - c) * $WjP
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---- q226: l-diversity audit (k-anonymity's sharper sibling) -------
  // A k-anonymous group is still re-identifying if everyone in it
  // shares the sensitive value — distinct-l-diversity (Machanavajjhala
  // et al., ICDE'06, public literature) requires every quasi-identifier
  // group to carry >= l DISTINCT sensitive values. Quasi-identifiers:
  // q89's (nation, segment); sensitive attribute: the $1000 account-
  // balance bucket, shifted positive BEFORE the floor division
  // (c_acctbal can be negative, and Spark `div` truncates toward zero
  // while negative-operand semantics differ across engines — keeping
  // the dividend nonnegative sidesteps the whole class). Shape at
  // scale: one two-phase distinct aggregate + a group-domain-sized
  // summary — no row-level state.
  private val LDivThreshold = 3L

  def lDiversity(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_nationkey"), col("c_mktsegment"),
        expr("(CAST(round(c_acctbal * 100) AS BIGINT) + 100000L) div 100000L").as("bal_bucket"))
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("bal_bucket")).as("l"))
      .agg(
        count(lit(1)).as("n_groups"),
        sum(when(col("l") < LDivThreshold, 1L).otherwise(0L)).as("n_low_div"),
        sum(when(col("l") < LDivThreshold, col("n")).otherwise(0L)).as("rows_at_risk"),
        min("l").as("min_l"))

  val lDiversitySql: String =
    s"""WITH g AS (
       |  SELECT c_nationkey, c_mktsegment, COUNT(*) AS n,
       |         COUNT(DISTINCT (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 100000) AS l
       |  FROM customer GROUP BY 1, 2)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
       |  CAST(SUM(CASE WHEN l < $LDivThreshold THEN 1 ELSE 0 END) AS BIGINT) AS n_low_div,
       |  CAST(SUM(CASE WHEN l < $LDivThreshold THEN n ELSE 0 END) AS BIGINT) AS rows_at_risk,
       |  CAST(MIN(l) AS BIGINT) AS min_l
       |FROM g""".stripMargin

  // ---- q227: modularity of an attribute partition --------------------
  // Newman modularity Q = Σ_c [e_c/m − (d_c/2m)²] (Newman & Girvan
  // 2004, public literature) — the cluster-quality score a dedup/
  // community pipeline reports for a LABELING (here: the part's brand
  // over the >=2-support co-purchase graph — do purchases cluster
  // along brand lines?). Exact integer form: Q·4m² = Σ_c (4·m·e_c −
  // d_c²), emitted as q_ppm = that numerator ·10⁶ div 4m² — DECIMAL
  // (38,0)/HUGEINT products, no float until never. e_c counts intra-
  // community edges once per unordered pair; d_c sums degrees over the
  // community (isolated-in-graph nodes contribute nothing — the sums
  // run over the edge table only). Shape at scale: two broadcast label
  // attachments + two label-keyed aggregates + a 1-row fold.
  def modularity(spark: SparkSession, dir: String): DataFrame = {
    val pairs = coPurchasePairs(spark, dir)
      .localCheckpoint(true) // feeds m, e_c and both degree passes
    val lab = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_brand"))
    val labeled = pairs
      .join(lab.select(col("p_partkey").as("pa"), col("p_brand").as("ba")), Seq("pa"))
      .join(lab.select(col("p_partkey").as("pb"), col("p_brand").as("bb")), Seq("pb"))
      .localCheckpoint(true)
    val m = labeled.count() // unordered edge count — driver-side 1 value
    val ec = labeled.filter(col("ba") === col("bb"))
      .groupBy(col("ba").as("c")).agg(count(lit(1)).as("e_c"))
    val dc = labeled.select(col("ba").as("c"))
      .unionAll(labeled.select(col("bb").as("c")))
      .groupBy("c").agg(count(lit(1)).as("d_c"))
    dc.join(ec, Seq("c"), "left")
      .select(col("c"), coalesce(col("e_c"), lit(0L)).as("e_c"), col("d_c"))
      .agg(
        count(lit(1)).as("n_communities"),
        sum(lit(4L) * lit(m) * col("e_c").cast("decimal(38,0)")
          - col("d_c").cast("decimal(38,0)") * col("d_c")).as("num"))
      .select(
        lit(m).as("m"),
        col("n_communities"),
        call_function("div", col("num") * lit(1000000L),
          lit(4L).cast("decimal(38,0)") * lit(m) * lit(m))
          .cast("long").as("q_ppm"))
      // an EMPTY co-purchase graph must emit zero rows (matching the
      // oracle's GROUP BY over no communities) instead of a 1-row
      // global aggregate with a 0/0 q_ppm
      .filter(lit(m) > 0L)
  }

  val modularitySql: String =
    s"""WITH li AS (SELECT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |pr AS (SELECT a.p AS pa, b.p AS pb
       |       FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
       |       GROUP BY 1, 2 HAVING COUNT(*) >= $CoreSupport),
       |lbl AS (SELECT pr.pa, pr.pb, x.p_brand AS ba, y.p_brand AS bb
       |        FROM pr JOIN part x ON pr.pa = x.p_partkey
       |                JOIN part y ON pr.pb = y.p_partkey),
       |m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS m FROM lbl),
       |ec AS (SELECT ba AS c, COUNT(*) AS e_c FROM lbl WHERE ba = bb GROUP BY 1),
       |dc AS (SELECT c, COUNT(*) AS d_c FROM (
       |         SELECT ba AS c FROM lbl UNION ALL SELECT bb FROM lbl) GROUP BY 1),
       |per AS (SELECT dc.c, COALESCE(ec.e_c, 0) AS e_c, dc.d_c
       |        FROM dc LEFT JOIN ec ON dc.c = ec.c)
       |SELECT CAST(m AS BIGINT) AS m,
       |       CAST(COUNT(*) AS BIGINT) AS n_communities,
       |       CAST(SUM(4 * m * CAST(e_c AS HUGEINT)
       |                - CAST(d_c AS HUGEINT) * d_c) * 1000000
       |            // (4 * m * m) AS BIGINT) AS q_ppm
       |FROM per, m GROUP BY m""".stripMargin

  // ---- q228: entity resolution (block → match → cluster → merge) -----
  // The full ER pipeline (Fellegi–Sunter framing, public literature)
  // end-to-end: BLOCK candidate pairs on exact attributes (nation,
  // segment — the standard recall/cost dial that keeps the match step
  // off the corpus square), MATCH within blocks by edit-distance <= 1
  // on the name, CLUSTER matches into entities with the adaptive
  // connected-components engine (q177's escalation path — sequential
  // customer names chain, so components are NOT shallow), and MERGE
  // with a survivorship rule (entity = min key; record count, max key,
  // exact balance cents folded per entity). Only merged entities
  // (>= 2 records) emit — the singleton majority stays out of the
  // result. The oracle recomputes the clustering with a recursive-CTE
  // reachability closure — a genuinely different algorithm, so
  // agreement proves the clustering, not a reimplementation (q40's
  // oracle discipline). Shape at scale: blocking join keyed by the
  // block attributes, CC cost on the matched-pairs graph only,
  // dimension-sized merge aggregate.
  def entityResolution(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_mktsegment"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("cents"))
      .localCheckpoint(true) // feeds the block join (twice) + the merge
    val pairs = c.as("a").join(c.as("b"),
        col("a.c_nationkey") === col("b.c_nationkey") &&
          col("a.c_mktsegment") === col("b.c_mktsegment") &&
          col("a.c_custkey") < col("b.c_custkey") &&
          levenshtein(col("a.c_name"), col("b.c_name")) <= 1)
      .select(col("a.c_custkey").as("doc_a"), col("b.c_custkey").as("doc_b"))
    val cc = Dedup.componentsAdaptive(pairs)
    require(cc.converged,
      s"ER clustering failed to converge in ${cc.iterations} rounds")
    c.join(cc.labels.withColumnRenamed("doc_id", "c_custkey"),
        Seq("c_custkey"), "left")
      .select(col("c_custkey"),
        coalesce(col("rep"), col("c_custkey")).as("entity"), col("cents"))
      .groupBy("entity")
      .agg(count(lit(1)).as("n_records"),
        max("c_custkey").as("max_key"),
        sum("cents").as("cents_total"))
      .filter(col("n_records") > 1)
      .orderBy("entity")
  }

  val entityResolutionSql: String =
    """WITH RECURSIVE pr AS (
      |  SELECT a.c_custkey AS ka, b.c_custkey AS kb
      |  FROM customer a JOIN customer b
      |    ON a.c_nationkey = b.c_nationkey
      |   AND a.c_mktsegment = b.c_mktsegment
      |   AND a.c_custkey < b.c_custkey
      |   AND levenshtein(a.c_name, b.c_name) <= 1),
      |edges AS (SELECT ka AS x, kb AS y FROM pr
      |          UNION ALL SELECT kb, ka FROM pr),
      |nodes AS (SELECT DISTINCT x FROM edges),
      |reach(src, dst) AS (
      |  SELECT x, x FROM nodes
      |  UNION
      |  SELECT r.src, e.y FROM reach r JOIN edges e ON e.x = r.dst),
      |lab AS (SELECT src AS k, MIN(dst) AS entity FROM reach GROUP BY 1),
      |merged AS (
      |  SELECT c.c_custkey, COALESCE(l.entity, c.c_custkey) AS entity,
      |         CAST(round(c.c_acctbal * 100) AS BIGINT) AS cents
      |  FROM customer c LEFT JOIN lab l ON c.c_custkey = l.k)
      |SELECT entity, CAST(COUNT(*) AS BIGINT) AS n_records,
      |       CAST(MAX(c_custkey) AS BIGINT) AS max_key,
      |       CAST(SUM(cents) AS BIGINT) AS cents_total
      |FROM merged GROUP BY 1 HAVING COUNT(*) > 1
      |ORDER BY entity""".stripMargin

  // ---- q229: first/last-touch attribution ----------------------------
  // The marketing-analytics standard: every purchase's value is
  // attributed to (a) the FIRST event type of its gap session (the
  // acquisition channel) and (b) the event type immediately PRECEDING
  // it in-session (the converting touch; 'none' when the purchase
  // opens its session). Sessions are q29's strict lag rule
  // (gap > 30 min in integer µs under the total (us, event_id) order);
  // revenue folds in DECIMAL(18,4) (the order-independent exact-sum
  // channel) and emits as DOUBLE. Output is the |types|² attribution
  // matrix — dimension-sized. Shape at scale: two window passes over
  // one user-partitioned sort + one tiny aggregate; no self-join.
  private val TouchGapUs = 1800000000L // 30 min

  def touchAttribution(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val sessioned = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), expr("ts_ns div 1000").as("us"))
      .withColumn("prev_us", lag("us", 1).over(w))
      .withColumn("new_s",
        when(col("prev_us").isNull ||
          col("us") - col("prev_us") > TouchGapUs, 1L).otherwise(0L))
      .withColumn("session", sum("new_s").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val ws = Window.partitionBy("user_id", "session")
      .orderBy(col("us"), col("event_id"))
    sessioned
      .withColumn("first_touch", first("event_type").over(
        ws.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("prev_touch", lag("event_type", 1).over(ws))
      .filter(col("event_type") === "purchase")
      .groupBy(col("first_touch"),
        coalesce(col("prev_touch"), lit("none")).as("last_touch"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("revenue"))
      .orderBy("first_touch", "last_touch")
  }

  val touchAttributionSql: String =
    s"""WITH ev AS (
       |  SELECT user_id, event_id, event_type, value, epoch_us(ts) AS us
       |  FROM events),
       |s AS (
       |  SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > $TouchGapUs
       |                 THEN 1 ELSE 0 END AS new_s
       |  FROM (SELECT *, lag(us) OVER (PARTITION BY user_id
       |                                ORDER BY us, event_id) AS prev_us
       |        FROM ev)),
       |g AS (
       |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id
       |                             ORDER BY us, event_id
       |                             ROWS UNBOUNDED PRECEDING) AS session
       |  FROM s),
       |t AS (
       |  SELECT event_type, value,
       |         first_value(event_type) OVER w AS first_touch,
       |         lag(event_type) OVER w AS prev_touch
       |  FROM g
       |  WINDOW w AS (PARTITION BY user_id, session
       |               ORDER BY us, event_id ROWS UNBOUNDED PRECEDING))
       |SELECT first_touch, COALESCE(prev_touch, 'none') AS last_touch,
       |       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS revenue
       |FROM t WHERE event_type = 'purchase'
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- q230: join-cardinality audit (planning diagnostics) -----------
  // The exact form of the estimate every cost-based planner needs:
  // |A ⨝_k B| = Σ_k nA_k · nB_k, computed from the two key histograms
  // WITHOUT running the join — then audited against the actual join
  // count so the gate proves the identity, not just the arithmetic.
  // Per joinable key pair of the star schema: predicted rows, actual
  // rows (equal by the identity — both emitted so the hash pins it),
  // the heaviest key's contribution, and the skew share in ppm
  // (top-key product / total product) — q185's hot-key diagnostic
  // lifted from one table to the JOIN output, where a hot key's cost
  // is the PRODUCT of its sides. DECIMAL(38,0)/HUGEINT products
  // (n_a·n_b sums reach n²); integer ppm. Shape at scale: two
  // map-side-combinable histograms + a key-domain-sized join — the
  // whole point is that it costs O(distinct keys), not O(join output).
  def joinCardinality(spark: SparkSession, dir: String): DataFrame = {
    val specs = Seq(
      ("orders_lineitem", Tables.orders(spark, dir).select(col("o_orderkey").as("k")),
        Tables.lineitem(spark, dir).select(col("l_orderkey").as("k"))),
      ("part_lineitem", Tables.part(spark, dir).select(col("p_partkey").as("k")),
        Tables.lineitem(spark, dir).select(col("l_partkey").as("k"))),
      ("customer_orders", Tables.customer(spark, dir).select(col("c_custkey").as("k")),
        Tables.orders(spark, dir).select(col("o_custkey").as("k"))))
    specs.map { case (name, a, b) =>
      val ha = a.groupBy("k").agg(count(lit(1)).as("na"))
      val hb = b.groupBy("k").agg(count(lit(1)).as("nb"))
      val prod = ha.join(hb, "k")
        .select(col("k"), (col("na").cast("decimal(38,0)") * col("nb")).as("p"))
      val actual = a.join(b, "k").count()
      // GUARDED decimal->long emit (the q138 rule): past int64 a
      // non-ANSI Spark cast yields NULL silently while the oracle's
      // HUGEINT cast raises — raise_error makes both engines fail
      // loudly and identically. top_p <= predicted, so one bound
      // covers both emitted products; skew_ppm <= 10^6 by definition.
      def guarded(c: org.apache.spark.sql.Column, label: String) =
        when(c > lit(Long.MaxValue).cast("decimal(38,0)"),
          raise_error(concat(lit(s"q230 $label exceeds int64: "),
            c.cast("string"))).cast("long"))
          .otherwise(c.cast("long"))
      prod.agg(
          sum("p").as("predicted"),
          max("p").as("top_p"))
        .select(
          lit(name).as("join_key"),
          guarded(col("predicted"), "predicted_rows").as("predicted_rows"),
          lit(actual).as("actual_rows"),
          guarded(col("top_p"), "top_key_rows").as("top_key_rows"),
          call_function("div", col("top_p") * lit(1000000L), col("predicted"))
            .cast("long").as("skew_ppm"))
    }.reduce(_.unionAll(_)).orderBy("join_key")
  }

  val joinCardinalitySql: String = {
    def block(name: String, ta: String, ka: String, tb: String, kb: String) =
      s"""SELECT '$name' AS join_key,
         |  CAST(predicted AS BIGINT) AS predicted_rows,
         |  (SELECT COUNT(*) FROM $ta a JOIN $tb b ON a.$ka = b.$kb) AS actual_rows,
         |  CAST(top_p AS BIGINT) AS top_key_rows,
         |  CAST(top_p * 1000000 // predicted AS BIGINT) AS skew_ppm
         |FROM (
         |  SELECT SUM(p) AS predicted, MAX(p) AS top_p FROM (
         |    SELECT CAST(ha.na AS HUGEINT) * hb.nb AS p
         |    FROM (SELECT $ka AS k, COUNT(*) AS na FROM $ta GROUP BY 1) ha
         |    JOIN (SELECT $kb AS k, COUNT(*) AS nb FROM $tb GROUP BY 1) hb
         |      ON ha.k = hb.k))""".stripMargin
    Seq(
      block("customer_orders", "customer", "c_custkey", "orders", "o_custkey"),
      block("orders_lineitem", "orders", "o_orderkey", "lineitem", "l_orderkey"),
      block("part_lineitem", "part", "p_partkey", "lineitem", "l_partkey"))
      .mkString("\nUNION ALL\n") + "\nORDER BY join_key"
  }

  // ---- q239: chi-squared independence audit (type × day-of-week) -----
  // Is event volume independent of weekday? The Pearson chi-squared
  // statistic over the event_type × dow contingency table, with every
  // cell term in the integer channel: cell contribution =
  // (O·N − R·C)²·10⁶ div (N·R·C) — the ppm-scaled version of
  // (O − E)²/E multiplied through by N so no expected-count fraction
  // ever materializes. ZERO cells still contribute (their term is
  // R·C·10⁶ div N), so the full |types|×7 cross is built explicitly —
  // a left join that a naive groupBy would silently drop. Per-cell
  // integer truncation is part of the operator contract (both engines
  // truncate identically); df = (|types|−1)(7−1) rides along.
  //
  // Shape at scale: three map-side-combinable aggregates over one
  // pass-shaped frame, then a |types|×7 driver-scale cross — nothing
  // downstream of the first shuffles is data-sized.
  def chi2Independence(spark: SparkSession, dir: String): DataFrame =
    chi2Of(Tables.events(spark, dir)
      .select(col("event_type"),
        expr("(ts_ns div 1000 div 86400000000) % 7").as("dow")))

  /** Chi-squared core over (event_type, dow) observation rows —
    * factored so the spec can plant uniform and 2×2 closed forms. */
  private[graft] def chi2Of(obs: DataFrame): DataFrame = {
    val e = obs.localCheckpoint(true) // feeds o, r, c AND n
    val o = e.groupBy("event_type", "dow").agg(count(lit(1)).as("o"))
    val r = e.groupBy("event_type").agg(count(lit(1)).as("r"))
    val c = e.groupBy("dow").agg(count(lit(1)).as("c"))
    val n = e.agg(count(lit(1)).as("n"))
    r.crossJoin(broadcast(c))
      .join(o, Seq("event_type", "dow"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(n))
      .withColumn("d", col("o").cast("decimal(38,0)") * col("n")
        - col("r").cast("decimal(38,0)") * col("c"))
      .agg(
        sum(call_function("div",
          col("d") * col("d") * lit(1000000L).cast("decimal(38,0)"),
          col("n").cast("decimal(38,0)") * col("r") * col("c")))
          .cast("long").as("chi2_ppm"),
        ((countDistinct("event_type") - 1) * (countDistinct("dow") - 1))
          .as("df"),
        max("n").as("n"))
  }

  val chi2IndependenceSql: String =
    """WITH e AS (SELECT event_type,
      |        CAST((epoch_us(ts) // 86400000000) % 7 AS BIGINT) AS dow
      |      FROM events),
      |o AS (SELECT event_type, dow, COUNT(*) AS o FROM e GROUP BY 1, 2),
      |r AS (SELECT event_type, COUNT(*) AS r FROM e GROUP BY 1),
      |c AS (SELECT dow, COUNT(*) AS c FROM e GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n FROM e),
      |cells AS (
      |  SELECT r.event_type, c.dow, COALESCE(o.o, 0) AS o, r.r, c.c
      |  FROM r CROSS JOIN c
      |  LEFT JOIN o ON o.event_type = r.event_type AND o.dow = c.dow)
      |SELECT CAST(SUM((CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
      |             * (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
      |             * 1000000 // (CAST(n AS HUGEINT) * r * c)) AS BIGINT)
      |         AS chi2_ppm,
      |       CAST((COUNT(DISTINCT cells.event_type) - 1)
      |            * (COUNT(DISTINCT cells.dow) - 1) AS BIGINT) AS df,
      |       CAST(MAX(n) AS BIGINT) AS n
      |FROM cells, n""".stripMargin

  // ---- q240: Gini concentration of customer revenue ------------------
  // The inequality/concentration audit (Lorenz-curve Gini) for "how
  // dependent is revenue on a few customers" — the continuous
  // complement of q185's top-1/HHI diagnostics. The rank-weighted
  // identity G = (2·Σ rk·x − (n+1)·Σx) / (n·Σx) over ASCENDING ranks
  // is exact in DECIMAL(38,0)/HUGEINT; equal values make Σ rk·x
  // invariant to tie order, so the (cents, custkey) tiebreak is for
  // determinism of the rank frame only, not the statistic.
  //
  // Shape at scale: per-customer totals are one grouped aggregate; the
  // global ascending rank goes through Ranking.globalRowNumber
  // (range-repartition + in-partition rank + broadcast offsets — the
  // q164 primitive, no single-partition sort); the moments are one
  // map-side-combinable aggregate.
  def giniRevenue(spark: SparkSession, dir: String): DataFrame =
    giniOfCents(Tables.orders(spark, dir).groupBy(col("o_custkey"))
      .agg((sum(col("o_totalprice").cast("decimal(18,4)")) * 10000)
        .cast("decimal(38,0)").as("cents")))

  /** Gini core over (o_custkey, cents: decimal(38,0)) rows — factored
    * so the spec can plant all-equal and one-owns-all closed forms. */
  private[graft] def giniOfCents(cr: DataFrame): DataFrame = {
    val (ranked, n) = graft.functions.Ranking
      .globalRowNumberWithCount(cr, Seq("cents", "o_custkey"), "rk")
    ranked.agg(
        sum(col("rk").cast("decimal(38,0)") * col("cents"))
          .cast("decimal(38,0)").as("s1"),
        sum("cents").cast("decimal(38,0)").as("s0"))
      .select(lit(n).as("n_customers"),
        col("s0").cast("long").as("total_cents"),
        call_function("div",
          (lit(2L).cast("decimal(38,0)") * col("s1")
            - lit(n + 1).cast("decimal(38,0)") * col("s0"))
            * lit(1000000L).cast("decimal(38,0)"),
          lit(n).cast("decimal(38,0)") * col("s0"))
          .cast("long").as("gini_ppm"))
  }

  val giniRevenueSql: String =
    """WITH cr AS (
      |  SELECT o_custkey,
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) * 10000
      |              AS HUGEINT) AS cents
      |  FROM orders GROUP BY 1),
      |r AS (SELECT cents,
      |        CAST(ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS HUGEINT)
      |          AS rk,
      |        COUNT(*) OVER () AS n
      |      FROM cr)
      |SELECT CAST(MAX(n) AS BIGINT) AS n_customers,
      |       CAST(SUM(cents) AS BIGINT) AS total_cents,
      |       CAST((2 * SUM(rk * cents) - (MAX(n) + 1) * SUM(cents)) * 1000000
      |            // (MAX(n) * SUM(cents)) AS BIGINT) AS gini_ppm
      |FROM r""".stripMargin

  // ---- q242: Kolmogorov-Smirnov two-sample test (src1 vs src2) -------
  // Did two sources draw their document lengths from the same
  // distribution? The two-sample KS statistic D = max_t |F1(t) − F2(t)|
  // over the token-count distributions, computed without a single
  // float: at each distinct value, |i·n2 − j·n1| (i, j = cumulative
  // counts) is the CDF gap scaled by n1·n2, so D_ppm =
  // max|i·n2 − j·n1|·10⁶ div (n1·n2) — exact in int64. The argmax
  // value rides along (MIN value attaining the max, for determinism
  // under plateaus). The drift-audit sibling of q190's TVD: KS weights
  // the worst single threshold, TVD sums the whole vocabulary.
  //
  // Shape at scale: the full-data pass is one (tc) grouped aggregate;
  // the cumulative window runs over the |distinct lengths|-sized frame
  // (the pre-aggregated-window pattern — hundreds of rows, not docs).
  def ksTwoSample(spark: SparkSession, dir: String): DataFrame = {
    ksOf(Tables.documents(spark, dir)
      .filter(col("source").isin("src1", "src2"))
      .select(col("source"),
        graft.functions.Text.tokenCount(col("text")).cast("long").as("tc")))
  }

  /** KS core over (source ∈ {src1, src2}, tc) sample rows — factored so
    * the spec can plant identical/disjoint distributions. */
  private[graft] def ksOf(t: DataFrame): DataFrame = {
    val v = t.groupBy("tc").agg(
      sum(when(col("source") === "src1", 1L).otherwise(0L)).as("c1"),
      sum(when(col("source") === "src2", 1L).otherwise(0L)).as("c2"))
    val n = v.agg(sum("c1").as("n1"), sum("c2").as("n2"))
    val c = v
      .withColumn("i", sum("c1").over(Window.orderBy("tc")))
      .withColumn("j", sum("c2").over(Window.orderBy("tc")))
      .crossJoin(broadcast(n))
      // cross-multiplied CDF gap in DECIMAL(38,0) (HUGEINT in the
      // oracle) — the same guarded channel as q220/q227/q230/q234: at
      // n1·n2 past ~9.2e12 (≈3e6 docs per source) the plain-int64 form
      // wraps silently under non-ANSI Spark while DuckDB errors
      .withColumn("dev", abs(col("i").cast("decimal(38,0)") * col("n2")
        - col("j").cast("decimal(38,0)") * col("n1")))
      .localCheckpoint(true) // consumed by the max AND the argmax pass
    val m = c.agg(max("dev").as("m"))
    c.crossJoin(broadcast(m))
      .filter(col("dev") === col("m"))
      .groupBy("n1", "n2")
      .agg(expr("max(dev * 1000000 div (cast(n1 as decimal(38,0)) * n2))")
        .as("ks_ppm"),
        min("tc").as("ks_at_tc"))
  }

  val ksTwoSampleSql: String =
    """WITH t AS (SELECT source,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
      |      AS tc
      |  FROM documents WHERE source IN ('src1', 'src2')),
      |v AS (SELECT tc,
      |        SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS c1,
      |        SUM(CASE WHEN source = 'src2' THEN 1 ELSE 0 END) AS c2
      |      FROM t GROUP BY 1),
      |n AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM v),
      |c AS (SELECT tc, SUM(c1) OVER (ORDER BY tc) AS i,
      |             SUM(c2) OVER (ORDER BY tc) AS j FROM v),
      |d AS (SELECT tc, abs(CAST(i AS HUGEINT) * n2 - CAST(j AS HUGEINT) * n1)
      |        AS dev, n1, n2 FROM c, n),
      |m AS (SELECT MAX(dev) AS m FROM d)
      |SELECT CAST(MAX(n1) AS BIGINT) AS n1, CAST(MAX(n2) AS BIGINT) AS n2,
      |       CAST(MAX(dev) * 1000000 // (CAST(MAX(n1) AS HUGEINT) * MAX(n2))
      |            AS BIGINT) AS ks_ppm,
      |       CAST(MIN(CASE WHEN dev = m THEN tc END) AS BIGINT) AS ks_at_tc
      |FROM d, m""".stripMargin

  // ---- q244: histogram intersection overlap (src1 vs src2) -----------
  // The companion statistic to q242's KS: total distributional overlap
  // rather than worst single threshold. Over fixed-width length bins
  // (width 32), overlap = Σ_bins min(h1/n1, h2/n2) — computed in the
  // cross-multiplied integer channel Σ min(h1·n2, h2·n1)·10⁶ div
  // (n1·n2), so 10⁶ = identical histograms, 0 = disjoint support. Bins
  // where only one source appears contribute 0 to the min and are
  // counted in n_bins (support of the union).
  //
  // Shape at scale: one grouped aggregate over the docs builds both
  // histograms in a single pass (conditional sums — no self-join, no
  // pivot); the overlap fold runs on the |bins| frame.
  def histogramOverlap(spark: SparkSession, dir: String): DataFrame = {
    histOverlapOf(Tables.documents(spark, dir)
      .filter(col("source").isin("src1", "src2"))
      .select(col("source"),
        graft.functions.Text.tokenCount(col("text")).cast("long").as("tc")))
  }

  /** Overlap core over (source ∈ {src1, src2}, tc) sample rows. */
  private[graft] def histOverlapOf(t: DataFrame): DataFrame = {
    val h = t.groupBy(expr("tc div 32").as("bin")).agg(
      sum(when(col("source") === "src1", 1L).otherwise(0L)).as("h1"),
      sum(when(col("source") === "src2", 1L).otherwise(0L)).as("h2"))
    val n = h.agg(sum("h1").as("n1"), sum("h2").as("n2"))
    h.crossJoin(broadcast(n))
      .groupBy("n1", "n2")
      // min-products and the ·10⁶ numerator in DECIMAL(38,0) (HUGEINT
      // in the oracle) — same silent-wrap guard as q242's dev channel
      .agg(count(lit(1)).as("n_bins"),
        expr("""sum(least(cast(h1 as decimal(38,0)) * n2,
                          cast(h2 as decimal(38,0)) * n1))
                * 1000000 div (cast(n1 as decimal(38,0)) * n2)""")
          .as("overlap_ppm"))
  }

  val histogramOverlapSql: String =
    """WITH t AS (SELECT source,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
      |      AS tc
      |  FROM documents WHERE source IN ('src1', 'src2')),
      |h AS (SELECT tc // 32 AS bin,
      |        SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS h1,
      |        SUM(CASE WHEN source = 'src2' THEN 1 ELSE 0 END) AS h2
      |      FROM t GROUP BY 1),
      |n AS (SELECT SUM(h1) AS n1, SUM(h2) AS n2 FROM h)
      |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |       COUNT(*) AS n_bins,
      |       CAST(SUM(LEAST(CAST(h1 AS HUGEINT) * n2, CAST(h2 AS HUGEINT) * n1))
      |            * 1000000 // (CAST(n1 AS HUGEINT) * n2) AS BIGINT)
      |         AS overlap_ppm
      |FROM h, n GROUP BY n1, n2""".stripMargin

  // ---- q258: smoothed target encoding (category -> label rate) -------
  // The classic ML feature-engineering primitive: replace a categorical
  // column by the smoothed empirical rate of a binary label,
  // enc = (Σy + m·prior)/(n + m) with m pseudo-observations of the
  // global prior (the standard mean-encoding regularization; m = 20).
  // Everything is counts, so the ppm channel is exact: prior_ppm =
  // ΣY·10⁶ div N first, then enc_ppm = (Σy·10⁶ + m·prior_ppm) div
  // (n + m) — the same two-step quantization in both engines, so the
  // truncated integers agree bit-for-bit. Label: order ever finished
  // (o_orderstatus = 'F'); category: o_orderpriority.
  //
  // Shape at scale: one grouped count over orders + a broadcast 1-row
  // prior — a map-side-combine aggregate, no extra shuffle.
  def targetEncoding(spark: SparkSession, dir: String): DataFrame =
    targetEncodingOf(Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("cat"),
        when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("y")))

  /** Core over (cat, y∈{0,1}) rows — factored so the spec can plant a
    * pure category (rate 1) and check the shrinkage toward the prior. */
  private[graft] def targetEncodingOf(t: DataFrame): DataFrame = {
    val m = 20L
    val g = t.groupBy("cat").agg(count(lit(1)).as("n"), sum("y").as("sum_y"))
    val prior = g.agg(
      expr("cast(sum(sum_y) as decimal(38,0)) * 1000000 div sum(n)")
        .cast("long").as("prior_ppm"))
    g.crossJoin(broadcast(prior))
      .select(col("cat"), col("n"), col("sum_y"), col("prior_ppm"),
        expr(s"cast((cast(sum_y as decimal(38,0)) * 1000000 + $m * prior_ppm)" +
          s" div (n + $m) as bigint)").as("enc_ppm"))
      .orderBy("cat")
  }

  val targetEncodingSql: String =
    """WITH t AS (SELECT o_orderpriority AS cat,
      |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y FROM orders),
      |g AS (SELECT cat, COUNT(*) AS n, SUM(y) AS sum_y FROM t GROUP BY 1),
      |p AS (SELECT CAST(CAST(SUM(sum_y) AS HUGEINT) * 1000000 // SUM(n)
      |        AS BIGINT) AS prior_ppm FROM g)
      |SELECT cat, CAST(n AS BIGINT) AS n, CAST(sum_y AS BIGINT) AS sum_y,
      |       prior_ppm,
      |       CAST((CAST(sum_y AS HUGEINT) * 1000000 + 20 * prior_ppm)
      |            // (n + 20) AS BIGINT) AS enc_ppm
      |FROM g, p ORDER BY cat""".stripMargin

  // ---- q259: largest-remainder mixture quota --------------------------
  // Allocating an exact sample budget across sources proportionally:
  // Hamilton / largest-remainder apportionment (public civics-math
  // literature) — base_s = c_s·K div N seats, then the K − Σbase
  // leftover seats go to the largest remainders c_s·K mod N (ties by
  // source name, so the allocation is deterministic). Unlike q221's
  // IPF (which reweights toward target MARGINALS), this turns observed
  // shares into an exact integer head-count that sums to K — the
  // "sample exactly 10,000 docs, fairly" primitive a mixture planner
  // executes after deciding the shares. Everything is integer
  // arithmetic on grouped counts; the rank runs on the |sources| frame.
  def mixtureQuota(spark: SparkSession, dir: String): DataFrame =
    mixtureQuotaOf(
      Tables.documents(spark, dir).select(col("source")), 10000L)

  /** Core over (source) rows — factored so the spec can assert ΣK
    * exactness and the worst-case one-seat rounding bound. */
  private[graft] def mixtureQuotaOf(t: DataFrame, k: Long): DataFrame = {
    val c = t.groupBy("source").agg(count(lit(1)).as("c"))
    val n = c.agg(sum("c").as("n"), count(lit(1)).as("n_sources"))
    val based = c.crossJoin(broadcast(n))
      .withColumn("base", expr(s"cast(c as decimal(38,0)) * $k div n").cast("long"))
      .withColumn("rem", expr(s"cast(c as decimal(38,0)) * $k - cast(base as decimal(38,0)) * n").cast("long"))
    val leftover = based.agg((lit(k) - sum("base")).as("l"))
    based.crossJoin(broadcast(leftover))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc, col("source").asc)))
      .withColumn("extra", when(col("rk") <= col("l"), 1L).otherwise(0L))
      .select(col("source"), col("c"), col("base"), col("extra"),
        (col("base") + col("extra")).as("quota"))
      .orderBy("source")
  }

  val mixtureQuotaSql: String =
    """WITH c AS (SELECT source, COUNT(*) AS c FROM documents GROUP BY 1),
      |n AS (SELECT SUM(c) AS n FROM c),
      |b AS (SELECT source, c,
      |        CAST(CAST(c AS HUGEINT) * 10000 // n AS BIGINT) AS base,
      |        CAST(CAST(c AS HUGEINT) * 10000
      |             - (CAST(c AS HUGEINT) * 10000 // n) * n AS BIGINT) AS rem
      |      FROM c, n),
      |l AS (SELECT 10000 - SUM(base) AS l FROM b),
      |r AS (SELECT b.*, ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
      |      FROM b)
      |SELECT source, CAST(c AS BIGINT) AS c, base,
      |       CAST(CASE WHEN rk <= l.l THEN 1 ELSE 0 END AS BIGINT) AS extra,
      |       CAST(base + CASE WHEN rk <= l.l THEN 1 ELSE 0 END AS BIGINT)
      |         AS quota
      |FROM r, l ORDER BY source""".stripMargin

  // ---- q266: RFM customer segmentation --------------------------------
  // The classic recency/frequency/monetary marketing segmentation as a
  // SCALABLE quintile assignment: each dimension ranks every customer
  // globally, and a naive NTILE(5) OVER (ORDER BY ...) funnels the
  // whole customer frame through one task — so all three rankings run
  // through Ranking.globalRowNumber (range-repartition + per-partition
  // offsets, the q91 machinery) with ntileFromRowNumber's exact ANSI
  // arithmetic on top. Monetary is exact decimal cents; ties break on
  // custkey everywhere so both engines rank identically. Output is the
  // 125-cell (r,f,m) histogram a campaign planner reads.
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(
        max(datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
          .cast("long")).as("last_day"),
        count(lit(1)).as("freq"),
        (sum(col("o_totalprice").cast("decimal(18,4)")) * 10000)
          .cast("decimal(38,0)").cast("long").as("cents"))
    def addQuintile(df: DataFrame, metric: String, out: String): DataFrame = {
      val (ranked, n) = graft.functions.Ranking.globalRowNumberWithCount(
        df, Seq(metric, "o_custkey"), "__rn")
      ranked.withColumn(out,
        graft.functions.Ranking.ntileFromRowNumber(col("__rn"), n, 5))
        .drop("__rn")
    }
    val scored = addQuintile(addQuintile(addQuintile(
      cust, "last_day", "r_q"), "freq", "f_q"), "cents", "m_q")
    scored.groupBy("r_q", "f_q", "m_q")
      .agg(count(lit(1)).as("n_customers"),
        sum("cents").as("total_cents"))
      .orderBy("r_q", "f_q", "m_q")
  }

  val rfmSegmentsSql: String =
    """WITH c AS (
      |  SELECT o_custkey,
      |    CAST(MAX(date_diff('day', DATE '1970-01-01',
      |                       CAST(o_orderdate AS DATE))) AS BIGINT)
      |      AS last_day,
      |    COUNT(*) AS freq,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) * 10000 AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1),
      |q AS (SELECT cents,
      |        NTILE(5) OVER (ORDER BY last_day, o_custkey) AS r_q,
      |        NTILE(5) OVER (ORDER BY freq, o_custkey) AS f_q,
      |        NTILE(5) OVER (ORDER BY cents, o_custkey) AS m_q
      |      FROM c)
      |SELECT CAST(r_q AS BIGINT) AS r_q, CAST(f_q AS BIGINT) AS f_q,
      |       CAST(m_q AS BIGINT) AS m_q,
      |       CAST(COUNT(*) AS BIGINT) AS n_customers,
      |       CAST(SUM(cents) AS BIGINT) AS total_cents
      |FROM q GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // ---- q271: 2-D Pareto front (skyline) of parts ----------------------
  // The skyline operator — parts where no other part is both cheaper
  // AND at-least-as-large (minimize price, maximize size): the
  // multi-objective shortlist a sourcing/curation planner reads. A
  // block-nested-loop skyline is O(n²); in 2-D it collapses to a sort
  // + running extreme: pre-aggregate to the best (max) size per
  // distinct price, then a point survives iff its size strictly beats
  // the running max over every STRICTLY cheaper price — computed with
  // Ranking.globalCumMaxSorted (range-repartition two-pass), so no
  // single-partition window touches the price frame. Duplicate
  // multiplicity at the surviving (price, size) cell rides along.
  def paretoFront(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.part(spark, dir)
      .select((col("p_retailprice").cast("decimal(18,4)") * 10000)
        .cast("long").as("price_cents"), col("p_size").cast("long").as("size"))
      .groupBy("price_cents", "size").agg(count(lit(1)).as("n"))
    val best = cells.groupBy("price_cents").agg(max("size").as("best_size"))
    val front = graft.functions.Ranking.globalCumMaxSorted(
        best, Seq(col("price_cents")), col("best_size"), "prev_best")
      .filter(col("prev_best").isNull || col("best_size") > col("prev_best"))
      // break lineage with cells (front derives from it) before the
      // multiplicity join-back
      .select(col("price_cents").as("fp"), col("best_size").as("fs"))
    front.join(cells,
        col("fp") === col("price_cents") && col("fs") === col("size"))
      .select(col("fp").as("price_cents"), col("fs").as("size"),
        col("n").as("n_parts"))
      .orderBy("price_cents")
  }

  val paretoFrontSql: String =
    """WITH p AS (SELECT CAST(CAST(p_retailprice AS DECIMAL(18,4)) * 10000
      |                       AS BIGINT) AS price_cents,
      |                  CAST(p_size AS BIGINT) AS size
      |           FROM part),
      |d AS (SELECT price_cents, size, COUNT(*) AS n FROM p GROUP BY 1, 2),
      |b AS (SELECT price_cents, MAX(size) AS best_size FROM d GROUP BY 1),
      |s AS (SELECT price_cents, best_size,
      |        MAX(best_size) OVER (ORDER BY price_cents
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |          AS prev_best
      |      FROM b),
      |f AS (SELECT price_cents, best_size FROM s
      |      WHERE prev_best IS NULL OR best_size > prev_best)
      |SELECT f.price_cents, f.best_size AS size, CAST(d.n AS BIGINT)
      |         AS n_parts
      |FROM f JOIN d ON d.price_cents = f.price_cents
      |            AND d.size = f.best_size
      |ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q271_pareto_front"     -> (paretoFront _),
    "q266_rfm_segments"     -> (rfmSegments _),
    "q258_target_encoding"  -> (targetEncoding _),
    "q259_mixture_quota"    -> (mixtureQuota _),
    "q218_weighted_jaccard" -> (weightedJaccard _),
    "q219_url_host_stats"   -> (urlHostStats _),
    "q220_annotator_kappa"  -> (annotatorKappa _),
    "q221_ipf_weights"      -> (ipfWeights _),
    "q222_containment"      -> (containmentPairs _),
    "q223_kcore"            -> (kcore _),
    "q224_weighted_minhash" -> (weightedMinhash _),
    "q225_stream_late_data" -> ((s, d) => graft.streaming.StreamOps.streamLateData(s, d)),
    "q226_l_diversity"      -> (lDiversity _),
    "q227_modularity"       -> (modularity _),
    "q228_entity_resolution" -> (entityResolution _),
    "q229_touch_attribution" -> (touchAttribution _),
    "q230_join_cardinality"  -> (joinCardinality _),
    "q231_restart_recovery"  -> ((s, d) => graft.streaming.StreamOps.streamRestartDedup(s, d)),
    "q239_chi2_independence" -> (chi2Independence _),
    "q240_gini_revenue"      -> (giniRevenue _),
    "q242_ks_two_sample"     -> (ksTwoSample _),
    "q244_histogram_overlap" -> (histogramOverlap _))

  val oracles: Map[String, String] = Map(
    "q271_pareto_front"     -> paretoFrontSql,
    "q266_rfm_segments"     -> rfmSegmentsSql,
    "q258_target_encoding"  -> targetEncodingSql,
    "q259_mixture_quota"    -> mixtureQuotaSql,
    "q218_weighted_jaccard" -> weightedJaccardSql,
    "q219_url_host_stats"   -> urlHostStatsSql,
    "q220_annotator_kappa"  -> annotatorKappaSql,
    "q221_ipf_weights"      -> ipfWeightsSql,
    "q222_containment"      -> containmentSql,
    "q223_kcore"            -> kcoreSql,
    "q224_weighted_minhash" -> weightedMinhashSql,
    "q225_stream_late_data" -> graft.streaming.StreamOps.streamLateDataSql,
    "q226_l_diversity"      -> lDiversitySql,
    "q227_modularity"       -> modularitySql,
    "q228_entity_resolution" -> entityResolutionSql,
    "q229_touch_attribution" -> touchAttributionSql,
    "q230_join_cardinality"  -> joinCardinalitySql,
    "q231_restart_recovery"  -> graft.streaming.StreamOps.streamRestartDedupSql,
    "q239_chi2_independence" -> chi2IndependenceSql,
    "q240_gini_revenue"      -> giniRevenueSql,
    "q242_ks_two_sample"     -> ksTwoSampleSql,
    "q244_histogram_overlap" -> histogramOverlapSql)
}
