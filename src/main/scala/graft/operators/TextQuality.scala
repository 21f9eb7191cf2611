package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Text

/** Training-data curation operators beyond the reference's surface:
  * PII redaction, Gopher/C4-style quality signals, and repetition
  * detection — the filters every large-scale LLM ingest runs between
  * raw text and dedup (cf. Rae et al. 2021 "Scaling Language Models"
  * appendix A / Raffel et al. 2020 C4 cleaning). All pure Column
  * expressions over one scan: at 100 TB each is a codegen'd projection
  * + (for q57) one hash aggregate on (doc_id, bigram) — no shuffle at
  * all for q55/q56.
  *
  * Regexes stay in the Java-regex ∩ RE2 subset and counts are integer
  * ratios (bit-identical across engines — no float rounding needed).
  */
object TextQuality {

  // ---- q55: PII detect + redact --------------------------------------
  // The scan must find PII wherever it appears in free text, so the
  // query plants it deterministically: each customer row is expanded
  // into a free-text blob carrying a phone, an email, and an IPv4 all
  // derived from c_custkey. The oracle re-derives the same blob and
  // must agree on counts AND on the redacted string itself —
  // redaction is checked byte-for-byte.
  val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePat = "\\b\\d{2}-\\d{3}-\\d{3}-\\d{4}\\b"
  val ipv4Pat = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  def redactPii(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, emailPat, "<EMAIL>"),
        phonePat, "<PHONE>"),
      ipv4Pat, "<IP>")

  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val k = col("c_custkey")
    val phone = concat(
      lpad((k % 100).cast("string"), 2, "0"), lit("-"),
      lpad((k % 1000).cast("string"), 3, "0"), lit("-555-"),
      lpad((k % 10000).cast("string"), 4, "0"))
    val ip = concat(lit("10.0."), (k % 256).cast("string"), lit("."),
      (k % 254 + 1).cast("string"))
    val blob = concat(col("c_name"), lit(" wrote: reach me at "), phone,
      lit(" or mail user"), k.cast("string"),
      lit("@corp.example.com from "), ip)
    Tables.customer(spark, dir).filter(col("c_custkey") <= 500)
      .select(col("c_custkey"), blob.as("b"))
      .select(
        col("c_custkey"),
        graft.plans.GraftFunctions.regexp_count_only(col("b"), emailPat)
          .cast("long").as("n_emails"),
        graft.plans.GraftFunctions.regexp_count_only(col("b"), phonePat)
          .cast("long").as("n_phones"),
        graft.plans.GraftFunctions.regexp_count_only(col("b"), ipv4Pat)
          .cast("long").as("n_ipv4"),
        redactPii(col("b")).as("redacted"))
      .orderBy("c_custkey")
  }

  val piiRedactSql: String =
    s"""WITH b AS (
       |  SELECT c_custkey,
       |         c_name || ' wrote: reach me at ' ||
       |           lpad(CAST(c_custkey % 100 AS VARCHAR), 2, '0') || '-' ||
       |           lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '-555-' ||
       |           lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') ||
       |           ' or mail user' || CAST(c_custkey AS VARCHAR) ||
       |           '@corp.example.com from 10.0.' ||
       |           CAST(c_custkey % 256 AS VARCHAR) || '.' ||
       |           CAST(c_custkey % 254 + 1 AS VARCHAR) AS b
       |  FROM customer WHERE c_custkey <= 500)
       |SELECT c_custkey,
       |  CAST(len(regexp_extract_all(b, '$emailPat')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(b, '$phonePat')) AS BIGINT) AS n_phones,
       |  CAST(len(regexp_extract_all(b, '$ipv4Pat')) AS BIGINT) AS n_ipv4,
       |  regexp_replace(regexp_replace(regexp_replace(b,
       |    '$emailPat', '<EMAIL>', 'g'),
       |    '$phonePat', '<PHONE>', 'g'),
       |    '$ipv4Pat', '<IP>', 'g') AS redacted
       |FROM b ORDER BY c_custkey""".stripMargin

  // ---- q56: Gopher/C4-style quality signals --------------------------
  // Every signal is an integer count or an integer ratio over one
  // projection; `keep` is the conjunction of Gopher-ish thresholds.
  private val symbolClass = "[#%<>|~]"

  def qualitySignals(spark: SparkSession, dir: String): DataFrame =
    qualitySignalsOn(Tables.documents(spark, dir))

  /** Core on an arbitrary `(doc_id, text)` frame (the q150/scale-lane
    * entry point). */
  def qualitySignalsOn(docs: DataFrame): DataFrame = {
    val words = graft.plans.GraftFunctions.regexp_count_only(
      lower(col("text")), "[a-z0-9]+")
    val wordChars = length(regexp_replace(lower(col("text")), "[^a-z0-9]+", ""))
    docs
      .select(col("doc_id"), col("text"), words.as("n_words"),
        wordChars.as("wc"),
        size(array_distinct(Text.tokens(col("text")))).as("nd"))
      .select(
        col("doc_id"),
        col("n_words").cast("long").as("n_words"),
        (col("wc").cast("double") /
          greatest(col("n_words"), lit(1)).cast("double")).as("mean_word_len"),
        (graft.plans.GraftFunctions.regexp_count_only(col("text"), symbolClass)
          .cast("double") /
          greatest(length(col("text")), lit(1)).cast("double")).as("symbol_ratio"),
        (Text.stopwordHits(col("text"), "en").cast("double") /
          greatest(col("n_words"), lit(1)).cast("double")).as("stop_frac"),
        (col("nd").cast("double") /
          greatest(col("n_words"), lit(1)).cast("double")).as("distinct_word_frac"),
        col("text").rlike("[.!?]\\s*\\z").as("ends_punct"))
      .withColumn("keep",
        col("n_words") >= 5 && col("n_words") <= 50000 &&
          col("mean_word_len") >= 2.0 && col("mean_word_len") <= 12.0 &&
          col("symbol_ratio") < 0.05 && col("distinct_word_frac") > 0.3)
      .orderBy("doc_id")
  }

  val qualitySignalsSql: String =
    s"""WITH s AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_words,
       |    length(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g')) AS wc,
       |    CAST(len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS BIGINT) AS nd,
       |    CAST(len(regexp_extract_all(text, '$symbolClass')) AS BIGINT) AS sym,
       |    CAST(len(regexp_extract_all(text, '${Text.stopwords.toMap.apply("en")}')) AS BIGINT) AS stop,
       |    length(text) AS nc,
       |    regexp_matches(text, '[.!?]\\s*\\z') AS ends_punct
       |  FROM documents)
       |SELECT doc_id, n_words,
       |  CAST(wc AS DOUBLE) / greatest(n_words, 1) AS mean_word_len,
       |  CAST(sym AS DOUBLE) / greatest(nc, 1) AS symbol_ratio,
       |  CAST(stop AS DOUBLE) / greatest(n_words, 1) AS stop_frac,
       |  CAST(nd AS DOUBLE) / greatest(n_words, 1) AS distinct_word_frac,
       |  ends_punct,
       |  (n_words BETWEEN 5 AND 50000
       |    AND CAST(wc AS DOUBLE) / greatest(n_words, 1) BETWEEN 2.0 AND 12.0
       |    AND CAST(sym AS DOUBLE) / greatest(nc, 1) < 0.05
       |    AND CAST(nd AS DOUBLE) / greatest(n_words, 1) > 0.3) AS keep
       |FROM s ORDER BY doc_id""".stripMargin

  // ---- q149: filter audit report (per-rule drop accounting) ----------
  // The ops view of q56: for each Gopher/C4 rule, how many documents
  // FAIL it — the number a curation team watches per corpus release
  // (one rule suddenly dropping 40% means the rule broke, not the
  // data). Reuses q56's exact signal expressions (Spark side consumes
  // qualitySignals' output frame; oracle embeds q56's SQL as a
  // subquery), so the audit can never drift from the filter it audits.
  // Rule counts are NOT exclusive — a doc failing two rules counts in
  // both (that's what makes the report actionable). One corpus pass,
  // one 1-row aggregate, stacked to long form on the driver side of
  // codegen (stack() is a generator, zero extra shuffle).
  def filterAudit(spark: SparkSession, dir: String): DataFrame = {
    qualitySignals(spark, dir)
      .agg(
        count(lit(1)).as("total"),
        sum(when(!(col("n_words") >= 5 && col("n_words") <= 50000), 1L)
          .otherwise(0L)).as("f_words"),
        sum(when(!(col("mean_word_len") >= 2.0 && col("mean_word_len") <= 12.0), 1L)
          .otherwise(0L)).as("f_mwl"),
        sum(when(!(col("symbol_ratio") < 0.05), 1L).otherwise(0L)).as("f_sym"),
        sum(when(!(col("distinct_word_frac") > 0.3), 1L).otherwise(0L)).as("f_dwf"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("kept"))
      .select(expr(
        """stack(6,
          |  'fail_distinct_word_frac', f_dwf,
          |  'fail_mean_word_len', f_mwl,
          |  'fail_symbol_ratio', f_sym,
          |  'fail_word_count', f_words,
          |  'kept', kept,
          |  'total', total) AS (rule, n_docs)""".stripMargin))
      .orderBy("rule")
  }

  /** q56's SQL with its trailing ORDER BY stripped, for embedding as a
    * subquery — keeps the audit (q149) and pipeline-report (q150)
    * oracles in lockstep with the filter oracle by construction. */
  private[operators] def qualitySignalsSubquery: String =
    qualitySignalsSql.stripSuffix("ORDER BY doc_id").trim

  val filterAuditSql: String =
    s"""WITH sig AS (SELECT * FROM ($qualitySignalsSubquery) q)
       |SELECT 'total' AS rule, COUNT(*) AS n_docs FROM sig
       |UNION ALL SELECT 'kept',
       |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) FROM sig
       |UNION ALL SELECT 'fail_word_count',
       |  CAST(SUM(CASE WHEN NOT (n_words BETWEEN 5 AND 50000) THEN 1 ELSE 0 END) AS BIGINT) FROM sig
       |UNION ALL SELECT 'fail_mean_word_len',
       |  CAST(SUM(CASE WHEN NOT (mean_word_len BETWEEN 2.0 AND 12.0) THEN 1 ELSE 0 END) AS BIGINT) FROM sig
       |UNION ALL SELECT 'fail_symbol_ratio',
       |  CAST(SUM(CASE WHEN NOT (symbol_ratio < 0.05) THEN 1 ELSE 0 END) AS BIGINT) FROM sig
       |UNION ALL SELECT 'fail_distinct_word_frac',
       |  CAST(SUM(CASE WHEN NOT (distinct_word_frac > 0.3) THEN 1 ELSE 0 END) AS BIGINT) FROM sig
       |ORDER BY rule""".stripMargin

  // ---- q57: top-bigram repetition fraction (Gopher rep. signals) -----
  // NON-distinct bigrams (repetition is the point — the dedup shingle
  // path deliberately dedups), built with explode(sequence)+element_at
  // so the whole construction stays inside codegen; one hash aggregate
  // on (doc_id, bigram), then two windows per doc. Ties on the top
  // count break to the lexicographically smallest bigram.
  def repetitionStats(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables.documents(spark, dir)
      .select(col("doc_id"), Text.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
    val bi = t
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), size(col("t")) - 1)).as("i"))
      .select(col("doc_id"),
        concat(element_at(col("t"), col("i")), lit(" "),
          element_at(col("t"), col("i") + 1)).as("bg"))
    val cnt = bi.groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
    val part = Window.partitionBy("doc_id")
    val rank = part.orderBy(col("c").desc, col("bg").asc)
    cnt
      .withColumn("n_bigrams", sum("c").over(part))
      .withColumn("rn", row_number().over(rank))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("bg").as("top_bigram"),
        col("c").as("top_count"), col("n_bigrams"),
        (col("c").cast("double") / col("n_bigrams").cast("double"))
          .as("rep_frac"))
      .orderBy("doc_id")
  }

  val repetitionStatsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      |  FROM documents),
      |bi AS (
      |  SELECT doc_id, t[i] || ' ' || t[i+1] AS bg
      |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-1)) AS i
      |        FROM toks WHERE len(t) >= 2)),
      |cnt AS (SELECT doc_id, bg, COUNT(*) AS c FROM bi GROUP BY 1, 2),
      |ranked AS (
      |  SELECT doc_id, bg, c,
      |         CAST(SUM(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n_bigrams,
      |         row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, bg ASC) AS rn
      |  FROM cnt)
      |SELECT doc_id, bg AS top_bigram, CAST(c AS BIGINT) AS top_count,
      |       n_bigrams, CAST(c AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS rep_frac
      |FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin

  // ---- repeated-line removal (C4-style boilerplate dedup) ------------
  // Drop every line whose document frequency exceeds `maxDf` — the
  // public C4/RefinedWeb recipe for nav bars, cookie banners, and
  // licence footers that exact- and near-dup passes miss because the
  // surrounding document differs.
  //
  // Scale shape: one posexplode (line table), one groupBy on the line
  // for document frequency, one join back (shuffle on the line key —
  // NOT broadcast: at 100 TB the hot-line table is corpus-scale), one
  // per-doc re-aggregation. The reassembly sorts each doc's surviving
  // lines by original position inside a single collect_list aggregate —
  // no window, no second shuffle.
  def dropRepeatedLines(df: DataFrame, idCol: String, textCol: String,
                        maxDf: Int = 1): DataFrame = {
    // eager checkpoint: the line table feeds BOTH the df-count
    // aggregation and the join-back — un-checkpointed, the upstream
    // split/posexplode (and the caller's page construction) recomputes
    // per consumer under AQE's parallel subtree materialization (the
    // measured minhashLshPairs pathology)
    val lines = df
      .select(col(idCol).as("page_id"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .localCheckpoint(true)
    val lineDf = lines.groupBy("line")
      .agg(countDistinct("page_id").as("line_df"))
    lines.join(lineDf, Seq("line"))
      .withColumn("keep", col("line_df") <= maxDf)
      .groupBy("page_id")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            filter(
              array_sort(collect_list(struct(col("pos"), col("line"), col("keep")))),
              x => x.getField("keep")),
            x => x.getField("line")),
          "\n").as("cleaned"))
  }

  // ---- q78: the wrapper — deterministic multi-line "pages" -----------
  // The synthetic documents are single-line, so the wrapper builds
  // 5-doc pages (page i = texts of docs 5i..5i+4 joined by newline):
  // planted exact-duplicate documents then reappear as repeated lines
  // across DIFFERENT pages — exactly the boilerplate pattern the
  // operator exists to strip.
  def lineDedup(spark: SparkSession, dir: String): DataFrame = {
    val pages = graft.Tables.documents(spark, dir)
      .groupBy(floor(col("doc_id") / 5).cast("long").as("page_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("doc_id"), col("text")))),
          x => x.getField("text")),
        "\n").as("text"))
    dropRepeatedLines(pages, "page_id", "text", maxDf = 1)
      .orderBy("page_id")
  }

  val lineDedupSql: String =
    """WITH pages AS (
      |  SELECT doc_id // 5 AS page_id,
      |         string_agg(text, chr(10) ORDER BY doc_id) AS text
      |  FROM documents GROUP BY 1),
      |sp AS (SELECT page_id, string_split(text, chr(10)) AS ls FROM pages),
      |lines AS (SELECT page_id, i AS pos, ls[i] AS line
      |          FROM sp, range(1, 6) r(i) WHERE i <= len(ls)),
      |ldf AS (SELECT line, COUNT(DISTINCT page_id) AS line_df
      |        FROM lines GROUP BY 1)
      |SELECT page_id, COUNT(*) AS n_lines,
      |  CAST(SUM(CASE WHEN line_df <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  COALESCE(string_agg(CASE WHEN line_df <= 1 THEN line END,
      |                      chr(10) ORDER BY pos), '') AS cleaned
      |FROM lines JOIN ldf USING (line)
      |GROUP BY page_id ORDER BY page_id""".stripMargin

  // ---- q181: encoding-corruption audit -------------------------------
  // The mojibake scan a web-scale ingest runs before any text filter:
  // double-encoded UTF-8 (the 'Ã©'-style artifacts of latin-1
  // round-trips), C0 control characters, and U+FFFD replacement chars
  // (the decoder's "I gave up" marker) each poison tokenizers and
  // dedup keys in different ways, so the audit reports them separately
  // per source. The synthetic corpus is clean, so — like q55's PII —
  // the corruption is PLANTED deterministically from doc_id residues
  // (7 → a double-encoded 'é è' tail, 11 → a BEL control byte, 13 →
  // a replacement char) and the oracle re-derives the identical blob;
  // a detector regex that over- or under-matches any class breaks the
  // hash on every planted residue class at once.
  //
  // Shape at 100 TB: one codegen'd projection (three rlike probes per
  // row) + one map-side-combinable hash aggregate on `source` — no
  // shuffle beyond the 20-group exchange; the regexes stay in the
  // Java-regex ∩ RE2 literal/class subset so Spark and the oracle
  // cannot disagree on edge semantics.
  def encodingAudit(spark: SparkSession, dir: String): DataFrame = {
    val moji = "Ã[©¨]" // Ã© / Ã¨ — latin-1-decoded UTF-8 é/è
    val ctrl = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]" // C0 minus \t\n\r
    val repl = "\uFFFD"
    val planted = Tables.documents(spark, dir).select(
      col("source"),
      concat(
        col("text"),
        when(col("doc_id") % 7 === 0, lit(" Ã© Ã¨")).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit("\u0007")).otherwise(lit("")),
        when(col("doc_id") % 13 === 0, lit(" �")).otherwise(lit(""))
      ).as("blob"))
    planted
      .select(col("source"),
        col("blob").rlike(moji).cast("long").as("is_moji"),
        col("blob").rlike(ctrl).cast("long").as("is_ctrl"),
        col("blob").rlike(repl).cast("long").as("is_repl"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("is_moji").as("n_mojibake"),
        sum("is_ctrl").as("n_control"),
        sum("is_repl").as("n_replacement"),
        call_function("div",
          sum(when(col("is_moji") + col("is_ctrl") + col("is_repl") === 0, 1L)
            .otherwise(0L)) * 1000000L,
          count(lit(1))).as("clean_ppm"))
      .orderBy("source")
  }

  val encodingAuditSql: String =
    """WITH planted AS (
      |  SELECT source,
      |         text
      |           || CASE WHEN doc_id % 7 = 0 THEN ' Ã© Ã¨' ELSE '' END
      |           || CASE WHEN doc_id % 11 = 0 THEN chr(7) ELSE '' END
      |           || CASE WHEN doc_id % 13 = 0 THEN ' ' || chr(65533) ELSE '' END
      |           AS blob
      |  FROM documents),
      |flags AS (
      |  SELECT source,
      |    CASE WHEN regexp_matches(blob, 'Ã[©¨]') THEN 1 ELSE 0 END AS is_moji,
      |    CASE WHEN regexp_matches(blob, '[\x00-\x08\x0b\x0c\x0e-\x1f]') THEN 1 ELSE 0 END AS is_ctrl,
      |    CASE WHEN regexp_matches(blob, chr(65533)) THEN 1 ELSE 0 END AS is_repl
      |  FROM planted)
      |SELECT source, COUNT(*) AS n_docs,
      |       CAST(SUM(is_moji) AS BIGINT) AS n_mojibake,
      |       CAST(SUM(is_ctrl) AS BIGINT) AS n_control,
      |       CAST(SUM(is_repl) AS BIGINT) AS n_replacement,
      |       CAST(SUM(CASE WHEN is_moji + is_ctrl + is_repl = 0 THEN 1 ELSE 0 END)
      |            * 1000000 // COUNT(*) AS BIGINT) AS clean_ppm
      |FROM flags GROUP BY source ORDER BY source""".stripMargin

  // ---- q188: model-based quality classifier (integer linear score) ---
  // The stage AFTER rule filters (q56) in every public curation recipe:
  // a trained lightweight classifier scores each document and the
  // pipeline keeps by score threshold (GPT-3's LR-over-features pass,
  // CCNet/fastText quality bins). The model here is a fixed-weight
  // linear scorer over the same integer feature family q56 measures —
  // weights are micro-unit literals (a trained model would arrive the
  // same way: frozen coefficients), and because logistic is monotone,
  // thresholding/bucketing the LINEAR score is equivalent to
  // thresholding the sigmoid — so the whole pass stays in exact
  // integer arithmetic, bit-identical across engines, no exp().
  //
  // Scale shape: a pure codegen'd projection over one scan — zero
  // shuffles, zero joins; the sort is the gate's presentation order.
  def qualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    val nToks = graft.plans.GraftFunctions.regexp_count_only(
      lower(col("text")), "[a-z0-9]+").cast("long")
    val wordChars =
      length(regexp_replace(lower(col("text")), "[^a-z0-9]+", "")).cast("long")
    val nChars = length(col("text")).cast("long")
    val stops = Text.stopwordHits(col("text"), "en").cast("long")
    Tables.documents(spark, dir)
      .select(col("doc_id"), nToks.as("n_toks"), wordChars.as("wc"),
        nChars.as("nc"), stops.as("n_stop"))
      .select(col("doc_id"), col("n_toks"),
        expr("n_stop * 1000 div greatest(n_toks, 1)").as("stop_pm"),
        expr("wc * 1000 div greatest(nc, 1)").as("alnum_pm"),
        expr("wc * 1000 div greatest(n_toks, 1)").as("avglen_milli"))
      .withColumn("score_micro",
        lit(3000L) * col("stop_pm") + lit(1000L) * col("alnum_pm")
          - lit(400L) * abs(col("avglen_milli") - 4500L)
          + lit(800L) * least(col("n_toks"), lit(500L)) - lit(1000000L))
      .withColumn("keep", col("score_micro") >= 0L)
      .withColumn("bucket",
        call_function("div", col("score_micro"), lit(250000L)))
      .orderBy("doc_id")
  }

  val qualityClassifierSql: String = {
    val stopRe = Text.stopwords.toMap.apply("en")
    s"""WITH f AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_toks,
       |    CAST(length(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g')) AS BIGINT) AS wc,
       |    CAST(length(text) AS BIGINT) AS nc,
       |    CAST(len(regexp_extract_all(text, '$stopRe')) AS BIGINT) AS n_stop
       |  FROM documents),
       |s AS (
       |  SELECT doc_id, n_toks,
       |    n_stop * 1000 // greatest(n_toks, 1) AS stop_pm,
       |    wc * 1000 // greatest(nc, 1) AS alnum_pm,
       |    wc * 1000 // greatest(n_toks, 1) AS avglen_milli
       |  FROM f),
       |sc AS (
       |  SELECT doc_id, n_toks, stop_pm, alnum_pm, avglen_milli,
       |    3000 * stop_pm + 1000 * alnum_pm
       |      - 400 * abs(avglen_milli - 4500)
       |      + 800 * least(n_toks, 500) - 1000000 AS score_micro
       |  FROM s)
       |SELECT doc_id, n_toks, stop_pm, alnum_pm, avglen_milli, score_micro,
       |  score_micro >= 0 AS keep,
       |  CASE WHEN score_micro >= 0 THEN score_micro // 250000
       |       ELSE -((-score_micro) // 250000) END AS bucket
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  // ---- q268: readability profile (Flesch-Kincaid grade, quantized) ----
  // The classic readability screen a curation pipeline runs beside the
  // Gopher/C4 signals (q56): grade ≈ 0.39·(words/sentences) +
  // 11.8·(syllables/words) − 15.59, with syllables approximated by
  // vowel-group runs ([aeiouy]+) and sentences by terminal-punct runs
  // ([.!?]+, floor 1) — both countable by one regex scan in either
  // engine. The grade is QUANTIZED to an integer-ppm channel by
  // definition (390000·w div s + 11800000·y div w − 15590000): each
  // division has positive operands, so Spark's trunc and DuckDB's
  // floor agree, and no float ever materializes. Per-source average
  // routes the (possibly negative) sum through the sign·(|a| div b)
  // idiom the repo uses wherever a quotient's operand can be negative.
  //
  // Scale shape: one projection over the doc scan (regex counts are
  // codegen'd), one map-side-combinable grouped aggregate.
  def readability(spark: SparkSession, dir: String): DataFrame = {
    readabilityOf(Tables.documents(spark, dir))
  }

  /** Core over (source, text) rows — factored so the spec can pin the
    * closed-form grade of planted sentences. */
  private[graft] def readabilityOf(docs: DataFrame): DataFrame = {
    val t = docs.select(col("source"),
      graft.functions.Text.tokenCount(col("text")).cast("long").as("w"),
      greatest(size(expr("regexp_extract_all(text, '[.!?]+', 0)"))
        .cast("long"), lit(1L)).as("s"),
      size(expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)"))
        .cast("long").as("y"))
      .filter(col("w") > 0)
      .withColumn("fk_ppm", expr(
        """cast(390000 as bigint) * w div s
           + cast(11800000 as bigint) * y div w - 15590000"""))
    t.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum("w").as("words"), sum("s").as("sentences"),
        sum("y").as("syllables"),
        sum(col("fk_ppm").cast("decimal(38,0)")).as("fk_sum"))
      .select(col("source"), col("n_docs"), col("words"),
        col("sentences"), col("syllables"),
        (signum(col("fk_sum")).cast("long") *
          expr("cast(abs(fk_sum) div n_docs as bigint)")).as("fk_avg_ppm"))
      .orderBy("source")
  }

  val readabilitySql: String =
    """WITH t AS (
      |  SELECT source,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
      |      AS w,
      |    GREATEST(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT),
      |             1) AS s,
      |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
      |      AS y
      |  FROM documents),
      |f AS (SELECT source, w, s, y,
      |        390000 * w // s + 11800000 * y // w - 15590000 AS fk_ppm
      |      FROM t WHERE w > 0),
      |g AS (SELECT source, COUNT(*) AS n_docs, SUM(w) AS words,
      |        SUM(s) AS sentences, SUM(y) AS syllables,
      |        SUM(CAST(fk_ppm AS HUGEINT)) AS fk_sum
      |      FROM f GROUP BY 1)
      |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
      |       CAST(words AS BIGINT) AS words,
      |       CAST(sentences AS BIGINT) AS sentences,
      |       CAST(syllables AS BIGINT) AS syllables,
      |       CAST(CASE WHEN fk_sum >= 0 THEN abs(fk_sum) // n_docs
      |            ELSE -(abs(fk_sum) // n_docs) END AS BIGINT) AS fk_avg_ppm
      |FROM g ORDER BY source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q268_readability" -> (readability _),
    "q188_quality_classifier" -> (qualityClassifier _),
    "q55_pii_redact" -> (piiRedact _),
    "q56_quality_signals" -> (qualitySignals _),
    "q149_filter_audit" -> (filterAudit _),
    "q57_repetition" -> (repetitionStats _),
    "q78_line_dedup" -> (lineDedup _),
    "q181_encoding_audit" -> (encodingAudit _))

  val oracles: Map[String, String] = Map(
    "q268_readability" -> readabilitySql,
    "q188_quality_classifier" -> qualityClassifierSql,
    "q55_pii_redact" -> piiRedactSql,
    "q56_quality_signals" -> qualitySignalsSql,
    "q149_filter_audit" -> filterAuditSql,
    "q57_repetition" -> repetitionStatsSql,
    "q78_line_dedup" -> lineDedupSql,
    "q181_encoding_audit" -> encodingAuditSql)
}
