package graft.operators

import graft.Tables
import graft.functions.{Sampling, Validate}
import graft.quality.Profiler
import graft.sources.CsvSource
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Validation / profiling / ingest operators (SURVEY §2.2, §2.4, §2.1)
  * exercised as oracle-checkable queries over the testdata tables. */
object Quality {

  // ---- q07: per-column regex invalid counts (P5/P6/A14) -------------
  private val docPatterns = Seq(
    "lang"    -> "^[a-z]{2}$",
    "source"  -> "^src\\d+$",
    "n_chars" -> "^\\d+$")

  def invalidCounts(spark: SparkSession, dir: String): DataFrame =
    Validate.perColumnInvalidCounts(Tables.documents(spark, dir), docPatterns)

  val invalidCountsSql: String =
    """SELECT
      |  CAST(SUM(CASE WHEN lang IS NULL OR lang = '' OR NOT regexp_matches(lang, '^[a-z]{2}$') THEN 1 ELSE 0 END) AS BIGINT) AS lang__invalid_count,
      |  CAST(SUM(CASE WHEN source IS NULL OR source = '' OR NOT regexp_matches(source, '^src\d+$') THEN 1 ELSE 0 END) AS BIGINT) AS source__invalid_count,
      |  CAST(SUM(CASE WHEN n_chars IS NULL OR NOT regexp_matches(CAST(n_chars AS VARCHAR), '^\d+$') THEN 1 ELSE 0 END) AS BIGINT) AS n_chars__invalid_count
      |FROM documents""".stripMargin

  // ---- q53: row-level any-invalid mask + valid/invalid split (P6/P8) --
  // The OR-fold of q07's per-column predicates, as row counts: the
  // reference's invalid_row_mask / split semantics
  // (data_validation.py:64-89) — every row is either fully valid or
  // carries at least one offending column.
  def invalidRowStats(spark: SparkSession, dir: String): DataFrame = {
    // ONE conditional aggregation over one scan (the oracle's shape);
    // splitValidInvalid stays the two-frame API for callers that
    // materialize both halves, but counting them must not read the
    // table twice
    val docs = Tables.documents(spark, dir)
    val mask = Validate.invalidRowMask(docs, docPatterns)
    docs.agg(
      sum(when(mask, 0).otherwise(1)).cast("long").as("n_valid_rows"),
      sum(when(mask, 1).otherwise(0)).cast("long").as("n_invalid_rows"),
      count(lit(1)).as("n_rows"))
  }

  val invalidRowStatsSql: String =
    """WITH m AS (SELECT
      |    (lang IS NULL OR lang = '' OR NOT regexp_matches(lang, '^[a-z]{2}$'))
      |    OR (source IS NULL OR source = '' OR NOT regexp_matches(source, '^src\d+$'))
      |    OR (n_chars IS NULL OR NOT regexp_matches(CAST(n_chars AS VARCHAR), '^\d+$'))
      |    AS bad FROM documents)
      |SELECT CAST(SUM(CASE WHEN bad THEN 0 ELSE 1 END) AS BIGINT) AS n_valid_rows,
      |       CAST(SUM(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS n_invalid_rows,
      |       COUNT(*) AS n_rows
      |FROM m""".stripMargin

  // ---- q54: PERMISSIVE corrupt-record accounting (S2) -----------------
  // A planted malformed CSV (type garbage in typed columns) read with
  // an explicit schema + _corrupt_record; the oracle is DuckDB's
  // ignore_errors reject count over the SAME file — two independent
  // reader implementations must agree on which rows are corrupt.
  def corruptRecordStats(spark: SparkSession, dir: String): DataFrame = {
    val file = CsvSource.corruptFixture()
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("amount", DoubleType),
      StructField("_corrupt_record", StringType)))
    val df = spark.read
      .option("sep", "|").option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(schema).csv(file)
    // Spark disallows scans whose required schema is ONLY the internal
    // corrupt column (and column pruning would reduce this agg to
    // exactly that) — materialize the parsed rows eagerly first, the
    // same pattern the error message prescribes (checkpoint, not
    // cache: no CacheManager plan-matching side effects)
    df.localCheckpoint(true)
      .select(col("id"), col("name"), col("amount"),
        col("_corrupt_record").isNotNull.as("bad"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("bad"), 0).otherwise(1)).cast("long").as("n_parsed"),
        sum(when(col("bad"), 1).otherwise(0)).cast("long").as("n_corrupt"))
  }

  // DuckDB's ignore_errors skips a failing row only in projections that
  // actually CONVERT the failing column (bare COUNT(*) counts every
  // physical row) — so the reject count must reference every typed
  // column to force full-row materialization, matching Spark's
  // whole-row PERMISSIVE semantics. The fixture plants no real nulls,
  // so the IS NOT NULL guards only defeat column pruning.
  val corruptRecordStatsSql: String = {
    val f = s"'${CsvSource.CorruptFixtureFile}'"
    val typed = s"""read_csv($f, delim='|', header=true,
       |     columns={'id': 'BIGINT', 'name': 'VARCHAR', 'amount': 'DOUBLE'},
       |     ignore_errors=true)""".stripMargin
    s"""WITH kept AS (SELECT COUNT(*) AS c FROM (
       |    SELECT id, name, amount FROM $typed
       |    WHERE id IS NOT NULL AND name IS NOT NULL AND amount IS NOT NULL) s),
       |total AS (SELECT COUNT(*) AS c FROM read_csv($f, delim='|',
       |    header=true, all_varchar=true))
       |SELECT total.c AS n_rows, kept.c AS n_parsed,
       |       total.c - kept.c AS n_corrupt
       |FROM total, kept""".stripMargin
  }

  // ---- q64: PERMISSIVE corrupt-record accounting for JSONL -----------
  // q54's reader-semantics check, for the JSON lane: a planted file
  // whose malformed lines are SYNTAX errors (the class both engines
  // treat as whole-row failures; see JsonlSource.corruptFixture).
  private lazy val JsonlBadDir = s"${sys.props("user.dir")}/target/jsonl_docs"

  def jsonlCorruptStats(spark: SparkSession, dir: String): DataFrame = {
    val file = graft.sources.JsonlSource.corruptFixture(JsonlBadDir)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("lang", StringType),
      StructField("text", StringType),
      StructField("_corrupt_record", StringType)))
    spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(file)
      // same only-corrupt-column scan restriction as the CSV lane (q54)
      .localCheckpoint(true)
      .select(col("_corrupt_record").isNotNull.as("bad"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("bad"), 0).otherwise(1)).cast("long").as("n_parsed"),
        sum(when(col("bad"), 1).otherwise(0)).cast("long").as("n_corrupt"))
  }

  val jsonlCorruptStatsSql: String = {
    val f = s"'${sys.props("user.dir")}/target/jsonl_docs/docs_bad.jsonl'"
    s"""WITH r AS (SELECT * FROM read_json($f, format='newline_delimited',
       |    columns={id:'BIGINT', lang:'VARCHAR', text:'VARCHAR'},
       |    ignore_errors=true))
       |SELECT COUNT(*) AS n_rows,
       |  CAST(SUM(CASE WHEN id IS NULL AND lang IS NULL AND text IS NULL
       |    THEN 0 ELSE 1 END) AS BIGINT) AS n_parsed,
       |  CAST(SUM(CASE WHEN id IS NULL AND lang IS NULL AND text IS NULL
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt
       |FROM r""".stripMargin
  }

  // ---- q74: delimiter sniffing vs DuckDB's sniffer (S5) --------------
  // Two independent sniffer implementations over the same planted
  // multi-delimiter files: ours (candidate counting over the head
  // lines) must agree with DuckDB's sniff_csv on every file. The result
  // frame is driver-built by nature — sniffing inspects bytes before
  // any reader exists (like q15's metadata-only schema matrix).
  def sniffDelimiters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = CsvSource.sniffFixture()
    CsvSource.SniffTags.map { case (tag, _) =>
      (tag, CsvSource.sniffDelimiter(spark, s"$base/$tag.csv"))
    }.toDF("file_tag", "delimiter").orderBy("file_tag")
  }

  val sniffDelimitersSql: String =
    CsvSource.SniffTags.map { case (tag, _) =>
      s"""SELECT '$tag' AS file_tag, Delimiter AS delimiter
         |FROM sniff_csv('${CsvSource.SniffFixtureDir}/$tag.csv')""".stripMargin
    }.mkString("\nUNION ALL\n") + "\nORDER BY file_tag"

  // ---- q69: fuzzy entity matching on fixed-width keys ----------------
  // Customer names within Hamming distance 2 — the typo/transcription
  // dedup of entity resolution. Candidates come from the pigeonhole
  // segment join (exact recall); the oracle is the direct quadratic
  // hamming() inequality join — an independent algorithm.
  private val NameWidth = 18 // "Customer#" + 9 digits
  private val MaxDist = 2

  def fuzzyNamePairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.fuzzyKeyPairs(
        Tables.customer(spark, dir).filter(col("c_custkey") <= 400),
        "c_custkey", "c_name", width = NameWidth, maxDist = MaxDist)
      .orderBy("id_a", "id_b")

  val fuzzyNamePairsSql: String =
    s"""WITH c AS (SELECT c_custkey AS id, c_name AS k FROM customer
       |  WHERE c_custkey <= 400 AND length(c_name) = $NameWidth)
       |SELECT a.id AS id_a, b.id AS id_b,
       |  CAST(hamming(a.k, b.k) AS BIGINT) AS hamming,
       |  CAST(levenshtein(a.k, b.k) AS BIGINT) AS lev
       |FROM c a JOIN c b ON a.id < b.id AND hamming(a.k, b.k) <= $MaxDist
       |ORDER BY id_a, id_b""".stripMargin

  // ---- q08: profile stats: nulls + exact distinct per column (A9/A11)
  def profileStats(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val cols = Seq("user_id", "event_type", "value", "props")
    val aggs = cols.flatMap(c => Seq(
      (count(lit(1)) - count(col(c))).as(s"${c}__nulls"),
      countDistinct(col(c)).as(s"${c}__n_unique")))
    ev.agg(aggs.head, aggs.tail: _*)
  }

  val profileStatsSql: String =
    """SELECT
      |  COUNT(*) - COUNT(user_id) AS user_id__nulls, COUNT(DISTINCT user_id) AS user_id__n_unique,
      |  COUNT(*) - COUNT(event_type) AS event_type__nulls, COUNT(DISTINCT event_type) AS event_type__n_unique,
      |  COUNT(*) - COUNT(value) AS value__nulls, COUNT(DISTINCT value) AS value__n_unique,
      |  COUNT(*) - COUNT(props) AS props__nulls, COUNT(DISTINCT props) AS props__n_unique
      |FROM events""".stripMargin

  // ---- q09: value frequency distribution (A12) ----------------------
  def valueCounts(spark: SparkSession, dir: String): DataFrame =
    Profiler.valueCounts(Tables.events(spark, dir), "event_type")

  val valueCountsSql: String =
    """SELECT event_type, COUNT(*) AS n FROM events
      |GROUP BY 1 ORDER BY n DESC, event_type ASC""".stripMargin

  // ---- q10: entry-error taxonomy (A13) ------------------------------
  def errorTaxonomy(spark: SparkSession, dir: String): DataFrame =
    Profiler.errorTaxonomy(Tables.events(spark, dir), "value")

  val errorTaxonomySql: String =
    """SELECT value_class, COUNT(*) AS n,
      |       COUNT(*) / SUM(COUNT(*)) OVER () AS proportion
      |FROM (
      |  SELECT CASE
      |    WHEN value IS NULL THEN 'null'
      |    WHEN trim(CAST(value AS VARCHAR)) = '' THEN 'empty'
      |    WHEN lower(trim(CAST(value AS VARCHAR))) IN ('#no value','#no_value','na','n/a','none','null','nan','missing') THEN 'null_token'
      |    WHEN regexp_matches(trim(CAST(value AS VARCHAR)), '^[+-]?\d+$') THEN 'int'
      |    WHEN regexp_matches(trim(CAST(value AS VARCHAR)), '^[+-]?(\d{1,3}(,\d{3})*|\d+)(\.\d+)?$') THEN 'us_numeric'
      |    WHEN regexp_matches(trim(CAST(value AS VARCHAR)), '^[+-]?(\d{1,3}(\.\d{3})*|\d+)(,\d+)?$') THEN 'eu_numeric'
      |    WHEN regexp_matches(lower(trim(CAST(value AS VARCHAR))), '^(true|false|t|f|yes|no|y|n|0|1)$') THEN 'bool'
      |    WHEN regexp_matches(trim(CAST(value AS VARCHAR)), '^\d{4}-\d{2}-\d{2}$') THEN 'iso_date'
      |    WHEN regexp_matches(trim(CAST(value AS VARCHAR)), '^\d{2}:\d{2}:\d{2}$') THEN 'time'
      |    ELSE 'other' END AS value_class
      |  FROM events) t
      |GROUP BY 1 ORDER BY n DESC, value_class ASC""".stripMargin

  // ---- q11: duplicate detection via content hash (A15/A16) ----------
  def dupDocGroups(spark: SparkSession, dir: String): DataFrame = {
    val groups = Tables.documents(spark, dir)
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(count(lit(1)).as("c")).filter(col("c") > 1)
    groups.agg(
      count(lit(1)).as("n_dup_groups"),
      coalesce(sum("c"), lit(0L)).cast("long").as("n_dup_rows"))
  }

  val dupDocGroupsSql: String =
    """SELECT COUNT(*) AS n_dup_groups,
      |       CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_dup_rows
      |FROM (SELECT md5(text) AS h, COUNT(*) AS c FROM documents
      |      GROUP BY 1 HAVING COUNT(*) > 1) g""".stripMargin

  // ---- q12: FK orphan checks via left-anti joins (J4) ---------------
  def fkOrphans(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val a = Validate.fkOrphans(li, Tables.part(spark, dir), "l_partkey", "p_partkey")
      .agg(count(lit(1)).as("lineitem_part_orphans"))
    val b = Validate.fkOrphans(li, Tables.supplier(spark, dir), "l_suppkey", "s_suppkey")
      .agg(count(lit(1)).as("lineitem_supplier_orphans"))
    val c = Validate.fkOrphans(Tables.orders(spark, dir), Tables.customer(spark, dir),
        "o_custkey", "c_custkey")
      .agg(count(lit(1)).as("orders_customer_orphans"))
    a.crossJoin(b).crossJoin(c)
  }

  val fkOrphansSql: String =
    """SELECT
      |  (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
      |    (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)) AS lineitem_part_orphans,
      |  (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
      |    (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)) AS lineitem_supplier_orphans,
      |  (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
      |    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS orders_customer_orphans""".stripMargin

  // ---- q13: diagonal union across drifting schemas (U1/P3) ----------
  def unionByNameDiagonal(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).select(
      col("c_custkey").as("id"), col("c_name").as("name"),
      col("c_acctbal").as("acctbal"), lit("customer").as("src"))
    val supp = Tables.supplier(spark, dir).select(
      col("s_suppkey").as("id"), col("s_name").as("name"),
      lit("supplier").as("src"))
    cust.unionByName(supp, allowMissingColumns = true)
      .filter(col("id") <= 20)
      .orderBy(col("id"), col("src"))
  }

  val unionByNameDiagonalSql: String =
    """SELECT * FROM (
      |  SELECT c_custkey AS id, c_name AS name, c_acctbal AS acctbal, 'customer' AS src FROM customer
      |  UNION ALL BY NAME
      |  SELECT s_suppkey AS id, s_name AS name, 'supplier' AS src FROM supplier) u
      |WHERE id <= 20 ORDER BY id, src""".stripMargin

  // ---- q14: placeholder-token normalization (P7) --------------------
  def placeholderNormalization(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    // Deterministically dirty the data with the reference's placeholder
    // vocabulary, then normalize it back to nulls.
    val dirty = when(col("event_id") % 7 === 0, lit("#NO VALUE"))
      .when(col("event_id") % 7 === 1, lit("na"))
      .when(col("event_id") % 7 === 2, lit("  "))
      .otherwise(col("props"))
    ev.select(Validate.normalizePlaceholders(dirty).as("p"))
      .agg(
        (count(lit(1)) - count(col("p"))).as("n_normalized_to_null"),
        count(col("p")).as("n_kept"))
  }

  val placeholderNormalizationSql: String =
    """SELECT COUNT(*) - COUNT(p) AS n_normalized_to_null, COUNT(p) AS n_kept
      |FROM (
      |  SELECT CASE WHEN lower(trim(CASE
      |      WHEN event_id % 7 = 0 THEN '#NO VALUE'
      |      WHEN event_id % 7 = 1 THEN 'na'
      |      WHEN event_id % 7 = 2 THEN '  '
      |      ELSE props END)) IN ('#no value','#no_value','na','n/a','none','null','nan','missing','')
      |    THEN NULL ELSE CASE
      |      WHEN event_id % 7 = 0 THEN '#NO VALUE'
      |      WHEN event_id % 7 = 1 THEN 'na'
      |      WHEN event_id % 7 = 2 THEN '  '
      |      ELSE props END END AS p
      |  FROM events) t""".stripMargin

  // ---- q15: schema presence matrix (U2) — metadata-only, rows-only --
  def schemaPresence(spark: SparkSession, dir: String): DataFrame =
    Profiler.schemaPresence(Seq(
      "customer" -> Tables.customer(spark, dir),
      "supplier" -> Tables.supplier(spark, dir),
      "nation"   -> Tables.nation(spark, dir)))

  // The q15 oracle rebuilds the same matrix by SQL schema introspection
  // (DESCRIBE on each view) instead of trusting literals — a genuinely
  // independent metadata path.
  val schemaPresenceSql: String = {
    val tables = Seq("customer", "supplier", "nation")
    val cols = tables.map(t =>
      s"SELECT '$t' AS tbl, column_name AS col FROM (DESCRIBE SELECT * FROM $t)")
      .mkString("\n  UNION ALL ")
    s"""WITH cols AS (
       |  $cols),
       |allc AS (SELECT DISTINCT col FROM cols),
       |tabs AS (SELECT DISTINCT tbl FROM cols)
       |SELECT a.col AS "column", t.tbl AS "table",
       |       (c.col IS NOT NULL) AS present
       |FROM allc a CROSS JOIN tabs t
       |LEFT JOIN cols c ON c.col = a.col AND c.tbl = t.tbl
       |ORDER BY "column", "table"""".stripMargin
  }

  // ---- q38: distinct invalid values per column (A17) -----------------
  def distinctInvalidValues(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    // same deterministic dirtying as q14, then the A17 operator lists
    // the distinct offending values
    val dirty = when(col("event_id") % 7 === 0, lit("#NO VALUE"))
      .when(col("event_id") % 7 === 1, lit("na"))
      .when(col("event_id") % 7 === 2, lit("  "))
      .otherwise(col("props"))
    Validate.invalidValuesByColumn(ev.select(dirty.as("p")),
        Seq("p" -> "^\\{\"k\": \\d+\\}$"))
      .filter(col("invalid_value").isNotNull)
      .orderBy("column", "invalid_value")
  }

  val distinctInvalidValuesSql: String =
    """SELECT DISTINCT 'p' AS "column", p AS invalid_value FROM (
      |  SELECT CASE WHEN event_id % 7 = 0 THEN '#NO VALUE'
      |              WHEN event_id % 7 = 1 THEN 'na'
      |              WHEN event_id % 7 = 2 THEN '  '
      |              ELSE props END AS p FROM events) t
      |WHERE p IS NOT NULL AND (p = '' OR NOT regexp_matches(p, '^\{"k": \d+\}$'))
      |ORDER BY 1, 2""".stripMargin

  // ---- q48: exactly-N-per-group deterministic sample -----------------
  private val StratN = 5

  def stratifiedSampleQ(spark: SparkSession, dir: String): DataFrame =
    graft.functions.Sampling
      .stratifiedSampleN(Tables.documents(spark, dir), "lang", "doc_id", StratN)
      .select("lang", "doc_id")
      .orderBy("lang", "doc_id")

  val stratifiedSampleSql: String =
    s"""SELECT lang, doc_id FROM (
       |  SELECT lang, doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY lang
       |      ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
       |               doc_id) AS rk
       |  FROM documents) t
       |WHERE rk <= $StratN ORDER BY lang, doc_id""".stripMargin

  // ---- q47: numeric column summary (min/max/mean/p50/p90) ------------
  private val SummaryCols = Seq("l_quantity", "l_extendedprice", "l_discount")

  def numericSummaryQ(spark: SparkSession, dir: String): DataFrame =
    Profiler.numericSummary(Tables.lineitem(spark, dir), SummaryCols)

  val numericSummarySql: String = SummaryCols.map { c =>
    s"""SELECT '$c' AS "column", round(MIN($c), 6) AS mn, round(MAX($c), 6) AS mx,
       |  round(CAST(SUM(CAST($c AS DECIMAL(18,4))) AS DOUBLE) / COUNT($c), 6) AS mean,
       |  round(quantile_cont($c, 0.5), 6) AS p50,
       |  round(quantile_cont($c, 0.9), 6) AS p90
       |FROM lineitem""".stripMargin
  }.mkString("\n  UNION ALL\n") + "\nORDER BY \"column\""

  // ---- q41: deterministic hash-threshold sampling --------------------
  // Entity-coherent (all lineitems of a sampled order survive together)
  // and bit-reproducible across engines and reruns — the property
  // rand()-based sampling can't give a 100 TB pipeline.
  private val SampleFraction = 0.1
  private val SampleThreshold = (SampleFraction * 4294967296.0).toLong

  def deterministicSampleQ(spark: SparkSession, dir: String): DataFrame =
    graft.functions.Sampling
      .deterministicSample(Tables.lineitem(spark, dir), "l_orderkey", SampleFraction)
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct("l_orderkey").as("n_orders"),
        sum(col("l_quantity").cast(DecimalType(18, 4))).cast("double").as("total_qty"))

  val deterministicSampleSql: String =
    s"""SELECT COUNT(*) AS n_rows,
       |  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
       |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
       |FROM lineitem
       |WHERE ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8))::BIGINT
       |      < $SampleThreshold""".stripMargin

  // ---- q62: deterministic train/val/test split -----------------------
  // Entity-coherent (all lineitems of an order share a split), engine-
  // reproducible, and composable with q41's hash sampling (same hash,
  // cumulative thresholds).
  private val TrainFrac = 0.8
  private val ValFrac = 0.1

  def hashSplitQ(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .withColumn("split",
        graft.functions.Sampling.hashSplit(col("l_orderkey"), TrainFrac, ValFrac))
      .groupBy("split")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct("l_orderkey").as("n_orders"))
      .orderBy("split")
  }

  val hashSplitSql: String = {
    val t1 = (TrainFrac * 4294967296.0).toLong
    val t2 = ((TrainFrac + ValFrac) * 4294967296.0).toLong
    s"""SELECT CASE WHEN h < $t1 THEN 'train'
       |            WHEN h < $t2 THEN 'val' ELSE 'test' END AS split,
       |       COUNT(*) AS n_rows,
       |       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
       |FROM (SELECT l_orderkey,
       |        ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8))::BIGINT AS h
       |      FROM lineitem) t
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---- q155: token-budget corpus selection (greedy by quality) -------
  // "Fill a 10k-token budget with the best documents": order by
  // (quality desc, doc_id), keep every document that still FULLY fits
  // — the greedy knapsack every data-mixing recipe runs when the
  // training budget is tokens, not documents. The global running sum
  // goes through Ranking.globalCumSumSorted (range-repartition +
  // per-partition totals + broadcast prefix offsets) — never a
  // single-partition window. Ordering on the quality double is safe
  // cross-engine because q18's gate proves both engines compute
  // bit-identical scores from the same integer signals.
  private val TokenBudget = 10000L

  def budgetSelect(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.Text.tokenCount(col("text")).cast("long").as("n_tokens"),
        graft.functions.Text.qualityScore(col("text")).as("q"))
    graft.functions.Ranking
      .globalCumSumSorted(docs, Seq(col("q").desc, col("doc_id").asc),
        col("n_tokens"), "cum_before")
      .filter(col("cum_before") + col("n_tokens") <= TokenBudget)
      .select("doc_id", "n_tokens", "cum_before")
      .orderBy("doc_id")
  }

  val budgetSelectSql: String = {
    val en = graft.functions.Text.stopwords.toMap.apply("en")
    s"""WITH t AS (SELECT doc_id,
       |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens,
       |    len(regexp_extract_all(text, '[.,;:!?]')) AS pc,
       |    len(regexp_extract_all(text, '$en')) AS se,
       |    length(text) AS nc
       |  FROM documents),
       |s AS (SELECT doc_id, n_tokens,
       |    least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
       |    + (1.0 - least(CAST(pc AS DOUBLE) / CAST(greatest(nc, 1) AS DOUBLE) * 5.0, 1.0)) * 0.3
       |    + least(CAST(se AS DOUBLE) / greatest(CAST(n_tokens AS DOUBLE), 1.0) * 5.0, 1.0) * 0.3 AS q
       |  FROM t),
       |c AS (SELECT doc_id, n_tokens,
       |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY q DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       |  FROM s)
       |SELECT doc_id, n_tokens, cum_before FROM c
       |WHERE cum_before + n_tokens <= $TokenBudget ORDER BY doc_id""".stripMargin
  }

  // ---- q157: dataset card (corpus release statistics) ----------------
  // The summary block every corpus release ships (the "dataset card"):
  // doc/token/vocab counts, exact-dup rate, language count, length
  // distribution anchors — one long-form (stat, value) table, every
  // value integer-exact. The median goes through FLOOR(percentile):
  // integral inputs make the 0.5 interpolation land on an integer or
  // an exact .5, and an explicit FLOOR is deterministic in both engines
  // (a bare double->BIGINT cast is not: DuckDB rounds, Spark
  // truncates). Driver assembly is the profiler pattern — three
  // distributed aggregates, ten bounded scalars.
  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val toks = docs.select(
      explode(graft.functions.Text.tokens(col("text"))).as("t"))
    val a = docs.agg(
      count(lit(1)), countDistinct(md5(col("text").cast("binary"))),
      countDistinct(col("lang")),
      sum(length(col("text")).cast("long"))).head()
    val b = toks.agg(count(lit(1)), countDistinct(col("t"))).head()
    val tc = docs.select(
      graft.functions.Text.tokenCount(col("text")).cast("long").as("tc"))
    val c = tc.agg(expr("floor(percentile(tc, 0.5D))").cast("long"),
      min("tc"), max("tc")).head()
    val (nd, ndt, nl, nc) =
      (a.getLong(0), a.getLong(1), a.getLong(2), a.getLong(3))
    Seq(
      ("dup_permille", if (nd == 0) 0L else 1000L * (nd - ndt) / nd),
      ("max_doc_tokens", c.getLong(2)),
      ("median_doc_tokens_floor", c.getLong(0)),
      ("min_doc_tokens", c.getLong(1)),
      ("n_distinct_tokens", b.getLong(1)),
      ("n_docs", nd),
      ("n_exact_dup_docs", nd - ndt),
      ("n_langs", nl),
      ("n_tokens", b.getLong(0)),
      ("total_text_chars", nc))
      .toDF("stat", "value").orderBy("stat")
  }

  val datasetCardSql: String =
    """WITH d AS (SELECT lang, text,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS tc
      |  FROM documents),
      |t AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      |      FROM documents),
      |a AS (SELECT COUNT(*) AS nd, COUNT(DISTINCT md5(text)) AS ndt,
      |        COUNT(DISTINCT lang) AS nl,
      |        CAST(SUM(length(text)) AS BIGINT) AS nc,
      |        CAST(FLOOR(quantile_cont(tc, 0.5)) AS BIGINT) AS med,
      |        MIN(tc) AS mn, MAX(tc) AS mx FROM d),
      |b AS (SELECT COUNT(*) AS nt, COUNT(DISTINCT tok) AS nv FROM t)
      |SELECT 'dup_permille' AS stat, CAST((1000 * (nd - ndt)) // nd AS BIGINT) AS value FROM a
      |UNION ALL SELECT 'max_doc_tokens', mx FROM a
      |UNION ALL SELECT 'median_doc_tokens_floor', med FROM a
      |UNION ALL SELECT 'min_doc_tokens', mn FROM a
      |UNION ALL SELECT 'n_distinct_tokens', CAST(nv AS BIGINT) FROM b
      |UNION ALL SELECT 'n_docs', CAST(nd AS BIGINT) FROM a
      |UNION ALL SELECT 'n_exact_dup_docs', CAST(nd - ndt AS BIGINT) FROM a
      |UNION ALL SELECT 'n_langs', CAST(nl AS BIGINT) FROM a
      |UNION ALL SELECT 'n_tokens', CAST(nt AS BIGINT) FROM b
      |UNION ALL SELECT 'total_text_chars', nc FROM a
      |ORDER BY stat""".stripMargin

  // ---- q160: source mix summary (mixture-planning input) -------------
  // Docs and tokens per source with integer per-mille token shares —
  // the table a mixture recipe (q81/q137) starts from. One
  // map-side-combinable aggregate; the share is exact floor division
  // against a 1-row broadcast total (never a float ratio).
  def sourceMix(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(spark, dir)
      .select(col("source"),
        graft.functions.Text.tokenCount(col("text")).cast("long").as("tc"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("tc")).as("n_tokens"))
    val tot = per.agg(sum(col("n_tokens")).as("tot"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        expr("(1000L * n_tokens) div tot").as("token_share_permille"))
      .orderBy(col("source").asc_nulls_first)
  }

  val sourceMixSql: String =
    """WITH p AS (SELECT source,
      |    COUNT(*) AS n_docs,
      |    CAST(SUM(len(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY 1),
      |t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM p)
      |SELECT source, n_docs, n_tokens,
      |       CAST((1000 * n_tokens) // tot AS BIGINT) AS token_share_permille
      |FROM p, t ORDER BY source NULLS FIRST""".stripMargin

  // ---- q161: sequence-length histogram (packing/batching planner) ----
  // Token-length distribution in fixed 64-token buckets — what sizes
  // the packer (q63/q82) and batcher actually face; the padding-waste
  // column is the argument for packing at all (sum over docs of
  // (bucket_end - n_tokens) = tokens a pad-to-bucket batcher would
  // burn). All integer: bucket = tc div 64, waste = 64*(bucket+1) - tc.
  def lengthHistogram(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(graft.functions.Text.tokenCount(col("text")).cast("long").as("tc"))
      .select(col("tc"), expr("tc div 64L").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tc")).as("n_tokens"),
        sum(expr("64L * (tc div 64L + 1L) - tc")).as("pad_waste_tokens"))
      .orderBy("bucket")
  }

  val lengthHistogramSql: String =
    """WITH d AS (SELECT CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS tc
      |           FROM documents)
      |SELECT tc // 64 AS bucket, COUNT(*) AS n_docs,
      |       CAST(SUM(tc) AS BIGINT) AS n_tokens,
      |       CAST(SUM(64 * (tc // 64 + 1) - tc) AS BIGINT) AS pad_waste_tokens
      |FROM d GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q137: temperature-rebalanced mixture (UniMax-style, T=2) ------
  // q81 takes the mixture as GIVEN; this operator DERIVES it from the
  // corpus: source shares proportional to sqrt(token mass) — the
  // T=2 temperature flattening multilingual recipes use so head
  // languages stop drowning the tail — then down-samples each source
  // to its derived budget with the md5-threshold channel. The whole
  // derivation is engine-exact integer arithmetic: isqrt via
  // floor(sqrt(n)) (IEEE sqrt is correctly rounded, so floor(sqrt) IS
  // integer sqrt for n < 2^52), budgets and per-mille keeps via floor
  // division, the keep threshold as (pm * 2^32) div 1000 in int64 —
  // no float fraction ever touches the decision. Shape at scale: two
  // bounded aggregates (|langs| rows, broadcast back), one corpus
  // pass for the keep filter — the same zero-shuffle decision plane
  // as q81.
  def temperatureMixQ(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"),
        graft.functions.Text.tokenCount(col("text")).cast("long").as("tok_n"))
    val agg = t.groupBy("lang").agg(sum("tok_n").as("n"))
    val tot = agg.agg(sum("n").as("nn"),
      sum(floor(sqrt(col("n"))).cast("long")).as("ss"))
    // the isqrt(n)*nn cross-product runs in DECIMAL(38,0): at the
    // 100 TB operating point (n ~ nn ~ 1e14) it reaches ~1e21, past
    // int64 — Spark would wrap silently while DuckDB's BIGINT errors,
    // the worst possible divergence. Each `div` floors back to a
    // comfortably-bounded long (a token budget <= nn). Same decimal
    // channel as q131/q138.
    val thr = agg.crossJoin(broadcast(tot))
      .select(col("lang"),
        least(lit(1000L), call_function("div",
          call_function("div",
            floor(sqrt(col("n"))).cast("decimal(38,0)") *
              col("nn").cast("decimal(38,0)"),
            col("ss").cast("decimal(38,0)")) * lit(1000L),
          col("n"))).as("pm"))
    val h = graft.plans.GraftFunctions.hex_window(
      md5(col("doc_id").cast("string").cast("binary")), 0, 8)
    t.join(broadcast(thr), Seq("lang"))
      .filter(h < call_function("div", col("pm") * 4294967296L, lit(1000L)))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("tok_n").as("n_tokens"))
      .orderBy("lang")
  }

  val temperatureMixSql: String =
    """WITH t AS (
      |  SELECT lang, doc_id,
      |         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS tok_n
      |  FROM documents),
      |agg AS (SELECT lang, SUM(tok_n) AS n FROM t GROUP BY 1),
      |tot AS (SELECT SUM(n) AS nn,
      |               SUM(CAST(FLOOR(SQRT(n)) AS BIGINT)) AS ss FROM agg),
      |thr AS (SELECT lang,
      |          LEAST(1000, ((CAST(FLOOR(SQRT(n)) AS HUGEINT) * nn // ss) * 1000) // n) AS pm
      |        FROM agg, tot)
      |SELECT t.lang, COUNT(*) AS n_docs, CAST(SUM(tok_n) AS BIGINT) AS n_tokens
      |FROM t JOIN thr ON t.lang = thr.lang
      |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      |        < (pm * 4294967296) // 1000
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q81: corpus mixture sampling (domain mixing) ------------------
  // Per-language keep fractions — the "X% of each source" assembly step
  // of corpus construction. Deterministic md5-threshold per group, so
  // the mix is bit-reproducible and composes with q41/q62's sampling
  // and splitting on the same key. `zh` is deliberately absent from the
  // mixture: unconfigured sources must drop, not leak.
  private val MixFractions: Seq[(String, Double)] = Seq(
    "en" -> 0.5, "de" -> 1.0, "fr" -> 0.25, "es" -> 0.1)

  def mixtureSampleQ(spark: SparkSession, dir: String): DataFrame =
    graft.functions.Sampling
      .mixtureSample(Tables.documents(spark, dir), "lang", "doc_id",
        MixFractions.toMap)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"),
        sum(col("doc_id")).as("id_sum"))
      .orderBy("lang")

  val mixtureSampleSql: String = {
    val cases = MixFractions.map { case (g, f) =>
      s"WHEN lang = '$g' THEN ${(f * 4294967296.0).toLong}"
    }.mkString("\n      |      ")
    s"""SELECT lang, COUNT(*) AS n_sampled,
       |       CAST(SUM(doc_id) AS BIGINT) AS id_sum
       |FROM documents
       |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
       |      < CASE $cases
       |      ELSE -1 END
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---- q63: sequence packing (fixed token-budget training packs) -----
  private val PackBudget = 512L

  def seqPackingQ(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Sampling.packSequences(
        Tables.documents(spark, dir).filter(col("doc_id") < 300),
        "doc_id", graft.functions.Text.tokenCount(col("text")), PackBudget)
      .select("doc_id", "n_tokens", "pack_id", "pack_offset")
      .orderBy("doc_id")
  }

  val seqPackingSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens
       |  FROM documents WHERE doc_id < 300),
       |c AS (SELECT doc_id, n_tokens,
       |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
       |  FROM t)
       |SELECT doc_id, n_tokens, CAST(cum // $PackBudget AS BIGINT) AS pack_id,
       |       CAST(cum % $PackBudget AS BIGINT) AS pack_offset
       |FROM c ORDER BY doc_id""".stripMargin

  // ---- q83: heavy-hitter key diagnostics (skew planning input) -------
  // The 20 hottest event users by exact count + corpus share: the
  // report that tells an operator which keys to salt (q31's paths)
  // before a shuffle straggles at scale.
  def heavyHittersQ(spark: SparkSession, dir: String): DataFrame =
    Profiler.heavyHitters(Tables.events(spark, dir), "user_id", k = 20)

  val heavyHittersSql: String =
    """SELECT user_id, COUNT(*) AS n,
      |  CAST(COUNT(*) AS DOUBLE)
      |    / (SELECT COUNT(*) FROM events WHERE user_id IS NOT NULL) AS share
      |FROM events WHERE user_id IS NOT NULL
      |GROUP BY 1 ORDER BY n DESC, user_id LIMIT 20""".stripMargin

  // ---- q82: sharded sequence packing (the parallel 100 TB form) ------
  // q63's pack rule per shard: documents shard by hash (4 shards), each
  // shard packs independently — pack identity is (shard, pack_id). The
  // global form's single-partition window disappears; each shard's
  // window sorts only its rows.
  private val ShardPackBudget = 512L

  def shardedPackingQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 300)
      .withColumn("shard", (col("doc_id") % 4).cast("int"))
    graft.functions.Sampling.packSequencesSharded(
        docs, "shard", "doc_id",
        graft.functions.Text.tokenCount(col("text")), ShardPackBudget)
      .select("shard", "doc_id", "n_tokens", "pack_id", "pack_offset")
      .orderBy("doc_id")
  }

  val shardedPackingSql: String =
    s"""WITH t AS (
       |  SELECT CAST(doc_id % 4 AS INTEGER) AS shard, doc_id,
       |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens
       |  FROM documents WHERE doc_id < 300),
       |c AS (SELECT shard, doc_id, n_tokens,
       |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
       |  FROM t)
       |SELECT shard, doc_id, n_tokens,
       |       CAST(cum // $ShardPackBudget AS BIGINT) AS pack_id,
       |       CAST(cum % $ShardPackBudget AS BIGINT) AS pack_offset
       |FROM c ORDER BY doc_id""".stripMargin

  // ---- q16: CSV round-trip: decimal-comma, null tokens, drift (S1/S8/F11/U1) --
  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val base = li.select(
      col("l_orderkey").as("ORDERKEY"),
      col("l_linenumber").as("LINENUMBER"),
      col("l_quantity").cast("int").cast("string").as("QTY"),
      when(col("l_orderkey") % 50 === 0, lit("#NO VALUE"))
        .otherwise(regexp_replace(
          col("l_extendedprice").cast(DecimalType(18, 2)).cast("string"),
          "\\.", ",")).as("PRICE"))
    // summary materialized so the scratch CSVs can be deleted before
    // returning
    val tmp = graft.Scratch.dir("csv", dir)
    CsvSource.write(base.filter(col("LINENUMBER") <= 3), s"$tmp/a")
    CsvSource.write(base.filter(col("LINENUMBER") > 3).drop("QTY"), s"$tmp/b")
    val target = StructType(Seq(
      StructField("orderkey", LongType), StructField("linenumber", IntegerType),
      StructField("qty", IntegerType), StructField("price", DecimalType(18, 2))))
    val out = CsvSource.readAligned(spark, Seq(s"$tmp/a", s"$tmp/b"), target)
      .agg(
        count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(col("qty"))).as("n_missing_qty"),
        (count(lit(1)) - count(col("price"))).as("n_null_price"),
        sum("price").cast("double").as("total_price"))
      .localCheckpoint(true)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    out
  }

  val csvRoundtripSql: String =
    """SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(CASE WHEN l_linenumber > 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_qty,
      |  CAST(SUM(CASE WHEN l_orderkey % 50 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_null_price,
      |  CAST(SUM(CASE WHEN l_orderkey % 50 = 0 THEN NULL
      |       ELSE CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS total_price
      |FROM lineitem""".stripMargin

  // ---- q100: deterministic weighted sampling (A-ES top-k) ------------
  // Quality-weighted corpus selection: higher-weight sources win
  // proportionally more of the top-k slots, deterministically (same
  // sample on every engine/rerun — see Sampling.weightedSampleKey for
  // why the keys are bit-exact across engines).
  private val WeightedK = 50
  private def sourceWeight = {
    when(col("source").isin("src0", "src1", "src2", "src3", "src4"), 4)
      .when(col("source").isin("src5", "src6", "src7", "src8", "src9"), 2)
      .otherwise(1)
  }

  def weightedSampleQ(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .withColumn("weight", sourceWeight)
      .withColumn("skey",
        Sampling.weightedSampleKey(col("doc_id"), col("weight")))
      .orderBy(col("skey").desc, col("doc_id"))
      .limit(WeightedK)
      .select("doc_id", "source", "weight", "skey")
  }

  val weightedSampleSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |    CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 4
       |         WHEN source IN ('src5','src6','src7','src8','src9') THEN 2
       |         ELSE 1 END AS weight,
       |    (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT * 2 + 1)
       |      / 8589934592.0 AS u
       |  FROM documents),
       |k AS (SELECT doc_id, source, weight,
       |        CASE WHEN weight = 4 THEN sqrt(sqrt(u))
       |             WHEN weight = 2 THEN sqrt(u) ELSE u END AS skey
       |      FROM d)
       |SELECT doc_id, source, weight, skey FROM k
       |ORDER BY skey DESC, doc_id LIMIT $WeightedK""".stripMargin

  // ---- q189: Count-Min sketch heavy-hitter accuracy gate -------------
  // The third sketch family beside q170 (HLL distinct) and q176 (GK
  // percentile): a d=4 x w=512 Count-Min sketch over the token-frequency
  // stream, built as FOUR map-side-combinable bucket aggregates with
  // deterministic md5 row hashes — the streaming-friendly frequency
  // sketch a 100 TB ingest keeps when the exact (word, count) table is
  // too hot to maintain online. Because the hashes are seeded md5 (not
  // JVM-private xxhash), DuckDB rebuilds the IDENTICAL sketch and the
  // gate hash-compares estimate, overcount, and slack-ppm exactly —
  // including the CM guarantee made checkable: est >= exact always,
  // est - exact bounded by the collision mass in the probed cells.
  //
  // Scale shape: the exact count table is built once and checkpointed
  // (it feeds the sketch build, the grand total, and the top-k probe);
  // the sketch itself is 4 x 512 rows — broadcast to the probe join.
  // At true stream scale the same sketch is an `aggregate`-shaped fold
  // per partition merged by cell-wise +, which is exactly what the
  // groupBy(bucket).sum lowering does.
  private[graft] val CmsSeeds: Seq[String] = (0 until 4).map(i => s"cms$i")
  private[graft] val CmsW = 512L

  /** Seeded CM row hash: md5 keeps both engines (and the streaming
    * lane) on the identical bucket function. */
  private[graft] def cmsBucket(seed: String, c: Column): Column =
    pmod(conv(substring(md5(concat(lit(seed), c)), 1, 15), 16, 10)
      .cast("long"), lit(CmsW))

  /** Probe an already-built (row_i, bucket, cell) sketch with the top-20
    * exact keys — shared by the batch gate (q189) and the streaming
    * sketch-maintenance lane (q194), which must produce the identical
    * frame from a sketch folded incrementally. */
  private[graft] def cmsProbe(counts: DataFrame, sketch: DataFrame): DataFrame = {
    val total = counts.agg(sum("n").as("n_total"))
    val topk = counts.orderBy(col("n").desc, col("w")).limit(20)
    val probes = CmsSeeds.zipWithIndex.map { case (seed, i) =>
      topk.select(col("w"), col("n"), lit(i).as("row_i"),
        cmsBucket(seed, col("w")).as("bucket"))
    }.reduce(_.unionByName(_))
    probes.join(broadcast(sketch), Seq("row_i", "bucket"))
      .groupBy("w")
      .agg(max("n").as("n_exact"), min("cell").as("cms_est"))
      .crossJoin(broadcast(total)) // 1-row grand total
      .select(col("w"), col("n_exact"), col("cms_est"),
        (col("cms_est") - col("n_exact")).as("overcount"),
        expr("(cms_est - n_exact) * 1000000 div n_total").as("slack_ppm"))
      .orderBy(col("n_exact").desc, col("w"))
  }

  def cmsAccuracy(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(explode(graft.functions.Text.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val sketch = CmsSeeds.zipWithIndex.map { case (seed, i) =>
      counts.groupBy(cmsBucket(seed, col("w")).as("bucket"))
        .agg(sum("n").as("cell"))
        .withColumn("row_i", lit(i))
    }.reduce(_.unionByName(_)).localCheckpoint(true)
    cmsProbe(counts, sketch)
  }

  val cmsAccuracySql: String =
    """WITH tok AS (
      |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      |  FROM documents),
      |c AS (SELECT w, COUNT(*) AS n FROM tok GROUP BY 1),
      |tot AS (SELECT SUM(n) AS n_total FROM c),
      |b AS (SELECT w, n, i AS row_i,
      |        ('0x' || substr(md5('cms' || CAST(i AS VARCHAR) || w), 1, 15))::BIGINT
      |          % 512 AS bucket
      |      FROM c, UNNEST([0, 1, 2, 3]) AS u(i)),
      |sk AS (SELECT row_i, bucket, SUM(n) AS cell FROM b GROUP BY 1, 2),
      |tk AS (SELECT w, n FROM c ORDER BY n DESC, w LIMIT 20),
      |pj AS (SELECT tk.w AS w, tk.n AS n_exact, sk.cell AS cell
      |       FROM tk JOIN b ON tk.w = b.w
      |       JOIN sk ON sk.row_i = b.row_i AND sk.bucket = b.bucket)
      |SELECT w, CAST(MAX(n_exact) AS BIGINT) AS n_exact,
      |       CAST(MIN(cell) AS BIGINT) AS cms_est,
      |       CAST(MIN(cell) - MAX(n_exact) AS BIGINT) AS overcount,
      |       CAST((MIN(cell) - MAX(n_exact)) * 1000000 // MAX(n_total) AS BIGINT)
      |         AS slack_ppm
      |FROM pj, tot GROUP BY 1 ORDER BY n_exact DESC, w""".stripMargin

  // ---- q198: sample-based AQP accuracy gate --------------------------
  // Approximate query processing by deterministic uniform sampling —
  // the fifth estimator family beside HLL (q170), GK percentile
  // (q176), Count-Min (q189), and KMV (q191): a 1/16 row sample via
  // the md5 hash channel, aggregates scaled by the sampling factor,
  // reported BESIDE the exact answers with an integer error-ppm
  // column. The hash channel makes the "random" sample identical in
  // both engines, so the estimates themselves hash-match — the gate
  // proves the estimator pipeline, and the artifact documents the
  // error a 1/16 sample actually delivers at this data shape.
  //
  // Scale shape: one checkpointed scan feeds the exact and sampled
  // aggregates (both map-side combinable); the sample predicate is a
  // codegen'd projection, so at 100 TB the sampled lane reads the
  // same scan but aggregates 1/16 of the rows — the classic AQP
  // trade.
  private val AqpFactor = 16L

  def sampleAqpGate(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .withColumn("h",
        conv(substring(md5((col("l_orderkey") * 10L + col("l_linenumber"))
          .cast("string")), 1, 15), 16, 10).cast("long"))
      .localCheckpoint(true) // exact + sampled lanes share the scan
    val exact = li.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_exact"),
        sum(col("l_quantity").cast(DecimalType(18, 4))).as("qd"))
    val est = li.filter(pmod(col("h"), lit(AqpFactor)) === 0L)
      .groupBy("l_returnflag")
      .agg((count(lit(1)) * AqpFactor).as("n_est"),
        (sum(col("l_quantity").cast(DecimalType(18, 4))) * AqpFactor).as("qe"))
    exact.join(est, Seq("l_returnflag"), "left")
      .select(col("l_returnflag"), col("n_exact"),
        coalesce(col("n_est"), lit(0L)).as("n_est"),
        col("qd").cast("double").as("qty_exact"),
        coalesce(col("qe"), lit(0).cast(DecimalType(18, 4)))
          .cast("double").as("qty_est"))
      .withColumn("err_ppm",
        expr("abs(n_est - n_exact) * 1000000 div n_exact"))
      .orderBy("l_returnflag")
  }

  val sampleAqpGateSql: String =
    s"""WITH li AS (
       |  SELECT l_returnflag, l_quantity,
       |         ('0x' || substr(md5(CAST(l_orderkey * 10 + l_linenumber AS VARCHAR)),
       |                         1, 15))::BIGINT AS h
       |  FROM lineitem),
       |ex AS (SELECT l_returnflag, COUNT(*) AS n_exact,
       |         SUM(CAST(l_quantity AS DECIMAL(18,4))) AS qd
       |       FROM li GROUP BY 1),
       |es AS (SELECT l_returnflag, COUNT(*) * $AqpFactor AS n_est,
       |         SUM(CAST(l_quantity AS DECIMAL(18,4))) * $AqpFactor AS qe
       |       FROM li WHERE h % $AqpFactor = 0 GROUP BY 1)
       |SELECT ex.l_returnflag, CAST(n_exact AS BIGINT) AS n_exact,
       |       CAST(COALESCE(n_est, 0) AS BIGINT) AS n_est,
       |       CAST(qd AS DOUBLE) AS qty_exact,
       |       CAST(COALESCE(qe, 0) AS DOUBLE) AS qty_est,
       |       CAST(abs(COALESCE(n_est, 0) - n_exact) * 1000000 // n_exact AS BIGINT)
       |         AS err_ppm
       |FROM ex LEFT JOIN es USING (l_returnflag)
       |ORDER BY 1""".stripMargin

  // ---- q170: HLL approx-distinct accuracy gate (A10) -----------------
  // Closes the perennial "A10 is spec-only" row: the HLL++ sketch runs
  // on its real 100 TB path (approx_count_distinct) but the emitted
  // columns are the EXACT distinct counts plus a deterministic
  // within-5% flag per column — both of which a different engine can
  // recompute. See Profiler.distinctAccuracy.
  private val HllCols = Seq("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")

  def approxDistinctAccuracy(spark: SparkSession, dir: String): DataFrame =
    Profiler.distinctAccuracy(Tables.orders(spark, dir), HllCols)

  val approxDistinctAccuracySql: String =
    HllCols.map(c =>
      s"CAST(COUNT(DISTINCT $c) AS BIGINT) AS ${c}__n_unique, TRUE AS ${c}__hll_ok")
      .mkString("SELECT ", ",\n       ", "\nFROM orders")

  // ---- q176: approx-percentile accuracy gate (the q170 pattern) ------
  // The other sketch a 100 TB profiler actually runs: approx_percentile
  // (Greenwald-Khanna) beside the EXACT nearest-rank value (q164's
  // integer rank rule on integer cents — no interpolation floats).
  // Emitted: the exact value per percentile plus a deterministic
  // within-2% flag for the sketch at accuracy=10000; DuckDB recomputes
  // the exact values and asserts TRUE — same contract as the q170 HLL
  // gate, closing the "sketch lanes can't be oracled" gap for the
  // second sketch family.
  private val PctProbs = Seq(50, 90, 99)

  def approxPercentileAccuracy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cents = Tables.lineitem(spark, dir)
      .select(round(col("l_extendedprice") * 100).cast("long").as("cents"))
    val (ranked, n) =
      graft.functions.Ranking.globalRowNumberWithCount(cents, Seq("cents"), "rn")
    val targets = PctProbs.zipWithIndex
      .map { case (p, i) => (p, math.max(1L, (p * n + 99L) / 100L), i + 1) }
      .toDF("p_pct", "rn", "idx")
    val approx = cents.agg(
      expr("approx_percentile(cents, array(0.5D, 0.9D, 0.99D), 10000)").as("ap"))
    ranked.join(broadcast(targets), "rn")
      .crossJoin(broadcast(approx)) // 1-row sketch dim
      .select(col("p_pct"), col("cents").as("exact_cents"),
        (abs(element_at(col("ap"), col("idx")) - col("cents")) * 100 <=
          col("cents") * 2).as("gk_ok"))
      .orderBy("p_pct")
  }

  val approxPercentileAccuracySql: String =
    """WITH t AS (SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
      |           FROM lineitem),
      |r AS (SELECT cents, ROW_NUMBER() OVER (ORDER BY cents) AS rn,
      |             COUNT(*) OVER () AS n FROM t)
      |SELECT p_pct, cents AS exact_cents, TRUE AS gk_ok
      |FROM r, (VALUES (50), (90), (99)) q(p_pct)
      |WHERE rn = greatest(1, (p_pct * n + 99) // 100) ORDER BY 1""".stripMargin

  // ---- q171: all-null row drop (P9) ----------------------------------
  // Closes the perennial "P9 is spec-only" row with a planted fixture
  // derived from the shared tables (no scratch data): a 2-column
  // projection of customer where custkey%5 nulls one column and
  // custkey%3 the other, so custkey%15 rows are all-null. The operator
  // under test is Spark's `na.drop("all")`; the oracle recomputes the
  // same plant and counts rows with any non-null entry.
  def allNullDrop(spark: SparkSession, dir: String): DataFrame = {
    val planted = Tables.customer(spark, dir).select(
      when(col("c_custkey") % 5 === 0, lit(null)).otherwise(col("c_name")).as("a"),
      when(col("c_custkey") % 3 === 0, lit(null)).otherwise(col("c_mktsegment")).as("b"))
    val kept = planted.na.drop("all")
    planted.agg(count(lit(1)).as("n_before")).crossJoin(
      kept.agg(count(lit(1)).as("n_after")))
      .select(col("n_before"), col("n_after"),
        (col("n_before") - col("n_after")).as("n_dropped"))
  }

  val allNullDropSql: String =
    """WITH p AS (
      |  SELECT CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_name END AS a,
      |         CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_mktsegment END AS b
      |  FROM customer)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_before,
      |       CAST(COUNT(*) FILTER (WHERE a IS NOT NULL OR b IS NOT NULL) AS BIGINT) AS n_after,
      |       CAST(COUNT(*) FILTER (WHERE a IS NULL AND b IS NULL) AS BIGINT) AS n_dropped
      |FROM p""".stripMargin

  // ---- q184: Benford first-digit audit -------------------------------
  // The fraud/ETL-corruption screen over a monetary column: compare the
  // first-significant-digit distribution of o_totalprice against
  // Benford's law. The first digit is taken from the INTEGER part's
  // decimal string (floor → BIGINT → string → substr) — never from
  // float log10, whose behavior at exact powers of ten is a cross-
  // engine ulp trap. Expected shares are integer-ppm literals
  // (floor(log10(1+1/d)·10^6)) attached by a broadcast 9-row join, so
  // observed, expected, and deviation are all exact integers.
  //
  // Shape at 100 TB: one codegen'd projection + one 9-group
  // map-side-combinable aggregate + a 1-row total broadcast — the
  // audit costs one scan regardless of table size.
  private val benfordPpm = Seq(
    1 -> 301029L, 2 -> 176091L, 3 -> 124938L, 4 -> 96910L, 5 -> 79181L,
    6 -> 66946L, 7 -> 57991L, 8 -> 51152L, 9 -> 45757L)

  def benfordAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val expected = benfordPpm.toDF("digit", "expected_ppm")
    val digits = Tables.orders(spark, dir)
      .filter(col("o_totalprice") >= 1.0)
      .select(substring(floor(col("o_totalprice")).cast("long").cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
      .localCheckpoint(true) // consumed by the total AND the report
    val total = digits.agg(sum("n").as("n_total"))
    digits
      .join(broadcast(expected), Seq("digit"))
      .crossJoin(broadcast(total))
      .select(col("digit"), col("n"),
        call_function("div", col("n") * 1000000L, col("n_total")).as("observed_ppm"),
        col("expected_ppm"),
        abs(call_function("div", col("n") * 1000000L, col("n_total"))
          - col("expected_ppm")).as("deviation_ppm"))
      .orderBy("digit")
  }

  val benfordAuditSql: String =
    """WITH d AS (
      |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
      |  FROM orders WHERE o_totalprice >= 1.0),
      |c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY 1),
      |tot AS (SELECT SUM(n) AS n_total FROM c),
      |exp AS (SELECT * FROM (VALUES (1, 301029), (2, 176091), (3, 124938),
      |          (4, 96910), (5, 79181), (6, 66946), (7, 57991), (8, 51152),
      |          (9, 45757)) v(digit, expected_ppm))
      |SELECT c.digit, n, CAST(n * 1000000 // n_total AS BIGINT) AS observed_ppm,
      |       CAST(expected_ppm AS BIGINT) AS expected_ppm,
      |       CAST(abs(n * 1000000 // n_total - expected_ppm) AS BIGINT) AS deviation_ppm
      |FROM c JOIN exp USING (digit), tot ORDER BY digit""".stripMargin

  // ---- q185: join-key skew diagnostic --------------------------------
  // The pre-join health check a pipeline runs before shuffling 100 TB
  // on a key: per candidate join key, the row count, distinct-key
  // count, the hottest key and its share, and the
  // Herfindahl-Hirschman concentration index in ppm
  // (sum(n_i^2)·10^6 / N^2, exact in DECIMAL(38,0)/HUGEINT — at
  // N ~ 10^12 the squares overflow int64, which is why the cross
  // product stays in 128-bit). A top1_share or HHI spike is the
  // signature that says "salt this key" (q31) before the join, not
  // after it OOMs an executor.
  //
  // Shape at scale: per key column, ONE map-side-combinable count
  // aggregate (the per-key frame) followed by a bounded second
  // aggregate to 1 row — the hottest key via min_by over the
  // (-n, key) struct so ties break deterministically toward the
  // smallest key. No sorts, no windows, no driver loops beyond the
  // 3-column seq.
  def hotKeys(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).localCheckpoint(true)
    val frames = Seq("l_orderkey", "l_partkey", "l_suppkey").map { k =>
      li.groupBy(col(k).as("key")).agg(count(lit(1)).as("n"))
        .agg(
          count(lit(1)).as("n_keys"),
          sum("n").as("n_rows"),
          min_by(col("key"), struct((col("n") * -1L).as("neg"), col("key")))
            .as("top_key"),
          max("n").as("top_n"),
          sum(col("n").cast("decimal(38,0)") * col("n").cast("decimal(38,0)"))
            .as("sum_sq"))
        .select(lit(k).as("key_col"), col("n_rows"), col("n_keys"),
          col("top_key"), col("top_n"),
          call_function("div", col("top_n") * 1000000L, col("n_rows"))
            .as("top1_ppm"),
          call_function("div",
            col("sum_sq") * lit(1000000L).cast("decimal(38,0)"),
            col("n_rows").cast("decimal(38,0)") * col("n_rows").cast("decimal(38,0)"))
            .cast("long").as("hhi_ppm"))
    }
    frames.reduce(_.union(_)).orderBy("key_col")
  }

  val hotKeysSql: String = {
    def one(k: String): String =
      s"""SELECT '$k' AS key_col, CAST(SUM(n) AS BIGINT) AS n_rows,
         |  COUNT(*) AS n_keys,
         |  MAX(CASE WHEN rn = 1 THEN key END) AS top_key,
         |  CAST(MAX(n) AS BIGINT) AS top_n,
         |  CAST(MAX(n) AS BIGINT) * 1000000 // CAST(SUM(n) AS BIGINT) AS top1_ppm,
         |  CAST(SUM(CAST(n AS HUGEINT) * CAST(n AS HUGEINT)) * 1000000
         |       // (CAST(SUM(n) AS HUGEINT) * CAST(SUM(n) AS HUGEINT)) AS BIGINT) AS hhi_ppm
         |FROM (SELECT key, n, row_number() OVER (ORDER BY n DESC, key) AS rn
         |      FROM (SELECT $k AS key, COUNT(*) AS n FROM lineitem GROUP BY 1) c0) c""".stripMargin
    Seq("l_orderkey", "l_partkey", "l_suppkey").map(one)
      .mkString("", "\nUNION ALL\n", "\nORDER BY key_col")
  }

  // ---- q237: percentile winsorization (outlier capping) --------------
  // The standard pre-normalization cleaning step for numeric features:
  // cap each event's value at its type's [p5, p95] so a handful of
  // extreme rows can't dominate downstream scaling. Bounds are exact
  // NEAREST-RANK (type-1) order statistics — ceil(p·n/100) as the
  // all-integer (p*n + 99) div 100, the q164/q167 convention — on the
  // round(value*1000) integer milli-unit channel, so lo/hi and both
  // capped sums are bit-identical across engines (interpolated
  // quantiles would put a float midpoint in the compare path). The lo
  // and hi rows are selected in ONE pass (rank = either target; MIN is
  // lo, MAX is hi, since value is nondecreasing in rank).
  //
  // Shape at scale: the rank window is hash-partitioned per
  // event_type (q167's grouped-quantile shape — within-group sort,
  // no global funnel; a single dominant type would call for the q164
  // global-rank form instead). The bounds frame is |types| rows,
  // broadcast back; the capping pass is one map-side-combinable
  // aggregate over the fact table.
  def winsorizeStats(spark: SparkSession, dir: String): DataFrame =
    winsorizeCore(Tables.events(spark, dir).select(col("event_type"),
      col("event_id"), round(col("value") * 1000).cast("long").as("mu")))

  /** The bounds+cap core over (event_type, event_id, mu) — factored so
    * the spec can plant exact distributions and prove idempotence. */
  private[graft] def winsorizeCore(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy("mu", "event_id")
    val bounds = ev
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
      .filter(col("rn") === expr("(5 * n + 99) div 100")
           || col("rn") === expr("(95 * n + 99) div 100"))
      .groupBy("event_type").agg(min("mu").as("lo"), max("mu").as("hi"))
    ev.join(broadcast(bounds), "event_type")
      .withColumn("wmu", least(greatest(col("mu"), col("lo")), col("hi")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"),
        max("lo").as("lo_mu"), max("hi").as("hi_mu"),
        sum(when(col("mu") < col("lo"), 1L).otherwise(0L)).as("n_low"),
        sum(when(col("mu") > col("hi"), 1L).otherwise(0L)).as("n_high"),
        sum("mu").as("sum_mu"), sum("wmu").as("sum_wmu"))
      .orderBy("event_type")
  }

  val winsorizeStatsSql: String =
    """WITH v AS (SELECT event_type, event_id,
      |    CAST(round(value * 1000) AS BIGINT) AS mu FROM events),
      |r AS (SELECT event_type, mu,
      |        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY mu, event_id) AS rn,
      |        COUNT(*) OVER (PARTITION BY event_type) AS n FROM v),
      |b AS (SELECT event_type, MIN(mu) AS lo, MAX(mu) AS hi
      |      FROM r
      |      WHERE rn = (5 * n + 99) // 100 OR rn = (95 * n + 99) // 100
      |      GROUP BY 1)
      |SELECT v.event_type, COUNT(*) AS n_rows,
      |       MAX(lo) AS lo_mu, MAX(hi) AS hi_mu,
      |       CAST(SUM(CASE WHEN mu < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
      |       CAST(SUM(CASE WHEN mu > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
      |       CAST(SUM(mu) AS BIGINT) AS sum_mu,
      |       CAST(SUM(LEAST(GREATEST(mu, lo), hi)) AS BIGINT) AS sum_wmu
      |FROM v JOIN b USING (event_type)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q273: functional-dependency discovery --------------------------
  // Metanome-style profiling: does column A determine column B? For
  // each candidate (table, lhs → rhs) the audit counts lhs groups
  // carrying MORE than one distinct rhs (violations) — the primitive
  // under schema inference, normalization advice, and "is this column
  // safe to use as a join key" checks. The candidate list deliberately
  // mixes true FDs (keys, the nation→region hierarchy) with false ones
  // so the report discriminates. Each candidate is one grouped
  // count-distinct (map-side combinable) on its own table — no joins,
  // no windows; the union frame is |candidates| rows.
  def fdDiscovery(spark: SparkSession, dir: String): DataFrame = {
    def audit(tbl: String, df: DataFrame, lhs: String, rhs: String) =
      df.groupBy(col(lhs)).agg(countDistinct(col(rhs)).as("d"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("d") > 1, 1L).otherwise(0L)).as("n_violating"))
        .select(lit(tbl).as("tbl"), lit(lhs).as("lhs"), lit(rhs).as("rhs"),
          col("n_groups"), col("n_violating"),
          (col("n_violating") === 0).as("holds"))
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val n = Tables.nation(spark, dir)
    audit("customer", c, "c_custkey", "c_nationkey")
      .unionByName(audit("customer", c, "c_nationkey", "c_mktsegment"))
      .unionByName(audit("nation", n, "n_nationkey", "n_regionkey"))
      .unionByName(audit("orders", o, "o_orderkey", "o_custkey"))
      .unionByName(audit("orders", o, "o_custkey", "o_orderpriority"))
      .orderBy("tbl", "lhs", "rhs")
  }

  val fdDiscoverySql: String =
    """WITH cand AS (
      |  SELECT 'customer' AS tbl, 'c_custkey' AS lhs, 'c_nationkey' AS rhs,
      |         COUNT(*) AS n_groups,
      |         SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS n_violating
      |  FROM (SELECT c_custkey, COUNT(DISTINCT c_nationkey) AS d
      |        FROM customer GROUP BY 1)
      |  UNION ALL
      |  SELECT 'customer', 'c_nationkey', 'c_mktsegment', COUNT(*),
      |         SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END)
      |  FROM (SELECT c_nationkey, COUNT(DISTINCT c_mktsegment) AS d
      |        FROM customer GROUP BY 1)
      |  UNION ALL
      |  SELECT 'nation', 'n_nationkey', 'n_regionkey', COUNT(*),
      |         SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END)
      |  FROM (SELECT n_nationkey, COUNT(DISTINCT n_regionkey) AS d
      |        FROM nation GROUP BY 1)
      |  UNION ALL
      |  SELECT 'orders', 'o_orderkey', 'o_custkey', COUNT(*),
      |         SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END)
      |  FROM (SELECT o_orderkey, COUNT(DISTINCT o_custkey) AS d
      |        FROM orders GROUP BY 1)
      |  UNION ALL
      |  SELECT 'orders', 'o_custkey', 'o_orderpriority', COUNT(*),
      |         SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END)
      |  FROM (SELECT o_custkey, COUNT(DISTINCT o_orderpriority) AS d
      |        FROM orders GROUP BY 1))
      |SELECT tbl, lhs, rhs, CAST(n_groups AS BIGINT) AS n_groups,
      |       CAST(n_violating AS BIGINT) AS n_violating,
      |       n_violating = 0 AS holds
      |FROM cand ORDER BY tbl, lhs, rhs""".stripMargin

  // ---- q274: inclusion-dependency discovery (FK inference) ------------
  // The companion profile: is every value of column A present in
  // column B (A ⊆ B — the necessary condition for A being a foreign
  // key into B)? Checked on DISTINCT value sets with one left-anti
  // join per candidate — the distinct frames are key-cardinality
  // sized, and the anti join shuffles only them. True INDs (the
  // TPC-H FK web) sit beside a deliberately false one (not every
  // customer has placed an order).
  def indDiscovery(spark: SparkSession, dir: String): DataFrame = {
    def audit(name: String, a: DataFrame, ac: String,
              b: DataFrame, bc: String) = {
      val da = a.select(col(ac).as("v")).distinct()
      val db = b.select(col(bc).as("v")).distinct()
      val missing = da.join(db, Seq("v"), "left_anti")
        .agg(count(lit(1)).as("n_missing"))
      da.agg(count(lit(1)).as("n_distinct"))
        .crossJoin(broadcast(missing))
        .select(lit(name).as("candidate"), col("n_distinct"),
          col("n_missing"), (col("n_missing") === 0).as("holds"))
    }
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    audit("orders.o_custkey<customer.c_custkey", o, "o_custkey", c, "c_custkey")
      .unionByName(audit("lineitem.l_orderkey<orders.o_orderkey",
        l, "l_orderkey", o, "o_orderkey"))
      .unionByName(audit("customer.c_nationkey<nation.n_nationkey",
        c, "c_nationkey", n, "n_nationkey"))
      .unionByName(audit("nation.n_regionkey<region.r_regionkey",
        n, "n_regionkey", r, "r_regionkey"))
      .unionByName(audit("customer.c_custkey<orders.o_custkey",
        c, "c_custkey", o, "o_custkey"))
      .orderBy("candidate")
  }

  val indDiscoverySql: String =
    """WITH cand AS (
      |  SELECT 'orders.o_custkey<customer.c_custkey' AS candidate,
      |    (SELECT COUNT(DISTINCT o_custkey) FROM orders) AS n_distinct,
      |    (SELECT COUNT(*) FROM (SELECT DISTINCT o_custkey FROM orders) a
      |      WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
      |      AS n_missing
      |  UNION ALL
      |  SELECT 'lineitem.l_orderkey<orders.o_orderkey',
      |    (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem),
      |    (SELECT COUNT(*) FROM (SELECT DISTINCT l_orderkey FROM lineitem) a
      |      WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
      |  UNION ALL
      |  SELECT 'customer.c_nationkey<nation.n_nationkey',
      |    (SELECT COUNT(DISTINCT c_nationkey) FROM customer),
      |    (SELECT COUNT(*) FROM (SELECT DISTINCT c_nationkey FROM customer) a
      |      WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation))
      |  UNION ALL
      |  SELECT 'nation.n_regionkey<region.r_regionkey',
      |    (SELECT COUNT(DISTINCT n_regionkey) FROM nation),
      |    (SELECT COUNT(*) FROM (SELECT DISTINCT n_regionkey FROM nation) a
      |      WHERE n_regionkey NOT IN (SELECT r_regionkey FROM region))
      |  UNION ALL
      |  SELECT 'customer.c_custkey<orders.o_custkey',
      |    (SELECT COUNT(DISTINCT c_custkey) FROM customer),
      |    (SELECT COUNT(*) FROM (SELECT DISTINCT c_custkey FROM customer) a
      |      WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)))
      |SELECT candidate, CAST(n_distinct AS BIGINT) AS n_distinct,
      |       CAST(n_missing AS BIGINT) AS n_missing,
      |       n_missing = 0 AS holds
      |FROM cand ORDER BY candidate""".stripMargin

  // ---- q282: order-dependency discovery ------------------------------
  // The third profiling family next to q273 (FDs) and q274 (INDs):
  // order dependencies (Szlichta et al., VLDB'12 — public literature)
  // — "sorted by X, is Y also sorted?" — the property that licenses
  // sort-merge reuse and tells a warehouse which layout orders come
  // for free. Per candidate Y over lineitem lines ordered by
  // (l_linenumber) within each order: adjacent-pair violations
  // (next < prev) and the number of orders with at least one
  // violation. Doubles are only COMPARED (never summed), so the float
  // columns are exact cross-engine.
  //
  // Shape at scale: ONE window pass (partitioned by order — the
  // natural key, no global sort) computes all three candidates'
  // lag comparisons; per-order flags reduce map-side; the 3-candidate
  // output is an unpivot of one aggregate row.
  def odDiscovery(spark: SparkSession, dir: String): DataFrame =
    odOf(Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"),
        col("l_extendedprice"), col("l_quantity")))

  /** Discovery core over lineitem-shaped rows — factored so the spec
    * can plant orders with hand-counted violations. */
  private[graft] def odOf(rows: DataFrame): DataFrame = {
    // The synthetic lineitem does NOT keep (orderkey, linenumber)
    // unique, so the window order carries a canonical tiebreak over
    // the compared columns — remaining ties are identical tuples,
    // making every lag comparison well-defined cross-engine.
    val w = Window.partitionBy("l_orderkey").orderBy("l_linenumber",
      "l_shipdate", "l_extendedprice", "l_quantity")
    val t = rows
      .withColumn("p_sd", lag("l_shipdate", 1).over(w))
      .withColumn("p_pr", lag("l_extendedprice", 1).over(w))
      .withColumn("p_qt", lag("l_quantity", 1).over(w))
      .filter(col("p_sd").isNotNull)
    val perOrder = t.groupBy("l_orderkey").agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("l_shipdate") < col("p_sd"), 1L).otherwise(0L)).as("v_sd"),
        sum(when(col("l_extendedprice") < col("p_pr"), 1L).otherwise(0L)).as("v_pr"),
        sum(when(col("l_quantity") < col("p_qt"), 1L).otherwise(0L)).as("v_qt"))
      .localCheckpoint(true) // one row per candidate below
    def lane(name: String, v: String): DataFrame =
      perOrder.groupBy().agg(
        lit(name).as("candidate"),
        sum("n_pairs").as("n_pairs"),
        sum(v).as("n_violations"),
        sum(when(col(v) > 0L, 1L).otherwise(0L)).as("n_orders_violated"))
        .select("candidate", "n_pairs", "n_violations", "n_orders_violated")
    lane("linenumber->extendedprice", "v_pr")
      .unionAll(lane("linenumber->quantity", "v_qt"))
      .unionAll(lane("linenumber->shipdate", "v_sd"))
      .orderBy("candidate")
  }

  val odDiscoverySql: String =
    """WITH t AS (SELECT l_orderkey, l_shipdate, l_extendedprice, l_quantity,
      |        lag(l_shipdate) OVER w AS p_sd,
      |        lag(l_extendedprice) OVER w AS p_pr,
      |        lag(l_quantity) OVER w AS p_qt
      |      FROM lineitem
      |      WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber,
      |        l_shipdate, l_extendedprice, l_quantity)),
      |po AS (SELECT l_orderkey, COUNT(*) AS n_pairs,
      |        SUM(CASE WHEN l_shipdate < p_sd THEN 1 ELSE 0 END) AS v_sd,
      |        SUM(CASE WHEN l_extendedprice < p_pr THEN 1 ELSE 0 END) AS v_pr,
      |        SUM(CASE WHEN l_quantity < p_qt THEN 1 ELSE 0 END) AS v_qt
      |      FROM t WHERE p_sd IS NOT NULL GROUP BY 1)
      |SELECT 'linenumber->extendedprice' AS candidate,
      |       CAST(SUM(n_pairs) AS BIGINT) AS n_pairs,
      |       CAST(SUM(v_pr) AS BIGINT) AS n_violations,
      |       CAST(SUM(CASE WHEN v_pr > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_orders_violated
      |FROM po
      |UNION ALL
      |SELECT 'linenumber->quantity', CAST(SUM(n_pairs) AS BIGINT),
      |       CAST(SUM(v_qt) AS BIGINT),
      |       CAST(SUM(CASE WHEN v_qt > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |FROM po
      |UNION ALL
      |SELECT 'linenumber->shipdate', CAST(SUM(n_pairs) AS BIGINT),
      |       CAST(SUM(v_sd) AS BIGINT),
      |       CAST(SUM(CASE WHEN v_sd > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |FROM po
      |ORDER BY candidate""".stripMargin

  // ---- q288: approximate-FD g3 error ----------------------------------
  // The quantitative companion to q273's boolean FD verdicts: the g3
  // measure (Kivinen & Mannila, TCS 1995 — public literature) is the
  // MINIMUM number of rows to delete so X -> Y holds = n - Σ_x max_y
  // count(x, y). Data stewards rank candidate keys and repair targets
  // by g3, not by holds/fails — a 0.01% violation rate is a typo to
  // fix, 40% is not a dependency at all. Four candidates spanning a
  // true FD (g3 = 0), a key-like near-FD, and two broken ones.
  //
  // Shape at scale, per candidate: one (lhs, rhs) grouped count (map-
  // side combinable), one lhs-grouped max+sum over the GROUP frame
  // (|distinct pairs|, not |rows|), one 1-row fold. Unioning the
  // candidates keeps them independent scans — no multi-way shuffle.
  def fdG3Error(spark: SparkSession, dir: String): DataFrame = {
    def lane(df: DataFrame, lhs: String, rhs: String, name: String) =
      g3Of(df.select(col(lhs).as("l"), col(rhs).as("r0")), name)
    lane(Tables.nation(spark, dir), "n_nationkey", "n_regionkey",
        "nation.n_nationkey->n_regionkey")
      .unionAll(lane(Tables.orders(spark, dir), "o_custkey", "o_orderpriority",
        "orders.o_custkey->o_orderpriority"))
      .unionAll(lane(Tables.customer(spark, dir), "c_nationkey", "c_mktsegment",
        "customer.c_nationkey->c_mktsegment"))
      .unionAll(lane(Tables.lineitem(spark, dir), "l_partkey", "l_suppkey",
        "lineitem.l_partkey->l_suppkey"))
      .orderBy("candidate")
  }

  /** g3 core over a (l, r0) projection — factored so the spec can
    * plant a relation whose minimal repair set is hand-countable. */
  private[graft] def g3Of(rows: DataFrame, name: String): DataFrame =
    rows.groupBy("l", "r0").agg(count(lit(1)).as("c"))
      .groupBy("l").agg(max("c").as("m"), sum("c").as("tot"))
      .groupBy()
      .agg(sum("tot").as("n_rows"), (sum("tot") - sum("m")).as("g3"))
      .select(lit(name).as("candidate"), col("n_rows"), col("g3"),
        expr("g3 * 1000000 div n_rows").as("g3_ppm"))

  val fdG3ErrorSql: String = {
    def lane(tbl: String, lhs: String, rhs: String): String =
      s"""SELECT '$tbl.$lhs->$rhs' AS candidate,
         |  CAST(SUM(tot) AS BIGINT) AS n_rows,
         |  CAST(SUM(tot) - SUM(m) AS BIGINT) AS g3,
         |  CAST((SUM(tot) - SUM(m)) * 1000000 // SUM(tot) AS BIGINT)
         |    AS g3_ppm
         |FROM (SELECT l, MAX(c) AS m, SUM(c) AS tot
         |      FROM (SELECT $lhs AS l, $rhs AS r0, COUNT(*) AS c
         |            FROM $tbl GROUP BY 1, 2) GROUP BY 1)""".stripMargin
    Seq(lane("nation", "n_nationkey", "n_regionkey"),
      lane("orders", "o_custkey", "o_orderpriority"),
      lane("customer", "c_nationkey", "c_mktsegment"),
      lane("lineitem", "l_partkey", "l_suppkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY candidate")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q282_od_discovery"    -> (odDiscovery _),
    "q288_fd_g3"           -> (fdG3Error _),
    "q273_fd_discovery"    -> (fdDiscovery _),
    "q274_ind_discovery"   -> (indDiscovery _),
    "q237_winsorize"       -> (winsorizeStats _),
    "q184_benford_audit"   -> (benfordAudit _),
    "q185_hot_keys"        -> (hotKeys _),
    "q189_cms_accuracy"    -> (cmsAccuracy _),
    "q198_sample_aqp"      -> (sampleAqpGate _),
    "q07_invalid_counts"   -> (invalidCounts _),
    "q08_profile_stats"    -> (profileStats _),
    "q09_value_counts"     -> (valueCounts _),
    "q10_error_taxonomy"   -> (errorTaxonomy _),
    "q11_dup_doc_groups"   -> (dupDocGroups _),
    "q12_fk_orphans"       -> (fkOrphans _),
    "q13_union_by_name"    -> (unionByNameDiagonal _),
    "q14_placeholder_norm" -> (placeholderNormalization _),
    "q15_schema_presence"  -> (schemaPresence _),
    "q16_csv_roundtrip"    -> (csvRoundtrip _),
    "q147_jsonl_roundtrip" -> (graft.sources.JsonlSource.jsonlRoundtrip _),
    "q155_budget_select"   -> (budgetSelect _),
    "q157_dataset_card"    -> (datasetCard _),
    "q160_source_mix"      -> (sourceMix _),
    "q161_length_histogram" -> (lengthHistogram _),
    "q38_distinct_invalid" -> (distinctInvalidValues _),
    "q53_invalid_row_split" -> (invalidRowStats _),
    "q54_corrupt_records"  -> (corruptRecordStats _),
    "q41_hash_sample"      -> (deterministicSampleQ _),
    "q47_numeric_summary"  -> (numericSummaryQ _),
    "q48_stratified_sample" -> (stratifiedSampleQ _),
    "q62_hash_split"       -> (hashSplitQ _),
    "q63_seq_packing"      -> (seqPackingQ _),
    "q64_jsonl_corrupt"    -> (jsonlCorruptStats _),
    "q69_fuzzy_names"      -> (fuzzyNamePairs _),
    "q74_sniff_delimiter"  -> (sniffDelimiters _),
    "q81_mixture_sample"   -> (mixtureSampleQ _),
    "q137_temperature_mix" -> (temperatureMixQ _),
    "q82_sharded_packing"  -> (shardedPackingQ _),
    "q83_heavy_hitters"    -> (heavyHittersQ _),
    "q100_weighted_sample" -> (weightedSampleQ _),
    "q170_approx_distinct" -> (approxDistinctAccuracy _),
    "q171_all_null_drop"   -> (allNullDrop _),
    "q176_approx_percentile" -> (approxPercentileAccuracy _))

  val oracles: Map[String, String] = Map(
    "q273_fd_discovery"    -> fdDiscoverySql,
    "q282_od_discovery"    -> odDiscoverySql,
    "q288_fd_g3"           -> fdG3ErrorSql,
    "q274_ind_discovery"   -> indDiscoverySql,
    "q237_winsorize"       -> winsorizeStatsSql,
    "q184_benford_audit"   -> benfordAuditSql,
    "q185_hot_keys"        -> hotKeysSql,
    "q189_cms_accuracy"    -> cmsAccuracySql,
    "q198_sample_aqp"      -> sampleAqpGateSql,
    "q07_invalid_counts"   -> invalidCountsSql,
    "q08_profile_stats"    -> profileStatsSql,
    "q09_value_counts"     -> valueCountsSql,
    "q10_error_taxonomy"   -> errorTaxonomySql,
    "q11_dup_doc_groups"   -> dupDocGroupsSql,
    "q12_fk_orphans"       -> fkOrphansSql,
    "q13_union_by_name"    -> unionByNameDiagonalSql,
    "q14_placeholder_norm" -> placeholderNormalizationSql,
    "q15_schema_presence"  -> schemaPresenceSql,
    "q16_csv_roundtrip"    -> csvRoundtripSql,
    "q147_jsonl_roundtrip" -> graft.sources.JsonlSource.jsonlRoundtripSql,
    "q155_budget_select"   -> budgetSelectSql,
    "q157_dataset_card"    -> datasetCardSql,
    "q160_source_mix"      -> sourceMixSql,
    "q161_length_histogram" -> lengthHistogramSql,
    "q38_distinct_invalid" -> distinctInvalidValuesSql,
    "q53_invalid_row_split" -> invalidRowStatsSql,
    "q54_corrupt_records"  -> corruptRecordStatsSql,
    "q41_hash_sample"      -> deterministicSampleSql,
    "q47_numeric_summary"  -> numericSummarySql,
    "q48_stratified_sample" -> stratifiedSampleSql,
    "q62_hash_split"       -> hashSplitSql,
    "q63_seq_packing"      -> seqPackingSql,
    "q64_jsonl_corrupt"    -> jsonlCorruptStatsSql,
    "q69_fuzzy_names"      -> fuzzyNamePairsSql,
    "q74_sniff_delimiter"  -> sniffDelimitersSql,
    "q81_mixture_sample"   -> mixtureSampleSql,
    "q137_temperature_mix" -> temperatureMixSql,
    "q82_sharded_packing"  -> shardedPackingSql,
    "q83_heavy_hitters"    -> heavyHittersSql,
    "q100_weighted_sample" -> weightedSampleSql,
    "q170_approx_distinct" -> approxDistinctAccuracySql,
    "q171_all_null_drop"   -> allNullDropSql,
    "q176_approx_percentile" -> approxPercentileAccuracySql)
}
