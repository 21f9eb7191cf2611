package graft.operators

import graft.Tables
import graft.functions.Text
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Training-data pipeline operators (dedup, similarity search, text
  * analysis) wired as oracle-checkable queries over `documents` and
  * `embeddings`. */
object Llm {

  // Shared DuckDB CTE: tokens -> distinct 3-word shingles.
  private val shingleCte =
    """toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents%FILTER%),
      |idx AS (SELECT doc_id, t, unnest(generate_series(1, len(t)-2)) AS i FROM toks WHERE len(t) >= 3),
      |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s FROM idx),
      |sz AS (SELECT doc_id, COUNT(*) AS szn FROM sh GROUP BY 1)""".stripMargin

  // ---- q17: language ID (n-gram/stopword heuristic) ------------------
  // Two-projection form of Text.langId: each stopword regex_count runs
  // ONCE per document (the inlined CASE mentioned each count up to 3x
  // and Catalyst does no common-subtree elimination within one
  // projection — the before-plan carried 13 regexp_extract_all calls
  // per row, the after-plan carries 4 + one first-match rlike), and the
  // fan-out spreads the regex scan across every core instead of the
  // single task the one-row-group testdata file plans to. The second
  // select references each count column more than once, so
  // CollapseProject keeps the projections separate (non-cheap aliases
  // with multiple references are never inlined). Same predicted labels,
  // same counts — q17's oracle is unchanged.
  def langId(spark: SparkSession, dir: String): DataFrame =
    Tables.fanOut(Tables.documents(spark, dir).select("lang", "text"))
      .select(col("lang"),
        col("text").rlike(Text.cjkPattern).as("cjk"),
        Text.stopwordHits(col("text"), "en").as("s_en"),
        Text.stopwordHits(col("text"), "de").as("s_de"),
        Text.stopwordHits(col("text"), "fr").as("s_fr"),
        Text.stopwordHits(col("text"), "es").as("s_es"))
      .select(col("lang"),
        Text.langIdFrom(col("cjk"), col("s_en"), col("s_de"),
          col("s_fr"), col("s_es")).as("predicted"))
      .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted")

  val langIdSql: String = {
    val scores = Text.stopwords.map { case (l, pat) =>
      s"len(regexp_extract_all(text, '$pat')) AS s_$l"
    }.mkString(", ")
    s"""SELECT lang, predicted, COUNT(*) AS n FROM (
       |  SELECT lang, CASE
       |    WHEN len(regexp_extract_all(text, '${Text.cjkPattern}')) > 0 THEN 'zh'
       |    WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
       |    WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
       |    WHEN s_fr >= s_es THEN 'fr'
       |    ELSE 'es' END AS predicted
       |  FROM (SELECT lang, text, $scores FROM documents) s) p
       |GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin
  }

  // ---- q18: quality scoring (length/punct/stopword ratios) -----------
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir).filter(col("doc_id") < 100)
      .select(col("doc_id"),
        Text.tokenCount(col("text")).cast("long").as("n_tokens"),
        Text.subwordCount(col("text")).cast("long").as("n_subwords"),
        Text.punctCount(col("text")).cast("long").as("n_punct"),
        Text.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")
  }

  val qualityScoreSql: String = {
    val en = Text.stopwords.toMap.apply("en")
    s"""SELECT doc_id, CAST(tc AS BIGINT) AS n_tokens, CAST(sw AS BIGINT) AS n_subwords,
       |  CAST(pc AS BIGINT) AS n_punct,
       |  least(CAST(tc AS DOUBLE) / 100.0, 1.0) * 0.4
       |  + (1.0 - least(CAST(pc AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE) * 5.0, 1.0)) * 0.3
       |  + least(CAST(se AS DOUBLE) / greatest(CAST(tc AS DOUBLE), 1.0) * 5.0, 1.0) * 0.3 AS quality
       |FROM (SELECT doc_id, text,
       |    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS tc,
       |    len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\\s]')) AS sw,
       |    len(regexp_extract_all(text, '[.,;:!?]')) AS pc,
       |    len(regexp_extract_all(text, '$en')) AS se
       |  FROM documents WHERE doc_id < 100) t ORDER BY doc_id""".stripMargin
  }

  // ---- q19: content fingerprint (normalized md5) ---------------------
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).filter(col("doc_id") < 100)
      .select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  val fingerprintSql: String =
    """SELECT doc_id, md5(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
      |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin

  // ---- q20: exact dedup (hash-groupBy) -------------------------------
  // Round-17 measurement: a text-keyed Tables.fanOut before the md5
  // projection REGRESSED this lane (QProbe min 0.531 s vs 0.295 s
  // baseline) — at this corpus size the extra exchange + stage barrier
  // costs more than the single-task md5 pass it parallelizes, so the
  // direct form stays.
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactDedup(Tables.documents(spark, dir), "doc_id", "text")
      .agg(
        count(lit(1)).as("n_unique_texts"),
        sum("group_size").cast("long").as("n_docs"),
        (sum("group_size") - count(lit(1))).cast("long").as("n_removed"))

  val exactDedupSql: String =
    """SELECT COUNT(*) AS n_unique_texts, CAST(SUM(c) AS BIGINT) AS n_docs,
      |       CAST(SUM(c) - COUNT(*) AS BIGINT) AS n_removed
      |FROM (SELECT md5(text) AS h, COUNT(*) AS c FROM documents GROUP BY 1) g""".stripMargin

  // ---- q21: n-gram Jaccard all-pairs (inverted index) ----------------
  // The exact quadratic form is an explicit opt-in (exactAllPairs);
  // jaccardPairs' library default is the capped index (q39).
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactAllPairs(Tables.documents(spark, dir).filter(col("doc_id") < 300),
        "doc_id", "text", n = 3, threshold = 0.2)
      .orderBy("doc_a", "doc_b")

  val ngramJaccardSql: String =
    s"""WITH ${shingleCte.replace("%FILTER%", " WHERE doc_id < 300")},
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
       |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
       |SELECT doc_a, doc_b, CAST(c AS DOUBLE) / CAST(za.szn + zb.szn - c AS DOUBLE) AS jaccard
       |FROM inter JOIN sz za ON za.doc_id = doc_a JOIN sz zb ON zb.doc_id = doc_b
       |WHERE CAST(c AS DOUBLE) / CAST(za.szn + zb.szn - c AS DOUBLE) >= 0.2
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- q99: prefix-filtered Jaccard (PPJoin family) ------------------
  // Same exact result as q21 through rarest-first prefix candidates —
  // exact recall with no postings cap to tune; shares q21's oracle.
  def ngramJaccardPrefix(spark: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPrefixPairs(
        Tables.documents(spark, dir).filter(col("doc_id") < 300),
        "doc_id", "text", n = 3, threshold = 0.2)
      .orderBy("doc_a", "doc_b")

  // ---- q289: dedup threshold sensitivity curve ------------------------
  // "What does moving the near-dup threshold buy?" — the histogram of
  // verified pair similarities in 10%-bands, plus the distinct docs a
  // cut at each band would touch. Pipelines pick thresholds off this
  // curve (a cliff at 0.9 = boilerplate twins; a fat 0.5-0.7 shoulder =
  // paraphrase mass a 0.8 cut silently keeps). Bands are EXACT:
  // band = (|∩|·10) div |∪| from the integer stats the PPJoin verify
  // already carries — never floor(jaccard*10) on a double, whose ULP
  // sits exactly on the band edges (3/5 rounds below 0.6).
  //
  // Shape at scale: the pair frame is the q99 prefix-filtered join
  // (never all-pairs); both folds below run over PAIRS, so their cost
  // tracks the curve's own payload.
  def thresholdCurve(spark: SparkSession, dir: String): DataFrame =
    curveOf(Dedup.jaccardPrefixPairs(
      Tables.documents(spark, dir).filter(col("doc_id") < 300),
      "doc_id", "text", n = 3, threshold = 0.2, stats = true))

  /** Band fold over a (doc_a, doc_b, inter_n, union_n) pair frame —
    * factored so the spec can plant boundary pairs (3/5 must band 6). */
  private[graft] def curveOf(pairs: DataFrame): DataFrame = {
    val banded = pairs
      .withColumn("band", expr("inter_n * 10 div union_n"))
      .localCheckpoint(true) // pair count + doc fan-out both read it
    val np = banded.groupBy("band").agg(count(lit(1)).as("n_pairs"))
    val nd = banded
      .select(col("band"), explode(array(col("doc_a"), col("doc_b"))).as("d"))
      .distinct()
      .groupBy("band").agg(count(lit(1)).as("n_docs"))
    np.join(nd, "band").orderBy("band")
  }

  val thresholdCurveSql: String =
    s"""WITH ${shingleCte.replace("%FILTER%", " WHERE doc_id < 300")},
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
       |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |j AS (SELECT doc_a, doc_b, c, za.szn + zb.szn - c AS uni
       |      FROM inter JOIN sz za ON za.doc_id = doc_a
       |                 JOIN sz zb ON zb.doc_id = doc_b
       |      WHERE CAST(c AS DOUBLE) / CAST(za.szn + zb.szn - c AS DOUBLE)
       |            >= 0.2),
       |b AS (SELECT c * 10 // uni AS band, doc_a, doc_b FROM j),
       |np AS (SELECT band, COUNT(*) AS n_pairs FROM b GROUP BY 1),
       |nd AS (SELECT band, COUNT(*) AS n_docs FROM (
       |         SELECT DISTINCT band, doc FROM (
       |           SELECT band, doc_a AS doc FROM b
       |           UNION ALL SELECT band, doc_b FROM b))
       |       GROUP BY 1)
       |SELECT band, CAST(n_pairs AS BIGINT) AS n_pairs,
       |       CAST(n_docs AS BIGINT) AS n_docs
       |FROM np JOIN nd USING (band) ORDER BY band""".stripMargin

  // ---- q39: n-gram Jaccard with stop-shingle cap (scale guard) -------
  // Same subset as q21 but the candidate index drops shingles shared by
  // more than MaxPost docs (postings^2 guard); candidates still verify
  // with FULL exact Jaccard, so every reported value equals q21's.
  private val MaxPost = 20

  def ngramJaccardCapped(spark: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(Tables.documents(spark, dir).filter(col("doc_id") < 300),
        "doc_id", "text", n = 3, threshold = 0.2, maxPostings = MaxPost)
      .orderBy("doc_a", "doc_b")

  val ngramJaccardCappedSql: String =
    s"""WITH ${shingleCte.replace("%FILTER%", " WHERE doc_id < 300")},
       |hot AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) > $MaxPost),
       |keep AS (SELECT doc_id, s FROM sh WHERE s NOT IN (SELECT s FROM hot)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM keep a JOIN keep b ON a.s = b.s AND a.doc_id < b.doc_id),
       |inter AS (SELECT doc_a, doc_b, COUNT(*) AS c
       |          FROM cand JOIN sh sa ON sa.doc_id = doc_a
       |          JOIN sh sb ON sb.doc_id = doc_b AND sb.s = sa.s GROUP BY 1, 2)
       |SELECT doc_a, doc_b, CAST(c AS DOUBLE) / CAST(za.szn + zb.szn - c AS DOUBLE) AS jaccard
       |FROM inter JOIN sz za ON za.doc_id = doc_a JOIN sz zb ON zb.doc_id = doc_b
       |WHERE CAST(c AS DOUBLE) / CAST(za.szn + zb.szn - c AS DOUBLE) >= 0.2
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- q22: MinHash + LSH near-dup pipeline --------------------------
  private val NumHashes = 12
  private val Bands = 4

  private[graft] def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(Tables.documents(spark, dir), "doc_id", "text",
      n = 3, numHashes = NumHashes, bands = Bands, threshold = 0.5)

  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashPairs(spark, dir).orderBy("doc_a", "doc_b")

  /** q311: the DURABLE-index lane — identical pipeline to q22 but the
    * shingle index persists as a doc_id-bucketed catalog table
    * (Warehouse.writeBucketed) instead of an executor-pinned
    * localCheckpoint: the one 100 TB fault-tolerance gap the round-11
    * verdict named in the dedup stack. Gated by the SAME md5-lane
    * oracle as q22, so hash-equality with DuckDB doubles as the
    * checkpoint-vs-durable pair-set equality law at Verify scale
    * (MinhashDurableIndexSpec pins it at test scale and proves the
    * published index is reusable). */
  def minhashLshDurable(spark: SparkSession, dir: String): DataFrame = {
    // Since round 15 the DEFAULT durable path is the VERSIONED
    // IndexCatalog (round-14 verdict #2): get-or-publish keyed by the
    // source's metadata fingerprint (same data ⇒ reuse the published
    // shingle index, across processes; new data ⇒ mint the next
    // version), probe PINNED at the returned version (the q136
    // snapshot law — a concurrent rebuild is invisible), vacuum
    // reclaims superseded versions and crashed builds' directories.
    val fam = "lsh_q311"
    val v = Dedup.lshIndexGetOrPublish(spark,
      Tables.documents(spark, dir), "doc_id", "text", fam,
      fp = Tables.dirFingerprint(s"$dir/documents.parquet"), n = 3)
    graft.sources.IndexCatalog.vacuum(spark, fam)
    Dedup.minhashLshPairsFromCatalog(spark, fam, numHashes = NumHashes,
        bands = Bands, threshold = 0.5, version = v)
      .orderBy("doc_a", "doc_b")
  }

  /** The q22 pipeline's DEPLOYMENT-shape split, for the bench's
    * `q22_served` steady lane (round-16 verdict #2): the headline q22
    * lane pays the full shingle-index build per rep; a deployed
    * pipeline publishes the index once ([[minhashLshServedPrep]],
    * untimed) and serves every subsequent dedup pass off the pinned
    * catalog version ([[minhashLshServed]], the timed steady shape).
    * Identical operating point (n=3, 12 hashes, 4 bands, j≥0.5, md5
    * lane) so served-vs-build is a like-for-like cost split; NOT a
    * registry key — the 311-query surface stays frozen. */
  def minhashLshServedPrep(spark: SparkSession, dir: String,
                           family: String): Int =
    Dedup.lshIndexGetOrPublish(spark,
      Tables.documents(spark, dir), "doc_id", "text", family,
      fp = Tables.dirFingerprint(s"$dir/documents.parquet"), n = 3)

  def minhashLshServed(spark: SparkSession, family: String,
                       version: Int): DataFrame =
    Dedup.minhashLshPairsFromCatalog(spark, family, numHashes = NumHashes,
      bands = Bands, threshold = 0.5, version = version)

  // Twin on the PRODUCTION hash lane (seeded xxhash64 family, no md5
  // anywhere). The signatures aren't cross-engine reproducible, but the
  // OUTPUT is oracle-checkable anyway: every emitted jaccard is the
  // exact h64-set value from the verify join, so the md5-lane oracle
  // doubles as an end-to-end recall check on this band family
  // (MinhashXxLaneSpec additionally proves pair-set equality at test
  // scale).
  def minhashLshXx(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(Tables.documents(spark, dir), "doc_id", "text",
        n = 3, numHashes = NumHashes, bands = Bands, threshold = 0.5,
        family = Dedup.XxMinhash)
      .orderBy("doc_a", "doc_b")

  // ---- q166: LSH operating-point histogram ---------------------------
  // Candidate-pair exact-Jaccard distribution in decile bands — the
  // tuning artifact behind every threshold choice: how much pair mass
  // sits just under the 0.5 cut (near-misses a threshold bump would
  // drop), how much at 1.0 (exact dups LSH re-found). Banding is ALL
  // integer — floor(10*c / (sza+szb-c)) over the verify join's exact
  // intersection/size counts — so no float ever reaches the comparison
  // or the output. Cost is q22's candidate verify minus the threshold
  // filter plus a bands-sized aggregate: the same bucketed-by-
  // construction scale shape.
  def lshHistogram(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshCandidateCounts(Tables.documents(spark, dir),
        "doc_id", "text", n = 3, numHashes = NumHashes, bands = Bands)
      .select(expr("(10L * c) div (sza + szb - c)").as("band"))
      .groupBy("band").agg(count(lit(1)).as("n_pairs"))
      .orderBy("band")

  val lshHistogramSql: String = {
    val rows = NumHashes / Bands
    val minExprs = (0 until NumHashes)
      .map(i => s"MIN(substr(hh, ${i * 2 + 1}, 15)) AS m$i").mkString(", ")
    val bandSelects = (0 until Bands).map { b =>
      val key = (0 until rows).map(r => s"m${b * rows + r}").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, $key AS bkey FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH ${shingleCte.replace("%FILTER%", "")},
       |hsh AS (SELECT doc_id, md5(s) || md5(s) AS hh, s FROM sh),
       |sig AS (SELECT doc_id, $minExprs FROM hsh GROUP BY doc_id),
       |bands AS (
       |  $bandSelects),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
       |           AND a.doc_id < b.doc_id),
       |inter AS (SELECT doc_a, doc_b, COUNT(*) AS c
       |          FROM cand JOIN sh sa ON sa.doc_id = doc_a
       |          JOIN sh sb ON sb.doc_id = doc_b AND sb.s = sa.s GROUP BY 1, 2)
       |SELECT (10 * c) // (za.szn + zb.szn - c) AS band,
       |       CAST(COUNT(*) AS BIGINT) AS n_pairs
       |FROM inter JOIN sz za ON za.doc_id = doc_a JOIN sz zb ON zb.doc_id = doc_b
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  val minhashLshSql: String = {
    val rows = NumHashes / Bands
    // 15-hex-char windows (matching Dedup.minhashSignatures' int64 lane);
    // fixed-width hex string MIN picks the same argmin as Spark's int64 MIN.
    val minExprs = (0 until NumHashes)
      .map(i => s"MIN(substr(hh, ${i * 2 + 1}, 15)) AS m$i").mkString(", ")
    val bandSelects = (0 until Bands).map { b =>
      val key = (0 until rows).map(r => s"m${b * rows + r}").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, $key AS bkey FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH ${shingleCte.replace("%FILTER%", "")},
       |hsh AS (SELECT doc_id, md5(s) || md5(s) AS hh, s FROM sh),
       |sig AS (SELECT doc_id, $minExprs FROM hsh GROUP BY doc_id),
       |bands AS (
       |  $bandSelects),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
       |           AND a.doc_id < b.doc_id),
       |inter AS (SELECT doc_a, doc_b, COUNT(*) AS c
       |          FROM cand JOIN sh sa ON sa.doc_id = doc_a
       |          JOIN sh sb ON sb.doc_id = doc_b AND sb.s = sa.s GROUP BY 1, 2)
       |SELECT doc_a, doc_b, CAST(c AS DOUBLE) / CAST(za.szn + zb.szn - c AS DOUBLE) AS jaccard
       |FROM inter JOIN sz za ON za.doc_id = doc_a JOIN sz zb ON zb.doc_id = doc_b
       |WHERE CAST(c AS DOUBLE) / CAST(za.szn + zb.szn - c AS DOUBLE) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---- q213: embedding hygiene audit ---------------------------------
  // The QA pass every ANN/semantic-dedup build should run FIRST: per
  // label, vector count, dimension conformance (exactly 64), zero-
  // vector count (a zero norm poisons cosine), and the norm profile
  // (min/max/sum of 6-place-rounded L2 norms — sqrt is IEEE
  // correctly-rounded and the dot runs in fixed index order on both
  // engines, the proven q24 channel, so the profile hash-matches).
  // One codegen'd projection + one grouped aggregate.
  def embeddingAudit(spark: SparkSession, dir: String): DataFrame = {
    val v = col("embedding").cast("array<double>")
    val nrm = round(sqrt(graft.plans.GraftFunctions.graft_dot(v, v)), 6)
    Tables.embeddings(spark, dir)
      .select(col("label"), size(v).as("d"), nrm.as("nrm"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("d") === 64, 1L).otherwise(0L)).as("n_dim_ok"),
        sum(when(col("nrm") === 0.0, 1L).otherwise(0L)).as("n_zero"),
        min("nrm").as("min_norm"),
        max("nrm").as("max_norm"),
        sum(col("nrm").cast("decimal(18,6)")).cast("double").as("sum_norm"))
      .orderBy("label")
  }

  val embeddingAuditSql: String =
    """WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings),
      |n AS (SELECT label, len(v) AS d,
      |        round(sqrt(list_inner_product(v, v)), 6) AS nrm FROM e)
      |SELECT label, COUNT(*) AS n_vecs,
      |       CAST(SUM(CASE WHEN d = 64 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_dim_ok,
      |       CAST(SUM(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_zero,
      |       MIN(nrm) AS min_norm, MAX(nrm) AS max_norm,
      |       CAST(SUM(CAST(nrm AS DECIMAL(18,6))) AS DOUBLE) AS sum_norm
      |FROM n GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q199: LSH recall confusion gate -------------------------------
  // The dedup-QA row: on the bounded q21 subset (doc_id < 300, where
  // exact all-pairs is affordable), compare the q22 MinHash+LSH pair
  // set against ground truth (exact n-gram Jaccard >= 0.5) as a full
  // confusion count — true pairs, found pairs, hits, misses, and false
  // positives. Post-verify LSH can only miss (candidates that hit no
  // band), never fabricate — n_false is structurally 0 and the gate
  // PROVES it rather than asserting it. recall_ppm is the measured
  // operating point of the (numHashes=12, bands=4) dial that q166
  // histograms; RecallSpec pins a floor, this row pins the exact
  // number, cross-engine.
  //
  // Scale note: the exact lane is the quadratic opt-in (evaluation
  // harness on a bounded sample — exactly how a production pipeline
  // estimates its dedup recall: on a sample, never the corpus).
  def lshRecallGate(spark: SparkSession, dir: String): DataFrame = {
    val sub = Tables.documents(spark, dir).filter(col("doc_id") < 300)
    val exact = Dedup.exactAllPairs(sub, "doc_id", "text",
        n = 3, threshold = 0.5)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("e"))
    val lsh = Dedup.minhashLshPairs(sub, "doc_id", "text", n = 3,
        numHashes = NumHashes, bands = Bands, threshold = 0.5)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("l"))
    exact.join(lsh, Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        sum(coalesce(col("e"), lit(0L))).as("n_true"),
        sum(coalesce(col("l"), lit(0L))).as("n_found"),
        sum(when(col("e").isNotNull && col("l").isNotNull, 1L).otherwise(0L))
          .as("n_tp"),
        sum(when(col("e").isNotNull && col("l").isNull, 1L).otherwise(0L))
          .as("n_missed"),
        sum(when(col("e").isNull && col("l").isNotNull, 1L).otherwise(0L))
          .as("n_false"))
      .select(col("n_true"), col("n_found"), col("n_tp"), col("n_missed"),
        col("n_false"),
        expr("n_tp * 1000000 div greatest(n_true, 1)").as("recall_ppm"))
  }

  val lshRecallGateSql: String = {
    val rows = NumHashes / Bands
    val minExprs = (0 until NumHashes)
      .map(i => s"MIN(substr(hh, ${i * 2 + 1}, 15)) AS m$i").mkString(", ")
    val bandSelects = (0 until Bands).map { b =>
      val key = (0 until rows).map(r => s"m${b * rows + r}").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, $key AS bkey FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH ${shingleCte.replace("%FILTER%", " WHERE doc_id < 300")},
       |einter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
       |           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |           GROUP BY 1, 2),
       |epairs AS (SELECT doc_a, doc_b FROM einter
       |           JOIN sz za ON za.doc_id = doc_a
       |           JOIN sz zb ON zb.doc_id = doc_b
       |           WHERE CAST(c AS DOUBLE) / CAST(za.szn + zb.szn - c AS DOUBLE) >= 0.5),
       |hsh AS (SELECT doc_id, md5(s) || md5(s) AS hh, s FROM sh),
       |sig AS (SELECT doc_id, $minExprs FROM hsh GROUP BY doc_id),
       |bands AS (
       |  $bandSelects),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
       |           AND a.doc_id < b.doc_id),
       |linter AS (SELECT doc_a, doc_b, COUNT(*) AS c
       |           FROM cand JOIN sh sa ON sa.doc_id = doc_a
       |           JOIN sh sb ON sb.doc_id = doc_b AND sb.s = sa.s GROUP BY 1, 2),
       |lpairs AS (SELECT doc_a, doc_b FROM linter
       |           JOIN sz za ON za.doc_id = doc_a
       |           JOIN sz zb ON zb.doc_id = doc_b
       |           WHERE CAST(c AS DOUBLE) / CAST(za.szn + zb.szn - c AS DOUBLE) >= 0.5),
       |fj AS (SELECT e.doc_a IS NOT NULL AS ine, l.doc_a IS NOT NULL AS inl
       |       FROM epairs e FULL OUTER JOIN lpairs l
       |         ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b)
       |SELECT CAST(SUM(CASE WHEN ine THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       |       CAST(SUM(CASE WHEN inl THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
       |       CAST(SUM(CASE WHEN ine AND inl THEN 1 ELSE 0 END) AS BIGINT) AS n_tp,
       |       CAST(SUM(CASE WHEN ine AND NOT inl THEN 1 ELSE 0 END) AS BIGINT) AS n_missed,
       |       CAST(SUM(CASE WHEN NOT ine AND inl THEN 1 ELSE 0 END) AS BIGINT) AS n_false,
       |       CAST(SUM(CASE WHEN ine AND inl THEN 1 ELSE 0 END) * 1000000
       |            // greatest(SUM(CASE WHEN ine THEN 1 ELSE 0 END), 1) AS BIGINT)
       |         AS recall_ppm
       |FROM fj""".stripMargin
  }

  // ---- q40: near-dup clusters (connected components over q22 pairs) --
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    Dedup.dedupClusters(minhashPairs(spark, dir)).orderBy("canonical_doc")

  // The oracle computes the same components with a recursive CTE
  // (reachability closure -> min reachable id), a genuinely different
  // algorithm from the Spark side's label propagation — agreement means
  // the clustering itself is right, not just reimplemented twice.
  val dedupClustersSql: String =
    s"""WITH RECURSIVE pairs AS ($minhashLshSql),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |nodes AS (SELECT DISTINCT a AS doc FROM edges),
       |reach(src, dst) AS (
       |  SELECT doc, doc FROM nodes
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst),
       |labels AS (SELECT src AS doc_id, MIN(dst) AS rep FROM reach GROUP BY 1)
       |SELECT rep AS canonical_doc, CAST(COUNT(*) AS BIGINT) AS cluster_size
       |FROM labels GROUP BY 1 HAVING COUNT(*) > 1
       |ORDER BY canonical_doc""".stripMargin

  // ---- q109: cluster-size histogram (dedup diagnostics) --------------
  // The distribution of near-dup cluster sizes — the first thing a
  // curation run inspects (a fat tail means a boilerplate family or a
  // bucketing bug). One extra grouped count over q40's clusters; the
  // oracle extends the same recursive-CTE closure.
  def clusterSizeHistogram(spark: SparkSession, dir: String): DataFrame =
    Dedup.dedupClusters(minhashPairs(spark, dir))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"))
      .orderBy("cluster_size")

  val clusterSizeHistogramSql: String =
    s"""WITH RECURSIVE pairs AS ($minhashLshSql),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |nodes AS (SELECT DISTINCT a AS doc FROM edges),
       |reach(src, dst) AS (
       |  SELECT doc, doc FROM nodes
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst),
       |labels AS (SELECT src AS doc_id, MIN(dst) AS rep FROM reach GROUP BY 1),
       |sizes AS (SELECT rep, COUNT(*) AS cluster_size FROM labels
       |          GROUP BY 1 HAVING COUNT(*) > 1)
       |SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
       |FROM sizes GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q135: dedup-aware (cluster-atomic) train/val/test split -------
  // The leakage-proof split: near-dups must never straddle splits (a
  // test doc with a train near-twin is benchmark contamination from
  // the inside), so the unit of assignment is the near-dup CLUSTER,
  // not the document — each doc inherits the md5 hash-split (q62's
  // exact channel) of its CC representative; singletons are their own
  // cluster. Leakage-freedom is STRUCTURAL: any near-dup pair shares a
  // rep, hence a split, by construction. Cost over the plain doc-hash
  // split is one left join against the CC labels — a pairs-sized
  // (dirty-sliver) frame, not a corpus-sized one; the split decision
  // itself stays zero-shuffle.
  def clusterSplit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val labels = Dedup.componentsAdaptive(minhashPairs(spark, dir)) match {
      case Dedup.Components(l, _, converged) =>
        if (!converged)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            "clusterSplit: CC hit maxIter without converging; splits of " +
              "partially-merged components may straddle")
        l
    }
    docs.join(labels, Seq("doc_id"), "left")
      .withColumn("rep", coalesce(col("rep"), col("doc_id")))
      .withColumn("split",
        graft.functions.Sampling.hashSplit(col("rep"), 0.8, 0.1))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").cast("long").as("n_chars"),
        countDistinct("rep").as("n_clusters"))
      .orderBy("split")
  }

  val clusterSplitSql: String = {
    val t1 = (0.8 * 4294967296.0).toLong
    val t2 = (0.9 * 4294967296.0).toLong
    s"""WITH RECURSIVE pairs AS ($minhashLshSql),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |nodes AS (SELECT DISTINCT a AS doc FROM edges),
       |reach(src, dst) AS (
       |  SELECT doc, doc FROM nodes
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst),
       |labels AS (SELECT src AS doc_id, MIN(dst) AS rep FROM reach GROUP BY 1),
       |lab AS (SELECT d.doc_id, COALESCE(l.rep, d.doc_id) AS rep, d.n_chars
       |        FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id),
       |spl AS (SELECT rep, n_chars,
       |          CASE WHEN h < $t1 THEN 'train'
       |               WHEN h < $t2 THEN 'val' ELSE 'test' END AS split
       |        FROM (SELECT rep, n_chars,
       |                ('0x' || substr(md5(CAST(rep AS VARCHAR)), 1, 8))::BIGINT AS h
       |              FROM lab) t)
       |SELECT split, COUNT(*) AS n_docs,
       |       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       |       CAST(COUNT(DISTINCT rep) AS BIGINT) AS n_clusters
       |FROM spl GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---- q140: incremental component maintenance (continuous dedup) ----
  // q40's clustering as a maintenance problem: the corpus labeling
  // already exists (built from the pairs among the 90% standing docs),
  // and the 1-in-10 "new arrivals" contribute fresh pairs. The
  // incremental fold contracts touched components to supernodes and
  // runs CC over new-pairs-sized state only — then must produce
  // EXACTLY q40's from-scratch clustering, which is what the oracle
  // (the same recursive-CTE closure over ALL pairs) checks.
  def incrementalCC(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashPairs(spark, dir).localCheckpoint(true)
    val isNew = col("doc_a") % 10 === 0 || col("doc_b") % 10 === 0
    val base = Dedup.starContractComponents(pairs.filter(!isNew)).labels
    Dedup.clustersFromLabels(
        Dedup.incrementalComponents(base, pairs.filter(isNew)))
      .orderBy("canonical_doc")
  }

  // ---- q141: STREAMING incremental clustering (continuous dedup) -----
  // q140's fold as a live stream: the base labeling stands, arriving
  // docs pair against the growing persisted index AND among
  // themselves, and every microbatch folds its pairs into the labels
  // — the full continuous-dedup state machine. Must still equal q40's
  // from-scratch clustering exactly (same closure oracle).
  def streamIncrementalCc(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamOps
    val docs = Tables.documents(spark, dir)
    val tag = math.abs(dir.hashCode).toString
    val idxPath = graft.Scratch.dir(s"incc_idx_$tag")
    val fileSchema = Tables.fileSchema(spark, dir, "documents")
    val src = spark.readStream.schema(fileSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .filter(col("doc_id") % 10 === 0)
    StreamOps.streamIncrementalClusters(
        docs.filter(col("doc_id") % 10 =!= 0), src, idxPath,
        n = 3, numHashes = NumHashes, bands = Bands, threshold = 0.5)
      .orderBy("canonical_doc")
  }

  // ---- q59: deduplicated corpus (the endgame over q22+q40) -----------
  // Survivors = every doc except non-canonical cluster members. The
  // oracle derives the same survivor set through the recursive-CTE
  // closure — an independent algorithm end to end.
  def dedupedCorpus(spark: SparkSession, dir: String): DataFrame =
    Dedup.dedupedCorpus(Tables.documents(spark, dir), "doc_id",
        minhashPairs(spark, dir))
      .select("doc_id").orderBy("doc_id")

  val dedupedCorpusSql: String =
    s"""WITH RECURSIVE pairs AS ($minhashLshSql),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |nodes AS (SELECT DISTINCT a AS doc FROM edges),
       |reach(src, dst) AS (
       |  SELECT doc, doc FROM nodes
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst),
       |labels AS (SELECT src AS doc_id, MIN(dst) AS rep FROM reach GROUP BY 1)
       |SELECT d.doc_id FROM documents d
       |WHERE d.doc_id NOT IN (SELECT doc_id FROM labels WHERE doc_id <> rep)
       |ORDER BY d.doc_id""".stripMargin

  // ---- q61: STREAMING near-dup candidates (stream == batch parity) ---
  // The incremental LSH bucketing must surface exactly the candidate
  // set the batch pipeline derives — the oracle is q22's candidate CTE.
  def streamingNearDup(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamOps.streamingNearDupCandidates(spark, dir,
      n = 3, numHashes = NumHashes, bands = Bands)

  /** q245: the q61 stateful near-dup pipeline executed under the
    * ROCKSDB state store — the provider a 100 TB streaming deployment
    * actually runs (HDFS-backed keeps state on the executor heap;
    * RocksDB spills to local SSD with changelog checkpoints). The
    * oracle is IDENTICAL to q61's: the state-store provider is an
    * execution detail, and this gate hash-pins that swapping it
    * changes nothing. The cloned-session wrapper keeps the provider
    * conf off the shared session (Verify runs queries concurrently).
    * Multi-microbatch RocksDB state (pairs emitted from RESTORED
    * RocksDB state across batches and across a query restart) is
    * law-checked in RocksDbStateSpec; per-batch state-size metrics
    * are recorded by the q61_stream_rocksdb bench lane. */
  def streamingNearDupRocksDb(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamOps.withStateStore(spark,
        graft.streaming.StreamOps.RocksDbProvider) { s2 =>
      graft.streaming.StreamOps.streamingNearDupCandidates(s2, dir,
        n = 3, numHashes = NumHashes, bands = Bands)
    }

  val streamingNearDupSql: String = {
    val rows = NumHashes / Bands
    val minExprs = (0 until NumHashes)
      .map(i => s"MIN(substr(hh, ${i * 2 + 1}, 15)) AS m$i").mkString(", ")
    val bandSelects = (0 until Bands).map { b =>
      val key = (0 until rows).map(r => s"m${b * rows + r}").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, $key AS bkey FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH ${shingleCte.replace("%FILTER%", "")},
       |hsh AS (SELECT doc_id, md5(s) || md5(s) AS hh FROM sh),
       |sig AS (SELECT doc_id, $minExprs FROM hsh GROUP BY doc_id),
       |bands AS (
       |  $bandSelects),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
       |           AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b FROM cand ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---- q70: survivor-policy dedup (keep the LONGEST cluster member) --
  def dedupedKeepLongest(spark: SparkSession, dir: String): DataFrame =
    Dedup.dedupedCorpusBy(Tables.documents(spark, dir), "doc_id",
        minhashPairs(spark, dir), prefer = col("n_chars"))
      .select("doc_id").orderBy("doc_id")

  val dedupedKeepLongestSql: String =
    s"""WITH RECURSIVE pairs AS ($minhashLshSql),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |nodes AS (SELECT DISTINCT a AS doc FROM edges),
       |reach(src, dst) AS (
       |  SELECT doc, doc FROM nodes
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst),
       |labels AS (SELECT src AS doc_id, MIN(dst) AS rep FROM reach GROUP BY 1),
       |lab AS (SELECT d.doc_id, COALESCE(l.rep, d.doc_id) AS rep, d.n_chars
       |        FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id),
       |ranked AS (SELECT doc_id,
       |    row_number() OVER (PARTITION BY rep
       |      ORDER BY n_chars DESC, doc_id ASC) AS rn
       |  FROM lab)
       |SELECT doc_id FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin

  // ---- q73: cross-corpus (incremental-ingest) near-dup ---------------
  // Which "incoming" documents (doc_id >= 250) duplicate something in
  // the "existing" corpus (doc_id < 250): new-vs-old band join only.
  def crossCorpusNearDup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Dedup.minhashLshPairsAgainst(
        docs.filter(col("doc_id") >= 250), docs.filter(col("doc_id") < 250),
        "doc_id", "text", n = 3, numHashes = NumHashes, bands = Bands,
        threshold = 0.5)
      .orderBy("doc_a", "doc_b")
  }

  // ---- q79: vocabulary build (tokenizer-training prep) ---------------
  // Corpus token frequencies -> surviving vocab (n >= minCount) with
  // deterministic frequency-ranked ids — the input every tokenizer
  // trainer consumes. Scale shape: one explode + one groupBy over the
  // corpus (map-side combinable counts); the ranking runs over the
  // aggregated vocab — which at the 100 TB north-star (minCount=5 on a
  // web corpus) is still 10^8-10^9 distinct tokens, so it uses the
  // distributed ranker (range-repartition + per-partition rank +
  // prefix offsets, Ranking.scala) — no single-partition ORDER BY
  // window anywhere in the plan.
  private val VocabMinCount = 5L

  def vocab(docs: DataFrame, textCol: String, minCount: Long): DataFrame = {
    val agg = docs.select(explode(Text.tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
    graft.functions.Ranking
      .globalRowNumberSorted(agg, Seq(desc("n"), asc("token")), "token_id")
      .withColumn("token_id", col("token_id") - 1L)
  }

  def buildVocab(spark: SparkSession, dir: String): DataFrame =
    vocab(Tables.documents(spark, dir), "text", VocabMinCount)
      .orderBy("token_id")

  val buildVocabSql: String =
    s"""WITH toks AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
       |              FROM documents),
       |cnt AS (SELECT token, COUNT(*) AS n FROM toks
       |        GROUP BY 1 HAVING COUNT(*) >= $VocabMinCount)
       |SELECT token, n,
       |       CAST(row_number() OVER (ORDER BY n DESC, token ASC) - 1 AS BIGINT) AS token_id
       |FROM cnt ORDER BY token_id""".stripMargin

  // ---- q286: Zipf rank-frequency audit --------------------------------
  // Zipf's law (public literature) says rank x frequency is roughly
  // constant; a corpus whose r*f curve bends sharply is the signature
  // of template/boilerplate flooding (head too heavy) or tokenizer
  // breakage (tail too heavy) — the audit a crawl pipeline runs before
  // committing a snapshot to training. Per rank-decile of the q79
  // frequency-ranked vocab (minCount 1): token count, min/max/mean of
  // r*f, and the decile's token-mass share. All integer: mean is a
  // floor division, r*f stays in int64 for any real corpus (rf ~ total
  // token count; rank and frequency can't both be large).
  //
  // Shape at scale: the corpus pass is q79's explode+groupBy; the
  // ranking is the distributed range-partition ranker (no single-
  // partition window); the decile fold is ONE map-side-combinable
  // groupBy over the vocab frame. No windows after the rank.
  def zipfAudit(spark: SparkSession, dir: String): DataFrame = {
    val v = vocab(Tables.documents(spark, dir), "text", 1L)
      .select(col("token"), col("n").as("f"), (col("token_id") + 1L).as("r"))
      .localCheckpoint(true) // consumed twice: driver count + decile fold
    zipfOf(v, v.count())
  }

  /** Decile fold over a (f, r) ranked-vocab frame — factored so the
    * spec can plant a perfect C div r curve and read C back. */
  private[graft] def zipfOf(ranked: DataFrame, nVocab: Long): DataFrame =
    ranked
      .withColumn("decile", expr(s"(r - 1) * 10 div ${nVocab}L + 1"))
      .withColumn("rf", col("r") * col("f"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_tokens"),
        min("rf").as("min_rf"), max("rf").as("max_rf"),
        expr("sum(rf) div count(1)").as("mean_rf"),
        sum("f").as("sum_f"))
      .orderBy("decile")

  val zipfAuditSql: String =
    """WITH toks AS (SELECT unnest(regexp_extract_all(lower(text),
      |                     '[a-z0-9]+')) AS token FROM documents),
      |cnt AS (SELECT token, COUNT(*) AS f FROM toks GROUP BY 1),
      |rk AS (SELECT f, CAST(row_number() OVER (ORDER BY f DESC, token ASC)
      |                 AS BIGINT) AS r FROM cnt),
      |d AS (SELECT (r - 1) * 10 // (SELECT COUNT(*) FROM cnt) + 1 AS decile,
      |             r * f AS rf, f FROM rk)
      |SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |       CAST(MIN(rf) AS BIGINT) AS min_rf,
      |       CAST(MAX(rf) AS BIGINT) AS max_rf,
      |       CAST(SUM(rf) // COUNT(*) AS BIGINT) AS mean_rf,
      |       CAST(SUM(f) AS BIGINT) AS sum_f
      |FROM d GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q143: BPE merge training (tokenizer prep) ----------------------
  // Deterministic byte-pair-encoding merge-rank trainer — the step that
  // turns q79's word histogram into an actual subword tokenizer (the
  // tokenizer-training-prep story: Sennrich et al. 2016, public
  // literature). Each round finds the most frequent adjacent symbol
  // pair across the vocabulary (weighted by word count; ties broken
  // lexicographically on (lhs, rhs) so the merge sequence is unique)
  // and fuses it everywhere, greedy left-to-right.
  //
  // Scale shape — the reason merge training is feasible at 100 TB at
  // all: the ONLY corpus-sized job is the word histogram (one
  // map-side-combinable groupBy, shared with q79). The k merge rounds
  // run over the AGGREGATED vocab (10^8-ish rows on a web corpus, with
  // counts standing in for the petabytes of text), each round one
  // small explode+groupBy plus a 1-row argmax to the driver — the
  // bounded-collect pattern (a merge decision is inherently global
  // and 1 row; this is how every production BPE trainer works).
  //
  // Each symbol is wrapped in its OWN delimiter pair ('the' ->
  // '|t||h||e|'); tokens are [a-z0-9]+ so '|' can never occur inside a
  // symbol, which makes the merge rewrite a plain (codegen'd) string
  // replace: '|l||r|' -> '|lr|'. The per-symbol wrapping matters:
  // adjacent pair occurrences then match DISJOINT substrings, so
  // replace()'s left-to-right non-overlapping scan is EXACTLY the
  // canonical greedy merge (merge, skip both symbols, continue) — a
  // run '|a||a||a||a||a|' becomes [aa, aa, a], byte-identical in both
  // engines. (A shared-delimiter encoding '|a|a|a|' would instead
  // consume the middle delimiter and silently skip every other
  // occurrence on runs >= 4 — caught by the PropertySpec random-
  // histogram law.) Pair COUNTING counts every adjacent position (the
  // classic formulation); both engines count identically, so the
  // argmax agrees even on self-overlapping runs.
  private val BpeMergeK = 12

  /** Train `k` merges; returns (final segmented vocab `(seq, n)`, the
    * merge list). The final vocab is what the apply/serve side consumes
    * (q144 subword histogram, q145 corpus tokenization cost). */
  private def bpeTrain(docs: DataFrame, textCol: String, k: Int,
                       minCount: Long)
      : (DataFrame, Seq[(Long, String, String, Long)]) = {
    // corpus -> word histogram (the one corpus-sized job), then each
    // word to its delimited character sequence. Checkpointed: every
    // merge round rescans it.
    val words = docs.select(explode(Text.tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .select(regexp_replace(col("word"), "(.)", "\\|$1\\|").as("seq"),
        col("n"))
      .localCheckpoint(true)
    var cur = words
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var i = 0
    var exhausted = false
    while (i < k && !exhausted) {
      // adjacent symbol pairs, weighted by word count; the size>=2
      // guard matters because Spark's sequence(1, 0) is the DESCENDING
      // [1, 0], not empty
      val best = cur
        .select(col("n"),
          expr("filter(split(seq, '\\\\|'), x -> x != '')").as("syms"))
        .filter(size(col("syms")) >= 2)
        .select(col("n"), col("syms"),
          explode(sequence(lit(1), size(col("syms")) - 1)).as("pos"))
        .select(col("n"),
          element_at(col("syms"), col("pos")).as("lhs"),
          element_at(col("syms"), col("pos") + 1).as("rhs"))
        .groupBy("lhs", "rhs").agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("lhs").asc, col("rhs").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, c) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((i + 1L, l, r, c))
        cur = cur.withColumn("seq", call_function("replace", col("seq"),
          lit("|" + l + "||" + r + "|"), lit("|" + l + r + "|")))
        // flatten the accumulating replace chain periodically so round
        // i pays O(1) rewrites per row, not O(i)
        if ((i + 1) % 6 == 0) cur = cur.localCheckpoint(true)
        i += 1
      }
    }
    (cur, merges.toSeq)
  }

  def bpeMergeTable(docs: DataFrame, textCol: String, k: Int,
                    minCount: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeTrain(docs, textCol, k, minCount)._2
      .toDF("merge_rank", "lhs", "rhs", "pair_count")
  }

  def bpeMerges(spark: SparkSession, dir: String): DataFrame =
    bpeMergeTable(Tables.documents(spark, dir), "text", BpeMergeK,
      VocabMinCount).orderBy("merge_rank")

  // ---- q144/q145: applying the trained tokenizer ----------------------
  // The serve side of BPE: q144 is the subword vocabulary the merges
  // induce (the token histogram a sampler or packer would weight by);
  // q145 is the corpus tokenization cost — BPE tokens per document,
  // replacing the heuristic `subwordCount` stand-in with the REAL count
  // under the trained merges. In-vocab words read their segment count
  // off the trained table (one vocab-sized dim join — AQE broadcasts it
  // at dim size, hash-joins it at web-vocab size); out-of-vocab words
  // (below minCount, so no merge was trained FROM them) fall back to
  // character count — the untrained-BPE limit, where every symbol is a
  // single character.

  /** Subword token histogram after `k` merges: explode the trained
    * vocab's segmented sequences, weight by word count, top `topK` by
    * (occurrences desc, token asc). */
  def bpeSubwordVocab(docs: DataFrame, textCol: String, k: Int,
                      minCount: Long, topK: Int): DataFrame =
    bpeTrain(docs, textCol, k, minCount)._1
      .select(col("n"),
        explode(expr("filter(split(seq, '\\\\|'), x -> x != '')"))
          .as("subword"))
      .groupBy("subword").agg(sum(col("n")).as("n_occ"))
      .orderBy(col("n_occ").desc, col("subword").asc)
      .limit(topK)

  /** Per-document BPE token count under the trained merges. */
  def bpeTokenCount(docs: DataFrame, idCol: String, textCol: String,
                    k: Int, minCount: Long): DataFrame = {
    val seg = bpeTrain(docs, textCol, k, minCount)._1
      .select(
        // the word is its sequence with delimiters stripped
        call_function("replace", col("seq"), lit("|"), lit("")).as("word"),
        size(expr("filter(split(seq, '\\\\|'), x -> x != '')"))
          .cast("long").as("n_sub"))
    docs.select(col(idCol), explode(Text.tokens(col(textCol))).as("word"))
      .join(seg, Seq("word"), "left")
      .groupBy(idCol)
      .agg(sum(coalesce(col("n_sub"), length(col("word")).cast("long")))
        .as("n_bpe_tokens"))
      .orderBy(idCol)
  }

  def bpeVocabQ(spark: SparkSession, dir: String): DataFrame =
    bpeSubwordVocab(Tables.documents(spark, dir), "text", BpeMergeK,
      VocabMinCount, topK = 40)

  def bpeTokenCountQ(spark: SparkSession, dir: String): DataFrame =
    bpeTokenCount(Tables.documents(spark, dir), "doc_id", "text",
      BpeMergeK, VocabMinCount)

  /** Tokenizer fertility by language — BPE tokens per word, the
    * standard tokenizer-evaluation metric (a tokenizer trained on one
    * language mix over-segments the languages it under-saw; fertility
    * per language is how that is measured and how mixes get rebalanced).
    * Integer-exact: per-mille fertility via `(1000 * n_bpe) div
    * n_words` — no float division anywhere. Completes the tokenizer
    * story: train (q143) -> apply (q144/q145) -> evaluate (q153). */
  def bpeFertility(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val seg = bpeTrain(docs, "text", BpeMergeK, VocabMinCount)._1
      .select(
        call_function("replace", col("seq"), lit("|"), lit("")).as("word"),
        size(expr("filter(split(seq, '\\\\|'), x -> x != '')"))
          .cast("long").as("n_sub"))
    docs.select(col("lang"), explode(Text.tokens(col("text"))).as("word"))
      .join(seg, Seq("word"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"),
        sum(coalesce(col("n_sub"), length(col("word")).cast("long")))
          .as("n_bpe_tokens"))
      .withColumn("fertility_permille",
        expr("(1000L * n_bpe_tokens) div n_words"))
      .orderBy(col("lang").asc_nulls_first)
  }

  def bpeFertilitySql(k: Int, minCount: Long): String =
    bpeChainSql(k, minCount) +
      s""",
         |wl AS (SELECT replace(seq, '|', '') AS word,
         |              CAST(len(list_filter(string_split(seq, '|'), x -> x <> '')) AS BIGINT) AS n_sub
         |       FROM w$k),
         |tok AS (SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
         |        FROM documents)
         |SELECT lang, COUNT(*) AS n_words,
         |  CAST(SUM(COALESCE(n_sub, len(word))) AS BIGINT) AS n_bpe_tokens,
         |  CAST((1000 * SUM(COALESCE(n_sub, len(word)))) // COUNT(*) AS BIGINT) AS fertility_permille
         |FROM tok LEFT JOIN wl USING (word)
         |GROUP BY 1 ORDER BY lang NULLS FIRST""".stripMargin

  /** The k-stage unrolled CTE chain shared by the q143/q144/q145/q153
    * oracles: stage i picks the argmax pair over w(i-1) and rewrites
    * w(i-1) -> w(i) with the identical delimited replace. w/p CTEs are
    * MATERIALIZED — each is referenced twice (by p(i+1) and w(i+1)), so
    * inlining would expand the chain 2^k-fold. */
  private def bpeChainSql(k: Int, minCount: Long): String = {
    val head =
      s"""WITH w0 AS MATERIALIZED (
         |  SELECT regexp_replace(word, '(.)', '|\\1|', 'g') AS seq, n FROM (
         |    SELECT word, COUNT(*) AS n FROM (
         |      SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
         |      FROM documents)
         |    GROUP BY 1 HAVING COUNT(*) >= $minCount))""".stripMargin
    val stages = (1 to k).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT lhs, rhs, cnt FROM (
         |    SELECT syms[pos] AS lhs, syms[pos+1] AS rhs, SUM(n) AS cnt FROM (
         |      SELECT unnest(generate_series(1, len(syms) - 1)) AS pos, syms, n FROM (
         |        SELECT list_filter(string_split(seq, '|'), x -> x <> '') AS syms, n
         |        FROM w${i - 1}))
         |    GROUP BY 1, 2)
         |  ORDER BY cnt DESC, lhs, rhs LIMIT 1),
         |w$i AS MATERIALIZED (
         |  SELECT replace(seq, '|' || lhs || '||' || rhs || '|',
         |                 '|' || lhs || rhs || '|') AS seq, n
         |  FROM w${i - 1}, p$i),
         |m$i AS (SELECT CAST($i AS BIGINT) AS merge_rank, lhs, rhs,
         |               CAST(cnt AS BIGINT) AS pair_count FROM p$i)""".stripMargin
    }
    (head +: stages).mkString(",\n")
  }

  def bpeMergesSql(k: Int, minCount: Long): String = {
    val union = (1 to k).map(i => s"SELECT * FROM m$i").mkString("\nUNION ALL ")
    bpeChainSql(k, minCount) + "\n" + union + "\nORDER BY merge_rank"
  }

  def bpeVocabSql(k: Int, minCount: Long, topK: Int): String =
    bpeChainSql(k, minCount) +
      s"""
         |SELECT subword, CAST(SUM(n) AS BIGINT) AS n_occ FROM (
         |  SELECT unnest(list_filter(string_split(seq, '|'), x -> x <> '')) AS subword, n
         |  FROM w$k)
         |GROUP BY 1 ORDER BY n_occ DESC, subword LIMIT $topK""".stripMargin

  def bpeTokenCountSql(k: Int, minCount: Long): String =
    bpeChainSql(k, minCount) +
      s""",
         |wl AS (SELECT replace(seq, '|', '') AS word,
         |              CAST(len(list_filter(string_split(seq, '|'), x -> x <> '')) AS BIGINT) AS n_sub
         |       FROM w$k),
         |tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
         |        FROM documents)
         |SELECT doc_id, CAST(SUM(COALESCE(n_sub, len(word))) AS BIGINT) AS n_bpe_tokens
         |FROM tok LEFT JOIN wl USING (word)
         |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q80: unigram surprisal scoring (perplexity-style quality) -----
  // Per-document total unigram surprisal (-log2 p(token) under the
  // corpus unigram LM) plus the token count: the cheap LM-free
  // stand-in for perplexity filtering (mean = sum/n, derivable).
  // Determinism across engines: each token's surprisal is rounded to 6
  // places and cast to DECIMAL(18,6) BEFORE the per-doc sum (decimal
  // addition is exact and order-independent — the float rule every
  // oracle query here follows), and the OUTPUT is that exact sum cast
  // to double: a final rounded MEAN was measured landing exactly on a
  // 6th-decimal .5 boundary at sf0.1 (sum/34 = 4.9104755), where
  // Spark's BigDecimal HALF_UP and DuckDB's binary-double rounding
  // disagree by 1e-6 — division after rounding reintroduces exactly
  // the nondeterminism the decimal discipline removes. The corpus
  // total is a driver scalar (one count, the index-build pattern);
  // token counts join back on the token key.
  def surprisalScores(docs: DataFrame, idCol: String,
                      textCol: String): DataFrame = {
    val toks = docs
      .select(col(idCol).as("doc_id"), explode(Text.tokens(col(textCol))).as("token"))
      .localCheckpoint(true) // feeds the LM counts, the total, AND the scoring join
    val counts = toks.groupBy("token").agg(count(lit(1)).as("n"))
    val total = toks.count()
    toks.join(counts, Seq("token"))
      .withColumn("sp",
        round(-log2(col("n").cast("double") / lit(total.toDouble)), 6)
          .cast(DecimalType(18, 6)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("sp")).cast("double").as("surprisal_sum"))
  }

  def unigramSurprisal(spark: SparkSession, dir: String): DataFrame =
    surprisalScores(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("doc_id")

  val unigramSurprisalSql: String =
    """WITH toks AS (SELECT doc_id,
      |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
      |  FROM documents),
      |cnt AS (SELECT token, COUNT(*) AS n FROM toks GROUP BY 1),
      |tot AS (SELECT COUNT(*) AS t FROM toks),
      |s AS (SELECT doc_id,
      |    CAST(round(-log2(CAST(n AS DOUBLE) / t), 6) AS DECIMAL(18,6)) AS sp
      |  FROM toks JOIN cnt USING (token) CROSS JOIN tot)
      |SELECT doc_id, COUNT(*) AS n_tokens,
      |       CAST(SUM(sp) AS DOUBLE) AS surprisal_sum
      |FROM s GROUP BY 1 ORDER BY doc_id""".stripMargin

  // ---- q154: prefix-cache-aware batch grouping -----------------------
  // The serving-side curation op: queries/documents sharing their first
  // P tokens can reuse a prefix KV-cache, so the batcher groups them
  // and routes each group together. Output is the top groups by saved
  // tokens ((n_docs - 1) x shared-prefix length — every member after
  // the first skips the shared prefill). One groupBy on the prefix
  // string; the prefix renders as an md5-channel id so a 100 TB-scale
  // group key is 8 bytes, not a text blob. Docs shorter than P tokens
  // group on their full token list (equal keys still mean equal
  // prefixes — a short doc's key can't collide with a long doc's).
  private val PrefixTokens = 8

  def prefixCacheGroups(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(slice(Text.tokens(col("text")), 1, PrefixTokens).as("p"))
      .filter(size(col("p")) >= 1)
      .select(array_join(col("p"), " ").as("prefix"),
        size(col("p")).cast("long").as("np"))
      .groupBy("prefix", "np") // np is functionally dependent on prefix
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select(
        conv(substring(md5(col("prefix").cast("binary")), 1, 15), 16, 10)
          .cast("long").as("prefix_id"),
        col("np").as("n_prefix_tokens"), col("n_docs"),
        ((col("n_docs") - 1) * col("np")).as("saved_tokens"))
      .orderBy(col("saved_tokens").desc, col("prefix_id").asc)
      .limit(20)
  }

  val prefixCacheGroupsSql: String =
    s"""WITH p AS (SELECT regexp_extract_all(lower(text), '[a-z0-9]+')[1:$PrefixTokens] AS pl
       |           FROM documents),
       |g AS (SELECT array_to_string(pl, ' ') AS prefix,
       |             CAST(len(pl) AS BIGINT) AS np, COUNT(*) AS n_docs
       |      FROM p WHERE len(pl) >= 1 GROUP BY 1, 2)
       |SELECT CAST('0x' || substr(md5(prefix), 1, 15) AS BIGINT) AS prefix_id,
       |       np AS n_prefix_tokens, CAST(n_docs AS BIGINT) AS n_docs,
       |       CAST((n_docs - 1) * np AS BIGINT) AS saved_tokens
       |FROM g WHERE n_docs >= 2
       |ORDER BY saved_tokens DESC, prefix_id LIMIT 20""".stripMargin

  // ---- q148: bigram-LM surprisal (CCNet-style quality scoring) -------
  // Train an add-1-smoothed bigram LM on the corpus, score every
  // document by total conditional surprisal
  // -log2 P(w_i | w_{i-1}), P = (c2(prev,w)+1) / (c1(prev)+V) —
  // the CCNet/KenLM-style perplexity filter (Wenzek et al. 2020,
  // public literature) one step up from q80's unigram stand-in.
  // Same determinism rule as q80: each bigram's surprisal is rounded
  // to 6 places and cast to DECIMAL(18,6) BEFORE the per-doc sum
  // (exact, order-independent addition), output is the exact sum cast
  // to double. V (vocab size) is a driver scalar — the index-build
  // pattern.
  //
  // Scale shape: the bigram table is ONE ordered explode over the
  // corpus (positions via sequence(), no self-join); training is one
  // groupBy over it; scoring joins the bigram table back to its own
  // counts (hash join on (prev, w)) and the unigram context counts
  // (vocab-sized dim join — AQE decides broadcast vs hash). All
  // map-side-combinable.
  def bigramSurprisal(spark: SparkSession, dir: String): DataFrame =
    bigramSurprisalOn(Tables.documents(spark, dir)).orderBy("doc_id")

  /** Core on an arbitrary `(doc_id, text)` frame; returns UNSORTED
    * `(doc_id, n_bigrams, surprisal_sum)`. */
  def bigramSurprisalOn(docs: DataFrame): DataFrame = {
    val bi = docs.select(col("doc_id"), Text.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), size(col("t")) - 1)).as("i"))
      .select(col("doc_id"),
        element_at(col("t"), col("i")).as("prev"),
        element_at(col("t"), col("i") + 1).as("w"))
      .localCheckpoint(true) // feeds c2 AND the scoring join
    val uni = docs
      .select(explode(Text.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n1"))
      .localCheckpoint(true) // feeds V AND the context join
    val vocabV = uni.count()
    val c2 = bi.groupBy("prev", "w").agg(count(lit(1)).as("n2"))
    bi.join(c2, Seq("prev", "w"))
      .join(uni.select(col("token").as("prev"), col("n1")), Seq("prev"))
      .withColumn("sp",
        round(log2((col("n1") + lit(vocabV)).cast("double") /
          (col("n2") + lit(1L)).cast("double")), 6)
          .cast(DecimalType(18, 6)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("sp")).cast("double").as("surprisal_sum"))
  }

  val bigramSurprisalSql: String =
    """WITH ta AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      |            FROM documents),
      |bi AS (SELECT doc_id, t[i] AS prev, t[i+1] AS w
      |       FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
      |             FROM ta WHERE len(t) >= 2)),
      |uni AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
      |        FROM documents),
      |c1 AS (SELECT token AS prev, COUNT(*) AS n1 FROM uni GROUP BY 1),
      |v AS (SELECT COUNT(DISTINCT token) AS nv FROM uni),
      |c2 AS (SELECT prev, w, COUNT(*) AS n2 FROM bi GROUP BY 1, 2),
      |s AS (SELECT doc_id,
      |    CAST(round(log2(CAST(n1 + nv AS DOUBLE) / (n2 + 1)), 6) AS DECIMAL(18,6)) AS sp
      |  FROM bi JOIN c2 USING (prev, w) JOIN c1 USING (prev) CROSS JOIN v)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |       CAST(SUM(sp) AS DOUBLE) AS surprisal_sum
      |FROM s GROUP BY 1 ORDER BY doc_id""".stripMargin

  // ---- q150: the whole corpus-prep pipeline, one call ----------------
  // The release report every curation run ends with: ingest -> language
  // filter -> Gopher/C4 quality filter (q56's exact rules) -> exact
  // dedup (q20's min-id-per-md5(text) policy) -> near-dup dedup (q22's
  // verified pairs, q40's components, keep the cluster rep) ->
  // deterministic 80/10/1 split (q62's md5-threshold channel) — with
  // the surviving count at every stage. This is the "a user of the
  // reference could run their whole flow" composition: every stage IS
  // the already-oracled operator, so the report can't drift from the
  // operators it summarizes.
  //
  // Scale shape: stage counts are distributed aggregates (the bounded
  // driver values assemble an 8-row report — the profiler pattern);
  // the heavy lifting is exactly the constituent operators' plans
  // (shingle index, band join, CC, one md5 groupBy). The oracle
  // recomputes the full funnel in DuckDB, closure CTE and all.
  def corpusReport(spark: SparkSession, dir: String): DataFrame =
    corpusReportOn(Tables.documents(spark, dir))

  /** Core on an arbitrary `(doc_id, lang, text)` frame; `family` picks
    * the near-dup hash lane (md5 for the oracle path, seeded xxhash64
    * for the production/scale lane — the emitted counts are family-
    * independent whenever both lanes recover the same pair set, which
    * the q22x gate row checks corpus-wide). */
  def corpusReportOn(docs: DataFrame,
                     family: Dedup.HashFamily = Dedup.Md5Minhash): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val nIngested = docs.count()
    val nEn = docs.filter(col("lang") === "en").count()
    val qual = docs.filter(col("lang") === "en")
      .join(TextQuality.qualitySignalsOn(docs).select("doc_id", "keep"),
        Seq("doc_id"))
      .filter(col("keep")).select(col("doc_id"), md5(col("text")).as("th"))
      .localCheckpoint(true) // feeds its count AND two downstream stages
    val nQual = qual.count()
    val exact = qual.groupBy("th").agg(min("doc_id").as("doc_id"))
      .select("doc_id").localCheckpoint(true)
    val nExact = exact.count()
    val nonRep = Dedup.componentsAdaptive(
        Dedup.minhashLshPairs(docs, "doc_id", "text", n = 3,
          numHashes = NumHashes, bands = Bands, threshold = 0.5,
          family = family)).labels
      .filter(col("doc_id") =!= col("rep")).select("doc_id")
    val near = exact.join(nonRep, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    val nNear = near.count()
    val splits = near
      .withColumn("split",
        graft.functions.Sampling.hashSplit(col("doc_id"), 0.8, 0.1))
      .groupBy("split").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Seq(
      ("a_ingested", nIngested), ("b_lang_en", nEn), ("c_quality", nQual),
      ("d_exact_dedup", nExact), ("e_near_dedup", nNear),
      ("f_split_train", splits.getOrElse("train", 0L)),
      ("g_split_val", splits.getOrElse("val", 0L)),
      ("h_split_test", splits.getOrElse("test", 0L)))
      .toDF("stage", "n_docs").orderBy("stage")
  }

  val corpusReportSql: String = {
    val t1 = (0.8 * 4294967296.0).toLong
    val t2 = (0.9 * 4294967296.0).toLong
    s"""WITH RECURSIVE pairs AS ($minhashLshSql),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |nodes AS (SELECT DISTINCT a AS doc FROM edges),
       |reach(src, dst) AS (
       |  SELECT doc, doc FROM nodes
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst),
       |labels AS (SELECT src AS doc_id, MIN(dst) AS rep FROM reach GROUP BY 1),
       |sig AS (SELECT doc_id, keep FROM (${TextQuality.qualitySignalsSubquery}) q),
       |en AS (SELECT d.doc_id, d.text FROM documents d JOIN sig USING (doc_id)
       |       WHERE d.lang = 'en' AND sig.keep),
       |ex AS (SELECT MIN(doc_id) AS doc_id FROM en GROUP BY md5(text)),
       |nr AS (SELECT e.doc_id FROM ex e
       |       LEFT JOIN (SELECT doc_id FROM labels WHERE doc_id <> rep) nn
       |         USING (doc_id)
       |       WHERE nn.doc_id IS NULL),
       |spl AS (SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
       |        FROM nr)
       |SELECT 'a_ingested' AS stage, COUNT(*) AS n_docs FROM documents
       |UNION ALL SELECT 'b_lang_en', COUNT(*) FROM documents WHERE lang = 'en'
       |UNION ALL SELECT 'c_quality', COUNT(*) FROM en
       |UNION ALL SELECT 'd_exact_dedup', COUNT(*) FROM ex
       |UNION ALL SELECT 'e_near_dedup', COUNT(*) FROM nr
       |UNION ALL SELECT 'f_split_train',
       |  CAST(COALESCE(SUM(CASE WHEN h < $t1 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM spl
       |UNION ALL SELECT 'g_split_val',
       |  CAST(COALESCE(SUM(CASE WHEN h >= $t1 AND h < $t2 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM spl
       |UNION ALL SELECT 'h_split_test',
       |  CAST(COALESCE(SUM(CASE WHEN h >= $t2 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM spl
       |ORDER BY stage""".stripMargin
  }

  /** The corpus funnel's surviving documents with their split — the
    * exact frame q150's report counts (language -> quality -> exact
    * dedup -> near-dup -> deterministic 80/10/10 hash split), returned
    * as `(doc_id, split)` so a caller can MATERIALIZE the curated
    * corpus (q172) instead of just reporting on it. The report and the
    * written corpus cannot drift: both gate rows recompute the whole
    * funnel independently in DuckDB. */
  def curatedDocs(docs: DataFrame,
                  family: Dedup.HashFamily = Dedup.Md5Minhash): DataFrame = {
    val qual = docs.filter(col("lang") === "en")
      .join(TextQuality.qualitySignalsOn(docs).select("doc_id", "keep"),
        Seq("doc_id"))
      .filter(col("keep")).select(col("doc_id"), md5(col("text")).as("th"))
    val exact = qual.groupBy("th").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val nonRep = Dedup.componentsAdaptive(
        Dedup.minhashLshPairs(docs, "doc_id", "text", n = 3,
          numHashes = NumHashes, bands = Bands, threshold = 0.5,
          family = family)).labels
      .filter(col("doc_id") =!= col("rep")).select("doc_id")
    exact.join(nonRep, Seq("doc_id"), "left_anti")
      .withColumn("split",
        graft.functions.Sampling.hashSplit(col("doc_id"), 0.8, 0.1))
  }

  // ---- q158: cross-source duplicate matrix ---------------------------
  // Dedup ATTRIBUTION: near-dup pairs bucketed by the (source, source)
  // of their endpoints — the diagnostic that tells a curation team
  // WHICH feeds mirror each other (src3 scraping src7 shows up as an
  // off-diagonal spike; a boilerplate-heavy feed as a diagonal one).
  // Two dim joins from the verified pair set to the doc->source map —
  // pair volume is the near-dup output, never the corpus square; the
  // source pair is emitted order-normalized (least, greatest) so A~B
  // and B~A aggregate together.
  def dupSourceMatrix(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    minhashPairs(spark, dir)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")),
        Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")),
        Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("n_pairs").desc, col("source_a"), col("source_b"))
  }

  val dupSourceMatrixSql: String =
    s"""WITH pairs AS ($minhashLshSql)
       |SELECT least(da.source, db.source) AS source_a,
       |       greatest(da.source, db.source) AS source_b,
       |       COUNT(*) AS n_pairs
       |FROM pairs p
       |JOIN documents da ON p.doc_a = da.doc_id
       |JOIN documents db ON p.doc_b = db.doc_id
       |GROUP BY 1, 2 ORDER BY n_pairs DESC, source_a, source_b""".stripMargin

  // ---- q159: boilerplate n-gram mining -------------------------------
  // The corpus-wide boilerplate detector: 5-gram shingles ranked by
  // how many DISTINCT documents carry them (the shingle table is
  // per-doc-distinct by construction, so the groupBy count IS document
  // frequency). High-df shingles are navigation chrome, cookie
  // banners, license headers — the feed for q78's line-dedup rules and
  // the stop-shingle cap q21 documents. One groupBy over the shingle
  // index the dedup lanes already build.
  private val BoilerplateN = 5

  def boilerplateNgrams(spark: SparkSession, dir: String): DataFrame =
    Dedup.shingleTable(Tables.documents(spark, dir), "doc_id", "text",
        BoilerplateN)
      .groupBy("s").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("s"))
      .limit(20)
      .select(col("s").as("ngram"), col("n_docs"))

  val boilerplateNgramsSql: String = {
    val gram = (0 until BoilerplateN).map(i => s"t[i+$i]").mkString(" || ' ' || ")
    s"""WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
       |              FROM documents),
       |idx AS (SELECT doc_id, t, unnest(generate_series(1, len(t)-${BoilerplateN - 1})) AS i
       |        FROM toks WHERE len(t) >= $BoilerplateN),
       |sh AS (SELECT DISTINCT doc_id, $gram AS s FROM idx)
       |SELECT s AS ngram, COUNT(*) AS n_docs FROM sh
       |GROUP BY 1 HAVING COUNT(*) >= 2
       |ORDER BY n_docs DESC, ngram LIMIT 20""".stripMargin
  }

  // ---- q156: curriculum ordering by LM difficulty --------------------
  // Curriculum-learning prep: order the corpus easy-to-hard by mean
  // bigram surprisal per token (q148's model), emitting a global
  // curriculum rank. Exactness: the per-doc mean is computed in INTEGER
  // micro-bits — the DECIMAL(18,6) surprisal sum is integral at 1e6
  // scale, so `sum_micro div n_bigrams` is exact floor division in both
  // engines and no float ratio is ever compared. The rank runs through
  // the distributed ranker (no single-partition window); top-100
  // hardest emitted (the slice a curriculum schedule actually pins —
  // the easy head is the bulk and needs no order).
  def curriculum(spark: SparkSession, dir: String): DataFrame = {
    val scores = bigramSurprisalOn(Tables.documents(spark, dir))
      // recover the exact DECIMAL(18,6) sum in integer micro-bits:
      // surprisal_sum is the decimal sum cast to double, exact below
      // 2^53 micro-bits (~9e9 bits — far beyond any document)
      .withColumn("sum_micro",
        round(col("surprisal_sum") * 1e6).cast("long"))
      .withColumn("difficulty_micro",
        expr("sum_micro div n_bigrams"))
    graft.functions.Ranking
      .globalRowNumberSorted(scores,
        Seq(col("difficulty_micro").desc, col("doc_id").asc),
        "curriculum_rank")
      .select(col("curriculum_rank"), col("doc_id"),
        col("n_bigrams"), col("difficulty_micro"))
      .orderBy("curriculum_rank")
      .limit(100)
  }

  val curriculumSql: String =
    """WITH ta AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      |            FROM documents),
      |bi AS (SELECT doc_id, t[i] AS prev, t[i+1] AS w
      |       FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
      |             FROM ta WHERE len(t) >= 2)),
      |uni AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
      |        FROM documents),
      |c1 AS (SELECT token AS prev, COUNT(*) AS n1 FROM uni GROUP BY 1),
      |v AS (SELECT COUNT(DISTINCT token) AS nv FROM uni),
      |c2 AS (SELECT prev, w, COUNT(*) AS n2 FROM bi GROUP BY 1, 2),
      |s AS (SELECT doc_id,
      |    CAST(round(log2(CAST(n1 + nv AS DOUBLE) / (n2 + 1)), 6) AS DECIMAL(18,6)) AS sp
      |  FROM bi JOIN c2 USING (prev, w) JOIN c1 USING (prev) CROSS JOIN v),
      |d AS (SELECT doc_id, COUNT(*) AS n_bigrams,
      |    CAST(CAST(SUM(sp) * 1000000 AS BIGINT) // COUNT(*) AS BIGINT) AS difficulty_micro
      |  FROM s GROUP BY 1)
      |SELECT CAST(row_number() OVER (ORDER BY difficulty_micro DESC, doc_id) AS BIGINT)
      |         AS curriculum_rank,
      |       doc_id, n_bigrams, difficulty_micro
      |FROM d ORDER BY curriculum_rank LIMIT 100""".stripMargin

  // ---- q77: benchmark decontamination (train-test overlap) -----------
  // Corpus docs (doc_id % 10 != 0) sharing 5-gram shingles with the
  // "benchmark" slice (doc_id % 10 == 0): the eval-hygiene sweep a
  // training pipeline runs before every corpus release. The benchmark
  // shingle set broadcasts; the corpus pays one linear pass.
  private val ContamN = 5

  def contamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Dedup.contaminationCheck(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", n = ContamN)
      .orderBy("doc_id")
  }

  val contaminationSql: String = {
    val gram = (0 until ContamN).map(i => s"t[i+$i]").mkString(" || ' ' || ")
    s"""WITH toksC AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
       |               FROM documents WHERE doc_id % 10 != 0),
       |idxC AS (SELECT doc_id, t, unnest(generate_series(1, len(t)-${ContamN - 1})) AS i
       |         FROM toksC WHERE len(t) >= $ContamN),
       |shC AS (SELECT DISTINCT doc_id, $gram AS s FROM idxC),
       |toksB AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
       |          FROM documents WHERE doc_id % 10 = 0),
       |idxB AS (SELECT doc_id, t, unnest(generate_series(1, len(t)-${ContamN - 1})) AS i
       |         FROM toksB WHERE len(t) >= $ContamN),
       |shB AS (SELECT DISTINCT $gram AS s FROM idxB)
       |SELECT doc_id, COUNT(*) AS n_shingles,
       |       CAST(COUNT(b.s) AS BIGINT) AS n_overlap,
       |       round(CAST(COUNT(b.s) AS DOUBLE) / COUNT(*), 6) AS overlap_frac
       |FROM shC c LEFT JOIN shB b ON c.s = b.s
       |GROUP BY doc_id HAVING COUNT(b.s) >= 1
       |ORDER BY doc_id""".stripMargin
  }

  // ---- q75: STREAMING cross-corpus near-dup --------------------------
  // q73's incremental-ingest dedup as a continuous stream: the existing
  // corpus (doc_id < 250) becomes a PERSISTED index (built once), and
  // the incoming documents (doc_id >= 250) stream against it — per-row
  // signatures, stream-static band join, in-stream exact-Jaccard
  // verify, zero streaming state. The oracle is the SAME batch SQL as
  // q73: a bounded replay must reproduce the batch result exactly.
  def streamingCrossCorpus(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamOps
    val docs = Tables.documents(spark, dir)
    val tag = math.abs(dir.hashCode).toString
    val idxPath = graft.Scratch.dir(s"xcorpus_idx_$tag")
    StreamOps.writeNearDupIndex(docs.filter(col("doc_id") < 250),
      "doc_id", "text", idxPath, n = 3, numHashes = NumHashes, bands = Bands)
    val fileSchema = Tables.fileSchema(spark, dir, "documents")
    val src = spark.readStream.schema(fileSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .filter(col("doc_id") >= 250)
    StreamOps.streamNearDupAgainst(src, s"graft_xcorpus_$tag", idxPath,
      n = 3, numHashes = NumHashes, bands = Bands, threshold = 0.5)
  }

  val crossCorpusNearDupSql: String = {
    val rows = NumHashes / Bands
    val minExprs = (0 until NumHashes)
      .map(i => s"MIN(substr(hh, ${i * 2 + 1}, 15)) AS m$i").mkString(", ")
    def side(sfx: String, filter: String): String = {
      val bandSelects = (0 until Bands).map { b =>
        val key = (0 until rows).map(r => s"m${b * rows + r}").mkString(" || '|' || ")
        s"SELECT doc_id, $b AS band, $key AS bkey FROM sig$sfx"
      }.mkString("\n  UNION ALL ")
      s"""toks$sfx AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents $filter),
         |idx$sfx AS (SELECT doc_id, t, unnest(generate_series(1, len(t)-2)) AS i FROM toks$sfx WHERE len(t) >= 3),
         |sh$sfx AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s FROM idx$sfx),
         |sz$sfx AS (SELECT doc_id, COUNT(*) AS szn FROM sh$sfx GROUP BY 1),
         |hsh$sfx AS (SELECT doc_id, md5(s) || md5(s) AS hh FROM sh$sfx),
         |sig$sfx AS (SELECT doc_id, $minExprs FROM hsh$sfx GROUP BY doc_id),
         |bands$sfx AS (
         |  $bandSelects)""".stripMargin
    }
    s"""WITH ${side("N", "WHERE doc_id >= 250")},
       |${side("O", "WHERE doc_id < 250")},
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bandsN a JOIN bandsO b
       |           ON a.band = b.band AND a.bkey = b.bkey),
       |inter AS (SELECT doc_a, doc_b, COUNT(*) AS c
       |          FROM cand JOIN shN sa ON sa.doc_id = doc_a
       |          JOIN shO sb ON sb.doc_id = doc_b AND sb.s = sa.s
       |          GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |       CAST(c AS DOUBLE) / CAST(za.szn + zb.szn - c AS DOUBLE) AS jaccard
       |FROM inter JOIN szN za ON za.doc_id = doc_a
       |JOIN szO zb ON zb.doc_id = doc_b
       |WHERE CAST(c AS DOUBLE) / CAST(za.szn + zb.szn - c AS DOUBLE) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---- q23: SimHash fingerprints -------------------------------------
  def simhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhash(Tables.documents(spark, dir).filter(col("doc_id") < 200),
        "doc_id", "text")
      .orderBy("doc_id")

  val simhashSql: String = {
    val hexHigh = "('8','9','a','b','c','d','e','f')"
    val sums = (0 until 32)
      .map(p => s"SUM(CASE WHEN substr(md5(t), ${p + 1}, 1) IN $hexHigh THEN 1 ELSE -1 END) AS b$p")
      .mkString(",\n    ")
    val bitstr = (0 until 32)
      .map(p => s"CASE WHEN b$p >= 0 THEN '1' ELSE '0' END").mkString(" || ")
    val intval = (0 until 32)
      .map(p => s"CASE WHEN b$p >= 0 THEN ${1L << (31 - p)} ELSE 0 END")
      .mkString(" + ")
    s"""WITH tok AS (
       |  SELECT DISTINCT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
       |  FROM documents WHERE doc_id < 200),
       |sums AS (SELECT doc_id, $sums
       |  FROM tok GROUP BY doc_id)
       |SELECT doc_id, $bitstr AS simhash,
       |       CAST($intval AS BIGINT) AS simhash_int
       |FROM sums ORDER BY doc_id""".stripMargin
  }

  // ---- SRP plane/signature CTEs shared by q24/q33 oracles ------------
  // Hyperplane entry (band, bit, d) = +1 iff first hex digit of
  // md5('band:bit:d') >= '8' — the same rule Similarity.srpPlanes uses
  // on the driver, so both engines bucket identically.
  private def planesCte(bands: Int, bits: Int, dim: Int): String =
    s"""planes AS (SELECT band, bit, d,
       |    CASE WHEN substr(md5(band || ':' || bit || ':' || d), 1, 1)
       |           IN ('8','9','a','b','c','d','e','f')
       |      THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END AS w
       |  FROM (SELECT unnest(generate_series(0, ${bands - 1})) AS band),
       |       (SELECT unnest(generate_series(0, ${bits - 1})) AS bit),
       |       (SELECT unnest(generate_series(0, ${dim - 1})) AS d))""".stripMargin

  // sig(vec_id, band, sig) from e(vec_id, v): projection rounded to 6
  // decimals before the sign test, exactly like Similarity.srpSignature.
  private def sigCte(bits: Int, dim: Int): String =
    s"""ve AS (SELECT vec_id, unnest(v) AS x,
       |             unnest(generate_series(0, ${dim - 1})) AS d FROM e),
       |proj AS (SELECT vec_id, band, bit, round(SUM(x * w), 6) AS p
       |         FROM ve JOIN planes USING (d) GROUP BY 1, 2, 3),
       |sig AS (SELECT vec_id, band,
       |          SUM(CASE WHEN p >= 0 THEN (1::BIGINT << (${bits - 1} - bit)) ELSE 0 END) AS sig
       |        FROM proj GROUP BY 1, 2)""".stripMargin

  // ---- q24: embedding near-dup pairs (SRP-bucketed scale path) -------
  private val NdBands = 12
  private val NdBits = 6

  /** Since round 13 this registry key rides the DURABLE-index lane
    * (round-12 verdict #3), and since round 15 the durable lane IS the
    * versioned IndexCatalog: the normalized vectors and the SRP band
    * index publish as a named family's bucketed version tables
    * (get-or-publish by source fingerprint, pinned-version probe,
    * vacuum) and the identical downstream runs off them — so the
    * oracle hash re-gates the catalog path every round.
    * SrpIvfDurableIndexSpec pins durable ≡ checkpoint pair-for-pair;
    * the checkpoint form stays the library default (one-shot callers
    * should not pay a table write). */
  def embeddingNearDup(spark: SparkSession, dir: String): DataFrame = {
    // catalog-default durable path since round 15 (round-14 verdict
    // #2): get-or-publish by source fingerprint, pinned-version probe,
    // vacuum — see minhashLshDurable (q311) for the full rationale
    val fam = "srp_q24"
    val v = Similarity.srpIndexGetOrPublish(spark,
      Tables.embeddings(spark, dir), fam,
      fp = Tables.dirFingerprint(s"$dir/embeddings.parquet"),
      bands = NdBands, bits = NdBits, dim = 64)
    graft.sources.IndexCatalog.vacuum(spark, fam)
    Similarity.srpPairsFromCatalog(spark, fam, threshold = 0.4, version = v)
      .orderBy("vec_a", "vec_b")
  }

  val embeddingNearDupSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nn FROM e),
       |${planesCte(NdBands, NdBits, 64)},
       |${sigCte(NdBits, 64)},
       |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |         FROM sig a JOIN sig b
       |           ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id)
       |SELECT vec_a, vec_b,
       |       round(list_inner_product(x.v, y.v) / (x.nn * y.nn), 6) AS cos
       |FROM cand JOIN n x ON vec_a = x.vec_id JOIN n y ON vec_b = y.vec_id
       |WHERE round(list_inner_product(x.v, y.v) / (x.nn * y.nn), 6) >= 0.4
       |ORDER BY vec_a, vec_b""".stripMargin

  // ---- q90: semantic dedup (embedding near-dup endgame) --------------
  // SemDeDup-style (Abbas et al. 2023, public literature): near-dup
  // pairs in EMBEDDING space (q24's SRP-bucketed candidates + exact
  // cosine verify) collapse into clusters, each cluster keeps its
  // lowest-id member. Same bucketed-candidates + CC + left-anti shape
  // as the text dedup endgame (q59) — the entire pipeline is equality
  // joins, so the 100 TB story is identical.
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val pairs = Similarity.srpNearDupPairs(emb, threshold = 0.4,
        bands = NdBands, bits = NdBits, dim = 64)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    Dedup.dedupedCorpus(emb.select("vec_id", "label"), "vec_id", pairs)
      .orderBy("vec_id")
  }

  val semanticDedupSql: String =
    s"""WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nn FROM e),
       |${planesCte(NdBands, NdBits, 64)},
       |${sigCte(NdBits, 64)},
       |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |         FROM sig a JOIN sig b
       |           ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id),
       |pairs AS (SELECT vec_a, vec_b
       |  FROM cand JOIN n x ON vec_a = x.vec_id JOIN n y ON vec_b = y.vec_id
       |  WHERE round(list_inner_product(x.v, y.v) / (x.nn * y.nn), 6) >= 0.4),
       |edges AS (SELECT vec_a AS a, vec_b AS b FROM pairs
       |          UNION ALL SELECT vec_b, vec_a FROM pairs),
       |nodes AS (SELECT DISTINCT a AS vec FROM edges),
       |reach(src, dst) AS (
       |  SELECT vec, vec FROM nodes
       |  UNION
       |  SELECT r.src, e2.b FROM reach r JOIN edges e2 ON e2.a = r.dst),
       |labels AS (SELECT src AS vec_id, MIN(dst) AS rep FROM reach GROUP BY 1)
       |SELECT d.vec_id, d.label FROM embeddings d
       |WHERE d.vec_id NOT IN (SELECT vec_id FROM labels WHERE vec_id <> rep)
       |ORDER BY d.vec_id""".stripMargin

  // ---- q25: brute-force cosine top-k (ANN baseline) ------------------
  def cosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, k = 5)
      .orderBy("query_id", "rank")
  }

  val cosineTopKSql: String =
    """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT vec_id AS query_id, v AS qv, sqrt(list_inner_product(v, v)) AS qn
      |      FROM c WHERE vec_id < 10),
      |cc AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS cn FROM c),
      |scored AS (SELECT query_id, vec_id,
      |    round(list_inner_product(qv, v) / (qn * cn), 6) AS cos
      |  FROM cc CROSS JOIN q WHERE vec_id <> query_id),
      |r AS (SELECT query_id, vec_id, cos,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS "rank"
      |  FROM scored)
      |SELECT query_id, "rank", vec_id, cos FROM r WHERE "rank" <= 5
      |ORDER BY query_id, "rank"""".stripMargin

  // ---- q299: cross-source near-duplicate matrix ------------------------
  // WHICH sources duplicate WHICH: the q22 verified near-dup pairs
  // joined to each endpoint's source, folded to an unordered
  // source-pair matrix. Off-diagonal mass is cross-corpus
  // contamination (mirrors, scrapes of scrapes) — the statistic that
  // decides which source gets dropped; the diagonal is each source's
  // internal redundancy. Exactly the q191 KMV overlap question,
  // answered exactly from the banded pipeline instead of a sketch.
  //
  // Shape at scale: pairs come from the LSH band join (never
  // all-pairs); the source lookup is two hash joins of the PAIR frame
  // against the (doc_id, source) projection; one grouped count.
  def crossSourceMatrix(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir).select("doc_id", "source")
    minhashPairs(spark, dir)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")),
        "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")),
        "doc_b")
      .groupBy(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_a", "source_b")
  }

  val crossSourceMatrixSql: String =
    s"""WITH pairs AS ($minhashLshSql),
       |s AS (SELECT doc_id, source FROM documents)
       |SELECT LEAST(sa.source, sb.source) AS source_a,
       |       GREATEST(sa.source, sb.source) AS source_b,
       |       CAST(COUNT(*) AS BIGINT) AS n_pairs
       |FROM pairs JOIN s sa ON pairs.doc_a = sa.doc_id
       |           JOIN s sb ON pairs.doc_b = sb.doc_id
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- q300: corpus scorecard (one-row health report) -----------------
  // The single row a data owner reads before signing off a snapshot:
  // volume (docs, sources, tokens, vocab), exact redundancy (md5-text
  // groups: unique texts, deletable excess, ppm), near-dup exposure
  // (distinct docs in q22 verified pairs, ppm), and mixture skew (top
  // source share). Pure composition of the engine's own cores — every
  // number is independently gated elsewhere (q20, q22, q79, q116);
  // this row is where they meet.
  //
  // Shape at scale: five independent 1-row aggregates (each one
  // map-side-combinable pass; the vocab distinct and md5 groupBy are
  // the only shuffles) broadcast-crossed at the end; the near-dup leg
  // rides the banded LSH pipeline.
  def corpusScorecard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val base = docs.agg(count(lit(1)).as("n_docs"),
      countDistinct("source").as("n_sources"),
      sum(graft.functions.Text.tokenCount(col("text")).cast("long"))
        .as("n_tokens"))
    val dup = docs.withColumn("__h", md5(col("text").cast("binary")))
      .groupBy("__h").agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_unique_texts"),
        (sum("c") - count(lit(1))).cast("long").as("dup_excess"))
    val voc = docs
      .select(explode(graft.functions.Text.tokens(col("text"))).as("token"))
      .agg(countDistinct("token").as("vocab_size"))
    val top = docs.groupBy("source").agg(count(lit(1)).as("c"))
      .agg(max("c").as("top_src"))
    val nd = minhashPairs(spark, dir)
      .select(explode(array(col("doc_a"), col("doc_b"))).as("d"))
      .distinct()
      .agg(count(lit(1)).as("near_dup_docs"))
    base.crossJoin(broadcast(dup)).crossJoin(broadcast(voc))
      .crossJoin(broadcast(top)).crossJoin(broadcast(nd))
      .select(col("n_docs"), col("n_sources"), col("n_tokens"),
        col("vocab_size"), col("n_unique_texts"), col("dup_excess"),
        expr("dup_excess * 1000000 div n_docs").as("exact_dup_ppm"),
        col("near_dup_docs"),
        expr("near_dup_docs * 1000000 div n_docs").as("near_dup_ppm"),
        expr("top_src * 1000000 div n_docs").as("top_source_share_ppm"))
  }

  val corpusScorecardSql: String =
    s"""WITH pairs AS ($minhashLshSql),
       |nd AS (SELECT COUNT(*) AS near_dup_docs FROM (
       |         SELECT DISTINCT doc FROM (
       |           SELECT doc_a AS doc FROM pairs
       |           UNION ALL SELECT doc_b FROM pairs))),
       |base AS (SELECT COUNT(*) AS n_docs,
       |           COUNT(DISTINCT source) AS n_sources,
       |           SUM(len(regexp_extract_all(lower(text), '[a-z0-9]+')))
       |             AS n_tokens
       |         FROM documents),
       |dup AS (SELECT COUNT(*) AS n_unique_texts,
       |          SUM(c) - COUNT(*) AS dup_excess
       |        FROM (SELECT md5(text) AS h, COUNT(*) AS c
       |              FROM documents GROUP BY 1)),
       |voc AS (SELECT COUNT(DISTINCT token) AS vocab_size FROM (
       |          SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
       |            AS token FROM documents)),
       |ts AS (SELECT MAX(c) AS top_src FROM (
       |         SELECT source, COUNT(*) AS c FROM documents GROUP BY 1))
       |SELECT CAST(n_docs AS BIGINT) AS n_docs,
       |       CAST(n_sources AS BIGINT) AS n_sources,
       |       CAST(n_tokens AS BIGINT) AS n_tokens,
       |       CAST(vocab_size AS BIGINT) AS vocab_size,
       |       CAST(n_unique_texts AS BIGINT) AS n_unique_texts,
       |       CAST(dup_excess AS BIGINT) AS dup_excess,
       |       CAST(dup_excess * 1000000 // n_docs AS BIGINT)
       |         AS exact_dup_ppm,
       |       CAST(near_dup_docs AS BIGINT) AS near_dup_docs,
       |       CAST(near_dup_docs * 1000000 // n_docs AS BIGINT)
       |         AS near_dup_ppm,
       |       CAST(top_src * 1000000 // n_docs AS BIGINT)
       |         AS top_source_share_ppm
       |FROM base, dup, voc, ts, nd""".stripMargin

  // ---- q301: int8 quantization audit (per-label affine) --------------
  // The feasibility check before shipping an int8-quantized ANN index:
  // per label, the component envelope (min/max) and the MAXIMUM
  // absolute reconstruction error of affine uint8 quantization
  // (zero = min, scale = range/255 — the standard symmetric-affine
  // recipe). A label whose max error rivals its inter-vector distances
  // cannot be quantized at 8 bits. Only ORDER-FREE aggregates (min /
  // max / count) of deterministic per-element doubles: both engines
  // evaluate the identical expression tree on identical float casts,
  // and the error surfaces as an e9-scaled integer.
  //
  // Shape at scale: one explode pass for the envelope (map-side
  // combinable), a |labels|-row broadcast back onto the element
  // stream, one more grouped fold. No windows, no pair joins.
  def quantAudit(spark: SparkSession, dir: String): DataFrame = {
    val el = Tables.embeddings(spark, dir)
      .select(col("label"),
        explode(Similarity.asDouble(col("embedding"))).as("x"))
      .localCheckpoint(true) // envelope pass + error pass
    val mm = el.groupBy("label").agg(min("x").as("mn"), max("x").as("mx"),
      count(lit(1)).as("n_elems"))
    val scale = (col("mx") - col("mn")) / lit(255.0)
    val dq = col("mn") + round((col("x") - col("mn")) / col("scale"), 0) *
      col("scale")
    el.join(broadcast(mm), "label")
      .withColumn("scale", scale)
      .withColumn("err",
        when(col("scale") === 0d, 0d).otherwise(abs(col("x") - dq)))
      .groupBy("label")
      .agg(max("n_elems").as("n_elems"),
        round(max("mn"), 6).as("min_v"), round(max("mx"), 6).as("max_v"),
        max(expr("CAST(round(err * 1000000000, 0) AS BIGINT)"))
          .as("max_err_e9"))
      .orderBy("label")
  }

  val quantAuditSql: String =
    """WITH el AS (SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS x
      |            FROM embeddings),
      |mm AS (SELECT label, MIN(x) AS mn, MAX(x) AS mx,
      |         COUNT(*) AS n_elems FROM el GROUP BY 1),
      |e AS (SELECT el.label, mm.n_elems, mm.mn, mm.mx,
      |        (mm.mx - mm.mn) / 255.0 AS scale, el.x
      |      FROM el JOIN mm USING (label))
      |SELECT label, CAST(MAX(n_elems) AS BIGINT) AS n_elems,
      |       round(MAX(mn), 6) AS min_v, round(MAX(mx), 6) AS max_v,
      |       MAX(CASE WHEN scale = 0 THEN 0
      |           ELSE CAST(round(abs(x - (mn + round((x - mn) / scale, 0)
      |                * scale)) * 1000000000, 0) AS BIGINT) END)
      |         AS max_err_e9
      |FROM e GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q302: near-dup curation savings (keep-longest rule) -----------
  // What near-dup dedup actually SAVES, per source: cluster the q22
  // verified pairs (the q40 components), keep the LONGEST member per
  // cluster (tiebreak min doc_id — a quality-keeper rule, unlike q40's
  // min-id canonical), and report removed docs + removed chars by
  // source — the number that justifies the dedup pass in a curation
  // budget review.
  //
  // Shape at scale: labels ride the adaptive CC (O(log D) rounds);
  // the keeper pick is ONE grouped max of a (chars, -id) struct over
  // the member frame — no window, no per-cluster sort; the savings
  // fold is a grouped count over the same frame.
  def dedupSavings(spark: SparkSession, dir: String): DataFrame =
    savingsOf(
      Dedup.componentsAdaptive(minhashPairs(spark, dir)).labels,
      Tables.documents(spark, dir).select("doc_id", "source", "n_chars"))

  /** Savings fold over (doc_id, rep) labels and (doc_id, source,
    * n_chars) docs — factored so the spec can plant a cluster whose
    * keeper is NOT the min id. */
  private[graft] def savingsOf(labels: DataFrame, docs: DataFrame): DataFrame = {
    val m = labels.join(docs, "doc_id").localCheckpoint(true)
    val keepers = m.groupBy("rep")
      .agg(max(struct(col("n_chars"), (-col("doc_id")).as("nid")))
        .as("k"))
      .select(col("rep"), (-col("k.nid")).as("keeper"))
    m.join(keepers, "rep")
      .filter(col("doc_id") =!= col("keeper"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_removed"),
        sum("n_chars").as("chars_removed"))
      .orderBy("source")
  }

  val dedupSavingsSql: String =
    s"""WITH RECURSIVE pairs AS ($minhashLshSql),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |nodes AS (SELECT DISTINCT a AS doc FROM edges),
       |reach(src, dst) AS (
       |  SELECT doc, doc FROM nodes
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst),
       |labels AS (SELECT src AS doc_id, MIN(dst) AS rep FROM reach
       |           GROUP BY 1),
       |m AS (SELECT l.rep, d.doc_id, d.source, d.n_chars
       |      FROM labels l JOIN documents d USING (doc_id)),
       |k AS (SELECT rep, doc_id AS keeper FROM (
       |        SELECT rep, doc_id, row_number() OVER (PARTITION BY rep
       |          ORDER BY n_chars DESC, doc_id ASC) AS rn FROM m)
       |      WHERE rn = 1)
       |SELECT m.source, CAST(COUNT(*) AS BIGINT) AS n_removed,
       |       CAST(SUM(m.n_chars) AS BIGINT) AS chars_removed
       |FROM m JOIN k ON m.rep = k.rep AND m.doc_id <> k.keeper
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q295: embedding norm audit (vector-quality gate) --------------
  // The sanity pass that runs BEFORE any ANN index build: per label,
  // the squared-norm envelope and the count of degenerate (near-zero)
  // vectors — collapsed embeddings from a broken encoder checkpoint
  // poison cosine ranking silently, since normalization divides by a
  // norm that is all noise. Only ORDER-FREE aggregates of the
  // per-row rounded norm² (count / min / max / threshold-count): a
  // MEAN would sum doubles in partition order and break cross-engine
  // exactness; min and max of identically-rounded values cannot.
  // norm² rides graft_dot (sequential index-order accumulation, the
  // q25 discipline) rounded to 6 places.
  //
  // Shape at scale: ONE scan of the embeddings table, one map-side-
  // combinable groupBy(label). No joins, no windows.
  def embeddingNormAudit(spark: SparkSession, dir: String): DataFrame = {
    Tables.embeddings(spark, dir)
      .select(col("label"),
        round(Similarity.dot(Similarity.asDouble(col("embedding")),
          Similarity.asDouble(col("embedding"))), 6).as("norm2"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        min("norm2").as("min_norm2"), max("norm2").as("max_norm2"),
        sum(when(col("norm2") < 0.5, 1L).otherwise(0L)).as("n_degenerate"))
      .orderBy("label")
  }

  val embeddingNormAuditSql: String =
    """WITH n AS (SELECT label,
      |        round(list_inner_product(CAST(embedding AS DOUBLE[]),
      |                                 CAST(embedding AS DOUBLE[])), 6)
      |          AS norm2
      |      FROM embeddings)
      |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
      |       MIN(norm2) AS min_norm2, MAX(norm2) AS max_norm2,
      |       CAST(SUM(CASE WHEN norm2 < 0.5 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_degenerate
      |FROM n GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q32: SimHash near-dup pairs (pigeonhole bit-band buckets) -----
  // The Spark plan buckets (no cartesian); the oracle uses the plain
  // all-pairs formulation, which is provably the SAME result set —
  // pigeonhole bands have 100% recall at the configured maxHamming —
  // so the oracle doubles as proof the bucketing loses nothing.
  def simhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearPairs(
        Dedup.simhash(Tables.documents(spark, dir).filter(col("doc_id") < 200),
          "doc_id", "text"),
        maxHamming = 2)
      .orderBy("doc_a", "doc_b")

  val simhashPairsSql: String = {
    val hexHigh = "('8','9','a','b','c','d','e','f')"
    val sums = (0 until 32)
      .map(p => s"SUM(CASE WHEN substr(md5(t), ${p + 1}, 1) IN $hexHigh THEN 1 ELSE -1 END) AS b$p")
      .mkString(",\n    ")
    val intval = (0 until 32)
      .map(p => s"CASE WHEN b$p >= 0 THEN ${1L << (31 - p)} ELSE 0 END")
      .mkString(" + ")
    s"""WITH tok AS (
       |  SELECT DISTINCT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
       |  FROM documents WHERE doc_id < 200),
       |sums AS (SELECT doc_id, $sums
       |  FROM tok GROUP BY doc_id),
       |s AS (SELECT doc_id, CAST($intval AS BIGINT) AS si FROM sums)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       CAST(bit_count(xor(a.si, b.si)) AS BIGINT) AS hamming
       |FROM s a JOIN s b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.si, b.si)) <= 2
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---- q33: multi-band SRP-LSH top-k with Hamming-1 multi-probe ------
  // 16 independent 8-bit bands OR'd together (the srpNearDupPairs
  // banding shape applied to top-k): measured top-k recall ~0.9 on the
  // near-uniform corpus vs 0.14 for the round-2 single-band default.
  private val LshBands = 16
  private val LshBits = 8

  def lshTopKQuery(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.lshTopK(emb.filter(col("vec_id") < 10), emb, k = 5,
        bands = LshBands, bits = LshBits, dim = 64)
      .orderBy("query_id", "rank")
  }

  val lshTopKSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${planesCte(LshBands, LshBits, 64)},
       |${sigCte(LshBits, 64)},
       |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nn FROM e),
       |qs AS (SELECT vec_id AS query_id, band, sig FROM sig WHERE vec_id < 10),
       |probes AS (SELECT query_id, band, sig AS pb FROM qs
       |  UNION ALL
       |  SELECT query_id, band, xor(sig, (1::BIGINT << j)) AS pb
       |  FROM qs, (SELECT unnest(generate_series(0, ${LshBits - 1})) AS j)),
       |cand AS (SELECT DISTINCT query_id, s.vec_id
       |  FROM sig s JOIN probes p ON s.band = p.band AND s.sig = p.pb
       |  WHERE s.vec_id <> p.query_id),
       |scored AS (SELECT query_id, cand.vec_id,
       |    round(list_inner_product(x.v, y.v) / (x.nn * y.nn), 6) AS cos
       |  FROM cand JOIN n x ON cand.query_id = x.vec_id
       |            JOIN n y ON cand.vec_id = y.vec_id),
       |r AS (SELECT query_id, vec_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS "rank"
       |  FROM scored)
       |SELECT query_id, "rank", vec_id, cos FROM r WHERE "rank" <= 5
       |ORDER BY query_id, "rank"""".stripMargin

  // ---- q34: IVF top-k with deterministic sampled centroids -----------
  /** Since round 13 this registry key rides the DURABLE-index lane
    * (round-12 verdict #3), and since round 15 that lane IS the
    * versioned IndexCatalog: sampled centroids + cell assignments
    * publish as a named family's bucketed version tables
    * (get-or-publish by source fingerprint, pinned-version probe,
    * vacuum) and the probe runs off the standing tables — the oracle
    * hash re-gates the catalog build every round; SrpIvfDurableIndexSpec pins
    * durable ≡ in-memory top-k-for-top-k and proves reuse-without-
    * rebuild via ivfTopKFromCatalog. (q76 separately gates the
    * cell-PARTITIONED serving layout.) */
  def ivfTopKQuery(spark: SparkSession, dir: String): DataFrame = {
    // catalog-default durable path since round 15 (round-14 verdict
    // #2) — see minhashLshDurable (q311) for the rationale
    val fam = "ivf_q34"
    val emb = Tables.embeddings(spark, dir)
    val v = Similarity.ivfIndexGetOrPublish(spark, emb, fam,
      fp = Tables.dirFingerprint(s"$dir/embeddings.parquet"), nCells = 16)
    graft.sources.IndexCatalog.vacuum(spark, fam)
    Similarity.ivfTopKFromCatalog(spark, fam,
        emb.filter(col("vec_id") < 10), k = 5, nProbe = 4, version = v)
      .orderBy("query_id", "rank")
  }

  // ---- q76: IVF top-k against the PERSISTED cell-partitioned layout --
  // The 100 TB serving path (write the assigned corpus partitioned by
  // cell, probe with partition pruning) must return exactly what the
  // in-memory q34 form returns — same sampled centroids, same exact
  // assignment, same oracle SQL. IvfLayoutSpec proves the scan touches
  // only probed cells; this entry proves the end-to-end RESULT against
  // an independent engine.
  def ivfLayoutTopKQuery(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val c = emb.select(col("vec_id"),
        Similarity.asDouble(col("embedding")).as("cv"))
      .localCheckpoint(true) // feeds centroid sample + both assign sides
    val centroids = c.orderBy("vec_id").limit(16)
      .select(col("vec_id").cast("int").as("cell"), col("cv").as("centroid"))
      .localCheckpoint(true)
    val path = graft.Scratch.dir(
      "ivf_layout_q76_" + math.abs(dir.hashCode).toString)
    graft.sources.Warehouse.writeIvfLayout(
      Similarity.ivfAssign(c, centroids), path)
    Similarity.ivfTopKFromLayout(spark, path,
        emb.filter(col("vec_id") < 10), centroids, k = 5, nProbe = 4)
      .orderBy("query_id", "rank")
  }

  /** q178: the k-means IVF index BUILD (Similarity.ivfBuildKMeans) —
    * the one flagship that was spec-only through round 8 — gated on
    * its deterministic contract. KMeans centroid BYTES are not
    * oracle-able (float reduction order varies run to run), so the
    * gate checks what a correct build must satisfy regardless of
    * which local optimum the training landed in:
    *  - n_cells: autoNCells's closed form (ceil(n/128), floor 4) —
    *    recomputed arithmetically by DuckDB from the corpus count;
    *  - total/exclusive assignment: every vector in exactly one cell;
    *  - nearest_agreement_ok: assigned cells agree with the EXACT
    *    per-vector argmin over the build's own centroids — exactly
    *    1.0 on the <=64-cell exact path (sf0.001/sf0.01), >= 0.7
    *    through the hierarchical router above it (sf0.1: 157 cells;
    *    superProbes=5 measures ~0.9, and the margin absorbs borderline
    *    flips from run-to-run centroid jitter);
    *  - planted_same_cell: a planted copy of every 97th vector routes
    *    to its source's cell — assignment is a pure function of
    *    (vector, centroids), byte-stable within the build;
    *  - half_cells_populated: the histogram sanity floor (k-means on
    *    any non-degenerate corpus populates >= half its cells).
    * The oracle recomputes the counts and emits the flags' required
    * values, so a mis-scaled cell count, lost/duplicated vector,
    * broken router, or collapsed histogram all hash-mismatch. */
  def ivfKmeansBuildQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val (assigned0, centroids0) = Similarity.ivfBuildKMeans(emb)
    val assigned = assigned0.localCheckpoint(true)
    val cents = centroids0.localCheckpoint(true)
    val nCells = cents.count()
    val nVec = emb.count()
    val nAssigned = assigned.count()
    val nMulti = assigned.groupBy("vec_id").agg(count(lit(1)).as("nc"))
      .filter(col("nc") > 1).count()
    val exact = Similarity.ivfAssign(
        emb.select(col("vec_id"), Similarity.asDouble(col("embedding")).as("cv")),
        cents)
      .select(col("vec_id"), col("cell").as("exact_cell"))
    val agreement = assigned.join(exact, Seq("vec_id"))
      .agg(avg(when(col("cell") === col("exact_cell"), 1.0).otherwise(0.0)))
      .head().getDouble(0)
    val planted = emb.filter(col("vec_id") % 97 === 0)
      .select((col("vec_id") + 10000000L).as("vec_id"),
        Similarity.asDouble(col("embedding")).as("cv"),
        col("vec_id").as("src_id"))
    val plantedSame = Similarity
      .ivfAssignAuto(planted.select("vec_id", "cv"), cents, nCells)
      .join(planted.select(col("vec_id"), col("src_id")), Seq("vec_id"))
      .join(assigned.select(col("vec_id").as("src_id"), col("cell").as("src_cell")),
        Seq("src_id"))
      .agg(sum(when(col("cell") =!= col("src_cell"), 1L).otherwise(0L)))
      .head().getLong(0) == 0L
    val nPopulated = assigned.select("cell").distinct().count()
    Seq((nVec, nCells, nAssigned, nMulti,
        agreement >= (if (nCells <= 64) 1.0 else 0.7),
        plantedSame, nPopulated * 2 >= nCells))
      .toDF("n_vectors", "n_cells", "n_assigned", "n_multi_assigned",
        "nearest_agreement_ok", "planted_same_cell", "half_cells_populated")
  }

  val ivfKmeansBuildSql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
      |       CAST(GREATEST(4, CAST(CEIL(COUNT(*) / 128.0) AS BIGINT)) AS BIGINT) AS n_cells,
      |       CAST(COUNT(*) AS BIGINT) AS n_assigned,
      |       CAST(0 AS BIGINT) AS n_multi_assigned,
      |       TRUE AS nearest_agreement_ok,
      |       TRUE AS planted_same_cell,
      |       TRUE AS half_cells_populated
      |FROM embeddings""".stripMargin

  val ivfTopKSql: String =
    """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |cc AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS cn FROM c),
      |seeds AS (SELECT CAST(vec_id AS INTEGER) AS cell, v AS centroid,
      |                 sqrt(list_inner_product(v, v)) AS cent_n
      |          FROM c ORDER BY vec_id LIMIT 16),
      |asg AS (SELECT vec_id, v, cn, cell FROM (
      |  SELECT cc.vec_id, cc.v, cc.cn, seeds.cell,
      |    ROW_NUMBER() OVER (PARTITION BY cc.vec_id
      |      ORDER BY round(list_inner_product(cc.v, centroid) / (cc.cn * cent_n), 6) DESC,
      |               cell ASC) AS ar
      |  FROM cc CROSS JOIN seeds) t WHERE ar = 1),
      |q AS (SELECT vec_id AS query_id, v AS qv, cn AS qn FROM cc WHERE vec_id < 10),
      |probes AS (SELECT query_id, qv, qn, cell FROM (
      |  SELECT query_id, qv, qn, cell,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY round(list_inner_product(qv, centroid) / (qn * cent_n), 6) DESC,
      |               cell ASC) AS pr
      |  FROM q CROSS JOIN seeds) t WHERE pr <= 4),
      |scored AS (SELECT query_id, asg.vec_id,
      |    round(list_inner_product(qv, v) / (qn * cn), 6) AS cos
      |  FROM asg JOIN probes USING (cell) WHERE asg.vec_id <> query_id),
      |r AS (SELECT query_id, vec_id, cos,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS "rank"
      |  FROM scored)
      |SELECT query_id, "rank", vec_id, cos FROM r WHERE "rank" <= 5
      |ORDER BY query_id, "rank"""".stripMargin

  // ---- q142: IVF incremental add (frozen-quantizer append) -----------
  // q76's layout as a LIVING index: build from the 90% standing
  // vectors, then APPEND the 1-in-10 arrivals assigned with the SAME
  // frozen centroids — no rebuild, write cost tracks the new vectors,
  // standing cell files untouched (IvfLayoutSpec). Because assignment
  // depends only on the frozen quantizer, probing the appended layout
  // equals probing a full rebuild — the oracle assigns the whole
  // corpus in one pass against the base-corpus seeds.
  def ivfAppendTopKQuery(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    val fresh = emb.filter(col("vec_id") % 10 === 0)
    val cBase = base.select(col("vec_id"),
        Similarity.asDouble(col("embedding")).as("cv"))
      .localCheckpoint(true)
    val centroids = cBase.orderBy("vec_id").limit(16)
      .select(col("vec_id").cast("int").as("cell"), col("cv").as("centroid"))
      .localCheckpoint(true)
    val path = graft.Scratch.dir(
      "ivf_append_q142_" + math.abs(dir.hashCode).toString)
    graft.sources.Warehouse.writeIvfLayout(
      Similarity.ivfAssign(cBase, centroids), path)
    graft.sources.Warehouse.appendIvfLayout(
      Similarity.ivfAssign(
        fresh.select(col("vec_id"),
          Similarity.asDouble(col("embedding")).as("cv")),
        centroids), path)
    Similarity.ivfTopKFromLayout(spark, path,
        emb.filter(col("vec_id") < 10), centroids, k = 5, nProbe = 4)
      .orderBy("query_id", "rank")
  }

  val ivfAppendTopKSql: String =
    """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |cc AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS cn FROM c),
      |seeds AS (SELECT CAST(vec_id AS INTEGER) AS cell, v AS centroid,
      |                 sqrt(list_inner_product(v, v)) AS cent_n
      |          FROM c WHERE vec_id % 10 != 0 ORDER BY vec_id LIMIT 16),
      |asg AS (SELECT vec_id, v, cn, cell FROM (
      |  SELECT cc.vec_id, cc.v, cc.cn, seeds.cell,
      |    ROW_NUMBER() OVER (PARTITION BY cc.vec_id
      |      ORDER BY round(list_inner_product(cc.v, centroid) / (cc.cn * cent_n), 6) DESC,
      |               cell ASC) AS ar
      |  FROM cc CROSS JOIN seeds) t WHERE ar = 1),
      |q AS (SELECT vec_id AS query_id, v AS qv, cn AS qn FROM cc WHERE vec_id < 10),
      |probes AS (SELECT query_id, qv, qn, cell FROM (
      |  SELECT query_id, qv, qn, cell,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY round(list_inner_product(qv, centroid) / (qn * cent_n), 6) DESC,
      |               cell ASC) AS pr
      |  FROM q CROSS JOIN seeds) t WHERE pr <= 4),
      |scored AS (SELECT query_id, asg.vec_id,
      |    round(list_inner_product(qv, v) / (qn * cn), 6) AS cos
      |  FROM asg JOIN probes USING (cell) WHERE asg.vec_id <> query_id),
      |r AS (SELECT query_id, vec_id, cos,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS "rank"
      |  FROM scored)
      |SELECT query_id, "rank", vec_id, cos FROM r WHERE "rank" <= 5
      |ORDER BY query_id, "rank"""".stripMargin

  // ---- q50: TF-IDF keyword extraction (top-k terms per doc) ----------
  // The curation primitive for "what is this document about": term
  // frequency from one tokenize pass, document frequency from a groupBy
  // on the term (map-side combinable), smooth idf, top-k per doc via
  // rank window. All joins are on the term string; the df table is tiny
  // (vocabulary-sized) and broadcasts.
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val nDocs = docs.count() // driver scalar, like a scalar subquery
    val terms = docs.select(col("doc_id"),
        explode(Text.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = terms.groupBy("term")
      .agg(countDistinct("doc_id").as("df"))
    val scored = terms.join(broadcast(dfreq), "term")
      .withColumn("score", round(col("tf") *
        (log((lit(nDocs) + 1.0) / (col("df") + 1.0)) + 1.0), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(desc("score"), asc("term"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3 && col("doc_id") < 30)
      .select("doc_id", "rk", "term", "score")
      .orderBy("doc_id", "rk")
  }

  val tfidfSql: String =
    """WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      |              FROM documents),
      |terms AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      |dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
      |n AS (SELECT COUNT(*) AS nd FROM documents),
      |scored AS (SELECT doc_id, term,
      |    round(tf * (ln((nd + 1.0) / (df + 1.0)) + 1.0), 6) AS score
      |  FROM terms JOIN dfreq USING (term), n),
      |r AS (SELECT doc_id, term, score,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rk
      |  FROM scored)
      |SELECT doc_id, CAST(rk AS BIGINT) AS rk, term, score
      |FROM r WHERE rk <= 3 AND doc_id < 30 ORDER BY doc_id, rk""".stripMargin

  // ---- q43: token-window document chunking ---------------------------
  // The context-window prep step every LLM training pipeline needs:
  // overlapping W-token windows at stride S (last chunk truncates).
  // The windowing runs on a materialized token array with codegen'd
  // slice/concat — no per-chunk lambda in the plan.
  private val ChunkW = 32
  private val ChunkS = 24

  def docChunks(spark: SparkSession, dir: String): DataFrame = {
    val tt = Tables.documents(spark, dir).filter(col("doc_id") < 50)
      .select(col("doc_id"), Text.tokens(col("text")).as("t"))
      .filter(size(col("t")) > 0)
      .withColumn("n", size(col("t")))
    val lastIdx = ((greatest(col("n") - ChunkW, lit(0)) + lit(ChunkS - 1)) / ChunkS)
      .cast("int")
    val chunkToks = slice(col("t"), col("ci") * ChunkS + 1, lit(ChunkW))
    tt.withColumn("ci", explode(sequence(lit(0), lastIdx)))
      .select(col("doc_id"), col("ci").cast("long").as("chunk_idx"),
        size(chunkToks).cast("long").as("n_chunk_tokens"),
        md5(concat_ws(" ", chunkToks).cast("binary")).as("fp"))
      .orderBy("doc_id", "chunk_idx")
  }

  val docChunksSql: String =
    s"""WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
       |              FROM documents WHERE doc_id < 50),
       |tt AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
       |ch AS (SELECT doc_id, t,
       |         unnest(generate_series(0, (greatest(n - $ChunkW, 0) + ${ChunkS - 1}) // $ChunkS)) AS ci
       |       FROM tt)
       |SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
       |  CAST(len(list_slice(t, ci * $ChunkS + 1, ci * $ChunkS + $ChunkW)) AS BIGINT) AS n_chunk_tokens,
       |  md5(array_to_string(list_slice(t, ci * $ChunkS + 1, ci * $ChunkS + $ChunkW), ' ')) AS fp
       |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin

  // ---- q44: per-vector int8 embedding quantization -------------------
  // symmetric absmax quantization (the faiss/SQ8 baseline): scale =
  // 127/max|v|, q_i = round(v_i * scale). Output carries the scale and
  // the full quantized vector (comma-joined) so the oracle checks every
  // component, not a summary.
  def embedQuant(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir).filter(col("vec_id") < 20)
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
      .withColumn("scale",
        round(lit(127.0) / array_max(transform(col("v"), x => abs(x))), 6))
      .withColumn("q", transform(col("v"),
        x => round(x * col("scale"), 0).cast("int")))
    e.select(col("vec_id"), col("scale"),
        aggregate(col("q"), lit(0L), (a, x) => a + x.cast("long")).as("qsum"),
        concat_ws(",", transform(col("q"), _.cast("string"))).as("qvec"))
      .orderBy("vec_id")
  }

  // ---- q124: int8-quantized exact top-k (the SQ8 serving lane) -------
  // q44's quantization actually SERVING queries: brute-force top-5 over
  // the int8 codes — 4x less memory/bandwidth than float32, which is
  // what the rerank kernel inside an IVF probe actually streams. The
  // heavy inner product is pure INTEGER (exact, engine-identical); the
  // per-pair dequantization dot8/(scale_q*scale_d) is two
  // correctly-rounded IEEE ops + a 6-place round — the same
  // deterministic float channel every cosine lane here uses. Same plan
  // shape as q25 (corpus scans once, queries broadcast); int8-vs-float
  // ranking agreement is pinned in RetrievalSpec.
  def int8TopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
      .withColumn("scale",
        round(lit(127.0) / array_max(transform(col("v"), x => abs(x))), 6))
      .withColumn("q8", transform(col("v"),
        x => round(x * col("scale"), 0).cast("int")))
      .select("vec_id", "scale", "q8")
      .localCheckpoint(true) // feeds the query batch AND the corpus side
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("scale").as("qscale"),
        col("q8").as("qq"))
    val w = Window.partitionBy("query_id").orderBy(desc("score"), asc("vec_id"))
    e.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("dot8", aggregate(
        zip_with(col("q8"), col("qq"), (a, b) => (a * b).cast("long")),
        lit(0L), (acc, x) => acc + x))
      .withColumn("score",
        round(col("dot8") / (col("scale") * col("qscale")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select("query_id", "rank", "vec_id", "score")
      .orderBy("query_id", "rank")
  }

  val int8TopKSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |m AS (SELECT vec_id, v,
      |        round(127.0 / list_max(list_transform(v, x -> abs(x))), 6) AS scale
      |      FROM e),
      |q8 AS (SELECT vec_id, scale,
      |         list_transform(v, x -> CAST(round(x * scale, 0) AS INTEGER)) AS qv
      |       FROM m),
      |qs AS (SELECT vec_id AS query_id, scale AS qscale, qv AS qq
      |       FROM q8 WHERE vec_id < 5),
      |s AS (SELECT query_id, e.vec_id,
      |        round(CAST(list_sum(list_transform(list_zip(e.qv, qq),
      |          t -> t[1] * t[2])) AS BIGINT) / (e.scale * qscale), 6) AS score
      |      FROM q8 e, qs WHERE e.vec_id <> query_id),
      |r AS (SELECT query_id, vec_id, score,
      |        row_number() OVER (PARTITION BY query_id
      |          ORDER BY score DESC, vec_id) AS rk
      |      FROM s)
      |SELECT query_id, CAST(rk AS BIGINT) AS rank, vec_id, score
      |FROM r WHERE rk <= 5 ORDER BY query_id, rank""".stripMargin

  val embedQuantSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings WHERE vec_id < 20),
      |m AS (SELECT vec_id, v,
      |        round(127.0 / list_max(list_transform(v, x -> abs(x))), 6) AS scale
      |      FROM e),
      |q AS (SELECT vec_id, scale,
      |        list_transform(v, x -> CAST(round(x * scale, 0) AS INTEGER)) AS qv
      |      FROM m)
      |SELECT vec_id, scale, CAST(list_sum(qv) AS BIGINT) AS qsum,
      |       array_to_string(qv, ',') AS qvec
      |FROM q ORDER BY vec_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q17_lang_id"           -> (langId _),
    "q18_quality_score"     -> (qualityScore _),
    "q19_fingerprint"       -> (fingerprint _),
    "q20_exact_dedup"       -> (exactDedup _),
    "q21_ngram_jaccard"     -> (ngramJaccard _),
    "q99_prefix_jaccard"    -> (ngramJaccardPrefix _),
    "q22_minhash_lsh"       -> (minhashLsh _),
    "q311_minhash_durable"  -> (minhashLshDurable _),
    "q199_lsh_recall"       -> (lshRecallGate _),
    "q213_embedding_audit"  -> (embeddingAudit _),
    "q22x_minhash_xxhash"   -> (minhashLshXx _),
    "q23_simhash"           -> (simhash _),
    "q24_embedding_neardup" -> (embeddingNearDup _),
    "q90_semantic_dedup"    -> (semanticDedup _),
    "q25_cosine_topk"       -> (cosineTopK _),
    "q32_simhash_pairs"     -> (simhashPairs _),
    "q33_lsh_topk"          -> (lshTopKQuery _),
    "q34_ivf_topk"          -> (ivfTopKQuery _),
    "q76_ivf_layout_topk"   -> (ivfLayoutTopKQuery _),
    "q142_ivf_append_topk"  -> (ivfAppendTopKQuery _),
    "q178_ivf_kmeans_build" -> (ivfKmeansBuildQuery _),
    "q39_ngram_capped"      -> (ngramJaccardCapped _),
    "q40_dedup_clusters"    -> (dedupClusters _),
    "q109_cluster_sizes"    -> (clusterSizeHistogram _),
    "q135_cluster_split"    -> (clusterSplit _),
    "q140_incremental_cc"   -> (incrementalCC _),
    "q141_stream_incremental_cc" -> (streamIncrementalCc _),
    "q59_deduped_corpus"    -> (dedupedCorpus _),
    "q61_stream_neardup"    -> (streamingNearDup _),
    "q245_rocksdb_neardup"  -> (streamingNearDupRocksDb _),
    "q70_dedup_keep_longest" -> (dedupedKeepLongest _),
    "q73_cross_corpus_dedup" -> (crossCorpusNearDup _),
    "q75_stream_cross_corpus" -> (streamingCrossCorpus _),
    "q77_contamination"     -> (contamination _),
    "q79_vocab_build"       -> (buildVocab _),
    "q286_zipf_audit"       -> (zipfAudit _),
    "q289_threshold_curve"  -> (thresholdCurve _),
    "q295_embedding_norms"  -> (embeddingNormAudit _),
    "q299_cross_source_matrix" -> (crossSourceMatrix _),
    "q301_quant_audit"      -> (quantAudit _),
    "q302_dedup_savings"    -> (dedupSavings _),
    "q300_corpus_scorecard" -> (corpusScorecard _),
    "q143_bpe_merges"       -> (bpeMerges _),
    "q153_bpe_fertility"    -> (bpeFertility _),
    "q154_prefix_groups"    -> (prefixCacheGroups _),
    "q144_bpe_vocab"        -> (bpeVocabQ _),
    "q145_bpe_token_count"  -> (bpeTokenCountQ _),
    "q80_unigram_surprisal" -> (unigramSurprisal _),
    "q148_bigram_surprisal" -> (bigramSurprisal _),
    "q156_curriculum"       -> (curriculum _),
    "q158_dup_source_matrix" -> (dupSourceMatrix _),
    "q159_boilerplate_ngrams" -> (boilerplateNgrams _),
    "q166_lsh_histogram"    -> (lshHistogram _),
    "q150_corpus_report"    -> (corpusReport _),
    "q43_doc_chunks"        -> (docChunks _),
    "q44_embed_quant"       -> (embedQuant _),
    "q124_int8_topk"        -> (int8TopK _),
    "q50_tfidf_top_terms"   -> (tfidfTopTerms _))

  val oracles: Map[String, String] = Map(
    "q17_lang_id"           -> langIdSql,
    "q18_quality_score"     -> qualityScoreSql,
    "q19_fingerprint"       -> fingerprintSql,
    "q20_exact_dedup"       -> exactDedupSql,
    "q21_ngram_jaccard"     -> ngramJaccardSql,
    // q99 must equal the exact all-pairs result — same oracle as q21
    "q99_prefix_jaccard"    -> ngramJaccardSql,
    "q22_minhash_lsh"       -> minhashLshSql,
    "q311_minhash_durable"  -> minhashLshSql,
    "q199_lsh_recall"       -> lshRecallGateSql,
    "q213_embedding_audit"  -> embeddingAuditSql,
    // The xx lane emits the EXACT h64-set Jaccard for each verified
    // pair (minhashLshPairs' verify join is family-independent), so
    // the md5-lane oracle applies verbatim: the check asserts the
    // seeded-xxhash64 band family recovers every true near-dup pair
    // on the gate corpus — end-to-end recall 1.0, not estimate-vs-
    // estimate. (At replica scale a borderline pair CAN miss all 4
    // bands in one family; MinhashXxLaneSpec + ScaleVerify bound that
    // at recall >= 0.99 — the gate corpus has no such pair.)
    "q22x_minhash_xxhash"   -> minhashLshSql,
    "q23_simhash"           -> simhashSql,
    "q24_embedding_neardup" -> embeddingNearDupSql,
    "q90_semantic_dedup"    -> semanticDedupSql,
    "q25_cosine_topk"       -> cosineTopKSql,
    "q32_simhash_pairs"     -> simhashPairsSql,
    "q33_lsh_topk"          -> lshTopKSql,
    "q34_ivf_topk"          -> ivfTopKSql,
    // the layout path must reproduce the in-memory result bit-for-bit
    "q76_ivf_layout_topk"   -> ivfTopKSql,
    "q142_ivf_append_topk"  -> ivfAppendTopKSql,
    "q178_ivf_kmeans_build" -> ivfKmeansBuildSql,
    "q39_ngram_capped"      -> ngramJaccardCappedSql,
    "q40_dedup_clusters"    -> dedupClustersSql,
    "q109_cluster_sizes"    -> clusterSizeHistogramSql,
    "q135_cluster_split"    -> clusterSplitSql,
    // the law IS the oracle: incremental must equal the from-scratch closure
    "q140_incremental_cc"   -> dedupClustersSql,
    "q141_stream_incremental_cc" -> dedupClustersSql,
    "q59_deduped_corpus"    -> dedupedCorpusSql,
    "q61_stream_neardup"    -> streamingNearDupSql,
    "q245_rocksdb_neardup"  -> streamingNearDupSql,
    "q70_dedup_keep_longest" -> dedupedKeepLongestSql,
    "q73_cross_corpus_dedup" -> crossCorpusNearDupSql,
    // q75 must equal the BATCH cross-corpus result — same oracle as q73
    "q75_stream_cross_corpus" -> crossCorpusNearDupSql,
    "q77_contamination"     -> contaminationSql,
    "q79_vocab_build"       -> buildVocabSql,
    "q286_zipf_audit"       -> zipfAuditSql,
    "q289_threshold_curve"  -> thresholdCurveSql,
    "q295_embedding_norms"  -> embeddingNormAuditSql,
    "q299_cross_source_matrix" -> crossSourceMatrixSql,
    "q301_quant_audit"      -> quantAuditSql,
    "q302_dedup_savings"    -> dedupSavingsSql,
    "q300_corpus_scorecard" -> corpusScorecardSql,
    "q143_bpe_merges"       -> bpeMergesSql(BpeMergeK, VocabMinCount),
    "q153_bpe_fertility"    -> bpeFertilitySql(BpeMergeK, VocabMinCount),
    "q154_prefix_groups"    -> prefixCacheGroupsSql,
    "q144_bpe_vocab"        -> bpeVocabSql(BpeMergeK, VocabMinCount, 40),
    "q145_bpe_token_count"  -> bpeTokenCountSql(BpeMergeK, VocabMinCount),
    "q80_unigram_surprisal" -> unigramSurprisalSql,
    "q148_bigram_surprisal" -> bigramSurprisalSql,
    "q156_curriculum"       -> curriculumSql,
    "q158_dup_source_matrix" -> dupSourceMatrixSql,
    "q159_boilerplate_ngrams" -> boilerplateNgramsSql,
    "q166_lsh_histogram"    -> lshHistogramSql,
    "q150_corpus_report"    -> corpusReportSql,
    "q43_doc_chunks"        -> docChunksSql,
    "q44_embed_quant"       -> embedQuantSql,
    "q124_int8_topk"        -> int8TopKSql,
    "q50_tfidf_top_terms"   -> tfidfSql)
}
