package graft.operators

import graft.Tables
import graft.functions.Text
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Retrieval / curation operators over the documents corpus (q111-q116):
  * the selection-and-labeling half of a training-data pipeline —
  * group-relative filtering, term retrieval, deterministic negative
  * sampling, inverted-index statistics, majority-vote labeling, and
  * mixture composition reporting. Reference scope: none of these exist
  * in the reference (beyond-parity, like the rest of the LLM-pipeline
  * block); the data model is the synthetic documents table.
  *
  * Every query keeps the cross-engine exactness discipline: integer
  * arithmetic end-to-end (integer division via `div`//`//`, per-mille
  * integers instead of float shares, the md5 hex-window hash channel),
  * dyadic percentiles on integral inputs where a threshold is needed.
  */
object Retrieval {

  private def toks(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"), explode(Text.tokens(col("text"))).as("token"))
  }

  /** The shared DuckDB tokenizer CTE (mirrors Text.tokens). */
  private val TokCte =
    "tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token FROM documents)"

  // ---- q111: group-relative quality filter ---------------------------
  // Per-language MEDIAN token-count cut: the group-relative form of
  // length filtering (an absolute cut over a multilingual corpus
  // systematically biases against terse scripts — the per-group
  // threshold is the standard fix). Median via dyadic percentile over
  // INTEGRAL token counts: the 0.5-interpolation midpoint of two
  // integers is exactly representable, so Spark and DuckDB agree
  // bit-for-bit. Shape at scale: one bounded aggregate per language
  // (the threshold frame is |langs| rows, broadcast back), one corpus
  // pass — no window, no shuffle beyond the two grouped aggregates.
  def groupFilter(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val t = docs.select(col("lang"), col("n_chars"),
      Text.tokenCount(col("text")).cast("long").as("tok_n"))
    val med = t.groupBy("lang")
      .agg(expr("percentile(tok_n, 0.5D)").as("med"))
    val kept = col("tok_n") >= col("med")
    t.join(broadcast(med), Seq("lang"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
        sum(when(kept, col("n_chars")).otherwise(0L)).as("kept_chars"))
      .orderBy("lang")
  }

  val groupFilterSql: String =
    """WITH t AS (
      |  SELECT lang, n_chars,
      |         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS tok_n
      |  FROM documents),
      |m AS (SELECT lang, quantile_cont(tok_n, 0.5) AS med FROM t GROUP BY 1)
      |SELECT t.lang, COUNT(*) AS n_docs,
      |       CAST(SUM(CASE WHEN tok_n >= med THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |       CAST(SUM(CASE WHEN tok_n >= med THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
      |FROM t JOIN m ON t.lang = m.lang
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q112: term retrieval (integer-scaled tf-idf top-k) ------------
  // Fixed-term retrieval with an INTEGER idf: idf(t) = (N*1000) div
  // df(t) — floor division both engines compute identically, where a
  // float ln()-idf would differ in the last ulp and flip tie-ordering.
  // Shape at scale: the posting filter prunes to the query terms
  // BEFORE any aggregation (a 3-term scan of a 100 TB corpus is a
  // predicate-pushdown scan, not an index build); the df/N frames are
  // term-count-sized and broadcast; top-k is TakeOrderedAndProject.
  private val Terms = Seq("spark", "table", "hash")

  def termRetrieval(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val t = toks(docs).filter(col("token").isin(Terms: _*))
      .localCheckpoint(true) // feeds tf AND df
    val tf = t.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfq = t.groupBy("token").agg(countDistinct("doc_id").as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(broadcast(dfq), Seq("token"))
      .crossJoin(broadcast(n))
      .withColumn("idf", expr("(n_docs * 1000) div df"))
      .groupBy("doc_id")
      .agg(sum(col("tf") * col("idf")).as("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(10)
  }

  val termRetrievalSql: String =
    s"""WITH $TokCte,
       |t AS (SELECT doc_id, token FROM tok WHERE token IN ('spark','table','hash')),
       |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM t GROUP BY 1, 2),
       |df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY 1),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents)
       |SELECT doc_id, CAST(SUM(tf * ((n_docs * 1000) // df)) AS BIGINT) AS score
       |FROM tf JOIN df USING (token), n
       |GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin

  // ---- q123: sparse tf-idf document similarity -----------------------
  // The LEXICAL retrieval twin of the dense ANN lanes (q25/q33/q34):
  // top-10 documents most similar to a fixed query document by tf-idf
  // dot product over shared tokens — all INTEGER arithmetic
  // (score = Σ_t tf_d * tf_q * idf(t)², idf = (N*1000) div df), so the
  // ranking is engine-identical. Shape at scale: the query doc's term
  // vector is a broadcast dim; candidates come from the posting join on
  // shared tokens only (documents sharing nothing never pair — the
  // inverted-index sparsity the dense path can't exploit); one grouped
  // sum + TakeOrderedAndProject.
  private val SimQueryDoc = 0L

  def docSimilarity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val tf = toks(docs).groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(true) // feeds df, the query vector, and candidates
    val dfq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val qvec = tf.filter(col("doc_id") === SimQueryDoc)
      .select(col("token"), col("tf").as("tf_q"))
    tf.filter(col("doc_id") =!= SimQueryDoc)
      .join(broadcast(qvec), Seq("token")) // one doc's terms — bounded
      // dfq is full-vocab-sized (grows with the corpus): no forced
      // broadcast; AQE sees the checkpointed size and decides.
      .join(dfq, Seq("token"))
      .crossJoin(broadcast(n))
      .withColumn("idf", expr("(n_docs * 1000) div df"))
      .groupBy("doc_id")
      .agg(sum(col("tf") * col("tf_q") * col("idf") * col("idf")).as("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(10)
  }

  val docSimilaritySql: String =
    s"""WITH $TokCte,
       |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |q AS (SELECT token, tf AS tf_q FROM tf WHERE doc_id = $SimQueryDoc)
       |SELECT tf.doc_id,
       |       CAST(SUM(tf.tf * q.tf_q * ((n_docs * 1000) // df)
       |                * ((n_docs * 1000) // df)) AS BIGINT) AS score
       |FROM tf JOIN q USING (token) JOIN df USING (token), n
       |WHERE tf.doc_id <> $SimQueryDoc
       |GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin

  // ---- q113: deterministic negative sampling -------------------------
  // Contrastive-training prep: for each anchor doc in a deterministic
  // 10% hash sample, k=3 negatives drawn by the md5 hex-window channel
  // (the q41 hash), mapped to (anchor + 1 + h mod (N-1)) mod N — the
  // +1 ring offset guarantees a negative never equals its anchor
  // without rejection sampling (which would be engine-order-dependent).
  // doc_ids are dense 0..N-1 in this corpus; a sparse id space would
  // first rank through Ranking.globalRowNumber. Zero shuffles: one
  // scan, a 1-row count attachment, a 3-way explode.
  def negativeSampling(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    docs.filter(graft.functions.Sampling.hashKeep(col("doc_id"), 0.1))
      .select(col("doc_id"))
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("n_docs"),
        explode(array(lit(0L), lit(1L), lit(2L))).as("j"))
      .withColumn("h", graft.plans.GraftFunctions.hex_window(
        md5(concat(col("doc_id").cast("string"), lit(":"),
          col("j").cast("string")).cast("binary")), 0, 8))
      .select(col("doc_id"), col("j"),
        pmod(col("doc_id") + 1L + pmod(col("h"), col("n_docs") - 1L),
          col("n_docs")).as("neg_id"))
      .orderBy("doc_id", "j")
  }

  val negativeSamplingSql: String =
    """WITH n AS (SELECT COUNT(*) AS n_docs FROM documents)
      |SELECT doc_id, CAST(j AS BIGINT) AS j,
      |       (doc_id + 1 + (('0x' || substr(md5(doc_id || ':' || j), 1, 8))::BIGINT
      |          % (n_docs - 1))) % n_docs AS neg_id
      |FROM documents, (SELECT unnest([0, 1, 2]) AS j), n
      |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT < 429496729
      |ORDER BY doc_id, j""".stripMargin

  // ---- q114: inverted-index posting statistics -----------------------
  // The summary a posting-list build emits per term: document
  // frequency, total term frequency, first/last posting. Top-20 by df
  // with full tiebreak. One explode + one grouped aggregate (map-side
  // combinable) + TakeOrderedAndProject — the same shape as the vocab
  // build, all integers.
  def postingStats(spark: SparkSession, dir: String): DataFrame =
    toks(Tables.documents(spark, dir))
      .groupBy("token")
      .agg(
        countDistinct("doc_id").as("df"),
        count(lit(1)).as("tf"),
        min("doc_id").as("first_doc"),
        max("doc_id").as("last_doc"))
      .orderBy(desc("df"), desc("tf"), asc("token"))
      .limit(20)

  val postingStatsSql: String =
    s"""WITH $TokCte
       |SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
       |       COUNT(*) AS tf,
       |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
       |FROM tok GROUP BY 1
       |ORDER BY df DESC, tf DESC, token LIMIT 20""".stripMargin

  // ---- q115: majority-vote label aggregation -------------------------
  // Weak-supervision consensus: three synthetic annotators (the md5
  // channel mod 3 — deterministic stand-ins for model/heuristic
  // labelers) vote per doc; majority wins, full three-way ties resolve
  // to the smallest label. max_by over (count, -label) picks the
  // winner in ONE grouped aggregate — no per-doc window. Output is the
  // consensus label distribution.
  def majorityVote(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    docs.select(col("doc_id"),
        explode(array(lit(0L), lit(1L), lit(2L))).as("a"))
      .withColumn("label", pmod(graft.plans.GraftFunctions.hex_window(
        md5(concat(col("doc_id").cast("string"), lit("#"),
          col("a").cast("string")).cast("binary")), 0, 8), lit(3L)))
      .groupBy("doc_id", "label").agg(count(lit(1)).as("n"))
      .groupBy("doc_id")
      .agg(max_by(col("label"),
        struct(col("n"), (-col("label")).as("nl"))).as("label"))
      .groupBy("label").agg(count(lit(1)).as("n_docs"))
      .orderBy("label")
  }

  val majorityVoteSql: String =
    """WITH ann AS (
      |  SELECT doc_id, a,
      |         ('0x' || substr(md5(doc_id || '#' || a), 1, 8))::BIGINT % 3 AS label
      |  FROM documents, (SELECT unnest([0, 1, 2]) AS a)),
      |cnt AS (SELECT doc_id, label, COUNT(*) AS n FROM ann GROUP BY 1, 2),
      |pick AS (SELECT doc_id, label,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, label ASC) AS rn
      |  FROM cnt)
      |SELECT label, COUNT(*) AS n_docs FROM pick WHERE rn = 1
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q116: training-mixture composition report ---------------------
  // The (lang, source) token-share grid a mixture designer reads before
  // setting sampling weights (q81's input, basically). Shares as
  // PER-MILLE INTEGERS of the corpus token total — integer floor
  // division, not a float ratio, so the grid hash-matches cross-engine.
  // Two grouped aggregates + a 1-row total attachment.
  def composition(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val t = docs.select(col("lang"), col("source"),
      Text.tokenCount(col("text")).cast("long").as("tok_n"))
    val grid = t.groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum("tok_n").as("tokens"))
    val total = grid.agg(sum("tokens").as("total_tokens"))
    grid.crossJoin(broadcast(total))
      .withColumn("share_pm", expr("(tokens * 1000) div total_tokens"))
      .select("lang", "source", "n_docs", "tokens", "share_pm")
      .orderBy("lang", "source")
  }

  val compositionSql: String =
    """WITH t AS (
      |  SELECT lang, source,
      |         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS tok_n
      |  FROM documents),
      |g AS (SELECT lang, source, COUNT(*) AS n_docs,
      |             CAST(SUM(tok_n) AS BIGINT) AS tokens
      |      FROM t GROUP BY 1, 2),
      |tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total_tokens FROM g)
      |SELECT lang, source, n_docs, tokens,
      |       CAST((tokens * 1000) // total_tokens AS BIGINT) AS share_pm
      |FROM g, tot ORDER BY lang, source""".stripMargin

  // ---- q173: BM25 top-k (integer-exact Okapi) ------------------------
  // The industry-standard lexical ranker, in the same integer-exact
  // discipline as q112's tf-idf: BM25(k1=1.2, b=0.75) has score_t =
  // idf · tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl)). With avgdl = T/N
  // (T total tokens, N docs), multiplying numerator and denominator by
  // 20·T clears every fractional constant EXACTLY:
  //   score_t = (44·T·tf·idf) div (20·T·tf + 6·T + 18·dl·N)
  // (1.2·20=24 → 24·(T/4)=6T; 24·(3/4)·dl·N=18·dl·N; 2.2·20=44), so
  // both engines rank by identical BIGINT arithmetic — no float idf,
  // no last-ulp tie flips. idf keeps q112's (N·1000) div df channel.
  // Magnitude bound: 44·T·tf·idf ≤ 44·T·tf·1000·N/df — for the fixed
  // common query terms (df ~ N) this is ~4.4e4·T·tf, far inside int64
  // at any sf here; a rare-term caller would rescale.
  //
  // Shape at scale: the posting filter prunes to the query terms
  // before any shuffle; df/N/T frames are tiny and broadcast; dl is a
  // corpus-keyed aggregate joined once; top-k is TakeOrderedAndProject.
  /** The full BM25-scored candidate frame (doc_id, score) — every doc
    * containing at least one query term. Factored out so q235's fusion
    * can rank the same scores the q173 top-k consumes. */
  private def bm25Scores(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val t = toks(docs).localCheckpoint(true) // feeds dl, T, and postings
    val dl = t.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val qt = t.filter(col("token").isin(Terms: _*))
      .localCheckpoint(true) // feeds tf AND df
    val tf = qt.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfq = qt.groupBy("token").agg(countDistinct("doc_id").as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val tot = t.agg(count(lit(1)).as("t_tokens"))
    tf.join(broadcast(dfq), Seq("token"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(n)).crossJoin(broadcast(tot))
      .withColumn("idf", expr("(n_docs * 1000) div df"))
      .withColumn("s", expr(
        "(44 * t_tokens * tf * idf) div " +
          "(20 * t_tokens * tf + 6 * t_tokens + 18 * dl * n_docs)"))
      .groupBy("doc_id").agg(sum("s").as("score"))
  }

  def bm25TopK(spark: SparkSession, dir: String): DataFrame =
    bm25Scores(spark, dir)
      .orderBy(desc("score"), asc("doc_id"))
      .limit(10)

  val bm25TopKSql: String =
    s"""WITH $TokCte,
       |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
       |t AS (SELECT doc_id, token FROM tok WHERE token IN ('spark','table','hash')),
       |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM t GROUP BY 1, 2),
       |df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY 1),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |tot AS (SELECT COUNT(*) AS t_tokens FROM tok),
       |s AS (SELECT tf.doc_id,
       |        (44 * t_tokens * tf * ((n_docs * 1000) // df)) //
       |          (20 * t_tokens * tf + 6 * t_tokens + 18 * dl * n_docs) AS s
       |      FROM tf JOIN df USING (token) JOIN dl ON tf.doc_id = dl.doc_id, n, tot)
       |SELECT doc_id, CAST(SUM(s) AS BIGINT) AS score
       |FROM s GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin

  // ---- q235: reciprocal-rank-fusion hybrid retrieval -----------------
  // The standard way production search fuses a sparse (lexical) and a
  // dense (embedding) ranker without score calibration: RRF(d) =
  // Σ_lists 1/(k + rank_list(d)), k = 60 (Cormack/Clarke/Buettcher,
  // SIGIR'09 — rank-only fusion, immune to incomparable score scales).
  // Here the sparse list is q173's integer-exact BM25 (same scores, via
  // bm25Scores) and the dense list is q25's brute-force cosine for
  // query vec_id = 0 (vec_id and doc_id share the id domain in the
  // testdata). Both engines compute contributions in the SAME integer
  // channel — 10^6 div (60 + rank) — so fused scores and the final
  // ordering are bit-identical; a float 1/(60+r) would agree here too,
  // but the integer form keeps the repo's no-last-ulp discipline.
  //
  // Shape at scale: each ranker ends in TakeOrderedAndProject(N) — the
  // global sort never materializes; the row_number that assigns ranks
  // runs over the ALREADY-TRUNCATED N-row frame (single tiny
  // partition by construction, not a corpus funnel). The fusion join
  // is N-row × N-row — driver-scale, broadcast regardless of corpus
  // size. Missing-from-one-list docs contribute 0 from that list
  // (full outer join), the standard RRF convention.
  private val RrfK = 60L
  private val RrfN = 50

  def rrfFusion(spark: SparkSession, dir: String): DataFrame = {
    val byScore = Seq(desc("score"), asc("doc_id"))
    val sparse = bm25Scores(spark, dir)
      .orderBy(byScore: _*).limit(RrfN) // TakeOrdered — no global sort
      .withColumn("s_rank",
        row_number().over(Window.orderBy(byScore: _*)).cast("long"))
      .select("doc_id", "s_rank")
    val emb = Tables.embeddings(spark, dir)
    val dense = Similarity
      .bruteForceTopK(emb.filter(col("vec_id") === 0), emb, k = RrfN)
      .select(col("vec_id").as("doc_id"), col("rank").as("d_rank"))
    sparse.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(expr(s"1000000 div ($RrfK + s_rank)"), lit(0L)).as("s_contrib"),
        coalesce(expr(s"1000000 div ($RrfK + d_rank)"), lit(0L)).as("d_contrib"))
      .withColumn("rrf", col("s_contrib") + col("d_contrib"))
      .orderBy(desc("rrf"), asc("doc_id"))
      .limit(20)
  }

  val rrfFusionSql: String =
    s"""WITH $TokCte,
       |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
       |t AS (SELECT doc_id, token FROM tok WHERE token IN ('spark','table','hash')),
       |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM t GROUP BY 1, 2),
       |df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY 1),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |tot AS (SELECT COUNT(*) AS t_tokens FROM tok),
       |s AS (SELECT tf.doc_id,
       |        (44 * t_tokens * tf * ((n_docs * 1000) // df)) //
       |          (20 * t_tokens * tf + 6 * t_tokens + 18 * dl * n_docs) AS s
       |      FROM tf JOIN df USING (token) JOIN dl ON tf.doc_id = dl.doc_id, n, tot),
       |sc AS (SELECT doc_id, SUM(s) AS score FROM s GROUP BY 1),
       |sr AS (SELECT doc_id,
       |         ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS s_rank
       |       FROM sc),
       |sl AS (SELECT doc_id, s_rank FROM sr WHERE s_rank <= $RrfN),
       |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT v AS qv, sqrt(list_inner_product(v, v)) AS qn
       |      FROM c WHERE vec_id = 0),
       |cv AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS cn FROM c),
       |ds AS (SELECT vec_id, round(list_inner_product(qv, v) / (qn * cn), 6) AS cos
       |       FROM cv, q WHERE vec_id <> 0),
       |dr AS (SELECT vec_id AS doc_id,
       |         ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS d_rank
       |       FROM ds),
       |dn AS (SELECT doc_id, d_rank FROM dr WHERE d_rank <= $RrfN),
       |f AS (SELECT COALESCE(sl.doc_id, dn.doc_id) AS doc_id,
       |        COALESCE(1000000 // ($RrfK + s_rank), 0) AS s_contrib,
       |        COALESCE(1000000 // ($RrfK + d_rank), 0) AS d_contrib
       |      FROM sl FULL OUTER JOIN dn ON sl.doc_id = dn.doc_id)
       |SELECT doc_id, CAST(s_contrib AS BIGINT) AS s_contrib,
       |       CAST(d_contrib AS BIGINT) AS d_contrib,
       |       CAST(s_contrib + d_contrib AS BIGINT) AS rrf
       |FROM f ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin

  // ---- q182: positional-index phrase search --------------------------
  // Exact phrase match ("table window key") through a positional
  // inverted index — the retrieval primitive LIKE/regex cannot give a
  // term-partitioned index: postings are (token, doc_id, pos); the
  // phrase probes ONLY its own terms' posting lists and intersects
  // them with equality joins on (doc_id, pos - offset). Term order in
  // the join chain is RAREST-FIRST (driver reads the 3-row df counts —
  // a bounded collect, |phrase| rows regardless of corpus size), so
  // the intermediate after the first join is already near the final
  // match volume — the positional analog of leapfrog-triejoin's
  // smallest-relation-first discipline.
  //
  // Shape at 100 TB: the `isin` prunes the posting build to the
  // phrase's terms before any shuffle (a real deployment reads the
  // 3 posting lists straight off the term-partitioned index — q76's
  // layout); each intersection is a partitioned equality join keyed
  // on doc_id, never a position-range scan; match accounting is one
  // map-side-combinable aggregate on doc_id.
  def phraseSearch(spark: SparkSession, dir: String,
                   phrase: Seq[String] = Seq("table", "window", "key")): DataFrame = {
    require(phrase.nonEmpty && phrase.size == phrase.distinct.size,
      "phrase terms must be distinct (repeat terms need a multiset probe)")
    val docs = Tables.documents(spark, dir)
    val post = docs
      .select(col("doc_id"), posexplode(Text.tokens(col("text"))))
      .toDF("doc_id", "pos", "token")
      .filter(col("token").isin(phrase: _*))
      .localCheckpoint(true) // consumed by the df counts AND |phrase| probes
    // rarest-first join order: |phrase| rows to the driver, not data
    val df = post.groupBy("token").agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val order = phrase.indices.sortBy(i => df.getOrElse(phrase(i), 0L))
    def probe(i: Int): DataFrame = post
      .filter(col("token") === phrase(i))
      // normalize every term's position to the PHRASE START position
      .select(col("doc_id"), (col("pos") - i).as("start"))
    val starts = order.tail.foldLeft(probe(order.head))(
      (acc, i) => acc.join(probe(i), Seq("doc_id", "start")))
    starts.filter(col("start") >= 0)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matches"),
        min("start").cast("long").as("first_pos"))
      .orderBy("doc_id")
  }

  val phraseSearchSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      |  FROM documents),
      |p AS (SELECT doc_id, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i, t
      |      FROM toks),
      |m AS (SELECT doc_id, i FROM p
      |      WHERE t[i] = 'table' AND t[i+1] = 'window' AND t[i+2] = 'key')
      |SELECT doc_id, COUNT(*) AS n_matches,
      |       CAST(MIN(i) - 1 AS BIGINT) AS first_pos
      |FROM m GROUP BY 1 ORDER BY doc_id""".stripMargin

  // ---- q197: feature hashing (the hashing-trick featurizer) ----------
  // Vowpal/fastText-style signed feature hashing: every token maps to
  // one of 64 buckets by a seeded md5 hash, contributes +1/-1 by a
  // second hash bit, and each document's feature vector is the signed
  // per-bucket sum — sparse (doc_id, bucket, value) triples with
  // cancelled-out buckets dropped. This is how a text corpus becomes
  // fixed-width model input WITHOUT a vocabulary table: no vocab
  // build, no broadcast dictionary, memory O(buckets) per doc.
  // Integer end-to-end, bit-identical across engines.
  //
  // Scale shape: one token explode + one (doc, bucket) grouped sum —
  // a single map-side-combinable aggregate keyed on the pair; nothing
  // else. The 100 TB cost is the explode's row volume, which every
  // tokenizing operator here already pays.
  private val HashBuckets = 64L

  def featureHash(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("w"))
    toks
      .withColumn("bucket",
        pmod(conv(substring(md5(concat(lit("fh"), col("w"))), 1, 15), 16, 10)
          .cast("long"), lit(HashBuckets)))
      .withColumn("sign",
        when(pmod(conv(substring(md5(concat(lit("sgn"), col("w"))), 1, 1), 16, 10)
          .cast("long"), lit(2L)) === 0L, lit(1L)).otherwise(lit(-1L)))
      .groupBy("doc_id", "bucket")
      .agg(sum("sign").as("weight"))
      .filter(col("weight") =!= 0L)
      .orderBy("doc_id", "bucket")
  }

  val featureHashSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id,
       |         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
       |  FROM documents),
       |h AS (SELECT doc_id,
       |        ('0x' || substr(md5('fh' || w), 1, 15))::BIGINT % $HashBuckets
       |          AS bucket,
       |        CASE WHEN ('0x' || substr(md5('sgn' || w), 1, 1))::BIGINT % 2 = 0
       |             THEN 1 ELSE -1 END AS sgn
       |      FROM tok)
       |SELECT doc_id, bucket, CAST(SUM(sgn) AS BIGINT) AS weight
       |FROM h GROUP BY 1, 2 HAVING SUM(sgn) <> 0
       |ORDER BY 1, 2""".stripMargin

  // ---- q277: mutual-kNN pairs (reciprocal best match) ----------------
  // The bitext/parallel-corpus mining primitive (Artetxe & Schwenk
  // 2019, "Margin-based Parallel Corpus Mining", public literature):
  // a pair (a, b) is kept only when b is a's single nearest neighbor
  // AND a is b's — reciprocity kills the hub vectors that are
  // "everyone's neighbor" and produce the false matches a one-sided
  // top-1 keeps. Built from Similarity.bruteForceTopK (k=1, cos
  // rounded to 6 with vec_id tiebreak, so the NN function is
  // deterministic cross-engine) + ONE self-equi-join on the oriented
  // pair — no second scoring pass.
  //
  // Shape at scale: the oracle lane bounds the slice; the library path
  // feeds the same reciprocity join from lshTopK/ivfTopK candidates
  // (equality joins on bucket keys), so corpus-scale mutual-kNN is
  // two bucketed top-1 passes + a pair equi-join — never all-pairs.
  private[graft] def nn1Of(sub: DataFrame): DataFrame =
    Similarity.bruteForceTopK(sub, sub, k = 1)
      .select(col("query_id").as("a"), col("vec_id").as("b"), col("cos"))

  /** Reciprocity core over any (a, b, cos) top-1 frame — the seam the
    * spec uses to plant a hub vector and assert it is filtered. */
  private[graft] def mutualOf(nn: DataFrame): DataFrame =
    nn.as("x").join(nn.as("y"),
        col("x.a") === col("y.b") && col("x.b") === col("y.a") &&
          col("x.a") < col("x.b"))
      .select(col("x.a").as("vec_a"), col("x.b").as("vec_b"), col("x.cos"))

  def mutualKnn(spark: SparkSession, dir: String): DataFrame =
    mutualOf(nn1Of(Tables.embeddings(spark, dir).filter(col("vec_id") < 300)))
      .orderBy("vec_a")

  val mutualKnnSql: String =
    """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings WHERE vec_id < 300),
      |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nm FROM c),
      |scored AS (SELECT a.vec_id AS qa, b.vec_id AS qb,
      |    round(list_inner_product(a.v, b.v) / (a.nm * b.nm), 6) AS cos
      |  FROM n a JOIN n b ON a.vec_id <> b.vec_id),
      |r AS (SELECT qa, qb, cos, ROW_NUMBER() OVER (PARTITION BY qa
      |        ORDER BY cos DESC, qb ASC) AS rn FROM scored),
      |nn AS (SELECT qa, qb, cos FROM r WHERE rn = 1)
      |SELECT x.qa AS vec_a, x.qb AS vec_b, x.cos AS cos
      |FROM nn x JOIN nn y ON x.qa = y.qb AND x.qb = y.qa AND x.qa < x.qb
      |ORDER BY vec_a""".stripMargin

  // ---- q287: 1-NN label purity (embedding-space label quality) -------
  // The leave-one-out 1-NN classifier's per-class accuracy — the
  // standard label-noise / cluster-coherence probe over an embedding
  // column: if a label's members don't even retrieve each other at
  // k=1, that label is noise to any downstream contrastive or
  // classifier training. Reuses q277's deterministic top-1 frame
  // (6-decimal cosine, vec_id tiebreak); purity = matched queries per
  // label in ppm (ratio of integers, bit-identical cross-engine).
  //
  // Shape at scale: the NN frame comes from the bucketed top-1 passes
  // (q33/q34 lshTopK/ivfTopK) exactly as q277 documents; the label
  // join is a hash join against the embedding metadata (no broadcast
  // assumption — labels are corpus-sized), and the fold is one
  // map-side-combinable groupBy on label.
  private[graft] def purityOf(nn: DataFrame, labels: DataFrame): DataFrame =
    nn.join(labels.select(col("vec_id").as("a"), col("label").as("la")), "a")
      .join(labels.select(col("vec_id").as("b"), col("label").as("lb")), "b")
      .groupBy(col("la").as("label"))
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("la") === col("lb"), 1L).otherwise(0L)).as("n_match"))
      .select(col("label"), col("n_queries"), col("n_match"),
        expr("n_match * 1000000 div n_queries").as("purity_ppm"))
      .orderBy("label")

  def knnLabelPurity(spark: SparkSession, dir: String): DataFrame = {
    val sub = Tables.embeddings(spark, dir).filter(col("vec_id") < 300)
    purityOf(nn1Of(sub), sub.select("vec_id", "label"))
  }

  val knnLabelPuritySql: String =
    """WITH c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings WHERE vec_id < 300),
      |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nm FROM c),
      |scored AS (SELECT a.vec_id AS qa, b.vec_id AS qb,
      |    round(list_inner_product(a.v, b.v) / (a.nm * b.nm), 6) AS cos
      |  FROM n a JOIN n b ON a.vec_id <> b.vec_id),
      |r AS (SELECT qa, qb, cos, ROW_NUMBER() OVER (PARTITION BY qa
      |        ORDER BY cos DESC, qb ASC) AS rn FROM scored),
      |nn AS (SELECT qa, qb FROM r WHERE rn = 1)
      |SELECT la.label AS label, CAST(COUNT(*) AS BIGINT) AS n_queries,
      |       CAST(SUM(CASE WHEN la.label = lb.label THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_match,
      |       CAST(SUM(CASE WHEN la.label = lb.label THEN 1 ELSE 0 END)
      |            * 1000000 // COUNT(*) AS BIGINT) AS purity_ppm
      |FROM nn JOIN c la ON nn.qa = la.vec_id
      |        JOIN c lb ON nn.qb = lb.vec_id
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q278: ratio-margin scoring (k=4 neighborhood) -----------------
  // The companion filter to q277: margin(x, y) = cos(x, y) scaled by
  // the mean of both endpoints' top-k cosine neighborhoods — a raw
  // cosine of 0.7 is a strong match in a sparse region and noise next
  // to a hub, and the margin is what separates the two (same paper as
  // q277). Exactness: the 6-decimal cosine is lifted into an integer
  // micro-cosine channel (cos6 = round(cos·10⁶)), neighborhood sums
  // stay integral, and margin_ppm = cos6·8·10⁶ div (Σk(x) + Σk(y)) —
  // ratio-of-integers, bit-identical cross-engine. Pairs whose summed
  // neighborhood is non-positive are dropped (a non-positive 4-NN
  // neighborhood sum means the margin denominator has no mass to
  // normalize by), and the quotient runs as sign·(|cos6| div d) so a
  // negative top-1 cosine cannot hit the Spark-truncates / DuckDB-floors
  // divergence (both engines see a non-negative dividend).
  private[graft] def marginOf(sub: DataFrame): DataFrame = {
    val k4 = Similarity.bruteForceTopK(sub, sub, k = 4)
      .withColumn("cos6", expr("CAST(round(cos * 1000000) AS BIGINT)"))
      .localCheckpoint(true) // consumed 2x: neighborhood sums + top-1
    val sums = k4.groupBy(col("query_id").as("q")).agg(sum("cos6").as("sumk"))
    k4.filter(col("rank") === 1L)
      .join(sums.select(col("q").as("query_id"), col("sumk").as("sum_x")),
        Seq("query_id"))
      .join(sums.select(col("q").as("vec_id"), col("sumk").as("sum_y")),
        Seq("vec_id"))
      .filter(col("sum_x") + col("sum_y") > 0L)
      .select(col("query_id"), col("vec_id").as("nn_id"), col("cos"),
        (signum(col("cos6")).cast("long") *
          expr("abs(cos6) * 8 * 1000000 div (sum_x + sum_y)")).as("margin_ppm"))
  }

  def marginFilter(spark: SparkSession, dir: String): DataFrame =
    marginOf(Tables.embeddings(spark, dir).filter(col("vec_id") < 300))
      .orderBy("query_id")

  val marginFilterSql: String =
    """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings WHERE vec_id < 300),
      |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nm FROM c),
      |scored AS (SELECT a.vec_id AS qa, b.vec_id AS qb,
      |    round(list_inner_product(a.v, b.v) / (a.nm * b.nm), 6) AS cos
      |  FROM n a JOIN n b ON a.vec_id <> b.vec_id),
      |r AS (SELECT qa, qb, cos, ROW_NUMBER() OVER (PARTITION BY qa
      |        ORDER BY cos DESC, qb ASC) AS rn FROM scored),
      |k4 AS (SELECT qa, qb, cos,
      |        CAST(round(cos * 1000000) AS BIGINT) AS cos6, rn
      |      FROM r WHERE rn <= 4),
      |s AS (SELECT qa, SUM(cos6) AS sumk FROM k4 GROUP BY 1)
      |SELECT t.qa AS query_id, t.qb AS nn_id, t.cos AS cos,
      |       CAST(sign(t.cos6) * ((abs(t.cos6) * 8 * 1000000)
      |              // (sx.sumk + sy.sumk)) AS BIGINT)
      |         AS margin_ppm
      |FROM (SELECT * FROM k4 WHERE rn = 1) t
      |JOIN s sx ON t.qa = sx.qa
      |JOIN s sy ON t.qb = sy.qa
      |WHERE sx.sumk + sy.sumk > 0
      |ORDER BY query_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q277_mutual_knn"        -> (mutualKnn _),
    "q287_knn_label_purity"  -> (knnLabelPurity _),
    "q278_margin_filter"     -> (marginFilter _),
    "q197_feature_hash"      -> (featureHash _),
    "q182_phrase_search"     -> ((s, d) => phraseSearch(s, d)),
    "q111_group_filter"      -> (groupFilter _),
    "q112_term_retrieval"    -> (termRetrieval _),
    "q113_negative_sampling" -> (negativeSampling _),
    "q114_posting_stats"     -> (postingStats _),
    "q115_majority_vote"     -> (majorityVote _),
    "q116_composition"       -> (composition _),
    "q123_doc_similarity"    -> (docSimilarity _),
    "q173_bm25_topk"         -> (bm25TopK _),
    "q235_rrf_fusion"        -> (rrfFusion _))

  val oracles: Map[String, String] = Map(
    "q277_mutual_knn"        -> mutualKnnSql,
    "q287_knn_label_purity"  -> knnLabelPuritySql,
    "q278_margin_filter"     -> marginFilterSql,
    "q197_feature_hash"      -> featureHashSql,
    "q182_phrase_search"     -> phraseSearchSql,
    "q111_group_filter"      -> groupFilterSql,
    "q112_term_retrieval"    -> termRetrievalSql,
    "q113_negative_sampling" -> negativeSamplingSql,
    "q114_posting_stats"     -> postingStatsSql,
    "q115_majority_vote"     -> majorityVoteSql,
    "q116_composition"       -> compositionSql,
    "q123_doc_similarity"    -> docSimilaritySql,
    "q173_bm25_topk"         -> bm25TopKSql,
    "q235_rrf_fusion"        -> rrfFusionSql)
}
