package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{Ranking, Text}

/** Round-8 corpus-curation operators: exact-substring dedup, graded
  * n-gram decontamination, exact distributed quantiles, and batching
  * padding-waste — the training-data-prep shapes not yet covered by
  * Dedup/Llm/Quality.
  *
  * Reference scope note: the reference (LucPellinger/
  * data-engineering-challenge) has no text-corpus surface at all —
  * these are beyond-parity operators mandated by the build brief
  * (dedup, text analysis at 100 TB).
  *
  * All four are pure DataFrame compositions over codegen'd primitives
  * (graft_tokens / md5 / hex_window / the Ranking two-pass rank): no
  * UDFs, no driver-side row loops, every shuffle keyed on a hash or a
  * range — the shapes survive a 1000-executor scale-up unchanged.
  */
object Curation {

  /** Exact-substring window width (tokens) for q162 — the "long shared
    * n-gram" exact-dedup family (Lee et al. 2022 use 50 BPE tokens;
    * 20 word tokens is the comparable span at this corpus's ~100-token
    * documents). */
  private val SubstrW = 20
  /** Decontamination n-gram width for q163 (PaLM-style 8-gram overlap). */
  private val DeconW = 8
  /** q165 batch size (sequences per micro-batch). */
  private val BatchB = 32

  /** Distinct token-window keys per document: one row per (doc_id,
    * md5-of-window). The md5 of the space-joined window is the
    * cross-engine key (Spark md5 over UTF-8 == DuckDB md5), 32 bytes
    * on the shuffle regardless of window width; windows are
    * deduplicated INSIDE the row (array_distinct before explode) so a
    * within-doc repeat never double-counts. Docs shorter than `w`
    * tokens have no windows and drop out here — the oracle applies the
    * same filter. The whole window derivation is one codegen'd
    * projection: tokens once, then transform(sequence(...)) slices —
    * no per-window re-tokenization.
    *
    * `key` defaults to the md5 gate lane; the scale bench passes
    * xxhash64 (same grouping semantics, cheaper bytes — the q22
    * md5/xx two-lane pattern). */
  private[graft] def windowTable(docs: DataFrame, w: Int,
      key: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        s => md5(s.cast("binary"))): DataFrame = {
    val t = docs
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= w)
    t.select(col("doc_id"),
      explode(array_distinct(transform(
        sequence(lit(1), size(col("toks")) - (w - 1)),
        i => key(array_join(slice(col("toks"), i, lit(w)), " "))))).as("wk"))
  }

  // ---- q162: exact-substring dedup (shared long-window report) -------
  // "Which documents share an exact 20-token substring with another
  // document" — the exact-dedup complement to MinHash near-dup (q22):
  // near-dup catches whole-document similarity, this catches verbatim
  // SPANS embedded in otherwise-different documents (the quotation /
  // boilerplate / copy-paste class that document-level Jaccard dilutes
  // below threshold). Output per affected doc: total distinct windows
  // and how many are shared with >= 1 other doc.
  //
  // Scale shape: one groupBy on the 32-byte window key (doc-frequency),
  // one join back on the same key, one groupBy(doc_id) — all hash
  // shuffles on uniform keys; nothing is ever all-pairs. The window
  // table is checkpointed once for its two consumers. At 100 TB the
  // window key-space is ~tokens-per-corpus wide; a band of hot keys
  // (true boilerplate) aggregates map-side before the shuffle.
  /** [[windowTable]] on the codegen'd rolling-hash path
    * (plans.TokenWindowHash): per-token hash + one polynomial rolling
    * update per window — O(tokens) work, 8-byte long keys, no window
    * string ever materialized. The production lane for exact-substring
    * dedup at scale; grouping semantics match the md5 lane up to
    * 64-bit collision odds (CurationSpec asserts result equality). */
  private[graft] def windowTableFast(docs: DataFrame, w: Int): DataFrame =
    docs.select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= w)
      .select(col("doc_id"), explode(
        graft.plans.GraftFunctions.token_window_hash(col("toks"), w)).as("wk"))

  /** Doc-frequency aggregation shared by every q162 lane: one groupBy
    * on the window key, one join back, one groupBy(doc_id). */
  private def sharedStats(winTable: DataFrame): DataFrame = {
    val wins = winTable
      .localCheckpoint(true) // two consumers: doc-frequency agg + join back
    val byWin = wins.groupBy("wk").agg(count(lit(1)).as("ndocs"))
    wins.join(byWin, "wk")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .filter(col("n_shared") > 0)
      .select("doc_id", "n_windows", "n_shared")
  }

  /** Core of q162 over an arbitrary (doc_id, text) frame, with the
    * window key family injectable: md5 for the oracle gate lane,
    * xxhash64 for a string-keyed production lane (the q22 two-lane
    * pattern — grouping semantics identical, 8-byte keys instead of
    * 32-char hex on the shuffle). */
  def sharedSubstringOn(docs: DataFrame, w: Int = SubstrW,
      key: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        s => md5(s.cast("binary"))): DataFrame = {
    sharedStats(windowTable(docs, w, key))
  }

  /** q162 on the rolling-hash fast lane — the form the scale bench
    * times and the 100 TB deployment runs. */
  def sharedSubstringFastOn(docs: DataFrame, w: Int = SubstrW): DataFrame = {
    sharedStats(windowTableFast(docs, w))
  }

  def sharedSubstring(spark: SparkSession, dir: String): DataFrame =
    sharedSubstringOn(Tables.documents(spark, dir).select("doc_id", "text"))
      .orderBy("doc_id")

  val sharedSubstringSql: String =
    s"""WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
       |           FROM documents),
       |f AS (SELECT doc_id, toks, len(toks) - ${SubstrW - 1} AS nw
       |      FROM t WHERE len(toks) >= $SubstrW),
       |w AS (SELECT DISTINCT doc_id,
       |        md5(array_to_string(toks[i:i+${SubstrW - 1}], ' ')) AS wk
       |      FROM f, UNNEST(generate_series(1, nw)) AS g(i)),
       |c AS (SELECT wk, COUNT(*) AS ndocs FROM w GROUP BY 1),
       |s AS (SELECT doc_id, COUNT(*) AS n_windows,
       |        SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS n_shared
       |      FROM w JOIN c USING (wk) GROUP BY 1)
       |SELECT doc_id, CAST(n_windows AS BIGINT) AS n_windows,
       |       CAST(n_shared AS BIGINT) AS n_shared
       |FROM s WHERE n_shared > 0 ORDER BY doc_id""".stripMargin

  // ---- q163: graded n-gram decontamination (overlap fraction) --------
  // q133/q77 give the binary contaminated/clean verdict; evaluation
  // reports (GPT-3 appx C, PaLM sec 8) need the GRADED per-document
  // overlap: what fraction of a training doc's 8-grams also occur in
  // the benchmark split. Benchmark class: doc_id % 10 == 0 (the q133
  // convention). Output: every contaminated training doc with its
  // distinct-8-gram count, hit count, and integer permille.
  //
  // Scale shape: the benchmark window set is distinct-aggregated, then
  // the corpus windows LEFT-join it on the 32-byte key — a plain hash
  // join that AQE broadcast-converts when the benchmark side is small
  // (the common case: benchmarks are MBs, corpora are TBs); the
  // permille is exact integer arithmetic, no float ever materializes.
  def ngramOverlap(spark: SparkSession, dir: String): DataFrame = {
    val wins = windowTable(
        Tables.documents(spark, dir).select("doc_id", "text"), DeconW)
      .localCheckpoint(true) // two consumers: benchmark set + corpus side
    val bench = wins.filter(col("doc_id") % 10 === 0)
      .select("wk").distinct().withColumn("hit", lit(1))
    wins.filter(col("doc_id") % 10 =!= 0)
      .join(bench, Seq("wk"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_hit"))
      .filter(col("n_hit") > 0)
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        expr("(n_hit * 1000) div n_grams").as("permille"))
      .orderBy("doc_id")
  }

  val ngramOverlapSql: String =
    s"""WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
       |           FROM documents),
       |f AS (SELECT doc_id, toks, len(toks) - ${DeconW - 1} AS nw
       |      FROM t WHERE len(toks) >= $DeconW),
       |w AS (SELECT DISTINCT doc_id,
       |        md5(array_to_string(toks[i:i+${DeconW - 1}], ' ')) AS wk
       |      FROM f, UNNEST(generate_series(1, nw)) AS g(i)),
       |bench AS (SELECT DISTINCT wk FROM w WHERE doc_id % 10 = 0),
       |s AS (SELECT w.doc_id, COUNT(*) AS n_grams,
       |        SUM(CASE WHEN b.wk IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
       |      FROM w LEFT JOIN bench b USING (wk)
       |      WHERE w.doc_id % 10 <> 0 GROUP BY 1)
       |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
       |       CAST(n_hit AS BIGINT) AS n_hit,
       |       CAST(n_hit * 1000 // n_grams AS BIGINT) AS permille
       |FROM s WHERE n_hit > 0 ORDER BY doc_id""".stripMargin

  // ---- q164: exact distributed quantiles (no single-partition sort) --
  // Exact percentiles of the token-count distribution via the
  // Ranking.globalRowNumber primitive: range-repartition + in-partition
  // rank + broadcast prefix offsets, then select the rows whose global
  // rank equals each percentile target. percentile()/quantile_disc()
  // semantics differ subtly across engines, so BOTH sides compute the
  // same integer target rank ceil(pct*n/100) = (pct*n + 99) div 100 —
  // all-integer, no float rounding anywhere (0.99*n in binary floating
  // point lands on either side of the integer depending on n).
  // The classic formulation (ORDER BY tc LIMIT/OFFSET, or a global
  // row_number window) funnels every row through one task; this shape
  // never does.
  private val Pcts = Seq("p25" -> 25L, "p50" -> 50L, "p75" -> 75L,
    "p90" -> 90L, "p99" -> 99L)

  def exactQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tc = Tables.documents(spark, dir)
      .select(col("doc_id"),
        Text.tokenCount(col("text")).cast("long").as("tc"))
    val (ranked, n) =
      Ranking.globalRowNumberWithCount(tc, Seq("tc", "doc_id"), "rn")
    val targets = Pcts
      .map { case (p, f) => (p, math.max(1L, (f * n + 99L) / 100L)) }
      .toDF("p", "rn")
    ranked.join(broadcast(targets), "rn")
      .select("p", "tc").orderBy("p")
  }

  val exactQuantilesSql: String = {
    val vals = Pcts.map { case (p, f) => s"('$p', $f)" }.mkString(", ")
    s"""WITH t AS (SELECT doc_id,
       |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS tc
       |  FROM documents),
       |r AS (SELECT tc, ROW_NUMBER() OVER (ORDER BY tc, doc_id) AS rn,
       |             COUNT(*) OVER () AS n FROM t)
       |SELECT p, tc FROM r, (VALUES $vals) q(p, f)
       |WHERE rn = greatest(1, (f * n + 99) // 100) ORDER BY p""".stripMargin
  }

  // ---- q165: batching padding waste (length-bucketed vs hash order) --
  // Inference/training batches pad every sequence to the batch max, so
  // batch composition is a first-order throughput lever. This computes
  // the exact padding overhead of composing batches of 32 in (a)
  // length-sorted order — the length-bucketed batching every serving
  // stack uses — vs (b) deterministic hash order (the "random" arrival
  // baseline), over the same documents. Two rows out; the measured gap
  // at sf0.001 is 46 permille vs 422 permille wasted.
  //
  // Both orderings go through the distributed global rank (no
  // single-partition window); batch id is integer arithmetic on the
  // rank; per-batch aggregation is one hash shuffle on ~n/32 keys.
  def paddingWaste(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables.documents(spark, dir)
      .select(col("doc_id"),
        Text.tokenCount(col("text")).cast("long").as("tc"))
      .withColumn("hk", graft.plans.GraftFunctions.hex_window(
        md5(col("doc_id").cast("string").cast("binary")), 0, 8))
      .localCheckpoint(true) // consumed once per strategy
    def waste(strategy: String,
              order: Seq[org.apache.spark.sql.Column]): DataFrame =
      Ranking.globalRowNumberSorted(t, order, "rn")
        .withColumn("b", expr(s"(rn - 1) div $BatchB"))
        .groupBy("b")
        .agg((max("tc") * count(lit(1)) - sum("tc")).as("pad"),
          sum("tc").as("tok"))
        .agg(count(lit(1)).as("n_batches"), sum("tok").as("tokens"),
          sum("pad").as("padding"))
        .select(lit(strategy).as("strategy"), col("n_batches"),
          col("tokens"), col("padding"),
          expr("(padding * 1000) div (padding + tokens)").as("pad_permille"))
    waste("sorted", Seq(col("tc").desc, col("doc_id").asc))
      .unionAll(waste("hash", Seq(col("hk").asc, col("doc_id").asc)))
      .orderBy("strategy")
  }

  val paddingWasteSql: String =
    s"""WITH t AS (SELECT doc_id,
       |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS tc
       |  FROM documents),
       |h AS (SELECT doc_id, tc,
       |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS hk
       |  FROM t),
       |srt AS (SELECT tc,
       |    (ROW_NUMBER() OVER (ORDER BY tc DESC, doc_id) - 1) // $BatchB AS b FROM h),
       |rnd AS (SELECT tc,
       |    (ROW_NUMBER() OVER (ORDER BY hk, doc_id) - 1) // $BatchB AS b FROM h),
       |bs AS (SELECT 'sorted' AS strategy, b,
       |         MAX(tc) * COUNT(*) - SUM(tc) AS pad, SUM(tc) AS tok
       |       FROM srt GROUP BY 2
       |       UNION ALL
       |       SELECT 'hash', b, MAX(tc) * COUNT(*) - SUM(tc), SUM(tc)
       |       FROM rnd GROUP BY 2)
       |SELECT strategy, CAST(COUNT(*) AS BIGINT) AS n_batches,
       |  CAST(SUM(tok) AS BIGINT) AS tokens,
       |  CAST(SUM(pad) AS BIGINT) AS padding,
       |  CAST(SUM(pad) * 1000 // (SUM(pad) + SUM(tok)) AS BIGINT) AS pad_permille
       |FROM bs GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q167: per-source length profile (grouped exact quantiles) -----
  // The per-source token-length p50/p90 every dataset card and mixture
  // plan wants next to the corpus-wide q164 figures. Grouped quantiles
  // are WINDOW-scalable (PARTITION BY source hash-partitions the sort —
  // no global funnel; the 100 TB caveat is a single dominant source,
  // which is exactly what q31's salting handles if it appears). Target
  // ranks use the same all-integer ceil(p*n/100) both engines share.
  def sourceLengthProfile(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        Text.tokenCount(col("text")).cast("long").as("tc"))
    val w = Window.partitionBy("source").orderBy("tc", "doc_id")
    t.withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
      .select(col("source"), col("tc"), col("rn"), col("n"),
        explode(array(lit(50L), lit(90L))).as("pq"))
      .filter(col("rn") === greatest(lit(1L), expr("(pq * n + 99) div 100")))
      .select(col("source"), concat(lit("p"), col("pq").cast("string")).as("p"),
        col("tc"))
      .orderBy("source", "p")
  }

  val sourceLengthProfileSql: String =
    """WITH t AS (SELECT source, doc_id,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS tc
      |  FROM documents),
      |r AS (SELECT source, tc,
      |        ROW_NUMBER() OVER (PARTITION BY source ORDER BY tc, doc_id) AS rn,
      |        COUNT(*) OVER (PARTITION BY source) AS n FROM t)
      |SELECT source, 'p' || pq AS p, tc
      |FROM r, (VALUES (50), (90)) q(pq)
      |WHERE rn = greatest(1, (pq * n + 99) // 100) ORDER BY 1, 2""".stripMargin

  // ---- q168: per-source bigram diversity (boilerplate mass) ----------
  // For each source: total per-doc-distinct bigrams vs source-wide
  // distinct bigrams, as an integer permille — the "distinct-n"
  // diversity measure generation/curation reports use. A LOW unique
  // share means documents within the source repeat each other's
  // phrasing (template/boilerplate-heavy source — a dedup or filter
  // candidate); q159 mines the individual n-grams, this ranks the
  // sources. One windowTable pass + a source join + one two-level
  // aggregate; countDistinct lowers to a partial-aggregated two-phase
  // plan, no distinct-heavy single task.
  def ngramDiversity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val wins = windowTable(docs.select("doc_id", "text"), 2)
      .join(docs.select("doc_id", "source"), "doc_id")
    wins.groupBy("source")
      .agg(count(lit(1)).as("n_bigrams"),
        countDistinct(col("wk")).as("n_unique"))
      .select(col("source"), col("n_bigrams"), col("n_unique"),
        expr("(n_unique * 1000) div n_bigrams").as("unique_permille"))
      .orderBy("source")
  }

  val ngramDiversitySql: String =
    """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      |           FROM documents),
      |f AS (SELECT doc_id, toks, len(toks) - 1 AS nw FROM t WHERE len(toks) >= 2),
      |w AS (SELECT DISTINCT doc_id, md5(array_to_string(toks[i:i+1], ' ')) AS wk
      |      FROM f, UNNEST(generate_series(1, nw)) AS g(i)),
      |j AS (SELECT w.wk, d.source FROM w JOIN documents d USING (doc_id))
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |       CAST(COUNT(DISTINCT wk) AS BIGINT) AS n_unique,
      |       CAST(COUNT(DISTINCT wk) * 1000 // COUNT(*) AS BIGINT) AS unique_permille
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q169: vocabulary coverage curve (top-k token mass) ------------
  // "What fraction of all token occurrences does a k-token vocabulary
  // cover" for k in {100, 1000, 10000} — the first sizing input to any
  // tokenizer/vocab decision (q79 builds the ranked vocab itself; this
  // is its cumulative-mass summary). Token ranking goes through the
  // distributed ranker (range-partition rank, never a one-task window);
  // coverage is an integer permille over exact counts.
  private val CoverageKs = Seq(100L, 1000L, 10000L)

  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(explode(Text.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .localCheckpoint(true) // consumed by the total agg AND the ranker
    val total = counts.agg(sum("n").as("tot"))
    val ranked = Ranking.globalRowNumberSorted(counts,
      Seq(col("n").desc, col("w").asc), "rank")
    ranked
      .select(col("n"), col("rank"),
        explode(array(CoverageKs.map(lit): _*)).as("k"))
      .filter(col("rank") <= col("k"))
      .groupBy("k").agg(sum("n").as("covered"))
      .crossJoin(broadcast(total)) // 1-row totals dim
      .select(col("k"), col("covered"),
        expr("(covered * 1000) div tot").as("permille"))
      .orderBy("k")
  }

  val vocabCoverageSql: String = {
    val ks = CoverageKs.mkString("(", "), (", ")")
    s"""WITH c AS (
       |  SELECT w, COUNT(*) AS n FROM (
       |    SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
       |    FROM documents) GROUP BY 1),
       |r AS (SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, w) AS rank FROM c),
       |tot AS (SELECT SUM(n) AS tot FROM c)
       |SELECT CAST(k AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS covered,
       |       CAST(SUM(n) * 1000 // MAX(tot) AS BIGINT) AS permille
       |FROM r, (VALUES $ks) q(k), tot
       |WHERE rank <= k GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---- q172: curate-and-write — materialize the curated corpus -------
  // The missing END of the q150 funnel: a real curation run doesn't
  // stop at an 8-row report, it WRITES the surviving documents as a
  // split-partitioned, shard-packed, manifest-versioned warehouse that
  // a trainer can read. This composes the already-oracled pieces —
  // Llm.curatedDocs (the q150 funnel), q82's sharded sequence packing,
  // q118's partitioned overwrite, q122/q136's manifest versioning —
  // and then ROUND-TRIPS: the gate row reads the corpus back through
  // the latest manifest version and fingerprints it per split (doc
  // count, token count, id-hash sum, pack count), while the DuckDB
  // oracle recomputes the same fingerprint from the SOURCE documents
  // table (recursive-CTE closure and all) — so write path, layout,
  // manifest, and read path are all under the hash.
  //
  // The write runs TWICE before the read: the second run must land a
  // new manifest version describing byte-identical content (the
  // epoch-sink idempotence rule — re-running a curation job must never
  // duplicate or drop documents). CurationSpec asserts the two
  // versions' fingerprints match; the gate row reads version "latest",
  // so a non-idempotent second write would hash-mismatch the oracle.
  //
  // Scale shape: the funnel is computed once and localCheckpoint'd;
  // each write is one shuffle-free append of the checkpointed frame
  // (partitionBy split); the manifest is a parquet table APPENDED per
  // version (at 100 TB the file list is a table you filter, never a
  // driver structure — the bounded collect here feeds spark.read with
  // the snapshot's file set, the q136 snapshotAt pattern).
  private val NShards = 8
  private val PackBudget = 2048L

  /** Funnel survivors joined back to their text, shard-assigned and
    * sequence-packed — the frame every version writes. */
  private[graft] def packedCurated(docs: DataFrame): DataFrame = {
    val idHash = graft.plans.GraftFunctions.hex_window(
      md5(col("doc_id").cast("string").cast("binary")), 0, 8)
    val cur = Llm.curatedDocs(docs)
      .join(docs.select("doc_id", "text"), Seq("doc_id"))
      .withColumn("shard", pmod(idHash, lit(NShards.toLong)).cast("int"))
      .withColumn("shard_key", concat_ws("/", col("split"), col("shard")))
    graft.functions.Sampling.packSequencesSharded(cur, "shard_key", "doc_id",
        size(Text.tokens(col("text"))).cast("long"), PackBudget)
      .drop("shard_key")
  }

  /** One write pass: overwrite the data layout, append a manifest
    * version listing the files it produced. Returns the version. */
  private[graft] def writeCuratedVersion(packed: DataFrame, root: String): Int = {
    val spark = packed.sparkSession
    import spark.implicits._
    packed.write.mode("overwrite").partitionBy("split")
      .parquet(s"$root/data")
    def walk(f: java.io.File): Seq[String] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f.getPath) else Seq.empty
    val files = walk(new java.io.File(s"$root/data"))
    val manDir = s"$root/manifest"
    val version = (if (new java.io.File(manDir).exists())
      spark.read.parquet(manDir).agg(max("version")).collect()(0).getInt(0)
    else 0) + 1
    files.map(p => (version, p)).toDF("version", "path")
      .coalesce(1).write.mode("append").parquet(manDir)
    version
  }

  /** Snapshot read at the LATEST manifest version: plan from the
    * version's file set (q136 snapshotAt), with basePath so the split
    * partition column survives file-level planning. */
  private[graft] def readCuratedSnapshot(spark: SparkSession, root: String): DataFrame = {
    val man = spark.read.parquet(s"$root/manifest")
    val latest = man.agg(max("version")).collect()(0).getInt(0)
    val paths = man.filter(col("version") === latest)
      .select("path").collect().map(_.getString(0))
    spark.read.option("basePath", s"$root/data").parquet(paths.toSeq: _*)
  }

  /** Per-split fingerprint of a curated-corpus frame — the shared
    * shape of the gate row and CurationSpec's idempotence check. */
  private[graft] def curatedFingerprint(snap: DataFrame): DataFrame = {
    val idHash = graft.plans.GraftFunctions.hex_window(
      md5(col("doc_id").cast("string").cast("binary")), 0, 8)
    snap.groupBy("split").agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        sum(idHash).as("id_hash_sum"),
        countDistinct(col("shard") * 1000000 + col("pack_id")).as("n_packs"))
      .orderBy("split")
  }

  def curatedWrite(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.Scratch.dir("curated", dir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    try {
      val packed = packedCurated(Tables.documents(spark, dir))
        .localCheckpoint(true) // funnel runs once; both writes reuse it
      // an all-filtered corpus writes no data files, so the snapshot
      // read would have no paths to plan — fingerprint the (empty)
      // packed frame directly instead of NPE-ing on an empty manifest
      if (packed.head(1).isEmpty) return curatedFingerprint(packed)
      writeCuratedVersion(packed, root)
      writeCuratedVersion(packed, root) // idempotent re-run
      curatedFingerprint(readCuratedSnapshot(spark, root))
        .localCheckpoint(true)
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  val curatedWriteSql: String = {
    val t1 = (0.8 * 4294967296.0).toLong
    val t2 = (0.9 * 4294967296.0).toLong
    s"""WITH RECURSIVE pairs AS (${Llm.minhashLshSql}),
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
       |spl AS (SELECT doc_id, h,
       |          CASE WHEN h < $t1 THEN 'train'
       |               WHEN h < $t2 THEN 'val' ELSE 'test' END AS split,
       |          h % $NShards AS shard
       |        FROM (SELECT doc_id,
       |                ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
       |              FROM nr)),
       |tok AS (SELECT s.doc_id, s.h, s.split, s.shard,
       |          len(regexp_extract_all(lower(d.text), '[a-z0-9]+')) AS n_tokens
       |        FROM spl s JOIN documents d USING (doc_id)),
       |pk AS (SELECT split, shard, h, n_tokens,
       |         (COALESCE(SUM(n_tokens) OVER (PARTITION BY split, shard
       |            ORDER BY doc_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
       |           // $PackBudget AS pack_id
       |       FROM tok)
       |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       |       CAST(SUM(h) AS BIGINT) AS id_hash_sum,
       |       CAST(COUNT(DISTINCT shard * 1000000 + pack_id) AS BIGINT) AS n_packs
       |FROM pk GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---- q174: incremental curation == batch curation ------------------
  // Curation as a CONTINUOUS process: at 100 TB nobody re-runs the
  // whole funnel per arriving slice — the near-dup state (labels +
  // band index) is standing state and each delta folds in. This row
  // runs the funnel INCREMENTALLY on Spark — a deterministic ~20% of
  // documents arrive as the delta against the other ~80% standing —
  // and the DuckDB oracle recomputes the BATCH funnel over the full
  // corpus: the gate hash-matches only if incremental == batch,
  // document-for-document (split counts AND id-hash sums).
  //
  // Why equality holds (and what the gate protects): LSH signatures
  // are per-document, so base-base candidate pairs are identical in
  // both runs; delta pairs come from the cross-corpus band join
  // (delta x standing, q73's shape) plus the delta self-join; and
  // incrementalComponents' min-rep contraction law (q140) makes the
  // folded labeling equal the from-scratch labeling over the union of
  // pair sets. Exact-dedup folds the same way: min-per-hash of a
  // union is the min of the two sides' mins. Any drift in any of
  // those laws — a band key that depends on corpus composition, a
  // rep policy that depends on arrival order — breaks this row.
  //
  // Scale shape: delta work is |delta| x bucket occupancy (the band
  // join) + touched components (the contraction); the standing corpus
  // pays nothing per round. Here both standing state builds are in
  // the query (the gate must be self-contained), but the standing
  // half is exactly what a production deployment persists.
  def incrementalCuration(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val idHash = graft.plans.GraftFunctions.hex_window(
      md5(col("doc_id").cast("string").cast("binary")), 0, 8)
    val isDelta = pmod(idHash, lit(5L)) === 4
    val base  = docs.filter(!isDelta)
    val delta = docs.filter(isDelta)
    // standing near-dup state: labels over the base corpus's pairs
    val baseLabels = Dedup.componentsAdaptive(
      Dedup.minhashLshPairs(base, "doc_id", "text", n = 3,
        numHashes = 12, bands = 4, threshold = 0.5)).labels
    // the arriving slice's edges: delta-vs-standing + delta-vs-delta
    val deltaPairs = Dedup.minhashLshPairsAgainst(delta, base,
        "doc_id", "text", n = 3, numHashes = 12, bands = 4, threshold = 0.5)
      .select("doc_a", "doc_b")
      .unionAll(Dedup.minhashLshPairs(delta, "doc_id", "text", n = 3,
        numHashes = 12, bands = 4, threshold = 0.5).select("doc_a", "doc_b"))
    val labels = Dedup.incrementalComponents(baseLabels, deltaPairs)
    val nonRep = labels.filter(col("doc_id") =!= col("rep")).select("doc_id")
    // lang/quality/exact-dedup stages, folded per side then merged
    // (min-per-hash of a union == min of the sides' mins)
    def exactMin(side: DataFrame): DataFrame = side
      .filter(col("lang") === "en")
      .join(TextQuality.qualitySignalsOn(docs).select("doc_id", "keep"),
        Seq("doc_id"))
      .filter(col("keep"))
      .select(col("doc_id"), md5(col("text")).as("th"))
      .groupBy("th").agg(min("doc_id").as("doc_id"))
    val exact = exactMin(base).unionAll(exactMin(delta))
      .groupBy("th").agg(min("doc_id").as("doc_id")).select("doc_id")
    exact.join(nonRep, Seq("doc_id"), "left_anti")
      .withColumn("split",
        graft.functions.Sampling.hashSplit(col("doc_id"), 0.8, 0.1))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum(idHash).as("id_hash_sum"))
      .orderBy("split")
  }

  /** The BATCH funnel per split — shares every CTE with q172's oracle
    * up to the survivor set; matching it is the incremental==batch law. */
  val incrementalCurationSql: String = {
    val t1 = (0.8 * 4294967296.0).toLong
    val t2 = (0.9 * 4294967296.0).toLong
    s"""WITH RECURSIVE pairs AS (${Llm.minhashLshSql}),
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
       |spl AS (SELECT CASE WHEN h < $t1 THEN 'train'
       |               WHEN h < $t2 THEN 'val' ELSE 'test' END AS split, h
       |        FROM (SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
       |              FROM nr))
       |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |       CAST(SUM(h) AS BIGINT) AS id_hash_sum
       |FROM spl GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---- q187: C4-style global line dedup (keep FIRST occurrence) ------
  // q78 strips lines whose document frequency exceeds a threshold
  // (boilerplate REMOVAL — every copy dies); the C4/mC4 recipe is
  // different: every distinct line keeps exactly ONE copy, the first
  // occurrence in corpus order, and later occurrences are dropped.
  // Both passes exist in real pipelines (C4 dedups at the line level
  // BEFORE document near-dup). Pages are the same deterministic 5-doc
  // pages q78 builds, so the two operators are directly comparable on
  // the same planted duplicates.
  //
  // "First" is the minimum of an integer occurrence key
  // page_id*1_000_000+pos — an arg-min both engines compute with a
  // plain MIN, no struct-ordering or window dependence. Documented
  // bound: the occ key is injective only while every page holds fewer
  // than 10^6 lines (and page_id stays under ~9.2e12 for int64
  // headroom); pages here are fixed 5-doc concatenations, orders of
  // magnitude inside both bounds, and the DuckDB oracle uses the
  // IDENTICAL key so any violation would diverge loudly, not drift.
  //
  // Scale shape: one posexplode (checkpointed — it feeds the arg-min
  // aggregate AND the join-back), one map-side-combinable MIN groupBy
  // on the line key, one equality join back on the line, one per-page
  // reassembly aggregate sorting only that page's lines. The line-key
  // shuffle is the unavoidable one; nothing is broadcast (the line
  // table is corpus-scale at 100 TB) and nothing collects.
  /** Core on an arbitrary `(page_id, text)` frame (PropertySpec's
    * random-corpus entry point). Unsorted. */
  def keepFirstLines(pages: DataFrame): DataFrame = {
    val lines = pages
      .select(col("page_id"),
        posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
      .withColumn("occ", col("page_id") * 1000000L + col("pos"))
      .localCheckpoint(true)
    val first = lines.groupBy("line").agg(min("occ").as("first_occ"))
    lines.join(first, Seq("line"))
      .withColumn("keep", col("occ") === col("first_occ"))
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

  def paragraphDedup(spark: SparkSession, dir: String): DataFrame = {
    // integer floor-division for the page key — floor(doc_id / 5.0)
    // routes through a double and loses integer precision above 2^53,
    // where it could diverge from the oracle's doc_id // 5 (and from
    // ScaleVerify's div-5 replica construction); `div` is exact int64
    val pages = Tables.documents(spark, dir)
      .groupBy(expr("doc_id div 5").as("page_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("doc_id"), col("text")))),
          x => x.getField("text")),
        "\n").as("text"))
    keepFirstLines(pages).orderBy("page_id")
  }

  val paragraphDedupSql: String =
    """WITH pages AS (
      |  SELECT doc_id // 5 AS page_id,
      |         string_agg(text, chr(10) ORDER BY doc_id) AS text
      |  FROM documents GROUP BY 1),
      |l0 AS (SELECT page_id, string_split(text, chr(10)) AS ls FROM pages),
      |l AS (SELECT page_id, i - 1 AS pos, ls[i] AS line
      |      FROM l0, UNNEST(generate_series(1, len(ls))) AS g(i)),
      |k AS (SELECT line, MIN(page_id * 1000000 + (pos)) AS first_occ
      |      FROM l GROUP BY 1),
      |j AS (SELECT l.page_id, l.pos, l.line,
      |             (l.page_id * 1000000 + l.pos = k.first_occ) AS keep
      |      FROM l JOIN k USING (line))
      |SELECT page_id, COUNT(*) AS n_lines,
      |       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |       COALESCE(string_agg(CASE WHEN keep THEN line END,
      |                           chr(10) ORDER BY pos), '') AS cleaned
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q190: per-source unigram drift (total-variation distance) -----
  // "How far is each source's unigram distribution from the corpus
  // mixture" — the domain-shift diagnostic a mixture planner reads
  // before setting sampling weights (and re-reads per crawl snapshot
  // to catch drift). Divergence is TOTAL VARIATION, not KL: TVD over
  // count distributions is a sum of |n_ws·N − n_w·N_s| integer cross
  // products — exact in 128-bit, no logarithms, so both engines agree
  // bit-for-bit where a log-based KL would be at the mercy of libm.
  // tvd_ppm = Σ_w |n_ws·N − n_w·N_s| · 10^6 / (2·N_s·N), with the sum
  // over the FULL corpus vocabulary: words the source never emits
  // (n_ws = 0) still contribute n_w·N_s each. The word-key equality
  // join only materializes the source's OWN vocabulary, so that
  // missing mass is restored in closed form — Σ_{w∉Vs} n_w·N_s =
  // N_s·(N − Σ_{w∈Vs} n_w), where Σ_{w∈Vs} n_w (the corpus count of
  // the source's observed words) already rides the join (round-9
  // ADVICE: the inner-join-only sum under-reported the true TVD).
  //
  // Scale shape: one token explode feeding TWO map-side-combinable
  // count aggregates — (source, word) and, derived from it by a
  // second grouping, (word) — then one equality join on the word key
  // and one per-source fold. The corpus-wide word table is NOT
  // broadcast (vocabulary is huge at 100 TB); the join shuffles on
  // the word key both sides. Totals ride along via a 1-row broadcast.
  def sourceDrift(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select(col("source"), explode(Text.tokens(col("text"))).as("w"))
    val bySrc = tok.groupBy("source", "w").agg(count(lit(1)).as("n_ws"))
      .localCheckpoint(true) // feeds the corpus rollup AND the join
    val byWord = bySrc.groupBy("w").agg(sum("n_ws").as("n_w"))
    val totals = bySrc.groupBy("source").agg(sum("n_ws").as("n_s"))
    val grand = bySrc.agg(sum("n_ws").as("n_tot"))
    bySrc.join(byWord, "w")
      .join(broadcast(totals), "source")
      .crossJoin(broadcast(grand)) // 1-row grand total
      .groupBy("source")
      .agg(
        max("n_s").as("n_tokens"),
        max("n_tot").as("nt"),
        count(lit(1)).as("n_vocab"),
        sum(abs(col("n_ws").cast("decimal(38,0)") * col("n_tot").cast("decimal(38,0)")
              - col("n_w").cast("decimal(38,0)") * col("n_s").cast("decimal(38,0)")))
          .as("cross_abs"),
        // corpus mass of the source's OBSERVED vocabulary — the term
        // that closes the full-vocabulary sum without a right join
        sum(col("n_w").cast("decimal(38,0)")).as("obs_nw"))
      .select(col("source"), col("n_tokens"), col("n_vocab"),
        call_function("div",
          (col("cross_abs")
            + (col("nt").cast("decimal(38,0)") - col("obs_nw"))
              * col("n_tokens").cast("decimal(38,0)"))
            * lit(1000000L).cast("decimal(38,0)"),
          col("n_tokens").cast("decimal(38,0)") * col("nt").cast("decimal(38,0)") * lit(2).cast("decimal(38,0)"))
          .cast("long").as("tvd_ppm"))
      .orderBy("source")
  }

  val sourceDriftSql: String =
    """WITH tok AS (
      |  SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      |  FROM documents),
      |bs AS (SELECT source, w, COUNT(*) AS n_ws FROM tok GROUP BY 1, 2),
      |bw AS (SELECT w, SUM(n_ws) AS n_w FROM bs GROUP BY 1),
      |ts AS (SELECT source, SUM(n_ws) AS n_s FROM bs GROUP BY 1),
      |g  AS (SELECT SUM(n_ws) AS n_tot FROM bs)
      |SELECT bs.source, CAST(MAX(ts.n_s) AS BIGINT) AS n_tokens,
      |       COUNT(*) AS n_vocab,
      |       CAST((SUM(abs(CAST(bs.n_ws AS HUGEINT) * n_tot
      |                     - CAST(bw.n_w AS HUGEINT) * ts.n_s))
      |             + (CAST(MAX(n_tot) AS HUGEINT)
      |                - SUM(CAST(bw.n_w AS HUGEINT)))
      |               * MAX(ts.n_s)) * 1000000
      |            // (CAST(MAX(ts.n_s) AS HUGEINT) * MAX(n_tot) * 2) AS BIGINT)
      |         AS tvd_ppm
      |FROM bs JOIN bw USING (w) JOIN ts USING (source), g
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q191: cross-source token-set overlap (bottom-k sketch gate) ---
  // "Which SOURCES overlap" — the corpus-level question a mixture
  // planner asks before the doc-level dedup runs (two crawl snapshots
  // of the same site should be deduped against each other first; two
  // disjoint domains need no cross pass). Estimator: bottom-k
  // (k-minimum-values) sketches of each source's distinct-token set
  // under one shared md5 hash order — J(A,B) ≈ |S_A ∩ S_B ∩ U_k| / |U_k|
  // with U_k the k smallest of S_A ∪ S_B (Beyer et al. 2007 / the KMV
  // family). The gate emits the sketch estimate BESIDE the exact
  // Jaccard (affordable at gate scale) plus the signed error — the
  // q170/q176/q189 accuracy-gate pattern, fourth sketch family.
  //
  // Scale shape: the sketch build is one distinct + one per-source
  // window rank over hash order (per-source partitions are
  // vocabulary-bounded, not corpus-bounded); every pair computation
  // runs on k x nSources rows — CONSTANT in corpus size, which is the
  // whole point: at 100 TB the exact lane is off and source-pair
  // overlap costs k·S², not corpus². Pair expansion is two equality
  // joins on source against a bounded source-pair dim (never an
  // inequality cross join on data rows).
  private val KmvK = 256L

  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tokset = Tables.documents(spark, dir)
      .select(col("source"), explode(Text.tokens(col("text"))).as("w"))
      .distinct()
      .localCheckpoint(true) // feeds the sketch AND the exact lane
    // bottom-k sketch per source, shared hash order
    val hashed = tokset.withColumn("h",
      conv(substring(md5(col("w")), 1, 15), 16, 10).cast("long"))
    val sk = hashed
      .withColumn("r", row_number().over(
        Window.partitionBy("source").orderBy(col("h"), col("w"))))
      .filter(col("r") <= KmvK)
      .select(col("source"), col("h"))
      .localCheckpoint(true)
    val srcs = sk.select("source").distinct()
    val pairs = srcs.select(col("source").as("sa"))
      .crossJoin(broadcast(srcs.select(col("source").as("sb"))))
      .filter(col("sa") < col("sb")) // bounded dim x dim
    val rowsA = pairs.join(sk.withColumnRenamed("source", "sa"), Seq("sa"))
      .select(col("sa"), col("sb"), col("h"), lit(1L).as("ina"), lit(0L).as("inb"))
    val rowsB = pairs.join(sk.withColumnRenamed("source", "sb"), Seq("sb"))
      .select(col("sa"), col("sb"), col("h"), lit(0L).as("ina"), lit(1L).as("inb"))
    val unioned = rowsA.unionByName(rowsB)
      .groupBy("sa", "sb", "h")
      .agg(max("ina").as("ina"), max("inb").as("inb"))
      .withColumn("r", row_number().over(
        Window.partitionBy("sa", "sb").orderBy("h")))
      .filter(col("r") <= KmvK)
    val est = unioned.groupBy("sa", "sb")
      .agg(count(lit(1)).as("denom"),
        sum(col("ina") * col("inb")).as("matched"))
      .select(col("sa"), col("sb"),
        expr("matched * 1000000 div denom").as("est_jaccard_ppm"))
    // exact lane: equality self-join on the token
    val sizes = tokset.groupBy("source").agg(count(lit(1)).as("nv"))
    val inter = tokset.select(col("source").as("sa"), col("w"))
      .join(tokset.select(col("source").as("sb"), col("w")), "w")
      .filter(col("sa") < col("sb"))
      .groupBy("sa", "sb").agg(count(lit(1)).as("n_inter"))
    val exact = pairs
      .join(broadcast(sizes.select(col("source").as("sa"), col("nv").as("na"))), "sa")
      .join(broadcast(sizes.select(col("source").as("sb"), col("nv").as("nb"))), "sb")
      .join(inter, Seq("sa", "sb"), "left")
      .select(col("sa"), col("sb"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"),
        (col("na") + col("nb") - coalesce(col("n_inter"), lit(0L))).as("n_union"))
      .select(col("sa"), col("sb"), col("n_inter"), col("n_union"),
        expr("n_inter * 1000000 div n_union").as("exact_jaccard_ppm"))
    exact.join(est, Seq("sa", "sb"))
      .select(col("sa").as("source_a"), col("sb").as("source_b"),
        col("n_inter"), col("n_union"), col("exact_jaccard_ppm"),
        col("est_jaccard_ppm"),
        (col("est_jaccard_ppm") - col("exact_jaccard_ppm")).as("err_ppm"))
      .orderBy("source_a", "source_b")
  }

  val sourceOverlapSql: String =
    s"""WITH ts AS (
       |  SELECT DISTINCT source, w FROM (
       |    SELECT source,
       |           unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
       |    FROM documents)),
       |hs AS (SELECT source, w,
       |         ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM ts),
       |sk AS (SELECT source, h FROM (
       |         SELECT source, h,
       |                row_number() OVER (PARTITION BY source ORDER BY h, w) AS r
       |         FROM hs) WHERE r <= $KmvK),
       |prs AS (SELECT a.source AS sa, b.source AS sb
       |        FROM (SELECT DISTINCT source FROM sk) a,
       |             (SELECT DISTINCT source FROM sk) b
       |        WHERE a.source < b.source),
       |u AS (SELECT sa, sb, h, MAX(ina) AS ina, MAX(inb) AS inb FROM (
       |        SELECT prs.sa, prs.sb, sk.h, 1 AS ina, 0 AS inb
       |        FROM prs JOIN sk ON sk.source = prs.sa
       |        UNION ALL
       |        SELECT prs.sa, prs.sb, sk.h, 0, 1
       |        FROM prs JOIN sk ON sk.source = prs.sb)
       |      GROUP BY 1, 2, 3),
       |uk AS (SELECT sa, sb, ina, inb FROM (
       |         SELECT sa, sb, ina, inb,
       |                row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS r
       |         FROM u) WHERE r <= $KmvK),
       |est AS (SELECT sa, sb,
       |          SUM(ina * inb) * 1000000 // COUNT(*) AS est_jaccard_ppm
       |        FROM uk GROUP BY 1, 2),
       |sz AS (SELECT source, COUNT(*) AS nv FROM ts GROUP BY 1),
       |inter AS (SELECT a.source AS sa, b.source AS sb, COUNT(*) AS n_inter
       |          FROM ts a JOIN ts b ON a.w = b.w AND a.source < b.source
       |          GROUP BY 1, 2),
       |ex AS (SELECT prs.sa, prs.sb,
       |         COALESCE(inter.n_inter, 0) AS n_inter,
       |         za.nv + zb.nv - COALESCE(inter.n_inter, 0) AS n_union
       |       FROM prs
       |       JOIN sz za ON za.source = prs.sa
       |       JOIN sz zb ON zb.source = prs.sb
       |       LEFT JOIN inter ON inter.sa = prs.sa AND inter.sb = prs.sb)
       |SELECT ex.sa AS source_a, ex.sb AS source_b,
       |       CAST(ex.n_inter AS BIGINT) AS n_inter,
       |       CAST(ex.n_union AS BIGINT) AS n_union,
       |       CAST(ex.n_inter * 1000000 // ex.n_union AS BIGINT) AS exact_jaccard_ppm,
       |       CAST(est.est_jaccard_ppm AS BIGINT) AS est_jaccard_ppm,
       |       CAST(est.est_jaccard_ppm
       |            - ex.n_inter * 1000000 // ex.n_union AS BIGINT) AS err_ppm
       |FROM ex JOIN est ON est.sa = ex.sa AND est.sb = ex.sb
       |ORDER BY 1, 2""".stripMargin

  // ---- q193: duplication-depth profile (max shared window width) -----
  // q162 answers "does this doc share a 20-token span with another
  // doc"; this profiles HOW DEEP the verbatim duplication runs by
  // probing three widths (10/20/40 tokens) and reporting, per doc,
  // which widths hit and the maximum width that did — the signal that
  // separates a quoted sentence (10 but not 40) from a mirrored
  // article (all three). Monotone by construction: a shared 40-window
  // implies shared 20- and 10-subwindows.
  //
  // Scale shape: three windowTable passes (each the q162 shape — one
  // groupBy on the window key, one join back), unioned as a narrow
  // (doc_id, w) flag table, one final per-doc aggregate. Each pass is
  // O(tokens); nothing all-pairs anywhere.
  private val SpanWidths = Seq(10, 20, 40)

  def dupSpanProfile(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val flags = SpanWidths.map { w =>
      val wins = windowTable(docs, w).localCheckpoint(true)
      val shared = wins.groupBy("wk")
        .agg(countDistinct("doc_id").as("nd")).filter(col("nd") >= 2)
      wins.join(shared, "wk").select("doc_id").distinct()
        .withColumn("w", lit(w))
    }.reduce(_.unionByName(_))
    docs.select("doc_id").join(flags, Seq("doc_id"), "left")
      .groupBy("doc_id")
      .agg(
        max(when(col("w") === 10, 1L).otherwise(0L)).as("shared10"),
        max(when(col("w") === 20, 1L).otherwise(0L)).as("shared20"),
        max(when(col("w") === 40, 1L).otherwise(0L)).as("shared40"),
        coalesce(max(col("w")), lit(0)).cast("long").as("max_shared_w"))
      .orderBy("doc_id")
  }

  val dupSpanProfileSql: String = {
    def widthCte(w: Int): String =
      s"""w$w AS (SELECT DISTINCT doc_id,
         |  md5(array_to_string(toks[i:i+${w - 1}], ' ')) AS wk
         |  FROM f, UNNEST(generate_series(1, nt - ${w - 1})) AS g(i)
         |  WHERE nt >= $w),
         |s$w AS (SELECT DISTINCT doc_id FROM w$w
         |        WHERE wk IN (SELECT wk FROM w$w
         |                     GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2))""".stripMargin
    s"""WITH t AS (SELECT doc_id,
       |             regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
       |           FROM documents),
       |f AS (SELECT doc_id, toks, len(toks) AS nt FROM t),
       |${SpanWidths.map(widthCte).mkString(",\n")}
       |SELECT d.doc_id,
       |  CAST(CASE WHEN s10.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS shared10,
       |  CAST(CASE WHEN s20.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS shared20,
       |  CAST(CASE WHEN s40.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS shared40,
       |  CAST(CASE WHEN s40.doc_id IS NOT NULL THEN 40
       |            WHEN s20.doc_id IS NOT NULL THEN 20
       |            WHEN s10.doc_id IS NOT NULL THEN 10
       |            ELSE 0 END AS BIGINT) AS max_shared_w
       |FROM documents d
       |LEFT JOIN s10 ON s10.doc_id = d.doc_id
       |LEFT JOIN s20 ON s20.doc_id = d.doc_id
       |LEFT JOIN s40 ON s40.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---- q267: PSI drift per source (length-decile bins) ---------------
  // The log-weighted companion to q190's TVD: the Population Stability
  // Index Σ_b (p̂_sb − q̂_b)·ln(p̂_sb/q̂_b) of each source's document-
  // length profile against the corpus — the metric model-monitoring
  // stacks alarm on (PSI > 0.25 = shifted). Bins are GLOBAL n_chars
  // deciles from the q91/q266 distributed ranking (exact ANSI ntile —
  // no single-partition window), with add-one smoothing on both
  // numerators so an empty (source, bin) cell contributes a finite
  // penalty instead of ln 0. The log term follows q80's float
  // discipline: both engines evaluate the IDENTICAL double expression
  // from identical integers, round it to 6 places, and sum as exact
  // DECIMAL(18,6) — addition order can't move the result, and the only
  // cross-engine exposure is libm's ln landing within 1e-6 of a .5
  // rounding boundary (q80's measured, accepted risk).
  //
  // Scale shape: one ranked pass over docs (range-repartition), two
  // grouped counts, then all arithmetic on the |sources|·10 grid.
  def psiDrift(spark: SparkSession, dir: String): DataFrame =
    psiDriftOf(Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars")))

  /** Core over (doc_id, source, n_chars) rows — factored so the spec
    * can plant a distribution-matched source (near-zero PSI) against a
    * fully shifted one. */
  private[graft] def psiDriftOf(docs: DataFrame): DataFrame = {
    val (ranked, n) = graft.functions.Ranking.globalRowNumberWithCount(
      docs, Seq("n_chars", "doc_id"), "__rn")
    val binned = ranked.withColumn("bin",
      graft.functions.Ranking.ntileFromRowNumber(col("__rn"), n, 10))
    val byBin = binned.groupBy("bin").agg(count(lit(1)).as("c_b"))
    val bySrcBin = binned.groupBy("source", "bin")
      .agg(count(lit(1)).as("c_sb"))
    val srcTot = bySrcBin.groupBy("source").agg(sum("c_sb").as("n_s"))
    srcTot.crossJoin(broadcast(byBin)) // |sources|×10 grid
      .join(bySrcBin, Seq("source", "bin"), "left")
      .withColumn("c_sb", coalesce(col("c_sb"), lit(0L)))
      .withColumn("p",
        (col("c_sb") + 1).cast("double") / (col("n_s") + 10).cast("double"))
      .withColumn("q",
        (col("c_b") + 1).cast("double") / lit((n + 10).toDouble))
      .withColumn("term",
        round((col("p") - col("q")) * log(col("p") / col("q")), 6)
          .cast("decimal(18,6)"))
      .groupBy("source")
      .agg(max("n_s").as("n_docs"), sum("term").cast("double").as("psi"))
      .orderBy("source")
  }

  val psiDriftSql: String =
    """WITH d AS (SELECT doc_id, source, n_chars FROM documents),
      |n AS (SELECT COUNT(*) AS n FROM d),
      |r AS (SELECT source,
      |        NTILE(10) OVER (ORDER BY n_chars, doc_id) AS bin FROM d),
      |bb AS (SELECT bin, COUNT(*) AS c_b FROM r GROUP BY 1),
      |sb AS (SELECT source, bin, COUNT(*) AS c_sb FROM r GROUP BY 1, 2),
      |st AS (SELECT source, SUM(c_sb) AS n_s FROM sb GROUP BY 1),
      |g AS (SELECT st.source, bb.bin, bb.c_b, st.n_s,
      |             COALESCE(sb.c_sb, 0) AS c_sb
      |      FROM st CROSS JOIN bb
      |        LEFT JOIN sb ON sb.source = st.source AND sb.bin = bb.bin),
      |t AS (SELECT source, n_s,
      |        CAST(round(
      |          (CAST(c_sb + 1 AS DOUBLE) / CAST(n_s + 10 AS DOUBLE)
      |           - CAST(c_b + 1 AS DOUBLE) / CAST(n.n + 10 AS DOUBLE))
      |          * ln((CAST(c_sb + 1 AS DOUBLE) / CAST(n_s + 10 AS DOUBLE))
      |               / (CAST(c_b + 1 AS DOUBLE) / CAST(n.n + 10 AS DOUBLE))),
      |          6) AS DECIMAL(18,6)) AS term
      |      FROM g, n)
      |SELECT source, CAST(MAX(n_s) AS BIGINT) AS n_docs,
      |       CAST(SUM(term) AS DOUBLE) AS psi
      |FROM t GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q267_psi_drift"        -> (psiDrift _),
    "q191_source_overlap"   -> (sourceOverlap _),
    "q193_dup_span_profile" -> (dupSpanProfile _),
    "q187_paragraph_dedup"  -> (paragraphDedup _),
    "q190_source_drift"     -> (sourceDrift _),
    "q162_shared_substring" -> (sharedSubstring _),
    "q163_ngram_overlap"    -> (ngramOverlap _),
    "q164_exact_quantiles"  -> (exactQuantiles _),
    "q165_padding_waste"    -> (paddingWaste _),
    "q167_source_length_profile" -> (sourceLengthProfile _),
    "q168_ngram_diversity"  -> (ngramDiversity _),
    "q169_vocab_coverage"   -> (vocabCoverage _),
    "q172_curated_write"    -> (curatedWrite _),
    "q174_incremental_curation" -> (incrementalCuration _))

  val oracles: Map[String, String] = Map(
    "q267_psi_drift"        -> psiDriftSql,
    "q191_source_overlap"   -> sourceOverlapSql,
    "q193_dup_span_profile" -> dupSpanProfileSql,
    "q187_paragraph_dedup"  -> paragraphDedupSql,
    "q190_source_drift"     -> sourceDriftSql,
    "q162_shared_substring" -> sharedSubstringSql,
    "q163_ngram_overlap"    -> ngramOverlapSql,
    "q164_exact_quantiles"  -> exactQuantilesSql,
    "q165_padding_waste"    -> paddingWasteSql,
    "q167_source_length_profile" -> sourceLengthProfileSql,
    "q168_ngram_diversity"  -> ngramDiversitySql,
    "q169_vocab_coverage"   -> vocabCoverageSql,
    "q172_curated_write"    -> curatedWriteSql,
    "q174_incremental_curation" -> incrementalCurationSql)
}
