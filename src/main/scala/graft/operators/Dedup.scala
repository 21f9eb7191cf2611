package graft.operators

import graft.functions.Text
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * n-gram-Jaccard, MinHash+LSH, SimHash, embedding-cosine.
  *
  * Scale design (the point of each):
  *  - exact: one hash-groupBy — a single shuffle on a 32-byte key, never
  *    on the document body.
  *  - jaccardPairs: inverted-index self-join on shingles. O(sum of
  *    postings^2) per shingle — correct tool for bounded candidate sets;
  *    at 100 TB you cap hot shingles (stop-shingle removal) or go MinHash.
  *  - minhashLshPairs: the 100 TB path. Signatures are a groupBy over
  *    exploded shingles (map-side combinable mins), candidates come from
  *    equality joins on band keys (shuffle on tiny keys), and only
  *    candidates pay the exact-Jaccard verify join.
  *  - simhash: per-doc fingerprint in one agg; near-dup = Hamming
  *    distance on 32-bit ints (bitwise XOR + popcount, no string ops).
  *
  * Hashes are md5-hex (a Catalyst built-in with codegen) so the DuckDB
  * oracle can reproduce signatures byte-for-byte; the PRODUCTION lane
  * ([[XxMinhash]]) derives the whole MinHash family from seeded
  * xxhash64 instead — same plan shape, ~4x cheaper per shingle, not
  * cross-engine reproducible. MinhashXxLaneSpec proves both lanes find
  * the same near-dup pairs (candidates are always verified with exact
  * Jaccard, so the family only moves candidate recall).
  *
  * Library operators return UNSORTED results — a trailing global sort
  * is a range shuffle a 100 TB caller may not want; the oracle-facing
  * q-entry wrappers add their own deterministic ORDER BY.
  */
object Dedup {

  /** MinHash hash-family switch: [[Md5Minhash]] = oracle lane (md5 hex
    * windows, byte-reproducible in any engine with md5/substr);
    * [[XxMinhash]] = production lane (min over seeded xxhash64 of the
    * shingle's h64 — one 8-byte hash per (shingle, seed), no string
    * hashing at all). */
  sealed trait HashFamily
  case object Md5Minhash extends HashFamily
  case object XxMinhash extends HashFamily

  /** Exact dedup: representative row per content hash (min id wins). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("__h", md5(col(textCol).cast("binary")))
      .groupBy("__h").agg(min(col(idCol)).as(idCol), count(lit(1)).as("group_size"))

  /** (doc_id, shingle, h64) long-form distinct shingle table. `h64` is
    * an xxhash64 of the shingle: set-intersection joins run on 8-byte
    * int keys instead of ~50-byte strings (halves the verify-join
    * shuffle; the 2^-64 collision rate is far below the jaccard
    * tolerance). */
  def shingleTable(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    // codegen'd shingler (graft.plans.WordShingles): byte-identical to
    // array_distinct(transform(...)) but ~10x faster — higher-order
    // lambdas run interpreted
    // Repartition by doc_id BEFORE the expensive map chain: a document
    // corpus often arrives as few large files (locally: one), and without
    // this the tokenize+shingle+md5 work runs on as few cores as there
    // are input splits. Hashing by doc_id also pre-partitions for the
    // signature groupBy and the verify join, so the shuffle moves cheap
    // raw text once instead of serializing the 10x larger shingle rows.
    df.repartition(col(idCol))
      .select(col(idCol).as("doc_id"), Text.tokens(col(textCol)).as("t"))
      .select(col("doc_id"),
        explode(graft.plans.GraftFunctions.word_shingles(col("t"), n)).as("s"))
      .withColumn("h64", xxhash64(col("s")))
  }

  /** All-pairs n-gram Jaccard >= threshold via shingle inverted index.
    *
    * Scale guard (`maxPostings`): the inverted-index self-join costs
    * sum-over-shingles(postings^2), so ONE boilerplate shingle shared
    * by k docs contributes k^2 pairs. Shingles whose posting list
    * exceeds `maxPostings` docs are dropped from the CANDIDATE index
    * (stop-shingle removal, the standard trick); candidates are then
    * verified with the full exact Jaccard over ALL shingles, so
    * reported similarities are exact — the cap only loses pairs whose
    * EVERY shared shingle is hot (the documented recall trade).
    * `maxPostings` is REQUIRED — a silent default here would decide
    * exact-vs-approximate on the caller's behalf: pass a finite cap
    * (1000 is a good corpus-scale choice) or use [[exactAllPairs]] to
    * opt into the k^2 exact form explicitly. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, threshold: Double = 0.5,
                   maxPostings: Int): DataFrame = {
    val sh = shingleTable(df, idCol, textCol, n).localCheckpoint(true)
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("szn"))
    if (maxPostings == Int.MaxValue) {
      val inter = sh.as("a").join(sh.as("b"),
          col("a.h64") === col("b.h64") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("c"))
      withJaccard(inter, sz, threshold)
    } else {
      val hot = sh.groupBy("h64").agg(count(lit(1)).as("__df"))
        .filter(col("__df") > maxPostings).select("h64")
      val idx = sh.join(broadcast(hot), Seq("h64"), "left_anti")
      val cand = idx.as("a").join(idx.as("b"),
          col("a.h64") === col("b.h64") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      val inter = cand
        .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
        .join(sh.as("sb"),
          col("doc_b") === col("sb.doc_id") && col("sa.h64") === col("sb.h64"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("c"))
      withJaccard(inter, sz, threshold)
    }
  }

  /** Exact all-pairs n-gram Jaccard — the unguarded postings^2 form.
    * Correct tool ONLY for bounded corpora (verification, oracles);
    * at scale use the capped [[jaccardPairs]] default or
    * [[minhashLshPairs]]. */
  def exactAllPairs(df: DataFrame, idCol: String, textCol: String,
                    n: Int = 3, threshold: Double = 0.5): DataFrame =
    jaccardPairs(df, idCol, textCol, n, threshold, maxPostings = Int.MaxValue)

  /** All-pairs Jaccard with PREFIX FILTERING (the PPJoin family —
    * Chaudhuri et al. ICDE'06 / Xiao et al. WWW'08, public literature):
    * same exact result set as [[exactAllPairs]], a fraction of the
    * candidates.
    *
    * Order every document's shingles by global rarity (document
    * frequency, ties by hash — one TOTAL order everywhere); a pair with
    * Jaccard >= t must share a shingle within each side's first
    * |s| - ceil(t*|s|) + 1 shingles, so only those PREFIX tokens enter
    * the inverted-index self-join. Hot shingles are almost never
    * prefix tokens (rarest-first order), which is what deflates the
    * postings^2 cost — a principled alternative to the recall-trading
    * `maxPostings` cap: exact recall with no cap to tune. Candidates
    * still verify with full exact Jaccard over ALL shingles.
    *
    * Candidate pruning stacks three exact-safe filters (all from the
    * PPJoin paper, all keeping every true pair):
    *  - PREFIX: only the first |s| - ceil(t·|s|) + 1 rarest shingles
    *    index;
    *  - LENGTH: J >= t forces min(|a|,|b|) >= t·max(|a|,|b|), applied
    *    INSIDE the index join so size-mismatched pairs never leave it;
    *  - POSITIONAL: a match at prefix positions (i, j) bounds the
    *    overlap by 1 + min(|a|−i, |b|−j); a pair survives only if its
    *    best bound reaches the overlap threshold
    *    α = ceil(t/(1+t)·(|a|+|b|)). Taken as MAX over the pair's
    *    prefix matches — the max dominates the FIRST match's bound,
    *    which is a valid overlap bound (no shared token precedes the
    *    first shared token in the shared total order), so the filter
    *    is conservative: it can only keep extra candidates, never
    *    drop a true pair. Verification is exact Jaccard regardless.
    *
    * Scale lane guidance: these prune the postings^2 CONSTANT, not
    * the asymptotics — rare tokens shared across documents still pay
    * quadratic candidates in the worst case (pre-upgrade this lane
    * measured 22.8x wall-time at a 20x corpus; the bench's
    * q99_prefix_jaccard scale lane tracks the upgraded curve). For
    * unbounded corpora use [[minhashLshPairs]]; use this where the
    * result must be exact and the corpus is bounded.
    *
    * (Float care: a `threshold * |s|` product that rounds ABOVE an
    * integral value raises the ceil and SHORTENS the prefix — the
    * recall-losing direction. Every bound therefore subtracts a guard
    * epsilon (far above the product's max rounding error, ~2e-7 at
    * |s|=1e9) before the ceil / compare: at worst a filter admits one
    * extra candidate, never loses recall. The spec pins pair-set
    * equality with exactAllPairs.) */
  def jaccardPrefixPairs(df: DataFrame, idCol: String, textCol: String,
                         n: Int = 3, threshold: Double = 0.5,
                         stats: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = shingleTable(df, idCol, textCol, n).localCheckpoint(true)
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("szn"))
    val dfTok = sh.groupBy("h64").agg(count(lit(1)).as("tdf"))
    val wDoc = Window.partitionBy("doc_id").orderBy(col("tdf"), col("h64"))
    val prefix = sh.join(dfTok, "h64")
      .withColumn("rn", row_number().over(wDoc))
      .join(sz, "doc_id")
      .filter(col("rn") <=
        col("szn") - ceil(lit(threshold) * col("szn") - lit(1e-6)) + lit(1))
      .select("doc_id", "h64", "rn", "szn")
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.h64") === col("b.h64") && col("a.doc_id") < col("b.doc_id")
          // length filter, inside the join: prunes before the
          // candidate rows ever hit the pair shuffle
          && least(col("a.szn"), col("b.szn")).cast("double")
             >= lit(threshold) * greatest(col("a.szn"), col("b.szn")).cast("double")
                - lit(1e-6))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (lit(1L) + least(col("a.szn") - col("a.rn"),
          col("b.szn") - col("b.rn"))).as("ub"),
        (col("a.szn") + col("b.szn")).as("sumsz"))
      // the groupBy replaces the old distinct() — same pair-key
      // shuffle, now also carrying the positional bound
      .groupBy("doc_a", "doc_b")
      .agg(max("ub").as("ub"), max("sumsz").as("sumsz"))
      .filter(col("ub") >=
        ceil(lit(threshold / (1.0 + threshold)) * col("sumsz") - lit(1e-6)))
      .select("doc_a", "doc_b")
    val inter = cand
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"),
        col("doc_b") === col("sb.doc_id") && col("sa.h64") === col("sb.h64"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("c"))
    withJaccard(inter, sz, threshold, stats)
  }

  private def withJaccard(inter: DataFrame, sz: DataFrame, threshold: Double,
                          stats: Boolean = false): DataFrame = {
    val uni = col("za.szn") + col("zb.szn") - col("c")
    val j = col("c").cast("double") / uni.cast("double")
    val joined = inter
      .join(sz.as("za"), col("doc_a") === col("za.doc_id"))
      .join(sz.as("zb"), col("doc_b") === col("zb.doc_id"))
    val out =
      if (stats) // exact integer numerator/denominator, for band math
        joined.select(col("doc_a"), col("doc_b"), col("c").as("inter_n"),
          uni.as("union_n"), j.as("jaccard"))
      else joined.select(col("doc_a"), col("doc_b"), j.as("jaccard"))
    out.filter(col("jaccard") >= threshold)
  }

  /** MinHash signature: numHashes BIGINT columns m0..m{k-1}, plus the
    * per-doc shingle count `szn` (the Jaccard denominator) folded into
    * the same aggregation. The hash
    * family is ONE md5 per shingle plus rotations (hash i orders
    * shingles by a 15-hex-char window of the doubled md5 hex starting at
    * offset 2i) — 12x cheaper than seeded re-hashing, still
    * byte-reproducible in any engine with md5/substr. Each window is
    * converted to int64 (15 hex chars = 60 bits) BEFORE the min, so the
    * aggregation state, shuffle rows, and downstream band keys are 8-byte
    * ints, not 16-char strings. Fixed-width hex compares lexicographically
    * == numerically, so an engine taking string minima over the same
    * windows (the DuckDB oracle does) picks identical argmins.
    * Rotations are correlated permutations, which only affects candidate
    * recall — every candidate is verified with exact Jaccard afterwards.
    * Requires numHashes <= 16 (32 hex chars / stride 2).
    *
    * The [[XxMinhash]] family instead takes `min(xxhash64(h64, i))` per
    * seed i — a fully independent hash family computed from the
    * 8-byte shingle hash alone (no md5, no string hashing): the
    * production lane when cross-engine reproducibility isn't needed. */
  def minhashSignatures(sh: DataFrame, numHashes: Int,
                        family: HashFamily = Md5Minhash): DataFrame = {
    // per-doc shingle count rides in the same aggregation — the caller
    // needs it for the Jaccard denominator, and folding it here saves a
    // whole extra pass + shuffle over the shingle table
    val szn = count(lit(1)).as("szn")
    family match {
      case Md5Minhash =>
        require(numHashes <= 16, "rotation family supports at most 16 hashes")
        // md5 materialized as a column first (no CSE within a projection);
        // hex_window (graft.plans.HexWindowLong) parses each rotation's
        // 15-hex window straight off the md5 string with wraparound — no
        // doubled-string concat, no substring copies, no conv.
        val withH =
          if (sh.columns.contains("__h")) sh
          else sh.withColumn("__h", md5(col("s").cast("binary")))
        val aggs = (0 until numHashes).map(i =>
          min(graft.plans.GraftFunctions.hex_window(col("__h"), i * 2, 15)).as(s"m$i")) :+ szn
        withH.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      case XxMinhash =>
        // the seed rides as a literal second argument; each hash is one
        // codegen'd xxhash64 over 12 bytes — no overflow-prone arithmetic
        // (ANSI-safe), no strings
        val aggs = (0 until numHashes).map(i =>
          min(xxhash64(col("h64"), lit(i))).as(s"m$i")) :+ szn
        sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    }
  }

  /** LSH band keys: bands x (numHashes/bands) signature layout; band key
    * is the band's minhashes as an array<bigint> — equality-joinable and
    * hash-partitionable, 8 bytes per element vs the 50-char concat-string
    * alternative. `carry` names signature columns to keep on every band
    * row (the LSH pipelines carry `szn` so the Jaccard denominator rides
    * the band join instead of two separate size-lookup joins). */
  def lshBands(sig: DataFrame, numHashes: Int, bands: Int,
               carry: Seq[String] = Nil): DataFrame = {
    val rows = numHashes / bands
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        array((0 until rows).map(r => col(s"m${b * rows + r}")): _*).as("bkey"))
    }
    val keep = col("doc_id") +: carry.map(col)
    sig.select(keep :+ explode(array(bandStructs: _*)).as("bk"): _*)
      .select(keep ++ Seq(col("bk.band").as("band"), col("bk.bkey").as("bkey")): _*)
  }

  /** Full MinHash+LSH near-dup pipeline: shingle -> signature -> band
    * candidates -> exact-Jaccard verify on candidates only. */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, numHashes: Int = 12, bands: Int = 4,
                      threshold: Double = 0.5,
                      family: HashFamily = Md5Minhash): DataFrame = {
    // The shingle table feeds signatures, sizes, and the verify join —
    // materialize it ONCE (eager localCheckpoint) instead of
    // re-tokenizing the corpus three times. Checkpoint beats persist()
    // here for two measured reasons: (1) AQE materializes broadcast/
    // shuffle subtrees in parallel jobs, and with a lazy cache those
    // jobs race to recompute the whole tokenize+hash chain (2-4x
    // wall-clock at sf0.1); (2) CacheManager plan-matching across
    // repeated calls showed erratic 10-25x slowdowns on later reruns.
    // The checkpoint is an index build — eager by design, like writing
    // a bucketed shingle table at 100 TB (Warehouse.scala shows that
    // path). Only (doc_id, h64, md5) is materialized — the shingle
    // STRING feeds nothing downstream (signatures read md5 windows, the
    // verify joins on h64), so dropping it narrows the checkpoint rows
    // by ~40%. The xxhash lane needs no md5 column at all — its
    // checkpoint is just (doc_id, h64).
    val sh = shingleIndexFrame(df, idCol, textCol, n, family)
      .localCheckpoint(true)
    lshPairsFromIndex(sh, numHashes, bands, threshold, family)
  }

  /** The (doc_id, h64[, __h]) shingle-index projection
    * [[minhashLshPairs]] materializes — factored so the catalog index
    * persists the IDENTICAL frame the checkpoint lane pins. */
  private def shingleIndexFrame(df: DataFrame, idCol: String,
                                textCol: String, n: Int,
                                family: HashFamily): DataFrame = {
    val base = shingleTable(df, idCol, textCol, n)
    family match {
      case Md5Minhash => base
        .withColumn("__h", md5(col("s").cast("binary")))
        .select("doc_id", "h64", "__h")
      case XxMinhash => base.select("doc_id", "h64")
    }
  }

  /** Downstream of a MATERIALIZED shingle index (localCheckpoint or a
    * persisted table): signatures -> band candidates -> exact-Jaccard
    * verify on candidates only. Every consumer reads `sh` at least
    * twice, which is why callers must have materialized it.
    *
    * Round-18 restructure (guide §2.4 — remove shuffles outright): the
    * per-doc shingle count `szn` rides every band row (16 bytes per
    * band row), so each candidate pair leaves the band join already
    * carrying both Jaccard denominators — the two size-lookup joins
    * (and their two broadcast builds) that previously closed the plan
    * are gone. That leaves `sig` with exactly one consumer pair (the
    * two sides of the band self-join), whose canonicalized subtrees are
    * identical — exchange reuse materializes the signature aggregation
    * once — so the eager signature localCheckpoint barrier (one whole
    * job per call) is dropped too. Same pairs, same jaccard arithmetic
    * (c / (sza + szb - c) over the identical szn values). */
  private[graft] def lshPairsFromIndex(sh: DataFrame, numHashes: Int,
                                       bands: Int, threshold: Double,
                                       family: HashFamily): DataFrame = {
    val sig = minhashSignatures(sh, numHashes, family)
    val bandsDf = lshBands(sig, numHashes, bands, carry = Seq("szn"))
    // groupBy replaces the old distinct(): same pair-key shuffle, now
    // also carrying the sizes (functionally dependent on the pair —
    // max is just a deterministic pick)
    val cand = bandsDf.as("a").join(bandsDf.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.szn").as("sza"), col("b.szn").as("szb"))
      .groupBy("doc_a", "doc_b")
      .agg(max("sza").as("sza"), max("szb").as("szb"))
    val inter = cand
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"), col("doc_b") === col("sb.doc_id") && col("sa.h64") === col("sb.h64"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("c"), max("sza").as("sza"), max("szb").as("szb"))
    val j = col("c").cast("double") /
      (col("sza") + col("szb") - col("c")).cast("double")
    inter.select(col("doc_a"), col("doc_b"), j.as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Publish the MinHash-LSH shingle index into the VERSIONED catalog
    * (round-13 verdict #3): one part `shingles`, the shingle index
    * [[minhashLshPairs]] checkpoints, persisted bucketed on doc_id (the
    * verify join's probe key), named, versioned and snapshot-isolated.
    * Unlike a localCheckpoint it survives executor loss and serves
    * later jobs with no rebuild. Returns the version. */
  def lshIndexPublish(df: DataFrame, idCol: String, textCol: String,
                      family: String, n: Int = 3,
                      hashFamily: HashFamily = Md5Minhash,
                      nBuckets: Int = 8): Int =
    graft.sources.IndexCatalog.mintParts(df.sparkSession, family)(
      lshCatalogBuild(df, idCol, textCol, n, hashFamily, nBuckets))

  /** The catalog build closure both LSH publish paths share (`df`
    * by-name: a get-or-publish reuse hit never constructs it). */
  private def lshCatalogBuild(df: => DataFrame, idCol: String,
                              textCol: String, n: Int,
                              hashFamily: HashFamily, nBuckets: Int)
      : (Int, String => String) => Seq[graft.sources.IndexCatalog.Part] =
    (_, name) => {
      graft.sources.Warehouse.writeBucketed(
        shingleIndexFrame(df, idCol, textCol, n, hashFamily),
        name("shingles"), "doc_id", nBuckets)
      Seq(graft.sources.IndexCatalog.Part("shingles", "doc_id", nBuckets))
    }

  /** Get-or-publish (round-14 verdict #2): reuse the current version
    * when built from the same source fingerprint, else publish. */
  def lshIndexGetOrPublish(spark: SparkSession, df: => DataFrame,
                           idCol: String, textCol: String, family: String,
                           fp: String, n: Int = 3,
                           hashFamily: HashFamily = Md5Minhash,
                           nBuckets: Int = 8): Int =
    // shingle width, hash family, bucket count and the source columns
    // fold into the reuse key (round-15 advice): same data + different
    // build parameters is a DIFFERENT index, never a silent reuse hit
    graft.sources.IndexCatalog.getOrMint(spark, family,
      graft.sources.IndexCatalog.hexDigest(
        s"$fp|$idCol|$textCol|n$n|$hashFamily|nb$nBuckets"))(
      lshCatalogBuild(df, idCol, textCol, n, hashFamily, nBuckets))

  /** MinHash-LSH pairs served from a pinned catalog version: a build
    * minting the next version mid-probe is invisible (the q136
    * snapshot law, asserted in IndexCatalogSpec). */
  def minhashLshPairsFromCatalog(spark: SparkSession, family: String,
                                 numHashes: Int = 12, bands: Int = 4,
                                 threshold: Double = 0.5,
                                 hashFamily: HashFamily = Md5Minhash,
                                 version: Int = -1): DataFrame = {
    import graft.sources.IndexCatalog
    val v = IndexCatalog.pin(spark, family, version)
    lshPairsFromIndex(IndexCatalog.readPart(spark, family, v, "shingles"),
      numHashes, bands, threshold, hashFamily)
  }

  /** [[minhashLshPairs]]'s candidate set with the INTEGER sufficient
    * statistics behind the Jaccard verify exposed: (doc_a, doc_b, c,
    * sza, szb) for EVERY LSH candidate pair (no threshold filter) —
    * c = |shingles(a) ∩ shingles(b)|, sza/szb the distinct-shingle
    * sizes. The q166 operating-point histogram banding is exact
    * integer arithmetic over these; the ratio form jaccard =
    * c/(sza+szb-c) reproduces the pairs lane when filtered. */
  def minhashLshCandidateCounts(df: DataFrame, idCol: String, textCol: String,
                                n: Int = 3, numHashes: Int = 12, bands: Int = 4,
                                family: HashFamily = Md5Minhash): DataFrame = {
    val sh = shingleIndexFrame(df, idCol, textCol, n, family)
      .localCheckpoint(true)
    // same szn-carry shape as lshPairsFromIndex: sizes ride the band
    // rows, so no size-lookup joins and no signature checkpoint (the
    // band self-join's two sides share one exchange via reuse)
    val sig = minhashSignatures(sh, numHashes, family)
    val bandsDf = lshBands(sig, numHashes, bands, carry = Seq("szn"))
    val cand = bandsDf.as("a").join(bandsDf.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.szn").as("sza"), col("b.szn").as("szb"))
      .groupBy("doc_a", "doc_b")
      .agg(max("sza").as("sza"), max("szb").as("szb"))
    cand
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"), col("doc_b") === col("sb.doc_id") && col("sa.h64") === col("sb.h64"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("c"), max("sza").as("sza"), max("szb").as("szb"))
      .select(col("doc_a"), col("doc_b"), col("c"), col("sza"), col("szb"))
  }

  /** Cross-corpus MinHash+LSH: near-dup pairs BETWEEN `incoming` and
    * `existing` only (no within-corpus pairs) — the incremental-ingest
    * dedup: which new documents duplicate something already in the
    * training set. Same index shapes as [[minhashLshPairs]], but the
    * band join is new-vs-old instead of a self-join, so candidate cost
    * tracks |incoming| x bucket occupancy, not the corpus square; at
    * 100 TB the existing side's signatures/bands are a PERSISTED index
    * (built once, reused per batch — the Warehouse bucketing story).
    * Returns (doc_a = incoming id, doc_b = existing id, jaccard). Ids
    * may collide across the two frames (they are different corpora). */
  def minhashLshPairsAgainst(incoming: DataFrame, existing: DataFrame,
                             idCol: String, textCol: String,
                             n: Int = 3, numHashes: Int = 12, bands: Int = 4,
                             threshold: Double = 0.5,
                             family: HashFamily = Md5Minhash): DataFrame = {
    def index(df: DataFrame) =
      shingleIndexFrame(df, idCol, textCol, n, family).localCheckpoint(true)
    val shNew = index(incoming)
    val shOld = index(existing)
    // szn-carry shape (see lshPairsFromIndex): the per-doc sizes ride
    // the band rows out of the signature aggregation, so the OLD form's
    // second full groupBy pass over each shingle table (szNew/szOld)
    // and the two size-lookup joins are gone — same pairs, same
    // jaccard arithmetic over the identical szn values.
    val bNew = lshBands(minhashSignatures(shNew, numHashes, family),
      numHashes, bands, carry = Seq("szn"))
    val bOld = lshBands(minhashSignatures(shOld, numHashes, family),
      numHashes, bands, carry = Seq("szn"))
    val cand = bNew.as("a").join(bOld.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.szn").as("sza"), col("b.szn").as("szb"))
      .groupBy("doc_a", "doc_b")
      .agg(max("sza").as("sza"), max("szb").as("szb"))
    val inter = cand
      .join(shNew.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(shOld.as("sb"), col("doc_b") === col("sb.doc_id") && col("sa.h64") === col("sb.h64"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("c"), max("sza").as("sza"), max("szb").as("szb"))
    val j = col("c").cast("double") /
      (col("sza") + col("szb") - col("c")).cast("double")
    inter.select(col("doc_a"), col("doc_b"), j.as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Benchmark decontamination check (train-test overlap): for each
    * corpus document, how many of its distinct n-gram shingles appear
    * ANYWHERE in the benchmark/eval set — the pre-training hygiene
    * step that keeps eval answers out of the training corpus
    * (published recipes flag documents sharing long n-grams with a
    * benchmark, then drop or audit them).
    *
    * Scale shape: the benchmark shingle set is tiny next to the corpus
    * (eval suites are MBs, corpora are TBs) — one distinct projection,
    * broadcast into a corpus-side LEFT join on the 8-byte shingle
    * hash, then one per-doc aggregate. A single linear corpus pass,
    * no self-join anywhere. Returns (doc_id, n_shingles, n_overlap,
    * overlap_frac) for every corpus doc with at least one overlapping
    * shingle. */
  def contaminationCheck(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String,
                         n: Int = 5): DataFrame = {
    val shC = shingleTable(corpus, idCol, textCol, n)
    val shB = shingleTable(benchmark, idCol, textCol, n)
      .select(col("h64")).distinct()
      .withColumn("__hit", lit(1))
    shC.join(broadcast(shB), Seq("h64"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        count(col("__hit")).as("n_overlap"))
      .filter(col("n_overlap") >= 1)
      .withColumn("overlap_frac",
        round(col("n_overlap").cast("double") / col("n_shingles").cast("double"), 6))
  }

  /** 32-bit SimHash per doc from distinct ASCII tokens. Bit p of the
    * token hash is the high bit of hex digit p of md5 (portable to any
    * engine with md5). Returns (doc_id, simhash bitstring, simhash_int). */
  def simhash(df: DataFrame, idCol: String, textCol: String,
              bits: Int = 32): DataFrame = {
    // same few-input-splits guard as shingleTable: spread the tokenize
    // work and pre-partition for the per-doc aggregation
    val tok = df.repartition(col(idCol)).select(col(idCol).as("doc_id"),
      explode(array_distinct(Text.tokens(col(textCol)))).as("t"))
    val h = md5(col("t").cast("binary"))
    val hexHigh = Seq("8", "9", "a", "b", "c", "d", "e", "f")
    val sums = (0 until bits).map(p =>
      sum(when(substring(h, p + 1, 1).isin(hexHigh: _*), 1).otherwise(-1)).as(s"b$p"))
    val agg = tok.groupBy("doc_id").agg(sums.head, sums.tail: _*)
    val bitstr = concat((0 until bits).map(p =>
      when(col(s"b$p") >= 0, lit("1")).otherwise(lit("0"))): _*)
    agg.select(col("doc_id"), bitstr.as("simhash"))
      .withColumn("simhash_int", conv(col("simhash"), 2, 10).cast("long"))
  }

  /** Connected-components result with convergence surfaced: `labels`
    * is (doc_id, rep); a caller MUST check `converged` before trusting
    * labels from the propagation variant (a component whose diameter
    * exceeds maxIter returns partially-merged labels otherwise). */
  final case class Components(labels: DataFrame, iterations: Int,
                              converged: Boolean)

  /** Connected components by iterative min-label propagation.
    *
    * Scale shape: the classic distributed CC loop — labels and edges
    * are checkpointed frames; each iteration is one equality join +
    * min-aggregation (both map-side combinable), and the driver only
    * collects a changed-row COUNT for the convergence test. Iterations
    * = component DIAMETER: near-dup clusters are shallow, but sliding
    * near-dup chains are not — for those use
    * [[starContractComponents]], which converges in O(log^2 n) rounds
    * regardless of diameter. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): Components = {
    val edges = pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .union(pairs.select(col("doc_b").as("a"), col("doc_a").as("b")))
      .localCheckpoint(true)
    var labels = edges.select(col("a").as("doc_id")).distinct()
      .withColumn("rep", col("doc_id"))
      .localCheckpoint(true)
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val prop = edges.join(labels, col("b") === col("doc_id"))
        .groupBy(col("a")).agg(min("rep").as("nrep"))
      val next = labels.join(prop, col("doc_id") === col("a"), "left")
        .select(col("doc_id"),
          least(col("rep"), coalesce(col("nrep"), col("rep"))).as("rep"))
        .localCheckpoint(true)
      changed = next.as("n")
        .join(labels.select(col("doc_id"), col("rep").as("old")).as("o"), "doc_id")
        .filter(col("rep") =!= col("old")).count()
      labels = next
      i += 1
    }
    Components(labels, i, changed == 0L)
  }

  /** THE default connected-components entry point: min-label
    * propagation with a bounded round budget, ESCALATING to
    * [[starContractComponents]] the moment the budget is exhausted
    * without convergence.
    *
    * Rationale: propagation costs one join + one map-side-combinable
    * min-agg per round but needs DIAMETER rounds; star contraction
    * converges in O(log D) rounds but each half-round rewrites the
    * edge set (two joins + two distincts). Near-dup clusters — the
    * dominant input shape — have diameter 2-4, so propagation wins
    * there; sliding near-dup CHAINS (window-hash dedup, sessionized
    * streams) have diameter ~ chain length and would need thousands of
    * propagation rounds at corpus scale. `propBudget` IS the
    * component-diameter threshold: any component still unmerged after
    * `propBudget` rounds has diameter > propBudget, and exactly those
    * inputs switch to the log-round algorithm. The escalation is
    * label-exact: both algorithms emit rep = min id of the component
    * (ClusterSpec + PropertySpec pin label identity on random graphs
    * and a planted path where the diameter bites), so which one ran is
    * unobservable in the output.
    *
    * `iterations` reports propagation rounds + star rounds actually
    * executed, so the round-count saving on deep graphs is a recorded
    * artifact, not a claim. */
  def componentsAdaptive(pairs: DataFrame, propBudget: Int = 6,
                         starMaxIter: Int = 30): Components = {
    val prop = connectedComponents(pairs, propBudget)
    if (prop.converged) prop
    else {
      val star = starContractComponents(pairs, starMaxIter)
      Components(star.labels, prop.iterations + star.iterations, star.converged)
    }
  }

  /** Incremental connected-components maintenance: fold a batch of NEW
    * pairs into an existing (doc_id, rep) labeling without recomputing
    * from scratch — the continuous-dedup-ingest shape at 100 TB, where
    * the standing corpus labeling is petabyte-derived state and each
    * arriving slice contributes a few edges.
    *
    * Construction: every existing component CONTRACTS to its rep
    * supernode; each new pair rewrites to (rep(a), rep(b)) (endpoints
    * unknown to the labeling stay themselves); CC runs over that
    * contracted graph only — its size tracks the NEW pairs and the
    * reps they touch, never |labels|; the final labeling composes the
    * old mapping through the supernode relabeling with one join.
    *
    * Exactness (the law TextDedupSpec + the q140 oracle check):
    * incremental == full recompute over (old ∪ new) pairs, EXACTLY —
    * reps are canonical min-ids, and min over a merged component
    * equals min over its supernodes' mins, so even the rep CHOICE
    * agrees, not just the partition. Old-old pairs inside one
    * component contract to self-loops and drop, and ids appearing
    * ONLY in degenerate (a, a) input rows get no label — the same
    * rule the star-contraction recompute applies when it drops
    * self-loops before labeling. */
  def incrementalComponents(labels: DataFrame, newPairs: DataFrame): DataFrame = {
    val l = labels.select(col("doc_id"), col("rep")).localCheckpoint(true)
    val la = l.select(col("doc_id").as("doc_a"), col("rep").as("rep_a"))
    val lb = l.select(col("doc_id").as("doc_b"), col("rep").as("rep_b"))
    val contracted = newPairs.select("doc_a", "doc_b")
      .join(la, Seq("doc_a"), "left")
      .join(lb, Seq("doc_b"), "left")
      .select(coalesce(col("rep_a"), col("doc_a")).as("doc_a"),
        coalesce(col("rep_b"), col("doc_b")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
      .localCheckpoint(true)
    if (contracted.head(1).isEmpty) return l
    val superCC = starContractComponents(contracted)
    if (!superCC.converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        "incrementalComponents: star contraction hit maxIter; labels " +
          "of the touched components may be partially merged")
    // remap: touched supernode -> its merged component's canonical rep
    val remap = superCC.labels
      .select(col("doc_id").as("rep"), col("rep").as("new_rep"))
      .localCheckpoint(true)
    val updatedOld = l.join(remap, Seq("rep"), "left")
      .select(col("doc_id"), coalesce(col("new_rep"), col("rep")).as("rep"))
    // New ids come from the CONTRACTED edge set, not the raw pairs:
    // an id whose only pairs were degenerate (a, a) rows has no real
    // edge and gets no label — exactly what the star-contraction full
    // recompute does (it drops self-loops before labeling), keeping
    // the incremental == from-scratch law airtight on BOTH branches
    // (the empty-contracted early return above is the same rule).
    val newIds = contracted.select(col("doc_a").as("doc_id"))
      .unionAll(contracted.select(col("doc_b").as("doc_id")))
      .distinct()
      .join(l, Seq("doc_id"), "left_anti")
    val newLabeled = newIds
      .join(remap.withColumnRenamed("rep", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("new_rep"), col("doc_id")).as("rep"))
    updatedOld.unionAll(newLabeled)
  }

  /** Connected components by ALTERNATING STAR CONTRACTION (the
    * large-star/small-star algorithm of Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14 — public
    * literature): each half-round hangs every node off the minimum of
    * its neighborhood, which contracts chains geometrically, so a
    * diameter-D component needs O(log D) rounds where propagation
    * needs D. Each half-round is one min-aggregation plus one join
    * (no collect_list, no driver-side adjacency), making it the
    * 100 TB-safe fallback for deep chains.
    *
    * large-star: for every edge (u,v) with v > u, emit (v, min(N(u) ∪ u)).
    * small-star: direct edges to the smaller endpoint, then for each u
    * emit (v, m) for v in N(u) ∪ {u} with m = min(N(u) ∪ u).
    * Fixpoint = the edge set is a set of stars rooted at component
    * minima; labels read directly off the final edges. */
  def starContractComponents(pairs: DataFrame, maxIter: Int = 30): Components = {
    // undirected edge set, kept as deduped (a, b) rows with a =!= b
    var e = pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct()
      .localCheckpoint(true)
    def sym(df: DataFrame): DataFrame =
      df.union(df.select(col("b").as("a"), col("a").as("b")))
    // Convergence = the deduped edge set is unchanged. Testing that with
    // exceptAll both ways costs two full set-difference jobs per round;
    // a (count, order-independent hash checksum) fingerprint needs ONE
    // aggregate over the new edge set (the old set's fingerprint carries
    // over) and differs for unequal sets except at ~2^-64 collision odds
    // — and a collision merely stops one round at an almost-fixpoint.
    def fingerprint(df: DataFrame): (Long, BigDecimal) = {
      // decimal(38,0) sum: a long sum of 2^63-scale hashes overflows
      // (ANSI arithmetic makes that an error, not a wraparound)
      val r = df.agg(count(lit(1)),
        sum(xxhash64(col("a"), col("b")).cast("decimal(38,0)"))).head()
      (r.getLong(0), if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
    }
    var fp = fingerprint(e)
    var i = 0
    var converged = false
    while (!converged && i < maxIter) {
      // large-star over the symmetric neighborhood
      val s = sym(e)
      val mins = s.groupBy("a").agg(min("b").as("mn"))
        .select(col("a").as("u"), least(col("mn"), col("a")).as("m"))
      val large = s.filter(col("b") > col("a"))
        .join(mins, col("a") === col("u"))
        .select(least(col("b"), col("m")).as("a"),
          greatest(col("b"), col("m")).as("b"))
        .filter(col("a") =!= col("b")).distinct()
        .localCheckpoint(true)
      // small-star over edges directed at the smaller endpoint
      val dir = large.select(col("b").as("u"), col("a").as("v")) // v < u
      val mins2 = dir.groupBy("u").agg(min("v").as("m"))
      val small = dir.join(mins2, "u")
        .select(col("v"), col("u"), col("m"))
        .select(explode(array(
          struct(least(col("v"), col("m")).as("a"), greatest(col("v"), col("m")).as("b")),
          struct(col("m").as("a"), col("u").as("b")))).as("ed"))
        .select(col("ed.a").as("a"), col("ed.b").as("b"))
        .filter(col("a") =!= col("b")).distinct()
        .localCheckpoint(true)
      val fpNew = fingerprint(small)
      converged = fpNew == fp
      fp = fpNew
      e = small
      i += 1
    }
    // fixpoint edges are stars (node, root): labels = non-roots off the
    // edges, roots label themselves
    val labels = e.select(col("b").as("doc_id"), col("a").as("rep"))
      .union(e.select(col("a").as("doc_id"), col("a").as("rep")).distinct())
    Components(labels, i, converged)
  }

  /** Near-dup CLUSTERS from a pair list: one row per multi-doc cluster
    * with its canonical member (lowest doc_id) and size — the dedup
    * endgame (keep the canonical, drop the rest).
    *
    * Runs [[componentsAdaptive]]: propagation for shallow clusters,
    * automatic escalation to log-round star contraction when a deep
    * component exhausts the propagation budget, so a pathological
    * chain can no longer return partially-merged clusters. The warning
    * survives only for the (star also truncated) case. */
  def dedupClusters(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val cc = componentsAdaptive(pairs, propBudget = math.min(maxIter, 6))
    if (!cc.converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"dedupClusters: star contraction hit its round budget without " +
          "converging — labels may be PARTIALLY MERGED")
    clustersFromLabels(cc.labels)
  }

  /** Fuzzy matching of fixed-width keys (entity resolution for codes /
    * padded identifiers / normalized names): all pairs within Hamming
    * distance `maxDist`, by the pigeonhole scheme — split the key into
    * maxDist+1 segments; any pair within distance maxDist agrees
    * EXACTLY on at least one segment, so per-segment equality joins
    * have 100% recall (exact, not approximate — the simhashNearPairs
    * argument applied to characters). Candidates pay a positional
    * comparison verify; Levenshtein rides along as a reported metric
    * (on same-width keys, lev <= hamming). Keys not of `width` are
    * ignored — normalize/pad first. */
  def fuzzyKeyPairs(df: DataFrame, idCol: String, keyCol: String,
                    width: Int, maxDist: Int): DataFrame = {
    require(width > 0 && maxDist >= 0 && maxDist < width,
      "need 0 <= maxDist < width")
    val segs = maxDist + 1
    val k = df.select(col(idCol).as("id"), col(keyCol).as("k"))
      .filter(length(col("k")) === width)
    val bandStructs = (0 until segs).map { b =>
      val st = b * width / segs
      val en = (b + 1) * width / segs
      struct(lit(b).as("band"), substring(col("k"), st + 1, en - st).as("seg"))
    }
    val bands = k.select(col("id"), col("k"),
        explode(array(bandStructs: _*)).as("bs"))
      .select(col("id"), col("k"),
        col("bs.band").as("band"), col("bs.seg").as("seg"))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.seg") === col("b.seg") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("a.k").as("k_a"),
        col("b.id").as("id_b"), col("b.k").as("k_b"))
      .distinct()
    val ham = (1 to width).map(i =>
      when(substring(col("k_a"), i, 1) =!= substring(col("k_b"), i, 1), 1)
        .otherwise(0)).reduce(_ + _)
    cand.withColumn("hamming", ham.cast("long"))
      .filter(col("hamming") <= maxDist)
      .withColumn("lev", levenshtein(col("k_a"), col("k_b")).cast("long"))
      .select("id_a", "id_b", "hamming", "lev")
  }

  /** The dedup endgame: the corpus with near-duplicates REMOVED — each
    * cluster keeps only its canonical member (lowest id), singleton
    * docs pass through untouched. `pairs` is any near-dup pair list
    * (minhash/simhash/SRP/jaccard); composition stays one CC run plus
    * a left-anti hash join on the id, so the whole pipeline keeps the
    * bucketed-candidates shape end to end. */
  def dedupedCorpus(df: DataFrame, idCol: String, pairs: DataFrame,
                    maxIter: Int = 20): DataFrame = {
    val labels = componentsAdaptive(pairs, propBudget = math.min(maxIter, 6)).labels
    val losers = labels.filter(col("doc_id") =!= col("rep"))
      .select(col("doc_id").as("__loser"))
    df.join(losers, df(idCol) === col("__loser"), "left_anti")
  }

  /** [[dedupedCorpus]] with a caller-chosen survivor policy: each
    * cluster keeps the member maximizing `prefer` (ties -> lowest id).
    * The policy real pipelines want is usually "keep the longest /
    * highest-quality member", not "keep the lowest id" — pass e.g.
    * col("n_chars") or a quality score. One CC run + a per-cluster
    * row_number window on (rep) — no extra join over the corpus. */
  def dedupedCorpusBy(df: DataFrame, idCol: String, pairs: DataFrame,
                      prefer: Column, maxIter: Int = 20): DataFrame = {
    val labels = componentsAdaptive(pairs, propBudget = math.min(maxIter, 6)).labels
      .withColumnRenamed("doc_id", "__lid")
    val withRep = df.join(labels, df(idCol) === col("__lid"), "left")
      .withColumn("__rep", coalesce(col("rep"), df(idCol)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__rep").orderBy(prefer.desc, df(idCol).asc)
    withRep.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__lid", "rep", "__rep", "__rn")
  }

  /** (doc_id, rep) labels -> (canonical_doc, cluster_size) rows for
    * multi-doc clusters. */
  def clustersFromLabels(labels: DataFrame): DataFrame =
    labels.groupBy("rep").agg(count(lit(1)).as("cluster_size"))
      .filter(col("cluster_size") > 1)
      .select(col("rep").as("canonical_doc"), col("cluster_size"))

  /** SimHash near-dup pairs by Hamming distance, bucketed by bit-bands.
    *
    * Pigeonhole: split the `bits`-bit fingerprint into maxHamming+1
    * disjoint bands — any pair within Hamming distance maxHamming agrees
    * EXACTLY on at least one band, so candidates from per-band equality
    * joins have 100% recall (this is exact, not approximate). Candidate
    * generation is a shuffle on (band, bandValue) int keys; only
    * candidates pay the XOR+popcount verify. No cartesian anywhere. */
  def simhashNearPairs(sims: DataFrame, maxHamming: Int = 3,
                       bits: Int = 32): DataFrame = {
    val nBands = maxHamming + 1
    require(nBands <= bits, "need at least one bit per band")
    val widths = (0 until nBands).map(p => bits / nBands + (if (p < bits % nBands) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    val bandStructs = (0 until nBands).map { p =>
      struct(lit(p).as("band"),
        shiftrightunsigned(col("simhash_int"), offsets(p))
          .bitwiseAND(lit((1L << widths(p)) - 1)).as("bval"))
    }
    val bands = sims
      .select(col("doc_id"), col("simhash_int"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("simhash_int"),
        col("bk.band").as("band"), col("bk.bval").as("bval"))
    // fingerprints ride along with the band rows (8 bytes) so the verify
    // needs no join back to `sims`
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash_int").as("__ia"), col("b.simhash_int").as("__ib"))
      .distinct()
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("__ia").bitwiseXOR(col("__ib"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }
}
