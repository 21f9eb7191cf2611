package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable sampling for training-data pipelines.
  *
  * `sample()`/TABLESAMPLE are seed-dependent and partitioner-dependent —
  * useless when a 100 TB pipeline must be re-runnable bit-for-bit and
  * when two engines must agree on the sample. Hash-threshold sampling
  * fixes both: a row is kept iff the first 8 hex chars of md5(key) —
  * a uniform 32-bit integer — fall under fraction * 2^32. The same rule
  * is one expression in any md5-capable engine, the decision is a pure
  * function of the KEY (stable under repartitioning, joins, reruns),
  * and sampling by a foreign key keeps entity groups intact
  * (all-or-nothing per order/user/document).
  */
object Sampling {

  /** Keep-predicate: md5-hash of `key` under `fraction` of 2^32. */
  def hashKeep(key: Column, fraction: Double): Column = {
    require(fraction >= 0 && fraction <= 1, "fraction in [0,1]")
    graft.plans.GraftFunctions.hex_window(md5(key.cast("string").cast("binary")), 0, 8) <
      lit((fraction * 4294967296.0).toLong)
  }

  /** Deterministic sample of `df` by hashing `keyCol`. Rows sharing a
    * key are kept or dropped together. */
  def deterministicSample(df: DataFrame, keyCol: String, fraction: Double): DataFrame = {
    df.filter(hashKeep(col(keyCol), fraction))
  }

  /** Deterministic weighted-sampling key (Efraimidis-Spirakis A-ES,
    * public literature): sampling weight w maps to key u^(1/w); the
    * top-k keys are a weighted random sample without replacement.
    * Engine-reproducible by construction, which normally dies on
    * floating-point `pow` — avoided here by restricting weights to
    * {1, 2, 4}: u is a DYADIC uniform in (0,1) ((2*h32+1)/2^33, exactly
    * representable), and u^(1/2) / u^(1/4) are sqrt chains, which IEEE
    * 754 requires to be CORRECTLY ROUNDED — so every engine computes
    * bit-identical keys. Weights outside {2, 4} sample at weight 1.
    * Top-k by this key is a TakeOrderedAndProject — distributed
    * per-partition top-k, no global sort materializes. */
  def weightedSampleKey(key: Column, weight: Column): Column = {
    val h = graft.plans.GraftFunctions.hex_window(
      md5(key.cast("string").cast("binary")), 0, 8)
    val u = (h * 2 + 1).cast("double") / lit(8589934592.0) // / 2^33
    when(weight === 4, sqrt(sqrt(u)))
      .when(weight === 2, sqrt(u))
      .otherwise(u)
  }

  /** Deterministic train/val/test split: the md5-uniform of the key
    * lands each entity in exactly one split, with the SAME assignment
    * on every engine, rerun, and partitioning. Thresholds are
    * cumulative fractions of 2^32 on the same 32-bit hash
    * [[hashKeep]] uses, so split("train" 0.8) ⊇ a 0.8
    * deterministicSample of the same key — sampling and splitting
    * compose. */
  def hashSplit(key: Column, trainFrac: Double, valFrac: Double): Column = {
    require(trainFrac >= 0 && valFrac >= 0 && trainFrac + valFrac <= 1,
      "fractions must be non-negative and sum to at most 1")
    val h = graft.plans.GraftFunctions.hex_window(
      md5(key.cast("string").cast("binary")), 0, 8)
    when(h < lit((trainFrac * 4294967296.0).toLong), "train")
      .when(h < lit(((trainFrac + valFrac) * 4294967296.0).toLong), "val")
      .otherwise("test")
  }

  /** Corpus mixture sampling (domain mixing): each group keeps its own
    * deterministic fraction of rows — the "40% web, 30% code, 5%
    * wiki-dialect" assembly step of training-corpus construction,
    * expressed as per-group [[hashKeep]] thresholds. One codegen'd
    * when-chain over the group column, zero shuffles; groups absent
    * from `fractions` are dropped (an unconfigured source must never
    * leak into the mix silently). Same md5-threshold rule as
    * [[deterministicSample]], so mixtures compose with global sampling
    * and [[hashSplit]] on the same key. */
  def mixtureSample(df: DataFrame, groupCol: String, keyCol: String,
                    fractions: Map[String, Double]): DataFrame = {
    require(fractions.nonEmpty, "at least one group fraction")
    val keep = fractions.foldLeft(lit(false)) { case (acc, (g, f)) =>
      when(col(groupCol) === lit(g), hashKeep(col(keyCol), f)).otherwise(acc)
    }
    df.filter(keep)
  }

  /** Greedy-by-order sequence packing: assign documents to fixed
    * token-budget training packs. Docs are taken in `orderCol` order
    * (deterministic!); a doc goes to pack floor(previous cumulative
    * tokens / budget) — the streaming-friendly packing rule where a
    * pack may overflow by at most one document (real packers then
    * split the straddler; chunking is [[graft.operators.Llm]]'s q43).
    * The assignment is a pure function of the (order, token count)
    * pairs, so any engine derives the identical packing. NOTE the
    * global-order window serializes into one partition — packing by a
    * total order is inherently sequential; at 100 TB use
    * [[packSequencesSharded]], which runs this exact rule per shard in
    * parallel. Returns the input plus (n_tokens, pack_id,
    * pack_offset). */
  def packSequences(df: DataFrame, orderCol: String, tokensCol: Column,
                    budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val w = org.apache.spark.sql.expressions.Window.orderBy(orderCol)
    df.withColumn("n_tokens", tokensCol.cast("long"))
      .withColumn("__cum",
        coalesce(sum(col("n_tokens"))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      // integral `div`, NOT `/`: Column `/` on longs is IEEE double
      // division, which truncates wrongly once cumulative tokens pass
      // 2^53 — the exactness bug Events.floorDiv documents. __cum is
      // non-negative so plain div IS the floor.
      .withColumn("pack_id", call_function("div", col("__cum"), lit(budget)))
      .withColumn("pack_offset", col("__cum") % budget)
      .drop("__cum")
  }

  /** [[packSequences]] per shard — the form that actually runs at
    * 100 TB: the global-order pack rule is inherently sequential, so
    * production packing shards first (any deterministic shard key) and
    * packs each shard independently in parallel; pack ids are
    * (shard, local pack) pairs. One shuffle on the shard column; each
    * shard's window sorts only its own rows. */
  def packSequencesSharded(df: DataFrame, shardCol: String, orderCol: String,
                           tokensCol: Column, budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(shardCol).orderBy(orderCol)
    df.withColumn("n_tokens", tokensCol.cast("long"))
      .withColumn("__cum",
        coalesce(sum(col("n_tokens"))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("pack_id", call_function("div", col("__cum"), lit(budget)))
      .withColumn("pack_offset", col("__cum") % budget)
      .drop("__cum")
  }

  private val Window = org.apache.spark.sql.expressions.Window

  /** Exactly-N-per-group deterministic sample: rank rows inside each
    * group by their key's md5 value (tiebroken by the key itself) and
    * keep the first `n`. The "give me 1000 documents per language,
    * reproducibly" primitive — stable under reruns, engines, and
    * repartitioning, unlike rand()-ordered LIMIT. One shuffle on the
    * group column; at extreme group sizes the hash-threshold form
    * (deterministicSample) pre-thins before the window sort. */
  def stratifiedSampleN(df: DataFrame, groupCol: String, keyCol: String,
                        n: Int): DataFrame = {
    val h = graft.plans.GraftFunctions.hex_window(
      md5(col(keyCol).cast("string").cast("binary")), 0, 8)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(h, col(keyCol))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= n)
      .drop("__rk")
  }
}
