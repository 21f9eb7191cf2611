package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable
import scala.util.Try

/** One row of the bench's lane table.
  *  - `name` is the lane's BENCH_DETAIL key; a scale lane's key carries
  *    its factor, `x<N>.<name>`.
  *  - `group` is the block that runs it (the group names in [[Lanes]]).
  *  - `reps` maps the replica factor to the timed rep count.
  *  - `prep` runs off the clock before every rep. It builds, on first
  *    use, the inputs the body reads, and vetoes the rep by throwing.
  *  - `run` is the timed body: a frame the runner forces through the
  *    noop sink, or None when the body ran its own actions.
  *  - `keep` leaves the RDDs a rep pinned in place (a later lane reads
  *    them); `consecutive` runs all of a lane's reps back-to-back in its
  *    first round slot; `warm` puts the lane in the untimed warm pass.
  *  - `slack` widens the shuffle-byte scale law (bytes at xN within N x
  *    1.15 of x1) for a documented superlinear lane, with the reason. */
final case class Lane(name: String, group: String, reps: Int => Int,
                      run: Inputs => Option[DataFrame],
                      prep: Inputs => Any = (_: Inputs) => (),
                      keep: Boolean = false, consecutive: Boolean = false,
                      warm: Boolean = true,
                      slack: Option[(Double, String)] = None) {
  def scales: Boolean = group == Lanes.Scale

  /** The timed frame; an empty one when the body ran its own actions. */
  def frame(in: Inputs): DataFrame = run(in).getOrElse(in.spark.emptyDataFrame)
}

/** What the lanes of one replica factor read, each input built on first
  * use, so a run builds only what its selected lanes need. A failed
  * build is remembered and rethrown, never retried. Every RDD a build
  * pins is recorded in `standing`, which rep cleanup never drops, and
  * whatever a build leaves outside `root` registers its own release
  * for [[cleanup]]. `slice` is the warm pass's view: the same frames
  * cut to a few rows, over this instance's standing inputs. */
final class Inputs(val spark: SparkSession, val sfDir: String,
                   val times: Int, val root: String,
                   parent: Option[Inputs] = None) {
  // shared with the slice, so the full instance's cleanup covers both
  val standing: mutable.Set[Int] = parent.fold(mutable.Set[Int]())(_.standing)
  private val releases: mutable.ArrayBuffer[() => Unit] =
    parent.fold(mutable.ArrayBuffer[() => Unit]())(_.releases)

  private def once[A](build: => A): () => A = {
    lazy val built = Try {
      val before = Lanes.pinned(spark)
      try build finally standing ++= Lanes.pinned(spark) -- before
    }
    () => built.get
  }
  private def onCleanup(release: => Unit): Unit = releases += (() => release)
  // the full instance builds `own`; the slice derives from its parent
  private def cut[A](own: => A)(sliced: Inputs => A): A = parent.fold(own)(sliced)

  lazy val slice: Inputs = new Inputs(spark, sfDir, times, s"$root/warm", Some(this))

  lazy val docs: DataFrame =
    cut(ScaleBench.documents(spark, sfDir, times))(_.docs.limit(64))
  lazy val docsWithLang: DataFrame = cut(ScaleBench.documents(spark, sfDir,
    times, withLang = true))(_.docsWithLang.limit(64))
  lazy val emb: DataFrame =
    cut(ScaleBench.embeddings(spark, sfDir, times))(_.emb.limit(64))
  lazy val ev: DataFrame = cut(ScaleBench.events(spark, sfDir, times))(_.ev.limit(64))
  // hoisted so the warm slice compiles the code shape the timed reps run
  // (the signature width changes with the corpus size)
  val srpBits: () => Int =
    once(cut(operators.Similarity.autoSrpBits(emb.count()))(_.srpBits()))
  val prEdges: () => DataFrame = once(
    cut(ScaleBench.pageRankEdges(spark, sfDir, times))(_.prEdges().limit(256)))
  // a row-limit slice of a symmetric edge set is no longer symmetric and
  // its peel can outrun the round budget: the slice warms on the full set
  val kcEdges: () => DataFrame =
    once(cut(ScaleBench.kcoreEdges(spark, sfDir, times))(_.kcEdges()))
  val wjDocs: () => DataFrame = once(cut(ScaleBench.weightedSlice(docs, times)
    .localCheckpoint(true))(_.wjDocs().limit(64)))
  val ccLabels: () => DataFrame = once(ScaleBench.ccLabels(docs))
  val ccArrivals: () => DataFrame = once(cut(
    ScaleBench.ccArrivals(spark, sfDir, times))(_.ccArrivals().limit(64)))
  val streamPath: () => String = once(cut {
    ScaleBench.streamNearDupPrep(spark, sfDir, times, s"$root/stream")
    s"$root/stream"
  }(_.streamPath()))
  val inccPath: () => String = once(cut {
    ScaleBench.streamIncCcPrep(spark, sfDir, times, s"$root/incc")
    s"$root/incc"
  }(_.inccPath()))
  /** An index-catalog family for one durable lane at this factor,
    * shared with the slice: a killed bench JVM's leftovers are dropped
    * on first use, and this run's versions in cleanup. */
  private def family(kind: String): () => String = once {
    val f = s"${kind}_bench_x$times"
    sources.IndexCatalog.dropFamily(spark, f)
    onCleanup(sources.IndexCatalog.dropFamily(spark, f))
    f
  }
  val srpFamily: () => String = cut(family("srp"))(_.srpFamily)
  val ivfFamily: () => String = cut(family("ivf"))(_.ivfFamily)
  val prBuildFamily: () => String = cut(family("pr_build"))(_.prBuildFamily)
  val prLayoutFamily: () => String = cut(family("pr_layout"))(_.prLayoutFamily)
  // q146's standing layout; the slice's is its own family, so a
  // limited-edge layout is never served to the timed reps
  val prFamily: () => String = cut(family("pr"))(_ => family("pr_warm"))
  // the lineitem metadata digest the q146 default keys its layout on
  lazy val prFp: String = Tables.dirFingerprint(s"$sfDir/lineitem.parquet")
  /** q146's get-or-publish: builds the standing layout on first use
    * and returns the reused version after. */
  def prStanding(): Int = operators.Graph.pageRankLayoutGetOrPublish(
    spark, prEdges(), prFamily(), prFp)
  // q179's layout: 32 buckets, published once and pinned by every rep
  val prLayoutVersion: () => Int = once(operators.Graph.pageRankLayoutPublish(
    spark, prEdges(), prLayoutFamily(), buckets = 32))
  val layoutPath: String = s"$root/ivf_layout"
  // written by the q34_ivf_build lane, read by q34_ivf_probe
  var ivfIndex: Option[(DataFrame, DataFrame)] = None
  var nProbe: Int = -1
  // (microbatches, state rows, state bytes) of the last RocksDB-lane rep
  var rocksState: Option[(Long, Long, Long)] = None

  val servedVersion: () => Int = once {
    // stale leftovers of a killed bench JVM: rebuild fresh
    sources.IndexCatalog.dropFamily(spark, Lanes.ServedFamily)
    onCleanup(sources.IndexCatalog.dropFamily(spark, Lanes.ServedFamily))
    operators.Llm.minhashLshServedPrep(spark, sfDir, Lanes.ServedFamily)
  }
  /** The cached reference-sized CSV fixture: (largest file, all three). */
  val ingestFiles: () => (String, Seq[String]) =
    once(sources.IngestFixture.ensure(spark))
  val ingestWarehouse: String = s"$root/ingest_wh"

  /** Releases what the builds left outside `root`, then deletes `root`. */
  def cleanup(): Unit = {
    releases.reverseIterator.foreach(r => try r() catch { case _: Throwable => () })
    releases.clear()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }
}

/** The bench's lane table: every lane `graft.Bench` times and `graft.Probe`
  * can target, in run order within each group. */
object Lanes {
  val Headline = "headline"
  val Served = "q22_served"
  val CoreProbe = "q0_scaling_probe"
  val Ingest = "ingest"
  val Scale = "scale"

  // One per operator family: join+window agg, per-key agg, top-k,
  // count-distinct, regex scan, hash dedup, MinHash+LSH, ANN.
  val headline: Seq[String] = Seq(
    "q1_total_margin_2m", "q3_revenue_per_day", "q4_top10_products",
    "q5_tx_per_store", "q17_lang_id", "q20_exact_dedup",
    "q22_minhash_lsh", "q25_cosine_topk", "q29_sessionization")

  val ServedFamily = "lsh_q22_served_bench"

  def pinned(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  private def frame(f: Inputs => DataFrame): Inputs => Option[DataFrame] =
    in => Some(f(in))
  private def action(f: Inputs => Unit): Inputs => Option[DataFrame] =
    in => { f(in); None }

  private val three: Int => Int = _ => 3
  // Comparator lanes exist to prove the default wins: once at replicated
  // factors, min-of-3 at x1 for a stable denominator.
  private val comparator: Int => Int = t => if (t > 1) 1 else 3
  private val superlinear = 1.6

  private def scale(name: String, reps: Int => Int = three,
                    prep: Inputs => Any = (_: Inputs) => (),
                    consecutive: Boolean = false, warm: Boolean = true,
                    slack: Option[(Double, String)] = None)(
      f: Inputs => DataFrame): Lane =
    Lane(name, Scale, reps, frame(f), prep, consecutive = consecutive,
      warm = warm, slack = slack)

  // The streaming lanes replay the xN corpus from a file fixture written
  // off the clock; an untimed warm replay would cost a full run.
  private def stream(name: String, reps: Int => Int = three)(
      f: (Inputs, String) => DataFrame): Lane =
    scale(name, reps, _.streamPath(), warm = false)(in => f(in, in.streamPath()))

  private def ingest(name: String)(
      f: (Inputs, (String, Seq[String])) => Option[DataFrame]): Lane =
    Lane(name, Ingest, three, in => f(in, in.ingestFiles()), _.ingestFiles(),
      keep = true, consecutive = true, warm = false)

  private val tx = model.ReferenceSchemas.transactions

  // Only the scale lanes drop the RDDs their reps pin (`keep = false`):
  // that cleanup is the scale block's storage discipline across ~60 reps.
  val all: Seq[Lane] = headline.map(q =>
    Lane(q, Headline, _ => 5, frame(in => SparkEntry.queries(q)(in.spark, in.sfDir)),
      keep = true)) ++ Seq(
    // The headline q22 lane pays the full shingle-index build every rep;
    // a deployed pipeline publishes the index once (the prep) and serves
    // every dedup pass off the pinned version. Same operating point.
    Lane(Served, Served, _ => 5, frame(in => operators.Llm.minhashLshServed(
      in.spark, ServedFamily, in.servedVersion())), _.servedVersion(), keep = true),
    // Pure compute, no shuffle, constant work at every scale: a fixed
    // count of xxhash64 chains over spark.range, whose wall tracks the
    // session's cores. Reported beside the headline, never summed into it.
    // 128 M rows, 4x fewer than the 512 M through r18 (~23 s a rep on
    // 4 vCPUs); the range stays constant, not sized from the cores, so
    // walls compare across hosts (divide r18-era walls by 4).
    Lane(CoreProbe, CoreProbe, three, frame { in =>
      val chain = (1 to 16).foldLeft("id")((e, _) => s"xxhash64($e)")
      in.spark.range(0L, 128L * 1000 * 1000, 1L,
        in.spark.sparkContext.defaultParallelism).selectExpr(s"$chain AS h")
    }, keep = true),
    // Baseline-shaped ingest at the reference's row counts (BASELINE.md):
    // a typed parse of the largest file, then the full-warehouse lane's
    // stages — the raw parse of all three files, parse + repair + align +
    // union, and the whole lane with the partitioned write.
    ingest("ingest_load_largest")((in, f) => Some(sources.CsvSource.alignTo(
      sources.CsvSource.readRaw(in.spark, f._1), tx))),
    ingest("ingest_stage_raw_read")((in, f) => {
      f._2.foreach(p => noop(sources.CsvSource.readRaw(in.spark, p))); None }),
    ingest("ingest_stage_aligned")((in, f) =>
      Some(sources.CsvSource.readAligned(in.spark, f._2, tx))),
    ingest("ingest_full_warehouse")((in, f) => {
      sources.IngestFixture.fullIngest(in.spark, f._2, in.ingestWarehouse); None }),

    // ---- scale lanes over the replicated corpus, timed per factor ----
    scale("q22_minhash_xx")(in => ScaleBench.minhashPairs(in.docs)),
    scale("q24_srp_neardup", prep = _.srpBits())(in =>
      ScaleBench.srpPairsWithBits(in.emb, in.srpBits())),
    // the durable lanes publish a fresh index-catalog version per rep and
    // serve from it, beside their in-memory comparators
    scale("q24_srp_durable", prep = in => { in.srpBits(); in.srpFamily() }) { in =>
      val v = operators.Similarity.srpIndexPublish(in.emb, in.srpFamily(),
        bands = 12, bits = in.srpBits(), dim = 64)
      operators.Similarity.srpPairsFromCatalog(in.spark, in.srpFamily(),
        threshold = 0.4, version = v)
    },
    // the q34 oracle point (16 cells, 4 probes) for a 64-query batch,
    // reps back-to-back
    scale("q34_ivf_durable", consecutive = true, prep = _.ivfFamily()) { in =>
      val e = in.emb.localCheckpoint(true)
      val v = operators.Similarity.ivfIndexPublish(e, in.ivfFamily(), nCells = 16)
      operators.Similarity.ivfTopKFromCatalog(in.spark, in.ivfFamily(),
        e.orderBy("vec_id").limit(64), k = 5, nProbe = 4, version = v)
    },
    scale("q29_sessionization")(in => ScaleBench.sessionStats(in.ev)),
    scale("q236_interval_coverage")(in => ScaleBench.intervalCoverage(in.ev)),
    scale("q284_active_users", slack = Some((1.25, "user-day ROWS are exactly linear (ScaleVerify q284 law: 40083 -> 801660 at x20); the residual byte drift is the distinct leg's LZ4 ratio degrading as replicas interleave value runs (measured 22.0x total, 24.1x on the distinct alone)")))(in =>
      ScaleBench.activeUsers(in.ev)),
    scale("q40_dedup_clusters")(in => ScaleBench.clusters(in.docs)),
    // a FIXED arrival batch folded into the xN standing labeling: the
    // curve should be near-flat (cost tracks arrivals, not the corpus)
    scale("q140_incremental_cc", prep = in => { in.ccLabels(); in.ccArrivals() })(in =>
      operators.Dedup.incrementalComponents(in.ccLabels(), in.ccArrivals())),
    scale("q177_chain_cc", slack = Some((superlinear, "planted component diameter grows with the factor — more contraction rounds by construction")))(in =>
      ScaleBench.chainCc(in.docs)),
    scale("q99_prefix_jaccard", slack = Some((superlinear, "exact-join true-pair payload is honestly superlinear (27.5x at x20, r10); the q22 LSH lane is the unbounded-corpus path")))(in =>
      ScaleBench.prefixJaccard(in.docs)),
    scale("q78_line_dedup")(in => ScaleBench.lineDedup(in.docs)),
    scale("q162_shared_substring", slack = Some((superlinear, "window-key payload tracks gram-frequency growth (27.7x at x20, r10)")))(in =>
      ScaleBench.sharedSubstring(in.docs)),
    scale("q233_novelty")(in => operators.Patterns.noveltyPerDoc(in.docs)),
    scale("q79_vocab")(in => ScaleBench.vocab(in.docs)),
    scale("q143_bpe_merges")(in => ScaleBench.bpeMerges(in.docs)),
    scale("q148_bigram_lm")(in => ScaleBench.bigramLm(in.docs)),
    scale("q150_corpus_pipeline")(in => ScaleBench.corpusPipeline(in.docsWithLang)),
    scale("q91_global_rank")(in => ScaleBench.globalRank(in.ev)),
    // The split thresholds are lowered only inside this lane (local
    // partitions are MBs, the production trigger is 256 MB): the
    // mechanism under test is AQE's skew split, not the threshold.
    Lane("q185_skew_join", Scale, three, action { in =>
      val c = in.spark.conf
      val keys = Seq(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor")
      val olds = keys.map(k => k -> c.getOption(k))
      c.set(keys(0), "1MB"); c.set(keys(1), "512KB"); c.set(keys(2), "2")
      try noop(ScaleBench.skewJoin(in.ev))
      finally olds.foreach { case (k, v) => v.fold(c.unset(k))(c.set(k, _)) }
    }),
    // q146's default serves a standing bucketed layout, built in the prep;
    // the build's own cost is q146_layout_build (a fresh version per rep)
    scale("q146_pagerank", prep = _.prStanding(), slack = Some((superlinear, "standing-layout serve: O(V) rank exchanges only; headroom for replica-interleaving LZ4 drift")))(in =>
      operators.Graph.pageRankFromCatalog(in.spark, in.prFamily(),
        version = in.prStanding())),
    Lane("q146_layout_build", Scale, three, action(in =>
      operators.Graph.pageRankLayoutPublish(in.spark, in.prEdges(), in.prBuildFamily())),
      in => { in.prEdges(); in.prBuildFamily() }, slack = Some((superlinear, "one deterministic O(E) repartition exchange (outdeg is a window over the co-partitioned data — the join form AQE-flipped broadcast->SMJ at x20, a 139x plan-flip curve); headroom for replica-interleaving LZ4 drift"))),
    // the pre-round-13 default (AQE chooses the per-round join)
    scale("q146_pagerank_aqe", comparator, _.prEdges(), slack = Some((Double.PositiveInfinity, "AQE plan flip: broadcast rank side at x1, SMJ at xN — x1 bytes are not comparable; q179/q146_merge carry the pagerank byte law")))(in =>
      operators.Graph.pageRankOn(in.prEdges())),
    // the unbucketed plan at 100 TB: per-round join pinned to sort-merge
    scale("q146_pagerank_merge", comparator, _.prEdges(), slack = Some((superlinear, "deliberately pessimal sort-merge comparator arm")))(in =>
      operators.Graph.pageRankOnMerge(in.prEdges())),
    // times only the read-in-place rounds over the layout published in the
    // prep; the rounds never exchange the O(E) edge table
    scale("q179_pagerank_bucketed", prep = _.prLayoutVersion(), warm = false)(in =>
      operators.Graph.pageRankFromCatalog(in.spark, in.prLayoutFamily(),
        version = in.prLayoutVersion())),
    scale("q155_budget_cumsum")(in => ScaleBench.budgetCumsum(in.docs)),
    scale("q133_bloom_decon")(in => ScaleBench.bloomDecon(in.docs, in.times)),
    // q61's stateful candidate pipeline in `times` fixed-size microbatches,
    // its state-store count auto-sized from the state law
    stream("q61_stream_neardup")((in, p) =>
      ScaleBench.streamNearDup(in.spark, p, in.times)),
    // state stores = session shuffle partitions (the pre-auto default)
    stream("q61_stream_session", comparator)((in, p) =>
      ScaleBench.streamNearDup(in.spark, p, in.times, statePartitions = 0)),
    // batch COUNT pinned at 2: the delta to q61_stream_neardup is the
    // measured per-microbatch cost
    stream("q61_stream_bulk")((in, p) =>
      ScaleBench.streamNearDup(in.spark, p, in.times, filesPerTrigger = in.times)),
    // bounded state: each LSH bucket keeps its 64 most recent doc ids
    stream("q61_stream_bounded")((in, p) =>
      ScaleBench.streamNearDup(in.spark, p, in.times, maxBucketHistory = 64)),
    // the hand-pinned 8-store operating point the auto default matches
    stream("q61_stream_tuned", comparator)((in, p) =>
      ScaleBench.streamNearDup(in.spark, p, in.times, statePartitions = 8)),
    // the same pipeline under the RocksDB state store; the last rep's
    // state rows and bytes go to BENCH_DETAIL's rocksdb_state
    Lane("q61_stream_rocksdb", Scale, three, action { in =>
      streaming.StreamOps.withStateStore(in.spark,
          streaming.StreamOps.RocksDbProvider) { s2 =>
        noop(ScaleBench.streamNearDup(s2, in.streamPath(), in.times))
      }
      streaming.StreamOps.lastStateProgress.maxByOption(_.batchId).foreach(p =>
        in.rocksState = Some((p.batchId + 1, p.numRowsTotal, p.memoryUsedBytes)))
    }, _.streamPath(), warm = false),
    // q141's whole continuous-dedup machine over the 1/5 slice in ~4
    // fixed microbatches: near-flat wall, linear bytes
    scale("q141_stream_incremental_cc", prep = _.inccPath(), warm = false)(in =>
      ScaleBench.streamIncrementalCc(in.spark, in.sfDir, in.inccPath(), in.times)),
    // weighted-token Jaccard on the fixed 1/5 slice (the full-corpus join
    // is a 30 s+ x1 entry; the slice keeps the x1/xN curve)
    scale("q218_weighted_jaccard", prep = _.wjDocs())(in =>
      ScaleBench.weightedJaccard(in.wjDocs())),
    // k-core peel over N disjoint co-purchase graphs: flat round count
    scale("q223_kcore", prep = _.kcEdges())(in => ScaleBench.kcore(in.kcEdges())),
    scale("q34_ivf_topk", slack = Some((superlinear, "same autoNCells growth as the build lane")))(in =>
      ScaleBench.ivfTopK(in.emb)),
    // The 100 TB design: build the cell-partitioned layout, then probe it.
    // The probe's prep derives nProbe from the built centroids (an action
    // that is not probe latency), re-reads the layout into the page cache,
    // and vetoes the rep when the build failed.
    Lane("q34_ivf_build", Scale, three, action(in =>
      in.ivfIndex = Some(ScaleBench.ivfBuildLayout(in.emb, in.layoutPath))),
      keep = true, slack = Some((superlinear, "autoNCells grows with the corpus, so assignment payload is rows x a growing cell table"))),
    scale("q34_ivf_probe", consecutive = true, prep = { in =>
      val (centroids, _) = in.ivfIndex.getOrElse(
        throw new IllegalStateException("skipped: q34_ivf_build failed"))
      if (in.nProbe < 0)
        in.nProbe = operators.Similarity.autoNProbe(centroids.count().toInt)
      ScaleBench.preTouchDir(in.layoutPath)
    }) { in =>
      val (centroids, queries) = in.ivfIndex.get
      ScaleBench.ivfProbeLayout(in.spark, in.layoutPath, centroids, queries, in.nProbe)
    })

  def group(g: String): Seq[Lane] = all.filter(_.group == g)

  /** A lane by name: among the scale lanes when `scaled` (their keys carry
    * the factor, so a scale lane may share a headline query's name), else
    * among the rest. */
  def named(name: String, scaled: Boolean): Option[Lane] =
    all.find(l => l.name == name && l.scales == scaled)
}
