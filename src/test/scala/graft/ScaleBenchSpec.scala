package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** The scale block's replica constructions must preserve the 1x
  * workload structure exactly — otherwise the 1x/10x bench ratio
  * measures replica artifacts, not operator scaling. */
class ScaleBenchSpec extends SparkSpec {

  test("document replicas: pair structure is exactly N copies of 1x") {
    val times = 3
    val d1 = ScaleBench.documents(spark, sf, 1)
    val dN = ScaleBench.documents(spark, sf, times)
    assert(dN.count() === times * d1.count())
    val p1 = ScaleBench.minhashPairs(d1)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pN = ScaleBench.minhashPairs(dN)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // vowel permutation preserves intra-replica shingle equality: every
    // 1x pair (a,b) appears re-keyed in every replica, and nothing else
    val expected = for {
      (a, b) <- p1; i <- 0 until times
    } yield (a * times + i, b * times + i)
    assert(pN === expected)
  }

  test("prefixJaccard on replicas: pair structure is exactly N copies of 1x") {
    val times = 3
    val p1 = ScaleBench.prefixJaccard(ScaleBench.documents(spark, sf, 1))
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pN = ScaleBench.prefixJaccard(ScaleBench.documents(spark, sf, times))
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = for {
      (a, b) <- p1; i <- 0 until times
    } yield (a * times + i, b * times + i)
    // exact-recall operator: result volume must scale linearly with the
    // replication factor (the quadratic failure mode would surface as
    // cross-replica pairs that don't exist in the 1x structure)
    assert(pN === expected)
  }

  test("weightedJaccard on replicas: pair structure is exactly N copies of 1x") {
    val times = 3
    val p1 = ScaleBench.weightedJaccard(ScaleBench.documents(spark, sf, 1))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val pN = ScaleBench.weightedJaccard(ScaleBench.documents(spark, sf, times))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // the Caesar rotation is a bijection on TOKENS too, so each
    // replica carries the exact 1x weighted-pair structure (scores
    // included); all-digit tokens survive across replicas but cannot
    // carry a pair to the 0.6 threshold on their own — the law fails
    // loudly if they ever do
    val expected = for {
      (a, b, wj) <- p1; i <- 0 until times
    } yield (a * times + i, b * times + i, wj)
    assert(pN === expected)
  }

  test("kcore on replicas: core is exactly N re-keyed copies of 1x") {
    val times = 3
    val c1 = ScaleBench.kcore(ScaleBench.kcoreEdges(spark, sf, 1))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cN = ScaleBench.kcore(ScaleBench.kcoreEdges(spark, sf, times))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // disjoint re-keyed graph copies peel independently to the same
    // fixpoint with the same residual degrees
    val expected = for {
      (n, d) <- c1; i <- 0 until times
    } yield (n * times + i, d)
    assert(cN === expected)
  }

  test("bloomDecon on replicas: survivor counts are exactly N times 1x") {
    val times = 3
    val r1 = ScaleBench.bloomDecon(ScaleBench.documents(spark, sf, 1), 1)
      .collect()
    val rN = ScaleBench.bloomDecon(ScaleBench.documents(spark, sf, times), times)
      .collect()
    assert(r1.length === 1 && rN.length === 1)
    // the benchClass predicate recovers the original 1-in-10 split and
    // the Caesar rotation keeps replica shingle sets disjoint, so each
    // replica decontaminates exactly like 1x
    assert(rN.head.getLong(1) === times * r1.head.getLong(1))
    assert(rN.head.getLong(2) === times * r1.head.getLong(2))
  }

  test("embedding replicas: isometry preserves intra-replica cosines") {
    val times = 3
    val e1 = ScaleBench.embeddings(spark, sf, 1)
    val eN = ScaleBench.embeddings(spark, sf, times)
    assert(eN.count() === times * e1.count())
    // norms are preserved exactly by a permutation + sign-flip transform
    def norms(df: org.apache.spark.sql.DataFrame, times: Int) = df
      .select((col("vec_id") / times).cast("long").as("orig"),
        round(Similarity.norm(Similarity.asDouble(col("embedding"))), 4).as("n"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val n1 = norms(e1, 1)
    assert((0 until times).forall(_ => norms(eN, times) === n1))
    // the TRUE pair structure (exact cosine >= t) is exactly N re-keyed
    // copies of the 1x structure — this is what makes the 1x/Nx bench
    // ratio a measurement of operator scaling and nothing else
    def exact(df: org.apache.spark.sql.DataFrame) =
      Similarity.nearDupPairs(df, threshold = 0.4, maxId = Long.MaxValue)
        .select("vec_a", "vec_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val p1 = exact(e1)
    // cross-replica pairs above a LOW threshold like 0.4 legitimately
    // exist (different isometries of a clustered corpus still land
    // within 66 degrees by chance) — the invariant is that the
    // INTRA-replica structure is exactly N re-keyed copies of 1x
    val pNIntra = exact(eN).filter { case (a, b) => a % times == b % times }
    val expected = for {
      (a, b) <- p1; i <- 0 until times
    } yield (a * times + i, b * times + i)
    assert(pNIntra === expected)
    // the LSH path's per-replica yield doesn't collapse (bucketing is
    // not isometry-invariant, so exact set equality is not expected)
    val lsh1 = ScaleBench.srpPairs(e1).count()
    val lshN = ScaleBench.srpPairs(eN).count()
    assert(lshN >= (times * lsh1 * 0.6).toLong,
      s"per-replica LSH yield collapsed: 1x=$lsh1, ${times}x=$lshN")
  }

  test("autoSrpBits holds bucket occupancy as n grows") {
    assert(Similarity.autoSrpBits(2000) === 6)
    assert(Similarity.autoSrpBits(20000) === 10)
    assert(Similarity.autoSrpBits(20000000) === 20)
    assert(Similarity.autoSrpBits(10) === 4) // floor
  }

  test("autoNCells holds per-query scored-candidate volume ~flat as n grows") {
    // the q34 oracle corpus (2000 vectors) auto-picks its fixed 16 cells
    assert(Similarity.autoNCells(2000) === 16)
    assert(Similarity.autoNCells(20000) === 157)
    assert(Similarity.autoNCells(100) === 4) // floor
    // With FIXED cells, candidates per query = nProbe/nCells * n — a
    // constant fraction of the corpus. With auto cells the fraction
    // shrinks as n grows, pinning scored-candidate volume ~constant
    // (sampled centroids make cells uneven, so "~": bounded, not exact).
    def candPerQuery(times: Int): Double = {
      val nQ = 16
      val e = ScaleBench.embeddings(spark, sf, times).localCheckpoint(true)
      val c = e.select(col("vec_id"),
          Similarity.asDouble(col("embedding")).as("cv"))
        .localCheckpoint(true)
      val cells = Similarity.autoNCells(c.count(), targetCellSize = 16)
      val centroids = c.orderBy("vec_id").limit(cells)
        .select(col("vec_id").cast("int").as("cell"), col("cv").as("centroid"))
      val probes = Similarity.ivfProbes(
        e.orderBy("vec_id").limit(nQ), centroids, nProbe = 4)
      Similarity.ivfAssign(c, centroids)
        .join(probes.select("query_id", "cell"), Seq("cell"))
        .count().toDouble / nQ
    }
    val c1 = candPerQuery(1)
    val c10 = candPerQuery(10)
    assert(c10 <= c1 * 3.0,
      s"per-query scored-candidate volume grew with the corpus: x1=$c1 x10=$c10")
  }

  test("hierarchical IVF assignment: exact at nSuper=nCells, agrees at sqrt") {
    val e = ScaleBench.embeddings(spark, sf, 1)
    val c = e.select(col("vec_id"),
        Similarity.asDouble(col("embedding")).as("cv"))
      .localCheckpoint(true)
    val nCells = 32
    val centroids = c.orderBy("vec_id").limit(nCells)
      .select(col("vec_id").cast("int").as("cell"), col("cv").as("centroid"))
      .localCheckpoint(true)
    def cells(df: org.apache.spark.sql.DataFrame): Map[Long, Int] =
      df.select("vec_id", "cell").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val exact = cells(Similarity.ivfAssign(c, centroids))
    // with every centroid its own super-cell the router IS exact argmax
    val degenerate = cells(
      Similarity.ivfAssignHierarchical(c, centroids, nSuper = nCells))
    assert(degenerate === exact)
    // the sqrt router misfiles only boundary vectors — pin the rate
    val routed = cells(
      Similarity.ivfAssignHierarchical(c, centroids, nSuper = 6))
    assert(routed.keySet === exact.keySet) // exactly one cell per vector
    val agree = exact.count { case (id, cl) => routed(id) == cl }
      .toDouble / exact.size
    assert(agree >= 0.7, s"routed assignment agreement too low: $agree")
    // single-super routing (superProbes=1) is measurably worse — the
    // multi-assign default exists for a reason; this guards the dial
    val routed1 = cells(Similarity.ivfAssignHierarchical(
      c, centroids, nSuper = 6, superProbes = 1))
    val agree1 = exact.count { case (id, cl) => routed1(id) == cl }
      .toDouble / exact.size
    assert(agree >= agree1, s"multi-assign ($agree) beat by single ($agree1)")
  }

  test("shuffle-byte scale laws: per-lane x3/x1 write bytes stay linear, " +
    "and the bucketed PageRank layout shuffles less than the merge join") {
    // Wall-time scale laws need a quiet host; shuffle WRITE bytes are a
    // deterministic function of the plan + data, so each lane gets a
    // byte-ratio law: replicate x3 and require <= ~linear growth. The
    // absolute floor keeps sub-MB lanes (where one AQE broadcast/plan
    // flip moves more bytes than the data) out of false alarms while
    // still catching a quadratic lane (x3 quadratic = 9x bytes).
    def mb(df: => org.apache.spark.sql.DataFrame): Double =
      Metrics.measure(spark)(
        df.write.mode("overwrite").format("noop").save()
      ).shuffleWriteBytes / 1e6
    def docs(f: Int) = ScaleBench.documents(spark, sf, f)
    def ev(f: Int) = ScaleBench.events(spark, sf, f)
    val lanes: Seq[(String, Int => org.apache.spark.sql.DataFrame)] = Seq(
      "q22_minhash" -> (f => ScaleBench.minhashPairs(docs(f))),
      "q29_sessions" -> (f => ScaleBench.sessionStats(ev(f))),
      "q40_clusters" -> (f => ScaleBench.clusters(docs(f))),
      "q177_chain_cc" -> (f => ScaleBench.chainCc(docs(f))),
      "q78_line_dedup" -> (f => ScaleBench.lineDedup(docs(f))),
      "q99_ppjoin" -> (f => ScaleBench.prefixJaccard(docs(f))),
      "q162_substring" -> (f => ScaleBench.sharedSubstring(docs(f))),
      "q79_vocab" -> (f => ScaleBench.vocab(docs(f))),
      "q143_bpe" -> (f => ScaleBench.bpeMerges(docs(f))),
      "q148_bigram" -> (f => ScaleBench.bigramLm(docs(f))),
      "q91_global_rank" -> (f => ScaleBench.globalRank(ev(f))),
      "q155_budget" -> (f => ScaleBench.budgetCumsum(docs(f))),
      "q133_bloom" -> (f => ScaleBench.bloomDecon(docs(f), f)),
      "q185_skew_join" -> (f => ScaleBench.skewJoin(ev(f))),
      "q218_weighted_jaccard" -> (f => ScaleBench.weightedJaccard(docs(f))),
      "q223_kcore" -> (f => ScaleBench.kcore(ScaleBench.kcoreEdges(spark, sf, f))),
      "q146_pagerank" -> (f =>
        graft.operators.Graph.pageRankOn(ScaleBench.pageRankEdges(spark, sf, f))))
    for ((name, mk) <- lanes) {
      val m1 = mb(mk(1))
      val m3 = mb(mk(3))
      assert(m3 <= math.max(4.0 * m1, m1 + 2.0),
        s"$name shuffle bytes superlinear: x1=${m1}MB x3=${m3}MB")
    }
    // the q179 headline byte law: same recurrence, bucketed layout vs
    // the 100 TB-shaped merge join — the layout must remove most of
    // the per-round edge-exchange volume
    val edges = ScaleBench.pageRankEdges(spark, sf, 3)
    val mMerge = mb(graft.operators.Graph.pageRankOnMerge(edges))
    val fam = "layout_spec_bytelaw"
    val v = graft.operators.Graph.pageRankLayoutPublish(spark, edges, fam,
      buckets = 4)
    try {
      val mBucketed = mb(graft.operators.Graph.pageRankFromCatalog(spark, fam,
        version = v))
      assert(mBucketed < 0.6 * mMerge,
        s"bucketed=$mBucketed MB vs merge=$mMerge MB — layout saving gone")
    } finally graft.sources.IndexCatalog.dropFamily(spark, fam)
  }

  test("scale-block plans stay cartesian-free at 10x") {
    def noCartesian(df: org.apache.spark.sql.DataFrame, label: String): Unit = {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$label:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$label:\n$plan")
    }
    noCartesian(ScaleBench.minhashPairs(
      ScaleBench.documents(spark, sf, 10)), "minhash 10x")
    noCartesian(ScaleBench.srpPairs(
      ScaleBench.embeddings(spark, sf, 10)), "srp 10x")
    noCartesian(ScaleBench.sessionStats(
      ScaleBench.events(spark, sf, 10)), "sessions 10x")
    noCartesian(ScaleBench.weightedJaccard(
      ScaleBench.documents(spark, sf, 10)), "weighted jaccard 10x")
    noCartesian(ScaleBench.kcoreEdges(spark, sf, 10), "kcore edges 10x")
  }
}
