package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan audits for the scale claims: the bucketed similarity /
  * dedup operators must never fall back to a cartesian join, and the
  * retail window predicates must reach the parquet scan. A plan
  * regression here is a 100 TB outage that small-scale correctness
  * tests would never catch. */
class PlanAuditSpec extends SparkSpec {

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def assertNoCartesian(df: DataFrame, label: String): Unit = {
    val plan = physical(df)
    assert(!plan.contains("CartesianProduct"), s"$label has a cartesian:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"$label has a nested-loop join:\n$plan")
    // library operators return UNSORTED results: a trailing global sort
    // would be a range-partitioning shuffle the caller never asked for
    // (the oracle wrappers add their own ORDER BY)
    assert(!plan.contains("rangepartitioning"),
      s"$label has a global-sort range shuffle:\n$plan")
  }

  test("minhashLshPairs plan: equality joins only") {
    assertNoCartesian(
      Dedup.minhashLshPairs(Tables.documents(spark, sf), "doc_id", "text",
        3, 12, 4, 0.5),
      "minhashLshPairs")
  }

  test("simhashNearPairs plan: bit-band equality joins only") {
    val sims = Dedup.simhash(
      Tables.documents(spark, sf).filter(col("doc_id") < 100), "doc_id", "text")
    assertNoCartesian(Dedup.simhashNearPairs(sims, maxHamming = 2),
      "simhashNearPairs")
  }

  test("srpNearDupPairs plan: SRP band equality joins only") {
    assertNoCartesian(
      Similarity.srpNearDupPairs(Tables.embeddings(spark, sf), threshold = 0.4),
      "srpNearDupPairs")
  }

  test("lshTopK plan: bucket equality join only") {
    val emb = Tables.embeddings(spark, sf)
    assertNoCartesian(
      Similarity.lshTopK(emb.filter(col("vec_id") < 3), emb, 5, bits = 8),
      "lshTopK")
  }

  test("fuzzyKeyPairs plan: pigeonhole segment equality join only") {
    assertNoCartesian(
      Dedup.fuzzyKeyPairs(Tables.customer(spark, sf), "c_custkey", "c_name",
        width = 18, maxDist = 2),
      "fuzzyKeyPairs")
  }

  test("capped jaccardPairs plan: no cartesian, hot shingles broadcast-anti") {
    val df = Dedup.jaccardPairs(Tables.documents(spark, sf), "doc_id", "text",
      n = 3, threshold = 0.5, maxPostings = 20)
    assertNoCartesian(df, "jaccardPairs(capped)")
    assert(physical(df).contains("LeftAnti"), "stop-shingle anti-join missing")
  }

  test("intervalOverlapJoin plan: bucket equality join, no nested loop") {
    import graft.operators.Events
    val ev = Tables.events(spark, sf).filter(col("user_id") < 40)
      .withColumn("ts_us", unix_micros(col("ts")))
    val sess = Events.sessionize(ev, 30L * 60 * 1000 * 1000, "ts_us")
      .groupBy("user_id", "session_seq")
      .agg(min("ts_us").as("s"), max("ts_us").as("e"))
    assertNoCartesian(
      Events.intervalOverlapJoin(sess, sess, "s", "e", 3600L * 1000000L,
        col("l_user_id") < col("r_user_id")),
      "intervalOverlapJoin")
  }

  test("round-5 operators stay cartesian-free") {
    val docs = Tables.documents(spark, sf)
    assertNoCartesian(
      Dedup.contaminationCheck(docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text"),
      "contaminationCheck")
    assertNoCartesian(
      Dedup.minhashLshPairsAgainst(docs.filter(col("doc_id") >= 250),
        docs.filter(col("doc_id") < 250), "doc_id", "text",
        3, 12, 4, 0.5),
      "minhashLshPairsAgainst")
    assertNoCartesian(
      graft.operators.TextQuality.dropRepeatedLines(
        docs.select(col("doc_id").as("page_id"), col("text")),
        "page_id", "text"),
      "dropRepeatedLines")
    assertNoCartesian(
      graft.operators.Llm.surprisalScores(docs, "doc_id", "text"),
      "surprisalScores")
  }

  test("round-5 batch-2 operators stay cartesian-free") {
    assertNoCartesian(
      Dedup.jaccardPrefixPairs(
        Tables.documents(spark, sf).filter(col("doc_id") < 200),
        "doc_id", "text", 3, 0.2),
      "jaccardPrefixPairs")
    // triangleCount/edit1NamePairs end in bounded summaries/sorted
    // oracle output, so only the cartesian checks apply (the
    // library-level no-global-sort rule is for unsorted operators)
    def noCartesianOnly(df: DataFrame, label: String): Unit = {
      val plan = physical(df)
      assert(!plan.contains("CartesianProduct"), s"$label cartesian:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$label BNLJ:\n$plan")
    }
    // triangleCount's only nested-loop join is the deliberate 1-row x
    // 1-row summary attachment at the very end — assert the heavy path
    // (edges/wedges/closure) never goes cartesian
    assert(!physical(graft.operators.Graph.triangleCount(spark, sf))
      .contains("CartesianProduct"), "triangleCount cartesian")
    noCartesianOnly(graft.operators.Temporal.edit1NamePairs(spark, sf),
      "edit1NamePairs")
    noCartesianOnly(graft.operators.Llm.semanticDedup(spark, sf),
      "semanticDedup")
  }

  test("round-6 session-2 operators stay cartesian-free") {
    def noCartesianOnly(df: DataFrame, label: String): Unit = {
      val plan = physical(df)
      assert(!plan.contains("CartesianProduct"), s"$label cartesian:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$label BNLJ:\n$plan")
    }
    // oracle wrappers sort their (bounded) outputs, so cartesian
    // checks only — the heavy paths inside are all equality joins
    noCartesianOnly(graft.operators.Graph.bfsFromSeeds(spark, sf),
      "bfsFromSeeds")
    noCartesianOnly(graft.operators.Graph.onionLayers(spark, sf),
      "onionLayers")
    noCartesianOnly(graft.operators.Integrity.bloomDecontaminate(spark, sf),
      "bloomDecontaminate")
    noCartesianOnly(graft.operators.Integrity.tableFingerprint(spark, sf),
      "tableFingerprint")
    noCartesianOnly(graft.operators.Llm.clusterSplit(spark, sf),
      "clusterSplit")
  }

  test("round-7 operators stay cartesian-free") {
    def noCartesianOnly(df: DataFrame, label: String): Unit = {
      val plan = physical(df)
      assert(!plan.contains("CartesianProduct"), s"$label cartesian:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$label BNLJ:\n$plan")
    }
    // q146: five join+agg rounds — every round must stay a keyed join
    noCartesianOnly(graft.operators.Graph.pageRank(spark, sf), "pageRank")
    // q145: the trained-vocab dim join must be keyed (broadcast or
    // hash), never a nested loop
    noCartesianOnly(graft.operators.Llm.bpeTokenCountQ(spark, sf),
      "bpeTokenCount")
  }

  test("round-8 operators stay cartesian-free") {
    def noCartesianOnly(df: DataFrame, label: String): Unit = {
      val plan = physical(df)
      assert(!plan.contains("CartesianProduct"), s"$label cartesian:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$label BNLJ:\n$plan")
    }
    val C = graft.operators.Curation
    noCartesianOnly(C.sharedSubstring(spark, sf), "sharedSubstring")
    noCartesianOnly(C.sharedSubstringFastOn(
      Tables.documents(spark, sf).select("doc_id", "text")),
      "sharedSubstringFast")
    noCartesianOnly(C.ngramOverlap(spark, sf), "ngramOverlap")
    noCartesianOnly(graft.operators.Llm.lshHistogram(spark, sf), "lshHistogram")
    // q164/q165/q167: the rank-based shapes must never fall back to a
    // GLOBAL window (row_number over the whole frame in one task).
    // Every Window node must be partitioned — by the range-partition
    // pid (q164/q165 via Ranking) or by source (q167). q165's final
    // scalar aggregate legitimately ends in an Exchange SinglePartition
    // over ~n/32 already-reduced rows, so the blanket no-single-
    // partition assertion (the vocab-plan test) doesn't apply here.
    Seq(
      "exactQuantiles" -> C.exactQuantiles(spark, sf),
      "paddingWaste" -> C.paddingWaste(spark, sf),
      "sourceLengthProfile" -> C.sourceLengthProfile(spark, sf)
    ).foreach { case (label, df) =>
      val plan = physical(df)
      assert(!plan.contains("CartesianProduct"), s"$label cartesian:\n$plan")
      val globalWindows = plan.linesIterator
        .filter(_.contains("windowspecdefinition"))
        .filterNot(l => l.contains("__pid") || l.contains("source#"))
        .toSeq
      assert(globalWindows.isEmpty,
        s"$label has an unpartitioned window:\n${globalWindows.mkString("\n")}")
    }
  }

  test("collocations plan: zero-shuffle bigram extraction, one agg exchange") {
    // q131's scale claim: nothing between the corpus scan and the
    // bigram partial aggregate shuffles, and the 1-row total attaches
    // as a broadcast (the only nested-loop is that bounded crossJoin)
    val df = graft.operators.Lexical.collocationsFrom(
      Tables.documents(spark, sf), "text", minCount = 5L, k = 50)
    val plan = physical(df)
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"vocab joins must broadcast at dim scale:\n$plan")
    // the bigram side reaches its partial aggregate without a shuffle:
    // no Exchange may appear below the first HashAggregate of the
    // bigram branch — equivalently, the explode feeds an aggregate
    // with partial mode in the same codegen'd stage
    assert(plan.contains("Generate explode"), s"no explode stage:\n$plan")
  }

  test("bloom probe plan: might_contain runs in-scan before any join") {
    val docs = Tables.documents(spark, sf)
    val benchSet = Dedup.shingleTable(
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text", 5)
      .select("h64").distinct().localCheckpoint(true)
    // small bloom: the literal's hex rendering lands in the plan
    // string, and a failure message carrying 2 MB of hex helps no one
    val bf = lit(benchSet
      .agg(graft.plans.GraftFunctions.bloom_agg(col("h64"), 1L << 10, 1L << 13))
      .head().getAs[Array[Byte]](0))
    val flagged = Dedup.shingleTable(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text", 5)
      .filter(graft.plans.GraftFunctions.might_contain(bf, col("h64")))
      .join(benchSet, Seq("h64"), "left_semi")
    val plan = physical(flagged)
    // the probe is a Filter, and it sits BELOW the semi join (the
    // whole point: the exchange moves only bloom-flagged rows)
    val probeAt = plan.indexOf("might_contain")
    val joinAt = plan.indexOf("LeftSemi")
    assert(probeAt >= 0, "no bloom probe in plan")
    assert(joinAt >= 0, "no semi join in plan")
    assert(probeAt > joinAt,
      "bloom probe not below the semi join (plan prints top-down)")
  }

  test("bucketed co-located join: SortMergeJoin with no shuffle exchange") {
    // the q117 layout promise: both sides bucketed on the join key with
    // the same bucket count -> the scan output IS the join partitioning,
    // so the fact-fact join runs with zero exchanges. Broadcast is
    // disabled for the assertion window (at toy scale the optimizer
    // would broadcast the small side, which demonstrates nothing).
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val joined = graft.sources.Bucketed.colocatedJoinFrame(spark, sf)
      joined.write.mode("overwrite").format("noop").save() // final AQE plan
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"not a merge join:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      // and the result is the same join the shuffling plan computes
      val n = joined.count()
      val expected = Tables.lineitem(spark, sf).join(
        Tables.orders(spark, sf),
        col("l_orderkey") === col("o_orderkey")).count()
      assert(n === expected)
    } finally spark.conf.set(key, prev)
  }

  test("bucketed PageRank round: no exchange touches the edge table") {
    // the q179 layout promise, in the large-V regime (broadcast off, so
    // the planner can't hide the question): a round is one join + one
    // aggregate; the edge side must read the bucket layout IN PLACE, so
    // the round plans exactly TWO hashpartitioning exchanges — the O(V)
    // rank-side bucket alignment and the O(V) contribution aggregate —
    // where the unbucketed same-shape round plans THREE (it also
    // re-exchanges the O(E) edge table)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    val fam = "layout_spec_audit"
    val v = graft.operators.Graph.pageRankLayoutPublish(spark,
      graft.operators.Graph.pageRankEdges(spark, sf), fam, buckets = 8)
    try {
      val round = graft.operators.Graph.pageRankRoundFrame(
        graft.sources.IndexCatalog.readPart(spark, fam, v, "edges"))
      round.write.mode("overwrite").format("noop").save()
      val plan = round.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"not a merge join:\n$plan")
      assert(plan.contains("SelectedBucketsCount"),
        s"edge scan is not bucket-aware:\n$plan")
      val nEx = "Exchange hashpartitioning".r.findAllMatchIn(plan).size
      assert(nEx == 2,
        s"expected 2 exchanges (rank alignment + aggregate), got $nEx:\n$plan")
    } finally {
      spark.conf.set(key, prev)
      graft.sources.IndexCatalog.dropFamily(spark, fam)
    }
  }

  test("vocab plan: ranking has no single-partition exchange") {
    // q79's token_id must come from the distributed ranker — a
    // row_number() OVER (ORDER BY ...) would show up here as
    // `Exchange SinglePartition` feeding a Window, the whole vocab
    // through one task
    val plan = physical(
      graft.operators.Llm.vocab(Tables.documents(spark, sf), "text", 5L))
    assert(!plan.contains("Exchange SinglePartition"),
      s"vocab ranking funnels through one partition:\n$plan")
  }

  test("topPartsPerFlag plan: rank filter lowers to WindowGroupLimit") {
    val plan = physical(graft.operators.Temporal.topPartsPerFlag(spark, sf))
    assert(plan.contains("WindowGroupLimit"),
      s"rank pushdown missing:\n$plan")
  }

  test("featureHash plan: one aggregate exchange, nothing else") {
    // q197 is a single map-side-combinable (doc, bucket) sum over the
    // token explode: exactly one hashpartitioning exchange (plus the
    // caller's presentation sort) and no join of any kind
    val plan = physical(graft.operators.Retrieval.featureHash(spark, sf))
    assert(!plan.contains("Join"), s"featureHash must not join:\n$plan")
    val nEx = "Exchange hashpartitioning".r.findAllMatchIn(plan).size
    assert(nEx == 1,
      s"expected exactly 1 aggregate exchange, got $nEx:\n$plan")
  }

  test("paragraphDedup plan: no cartesian, line key join only") {
    val plan = physical(
      graft.operators.Curation.paragraphDedup(spark, sf))
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"nested loop:\n$plan")
  }

  test("twoHopReach plan: equality joins only") {
    val plan = physical(graft.operators.Graph.twoHopReach(spark, sf))
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"nested loop:\n$plan")
  }

  test("sourceDrift plan: word-key equality join, 1-row dims only") {
    // the corpus word table must NOT be broadcast (vocab-scale at
    // 100 TB); the only nested-loop shapes allowed are the documented
    // 1-row totals dims
    val plan = physical(graft.operators.Curation.sourceDrift(spark, sf))
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
  }

  test("retail window predicate is pushed to the parquet scan") {
    val plan = physical(
      graft.operators.Retail.totalMarginLast2Months(spark, sf))
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate")
      || plan.contains("PushedFilters: [GreaterThanOrEqual(l_shipdate"),
      s"no pushed shipdate filter:\n$plan")
  }

  test("round-11 batch-2 operators stay cartesian-free where they must") {
    def noCartesian(df: DataFrame, label: String): Unit = {
      val plan = physical(df)
      assert(!plan.contains("CartesianProduct"), s"$label cartesian:\n$plan")
    }
    def keyedOnly(df: DataFrame, label: String): Unit = {
      val plan = physical(df)
      assert(!plan.contains("CartesianProduct"), s"$label cartesian:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$label BNLJ:\n$plan")
    }
    // corpus/fact-scale paths: every join must be keyed (hash or
    // broadcast-hash), never a nested loop
    keyedOnly(graft.operators.Multimodal.audioFingerprint(
      graft.operators.Multimodal.plantedMediaAssets(
        Tables.documents(spark, sf).filter(col("doc_id") < 100), "doc_id")),
      "audioFingerprint")
    keyedOnly(graft.operators.Mining.rfmSegments(spark, sf), "rfmSegments")
    keyedOnly(graft.operators.Mining.paretoFront(spark, sf), "paretoFront")
    keyedOnly(graft.operators.Temporal.cohortLtv(spark, sf), "cohortLtv")
    keyedOnly(graft.operators.Robust.weightedMedian(spark, sf),
      "weightedMedian")
    keyedOnly(graft.operators.TextQuality.readability(spark, sf),
      "readability")
    keyedOnly(graft.operators.Temporal.lDiversityAudit(spark, sf),
      "lDiversity")
    // broadcast-tiny-dim shapes (7-row lag dim, 10-cell bin grid,
    // |days|-frame pair joins): BNLJ against a broadcast few-row build
    // side is the documented design — but a CartesianProduct is not
    noCartesian(graft.operators.Temporal.acfPanel(spark, sf), "acfPanel")
    noCartesian(graft.operators.Curation.psiDrift(spark, sf), "psiDrift")
    noCartesian(graft.operators.Robust.kendallDaily(spark, sf), "kendall")
    noCartesian(graft.operators.Temporal.seasonalDecompose(spark, sf),
      "seasonalDecompose")
  }

  test("round-11 batch-3 operators (q280-q300) stay cartesian-free where they must") {
    def noCartesian(df: DataFrame, label: String): Unit = {
      val plan = physical(df)
      assert(!plan.contains("CartesianProduct"), s"$label cartesian:\n$plan")
    }
    def keyedOnly(df: DataFrame, label: String): Unit = {
      val plan = physical(df)
      assert(!plan.contains("CartesianProduct"), s"$label cartesian:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$label BNLJ:\n$plan")
    }
    // fact/corpus-scale paths: keyed joins only
    keyedOnly(graft.operators.Graph.butterflyCount(spark, sf), "butterflies")
    keyedOnly(graft.operators.Graph.degreeAssortativity(spark, sf),
      "assortativity")
    keyedOnly(graft.operators.Quality.odDiscovery(spark, sf), "odDiscovery")
    keyedOnly(graft.operators.Quality.fdG3Error(spark, sf), "fdG3")
    keyedOnly(graft.operators.Temporal.twapByType(spark, sf), "twap")
    keyedOnly(graft.operators.Temporal.activeUsers(spark, sf), "activeUsers")
    keyedOnly(graft.operators.Temporal.typeCooccurrence(spark, sf),
      "cooccurrence")
    keyedOnly(graft.operators.Temporal.transitionReciprocity(spark, sf),
      "reciprocity")
    keyedOnly(graft.operators.Temporal.sortedNeighborPairs(spark, sf),
      "sortedNeighbors")
    keyedOnly(graft.operators.Temporal.entryPaths(spark, sf), "entryPaths")
    keyedOnly(graft.operators.Temporal.growthAccounting(spark, sf), "growth")
    keyedOnly(graft.operators.Llm.zipfAudit(spark, sf), "zipf")
    keyedOnly(graft.operators.Llm.thresholdCurve(spark, sf), "curve")
    keyedOnly(graft.operators.Llm.embeddingNormAudit(spark, sf), "norms")
    keyedOnly(graft.operators.Llm.crossSourceMatrix(spark, sf),
      "crossSourceMatrix")
    keyedOnly(graft.operators.Advanced.conversionLag(spark, sf),
      "conversionLag")
    keyedOnly(graft.operators.Advanced.regionalRevenue(spark, sf),
      "regionalRevenue")
    keyedOnly(graft.operators.Integrity.orderReconciliation(spark, sf),
      "orderReconciliation")
    keyedOnly(graft.operators.Temporal.dwellMatrix(spark, sf), "dwellMatrix")
    keyedOnly(graft.operators.Llm.dedupSavings(spark, sf), "dedupSavings")
    keyedOnly(graft.operators.Llm.quantAudit(spark, sf), "quantAudit")
    // 1-row broadcast dims (markov init, split cut, histogram totals,
    // scorecard legs) and the bounded-query-slice brute NN: broadcast
    // NLJ against a 1-row/300-row build side is the documented design;
    // a CartesianProduct is not
    noCartesian(graft.operators.Temporal.markovStationary(spark, sf),
      "markov")
    noCartesian(graft.operators.Temporal.temporalSplitAudit(spark, sf),
      "splitAudit")
    noCartesian(graft.operators.Advanced.sessionDepth(spark, sf),
      "sessionDepth")
    noCartesian(graft.operators.Retrieval.knnLabelPurity(spark, sf),
      "labelPurity")
    noCartesian(graft.operators.Llm.corpusScorecard(spark, sf), "scorecard")
    noCartesian(graft.operators.Integrity.cascadeDeleteAudit(spark, sf),
      "cascadeDelete")
    noCartesian(graft.operators.Temporal.prefixCompression(spark, sf),
      "prefixCompression")
  }
}
