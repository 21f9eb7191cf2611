package graft

import graft.functions.{Text, Validate}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests for the normalization/validation primitives (SURVEY §5),
  * driven through real Spark evaluation. Raw ScalaCheck Gens with a fixed
  * seed (the scalatest/scalacheck bridge artifact isn't available in the
  * offline cache), sampled in deterministic batches. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): List[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i))).toList

  test("decimalComma round-trips any scaled decimal rendered with a comma") {
    val gen = for {
      units <- Gen.chooseNum(-999999L, 999999L)
      frac <- Gen.chooseNum(0, 999999)
    } yield BigDecimal(s"$units.${"%06d".format(frac)}").abs * (if (units < 0) -1 else 1)
    val ds = samples(gen, 200)
    val rendered = ds.map(d => d.bigDecimal.toPlainString.replace(".", ","))
    val parsed = rendered.toDF("v")
      .select(Validate.decimalComma(col("v")).as("d"))
      .collect().map(r => BigDecimal(r.getDecimal(0))).toList
    assert(parsed === ds)
  }

  test("normalizePlaceholders is idempotent") {
    val gen: Gen[String] = Gen.oneOf(
      Validate.defaultNullTokens ++ Seq("keepme", "  NA  ", "#No Value", null))
    val vs = samples(gen, 200)
    val once = vs.toDF("v")
      .select(Validate.normalizePlaceholders(col("v")).as("v"))
    val twice = once.select(Validate.normalizePlaceholders(col("v")).as("v"))
    assert(once.collect().map(_.isNullAt(0)).toSeq ===
      twice.collect().map(_.isNullAt(0)).toSeq)
  }

  test("invalidExpr never returns null (it must be filterable/summable)") {
    val gen = Gen.oneOf(Gen.const(null: String), Gen.const(""),
      Gen.numStr, Gen.alphaStr)
    val vs = samples(gen, 200)
    val out = vs.toDF("v")
      .select(Validate.invalidExpr(col("v"), "^\\d+$").as("i"))
      .collect()
    assert(out.forall(!_.isNullAt(0)))
    // and agrees with a reference model
    val model = vs.map(v => v == null || v.isEmpty || !v.forall(_.isDigit))
    assert(out.map(_.getBoolean(0)).toList === model)
  }

  test("shingle count equals distinct n-gram count of the token list") {
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps")
    val gen = Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, word))
    val docs = samples(gen, 100)
    val texts = docs.map(_.mkString(" "))
    val got = texts.toDF("text")
      .select(size(Text.shingles(col("text"), 3)).as("n"))
      .collect().map(_.getInt(0)).toList
    val expected = docs.map { ws =>
      if (ws.length < 3) 0 else ws.sliding(3).map(_.mkString(" ")).toSet.size
    }
    assert(got === expected)
  }

  test("graft_tokens is byte-identical to the filter(split(lower)) lambda form") {
    val gen: Gen[String] = Gen.listOfN(12, Gen.oneOf(
      Gen.alphaNumStr.map(_.take(8)), Gen.const("!@# $%"), Gen.const(""),
      Gen.const("Ünïcödé-Wörds"), Gen.const("中文 text123"),
      Gen.const("MiXeD2case"), Gen.const("\ttabs\nnewlines"))).map(_.mkString(" "))
    val docs = samples(gen, 150)
    val both = docs.toDF("text").select(
      Text.tokens(col("text")).as("fast"),
      filter(split(lower(col("text")), "[^a-z0-9]+"), x => x =!= "").as("ref"))
    assert(both.filter(not(col("fast") === col("ref"))).count() === 0)
  }

  test("graft_hex_window equals conv(substr(doubled md5)) for every rotation") {
    val docs = samples(Gen.alphaNumStr, 100).filter(_.nonEmpty)
    val base = docs.toDF("s")
      .withColumn("h", md5(col("s").cast("binary")))
      .withColumn("hh", concat(col("h"), col("h")))
    (0 until 16).foreach { i =>
      val cmp = base.select(
        graft.plans.GraftFunctions.hex_window(col("h"), i * 2, 15).as("fast"),
        conv(substring(col("hh"), i * 2 + 1, 15), 16, 10).cast("long").as("ref"))
      assert(cmp.filter(col("fast") =!= col("ref")).count() === 0, s"rotation $i")
    }
  }

  test("hashSplit composes with hashKeep: the train split IS the 0.8 sample") {
    import graft.functions.Sampling
    val li = Tables.lineitem(spark, sf).select("l_orderkey")
    val split = li.withColumn("split",
      Sampling.hashSplit(col("l_orderkey"), 0.8, 0.1))
    // same hash, cumulative thresholds => set equality, not just overlap
    val trainKeys = split.filter(col("split") === "train")
      .select("l_orderkey").distinct()
    val sampleKeys = Sampling.deterministicSample(li, "l_orderkey", 0.8)
      .select("l_orderkey").distinct()
    assert(trainKeys.exceptAll(sampleKeys).isEmpty &&
      sampleKeys.exceptAll(trainKeys).isEmpty)
    // splits partition the key space
    val n = split.select("l_orderkey").distinct().count()
    val parts = split.groupBy("split").agg(countDistinct("l_orderkey").as("k"))
      .collect().map(_.getLong(1)).sum
    assert(parts === n)
  }

  test("packSequences: offsets stay under budget and packs are contiguous") {
    import graft.functions.Sampling
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 200)
    val packed = Sampling.packSequences(docs, "doc_id",
      graft.functions.Text.tokenCount(col("text")), 256L).collect()
    assert(packed.forall(r => r.getAs[Long]("pack_offset") < 256L))
    val ids = packed.map(_.getAs[Long]("pack_id"))
    assert(ids.toSet === (ids.min to ids.max).toSet, "pack ids must be dense")
  }

  test("frequentPairs law: guarded == unguarded-then-filter on random baskets") {
    // A-Priori anti-monotonicity, checked as an algebraic law over
    // random basket universes (not just the one hand-built fixture)
    val gen = for {
      nRows <- Gen.chooseNum(5, 60)
      rows <- Gen.listOfN(nRows, for {
        b <- Gen.chooseNum(1L, 8L)
        i <- Gen.chooseNum(1L, 12L)
      } yield (b, i))
    } yield rows
    samples(gen, 8).zipWithIndex.foreach { case (rows, k) =>
      val df = rows.toDF("basket", "item")
      for (minSupport <- Seq(1L, 2L, 3L)) {
        val guarded = graft.operators.Graph
          .frequentPairs(df, "basket", "item", minSupport)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        val baskets = rows.distinct.groupBy(_._1)
          .map { case (_, vs) => vs.map(_._2).toSet }
        val brute = baskets.toSeq
          .flatMap(s => for (a <- s; b <- s if a < b) yield (a, b))
          .groupBy(identity).map { case (p, o) => (p._1, p._2, o.size.toLong) }
          .filter(_._3 >= minSupport).toSet
        assert(guarded === brute, s"case $k minSupport=$minSupport")
      }
    }
  }

  test("bfsDistances law: equals driver-side BFS on random graphs") {
    val gen = for {
      nEdges <- Gen.chooseNum(3, 40)
      edges <- Gen.listOfN(nEdges, for {
        u <- Gen.chooseNum(1L, 15L)
        v <- Gen.chooseNum(1L, 15L) if u != v
      } yield if (u < v) (u, v) else (v, u))
      nSeeds <- Gen.chooseNum(1, 3)
      seeds <- Gen.listOfN(nSeeds, Gen.chooseNum(1L, 15L))
    } yield (edges.distinct, seeds.distinct)
    samples(gen, 6).zipWithIndex.foreach { case ((edges, seeds), k) =>
      val maxHops = 4
      val got = graft.operators.Graph
        .bfsDistances(edges.toDF("u", "v"), seeds.toDF("node"), maxHops)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // driver BFS
      val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
        .map { case (n, vs) => n -> vs.map(_._2).toSet }
      var dist = seeds.map(_ -> 0L).toMap
      var frontier = seeds.toSet
      for (h <- 1 to maxHops) {
        val next = frontier.flatMap(adj.getOrElse(_, Set.empty))
          .diff(dist.keySet)
        dist = dist ++ next.map(_ -> h.toLong)
        frontier = next
      }
      assert(got === dist, s"case $k edges=$edges seeds=$seeds")
    }
  }

  test("onionPeel law: equals driver-side synchronized peeling") {
    val gen = for {
      nEdges <- Gen.chooseNum(3, 40)
      edges <- Gen.listOfN(nEdges, for {
        u <- Gen.chooseNum(1L, 12L)
        v <- Gen.chooseNum(1L, 12L) if u != v
      } yield if (u < v) (u, v) else (v, u))
      k <- Gen.chooseNum(1L, 3L)
    } yield (edges.distinct, k)
    samples(gen, 6).zipWithIndex.foreach { case ((edges, k), i) =>
      val rounds = 3
      val got = graft.operators.Graph
        .onionPeel(edges.toDF("u", "v"), k, rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // driver-side synchronized peel
      var alive = (edges.map(_._1) ++ edges.map(_._2)).toSet
      var peel = Map.empty[Long, Long]
      for (r <- 1 to rounds) {
        val deg = alive.map(n => n ->
          edges.count(e => (e._1 == n && alive(e._2)) ||
            (e._2 == n && alive(e._1)))).toMap
        val rm = alive.filter(deg(_) < k)
        peel = peel ++ rm.map(_ -> r.toLong)
        alive = alive -- rm
      }
      assert(got === peel ++ alive.map(_ -> 0L).toMap,
        s"case $i k=$k edges=$edges")
    }
  }

  test("incrementalComponents law: equals from-scratch CC on random splits") {
    val gen = for {
      nEdges <- Gen.chooseNum(4, 30)
      edges <- Gen.listOfN(nEdges, for {
        u <- Gen.chooseNum(1L, 14L)
        v <- Gen.chooseNum(1L, 14L) if u != v
      } yield if (u < v) (u, v) else (v, u))
      cut <- Gen.chooseNum(0, nEdges)
    } yield (edges.distinct, cut)
    samples(gen, 6).zipWithIndex.foreach { case ((edges, cut0), k) =>
      val cut = math.min(cut0, edges.size)
      val (oldE, newE) = edges.splitAt(cut)
      if (oldE.nonEmpty && newE.nonEmpty) {
        val base = graft.operators.Dedup
          .starContractComponents(oldE.toDF("doc_a", "doc_b")).labels
        val inc = graft.operators.Dedup
          .incrementalComponents(base, newE.toDF("doc_a", "doc_b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val full = graft.operators.Dedup
          .starContractComponents(edges.toDF("doc_a", "doc_b")).labels
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        // exact equality INCLUDING rep choice (both canonicalize min-id)
        assert(inc === full, s"case $k cut=$cut edges=$edges")
      }
    }
  }

  test("globalRowNumberSorted law: equals single-window rank for any direction") {
    val gen = Gen.listOfN(80, Gen.chooseNum(-50L, 50L))
    samples(gen, 5).zipWithIndex.foreach { case (xs, k) =>
      val df = xs.zipWithIndex.map { case (v, i) => (v, i.toLong) }
        .toDF("v", "id")
      val got = graft.functions.Ranking
        .globalRowNumberSorted(df, Seq(desc("v"), asc("id")), "rn")
        .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
      val want = xs.zipWithIndex.map { case (v, i) => (v, i.toLong) }
        .sortBy { case (v, id) => (-v, id) }
        .zipWithIndex.map { case ((_, id), r) => id -> (r + 1L) }.toMap
      assert(got === want, s"case $k")
    }
  }

  test("globalCumSumSorted law: equals single-window exclusive cumsum for any data") {
    val gen = for {
      n <- Gen.chooseNum(1, 60)
      rows <- Gen.listOfN(n, for {
        k <- Gen.chooseNum(0L, 20L) // deliberate sort-key ties
        v <- Gen.chooseNum(0L, 100L)
      } yield (k, v))
    } yield rows.zipWithIndex.map { case ((k, v), i) => (i.toLong, k, v) }
    samples(gen, 5).zipWithIndex.foreach { case (rows, c) =>
      val df = rows.toDF("id", "k", "v")
      val got = graft.functions.Ranking
        .globalCumSumSorted(df, Seq(col("k").desc, col("id").asc), col("v"))
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      var acc = 0L
      val ref = rows.sortBy { case (id, k, _) => (-k, id) }.map { case (id, _, v) =>
        val before = acc; acc += v; id -> before
      }.toMap
      assert(got === ref, s"case $c rows=$rows")
    }
  }

  test("globalCumSumSorted: NULL values contribute 0 instead of NPEing the offset pass") {
    // A range partition whose values are all NULL sums to NULL; the
    // per-partition offset collect must coalesce it to 0 (this is a
    // general primitive — callers are not required to pre-clean the
    // value column). Mixed case: nulls interleaved with values.
    val rows = Seq((0L, java.lang.Long.valueOf(5L)), (1L, null),
      (2L, java.lang.Long.valueOf(7L)), (3L, null), (4L, java.lang.Long.valueOf(2L)))
    val df = rows.toDF("id", "v")
    val got = graft.functions.Ranking
      .globalCumSumSorted(df, Seq(col("id").asc), col("v"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got === Map(0L -> 0L, 1L -> 5L, 2L -> 5L, 3L -> 12L, 4L -> 12L))
    // all-NULL column: every partition's sum is NULL
    val allNull = Seq(0L, 1L, 2L).map(i => (i, null: java.lang.Long)).toDF("id", "v")
    val z = graft.functions.Ranking
      .globalCumSumSorted(allNull, Seq(col("id").asc), col("v"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(z === Map(0L -> 0L, 1L -> 0L, 2L -> 0L))
  }

  test("pageRankOn law: equals driver-side iteration on random symmetrized graphs") {
    val gen = for {
      nEdges <- Gen.chooseNum(2, 30)
      edges <- Gen.listOfN(nEdges, for {
        u <- Gen.chooseNum(1L, 12L)
        v <- Gen.chooseNum(1L, 12L) if u != v
      } yield (u, v))
    } yield edges.distinct
    samples(gen, 5).zipWithIndex.foreach { case (fwd, k) =>
      val edges = (fwd ++ fwd.map(_.swap)).distinct
      val got = graft.operators.Graph
        .pageRankOn(edges.toDF("src", "dst"), rounds = 5)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val outdeg = edges.groupBy(_._1).map { case (s, es) => s -> es.length.toLong }
      var rank: Map[Long, Long] = outdeg.keys.map(_ -> 1000000L).toMap
      for (_ <- 1 to 5) {
        val contrib = scala.collection.mutable.Map.empty[Long, Long]
        for ((s, d) <- edges)
          contrib(d) = contrib.getOrElse(d, 0L) + rank(s) / outdeg(s)
        rank = contrib.map { case (n, sm) => n -> (150000L + 85L * sm / 100L) }.toMap
      }
      assert(got === rank, s"case $k edges=$edges")
    }
  }

  test("BPE trainer law: equals greedy reference on random word histograms") {
    val word = for {
      len <- Gen.chooseNum(1, 5)
      cs <- Gen.listOfN(len, Gen.oneOf('a', 'b', 'c'))
    } yield cs.mkString
    val gen = for {
      nw <- Gen.chooseNum(3, 12)
      ws <- Gen.listOfN(nw, word)
      ns <- Gen.listOfN(nw, Gen.chooseNum(1, 9))
    } yield ws.zip(ns).groupBy(_._1)
      .map { case (w, l) => w -> l.map(_._2).sum }
    samples(gen, 5).zipWithIndex.foreach { case (hist, k) =>
      // docs: each word repeated its count times, one word per doc so
      // the trainer's histogram IS the generated one (minCount=1)
      val docs = hist.toSeq.flatMap { case (w, n) => Seq.fill(n)(w) }
        .zipWithIndex.map { case (w, i) => (i.toLong, w) }
        .toDF("doc_id", "text")
      val got = graft.operators.Llm
        .bpeMergeTable(docs, "text", k = 6, minCount = 1L)
        .collect().map(r =>
          (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      // greedy reference (same rule as BpeSpec's, inlined)
      var seqs: Map[Vector[String], Long] =
        hist.map { case (w, n) => w.map(_.toString).toVector -> n.toLong }
      val want = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
      var i = 0
      var done = false
      while (i < 6 && !done) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        for ((s, n) <- seqs; j <- 0 until s.length - 1)
          counts((s(j), s(j + 1))) = counts.getOrElse((s(j), s(j + 1)), 0L) + n
        if (counts.isEmpty) done = true
        else {
          val ((l, rr), c) = counts.minBy { case ((a, b), n) => (-n, a, b) }
          want += ((i + 1L, l, rr, c))
          seqs = seqs.groupBy { case (s, _) =>
            val b = Vector.newBuilder[String]
            var j = 0
            while (j < s.length) {
              if (j < s.length - 1 && s(j) == l && s(j + 1) == rr) {
                b += (l + rr); j += 2
              } else { b += s(j); j += 1 }
            }
            b.result()
          }.map { case (s, m) => s -> m.values.sum }
          i += 1
        }
      }
      assert(got === want.toSeq, s"case $k hist=$hist")
    }
  }

  test("keepFirstLines laws on random page corpora: conservation, " +
    "arg-min fill, idempotence") {
    val lineGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val pageGen = Gen.listOfN(5, lineGen).map(_.mkString("\n"))
    for (k <- 0 until 5) {
      val texts = samples(pageGen, 8 + k)
      val pages = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("page_id", "text")
      val out = graft.operators.Curation.keepFirstLines(pages)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      // conservation: total kept == distinct lines
      val all = texts.zipWithIndex.flatMap { case (t, p) =>
        t.split("\n", -1).zipWithIndex.map { case (l, i) => (p.toLong, i, l) } }
      assert(out.map(_._3).sum === all.map(_._3).distinct.size.toLong)
      // arg-min occurrence fill, per page
      val firstOcc = all.groupBy(_._3)
        .map { case (l, o) => l -> o.map(x => x._1 * 1000000L + x._2).min }
      out.foreach { case (pid, _, _, cleaned) =>
        val want = all.filter(x =>
            x._1 == pid && firstOcc(x._3) == x._1 * 1000000L + x._2)
          .sortBy(_._2).map(_._3).mkString("\n")
        assert(cleaned === want, s"case $k page $pid")
      }
      // idempotence: on the cleaned corpus every line is globally
      // unique, so a second pass keeps everything
      val cleanedPages = out.filter(_._4.nonEmpty)
        .map(x => (x._1, x._4)).toSeq.toDF("page_id", "text")
      val second = graft.operators.Curation.keepFirstLines(cleanedPages)
        .collect()
      second.foreach(r =>
        assert(r.getLong(1) === r.getLong(2), s"case $k second pass dropped"))
    }
  }
}
