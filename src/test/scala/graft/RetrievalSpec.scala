package graft

import graft.operators.Retrieval
import org.apache.spark.sql.functions._

/** Semantic assertions for the retrieval/curation block (q111-q116):
  * brute-force re-derivations of the thresholds, scores, and votes the
  * grouped-aggregate plans compute distributed. */
class RetrievalSpec extends SparkSpec {

  test("negativeSampling: negatives valid, never the anchor, deterministic") {
    val n = Tables.documents(spark, sf).count()
    val rows = Retrieval.negativeSampling(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (d, _, neg) =>
      assert(neg >= 0 && neg < n, s"neg $neg out of range")
      assert(neg != d, s"doc $d drew itself as a negative")
    }
    // exactly 3 negatives per sampled anchor
    rows.groupBy(_._1).foreach { case (d, ns) =>
      assert(ns.map(_._2).sorted.toSeq === Seq(0L, 1L, 2L), s"doc $d")
    }
    // deterministic: a rerun draws the identical sample
    val again = Retrieval.negativeSampling(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq === again.toSeq)
  }

  test("majorityVote: label distribution re-derives from per-doc brute votes") {
    val votes = Tables.documents(spark, sf)
      .select(col("doc_id"),
        explode(array(lit(0L), lit(1L), lit(2L))).as("a"))
      .withColumn("label", pmod(graft.plans.GraftFunctions.hex_window(
        md5(concat(col("doc_id").cast("string"), lit("#"),
          col("a").cast("string")).cast("binary")), 0, 8), lit(3L)))
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val brute = votes.groupBy(_._1).map { case (_, vs) =>
      val counts = vs.map(_._2).groupBy(identity).map { case (l, o) => (l, o.size) }
      counts.toSeq.maxBy { case (l, c) => (c, -l) }._1
    }.groupBy(identity).map { case (l, ds) => (l, ds.size.toLong) }
    val got = Retrieval.majorityVote(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === brute)
    assert(got.values.sum === Tables.documents(spark, sf).count())
  }

  test("groupFilter: kept counts re-derive from collected per-lang medians") {
    val toks = Tables.documents(spark, sf)
      .select(col("lang"),
        graft.functions.Text.tokenCount(col("text")).cast("long").as("t"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    def median(xs: Seq[Long]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2).toDouble
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    val meds = toks.groupBy(_._1).map { case (l, vs) => l -> median(vs.map(_._2).toSeq) }
    val brute = toks.groupBy(_._1).map { case (l, vs) =>
      l -> vs.count(_._2 >= meds(l)).toLong
    }
    val got = Retrieval.groupFilter(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got === brute)
    // a median cut keeps at least half of every group
    got.foreach { case (l, k) =>
      assert(k * 2 >= toks.count(_._1 == l), s"lang $l kept only $k")
    }
  }

  test("termRetrieval: top score re-derives from brute tf-idf") {
    val terms = Set("spark", "table", "hash")
    val tok = Tables.documents(spark, sf)
      .select(col("doc_id"),
        explode(graft.functions.Text.tokens(col("text"))).as("t"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .filter(p => terms(p._2))
    val n = Tables.documents(spark, sf).count()
    val df = tok.groupBy(_._2).map { case (t, o) => t -> o.map(_._1).distinct.size }
    val scores = tok.groupBy(_._1).map { case (d, o) =>
      d -> o.groupBy(_._2).map { case (t, tf) =>
        tf.size.toLong * (n * 1000L / df(t))
      }.sum
    }
    val expectedTop = scores.toSeq.sortBy { case (d, s) => (-s, d) }.take(10)
    val got = Retrieval.termRetrieval(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === expectedTop)
  }

  test("int8TopK: dequantized ranking agrees with float dot-product rank") {
    import graft.operators.{Llm, Similarity}
    // float reference under the SAME metric (raw inner product — the
    // SQ8 rerank approximates dot, not cosine)
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val brute = (for {
      q <- vecs.keys.filter(_ < 5)
      qv = vecs(q)
      top = vecs.toSeq.filter(_._1 != q)
        .map { case (d, dv) => (d, qv.zip(dv).map { case (a, b) => a * b }.sum) }
        .sortBy { case (d, s) => (-s, d) }.take(5).map(_._1)
      d <- top
    } yield (q, d)).toSet
    val int8 = Llm.int8TopK(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // SQ8 keeps ~1% relative error per dot; neighbor-set recall@5 must
    // stay high; floor leaves room for boundary flips
    val recall = (brute intersect int8).size.toDouble / brute.size
    info(f"int8 vs float-dot recall@5: $recall%.3f")
    assert(recall >= 0.8, f"recall=$recall%.3f")
  }

  test("composition: per-mille shares are floor-exact and sum near 1000") {
    val rows = Retrieval.composition(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val total = rows.map(_._4).sum
    rows.foreach { case (_, _, _, tok, pm) =>
      assert(pm === tok * 1000L / total)
    }
    // floor division loses at most one per-mille per cell
    val pmSum = rows.map(_._5).sum
    assert(pmSum <= 1000 && pmSum >= 1000 - rows.length)
  }

  test("q173 bm25TopK: re-derived brute-force from raw text (BigInt math)") {
    val corpus = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        raw"[a-z0-9]+".r.findAllIn(r.getString(1).toLowerCase).toVector)
    val terms = Seq("spark", "table", "hash")
    val n = BigInt(corpus.length)
    val t = BigInt(corpus.map(_._2.length.toLong).sum)
    val df = terms.map(w =>
      w -> BigInt(corpus.count(_._2.contains(w)))).toMap
    val want = corpus.flatMap { case (id, toks) =>
      val dl = BigInt(toks.length)
      val s = terms.map { w =>
        val tf = BigInt(toks.count(_ == w))
        if (tf == 0) BigInt(0)
        else {
          val idf = (n * 1000) / df(w)
          (44 * t * tf * idf) / (20 * t * tf + 6 * t + 18 * dl * n)
        }
      }.sum
      if (s > 0) Some(id -> s.toLong) else None
    }.sortBy { case (id, s) => (-s, id) }.take(10).toSeq
    val got = Retrieval.bm25TopK(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(got === want, "BM25 scores and order re-derive exactly")
  }

  // deterministic pseudo-random unit-free vectors for q277/q278 laws
  private def plantedVecs: Seq[(Long, Array[Float])] =
    (0 until 24).map { i =>
      i.toLong -> Array.tabulate(8)(j => (((i * 31 + j * 17) % 13) - 6).toFloat)
    }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** plain-loop reference: id -> neighbors sorted by (cos desc, id) */
  private def bruteNeighbors: Map[Long, Seq[(Long, Double)]] = {
    val vs = plantedVecs.map { case (id, a) => id -> a.map(_.toDouble) }
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    vs.map { case (id, a) =>
      id -> vs.filter(_._1 != id).map { case (jd, b) =>
        jd -> round6(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
      }.sortBy { case (jd, c) => (-c, jd) }.toSeq
    }.toMap
  }

  test("q277 mutualOf == plain-loop reciprocal best match") {
    import spark.implicits._
    val df = plantedVecs.toDF("vec_id", "embedding")
    val nn = bruteNeighbors.map { case (id, ns) => (id, ns.head._1, ns.head._2) }
    val want = nn.flatMap { case (a, b, c) =>
      if (a < b && nn.exists(t => t._1 == b && t._2 == a)) Some((a, b, c))
      else None
    }.toSeq.sorted
    val got = Retrieval.mutualOf(Retrieval.nn1Of(df)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    assert(got === want)
    assert(want.nonEmpty, "fixture must produce at least one mutual pair")
    assert(want.size < nn.size / 2, "one-sided matches must be filtered")
  }

  test("q278 marginOf == plain-loop ratio margin in the cos6 channel") {
    import spark.implicits._
    val df = plantedVecs.toDF("vec_id", "embedding")
    def cos6(c: Double): Long =
      BigDecimal(c * 1000000.0).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val sums = bruteNeighbors.map { case (id, ns) =>
      id -> ns.take(4).map(t => cos6(t._2)).sum
    }
    val want = bruteNeighbors.flatMap { case (id, ns) =>
      val (nnId, c) = ns.head
      val denom = sums(id) + sums(nnId)
      if (denom > 0L)
        Some((id, nnId, c, Math.floorDiv(cos6(c) * 8L * 1000000L, denom)))
      else None
    }.toSeq.sorted
    val got = Retrieval.marginOf(df).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("nn_id"),
        r.getAs[Double]("cos"), r.getAs[Long]("margin_ppm"))).toSeq.sorted
    assert(got === want)
    assert(want.nonEmpty)
  }

  test("q287 purity: per-label match share from a planted NN frame") {
    import spark.implicits._
    // labels: {1,2} -> 7, {3,4} -> 9. NN: 1<->2 (intra), 3 -> 4
    // (intra) but 4 -> 1 (cross): label 7 purity 1e6, label 9 half.
    val nn = Seq((1L, 2L, 0.9), (2L, 1L, 0.9), (3L, 4L, 0.8),
      (4L, 1L, 0.7)).toDF("a", "b", "cos")
    val labels = Seq((1L, 7), (2L, 7), (3L, 9), (4L, 9))
      .toDF("vec_id", "label")
    val got = graft.operators.Retrieval.purityOf(nn, labels).collect()
      .map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(7) === ((2L, 2L, 1000000L)))
    assert(got(9) === ((2L, 1L, 500000L)))
  }
}
