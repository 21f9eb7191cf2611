package graft

import graft.operators.Llm
import graft.functions.Text
import org.apache.spark.sql.functions._

/** q143: the distributed BPE merge trainer must equal a from-scratch
  * driver-side reference trainer — same word histogram, same greedy
  * left-to-right merge rule, same (count desc, lhs asc, rhs asc)
  * tiebreak — merge for merge, count for count.
  */
class BpeSpec extends SparkSpec {

  /** Reference trainer over an in-memory word histogram: symbols as
    * Vector[String]; each round counts every adjacent position and
    * merges the argmax pair greedily left-to-right. */
  private def refTrain(hist: Map[String, Long], k: Int)
      : Seq[(Long, String, String, Long)] = refTrainFull(hist, k)._1

  /** Returns (merges, final segmented histogram). */
  private def refTrainFull(hist: Map[String, Long], k: Int)
      : (Seq[(Long, String, String, Long)], Map[Vector[String], Long]) = {
    var seqs: Map[Vector[String], Long] =
      hist.groupBy { case (w, _) => w.map(_.toString).toVector }
        .map { case (s, m) => s -> m.values.sum }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var i = 0
    var done = false
    while (i < k && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((s, n) <- seqs; j <- 0 until s.length - 1)
        counts((s(j), s(j + 1))) = counts.getOrElse((s(j), s(j + 1)), 0L) + n
      if (counts.isEmpty) done = true
      else {
        val ((l, r), c) = counts.minBy { case ((a, b), n) => (-n, a, b) }
        out += ((i + 1L, l, r, c))
        seqs = seqs.groupBy { case (s, _) =>
          // greedy left-to-right, non-overlapping
          val b = Vector.newBuilder[String]
          var j = 0
          while (j < s.length) {
            if (j < s.length - 1 && s(j) == l && s(j + 1) == r) {
              b += (l + r); j += 2
            } else { b += s(j); j += 1 }
          }
          b.result()
        }.map { case (s, m) => s -> m.values.sum }
        i += 1
      }
    }
    (out.toSeq, seqs)
  }

  private lazy val hist: Map[String, Long] = {
    Tables.documents(spark, sf)
      .select(explode(Text.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n")).filter(col("n") >= 5L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("q143: distributed merges == reference trainer, rank for rank") {
    val got = Llm.bpeMerges(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    val want = refTrain(hist, 12)
    assert(got.size === 12) // sf0.001 text has plenty of pairs
    assert(got === want)
  }

  test("q143: merges are well-formed (fused tokens chain, counts monotone-ish)") {
    val got = Llm.bpeMerges(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.map(_._1).toSeq === (1L to 12L))
    // every lhs/rhs is either a single char or a previously-merged token
    val known = scala.collection.mutable.Set.empty[String]
    got.foreach { case (_, l, r, c) =>
      assert(l.length == 1 || known.contains(l), s"unknown lhs $l")
      assert(r.length == 1 || known.contains(r), s"unknown rhs $r")
      assert(c > 0L)
      known += (l + r)
    }
  }

  test("q144: subword vocab == reference final-state histogram, top-40") {
    val got = Llm.bpeVocabQ(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val fin = refTrainFull(hist, 12)._2
    val histo = scala.collection.mutable.Map.empty[String, Long]
    for ((s, n) <- fin; t <- s) histo(t) = histo.getOrElse(t, 0L) + n
    val want = histo.toSeq.sortBy { case (t, n) => (-n, t) }.take(40)
    assert(got === want)
  }

  test("q145: per-doc BPE token count == reference segmentation + OOV char fallback") {
    val fin = refTrainFull(hist, 12)._2
    val segLen: Map[String, Long] =
      fin.map { case (s, _) => s.mkString -> s.length.toLong }
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val tokRe = "[a-z0-9]+".r
    val want = docs.map { case (id, text) =>
      val words = tokRe.findAllIn(text.toLowerCase).toSeq
      id -> words.map(w => segLen.getOrElse(w, w.length.toLong)).sum
    }.toMap
    val got = Llm.bpeTokenCountQ(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // docs with zero tokens emit no row on BOTH sides
    val wantNonEmpty = docs.filter { case (_, t) =>
      tokRe.findAllIn(t.toLowerCase).nonEmpty }.map(_._1).toSet
    assert(got.keySet === wantNonEmpty)
    got.foreach { case (id, n) => assert(n === want(id), s"doc $id") }
  }

  test("q153: fertility re-derives from q145's per-doc counts + doc langs") {
    val perDoc = Llm.bpeTokenCountQ(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("text")).collect()
    val tokRe = "[a-z0-9]+".r
    val byLang = docs.groupBy(r => Option(r.getString(1))).map { case (lang, rs) =>
      val words = rs.map(r => tokRe.findAllIn(r.getString(2).toLowerCase).size.toLong).sum
      val bpe = rs.map(r => perDoc.getOrElse(r.getLong(0), 0L)).sum
      lang -> (words, bpe)
    }
    val got = Llm.bpeFertility(spark, sf).collect()
    got.foreach { r =>
      val lang = Option(r.getString(0))
      val (w, b) = byLang(lang)
      assert(r.getLong(1) === w, s"n_words($lang)")
      assert(r.getLong(2) === b, s"n_bpe($lang)")
      assert(r.getLong(3) === 1000L * b / w, s"fertility($lang)")
    }
    assert(got.map(r => Option(r.getString(0))).toSet ===
      byLang.filter(_._2._1 > 0).keySet)
  }

  test("q154: groups are real shared prefixes with exact savings arithmetic") {
    val got = Llm.prefixCacheGroups(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (np, n, saved) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(n >= 2L)
      assert(np >= 1L && np <= 8L)
      assert(saved === (n - 1) * np)
    }
    // savings-descending with id tiebreak
    val key = got.map(r => (-r.getLong(3), r.getLong(0)))
    assert(key.sameElements(key.sorted))
  }

  test("q143: empty input -> zero merges, stable schema") {
    val empty = Tables.documents(spark, sf).limit(0)
    val out = Llm.bpeMergeTable(empty, "text", 12, 5L)
    assert(out.columns.toSeq === Seq("merge_rank", "lhs", "rhs", "pair_count"))
    assert(out.count() === 0L)
  }
}
