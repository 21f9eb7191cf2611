package graft

import graft.operators.{Llm, TextQuality}
import org.apache.spark.sql.functions._

/** q148/q149/q150: the round-7 pipeline-composition operators. Each is
  * checked against an independent driver-side recomputation (the
  * DuckDB gate provides the cross-engine check; these prove internal
  * consistency with the constituent operators).
  */
class PipelineReportSpec extends SparkSpec {

  test("q148: bigram surprisal == driver reference (add-1 smoothed, 6-place rounding)") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val tokRe = "[a-z0-9]+".r
    val toks = docs.map { case (id, t) =>
      id -> tokRe.findAllIn(t.toLowerCase).toVector }
    val uni = toks.flatMap(_._2).groupBy(identity).map { case (w, o) => w -> o.length.toLong }
    val v = uni.size.toLong
    val bis = toks.flatMap { case (id, ts) =>
      ts.sliding(2).filter(_.size == 2).map(p => (id, p(0), p(1))) }
    val c2 = bis.groupBy { case (_, a, b) => (a, b) }
      .map { case (k, o) => k -> o.length.toLong }
    val want = bis.groupBy(_._1).map { case (id, bs) =>
      val sum = bs.map { case (_, a, b) =>
        val r = (uni(a) + v).toDouble / (c2((a, b)) + 1L).toDouble
        BigDecimal.valueOf(math.log(r) / math.log(2.0))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }.sum
      id -> (bs.size.toLong, sum.toDouble)
    }
    val got = Llm.bigramSurprisal(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet === want.keySet)
    got.foreach { case (id, (n, s)) =>
      assert(n === want(id)._1, s"n_bigrams($id)")
      assert(s === want(id)._2, s"surprisal($id)")
    }
  }

  test("q149: per-rule fail counts re-derive from q56's own output") {
    val sig = TextQuality.qualitySignals(spark, sf).collect()
    val audit = TextQuality.filterAudit(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(audit("total") === sig.length.toLong)
    assert(audit("kept") === sig.count(r => r.getBoolean(r.length - 1)).toLong)
    val byName = sig.head.schema.fieldNames.zipWithIndex.toMap
    def cnt(f: org.apache.spark.sql.Row => Boolean) = sig.count(f).toLong
    assert(audit("fail_word_count") === cnt { r =>
      val n = r.getLong(byName("n_words")); !(n >= 5 && n <= 50000) })
    assert(audit("fail_mean_word_len") === cnt { r =>
      val m = r.getDouble(byName("mean_word_len")); !(m >= 2.0 && m <= 12.0) })
    assert(audit("fail_symbol_ratio") === cnt { r =>
      !(r.getDouble(byName("symbol_ratio")) < 0.05) })
    assert(audit("fail_distinct_word_frac") === cnt { r =>
      !(r.getDouble(byName("distinct_word_frac")) > 0.3) })
  }

  test("q151: flagged partitions are exactly the months touched by the version delta") {
    val touched = Tables.orders(spark, sf)
      .filter(col("o_orderkey") % 997 === 0 || col("o_orderkey") % 499 === 0)
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("m"))
      .distinct().collect().map(_.getString(0)).toSet
    val got = graft.operators.Pipeline.partitionDiff(spark, sf).collect()
    assert(got.map(_.getString(0)).toSet === touched)
    // v2 only drops/rewrites, so no partition can be v2-only, and
    // counts can only shrink
    got.foreach { r =>
      assert(r.getString(1) == "changed" || r.getString(1) == "only_v1")
      if (r.getString(1) == "changed") assert(r.getLong(2) >= r.getLong(3))
    }
  }

  test("q156: curriculum ranks are 1..100 with non-increasing difficulty") {
    val got = Llm.curriculum(spark, sf).collect()
    assert(got.map(_.getLong(0)).toSeq === (1L to got.length))
    val d = got.map(_.getLong(3))
    assert(d.zip(d.tail).forall { case (a, b) => a >= b })
    // difficulty is mean micro-bits per bigram: positive, bounded by
    // log2(vocab-ish) * 1e6
    d.foreach(x => assert(x > 0L && x < 50L * 1000000L))
  }

  test("q157: dataset card re-derives from collected documents") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("text")).collect()
    val tokRe = "[a-z0-9]+".r
    val perDoc = docs.map(r => tokRe.findAllIn(r.getString(2).toLowerCase).size.toLong)
    val card = graft.operators.Quality.datasetCard(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(card("n_docs") === docs.length.toLong)
    assert(card("n_tokens") === perDoc.sum)
    assert(card("n_langs") ===
      docs.map(r => Option(r.getString(1))).flatten.distinct.length.toLong)
    assert(card("n_exact_dup_docs") ===
      docs.length.toLong - docs.map(_.getString(2)).distinct.length.toLong)
    assert(card("max_doc_tokens") === perDoc.max)
    assert(card("min_doc_tokens") === perDoc.min)
    assert(card("total_text_chars") ===
      docs.map(_.getString(2).length.toLong).sum)
    // floor-median sits inside the sorted middle pair
    val s = perDoc.sorted
    val lo = s((s.length - 1) / 2)
    val hi = s(s.length / 2)
    assert(card("median_doc_tokens_floor") >= lo &&
      card("median_doc_tokens_floor") <= hi)
  }

  test("q150: funnel is monotone and internally consistent") {
    val report = Llm.corpusReport(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val stages = Seq("a_ingested", "b_lang_en", "c_quality",
      "d_exact_dedup", "e_near_dedup")
    assert(report.keySet.size === 8)
    // each stage only ever removes documents
    stages.sliding(2).foreach { case Seq(a, b) =>
      assert(report(a) >= report(b), s"$a -> $b grew") }
    assert(report("c_quality") > 0L) // sf0.001 corpus has en survivors
    // the split partitions the near-dedup survivors exactly
    assert(report("f_split_train") + report("g_split_val") +
      report("h_split_test") === report("e_near_dedup"))
  }
}
