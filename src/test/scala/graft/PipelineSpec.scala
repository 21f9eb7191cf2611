package graft

import graft.functions.Ranking
import graft.operators.{Dedup, Llm, Pipeline, Similarity}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("globalRowNumber: equals the single-partition window row_number") {
    val orders = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    val got = Ranking.globalRowNumber(orders, Seq("o_totalprice", "o_orderkey"))
      .select("o_orderkey", "rn")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w = Window.orderBy("o_totalprice", "o_orderkey")
    val want = orders.withColumn("rn", row_number().over(w).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got === want)
  }

  test("ntileFromRowNumber: matches SQL NTILE for uneven bucket sizes") {
    // n = 17, k = 5 -> first two buckets get 4 rows, the rest 3
    val df = (1L to 17L).toDF("rn")
    val got = df.select(col("rn"),
        Ranking.ntileFromRowNumber(col("rn"), 17L, 5).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = spark.sql(
      "SELECT id + 1 AS rn, NTILE(5) OVER (ORDER BY id) AS b FROM range(17)")
      .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    assert(got === want)
  }

  test("decileStats: buckets partition the table and cover the value range") {
    val rows = Pipeline.decileStats(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq === (1L to 10L))
    val total = Tables.orders(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum === total)
    // deciles are ordered and non-overlapping on price
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getDouble(3) <= b.getDouble(2), s"decile ${a.getLong(0)}")
    }
  }

  test("priceHistogram: bins cover all rows with exact integer edges") {
    val rows = Pipeline.priceHistogram(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum === Tables.orders(spark, sf).count())
    rows.foreach { r =>
      assert(r.getLong(2) === r.getLong(0) * 50000L)
    }
  }

  test("expectationSuite: clean synthetic data passes every contract check") {
    val rows = Pipeline.expectationSuite(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.size === 5)
    assert(rows.values.forall(_ === 0L), s"violations: $rows")
  }

  test("incrementalDailyMerge: merged partials equal the direct aggregate") {
    val got = Pipeline.incrementalDailyMerge(spark, sf).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getDouble(2)))
    val want = Tables.lineitem(spark, sf)
      .groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double").as("revenue"))
      .orderBy("day")
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === want.toSeq)
  }

  test("cdcApply: keys whose last change is a delete are absent") {
    val r = Pipeline.cdcApply(spark, sf).collect().head
    val li = Tables.lineitem(spark, sf)
    val keys = li.select("l_orderkey").distinct().count()
    assert(r.getLong(0) > 0 && r.getLong(0) < keys)
    assert(r.getDouble(1) > 0.0)
  }

  test("iqrTrim: fences re-derive from the collected metric, trims the tails") {
    val r = Pipeline.iqrTrim(spark, sf).collect().head
    val tq = Tables.lineitem(spark, sf)
      .groupBy("l_orderkey")
      .agg(sum(floor(col("l_quantity")).cast("long")).as("tq"))
      .collect().map(_.getLong(1)).sorted
    def interp(p: Double): Double = {
      val pos = p * (tq.length - 1); val lo = pos.toInt
      if (lo == tq.length - 1) tq(lo).toDouble
      else tq(lo) + (tq(lo + 1) - tq(lo)) * (pos - lo)
    }
    val (q1, q3) = (interp(0.25), interp(0.75))
    val (lo, hi) = (q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1))
    val kept = tq.count(t => t >= lo && t <= hi)
    assert(r.getLong(0) === kept)
    assert(r.getLong(1) === tq.length - kept)
  }

  test("tableDiff: counts partition the key universe of both versions") {
    val r = Pipeline.tableDiff(spark, sf).collect().head
    val keys = Tables.orders(spark, sf).select("o_orderkey")
      .collect().map(_.getLong(0))
    val v1 = keys.filter(_ % 100 != 0).toSet
    val v2 = keys.filter(_ % 97 != 0).toSet
    assert(r.getLong(0) === (v2 -- v1).size) // added
    assert(r.getLong(1) === (v1 -- v2).size) // removed
    // changed + unchanged = surviving intersection
    assert(r.getLong(2) + r.getLong(3) === (v1 & v2).size)
    // every %7==0 surviving key is a change (priority rewritten)
    assert(r.getLong(2) >= (v1 & v2).count(_ % 7 == 0))
  }

  test("weightedSampleKey: exact A-ES keys, heavier weights overrepresented") {
    val docs = Tables.documents(spark, sf)
    val rows = docs
      .withColumn("w", lit(4))
      .withColumn("k4", Ranking4Key(col("doc_id")))
      .collect()
    // spot-check the closed form: k4 = sqrt(sqrt(u)), u = (2*h+1)/2^33
    rows.take(20).foreach { r =>
      val id = r.getLong(0)
      val md5hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      val u = (java.lang.Long.parseLong(md5hex, 16) * 2 + 1) / 8589934592.0
      assert(r.getDouble(r.length - 1) === math.sqrt(math.sqrt(u)), s"doc $id")
    }
    // weight-4 sources take most of the weighted top-k
    val top = graft.operators.Quality.weightedSampleQ(spark, sf).collect()
    val n4 = top.count(_.getInt(2) === 4)
    val n1 = top.count(_.getInt(2) === 1)
    assert(n4 > n1, s"w4=$n4 vs w1=$n1")
  }
  private def Ranking4Key(key: org.apache.spark.sql.Column) =
    graft.functions.Sampling.weightedSampleKey(key, lit(4))

  test("semanticDedup: drops exactly the non-canonical members of SRP clusters") {
    val emb = Tables.embeddings(spark, sf)
    val pairs = Similarity.srpNearDupPairs(emb, threshold = 0.4,
        bands = 12, bits = 6, dim = 64)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val losers = Dedup.connectedComponents(pairs).labels
      .filter(col("doc_id") =!= col("rep"))
      .collect().map(_.getLong(0)).toSet
    val kept = Llm.semanticDedup(spark, sf).collect().map(_.getLong(0)).toSet
    val all = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept === all -- losers)
    assert(losers.nonEmpty)
  }

  test("madOutliers: med/mad/outlier count re-derive from collected metric") {
    val tq = Tables.lineitem(spark, sf)
      .groupBy("l_orderkey")
      .agg(sum(floor(col("l_quantity")).cast("long")).as("tq"))
      .collect().map(_.getLong(1)).sorted
    def median(xs: Array[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    }
    val med = median(tq.map(_.toDouble))
    val mad = median(tq.map(v => math.abs(v - med)))
    val row = graft.operators.Pipeline.madOutliers(spark, sf).collect().head
    assert(row.getLong(0) === tq.length)
    assert(row.getDouble(2) === med)
    assert(row.getDouble(3) === mad)
    assert(row.getLong(1) ===
      tq.count(v => math.abs(v - med) > 2.5 * mad).toLong)
  }

  test("sufficientStats: Pearson r derives on the driver and lands in [-1,1]") {
    val rows = graft.operators.Pipeline.sufficientStats(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, sx, sy, sxy, sx2, sy2) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      // the whole point of the six sums: downstream stats are driver
      // arithmetic. BigDecimal keeps the covariance numerators exact.
      val (bn, bsx, bsy) = (BigDecimal(n), BigDecimal(sx), BigDecimal(sy))
      val cov = bn * BigDecimal(sxy) - bsx * bsy
      val vx = bn * BigDecimal(sx2) - bsx * bsx
      val vy = bn * BigDecimal(sy2) - bsy * bsy
      assert(vx > 0 && vy > 0)
      val r2 = (cov * cov) / (vx * vy)
      // Cauchy-Schwarz: cov² <= vx*vy — holds iff the sums are the real
      // moments of SOME dataset (a corrupted sum breaks the bound);
      // this synthetic corpus draws qty and price independently, so r²
      // should also be near zero
      assert(r2 >= 0 && r2 <= 1, s"r^2 out of range: $r2")
      assert(r2 < BigDecimal(0.1), s"independent columns correlated: $r2")
    }
  }
}
