package graft

import graft.operators.{Advanced, Mining, Temporal}
import org.apache.spark.sql.functions._

/** Round-10 continuation batch 3: exact OLS trend (q238), chi-squared
  * independence (q239), Gini concentration (q240). */
class StatsOpsSpec extends SparkSpec {
  import spark.implicits._

  // ---- q238: OLS slope ------------------------------------------------
  private def dailyFrame(rows: Seq[(String, Long, Long)]) =
    rows.toDF("brand", "x", "yl")
      .select(col("brand"), col("x"), col("yl").cast("decimal(38,0)").as("y"))

  test("q238 trend: planted exact lines recover their slopes in ppm") {
    val daily = dailyFrame(
      (0L until 50L).map(x => ("up", x, 100 + 7 * x)) ++
      (0L until 50L).map(x => ("down", x + 20000, 1000000 - 3 * (x + 20000))))
    val out = Temporal.olsSlopePpm(daily).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("slope_ppm")).toMap
    assert(out === Map("up" -> 7000000L, "down" -> -3000000L))
  }

  test("q238 trend: sf0.001 output matches a BigInt recomputation") {
    val daily = Tables.lineitem(spark, sf)
      .join(broadcast(Tables.part(spark, sf).select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"),
        datediff(to_date(col("l_shipdate")), lit("1970-01-01"))
          .cast("long").as("x"))
      .agg((sum(col("l_extendedprice").cast("decimal(18,4)")) * 10000)
        .cast("decimal(38,0)").as("y"))
      .collect()
      .map(r => (r.getString(0), BigInt(r.getLong(1)),
        BigInt(r.getDecimal(2).toBigInteger)))
    val expect = daily.groupBy(_._1).collect { case (b, rows) if rows.size > 1 =>
      val n = BigInt(rows.size)
      val sx = rows.map(_._2).sum; val sy = rows.map(_._3).sum
      val sxx = rows.map(t => t._2 * t._2).sum
      val sxy = rows.map(t => t._2 * t._3).sum
      // BigInt / truncates toward zero; decimal `div`/HUGEINT `//` are
      // floor for the positive denominator only when numerator >= 0 —
      // match Spark's div (quotient truncated) explicitly
      b -> ((n * sxy - sx * sy) * 1000000 / (n * sxx - sx * sx)).toLong
    }.toMap
    val got = Temporal.revenueTrend(spark, sf).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("slope_ppm")).toMap
    assert(got === expect)
  }

  // ---- q239: chi-squared ----------------------------------------------
  private def obsFrame(rows: Seq[(String, Long)]) =
    rows.toDF("event_type", "dow")

  test("q239 chi2: uniform table scores exactly zero") {
    val obs = obsFrame(for {
      t <- Seq("a", "b"); d <- Seq(0L, 1L); _ <- 1 to 5 } yield (t, d))
    val out = Mining.chi2Of(obs).collect()(0)
    assert(out.getAs[Long]("chi2_ppm") === 0L)
    assert(out.getAs[Long]("df") === 1L)
    assert(out.getAs[Long]("n") === 20L)
  }

  test("q239 chi2: perfectly dependent 2x2 scores N (20 -> 2e7 ppm)") {
    val obs = obsFrame(
      (1 to 10).map(_ => ("a", 0L)) ++ (1 to 10).map(_ => ("b", 1L)))
    val out = Mining.chi2Of(obs).collect()(0)
    // chi2 == N for a perfect 2x2 association; zero cells contribute
    assert(out.getAs[Long]("chi2_ppm") === 20000000L)
    assert(out.getAs[Long]("df") === 1L)
  }

  test("q239 chi2: sf0.001 df/n shape and non-negativity") {
    val out = Mining.chi2Independence(spark, sf).collect()(0)
    val nTypes = Tables.events(spark, sf)
      .select(countDistinct("event_type")).first().getLong(0)
    assert(out.getAs[Long]("df") === (nTypes - 1) * 6)
    assert(out.getAs[Long]("chi2_ppm") >= 0L)
    assert(out.getAs[Long]("n") === Tables.events(spark, sf).count())
  }

  // ---- q240: Gini ----------------------------------------------------
  private def centsFrame(rows: Seq[(Long, Long)]) =
    rows.toDF("o_custkey", "cl")
      .select(col("o_custkey"), col("cl").cast("decimal(38,0)").as("cents"))

  test("q240 gini: all-equal is 0, one-owns-all is (n-1)/n") {
    val eq = Mining.giniOfCents(centsFrame(
      Seq((1L, 1000L), (2L, 1000L), (3L, 1000L), (4L, 1000L)))).collect()(0)
    assert(eq.getAs[Long]("gini_ppm") === 0L)
    val oneAll = Mining.giniOfCents(centsFrame(
      Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 1000L)))).collect()(0)
    assert(oneAll.getAs[Long]("gini_ppm") === 750000L)
  }

  // ---- q241: AR(1) -----------------------------------------------------
  test("q241 ar1: sf0.001 output matches a BigInt recomputation") {
    val daily = Tables.lineitem(spark, sf)
      .groupBy(datediff(to_date(col("l_shipdate")), lit("1970-01-01"))
        .cast("long").as("day"))
      .agg((sum(col("l_extendedprice").cast("decimal(18,4)")) * 10000)
        .cast("decimal(38,0)").as("cents"))
      .collect().map(r => (r.getLong(0), BigInt(r.getDecimal(1).toBigInteger)))
      .sortBy(_._1)
    val pairs = daily.sliding(2).map { case Array((_, x), (_, y)) => (x, y) }.toSeq
    val n = BigInt(pairs.size)
    val sx = pairs.map(_._1).sum; val sy = pairs.map(_._2).sum
    val sxx = pairs.map(p => p._1 * p._1).sum
    val sxy = pairs.map(p => p._1 * p._2).sum
    val want = ((n * sxy - sx * sy) * 1000000 / (n * sxx - sx * sx)).toLong
    val got = Temporal.ar1DailyRevenue(spark, sf).collect()(0)
    assert(got.getAs[Long]("n_pairs") === n.toLong)
    assert(got.getAs[Long]("ar1_ppm") === want)
  }

  // ---- q242: KS two-sample ---------------------------------------------
  private def ksFrame(rows: Seq[(String, Long)]) = rows.toDF("source", "tc")

  test("q242 ks: identical samples score 0, disjoint ranges score 1e6") {
    val same = (1L to 20L).flatMap(v => Seq(("src1", v), ("src2", v)))
    val s = Mining.ksOf(ksFrame(same)).collect()(0)
    assert(s.getAs[Long]("ks_ppm") === 0L)
    val disjoint = (1L to 20L).map(("src1", _)) ++ (100L to 119L).map(("src2", _))
    val d = Mining.ksOf(ksFrame(disjoint)).collect()(0)
    assert(d.getAs[Long]("ks_ppm") === 1000000L)
    assert(d.getAs[Long]("ks_at_tc") === 20L) // max gap first attained at 20
  }

  test("q242 ks: sf0.001 output matches a BigInt recomputation") {
    val t = Tables.documents(spark, sf)
      .filter(col("source").isin("src1", "src2"))
      .select(col("source"),
        graft.functions.Text.tokenCount(col("text")).cast("long").as("tc"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val a = t.collect { case ("src1", v) => v }.sorted
    val b = t.collect { case ("src2", v) => v }.sorted
    val (n1, n2) = (a.length.toLong, b.length.toLong)
    val values = (a ++ b).distinct.sorted
    val devs = values.map { v =>
      val i = a.count(_ <= v).toLong; val j = b.count(_ <= v).toLong
      (v, (i * n2 - j * n1).abs)
    }
    val m = devs.map(_._2).max
    val got = Mining.ksTwoSample(spark, sf).collect()(0)
    assert(got.getAs[Long]("n1") === n1 && got.getAs[Long]("n2") === n2)
    assert(got.getAs[Long]("ks_ppm") === m * 1000000L / (n1 * n2))
    assert(got.getAs[Long]("ks_at_tc") === devs.filter(_._2 == m).map(_._1).min)
  }

  // ---- q243: band join -------------------------------------------------
  test("q243 band join: bucketed result == naive theta join at sf0.001") {
    val parts = Tables.part(spark, sf)
      .select(col("p_partkey"),
        round(col("p_retailprice") * 100).cast("long").as("cents"))
    val bands = Seq(
      ("b1_budget", 0L, 90500L), ("b2_mid", 90500L, 91500L),
      ("b3_mid_wide", 91000L, 93000L), ("b4_premium", 93000L, 100000L),
      ("b5_all", 90000L, 100000L)).toDF("band", "lo", "hi")
    val naive = parts.crossJoin(bands)
      .filter(col("cents") >= col("lo") && col("cents") < col("hi"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_parts"), sum("cents").as("sum_cents"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val got = Advanced.bandJoin(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === naive)
    // overlapping + containing bands really multi-count: total band
    // memberships exceed the number of priced parts
    val members = got.toSeq.map(_._2).sum
    assert(members > parts.count())
  }

  // ---- q244: histogram overlap ----------------------------------------
  test("q244 overlap: identical histograms 1e6, disjoint 0") {
    val same = (1L to 40L).flatMap(v => Seq(("src1", v * 3), ("src2", v * 3)))
    val s = Mining.histOverlapOf(same.toDF("source", "tc")).collect()(0)
    assert(s.getAs[Long]("overlap_ppm") === 1000000L)
    val disjoint = (1L to 40L).map(("src1", _)) ++
      (10000L to 10039L).map(("src2", _))
    val d = Mining.histOverlapOf(disjoint.toDF("source", "tc")).collect()(0)
    assert(d.getAs[Long]("overlap_ppm") === 0L)
  }

  test("q244 overlap: sf0.001 bounds and bin accounting") {
    val out = Mining.histogramOverlap(spark, sf).collect()(0)
    assert(out.getAs[Long]("overlap_ppm") >= 0L
      && out.getAs[Long]("overlap_ppm") <= 1000000L)
    assert(out.getAs[Long]("n_bins") >= 1L)
    assert(out.getAs[Long]("n1") > 0L && out.getAs[Long]("n2") > 0L)
  }

  test("q240 gini: sf0.001 output matches a BigInt recomputation") {
    val cents = Tables.orders(spark, sf).groupBy("o_custkey")
      .agg((sum(col("o_totalprice").cast("decimal(18,4)")) * 10000)
        .cast("decimal(38,0)").as("cents"))
      .collect()
      .map(r => (r.getLong(0), BigInt(r.getDecimal(1).toBigInteger)))
    val sorted = cents.sortBy(t => (t._2, t._1))
    val n = BigInt(sorted.length)
    val s0 = sorted.map(_._2).sum
    val s1 = sorted.zipWithIndex.map { case ((_, c), i) => BigInt(i + 1) * c }.sum
    val want = ((BigInt(2) * s1 - (n + 1) * s0) * 1000000 / (n * s0)).toLong
    val got = Mining.giniRevenue(spark, sf).collect()(0)
    assert(got.getAs[Long]("n_customers") === n.toLong)
    assert(got.getAs[Long]("total_cents") === s0.toLong)
    assert(got.getAs[Long]("gini_ppm") === want)
  }
}
