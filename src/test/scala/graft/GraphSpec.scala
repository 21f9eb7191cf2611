package graft

import graft.operators.{Graph, Temporal}
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("triangleCount: degree-ordered count equals the definitional 3-way join") {
    val li = Tables.lineitem(spark, sf)
      .filter(col("l_orderkey") % 10 === 0)
      .select("l_orderkey", "l_partkey").distinct()
    val edges = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()
    val e = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = (for {
      (a, b) <- e
      c <- e.collect { case (`b`, x) => x }
      if e.contains((a, c))
    } yield (a, b, c)).size
    val row = Graph.triangleCount(spark, sf).collect().head
    assert(row.getLong(0) === e.size)
    assert(row.getLong(1) === brute)
    assert(row.getLong(1) > 0)
  }

  test("triangleCount: a planted 4-clique yields exactly 4 triangles") {
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L)).toDF("u", "v")
    val row = Graph.trianglesFromEdges(edges).collect().head
    assert(row.getLong(0) === 7L)
    assert(row.getLong(1) === 4L)
  }

  test("lccFromEdges: clique saturates at 1e6, star at 0, pendant truncates") {
    // K4: every node lcc = 1 -> single decile-10 bucket, tri mass 4·3
    val k4 = (for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b))
      .toDF("u", "v")
    assert(Graph.lccFromEdges(k4).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq((10L, 4L, 12L)))
    // star: only the center has deg >= 2, zero triangles -> decile 0
    val star = (1L to 5L).map(l => (0L, l)).toDF("u", "v")
    assert(Graph.lccFromEdges(star).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq((0L, 1L, 0L)))
    // triangle {1,2,3} + pendant 4 on node 1: node 1 has deg 3, tri 1
    // -> lcc 1/3 -> 333333 ppm -> decile 3 (integer truncation);
    // nodes 2,3 have deg 2, tri 1 -> decile 10; node 4 deg 1 excluded
    val tp = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L)).toDF("u", "v")
    assert(Graph.lccFromEdges(tp).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq((3L, 1L, 1L), (10L, 2L, 2L)))
  }

  test("spikeDays: every flagged day beats 9/8 of its trailing mean") {
    val rows = Temporal.spikeDays(spark, sf).collect()
    rows.foreach { r =>
      val (n, prev7, k) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(k >= 3 && n * 8 * k > 9 * prev7)
    }
    // flags are rare by construction: strictly fewer than half the days
    val nDays = Tables.events(spark, sf).filter(col("event_type") === "error")
      .select(to_date(col("ts"))).distinct().count()
    assert(rows.length < nDays / 2)
  }

  test("basketPairs: top pair counts re-derive from the basket contents") {
    val rows = Graph.basketPairs(spark, sf).collect()
    assert(rows.length === 10)
    val baskets = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (_, vs) => vs.map(_._2).toSet }
    rows.foreach { r =>
      val (a, b, n) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(baskets.count(s => s.contains(a) && s.contains(b)) === n)
    }
    // descending support with deterministic tiebreak
    rows.sliding(2).foreach { case Array(x, y) =>
      assert(x.getLong(2) >= y.getLong(2))
    }
  }

  test("frequentPairs: guard equals unguarded-then-filter; hub basket pruned") {
    // one hub basket (id 1) with 60 singleton-support items — the skew
    // shape that makes the unguarded join emit C(60,2)=1770 pairs from
    // a single row — plus small baskets whose items repeat
    val rows = (1 to 60).map(i => (1L, 1000L + i)) ++
      Seq((2L, 1L), (2L, 2L), (3L, 1L), (3L, 2L), (4L, 1L), (4L, 3L),
        (5L, 1L), (5L, 2L), (5L, 3L))
    val df = rows.toDF("basket", "item")
    val guarded = Graph.frequentPairs(df, "basket", "item", 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute: all pairs from the raw baskets, then filter support >= 2
    val baskets = rows.groupBy(_._1).map { case (_, vs) => vs.map(_._2).toSet }
    val brute = baskets.toSeq
      .flatMap(s => for (a <- s; b <- s if a < b) yield (a, b))
      .groupBy(identity).map { case (p, os) => (p._1, p._2, os.size.toLong) }
      .filter(_._3 >= 2L).toSet
    assert(guarded === brute)
    assert(guarded === Set((1L, 2L, 3L), (1L, 3L, 2L)))
    // candidate volume tracks SURVIVING items (1,2,3), not basket size²:
    // baskets 2,3,4 contribute 1 candidate each, basket 5 contributes 3,
    // the 60-item hub contributes ZERO
    assert(Graph.frequentPairCandidates(df, "basket", "item", 2L).count() === 6L)
    // and the prune is in the physical plan, not an accident of the data
    val plan = Graph.frequentPairs(df, "basket", "item", 2L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"A-Priori semi-join prune missing:\n$plan")
  }

  test("rollingActiveUsers: each day's count equals the brute trailing-7 set") {
    val rows = Temporal.rollingActiveUsers(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val du = Tables.events(spark, sf)
      .filter(col("event_type") === "view")
      .select(datediff(to_date(col("ts")), lit("1970-01-01")).cast("long"),
        col("user_id"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    rows.foreach { case (day, n) =>
      val brute = du.filter { case (d, _) => d >= day - 6 && d <= day }
        .map(_._2).toSet.size
      assert(n === brute, s"day $day")
    }
    assert(rows.nonEmpty)
  }

  test("clusterSizeHistogram: sizes sum back to the clustered doc count") {
    val hist = graft.operators.Llm.clusterSizeHistogram(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val clusters = graft.operators.Llm.dedupClusters(spark, sf).collect()
      .map(_.getLong(1))
    assert(hist.map(_._2).sum === clusters.length)
    assert(hist.map { case (sz, n) => sz * n }.sum === clusters.sum)
    hist.foreach { case (sz, _) => assert(sz > 1) }
  }

  test("gapsAndIslands: islands and gaps re-derive from the day set") {
    val r = Temporal.gapsAndIslands(spark, sf).collect().head
    val days = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase" && col("user_id") % 97 === 0)
      .select(datediff(to_date(col("ts")), lit("1970-01-01")).cast("long"))
      .distinct().collect().map(_.getLong(0)).sorted
    // split into runs of consecutive day numbers
    val runs = days.foldLeft(List.empty[List[Long]]) {
      case (acc, d) if acc.nonEmpty && acc.head.head == d - 1 =>
        (d :: acc.head) :: acc.tail
      case (acc, d) => List(d) :: acc
    }
    assert(r.getLong(0) === runs.size)
    assert(r.getLong(1) === runs.map(_.size).max)
    val starts = runs.map(_.last).sorted // runs are built reversed
    val ends = runs.map(_.head).sorted
    val gaps = starts.drop(1).zip(ends.dropRight(1)).map { case (s, e) => s - e - 1 }
    assert(r.getLong(2) === gaps.max)
  }

  test("topPartsPerFlag: exactly 3 ranked rows per flag, descending revenue") {
    val rows = Temporal.topPartsPerFlag(spark, sf).collect()
    val byFlag = rows.groupBy(_.getString(0))
    byFlag.foreach { case (f, vs) =>
      assert(vs.map(_.getLong(1)).sorted.toSeq === Seq(1L, 2L, 3L), s"flag $f")
      assert(vs.sortBy(_.getLong(1)).map(_.getDouble(3)).toSeq
        .sliding(2).forall { case Seq(a, b) => a >= b; case _ => true }, s"flag $f")
    }
    assert(byFlag.keySet === Set("A", "N", "R"))
  }

  test("onionPeel: layers match hand-computed synchronized peeling") {
    // star (hub 1; leaves 2..4) + triangle 5-6-7 + tail 7-8
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (5L, 6L), (6L, 7L),
      (5L, 7L), (7L, 8L)).toDF("u", "v")
    val got = Graph.onionPeel(edges, k = 2L, rounds = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // round 1: leaves 2,3,4 (deg 1) and 8 (deg 1) peel; hub 1 keeps
    // deg 3 until its leaves go, so it peels round 2; triangle stands
    assert(got === Map(2L -> 1L, 3L -> 1L, 4L -> 1L, 8L -> 1L,
      1L -> 2L, 5L -> 0L, 6L -> 0L, 7L -> 0L))
  }

  test("onionPeel: early-exit equals running all rounds") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("u", "v")
    // triangle at k=2: nothing ever peels; any round budget returns all-core
    val a = Graph.onionPeel(edges, 2L, 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Graph.onionPeel(edges, 2L, 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b && a === Map(1L -> 0L, 2L -> 0L, 3L -> 0L))
  }

  test("bfsDistances: exact hop counts on a handcrafted graph") {
    // path 1-2-3-4-5, branch 3-6, disconnected pair 10-11
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (3L, 6L),
      (10L, 11L)).toDF("u", "v")
    val seeds = Seq(1L).toDF("node")
    val got = Graph.bfsDistances(edges, seeds, maxHops = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 5 is 4 hops out -> excluded by maxHops; 10/11 unreachable
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 6L -> 3L))
  }

  test("bfsDistances: multi-source takes the minimum over seeds") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("u", "v")
    val seeds = Seq(1L, 5L).toDF("node")
    val got = Graph.bfsDistances(edges, seeds, maxHops = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 0L))
  }

  test("bfsFromSeeds: distances match a driver-side BFS over the same graph") {
    val li = Tables.lineitem(spark, sf)
      .filter(col("l_orderkey") % 10 === 0)
      .select("l_orderkey", "l_partkey").distinct()
    val e = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = (e ++ e.map(_.swap)).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val nodes = adj.keySet
    var dist = nodes.filter(_ % 50 == 0).map(_ -> 0L).toMap
    var frontier = dist.keySet
    for (h <- 1 to 4) {
      val next = frontier.flatMap(adj.getOrElse(_, Array.empty[Long]))
        .diff(dist.keySet)
      dist = dist ++ next.map(_ -> h.toLong)
      frontier = next
    }
    val got = Graph.bfsFromSeeds(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === dist)
  }

  test("bucketed PageRank: ranks byte-identical, per-round shuffle drops to O(V)") {
    val edges = Graph.pageRankEdges(spark, sf)
    val plain = Graph.pageRankOn(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fam = "layout_spec_bucketed"
    val v = Graph.pageRankLayoutPublish(spark, edges, fam, buckets = 8)
    val layout = graft.sources.IndexCatalog.readPart(spark, fam, v, "edges")
    try {
      // rank identity: the layout changes WHERE bytes move, never values
      val bucketed = Graph.pageRankOnLayout(layout).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(bucketed === plain, "bucketed ranks diverge from unbucketed")
      // shuffle-volume law (the Metrics half of the proof), in the
      // regime the layout exists for (broadcast off — at 100 TB neither
      // side broadcasts; at toy scale AQE otherwise broadcasts BOTH
      // variants' joins and the difference vanishes): the unbucketed
      // iteration re-exchanges the O(E) edge table every round; the
      // bucketed one reads it in place and shuffles only O(V) rank
      // rows, so its total shuffle write must be well under
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val prev = spark.conf.get(key)
      spark.conf.set(key, "-1")
      try {
        def shuffled(f: => Unit): Long = Metrics.measure(spark)(f).shuffleWriteBytes
        val swPlain = shuffled {
          Graph.pageRankOn(edges).write.mode("overwrite").format("noop").save()
        }
        val swBucketed = shuffled {
          Graph.pageRankOnLayout(layout)
            .write.mode("overwrite").format("noop").save()
        }
        info(f"shuffle write: unbucketed ${swPlain / 1e3}%.0f KB vs bucketed ${swBucketed / 1e3}%.0f KB")
        assert(swBucketed < swPlain * 6 / 10,
          s"bucketed layout should cut per-round shuffle: $swBucketed vs $swPlain")
      } finally spark.conf.set(key, prev)
    } finally graft.sources.IndexCatalog.dropFamily(spark, fam)
  }

  test("layout build: one deterministic O(E) exchange, one file per bucket") {
    // the join form of the build AQE-flipped (broadcast outdeg at small
    // inputs, SMJ at scale) — a 139x x20/x1 byte-law curve that was a
    // plan flip, not data. The window-over-repartition form must plan
    // exactly ONE hashpartitioning exchange with NO join at any
    // broadcast threshold, and the bucket-aligned input must write one
    // file per bucket (bucketBy over unaligned input fragments into up
    // to nTasks x nBuckets files — a real scan-planning cost at scale).
    val edges = Graph.pageRankEdges(spark, sf)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1") // the regime the flip hid in
    val fam = "layout_spec_shape"
    val v =
      try Graph.pageRankLayoutPublish(spark, edges, fam, buckets = 8)
      finally spark.conf.set(key, prev)
    val t = graft.sources.IndexCatalog.partTableName(spark, fam, v, "edges")
    try {
      // checkpointed input, exactly like the bench lanes: the law is
      // about the BUILD's shuffle, not the edge derivation's
      val frame = Graph.pageRankEdges(spark, sf).localCheckpoint(true)
        .select(col("src"), col("dst"))
        .repartition(8, col("src"))
        .withColumn("outdeg", org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("src")))
      frame.write.mode("overwrite").format("noop").save()
      val plan = frame.queryExecution.executedPlan.toString
      assert(!plan.contains("Join"), s"layout frame must not join:\n$plan")
      val nEx = "Exchange hashpartitioning".r.findAllMatchIn(plan).size
      assert(nEx == 1, s"expected exactly 1 exchange, got $nEx:\n$plan")
      // one data file per bucket in the written layout
      val loc = new java.io.File(new java.net.URI(
        spark.conf.get("spark.sql.warehouse.dir")).getPath,
        t.toLowerCase(java.util.Locale.ROOT))
      val dataFiles = Option(loc.listFiles()).getOrElse(Array.empty)
        .count(f => f.getName.endsWith(".parquet"))
      assert(dataFiles == 8, s"expected 8 bucket files, got $dataFiles")
      // outdeg semantics unchanged: window count == groupBy count
      val winDeg = spark.table(t).select("src", "outdeg").distinct()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val aggDeg = edges.groupBy("src").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(winDeg === aggDeg, "window outdeg diverges from groupBy outdeg")
    } finally graft.sources.IndexCatalog.dropFamily(spark, fam)
  }

  test("standing layout: serve ≡ build-then-serve, reuse without rebuild, " +
      "concurrent same-key callers share one table") {
    val edges = Graph.pageRankEdges(spark, sf)
    val fam = "spec_standing_" + math.abs(this.hashCode())
    val fp = "ab12cd34"
    graft.sources.IndexCatalog.dropFamily(spark, fam)
    try {
      // build-then-serve (the explicit path) as the reference ranks
      def ranks(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
        df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val refFam = "layout_spec_ref"
      val ref =
        try {
          val vRef = Graph.pageRankLayoutPublish(spark, edges, refFam, buckets = 8)
          ranks(Graph.pageRankFromCatalog(spark, refFam, version = vRef))
        } finally graft.sources.IndexCatalog.dropFamily(spark, refFam)
      // standing path: first call builds (and publishes family@v1)...
      val v1 = Graph.pageRankLayoutGetOrPublish(spark, edges, fam, fp)
      val served = ranks(Graph.pageRankFromCatalog(spark, fam, version = v1))
      assert(served === ref, "standing-layout ranks diverge from build-then-serve")
      // ...reuse-without-rebuild: same family+fingerprint returns the
      // SAME version and a poisoned edge frame proves the frame is never
      // reconstructed (the by-name law, now held by the catalog)
      val poisoned = spark.range(1).selectExpr(
        "assert_true(false) as src", "id as dst")
      val v2 = Graph.pageRankLayoutGetOrPublish(spark, poisoned.toDF(), fam, fp)
      assert(v2 === v1, "reuse hit must return the standing version")
      // a CHANGED fingerprint rebuilds into the next version
      val v3 = Graph.pageRankLayoutGetOrPublish(spark, edges, fam, "ffff0000")
      assert(v3 !== v1, "new fingerprint must mint a new version")
      // concurrent same-key callers (the round-13 advice race): all
      // land on one version, nobody's serve is dropped out from under it
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val versions = Await.result(
        Future.sequence((1 to 4).map(_ => Future(
          Graph.pageRankLayoutGetOrPublish(spark, edges, fam, fp)))), 2.minutes)
      assert(versions.distinct.size === 1)
    } finally graft.sources.IndexCatalog.dropFamily(spark, fam)
  }

  test("q275 double sweep is exact on trees and from the worst seed") {
    import spark.implicits._
    // a "broom": path 10-11-12-13-14 with extra twigs 13-20, 13-21.
    // min node = 10 (an endpoint); true diameter = 4 (10..14 or 10..20)
    val broom = Seq((10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L),
      (13L, 20L), (13L, 21L)).toDF("u", "v")
    val r = graft.operators.Graph.doubleSweepOn(broom, 6).head()
    assert(r.getAs[Long]("seed_node") === 10L)
    assert(r.getAs[Long]("ecc_first") === 4L)
    assert(r.getAs[Long]("diameter_lb") === 4L)
    assert(r.getAs[Long]("n_reached") === 7L)
    // seed in the MIDDLE (min node 0 is the center): first sweep sees
    // ecc 2, the pivot jumps to an endpoint, second sweep finds the
    // true diameter 4 — the whole point of the double sweep
    val star = Seq((0L, 1L), (1L, 3L), (0L, 2L), (2L, 4L)).toDF("u", "v")
    val r2 = graft.operators.Graph.doubleSweepOn(star, 6).head()
    assert(r2.getAs[Long]("ecc_first") === 2L)
    assert(r2.getAs[Long]("diameter_lb") === 4L)
  }

  test("q279 assoc rules: hand-computed confidence and lift") {
    import spark.implicits._
    // baskets: {A,B}, {A,B}, {A,C}, {B} -> N=4, supp A=3 B=3 C=1;
    // only pair (A,B) reaches minSupport 2. conf(A->B) = 2/3,
    // lift = 2*4/(3*3) = 8/9; duplicate (basket, item) rows must not
    // inflate supports (basket 1 lists A twice).
    val li = Seq((1L, "A"), (1L, "A"), (1L, "B"), (2L, "A"), (2L, "B"),
      (3L, "A"), (3L, "C"), (4L, "B")).toDF("basket", "item")
    val got = graft.operators.Graph.assocRulesOf(li).collect()
      .map(r => (r.getAs[String]("ant"), r.getAs[String]("cons"),
        r.getAs[Long]("s_ab"), r.getAs[Long]("conf_ppm"),
        r.getAs[Long]("lift_ppm"))).toSeq.sorted
    assert(got === Seq(
      ("A", "B", 2L, 666666L, 888888L),
      ("B", "A", 2L, 666666L, 888888L)))
  }

  test("q281 butterflies: hand-counted bicliques; duplicate rows ignored") {
    import spark.implicits._
    // baskets {1: XYZ, 2: XYZ} = complete 2x3 biclique: item pairs
    // XY/XZ/YZ each co-occur in both baskets -> C(2,2) = 1 butterfly
    // each, 3 total. Basket 1 lists X twice - distinct() must dedup.
    val bi = Seq((1L, "X"), (1L, "X"), (1L, "Y"), (1L, "Z"),
      (2L, "X"), (2L, "Y"), (2L, "Z")).toDF("basket", "item")
    val r = graft.operators.Graph.butterfliesOf(bi).head()
    assert(r.getAs[Long]("n_item_pairs") === 3L)
    assert(r.getAs[Long]("n_pairs_co2") === 3L)
    assert(r.getAs[Long]("n_butterflies") === 3L)
    assert(r.getAs[Long]("max_co") === 2L)
    // add basket {3: XY}: pair XY now co=3 -> C(3,2)=3; XZ,YZ stay 1
    // each -> 5 butterflies total
    val bi2 = bi.unionAll(Seq((3L, "X"), (3L, "Y")).toDF("basket", "item"))
    val r2 = graft.operators.Graph.butterfliesOf(bi2).head()
    assert(r2.getAs[Long]("n_butterflies") === 5L)
    assert(r2.getAs[Long]("max_co") === 3L)
  }

  test("q285 assortativity: matched blocks give r=1, a star is undefined") {
    import spark.implicits._
    // K2,2 (all degrees 2) + K1,1 (degrees 1): x == y on every edge,
    // so r = 1 exactly. Moments: n=5, sx=sy=9, sxy=sxx=syy=17 ->
    // num = 5*17-81 = 4, vx = vy = 4, r = 4/sqrt(16) = 1.
    val blocks = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L),
      (3L, 12L)).toDF("u", "v")
    val r = graft.operators.Graph.assortativityOf(blocks).head()
    assert(r.getAs[Long]("n_edges") === 5L)
    assert(r.getAs[Long]("sum_xy") === 17L)
    assert(r.getAs[Double]("assortativity") === 1.0)
    // star: every edge sees x = 3 (zero variance) -> r is NULL, not a
    // divide-by-zero NaN
    val star = Seq((1L, 10L), (1L, 11L), (1L, 12L)).toDF("u", "v")
    val r2 = graft.operators.Graph.assortativityOf(star).head()
    assert(r2.isNullAt(r2.fieldIndex("assortativity")))
  }
}
