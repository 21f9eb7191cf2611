package graft.operators

import graft.Tables
import graft.sources.{IndexCatalog, Warehouse}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Graph analytics over derived relationship graphs (q96): the
  * co-occurrence graph construction + triangle counting, the standard
  * large-graph building block (clustering coefficient, community
  * detection preprocessing), and multi-source BFS hop distances
  * (q130) — the reachability primitive behind crawl-frontier scoring
  * and seed-set expansion over web-scale link graphs.
  */
object Graph {

  /** Multi-source BFS hop distances over an undirected (u, v) edge
    * list: every node reachable from `seeds` within `maxHops` hops,
    * labeled with its EXACT minimum hop count. Unweighted BFS settles
    * a node the first time the frontier reaches it, so each iteration
    * joins only the CURRENT frontier (not all settled nodes) against
    * the edge list and anti-joins out already-settled nodes — per-hop
    * cost tracks the frontier's edge cut, not |V|. The loop is the
    * same checkpoint-disciplined driver iteration as the CC operator
    * (labels stay distributed; the driver sees one is-empty probe per
    * hop), and `maxHops` bounds worst-case work on small-diameter
    * graphs the way the CC loop's maxIter does. Returns (node, dist),
    * dist in [0, maxHops].
    */
  def bfsDistances(edges0: DataFrame, seeds: DataFrame,
                   maxHops: Int): DataFrame = {
    // symmetrize once; consumed every hop
    val edges = edges0.select(col("u"), col("v"))
      .unionAll(edges0.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint(true)
    var settled = seeds.select(col("node")).distinct()
      .withColumn("dist", lit(0L)).localCheckpoint(true)
    var frontier = settled
    var hop = 0
    while (hop < maxHops && frontier.head(1).nonEmpty) {
      hop += 1
      val next = frontier.join(edges, frontier("node") === edges("u"))
        .select(col("v").as("node")).distinct()
        .join(settled, Seq("node"), "left_anti")
        .withColumn("dist", lit(hop.toLong))
        .localCheckpoint(true)
      settled = settled.unionAll(next).localCheckpoint(true)
      frontier = next
    }
    settled
  }

  /** q130: BFS hop distance from the 1-in-50 seed parts over the q96
    * co-purchase graph. The oracle recomputes the same distances with
    * a bounded recursive CTE (path enumeration + MIN(d)) — a genuinely
    * different algorithm, so agreement checks the reachability
    * semantics, not the implementation twice. */
  def bfsFromSeeds(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") % 10 === 0)
      .select("l_orderkey", "l_partkey").distinct()
    val edges = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()
    val nodes = edges.select(col("u").as("node"))
      .unionAll(edges.select(col("v").as("node"))).distinct()
    val seeds = nodes.filter(col("node") % 50 === 0)
    bfsDistances(edges, seeds, maxHops = 4)
      .select(col("node").cast("long").as("node"), col("dist"))
      .orderBy("node")
  }

  // ---- q275: double-sweep diameter lower bound ------------------------
  // The standard cheap diameter estimate (Magnien–Latapy–Habib): BFS
  // from an arbitrary node, re-BFS from the farthest node found, and
  // the second eccentricity is a lower bound that is exact on trees
  // and empirically tight on real graphs — two BFS instead of |V|.
  // Determinism: the start is the MINIMUM node id, the far pivot
  // breaks distance ties by minimum id, and both sweeps are h-bounded
  // (h = 6) so the oracle's recursive CTE terminates identically. The
  // h-bound makes the reported figure "diameter observed within 6
  // hops" — still a valid lower bound, identically in both engines.
  // Scale shape: each sweep is the q130 frontier loop (per-hop cost =
  // frontier edge cut); everything between sweeps is 1-row frames.
  def doubleSweepDiameter(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") % 10 === 0)
      .select("l_orderkey", "l_partkey").distinct()
    val edges = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct().localCheckpoint(true)
    doubleSweepOn(edges, maxHops = 6)
  }

  /** Double-sweep core over an undirected (u, v) edge list — factored
    * so the spec can assert tree-exactness (the bound is the true
    * diameter on any tree). */
  private[graft] def doubleSweepOn(edges: DataFrame,
                                   maxHops: Int): DataFrame = {
    val nodes = edges.select(col("u").as("node"))
      .unionAll(edges.select(col("v").as("node"))).distinct()
    val seed = nodes.agg(min("node").as("node"))
    val d1 = bfsDistances(edges, seed, maxHops)
    val far = d1.orderBy(col("dist").desc, col("node").asc).limit(1)
    val d2 = bfsDistances(edges, far.select("node"), maxHops)
    seed.select(col("node").cast("long").as("seed_node"))
      .crossJoin(broadcast(far.select(col("node").cast("long").as("far_node"),
        col("dist").as("ecc_first"))))
      .crossJoin(broadcast(d2.agg(max("dist").as("diameter_lb"),
        count(lit(1)).as("n_reached"))))
  }

  val doubleSweepDiameterSql: String =
    """WITH RECURSIVE li AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      |  WHERE l_orderkey % 10 = 0),
      |e0 AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |                     AND a.l_partkey < b.l_partkey),
      |edges AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
      |seed AS (SELECT MIN(u) AS node FROM edges),
      |w1(node, d) AS (
      |  SELECT node, 0 FROM seed
      |  UNION
      |  SELECT e.v, w.d + 1 FROM w1 w JOIN edges e ON e.u = w.node
      |  WHERE w.d < 6),
      |d1 AS (SELECT node, MIN(d) AS dist FROM w1 GROUP BY 1),
      |far AS (SELECT node, dist FROM d1 ORDER BY dist DESC, node LIMIT 1),
      |w2(node, d) AS (
      |  SELECT node, 0 FROM far
      |  UNION
      |  SELECT e.v, w.d + 1 FROM w2 w JOIN edges e ON e.u = w.node
      |  WHERE w.d < 6),
      |d2 AS (SELECT node, MIN(d) AS dist FROM w2 GROUP BY 1)
      |SELECT CAST(seed.node AS BIGINT) AS seed_node,
      |       CAST(far.node AS BIGINT) AS far_node,
      |       CAST(far.dist AS BIGINT) AS ecc_first,
      |       CAST((SELECT MAX(dist) FROM d2) AS BIGINT) AS diameter_lb,
      |       CAST((SELECT COUNT(*) FROM d2) AS BIGINT) AS n_reached
      |FROM seed, far""".stripMargin

  val bfsFromSeedsSql: String =
    """WITH RECURSIVE li AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 10 = 0),
      |e0 AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |edges AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
      |nodes AS (SELECT DISTINCT u AS node FROM edges),
      |walk(node, d) AS (
      |  SELECT node, 0 FROM nodes WHERE node % 50 = 0
      |  UNION
      |  SELECT e.v, w.d + 1 FROM walk w JOIN edges e ON e.u = w.node WHERE w.d < 4)
      |SELECT CAST(node AS BIGINT) AS node, CAST(MIN(d) AS BIGINT) AS dist
      |FROM walk GROUP BY 1 ORDER BY 1""".stripMargin

  /** Bounded k-core (onion) peeling over an undirected (u, v) edge
    * list: `rounds` synchronized rounds of "remove every node whose
    * CURRENT degree is < k", labeling removed nodes with their peel
    * round; nodes still standing after the last round are the
    * (provisional) core, labeled 0. Bounded-round peeling is the
    * standard distributed formulation (each round is one grouped
    * degree count + two anti-joins — all equality operations; the
    * round count bounds the driver loop exactly like the CC loop's
    * maxIter), and the fixed round count is what makes the semantics
    * expressible engine-independently (the oracle unrolls the same
    * rounds as nested CTEs — no fixpoint needed). Early-exits when a
    * round removes nothing: every later round is then provably a
    * no-op, so the output is identical to running all `rounds`.
    * Returns (node, peel_round), peel_round in {1..rounds, 0=core}. */
  def onionPeel(edges0: DataFrame, k: Long, rounds: Int): DataFrame = {
    var edges = edges0.select(col("u"), col("v"))
      .unionAll(edges0.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint(true)
    var nodes = edges.select(col("u").as("node")).distinct()
      .localCheckpoint(true)
    var peeled: DataFrame = null
    var r = 0
    var done = false
    while (r < rounds && !done) {
      r += 1
      val deg = edges.groupBy(col("u").as("node"))
        .agg(count(lit(1)).as("deg"))
      val cur = nodes.join(deg, Seq("node"), "left")
        .select(col("node"), coalesce(col("deg"), lit(0L)).as("deg"))
      val removed = cur.filter(col("deg") < k).select("node")
        .localCheckpoint(true)
      if (removed.head(1).isEmpty) done = true
      else {
        val tagged = removed.withColumn("peel_round", lit(r.toLong))
        peeled = if (peeled == null) tagged else peeled.unionAll(tagged)
        nodes = cur.filter(col("deg") >= k).select("node")
          .localCheckpoint(true)
        edges = edges
          .join(removed.withColumnRenamed("node", "u"), Seq("u"), "left_anti")
          .join(removed.withColumnRenamed("node", "v"), Seq("v"), "left_anti")
          .localCheckpoint(true)
      }
    }
    val core = nodes.withColumn("peel_round", lit(0L))
    if (peeled == null) core else peeled.unionAll(core)
  }

  /** q134: 3-round 4-core peeling of the 1-in-20-orders co-purchase
    * graph (sparser than q96's 1-in-10 so the peel actually layers:
    * at sf0.01 the rounds strip 302/41/10 nodes around a 1212-node
    * core — k=2 on the denser graph converged in one round). */
  def onionLayers(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") % 20 === 0)
      .select("l_orderkey", "l_partkey").distinct()
    val edges = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()
    onionPeel(edges, k = 4L, rounds = 3)
      .select(col("node").cast("long").as("node"), col("peel_round"))
      .orderBy("node")
  }

  val onionLayersSql: String = {
    // unroll the three synchronized peel rounds as chained CTEs: the
    // same semantics by a different construction (set subtraction vs
    // the Spark side's iterative anti-joins)
    def round(i: Int): String = {
      val (e, n) = (s"e${i - 1}", s"n${i - 1}")
      s"""d$i AS (SELECT u AS node, COUNT(*) AS deg FROM $e GROUP BY 1),
         |rm$i AS (SELECT $n.node FROM $n LEFT JOIN d$i USING (node)
         |         WHERE COALESCE(deg, 0) < 4),
         |e$i AS (SELECT u, v FROM $e
         |        WHERE u NOT IN (SELECT node FROM rm$i)
         |          AND v NOT IN (SELECT node FROM rm$i)),
         |n$i AS (SELECT node FROM $n ANTI JOIN rm$i USING (node))""".stripMargin
    }
    s"""WITH li AS (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 20 = 0),
       |eu AS (
       |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |e0 AS (SELECT u, v FROM eu UNION SELECT v, u FROM eu),
       |n0 AS (SELECT DISTINCT u AS node FROM e0),
       |${round(1)},
       |${round(2)},
       |${round(3)}
       |SELECT CAST(node AS BIGINT) AS node, CAST(peel_round AS BIGINT) AS peel_round
       |FROM (SELECT node, 1 AS peel_round FROM rm1
       |      UNION ALL SELECT node, 2 FROM rm2
       |      UNION ALL SELECT node, 3 FROM rm3
       |      UNION ALL SELECT node, 0 FROM n3)
       |ORDER BY node""".stripMargin
  }

  /** q96: triangle count on the part co-purchase graph.
    *
    * Graph: distinct undirected edges between parts appearing in the
    * same order (a deterministic 1-in-10 order subset keeps the oracle's
    * definitional 3-way join tractable at verify scale).
    *
    * Counting uses the degree-ordered orientation (Suri &
    * Vassilvitskii, WWW'11 — public literature): orient each edge from
    * its lower-degree endpoint to the higher-degree one (ties by id),
    * count directed wedges u->v, u->w with an edge v->w. Every triangle
    * is counted exactly once, and wedge fan-out is bounded by
    * ORIENTED out-degree ~ sqrt(|E|) even on skewed graphs — the
    * unoriented wedge join explodes quadratically on hub nodes; this is
    * the difference between a plan that survives a power-law graph at
    * scale and one that doesn't. The oracle counts the same triangles
    * with the definitional a<b<c 3-way join.
    */
  /** Degree-ordered triangles from an id-ordered (u < v) undirected
    * edge list — the reusable core (also what the planted-clique spec
    * drives, so the test exercises THIS code, not a copy). */
  def trianglesFromEdges(edges0: DataFrame): DataFrame = {
    val edges = edges0.localCheckpoint(true) // consumed 4x below
    val triangles = closedWedges(edges)
    edges.agg(count(lit(1)).as("n_edges"))
      .crossJoin(triangles.agg(count(lit(1)).as("n_triangles")))
  }

  /** Degree-ordered wedge enumeration + closure — the shared core of
    * q96 (global count) and q252 (per-node coefficients). Input MUST be
    * an id-ordered (u < v) undirected edge list, already checkpointed;
    * output is one row per triangle as (s, x, y) with s the wedge apex
    * and x < y its closing edge (each triangle appears exactly once). */
  private def closedWedges(edges: DataFrame): DataFrame = {
    val deg = edges.select(col("u").as("node"))
      .unionAll(edges.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient: lower (deg, id) -> higher (deg, id)
    val oriented = edges
      .join(deg.withColumnRenamed("node", "u").withColumnRenamed("deg", "du"), "u")
      .join(deg.withColumnRenamed("node", "v").withColumnRenamed("deg", "dv"), "v")
      .select(
        when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("t")))
          .otherwise(struct(col("v").as("s"), col("u").as("t"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.s") === col("e2.s") && col("e1.t") < col("e2.t"))
      .select(col("e1.s").as("s"), col("e1.t").as("x"), col("e2.t").as("y"))
    // close each wedge against the id-ordered undirected edge list —
    // wedges emit x < y, so this is a pure equality join (an OR over
    // both orientations would forfeit the hash join)
    wedges.join(edges, col("x") === col("u") && col("y") === col("v"))
      .select(col("s"), col("x"), col("y"))
  }

  /** Shared q96/q252 graph: distinct undirected co-purchase edges from
    * the deterministic 1-in-10 order subset (id-ordered u < v). */
  private def coPurchaseEdges(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") % 10 === 0)
      .select("l_orderkey", "l_partkey").distinct()
    li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()
  }

  def triangleCount(spark: SparkSession, dir: String): DataFrame =
    trianglesFromEdges(coPurchaseEdges(spark, dir))

  val triangleCountSql: String =
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 10 = 0),
      |edges AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |tri AS (
      |  SELECT COUNT(*) AS n_triangles
      |  FROM edges e1 JOIN edges e2 ON e1.v = e2.u JOIN edges e3
      |    ON e3.u = e1.u AND e3.v = e2.v)
      |SELECT CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
      |       CAST((SELECT n_triangles FROM tri) AS BIGINT) AS n_triangles""".stripMargin

  // ---- q252: local clustering coefficient distribution ----------------
  // Per-node clustering coefficient on the co-purchase graph:
  // lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) for deg ≥ 2 — how close
  // each node's neighborhood is to a clique (Watts & Strogatz 1998,
  // public literature). Per-node triangle counts come from the SAME
  // degree-ordered closed-wedge enumeration as q96 (each triangle
  // lands once as (s,x,y); exploding its three nodes and grouping
  // gives tri(v) with oriented-out-degree-bounded fan-out, never the
  // hub-quadratic neighborhood join). The coefficient is quantized to
  // ppm by integer div and the output is the decile histogram of the
  // lcc distribution plus per-bucket triangle mass — the corpus-sized
  // summary a graph-health dashboard tracks; both engines bucket the
  // identical integers.
  def clusteringCoeff(spark: SparkSession, dir: String): DataFrame =
    lccFromEdges(coPurchaseEdges(spark, dir))

  /** Core over an id-ordered (u < v) undirected edge list — factored so
    * the spec can drive planted graphs (clique lcc=1, star lcc=0)
    * through THIS code. */
  private[graft] def lccFromEdges(edges0: DataFrame): DataFrame = {
    val edges = edges0.localCheckpoint(true) // consumed by deg + wedges
    val tri = closedWedges(edges)
      .select(explode(array(col("s"), col("x"), col("y"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri"))
    val deg = edges.select(col("u").as("node"))
      .unionAll(edges.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    deg.filter(col("deg") >= 2)
      .join(tri, Seq("node"), "left")
      .withColumn("tri", coalesce(col("tri"), lit(0L)))
      .withColumn("lcc_ppm",
        expr("cast(2 * tri as decimal(38,0)) * 1000000" +
          " div (deg * (deg - 1))").cast("long"))
      .groupBy(expr("lcc_ppm * 10 div 1000000").cast("long").as("decile"))
      .agg(count(lit(1)).as("n_nodes"), sum("tri").as("sum_tri"))
      .orderBy("decile")
  }

  val clusteringCoeffSql: String =
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      |  WHERE l_orderkey % 10 = 0),
      |edges AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |                     AND a.l_partkey < b.l_partkey),
      |tri3 AS (
      |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |  FROM edges e1 JOIN edges e2 ON e1.v = e2.u JOIN edges e3
      |    ON e3.u = e1.u AND e3.v = e2.v),
      |tn AS (SELECT node, COUNT(*) AS tri FROM
      |         (SELECT unnest([a, b, c]) AS node FROM tri3) GROUP BY 1),
      |deg AS (SELECT node, COUNT(*) AS deg FROM
      |          (SELECT u AS node FROM edges
      |           UNION ALL SELECT v FROM edges) GROUP BY 1),
      |lcc AS (SELECT CAST(CAST(2 * COALESCE(tn.tri, 0) AS HUGEINT)
      |                 * 1000000 // (deg.deg * (deg.deg - 1)) AS BIGINT)
      |          AS lcc_ppm, COALESCE(tn.tri, 0) AS tri
      |        FROM deg LEFT JOIN tn ON deg.node = tn.node
      |        WHERE deg.deg >= 2)
      |SELECT CAST(lcc_ppm * 10 // 1000000 AS BIGINT) AS decile,
      |       CAST(COUNT(*) AS BIGINT) AS n_nodes,
      |       CAST(SUM(tri) AS BIGINT) AS sum_tri
      |FROM lcc GROUP BY 1 ORDER BY 1""".stripMargin

  /** q106: frequent co-occurrence mining (market-basket pairwise
    * support): top-k part pairs by the number of orders containing
    * both. One self-join on the (distinct) basket contents — the same
    * shuffle shape as q96's edge build — then a grouped count and a
    * TakeOrderedAndProject top-k with full tiebreak. This unguarded
    * form is the exact verifier (the `exactAllPairs` role); the scale
    * lane is [[frequentPairs]] (q110), which runs A-Priori's first
    * pass before any pair is ever emitted. */
  def basketPairs(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey").distinct()
    li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("part_a"), col("b.l_partkey").as("part_b"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
      .limit(10)
  }

  /** A-Priori min-support guard for pairwise basket mining (Agrawal &
    * Srikant, VLDB'94 — public literature): an item in fewer than
    * `minSupport` baskets cannot appear in a pair with support >=
    * `minSupport` (anti-monotonicity), so items are pruned BEFORE the
    * quadratic per-basket pair join ever runs. On skewed real baskets
    * (one hub basket with 10^4 single-support items = 5*10^7 pairs from
    * one row) this is the difference between a plan that survives and
    * one that doesn't: candidate-pair volume tracks SURVIVING items per
    * basket, not basket size². The support pass is one map-side
    * combinable aggregate; the prune is a semi-join (AQE broadcasts it
    * when the frequent-item list is small). Guarded == unguarded
    * filtered to `n >= minSupport` — exactly, not approximately —
    * which GraphSpec asserts and the q110 oracle checks cross-engine. */
  def frequentPairs(baskets: DataFrame, basketCol: String, itemCol: String,
                    minSupport: Long): DataFrame =
    frequentPairCandidates(baskets, basketCol, itemCol, minSupport)
      .groupBy("item_a", "item_b")
      .agg(count(lit(1)).as("n_baskets"))
      .filter(col("n_baskets") >= minSupport)

  /** The post-prune candidate stream (one row per surviving
    * co-occurrence) — exposed so tests can assert the guard's candidate
    * volume directly: sum over baskets of C(surviving_items, 2), NOT
    * C(basket_size, 2). */
  def frequentPairCandidates(baskets: DataFrame, basketCol: String,
                             itemCol: String, minSupport: Long): DataFrame = {
    val b = baskets
      .select(col(basketCol).as("basket"), col(itemCol).as("item"))
      .distinct()
      .localCheckpoint(true) // consumed 2x: support pass + pruned join
    val frequent = b.groupBy("item").agg(count(lit(1)).as("supp"))
      .filter(col("supp") >= minSupport)
      .select("item")
    val pruned = b.join(frequent, Seq("item"), "left_semi")
    pruned.as("a").join(pruned.as("b"),
        col("a.basket") === col("b.basket") && col("a.item") < col("b.item"))
      .select(col("a.basket").as("basket"),
        col("a.item").as("item_a"), col("b.item").as("item_b"))
  }

  /** q110: the guarded lane over the same baskets as q106 — every part
    * pair co-occurring in >= 2 orders. */
  def basketPairsGuarded(spark: SparkSession, dir: String): DataFrame =
    frequentPairs(Tables.lineitem(spark, dir), "l_orderkey", "l_partkey",
        minSupport = 2L)
      .select(col("item_a").as("part_a"), col("item_b").as("part_b"),
        col("n_baskets").as("n_orders"))
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))

  val basketPairsGuardedSql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
      |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
      |       CAST(COUNT(*) AS BIGINT) AS n_orders
      |FROM li a JOIN li b
      |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |GROUP BY 1, 2 HAVING COUNT(*) >= 2
      |ORDER BY n_orders DESC, part_a, part_b""".stripMargin

  val basketPairsSql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |pairs AS (
      |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_orders
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2)
      |SELECT part_a, part_b, CAST(n_orders AS BIGINT) AS n_orders
      |FROM pairs ORDER BY n_orders DESC, part_a, part_b LIMIT 10""".stripMargin

  // ---- q279: association rules (confidence + lift) -------------------
  // The rule-generation half of A-Priori (Agrawal & Srikant, VLDB'94):
  // from q110's guarded frequent pairs, emit BOTH directed rules
  // ant -> cons with confidence = s_ab/s_ant and lift =
  // s_ab·N/(s_ant·s_cons), each in the exact ppm integer channel
  // (cross-multiplied through DECIMAL(38,0)/HUGEINT — at web scale
  // s_ant·s_cons·10⁶ overflows int64 around s ≈ 3e6, the same
  // silent-wrap class the q242/q244 fixes closed). Top-20 by lift
  // with a full tiebreak chain.
  //
  // Shape at scale: the pair mining is q110's A-Priori guarded join
  // (nothing quadratic in basket size survives the prune); supports
  // and the basket count are grouped aggregates of the SAME distinct
  // (basket, item) frame (checkpointed once, consumed three times);
  // both support joins broadcast (|frequent items| rows).
  def assocRules(spark: SparkSession, dir: String): DataFrame =
    assocRulesOf(Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("basket"), col("l_partkey").as("item")))

  /** Rule core over a (basket, item) frame — factored so the spec can
    * plant baskets with hand-computed confidence/lift. */
  private[graft] def assocRulesOf(basketItems: DataFrame): DataFrame = {
    val li = basketItems.select("basket", "item").distinct()
      .localCheckpoint(true) // 3 consumers: N, supports, pair mining
    val nB = li.select("basket").distinct().groupBy()
      .agg(count(lit(1)).as("n_baskets"))
    val supp = li.groupBy("item").agg(count(lit(1)).as("supp"))
    val pairs = frequentPairs(li, "basket", "item", minSupport = 2L)
    val directed = pairs.select(col("item_a").as("ant"),
        col("item_b").as("cons"), col("n_baskets").as("s_ab"))
      .union(pairs.select(col("item_b").as("ant"),
        col("item_a").as("cons"), col("n_baskets").as("s_ab")))
    directed
      .join(broadcast(supp.select(col("item").as("ant"), col("supp").as("s_ant"))),
        Seq("ant"))
      .join(broadcast(supp.select(col("item").as("cons"), col("supp").as("s_cons"))),
        Seq("cons"))
      .crossJoin(broadcast(nB))
      .select(col("ant"), col("cons"), col("s_ab"),
        expr("s_ab * 1000000 div s_ant").as("conf_ppm"),
        expr("""CAST(CAST(s_ab AS DECIMAL(38,0)) * n_baskets * 1000000
                div (CAST(s_ant AS DECIMAL(38,0)) * s_cons) AS BIGINT)""")
          .as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("conf_ppm").desc,
        col("ant"), col("cons"))
      .limit(20)
  }

  val assocRulesSql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
      |            FROM lineitem),
      |nb AS (SELECT COUNT(DISTINCT basket) AS n_baskets FROM li),
      |supp AS (SELECT item, COUNT(*) AS supp FROM li GROUP BY 1),
      |pairs AS (SELECT a.item AS item_a, b.item AS item_b,
      |            COUNT(*) AS s_ab
      |          FROM li a JOIN li b
      |            ON a.basket = b.basket AND a.item < b.item
      |          GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |d AS (SELECT item_a AS ant, item_b AS cons, s_ab FROM pairs
      |      UNION ALL
      |      SELECT item_b AS ant, item_a AS cons, s_ab FROM pairs)
      |SELECT d.ant, d.cons, CAST(d.s_ab AS BIGINT) AS s_ab,
      |       CAST(d.s_ab * 1000000 // sa.supp AS BIGINT) AS conf_ppm,
      |       CAST(CAST(d.s_ab AS HUGEINT) * nb.n_baskets * 1000000
      |            // (CAST(sa.supp AS HUGEINT) * sc.supp) AS BIGINT)
      |         AS lift_ppm
      |FROM d JOIN supp sa ON d.ant = sa.item
      |       JOIN supp sc ON d.cons = sc.item
      |       CROSS JOIN nb
      |ORDER BY lift_ppm DESC, conf_ppm DESC, ant, cons LIMIT 20""".stripMargin

  // ---- q281: butterfly counting (bipartite 2x2 bicliques) ------------
  // The bipartite analogue of q96's triangles (Sariyüce & Pinar,
  // "Peeling Bipartite Networks", WSDM'18 — public literature): a
  // butterfly is two orders sharing two parts, the smallest unit of
  // bipartite clustering and the backbone of co-purchase community
  // metrics. Count = sum over part pairs of C(co_orders, 2), computed
  // from the q106-shaped per-basket pair join — only pairs with
  // co >= 2 can contribute, so the A-Priori guard applies verbatim.
  // C(co, 2) = co*(co-1) div 2 is exact per term (the product of two
  // consecutive integers is even) and runs through DECIMAL(38,0)/
  // HUGEINT: a single hub pair co-occurring in 1e10 baskets squares
  // past int64.
  //
  // Shape at scale: the same distinct + self-join-per-basket + grouped
  // count as q106/q110 (degree-ordered wedge enumeration is the
  // published refinement when per-basket fan-out is unbounded; the
  // prune keeps candidate volume at surviving-items-per-basket², not
  // basket-size²), then a 1-row fold.
  def butterflyCount(spark: SparkSession, dir: String): DataFrame =
    butterfliesOf(Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") % 10 === 0)
      .select(col("l_orderkey").as("basket"), col("l_partkey").as("item")))

  /** Fold core over a (basket, item) frame — factored so the spec can
    * plant a complete 2x3 biclique with a hand-counted 3 butterflies. */
  private[graft] def butterfliesOf(basketItems: DataFrame): DataFrame = {
    val li = basketItems.select("basket", "item").distinct()
    val co = li.as("a").join(li.as("b"),
        col("a.basket") === col("b.basket") && col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("item_a"), col("b.item").as("item_b"))
      .agg(count(lit(1)).as("co"))
    co.groupBy()
      .agg(count(lit(1)).as("n_item_pairs"),
        sum(when(col("co") >= 2L, 1L).otherwise(0L)).as("n_pairs_co2"),
        expr("CAST(SUM(CAST(co AS DECIMAL(38,0)) * (co - 1) div 2) AS BIGINT)")
          .as("n_butterflies"),
        max("co").as("max_co"))
  }

  val butterflyCountSql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
      |            FROM lineitem WHERE l_orderkey % 10 = 0),
      |co AS (SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS co
      |       FROM li a JOIN li b
      |         ON a.basket = b.basket AND a.item < b.item
      |       GROUP BY 1, 2)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_item_pairs,
      |       CAST(SUM(CASE WHEN co >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_pairs_co2,
      |       CAST(SUM(CAST(co AS HUGEINT) * (co - 1) // 2) AS BIGINT)
      |         AS n_butterflies,
      |       CAST(MAX(co) AS BIGINT) AS max_co
      |FROM co""".stripMargin

  // ---- q285: degree assortativity (bipartite part<->supplier) --------
  // Newman's degree assortativity (Phys. Rev. Lett. 89, 2002 — public
  // literature): the Pearson correlation of endpoint degrees across
  // edges. r < 0 (disassortative) is the hub-and-spoke signature —
  // high-degree parts sourced by low-degree suppliers — and decides
  // whether degree-based partitioning splits hubs from leaves. Over the
  // DISTINCT part-supplier edge set; x = part degree, y = supplier
  // degree per edge.
  //
  // Exactness: the six moment sums (n, Σx, Σy, Σxy, Σx², Σy²) are
  // exact DECIMAL(38,0)/HUGEINT integers; ONLY then does each cast to
  // double, and both engines evaluate the identical expression tree
  // (num = n·Σxy − Σx·Σy over sqrt of the two variance terms), so the
  // rounded-6dp r is byte-identical — the q267 PSI double discipline.
  // Σx² ≤ E·D² needs 38 digits long before any realistic corpus does
  // (1e12 edges × 1e12-degree hubs).
  //
  // Shape at scale: two grouped degree counts (each one shuffle of the
  // edge list), two hash joins back onto edges, ONE map-side-combined
  // global fold. No pair enumeration, no windows.
  def degreeAssortativity(spark: SparkSession, dir: String): DataFrame =
    assortativityOf(Tables.lineitem(spark, dir)
      .select(col("l_partkey").as("u"), col("l_suppkey").as("v")))

  /** Assortativity core over a bipartite (u, v) edge frame — factored
    * so the spec can plant a perfectly assortative two-block graph
    * (r = 1) and a star (r undefined: zero variance on one side). */
  private[graft] def assortativityOf(raw: DataFrame): DataFrame = {
    val edges = raw.select("u", "v").distinct()
    val du = edges.groupBy("u").agg(count(lit(1)).as("x"))
    val dv = edges.groupBy("v").agg(count(lit(1)).as("y"))
    edges.join(du, "u").join(dv, "v")
      .select(col("x").cast(DecimalType(38, 0)).as("x"),
        col("y").cast(DecimalType(38, 0)).as("y"))
      .groupBy()
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).cast(DecimalType(38, 0)).as("sxy"),
        sum(col("x") * col("x")).cast(DecimalType(38, 0)).as("sxx"),
        sum(col("y") * col("y")).cast(DecimalType(38, 0)).as("syy"))
      .select(col("n").cast("bigint").as("n_edges"),
        col("sxy").cast("bigint").as("sum_xy"),
        assortColumn.as("assortativity"))
  }

  /** round((n·Σxy − ΣxΣy) / sqrt(vx·vy), 6) with every operand cast to
    * double AFTER the exact integer fold — the identical expression
    * tree the oracle evaluates, so the doubles agree bit-for-bit. */
  private def assortColumn: Column = {
    def d(c: String): Column = col(c).cast("double")
    val vx = d("n") * d("sxx") - d("sx") * d("sx")
    val vy = d("n") * d("syy") - d("sy") * d("sy")
    val num = d("n") * d("sxy") - d("sx") * d("sy")
    round(when(vx * vy === 0d, lit(null)).otherwise(num / sqrt(vx * vy)), 6)
  }

  val degreeAssortativitySql: String =
    """WITH e AS (SELECT DISTINCT l_partkey AS u, l_suppkey AS v
      |           FROM lineitem),
      |du AS (SELECT u, COUNT(*) AS x FROM e GROUP BY 1),
      |dv AS (SELECT v, COUNT(*) AS y FROM e GROUP BY 1),
      |m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |        SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
      |        SUM(CAST(x AS HUGEINT) * y) AS sxy,
      |        SUM(CAST(x AS HUGEINT) * x) AS sxx,
      |        SUM(CAST(y AS HUGEINT) * y) AS syy
      |      FROM e JOIN du USING (u) JOIN dv USING (v))
      |SELECT CAST(n AS BIGINT) AS n_edges, CAST(sxy AS BIGINT) AS sum_xy,
      |       round(CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
      |                       (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |                        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) = 0
      |         THEN NULL
      |         ELSE (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |              / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
      |                     (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
      |         END, 6) AS assortativity
      |FROM m""".stripMargin

  // ---- q146: PageRank (fixed-round, integer-exact) --------------------
  // PageRank (Brin & Page 1998, public literature) over the symmetrized
  // part<->supplier graph from lineitem (supplier nodes offset into
  // their own id space). The web-scale link-analysis primitive a
  // training-data pipeline runs for source-quality weighting.
  //
  // Cross-engine exactness: ranks live in a fixed-point integer channel
  // (1e6 scale). Each round is r' = 150000 + (85 * S) div 100 with
  // S = sum over in-edges of (r div outdeg) — `div` is exact integer
  // floor-division in BOTH engines, every value is nonnegative, and
  // DuckDB's HUGEINT SUM equals Spark's BIGINT sum well inside int64
  // (~n * 1e6 * 85). Truncation loss is deterministic and identical,
  // so five rounds land on byte-identical ranks — the q131/q137
  // integer-ratio rule applied to an iterative algorithm.
  //
  // Scale shape: one (edges join ranks) hash join + one groupBy(dst)
  // per round — the textbook Pregel-style iteration expressed as joins.
  // The edge table with out-degrees is built ONCE and checkpointed;
  // ranks are checkpointed per round (5 rounds of lineage otherwise
  // nest the full join tree). At 100 TB: bucket edges by src so every
  // round's join is co-located (zero-exchange, the q117 layout), and
  // the per-round shuffle is only the groupBy(dst) contribution sum.
  // Symmetrization means no dangling-mass term (every node has
  // out-edges), which keeps the recurrence local — the classic
  // dangling-node correction is a 1-row broadcast aggregate if a
  // directed variant ever needs it.
  private val PageRankRounds = 5
  private val SupplierOffset = 10000000L

  /** Core fixed-round iteration over an arbitrary directed edge table
    * `(src, dst)`. Contract: every node reachable in-round must have at
    * least one out-edge — symmetrize (as [[pageRankEdges]] does) or add
    * self-loops for dangling nodes before calling. Returns the
    * UNSORTED `(node, r)` fixed-point-integer ranks. */
  def pageRankOn(edges: DataFrame, rounds: Int = PageRankRounds): DataFrame =
    pageRankRounds(withOutdeg(edges), rounds, joinHint = None)

  /** [[pageRankOn]] with the per-round join PINNED to sort-merge — the
    * plan shape the unbucketed lane degrades to at 100 TB, where the
    * rank table outgrows any broadcast. At bench scale AQE broadcasts
    * the small rank side of [[pageRankOn]]'s join, which moves the
    * edge volume OFF the shuffle wire (a broadcast is not shuffle
    * traffic) and makes the bucketed layout's byte saving invisible;
    * this variant re-exchanges the O(E) edge table every round, so the
    * measured (bucketed vs merge-unbucketed) shuffle-byte ratio is the
    * like-for-like number behind the "bucketing removes the per-round
    * edge exchange" claim. Identical integer recurrence — same ranks. */
  def pageRankOnMerge(edges: DataFrame, rounds: Int = PageRankRounds): DataFrame =
    pageRankRounds(withOutdeg(edges), rounds, joinHint = Some("merge"))

  /** The identical recurrence over a materialized (src, dst, outdeg)
    * layout — a pinned catalog version ([[pageRankFromCatalog]]) — read
    * in place every round, with the join pinned to sort-merge (see the
    * q179 note below). */
  def pageRankOnLayout(ed: DataFrame,
                       rounds: Int = PageRankRounds): DataFrame =
    pageRankRounds(ed, rounds, joinHint = Some("merge"))

  /** One un-executed ROUND over a layout frame — exposed so the plan
    * audit can count the exchanges a round actually plans. */
  def pageRankRoundFrame(ed: DataFrame): DataFrame =
    pageRankRound(ed, initialRanks(ed), Some("merge"))

  // (src, dst, outdeg), built once and checkpointed: every round reads it
  private def withOutdeg(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    e.join(e.groupBy("src").agg(count(lit(1)).as("outdeg")), Seq("src"))
      .localCheckpoint(true)
  }

  /** The ONE recurrence behind every PageRank lane: any edit here
    * (constants, init, checkpoint discipline) reaches all of them, so
    * the bench's default-vs-comparator numbers cannot silently diverge.
    * Ranks are checkpointed per round, so the result is materialized. */
  private def pageRankRounds(ed: DataFrame, rounds: Int,
                             joinHint: Option[String]): DataFrame =
    (1 to rounds).foldLeft(initialRanks(ed))((r, _) =>
      pageRankRound(ed, r, joinHint).localCheckpoint(true))

  private def initialRanks(ed: DataFrame): DataFrame =
    ed.select(col("src").as("node")).distinct()
      .select(col("node"), lit(1000000L).as("r"))
      .localCheckpoint(true)

  /** r'(dst) = 150000 + (85 * sum over in-edges of r div outdeg) div 100;
    * `joinHint` only pins the join's physical strategy. */
  private def pageRankRound(ed: DataFrame, r: DataFrame,
                            joinHint: Option[String]): DataFrame =
    joinHint.fold(ed)(ed.hint(_)).join(r, ed("src") === r("node"))
      .select(col("dst"), expr("r div outdeg").as("c"))
      .groupBy("dst").agg(sum(col("c")).as("s"))
      .select(col("dst").as("node"),
        expr("150000L + (85L * s) div 100L").as("r"))

  /** q146's symmetrized part<->supplier edge set — exposed so the scale
    * bench can replicate it (re-keyed disjoint copies) and time
    * [[pageRankOn]] alone, with this distinct-heavy input construction
    * kept off the clock. */
  def pageRankEdges(spark: SparkSession, dir: String): DataFrame = {
    val fwd = Tables.lineitem(spark, dir)
      .select(col("l_partkey").as("src"),
        (col("l_suppkey") + SupplierOffset).as("dst"))
      .distinct()
    fwd.unionAll(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
  }

  /** q146 and q179 — PageRank served from the standing bucketed edge
    * layout, the same get-or-publish, vacuum and pinned serve as
    * q24/q34/q311. The layout (family `pr_q146`) is built once per
    * (lineitem fingerprint, bucket count) and every later call — a
    * concurrent one included — serves from it, so the default stops
    * paying the on-clock rebuild (x20 11.3 s with the build vs 9.1 s
    * AQE; serve-only is the q179 wall). The fingerprint is a
    * driver-side METADATA walk of the lineitem source: new data ⇒ new
    * version; same data ⇒ reuse, never a data scan to decide. The two
    * registry keys share this builder and one oracle: whichever runs
    * first builds, the other reuses — the reuse-without-rebuild law,
    * exercised concurrently by Verify's query pool every round. */
  def pageRank(spark: SparkSession, dir: String): DataFrame = {
    val fam = "pr_q146"
    val v = pageRankLayoutGetOrPublish(spark, pageRankEdges(spark, dir), fam,
      fp = Tables.dirFingerprint(s"$dir/lineitem.parquet"))
    IndexCatalog.vacuum(spark, fam)
    pageRankFromCatalog(spark, fam, version = v)
      .orderBy(col("r").desc, col("node").asc).limit(20)
  }

  // ---- q179: PageRank over a BUCKETED edge layout ---------------------
  // The 100 TB layout, proven instead of claimed: edges (with
  // out-degrees precomputed INTO the layout) are written once
  // bucketed+sorted by src, and every round's big join reads that
  // layout in place — the O(E) edge table is never exchanged after the
  // build. The join is PINNED to sort-merge (hint("merge")): per round
  // the rank side pays one O(V) exchange to align with the buckets plus
  // the O(V) contribution aggregate, and that is the whole shuffle
  // bill — down from re-exchanging the O(E) edge table every round.
  // The pin matters twice over: at 100 TB the rank table never fits a
  // broadcast, and at bench scale AQE's per-round rank broadcast
  // MEASURED ~2.5x slower per edge than the bucket-aligned merge join
  // (a fresh ~210k-entry broadcast build + big-map probe, five times
  // over — the x10 lane read 14.7 s vs the x20 lane's 7.6 s before the
  // pin). PlanAuditSpec pins the exchange count; GraphSpec pins
  // rank-identity with the unbucketed lane.

  /** The (src, dst, outdeg) frame a layout build writes: ONE
    * deterministic O(E) exchange at every scale. The first cut joined
    * edges against a groupBy-outdeg aggregate, which let AQE broadcast
    * the outdeg side at small factors (eliding the edge exchange) and
    * flip to sort-merge when the node table outgrew the threshold —
    * shuffling O(E) for the join and handing the byte-law a 139×
    * x20/x1 curve that was a PLAN FLIP, not a regression. Here the
    * edges are repartitioned once by the bucket key and outdeg is a
    * window count over the co-partitioned data (ClusteredDistribution
    * already satisfied — no second exchange), so the build's shuffle
    * is linear in E by construction, the plan is the same one a
    * 100 TB build runs (a billion-node outdeg table never broadcasts),
    * and the pre-shuffle ALSO fixes a real layout defect: bucketBy
    * without repartition writes up to nTasks × nBuckets fragment
    * files; aligned input writes one file per bucket. */
  private def layoutFrame(edges: DataFrame, buckets: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    edges.select(col("src"), col("dst"))
      .repartition(buckets, col("src"))
      .withColumn("outdeg", count(lit(1)).over(Window.partitionBy("src")))
  }

  /** The catalog build closure both layout publish paths share: part
    * `edges`, bucketed and sorted by src, its spec recorded in the
    * manifest so a later process re-registers it as a bucketed table
    * (IndexCatalog.readPart) and keeps the shuffle-free rounds. `edges`
    * is by-name: a get-or-publish reuse hit never constructs it. */
  private def layoutCatalogBuild(edges: => DataFrame, buckets: Int)
      : (Int, String => String) => Seq[IndexCatalog.Part] =
    (_, name) => {
      Warehouse.writeBucketed(layoutFrame(edges, buckets), name("edges"),
        "src", buckets, Some("src"))
      Seq(IndexCatalog.Part("edges", "src", buckets, "src"))
    }

  // bucket count sized to the session's parallelism by default (the
  // bucket-per-executor analog; ranks are bucket-count-invariant)
  private def layoutBuckets(spark: SparkSession, buckets: Int): Int =
    if (buckets > 0) buckets else spark.sparkContext.defaultParallelism

  /** Publish the bucketed (src, dst, outdeg) edge layout into the
    * versioned index catalog as the next version of `family`. Returns
    * the version. */
  def pageRankLayoutPublish(spark: SparkSession, edges: DataFrame,
                            family: String, buckets: Int = -1): Int =
    IndexCatalog.mintParts(spark, family)(
      layoutCatalogBuild(edges, layoutBuckets(spark, buckets)))

  /** Get-or-publish — the PageRank twin of
    * [[Similarity.srpIndexGetOrPublish]]: reuse the current version when
    * it was built from source fingerprint `fp` at the same bucket count
    * (a parallelism change must rebuild, never serve a differently
    * bucketed layout), else publish the next one. Returns the version
    * to pin. */
  def pageRankLayoutGetOrPublish(spark: SparkSession, edges: => DataFrame,
                                 family: String, fp: String,
                                 buckets: Int = -1): Int = {
    val b = layoutBuckets(spark, buckets)
    IndexCatalog.getOrMint(spark, family, IndexCatalog.hexDigest(s"$fp|b$b"))(
      layoutCatalogBuild(edges, b))
  }

  /** PageRank served from a pinned catalog version of the edge layout:
    * a rebuild minting the next version mid-iteration is invisible to
    * this run — every round reads family@v (the q136 snapshot law). */
  def pageRankFromCatalog(spark: SparkSession, family: String,
                          rounds: Int = PageRankRounds,
                          version: Int = -1): DataFrame = {
    val v = IndexCatalog.pin(spark, family, version)
    pageRankOnLayout(IndexCatalog.readPart(spark, family, v, "edges"), rounds)
  }

  val pageRankSql: String = {
    val head =
      s"""WITH fwd AS (SELECT DISTINCT l_partkey AS src,
         |                    l_suppkey + $SupplierOffset AS dst FROM lineitem),
         |e AS MATERIALIZED (SELECT src, dst FROM fwd
         |     UNION SELECT dst, src FROM fwd),
         |d AS MATERIALIZED (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
         |r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM d)""".stripMargin
    val rounds = (1 to PageRankRounds).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT e.dst AS node,
         |         CAST(150000 + (85 * SUM(r.r // d.outdeg)) // 100 AS BIGINT) AS r
         |  FROM e JOIN r${i - 1} r ON e.src = r.node JOIN d ON e.src = d.src
         |  GROUP BY 1)""".stripMargin
    }
    (head +: rounds).mkString(",\n") +
      s"\nSELECT node, r FROM r$PageRankRounds ORDER BY r DESC, node LIMIT 20"
  }

  /** q177: planted DEEP-CHAIN connected components — the diameter
    * stress case for [[Dedup.componentsAdaptive]], oracle-gated.
    *
    * Construction: documents are split into 16 residue groups
    * (doc_id % 16) and consecutive doc_ids WITHIN each group are
    * chained, so every group is one path component whose diameter is
    * |group| - 1 (~31 at sf0.001, ~312 at sf0.1) — far past the
    * 6-round propagation budget, forcing the adaptive default through
    * its star-contraction escalation on every scale the gate runs at.
    * The expected labeling is closed-form (rep = min doc_id of the
    * residue group), so the DuckDB oracle recomputes it with a plain
    * window MIN — no iteration at all — and a hash match proves the
    * log-round algorithm landed the exact per-node labels, not just
    * the component count. The query also REQUIREs convergence: a
    * truncated run fails the gate instead of shipping partial labels. */
  def chainComponents(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("doc_id"))
    val pairs = docs.withColumn("grp", pmod(col("doc_id"), lit(16L)))
      .withColumn("prev", lag("doc_id", 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("prev").as("doc_a"), col("doc_id").as("doc_b"))
    val cc = Dedup.componentsAdaptive(pairs)
    require(cc.converged,
      s"adaptive CC failed to converge in ${cc.iterations} rounds")
    // every doc has a chain neighbor (16 groups, each >= 2 docs at any
    // sf), but coalesce keeps degenerate corpora well-defined anyway
    docs.join(cc.labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("rep"), col("doc_id")).as("rep"))
      .orderBy("doc_id")
  }

  val chainComponentsSql: String =
    """SELECT doc_id, min(doc_id) OVER (PARTITION BY doc_id % 16) AS rep
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- q195: 2-hop reach (friend-of-friend feature) ------------------
  // The classic graph feature a recommender/risk pipeline derives per
  // node: how many DISTINCT nodes are exactly two hops away (reachable
  // through a neighbor, not a neighbor themselves, not self). One
  // equality self-join on the shared middle node + one left-anti
  // against the direct edge set + one two-phase distinct count — the
  // standard shape whose 100 TB risk is hub skew in the middle-node
  // join (AQE skew-split handles it; the per-node count aggregate is
  // map-side combinable).
  def twoHopReach(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") % 10 === 0)
      .select("l_orderkey", "l_partkey").distinct()
    val e0 = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()
    val edges = e0.unionByName(e0.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint(true) // consumed by the 2-hop join AND the anti-join
    val twoHop = edges.select(col("u"), col("v").as("mid"))
      .join(edges.select(col("u").as("mid2"), col("v").as("w")),
        col("mid") === col("mid2"))
      .select(col("u"), col("w"))
      .filter(col("u") =!= col("w"))
      .join(edges.select(col("u"), col("v").as("w")), Seq("u", "w"), "left_anti")
    twoHop.groupBy("u")
      .agg(countDistinct("w").as("n_two_hop"))
      .select(col("u").cast("long").as("node"), col("n_two_hop"))
      .orderBy("node")
  }

  val twoHopReachSql: String =
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      |  WHERE l_orderkey % 10 = 0),
      |e0 AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |       FROM li a JOIN li b
      |         ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |edges AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
      |th AS (SELECT DISTINCT x.u, y.v AS w
      |       FROM edges x JOIN edges y ON x.v = y.u
      |       WHERE x.u <> y.v),
      |ind AS (SELECT th.u, th.w FROM th
      |        LEFT JOIN edges d ON d.u = th.u AND d.v = th.w
      |        WHERE d.u IS NULL)
      |SELECT CAST(u AS BIGINT) AS node, COUNT(*) AS n_two_hop
      |FROM ind GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q196: label propagation (semi-supervised, fixed rounds) -------
  // Community/label spreading beyond the min-label CC family: seeds
  // (node % 50 == 0) carry pinned label = node; three SYNCHRONOUS
  // rounds, each node adopting the MAJORITY label among its labeled
  // neighbors with the smallest-label tie-break; seeds never move.
  // Deterministic end to end (integer votes, total tie order), so the
  // oracle unrolls the same three rounds as chained CTEs — a hash
  // match proves per-node labels after exactly 3 rounds, not a
  // converged fixpoint both engines could reach by different paths.
  //
  // Per round: one equality join (neighbor labels), one grouped count,
  // one min_by argmax — the Pregel-as-joins shape shared with q146;
  // rounds are a bounded driver loop over checkpointed frames.
  private val LabelPropRounds = 3

  def labelPropagation(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") % 10 === 0)
      .select("l_orderkey", "l_partkey").distinct()
    val e0 = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()
    val edges = e0.unionByName(e0.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint(true)
    val nodes = edges.select(col("u").as("node")).distinct()
      .localCheckpoint(true)
    val seeds = nodes.filter(col("node") % 50 === 0)
      .select(col("node"), col("node").as("seed_label"))
    var labels = nodes.join(seeds, Seq("node"), "left")
      .select(col("node"), col("seed_label").as("label"))
      .localCheckpoint(true)
    for (_ <- 1 to LabelPropRounds) {
      val votes = edges
        .join(labels.withColumnRenamed("node", "v"), Seq("v"))
        .filter(col("label").isNotNull)
        .groupBy(col("u").as("node"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      val voted = votes.groupBy("node")
        .agg(min_by(col("label"),
          struct((col("cnt") * -1L).as("neg"), col("label"))).as("voted"))
      labels = nodes
        .join(seeds, Seq("node"), "left")
        .join(voted, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("seed_label"), col("voted")).as("label"))
        .localCheckpoint(true)
    }
    labels.select(col("node").cast("long").as("node"), col("label").cast("long").as("label"))
      .orderBy("node")
  }

  val labelPropagationSql: String = {
    def round(prev: String, cur: String): String =
      s"""v$cur AS (SELECT e.u AS node, l.label, COUNT(*) AS cnt
         |  FROM edges e JOIN $prev l ON l.node = e.v
         |  WHERE l.label IS NOT NULL GROUP BY 1, 2),
         |m$cur AS (SELECT node, label AS voted FROM (
         |    SELECT node, label,
         |           row_number() OVER (PARTITION BY node
         |                              ORDER BY cnt DESC, label) AS rn
         |    FROM v$cur) WHERE rn = 1),
         |$cur AS (SELECT n.node,
         |           COALESCE(s.seed_label, m$cur.voted) AS label
         |         FROM nodes n
         |         LEFT JOIN seeds s ON s.node = n.node
         |         LEFT JOIN m$cur ON m$cur.node = n.node)""".stripMargin
    s"""WITH li AS (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
       |  WHERE l_orderkey % 10 = 0),
       |e0 AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
       |       FROM li a JOIN li b
       |         ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |edges AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
       |nodes AS (SELECT DISTINCT u AS node FROM edges),
       |seeds AS (SELECT node, node AS seed_label FROM nodes WHERE node % 50 = 0),
       |r0 AS (SELECT n.node, s.seed_label AS label FROM nodes n
       |       LEFT JOIN seeds s ON s.node = n.node),
       |${round("r0", "r1")},
       |${round("r1", "r2")},
       |${round("r2", "r3")}
       |SELECT CAST(node AS BIGINT) AS node, CAST(label AS BIGINT) AS label
       |FROM r3 ORDER BY 1""".stripMargin
  }

  // ---- q214: frequent triples (level-wise A-Priori, L3) ---------------
  // The level past q110: 3-itemsets mined level-wise — L1 prunes items,
  // L2 (the q110 frequent pairs) prunes the triple stream by ALL THREE
  // sub-pairs before the support count (anti-monotonicity again: a
  // triple with an infrequent sub-pair cannot be frequent, so the
  // pruning is result-preserving — GraphSpec-style law, and the oracle
  // is the UNPRUNED 3-way join, so the gate proves it). Candidate
  // volume tracks surviving-pairs-per-basket, not basket-size³.
  private val TripleSupport = 2L

  def basketTriples(spark: SparkSession, dir: String): DataFrame = {
    val b = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("basket"), col("l_partkey").as("item"))
      .distinct()
      .localCheckpoint(true) // L1 support pass + pruned stream
    val l1 = b.groupBy("item").agg(count(lit(1)).as("supp"))
      .filter(col("supp") >= TripleSupport).select("item")
    val pruned = b.join(l1, Seq("item"), "left_semi").localCheckpoint(true)
    def side(n: String): DataFrame =
      pruned.select(col("basket"), col("item").as(n))
    val l2 = side("ia").join(side("ib"), Seq("basket"))
      .filter(col("ia") < col("ib"))
      .groupBy("ia", "ib").agg(count(lit(1)).as("n"))
      .filter(col("n") >= TripleSupport)
      .select("ia", "ib")
      .localCheckpoint(true) // three sub-pair prunes consume it
    side("ia").join(side("ib"), Seq("basket")).filter(col("ia") < col("ib"))
      .join(side("ic"), Seq("basket")).filter(col("ib") < col("ic"))
      .join(l2, Seq("ia", "ib"), "left_semi")
      .join(l2.select(col("ia").as("ib"), col("ib").as("ic")),
        Seq("ib", "ic"), "left_semi")
      .join(l2.select(col("ia"), col("ib").as("ic")),
        Seq("ia", "ic"), "left_semi")
      .groupBy("ia", "ib", "ic").agg(count(lit(1)).as("n_baskets"))
      .filter(col("n_baskets") >= TripleSupport)
      .select(col("ia").as("part_a"), col("ib").as("part_b"),
        col("ic").as("part_c"), col("n_baskets").as("n_orders"))
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"),
        col("part_c"))
  }

  val basketTriplesSql: String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
       |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       |       c.l_partkey AS part_c, CAST(COUNT(*) AS BIGINT) AS n_orders
       |FROM li a
       |JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |JOIN li c ON b.l_orderkey = c.l_orderkey AND b.l_partkey < c.l_partkey
       |GROUP BY 1, 2, 3 HAVING COUNT(*) >= $TripleSupport
       |ORDER BY n_orders DESC, part_a, part_b, part_c""".stripMargin

  // ---- q215: personalized PageRank (seed-teleport variant) ------------
  // q146's fixed-round integer channel with the teleport restricted to
  // a SEED set (part nodes with partkey % 100 == 0) — the
  // recommendation/affinity form of link analysis: rank mass diffuses
  // FROM the seeds through the co-purchase graph instead of from a
  // uniform prior, so high ranks mean "close to the seed set", not
  // "globally central". Same per-round join+aggregate shape, same
  // exact integer recurrence (teleport term is seed-conditional), so
  // the 5-round ranks are byte-identical cross-engine.
  private def pprSeed(c: Column): Column =
    pmod(c, lit(100L)) === 0L && c < SupplierOffset

  def personalizedPageRank(spark: SparkSession, dir: String): DataFrame = {
    val e = pageRankEdges(spark, dir).select(col("src"), col("dst"))
    val ed = e.join(
        e.groupBy("src").agg(count(lit(1)).as("outdeg")), Seq("src"))
      .localCheckpoint(true)
    var r = ed.select(col("src").as("node")).distinct()
      .select(col("node"),
        when(pprSeed(col("node")), 1000000L).otherwise(0L).as("r"))
      .localCheckpoint(true)
    for (_ <- 1 to PageRankRounds) {
      r = ed.join(r, ed("src") === r("node"))
        .select(col("dst"), expr("r div outdeg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("s"))
        .select(col("dst").as("node"),
          (when(pprSeed(col("dst")), 150000L).otherwise(0L)
            + expr("(85L * s) div 100L")).as("r"))
        .localCheckpoint(true)
    }
    r.orderBy(col("r").desc, col("node").asc).limit(20)
  }

  val personalizedPageRankSql: String = {
    def seedOf(x: String) = s"$x % 100 = 0 AND $x < $SupplierOffset"
    val head =
      s"""WITH fwd AS (SELECT DISTINCT l_partkey AS src,
         |                    l_suppkey + $SupplierOffset AS dst FROM lineitem),
         |e AS MATERIALIZED (SELECT src, dst FROM fwd
         |     UNION SELECT dst, src FROM fwd),
         |d AS MATERIALIZED (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
         |r0 AS (SELECT src AS node,
         |         CAST(CASE WHEN ${seedOf("src")} THEN 1000000 ELSE 0 END
         |              AS BIGINT) AS r
         |       FROM d)""".stripMargin
    val rounds = (1 to PageRankRounds).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT e.dst AS node,
         |         CAST(CASE WHEN ${seedOf("e.dst")} THEN 150000 ELSE 0 END
         |              + (85 * SUM(r.r // d.outdeg)) // 100 AS BIGINT) AS r
         |  FROM e JOIN r${i - 1} r ON e.src = r.node JOIN d ON e.src = d.src
         |  GROUP BY e.dst)""".stripMargin
    }
    (head +: rounds).mkString(",\n") +
      s"\nSELECT node, r FROM r$PageRankRounds ORDER BY r DESC, node LIMIT 20"
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q214_basket_triples"       -> (basketTriples _),
    "q215_personalized_pagerank" -> (personalizedPageRank _),
    "q195_two_hop"              -> (twoHopReach _),
    "q196_label_prop"           -> (labelPropagation _),
    "q177_chain_cc"             -> (chainComponents _),
    "q179_pagerank_bucketed"    -> (pageRank _),
    "q96_triangle_count"        -> (triangleCount _),
    "q252_clustering_coeff"     -> (clusteringCoeff _),
    "q146_pagerank"             -> (pageRank _),
    "q106_basket_pairs"         -> (basketPairs _),
    "q279_assoc_rules"          -> (assocRules _),
    "q281_butterfly_count"      -> (butterflyCount _),
    "q285_assortativity"        -> (degreeAssortativity _),
    "q110_basket_pairs_guarded" -> (basketPairsGuarded _),
    "q130_bfs_distance"         -> (bfsFromSeeds _),
    "q275_double_sweep_diameter" -> (doubleSweepDiameter _),
    "q134_onion_layers"         -> (onionLayers _))

  val oracles: Map[String, String] = Map(
    "q214_basket_triples"       -> basketTriplesSql,
    "q215_personalized_pagerank" -> personalizedPageRankSql,
    "q195_two_hop"              -> twoHopReachSql,
    "q196_label_prop"           -> labelPropagationSql,
    "q177_chain_cc"             -> chainComponentsSql,
    "q179_pagerank_bucketed"    -> pageRankSql,
    "q96_triangle_count"        -> triangleCountSql,
    "q252_clustering_coeff"     -> clusteringCoeffSql,
    "q146_pagerank"             -> pageRankSql,
    "q106_basket_pairs"         -> basketPairsSql,
    "q279_assoc_rules"          -> assocRulesSql,
    "q281_butterfly_count"      -> butterflyCountSql,
    "q285_assortativity"        -> degreeAssortativitySql,
    "q110_basket_pairs_guarded" -> basketPairsGuardedSql,
    "q130_bfs_distance"         -> bfsFromSeedsSql,
    "q275_double_sweep_diameter" -> doubleSweepDiameterSql,
    "q134_onion_layers"         -> onionLayersSql)
}
