package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (Array[Float]), pure Column expressions end to end.
  *
  * Two paths, same results contract:
  *  - bruteForceTopK: exact. Queries are broadcast (small side), the
  *    corpus streams once — per-partition local top-k via the rank
  *    window after AQE; O(|Q| * |corpus| * dim) FLOPs but zero corpus
  *    shuffle. The correct baseline and the verifier for the ANN path.
  *  - lshTopK: the scale path. Sign-random-projection signatures bucket
  *    the corpus; each query only scores its own bucket's candidates
  *    (probing neighbor buckets via reduced-prefix keys). Recall is
  *    tunable by (bits, probes); at 100 TB this is an equality join on
  *    int keys instead of a cross join.
  *
  * Doubles everywhere (floats cast up before any arithmetic) so results
  * are reproducible across engines; cosine is rounded to 6 places in
  * ranking to absorb last-ulp accumulation differences.
  */
object Similarity {

  /** Float array -> double array. */
  def asDouble(vec: Column): Column = transform(vec, x => x.cast("double"))

  /** Sequential dot product via the codegen'd graft_dot expression (the
    * aggregate/zip_with lambda form runs interpreted per element — see
    * graft.plans.DotProduct). Same index-order accumulation, so values
    * are unchanged. Callers must have registered GraftFunctions (every
    * public method here does). */
  def dot(a: Column, b: Column): Column =
    graft.plans.GraftFunctions.graft_dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column, normA: Column, normB: Column): Column =
    dot(a, b) / (normA * normB)

  /** Exact top-k cosine neighbors for each query vector. Like every
    * library operator here, the result is UNSORTED — a global sort is a
    * range shuffle a caller may not want at scale; the oracle-facing
    * q-entry wrappers add their own deterministic ORDER BY. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      asDouble(col("embedding")).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val c = corpus.select(col("vec_id"), asDouble(col("embedding")).as("cv"))
      .withColumn("cn", norm(col("cv")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(cosine(col("qv"), col("cv"), col("qn"), col("cn")), 6))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cos"))
  }

  /** Deterministic +-1 hyperplanes shared with any md5-capable engine:
    * entry (band, bit, d) is +1 iff the first hex digit of
    * md5("band:bit:d") is >= '8'. Computed ONCE on the driver and
    * embedded as array literals, so the per-row work is `bits` calls to
    * the codegen'd graft_dot — no interpreted lambdas. The DuckDB oracle
    * regenerates the identical planes in SQL from md5. */
  def srpPlanes(band: Int, bits: Int, dim: Int): IndexedSeq[Seq[Double]] = {
    val flat = graft.plans.SrpSignature.planes(band, bits, dim)
    (0 until bits).map(i => flat.slice(i * dim, (i + 1) * dim).toSeq)
  }

  /** Sign-random-projection signature for one hyperplane band: bit i of
    * the result is sign(v . plane_i). Projections are rounded to 6
    * decimals before the sign test so accumulation-order noise can't
    * flip a bucket between engines. One codegen'd expression per band
    * (plans/SrpSignature) — the composed Round/when cascade it replaced
    * dominated the SRP operators' first-call compile time. */
  def srpSignature(vec: Column, band: Int, bits: Int, dim: Int): Column =
    graft.plans.GraftFunctions.srp_sig(vec, band, bits, dim)

  /** Signature width that holds LSH bucket occupancy ~constant as the
    * corpus grows: 2^bits buckets per band should scale with n, so
    * bits = log2(n / targetOccupancy). Candidate generation cost is
    * bands * buckets * occupancy^2 / 2 = O(n * occupancy) — LINEAR in n
    * once occupancy is pinned. With FIXED bits the same cost is
    * O(n^2 / 2^bits): measured 77x wall-time for a 10x corpus at
    * bits=6. The price of wider signatures is per-band recall
    * (p^bits); callers hold overall recall by raising `bands`
    * (recall = 1-(1-p^bits)^bands) — the standard LSH dial. */
  def autoSrpBits(n: Long, targetOccupancy: Int = 32): Int =
    math.max(4, math.ceil(
      math.log(math.max(1.0, n.toDouble / targetOccupancy)) / math.log(2.0)).toInt)

  /** [[srpNearDupPairs]] with the signature width chosen from the
    * corpus size (one cheap count — the index-build pattern). At 100 TB
    * the count is a metadata read from the table's statistics. */
  def srpNearDupPairsAuto(emb: DataFrame, threshold: Double,
                          bands: Int = 16, dim: Int = 64,
                          targetOccupancy: Int = 32): DataFrame =
    srpNearDupPairs(emb, threshold, bands,
      bits = autoSrpBits(emb.count(), targetOccupancy), dim = dim)

  /** ANN top-k via multi-band SRP-LSH with Hamming-1 multi-probe.
    *
    * Each vector gets `bands` INDEPENDENT `bits`-bit signatures (the
    * same OR-of-bands shape as [[srpNearDupPairs]]); a corpus vector is
    * a candidate when, in ANY band, its signature equals the query's
    * signature or a single-bit flip of it. Probing happens on the tiny
    * query side (bands*(bits+1) probe keys per query), so the corpus
    * still shuffles once on (band, sig) 8-byte keys; candidates are
    * deduped BEFORE the exact cosine rerank so each pair is scored once.
    *
    * Recall per true neighbor at angle theta (p = 1 - theta/pi per-bit
    * agreement): a band captures p^b + b*p^(b-1)*(1-p) with Hamming-1
    * probes, and bands OR together: 1-(1-capture)^bands. At the default
    * (16 bands x 8 bits) that is ~0.91 for neighbors near cos 0.4 —
    * the HARD near-uniform regime; real near-dup corpora (cos >= 0.9,
    * p ~ 0.9) saturate at ~1.0. Measured in RecallSpec (>= 0.8
    * asserted on the seeded corpus). Cost dial: fewer bands => fewer
    * candidates, lower recall; the single-band (bands=1) call is the
    * round-2 behavior. */
  /** [[lshTopK]] with the signature width chosen from the corpus size
    * (same scaling law as [[srpNearDupPairsAuto]]: candidate volume per
    * query tracks bucket occupancy n/2^bits, so bits must grow with
    * log2 n or the rerank goes quadratic; recall per band shrinks as
    * p^bits — hold it by raising `bands`). One corpus count, the
    * index-build pattern. */
  def lshTopKAuto(queries: DataFrame, corpus: DataFrame, k: Int,
                  bands: Int = 16, dim: Int = 64,
                  targetOccupancy: Int = 32): DataFrame =
    lshTopK(queries, corpus, k, bands = bands,
      bits = autoSrpBits(corpus.count(), targetOccupancy), dim = dim)

  // `bands` sits AFTER the pre-round-3 (k, bits, dim) parameters so a
  // positional caller from the single-band era keeps its meaning.
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              bits: Int = 8, dim: Int = 64, bands: Int = 16): DataFrame = {
    // eager checkpoints: both frames feed signature generation AND the
    // exact rerank (see srpNearDupPairs for the CacheManager rationale)
    val e = corpus.select(col("vec_id"), asDouble(col("embedding")).as("cv"))
      .withColumn("cn", norm(col("cv")))
      .localCheckpoint(true)
    val q = queries.select(col("vec_id").as("query_id"),
        asDouble(col("embedding")).as("qv"))
      .withColumn("qn", norm(col("qv")))
      .localCheckpoint(true)
    def bandSigs(v: String): Column = array((0 until bands).map(b =>
      struct(lit(b).as("band"), srpSignature(col(v), b, bits, dim).as("sig"))): _*)
    val cBkt = e.select(col("vec_id"), explode(bandSigs("cv")).as("bs"))
      .select(col("vec_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
    val probes = q.select(col("query_id"), explode(bandSigs("qv")).as("bs"))
      .select(col("query_id"), col("bs.band").as("band"),
        explode(array((col("bs.sig") +: (0 until bits).map(j =>
          col("bs.sig").bitwiseXOR(lit(1L << j)))): _*)).as("probe"))
    val cand = cBkt.join(broadcast(probes),
        cBkt("band") === probes("band") && col("sig") === col("probe"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id").distinct()
    val scored = cand.join(e, Seq("vec_id")).join(broadcast(q), Seq("query_id"))
      .withColumn("cos", round(cosine(col("qv"), col("cv"), col("qn"), col("cn")), 6))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cos"))
  }

  /** Embedding near-dup pairs, SRP-bucketed (the scale path, and the
    * oracle-checked q24 form): `bands` independent SRP signatures per
    * vector; a pair is a candidate iff it shares any band's full
    * signature (equality join on (band, sig) long keys — no cartesian);
    * candidates are verified with exact cosine >= threshold. Recall per
    * true pair at angle theta is 1-(1-(1-theta/pi)^bits)^bands —
    * measured against the exact form in SimilaritySpec. */
  def srpNearDupPairs(emb: DataFrame, threshold: Double, bands: Int = 12,
                      bits: Int = 6, dim: Int = 64): DataFrame = {
    // eager checkpoint, not persist: the normalized-vector frame feeds
    // both the band signatures and the verify joins, and CacheManager
    // plan-matching leaks lazily-persisted frames into UNRELATED later
    // queries that contain the same subplan (observed: q25's plan
    // picking up this frame's InMemoryRelation) with erratic timing
    val e = srpVecFrame(emb).localCheckpoint(true)
    srpPairsFrom(e, srpBandIndex(e, bands, bits, dim), threshold)
  }

  /** The (vec_id, v, n) normalized-vector projection both SRP lanes
    * materialize. */
  private def srpVecFrame(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("n", norm(col("v")))

  /** The SRP band index (vec_id, band, sig) — the frame the catalog
    * index persists. */
  private[graft] def srpBandIndex(e: DataFrame, bands: Int, bits: Int,
                                  dim: Int): DataFrame = {
    val bandSigs = (0 until bands).map(b =>
      struct(lit(b).as("band"), srpSignature(col("v"), b, bits, dim).as("sig")))
    e.select(col("vec_id"), explode(array(bandSigs: _*)).as("bs"))
      .select(col("vec_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** Downstream of MATERIALIZED vector + band-index frames
    * (localCheckpoint or persisted tables): banded candidates ->
    * exact-cosine verify. Callers must have materialized both. */
  private[graft] def srpPairsFrom(e: DataFrame, bkt: DataFrame,
                                  threshold: Double): DataFrame = {
    val cand = bkt.as("a").join(bkt.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    cand.join(e.as("x"), col("vec_a") === col("x.vec_id"))
      .join(e.as("y"), col("vec_b") === col("y.vec_id"))
      .select(col("vec_a"), col("vec_b"),
        round(cosine(col("x.v"), col("y.v"), col("x.n"), col("y.n")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** IVF (inverted-file) ANN: k-means centroids partition the corpus
    * into cells; each query exactly scores only the `nProbe` cells
    * whose centroids are nearest. The classic FAISS-style recall/cost
    * dial, built from spark.ml KMeans (seeded => deterministic) and the
    * same exact rerank as the brute-force path. At 100 TB the corpus
    * would be written bucketed by cell id so a probe reads only its
    * buckets. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = corpus.sparkSession

    val c = corpus.select(col("vec_id"), asDouble(col("embedding")).as("cv"))
      .withColumn("features", array_to_vector(col("cv")))
      .localCheckpoint(true) // feeds KMeans.fit AND the assignment scan
    val model = new KMeans().setK(nCells).setSeed(42L).setMaxIter(5)
      .fit(c.select("features"))

    import spark.implicits._
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (v, i) => (i, v.toArray) }.toSeq
      .toDF("cell", "centroid")
    ivfTopKWith(queries, c.select("vec_id", "cv"), centroids, k, nProbe)
  }

  /** IVF core with a caller-supplied centroid table (cell, centroid
    * array<double>): assign each corpus vector to its max-cosine
    * centroid (ties -> lowest cell), probe the query's nProbe nearest
    * cells, exact-rerank inside probed cells. `ivfTopK` feeds it KMeans
    * centroids; `ivfSampledTopK` feeds deterministic seed vectors so the
    * whole operator is reproducible in any SQL engine (the q34 oracle). */
  /** Cell assignment: each corpus vector joins its nearest centroid.
    * Argmax-by-aggregation, not a window: the corpus x centroids
    * expansion collapses back to one row per vector in the map-side
    * partial aggregate, so the shuffle carries |corpus| rows instead of
    * |corpus| x nCells (the tie-break on lowest cell rides inside the
    * max_by key, keeping the pick deterministic and oracle-identical).
    * Returns (vec_id, cv, cn, cell) — the frame Warehouse.writeIvfLayout
    * persists partitioned by cell. */
  def ivfAssign(corpusCv: DataFrame, centroids: DataFrame): DataFrame = {
    val cents = centroids.withColumn("cent_n", norm(col("centroid")))
    val c = corpusCv.withColumn("cn", norm(col("cv")))
    c.crossJoin(broadcast(cents))
      .withColumn("ccos",
        round(cosine(col("cv"), col("centroid"), col("cn"), col("cent_n")), 6))
      .groupBy("vec_id")
      .agg(max_by(col("cell"),
        struct(col("ccos"), (-col("cell")).as("nc"))).as("cell"))
      .join(c, Seq("vec_id"))
      .select("vec_id", "cv", "cn", "cell")
  }

  /** Two-level (hierarchical) cell assignment for LARGE cell counts.
    *
    * Exact [[ivfAssign]] scores every vector against every centroid —
    * n * nCells dots. With [[autoNCells]] (cells ~ n/targetCellSize)
    * that is n^2/targetCellSize: quadratic in the corpus, and it showed
    * — the x20 scale bench measured the exact build at 22.6x the x1
    * wall-time. The standard fix (FAISS routes vectors through a coarse
    * quantizer over its own nlist when nlist is large) is to index the
    * centroids themselves: assign each centroid to one of nSuper
    * super-cells, route each vector to its nearest super-cell
    * (n * nSuper dots), then argmax only over that super-cell's
    * centroids (n * nCells/nSuper expected dots). At nSuper =
    * sqrt(nCells) the build is n * 2*sqrt(nCells) — subquadratic end
    * to end.
    *
    * The routing is APPROXIMATE at super-cell boundaries: a vector
    * whose true nearest centroid lives outside its routed super-cells
    * gets the best cell within them instead — the standard IVF
    * assignment trade (it moves probe recall, never correctness of the
    * rerank, and the spec pins the agreement rate). `superProbes`
    * (FAISS's multi-assign dial) routes each vector through its top-S
    * super-cells — S * nCells/nSuper candidate cells — because a
    * sampled (un-clustered) super layer misfiles boundary vectors
    * often at S=1 (measured 0.42 agreement vs 0.8+ at S=3 on the
    * synthetic corpus). With nSuper = nCells the router IS the exact
    * argmax (every centroid is its own super-cell) — asserted in
    * ScaleBenchSpec. */
  def ivfAssignHierarchical(corpusCv: DataFrame, centroids: DataFrame,
                            nSuper: Int, superProbes: Int = 3): DataFrame = {
    val cents = centroids.withColumn("cent_n", norm(col("centroid")))
      .localCheckpoint(true) // feeds super sample, router, and level-2
    val supers = cents.orderBy("cell").limit(nSuper)
      .select(col("cell").as("super"), col("centroid").as("scent"),
        col("cent_n").as("scent_n"))
    // level 0: each centroid -> its nearest super-cell (tiny x tiny)
    val centSuper = cents.crossJoin(broadcast(supers))
      .withColumn("scos",
        round(cosine(col("centroid"), col("scent"), col("cent_n"), col("scent_n")), 6))
      .groupBy("cell")
      .agg(max_by(col("super"),
        struct(col("scos"), (-col("super")).as("ns"))).as("super"))
      .join(cents, Seq("cell"))
      .select("cell", "centroid", "cent_n", "super")
      .localCheckpoint(true)
    val c = corpusCv.withColumn("cn", norm(col("cv")))
    // level 1: each vector -> its top-S super-cells (n x nSuper dots;
    // the row_number window shuffles the same n x nSuper rows the dots
    // already produced — no extra volume class)
    val vecSuper = c.crossJoin(broadcast(supers))
      .withColumn("scos",
        round(cosine(col("cv"), col("scent"), col("cn"), col("scent_n")), 6))
      .withColumn("srank", row_number().over(
        Window.partitionBy("vec_id").orderBy(desc("scos"), asc("super"))))
      .filter(col("srank") <= superProbes)
      .select("vec_id", "super")
    // level 2: argmax over the routed super-cells' centroids only
    // (n x S*nCells/nSuper expected — the join key prunes the
    // expansion; each cell lives in exactly one super, so the multi-
    // routed union never duplicates a (vec, cell) pair)
    c.join(vecSuper, Seq("vec_id"))
      .join(broadcast(centSuper), Seq("super"))
      .withColumn("ccos",
        round(cosine(col("cv"), col("centroid"), col("cn"), col("cent_n")), 6))
      .groupBy("vec_id")
      .agg(max_by(col("cell"),
        struct(col("ccos"), (-col("cell")).as("nc"))).as("cell"))
      .join(c, Seq("vec_id"))
      .select("vec_id", "cv", "cn", "cell")
  }

  /** Assignment with the algorithm chosen by cell count: exact argmax
    * up to 64 cells (where n * nCells is cheap and exactness is free),
    * the hierarchical router with nSuper = sqrt(nCells) above it. The
    * oracle-checked configurations (<= 16 cells) always take the exact
    * path. Callers that already know the cell count pass it via
    * `nCells` (both auto paths just computed it) — the default -1
    * triggers one count over the (tiny) centroid table. */
  def ivfAssignAuto(corpusCv: DataFrame, centroids: DataFrame,
                    nCells: Long = -1L): DataFrame = {
    val cells = if (nCells >= 0) nCells else centroids.count()
    if (cells <= 64) ivfAssign(corpusCv, centroids)
    // superProbes=5 (vs the spec's baseline 3): assignment misrouting
    // multiplies into SERVING recall (a neighbor filed in the wrong
    // cell is invisible to every probe), and assignment is the
    // once-per-build cost — the right side of the trade to spend on
    else ivfAssignHierarchical(corpusCv, centroids,
      math.ceil(math.sqrt(cells.toDouble)).toInt, superProbes = 5)
  }

  /** Probe-width heuristic for auto-scaled cell counts: nProbe =
    * max(4, 2*ceil(sqrt(nCells))) — the standard IVF dial scaled as
    * sqrt of the cell count (FAISS practice; nCells itself is
    * ~n/targetCellSize). A FIXED nProbe over a growing cell count
    * probes a vanishing corpus fraction and recall decays (measured:
    * recall@5 0.64 at a 10x corpus with nProbe=4 over 157 cells; 0.70
    * at 1*sqrt); the 2x constant buys back the recall that SAMPLED
    * (non-k-means) centroids cost, while per-query probe cost still
    * grows only as sqrt(n) * targetCellSize — strongly sublinear. */
  def autoNProbe(nCells: Int): Int =
    math.max(4, 2 * math.ceil(math.sqrt(nCells.toDouble)).toInt)

  /** Per-query probe cells: the nProbe centroids nearest each query.
    * Returns (query_id, qv, qn, cell). */
  def ivfProbes(queries: DataFrame, centroids: DataFrame,
                nProbe: Int): DataFrame = {
    val cents = centroids.withColumn("cent_n", norm(col("centroid")))
    queries.select(col("vec_id").as("query_id"),
        asDouble(col("embedding")).as("qv"))
      .withColumn("qn", norm(col("qv")))
      .crossJoin(broadcast(cents))
      .withColumn("ccos",
        round(cosine(col("qv"), col("centroid"), col("qn"), col("cent_n")), 6))
      .withColumn("prank", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("ccos"), asc("cell"))))
      .filter(col("prank") <= nProbe)
      .select("query_id", "qv", "qn", "cell")
  }

  /** Exact rerank of probed cells against broadcast probes. */
  private def ivfRerank(assigned: DataFrame, probes: DataFrame,
                        k: Int): DataFrame = {
    val scored = assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(cosine(col("qv"), col("cv"), col("qn"), col("cn")), 6))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cos"))
  }

  def ivfTopKWith(queries: DataFrame, corpusCv: DataFrame,
                  centroids: DataFrame, k: Int, nProbe: Int): DataFrame =
    ivfRerank(ivfAssign(corpusCv, centroids),
      ivfProbes(queries, centroids, nProbe), k)

  /** Production IVF index build: k-means centroids trained on a
    * DETERMINISTIC corpus sample, cell count auto-scaled, assignment
    * auto-routed (exact small, hierarchical large). Returns
    * (assigned corpus, centroids) — feed the first to
    * Warehouse.writeIvfLayout and probe via [[ivfTopKFromLayout]].
    *
    * Training on a sample is the standard coarse-quantizer recipe
    * (FAISS guideline: tens-to-hundreds of points per centroid
    * suffice); fitting on the full corpus costs iterations x n x cells
    * for no recall gain. The sample is hash-threshold
    * (Sampling.hashKeep) so the index build is bit-reproducible —
    * rand()-sampled training would make every rebuild a different
    * index. Falls back to the full corpus when the sample is too thin
    * to seed every cell. */
  def ivfBuildKMeans(corpus: DataFrame, targetCellSize: Int = 128,
                     trainPerCell: Int = 64,
                     seed: Long = 42L): (DataFrame, DataFrame) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = corpus.sparkSession
    val c = corpus.select(col("vec_id"), asDouble(col("embedding")).as("cv"))
      .localCheckpoint(true) // feeds count, training sample, assignment
    val n = c.count()
    val nCells = autoNCells(n, targetCellSize)
    val trainFrac = math.min(1.0, nCells.toDouble * trainPerCell / math.max(1L, n))
    val sampled = c.filter(graft.functions.Sampling.hashKeep(col("vec_id"), trainFrac))
      .localCheckpoint(true) // KMeans iterates over it
    val train = if (sampled.count() < nCells * 2L) c else sampled
    val model = new KMeans().setK(nCells).setSeed(seed).setMaxIter(10)
      .fit(train.select(array_to_vector(col("cv")).as("features")))
    import spark.implicits._
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (v, i) => (i, v.toArray) }.toSeq
      .toDF("cell", "centroid")
      .localCheckpoint(true)
    (ivfAssignAuto(c, centroids, nCells), centroids)
  }

  /** IVF top-k against a PERSISTED cell-partitioned layout
    * (Warehouse.writeIvfLayout): the probed cell ids become a
    * partition-pruning filter on the parquet scan, so each query batch
    * reads ONLY its probe cells' files — the scaladoc promise of
    * [[ivfTopK]] made real. The cell list is a driver scalar (bounded
    * by |queries| * nProbe, like the retail window bounds), which is
    * what lets the filter prune at planning time. */
  def ivfTopKFromLayout(spark: SparkSession, path: String,
                        queries: DataFrame, centroids: DataFrame,
                        k: Int, nProbe: Int): DataFrame = {
    val probes = ivfProbes(queries, centroids, nProbe)
      .localCheckpoint(true) // feeds the cell list AND the rerank join
    val cells = probes.select("cell").distinct().collect().map(_.getInt(0))
    val assigned = spark.read.parquet(path)
      .filter(col("cell").isin(cells.map(Int.box): _*))
    ivfRerank(assigned, probes, k)
  }

  /** IVF with deterministic sampled centroids: the nCells lowest-id
    * corpus vectors seed the cells. Coarser than KMeans but fully
    * engine-reproducible — this is the oracle-checked IVF form; the
    * KMeans form is recall-tested against brute force in its spec. */
  def ivfSampledTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val c = corpus.select(col("vec_id"), asDouble(col("embedding")).as("cv"))
    val centroids = c.orderBy("vec_id").limit(nCells)
      .select(col("vec_id").cast("int").as("cell"), col("cv").as("centroid"))
    ivfTopKWith(queries, c, centroids, k, nProbe)
  }

  /** The catalog build closure both SRP publish paths share: parts
    * `vecs` (bucketed by vec_id — the verify join's probe key) +
    * `bands` (by sig — the candidate self-join's bucket key). `emb` is
    * by-name so a get-or-publish reuse hit never constructs it. */
  private def srpCatalogBuild(emb: => DataFrame, bands: Int, bits: Int,
                              dim: Int, nBuckets: Int)
      : (Int, String => String) => Seq[graft.sources.IndexCatalog.Part] =
    (_, name) => {
      val e = srpVecFrame(emb).localCheckpoint(true) // feeds both writes
      graft.sources.Warehouse.writeBucketed(e, name("vecs"), "vec_id", nBuckets)
      graft.sources.Warehouse.writeBucketed(
        srpBandIndex(e, bands, bits, dim), name("bands"), "sig", nBuckets)
      Seq(graft.sources.IndexCatalog.Part("vecs", "vec_id", nBuckets),
        graft.sources.IndexCatalog.Part("bands", "sig", nBuckets))
    }

  /** Publish the SRP index into the VERSIONED catalog (round-13
    * verdict #3): mints family@vN with parts `vecs` (bucketed by
    * vec_id) + `bands` (by sig) — the two frames [[srpNearDupPairs]]
    * checkpoints, persisted, named and snapshot-isolated. Returns the
    * minted version. */
  def srpIndexPublish(emb: DataFrame, family: String,
                      bands: Int = 12, bits: Int = 6, dim: Int = 64,
                      nBuckets: Int = 8): Int =
    graft.sources.IndexCatalog.mintParts(emb.sparkSession, family)(
      srpCatalogBuild(emb, bands, bits, dim, nBuckets))

  /** Get-or-publish (round-14 verdict #2 — the catalog as the DEFAULT
    * durable path): reuse the current version when it was built from
    * the same source fingerprint, else publish the next one. Returns
    * the version to pin. */
  def srpIndexGetOrPublish(spark: SparkSession, emb: => DataFrame,
                           family: String, fp: String,
                           bands: Int = 12, bits: Int = 6, dim: Int = 64,
                           nBuckets: Int = 8): Int =
    // hyperparameters fold into the reuse key (round-15 advice): same
    // data + different bands/bits/dim/buckets is a DIFFERENT index —
    // the pageRankLayoutGetOrPublish bucket-count discipline, applied here
    graft.sources.IndexCatalog.getOrMint(spark, family,
      graft.sources.IndexCatalog.hexDigest(
        s"$fp|b$bands|w$bits|d$dim|nb$nBuckets"))(
      srpCatalogBuild(emb, bands, bits, dim, nBuckets))

  /** SRP near-dup pairs served from a pinned catalog version: the
    * probe reads family@v (default: current at call time) and a build
    * minting v+1 mid-probe is invisible to it — the q136 snapshot law,
    * asserted in IndexCatalogSpec. */
  def srpPairsFromCatalog(spark: SparkSession, family: String,
                          threshold: Double, version: Int = -1): DataFrame = {
    import graft.sources.IndexCatalog
    val v = IndexCatalog.pin(spark, family, version)
    srpPairsFrom(IndexCatalog.readPart(spark, family, v, "vecs"),
      IndexCatalog.readPart(spark, family, v, "bands"), threshold)
  }

  /** The catalog build closure both IVF publish paths share (see
    * [[srpCatalogBuild]] for the by-name discipline). */
  private def ivfCatalogBuild(corpus: => DataFrame, nCells: Int,
                              nBuckets: Int)
      : (Int, String => String) => Seq[graft.sources.IndexCatalog.Part] =
    (_, name) => {
      val c = corpus.select(col("vec_id"), asDouble(col("embedding")).as("cv"))
        .localCheckpoint(true) // feeds centroid sample AND assignment
      val centroids = c.orderBy("vec_id").limit(nCells)
        .select(col("vec_id").cast("int").as("cell"), col("cv").as("centroid"))
      graft.sources.Warehouse.writeBucketed(centroids, name("cents"), "cell", 1)
      graft.sources.Warehouse.writeBucketed(
        ivfAssign(c, centroids), name("cells"), "cell", nBuckets)
      Seq(graft.sources.IndexCatalog.Part("cents", "cell", 1),
        graft.sources.IndexCatalog.Part("cells", "cell", nBuckets))
    }

  /** Publish the sampled-centroid IVF index into the versioned catalog:
    * parts `cents` + `cells`, both bucketed on cell (the probe join's
    * key) — [[ivfSampledTopK]]'s centroids and assignments, persisted,
    * named and versioned. */
  def ivfIndexPublish(corpus: DataFrame, family: String, nCells: Int = 16,
                      nBuckets: Int = 8): Int =
    graft.sources.IndexCatalog.mintParts(corpus.sparkSession, family)(
      ivfCatalogBuild(corpus, nCells, nBuckets))

  /** Get-or-publish — the IVF twin of [[srpIndexGetOrPublish]]. */
  def ivfIndexGetOrPublish(spark: SparkSession, corpus: => DataFrame,
                           family: String, fp: String, nCells: Int = 16,
                           nBuckets: Int = 8): Int =
    // cell/bucket counts fold into the reuse key — see srpIndexGetOrPublish
    graft.sources.IndexCatalog.getOrMint(spark, family,
      graft.sources.IndexCatalog.hexDigest(s"$fp|c$nCells|nb$nBuckets"))(
      ivfCatalogBuild(corpus, nCells, nBuckets))

  /** IVF top-k served from a pinned catalog version, with no rebuild:
    * centroids route the queries, the assigned cells rerank. */
  def ivfTopKFromCatalog(spark: SparkSession, family: String,
                         queries: DataFrame, k: Int, nProbe: Int,
                         version: Int = -1): DataFrame = {
    import graft.sources.IndexCatalog
    val v = IndexCatalog.pin(spark, family, version)
    ivfRerank(IndexCatalog.readPart(spark, family, v, "cells"),
      ivfProbes(queries, IndexCatalog.readPart(spark, family, v, "cents"),
        nProbe), k)
  }

  /** Cell count that holds IVF probe cost CONSTANT as the corpus grows
    * (the autoSrpBits of IVF): cells = n / targetCellSize pins the
    * expected cell size, so each query exactly-scores ~nProbe *
    * targetCellSize vectors regardless of n. A FIXED cell count is a
    * constant-fraction corpus scan per query (nProbe/nCells * n — a
    * 25%-brute-force at the old 16-cell/4-probe defaults). The price is
    * assignment cost (n * cells centroid dots), which is the ONE-TIME
    * index build: at 100 TB it runs once per layout write
    * (Warehouse.writeIvfLayout) and is amortized over every query
    * batch; sqrt(n) cells is the standard compromise when build and
    * probe share a budget (FAISS guideline), targetCellSize when probe
    * latency rules — probes here read cells off a partition-pruned
    * layout, so pinning bytes-per-probe is the right default. */
  def autoNCells(n: Long, targetCellSize: Int = 128): Int =
    math.max(4, math.ceil(n.toDouble / math.max(1, targetCellSize)).toInt)

  /** [[ivfSampledTopK]] with the cell count chosen from the corpus size
    * (one count — at 100 TB a metadata read, the index-build pattern).
    * At the q34 oracle's corpus (2000 vectors) the auto choice is
    * exactly its fixed nCells=16. The corpus projection is eagerly
    * checkpointed: it feeds the count, the centroid sample, and BOTH
    * sides of the assignment (crossJoin + join-back) — four consumers
    * that AQE otherwise materializes in parallel, recomputing the
    * upstream frame each time (measured 65x wall-time at a 10x corpus
    * in round 4's scale block). */
  def ivfSampledTopKAuto(queries: DataFrame, corpus: DataFrame, k: Int,
                         nProbe: Int = -1,
                         targetCellSize: Int = 128): DataFrame = {
    val c = corpus.select(col("vec_id"), asDouble(col("embedding")).as("cv"))
      .localCheckpoint(true)
    val nCells = autoNCells(c.count(), targetCellSize)
    // nProbe <= 0 -> autoNProbe: sqrt(nCells) keeps recall flat as the
    // auto cell count grows (fixed-4 measured recall@5 0.64 at 10x)
    val np = if (nProbe > 0) nProbe else autoNProbe(nCells)
    val centroids = c.orderBy("vec_id").limit(nCells)
      .select(col("vec_id").cast("int").as("cell"), col("cv").as("centroid"))
      .localCheckpoint(true)
    // auto assignment: exact argmax at small cell counts, hierarchical
    // routing when autoNCells grows past 64 (exact would be quadratic)
    ivfRerank(ivfAssignAuto(c, centroids, nCells),
      ivfProbes(queries, centroids, np), k)
  }

  /** Embedding near-duplicate pairs: all pairs within a subset with
    * cosine >= threshold. The library scale path buckets via
    * srpSignature first; this exact form is the verifier. */
  def nearDupPairs(emb: DataFrame, threshold: Double, maxId: Long): DataFrame = {
    val e = emb.filter(col("vec_id") < maxId)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("n", norm(col("v")))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(cosine(col("a.v"), col("b.v"), col("a.n"), col("b.n")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }
}
