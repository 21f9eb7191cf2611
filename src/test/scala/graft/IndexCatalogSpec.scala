package graft

import graft.operators.{Dedup, Graph, Similarity}
import graft.sources.IndexCatalog
import org.apache.spark.sql.functions._

/** Versioned index catalog (round-13 verdict #3): named families whose
  * builds mint versions behind an atomically-published manifest, with
  * the q136 snapshot-isolation law per index family — a probe pinned
  * at version v is byte-stable while a NEW build lands, vacuum
  * reclaims only unpinnable history, and the cross-process
  * directory-fallback read serves the same rows. */
class IndexCatalogSpec extends SparkSpec {

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private def topk(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Double)] =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet

  private def ranks(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("SRP family: probe pinned at v1 is stable while v2 lands; current follows") {
    val fam = "spec_srp_" + math.abs(this.hashCode())
    IndexCatalog.dropFamily(spark, fam)
    try {
      val emb = Tables.embeddings(spark, sf)
      val a = emb.filter(col("vec_id") < 400)
      val b = emb.filter(col("vec_id") >= 100 && col("vec_id") < 500)
      val v1 = Similarity.srpIndexPublish(a, fam)
      assert(v1 === 1)
      val atV1 = pairs(Similarity.srpPairsFromCatalog(spark, fam, 0.4))
      assert(atV1 === pairs(Similarity.srpNearDupPairs(a, threshold = 0.4)),
        "catalog-served pairs must equal the in-memory lane at v1")
      // a NEW build lands — the pinned probe must not move
      val v2 = Similarity.srpIndexPublish(b, fam)
      assert(v2 === 2)
      assert(pairs(Similarity.srpPairsFromCatalog(spark, fam, 0.4,
        version = v1)) === atV1, "v1 probe changed after v2 landed")
      // an unpinned probe follows current
      val atV2 = pairs(Similarity.srpPairsFromCatalog(spark, fam, 0.4))
      assert(atV2 === pairs(Similarity.srpNearDupPairs(b, threshold = 0.4)))
      assert(atV2 !== atV1, "corpora differ; the law needs distinct outputs")
    } finally IndexCatalog.dropFamily(spark, fam)
  }

  test("IVF family: pinned top-k stable across a new build") {
    val fam = "spec_ivf_" + math.abs(this.hashCode())
    IndexCatalog.dropFamily(spark, fam)
    try {
      val emb = Tables.embeddings(spark, sf)
      val a = emb.filter(col("vec_id") < 400)
      val b = emb.filter(col("vec_id") >= 100 && col("vec_id") < 500)
      val q = emb.filter(col("vec_id") < 16)
      val v1 = Similarity.ivfIndexPublish(a, fam)
      val atV1 = topk(Similarity.ivfTopKFromCatalog(spark, fam, q, 5, 4))
      assert(atV1 === topk(Similarity.ivfSampledTopK(q, a, 5)),
        "catalog-served top-k must equal the in-memory lane at v1")
      Similarity.ivfIndexPublish(b, fam)
      assert(topk(Similarity.ivfTopKFromCatalog(spark, fam, q, 5, 4,
        version = v1)) === atV1, "v1 probe changed after v2 landed")
      assert(topk(Similarity.ivfTopKFromCatalog(spark, fam, q, 5, 4)) ===
        topk(Similarity.ivfSampledTopK(q, b, 5)))
    } finally IndexCatalog.dropFamily(spark, fam)
  }

  test("LSH family: pinned pair set stable across a new build") {
    val fam = "spec_lsh_" + math.abs(this.hashCode())
    IndexCatalog.dropFamily(spark, fam)
    try {
      val docs = Tables.documents(spark, sf)
      val a = docs.filter(col("doc_id") < 300)
      val b = docs.filter(col("doc_id") >= 100 && col("doc_id") < 400)
      def p(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
        df.select("doc_a", "doc_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val v1 = Dedup.lshIndexPublish(a, "doc_id", "text", fam)
      val atV1 = p(Dedup.minhashLshPairsFromCatalog(spark, fam))
      assert(atV1 === p(Dedup.minhashLshPairs(a, "doc_id", "text")),
        "catalog-served pairs must equal the checkpoint lane at v1")
      Dedup.lshIndexPublish(b, "doc_id", "text", fam)
      assert(p(Dedup.minhashLshPairsFromCatalog(spark, fam,
        version = v1)) === atV1, "v1 probe changed after v2 landed")
      assert(p(Dedup.minhashLshPairsFromCatalog(spark, fam)) ===
        p(Dedup.minhashLshPairs(b, "doc_id", "text")))
    } finally IndexCatalog.dropFamily(spark, fam)
  }

  test("PageRank family: pinned ranks stable across a new layout build") {
    val fam = "spec_pr_" + math.abs(this.hashCode())
    IndexCatalog.dropFamily(spark, fam)
    try {
      val edges = Graph.pageRankEdges(spark, sf)
      val shifted = edges.select((col("src") + 1000000L).as("src"),
        (col("dst") + 1000000L).as("dst"))
      val v1 = Graph.pageRankLayoutPublish(spark, edges, fam)
      val atV1 = ranks(Graph.pageRankFromCatalog(spark, fam))
      assert(atV1 === ranks(Graph.pageRankOn(edges)),
        "catalog-served ranks must equal the in-memory recurrence at v1")
      Graph.pageRankLayoutPublish(spark, shifted, fam)
      assert(ranks(Graph.pageRankFromCatalog(spark, fam, version = v1)) ===
        atV1, "v1 probe changed after v2 landed")
      assert(ranks(Graph.pageRankFromCatalog(spark, fam)) ===
        ranks(Graph.pageRankOn(shifted)))
    } finally IndexCatalog.dropFamily(spark, fam)
  }

  test("PageRank layout publish records its bucket spec in the manifest") {
    // without the spec a later process's readPart reads the layout as
    // plain parquet and every round re-exchanges the edge table
    val fam = "spec_prspec_" + math.abs(this.hashCode())
    IndexCatalog.dropFamily(spark, fam)
    try {
      val v = Graph.pageRankLayoutPublish(spark, Graph.pageRankEdges(spark, sf),
        fam, buckets = 4)
      val m = IndexCatalog.readManifest(spark, fam).get
      assert(m.versions.find(_.v == v).get.parts ===
        Seq(IndexCatalog.Part("edges", "src", 4, "src")))
    } finally IndexCatalog.dropFamily(spark, fam)
  }

  test("q117 rides the catalog: one family, no graft_*_bkt_* directory written") {
    val wh = new java.io.File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath)
    // a persistent warehouse may hold leftovers of earlier runs, so the
    // law is that these calls write none, not that none exists
    def bkt(): Map[String, Long] = Option(wh.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.matches("graft_.*_bkt_.*"))
      .map(f => f.getName -> f.lastModified()).toMap
    val before = bkt()
    graft.sources.Bucketed.bucketedJoin(spark, sf).collect()
    graft.sources.Bucketed.colocatedJoinFrame(spark, sf).count()
    val written = bkt().filter { case (n, t) => !before.get(n).contains(t) }
    assert(written.isEmpty, s"q117 wrote session-named tables: ${written.keys}")
    val m = IndexCatalog.readManifest(spark, "coloc_q117")
    assert(m.flatMap(m => m.versions.find(_.v == m.current)).map(_.parts) ===
      Some(Seq(IndexCatalog.Part("li", "l_orderkey", 8, "l_orderkey"),
        IndexCatalog.Part("ord", "o_orderkey", 8, "o_orderkey"))))
  }

  test("vacuum drops only unpinnable history and crashed-build orphans") {
    val fam = "spec_vac_" + math.abs(this.hashCode())
    IndexCatalog.dropFamily(spark, fam)
    try {
      val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 200)
      (1 to 3).foreach(_ => Similarity.srpIndexPublish(emb, fam))
      // a crashed build: tables on disk, never admitted by the manifest
      val orphan = IndexCatalog.tableName(fam, 99, "vecs")
      emb.limit(1).write.mode("overwrite").saveAsTable(orphan)
      // grace not yet passed: nothing may go (a reader could hold v1)
      assert(IndexCatalog.vacuum(spark, fam, keep = 1).isEmpty)
      // grace passed: v1+v2 and the orphan go, v3 (current) stays
      // (version dirs carry a mint suffix — `_v1p<pid>n<k>_` — since
      // round 15, so match on the version marker, not `_v1_`)
      val dropped = IndexCatalog.vacuum(spark, fam, keep = 1, graceMs = 0)
      def hasV(n: Int) = dropped.exists(_.matches(s".*_v$n[a-z0-9]*_.*"))
      assert(hasV(1) && hasV(2))
      assert(hasV(99), "orphan must be vacuumed")
      assert(!hasV(3))
      // current still serves; the vacuumed version now refuses clearly
      assert(pairs(Similarity.srpPairsFromCatalog(spark, fam, 0.4)).nonEmpty
        || true) // probe must not throw
      val e = intercept[IllegalArgumentException] {
        Similarity.srpPairsFromCatalog(spark, fam, 0.4, version = 1)
          .collect()
      }
      assert(e.getMessage.contains("vacuumed"))
      // manifest no longer lists the dead versions
      val m = IndexCatalog.readManifest(spark, fam).get
      assert(m.versions.map(_.v) === Seq(3) && m.current === 3)
    } finally IndexCatalog.dropFamily(spark, fam)
  }

  test("readPart falls back to the table directory when no catalog entry " +
      "exists (cross-process read with the in-memory catalog)") {
    val fam = "spec_fb_" + math.abs(this.hashCode())
    IndexCatalog.dropFamily(spark, fam)
    try {
      val df = spark.range(10).selectExpr("id", "id * 2 as y")
      val wh = new java.io.File(new java.net.URI(
        spark.conf.get("spark.sql.warehouse.dir")).getPath)
      // build writes a plain parquet DIRECTORY at the table location —
      // exactly what a later JVM sees of a managed table after the
      // in-memory catalog died with its writer
      IndexCatalog.mintParts(spark, fam) { (v, name) =>
        df.write.mode("overwrite").parquet(
          new java.io.File(wh, name("part")).getPath)
        Seq(IndexCatalog.Part("part"))
      }
      val got = IndexCatalog.readPart(spark, fam, 1, "part")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    } finally IndexCatalog.dropFamily(spark, fam)
  }

  test("dropFamily is exact: dropping `f` leaves sibling family `f_docs` intact") {
    val base = "spec_pfx_" + math.abs(this.hashCode())
    val sibling = base + "_docs"
    IndexCatalog.dropFamily(spark, base)
    IndexCatalog.dropFamily(spark, sibling)
    try {
      val df = spark.range(5).selectExpr("id", "id * 3 as y")
      def publish(fam: String): Unit =
        IndexCatalog.mintParts(spark, fam) { (_, name) =>
          df.write.mode("overwrite").saveAsTable(name("part"))
          Seq(IndexCatalog.Part("part"))
        }
      publish(base); publish(sibling)
      IndexCatalog.dropFamily(spark, base)
      assert(IndexCatalog.currentVersion(spark, base).isEmpty)
      assert(IndexCatalog.currentVersion(spark, sibling) === Some(1),
        "dropping the prefix family must not delete the sibling's manifest")
      assert(IndexCatalog.readPart(spark, sibling, 1, "part").count() === 5L,
        "sibling family's version tables must survive the prefix drop")
    } finally IndexCatalog.dropFamily(spark, sibling)
  }

  test("family rule: every entry point refuses a name with _v<digit>") {
    // a family `f_v2` would write `graft_idx_f_v2_v1_*`, which is also
    // a version directory of family `f`; refusing the name is what lets
    // vacuum and dropFamily sweep `f`'s prefix without reading siblings
    val bad = "spec_rule_v2"
    def refused(call: => Any): Unit = {
      val e = intercept[IllegalArgumentException](call)
      assert(e.getMessage.contains(bad), s"refusal must name the family: $e")
    }
    var builds = 0
    def build(v: Int, name: String => String): Seq[IndexCatalog.Part] = {
      builds += 1
      Seq(IndexCatalog.Part("part"))
    }
    refused(IndexCatalog.mintParts(spark, bad)(build))
    refused(IndexCatalog.getOrMint(spark, bad, "aa11")(build))
    refused(IndexCatalog.vacuum(spark, bad))
    refused(IndexCatalog.dropFamily(spark, bad))
    assert(builds === 0, "a refused family must never reach its build")
    // names in use stay valid: `_v` not followed by a digit, and digits
    // not preceded by `_v`
    Seq("pr_q146", "lsh_q311", "srp_q24", "ivf_q34", "srp_bench_x10",
      "lsh_q22_served_bench", "spec_vacuum", "v2_spec").foreach(f =>
      assert(IndexCatalog.tableName(f, 1, "part") === s"graft_idx_${f}_v1_part"))
  }

  test("mint survives a manifest with a current= header but no version lines") {
    val fam = "spec_hdr_" + math.abs(this.hashCode())
    IndexCatalog.dropFamily(spark, fam)
    try {
      val wh = new java.io.File(new java.net.URI(
        spark.conf.get("spark.sql.warehouse.dir")).getPath)
      wh.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(wh, s"graft_idx_${fam}_manifest.txt").toPath,
        "current=3\n".getBytes)
      val v = IndexCatalog.mintParts(spark, fam) { (_, name) =>
        spark.range(3).write.mode("overwrite").saveAsTable(name("part"))
        Seq(IndexCatalog.Part("part"))
      }
      assert(v === 1, "numbering restarts when no version lines survive")
      assert(IndexCatalog.readPart(spark, fam, v, "part").count() === 3L)
    } finally IndexCatalog.dropFamily(spark, fam)
  }

  test("getOrMint: same fingerprint reuses the current version without " +
      "invoking the build; a changed fingerprint mints the next one") {
    val fam = "spec_gom_" + math.abs(this.hashCode())
    IndexCatalog.dropFamily(spark, fam)
    try {
      var builds = 0
      def build(v: Int, name: String => String): Seq[IndexCatalog.Part] = {
        builds += 1
        spark.range(4).write.mode("overwrite").saveAsTable(name("part"))
        Seq(IndexCatalog.Part("part"))
      }
      val v1 = IndexCatalog.getOrMint(spark, fam, "aaaa11")(build)
      val v2 = IndexCatalog.getOrMint(spark, fam, "aaaa11")(build)
      assert(v1 === 1 && v2 === 1 && builds === 1,
        "same fingerprint must reuse without building")
      val v3 = IndexCatalog.getOrMint(spark, fam, "bbbb22")(build)
      assert(v3 === 2 && builds === 2, "new fingerprint must mint")
      // flipping BACK rebuilds: reuse is only ever against CURRENT
      // (the probe law pins versions; getOrMint never resurrects one)
      val v4 = IndexCatalog.getOrMint(spark, fam, "aaaa11")(build)
      assert(v4 === 3 && builds === 3)
      // fp round-trips through the manifest grammar
      val m = IndexCatalog.readManifest(spark, fam).get
      assert(m.versions.find(_.v === 3).get.fp === "aaaa11")
    } finally IndexCatalog.dropFamily(spark, fam)
  }

  test("cross-process bucket restoration: a bucketed part re-registers as " +
      "an external bucketed table when the catalog entry is gone") {
    val fam = "spec_bkt_" + math.abs(this.hashCode())
    IndexCatalog.dropFamily(spark, fam)
    try {
      val df = spark.range(64).selectExpr("id", "id * 7 as y")
      IndexCatalog.mintParts(spark, fam, "cafe01") { (_, name) =>
        graft.sources.Warehouse.writeBucketed(df, name("part"), "id", 4,
          Some("id"))
        Seq(IndexCatalog.Part("part", "id", 4, "id"))
      }
      val t = IndexCatalog.partTableName(spark, fam, 1, "part")
      val wh = new java.io.File(new java.net.URI(
        spark.conf.get("spark.sql.warehouse.dir")).getPath)
      val dir = new java.io.File(wh, t.toLowerCase(java.util.Locale.ROOT))
      val aside = new java.io.File(wh, dir.getName + "__aside")
      // simulate the writer JVM dying: the in-memory catalog entry goes,
      // the warehouse DIRECTORY stays (move it out of DROP's reach,
      // drop the managed entry, move it back)
      java.nio.file.Files.move(dir.toPath, aside.toPath)
      try spark.sql(s"DROP TABLE IF EXISTS $t")
      catch { case _: Throwable => () }
      java.nio.file.Files.move(aside.toPath, dir.toPath)
      assert(!spark.catalog.tableExists(t))
      val restored = IndexCatalog.readPart(spark, fam, 1, "part")
      assert(spark.catalog.tableExists(t),
        "bucketed part must re-register, not downgrade to a plain read")
      assert(restored.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        === df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
      // the restored registration carries the bucket METADATA: a
      // self-join on the bucket key plans with ZERO exchanges
      val j = restored.as("a").join(spark.table(t).as("b"),
        org.apache.spark.sql.functions.col("a.id") ===
          org.apache.spark.sql.functions.col("b.id")).hint("merge")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"restored bucketed join must not exchange:\n$plan")
    } finally IndexCatalog.dropFamily(spark, fam)
  }

  test("registry defaults ride the catalog: q24/q34/q311 reuse the " +
      "published index on a second call (get-or-publish, no new version)") {
    import graft.operators.Llm
    def pairSet(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    // q24 — the actual registry code path (round-14 verdict #2's ask)
    val r1 = pairSet(Llm.embeddingNearDup(spark, sf))
    val v1 = IndexCatalog.currentVersion(spark, "srp_q24")
    val r2 = pairSet(Llm.embeddingNearDup(spark, sf))
    val v2 = IndexCatalog.currentVersion(spark, "srp_q24")
    assert(r1 === r2 && v1.isDefined && v1 === v2,
      "q24 second call must SERVE the published version, not re-mint")
    val i1 = pairSet(Llm.ivfTopKQuery(spark, sf))
    val iv1 = IndexCatalog.currentVersion(spark, "ivf_q34")
    val i2 = pairSet(Llm.ivfTopKQuery(spark, sf))
    assert(i1 === i2 &&
      iv1 === IndexCatalog.currentVersion(spark, "ivf_q34"))
    val l1 = pairSet(Llm.minhashLshDurable(spark, sf))
    val lv1 = IndexCatalog.currentVersion(spark, "lsh_q311")
    val l2 = pairSet(Llm.minhashLshDurable(spark, sf))
    assert(l1 === l2 &&
      lv1 === IndexCatalog.currentVersion(spark, "lsh_q311"))
  }

  test("get-or-publish reuse keys on build hyperparameters, not source " +
      "fingerprint alone: a parameter change is a rebuild") {
    val fam = "spec_hp_" + math.abs(this.hashCode())
    IndexCatalog.dropFamily(spark, fam)
    try {
      val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 200)
      val fp = "feed5678"
      val v1 = Similarity.srpIndexGetOrPublish(spark, emb, fam, fp, bands = 12)
      val v2 = Similarity.srpIndexGetOrPublish(spark, emb, fam, fp, bands = 12)
      assert(v1 === 1 && v2 === 1,
        "same data + same parameters must reuse the published version")
      // same data, different bands: a silent reuse hit would serve an
      // index whose signatures don't match the caller's probe
      val v3 = Similarity.srpIndexGetOrPublish(spark, emb, fam, fp, bands = 8)
      assert(v3 === 2, "a hyperparameter change must mint a new version")
    } finally IndexCatalog.dropFamily(spark, fam)
  }

  test("manifest publish is atomic and tolerant: a torn temp file never " +
      "shadows the published state") {
    val fam = "spec_atom_" + math.abs(this.hashCode())
    IndexCatalog.dropFamily(spark, fam)
    try {
      val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 200)
      Similarity.srpIndexPublish(emb, fam)
      assert(IndexCatalog.currentVersion(spark, fam) === Some(1))
      // debris a crashed writer could leave beside the manifest
      val wh = new java.io.File(new java.net.URI(
        spark.conf.get("spark.sql.warehouse.dir")).getPath)
      java.nio.file.Files.write(
        new java.io.File(wh, s"graft_idx_${fam}_manifest.txt.tmp_pid1").toPath,
        "current=9\n".getBytes)
      assert(IndexCatalog.currentVersion(spark, fam) === Some(1),
        "temp debris must never shadow the published manifest")
    } finally IndexCatalog.dropFamily(spark, fam)
  }
}
