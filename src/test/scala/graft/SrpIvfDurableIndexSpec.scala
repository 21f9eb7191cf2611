package graft

import graft.operators.Similarity
import graft.sources.IndexCatalog
import org.apache.spark.sql.functions._

/** Durable SRP + IVF indexes (round-12 verdict #3, extending the q311
  * LSH pattern): the SRP band index and the IVF centroid/assignment
  * tables persist as bucketed index-catalog versions, and each served
  * result must land on EXACTLY what its localCheckpoint/in-memory twin
  * computes — content is identical by construction, so any divergence
  * is a persistence bug (type drift through parquet, bucket-pruned
  * rows). Plus the property that justifies the indexes at 100 TB: the
  * standing tables are REUSABLE — a second pass probes them with no
  * rebuild and equal output, and the bytes live on disk, not in
  * executor block-manager memory. */
class SrpIvfDurableIndexSpec extends SparkSpec {

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private def topk(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Double)] =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet

  private def bucketColsOf(table: String): String = {
    val desc = spark.sql(s"DESCRIBE EXTENDED $table").collect()
      .map(r => (r.getString(0), String.valueOf(r.get(1)))).toMap
    desc.getOrElse("Bucket Columns", "")
  }

  private def isParquetOnDisk(table: String): Boolean = {
    val loc = spark.sql(s"DESCRIBE EXTENDED $table").collect()
      .find(_.getString(0) == "Location").map(_.getString(1)).get
    val dir = new java.io.File(new java.net.URI(loc))
    dir.isDirectory && dir.listFiles().exists(_.getName.endsWith(".parquet"))
  }

  test("durable SRP lane == checkpoint lane, pair for pair") {
    val emb = Tables.embeddings(spark, sf)
    val ck = pairs(Similarity.srpNearDupPairs(emb, threshold = 0.4,
      bands = 12, bits = 6, dim = 64))
    val idx = "durable_srp_spec"
    try {
      val v = Similarity.srpIndexPublish(emb, idx, bands = 12, bits = 6, dim = 64)
      val du = pairs(Similarity.srpPairsFromCatalog(spark, idx,
        threshold = 0.4, version = v))
      assert(ck.nonEmpty, "seeded corpus must contain near-dup pairs")
      assert(du === ck)
      // the index tables are bucketed on their probe keys and on disk
      val part = IndexCatalog.partTableName(spark, idx, v, _: String)
      assert(bucketColsOf(part("vecs")).contains("vec_id"))
      assert(bucketColsOf(part("bands")).contains("sig"))
      assert(isParquetOnDisk(part("bands")),
        "band index must be plain parquet on disk, not executor memory")
    } finally IndexCatalog.dropFamily(spark, idx)
  }

  test("the persisted SRP index is a standing table: reusable with no rebuild") {
    val emb = Tables.embeddings(spark, sf)
    val idx = "durable_srp_reuse"
    try {
      Similarity.srpIndexPublish(emb, idx, bands = 12, bits = 6, dim = 64)
      val first = pairs(Similarity.srpPairsFromCatalog(spark, idx, threshold = 0.4))
      val v = IndexCatalog.pin(spark, idx)
      assert(spark.catalog.tableExists(IndexCatalog.partTableName(spark, idx, v, "vecs")))
      assert(spark.catalog.tableExists(IndexCatalog.partTableName(spark, idx, v, "bands")))
      // second consumer: the SAME downstream off the standing tables —
      // no embedding scan, no signature computation, just catalog reads
      val again = pairs(Similarity.srpPairsFrom(
        IndexCatalog.readPart(spark, idx, v, "vecs"),
        IndexCatalog.readPart(spark, idx, v, "bands"), threshold = 0.4))
      assert(again === first)
    } finally IndexCatalog.dropFamily(spark, idx)
  }

  test("durable IVF lane == in-memory lane, top-k for top-k") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 10)
    val mem = topk(Similarity.ivfSampledTopK(q, emb, k = 5,
      nCells = 16, nProbe = 4))
    val idx = "durable_ivf_spec"
    try {
      val v = Similarity.ivfIndexPublish(emb, idx, nCells = 16)
      val du = topk(Similarity.ivfTopKFromCatalog(spark, idx, q, k = 5,
        nProbe = 4, version = v))
      assert(mem.nonEmpty)
      assert(du === mem)
      val part = IndexCatalog.partTableName(spark, idx, v, _: String)
      assert(bucketColsOf(part("cents")).contains("cell"))
      assert(bucketColsOf(part("cells")).contains("cell"))
      assert(isParquetOnDisk(part("cells")),
        "cell assignments must be plain parquet on disk")
    } finally IndexCatalog.dropFamily(spark, idx)
  }

  test("the persisted IVF index is standing: probe again with no rebuild") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 10)
    val idx = "durable_ivf_reuse"
    try {
      val v = Similarity.ivfIndexPublish(emb, idx, nCells = 16)
      val first = topk(Similarity.ivfTopKFromCatalog(spark, idx, q, k = 5,
        nProbe = 4, version = v))
      // different query batch against the SAME standing index — the
      // build-once/serve-every-batch contract
      val again = topk(Similarity.ivfTopKFromCatalog(spark, idx,
        q, k = 5, nProbe = 4, version = IndexCatalog.pin(spark, idx)))
      assert(again === first)
      val other = topk(Similarity.ivfTopKFromCatalog(spark, idx,
        emb.filter(col("vec_id") >= 10 && col("vec_id") < 15), k = 5,
        nProbe = 4))
      assert(other.nonEmpty && other.map(_._1) === Set(10L, 11L, 12L, 13L, 14L))
    } finally IndexCatalog.dropFamily(spark, idx)
  }
}
