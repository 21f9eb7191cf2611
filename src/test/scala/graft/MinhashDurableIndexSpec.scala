package graft

import graft.operators.Dedup
import graft.sources.IndexCatalog
import org.apache.spark.sql.functions._

/** The durable LSH index (round-11 verdict #7): lshIndexPublish
  * persists the shingle index as a doc_id-bucketed index-catalog
  * version, and the pairs served from it must be EXACTLY the pairs the
  * localCheckpoint lane finds — the index content is identical by
  * construction, so any divergence is a persistence bug (type drift
  * through parquet, bucket-pruned rows). Plus the property that
  * justifies the index at 100 TB: the persisted table is REUSABLE — a
  * second pass runs off the pinned version with no re-tokenization and
  * equal output. */
class MinhashDurableIndexSpec extends SparkSpec {

  private def asSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("durable-index lane == checkpoint lane, pair for pair, both families") {
    val docs = Tables.documents(spark, sf)
    Seq[Dedup.HashFamily](Dedup.Md5Minhash, Dedup.XxMinhash).foreach { fam =>
      val ck = asSet(Dedup.minhashLshPairs(docs, "doc_id", "text",
        n = 3, numHashes = 12, bands = 4, threshold = 0.5, family = fam))
      val idx = s"durable_lsh_spec_${fam.toString.toLowerCase}"
      try {
        val v = Dedup.lshIndexPublish(docs, "doc_id", "text", idx, n = 3,
          hashFamily = fam)
        val du = asSet(Dedup.minhashLshPairsFromCatalog(spark, idx,
          numHashes = 12, bands = 4, threshold = 0.5, hashFamily = fam,
          version = v))
        assert(ck.nonEmpty, "seeded corpus must contain near-dup pairs")
        withClue(s"family $fam: ")(assert(du === ck))
      } finally IndexCatalog.dropFamily(spark, idx)
    }
  }

  test("the persisted index is a standing table: reusable with no rebuild") {
    val docs = Tables.documents(spark, sf)
    val idx = "durable_lsh_spec_reuse"
    try {
      Dedup.lshIndexPublish(docs, "doc_id", "text", idx)
      val first = asSet(Dedup.minhashLshPairsFromCatalog(spark, idx))
      val v = IndexCatalog.pin(spark, idx)
      val t = IndexCatalog.partTableName(spark, idx, v, "shingles")
      assert(spark.catalog.tableExists(t), "index table must persist")
      // second consumer: the SAME downstream off the standing table —
      // no shingleTable call, no checkpoint, just the catalog read
      val again = asSet(Dedup.lshPairsFromIndex(
        IndexCatalog.readPart(spark, idx, v, "shingles"),
        numHashes = 12, bands = 4, threshold = 0.5, family = Dedup.Md5Minhash))
      assert(again === first)
      // and the table really is bucketed on the index's probe key
      val desc = spark.sql(s"DESCRIBE EXTENDED $t").collect()
        .map(r => (r.getString(0), String.valueOf(r.get(1)))).toMap
      assert(desc.get("Bucket Columns").exists(_.contains("doc_id")), desc)
    } finally IndexCatalog.dropFamily(spark, idx)
  }

  test("index table survives what kills a checkpoint: it is plain parquet on disk") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 50)
    val idx = "durable_lsh_spec_files"
    try {
      val v = Dedup.lshIndexPublish(docs, "doc_id", "text", idx)
      Dedup.minhashLshPairsFromCatalog(spark, idx, version = v).collect()
      val t = IndexCatalog.partTableName(spark, idx, v, "shingles")
      // the fault-tolerance claim, concretely: the index bytes live in
      // the warehouse directory, not in executor block-manager memory
      val loc = spark.sql(s"DESCRIBE EXTENDED $t").collect()
        .find(_.getString(0) == "Location").map(_.getString(1)).get
      val dir = new java.io.File(new java.net.URI(loc))
      assert(dir.isDirectory &&
        dir.listFiles().exists(_.getName.endsWith(".parquet")), loc)
    } finally IndexCatalog.dropFamily(spark, idx)
  }
}
