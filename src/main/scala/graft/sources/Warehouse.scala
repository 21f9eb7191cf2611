package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Warehouse sink (SURVEY §2.1 S7/S9): the reference's PostgreSQL COPY +
  * b-tree indexes become partitioned parquet + min-max statistics.
  *
  * Partition layout IS the index at 100 TB: a monthly partition on the
  * transaction date replaces the reference's
  * `idx_transactions_date_transaction` (schema.sql:41) — date-window
  * queries (q1/q2) then touch only the partitions in range (partition
  * pruning), and within a partition parquet row-group min-max stats
  * take the role of the b-tree's selectivity.
  */
object Warehouse {

  /** Write a frame as a partitioned parquet table directory. Sort within
    * partitions by `sortCol` so parquet row groups get tight min-max
    * ranges on the join/filter key (the ZORDER-less analog of
    * schema.sql:42's key index). */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String],
                       sortCol: Option[String] = None): Unit = {
    // FULL-load semantics: a static overwrite replaces the whole path,
    // whatever the session's mode; the partition-level restate path is
    // Advanced.dpoCorrection
    val sorted = sortCol.map(c => df.sortWithinPartitions(c)).getOrElse(df)
    sorted.write.mode("overwrite").option("partitionOverwriteMode", "static")
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }

  /** Month-partitioned transactions layout used by the ingest path:
    * adds a `sale_month` partition column (yyyy-MM). */
  def writeMonthlyTransactions(li: DataFrame, path: String): Unit =
    writePartitioned(
      li.withColumn("sale_month", date_format(col("l_shipdate"), "yyyy-MM")),
      path, Seq("sale_month"), sortCol = Some("l_partkey"))

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Z-ordered layout: range-repartition + sort by the 2-D Morton key
    * of (a, b) before writing, so each output file owns a DISJOINT
    * z-range — rows close in BOTH dimensions land together, and a 2-D
    * range predicate prunes files/row-groups the way a 1-D sort only
    * prunes one dimension (the Delta/Iceberg OPTIMIZE ZORDER layout,
    * via the codegen'd graft.plans.MortonKey expression). */
  def writeZOrdered(df: DataFrame, path: String, a: String, b: String,
                    numFiles: Int): Unit = {
    df.withColumn("__z",
        graft.plans.GraftFunctions.morton_key(col(a).cast("long"), col(b).cast("long")))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** IVF cell layout: the assigned corpus (Similarity.ivfAssign output)
    * partitioned by cell id, so an IVF probe
    * (Similarity.ivfTopKFromLayout) turns its probe-cell list into a
    * partition-pruning filter and reads ONLY those cells' files. This
    * is the storage half of the ANN recall/cost dial: nProbe bounds
    * bytes scanned, not just vectors scored.
    *
    * The frame is hash-repartitioned on `cell` first: a dynamic
    * partitioned write from T unrelated tasks emits up to T files PER
    * cell (measured: the auto-scaled 313-cell layout produced ~10k tiny
    * files from 32 tasks and the write dominated index-build time);
    * clustering by cell bounds output at one file per cell — the
    * standard small-files discipline for partitioned lake layouts. */
  def writeIvfLayout(assigned: DataFrame, path: String): Unit = {
    // FULL-rebuild semantics: a static overwrite replaces the whole
    // path, so a rebuild with FEWER cells than a previous layout at the
    // same path leaves no stale cell directory behind
    assigned.repartition(col("cell"))
      .write.mode("overwrite").option("partitionOverwriteMode", "static")
      .partitionBy("cell").parquet(path)
  }

  /** Frozen-quantizer incremental add: append newly-assigned vectors
    * to an EXISTING cell layout without touching standing cells — the
    * production IVF maintenance path (FAISS's add-with-ids against a
    * trained quantizer): assignment per vector depends only on the
    * frozen centroids, so append-then-probe equals
    * rebuild-everything-then-probe exactly, and the write cost tracks
    * the NEW vectors. Appended cells accumulate one extra file per
    * add batch; [[compact]] is the standing answer when a hot cell's
    * file count grows past the small-files threshold. */
  def appendIvfLayout(assigned: DataFrame, path: String): Unit =
    assigned.repartition(col("cell"))
      .write.mode("append").partitionBy("cell").parquet(path)

  /** Bucketed catalog table: pre-hash-partitioned on the join key so
    * repeated joins/aggregations on that key skip their shuffle
    * entirely (both sides bucketed on the same key and count =>
    * SortMergeJoin with zero Exchange). This is the co-located-join
    * strategy for the 100 TB fact<->fact case where neither side
    * broadcasts; bucket count is chosen once at layout time
    * (rule of thumb: total size / 128-256 MB, rounded to a power of 2
    * shared by the joining tables). */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    nBuckets: Int, sortCol: Option[String] = None): Unit = {
    // Orphan-location guard: a managed-table CREATE at a non-empty
    // location fails validateTableLocation, and a JVM killed between a
    // prior write and its drop leaves exactly that — a directory with
    // NO catalog entry (the in-memory catalog died with the JVM). With
    // no entry the dir is debris by definition, so clear it.
    if (!df.sparkSession.catalog.tableExists(table))
      try {
        val wh = new java.io.File(new java.net.URI(
          df.sparkSession.conf.get("spark.sql.warehouse.dir")).getPath)
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(wh, table.toLowerCase(java.util.Locale.ROOT)))
      } catch { case _: Throwable => () }
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(nBuckets, bucketCol)
    sortCol.fold(w)(c => w.sortBy(c)).saveAsTable(table)
  }

  /** List a directory's parquet data files (driver-side metadata walk —
    * one name per file, never data; at 100 TB this is the object-store
    * LIST call every table format starts from). */
  def listDataFiles(root: String): Seq[String] = {
    val d = new java.io.File(root)
    if (!d.exists()) Seq.empty
    else d.listFiles().toSeq.map(_.getPath)
      .filter(_.endsWith(".parquet")).sorted
  }

  /** Hive-style partition columns of a parquet directory, outermost
    * first (`cell=3/` ⇒ Seq("cell")), by walking one `col=value` spine
    * — the same directory-shape inference `spark.read` performs, done
    * driver-side so maintenance ops can PRESERVE the layout. */
  def partitionColsOf(path: String): Seq[String] = {
    @annotation.tailrec
    def walk(d: java.io.File, acc: List[String]): List[String] =
      Option(d.listFiles()).getOrElse(Array.empty)
        .find(f => f.isDirectory && f.getName.contains("=")) match {
        case Some(s) => walk(s, acc :+ s.getName.takeWhile(_ != '='))
        case None    => acc
      }
    walk(new java.io.File(path), Nil)
  }

  /** Small-file compaction: rewrite a directory into ~`targetFiles`
    * files (the OPTIMIZE/rewrite-data-files maintenance op — thousands
    * of ingest-sized files are a namenode/planning tax and kill scan
    * throughput). A PARTITIONED directory (e.g. the IVF `cell=N/`
    * layout that [[appendIvfLayout]] grows one file per add-batch)
    * keeps its layout: the rewrite re-partitionBys the inferred
    * partition columns — hash-clustered so each partition value lands
    * in one task ⇒ one file per partition dir — instead of flattening
    * `cell=N/` into a data column and silently killing the
    * layout-backed probe's partition pruning. Swap order matters: the
    * ORIGINAL moves aside first, the compacted scratch renames in, and
    * only then is the original deleted — so a crash at any point
    * leaves the full data at either `path` or `path__old`, never gone
    * (delete-then-rename would destroy the table if the rename
    * failed). */
  def compact(spark: SparkSession, path: String, targetFiles: Int): Unit = {
    val tmp = new java.io.File(path + "__compacting")
    val old = new java.io.File(path + "__old")
    val parts = partitionColsOf(path)
    val df = spark.read.parquet(path)
    val w =
      if (parts.isEmpty) df.repartition(targetFiles).write
      else df.repartition(targetFiles,
          parts.map(org.apache.spark.sql.functions.col): _*)
        .write.partitionBy(parts: _*)
    w.mode("overwrite").parquet(tmp.getPath)
    val dir = new java.io.File(path)
    org.apache.commons.io.FileUtils.deleteQuietly(old) // stale crash debris
    if (!dir.renameTo(old))
      throw new java.io.IOException(s"compaction: cannot move $path aside")
    if (!tmp.renameTo(dir)) {
      if (old.renameTo(dir)) // roll back; data never left
        throw new java.io.IOException(s"compaction swap failed for $path " +
          "(rolled back; original data intact)")
      throw new java.io.IOException(s"compaction swap failed for $path " +
        s"AND rollback failed: full data preserved at ${old.getPath}")
    }
    org.apache.commons.io.FileUtils.deleteDirectory(old)
  }
}
