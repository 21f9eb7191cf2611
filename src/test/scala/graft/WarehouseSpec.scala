package graft

import graft.sources.Warehouse
import org.apache.spark.sql.functions._

class WarehouseSpec extends SparkSpec {

  test("partitioned write prunes partitions on read") {
    val li = Tables.lineitem(spark, sf)
    val path = "/tmp/graft_test_wh_monthly"
    Warehouse.writeMonthlyTransactions(li, path)
    val wh = Warehouse.read(spark, path)
    assert(wh.count() === li.count())
    val pruned = wh.filter(col("sale_month") === "2001-06")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(sale_month"))
    assert(pruned.count() ===
      li.filter(date_format(col("l_shipdate"), "yyyy-MM") === "2001-06").count())
  }

  test("full-load write replaces the whole path, even on a dynamic-mode session") {
    val dynamic = Session.child(spark,
      "spark.sql.sources.partitionOverwriteMode" -> "dynamic")
    val li = Tables.lineitem(dynamic, sf)
    val path = Scratch.dir("wh_full_load_spec")
    def months: Set[String] = Warehouse.read(spark, path)
      .select("sale_month").distinct().collect().map(_.getString(0)).toSet
    try {
      Warehouse.writeMonthlyTransactions(li, path)
      val last = months.max
      assert(months.size > 1)
      Warehouse.writeMonthlyTransactions(
        li.filter(date_format(col("l_shipdate"), "yyyy-MM") === last), path)
      assert(months === Set(last))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
  }

  test("bucketed tables join without any shuffle (co-located join)") {
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey", "l_quantity")
    val pa = Tables.part(spark, sf).select("p_partkey", "p_retailprice")
    // the in-memory catalog forgets tables between JVMs but their
    // warehouse directories persist — clear both or CTAS refuses
    Seq("graft_li_b", "graft_pa_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val dir = new java.io.File(s"/tmp/graft_test_warehouse/$t")
      if (dir.exists()) {
        java.nio.file.Files.walk(dir.toPath)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
      }
    }
    Warehouse.writeBucketed(li, "graft_li_b", "l_partkey", 8, Some("l_partkey"))
    Warehouse.writeBucketed(pa, "graft_pa_b", "p_partkey", 8, Some("p_partkey"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // disable broadcast so the join strategy question is real
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("graft_li_b")
        .join(spark.table("graft_pa_b"),
          col("l_partkey") === col("p_partkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange"), s"expected shuffle-free join:\n$plan")
      assert(joined.count() === li.count()) // every lineitem has its part
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("morton key matches a naive bit-interleave reference") {
    val rnd = new scala.util.Random(7)
    def naive(a: Long, b: Long): Long = {
      var z = 0L
      for (i <- 0 until 32) {
        z |= ((a >> i) & 1L) << (2 * i)
        z |= ((b >> i) & 1L) << (2 * i + 1)
      }
      z
    }
    (0 until 1000).foreach { _ =>
      val a = rnd.nextLong() & 0xffffffffL
      val b = rnd.nextLong() & 0xffffffffL
      assert(graft.plans.MortonKey.compute(a, b) === naive(a, b), s"($a,$b)")
    }
  }

  test("z-ordered write gives files with disjoint morton ranges") {
    val li = Tables.lineitem(spark, sf)
    val path = "/tmp/graft_test_wh_zorder"
    Warehouse.writeZOrdered(li, path, "l_orderkey", "l_partkey", numFiles = 4)
    val back = spark.read.parquet(path)
      .withColumn("__z", graft.plans.GraftFunctions.morton_key(
        col("l_orderkey").cast("long"), col("l_partkey").cast("long")))
      .withColumn("f", input_file_name())
    val ranges = back.groupBy("f")
      .agg(min("__z").as("lo"), max("__z").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ranges.length >= 2)
    // disjointness is what enables file-level pruning on 2-D predicates
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2, ranges.mkString(","))
      case _ =>
    }
    assert(back.count() === li.count())
  }

  test("manifest ingest: each pass touches only new files; third pass zero") {
    import graft.operators.Advanced
    val root = "/tmp/graft_test_manifest"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val (data, man, parts) = (s"$root/data", s"$root/manifest", s"$root/partials")
    val li = Tables.lineitem(spark, sf)
    li.filter(col("l_linenumber") <= 3).write.mode("append").parquet(data)
    val files1 = Warehouse.listDataFiles(data).size
    assert(Advanced.ingestNewFiles(spark, data, man, parts) === files1)
    li.filter(col("l_linenumber") > 3).write.mode("append").parquet(data)
    val files2 = Warehouse.listDataFiles(data).size - files1
    assert(files2 > 0)
    assert(Advanced.ingestNewFiles(spark, data, man, parts) === files2)
    // nothing new -> nothing processed (the incremental-cost contract)
    assert(Advanced.ingestNewFiles(spark, data, man, parts) === 0)
    // merged partials equal the direct aggregate
    val got = spark.read.parquet(parts).groupBy("l_returnflag")
      .agg(sum("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = li.groupBy("l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === want)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("compact: collapses small files, preserves every row") {
    val path = "/tmp/graft_test_compact"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val li = Tables.lineitem(spark, sf)
    li.repartition(16).write.mode("overwrite").parquet(path)
    val before = Warehouse.listDataFiles(path).size
    assert(before >= 16)
    val total = li.count()
    Warehouse.compact(spark, path, targetFiles = 2)
    assert(Warehouse.listDataFiles(path).size <= 2)
    assert(spark.read.parquet(path).count() === total)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
  }

  test("compact on a partitioned dir keeps the layout (one file per partition)") {
    val path = "/tmp/graft_test_compact_part"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_quantity"),
        (col("l_orderkey") % 4).as("cell"))
    // three append batches -> several files per cell=N/ dir
    (0 until 3).foreach { _ =>
      li.repartition(2).write.mode("append").partitionBy("cell").parquet(path)
    }
    assert(Warehouse.partitionColsOf(path) === Seq("cell"))
    val before = spark.read.parquet(path)
    val want = before.groupBy("cell").count()
      .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    Warehouse.compact(spark, path, targetFiles = 4)
    // partition dirs survive (pruning-compatible layout), rows intact,
    // and each cell dir holds exactly one compacted file
    val cellDirs = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.length === 4)
    cellDirs.foreach { d =>
      assert(d.listFiles().count(_.getName.endsWith(".parquet")) === 1)
    }
    val after = spark.read.parquet(path)
    assert(after.groupBy("cell").count()
      .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap === want)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
  }

  test("gdpr erase rewrites ONLY partitions holding erased entities; erased keys gone") {
    import graft.operators.Advanced
    import graft.sources.Warehouse
    val path = "/tmp/graft_test_gdpr"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    Warehouse.writeMonthlyTransactions(Tables.lineitem(spark, sf), path)
    def fp(root: String): Map[String, (Long, Long)] = {
      val out = scala.collection.mutable.Map[String, (Long, Long)]()
      java.nio.file.Files.walk(java.nio.file.Paths.get(root))
        .filter(p => p.toString.endsWith(".parquet"))
        .forEach { p => out(p.toString) = (p.toFile.length(), p.toFile.lastModified()) }
      out.toMap
    }
    val before = fp(path)
    Thread.sleep(1100) // mtime granularity can be 1s
    val affected = Advanced.gdprErase(spark, sf, path)
    val after = fp(path)
    assert(affected.nonEmpty)
    def untouched(m: Map[String, (Long, Long)]) =
      m.filterNot { case (p, _) => affected.exists(a => p.contains(s"sale_month=$a")) }
    assert(untouched(before).nonEmpty,
      "fixture degenerate: every month contains an erased key")
    assert(untouched(after) === untouched(before),
      "erase rewrote partitions holding no erased entity")
    // and the erased entity really is gone from the warehouse
    assert(spark.read.parquet(path)
      .filter(col("l_orderkey") % 500 === 0).count() === 0L)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
  }

  test("dynamic partition overwrite leaves untouched partitions byte-stable") {
    import graft.operators.Advanced
    // fingerprint every data file: (path -> size, mtime) — a rewritten
    // file changes mtime (and usually size)
    def fingerprint(root: String): Map[String, (Long, Long)] = {
      val out = scala.collection.mutable.Map[String, (Long, Long)]()
      java.nio.file.Files.walk(java.nio.file.Paths.get(root))
        .filter(p => p.toString.endsWith(".parquet"))
        .forEach { p =>
          val f = p.toFile
          out(p.toString) = (f.length(), f.lastModified())
        }
      out.toMap
    }
    val path = Advanced.dpoFullLoad(spark, sf)
    try {
      val maxMonth = spark.read.parquet(path)
        .agg(max("sale_month")).head().getString(0)
      val before = fingerprint(path)
      Thread.sleep(1100) // mtime granularity can be 1s
      Advanced.dpoCorrection(spark, sf, path)
      val after = fingerprint(path)
      def untouched(m: Map[String, (Long, Long)]) =
        m.filterNot(_._1.contains(s"sale_month=$maxMonth"))
      // every untouched month's files survive with identical size+mtime
      assert(untouched(before).nonEmpty)
      assert(untouched(after) === untouched(before),
        "dynamic overwrite rewrote partitions the correction never touched")
      // and the corrected month really was replaced
      val touchedBefore = before.keySet -- untouched(before).keySet
      val touchedAfter = after.keySet -- untouched(after).keySet
      assert(touchedBefore.nonEmpty)
      assert(touchedBefore.intersect(touchedAfter).isEmpty ||
        touchedBefore.exists(p => after.get(p) != before.get(p)),
        "correction wrote nothing")
      // read-back equals the corrected expectation
      val got = spark.read.parquet(path)
        .filter(col("sale_month") === maxMonth)
        .agg(sum(col("l_quantity").cast("decimal(18,4)")).cast("double"))
        .head().getDouble(0)
      val want = Tables.lineitem(spark, sf)
        .filter(date_format(col("l_shipdate"), "yyyy-MM") === maxMonth)
        .agg(sum((col("l_quantity") + 1.0).cast("decimal(18,4)")).cast("double"))
        .head().getDouble(0)
      assert(got === want)
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
  }

  test("time travel: a v1 reader is isolated from files landed after v1") {
    import graft.operators.Advanced
    val root = "/tmp/graft_tt_spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val (data, man) = (s"$root/data", s"$root/manifest")
    try {
      val li = Tables.lineitem(spark, sf)
      li.filter(col("l_linenumber") <= 3).write.mode("append").parquet(data)
      assert(Advanced.versionedIngest(spark, data, man) === 1)
      val v1Before = Advanced.snapshotAt(spark, man, 1).count()
      // batch 2 lands in the DIRECTORY but is not yet admitted to the
      // manifest: a v1 reader must not see it (plans from the manifest)
      li.filter(col("l_linenumber") > 3).write.mode("append").parquet(data)
      assert(Advanced.snapshotAt(spark, man, 1).count() === v1Before)
      assert(Advanced.versionedIngest(spark, data, man) === 2)
      // after admission: v1 STILL pinned to batch 1; v2 sees everything
      assert(Advanced.snapshotAt(spark, man, 1).count() === v1Before)
      assert(Advanced.snapshotAt(spark, man, 2).count() === li.count())
      assert(v1Before === li.filter(col("l_linenumber") <= 3).count())
      // idle pass admits nothing and mints no version
      assert(Advanced.versionedIngest(spark, data, man) === 0)
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }
}
