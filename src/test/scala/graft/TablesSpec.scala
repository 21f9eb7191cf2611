package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `Tables` resolves a table's schema once per session and file
  * identity, and still gives every call a new relation. */
class TablesSpec extends SparkSpec {

  private def inferred(s: SparkSession, dir: String, name: String) =
    s.read.parquet(s"$dir/$name.parquet").schema

  test("a second load of a table on one session launches no job") {
    val s = Session.child(spark)
    assert(jobsOf(Tables.load(s, sf, "lineitem")) >= 1) // the inference
    assert(jobsOf(Tables.load(s, sf, "lineitem")) == 0)
    Tables.names.foreach(n => assert(Tables.fileSchema(s, sf, n) == inferred(s, sf, n), n))
  }

  test("a rewritten file is inferred again") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tables_").toString
    val s = Session.child(spark)
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$dir/t.parquet")
    assert(Tables.load(s, dir, "t").columns.toSeq == Seq("id", "s"))
    Seq((1.5, 2, true)).toDF("x", "y", "z").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val again = Tables.load(s, dir, "t")
    assert(again.schema == inferred(s, dir, "t"))
    assert(again.collect().toSeq.map(_.toSeq) == Seq(Seq(1.5, 2, true)))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("a child session resolves on its own") {
    Tables.load(spark, sf, "part")
    val c = Session.child(spark)
    assert(jobsOf(Tables.load(c, sf, "part")) >= 1)
    assert(jobsOf(Tables.load(spark, sf, "part")) == 0)
  }

  test("8 threads loading one table concurrently get the same schema") {
    val s = Session.child(spark)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val go = new java.util.concurrent.CountDownLatch(1)
      val futures = (1 to 8).map(_ => pool.submit(new java.util.concurrent.Callable[Any] {
        def call(): Any = { go.await(); Tables.load(s, sf, "orders").schema }
      }))
      go.countDown()
      assert(futures.map(_.get).toSet == Set(inferred(s, sf, "orders")))
    } finally pool.shutdown()
  }

  test("two loads are two relations: disjoint expression ids, and a self-join analyses") {
    val a = Tables.lineitem(spark, sf)
    val b = Tables.lineitem(spark, sf)
    assert(a.queryExecution.analyzed.outputSet.intersect(
      b.queryExecution.analyzed.outputSet).isEmpty)
    def selfJoin(x: DataFrame, y: DataFrame) = x.join(y, x("l_orderkey") === y("l_orderkey"))
    val j = selfJoin(a, b)
    assert(j.columns.length == 2 * a.columns.length)
    val path = s"$sf/lineitem.parquet"
    assert(j.count() == selfJoin(spark.read.parquet(path), spark.read.parquet(path)).count())
  }

  test("a file: URI fingerprints as its path; another scheme is refused") {
    val p = new java.io.File(s"$sf/lineitem.parquet").getAbsolutePath
    assert(Tables.dirFingerprint("file:" + p) == Tables.dirFingerprint(p))
    assert(Tables.dirFingerprint("file://" + p) == Tables.dirFingerprint(p))
    val remote = "hdfs://namenode:8020/warehouse/lineitem.parquet"
    val e = intercept[IllegalArgumentException](Tables.dirFingerprint(remote))
    assert(e.getMessage.contains(remote))
  }
}
