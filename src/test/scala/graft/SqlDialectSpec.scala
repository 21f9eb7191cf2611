package graft

import graft.operators.Golden
import graft.sources.GoldenFixture
import graft.sql.{QueryRunner, SqlCli}

/** SURVEY §7.4 risk 5 closed as a standing guard: the reference's six
  * shipped Postgres .sql files execute VERBATIM under `spark.sql` —
  * Spark 4.1's parser accepts their whole dialect surface. Each
  * construct is pinned individually so a Spark upgrade that drops one
  * fails this spec by name instead of mysteriously failing q310. */
class SqlDialectSpec extends SparkSpec {

  private def parses(sql: String): Unit =
    spark.sessionState.sqlParser.parsePlan(sql)

  test("every Postgres construct the shipped files use parses natively") {
    parses("SELECT a::date FROM t")                       // postfix cast
    parses("SELECT a::date::string FROM t")               // cast chain
    parses("SELECT f(a)::date FROM t")                    // cast of a call
    parses("SELECT * FROM t WHERE b IS TRUE")             // boolean test
    parses("SELECT d - INTERVAL '1 month' FROM t")        // month interval
    parses("SELECT d - INTERVAL '60 days' FROM t")        // day interval
    parses("SELECT * FROM a JOIN b ON TRUE")              // degenerate join
    parses("SELECT 1;")                                   // trailing semi
  }

  test("missingReferenceSql lists every stem for an absent directory") {
    val absent = s"/tmp/graft_no_reference_sql_${System.nanoTime}"
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(absent)))
    assert(Golden.missingReferenceSql(absent) === Golden.ReferenceSqlStems)
    assert(Golden.ReferenceSqlStems.size === 6)
  }

  test("missingReferenceSql lists only the absent file's stem") {
    val dir = java.nio.file.Files.createTempDirectory("graft_reference_sql")
    val present = Golden.ReferenceSqlStems.init.map(s => dir.resolve(s"$s.sql"))
    try {
      present.foreach(java.nio.file.Files.createFile(_))
      assert(Golden.missingReferenceSql(dir.toString) ===
        Seq(Golden.ReferenceSqlStems.last))
    } finally {
      present.foreach(java.nio.file.Files.deleteIfExists(_))
      java.nio.file.Files.delete(dir)
    }
  }

  test("all six reference files parse verbatim") {
    val dir = java.nio.file.Paths.get(Golden.ReferenceSqlDir)
    assume(java.nio.file.Files.isDirectory(dir), s"no reference at $dir")
    val files = QueryRunner.registry(Golden.ReferenceSqlDir)
    assert(files.size === 6, s"expected 6 shipped files, got ${files.keys}")
    files.foreach { case (stem, p) =>
      withClue(stem)(parses(java.nio.file.Files.readString(p)))
    }
  }

  test("verbatim text lands on the SAME values as the builtin re-expressions") {
    assume(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(Golden.ReferenceSqlDir)))
    val fx = graft.sources.GoldenFixture.generate("/tmp/graft_dialect_spec")
    val tx = Golden.loadTransactions(spark, fx).localCheckpoint(true)
    val prod = Golden.loadProducts(spark, fx)
    tx.createOrReplaceTempView("transactions")
    prod.createOrReplaceTempView("product")
    def raw(stem: String) = QueryRunner.runFile(spark,
      s"${Golden.ReferenceSqlDir}/$stem.sql")

    // flagship margin: verbatim file == builtin DataFrame == the
    // planted golden constant (the reference's published figure at
    // 1/1000 scale)
    val vMargin = raw("total_margin_signature_last_2_months")
      .head.getDecimal(0)
    assert(BigDecimal(vMargin) === GoldenFixture.TargetMargin2M)
    val bMargin = Golden.margin2M(tx, prod).head.getDouble(0)
    assert(vMargin.doubleValue === bMargin)

    // timeframe: identical dates both ways
    val vTf = raw("transactions_timeframe").head
    val bTf = Golden.timeframe(tx).head
    assert(vTf.getDate(0) === bTf.getDate(0))
    assert(vTf.getDate(1) === bTf.getDate(1))

    // per-store counts: identical row set (builtin adds a tiebreaker
    // ORDER BY, so compare as sets)
    val vTps = raw("number_transactions_per_store").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val bTps = Golden.txPerStore(tx).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(vTps === bTps)
  }

  test("SqlCli --path resolves the raw reference file text") {
    assume(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(Golden.ReferenceSqlDir)))
    val p = s"${Golden.ReferenceSqlDir}/transactions_timeframe.sql"
    val resolved = SqlCli.resolveSql(Map("--path" -> p))
    assert(resolved === java.nio.file.Files.readString(
      java.nio.file.Paths.get(p)))
    // and the resolved text is runnable as-is once the views exist
    val fx = graft.sources.GoldenFixture.generate("/tmp/graft_dialect_spec")
    Golden.loadTransactions(spark, fx).createOrReplaceTempView("transactions")
    assert(QueryRunner.run(spark, resolved).count() === 1L)
  }
}
