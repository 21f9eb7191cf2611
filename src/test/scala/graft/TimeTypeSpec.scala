package graft

import org.apache.spark.sql.functions._
import graft.model.ReferenceSchemas
import graft.operators.Golden
import graft.sql.QueryRunner

/** Round-16 verdict #5: evaluate Spark 4.x native TIME for `heure`.
  *
  * Finding (probed on this build, 2026-08-16): Spark 4.1 ships
  * `TimeType` behind the experimental, default-off
  * `spark.sql.timeType.enabled` flag. This spec pins the three facts
  * the decision in ReferenceSchemas.withTypedHeure's scaladoc rests
  * on: (1) the typed lane WORKS with the flag on (cast, ordering,
  * HOUR, parquet round-trip); (2) zero-padded HH:mm:ss strings order
  * identically to the typed values, so the default string lane loses
  * no query power; (3) the q310 verbatim reference queries are
  * unaffected by the flag in either position — `heure` stays opaque
  * to all of them. */
class TimeTypeSpec extends SparkSpec {

  private val times = Seq("00:00:00", "09:05:59", "13:45:12", "23:59:59",
    "04:30:00", "13:45:11")

  test("default session: the opt-in helper refuses without the flag") {
    import spark.implicits._
    val df = times.toDF("heure")
    val e = intercept[IllegalArgumentException] {
      ReferenceSchemas.withTypedHeure(df)
    }
    assert(e.getMessage.contains("spark.sql.timeType.enabled"))
  }

  test("flag on: typed heure casts, orders like the string lane, and " +
      "round-trips parquet") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.timeType.enabled", "true")
    import s2.implicits._
    val df = times.toDF("heure")
    val typed = ReferenceSchemas.withTypedHeure(df)
    assert(typed.schema("heure_time").dataType.typeName.startsWith("time"),
      s"expected a TIME column, got ${typed.schema("heure_time").dataType}")
    // ordering law: the validated zero-padded string representation
    // sorts identically to the typed values — the documented reason
    // the default lane gives up no query power
    val byString = typed.orderBy("heure").select("heure")
      .collect().map(_.getString(0)).toSeq
    val byTime = typed.orderBy("heure_time").select("heure")
      .collect().map(_.getString(0)).toSeq
    assert(byString === byTime)
    // component extraction works on the typed lane
    val h = typed.filter(col("heure") === "13:45:12")
      .select(expr("HOUR(heure_time)")).head.getAs[Number](0).intValue
    assert(h === 13)
    // parquet round-trip preserves type and values
    val out = "/tmp/graft_timetype_spec_pq"
    typed.write.mode("overwrite").parquet(out)
    val back = s2.read.parquet(out)
    assert(back.schema("heure_time").dataType ===
      typed.schema("heure_time").dataType)
    assert(back.orderBy("heure_time").select("heure")
      .collect().map(_.getString(0)).toSeq === byTime)
  }

  test("q310 dialect queries are unaffected by the flag (heure is opaque " +
      "to every reference query)") {
    assume(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(Golden.ReferenceSqlDir)))
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.timeType.enabled", "true")
    val fx = graft.sources.GoldenFixture.generate("/tmp/graft_timetype_spec")
    Golden.loadTransactions(s2, fx).localCheckpoint(true)
      .createOrReplaceTempView("transactions")
    Golden.loadProducts(s2, fx).createOrReplaceTempView("product")
    val vMargin = QueryRunner.runFile(s2,
        s"${Golden.ReferenceSqlDir}/total_margin_signature_last_2_months.sql")
      .head.getDecimal(0)
    assert(BigDecimal(vMargin) === graft.sources.GoldenFixture.TargetMargin2M,
      "the flagship verbatim query must land on the golden constant " +
        "with the TIME flag on")
  }
}
