package graft

import graft.plans.{GraftFunctions, RollingHash}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

class RollingHashSpec extends SparkSpec {
  import spark.implicits._

  test("hash matches the reference recurrence") {
    def ref(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((h, b) => h * 31L + (b & 0xffL))
    Seq("", "a", "hello world", "héllo 中文").foreach { s =>
      assert(RollingHash.hash(UTF8String.fromString(s)) === ref(s))
    }
  }

  test("column API evaluates under codegen and distinguishes content") {
    val out = Seq("alpha", "alpha", "beta", null).toDF("t")
      .select(GraftFunctions.rolling_hash(col("t")).as("h"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(out(0) === out(1))
    assert(out(0) !== out(2))
    assert(out(3).isEmpty) // null-safe
  }

  test("SQL registration works") {
    GraftFunctions.register(spark)
    val h = spark.sql("SELECT rolling_hash('abc') AS h").collect().head.getLong(0)
    assert(h === (('a' * 31L + 'b') * 31L + 'c'))
  }

  test("stays inside WholeStageCodegen") {
    val df = Tables.documents(spark, sf)
      .select(GraftFunctions.rolling_hash(col("text")).as("h"))
    // `*(n)` prefixes mark operators inside a WholeStageCodegen stage.
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [rolling_hash"))
    assert(df.distinct().count() > 0)
  }
}
