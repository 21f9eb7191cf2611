package graft

import graft.functions.Validate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.Decimal

class ValidateSpec extends SparkSpec {
  import spark.implicits._

  private def evalInvalid(values: Seq[String], pat: String,
                          acceptNull: Boolean = false,
                          emptyIsInvalid: Boolean = true): Seq[Boolean] =
    values.toDF("v")
      .select(Validate.invalidExpr(col("v"), pat, acceptNull, emptyIsInvalid).as("i"))
      .collect().map(_.getBoolean(0)).toSeq

  test("invalidExpr: regex miss is invalid, match is valid") {
    assert(evalInvalid(Seq("MCR123", "XXX", "MCR"), "^MCR\\d+$") ===
      Seq(false, true, true))
  }

  test("invalidExpr: null invalid unless acceptNull (reference semantics)") {
    assert(evalInvalid(Seq(null), "^\\d+$") === Seq(true))
    assert(evalInvalid(Seq(null), "^\\d+$", acceptNull = true) === Seq(false))
  }

  test("invalidExpr: empty-string handling is independent of the pattern") {
    // pattern that ACCEPTS "" — emptyIsInvalid still forces invalid
    assert(evalInvalid(Seq(""), "^(?:0|1|)$") === Seq(true))
    assert(evalInvalid(Seq(""), "^(?:0|1|)$", emptyIsInvalid = false) === Seq(false))
  }

  test("invalidRowMask skips patterns for absent columns") {
    val df = Seq(("a1", "x")).toDF("known", "other")
    val mask = Validate.invalidRowMask(df,
      Seq("known" -> "^a\\d$", "missing" -> "^z$"))
    assert(df.select(mask.as("m")).collect().head.getBoolean(0) === false)
  }

  test("matches takes a non-string column as rlike does, class constant or not") {
    val df = Seq(Some(12), Some(-7), None).toDF("n")
    Seq(Validate.ReInt, Validate.ReBool, "^1\\d$").foreach { pat =>
      val got = df.select(Validate.matches(col("n"), pat).as("m"), col("n").rlike(pat).as("r"))
        .collect().map(r => (Option(r.get(0)), Option(r.get(1))))
      assert(got.forall { case (m, r) => m == r }, pat)
    }
    assert(df.select(Validate.matches(col("n"), Validate.ReInt)).collect()
      .map(r => Option(r.get(0))).toSeq === Seq(Some(true), Some(true), None))
  }

  test("perColumnInvalidCounts refuses a frame with no pattern column") {
    val df = Seq(("a1", "x")).toDF("known", "other")
    val e = intercept[IllegalArgumentException](
      Validate.perColumnInvalidCounts(df, Seq("missing" -> Validate.ReInt)))
    assert(e.getMessage.contains("missing") && e.getMessage.contains("known, other"))
  }

  test("invalidValuesByColumn refuses a frame with no pattern column") {
    val df = Seq(("a1", "x")).toDF("known", "other")
    val e = intercept[IllegalArgumentException](
      Validate.invalidValuesByColumn(df, Seq("gone" -> Validate.ReInt, "lost" -> "^z$")))
    assert(e.getMessage.contains("gone, lost") && e.getMessage.contains("known, other"))
  }

  test("decimalComma parses EU decimals exactly") {
    val out = Seq("1234,56", "0,803097", "17", null).toDF("v")
      .select(Validate.decimalComma(col("v")).as("d"))
      .collect().map(r => Option(r.get(0)).map(_.toString))
    assert(out(0).contains("1234.560000"))
    assert(out(1).contains("0.803097"))
    assert(out(2).contains("17.000000"))
    assert(out(3).isEmpty)
  }

  test("bool01 maps 0/1/other") {
    val out = Seq("1", "0", "", "x", null).toDF("v")
      .select(Validate.bool01(col("v")).as("b"))
      .collect().map(r => Option(r.get(0)))
    assert(out.toSeq === Seq(Some(true), Some(false), None, None, None))
  }

  test("normalizePlaceholders nulls the token vocabulary, case/space-insensitively") {
    val out = Seq("#NO VALUE", "  na ", "NULL", "keep", "", null).toDF("v")
      .select(Validate.normalizePlaceholders(col("v")).as("n"))
      .collect().map(r => Option(r.getString(0)))
    assert(out.toSeq === Seq(None, None, None, Some("keep"), None, None))
  }

  test("normalizePlaceholders preserves the input column's type") {
    // round-15 advice: the codegen'd matcher itself is string-typed;
    // the public API must hand a typed caller back its own type, not
    // silently re-type the column to string
    val df = Seq(Some(7), Some(42), None).toDF("v")
    val out = df.select(Validate.normalizePlaceholders(col("v")).as("n"))
    assert(out.schema("n").dataType ===
      org.apache.spark.sql.types.IntegerType)
    assert(out.collect().map(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
      .toSeq === Seq(Some(7), Some(42), None))
    // a numeric value whose STRING form is a token ("0" is not in the
    // vocabulary, but exercise a near-miss to pin non-matching pass-through)
    val d2 = Seq(0, 1).toDF("v")
      .select(Validate.normalizePlaceholders(col("v")).as("n"))
    assert(d2.collect().map(_.getInt(0)).toSeq === Seq(0, 1))
  }

  test("duplicateGroups finds planted dup keys") {
    val df = Seq(("a", 1), ("a", 2), ("b", 1), ("c", 1), ("a", 9), ("b", 7))
      .toDF("k", "x")
    val groups = Validate.duplicateGroups(df, Seq("k")).collect()
    assert(groups.map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("a" -> 3L, "b" -> 2L))
  }

  test("fkOrphans finds planted orphans") {
    val child = Seq(1, 2, 3, 99).toDF("ck")
    val parent = Seq(1, 2, 3).toDF("pk")
    val orphans = Validate.fkOrphans(child, parent, "ck", "pk").collect()
    assert(orphans.map(_.getInt(0)).toSeq === Seq(99))
  }

  test("invalidValuesByColumn lists distinct offenders in long form") {
    val df = Seq(("ok1", "bad"), ("nope", "bad"), ("ok2", "also"), ("nope", "x1"))
      .toDF("a", "b")
    val out = Validate.invalidValuesByColumn(df,
        Seq("a" -> "^ok\\d$", "b" -> "^x\\d$"), limitPerCol = 10)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(out === Set(("a", "nope"), ("b", "bad"), ("b", "also")))
  }

  test("wholeRowDups counts exact duplicate rows") {
    val df = Seq(("a", 1), ("a", 1), ("b", 2)).toDF("k", "x")
    assert(Validate.wholeRowDups(df) === 1L)
  }
}
