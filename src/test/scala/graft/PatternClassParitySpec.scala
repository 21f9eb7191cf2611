package graft

import java.util.regex.Pattern

import graft.functions.Validate
import graft.plans.PatternClass
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** The native class matcher (graft.plans.PatternClass behind
  * `Validate.matches`) must give exactly what `rlike` gives for the six
  * class constants — `Pattern.compile(re).matcher(s).find(0)` — under
  * codegen and interpreted eval, including Java's `$` before one final
  * line terminator, ASCII-only `\d`, and the numeric alternation. */
class PatternClassParitySpec extends SparkSpec {

  private val classes: Seq[String] = Seq(Validate.ReInt, Validate.ReEuNumeric,
    Validate.ReUsNumeric, Validate.ReBool, Validate.ReIsoDate, Validate.ReTime)

  private val compiled: Map[String, Pattern] =
    classes.map(re => re -> Pattern.compile(re)).toMap

  private def find(re: String, s: String): Boolean =
    compiled(re).matcher(s).find(0)

  private val codegen = Session.child(spark,
    "spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
  private val interpreted = Session.child(spark,
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  /** Each class as `Validate.matches` and as `rlike`, over `values` on
    * `s` (checkpointed, so no rule folds the projection on the driver),
    * against `find(0)` on the value; `lowered` applies Spark's `lower()`
    * first, as `Profiler.errorTaxonomy` does for the bool class. */
  private def parity(s: SparkSession, values: Seq[String],
                     lowered: Boolean = false): Unit = {
    import s.implicits._
    val df = values.toDF("v").localCheckpoint(true)
    val x: Column = if (lowered) lower(col("v")) else col("v")
    val out = df.select(x +: classes.flatMap(re =>
      Seq(Validate.matches(x, re), x.rlike(re))): _*)
    assert(out.queryExecution.executedPlan.toString.contains("graft_pattern_class"))
    val rows = out.collect()
    val diffs = for {
      (v, r) <- values.zip(rows)
      (re, k) <- classes.zipWithIndex
      want = Option(r.getString(0)).map(find(re, _))
      got = if (r.isNullAt(2 * k + 1)) None else Some(r.getBoolean(2 * k + 1))
      viaRlike = if (r.isNullAt(2 * k + 2)) None else Some(r.getBoolean(2 * k + 2))
      if got != want || got != viaRlike
    } yield s"re=$re value=${Option(v).map(escape)} native=$got rlike=$viaRlike find=$want"
    assert(diffs.isEmpty, s"parity broken:\n${diffs.take(20).mkString("\n")}")
  }

  private def escape(s: String): String =
    if (s.length > 40) s"${escape(s.take(20))}...(${s.length} chars)"
    else s.flatMap(c => if (c < ' ' || c > '~') f"\\u${c.toInt}%04x" else c.toString)

  private val terminators = Seq("\n", "\r\n", "\r", "\u0085", "\u2028", "\u2029")

  private val adversarial: Seq[String] = {
    val valid = Seq("12", "-7", "1.234,5", "1,234.5", "true", "2024-01-02", "12:34:56")
    Seq(null, "", " ", "+", "-", "+-1", "--1", "1.23", "1.234.", ",5", ".5",
      "5.", "5,", "1,23", "1,2345", "1.2345", "1234.567", "1234,567", "12345,6",
      "12345.6", "1.234.567,89", "1,234,567.89", "1.234,", "1,234.", "0",
      "0001", "1 ", " 1", "1\t", "١٢٣", "١", "１２３", "1２3", "٢٠٢٤-01-02",
      "12:3４:56", "TRUE", "True", "yes", "no", "y", "n", "t", "f", "10",
      "truee", " true", "2024-1-02", "20240102", "2024-01-02T", "1:34:56",
      "12:34:5", "12:34:567", "\n", "\r\n", "\r", "\n\n", "\r\r", "\n\r",
      "\u0085", "x\n", "9" * 10000, "+" + "1" * 10000, "1" * 10000 + "\n",
      "1" * 10000 + "x", "1" + ".000" * 3000, "1" + ",000" * 3000 + ".5") ++
      valid.flatMap(v => terminators.flatMap(t =>
        Seq(v + t, t + v, v + t + t, v + t + "\n", v + "\r" + t, v + t + "x")))
  }

  test("adversarial values: native ≡ rlike ≡ find(0), codegen and interpreted") {
    parity(codegen, adversarial)
    parity(interpreted, adversarial)
  }

  test("lower(x) with the bool class, as errorTaxonomy uses it") {
    val values = Seq(null, "", "TRUE", "True", "FALSE\n", "Yes", "YES\r\n", "N",
      "T", "F", "0", "1", "İ", "ＴＲＵＥ", "Tru", "no ", "No\u0085")
    parity(codegen, values, lowered = true)
    parity(interpreted, values, lowered = true)
  }

  // atoms a class value is built from, plus every terminator and the
  // non-ASCII digit lookalikes
  private val atoms = Seq("0", "1", "7", "123", "12", "+", "-", ".", ",", ":",
    ".000", ",999", "2024-", "01-", "12:", "true", "t", "no", "y", "x", " ",
    "٣", "５") ++ terminators

  private def fuzz(rnd: scala.util.Random, n: Int): Seq[String] =
    Seq.fill(n)(Seq.fill(rnd.nextInt(7))(atoms(rnd.nextInt(atoms.length))).mkString)

  test("seeded fuzz over a small alphabet: the matcher ≡ find(0)") {
    val rnd = new scala.util.Random(20261021L)
    val matchers = PatternClass.Kinds.map(new PatternClass.Matcher(_))
    val diffs = fuzz(rnd, 200000).flatMap { v =>
      val u = UTF8String.fromString(v)
      classes.zip(matchers).collect {
        case (re, m) if m.matches(u) != find(re, v) => s"re=$re value=${escape(v)}"
      }
    }
    assert(diffs.isEmpty, diffs.take(20).mkString("\n"))
  }

  test("seeded fuzz through Spark, codegen and interpreted") {
    val values = fuzz(new scala.util.Random(7L), 5000)
    parity(codegen, values)
    parity(interpreted, values)
  }

  test("malformed UTF-8 bytes: the matcher ≡ find(0) on the decoded string") {
    val rnd = new scala.util.Random(85L)
    val bytes = Array[Byte]('1', '2', '-', ':', ',', '.', '\n', '\r',
      0xC2.toByte, 0x85.toByte, 0xE2.toByte, 0x80.toByte, 0xA8.toByte,
      0xA9.toByte, 0xFF.toByte)
    val matchers = PatternClass.Kinds.map(new PatternClass.Matcher(_))
    val diffs = (1 to 100000).flatMap { _ =>
      val u = UTF8String.fromBytes(Array.fill(rnd.nextInt(8))(bytes(rnd.nextInt(bytes.length))))
      classes.zip(matchers).collect {
        case (re, m) if m.matches(u) != find(re, u.toString) =>
          s"re=$re bytes=${u.getBytes.map(b => f"${b & 0xff}%02x").mkString(" ")}"
      }
    }
    assert(diffs.isEmpty, diffs.take(20).mkString("\n"))
  }

  test("any other pattern runs rlike unchanged") {
    import spark.implicits._
    val df = Seq("MCR1", "x").toDF("v")
    val out = df.select(Validate.matches(col("v"), "^MCR\\d+$"))
    assert(!out.queryExecution.analyzed.toString.contains("graft_pattern_class"))
    assert(out.collect().map(_.getBoolean(0)).toSeq === Seq(true, false))
  }
}
