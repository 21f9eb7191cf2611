package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd matcher for the six lexical classes of the validation
  * core (`graft.functions.Validate.Re*`): true when the value is in the
  * class, NULL for NULL input — what `rlike` gives for the class's
  * anchored regex, without the regex engine.
  *
  * Why a custom Expression: `rlike` decodes every value to a
  * `java.lang.String` and runs a backtracking `java.util.regex`
  * matcher over it. The classes are tiny regular languages over ASCII,
  * so one pass over the `UTF8String` bytes decides membership with no
  * allocation. KernelProbe's `patternClass` pair (4 M CSV-shaped values
  * x 6 classes, best of 3, local[4]) reads 0.21 s against `rlike`'s
  * 1.78 s.
  *
  * Exact parity with `Pattern.compile(re).matcher(s).find(0)` (what
  * `rlike` runs; PatternClassParitySpec fuzzes it):
  *  - `^` anchors at offset 0, and `$` matches at the end or before ONE
  *    final line terminator: `\n`, `\r\n`, `\r`, U+0085, U+2028 or
  *    U+2029 (Java's non-multiline `$`);
  *  - `\d` is ASCII `[0-9]` only (no UNICODE_CHARACTER_CLASS flag), so
  *    any non-ASCII byte left after the terminator is a miss;
  *  - the numeric classes accept `\d{1,3}(<group>\d{3})*` or `\d+` as
  *    the integer part, then an optional `<frac>\d+`.
  */
case class PatternClass(child: Expression, kind: String)
    extends UnaryExpression with ImplicitCastInputTypes {

  require(PatternClass.Kinds.contains(kind),
    s"graft_pattern_class kind must be one of ${PatternClass.Kinds.mkString(", ")}: $kind")

  /** A non-string input is cast to string first, as `rlike` does. */
  override def inputTypes = Seq(StringType)

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_pattern_class"

  @transient private lazy val matcher = new PatternClass.Matcher(kind)

  override protected def nullSafeEval(input: Any): Any =
    matcher.matches(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("pcMatcher", matcher,
      classOf[PatternClass.Matcher].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $m.matches($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): PatternClass =
    copy(child = newChild)
}

object PatternClass {

  /** The class names; the numbering is the matcher's dispatch. */
  val Kinds: Seq[String] =
    Seq("int", "eu_numeric", "us_numeric", "bool", "iso_date", "time")

  private val BoolTokens: Array[Array[Byte]] =
    Array("true", "false", "t", "f", "yes", "no", "y", "n", "0", "1")
      .map(_.getBytes("US-ASCII"))

  /** The per-kind byte scanner, shared by interpreted eval and the
    * generated code (a codegen reference object — must serialize). */
  final class Matcher(kind: String) extends Serializable {
    private val code: Int = Kinds.indexOf(kind)

    def matches(v: UTF8String): Boolean = {
      val n = bodyEnd(v)
      code match {
        case 0 => int(v, n)
        case 1 => numeric(v, n, '.', ',')
        case 2 => numeric(v, n, ',', '.')
        case 3 => bool(v, n)
        case 4 => n == 10 && digits(v, 0, 4) && v.getByte(4) == '-' &&
          digits(v, 5, 7) && v.getByte(7) == '-' && digits(v, 8, 10)
        case _ => n == 8 && digits(v, 0, 2) && v.getByte(2) == ':' &&
          digits(v, 3, 5) && v.getByte(5) == ':' && digits(v, 6, 8)
      }
    }

    /** Byte length of the value without one final line terminator:
      * where Java's `$` can match when the class body is pure ASCII. */
    private def bodyEnd(v: UTF8String): Int = {
      val n = v.numBytes()
      if (n == 0) return 0
      val last = v.getByte(n - 1)
      if (last == '\n') {
        if (n >= 2 && v.getByte(n - 2) == '\r') n - 2 else n - 1
      } else if (last == '\r') n - 1
      else if (last == 0x85.toByte && n >= 2 && v.getByte(n - 2) == 0xC2.toByte) n - 2
      else if ((last == 0xA8.toByte || last == 0xA9.toByte) && n >= 3 &&
        v.getByte(n - 2) == 0x80.toByte && v.getByte(n - 3) == 0xE2.toByte) n - 3
      else n
    }

    private def digit(b: Byte): Boolean = b >= '0' && b <= '9'

    private def digits(v: UTF8String, from: Int, until: Int): Boolean = {
      var i = from
      while (i < until) {
        if (!digit(v.getByte(i))) return false
        i += 1
      }
      true
    }

    private def signEnd(v: UTF8String, n: Int): Int =
      if (n > 0 && (v.getByte(0) == '+' || v.getByte(0) == '-')) 1 else 0

    /** `[+-]?\d+` */
    private def int(v: UTF8String, n: Int): Boolean = {
      val s = signEnd(v, n)
      s < n && digits(v, s, n)
    }

    /** `[+-]?(\d{1,3}(<group>\d{3})*|\d+)(<frac>\d+)?` */
    private def numeric(v: UTF8String, n: Int, group: Byte, frac: Byte): Boolean = {
      val s = signEnd(v, n)
      var i = s
      while (i < n && digit(v.getByte(i))) i += 1
      val lead = i - s
      if (lead == 0) return false
      if (i < n && v.getByte(i) == group) {
        if (lead > 3) return false
        while (i < n && v.getByte(i) == group) {
          if (i + 3 >= n || !digits(v, i + 1, i + 4)) return false
          i += 4
        }
      }
      if (i == n) return true
      if (v.getByte(i) != frac || i + 1 == n) return false
      digits(v, i + 1, n)
    }

    /** `(true|false|t|f|yes|no|y|n|0|1)` */
    private def bool(v: UTF8String, n: Int): Boolean = {
      var k = 0
      while (k < BoolTokens.length) {
        val t = BoolTokens(k)
        if (t.length == n) {
          var j = 0
          while (j < n && v.getByte(j) == t(j)) j += 1
          if (j == n) return true
        }
        k += 1
      }
      false
    }
  }
}
