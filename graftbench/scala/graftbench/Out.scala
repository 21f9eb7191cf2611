package graftbench

import org.apache.spark.sql.Row

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Pre-rendered JSON text. */
final case class Raw(s: String)

/** Minimal JSON rendering for the run log. */
object J {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c    => b.append(c)
    }
    b.append('"').toString
  }

  def value(v: Any): String = v match {
    case null                => "null"
    case Raw(s)              => s
    case s: String           => str(s)
    case b: Boolean          => b.toString
    case i: Int              => i.toString
    case l: Long             => l.toString
    case d: Double           => if (d.isNaN || d.isInfinite) str(d.toString) else d.toString
    case s: Iterable[_]      => s.map(value).mkString("[", ",", "]")
    case other               => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

/** The run log: one JSON object per line, kept in memory and written
  * out when the run ends. */
final class Out(path: String) {
  private val lines = mutable.ArrayBuffer[String]()
  def rec(kind: String, kv: (String, Any)*): Unit = lines += J.obj(("t" -> kind) +: kv: _*)
  def flush(): Unit = Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(UTF_8))
}

/** Canonical form of a collected result (columns sorted by name, rows
  * sorted), its digest, and the rows of every distinct digest per
  * operation, so the result can be compared with the oracle after the
  * run, outside any timed interval. */
final class Results(out: Out) {
  private val seen = mutable.Map[String, mutable.Set[String]]()

  def digest(op: String, cols: Seq[String], rows: Array[Row]): String = {
    val order = cols.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => J.value(order.map(i => Results.cell(r.get(i))))).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(order.map(cols).mkString(",").getBytes(UTF_8))
    lines.foreach(l => md.update(("\n" + l).getBytes(UTF_8)))
    val d = md.digest().map(b => f"$b%02x").mkString
    if (seen.getOrElseUpdate(op, mutable.Set()).add(d))
      out.rec("result", "op" -> op, "digest" -> d, "columns" -> order.map(cols),
        "rows" -> Raw(lines.mkString("[", ",", "]")))
    d
  }
}

object Results {
  /** Typed values the checker can compare with DuckDB's. */
  def cell(v: Any): Any = v match {
    case null                       => null
    case b: java.lang.Byte          => b.intValue
    case s: java.lang.Short         => s.intValue
    case f: java.lang.Float         => f.doubleValue
    case d: java.math.BigDecimal    => "dec:" + d.toPlainString
    case d: scala.math.BigDecimal   => "dec:" + d.bigDecimal.toPlainString
    case d: java.sql.Date           => "date:" + d.toString
    case d: java.time.LocalDate     => "date:" + d.toString
    case t: java.sql.Timestamp      => "ts:" + micros(t.toInstant)
    case t: java.time.Instant       => "ts:" + micros(t)
    case t: java.time.LocalDateTime => "ts:" + micros(t.toInstant(java.time.ZoneOffset.UTC))
    case b: Array[Byte]             => "bin:" + b.map(x => f"$x%02x").mkString
    case r: Row                     => r.toSeq.map(cell)
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => Seq(cell(k), cell(x)) }
    case s: Iterable[_]             => s.map(cell).toSeq
    case other                      => other
  }

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)
}
