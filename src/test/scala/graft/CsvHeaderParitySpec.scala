package graft

import java.nio.file.{Files, Path}

import graft.sources.CsvSource
import org.apache.spark.sql.DataFrame

/** `CsvSource.readRaw` resolves a single file's header on the driver;
  * its schema and rows must equal the inference path's (Spark's own
  * `csv` reader with the same options), and it must launch no job to
  * get there. */
class CsvHeaderParitySpec extends SparkSpec {

  private lazy val dir: Path = Files.createTempDirectory("graft_csv_header_")

  private def file(name: String, bytes: Array[Byte]): String = {
    val p = dir.resolve(name)
    Files.write(p, bytes)
    p.toString
  }

  private def file(name: String, text: String): String =
    file(name, text.getBytes("UTF-8"))

  private def inferred(path: String, header: Boolean = true): DataFrame =
    spark.read.option("sep", "|").option("header", header.toString)
      .option("mode", "PERMISSIVE").csv(path)

  private def parity(path: String, header: Boolean = true): Unit = {
    var got: DataFrame = null
    assert(jobsOf { got = CsvSource.readRaw(spark, path, header = header); got.schema } === 0)
    val want = inferred(path, header)
    assert(got.schema === want.schema)
    assert(got.collect().toSeq === want.collect().toSeq)
  }

  test("names that differ only in case") {
    parity(file("case.csv", "Name|name|NAME|id\na|b|c|1\nd|e|f|2\n"))
  }

  test("an empty header cell is named _c<i>") {
    parity(file("empty_cell.csv", "a||c|\n1|2|3|4\n"))
  }

  test("a quoted header containing the separator") {
    parity(file("quoted.csv", "\"a|b\"|c\n1|2\n\"x|y\"|3\n"))
  }

  test("leading blank lines") {
    parity(file("blank.csv", "\n\n\r\nid|v\n1|x\n\n2|y\n"))
  }

  test("a UTF-8 byte-order mark") {
    parity(file("bom.csv", Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++
      "id|v\n1|x\n".getBytes("UTF-8")))
  }

  test("a header-only file") {
    parity(file("header_only.csv", "id|v|w\n"))
  }

  test("header = false names the columns _c<i>") {
    parity(file("no_header.csv", "1|x|y\n2|z|w\n"), header = false)
  }

  test("an empty file keeps the inference path") {
    val p = file("empty.csv", "")
    val got = CsvSource.readRaw(spark, p)
    assert(got.schema === inferred(p).schema)
    assert(got.collect().isEmpty)
  }

  test("a file named as hidden behaves as the reader does") {
    val p = file("_hidden.csv", "id|v\n1|x\n")
    def outcome(df: => DataFrame) =
      scala.util.Try(df).map(d => (d.schema, d.collect().toSeq)).toEither.left.map(_.getClass)
    assert(outcome(CsvSource.readRaw(spark, p)) === outcome(inferred(p)))
  }

  test("a directory keeps the inference path") {
    val d = dir.resolve("parts")
    Files.createDirectories(d)
    Files.write(d.resolve("a.csv"), "id|v\n1|x\n".getBytes("UTF-8"))
    Files.write(d.resolve("b.csv"), "id|v\n2|y\n".getBytes("UTF-8"))
    var got: DataFrame = null
    assert(jobsOf { got = CsvSource.readRaw(spark, d.toString); got.schema } >= 1)
    val want = inferred(d.toString)
    assert(got.schema === want.schema)
    assert(got.collect().toSet === want.collect().toSet)
  }

  test("sniffDelimiter on a file launches no job and still picks each delimiter") {
    val fixture = CsvSource.sniffFixture()
    CsvSource.SniffTags.foreach { case (tag, d) =>
      var got = ""
      assert(jobsOf { got = CsvSource.sniffDelimiter(spark, s"$fixture/$tag.csv") } === 0)
      assert(got === d, tag)
    }
  }
}
