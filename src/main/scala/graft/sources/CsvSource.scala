package graft.sources

import scala.util.Try

import com.univocity.parsers.csv.CsvParser
import graft.functions.Validate
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.Text
import org.apache.hadoop.util.LineReader
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.CodecStreams
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CSV ingest path (SURVEY §2.1 S1/S2/S8 + §2.2 P1-P4/P7): the
  * reference's pipe-delimited, decimal-comma, placeholder-ridden CSV
  * contract (`src/db/pipeline.py:227-262`) as one lazy Spark plan:
  *
  *   read-as-string -> placeholder normalization -> schema alignment
  *   (lowercase/rename/drop/add-missing/reorder) -> typed casts
  *   (decimal-comma money, 0/1 bools, ISO dates) -> union across files
  *   with drifting schemas (`unionByName(allowMissingColumns=true)`).
  *
  * Reading everything as string first matches the reference's behavior
  * (multi-token `null_values` lists + `decimal_comma=True` have no
  * single-option Spark equivalent) and keeps every cast an auditable
  * Column expression instead of reader magic.
  *
  * Scale: one plan per file set, no driver materialization (the
  * reference buffers whole files through StringIO, pipeline.py:182-184).
  * Casts are codegen'd expressions over the vectorized CSV scan.
  */
object CsvSource {

  /** S1/S2: read a `|`-CSV with every column as nullable string.
    *
    * On a path that names one non-empty file, the header is resolved on
    * the driver: the first non-empty line, read with Spark's own
    * `CSVUtils.readHeaderLine`, parsed with the reader's parser settings
    * and named by `CSVUtils.makeSafeHeader` under the session's case
    * sensitivity, then passed as an explicit all-string schema. That is
    * the code `TextInputCSVDataSource.infer` runs inside a `take(1)` job
    * when `inferSchema` is off, so the schema and rows are unchanged and
    * the job is gone (CsvHeaderParitySpec). A directory, a glob or an
    * empty file keeps Spark's inference. */
  def readRaw(spark: SparkSession, path: String, sep: String = "|",
              header: Boolean = true): DataFrame = {
    val opts = Map("sep" -> sep, "header" -> header.toString, "mode" -> "PERMISSIVE")
    val reader = spark.read.options(opts)
    headerSchema(spark, path, opts).fold(reader.csv(path))(reader.schema(_).csv(path))
  }

  private def headerSchema(spark: SparkSession, path: String,
                           opts: Map[String, String]): Option[StructType] =
    singleFile(spark, path).flatMap { case (p, hadoopConf) =>
      val conf = spark.sessionState.conf
      val options = new CSVOptions(opts, conf.csvColumnPruning,
        conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
      CSVUtils.readHeaderLine(p, options, hadoopConf)
        .flatMap(line => Option(new CsvParser(options.asParserSettings).parseLine(line)))
        .map { first =>
          val names = CSVUtils.makeSafeHeader(first, conf.caseSensitiveAnalysis, options)
          StructType(names.toSeq.map(StructField(_, StringType)))
        }
    }

  /** `path` as one readable non-empty file, or None for what the reader
    * lists or globs (a directory, glob characters), a name its listing
    * treats as hidden, or a missing or empty file — the cases that stay
    * on the reader. */
  private def singleFile(spark: SparkSession, path: String)
      : Option[(Path, Configuration)] =
    if (path.exists("{}[]*?\\".contains(_))) None
    else {
      val p = new Path(path)
      val hadoopConf = spark.sessionState.newHadoopConf()
      val hidden = p.getName.startsWith("_") || p.getName.startsWith(".")
      Try(p.getFileSystem(hadoopConf).getFileStatus(p)).toOption
        .filter(st => !hidden && st.isFile && st.getLen > 0)
        .map(_ => (p, hadoopConf))
    }

  /** Align a raw (all-string) frame to a typed target schema
    * (pipeline.py:237-260): lowercase headers, apply renames, drop
    * columns not in the target, add missing target columns as typed
    * nulls, reorder to target order, then cast — with placeholder
    * tokens normalized to null before any cast, and decimal-comma
    * repair on decimal targets. */
  def alignTo(raw: DataFrame, target: StructType,
              renames: Map[String, String] = Map.empty,
              nullTokens: Seq[String] = Validate.defaultNullTokens): DataFrame = {
    val lowered = raw.toDF(raw.columns.map(_.toLowerCase): _*)
    val renamed = renames.foldLeft(lowered) { case (d, (from, to)) =>
      if (d.columns.contains(from.toLowerCase)) d.withColumnRenamed(from.toLowerCase, to) else d
    }
    val cols = target.fields.map { f =>
      if (!renamed.columns.contains(f.name)) lit(null).cast(f.dataType).as(f.name)
      else {
        val cleaned = Validate.normalizePlaceholders(col(f.name), nullTokens)
        val typed = f.dataType match {
          case d: DecimalType => Validate.decimalComma(cleaned, d.precision, d.scale)
          case BooleanType    => Validate.bool01(cleaned)
          case t              => cleaned.cast(t)
        }
        typed.as(f.name)
      }
    }
    renamed.select(cols.toSeq: _*)
  }

  /** S1 over many files with schema drift (U1): each file aligned, then
    * diagonal union. A surrogate id (monotonically_increasing_id) mirrors
    * the reference's BIGSERIAL role — unique, not contiguous (SURVEY
    * §7.4.4). */
  def readAligned(spark: SparkSession, paths: Seq[String], target: StructType,
                  sep: String = "|", renames: Map[String, String] = Map.empty,
                  withSurrogateId: Boolean = false): DataFrame = {
    val aligned = paths.map(p => alignTo(readRaw(spark, p, sep), target, renames))
    val unioned = aligned.reduce(_.unionByName(_, allowMissingColumns = true))
    if (withSurrogateId) unioned.withColumn("row_id", monotonically_increasing_id())
    else unioned
  }

  /** S8: write a frame as `|`-separated CSV (cleaned-file sink,
    * notebook cell 31). */
  def write(df: DataFrame, path: String, sep: String = "|"): Unit =
    df.write.mode("overwrite")
      .option("sep", sep).option("header", "true")
      .csv(path)

  /** Planted malformed-CSV fixture for the corrupt-record accounting
    * oracle (q54): 400 data rows of (id|name|amount), where ids
    * divisible by 7 carry an unparseable id token and rows with
    * i % 13 == 5 an unparseable amount — pure type garbage (never
    * empty strings, which both engines read as plain NULLs, and never
    * a wrong field count, which DuckDB's all_varchar lane couldn't
    * count). Deterministic bytes, memoized like the golden fixture. */
  val CorruptFixtureFile: String = sys.env.getOrElse("GRAFT_FIXTURE_DIR_CORRUPT",
    s"${sys.props("user.dir")}/target/corrupt_csv") + "/sensor.csv"

  private lazy val corruptFixtureWritten: String = {
    val path = java.nio.file.Paths.get(CorruptFixtureFile)
    java.nio.file.Files.createDirectories(path.getParent)
    val sb = new StringBuilder("id|name|amount\n")
    (0 until 400).foreach { i =>
      val id = if (i % 7 == 0) s"X${i}Z" else i.toString
      val amount = if (i % 13 == 5) s"NaN-ish$i" else s"${i * 3}.${i % 100}"
      sb.append(s"$id|sensor_$i|$amount\n")
    }
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
    CorruptFixtureFile
  }

  /** Idempotent generate-once accessor (Verify runs queries
    * concurrently; lazy val is the JVM-level write lock). */
  def corruptFixture(): String = corruptFixtureWritten

  /** S5: delimiter sniffing — count candidate delimiters in the first
    * line(s) of the file (dataset_profiling.py:85-99). Driver-side by
    * nature (inspects bytes before a reader exists): a single file is
    * read with Hadoop's `LineReader`, the reader `CSVUtils.readHeaderLine`
    * uses, so it launches no job. `path` names one file. */
  def sniffDelimiter(spark: SparkSession, path: String,
                     candidates: Seq[String] = Seq("|", ",", ";", "\t")): String = {
    val head = firstLines(new Path(path), spark.sessionState.newHadoopConf(), 5)
    candidates.maxBy(d => head.map(l => l.split(java.util.regex.Pattern.quote(d), -1).length - 1).sum)
  }

  /** Up to `n` lines of a file, split and decoded as `spark.read.text`
    * does (`\n`, `\r\n` or `\r`; UTF-8). */
  private def firstLines(p: Path, hadoopConf: Configuration, n: Int): Seq[String] = {
    val in = new LineReader(CodecStreams.createInputStream(hadoopConf, p))
    try {
      val text = new Text
      Iterator.continually(in.readLine(text)).takeWhile(_ > 0).take(n)
        .map(_ => text.toString).toList
    } finally in.close()
  }

  /** Planted multi-delimiter fixtures for the sniffing oracle (q74):
    * the same 3-column table written four times, once per delimiter.
    * Values carry no delimiter characters of any candidate, so each
    * file's winning count is unambiguous for both sniffers (ours and
    * DuckDB's sniff_csv). Deterministic bytes, memoized like the
    * corrupt fixture. */
  val SniffFixtureDir: String =
    s"${sys.props("user.dir")}/target/sniff_csv"
  val SniffTags: Seq[(String, String)] =
    Seq("comma" -> ",", "pipe" -> "|", "semicolon" -> ";", "tab" -> "\t")

  private lazy val sniffFixtureWritten: String = {
    val dir = java.nio.file.Paths.get(SniffFixtureDir)
    java.nio.file.Files.createDirectories(dir)
    SniffTags.foreach { case (tag, d) =>
      val sb = new StringBuilder(Seq("id", "name", "amount").mkString(d))
      sb.append("\n")
      (0 until 50).foreach { i =>
        sb.append(Seq(i.toString, s"name_$i", s"${i * 3}.${i % 10}").mkString(d))
        sb.append("\n")
      }
      java.nio.file.Files.write(dir.resolve(s"$tag.csv"),
        sb.toString.getBytes("UTF-8"))
    }
    SniffFixtureDir
  }

  /** Idempotent generate-once accessor. */
  def sniffFixture(): String = sniffFixtureWritten
}
