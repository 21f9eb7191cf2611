package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Newline-delimited JSON ingest — the de-facto interchange format for
  * LLM training corpora (one document object per line). Spark side
  * reads with an EXPLICIT schema (schema inference is a full extra
  * pass at 100 TB; production readers always pin the schema), nested
  * structs and arrays land as first-class columns.
  *
  * The fixture is generated deterministically (seeded LCG, hand-picked
  * edge cases: missing keys, explicit nulls, quotes/backslashes,
  * non-ASCII text, empty arrays) so the DuckDB oracle can re-read the
  * same file cross-process — the same twin-ingest pattern as the
  * golden CSV slice. */
object JsonlSource {

  val schema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("lang", StringType),
    StructField("text", StringType),
    StructField("score", DoubleType),
    StructField("tags", ArrayType(StringType)),
    StructField("meta", StructType(Seq(
      StructField("src", StringType),
      StructField("n", LongType))))))

  /** Minimal JSON string escaping (quote, backslash, control chars). */
  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  // Verify runs queries concurrently and Bench repeats them; memoize
  // per (dir, n) so each fixture file is written ONCE per JVM (the
  // same lazy-write lock the CSV corrupt fixture documents) — a
  // non-atomic rewrite racing a concurrent reader would serve
  // truncated bytes.
  private val written =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), String]()

  /** Deterministic fixture: `n` documents at `dir`/docs.jsonl; returns
    * the file path. Idempotent — same bytes every call, written once
    * per JVM. */
  def generate(dir: String, n: Int = 240): String =
    written.computeIfAbsent((dir, n), _ => generateNow(dir, n))

  private def generateNow(dir: String, n: Int): String = {
    val path = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(path)
    val file = path.resolve("docs.jsonl")
    val langs = Vector("en", "de", "fr", "es", "zh")
    val words = Vector("spark", "catalyst", "tungsten", "shuffle",
      "parquet", "codegen", "déjà", "数据",
      "say \"hi\"", "a\\b")
    var x = 41L
    def nxt(m: Int): Int = { x = (x * 6364136223846793005L + 1442695040888963407L); (((x >>> 33) % m) + m).toInt % m }
    val sb = new StringBuilder
    (0 until n).foreach { i =>
      val lang = langs(nxt(langs.size))
      val text = (0 to nxt(6)).map(_ => words(nxt(words.size))).mkString(" ")
      val tags = (0 until nxt(4)).map(t => s""""t${nxt(9)}$t"""")
      sb.append(s"""{"id":$i,"lang":"$lang","text":"${esc(text)}"""")
      // every 7th doc: no score key at all; every 11th: explicit null
      if (i % 7 == 0) ()
      else if (i % 11 == 0) sb.append(""","score":null""")
      else sb.append(s""","score":${nxt(1000)}.${nxt(10)}${nxt(10)}""")
      sb.append(s""","tags":[${tags.mkString(",")}]""")
      // every 13th doc has no meta object
      if (i % 13 != 0)
        sb.append(s""","meta":{"src":"s${nxt(5)}","n":${nxt(100000)}}""")
      sb.append("}\n")
    }
    java.nio.file.Files.write(file, sb.toString.getBytes("UTF-8"))
    file.toString
  }

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema).json(path)

  /** Malformed-line fixture for corrupt-record accounting (q64): every
    * 7th line is a SYNTAX error (truncated object / non-JSON garbage),
    * the rest are well-formed with id+lang always present. Only syntax
    * errors are planted deliberately: that is the corruption class
    * where engines agree on row disposition (Spark PERMISSIVE marks
    * the whole row corrupt; DuckDB ignore_errors yields an all-NULL
    * row) — a type-mismatch line would instead be whole-row corrupt in
    * Spark but only field-NULL in DuckDB. */
  def corruptFixture(dir: String, n: Int = 140): String =
    written.computeIfAbsent((dir + "#bad", n), _ => corruptFixtureNow(dir, n))

  private def corruptFixtureNow(dir: String, n: Int): String = {
    val path = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(path)
    val file = path.resolve("docs_bad.jsonl")
    val sb = new StringBuilder
    (0 until n).foreach { i =>
      if (i % 7 == 3)
        sb.append(if (i % 14 == 3) s"""{"id":$i,"lang":"en""""
          else "not json at all").append("\n")
      else
        sb.append(s"""{"id":$i,"lang":"${if (i % 2 == 0) "en" else "de"}","text":"doc number $i"}""")
          .append("\n")
    }
    java.nio.file.Files.write(file, sb.toString.getBytes("UTF-8"))
    file.toString
  }

  /** Read JSONL with an explicit schema + corrupt-record quarantine
    * column (`_bad`), PERMISSIVE mode: a malformed line lands in the
    * quarantine column and a count, never kills the job — at 100 TB
    * there is ALWAYS a malformed line. */
  def readPermissive(spark: SparkSession, paths: Seq[String],
                     schema: StructType): DataFrame =
    spark.read
      .schema(schema.add(StructField("_bad", StringType)))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .json(paths: _*)

  // ---- q147: JSONL SINK round-trip with corrupt-line accounting -------
  // The write half the fixture lanes (q63/q64) don't cover: documents
  // -> distributed JSONL sink -> permissive schema'd read (plus a
  // planted batch of malformed lines) -> one aggregate proving
  // (a) every row survived, (b) every malformed line was quarantined
  // not dropped, (c) the TEXT content round-tripped byte-exactly
  // through the writer's JSON escaping — the md5 xor_sig channel
  // (q132's order-independent fingerprint) over the read-back text
  // equals the oracle's over the source table.
  private val NCorrupt = 25

  def jsonlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, dir)
      .select("doc_id", "lang", "text")
    // the aggregate is materialized so scratch can be deleted before
    // returning
    val tmp = graft.Scratch.dir("jsonl_rt", dir)
    docs.write.mode("overwrite").json(s"$tmp/good")
    spark.range(NCorrupt)
      .select(concat(lit("{\"doc_id\":"), col("id"), lit(",\"lang\":"))
        .as("value"))
      .write.mode("overwrite").text(s"$tmp/bad")
    val target = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("text", StringType)))
    val h = conv(substring(md5(col("text").cast("binary")), 1, 15), 16, 10)
      .cast("long")
    val out = readPermissive(spark, Seq(s"$tmp/good", s"$tmp/bad"), target)
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("_bad")).as("n_corrupt"),
        count(col("doc_id")).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        call_function("bit_xor", h).as("xor_sig"))
      .localCheckpoint(true)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    out
  }

  val jsonlRoundtripSql: String =
    s"""SELECT CAST(COUNT(*) + $NCorrupt AS BIGINT) AS n_rows,
       |  CAST($NCorrupt AS BIGINT) AS n_corrupt,
       |  CAST(COUNT(doc_id) AS BIGINT) AS n_docs,
       |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       |  bit_xor(CAST('0x' || substr(md5(text), 1, 15) AS BIGINT)) AS xor_sig
       |FROM documents""".stripMargin
}
