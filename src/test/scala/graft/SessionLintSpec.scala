package graft

import org.scalatest.funsuite.AnyFunSuite

/** Structural session-purity lint: a builder leaves the session it is
  * given unchanged. `graft.Session` is the one place that configures a
  * session, and a builder that needs views or conf overrides takes a
  * `Session.child`. This spec scans the builder sources and fails, by
  * file:line, on the four ways a builder used to change or depend on
  * shared state, and on one way it used to skip `Tables`:
  *
  *  - `conf.set(`: a per-call conf write races any query running
  *    concurrently on the same session (Verify's pool) and outlives the
  *    call. A write mode goes in a write option; other overrides go in
  *    `Session.child(spark, key -> value)`.
  *  - `createOrReplaceTempView` (or another temp-view registration):
  *    replaces a view the caller may own. Register on a child session
  *    through `Tables.registerAll`.
  *  - a `"/tmp/` literal: scratch that is neither per-process nor swept.
  *    Use `Scratch.dir(base, dataDir)`.
  *  - `read.parquet(s"$dir/`: a star-schema table read around `Tables`
  *    infers its schema with a Spark job on every call. Use
  *    `Tables.load`, or `Tables.fileSchema` for a stream's schema.
  *  - `applicationId` or `ProcessHandle.current`: a table named after
  *    the session or process is owned by nobody once that session
  *    ends, and only a liveness sweep could reclaim it. Persist an
  *    index through `sources.IndexCatalog`, whose families are named,
  *    versioned and vacuumed.
  *
  * Comment lines are not code and are skipped. */
class SessionLintSpec extends AnyFunSuite {

  private val Roots = Seq(
    "src/main/scala/graft/operators", "src/main/scala/graft/sources",
    "src/main/scala/graft/streaming", "src/main/scala/graft/functions",
    "src/main/scala/graft/Tables.scala")

  /** Sites allowed anyway, keyed (file, substring of line), each with
    * its reason. */
  private val allowed: Map[(String, String), String] = Map(
    ("Tables.scala", "df.createOrReplaceTempView(n)") ->
      ("Tables.registerAll: registering views is the SQL surface's own " +
        "purpose; callers give it a child session's frames or their own session"),
    ("GoldenFixture.scala", ".tmp${ProcessHandle.current().pid()}") ->
      "a temp file renamed over the fixture at once, never a table",
    ("IndexCatalog.scala", ".tmp_pid${ProcessHandle.current().pid()}") ->
      "the manifest's temp file, moved over the manifest atomically",
    ("IndexCatalog.scala", "val sfx = s\"p${ProcessHandle.current().pid()}") ->
      ("the mint suffix: two processes racing one version number write " +
        "different directories; the manifest, not the name, owns them"))

  private val rules: Seq[(String, scala.util.matching.Regex)] = Seq(
    "conf.set" -> """\bconf\s*\.\s*set\(""".r,
    "temp view" -> """\bcreate(OrReplace)?(Global)?TempView\b""".r,
    "/tmp literal" -> """"/tmp/""".r,
    "star-schema read" -> """read\s*\.\s*parquet\(\s*s"\$\{?dir\}?/""".r,
    "session-keyed name" -> """\bapplicationId\b|\bProcessHandle\s*\.\s*current\b""".r)

  private case class Site(file: String, line: Int, rule: String, text: String)

  private def isComment(l: String): Boolean = {
    val t = l.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }

  /** Text-level scanner; a `.set(` that opens a line counts as a
    * `conf.set(` when the code line above ends in `conf`. */
  private def scanText(file: String, lines: Vector[String]): Seq[Site] = {
    val code = lines.map(l => if (isComment(l)) "" else l)
    code.indices.flatMap { i =>
      val joined =
        if (i > 0 && code(i).trim.startsWith(".set(") &&
            code(i - 1).trim.endsWith("conf")) code(i - 1).trim + code(i).trim
        else code(i)
      rules.collect { case (rule, re) if re.findFirstIn(joined).isDefined =>
        Site(file, i + 1, rule, lines(i).trim)
      }
    }
  }

  private def scan(): Seq[Site] = {
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    val all = Roots.map(new java.io.File(_)).flatMap { r =>
      assert(r.exists, s"lint must run from the repo root; no $r")
      files(r)
    }
    assert(all.size >= 30, s"scanner regressed: only ${all.size} files found")
    all.flatMap { f =>
      import scala.jdk.CollectionConverters._
      scanText(f.getName, java.nio.file.Files
        .readAllLines(f.toPath, java.nio.charset.StandardCharsets.UTF_8)
        .asScala.toVector)
    }
  }

  private def isAllowed(s: Site): Boolean =
    allowed.keys.exists { case (f, sub) => f == s.file && s.text.contains(sub) }

  test("builders set no conf, register no temp view and write no /tmp literal") {
    val offenders = scan().filterNot(isAllowed)
    if (offenders.nonEmpty) fail(offenders.map(s =>
      s"\n  ${s.file}:${s.line}  [${s.rule}]  ${s.text.take(100)}").mkString(
      "builder code that changes or depends on shared session state:", "",
      "\nFix: a write mode goes in .option(...) on the write; a conf " +
        "override or a view goes on graft.Session.child(spark, ...), views " +
        "through Tables.registerAll; scratch goes in " +
        "graft.Scratch.dir(base, dataDir); a testdata table is read with " +
        "Tables.load, its stream schema taken from Tables.fileSchema; a " +
        "persisted index is a sources.IndexCatalog family, not a table " +
        "named after the session or process."))
  }

  test("self-test: each rule catches its synthetic site; comments do not count") {
    val bad = Vector(
      "    spark.conf.set(\"spark.sql.shuffle.partitions\", \"8\")",
      "    batch.sparkSession.conf",
      "      .set(\"spark.sql.sources.partitionOverwriteMode\", \"dynamic\")",
      "    df.createOrReplaceTempView(\"lineitem\")",
      "    df.createTempView(\"lineitem\")",
      "    val tmp = s\"/tmp/graft_x_${dir}\"",
      "    val fileSchema = spark.read.parquet(s\"$dir/events.parquet\").schema",
      "    val t = s\"graft_idx_pid${ProcessHandle.current().pid()}\"",
      "    // spark.conf.set(\"k\", \"v\") in a comment",
      "    * df.createOrReplaceTempView(\"v\") in a doc comment")
    val sites = scanText("Synthetic.scala", bad)
    assert(sites.map(s => (s.line, s.rule)) === Seq(
      1 -> "conf.set", 3 -> "conf.set", 4 -> "temp view", 5 -> "temp view",
      6 -> "/tmp literal", 7 -> "star-schema read", 8 -> "session-keyed name"))
  }

  test("the allowed list carries no dead entries") {
    val sites = scan()
    val dead = allowed.keys.filterNot { case (f, sub) =>
      sites.exists(s => s.file == f && s.text.contains(sub)) }
    assert(dead.isEmpty, s"allowed entries with no matching site: $dead")
  }
}
