package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Named, VERSIONED index tables — the q136 manifest/snapshot
  * discipline applied to the durable indexes (round-13 verdict #3),
  * and graft's one mechanism for persisting a built index (LSH q311,
  * SRP q24, IVF q34, PageRank layout q146/q179, and the bench lanes
  * that time them). The first thing a SECOND user of the same
  * warehouse hits is "whose index is this and can I rebuild it while
  * you probe?". This catalog answers it the way every table format
  * does:
  *
  *  - an index FAMILY is a logical name (`srp_docs`); a BUILD mints
  *    the next version and writes its parts as bucketed tables named
  *    `graft_idx_<family>_v<N>_<part>`;
  *  - a one-file MANIFEST per family (`graft_idx_<family>_manifest.txt`
  *    in the warehouse dir) names the current version and every live
  *    version's parts; it is published by temp-write + ATOMIC_MOVE, so
  *    a reader sees the old manifest or the new one, never a torn one
  *    (the GoldenFixture discipline — a crash mid-build leaves the
  *    manifest untouched and the half-written vN+1 tables unreferenced);
  *  - a PROBE pins a version (default: current at pin time) and reads
  *    only that version's parts — a build landing vN+1 mid-probe is
  *    INVISIBLE to it (the q136 snapshot-isolation law, asserted per
  *    family in IndexCatalogSpec);
  *  - VACUUM reclaims: it drops versions that are (a) not the
  *    current one, (b) outside the keep-window, and (c) past a grace
  *    age (by `publishedMs`) — the standard "no reader still holds it"
  *    heuristic when pins aren't centrally tracked (Delta VACUUM's
  *    retention check). Unreferenced tables from crashed builds age
  *    out past the same grace, by directory mtime.
  *
  * A family name is `[a-z0-9_]+` and never contains `_v<digit>`, and
  * every entry point refuses any other name ([[checkFamily]]). So a
  * directory named `graft_idx_<f>_v<N>…` can only be family `<f>`'s:
  * vacuum and dropFamily sweep by that prefix and never touch a
  * sibling family, with no need to read the siblings' manifests.
  *
  * Local-mode caveat, by design: Spark's in-memory catalog dies with
  * the JVM, so a LATER process sees the version tables only as
  * warehouse DIRECTORIES. [[readPart]] therefore re-registers a
  * bucketed part from its manifest spec, or falls back to a direct
  * parquet read of the table location; with a persistent metastore
  * (the 100 TB deployment) the catalog entry survives. Concurrent
  * builders in separate processes can race a version number; the
  * loser's tables are unreferenced (vacuum food) and the manifest move
  * is atomic either way — REALLY unreferenced, because physical version
  * dirs carry the builder's pid+nonce mint suffix (two processes racing
  * the same version number write DIFFERENT directories). A real
  * deployment swaps the file move for the metastore's conditional put.
  */
object IndexCatalog {

  /** Physical table name of one part of one version. `sfx` is the
    * version's MINT SUFFIX (builder pid + nonce, recorded in the
    * manifest): two processes racing the same version number then
    * write DIFFERENT directories — the loser's tables really are
    * unreferenced vacuum food, instead of both committers interleaving
    * into (or the orphan-location guard deleting) ONE directory while
    * the winner probes it. Empty sfx keeps pre-round-15 names valid. */
  def tableName(family: String, v: Int, part: String,
                sfx: String = ""): String =
    s"graft_idx_${checkFamily(family)}_v$v${sfx}_$part"

  /** The family rule every entry point applies: `[a-z0-9_]+` with no
    * `_v<digit>`, so no family's version directories or manifest can
    * match another family's `graft_idx_<f>_v<N>` prefix. Returns the
    * name; throws IllegalArgumentException naming it otherwise. */
  private def checkFamily(family: String): String = {
    require(family.matches("[a-z0-9_]+") && !family.matches(".*_v[0-9].*"),
      s"index family must be [a-z0-9_]+ without _v<digit>: $family")
    family
  }

  /** 8-byte SHA-1 hex of `s` — for folding build HYPERPARAMETERS into
    * the source fingerprint handed to [[getOrMint]]. Reuse keyed on
    * the source fingerprint ALONE silently serves an index built with
    * different bands/bits/cells to a caller who changed them (same
    * data, different index); every get-or-publish caller folds its
    * parameters in through this digest so a parameter change is a
    * fingerprint change is a rebuild. */
  def hexDigest(s: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    md.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** Physical table name of a MANIFESTED part — resolves the version's
    * mint suffix through the manifest (what probes and maintenance use;
    * bare [[tableName]] is only correct for suffix-free versions). */
  def partTableName(spark: SparkSession, family: String, v: Int,
                    part: String): String = {
    val sfx = readManifest(spark, family)
      .flatMap(_.versions.find(_.v == v)).map(_.sfx).getOrElse("")
    tableName(family, v, part, sfx)
  }

  /** One physical part of a version, with its OPTIONAL bucket spec.
    * Recording the spec in the manifest is what lets a LATER process
    * re-register the part as an external bucketed table at the same
    * location (see [[readPart]]) instead of downgrading to a plain
    * parquet read and silently re-paying the shuffle the bucketed
    * layout exists to remove. `nBuckets <= 0` means unbucketed. */
  final case class Part(name: String, bucketCol: String = "",
                        nBuckets: Int = 0, sortCol: String = "")

  final case class Version(v: Int, parts: Seq[Part], publishedMs: Long,
                           fp: String = "", sfx: String = "")
  final case class Manifest(current: Int, versions: Seq[Version])

  private def warehouseDir(spark: SparkSession): java.io.File =
    new java.io.File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath)

  private def manifestFile(spark: SparkSession, family: String): java.io.File =
    new java.io.File(warehouseDir(spark),
      s"graft_idx_${checkFamily(family)}_manifest.txt")

  // `vecs` (unbucketed) or `vecs:vec_id:8:` / `edges:src:32:src`
  // (name:bucketCol:nBuckets:sortCol) — colon-free tokens keep the
  // pre-round-15 manifests parseable
  private def renderPart(p: Part): String =
    if (p.nBuckets <= 0) p.name
    else s"${p.name}:${p.bucketCol}:${p.nBuckets}:${p.sortCol}"

  private def parsePart(s: String): Part = s.split(":", -1) match {
    case Array(n, c, b, srt) => Part(n, c, b.toInt, srt)
    case arr                 => Part(arr.head)
  }

  /** One line per version (`v=<N> ms=<epoch> parts=<a,b>[ fp=<hex>]`),
    * preceded by `current=<N>` — a deliberately trivial grammar so no
    * JSON parser enters the dependency surface. `fp` is the source
    * fingerprint the version was built from (see [[getOrMint]]); parts
    * carry their bucket spec when bucketed (see [[Part]]). */
  private def render(m: Manifest): String =
    (s"current=${m.current}" +: m.versions.sortBy(_.v).map { v =>
      val fp = if (v.fp.nonEmpty) s" fp=${v.fp}" else ""
      val sfx = if (v.sfx.nonEmpty) s" sfx=${v.sfx}" else ""
      s"v=${v.v} ms=${v.publishedMs} " +
        s"parts=${v.parts.map(renderPart).mkString(",")}$fp$sfx"
    }).mkString("\n") + "\n"

  def readManifest(spark: SparkSession, family: String): Option[Manifest] = {
    val f = manifestFile(spark, family)
    if (!f.exists()) None
    else try {
      val lines = java.nio.file.Files.readAllLines(f.toPath)
      import scala.jdk.CollectionConverters._
      val all = lines.asScala.map(_.trim).filter(_.nonEmpty)
      val cur = all.collectFirst { case s if s.startsWith("current=") =>
        s.stripPrefix("current=").toInt }
      val vRe = ("v=(\\d+) ms=(\\d+) parts=([a-z0-9_,:]+)" +
        "( fp=([0-9a-f]+))?( sfx=([a-z0-9]+))?").r
      val vs = all.collect { case vRe(v, ms, parts, _, fp, _, sfx) =>
        Version(v.toInt, parts.split(",").toSeq.map(parsePart), ms.toLong,
          Option(fp).getOrElse(""), Option(sfx).getOrElse("")) }.toSeq
      cur.map(Manifest(_, vs))
    } catch { case _: Throwable => None }
  }

  def currentVersion(spark: SparkSession, family: String): Option[Int] =
    readManifest(spark, family).map(_.current)

  private def writeManifest(spark: SparkSession, family: String,
                            m: Manifest): Unit = {
    val f = manifestFile(spark, family)
    f.getParentFile.mkdirs()
    val tmp = new java.io.File(f.getParentFile,
      f.getName + s".tmp_pid${ProcessHandle.current().pid()}")
    java.nio.file.Files.write(tmp.toPath,
      render(m).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp.toPath, f.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  // one build at a time per (JVM, family): version minting is
  // read-modify-write on the manifest
  private val mintLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def lockFor(family: String): Object =
    mintLocks.computeIfAbsent(checkFamily(family), _ => new Object)

  private val mintNonce = new java.util.concurrent.atomic.AtomicLong(0)

  /** Mint the next version of `family`: `build` writes the parts given
    * (version, part => full table name) and returns their specs (bucket
    * metadata lands in the manifest for cross-process restoration); the
    * manifest flips to the new version ATOMICALLY after all parts land
    * — a probe pinned before or during the build never sees it. `fp` is
    * the source fingerprint the version is built from (empty =
    * unrecorded, [[getOrMint]] then never reuses it). Returns the new
    * version. */
  def mintParts(spark: SparkSession, family: String, fp: String = "")(
      build: (Int, String => String) => Seq[Part]): Int = {
    require(fp.matches("[0-9a-f]*"), s"fingerprint must be lowercase hex: $fp")
    lockFor(family).synchronized {
      val prev = readManifest(spark, family)
      // maxOption: a manifest whose version lines were all hand-pruned
      // (or failed the line grammar) still has a current= header — mint
      // must restart numbering, not throw on an empty max
      val v = prev.flatMap(_.versions.map(_.v).maxOption).getOrElse(0) + 1
      // pid+nonce suffix: the in-JVM lock serializes same-process mints,
      // but a SECOND process computes the same v from the same manifest
      // — distinct physical dirs keep that race at "loser's tables are
      // vacuum food" (the manifest move is last-writer-wins; a real
      // metastore deployment swaps it for a conditional put)
      val sfx = s"p${ProcessHandle.current().pid()}n${mintNonce.incrementAndGet()}"
      val parts = build(v, part => tableName(family, v, part, sfx))
      require(parts.nonEmpty, s"index build for $family wrote no parts")
      // the manifest grammar would silently DROP a line whose tokens
      // fall outside it (readManifest collects matches only) — numbering
      // would then restart under live dirs; refuse the write instead
      parts.foreach { p =>
        require(p.name.matches("[a-z0-9_]+"), s"bad part name: ${p.name}")
        require(p.bucketCol.matches("[a-z0-9_]*") &&
          p.sortCol.matches("[a-z0-9_]*"),
          s"bucket/sort cols must be [a-z0-9_]*: $p")
      }
      val entry = Version(v, parts, System.currentTimeMillis(), fp, sfx)
      writeManifest(spark, family,
        Manifest(v, prev.map(_.versions).getOrElse(Seq.empty) :+ entry))
      v
    }
  }

  /** Get-or-build — the STANDING-index default path (round-14 verdict
    * #1): when the family's CURRENT version was built from the same
    * source fingerprint `fp` and its parts are still present, serve it
    * WITHOUT invoking `build` (the by-name/closure discipline: a reuse
    * hit never constructs the input frame); otherwise mint the next version
    * recording `fp`. New data ⇒ new fingerprint ⇒ rebuild; same data ⇒
    * reuse — across processes, because the decision reads only the
    * manifest and the warehouse listing (a LIST call at 100 TB, never
    * a data scan). Returns the version to pin. */
  def getOrMint(spark: SparkSession, family: String, fp: String)(
      build: (Int, String => String) => Seq[Part]): Int = {
    require(fp.matches("[0-9a-f]+"), s"fingerprint must be lowercase hex: $fp")
    lockFor(family).synchronized {
      val reusable = readManifest(spark, family).flatMap(m =>
        m.versions.find(_.v == m.current).filter(e =>
          e.fp == fp && e.parts.nonEmpty &&
            e.parts.forall(p => partPresent(spark, family, e, p.name))))
      reusable match {
        case Some(e) => e.v
        case None => mintParts(spark, family, fp)(build)
      }
    }
  }

  private def partPresent(spark: SparkSession, family: String, e: Version,
                          part: String): Boolean = {
    val t = tableName(family, e.v, part, e.sfx)
    spark.catalog.tableExists(t) ||
      new java.io.File(warehouseDir(spark),
        t.toLowerCase(java.util.Locale.ROOT)).exists()
  }

  /** Read one part of one version: `spark.table` when the catalog still
    * holds the entry (same-process — keeps bucket metadata). When the
    * entry is gone (a LATER process: the in-memory catalog died with
    * its writer), a part whose manifest line carries a bucket spec is
    * RE-REGISTERED as an external bucketed table at the same location
    * — restoring the shuffle-free bucketed join instead of silently
    * downgrading to a plain parquet read (the bucket ids live in the
    * file names Spark's bucketed writer produced, so an external table
    * with the same CLUSTERED BY spec reads them natively; with a
    * persistent metastore this branch never runs). Plain parquet read
    * remains the fallback for unbucketed parts or a failed
    * registration. */
  def readPart(spark: SparkSession, family: String, v: Int,
               part: String): DataFrame = {
    val entry = readManifest(spark, family).flatMap(_.versions.find(_.v == v))
    val t = tableName(family, v, part, entry.map(_.sfx).getOrElse(""))
    if (spark.catalog.tableExists(t)) spark.table(t)
    else {
      val d = new java.io.File(warehouseDir(spark),
        t.toLowerCase(java.util.Locale.ROOT))
      require(d.exists(), s"index part $t of $family@$v not found " +
        "(vacuumed, or never published?)")
      val spec = entry.flatMap(_.parts.find(_.name == part))
        .filter(_.nBuckets > 0)
      spec.flatMap { p =>
        try {
          lockFor(family).synchronized {
            if (!spark.catalog.tableExists(t)) {
              val ddl = spark.read.parquet(d.getPath).schema.toDDL
              val sorted =
                if (p.sortCol.nonEmpty) s"SORTED BY (${p.sortCol}) " else ""
              spark.sql(s"CREATE TABLE $t ($ddl) USING PARQUET " +
                s"CLUSTERED BY (${p.bucketCol}) ${sorted}" +
                s"INTO ${p.nBuckets} BUCKETS LOCATION '${d.getPath}'")
            }
          }
          Some(spark.table(t))
        } catch { case _: Throwable => None }
      }.getOrElse(spark.read.parquet(d.getPath))
    }
  }

  /** Pin the version a probe will read: an explicit `version` if >0,
    * else the manifest's CURRENT — captured once, so everything the
    * caller derives from it stays at that snapshot. */
  def pin(spark: SparkSession, family: String, version: Int = -1): Int =
    if (version > 0) { checkFamily(family); version }
    else currentVersion(spark, family).getOrElse(
      throw new IllegalStateException(
        s"index family $family has no published version"))

  /** Reclaim old versions: drop every version that is NOT current, NOT
    * in the newest `keep` versions, and older than `graceMs` — plus
    * any version directory of this family the manifest does not
    * reference at all (crashed builds), past the same grace by mtime.
    * Returns the dropped tables. */
  def vacuum(spark: SparkSession, family: String, keep: Int = 2,
             graceMs: Long = 30L * 60 * 1000): Seq[String] =
    lockFor(family).synchronized {
      readManifest(spark, family).fold(Seq.empty[String]) { m =>
        val cutoff = System.currentTimeMillis() - graceMs
        val keepVs = m.versions.map(_.v).sorted.takeRight(math.max(1, keep))
          .toSet + m.current
        val (dead, live) = m.versions.partition(e =>
          !keepVs.contains(e.v) && e.publishedMs < cutoff)
        val refd = tablesOf(family, m.versions).toSet
        val orphans = versionDirs(spark, family)
          .filter(f => !refd(f.getName) && f.lastModified() < cutoff)
          .map(_.getName)
        val dropped = tablesOf(family, dead) ++ orphans
        dropped.foreach(dropTable(spark, _))
        if (dead.nonEmpty)
          writeManifest(spark, family, Manifest(m.current, live))
        dropped
      }
    }

  /** Drop a whole family: every table its manifest references, every
    * version directory it owns (crashed builds included), and the
    * manifest with any temp a crashed publish left. */
  def dropFamily(spark: SparkSession, family: String): Unit =
    lockFor(family).synchronized {
      val listed = readManifest(spark, family).fold(Seq.empty[String])(m =>
        tablesOf(family, m.versions))
      (listed ++ versionDirs(spark, family).map(_.getName)).distinct
        .foreach(dropTable(spark, _))
      val manifests = s"graft_idx_${family}_manifest\\.txt(\\.tmp_pid\\d+)?".r
      Option(warehouseDir(spark).listFiles()).getOrElse(Array.empty)
        .filter(f => manifests.matches(f.getName))
        .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
    }

  private def tablesOf(family: String, vs: Seq[Version]): Seq[String] =
    vs.flatMap(e => e.parts.map(p => tableName(family, e.v, p.name, e.sfx)))

  /** Every `graft_idx_<family>_v<N>…` directory in the warehouse. The
    * family rule makes the match exact: no other family's directory or
    * manifest has this prefix (see [[checkFamily]]). */
  private def versionDirs(spark: SparkSession,
                          family: String): Seq[java.io.File] = {
    val dir = s"graft_idx_${family}_v\\d+[a-z0-9]*_.*".r
    Option(warehouseDir(spark).listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => dir.matches(f.getName))
  }

  private def dropTable(spark: SparkSession, t: String): Unit = {
    try spark.sql(s"DROP TABLE IF EXISTS $t")
    catch { case _: Throwable => () }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      warehouseDir(spark), t.toLowerCase(java.util.Locale.ROOT)))
  }
}
