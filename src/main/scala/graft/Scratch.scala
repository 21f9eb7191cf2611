package graft

/** Per-JVM-unique scratch directories under target/.
  *
  * Two Spark sessions running the SAME query concurrently (two Verify
  * JVMs over one sfDir — the concurrency contract
  * tools/concurrent_verify.sh enforces) must never share a Spark
  * writer's output dir: the second writer's commit deletes the first
  * one's `_temporary/` mid-task ("File .../_temporary/0 does not
  * exist"). Keying the path by sfDir alone is exactly that collision;
  * the JVM pid disambiguates sessions while staying STABLE within a
  * session, so a writer and its later readers (including oracle SQL
  * that embeds the path string) agree on the location.
  *
  * Deterministic identical-bytes fixture files (golden CSV, JSONL,
  * sniff fixtures) intentionally do NOT use this: they memoize via
  * lazy val and concurrent sessions write the same bytes.
  */
object Scratch {
  /** One-time sweep of pid-keyed scratch dirs left by DEAD JVMs.
    *
    * The old fixed paths self-overwrote; pid-keyed paths accumulate a
    * fresh set per run, unboundedly. A shutdown-hook delete of this
    * JVM's own dirs would be wrong: the driver's DuckDB oracle pass
    * reads paths embedded in oracle_sql.json AFTER the Verify JVM
    * exits. So instead, each new JVM's first Scratch.dir() call sweeps
    * dirs whose owning pid is no longer alive AND whose mtime is over
    * 30 minutes old (the age floor keeps a just-exited sibling's dump
    * readable through the driver's oracle compare window).
    */
  private lazy val sweep: Unit = {
    val target = java.nio.file.Paths.get(sys.props("user.dir"), "target")
    val pidRe = ".*_pid(\\d+)$".r
    val cutoff = System.currentTimeMillis() - 30L * 60 * 1000
    try {
      val entries = java.nio.file.Files.list(target)
      try entries.forEach { p =>
        p.getFileName.toString match {
          case pidRe(pid) =>
            val dead = ProcessHandle.of(pid.toLong)
              .map[Boolean](h => !h.isAlive).orElse(true)
            val old =
              try java.nio.file.Files.getLastModifiedTime(p).toMillis < cutoff
              catch { case _: Throwable => false }
            if (dead && old) deleteRecursively(p.toFile)
          case _ => ()
        }
      } finally entries.close()
    } catch { case _: Throwable => () } // sweep is best-effort
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete(): Unit
  }

  def dir(base: String): String = {
    sweep
    s"${sys.props("user.dir")}/target/${base}_pid${ProcessHandle.current().pid()}"
  }

  /** A builder's scratch for dataset `dataDir`: `base`, then `dataDir`
    * with every non-alphanumeric character as `_`, then the pid last,
    * where the dead-pid sweep finds it. */
  def dir(base: String, dataDir: String): String =
    dir(s"${base}_" + dataDir.replaceAll("[^0-9a-zA-Z]", "_"))
}
