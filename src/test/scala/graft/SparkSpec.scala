package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one session): graft's
  * own session conf, sized for tests. */
object TestSession {
  lazy val spark: SparkSession = {
    val s = Session.builder("graft-test")
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir", "/tmp/graft_test_warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sf = "/root/testdata/sf0.001"

  /** Jobs that `body` launches from this thread. */
  protected def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID.toString
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty(SparkSpec.JobTag) == tag)) n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setLocalProperty(SparkSpec.JobTag, tag)
    try { body; TestBus.drain(sc) }
    finally { sc.setLocalProperty(SparkSpec.JobTag, null); sc.removeSparkListener(l) }
    n.get
  }
}

object SparkSpec {
  private val JobTag = "graft.test.jobs"
}
