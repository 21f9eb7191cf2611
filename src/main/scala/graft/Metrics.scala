package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.AtomicLong

/** Task-level I/O accounting for a block of Spark actions: input bytes
  * read, shuffle bytes written, shuffle bytes read — summed across
  * every task the block runs. This turns the engine's "minimize
  * shuffles / push down scans" claims from plan-reading into MEASURED
  * numbers: Bench records per-query shuffle volume in its JSON, and
  * MetricsSpec pins that a broadcast dim join moves orders of
  * magnitude less shuffle data than the same join forced to
  * shuffle-merge.
  *
  * Implementation: a SparkListener accumulating TaskEnd metrics. The
  * listener bus is asynchronous, so `measure` polls until the sums go
  * quiet (two consecutive equal reads) before returning — bounded by a
  * 5 s cap; at bench granularity (whole queries, tens of MB) the
  * settle is immediate.
  */
object Metrics {

  /** Host 1-min load average (-1.0 when /proc is unavailable) — shared
    * by Bench's per-rep host telemetry and QProbe, so the two artifacts
    * can never diverge on how the number is read. */
  def load1(): Double =
    try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")))
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Cumulative CPU steal jiffies from /proc/stat (-1 when
    * unavailable); callers diff two reads to attribute a window. */
  def stealJiffies(): Long =
    try java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/stat")).stream()
      .filter(_.startsWith("cpu "))
      .findFirst().map[Long](_.trim.split("\\s+")(8).toLong).orElse(-1L)
    catch { case _: Throwable => -1L }

  /** Cumulative HOST user-mode + steal jiffies (user+nice+steal from
    * /proc/stat's aggregate line; -1 when unavailable). The LOAD-GATE
    * numerator: kernel/system time is deliberately EXCLUDED because it
    * is dominated by I/O processing (kworker/flush daemons) that
    * belongs to whoever caused the I/O — during a bench, mostly the
    * bench itself, whose write-heavy lanes otherwise read as 1-6
    * "external" cores on a quiet host (measured: the 32-state-store
    * stream lane's checkpoint traffic alone read 6.0 ext cores while
    * compute-only lanes in the same block read 0.0). Real interference
    * burns user time (another process) or steal (another VM) — both
    * counted; a system-call-saturated external interferer
    * under-registers, the accepted trade. */
  def hostUserStealJiffies(): Long =
    try java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/stat")).stream()
      .filter(_.startsWith("cpu "))
      .findFirst().map[Long] { line =>
        val f = line.trim.split("\\s+")
        Seq(1, 2, 8).map(i => // user, nice, steal
          if (i < f.length) f(i).toLong else 0L).sum
      }.orElse(-1L)
    catch { case _: Throwable => -1L }

  // /proc/self/stat fields after the closing paren of comm — the one
  // field that can embed spaces: 0 state, 1 ppid ... 11 utime, 12 stime
  private def selfStat(): Option[Array[String]] =
    try {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/self/stat")))
      Some(s.substring(s.lastIndexOf(')') + 2).split(" "))
    } catch { case _: Throwable => None }

  /** This process's cumulative CPU jiffies (utime+stime; -1 when
    * unavailable). */
  def selfJiffies(): Long =
    selfStat().map(r => r(11).toLong + r(12).toLong).getOrElse(-1L)

  /** This process's cumulative USER-mode jiffies only (utime) — the
    * self term matching [[hostUserStealJiffies]]'s numerator. */
  def selfUserJiffies(): Long =
    selfStat().map(_(11).toLong).getOrElse(-1L)

  /** Jiffies per second (USER_HZ). Linux has reported 100 to userspace
    * for decades regardless of the kernel tick; /proc jiffy fields are
    * all in these units. */
  val Hz: Double = 100.0
  final case class IoStats(inputBytes: Long, shuffleWriteBytes: Long,
                           shuffleReadBytes: Long)

  def measure(spark: SparkSession)(f: => Unit): IoStats = {
    val in = new AtomicLong; val sw = new AtomicLong; val sr = new AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          in.addAndGet(m.inputMetrics.bytesRead)
          sw.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          sr.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      f
      // drain the async listener bus: stop once two consecutive polls
      // agree (all TaskEnd events for the block delivered)
      var prev = (-1L, -1L, -1L)
      var cur = (in.get, sw.get, sr.get)
      val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
      while (cur != prev && System.nanoTime() < deadline) {
        prev = cur
        Thread.sleep(100)
        cur = (in.get, sw.get, sr.get)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    IoStats(in.get, sw.get, sr.get)
  }
}
