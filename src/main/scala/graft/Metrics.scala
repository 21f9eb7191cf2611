package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap

/** Task-level I/O accounting for a block of Spark actions: input bytes
  * read, shuffle bytes written, shuffle bytes read — summed across
  * every task the block runs — plus the wall of every job it runs.
  * This turns the engine's "minimize shuffles / push down scans" claims
  * from plan-reading into MEASURED numbers: Bench records per-query
  * shuffle volume and job walls in its JSON, and MetricsSpec pins that
  * a broadcast dim join moves orders of magnitude less shuffle data
  * than the same join forced to shuffle-merge.
  *
  * Implementation: the engine's one SparkListener, accumulating TaskEnd
  * metrics and JobStart/JobEnd times; Bench's job-wall pass and
  * `Probe jobs` both read it. The listener bus is asynchronous, so
  * `measure` polls until the sums go quiet (two consecutive equal
  * reads) before returning — bounded by a 5 s cap; at bench
  * granularity (whole queries, tens of MB) the settle is immediate.
  */
object Metrics {

  /** Host 1-min load average (-1.0 when /proc is unavailable) — shared
    * by Bench's per-rep host telemetry and `Probe time`, so the two
    * artifacts can never diverge on how the number is read. */
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

  /** This process's cumulative USER-mode jiffies only (utime) — the
    * self term matching [[hostUserStealJiffies]]'s numerator. */
  def selfUserJiffies(): Long =
    selfStat().map(_(11).toLong).getOrElse(-1L)

  /** The external-cores signal over a window opened at construction:
    * host user+steal jiffies minus this process's own user jiffies, per
    * wall second (-1.0 when /proc is unavailable: no evidence). Bench's
    * load gate and `Probe time` read interference through this. */
  final class ExtCores {
    private val host0 = hostUserStealJiffies()
    private val self0 = selfUserJiffies()
    def over(wallS: Double): Double = {
      val host1 = hostUserStealJiffies()
      val self1 = selfUserJiffies()
      if (host0 >= 0 && self0 >= 0 && host1 >= 0 && self1 >= 0 && wallS > 0.01)
        math.max(0.0, ((host1 - host0) - (self1 - self0)).toDouble / Hz / wallS)
      else -1.0
    }
  }

  /** Jiffies per second (USER_HZ). Linux has reported 100 to userspace
    * for decades regardless of the kernel tick; /proc jiffy fields are
    * all in these units. */
  val Hz: Double = 100.0

  /** What a block of Spark actions did: bytes summed over its tasks,
    * and the wall of each job it ran, in job-id order. */
  final case class IoStats(inputBytes: Long, shuffleWriteBytes: Long,
                           shuffleReadBytes: Long,
                           jobWalls: Seq[Double] = Nil) {
    def jobs: Int = jobWalls.size
    /** Summed job wall (s); overlapping jobs each count in full. */
    def jobWall: Double = jobWalls.sum
  }

  def measure(spark: SparkSession)(f: => Unit): IoStats = {
    val in = new AtomicLong; val sw = new AtomicLong; val sr = new AtomicLong
    // job walls from the scheduler's own event times, so bus delivery
    // lag never enters a job's wall
    val starts = TrieMap.empty[Int, Long]
    val walls = TrieMap.empty[Int, Double]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        starts.put(j.jobId, j.time): Unit
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        starts.remove(j.jobId).foreach(s =>
          walls.put(j.jobId, (j.time - s) / 1e3))
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
      // agree (all TaskEnd and JobEnd events for the block delivered)
      def poll() = (in.get, sw.get, sr.get, walls.size)
      var prev = (-1L, -1L, -1L, -1)
      var cur = poll()
      val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
      while (cur != prev && System.nanoTime() < deadline) {
        prev = cur
        Thread.sleep(100)
        cur = poll()
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    IoStats(in.get, sw.get, sr.get, walls.toSeq.sortBy(_._1).map(_._2))
  }
}
