package graft

import graft.functions.Validate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Content-scale A/B for the round-18 media kernels (optimization
  * guide §1.4: noop sink, §1.2 per-task work): the planted oracle
  * fixtures are tiny (≤300 samples / ≤3072 pixels), so the declared
  * queries mostly measure fixed overhead — this probe times the SAME
  * operator pair (codegen'd kernel vs pure-Column fold) over
  * realistically sized content (default: 64 WAVs × 80k samples,
  * 64 BMPs × 256×256 px, localCheckpoint'd so generation is outside
  * the timed region) to measure the per-BYTE constant that dominates
  * at corpus scale.
  *
  * Usage: Test/runMain graft.KernelProbe [nAssets] [samplesPerChannel] [dim] [reps]
  */
object KernelProbe {
  def main(args: Array[String]): Unit = {
    val nAssets = if (args.nonEmpty) args(0).toInt else 64
    val spc = if (args.length > 1) args(1).toInt else 40000
    val dim = if (args.length > 2) args(2).toInt else 256
    val reps = if (args.length > 3) args(3).toInt else 3
    val nValues = if (args.length > 4) args(4).toLong else 4000000L
    val spark = Session.get("graft-kernel-probe")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    import graft.operators.Multimodal

    val wavs = spark.range(nAssets.toLong).as[Long]
      .map(id => (id, graft.sources.MediaFixture.wav(
        (id % 3 + 1).toInt, 16000, 16, spc)))
      .toDF("asset_id", "content").localCheckpoint(true)
    val bmps = spark.range(nAssets.toLong).as[Long]
      .map(id => (id, graft.sources.MediaFixture.bmp(dim, dim)))
      .toDF("asset_id", "content").localCheckpoint(true)
    val wavBytes = wavs.select(org.apache.spark.sql.functions
      .sum(org.apache.spark.sql.functions.length($"content")))
      .collect()(0).getLong(0)
    val bmpBytes = bmps.select(org.apache.spark.sql.functions
      .sum(org.apache.spark.sql.functions.length($"content")))
      .collect()(0).getLong(0)
    println(s"KERNELPROBE corpus: $nAssets wavs ($wavBytes bytes), " +
      s"$nAssets bmps ($bmpBytes bytes)")

    def time(label: String, df: => DataFrame): Double = {
      var best = Double.MaxValue
      (1 to reps).foreach { r =>
        spark.sparkContext.setJobDescription(s"kernelprobe: $label rep$r")
        val t0 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save()
        val dt = (System.nanoTime() - t0) / 1e9
        if (dt < best) best = dt
        println(f"KERNELPROBE $label rep$r: $dt%.3f s")
      }
      best
    }
    /** `evals`: per-value kernel calls in one rep, for ns per call. */
    def pair(label: String, fast: => DataFrame, slow: => DataFrame,
             evals: Long = 0L): Unit = {
      val f = time(s"$label kernel", fast)
      val s = time(s"$label columns", slow)
      val perEval = if (evals == 0L) "" else
        f" kernel_ns=${f * 1e9 / evals}%.1f columns_ns=${s * 1e9 / evals}%.1f"
      println(f"KERNELPROBE SUMMARY $label: kernel=$f%.3f s " +
        f"columns=$s%.3f s speedup=${s / f}%.1fx$perEval")
    }
    pair("audioEnergy", Multimodal.audioEnergy(wavs),
      MediaColumns.audioEnergyColumns(wavs))
    pair("audioFingerprintBands", Multimodal.audioFingerprint(wavs),
      MediaColumns.audioFingerprintColumns(wavs))
    pair("audioSegments", Multimodal.audioSegments(wavs),
      MediaColumns.audioSegmentsColumns(wavs))
    pair("imageStats", Multimodal.imageStats(bmps),
      MediaColumns.imageStatsColumns(bmps))
    pair("imageResizeStats", Multimodal.imageResizeStats(bmps),
      MediaColumns.imageResizeStatsColumns(bmps))
    pair("imagePHash", Multimodal.imagePHash(bmps),
      MediaColumns.imagePHashColumns(bmps))

    val id = col("id")
    val shapes = Seq(
      id.cast("string"),
      concat(id % 1000, lit(","), id % 100),
      concat(id % 1000, lit("."), lpad((id % 1000).cast("string"), 3, "0"), lit(","), id % 100),
      concat(id % 1000, lit(","), lpad((id % 1000).cast("string"), 3, "0"), lit("."), id % 100),
      date_format(date_add(lit("2020-01-01").cast("date"), (id % 1000).cast("int")), "yyyy-MM-dd"),
      format_string("%02d:%02d:%02d", id % 24, id % 60, id % 59),
      element_at(array(lit("true"), lit("n"), lit("#NO VALUE"), lit("abc")), (id % 4 + 1).cast("int")),
      concat(lit("-"), id % 97, lit(".5")))
    val values = spark.range(nValues)
      .select(element_at(array(shapes: _*), (id % shapes.length + 1).cast("int")).as("v"))
      .localCheckpoint(true)
    val classes = Seq(Validate.ReInt, Validate.ReEuNumeric, Validate.ReUsNumeric,
      Validate.ReBool, Validate.ReIsoDate, Validate.ReTime)
    println(s"KERNELPROBE values: $nValues CSV-shaped strings x ${classes.length} classes")
    pair("patternClass",
      values.select(classes.map(Validate.matches(col("v"), _)): _*),
      values.select(classes.map(col("v").rlike(_)): _*),
      nValues * classes.length)
    spark.stop()
  }
}
