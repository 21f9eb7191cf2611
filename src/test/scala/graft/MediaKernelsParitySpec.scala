package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-18 optimization guard: the codegen'd full-content media
  * kernels (graft.plans.Pcm16Features / Pcm16BandEnergies /
  * Pcm16Segments / BmpChannelSums / BmpAHash) must be BYTE-FOR-BYTE
  * equal to the pure-Column folds they replaced
  * (MediaColumns.{audioEnergy,audioFingerprint,audioSegments,imageStats,
  * imageResizeStats,imagePHash}Columns) — on every planted fixture
  * shape, at every truncation prefix (dense through the header region,
  * strided through the sample/pixel region, where the null-poisoning
  * semantics live), and under deterministic single-byte mutations of
  * the header and early-content region. This is the spec that lets the
  * oracle-gated q125/q126/q127/q192/q200/q211/q253/q265 ride the fast
  * kernels.
  *
  * Variants whose MUTATED size fields inflate the decode domain
  * (w*h or n_vals into the hundreds of thousands) are excluded: the
  * old Column form would take minutes (or hit Spark's sequence-length
  * / ANSI substr-position-cast limits) on them, exactly the class of
  * adversarial input the kernels handle by doing the same arithmetic
  * in a compiled loop. The planted oracle fixtures never reach it.
  */
class MediaKernelsParitySpec extends SparkSpec {

  import graft.sources.MediaFixture
  import graft.operators.Multimodal

  private def fixtures: Seq[(Long, Array[Byte])] = {
    // WAVs: vary channels (1-3), rate, and sample count — include the
    // 1-sample and odd-count shapes (short trailing band / frame)
    val wavs = Seq(
      (1, 8000, 1), (1, 8000, 2), (2, 16000, 3), (3, 24000, 5),
      (1, 8000, 7), (2, 8000, 8), (3, 32000, 33), (1, 16000, 100),
      (2, 24000, 64), (3, 8000, 99)).zipWithIndex.map { case ((ch, r, n), i) =>
      (100L + i, MediaFixture.wav(ch, r, 16, n))
    }
    // BMPs: vary width mod 4 (row padding), tiny and full-size dims
    val bmps = Seq(
      (1, 1), (2, 1), (3, 1), (4, 1), (5, 2), (1, 5), (7, 3), (8, 8),
      (16, 3), (9, 5), (13, 7), (64, 48)).zipWithIndex.map { case ((w, h), i) =>
      (200L + i, MediaFixture.bmp(w, h))
    }
    wavs ++ bmps :+
      (300L, Array.tabulate[Byte](64)(i => ((i * 11 + 3) % 256).toByte)) :+
      (301L, MediaFixture.png(8, 8)) // non-BMP/WAV kinds: filtered out
  }

  private def variants: Seq[(Long, Array[Byte])] = {
    val base = fixtures
    val truncs = base.flatMap { case (id, bytes) =>
      // dense through the header region (where underlength gates and
      // n_vals/w/h reads live), strided through the content region
      // (where per-sample/per-pixel null-poisoning bites)
      val stride = if (bytes.length <= 2000) 7 else 31
      val lens = (0 to math.min(bytes.length, 96)) ++
        (96 until bytes.length by stride)
      lens.distinct.map(l => (id * 100000L + l, bytes.take(l)))
    }
    val muts = base.flatMap { case (id, bytes) =>
      (0 until math.min(bytes.length, 120)).map { p =>
        val b2 = bytes.clone()
        b2(p) = (b2(p) ^ ((p * 37 + id) % 255 + 1).toByte).toByte
        (id * 100000L + 90000L + p, b2)
      }
    }
    base.map { case (id, b) => (id * 100000L + 99999L, b) } ++ truncs ++ muts
  }

  /** Mutated size fields can make the Column form's decode domain huge
    * (sequence() of hundreds of thousands of interpreted lambdas, or
    * an ANSI substr-position cast past 2^31). Exclude those variants —
    * conservatively, by the same header reads both forms do. */
  private def tooBigForColumnForm(b: Array[Byte]): Boolean = {
    if (b == null) return false
    def leU(pos: Int, n: Int): Long = {
      var v = 0L
      var i = n - 1
      while (i >= 0) { v = (v << 8) | (b(pos - 1 + i) & 0xff).toLong; i -= 1 }
      v
    }
    val isBmp = b.length >= 54 && b(0) == 'B'.toByte && b(1) == 'M'.toByte
    val isWav = b.length >= 44 &&
      b(0) == 'R'.toByte && b(1) == 'I'.toByte && b(2) == 'F'.toByte &&
      b(3) == 'F'.toByte && b(8) == 'W'.toByte && b(9) == 'A'.toByte &&
      b(10) == 'V'.toByte && b(11) == 'E'.toByte
    if (isBmp) {
      val w = leU(19, 4)
      val hU = leU(23, 4)
      val h = if (hU >= 2147483648L) hU - 4294967296L else hU
      w > 0 && h > 0 && (w * h > 50000L || w > 100000L)
    } else if (isWav) {
      leU(41, 4) / 2 > 100000L
    } else false
  }

  private lazy val assets: DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    (variants.filterNot(v => tooBigForColumnForm(v._2)) :+
      (999999L, null.asInstanceOf[Array[Byte]]))
      .toDF("asset_id", "content").localCheckpoint(true)
  }

  private def assertRowParity(fast: DataFrame, slow: DataFrame,
      label: String): Unit = {
    val f = fast.orderBy("asset_id").collect()
    val s = slow.orderBy("asset_id").collect()
    assert(f.length == s.length,
      s"$label row count: fast=${f.length} slow=${s.length}")
    f.zip(s).foreach { case (a, b) =>
      assert(a == b, s"$label mismatch for asset ${a.get(0)}: fast=$a slow=$b")
    }
  }

  test("audioEnergy kernel equals the Column fold on fixtures, " +
    "truncations, and mutations") {
    assertRowParity(Multimodal.audioEnergy(assets),
      MediaColumns.audioEnergyColumns(assets), "audioEnergy")
  }

  test("audioFingerprint band kernel equals the Column fold") {
    // compare the pre-grouping per-asset band projections element-wise
    // (the grouping above them is shared DataFrame code over identical
    // band values; q265's oracle pins the grouped output end-to-end)
    val c = col("content")
    assertRowParity(
      assets
        .filter(Multimodal.sniffKind(c) === "wav" && length(c) >= 44)
        .withColumn("n_vals", (Multimodal.leUInt(c, 41, 4) / 2).cast("long"))
        .filter(col("n_vals") > 0)
        .select(col("asset_id"), col("n_vals"),
          graft.plans.GraftFunctions.pcm16_bands(c).as("bands")),
      MediaColumns.audioFingerprintColumns(assets)
        .select("asset_id", "n_vals", "bands"),
      "audioFingerprint bands")
  }

  test("audioSegments kernel equals the explode/window/join pipeline") {
    assertRowParity(Multimodal.audioSegments(assets),
      MediaColumns.audioSegmentsColumns(assets), "audioSegments")
  }

  test("audioSegments kernel parity at non-default frame/threshold") {
    assertRowParity(Multimodal.audioSegments(assets, frame = 3,
        thresholdPerSample = 100000000L),
      MediaColumns.audioSegmentsColumns(assets, frame = 3,
        thresholdPerSample = 100000000L), "audioSegments(3)")
  }

  test("imageStats kernel equals the Column fold") {
    assertRowParity(Multimodal.imageStats(assets),
      MediaColumns.imageStatsColumns(assets), "imageStats")
  }

  test("imageResizeStats kernel equals the Column fold") {
    assertRowParity(Multimodal.imageResizeStats(assets),
      MediaColumns.imageResizeStatsColumns(assets), "imageResizeStats")
  }

  test("imagePHash kernel equals the Column fold") {
    assertRowParity(Multimodal.imagePHash(assets),
      MediaColumns.imagePHashColumns(assets), "imagePHash")
  }

  test("audioProfile (fused pass) equals audioEnergy JOIN audioSegments") {
    val feats = Multimodal.audioEnergy(assets)
      .select(col("asset_id"), col("n_vals"), col("energy"), col("max_abs"))
    val joined = feats.join(Multimodal.audioSegments(assets), Seq("asset_id"))
      .select("asset_id", "n_vals", "energy", "max_abs",
        "n_frames", "n_active", "n_segments", "longest_seg")
    assertRowParity(Multimodal.audioProfile(assets), joined, "audioProfile")
  }

  test("imageProfile (fused pass) equals media-meta JOIN imageStats — " +
    "the q211 filter-subsumption claim, on adversarial inputs") {
    val meta = Multimodal.decodeMediaMeta(assets)
      .filter(col("kind") === "bmp")
      .select(col("asset_id"), col("width").as("w"), col("height").as("h"))
    val joined = meta.join(Multimodal.imageStats(assets), Seq("asset_id"))
      .select("asset_id", "w", "h", "n_pixels", "sum_r", "sum_g", "sum_b")
    assertRowParity(Multimodal.imageProfile(assets), joined, "imageProfile")
  }
}
