package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns with a typed metadata struct, plus decode / feature-extract /
  * frame-sample operators.
  *
  * Two decode tiers:
  *  - [[decodeMediaMeta]] is a REAL header decoder for BMP images and
  *    PCM WAV audio (public formats, parsed byte-by-byte from the
  *    binary column by one codegen'd expression — no UDF, no
  *    library). Oracle-checked in q52 against planted header values.
  *  - [[contentFeatures]]/[[sampleFrames]] compute real byte-level
  *    features (sha256, sizes, stride frame offsets) with no decode
  *    stub anywhere on an oracle path. [[batchDecode]] — the
  *    mapPartitions seam where a JNI/ffmpeg codec would drop in — keeps
  *    a clearly-marked deterministic stand-in kernel (whole-file byte
  *    sum), because the container has no jpeg/mp3/video codecs; since
  *    round 10 it is oracle-gated too (q217: DuckDB recomputes each
  *    planted WAV/BMP's total byte sum arithmetically from the fixture
  *    closed forms, headers included).
  */
object Multimodal {

  /** Little-endian unsigned integer read from `nBytes` bytes of a
    * binary column at 1-based byte position `pos`, as a long. hex() of
    * each byte, most-significant last — pure Column expressions, so the
    * whole parse stays inside whole-stage codegen over the binary scan
    * (the right shape at 100 TB: a projection, no shuffle, prunable to
    * the header bytes by a format-aware source). */
  def leUInt(content: Column, pos: Int, nBytes: Int): Column =
    conv(concat((0 until nBytes).reverse.map(i =>
      hex(substring(content, pos + i, 1))): _*), 16, 10).cast("long")

  /** Signed little-endian 32-bit read (two's complement) — BMP's
    * biHeight is signed: negative marks a top-down bitmap. */
  def leSInt32(content: Column, pos: Int): Column = {
    val u = leUInt(content, pos, 4)
    when(u >= 2147483648L, u - 4294967296L).otherwise(u)
  }

  /** Magic-number sniffing: 'BM' -> bmp, 'RIFF....WAVE' -> wav,
    * 'RIFF....WEBP' -> webp, the 8-byte PNG signature -> png,
    * FFD8FF -> jpeg, 'GIF8' -> gif, 'II*\0'/'MM\0*' -> tiff. */
  def sniffKind(content: Column): Column =
    when(hex(substring(content, 1, 2)) === "424D", lit("bmp"))
      .when(hex(substring(content, 1, 4)) === "52494646" &&
        hex(substring(content, 9, 4)) === "57415645", lit("wav"))
      .when(hex(substring(content, 1, 4)) === "52494646" &&
        hex(substring(content, 9, 4)) === "57454250", lit("webp"))
      .when(hex(substring(content, 1, 8)) === "89504E470D0A1A0A", lit("png"))
      .when(hex(substring(content, 1, 3)) === "FFD8FF", lit("jpeg"))
      .when(hex(substring(content, 1, 4)) === "47494638", lit("gif"))
      .when(hex(substring(content, 1, 4)) === "49492A00" ||
        hex(substring(content, 1, 4)) === "4D4D002A", lit("tiff"))
      .otherwise(lit("unknown"))

  /** REAL media-metadata decode over (asset_id, content) rows: BMP
    * width/height/bpp (BITMAPINFOHEADER offsets 18/22/28), PNG
    * width/height/bpp (IHDR — mandated first chunk — big-endian dims at
    * 16/20, bit-depth×channels from the depth/color-type bytes at
    * 24/25), JPEG width/height/bpp (bounded SOF marker walk,
    * `jpegSofScan`), GIF width/height (logical-screen-descriptor
    * little-endian dims at 0-based 6/8; bpp is left null — a palette
    * GIF's "depth" is ambiguous between color-resolution bits and
    * palette size), WebP width/height (`webpDims`: VP8 lossy or VP8L
    * lossless chunk; bpp null — VP8 is YUV420, no per-pixel bit count),
    * TIFF width/height/bpp (`tiffMeta`: endian-tagged IFD walk,
    * BitsPerSample summed across components) and WAV channels/
    * sample_rate/bits_per_sample/n_samples (canonical fmt chunk offsets
    * 22/24/34, data size at 40). Fields of the other format are null.
    * Caveat: BMP height is read unsigned (top-down negative-height
    * bitmaps are out of scope — documented). */
  def decodeMediaMeta(assets: DataFrame): DataFrame = {
    // Since round 18 the decode is ONE codegen'd Catalyst expression
    // (graft.plans.MediaHeaderMeta) with byte-identical semantics to
    // the pure-Column pipeline it replaced: PhaseProbe measured the
    // Column form at ~18 s of eager per-step ANALYSIS + ~6 s optimizer +
    // ~1 s physical planning + ~20 s codegen/interpreted-fold execution
    // PER CALL at sf0.001 (structural — reps did not collapse), all of it
    // expression-tree size, none of it data. The Column form stays in
    // test scope as `MediaColumns.decodeMediaMetaColumns`, the parity
    // comparator MediaMetaParitySpec pins (every planted fixture at
    // every truncation length, plus adversarial mutations).
    val m = col("_m")
    assets
      .withColumn("_m", graft.plans.GraftFunctions.media_meta(col("content")))
      .select(
        col("asset_id"),
        m.getField("kind").as("kind"),
        m.getField("width").as("width"),
        m.getField("height").as("height"),
        m.getField("bpp").as("bpp"),
        m.getField("channels").as("channels"),
        m.getField("sample_rate").as("sample_rate"),
        m.getField("bits_per_sample").as("bits_per_sample"),
        m.getField("n_samples").as("n_samples"))
  }

  /** REAL audio feature extraction (q125): decode EVERY 16-bit PCM
    * sample of each WAV asset from the raw bytes and reduce to integer
    * signal features — total energy (sum of squares) and peak
    * amplitude. Integer end-to-end, so the features hash-match the
    * oracle's closed-form recomputation of the planted samples. This is
    * the level below q52's header decode: the actual DSP input path a
    * loudness/silence/clipping filter runs on, as a projection over the
    * binary scan — no UDF, no shuffle. */
  def audioEnergy(assets: DataFrame): DataFrame = {
    // Since round 18 the sample decode+reduce is ONE codegen'd kernel
    // (graft.plans.Pcm16Features) with byte-identical semantics to the
    // Column fold it replaced (kept in test scope as
    // `MediaColumns.audioEnergyColumns`, the parity comparator
    // MediaKernelsParitySpec pins): the fold paid two string
    // allocations per BYTE (conv(hex(substr))) inside interpreted
    // higher-order lambdas — per-row work proportional to content bytes
    // with a ~100x constant over this compiled loop.
    val c = col("content")
    assets
      .filter(sniffKind(c) === "wav" && length(c) >= 44)
      .withColumn("n_vals", (leUInt(c, 41, 4) / 2).cast("long"))
      // empty data chunk: an empty recording has no features, not zero
      // ones (the kernel returns null there; the filter keeps it out)
      .filter(col("n_vals") > 0)
      .withColumn("_f", graft.plans.GraftFunctions.pcm16_features(c))
      .select(col("asset_id"), col("n_vals"),
        col("_f").getField("energy").as("energy"),
        col("_f").getField("max_abs").as("max_abs"))
  }

  /** Banded audio fingerprint + duplicate grouping (q265): quarter the
    * decoded PCM stream into 4 contiguous bands of q = ceil(n/4)
    * samples, fingerprint = (sample_rate, channels, n_vals, 4
    * exact band energies), then group identical fingerprints — the audio twin of
    * q253's image pHash: re-uploaded recordings collapse on a
    * 6-integer key instead of a byte-compare over the corpus square.
    * The rate is part of the key (identical PCM at a different
    * declared rate is a different recording, it plays at a different
    * speed), and so is the channel count (a stereo and a mono file can
    * share the flat int16 stream yet interleave it differently).
    * Integer end-to-end; the oracle recomputes every band from
    * the closed-form planted samples.
    *
    * Scale shape: the decode+band reduce is a projection over the
    * binary scan (no shuffle, codegen'd Column arithmetic); the group
    * is ONE shuffle on the 6-integer fingerprint — asset-count-sized,
    * never content-sized. */
  def audioFingerprint(assets: DataFrame): DataFrame = {
    // round 18: the band decode+reduce is the codegen'd
    // graft.plans.Pcm16BandEnergies kernel; the Column fold stays in
    // test scope as `MediaColumns.audioFingerprintColumns`, the parity
    // comparator. See
    // [[audioEnergy]] for the measured rationale.
    val c = col("content")
    val fp = assets
      .filter(sniffKind(c) === "wav" && length(c) >= 44)
      .withColumn("n_vals", (leUInt(c, 41, 4) / 2).cast("long"))
      .filter(col("n_vals") > 0)
      .withColumn("rate", leUInt(c, 25, 4))
      .withColumn("channels", leUInt(c, 23, 2))
      // band b = exact energy of samples [b·q, min((b+1)·q, n)) with
      // q = (n+3) div 4; a trailing short band and bands past a tiny
      // stream reduce to 0 — mirrored by the oracle's k div q key
      .withColumn("bands", graft.plans.GraftFunctions.pcm16_bands(c))
      .select(col("asset_id"), col("rate"), col("channels"),
        col("n_vals"), col("bands"))
    fp.groupBy("rate", "channels", "n_vals", "bands")
      .agg(count(lit(1)).as("n_members"),
        min("asset_id").as("min_id"), max("asset_id").as("max_id"))
      .filter(col("n_members") > 1)
      .select(col("min_id"), col("max_id"), col("n_members"),
        col("rate"), col("channels"), col("n_vals"),
        element_at(col("bands"), 1).as("e0"),
        element_at(col("bands"), 2).as("e1"),
        element_at(col("bands"), 3).as("e2"),
        element_at(col("bands"), 4).as("e3"))
      .orderBy("min_id")
  }

  /** Energy-gated audio segmentation (q192): frame the decoded PCM
    * stream into fixed 8-sample windows, gate each frame on mean
    * energy, and reduce the gate sequence to contiguous ACTIVE
    * segments per asset — the voice-activity-detection shape every
    * speech-data pipeline runs between raw audio and ASR (silence
    * trimming, utterance splitting). Integer end-to-end: frame energy
    * is an exact sum of squares, the gate is an integer threshold per
    * decoded sample, so segment structure hash-matches the oracle's
    * closed-form recomputation.
    *
    * Scale shape: the per-frame table explodes O(samples/frame) rows
    * per asset from one binary scan (a projection — at 100 TB the
    * decode runs where the bytes are, no shuffle); the islands pass is
    * one per-asset window over frame index (partitions are
    * asset-sized, never corpus-sized) and two small aggregates. */
  def audioSegments(assets: DataFrame, frame: Int = 8,
      thresholdPerSample: Long = 300000000L): DataFrame = {
    // round 18: the whole VAD reduce is the codegen'd
    // graft.plans.Pcm16Segments kernel — ONE projection over the binary
    // scan. The Column form (kept in test scope as
    // `MediaColumns.audioSegmentsColumns`, the parity comparator)
    // needed an explode to per-frame rows, a
    // localCheckpoint barrier, a per-asset window (one shuffle), two
    // aggregations (two more) and a join — at 100 TB that materialized
    // O(samples/frame) rows per asset and shuffled them by asset_id,
    // where the segment structure is computable where the bytes are.
    val c = col("content")
    assets
      .filter(sniffKind(c) === "wav" && length(c) >= 44)
      .withColumn("n_vals", (leUInt(c, 41, 4) / 2).cast("long"))
      .filter(col("n_vals") > 0)
      .withColumn("_s", graft.plans.GraftFunctions.pcm16_segments(
        c, frame, thresholdPerSample))
      .select(col("asset_id"),
        col("_s").getField("n_frames").as("n_frames"),
        col("_s").getField("n_active").as("n_active"),
        col("_s").getField("n_segments").as("n_segments"),
        col("_s").getField("longest_seg").as("longest_seg"))
  }

  /** Fused q125+q192 pass (round 18, guide §2.4): features AND segment
    * structure in ONE projection over one scan. The q200 funnel
    * previously ran [[audioEnergy]] and [[audioSegments]] as two
    * pipelines over the same assets and joined them back on asset_id —
    * a 1:1 join of identically-filtered sides (both keep exactly the
    * wav / length>=44 / n_vals>0 rows), so at 100 TB it paid a second
    * full pass over the asset corpus plus a join for nothing. Same
    * rows, same values as the join of the two operators. */
  def audioProfile(assets: DataFrame, frame: Int = 8,
      thresholdPerSample: Long = 300000000L): DataFrame = {
    val c = col("content")
    assets
      .filter(sniffKind(c) === "wav" && length(c) >= 44)
      .withColumn("n_vals", (leUInt(c, 41, 4) / 2).cast("long"))
      .filter(col("n_vals") > 0)
      .withColumn("_f", graft.plans.GraftFunctions.pcm16_features(c))
      .withColumn("_s", graft.plans.GraftFunctions.pcm16_segments(
        c, frame, thresholdPerSample))
      .select(col("asset_id"), col("n_vals"),
        col("_f").getField("energy").as("energy"),
        col("_f").getField("max_abs").as("max_abs"),
        col("_s").getField("n_frames").as("n_frames"),
        col("_s").getField("n_active").as("n_active"),
        col("_s").getField("n_segments").as("n_segments"),
        col("_s").getField("longest_seg").as("longest_seg"))
  }

  /** Fused q52(bmp)+q126 pass (round 18, guide §2.4): display dims AND
    * channel sums in ONE projection — the q211 funnel previously joined
    * [[decodeMediaMeta]].filter(kind='bmp') against [[imageStats]] on
    * asset_id. Equivalence: the join kept exactly the rows BOTH sides
    * keep — sniffed bmp AND length>=54 AND w>0 AND h>0 (the meta side's
    * weaker gate is subsumed; for rows that survive, meta's unsigned
    * height read equals the signed read because h>0). */
  def imageProfile(assets: DataFrame): DataFrame = {
    val c = col("content")
    val w = leUInt(c, 19, 4)
    val h = leSInt32(c, 23)
    assets
      .filter(sniffKind(c) === "bmp" && length(c) >= 54)
      .withColumn("w", w).withColumn("h", h)
      .filter(col("w") > 0 && col("h") > 0)
      .withColumn("n_pixels", (col("w") * col("h")).cast("long"))
      .withColumn("_s", graft.plans.GraftFunctions.bmp_channel_sums(c, 1))
      .select(col("asset_id"), col("w"), col("h"), col("n_pixels"),
        col("_s").getField("sum_r").as("sum_r"),
        col("_s").getField("sum_g").as("sum_g"),
        col("_s").getField("sum_b").as("sum_b"))
  }

  /** REAL image feature extraction (q126): decode EVERY pixel of each
    * 24bpp BMP from the raw bytes — bottom-up rows, 4-byte row padding,
    * BGR order — and reduce to integer channel statistics (sum per
    * channel + pixel count). The mean-brightness / channel-balance
    * filters an image-curation pipeline runs start exactly here; pure
    * Column arithmetic, a projection over the binary scan. */
  def imageStats(assets: DataFrame): DataFrame = {
    // round 18: the per-pixel triple fold is the codegen'd
    // graft.plans.BmpChannelSums kernel (decimate=1); the Column form
    // stays in test scope as `MediaColumns.imageStatsColumns`, the
    // parity comparator. See
    // [[audioEnergy]] for the measured rationale — here the fold paid
    // the conv(hex(substr)) tax three times per pixel.
    val c = col("content")
    val w = leUInt(c, 19, 4)
    // biHeight is SIGNED: a negative value marks a top-down BMP (row 0
    // at the top); top-down row order is out of scope for the planted
    // fixture, so non-positive dims are filtered out below (the same
    // underparsed contract decodeMediaMeta documents).
    val h = leSInt32(c, 23)
    assets
      .filter(sniffKind(c) === "bmp" && length(c) >= 54)
      .withColumn("w", w).withColumn("h", h)
      .filter(col("w") > 0 && col("h") > 0)
      .withColumn("n_pixels", (col("w") * col("h")).cast("long"))
      .withColumn("_s", graft.plans.GraftFunctions.bmp_channel_sums(c, 1))
      .select(col("asset_id"), col("n_pixels"),
        col("_s").getField("sum_r").as("sum_r"), // BGR on disk
        col("_s").getField("sum_g").as("sum_g"),
        col("_s").getField("sum_b").as("sum_b"))
  }

  /** REAL image resize (q127): nearest-neighbor 2x decimation computed
    * directly against the encoded bytes — output pixel (ox, oy) samples
    * source pixel (2*ox, 2*oy) — reduced to the decimated frame's
    * channel sums. The multimodal mandate's "resize" verb with real
    * pixel addressing (stride math over padded BGR rows), not a stub;
    * at scale this is the thumbnail/normalization pass before any
    * vision encoder, running as a projection. */
  def imageResizeStats(assets: DataFrame): DataFrame = {
    // round 18: codegen'd BmpChannelSums kernel with decimate=2 (the
    // q127 nearest-neighbor addressing); Column form in test
    // scope as `MediaColumns.imageResizeStatsColumns`, the parity
    // comparator.
    val c = col("content")
    val w = leUInt(c, 19, 4)
    // signed biHeight + positive-dims filter: see imageStats
    val h = leSInt32(c, 23)
    assets
      .filter(sniffKind(c) === "bmp" && length(c) >= 54)
      .withColumn("w", w).withColumn("h", h)
      .filter(col("w") > 0 && col("h") > 0)
      .withColumn("out_w", ((col("w") + 1) - pmod(col("w") + 1, lit(2L))) / 2)
      .withColumn("out_h", ((col("h") + 1) - pmod(col("h") + 1, lit(2L))) / 2)
      .withColumn("out_w", col("out_w").cast("long"))
      .withColumn("out_h", col("out_h").cast("long"))
      .withColumn("_s", graft.plans.GraftFunctions.bmp_channel_sums(c, 2))
      .select(col("asset_id"), col("out_w"), col("out_h"),
        col("_s").getField("sum_r").as("sum_r"),
        col("_s").getField("sum_g").as("sum_g"),
        col("_s").getField("sum_b").as("sum_b"))
  }

  /** Perceptual average-hash (aHash) per image, decoded from the raw
    * BMP bytes: an 8×8 grid samples pixel (gx·w div 8, gy·h div 8)
    * (the q127 nearest-neighbor addressing generalized to a fixed
    * output size), gray = B+G+R, and bit p is set when
    * 64·gray(p) > Σgray — the mean compare cross-multiplied so no
    * division ever truncates. The 64 bits are packed as FOUR 16-bit
    * band integers (b0..b3) rather than one signed 64-bit value: the
    * bands double as the Hamming-LSH blocking key (pigeonhole: any two
    * hashes within Hamming distance 3 agree on at least one of 4
    * bands), and nothing ever touches the int64 sign bit. Pure Column
    * expressions — at scale this is a projection over the binary scan,
    * the fingerprint step before any banded image-dedup join. */
  def imagePHash(assets: DataFrame): DataFrame = {
    // round 18: codegen'd graft.plans.BmpAHash kernel; Column form
    // in test scope as `MediaColumns.imagePHashColumns`, the parity
    // comparator.
    val c = col("content")
    val w = leUInt(c, 19, 4)
    // signed biHeight + positive-dims filter: see imageStats
    val h = leSInt32(c, 23)
    assets
      .filter(sniffKind(c) === "bmp" && length(c) >= 54)
      .withColumn("w", w).withColumn("h", h)
      .filter(col("w") > 0 && col("h") > 0)
      .withColumn("_a", graft.plans.GraftFunctions.bmp_ahash(c))
      .select(col("asset_id"), col("w"), col("h"),
        col("_a").getField("b0").as("b0"),
        col("_a").getField("b1").as("b1"),
        col("_a").getField("b2").as("b2"),
        col("_a").getField("b3").as("b3"))
  }

  /** Planted media assets for the q52 oracle: each id becomes a REAL
    * BMP (even ids) or WAV (odd ids) whose header fields derive from
    * the id by fixed formulas — the fixture side; generation is
    * per-partition imperative code (like any file ingest), decoding is
    * the pure-Column [[decodeMediaMeta]]. */
  def plantedMediaAssets(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long].mapPartitions { it =>
      it.map { id =>
        val content =
          if (id % 2 == 0)
            graft.sources.MediaFixture.bmp(
              (id % 64 + 1).toInt, (id * 7 % 48 + 1).toInt)
          else
            graft.sources.MediaFixture.wav(
              (id % 3 + 1).toInt, 8000 * (id % 4 + 1).toInt, 16,
              (id % 100 + 1).toInt)
        (id, content)
      }
    }.toDF("asset_id", "content")
  }

  /** Planted image assets for the q309 oracle — eight classes by
    * id%8, covering every image format the decoder reads plus the
    * failure classes: a REAL PNG (0, JDK ImageIO encoder), a REAL
    * baseline JPEG (1), a TRUNCATED PNG (2 — full 8-byte signature,
    * cut at 20 bytes: the decoder must keep kind='png' with every
    * field null instead of converting a partial read into garbage
    * numbers), deterministic non-media bytes (3 — kind='unknown'), a
    * REAL GIF89a (4, ImageIO), a WebP with spec-exact RIFF/VP8 headers
    * (5 — alternating by id/8 between a plain lossy 'VP8 ' file and a
    * VP8X EXTENDED container whose canvas dims live in the 24-bit
    * fields of the VP8X chunk itself), a REAL TIFF (6 — alternating
    * between the ImageIO big-endian encoder, which exercises the IFD
    * walk's offset-indirected BitsPerSample, and a little-endian file
    * carrying EXIF Orientation 6: stored dims TRANSPOSED, so only an
    * orientation-aware decode recovers the planted display dims), and
    * a TRUNCATED WebP (7 — container signature intact, cut before the
    * VP8 chunk fourcc: kind='webp', all fields null). Dimensions
    * derive from the id by fixed formulas so the DuckDB oracle
    * recomputes them without any image decoding. */
  def plantedImageAssets(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long].mapPartitions { it =>
      it.map { id =>
        val content: Array[Byte] = (id % 8) match {
          case 0 => graft.sources.MediaFixture.png(
            (id % 50 + 1).toInt, (id * 3 % 40 + 1).toInt)
          case 1 => graft.sources.MediaFixture.jpeg(
            (id % 60 + 16).toInt, (id * 5 % 50 + 16).toInt)
          case 2 => graft.sources.MediaFixture.png(8, 8).take(20)
          case 3 => Array.tabulate[Byte](64)(i => ((i * 11 + 3) % 256).toByte)
          case 4 => graft.sources.MediaFixture.gif(
            (id % 40 + 1).toInt, (id * 7 % 30 + 1).toInt)
          case 5 =>
            val (w, h) = ((id % 200 + 16).toInt, (id * 3 % 150 + 16).toInt)
            if ((id / 8) % 2 == 0) graft.sources.MediaFixture.webp(w, h)
            else graft.sources.MediaFixture.webpVp8x(w, h)
          case 6 =>
            val (w, h) = ((id % 30 + 1).toInt, (id * 11 % 25 + 1).toInt)
            if ((id / 8) % 2 == 0) graft.sources.MediaFixture.tiff(w, h)
            // stored transposed + orientation 6 (rotate 90 CW): the
            // display dims the oracle expects are (w, h)
            else graft.sources.MediaFixture.tiffOriented(h, w, 24, 6)
          case _ => graft.sources.MediaFixture.webp(16, 16).take(14)
        }
        (id, content)
      }
    }.toDF("asset_id", "content")
  }

  /** Canonical asset schema: id + media kind + raw bytes + metadata. */
  val assetSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType),
    StructField("kind", StringType),                    // image|audio|video
    StructField("content", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("mime", StringType),
      StructField("n_bytes", LongType),
      StructField("n_frames", IntegerType))))))

  /** Build an asset table from any (id, string) source — the
    * deterministic stand-in for reading real media files; content bytes
    * are the UTF-8 payload. */
  def assetsFromText(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val content = col(textCol).cast("binary")
    df.select(
      col(idCol).cast("long").as("asset_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col(idCol) % 3 + 1).cast("int")).as("kind"),
      content.as("content"),
      struct(
        lit("application/octet-stream").as("mime"),
        length(content).cast("long").as("n_bytes"),
        (col(idCol) % 16 + 1).cast("int").as("n_frames")).as("meta"))
  }

  /** Per-asset content features: byte count + sha256 over the binary
    * payload. Pure Column expressions — at scale this is a projection
    * over the binary scan, no shuffle. (Round 4's fake width/height
    * decode kernel is gone: real header decode lives in
    * [[decodeMediaMeta]], oracle-checked in q52.) */
  def contentFeatures(assets: DataFrame): DataFrame =
    assets.select(
      col("asset_id"), col("kind"),
      length(col("content")).cast("long").as("n_bytes"),
      sha2(col("content"), 256).as("content_sha256"))

  /** Frame sampling: one row per sampled frame index (stride sampling
    * over meta.n_frames), with each frame's byte offset computed from
    * the asset's size and frame count. The explode is the real shape a
    * video pipeline uses; actual frame-content extraction would slice
    * the binary at the offset via a codec. */
  def sampleFrames(assets: DataFrame, stride: Int = 4): DataFrame =
    assets.select(col("asset_id"), col("meta.n_frames").as("n_frames"),
        length(col("content")).cast("long").as("n_bytes"))
      .withColumn("frame_idx",
        explode(sequence(lit(0), greatest(col("n_frames") - 1, lit(0)), lit(stride))))
      // integral `div`, not double `/`+cast: idx * n_bytes for a
      // tens-of-GB asset exceeds 2^53 and double rounding would drift
      // the offset off the exact integer division a codec (and the
      // DuckDB `//` oracle) computes
      .withColumn("frame_offset",
        expr("CAST(frame_idx AS BIGINT) * n_bytes div CAST(greatest(n_frames, 1) AS BIGINT)"))
      .select("asset_id", "frame_idx", "frame_offset")

  /** Partition-level batch decode via mapPartitions — the seam where a
    * real codec (JNI/ffmpeg) would process a batch of blobs per task.
    * Returns (asset_id, feature) pairs; the fake feature is a byte sum
    * so results are deterministic and testable. */
  def batchDecode(assets: DataFrame): DataFrame = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets.select(col("asset_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // STUB: byte-sum "embedding"; a real decoder amortizes codec
        // init across the partition exactly like this.
        it.map { case (id, bytes) =>
          var acc = 0L
          var i = 0
          while (i < bytes.length) { acc += (bytes(i) & 0xff); i += 1 }
          (id, acc)
        }
      }.toDF("asset_id", "byte_sum")
  }
}
