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
  *    binary column with pure codegen'd expressions — no UDF, no
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

  /** Big-endian unsigned read at a FIXED 1-based byte position —
    * hex(substring) is already most-significant-first, so no per-byte
    * reversal (PNG's IHDR fields are big-endian by spec). */
  def beUInt(content: Column, pos: Int, nBytes: Int): Column =
    conv(hex(substring(content, pos, nBytes)), 16, 10).cast("long")

  private def beU16At(c: Column, pos: Column): Column =
    conv(hex(c.substr(pos, lit(2))), 16, 10).cast("long")

  /** Bounded JPEG segment walk, pure Column expressions: a RUNTIME fold
    * (`aggregate` over a maxSegments-long sequence) rather than a
    * statically unrolled recursion — unrolling re-embeds the growing
    * position expression at every level, which is exponential in depth
    * at ANALYSIS time, while the fold's lambda is evaluated iteratively
    * so the expression tree stays constant-size. The bound is the guard
    * against adversarial marker chains, exactly like a streaming
    * decoder's header-scan budget.
    *
    * Each step reads the marker at 1-based `pos` (segments are
    * FF xx [len_be16 payload], len includes itself): an SOF marker
    * (C0–CF minus the non-frame C4/C8/CC) captures
    * struct(precision, height, width, ncomp) from the frame header and
    * stops; standalone/terminal markers (SOI/EOI/SOS — after SOS comes
    * entropy-coded data where the walk would misparse) and truncated or
    * garbage input kill the walk (null result) at whatever step they're
    * met.
    *
    * The default budget is 64 segments: real-world JPEGs routinely carry
    * EXIF/XMP/ICC APPn blocks plus several DQT/DHT tables before SOF
    * (round-12 advice: the JDK-encoder fixtures stay under 12, but a
    * crawl corpus does not), and since the walk is a runtime fold the
    * larger bound costs iterations, not expression size. */
  def jpegSofScan(content: Column, maxSegments: Int = 64): Column = {
    val c = content
    def longNull = lit(null).cast("long")
    // acc: pos = next marker position (null = walk dead or finished);
    //      p/h/w/n = captured SOF fields (p.isNotNull = found)
    def dead = struct(longNull.as("pos"), longNull.as("p"),
      longNull.as("h"), longNull.as("w"), longNull.as("n"))
    val init = struct(lit(3L).as("pos"), longNull.as("p"),
      longNull.as("h"), longNull.as("w"), longNull.as("n"))
    val folded = aggregate(
      sequence(lit(1), lit(maxSegments)), init,
      (acc, _) => {
        val pos = acc.getField("pos")
        val m0 = byteAt(c, pos)
        val m1 = byteAt(c, pos + 1)
        val isSof = m0 === 255L && m1 >= 192L && m1 <= 207L &&
          m1 =!= 196L && m1 =!= 200L && m1 =!= 204L
        val segLen = beU16At(c, pos + 2)
        when(pos.isNull, acc) // found earlier, or walk already dead
          .when(isSof && length(c) >= pos + 9, struct(
            longNull.as("pos"),
            byteAt(c, pos + 4).as("p"),
            beU16At(c, pos + 5).as("h"),
            beU16At(c, pos + 7).as("w"),
            byteAt(c, pos + 9).as("n")))
          .when(length(c) >= pos + 3 && m0 === 255L && m1 =!= 216L &&
            m1 =!= 217L && m1 =!= 218L && segLen >= 2L, struct(
            (pos + 2L + segLen).as("pos"), longNull.as("p"),
            longNull.as("h"), longNull.as("w"), longNull.as("n")))
          .otherwise(dead)
      })
    when(folded.getField("p").isNotNull, struct(
      folded.getField("p").as("precision"),
      folded.getField("h").as("height"),
      folded.getField("w").as("width"),
      folded.getField("n").as("ncomp")))
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

  /** WebP dimensions from the first chunk after the RIFF/'WEBP'
    * container header, pure Column expressions: a 'VP8 ' (lossy) chunk
    * carries 14-bit little-endian dims right after the 3-byte frame tag
    * and the 9D 01 2A keyframe start code (upper 2 bits of each 16-bit
    * field are rescale hints); a 'VP8L' (lossless) chunk packs width-1 /
    * height-1 as back-to-back 14-bit fields of one LE 32-bit word after
    * its 0x2F signature byte; a 'VP8X' (extended — animation / alpha /
    * EXIF features) chunk carries the CANVAS dims directly: width-1 /
    * height-1 as back-to-back 24-bit little-endian fields after the
    * flags+reserved word. Anything else — a truncated chunk, a missing
    * start code — yields null, never a partial read. */
  def webpDims(content: Column): Column = {
    val c = content
    val fourcc = hex(substring(c, 13, 4))
    val lossy = when(length(c) >= 30 && hex(substring(c, 24, 3)) === "9D012A",
      struct(pmod(leUInt(c, 27, 2), lit(16384L)).as("width"),
        pmod(leUInt(c, 29, 2), lit(16384L)).as("height")))
    val bits = leUInt(c, 22, 4)
    val lossless = when(length(c) >= 25 && hex(substring(c, 21, 1)) === "2F",
      struct((pmod(bits, lit(16384L)) + 1L).as("width"),
        (pmod(shiftright(bits, 14), lit(16384L)) + 1L).as("height")))
    // VP8X payload: flags(1) + reserved(3) at 1-based 21-24, then
    // canvas width-1 at 25-27 and height-1 at 28-30 (24-bit LE each).
    // The chunk-size field (bytes 17-20, LE) is always 10 for VP8X —
    // gate on it so a corrupt size yields null, never garbage dims
    // (the same payload-check symmetry the VP8/VP8L arms have via
    // their start-code/signature bytes).
    val extended = when(length(c) >= 30 && leUInt(c, 17, 4) === 10L,
      struct((leUInt(c, 25, 3) + 1L).as("width"),
        (leUInt(c, 28, 3) + 1L).as("height")))
    when(fourcc === "56503820", lossy)        // "VP8 "
      .when(fourcc === "5650384C", lossless)  // "VP8L"
      .when(fourcc === "56503858", extended)  // "VP8X"
  }

  /** TIFF metadata via an endian-tagged IFD walk, pure Column
    * expressions: the header's byte-order mark selects LE/BE reads, the
    * 32-bit IFD offset is followed, and the entry array (12-byte
    * stride, capped at `maxEntries` against adversarial counts) is
    * scanned for ImageWidth(256)/ImageLength(257) — inline SHORT or
    * LONG values — plus EXIF Orientation(274): stored dims are the
    * SENSOR layout, and orientations 5-8 transpose the display, so the
    * returned width/height are swapped into DISPLAY orientation (what
    * a resize/crop pipeline must operate on; the raw orientation rides
    * along as its own field) — and BitsPerSample(258), whose count-1/2 values sit
    * inline (left-justified per spec, so the same read works in both
    * byte orders) while count-3/4 values indirect through the
    * value-offset to a SHORT array that is summed (RGB [8,8,8] -> 24).
    * The walk is ONE runtime `aggregate` fold over the entry indices —
    * constant expression-tree size, the q309 JPEG-fold lesson applied
    * twice over (a first cut did per-tag `filter`+`get` lookups, which
    * re-embeds the whole walk under every field read: still
    * polynomial, not exponential, but ~50k analyzer nodes and minutes
    * of analysis per plan) — and every out-of-range read nulls that
    * entry's contribution (hex of a short substring fails the
    * fixed-width reconstruction, propagating null) rather than
    * decoding garbage. */
  def tiffMeta(content: Column, maxEntries: Int = 64): Column = {
    val c = content
    val little = hex(substring(c, 1, 2)) === "4949"
    def u8(pos: Column): Column = byteAt(c, pos)
    def u16(pos: Column): Column = {
      val b0 = u8(pos); val b1 = u8(pos + 1)
      when(little, b0 + b1 * 256L).otherwise(b0 * 256L + b1)
    }
    def u32(pos: Column): Column = {
      val b0 = u8(pos); val b1 = u8(pos + 1)
      val b2 = u8(pos + 2); val b3 = u8(pos + 3)
      when(little, b0 + b1 * 256L + b2 * 65536L + b3 * 16777216L)
        .otherwise(b0 * 16777216L + b1 * 65536L + b2 * 256L + b3)
    }
    val base0 = u32(lit(5L)) + 1L // 1-based position of the entry count
    val nRaw = u16(base0)
    // zero entries must NOT build sequence(0, -1): Spark defaults the
    // step to -1 for start > stop and the walk would read entry -1
    val n = when(nRaw >= 1L, least(nRaw, lit(maxEntries.toLong)))
    def longNull = lit(null).cast("long")
    val init = struct(longNull.as("w"), longNull.as("h"),
      longNull.as("bpp"), longNull.as("o"))
    val folded = aggregate(sequence(lit(0L), n - 1L), init, (acc, i) => {
      val eb = base0 + 2L + i * 12L
      val tag = u16(eb)
      val typ = u16(eb + 2L)
      val cnt = u32(eb + 4L)
      val scalar = when(cnt === 1L,
        when(typ === 3L, u16(eb + 8L))       // SHORT, inline
          .when(typ === 4L, u32(eb + 8L)))   // LONG, inline
      // SHORT values are left-justified in the 4-byte value field per
      // spec, so counts 1-2 read inline in either byte order; counts
      // 3-4 indirect through the value offset to the SHORT array via a
      // nested fold (measured cheaper at plan time than unrolling the
      // ≤4 terms: expression-tree SIZE is what the analyzer pays for,
      // and the unrolled form embeds the offset read seven times).
      // Gated on typ == SHORT like the scalar arm: BitsPerSample is
      // SHORT by spec, and a LONG/RATIONAL-typed tag 258 read as
      // left-justified 16 bits would fabricate a bpp number — the
      // "null, never garbage" contract applies here too
      val bitsOff = u32(eb + 8L) + 1L
      val bpp = when(typ === 3L,
        when(cnt === 1L, u16(eb + 8L))
          .when(cnt === 2L, u16(eb + 8L) + u16(eb + 10L))
          .when(cnt >= 3L && cnt <= 4L,
            aggregate(sequence(lit(0L), cnt - 1L), lit(0L),
              (a, j) => a + u16(bitsOff + j * 2L))))
      struct(
        when(tag === 256L, scalar).otherwise(acc.getField("w")).as("w"),
        when(tag === 257L, scalar).otherwise(acc.getField("h")).as("h"),
        when(tag === 258L, bpp).otherwise(acc.getField("bpp")).as("bpp"),
        when(tag === 274L, scalar).otherwise(acc.getField("o")).as("o"))
    })
    // EXIF orientations 5-8 transpose the display (rotate 90/270 ±
    // flip): report width/height post-transpose — the dims a resize
    // actually sees after auto-orient — with the raw tag beside them.
    // A null/absent orientation falls through to the stored dims.
    val o = folded.getField("o")
    val transposed = o >= 5L && o <= 8L
    struct(
      when(transposed, folded.getField("h"))
        .otherwise(folded.getField("w")).as("width"),
      when(transposed, folded.getField("w"))
        .otherwise(folded.getField("h")).as("height"),
      folded.getField("bpp").as("bpp"),
      o.as("orientation"))
  }

  /** REAL media-metadata decode over (asset_id, content) rows: BMP
    * width/height/bpp (BITMAPINFOHEADER offsets 18/22/28), PNG
    * width/height/bpp (IHDR — mandated first chunk — big-endian dims at
    * 16/20, bit-depth×channels from the depth/color-type bytes at
    * 24/25), JPEG width/height/bpp (bounded SOF marker walk,
    * [[jpegSofScan]]), GIF width/height (logical-screen-descriptor
    * little-endian dims at 0-based 6/8; bpp is left null — a palette
    * GIF's "depth" is ambiguous between color-resolution bits and
    * palette size), WebP width/height ([[webpDims]]: VP8 lossy or VP8L
    * lossless chunk; bpp null — VP8 is YUV420, no per-pixel bit count),
    * TIFF width/height/bpp ([[tiffMeta]]: endian-tagged IFD walk,
    * BitsPerSample summed across components) and WAV channels/
    * sample_rate/bits_per_sample/n_samples (canonical fmt chunk offsets
    * 22/24/34, data size at 40). Fields of the other format are null.
    * Caveat: BMP height is read unsigned (top-down negative-height
    * bitmaps are out of scope — documented). */
  def decodeMediaMeta(assets: DataFrame): DataFrame = {
    // Since round 18 the decode is ONE codegen'd Catalyst expression
    // (graft.plans.MediaHeaderMeta) with byte-identical semantics to
    // the pure-Column pipeline below: PhaseProbe measured the Column
    // form at ~18 s of eager per-step ANALYSIS + ~6 s optimizer + ~1 s
    // physical planning + ~20 s codegen/interpreted-fold execution PER
    // CALL at sf0.001 (structural — reps did not collapse), all of it
    // expression-tree size, none of it data. The Column form stays
    // below as [[decodeMediaMetaColumns]], the parity comparator
    // MediaMetaParitySpec pins (every planted fixture at every
    // truncation length, plus adversarial mutations).
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

  /** The pre-round-18 pure-Column decode — retained as the parity
    * comparator for [[decodeMediaMeta]]'s custom expression (and as
    * the readable spec of the byte semantics). Test-path only: the
    * plan-size cost that motivated the replacement lives here. */
  private[graft] def decodeMediaMetaColumns(assets: DataFrame): DataFrame = {
    val c = col("content")
    // A magic-number match on a TRUNCATED file must not yield garbage
    // field values (hex of a partial read converts to a wrong number):
    // require the full fixed header before trusting any offset — BMP
    // needs BITMAPINFOHEADER through bpp (30 bytes), canonical WAV needs
    // the fmt chunk + data size (44 bytes), PNG the IHDR through
    // color-type (26 bytes, with the chunk type verified — a conformant
    // signature does not guarantee an IHDR follows). JPEG's walk guards
    // itself (every step length-checks before reading). Underlength
    // files keep their sniffed kind with all fields null — explicitly
    // "underparsed".
    //
    // The marker-walk folds (JPEG SOF scan, TIFF IFD walk) are
    // materialized ONCE each as intermediate columns in their own
    // projection: referencing a fold through getField in three field
    // expressions would embed the whole walk three times over, and the
    // analyzer pays per copy (the per-tag-lookup first cut of tiffMeta
    // cost ~15 s of analysis per plan this way). CollapseProject keeps
    // the split — higher-order functions are not "cheap" expressions,
    // so multi-referenced folds stay in their own project and run once
    // per row.
    val kindC = col("_kind")
    val isBmp = kindC === "bmp" && length(c) >= 30
    val isWav = kindC === "wav" && length(c) >= 44
    val isPng = kindC === "png" && length(c) >= 26 &&
      hex(substring(c, 13, 4)) === "49484452" // "IHDR"
    val pngChannelsPerPx = { // color type -> sample count per pixel
      val ct = leUInt(c, 26, 1)
      when(ct === 2L, 3L).when(ct === 6L, 4L).when(ct === 4L, 2L)
        .otherwise(1L) // greyscale (0) and palette-indexed (3)
    }
    val sof = col("_sof")
    // gif: signature(6) + full logical screen descriptor(7); webp:
    // container header(12) + chunk fourcc(4) before any payload read;
    // tiff guards itself (every IFD read nulls past EOF)
    val isGif = kindC === "gif" && length(c) >= 13
    val webp = col("_webp")
    val tif = col("_tif")
    val channels = leUInt(c, 23, 2)
    val bits = leUInt(c, 35, 2)
    val dataSize = leUInt(c, 41, 4)
    assets
      .withColumn("_kind", sniffKind(c))
      .withColumn("_sof", when(kindC === "jpeg", jpegSofScan(c)))
      .withColumn("_webp", when(kindC === "webp" && length(c) >= 16, webpDims(c)))
      .withColumn("_tif", when(kindC === "tiff" && length(c) >= 8, tiffMeta(c)))
      .select(
        col("asset_id"),
        kindC.as("kind"),
        when(isBmp, leUInt(c, 19, 4))
          .when(isPng, beUInt(c, 17, 4))
          .when(isGif, leUInt(c, 7, 2))
          .when(kindC === "webp", webp.getField("width"))
          .when(kindC === "tiff", tif.getField("width"))
          .otherwise(sof.getField("width")).as("width"),
        when(isBmp, leUInt(c, 23, 4))
          .when(isPng, beUInt(c, 21, 4))
          .when(isGif, leUInt(c, 9, 2))
          .when(kindC === "webp", webp.getField("height"))
          .when(kindC === "tiff", tif.getField("height"))
          .otherwise(sof.getField("height")).as("height"),
        when(isBmp, leUInt(c, 29, 2))
          .when(isPng, leUInt(c, 25, 1) * pngChannelsPerPx)
          .when(kindC === "tiff", tif.getField("bpp"))
          .otherwise(sof.getField("precision") * sof.getField("ncomp"))
          .as("bpp"),
        when(isWav, channels).as("channels"),
        when(isWav, leUInt(c, 25, 4)).as("sample_rate"),
        when(isWav, bits).as("bits_per_sample"),
        // a zero-channel/zero-bit fmt chunk would divide by zero (null
        // under ANSI off, error under ANSI on — neither is a sample count)
        when(isWav && channels * bits > 0,
          (dataSize / (channels * bits / lit(8))).cast("long"))
          .as("n_samples"))
  }

  /** 16-bit little-endian signed PCM sample at 0-based index `k` of a
    * canonical WAV's data chunk (data starts at byte 45, 1-based).
    * Pure Column arithmetic — dynamic-position substr + hex + conv —
    * so full-file sample decode stays inside whole-stage codegen. */
  def pcm16Sample(content: Column, k: Column): Column = {
    val lo = conv(hex(content.substr(lit(45) + k * 2, lit(1))), 16, 10)
      .cast("long")
    val hi = conv(hex(content.substr(lit(46) + k * 2, lit(1))), 16, 10)
      .cast("long")
    val u = lo + hi * 256L
    when(u >= 32768L, u - 65536L).otherwise(u)
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
    // Column fold below (kept as [[audioEnergyColumns]], the parity
    // comparator MediaKernelsParitySpec pins): the fold paid two string
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

  /** The pre-round-18 pure-Column q125 kernel — retained as the parity
    * comparator for [[audioEnergy]]'s codegen'd expression (and as the
    * readable spec of the sample semantics). Test-path only. */
  private[graft] def audioEnergyColumns(assets: DataFrame): DataFrame = {
    val c = col("content")
    assets
      .filter(sniffKind(c) === "wav" && length(c) >= 44)
      .withColumn("n_vals", (leUInt(c, 41, 4) / 2).cast("long"))
      // empty data chunk: sequence(0, -1) would FALL BACK to a
      // descending [0,-1] (Spark defaults step to -1) and decode
      // garbage — an empty recording has no features, not zero ones
      .filter(col("n_vals") > 0)
      .withColumn("s",
        transform(sequence(lit(0L), col("n_vals") - 1), k => pcm16Sample(c, k)))
      .select(col("asset_id"), col("n_vals"),
        aggregate(col("s"), lit(0L), (acc, x) => acc + x * x).as("energy"),
        array_max(transform(col("s"), x => abs(x))).as("max_abs"))
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
    // graft.plans.Pcm16BandEnergies kernel; the Column fold stays below
    // as [[audioFingerprintColumns]], the parity comparator. See
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

  /** The pre-round-18 pure-Column band fingerprint (through the band
    * projection, before the grouping) — the parity comparator for
    * [[audioFingerprint]]'s kernel. Test-path only. */
  private[graft] def audioFingerprintColumns(assets: DataFrame): DataFrame = {
    val c = col("content")
    assets
      .filter(sniffKind(c) === "wav" && length(c) >= 44)
      .withColumn("n_vals", (leUInt(c, 41, 4) / 2).cast("long"))
      .filter(col("n_vals") > 0)
      .withColumn("rate", leUInt(c, 25, 4))
      .withColumn("channels", leUInt(c, 23, 2))
      .withColumn("q", expr("(n_vals + 3) div 4"))
      .withColumn("s",
        transform(sequence(lit(0L), col("n_vals") - 1), k => pcm16Sample(c, k)))
      .withColumn("bands", transform(sequence(lit(0), lit(3)), b =>
        aggregate(
          slice(col("s"), (b.cast("long") * col("q") + 1).cast("int"),
            col("q").cast("int")),
          lit(0L), (acc, x) => acc + x * x)))
      .select(col("asset_id"), col("rate"), col("channels"),
        col("n_vals"), col("bands"))
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
    // scan. The Column form (kept below as [[audioSegmentsColumns]],
    // the parity comparator) needed an explode to per-frame rows, a
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

  /** The pre-round-18 explode/window/join q192 pipeline — retained as
    * the parity comparator for [[audioSegments]]'s kernel (and as the
    * readable spec of the frame/island semantics). Test-path only. */
  private[graft] def audioSegmentsColumns(assets: DataFrame, frame: Int = 8,
      thresholdPerSample: Long = 300000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = col("content")
    val framed = assets
      .filter(sniffKind(c) === "wav" && length(c) >= 44)
      .withColumn("n_vals", (leUInt(c, 41, 4) / 2).cast("long"))
      .filter(col("n_vals") > 0)
      .withColumn("s",
        transform(sequence(lit(0L), col("n_vals") - 1), k => pcm16Sample(c, k)))
      .withColumn("n_frames",
        ((col("n_vals") + (frame - 1)) / frame).cast("long"))
      .select(col("asset_id"), col("n_frames"),
        explode(transform(sequence(lit(0L), col("n_frames") - 1), f => struct(
          f.as("f"),
          aggregate(slice(col("s"), (f * frame + 1).cast("int"), lit(frame)),
            lit(0L), (acc, x) => acc + x * x).as("energy"),
          size(slice(col("s"), (f * frame + 1).cast("int"), lit(frame))).as("n_in"))))
          .as("fr"))
      .select(col("asset_id"), col("n_frames"), col("fr.f").as("f"),
        col("fr.energy").as("energy"), col("fr.n_in").as("n_in"))
      .withColumn("active",
        col("energy") >= lit(thresholdPerSample) * col("n_in"))
      .localCheckpoint(true) // feeds the per-asset frame count AND islands
    val perAsset = framed.groupBy("asset_id")
      .agg(max("n_frames").as("n_frames"))
    val islands = framed.filter(col("active"))
      .withColumn("isl", col("f") - row_number().over(
        Window.partitionBy("asset_id").orderBy("f")))
      .groupBy("asset_id", "isl").agg(count(lit(1)).as("len"))
    val segs = islands.groupBy("asset_id")
      .agg(count(lit(1)).as("n_segments"), max("len").as("longest_seg"),
        sum("len").as("n_active"))
    perAsset.join(segs, Seq("asset_id"), "left")
      .select(col("asset_id"), col("n_frames"),
        coalesce(col("n_active"), lit(0L)).as("n_active"),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        coalesce(col("longest_seg"), lit(0L)).as("longest_seg"))
  }

  /** Single byte of a binary column at 1-based dynamic position, as an
    * unsigned long. */
  private def byteAt(content: Column, pos: Column): Column =
    conv(hex(content.substr(pos, lit(1))), 16, 10).cast("long")

  /** REAL image feature extraction (q126): decode EVERY pixel of each
    * 24bpp BMP from the raw bytes — bottom-up rows, 4-byte row padding,
    * BGR order — and reduce to integer channel statistics (sum per
    * channel + pixel count). The mean-brightness / channel-balance
    * filters an image-curation pipeline runs start exactly here; pure
    * Column arithmetic, a projection over the binary scan. */
  def imageStats(assets: DataFrame): DataFrame = {
    // round 18: the per-pixel triple fold is the codegen'd
    // graft.plans.BmpChannelSums kernel (decimate=1); the Column form
    // stays below as [[imageStatsColumns]], the parity comparator. See
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

  /** The pre-round-18 pure-Column q126 kernel — the parity comparator
    * for [[imageStats]]'s expression. Test-path only. */
  private[graft] def imageStatsColumns(assets: DataFrame): DataFrame = {
    val c = col("content")
    val w = leUInt(c, 19, 4)
    val h = leSInt32(c, 23)
    // pad w*3 up to a multiple of 4 with pure integer ops (Column `/`
    // on longs is DOUBLE division — never use it for strides)
    val rowBytes = (w * 3 + 3) - pmod(w * 3 + 3, lit(4L))
    def channel(offset: Int): Column = aggregate(
      transform(sequence(lit(0L), col("n_pixels") - 1), p => {
        val x = pmod(p, col("w"))
        // (p - x) is an exact multiple of w, so the double division is
        // exact and the long cast is lossless
        val y = ((p - x) / col("w")).cast("long")
        byteAt(c, lit(55 + offset) + y * col("rb") + x * 3)
      }),
      lit(0L), (acc, v) => acc + v)
    assets
      .filter(sniffKind(c) === "bmp" && length(c) >= 54)
      .withColumn("w", w).withColumn("h", h)
      .filter(col("w") > 0 && col("h") > 0)
      .withColumn("rb", rowBytes)
      .withColumn("n_pixels", (col("w") * col("h")).cast("long"))
      .select(col("asset_id"), col("n_pixels"),
        channel(2).as("sum_r"), // BGR on disk: R is the 3rd byte
        channel(1).as("sum_g"),
        channel(0).as("sum_b"))
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
    // q127 nearest-neighbor addressing); Column form below as
    // [[imageResizeStatsColumns]], the parity comparator.
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

  /** The pre-round-18 pure-Column q127 kernel — the parity comparator
    * for [[imageResizeStats]]'s expression. Test-path only. */
  private[graft] def imageResizeStatsColumns(assets: DataFrame): DataFrame = {
    val c = col("content")
    val w = leUInt(c, 19, 4)
    val h = leSInt32(c, 23)
    val rowBytes = (w * 3 + 3) - pmod(w * 3 + 3, lit(4L))
    def channel(offset: Int): Column = aggregate(
      transform(sequence(lit(0L), col("out_n") - 1), p => {
        val ox = pmod(p, col("out_w"))
        val oy = ((p - ox) / col("out_w")).cast("long")
        byteAt(c, lit(55 + offset) + oy * 2 * col("rb") + ox * 6)
      }),
      lit(0L), (acc, v) => acc + v)
    assets
      .filter(sniffKind(c) === "bmp" && length(c) >= 54)
      .withColumn("w", w).withColumn("h", h)
      .filter(col("w") > 0 && col("h") > 0)
      .withColumn("rb", rowBytes)
      .withColumn("out_w", ((col("w") + 1) - pmod(col("w") + 1, lit(2L))) / 2)
      .withColumn("out_h", ((col("h") + 1) - pmod(col("h") + 1, lit(2L))) / 2)
      .withColumn("out_w", col("out_w").cast("long"))
      .withColumn("out_h", col("out_h").cast("long"))
      .withColumn("out_n", col("out_w") * col("out_h"))
      .select(col("asset_id"), col("out_w"), col("out_h"),
        channel(2).as("sum_r"), channel(1).as("sum_g"), channel(0).as("sum_b"))
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
    // below as [[imagePHashColumns]], the parity comparator.
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

  /** The pre-round-18 pure-Column aHash — the parity comparator for
    * [[imagePHash]]'s expression. Test-path only. */
  private[graft] def imagePHashColumns(assets: DataFrame): DataFrame = {
    val c = col("content")
    val w = leUInt(c, 19, 4)
    val h = leSInt32(c, 23)
    val rowBytes = (w * 3 + 3) - pmod(w * 3 + 3, lit(4L))
    def band(k: Int): Column = aggregate(
      // accumulate the band's 16 bits most-significant-first:
      // acc·2 + bit walks p from bit 15 down to bit 0
      sequence(lit(k * 16L + 15L), lit(k * 16L), lit(-1L)),
      lit(0L),
      (acc, p) => acc * 2 +
        when(element_at(col("grays"), (p + 1).cast("int")) * 64 >
          col("gsum"), 1L).otherwise(0L))
    assets
      .filter(sniffKind(c) === "bmp" && length(c) >= 54)
      .withColumn("w", w).withColumn("h", h)
      .filter(col("w") > 0 && col("h") > 0)
      .withColumn("rb", rowBytes)
      .withColumn("grays", transform(sequence(lit(0L), lit(63L)), p => {
        val gx = pmod(p, lit(8L))
        val gy = ((p - gx) / 8).cast("long")
        val sx = floor(gx * col("w") / 8).cast("long")
        val sy = floor(gy * col("h") / 8).cast("long")
        val off = lit(55L) + sy * col("rb") + sx * 3L
        byteAt(c, off) + byteAt(c, off + 1) + byteAt(c, off + 2)
      }))
      .withColumn("gsum", aggregate(col("grays"), lit(0L), (a, v) => a + v))
      .select(col("asset_id"), col("w"), col("h"),
        band(0).as("b0"), band(1).as("b1"),
        band(2).as("b2"), band(3).as("b3"))
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
