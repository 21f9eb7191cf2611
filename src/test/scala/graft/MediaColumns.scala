package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Multimodal.{leSInt32, leUInt, sniffKind}

/** The pre-round-18 pure-Column media decodes, kept as parity
  * comparators: each `*Columns` form is the readable spec of the byte
  * semantics that a codegen'd kernel in `graft.plans` now runs
  * (MediaHeaderMeta, Pcm16Features, Pcm16BandEnergies, Pcm16Segments,
  * BmpChannelSums, BmpAHash). MediaMetaParitySpec and
  * MediaKernelsParitySpec pin kernel == Column form on fixtures,
  * truncations and mutations; KernelProbe times the two at content
  * scale. No engine path runs these: their plan-size and per-byte cost
  * is what the kernels replaced. */
object MediaColumns {

  /** Single byte of a binary column at 1-based dynamic position, as an
    * unsigned long. */
  def byteAt(content: Column, pos: Column): Column =
    conv(hex(content.substr(pos, lit(1))), 16, 10).cast("long")

  /** Big-endian unsigned read at a FIXED 1-based byte position —
    * hex(substring) is already most-significant-first, so no per-byte
    * reversal (PNG's IHDR fields are big-endian by spec). */
  def beUInt(content: Column, pos: Int, nBytes: Int): Column =
    conv(hex(substring(content, pos, nBytes)), 16, 10).cast("long")

  def beU16At(c: Column, pos: Column): Column =
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

  /** The pre-round-18 pure-Column decode — the parity comparator for
    * `Multimodal.decodeMediaMeta`'s custom expression (and the readable
    * spec of the byte semantics). The plan-size cost that motivated the
    * replacement lives here. */
  def decodeMediaMetaColumns(assets: DataFrame): DataFrame = {
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

  /** The pre-round-18 pure-Column q125 kernel — the parity comparator
    * for `Multimodal.audioEnergy`'s codegen'd expression (and the
    * readable spec of the sample semantics). */
  def audioEnergyColumns(assets: DataFrame): DataFrame = {
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

  /** The pre-round-18 pure-Column band fingerprint (through the band
    * projection, before the grouping) — the parity comparator for
    * `Multimodal.audioFingerprint`'s kernel. */
  def audioFingerprintColumns(assets: DataFrame): DataFrame = {
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

  /** The pre-round-18 explode/window/join q192 pipeline — the parity
    * comparator for `Multimodal.audioSegments`'s kernel (and the
    * readable spec of the frame/island semantics). */
  def audioSegmentsColumns(assets: DataFrame, frame: Int = 8,
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

  /** The pre-round-18 pure-Column q126 kernel — the parity comparator
    * for `Multimodal.imageStats`'s expression. */
  def imageStatsColumns(assets: DataFrame): DataFrame = {
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

  /** The pre-round-18 pure-Column q127 kernel — the parity comparator
    * for `Multimodal.imageResizeStats`'s expression. */
  def imageResizeStatsColumns(assets: DataFrame): DataFrame = {
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

  /** The pre-round-18 pure-Column aHash — the parity comparator for
    * `Multimodal.imagePHash`'s expression. */
  def imagePHashColumns(assets: DataFrame): DataFrame = {
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
}
