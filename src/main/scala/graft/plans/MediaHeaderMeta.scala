package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd media-header decoder: BYTE-FOR-BYTE the semantics of the
  * pure-Column decode it replaced (sniff + BMP/WAV/
  * PNG/GIF/WebP/TIFF/JPEG header parses), collapsed into ONE Catalyst
  * expression returning
  * struct<kind, width, height, bpp, channels, sample_rate,
  * bits_per_sample, n_samples>. That Column form lives on in test
  * scope as `MediaColumns.decodeMediaMetaColumns`, the parity
  * comparator.
  *
  * Why a custom Expression (measured, round 18): the Column form's
  * expression tree is so large that q52 at sf0.001 spent ~18 s in
  * DataFrame CONSTRUCTION (eager analysis of each building step),
  * ~6 s in the optimizer, ~1 s in physical planning and ~20 s in
  * execution (codegen compile of the giant projection + per-row
  * interpreted evaluation of the higher-order marker-walk folds) —
  * PhaseProbe attribution, ~32-43 s per call with reps NOT collapsing
  * (structural cost, not JIT). The decode itself reads a few dozen
  * header bytes per row. This expression is one analyzer node and one
  * reference-object call per row.
  *
  * Exact-parity discipline (the oracle + MediaMetaParitySpec gate it):
  * every subtle behavior of the Column form is reproduced —
  *  - substring-past-EOF gives the available prefix, so a partial
  *    big-endian u16 read at one remaining byte yields THAT byte (the
  *    JPEG segment-length read), and a zero-byte read yields NULL
  *    (conv(hex(empty)) is null);
  *  - three-valued logic: any comparison against a null read is FALSE
  *    in a when-chain (walks advance/die exactly like the fold);
  *  - a repeated TIFF tag overwrites an earlier capture even with a
  *    null value (`when(tag===256, scalar).otherwise(acc)` semantics);
  *  - WAV n_samples divides as DOUBLE then casts to long (Spark's
  *    integral `/` is double division), including the
  *    channels*bits>0 gate;
  *  - null content sniffs to kind="unknown" with all fields null.
  */
case class MediaHeaderMeta(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_media_meta requires BINARY, got ${t.simpleString}")
  }

  override def dataType: DataType = MediaHeaderMeta.schema
  override def nullable: Boolean = false // null content -> kind="unknown" row
  override def prettyName: String = "graft_media_meta"

  override def eval(input: InternalRow): Any =
    MediaHeaderMeta.decoder.decode(
      child.eval(input).asInstanceOf[Array[Byte]]) // null-tolerant

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val dec = ctx.addReferenceObj("mediaMetaDecoder", MediaHeaderMeta.decoder,
      classOf[MediaHeaderMeta.Decoder].getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      InternalRow ${ev.value} =
        $dec.decode(${c.isNull} ? null : ${c.value});""",
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MediaHeaderMeta =
    copy(child = newChild)
}

object MediaHeaderMeta {

  /** Codegen reference object (must serialize); stateless. */
  final class Decoder extends Serializable {
    def decode(b: Array[Byte]): InternalRow = MediaHeaderMeta.decode(b)
  }
  val decoder = new Decoder

  val schema: StructType = StructType(Seq(
    StructField("kind", StringType, nullable = false),
    StructField("width", LongType),
    StructField("height", LongType),
    StructField("bpp", LongType),
    StructField("channels", LongType),
    StructField("sample_rate", LongType),
    StructField("bits_per_sample", LongType),
    StructField("n_samples", LongType)))

  // ---- byte readers (1-based positions, like the Column forms) -------

  /** byteAt: substr(pos,1)+hex+conv — None past EOF. */
  private def byteAt(b: Array[Byte], pos: Long): Option[Long] =
    if (pos >= 1 && pos <= b.length) Some((b(pos.toInt - 1) & 0xff).toLong)
    else None

  /** beU16At: conv(hex(substr(pos,2))) — big-endian over the AVAILABLE
    * bytes (a one-byte tail reads as that byte), None when zero bytes
    * are available. Exactly the Column form's truncation behavior. */
  private def beU16At(b: Array[Byte], pos: Long): Option[Long] = {
    if (pos > b.length || pos < 1) None
    else if (pos == b.length) Some((b(pos.toInt - 1) & 0xff).toLong)
    else Some(((b(pos.toInt - 1) & 0xff).toLong << 8) |
      (b(pos.toInt) & 0xff).toLong)
  }

  /** Fixed-position little-endian unsigned read; caller has
    * length-gated, so all bytes are in range. */
  private def leU(b: Array[Byte], pos: Int, n: Int): Long = {
    var v = 0L
    var i = n - 1
    while (i >= 0) { v = (v << 8) | (b(pos - 1 + i) & 0xff).toLong; i -= 1 }
    v
  }

  /** Fixed-position big-endian unsigned read (length-gated caller). */
  private def beU(b: Array[Byte], pos: Int, n: Int): Long = {
    var v = 0L
    var i = 0
    while (i < n) { v = (v << 8) | (b(pos - 1 + i) & 0xff).toLong; i += 1 }
    v
  }

  private def bytesEq(b: Array[Byte], pos1: Int, expect: Array[Int]): Boolean = {
    if (b.length < pos1 - 1 + expect.length) return false
    var i = 0
    while (i < expect.length) {
      if ((b(pos1 - 1 + i) & 0xff) != expect(i)) return false
      i += 1
    }
    true
  }

  /** sniffKind: hex-prefix compares; a partial prefix read compares
    * unequal (hex of the short substring), null content -> "unknown". */
  private def sniff(b: Array[Byte]): String = {
    if (b == null) return "unknown"
    if (bytesEq(b, 1, Array('B', 'M'))) "bmp"
    else if (bytesEq(b, 1, Array('R', 'I', 'F', 'F')) &&
      bytesEq(b, 9, Array('W', 'A', 'V', 'E'))) "wav"
    else if (bytesEq(b, 1, Array('R', 'I', 'F', 'F')) &&
      bytesEq(b, 9, Array('W', 'E', 'B', 'P'))) "webp"
    else if (bytesEq(b, 1, Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)))
      "png"
    else if (bytesEq(b, 1, Array(0xff, 0xd8, 0xff))) "jpeg"
    else if (bytesEq(b, 1, Array('G', 'I', 'F', '8'))) "gif"
    else if (bytesEq(b, 1, Array(0x49, 0x49, 0x2a, 0x00)) ||
      bytesEq(b, 1, Array(0x4d, 0x4d, 0x00, 0x2a))) "tiff"
    else "unknown"
  }

  // ---- format walks ---------------------------------------------------

  /** Mirrors `MediaColumns.jpegSofScan`: bounded marker walk, 64
    * segments, start pos 3. Returns (precision, height, width, ncomp)
    * when an SOF frame header was captured. */
  private def jpegSof(b: Array[Byte]): Option[(Long, Long, Long, Long)] = {
    var pos = 3L
    var alive = true
    var steps = 0
    while (alive && steps < 64) {
      steps += 1
      val m0 = byteAt(b, pos)
      val m1 = byteAt(b, pos + 1)
      val isSof = m0.contains(255L) && m1.exists(v =>
        v >= 192L && v <= 207L && v != 196L && v != 200L && v != 204L)
      if (isSof && b.length >= pos + 9) {
        // all reads below are in range given length >= pos+9
        return Some((byteAt(b, pos + 4).get, beU16At(b, pos + 5).get,
          beU16At(b, pos + 7).get, byteAt(b, pos + 9).get))
      } else {
        val segLen = beU16At(b, pos + 2)
        if (b.length >= pos + 3 && m0.contains(255L) &&
          m1.exists(v => v != 216L && v != 217L && v != 218L) &&
          segLen.exists(_ >= 2L)) {
          pos = pos + 2L + segLen.get
        } else alive = false // dead: SOI/EOI/SOS, truncation, garbage
      }
    }
    None
  }

  /** Mirrors `MediaColumns.webpDims`: VP8 / VP8L / VP8X chunk after
    * the RIFF container.
    * Caller gates length >= 16 (the fourcc read). */
  private def webpSize(b: Array[Byte]): (Option[Long], Option[Long]) = {
    if (bytesEq(b, 13, Array('V', 'P', '8', ' '))) {
      if (b.length >= 30 && bytesEq(b, 24, Array(0x9d, 0x01, 0x2a)))
        (Some(leU(b, 27, 2) % 16384L), Some(leU(b, 29, 2) % 16384L))
      else (None, None)
    } else if (bytesEq(b, 13, Array('V', 'P', '8', 'L'))) {
      if (b.length >= 25 && (b(20) & 0xff) == 0x2f) {
        val bits = leU(b, 22, 4)
        (Some((bits % 16384L) + 1L), Some(((bits >> 14) % 16384L) + 1L))
      } else (None, None)
    } else if (bytesEq(b, 13, Array('V', 'P', '8', 'X'))) {
      if (b.length >= 30 && leU(b, 17, 4) == 10L)
        (Some(leU(b, 25, 3) + 1L), Some(leU(b, 28, 3) + 1L))
      else (None, None)
    } else (None, None)
  }

  /** Mirrors `MediaColumns.tiffMeta`: endian-tagged IFD walk, 64-entry
    * cap, display-transposed dims under EXIF orientation 5-8. Caller
    * gates length >= 8. Returns (width, height, bpp). */
  private def tiffIfd(b: Array[Byte]): (Option[Long], Option[Long], Option[Long]) = {
    val little = bytesEq(b, 1, Array(0x49, 0x49))
    def u16(pos: Long): Option[Long] =
      for (b0 <- byteAt(b, pos); b1 <- byteAt(b, pos + 1))
        yield if (little) b0 + b1 * 256L else b0 * 256L + b1
    def u32(pos: Long): Option[Long] =
      for (b0 <- byteAt(b, pos); b1 <- byteAt(b, pos + 1);
           b2 <- byteAt(b, pos + 2); b3 <- byteAt(b, pos + 3))
        yield if (little) b0 + b1 * 256L + b2 * 65536L + b3 * 16777216L
          else b0 * 16777216L + b1 * 65536L + b2 * 256L + b3
    // length >= 8: the IFD-offset read is always in range
    val base0 = u32(5L).get + 1L
    val nRaw = u16(base0)
    val n = nRaw.filter(_ >= 1L).map(math.min(_, 64L))
    if (n.isEmpty) return (None, None, None) // null fold -> null fields
    var w: Option[Long] = None
    var h: Option[Long] = None
    var bpp: Option[Long] = None
    var o: Option[Long] = None
    var i = 0L
    while (i < n.get) {
      val eb = base0 + 2L + i * 12L
      val tag = u16(eb)
      val typ = u16(eb + 2L)
      val cnt = u32(eb + 4L)
      val scalar: Option[Long] =
        if (cnt.contains(1L)) {
          if (typ.contains(3L)) u16(eb + 8L)
          else if (typ.contains(4L)) u32(eb + 8L)
          else None
        } else None
      val bppV: Option[Long] =
        if (typ.contains(3L)) {
          if (cnt.contains(1L)) u16(eb + 8L)
          else if (cnt.contains(2L))
            for (a <- u16(eb + 8L); c2 <- u16(eb + 10L)) yield a + c2
          else if (cnt.exists(c2 => c2 >= 3L && c2 <= 4L)) {
            u32(eb + 8L).flatMap { off =>
              val bitsOff = off + 1L
              var acc: Option[Long] = Some(0L)
              var j = 0L
              while (j < cnt.get) { // any None poisons the sum
                acc = for (a <- acc; v <- u16(bitsOff + j * 2L)) yield a + v
                j += 1L
              }
              acc
            }
          } else None
        } else None
      // a repeated tag OVERWRITES, even with a null value (the Column
      // form's when(tag===X, v).otherwise(acc) semantics)
      if (tag.contains(256L)) w = scalar
      if (tag.contains(257L)) h = scalar
      if (tag.contains(258L)) bpp = bppV
      if (tag.contains(274L)) o = scalar
      i += 1L
    }
    val transposed = o.exists(v => v >= 5L && v <= 8L)
    (if (transposed) h else w, if (transposed) w else h, bpp)
  }

  /** The full decodeMediaMeta row. Null content is legal: the Column
    * form sniffs it to "unknown" with all fields null. */
  def decode(b: Array[Byte]): InternalRow = {
    val kind = sniff(b)
    val out = new Array[Any](8)
    out(0) = UTF8String.fromString(kind)
    if (b != null) {
      val len = b.length
      kind match {
        case "bmp" if len >= 30 =>
          out(1) = leU(b, 19, 4) // width
          out(2) = leU(b, 23, 4) // height
          out(3) = leU(b, 29, 2) // bpp
        case "wav" if len >= 44 =>
          val channels = leU(b, 23, 2)
          val rate = leU(b, 25, 4)
          val bits = leU(b, 35, 2)
          val dataSize = leU(b, 41, 4)
          out(4) = channels
          out(5) = rate
          out(6) = bits
          if (channels * bits > 0) {
            // Spark integral '/' is DOUBLE division; cast(long) truncates
            val d = dataSize.toDouble / ((channels * bits).toDouble / 8.0)
            out(7) = d.toLong
          }
        case "png" if len >= 26 &&
          bytesEq(b, 13, Array('I', 'H', 'D', 'R')) =>
          out(1) = beU(b, 17, 4)
          out(2) = beU(b, 21, 4)
          val ct = leU(b, 26, 1)
          val channelsPerPx =
            if (ct == 2L) 3L else if (ct == 6L) 4L else if (ct == 4L) 2L else 1L
          out(3) = leU(b, 25, 1) * channelsPerPx
        case "gif" if len >= 13 =>
          out(1) = leU(b, 7, 2)
          out(2) = leU(b, 9, 2)
        case "webp" if len >= 16 =>
          val (w, h) = webpSize(b)
          w.foreach(v => out(1) = v)
          h.foreach(v => out(2) = v)
        case "tiff" if len >= 8 =>
          val (w, h, bpp) = tiffIfd(b)
          w.foreach(v => out(1) = v)
          h.foreach(v => out(2) = v)
          bpp.foreach(v => out(3) = v)
        case "jpeg" =>
          jpegSof(b).foreach { case (p, hh, ww, n) =>
            out(1) = ww
            out(2) = hh
            out(3) = p * n
          }
        case _ => () // underlength for its kind, or unknown: all null
      }
    }
    new GenericInternalRow(out)
  }
}
