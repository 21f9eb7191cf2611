package graft

import org.apache.spark.sql.functions._

/** Round-18 optimization guard: the one-node MediaHeaderMeta decode
  * must be BYTE-FOR-BYTE equal to the pure-Column pipeline it replaced
  * (MediaColumns.decodeMediaMetaColumns) — on every planted fixture
  * class, at EVERY truncation prefix (dense through the header region,
  * strided beyond), and under deterministic byte mutations that hit
  * the adversarial paths (marker floods, corrupt IFD counts, bad
  * chunk sizes). This is the spec that lets the oracle-gated q52/q309/
  * q211 ride the fast expression. */
class MediaMetaParitySpec extends SparkSpec {

  import graft.sources.MediaFixture

  private def fixtures: Seq[(Long, Array[Byte])] = {
    val q52 = (0L until 16L).map { id =>
      val content =
        if (id % 2 == 0)
          MediaFixture.bmp((id % 64 + 1).toInt, (id * 7 % 48 + 1).toInt)
        else
          MediaFixture.wav((id % 3 + 1).toInt, 8000 * (id % 4 + 1).toInt, 16,
            (id % 100 + 1).toInt)
      (id, content)
    }
    val q309 = (0L until 32L).map { id =>
      val content: Array[Byte] = (id % 8) match {
        case 0 => MediaFixture.png((id % 50 + 1).toInt, (id * 3 % 40 + 1).toInt)
        case 1 => MediaFixture.jpeg((id % 60 + 16).toInt, (id * 5 % 50 + 16).toInt)
        case 2 => MediaFixture.png(8, 8).take(20)
        case 3 => Array.tabulate[Byte](64)(i => ((i * 11 + 3) % 256).toByte)
        case 4 => MediaFixture.gif((id % 40 + 1).toInt, (id * 7 % 30 + 1).toInt)
        case 5 =>
          val (w, h) = ((id % 200 + 16).toInt, (id * 3 % 150 + 16).toInt)
          if ((id / 8) % 2 == 0) MediaFixture.webp(w, h)
          else MediaFixture.webpVp8x(w, h)
        case 6 =>
          val (w, h) = ((id % 30 + 1).toInt, (id * 11 % 25 + 1).toInt)
          if ((id / 8) % 2 == 0) MediaFixture.tiff(w, h)
          else MediaFixture.tiffOriented(h, w, 24, 6)
        case _ => MediaFixture.webp(16, 16).take(14)
      }
      (1000L + id, content)
    }
    q52 ++ q309 :+ (2000L, MediaFixture.webpLossless(33, 21)) :+
      (2001L, MediaFixture.tiffLittleEndian(17, 9, 8))
  }

  private def variants: Seq[(Long, Array[Byte])] = {
    val base = fixtures
    val truncs = base.flatMap { case (id, bytes) =>
      val lens = (0 to math.min(bytes.length, 96)) ++
        (96 until bytes.length by 11)
      lens.distinct.map(l => (id * 100000L + l, bytes.take(l)))
    }
    // deterministic single-byte mutations through the header region:
    // marker bytes, lengths, counts, fourccs all get hit
    val muts = base.flatMap { case (id, bytes) =>
      (0 until math.min(bytes.length, 64)).map { p =>
        val b2 = bytes.clone()
        b2(p) = (b2(p) ^ ((p * 37 + id) % 255 + 1).toByte).toByte
        (id * 100000L + 90000L + p, b2)
      }
    }
    base.map { case (id, b) => (id * 100000L + 99999L, b) } ++ truncs ++ muts
  }

  /** The OLD Column form CRASHES (ANSI substr-position cast overflow)
    * on adversarial TIFFs whose IFD/value offsets exceed Int.MaxValue —
    * a latent robustness bug the mutation fuzzing surfaced (the new
    * expression yields null fields instead; planted oracle fixtures
    * never hit it). Conservatively detect such inputs so the strict
    * parity set excludes them; they get their own no-crash assertion. */
  private def oldFormCrashes(b: Array[Byte]): Boolean = {
    def u8(p: Long): Option[Long] =
      if (p >= 1 && p <= b.length) Some((b(p.toInt - 1) & 0xff).toLong) else None
    val isTiff = b.length >= 8 &&
      ((b(0) & 0xff, b(1) & 0xff, b(2) & 0xff, b(3) & 0xff) == (0x49, 0x49, 0x2a, 0x00) ||
       (b(0) & 0xff, b(1) & 0xff, b(2) & 0xff, b(3) & 0xff) == (0x4d, 0x4d, 0x00, 0x2a))
    if (!isTiff) return false
    val little = (b(0) & 0xff) == 0x49
    def u16(p: Long): Option[Long] =
      for (x <- u8(p); y <- u8(p + 1))
        yield if (little) x + y * 256L else x * 256L + y
    def u32(p: Long): Option[Long] =
      for (x <- u8(p); y <- u8(p + 1); z <- u8(p + 2); w <- u8(p + 3))
        yield if (little) x + y * 256L + z * 65536L + w * 16777216L
          else x * 16777216L + y * 65536L + z * 256L + w
    val lim = Int.MaxValue.toLong - 16L // margin over exact reachability
    val base0 = u32(5L).get + 1L
    if (base0 > lim) return true
    val n = u16(base0).filter(_ >= 1L).map(math.min(_, 64L)).getOrElse(0L)
    var i = 0L
    while (i < n) {
      val eb = base0 + 2L + i * 12L
      if (eb > lim) return true
      // any entry's value-offset word may become a substr position
      if (u32(eb + 8L).exists(_ > lim)) return true
      i += 1L
    }
    false
  }

  test("MediaHeaderMeta equals the Column decode on fixtures, " +
    "truncations, and mutations") {
    val spark2 = spark
    import spark2.implicits._
    val (crashing, comparable) = variants.partition(v => oldFormCrashes(v._2))
    val assets = comparable.toDF("asset_id", "content").localCheckpoint(true)
    val fast = graft.operators.Multimodal.decodeMediaMeta(assets)
      .orderBy("asset_id").collect()
    val slow = MediaColumns.decodeMediaMetaColumns(assets)
      .orderBy("asset_id").collect()
    assert(fast.length == slow.length)
    fast.zip(slow).foreach { case (f, s) =>
      assert(f == s, s"mismatch for asset ${f.get(0)}: fast=$f slow=$s")
    }
    // the inputs that CRASH the old form (ANSI substr-cast overflow on
    // >2^31 TIFF offsets) must decode cleanly in the new one: sniffed
    // kind, null fields, no exception
    if (crashing.nonEmpty) {
      val rows = graft.operators.Multimodal.decodeMediaMeta(
        crashing.toDF("asset_id", "content")).collect()
      // no exception, sniffed kind intact (the conservative pre-check
      // may flag large-but-valid offsets, so fields may legitimately
      // decode — the law here is "never crash", not "all null")
      assert(rows.forall(_.getString(1) == "tiff"))
    }
  }

  test("null content decodes to kind=unknown with null fields") {
    val spark2 = spark
    import spark2.implicits._
    val assets = Seq((1L, Array[Byte](1, 2)), (2L, null))
      .toDF("asset_id", "content")
    val rows = graft.operators.Multimodal.decodeMediaMeta(assets)
      .orderBy("asset_id").collect()
    assert(rows(1).getString(1) == "unknown")
    (2 to 8).foreach(i => assert(rows(1).isNullAt(i)))
    val slow = MediaColumns.decodeMediaMetaColumns(assets)
      .orderBy("asset_id").collect()
    rows.zip(slow).foreach { case (f, s) => assert(f == s) }
  }
}
