package graft.plans

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.ExpressionBridge.{column, expression}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** Engine extensions: injects graft's custom Catalyst expressions (the
  * one table, [[GraftFunctions.table]]) so SQL text can name them, plus
  * the [[PlanGuard]] rule. Install with
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions`; a session built
  * without it gets the same SQL functions from [[GraftFunctions.register]].
  * The Column helpers in [[GraftFunctions]] need neither.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.table.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), builder))
    }
    // scale guardrail (inert until spark.graft.planGuard=warn|fail)
    e.injectOptimizerRule(session => PlanGuard(session))
  }
}

/** graft's custom expressions, two ways in:
  *  - Column helpers (`rolling_hash`, `srp_sig`, ...) build the
  *    expression directly, so they work on any session with no
  *    registration and never touch a function registry;
  *  - SQL text names them through [[table]], installed either by
  *    [[GraftExtensions]] at session build or by [[register]] on a live
  *    session.
  */
object GraftFunctions {
  private def mkSrpSig(exprs: Seq[Expression]): SrpSignature =
    SrpSignature(exprs.head,
      exprs(1).eval().asInstanceOf[Number].intValue(),
      exprs(2).eval().asInstanceOf[Number].intValue(),
      exprs(3).eval().asInstanceOf[Number].intValue())

  private def mkShingles(exprs: Seq[Expression]): WordShingles =
    WordShingles(exprs.head,
      exprs(1).eval().asInstanceOf[Number].intValue())

  private def mkTokenWindowHash(exprs: Seq[Expression]): TokenWindowHash =
    TokenWindowHash(exprs.head,
      exprs(1).eval().asInstanceOf[Number].intValue())

  private def mkHexWindow(exprs: Seq[Expression]): HexWindowLong =
    HexWindowLong(exprs.head,
      exprs(1).eval().asInstanceOf[Number].intValue(),
      exprs(2).eval().asInstanceOf[Number].intValue())

  private def mkRegexCount(exprs: Seq[Expression]): RegexCount = {
    require(exprs(1).foldable,
      s"graft_regexp_count pattern must be a literal: ${exprs(1)}")
    RegexCount(exprs.head, String.valueOf(exprs(1).eval()))
  }

  private def mkPcm16Segments(exprs: Seq[Expression]): Pcm16Segments = {
    require(exprs(1).foldable && exprs(2).foldable,
      s"graft_pcm16_segments frame/threshold must be literals: $exprs")
    Pcm16Segments(exprs.head,
      exprs(1).eval().asInstanceOf[Number].intValue(),
      exprs(2).eval().asInstanceOf[Number].longValue())
  }

  private def mkBmpChannelSums(exprs: Seq[Expression]): BmpChannelSums = {
    require(exprs(1).foldable,
      s"graft_bmp_channel_sums decimate must be a literal: ${exprs(1)}")
    BmpChannelSums(exprs.head, exprs(1).eval().asInstanceOf[Number].intValue())
  }

  private def mkPlaceholderNull(exprs: Seq[Expression]): PlaceholderNull =
    PlaceholderNull(exprs.head, exprs.tail.map { e =>
      require(e.foldable, s"graft_placeholder_null tokens must be literals: $e")
      String.valueOf(e.eval())
    })

  private def mkPatternClass(exprs: Seq[Expression]): PatternClass = {
    require(exprs(1).foldable, s"graft_pattern_class kind must be a literal: ${exprs(1)}")
    PatternClass(exprs.head, String.valueOf(exprs(1).eval()))
  }

  /** The one function table: SQL name -> builder over the call's
    * argument expressions. The `mk*` builders check that the arguments
    * the expression keeps as Scala values are literals. */
  val table: Seq[(String, Seq[Expression] => Expression)] = Seq(
    ("rolling_hash", e => RollingHash(e.head)),
    ("word_shingles", mkShingles),
    ("graft_dot", e => DotProduct(e(0), e(1))),
    ("graft_tokens", e => AsciiTokens(e.head)),
    ("graft_hex_window", mkHexWindow),
    ("token_window_hash", mkTokenWindowHash),
    ("morton_key", e => MortonKey(e(0), e(1))),
    ("graft_srp_sig", mkSrpSig),
    ("graft_placeholder_null", mkPlaceholderNull),
    ("graft_pattern_class", mkPatternClass),
    ("graft_media_meta", e => MediaHeaderMeta(e.head)),
    ("graft_regexp_count", mkRegexCount),
    ("graft_pcm16_features", e => Pcm16Features(e.head)),
    ("graft_pcm16_bands", e => Pcm16BandEnergies(e.head)),
    ("graft_pcm16_segments", mkPcm16Segments),
    ("graft_bmp_channel_sums", mkBmpChannelSums),
    ("graft_bmp_ahash", e => BmpAHash(e.head)),
    // Spark's own (non-public-registry) bloom expressions, surfaced
    // under graft names: the build side of a semi-join reduction as a
    // TypedImperativeAggregate, and the codegen'd membership probe.
    // Same machinery Spark's InjectRuntimeFilter plants — exposed here
    // so an operator can build the filter over an EXPLICIT key set.
    ("graft_bloom_agg", e => new BloomFilterAggregate(e(0), e(1), e(2))),
    ("graft_might_contain", e => BloomFilterMightContain(e(0), e(1))))

  /** Makes [[table]] callable from SQL text on a session built without
    * [[GraftExtensions]] (temp functions; idempotent). */
  def register(spark: SparkSession): Unit =
    table.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")
    }

  def rolling_hash(c: Column): Column = column(RollingHash(expression(c)))

  def word_shingles(tokens: Column, n: Int): Column =
    column(WordShingles(expression(tokens), n))

  def graft_dot(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))

  def graft_tokens(lowered: Column): Column =
    column(AsciiTokens(expression(lowered)))

  def hex_window(hexStr: Column, start: Int, len: Int): Column =
    column(HexWindowLong(expression(hexStr), start, len))

  def token_window_hash(tokens: Column, w: Int): Column =
    column(TokenWindowHash(expression(tokens), w))

  def morton_key(a: Column, b: Column): Column =
    column(MortonKey(expression(a), expression(b)))

  def srp_sig(vec: Column, band: Int, bits: Int, dim: Int): Column =
    column(SrpSignature(expression(vec), band, bits, dim))

  /** Null out placeholder tokens (trimmed, case-insensitive) — the
    * codegen'd form of the ingest path's per-column normalization; see
    * [[PlaceholderNull]] for the measured rationale. */
  def placeholder_null(c: Column, tokens: Seq[String]): Column =
    column(PlaceholderNull(expression(c), tokens))

  /** Membership in one of the validation core's lexical classes
    * (`PatternClass.Kinds`) — the regex-free form of `rlike` on the
    * class's anchored pattern; see [[PatternClass]]. */
  def pattern_class(c: Column, kind: String): Column =
    column(PatternClass(expression(c), kind))

  /** One-node media-header decode returning the full meta struct; see
    * [[MediaHeaderMeta]] for the measured rationale. */
  def media_meta(content: Column): Column =
    column(MediaHeaderMeta(expression(content)))

  /** One-pass PCM feature kernel (struct<energy, max_abs>); see
    * [[Pcm16Features]]. */
  def pcm16_features(content: Column): Column =
    column(Pcm16Features(expression(content)))

  /** Quarter-band PCM energy kernel (array<long>(4)); see
    * [[Pcm16BandEnergies]]. */
  def pcm16_bands(content: Column): Column =
    column(Pcm16BandEnergies(expression(content)))

  /** One-pass VAD segmentation kernel
    * (struct<n_frames, n_active, n_segments, longest_seg>); see
    * [[Pcm16Segments]]. */
  def pcm16_segments(content: Column, frame: Int, threshold: Long): Column =
    column(Pcm16Segments(expression(content), frame, threshold))

  /** One-pass BMP channel-sum kernel (struct<sum_r, sum_g, sum_b>);
    * decimate=1 full frame, decimate=2 nearest-neighbor 2x; see
    * [[BmpChannelSums]]. */
  def bmp_channel_sums(content: Column, decimate: Int): Column =
    column(BmpChannelSums(expression(content), decimate))

  /** One-pass BMP average-hash kernel (struct<b0, b1, b2, b3>); see
    * [[BmpAHash]]. */
  def bmp_ahash(content: Column): Column =
    column(BmpAHash(expression(content)))

  /** Count-only `regexp_count` twin for a constant pattern — identical
    * match count, no per-match allocation; see [[RegexCount]]. */
  def regexp_count_only(c: Column, pattern: String): Column =
    column(RegexCount(expression(c), pattern))

  /** Bloom build aggregate over a LONG key column (use xxhash64 for
    * other types). Returns one BINARY cell. */
  def bloom_agg(key: Column, estimatedItems: Long, numBits: Long): Column =
    column(new BloomFilterAggregate(expression(key),
      Literal(estimatedItems), Literal(numBits)).toAggregateExpression())

  /** Membership probe. `bloom` must be foldable (a `lit` of collected
    * bytes) or a scalar subquery — Catalyst enforces this. */
  def might_contain(bloom: Column, key: Column): Column =
    column(BloomFilterMightContain(expression(bloom), expression(key)))
}
