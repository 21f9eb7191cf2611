package graft

import graft.functions.Text
import graft.plans.GraftFunctions
import graft.sources.MediaFixture
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Equivalence contracts for the codegen'd custom expressions: each must
  * be byte-identical to its composable (lambda) form — they exist purely
  * to move the same computation inside whole-stage codegen. */
class CustomExprSpec extends SparkSpec {
  import spark.implicits._

  test("word_shingles equals array_distinct(transform(...)) on real docs") {
    val docs = Tables.documents(spark, sf)
    val lambda = docs.select(col("doc_id"),
      Text.shinglesFromTokens(Text.tokens(col("text")), 3).as("s"))
    val fast = docs.select(col("doc_id"),
      GraftFunctions.word_shingles(Text.tokens(col("text")), 3).as("s"))
    assert(lambda.exceptAll(fast).count() === 0)
    assert(fast.exceptAll(lambda).count() === 0)
  }

  test("word_shingles edge cases: short docs, duplicates, empty") {
    val out = Seq("a b c a b c a b", "a b", "")
      .toDF("t")
      .select(GraftFunctions.word_shingles(Text.tokens(col("t")), 3).as("s"))
      .collect().map(_.getSeq[String](0))
    assert(out(0) === Seq("a b c", "b c a", "c a b")) // distinct, first-occurrence order
    assert(out(1) === Seq.empty)
    assert(out(2) === Seq.empty)
  }

  test("graft_dot equals the sequential lambda fold, including order") {
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0))).toDF("a", "b")
    val lambda = df.select(aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)).collect().head.getDouble(0)
    val fast = df.select(GraftFunctions.graft_dot(col("a"), col("b")))
      .collect().head.getDouble(0)
    assert(fast === lambda)
    assert(fast === 32.0)
    // on real embeddings: bit-identical across all pairs of first 20
    val e = Tables.embeddings(spark, sf).limit(20)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val pairs = e.as("x").join(e.as("y"), col("x.vec_id") < col("y.vec_id"))
    val diffs = pairs.select(
      (GraftFunctions.graft_dot(col("x.v"), col("y.v")) -
        aggregate(zip_with(col("x.v"), col("y.v"), (a, b) => a * b),
          lit(0.0), (acc, x) => acc + x)).as("d"))
      .filter(col("d") =!= 0.0).count()
    assert(diffs === 0)
  }

  test("graft_srp_sig equals the composed round/when/shift formula") {
    import graft.operators.Similarity
    val (band, bits, dim) = (3, 6, 64)
    val planes = Similarity.srpPlanes(band, bits, dim)
    val e = Tables.embeddings(spark, sf).limit(50)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    // the exact pre-round-4 expression tree, rebuilt inline
    val composed = (0 until bits).map { i =>
      when(round(GraftFunctions.graft_dot(col("v"), typedLit(planes(i))), 6) >= 0,
        lit(1L << (bits - 1 - i))).otherwise(lit(0L))
    }.reduce(_ + _)
    val diffs = e.select(
        (GraftFunctions.srp_sig(col("v"), band, bits, dim) - composed).as("d"))
      .filter(col("d") =!= 0L).count()
    assert(diffs === 0)
    // and from SQL
    GraftFunctions.register(spark)
    val one = spark.sql(
      "SELECT graft_srp_sig(array(1.0d, -2.0d), 0, 4, 2) AS s").collect().head
    assert(one.getLong(0) >= 0L && one.getLong(0) < 16L)
  }

  test("custom expressions work from SQL") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
        |       word_shingles(array('x','y','z'), 2) AS s""".stripMargin)
      .collect().head
    assert(r.getDouble(0) === 11.0)
    assert(r.getSeq[String](1) === Seq("x y", "y z"))
  }

  // One small frame that feeds every graft function, and each function
  // twice: as a Column helper and as SQL text over the same columns.
  private val rows = Seq(
    (1L, "Alpha beta, GAMMA beta!", Seq("a", "b", "c", "a"), "0123456789abcdef",
      Seq(1.0, -2.0, 0.5), Seq(4.0, 5.0, -6.0), 3L, 9L, "kept",
      MediaFixture.wav(1, 8000, 16, 600), MediaFixture.bmp(8, 6)),
    (2L, "x1 y2 z3", Seq("x"), "fedcba9876543210",
      Seq(0.0, 0.0, 1.0), Seq(1.0, 1.0, 1.0), 0L, 1L, " N/A ",
      MediaFixture.wav(2, 16000, 16, 40), Array[Byte](1, 2, 3)),
    (3L, null, null, null, null, null, 7L, 7L, null, null, null))
  private val cols =
    Seq("id", "s", "toks", "hex", "a", "b", "x", "y", "raw", "wav", "bmp")
  private def frame(s: SparkSession): DataFrame =
    s.createDataFrame(rows).toDF(cols: _*)
  /** Column names, scalar-function rows, bloom build + probe rows. */
  private type Results = (Seq[String], Seq[Row], Seq[Row])

  private def helpers: Seq[Column] = Seq(
    GraftFunctions.rolling_hash(col("s")),
    GraftFunctions.word_shingles(col("toks"), 2),
    GraftFunctions.graft_dot(col("a"), col("b")),
    GraftFunctions.graft_tokens(col("s")),
    GraftFunctions.hex_window(col("hex"), 3, 15),
    GraftFunctions.token_window_hash(col("toks"), 2),
    GraftFunctions.morton_key(col("x"), col("y")),
    GraftFunctions.srp_sig(col("a"), 1, 4, 3),
    GraftFunctions.placeholder_null(col("raw"), Seq("n/a", "null")),
    GraftFunctions.pattern_class(col("raw"), "bool"),
    GraftFunctions.media_meta(col("wav")),
    GraftFunctions.regexp_count_only(col("s"), "[a-z]+"),
    GraftFunctions.pcm16_features(col("wav")),
    GraftFunctions.pcm16_bands(col("wav")),
    GraftFunctions.pcm16_segments(col("wav"), 64, 100L),
    GraftFunctions.bmp_channel_sums(col("bmp"), 2),
    GraftFunctions.bmp_ahash(col("bmp")))
  private val sqlText = Seq(
    "rolling_hash(s)",
    "word_shingles(toks, 2)",
    "graft_dot(a, b)",
    "graft_tokens(s)",
    "graft_hex_window(hex, 3, 15)",
    "token_window_hash(toks, 2)",
    "morton_key(x, y)",
    "graft_srp_sig(a, 1, 4, 3)",
    "graft_placeholder_null(raw, 'n/a', 'null')",
    "graft_pattern_class(raw, 'bool')",
    "graft_media_meta(wav)",
    "graft_regexp_count(s, '[a-z]+')",
    "graft_pcm16_features(wav)",
    "graft_pcm16_bands(wav)",
    "graft_pcm16_segments(wav, 64, 100L)",
    "graft_bmp_channel_sums(bmp, 2)",
    "graft_bmp_ahash(bmp)")

  /** Helper results on `s`: the scalar functions row by row, then the
    * bloom pair (build over x, probe x and x + 1000 with the collected
    * filter). */
  private def viaHelpers(s: SparkSession): Results = {
    val scalar = frame(s).select(helpers: _*)
    val bloom = frame(s).agg(GraftFunctions.bloom_agg(col("x"), 100L, 4096L))
    val bits = bloom.collect().head.getAs[Array[Byte]](0)
    val probe = frame(s).select(
      GraftFunctions.might_contain(lit(bits), col("x")),
      GraftFunctions.might_contain(lit(bits), col("x") + 1000L))
    (scalar.columns.toSeq ++ bloom.columns, scalar.collect().toSeq,
      bloom.collect().toSeq ++ probe.collect())
  }

  /** The same results from SQL text on `s` (which must have the
    * functions registered). */
  private def viaSql(s: SparkSession): Results = {
    frame(s).createOrReplaceTempView("graft_fn_input")
    val scalar = s.sql(sqlText.mkString("SELECT ", ", ", " FROM graft_fn_input"))
    val bloom = s.sql(
      "SELECT graft_bloom_agg(x, 100L, 4096L) FROM graft_fn_input")
    val filter = "(SELECT graft_bloom_agg(x, 100L, 4096L) FROM graft_fn_input)"
    val probe = s.sql(s"SELECT graft_might_contain($filter, x), " +
      s"graft_might_contain($filter, x + 1000L) FROM graft_fn_input")
    (scalar.columns.toSeq ++ bloom.columns, scalar.collect().toSeq,
      bloom.collect().toSeq ++ probe.collect())
  }

  test("every Column helper runs on a fresh session with no registration " +
      "and equals its SQL-text form") {
    val registered = spark.newSession()
    GraftFunctions.register(registered)
    val expected = viaSql(registered)
    assert(helpers.size === sqlText.size)
    assert(helpers.size + 2 === GraftFunctions.table.size)
    val got = viaHelpers(spark.newSession())
    assert(got._1 === expected._1)
    assert(got._2 === expected._2)
    assert(got._3 === expected._3)
    // the data reaches every kernel: no function is all-null
    expected._2.head.toSeq.zip(sqlText).foreach { case (v, f) =>
      assert(v != null, s"$f returned null on the first row")
    }
    assert(expected._3.drop(1).map(_.getBoolean(0)) === Seq(true, true, true))
  }

  test("Column helpers from 8 threads on one fresh session agree") {
    val registered = spark.newSession()
    GraftFunctions.register(registered)
    val expected = viaSql(registered)
    val fresh = spark.newSession()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val tasks = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Results] {
          def call(): Results = viaHelpers(fresh)
        })
      }
      tasks.foreach(t => assert(t.get() === expected))
    } finally pool.shutdown()
  }
}
