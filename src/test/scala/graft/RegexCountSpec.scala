package graft

import org.apache.spark.sql.functions._

/** Round-18 optimization guard: graft_regexp_count (count-only
  * matcher, graft.plans.RegexCount) must count EXACTLY like Spark's
  * regexp_count (= size(regexp_extract_all(s, p, 0))) for every
  * production pattern and the edge shapes — null, empty, non-ASCII,
  * case-insensitive alternations, overlapping-adjacent matches. */
class RegexCountSpec extends SparkSpec {

  private val corpus = Seq(
    "the cat and the dog went to the market and it was good",
    "der Hund und die Katze sind nicht zu Hause ich bin ein Mann",
    "THE AND OF TO IN IS THAT IT FOR WAS the and of",
    "le chat... et, la; maison! est? dans: une rue",
    "reach me at 12-345-555-6789 or mail u7@corp.example.com from 10.0.7.8",
    "", "   ", "a", "...",
    "世界你好 mixed 中文 text the and",
    "sßİı unicode éèê edge üöä",
    "aaaa", "a.a.a.a.", "#%<>|~#%<>|~", "1 22 333 4444 55555",
    null
  )

  private val patterns = graft.functions.Text.stopwords.map(_._2) ++ Seq(
    "[a-z]+|[0-9]|[^a-z0-9\\s]", // subwordCount
    "[.,;:!?]",                  // punctCount
    "[a-z0-9]+",                 // quality signals word count
    "[#%<>|~]",                  // symbol class
    "a*",                        // zero-width-capable pattern
    "(?i)\\bthe\\b",
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" // email-ish
  )

  test("graft_regexp_count equals built-in regexp_count on all patterns") {
    import spark.implicits._
    val df = corpus.toDF("t")
    patterns.foreach { p =>
      val mismatch = df.select(
          col("t"),
          regexp_count(col("t"), lit(p)).as("builtin"),
          graft.plans.GraftFunctions.regexp_count_only(col("t"), p).as("graft"))
        .filter(!(col("builtin") <=> col("graft")))
        .collect()
      assert(mismatch.isEmpty,
        s"pattern <$p>: ${mismatch.mkString("; ")}")
    }
  }

  test("count-only result type and null behavior match the built-in") {
    import spark.implicits._
    val df = Seq("x", null).toDF("t").select(
      regexp_count(col("t"), lit("x")).as("b"),
      graft.plans.GraftFunctions.regexp_count_only(col("t"), "x").as("g"))
    assert(df.schema("b").dataType == df.schema("g").dataType)
    val rows = df.collect()
    assert(rows(0).getInt(0) == 1 && rows(0).getInt(1) == 1)
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1))
  }

  test("langId over documents is unchanged by the count-only matcher") {
    // end-to-end guard on the real q17 input: the decision tree over
    // count-only signals equals the one over built-in regexp_count
    import graft.functions.Text
    val docs = Tables.documents(spark, sf).limit(200)
    val oldCounts = docs.select(col("doc_id"),
      Text.langIdFrom(col("text").rlike(Text.cjkPattern),
        regexp_count(col("text"), lit(Text.stopwords.toMap.apply("en"))),
        regexp_count(col("text"), lit(Text.stopwords.toMap.apply("de"))),
        regexp_count(col("text"), lit(Text.stopwords.toMap.apply("fr"))),
        regexp_count(col("text"), lit(Text.stopwords.toMap.apply("es"))))
        .as("lang"))
    val newCounts = docs.select(col("doc_id"),
      Text.langIdFrom(col("text").rlike(Text.cjkPattern),
        Text.stopwordHits(col("text"), "en"),
        Text.stopwordHits(col("text"), "de"),
        Text.stopwordHits(col("text"), "fr"),
        Text.stopwordHits(col("text"), "es")).as("lang"))
    assert(oldCounts.exceptAll(newCounts).isEmpty &&
      newCounts.exceptAll(oldCounts).isEmpty)
  }
}
