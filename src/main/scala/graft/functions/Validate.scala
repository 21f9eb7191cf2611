package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Data-quality primitives: the reference's validation core re-expressed
  * as pure `Column` combinators (codegen-friendly, no UDFs).
  *
  * Semantics mirror `src/utils/data_validation.py:38-61`
  * (`_col_invalid_expr`): a value is INVALID when it fails an anchored
  * regex, with configurable null handling (`accept_null`) and
  * empty-string handling (`treat_empty_as_invalid`). Null-token set and
  * numeric/bool/date regex classes follow `src/utils/routing.py:34-45`.
  */
object Validate {

  /** Null-token vocabulary (routing.py DEFAULT_NULL_TOKENS). */
  val defaultNullTokens: Seq[String] = Seq(
    "#NO VALUE", "#NO_VALUE", "#no_value", "na", "n/a", "none", "null",
    "nan", "missing", "")

  // Regex classes (routing.py:34-41). Identical strings are valid Java
  // regex and DuckDB/RE2 regex — verified in tests.
  val ReInt = "^[+-]?\\d+$"
  val ReEuNumeric = "^[+-]?(\\d{1,3}(\\.\\d{3})*|\\d+)(,\\d+)?$"
  val ReUsNumeric = "^[+-]?(\\d{1,3}(,\\d{3})*|\\d+)(\\.\\d+)?$"
  val ReBool = "^(true|false|t|f|yes|no|y|n|0|1)$"
  val ReIsoDate = "^\\d{4}-\\d{2}-\\d{2}$"
  val ReTime = "^\\d{2}:\\d{2}:\\d{2}$"

  /** The six classes above by their `graft.plans.PatternClass` kind. */
  private val classKinds: Map[String, String] = Map(
    ReInt -> "int", ReEuNumeric -> "eu_numeric", ReUsNumeric -> "us_numeric",
    ReBool -> "bool", ReIsoDate -> "iso_date", ReTime -> "time")

  /** `c rlike pat`, NULL for NULL. One of the six class constants runs
    * as a byte scan (`graft.plans.PatternClass`, value-equal to the
    * regex; PatternClassParitySpec fuzzes it); any other pattern runs
    * `rlike` unchanged. */
  def matches(c: Column, pat: String): Column =
    classKinds.get(pat).fold(c.rlike(pat))(graft.plans.GraftFunctions.pattern_class(c, _))

  /** True when `c` is INVALID against anchored `pat`.
    * Mirrors `_col_invalid_expr` exactly:
    *  - cast to string first so any dtype validates;
    *  - regex miss => invalid; null => invalid unless `acceptNull`;
    *  - `emptyIsInvalid` forces "" invalid even if the pattern allows it.
    */
  def invalidExpr(c: Column, pat: String, acceptNull: Boolean = false,
                  emptyIsInvalid: Boolean = true): Column = {
    val x = c.cast("string")
    val ok = coalesce(matches(x, pat), lit(acceptNull))
    if (emptyIsInvalid) coalesce(x === "", lit(false)) || !ok
    else !ok
  }

  /** OR-fold of `invalidExpr` across a pattern map; patterns for columns
    * absent from `df` are skipped (invalid_row_mask semantics,
    * data_validation.py:64-89). */
  def invalidRowMask(df: DataFrame, patterns: Seq[(String, String)],
                     acceptNulls: Set[String] = Set.empty,
                     emptyIsInvalid: Boolean = true): Column =
    patterns.collect {
      case (c, p) if df.columns.contains(c) =>
        invalidExpr(col(c), p, acceptNulls.contains(c), emptyIsInvalid)
    }.reduceOption(_ || _).getOrElse(lit(false))

  /** The patterns whose column is in `df`; refuses when none is, since
    * a report over no column has no shape. */
  private def present(df: DataFrame, patterns: Seq[(String, String)])
      : Seq[(String, String)] = {
    val in = patterns.filter { case (c, _) => df.columns.contains(c) }
    if (in.isEmpty) throw new IllegalArgumentException(
      s"no pattern column (${patterns.map(_._1).mkString(", ")}) is in the " +
        s"frame (${df.columns.mkString(", ")})")
    in
  }

  /** 1-row DataFrame of `<col>__invalid_count` per pattern column
    * (per_column_invalid_counts, data_validation.py:92-120). */
  def perColumnInvalidCounts(df: DataFrame, patterns: Seq[(String, String)],
                             acceptNulls: Set[String] = Set.empty,
                             emptyIsInvalid: Boolean = true): DataFrame = {
    val aggs = present(df, patterns).map { case (c, p) =>
      sum(invalidExpr(col(c), p, acceptNulls.contains(c), emptyIsInvalid)
        .cast("long")).as(s"${c}__invalid_count")
    }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Distinct offending values per column, capped (invalid_values_by_column,
    * data_validation.py:252-279) — long-form (column, invalid_value). */
  def invalidValuesByColumn(df: DataFrame, patterns: Seq[(String, String)],
                            limitPerCol: Int = 100): DataFrame =
    present(df, patterns).map { case (c, p) =>
      df.filter(invalidExpr(col(c), p))
        .select(lit(c).as("column"), col(c).cast("string").as("invalid_value"))
        .distinct().limit(limitPerCol)
    }.reduce(_ unionByName _)

  /** Split into (valid, invalid) by the row mask. */
  def splitValidInvalid(df: DataFrame, patterns: Seq[(String, String)])
      : (DataFrame, DataFrame) = {
    val mask = invalidRowMask(df, patterns)
    (df.filter(!mask), df.filter(mask))
  }

  /** Normalize placeholder tokens to real nulls (routing.py:43-45 +
    * pipeline read options): trimmed, case-insensitive token match. */
  def normalizePlaceholders(c: Column,
                            tokens: Seq[String] = defaultNullTokens): Column =
    if (tokens.isEmpty) c
    else {
      // Codegen'd native form (graft.plans.PlaceholderNull) of
      //   when(length(trim(c)) <= maxLen &&
      //        lower(trim(c)).isin(tokens...), null).otherwise(c)
      // — byte-equal semantics (the non-ASCII path runs the old
      // expression verbatim; PlaceholderParitySpec fuzzes the
      // equivalence), no per-value lower() allocation. Measured on the
      // 18.8 M-row ingest repair (LaneProbe ingest_ph_variants): the
      // when-form's lower+isin term was ~12.5 s across 22 columns —
      // the single largest term of the typed-repair stage — because
      // most code-like values are short enough to clear the length
      // gate; the native matcher replaces it with one bounded
      // allocation-free byte compare.
      val matched = graft.plans.GraftFunctions.placeholder_null(
        c.cast("string"), tokens)
      // Type-preserving result (round-15 advice): the matcher itself is
      // string-typed, so returning it directly silently re-typed any
      // non-string caller's column. Matched token (or already-null
      // input) -> typed null; otherwise the ORIGINAL column, original
      // type. For string inputs this is byte-identical to the matcher's
      // own output; under codegen the extra branch reads the matcher's
      // null flag, no second evaluation.
      when(matched.isNull, lit(null)).otherwise(c)
    }

  /** European decimal-comma text -> exact decimal (F11; the reference
    * reads money columns with `decimal_comma=True`, pipeline.py:233).
    * `translate`, not `regexp_replace`: a single-char swap needs a
    * char-map lookup, not the regex engine — measured on the ingest
    * bench's 7.79 M-row typed parse, where the money columns run this
    * per row. Semantics identical (both replace EVERY comma; a
    * multi-comma garbage value turns multi-dot and nulls at the cast
    * under either form). */
  def decimalComma(c: Column, precision: Int = 18, scale: Int = 6): Column =
    translate(c.cast("string"), ",", ".").cast(DecimalType(precision, scale))

  /** "0"/"1"/"" -> Boolean (F12; schemas_regex.py:56 SIGNATURE_PRODUCT). */
  def bool01(c: Column): Column =
    when(c === "1", lit(true)).when(c === "0", lit(false)).otherwise(lit(null))

  /** FK-integrity check as data (J4; the reference merely declares the FK,
    * schema.sql:35-38): rows of `child` with no match in `parent`. */
  def fkOrphans(child: DataFrame, parent: DataFrame,
                childKey: String, parentKey: String): DataFrame =
    child.join(parent, child(childKey) === parent(parentKey), "left_anti")

  /** Duplicate groups on a key subset (A15; notebook cell 27: 76 groups on
    * the 15-col business key). */
  def duplicateGroups(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*).count().filter(col("count") > 1)

  /** Whole-row duplicate count (A16; profiling.ipynb:2502). */
  def wholeRowDups(df: DataFrame): Long = df.count() - df.distinct().count()

  /** Built-in placeholder-looking token vocabulary
    * (data_validation.py:363-374 `looks_like_placeholder`). */
  val placeholderVocabulary: Seq[String] = Seq(
    "", "na", "n/a", "null", "none", "nan", "inf", "infinity",
    "unk", "unknown", "not available", "not applicable")

  /** Placeholder-token mining (reference `data_validation.py:287-380`
    * `discover_placeholder_values`): given a long-form frame of invalid
    * values `(file, column, value)`, normalize each token (trim,
    * collapse whitespace, lowercase), aggregate per token across files
    * and columns, and keep tokens that look like placeholders — known
    * vocabulary, caller seeds, symbol-only runs (`#`/`.`/`-`/`_`/`/`),
    * or zero-runs — seen in at least `minFiles` files and `minColumns`
    * columns.
    *
    * Scale shape: one groupBy on the normalized token (tokens are tiny;
    * count-distinct on file/column is map-side combinable); the
    * heuristic runs as a codegen'd filter on the aggregate, which is
    * at most vocabulary-sized. Output: token, n_files, n_columns, n,
    * samples (up to 10 distinct original forms, sorted, comma-joined). */
  def discoverPlaceholders(invalid: DataFrame,
                           fileCol: String = "file",
                           columnCol: String = "column",
                           valueCol: String = "value",
                           minFiles: Int = 1, minColumns: Int = 1,
                           seeds: Seq[String] = Nil): DataFrame = {
    val token = lower(regexp_replace(trim(col(valueCol)), "\\s+", " "))
    val known = (placeholderVocabulary ++ seeds.map(_.trim.toLowerCase)).distinct
    invalid
      .filter(col(valueCol).isNotNull)
      .groupBy(token.as("token"))
      .agg(
        countDistinct(col(fileCol)).as("n_files"),
        countDistinct(col(columnCol)).as("n_columns"),
        count(lit(1)).as("n"),
        array_join(slice(sort_array(collect_set(col(valueCol))), 1, 10), ",")
          .as("samples"))
      .filter(col("n_files") >= minFiles && col("n_columns") >= minColumns)
      .filter(col("token").isin(known: _*) ||
        col("token").rlike("^[#\\.\\-_/\\\\]+$") ||
        col("token").rlike("^0{2,}$"))
      .orderBy("token")
  }
}
