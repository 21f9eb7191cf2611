package graft.quality

import graft.functions.Validate
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Dataset profiling as single-pass distributed aggregations — the Spark
  * owner of what the reference splits between `src/utils/
  * dataset_profiling.py` and driver-side Python loops.
  *
  * Scale note: every report here is ONE aggregation over the data (or one
  * groupBy of bounded cardinality). The reference's per-unique-value
  * Python loop (`entry_error_proportions`, dataset_profiling.py:773-960)
  * becomes a vectorized when-chain, so 100 TB profiling is a normal
  * shuffle-light agg, never a driver loop.
  */
object Profiler {

  /** A9: per-column null counts, 1 row. */
  def nullCounts(df: DataFrame): DataFrame =
    df.agg(
      (count(lit(1)) - count(col(df.columns.head))).as(s"${df.columns.head}__nulls"),
      df.columns.tail.map(c => (count(lit(1)) - count(col(c))).as(s"${c}__nulls")): _*)

  /** A10/A11: distinct counts per column; `approx` uses HLL++
    * (approx_count_distinct) for the 100 TB path, exact uses
    * count(distinct) for oracle-checkable results. */
  def distinctCounts(df: DataFrame, approx: Boolean = false): DataFrame = {
    def d(c: String): Column =
      if (approx) approx_count_distinct(col(c)).as(s"${c}__n_unique")
      else countDistinct(col(c)).as(s"${c}__n_unique")
    df.agg(d(df.columns.head), df.columns.tail.map(d): _*)
  }

  /** A10 gate form: run the HLL++ sketch (the 100 TB path of
    * `distinctCounts(approx = true)`) side-by-side with the exact count
    * in ONE aggregation pass, and emit, per column, the exact count plus
    * a boolean "sketch landed within `tolPct`%" flag. The sketch itself
    * cannot hash-match a different engine's sketch, but this CAN be
    * oracled: the exact counts are deterministic and the tolerance flag
    * is a deterministic fact of the data (HLL++ is a deterministic
    * algorithm — no RNG), so DuckDB asserts the exact counts and TRUE.
    * rsd = 0.02 gives ~2% typical error; tolPct = 5 leaves margin. */
  def distinctAccuracy(df: DataFrame, cols: Seq[String], tolPct: Int = 5): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(countDistinct(col(c)).as(s"${c}__n_unique"),
        approx_count_distinct(col(c), 0.02).as(s"${c}__approx"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    one.select(cols.flatMap { c =>
      Seq(col(s"${c}__n_unique"),
        (abs(col(s"${c}__approx") - col(s"${c}__n_unique")) * 100 <=
          col(s"${c}__n_unique") * tolPct).as(s"${c}__hll_ok"))
    }: _*)
  }

  /** A12: value frequency distribution with a deterministic order. */
  def valueCounts(df: DataFrame, c: String): DataFrame =
    df.groupBy(col(c)).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col(c).asc)

  /** A11: long-form column description (data dictionary): one row per
    * column with dtype, null count, distinct count. Built from a single
    * wide agg, melted on the driver (bounded by #columns, not rows). */
  def columnDescription(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val aggs = df.columns.flatMap(c => Seq(
      (count(lit(1)) - count(col(c))).as(s"n__$c"),
      countDistinct(col(c)).as(s"u__$c")))
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val types = df.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    df.columns.toSeq.map { c =>
      (c, types(c), row.getAs[Long](s"n__$c"), row.getAs[Long](s"u__$c"))
    }.toDF("column", "dtype", "null_count", "n_unique")
  }

  /** A13: the reference's entry-error taxonomy (entry_error_proportions)
    * as one vectorized pass: classify each value of string column `c`
    * into its lexical class, count + proportion per class. */
  def errorTaxonomy(df: DataFrame, c: String): DataFrame = {
    val x = trim(col(c).cast("string"))
    val cls = when(col(c).isNull, "null")
      .when(x === "", "empty")
      .when(lower(x).isin(Validate.defaultNullTokens.filter(_.nonEmpty)
        .map(_.toLowerCase): _*), "null_token")
      .when(Validate.matches(x, Validate.ReInt), "int")
      .when(Validate.matches(x, Validate.ReUsNumeric), "us_numeric")
      .when(Validate.matches(x, Validate.ReEuNumeric), "eu_numeric")
      .when(Validate.matches(lower(x), Validate.ReBool), "bool")
      .when(Validate.matches(x, Validate.ReIsoDate), "iso_date")
      .when(Validate.matches(x, Validate.ReTime), "time")
      .otherwise("other")
    df.select(cls.as("value_class"))
      .groupBy("value_class").agg(count(lit(1)).as("n"))
      .withColumn("proportion", col("n") / sum("n").over(Window.partitionBy()))
      .orderBy(desc("n"), col("value_class").asc)
  }

  /** Profile-report artifact (reporting.py:36-71 analog): one JSON file
    * describing every table — row count, schema, per-column null/distinct
    * counts, and the cross-table column-presence matrix. Stats come from
    * one aggregation per table; JSON shaping is driver-side. */
  def writeReport(dfs: Seq[(String, DataFrame)], path: String): Unit = {
    def q(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    val tables = dfs.map { case (name, df) =>
      val desc = columnDescription(df).collect()
      val cols = desc.map { r =>
        s"${q(r.getString(0))}: {" +
          s""""dtype": ${q(r.getString(1))}, "null_count": ${r.getLong(2)}, """ +
          s""""n_unique": ${r.getLong(3)}}"""
      }.mkString("{", ", ", "}")
      s"${q(name)}: {\"n_rows\": ${df.count()}, \"columns\": $cols}"
    }.mkString("{", ", ", "}")
    val presence = schemaPresence(dfs).collect()
      .map(r => s"""[${q(r.getString(0))}, ${q(r.getString(1))}, ${r.getBoolean(2)}]""")
      .mkString("[", ", ", "]")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      s"""{"tables": $tables, "column_presence": $presence}""")
  }

  /** Numeric column summary: min / max / mean / exact p50 / exact p90
    * per column, ONE pass over the data (all aggregates in a single
    * projection, melted to long form afterwards). Mean uses the
    * decimal-sum contract (order-independent) and percentiles are exact
    * interpolated (`percentile`), so every value is engine-portable
    * after 6-decimal rounding. At 100 TB you'd swap `percentile` for
    * `approx_percentile` — same plan shape, bounded memory. */
  def numericSummary(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap(c => Seq(
      min(col(c)).as(s"${c}__mn"),
      max(col(c)).as(s"${c}__mx"),
      (sum(col(c).cast(DecimalType(18, 4))).cast("double") / count(col(c)))
        .as(s"${c}__mean"),
      expr(s"percentile($c, 0.5)").as(s"${c}__p50"),
      expr(s"percentile($c, 0.9)").as(s"${c}__p90")))
    val one = df.agg(aggs.head, aggs.tail: _*)
    val structs = cols.map(c => struct(
      lit(c).as("column"),
      round(col(s"${c}__mn"), 6).as("mn"),
      round(col(s"${c}__mx"), 6).as("mx"),
      round(col(s"${c}__mean"), 6).as("mean"),
      round(col(s"${c}__p50"), 6).as("p50"),
      round(col(s"${c}__p90"), 6).as("p90")))
    one.select(explode(array(structs: _*)).as("s")).select("s.*")
      .orderBy("column")
  }

  /** Profile report in the REFERENCE'S artifact shape
    * (`transactions_profile_report.json`; reporting.py:36-71): numbered
    * keys `01_number_samples` (total rows), `02_missing_cols_per_file`
    * (rendering of presence rows with any absence), `03_intersection_
    * columns` / `04_union_columns` (sorted), `05_profiles` (per file:
    * file, path, rows, n_cols, columns, dtypes, delimiter, format,
    * error). */
  def writeReferenceReport(dfs: Seq[(String, String, DataFrame)],
                           path: String, delimiter: String = "|"): Unit = {
    def q(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    def arr(ss: Seq[String]): String = ss.map(q).mkString("[", ", ", "]")
    val colSets = dfs.map { case (_, _, df) => df.columns.toSet }
    val union = colSets.reduce(_ union _).toSeq.sorted
    val inter = colSets.reduce(_ intersect _).toSeq.sorted
    val missing = union.filterNot(inter.contains).map { c =>
      val absent = dfs.collect { case (n, _, df) if !df.columns.contains(c) => n }
      s"$c: missing in ${absent.mkString(",")}"
    }
    val profiles = dfs.map { case (name, srcPath, df) =>
      val dtypes = df.schema.fields
        .map(f => s"${q(f.name)}: ${q(f.dataType.simpleString)}")
        .mkString("{", ", ", "}")
      s"""{"file": ${q(name)}, "path": ${q(srcPath)}, "rows": ${df.count()}, """ +
        s""""n_cols": ${df.columns.length}, "columns": ${arr(df.columns.toSeq)}, """ +
        s""""dtypes": $dtypes, "delimiter": ${q(delimiter)}, """ +
        s""""format": "csv", "error": "None"}"""
    }.mkString("[", ", ", "]")
    val json =
      s"""{"01_number_samples": ${dfs.map(_._3.count()).sum}, """ +
        s""""02_missing_cols_per_file": ${q(missing.mkString("; "))}, """ +
        s""""03_intersection_columns": ${arr(inter)}, """ +
        s""""04_union_columns": ${arr(union)}, """ +
        s""""05_profiles": $profiles}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
  }

  /** U2: column-presence matrix across a set of named schemas
    * (compare_schemas, dataset_profiling.py:438-469). Metadata-only —
    * no data is scanned. */
  /** Heavy-hitter report for a join/grouping key: the k hottest keys
    * with exact counts and their corpus share — the diagnostic that
    * decides WHICH keys need the salted paths (functions/Skew) before
    * a 100 TB job hits a straggler. One groupBy (map-side combinable)
    * plus a driver-scalar total; share is an exact integer ratio
    * (bit-identical across engines, no rounding needed). Null keys are
    * excluded — they route to the null-handling operators, and engines
    * disagree on null ordering. */
  def heavyHitters(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    val nonNull = df.filter(col(keyCol).isNotNull)
    val total = nonNull.count()
    nonNull.groupBy(keyCol).agg(count(lit(1)).as("n"))
      .withColumn("share",
        col("n").cast("double") / lit(total.toDouble))
      .orderBy(desc("n"), col(keyCol))
      .limit(k)
  }

  def schemaPresence(dfs: Seq[(String, DataFrame)]): DataFrame = {
    val spark = dfs.head._2.sparkSession
    import spark.implicits._
    val allCols = dfs.flatMap(_._2.columns).distinct.sorted
    allCols.map { c =>
      (c, dfs.map { case (n, d) => n -> d.columns.contains(c) }.toMap)
    }.flatMap { case (c, m) => m.map { case (t, p) => (c, t, p) } }
      .toDF("column", "table", "present")
      .orderBy("column", "table")
  }
}
