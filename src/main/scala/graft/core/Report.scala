package graft.core

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Describe, Introduce, Validation}

/** The engine's central abstraction — Spark-native equivalent of the
  * reference's one public class `DataReport` (petk/exploration.py:11).
  *
  * Construction performs (lazily, as Catalyst projections that fold into
  * the scan):
  *  1. schema assert — every schema column must exist
  *     (petk/exploration.py:19-20);
  *  2. row-key stamping — the reference relies on the pandas index renamed
  *     to 'index' (petk/exploration.py:16); Spark rows have no stable
  *     identity, so the caller names a key column, or one is synthesized
  *     (see [[Report.apply]]);
  *  3. null normalization — canonical sentinels [null, NaN, 'null', '']
  *     plus per-column schema extras become SQL NULL
  *     (petk/exploration.py:27-29, petk/constants.py:11), type-filtered the
  *     way pandas `.replace` silently no-ops on type-mismatched sentinels.
  *
  * Unlike the eager reference, nothing runs until an entry point is called;
  * `describe`/`validate` memoize per column like the reference
  * (petk/exploration.py:73-75, 84-86).
  */
final class Report private (
    /** Normalized data including the `index` key column. */
    val df: DataFrame,
    val schema: Map[String, ColumnRules],
    /** Columns of the original data (excludes the stamped key). */
    val dataColumns: Seq[String],
    approximate: Boolean) {

  import Report.KeyCol

  private var describeCache: ListMap[String, Describe.ColumnProfile] = ListMap.empty
  private var validateCache: ListMap[String, Validation.ColumnChecks] = ListMap.empty

  /** Dataset-level profile (petk/exploration.py:34-68): one row per
    * (section, metric) with a Long value. One aggregation job. */
  def introduce(): DataFrame = Introduce(df, dataColumns)

  /** Per-column statistics (petk/exploration.py:70-77). All uncached
    * columns are profiled together ([[Describe.profile]]): codegen-sized
    * chunks of one no-grouping aggregation in one action, then, in exact
    * mode, one frequency table for every column that feeds distinct
    * counts, percentiles and mad (approximate mode reads its sketches off
    * the first action and runs one dependent mad aggregation instead);
    * results are memoized per column (petk/exploration.py:73-75). */
  def describe(columns: Seq[String] = Nil): Seq[Describe.ColumnProfile] = {
    val cols = findColumns(columns)
    val missing = cols.filterNot(describeCache.contains)
    if (missing.nonEmpty) {
      val fresh = Describe.profile(df, missing, approximate)
      describeCache = describeCache ++ fresh.map(p => p.column -> p)
    }
    cols.map(describeCache(_))
  }

  /** `describe` shaped as a long DataFrame (column, statistic, value) with
    * values rendered to strings — the engine-level result sink (SURVEY.md
    * §1.6). Typed access: use [[describe]]. */
  def describeDF(columns: Seq[String] = Nil): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    describe(columns)
      .flatMap(p => p.stats.map { case (k, v) => (p.column, k, Report.render(v)) })
      .toDF("column", "statistic", "value")
  }

  /** Schema-driven validation (petk/exploration.py:80-126): lazy findings
    * DataFrame (column, index, function, notes), ordered by
    * (column, index, function) like the reference (petk/exploration.py:
    * 116-124). Every requested row-local rule (accepted, range,
    * bounding_box) of every requested column runs in ONE scan of `df`
    * ([[Validation.scan]]); only geospatial and sliver keep their own
    * branches. Each column's rules are memoized. */
  def validate(columns: Seq[String] = Nil, verbose: Boolean = false): DataFrame = {
    val cols = findColumns(columns)
    cols.filter(schema.contains).filterNot(validateCache.contains).foreach { c =>
      validateCache += c -> Validation.checksFor(df, KeyCol, c, schema(c))
    }
    val findings = Validation.findings(df, KeyCol, cols.flatMap(validateCache.get))
    // notes as the final tiebreak: the reference sorts by (column, index,
    // function) only (petk/exploration.py:120-122), but rows sharing all
    // three keys (possible with non-unique row keys) need a total order
    // for deterministic output. The sort goes AFTER the verbose join —
    // Spark does not preserve sort order through a shuffle join, while the
    // reference's pandas join keeps left order (petk/exploration.py:139-141).
    val joined =
      if (verbose) findings.join(df, Seq(KeyCol), "left")
      else findings
    joined.orderBy(col("column"), col("index"), col("function"), col("notes"))
  }

  /** Driver-side nested-dict render of describe results
    * (petk/exploration.py:143-162) — the one place collect() is correct:
    * results are KBs. */
  def describeAsMap(columns: Seq[String] = Nil): Map[String, Map[String, Any]] =
    describe(columns).map(p => p.column -> (p.stats: Map[String, Any])).toMap

  /** Nested-dict render of validation findings keyed
    * column -> index -> function -> notes, the as_dict shape of the
    * reference's (column, index, function) MultiIndex
    * (petk/exploration.py:120-124, 143-162). */
  def validateAsMap(columns: Seq[String] = Nil): Map[String, Map[Any, Map[String, String]]] =
    validate(columns).collect()
      .groupBy(_.getString(0))
      .view.mapValues(
        _.groupBy(_.get(1)).view.mapValues(
          _.map(r => r.getString(2) -> r.getString(3)).toMap).toMap)
      .toMap

  /** petk/exploration.py:128-137 — default-all + missing assert. */
  private def findColumns(columns: Seq[String]): Seq[String] = {
    if (columns.isEmpty) dataColumns
    else {
      val missing = columns.filterNot(dataColumns.contains)
      require(missing.isEmpty, s"Column(s) ${missing.mkString(", ")} not in data")
      columns
    }
  }
}

object Report {
  /** Name of the row-key column in findings, matching the reference's
    * renamed pandas index (petk/exploration.py:16). */
  val KeyCol = "index"

  /** Canonical null sentinels (petk/constants.py:11). None/NaN are handled
    * structurally; these are the value sentinels. */
  val NullSentinels: Seq[String] = Seq("null", "")

  /** Wrap a DataFrame.
    * @param key name of an existing column giving stable row identity; when
    *   None a key is synthesized with monotonically_increasing_id(), which
    *   is only stable within one materialized plan — callers that need
    *   cross-action stability should persist() the wrapped df or pass a key.
    */
  def apply(
      data: DataFrame,
      schema: Map[String, ColumnRules] = Map.empty,
      key: Option[String] = None,
      approximate: Boolean = false): Report = {
    val cols = data.columns.toSeq
    schema.keys.foreach { c =>
      require(cols.contains(c),
        s"Invalid input schema, column $c does not exist in data") // exploration.py:20
    }
    // A data column literally named "index" would be silently clobbered by
    // the stamped key (the reference's pandas index and an 'index' column
    // coexist; one flat namespace here cannot) — reject unless that column
    // IS the chosen key.
    require(!cols.contains(KeyCol) || key.contains(KeyCol),
      s"Column '$KeyCol' collides with the row-key column stamped by Report; " +
        s"rename it or pass key = Some(\"$KeyCol\")")
    val keyed = key match {
      case Some(k) =>
        require(cols.contains(k), s"Key column $k does not exist in data")
        data.withColumn(KeyCol, col(k))
      case None => data.withColumn(KeyCol, monotonically_increasing_id())
    }
    val normalized = keyed.select(
      col(KeyCol) +: cols.map { c =>
        normalize(col(c), data.schema(c).dataType,
          schema.get(c).map(_.nulls).getOrElse(Nil)): Column
      }.zip(cols).map { case (e, n) => e.as(n) }: _*)
    new Report(normalized, schema, cols, approximate)
  }

  /** Null-normalize one column: canonical sentinels + type-compatible
    * schema extras → SQL NULL (petk/exploration.py:27-29). Type-filtering
    * replicates pandas `.replace`'s silent no-op on mismatched sentinels
    * (SURVEY.md §1.3); Spark additionally distinguishes NaN from null — we
    * canonicalize NaN to null so every downstream aggregate skips it
    * exactly as pandas skips NaN. */
  private[graft] def normalize(c: Column, dt: DataType, extras: Seq[Any]): Column = {
    def compat(v: Any): Boolean = (v, dt) match {
      case (_: String, StringType) => true
      case (_: java.lang.Number, _: NumericType) => true
      case (_: Boolean, BooleanType) => true
      case _ => false
    }
    val es = extras.filter(v => v != null && compat(v))
    dt match {
      case StringType =>
        val bad = NullSentinels ++ es
        when(c.isin(bad: _*), lit(null).cast(dt)).otherwise(c)
      case DoubleType | FloatType =>
        val base = when(isnan(c), lit(null).cast(dt)).otherwise(c)
        if (es.isEmpty) base else when(c.isin(es: _*), lit(null).cast(dt)).otherwise(base)
      case _ if es.nonEmpty =>
        when(c.isin(es: _*), lit(null).cast(dt)).otherwise(c)
      case _ => c
    }
  }

  /** petk/exploration.py:164 — result frames drop rows whose values are
    * all null before they are returned. */
  def dropAllNullRows(df: DataFrame): DataFrame = df.na.drop("all")

  private[graft] def render(v: Any): String = v match {
    case null => null
    case d: Double => d.toString
    case other => other.toString
  }
}
