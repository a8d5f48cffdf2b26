package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Bounds, ColumnRules}

/** Schema-driven validation rules — Spark equivalents of
  * petk/validation.py, producing per-row findings
  * `(column, index, function, notes)` (petk/exploration.py:107-114).
  * Rules never collect, so findings stay distributed and Catalyst pushes
  * the predicates into the scan.
  *
  * Two execution shapes:
  *  - ROW-LOCAL rules (accepted, range, bounding_box) are [[RowRule]]s —
  *    a condition and a note over one row — and every requested one, over
  *    every column, runs in ONE scan ([[findings]]): one filter on "any
  *    rule fires", then each surviving row explodes into one finding per
  *    rule that fires on it. k rules cost one scan, not k.
  *  - WIDENED rules (geospatial, sliver) parse geometry on a repartitioned
  *    source, and sliver aggregates per key, so each keeps its own
  *    branch, unioned with the scan's findings.
  *
  * Dispatch is an explicit registry rather than the reference's
  * module-introspection (`np.intersect1d(schema keys, module callables)`,
  * petk/exploration.py:88-91) — same rule names, no reflection.
  */
object Validation {

  def findingsSchema(keyType: DataType): StructType = StructType(Seq(
    StructField("column", StringType, nullable = false),
    StructField("index", keyType),
    StructField("function", StringType, nullable = false),
    StructField("notes", StringType)))

  /** A row-local rule: a row where `cond` is true yields the finding
    * (column, index, function, notes). */
  final case class RowRule(column: String, function: String, cond: Column, notes: Column)

  /** One column's rules by execution shape: its row-local rules and its
    * widened branches' findings. */
  final case class ColumnChecks(rowLocal: Seq[RowRule], widened: Seq[DataFrame])

  /** One column's rules (petk/exploration.py:101-114). */
  def checksFor(df: DataFrame, keyCol: String, column: String, rules: ColumnRules): ColumnChecks = {
    val widened = Seq.newBuilder[DataFrame]
    // implicit validity audit for the column literally named `geometry`
    // (petk/exploration.py:95-99 — runs whenever that column has a schema
    // entry, regardless of which rules it declares)
    if (column == "geometry") widened += Geo.geospatial(df, keyCol, column)
    rules.sliver.foreach(p => widened += Geo.sliver(df, keyCol, column, p))
    ColumnChecks(
      rules.accepted.map(vs => accepted(column, vs)).toSeq ++
        rules.range.map(b => range(column, b)) ++
        rules.boundingBox.map(b => Geo.boundingBox(column, b)),
      widened.result())
  }

  /** All findings of `checks` over `df`: every row-local rule in one
    * [[scan]], unioned with the widened branches; an empty frame of
    * [[findingsSchema]] when there is nothing to check. */
  def findings(df: DataFrame, keyCol: String, checks: Seq[ColumnChecks]): DataFrame = {
    val rowLocal = checks.flatMap(_.rowLocal)
    val parts = (if (rowLocal.isEmpty) Nil else Seq(scan(df, keyCol, rowLocal))) ++
      checks.flatMap(_.widened)
    if (parts.isEmpty)
      df.sparkSession.createDataFrame(
        df.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        findingsSchema(df.schema(keyCol).dataType))
    else parts.reduce(_ unionByName _)
  }

  /** Findings of row-local `rules` in ONE pass over `df`: keep rows where
    * any rule fires, then explode each into one finding per firing rule.
    * A condition is evaluated again only on the kept rows. A null
    * condition never fires, in the filter and the explode alike. */
  def scan(df: DataFrame, keyCol: String, rules: Seq[RowRule]): DataFrame = {
    val hits = rules.map(r => when(r.cond, struct(
      lit(r.column).as("column"), col(keyCol).as("index"),
      lit(r.function).as("function"), r.notes.as("notes"))))
    df.filter(rules.map(_.cond).reduce(_ || _))
      .select(explode(filter(array(hits: _*), _.isNotNull)).as("f"))
      .select("f.*")
  }

  /** petk/validation.py:47-51 — value outside the accepted list. pandas
    * `~series.isin(values)` is TRUE for NaN, so the reference flags nulls
    * too; `!coalesce(isin, false)` replicates that exactly. */
  def accepted(column: String, values: Seq[Any]): RowRule =
    RowRule(column, "accepted",
      !coalesce(col(column).isin(values: _*), lit(false)),
      lit("Value not within the accepted range"))

  /** petk/validation.py:36-45 + petk/tools.py:104-110 — per-row bound
    * check. Nulls never compare true, matching pandas (NaN < x is False).
    * Deviation (documented, SURVEY.md A47): the reference's truthiness test
    * also disables a bound equal to 0; we only disable absent bounds. */
  def range(column: String, bounds: Bounds): RowRule = {
    val c = col(column)
    // lower-bound check first, matching the reference's if/elif order
    var notes: Column = when(lit(false), lit(null).cast(StringType))
    bounds.lower.foreach(l => notes = notes.when(c < lit(l), lit("Value is less than the lower bound")))
    bounds.upper.foreach(u => notes = notes.when(c > lit(u), lit("Value is greater than the upper bound")))
    RowRule(column, "range", notes.isNotNull, notes)
  }

  /** DATA-DRIVEN fence validation: rows outside the Tukey fences
    * [q1 − k·IQR, q3 + k·IQR] — [[range]]'s cousin where the bounds come
    * from the column's own quartiles instead of the schema (the screen a
    * profiler suggests when no domain bounds exist; k = 1.5 is the
    * boxplot convention, 3.0 the "far out" variant).
    *
    * Two passes total: exact type-7 quartiles via the distributed
    * bracket chain ([[Stats.exactQuantiles]] — bounded driver traffic,
    * never a whole-column percentile buffer), whose two doubles come
    * back as literals into one filtered scan — so the fence predicate
    * pushes into the column scan like any static range rule. Returns
    * (keyCol, value, side, fence_lo, fence_hi), nulls excluded. */
  def iqrOutliers(df: DataFrame, keyCol: String, column: String,
      k: Double = 1.5): DataFrame = {
    val Seq(q1, q3) = Stats.exactQuantiles(df, column, Seq(0.25, 0.75))
    val iqr = q3 - q1
    val lo = q1 - k * iqr
    val hi = q3 + k * iqr
    val v = col(column).cast("double")
    df.filter(v.isNotNull && (v < lo || v > hi))
      .select(col(keyCol), v.as("value"),
        when(v < lo, lit("below")).otherwise(lit("above")).as("side"),
        lit(lo).as("fence_lo"), lit(hi).as("fence_hi"))
  }
}
