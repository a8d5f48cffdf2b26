package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.SemanticType

/** Dataset-level profile — Spark equivalent of `DataReport.introduce`
  * (petk/exploration.py:34-68).
  *
  * One aggregation job computes rows + per-column null counts (the
  * `observations.missing` cell total, petk/exploration.py:40) and the
  * EMPTY probes for the type census (petk/exploration.py:45-49 →
  * petk/tools.py:87-91); `columns`/`observations.total` are metadata
  * arithmetic; `memory_usage` is a Spark-side size estimate (byte parity
  * with pandas is impossible and not required — SURVEY.md A7).
  *
  * Result: DataFrame(section, metric, value: Long), the flat form of the
  * reference's (section, metric)-keyed Series (SURVEY.md §1.6). Geo rows
  * (petk/exploration.py:52-66) are appended by the geo module when the
  * frame has a geometry column.
  */
object Introduce {

  private val SEP = "\u0001"

  def apply(df: DataFrame, dataColumns: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._

    val aggs =
      count(lit(1)).as(SEP + "n") +:
        dataColumns.flatMap { c =>
          count(col(c)).as(c + SEP + "count") +:
            Describe.measuredBytes(df.schema(c)).map(_.as(c + SEP + "bytes")).toSeq
        }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val idx = row.schema.fieldNames.zipWithIndex.toMap
    val n = row.getLong(idx(SEP + "n"))
    val counts = dataColumns.map(c => c -> row.getLong(idx(c + SEP + "count"))).toMap
    val missing = dataColumns.foldLeft(0L)((acc, c) => acc + (n - counts(c)))
    val memory = dataColumns.map { c =>
      Describe.memoryEstimate(df.schema(c), n,
        idx.get(c + SEP + "bytes").filterNot(row.isNullAt).map(row.getLong))
    }.foldLeft(0L)(_ + _)

    // type census with EMPTY refinement from the same agg's null counts
    val census = dataColumns
      .map(c => SemanticType.refineEmpty(
        SemanticType.ofField(df.schema(c)), counts(c), n).name.toLowerCase)
      .groupBy(t => t).view.mapValues(_.size.toLong).toMap

    val rows = Seq(
      ("basic", "memory_usage", memory),
      ("basic", "rows", n),
      ("basic", "columns", dataColumns.size.toLong),
      ("observations", "total", n * dataColumns.size),
      ("observations", "missing", missing)) ++
      census.toSeq.sortBy(_._1).map { case (t, k) => ("columns", t, k) }

    rows.toDF("section", "metric", "value")
  }
}
