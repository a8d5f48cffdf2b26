package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.SliverParams
import graft.functions.GeoFunctions._

/** Geospatial profiling + validation operators (SURVEY.md A13–A17,
  * A48–A50), over WKT geometry columns.
  *
  * All dataset-level metrics fold into single aggregations; the row-local
  * `bounding_box` rule is a [[Validation.RowRule]] that joins the other
  * row-local rules' single scan.
  */
object Geo {

  /** The geospatial `introduce()` section (petk/exploration.py:52-66):
    * crs, centroid_location, bounds, 3d_shapes + geometry-type census.
    * Returns DataFrame(section, metric, value: String). One agg job plus
    * one tiny census agg. reverse-geocoding of the centroid is out of
    * scope (network egress) — the value is the "x, y" coordinate string
    * fallback (petk/tools.py:79-80).
    *
    * The CRS comes from the geometry column's metadata when stamped
    * (SemanticType.asGeometry / CrsKey) — the schema-borne equivalent of
    * the reference reading `df.crs` (petk/exploration.py:57) — falling
    * back to the `crs` parameter.
    *
    * `geocode` is the pluggable reverse-geocoder hook (the reference
    * optionally calls geopy's Nominatim over HTTP, petk/tools.py:72-78);
    * when absent — or when a supplied geocoder throws — the value is the
    * "x, y" coordinate fallback the reference itself emits on geocoding
    * failure (petk/tools.py:79-80). */
  def introduceGeo(df: DataFrame, geomCol: String, crs: String = "epsg:4326",
      geocode: Option[(Double, Double) => String] = None): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val effectiveCrs = graft.core.SemanticType.crsOf(df, geomCol).getOrElse(crs)
    val g = col(geomCol)
    // ONE WKT parse per row (stProfile), ONE job: per-geometry-type partial
    // aggregates (a handful of rows — the geometry-type domain) combined on
    // the driver give the global centroid/bounds/3d metrics AND the type
    // census without a second pass over the data.
    val perType = df.select(stProfile(g).as("p"))
      .groupBy(col("p.gtype").as("t"))
      .agg(
        sum("p.cx").as("sx"), sum("p.cy").as("sy"), count("p.cx").as("n"),
        min("p.minx").as("minx"), min("p.miny").as("miny"),
        max("p.maxx").as("maxx"), max("p.maxy").as("maxy"),
        sum(when(col("p.has_z"), 1L).otherwise(0L)).as("zs"),
        count(lit(1)).as("cnt"))
      .collect()
    def cmb(f: org.apache.spark.sql.Row => Option[Double],
        red: (Double, Double) => Double): Double =
      perType.flatMap(r => f(r)).reduceOption(red).getOrElse(Double.NaN)
    def d(r: org.apache.spark.sql.Row, c: String): Option[Double] =
      if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[Double](c))
    val nTot = perType.map(_.getAs[Long]("n")).sum
    val cx = cmb(d(_, "sx"), _ + _) / nTot
    val cy = cmb(d(_, "sy"), _ + _) / nTot
    val zs = perType.map(_.getAs[Long]("zs")).sum
    // geometry-type census, pluralized lowercase (petk/exploration.py:64-66)
    val census = perType.filter(_.get(0) != null)
      .map(r => (r.getString(0).toLowerCase + "s", r.getAs[Long]("cnt")))
      .sortBy(_._1)
    val location = geocode.flatMap(f =>
      try Option(f(cx, cy)) catch { case _: Exception => None })
      .getOrElse(s"$cx, $cy")
    val rows = Seq(
      ("geospatial", "crs", effectiveCrs),
      ("geospatial", "centroid_location", location),
      ("geospatial", "bounds",
        s"[${cmb(d(_, "minx"), math.min)}, ${cmb(d(_, "miny"), math.min)}, " +
          s"${cmb(d(_, "maxx"), math.max)}, ${cmb(d(_, "maxy"), math.max)}]"),
      ("geospatial", "3d_shapes", zs.toString)) ++
      census.map { case (t, n) => ("geospatial", t, n.toString) }
    rows.toDF("section", "metric", "value")
  }

  /** Numeric bounds of the dataset (petk/exploration.py:59 total_bounds)
    * as a typed one-row frame — oracle-checkable against plain arithmetic
    * when the geometry is constructed from numeric columns. */
  def totalBounds(df: DataFrame, geomCol: String): DataFrame = {
    val e = col("e")
    df.select(stEnvelope(col(geomCol)).as("e")) // one UDF eval per row
      .agg(
        min(element_at(e, 1)).as("minx"), min(element_at(e, 2)).as("miny"),
        max(element_at(e, 3)).as("maxx"), max(element_at(e, 4)).as("maxy"))
  }

  /** `geospatial` validity rule (petk/validation.py:30-34): invalid
    * geometries -> JTS validity explanation; nulls -> "Null geometry". */
  def geospatial(df: DataFrame, keyCol: String, column: String): DataFrame = {
    val g = col(column)
    // single WKT parse per row: stValidity carries (valid, reason) in one
    // struct, so failing rows don't re-parse for the explanation. The
    // JTS parse is the expensive per-row step and fuses into the scan —
    // widen a narrow (few-file) source first (Parallelize; safe: the
    // rule is a row-local flag, no FP aggregation downstream)
    Parallelize.cpuBound(df.select(col(keyCol), g))
      .select(col(keyCol), g, stValidity(g).as("_v"))
      .filter(g.isNull || !coalesce(col("_v.valid"), lit(false)))
      .select(
        lit(column).as("column"),
        col(keyCol).as("index"),
        lit("geospatial").as("function"),
        when(g.isNull, lit("Null geometry"))
          .otherwise(col("_v.reason")).as("notes"))
  }

  /** `bounding_box` rule (petk/validation.py:11-19): rows whose geometry
    * does NOT intersect the box (geopandas `.cx` slice semantics). */
  def boundingBox(column: String, box: (Double, Double, Double, Double)): Validation.RowRule = {
    val (xmin, xmax, ymin, ymax) = box
    require(xmin < xmax && ymin < ymax, "Invalid bounding box given")
    val g = col(column)
    // SINGLE WKT parse per row: the intersection test is one UDF eval
    // (see [[graft.functions.GeoFunctions.stEnvelopeIntersectsBox]] for
    // why the compositional envelope forms pay four parses here).
    Validation.RowRule(column, "bounding_box",
      g.isNotNull && !envelopeIntersects(g, xmin, xmax, ymin, ymax),
      lit(s"Geometry outside of bbox($xmin, $xmax, $ymin, $ymax)"))
  }

  /** `sliver` rule (petk/validation.py:53-60): explode multi-part
    * geometries, flag polygon parts with metric area below the threshold
    * (linestrings: metric length), count slivers per original row.
    * The metric comes from a true forward reprojection to
    * `params.projectedEpsg` when the code's family is vendored
    * (Web Mercator / UTM / MTM — graft.functions.Projections), matching
    * the reference's `to_crs` step; unknown codes fall back to the
    * documented equirectangular approximation. */
  def sliver(df: DataFrame, keyCol: String, column: String,
      params: SliverParams): DataFrame = {
    // ONE WKT parse per row (stSliverMetrics): the old chain — stDump
    // parse + re-serialize, then per exploded part a type probe plus a
    // conditional area/length re-parse — paid 3-4 JTS parses per part;
    // the fused UDF computes every part's metric (polygon → area,
    // linestring → length, point → NaN which never passes the
    // threshold, tools.py:117-118) from the same in-memory geometry.
    // The parse + reprojection fuse into the scan — widen a narrow
    // source first (Parallelize; safe: row-local flags + an integer
    // count per key).
    Parallelize.cpuBound(df.select(col(keyCol), col(column)))
      .select(col(keyCol),
        explode(stSliverMetrics(col(column), lit(params.projectedEpsg))).as("m"))
      .filter(col("m") < params.threshold)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(
        lit(column).as("column"),
        col(keyCol).as("index"),
        lit("sliver").as("function"),
        concat(col("n").cast("string"), lit(" slivers found within geometry")).as("notes"))
  }
}
