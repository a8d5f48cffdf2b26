package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.SliverParams
import graft.functions.GeoFunctions._

class GeoSpec extends SparkSpec {

  private def wkts(rows: (Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.toSeq.toDF("id", "geometry")
  }

  test("validity: bowtie polygon invalid with a self-intersection reason; point valid") {
    val df = wkts(
      (1L, "POLYGON ((0 0, 2 2, 0 2, 2 0, 0 0))"),
      (2L, "POINT (1 1)"))
    val out = df.select(col("id"), stIsValid(col("geometry")).as("v"),
      stIsValidReason(col("geometry")).as("r")).orderBy("id").collect()
    assert(out(0).getBoolean(1) === false)
    assert(out(0).getString(2).toLowerCase.contains("self-intersection"))
    assert(out(1).getBoolean(1) === true)
  }

  test("geospatial rule flags invalid + null geometries with reference messages") {
    val df = wkts((1L, "POLYGON ((0 0, 2 2, 0 2, 2 0, 0 0))"), (2L, null), (3L, "POINT (0 0)"))
    val out = Geo.geospatial(df, "id", "geometry").orderBy("index").collect()
    assert(out.length === 2)
    assert(out(0).getLong(1) === 1L)
    assert(out(1).getLong(1) === 2L)
    assert(out(1).getString(3) === "Null geometry") // petk/validation.py:34
  }

  test("introduce reads crs from column metadata, falling back to the parameter") {
    val df = wkts((1L, "POINT (1 2)"))
    def crsRow(d: org.apache.spark.sql.DataFrame) =
      Geo.introduceGeo(d, "geometry", crs = "epsg:4326")
        .filter(col("metric") === "crs").head().getString(2)
    // unstamped: the parameter
    assert(crsRow(df) === "epsg:4326")
    // stamped: metadata wins (the reference reads df.crs, exploration.py:57)
    val stamped = graft.core.SemanticType.asGeometry(df, "geometry", Some("epsg:2952"))
    assert(graft.core.SemanticType.crsOf(stamped, "geometry") === Some("epsg:2952"))
    assert(crsRow(stamped) === "epsg:2952")
    // the stamp also classifies the column GEOMETRY
    assert(graft.core.SemanticType.ofField(stamped.schema("geometry")) ===
      graft.core.SemanticType.Geometry)
  }

  test("centroid geocoder is pluggable; failures fall back to the coordinate string") {
    val df = wkts((1L, "POINT (2 4)"), (2L, "POINT (4 8)"))
    def loc(d: org.apache.spark.sql.DataFrame) =
      d.filter(col("metric") === "centroid_location").head().getString(2)
    // no geocoder: the reference's own "x, y" fallback (tools.py:79-80)
    assert(loc(Geo.introduceGeo(df, "geometry")) === "3.0, 6.0")
    // plugged geocoder sees the centroid
    assert(loc(Geo.introduceGeo(df, "geometry",
      geocode = Some((x, y) => s"city at $x/$y"))) === "city at 3.0/6.0")
    // a throwing geocoder degrades to the fallback, like the reference
    assert(loc(Geo.introduceGeo(df, "geometry",
      geocode = Some((_, _) => throw new RuntimeException("offline")))) === "3.0, 6.0")
  }

  test("vendored projections match independent fixtures") {
    import graft.functions.Projections
    // Web Mercator: equator/antimeridian and the 45N parallel
    val wm = Projections.webMercator
    assert(math.abs(wm(0, 0)._1) < 1e-6 && math.abs(wm(0, 0)._2) < 1e-6)
    assert(math.abs(wm(180, 0)._1 - 20037508.342789244) < 1e-6)
    assert(math.abs(wm(0, 45)._2 - 5621521.486192066) < 1e-6)
    // UTM 33N (EPSG:32633): the central meridian maps to (500000, k0 * M)
    // where M is the meridian arc — fixture computed by numerical
    // integration of the ellipsoid meridian curvature, independent of the
    // Snyder series implemented here
    val utm = Projections.forEpsg(32633).get
    assert(math.abs(utm(15, 0)._1 - 500000.0) < 1e-9 && math.abs(utm(15, 0)._2) < 1e-9)
    val (e45, n45) = utm(15, 45)
    assert(math.abs(e45 - 500000.0) < 1e-9)
    assert(math.abs(n45 - 4982950.4002265) < 0.001)
    // east-west symmetry about the central meridian
    val (xe, _) = utm(16, 45); val (xw, _) = utm(14, 45)
    assert(math.abs((xe - 500000.0) + (xw - 500000.0)) < 1e-6)
    // MTM zone 10 (EPSG:2952, Toronto): central meridian 79.5W, FE 304800
    val mtm = Projections.forEpsg(2952).get
    assert(math.abs(mtm(-79.5, 0)._1 - 304800.0) < 1e-9 && math.abs(mtm(-79.5, 0)._2) < 1e-9)
    // ~26 km east of the CM at Toronto's latitude stays in-zone and east
    val (mx, my) = mtm(-79.3871, 43.6426)
    assert(mx > 304800.0 && mx < 330000.0)
    assert(my > 4.8e6 && my < 4.9e6) // k0 * meridian arc at ~43.64N
  }

  test("sliver metric uses the true projection: Web Mercator area inflates with latitude") {
    import graft.functions.GeoFunctions.stAreaIn
    val sq = (y: Double) =>
      s"POLYGON ((0 $y, 0.002 $y, 0.002 ${y + 0.002}, 0 ${y + 0.002}, 0 $y))"
    val df = wkts((1L, sq(0.0)), (2L, sq(89.0)))
    val out = df.select(col("id"), stAreaIn(col("geometry"), lit(3857)).as("a"))
      .orderBy("id").collect().map(_.getDouble(1))
    assert(out(0) > 4.5e4 && out(0) < 5.5e4) // ~ (222.6 m)^2 at the equator
    assert(out(1) > 2.0e6 && out(1) < 4.0e6) // 1/cos(89) stretching north-south
    assert(out(1) > out(0) * 40)
    // unknown EPSG falls back to the equirectangular approximation
    val eq = df.select(stAreaIn(col("geometry"), lit(99999)).as("a")).head().getDouble(0)
    assert(eq > 4.0e4 && eq < 5.5e4)
  }

  test("envelope/bounds math matches the coordinates") {
    val df = wkts((1L, "POINT (3 4)"), (2L, "POLYGON ((0 1, 2 1, 2 5, 0 5, 0 1))"))
    val b = Geo.totalBounds(df, "geometry").head()
    assert((b.getDouble(0), b.getDouble(1), b.getDouble(2), b.getDouble(3)) === ((0.0, 1.0, 3.0, 5.0)))
  }

  test("bounding_box rule uses envelope-intersection (.cx) semantics, not containment") {
    val df = wkts(
      (1L, "POINT (5 5)"), // inside
      (2L, "POINT (20 20)"), // outside
      (3L, "POLYGON ((9 9, 11 9, 11 11, 9 11, 9 9))")) // straddles the edge -> intersects
    val out = Validation.scan(df, "id", Seq(Geo.boundingBox("geometry", (0.0, 10.0, 0.0, 10.0)))).collect()
    assert(out.map(_.getLong(1)).toSeq === Seq(2L))
    assert(out.head.getString(3) === "Geometry outside of bbox(0.0, 10.0, 0.0, 10.0)")
  }

  test("bounding_box: null and unparseable WKT are never flagged (single-eval UDF keeps the null-envelope drop semantics)") {
    val df = wkts(
      (1L, null),
      (2L, "NOT A GEOMETRY"),
      (3L, "POINT (20 20)")) // genuinely outside
    val out = Validation.scan(df, "id", Seq(Geo.boundingBox("geometry", (0.0, 10.0, 0.0, 10.0)))).collect()
    assert(out.map(_.getLong(1)).toSeq === Seq(3L))
  }

  test("sliver: linestrings use metric LENGTH, unparseable WKT yields no findings") {
    val df = wkts(
      (1L, "LINESTRING (0 0, 0.001 0)"), // ~111 m at the equator -> sliver under 1e4
      (2L, "LINESTRING (0 0, 1 0)"), // ~111 km -> not a sliver
      (3L, "NOT A GEOMETRY"))
    val out = Geo.sliver(df, "id", "geometry", SliverParams(3857, 1e4)).collect()
    assert(out.map(_.getLong(1)).toSeq === Seq(1L))
    assert(out.head.getString(3) === "1 slivers found within geometry")
  }

  test("bounding_box rejects an invalid box") {
    val e = intercept[IllegalArgumentException](
      Geo.boundingBox("geometry", (10.0, 0.0, 0.0, 10.0)))
    assert(e.getMessage.contains("Invalid bounding box"))
  }

  test("sliver rule explodes multi-part geometries and counts slivers per row") {
    // two tiny squares + one big square in a multipolygon at the equator
    val tiny = "((0 0, 0.001 0, 0.001 0.001, 0 0.001, 0 0))"
    val tiny2 = "((1 0, 1.001 0, 1.001 0.001, 1 0.001, 1 0))"
    val big = "((0 10, 1 10, 1 11, 0 11, 0 10))"
    val df = wkts(
      (1L, s"MULTIPOLYGON ($tiny, $tiny2, $big)"),
      (2L, s"MULTIPOLYGON ($big)"))
    val out = Geo.sliver(df, "id", "geometry", SliverParams(3857, 1e6)).collect()
    assert(out.length === 1)
    assert(out.head.getLong(1) === 1L)
    assert(out.head.getString(3) === "2 slivers found within geometry")
  }

  test("points are never slivers (tools.py:117-118)") {
    val df = wkts((1L, "POINT (0 0)"))
    assert(Geo.sliver(df, "id", "geometry", SliverParams(3857, 1e12)).count() === 0)
  }

  test("geo introduce section: census pluralizes lowercase type names") {
    val df = wkts((1L, "POINT (1 2)"), (2L, "POINT (3 4)"),
      (3L, "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"))
    val rows = Geo.introduceGeo(df, "geometry").collect()
      .map(r => (r.getString(1), r.getString(2))).toMap
    assert(rows("points") === "2")
    assert(rows("polygons") === "1")
    assert(rows("crs") === "epsg:4326")
    assert(rows("3d_shapes") === "0")
    assert(rows("bounds") === "[0.0, 0.0, 3.0, 4.0]")
  }
}
