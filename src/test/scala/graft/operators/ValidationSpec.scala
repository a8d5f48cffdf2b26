package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.core.{Bounds, ColumnRules, Report}

// (Report companion helpers under test: validateAsMap, dropAllNullRows)

class ValidationSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("status", StringType),
    StructField("amount", DoubleType)))

  private def rep(rows: Seq[Row], rules: Map[String, ColumnRules]) =
    Report(spark.createDataFrame(rows.asJava, schema), schema = rules, key = Some("id"))

  test("accepted flags values outside the list AND nulls (validation.py:47-51)") {
    val r = rep(Seq(
      Row(1L, "O", 1.0), Row(2L, "X", 1.0), Row(3L, null, 1.0)),
      Map("status" -> ColumnRules(accepted = Some(Seq("O", "F")))))
    val out = r.validate().collect()
    assert(out.map(_.getLong(1)).toSeq === Seq(2L, 3L)) // null flagged like pandas ~isin
    assert(out.forall(_.getString(3) === "Value not within the accepted range"))
    assert(out.forall(_.getString(2) === "accepted"))
  }

  test("range messages match the reference text, lower checked first (tools.py:104-110)") {
    val r = rep(Seq(
      Row(1L, "O", -5.0), Row(2L, "O", 50.0), Row(3L, "O", 150.0), Row(4L, "O", null)),
      Map("amount" -> ColumnRules(range = Some(Bounds(Some(0.0), Some(100.0))))))
    val out = r.validate().collect()
    assert(out.length === 2) // null never compares (pandas NaN comparisons false)
    assert(out(0).getLong(1) === 1L)
    assert(out(0).getString(3) === "Value is less than the lower bound")
    assert(out(1).getLong(1) === 3L)
    assert(out(1).getString(3) === "Value is greater than the upper bound")
  }

  test("bound = 0 stays active (documented deviation from the reference truthiness bug)") {
    val r = rep(Seq(Row(1L, "O", -1.0), Row(2L, "O", 1.0)),
      Map("amount" -> ColumnRules(range = Some(Bounds(Some(0.0), None)))))
    assert(r.validate().count() === 1)
  }

  test("findings ordered by (column, index, function) (exploration.py:116-124)") {
    val r = rep(Seq(Row(2L, "X", 999.0), Row(1L, "X", -1.0)),
      Map(
        "status" -> ColumnRules(accepted = Some(Seq("O"))),
        "amount" -> ColumnRules(range = Some(Bounds(Some(0.0), Some(100.0))))))
    val out = r.validate().collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq === Seq(("amount", 1L), ("amount", 2L), ("status", 1L), ("status", 2L)))
  }

  test("verbose joins findings back to source rows by index (exploration.py:139-141)") {
    val r = rep(Seq(Row(1L, "X", 42.0)),
      Map("status" -> ColumnRules(accepted = Some(Seq("O")))))
    val out = r.validate(verbose = true).collect()
    assert(out.length === 1)
    val row = out.head
    assert(row.getAs[Double]("amount") === 42.0) // source columns present
    assert(row.getAs[String]("notes") === "Value not within the accepted range")
  }

  test("validateAsMap renders the nested column -> index -> function -> notes dict") {
    val r = rep(Seq(Row(1L, "X", -5.0), Row(2L, "O", 1.0)),
      Map(
        "status" -> ColumnRules(accepted = Some(Seq("O"))),
        "amount" -> ColumnRules(range = Some(Bounds(Some(0.0), None)))))
    val m = r.validateAsMap()
    assert(m("status")(1L)("accepted") === "Value not within the accepted range")
    assert(m("amount")(1L)("range") === "Value is less than the lower bound")
    assert(!m.contains("id"))
  }

  test("dropAllNullRows drops rows whose values are all null (exploration.py:164)") {
    val df = spark.createDataFrame(Seq(
      Row(null, null), Row("a", null)).asJava,
      StructType(Seq(StructField("x", StringType), StructField("y", StringType))))
    assert(Report.dropAllNullRows(df).count() === 1)
  }

  test("columns without rules produce no findings; unmatched rules yield empty frame") {
    val r = rep(Seq(Row(1L, "O", 1.0)),
      Map("status" -> ColumnRules(accepted = Some(Seq("O")))))
    assert(r.validate().count() === 0)
  }

  test("iqrOutliers: Tukey fences from exact quartiles, sides labeled, nulls out") {
    val s = spark
    import s.implicits._
    // 1..11 plus two planted extremes; type-7 quartiles of the 13 values:
    // q1 = 3, q3 = 9 -> IQR 6, fences [-6, 18]
    val df = ((1 to 11).map(_.toDouble) ++ Seq(-50.0, 50.0))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val out = Validation.iqrOutliers(df, "id", "v", 1.5).collect()
      .map(r => r.getDouble(1) -> r.getString(2)).toMap
    assert(out === Map(-50.0 -> "below", 50.0 -> "above"), out.toString)
    // nulls never flag
    val withNull = spark.createDataFrame(Seq(
      Row(1L, 1.0), Row(2L, null), Row(3L, 100.0), Row(4L, 2.0), Row(5L, 3.0)).asJava,
      StructType(Seq(StructField("id", LongType), StructField("v", DoubleType))))
    val flagged = Validation.iqrOutliers(withNull, "id", "v", 1.5).collect()
    assert(flagged.forall(!_.isNullAt(1)))
  }

  private val geoSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("status", StringType),
    StructField("amount", DoubleType),
    StructField("geometry", StringType)))

  private val geoRules = Map(
    "status" -> ColumnRules(accepted = Some(Seq("O", "F"))),
    "amount" -> ColumnRules(range = Some(Bounds(Some(0.0), Some(100.0)))),
    "geometry" -> ColumnRules(boundingBox = Some((0.0, 10.0, 0.0, 10.0))))

  /** The per-rule shape the single scan replaced: one filter + project
    * per row-local rule, unioned with the widened branches. */
  private def perRuleUnion(r: Report, rules: Map[String, ColumnRules]): DataFrame = {
    val checks = rules.toSeq.map { case (c, cr) => Validation.checksFor(r.df, Report.KeyCol, c, cr) }
    (checks.flatMap(_.rowLocal).map(rr => r.df.filter(rr.cond).select(
      lit(rr.column).as("column"), col(Report.KeyCol).as("index"),
      lit(rr.function).as("function"), rr.notes.as("notes"))) ++
      checks.flatMap(_.widened)).reduce(_ unionByName _)
  }

  test("one-scan validate equals the per-rule union: several rules on one row, a geometry column, duplicate keys") {
    val bowtie = "POLYGON ((0 0, 2 2, 0 2, 2 0, 0 0))"
    val r = Report(spark.createDataFrame(Seq(
      Row(1L, "O", 50.0, "POINT (5 5)"), // clean
      Row(2L, "X", 150.0, "POINT (20 20)"), // accepted + range + bounding_box
      Row(3L, null, -1.0, null), // accepted (null) + range + geospatial (null)
      Row(4L, "F", null, bowtie), // geospatial only
      Row(5L, "Z", 10.0, "POINT (1 1)"), // accepted, on a duplicated key
      Row(5L, "O", 101.0, "POINT (30 1)"), // range + bounding_box, same key
      Row(6L, "O", 100.0, "NOT A GEOMETRY")).asJava, geoSchema), // geospatial only
      schema = geoRules, key = Some("id"))
    val order = Seq("column", "index", "function", "notes").map(col)
    val expected = perRuleUnion(r, geoRules)
    val out = r.validate().collect().toSeq
    assert(out === expected.orderBy(order: _*).collect().toSeq)
    assert(out.map(x => (x.getString(0), x.getLong(1), x.getString(2))).count(_._2 == 2L) === 3)
    assert(out.exists(x => x.getString(2) == "geospatial" && x.getLong(1) == 4L))
    val verbose = r.validate(verbose = true)
    assert(verbose.collect().toSeq ===
      expected.join(r.df, Seq(Report.KeyCol), "left").select(verbose.columns.map(col): _*)
        .orderBy(order: _*).collect().toSeq)
    assert(r.validate(Seq("amount")).collect().toSeq ===
      perRuleUnion(r, geoRules.filter(_._1 == "amount")).orderBy(order: _*).collect().toSeq)
  }

  test("verbose validate with k row-local rules scans the source twice, not k + 1 times") {
    val dir = java.nio.file.Files.createTempDirectory("validate-scans")
    try {
      val path = s"$dir/t"
      spark.createDataFrame(Seq(Row(1L, "X", 150.0), Row(2L, "O", 1.0)).asJava, schema)
        .write.parquet(path)
      val r = Report(spark.read.parquet(path), key = Some("id"), schema = Map(
        "status" -> ColumnRules(accepted = Some(Seq("O"))),
        "amount" -> ColumnRules(range = Some(Bounds(Some(0.0), Some(100.0))))))
      val verbose = r.validate(verbose = true)
      val scans = verbose.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }
      assert(scans.size === 2, verbose.queryExecution.sparkPlan.treeString)
      assert(verbose.count() === 2)
    } finally graft.sources.ScratchDir.deleteTree(dir)
  }
}
