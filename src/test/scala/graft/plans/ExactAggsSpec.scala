package graft.plans

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** MomentsAgg and WeightedPercentileAgg against the Spark aggregates they
  * replace, bit for bit (`doubleToRawLongBits`): every case is a group of
  * one grouped aggregation over 7 round-robin partitions, so each group's
  * partial buffers merge across partitions, and both sides of a
  * comparison run in the same aggregation over the same partitions. */
class ExactAggsSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private def cases(rows: Seq[(String, Any, Any)], vType: DataType): DataFrame =
    spark.createDataFrame(rows.map { case (g, v, f) => Row(g, v, f) }.asJava,
      StructType(Seq(StructField("g", StringType), StructField("v", vType),
        StructField("f", LongType)))).repartition(7)

  private def sameBits(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.size == y.size && x.zip(y).forall { case (p, q) => sameBits(p, q) }
    case _ => false
  }

  private def withLegacyStats[T](legacy: Boolean)(body: => T): T = {
    val key = "spark.sql.legacy.statisticalAggregate"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, legacy.toString)
    try body finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private val momentCases: Seq[(String, Seq[java.lang.Double])] = {
    val rnd = new scala.util.Random(7)
    val inf = Double.PositiveInfinity
    Seq[(String, Seq[Any])](
      "n0" -> Seq(null, null),
      "n1" -> Seq(1.5),
      "n2" -> Seq(1.0, 4.0),
      "n3" -> Seq(1.0, 2.0, 10.0),
      "n4" -> Seq(1.0, 2.0, 3.0, 100.0),
      "constant" -> Seq.fill(6)(3.25),
      "plus_inf" -> Seq(1.0, inf, 2.0),
      "minus_inf" -> Seq(-inf, 1.0, 2.0, 3.0),
      "both_inf" -> Seq(-inf, inf, 5.0),
      "nan" -> Seq(1.0, Double.NaN, 2.0, 3.0),
      "nulls" -> Seq(1.0, null, 2.0, null, 5.0, 0.1),
      "random" -> Seq.fill(400)(rnd.nextGaussian() * 1e3 + 7.0)
    ).map { case (g, vs) => g -> vs.map(v => v.asInstanceOf[java.lang.Double]) }
  }

  for (legacy <- Seq(false, true))
    test(s"MomentsAgg equals var_samp/stddev_samp/skewness/kurtosis bit for bit (legacy = $legacy)") {
      withLegacyStats(legacy) {
        val df = cases(momentCases.flatMap { case (g, vs) => vs.map(v => (g, v, 1L)) }, DoubleType)
        def check(v: Column, label: String): Unit = {
          val rows = df.groupBy("g").agg(MomentsAgg.moments(v).as("m"),
            var_samp(v), stddev_samp(v), skewness(v), kurtosis(v)).collect()
          assert(rows.length === momentCases.size)
          rows.foreach { r =>
            val m = r.getStruct(1)
            assert(m.schema.fieldNames.toSeq === MomentsAgg.Fields)
            (0 until 4).foreach { i =>
              assert(sameBits(m.get(i), r.get(2 + i)),
                s"$label ${r.getString(0)} ${MomentsAgg.Fields(i)}: ${m.get(i)} vs ${r.get(2 + i)}")
            }
          }
        }
        check(col("v"), "double")
        check(floor(col("v")), "bigint") // implicit cast to double, as Spark's
      }
    }

  private val ps = Seq(0.0, 0.05, 0.25, 1.0 / 3, 0.5, 0.75, 0.95, 1.0)

  private def checkPercentiles(df: DataFrame): Unit = {
    val rows = df.groupBy("g").agg(
      WeightedPercentileAgg.weightedPercentile(col("v"), ps, col("f")).as("ours"),
      percentile(col("v"), typedLit(ps), col("f")).as("spark")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(sameBits(r.get(1), r.get(2)), s"group ${r.getString(0)}: ${r.get(1)} vs ${r.get(2)}")
    }
  }

  test("WeightedPercentileAgg equals percentile(v, ps, f) on longs beyond 2^53, duplicates and zero weights") {
    val big = 1L << 53
    val rnd = new scala.util.Random(11)
    checkPercentiles(cases(
      // adjacent longs that share one double: no interpolation between
      // equal doubles unless the longs differ, exactly as Spark decides
      (0 until 9).map(i => ("beyond_2_53", big + i, 1L + i % 3)) ++
        Seq(("huge", Long.MaxValue, 2L), ("huge", Long.MaxValue - 1, 1L), ("huge", Long.MinValue, 3L)) ++
        // the same key on many rows, spread over the partitions
        (0 until 40).map(i => ("dups", (i % 4).toLong, 1L + i % 5)) ++
        Seq(("zero_w", 1L, 0L), ("zero_w", 5L, 2L), ("zero_w", 9L, 0L), ("zero_w", 7L, 1L)) ++
        Seq(("only_zero_w", 3L, 0L)) ++
        Seq(("null_w", 4L, null), ("null_w", 2L, 3L)) ++
        (0 until 300).map(_ => ("random", rnd.nextInt(1000).toLong - 500, 1L + rnd.nextInt(4))),
      LongType))
  }

  test("WeightedPercentileAgg equals percentile(v, ps, f) on doubles with ±Inf, NaN and duplicates") {
    val inf = Double.PositiveInfinity
    val rnd = new scala.util.Random(13)
    checkPercentiles(cases(
      Seq(("inf", -inf, 1L), ("inf", inf, 2L), ("inf", 1.5, 1L), ("inf", -2.0, 3L)) ++
        Seq(("all_inf", inf, 2L), ("all_inf", -inf, 2L)) ++
        Seq(("nan", Double.NaN, 2L), ("nan", 1.0, 1L), ("nan", inf, 1L), ("nan", 3.0, 1L)) ++
        (0 until 40).map(i => ("dups", (i % 3) * 0.1, 1L + i % 2)) ++
        Seq(("single", 2.5, 7L)) ++
        (0 until 300).map(_ => ("random", rnd.nextGaussian(), 1L + rnd.nextInt(3))),
      DoubleType))
  }

  test("WeightedPercentileAgg: all-null input is null, a negative weight throws Spark's error") {
    val nulls = cases(Seq(("g", null, 1L), ("g", null, 2L)), DoubleType)
    val r = nulls.agg(
      WeightedPercentileAgg.weightedPercentile(col("v"), ps, col("f")),
      percentile(col("v"), typedLit(ps), col("f"))).head()
    assert(r.isNullAt(0) && r.isNullAt(1))
    val negative = cases(Seq(("g", 1.0, 1L), ("g", 2.0, -1L)), DoubleType)
    def rootMessage(c: Column): String = {
      var t: Throwable = intercept[Exception](negative.agg(c).collect())
      while (t.getCause != null) t = t.getCause
      t.getMessage
    }
    val ours = rootMessage(WeightedPercentileAgg.weightedPercentile(col("v"), ps, col("f")))
    val theirs = rootMessage(percentile(col("v"), typedLit(ps), col("f")))
    assert(ours.contains("-1") && theirs.contains("-1"), s"$ours / $theirs")
    assert(ours.takeWhile(_ != ']') === theirs.takeWhile(_ != ']'))
  }
}
