package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Focused tests for the r18 aggregation-only bracket narrowing
  * ([[Packing.bracketRowsByAgg]]): exact covering rows under forced
  * multi-round recursion, double edge values, long/double families,
  * clamped magnitudes, and end-to-end parity of Stats.exactQuantiles
  * and [[Packing.weightedQuantiles]] with Spark's own `percentile`
  * aggregate. */
class BracketAggSpec extends SparkSpec {
  import spark.implicits._

  /** Reference covering rows computed naively on the driver. */
  private def reference(rows: Seq[(Double, Long)], needed: Seq[Long]):
      Map[Long, (Double, Long, Long)] = {
    val sorted = rows.sortWith((a, b) =>
      if (a._1.isNaN) false
      else if (b._1.isNaN) true
      else a._1 < b._1)
    var cum = 0L
    val cov = scala.collection.mutable.Map.empty[Long, (Double, Long, Long)]
    sorted.foreach { case (v, c) =>
      needed.foreach { pos =>
        if (pos >= cum && pos < cum + c) cov(pos) = (v, cum, c) }
      cum += c
    }
    cov.toMap
  }

  private def check(rows: Seq[(Double, Long)], needed: Seq[Long],
      nBuckets: Int, collectCap: Int): Unit = {
    val df = rows.toDF("_v", "_cnt").withColumn("_gi", lit(0))
      .localCheckpoint()
    val finite = rows.map(_._1).filter(v => !v.isNaN && !v.isInfinite)
    val half = Double.MaxValue / 2
    val clamp = (x: Double) => math.max(-half, math.min(half, x))
    val bounds =
      if (finite.isEmpty) Map.empty[Int, (Double, Double)]
      else Map(0 -> (clamp(finite.min), clamp(finite.max)))
    val got = Packing.bracketRowsByAgg(df, "_gi", "_v", "_cnt",
      Map(0 -> needed), bounds, nBuckets = nBuckets, collectCap = collectCap)
      .getOrElse(0, Array.empty)
    val ref = reference(rows, needed)
    needed.foreach { pos =>
      val hit = got.filter(r => r._2 <= pos && r._2 + r._3 > pos)
      assert(hit.length == 1, s"pos $pos covered by ${hit.length} rows")
      val (v, cum, c) = ref(pos)
      val h = hit.head
      assert((h._1 == v || (h._1.isNaN && v.isNaN)) && h._2 == cum && h._3 == c,
        s"pos $pos: got $h expected ($v, $cum, $c)")
    }
  }

  test("forced deep recursion matches the naive reference") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 500).map(_ => rnd.nextDouble() * 1000)
      .distinct.map(v => (v, (rnd.nextInt(9) + 1).toLong))
    val n = rows.map(_._2).sum
    val needed = Seq(0L, n / 4, n / 2, 3 * n / 4, n - 1).distinct
    check(rows, needed, nBuckets = 4, collectCap = 1)
  }

  test("double edges (-Inf, +Inf, NaN) resolve analytically in order") {
    val rows = Seq((Double.NegativeInfinity, 3L), (-5.0, 2L), (0.0, 1L),
      (7.5, 4L), (Double.PositiveInfinity, 2L), (Double.NaN, 5L))
    val n = rows.map(_._2).sum // 17
    check(rows, 0L until n, nBuckets = 4, collectCap = 2)
  }

  test("heavy ties and clamped magnitudes beyond ±MaxValue/2") {
    val rows = Seq((-1.7e308, 5L), (-0.95e308, 1L), (3.0, 100L),
      (3.0000000000001, 1L), (1.2e308, 2L), (1.7e308, 3L))
    val n = rows.map(_._2).sum
    check(rows, Seq(0L, 4L, 5L, 6L, 50L, 105L, 107L, 108L, n - 1),
      nBuckets = 4, collectCap = 1)
  }

  test("long family through a long-typed frequency frame") {
    val rows = Seq((1L, 4L), (2L, 1L), (500L, 2L), (Long.MaxValue - 1, 1L),
      (Long.MaxValue, 1L))
    val df = rows.toDF("_v", "_cnt").withColumn("_gi", lit(0))
      .localCheckpoint()
    val got = Packing.bracketRowsByAgg(df, "_gi", "_v", "_cnt",
      Map(0 -> Seq(0L, 4L, 6L, 7L, 8L)),
      Map(0 -> (1.0, Long.MaxValue.toDouble)), nBuckets = 4, collectCap = 1)
      .getOrElse(0, Array.empty)
    // Long.MaxValue-1 and Long.MaxValue share a double image: both
    // covering rows carry that double; counts and cums stay exact
    val byPos = Seq(0L, 4L, 6L, 7L, 8L).map(p =>
      p -> got.find(r => r._2 <= p && r._2 + r._3 > p).get).toMap
    assert(byPos(0L) == ((1.0, 0L, 4L)))
    assert(byPos(4L) == ((2.0, 4L, 1L)))
    assert(byPos(6L) == ((500.0, 5L, 2L)))
    assert(byPos(7L)._1 == Long.MaxValue.toDouble && byPos(7L)._3 == 1L)
    assert(byPos(8L)._1 == Long.MaxValue.toDouble && byPos(8L)._3 == 1L)
    assert(byPos(7L)._2 + byPos(7L)._3 == byPos(8L)._2)
  }

  test("multi-group dispatch keeps groups independent") {
    val a = (1 to 200).map(i => (i.toDouble, 2L))
    val b = (1 to 50).map(i => (i * 100.0, 1L))
    val df = (a.map { case (v, c) => (0, v, c) } ++
        b.map { case (v, c) => (1, v, c) })
      .toDF("_gi", "_v", "_cnt").localCheckpoint()
    val got = Packing.bracketRowsByAgg(df, "_gi", "_v", "_cnt",
      Map(0 -> Seq(0L, 399L), 1 -> Seq(0L, 25L, 49L)),
      Map(0 -> (1.0, 200.0), 1 -> (100.0, 5000.0)),
      nBuckets = 8, collectCap = 2)
    val g0 = got(0); val g1 = got(1)
    assert(g0.exists(r => r._1 == 1.0 && r._2 == 0L && r._3 == 2L))
    assert(g0.exists(r => r._1 == 200.0 && r._2 == 398L && r._3 == 2L))
    assert(g1.exists(r => r._1 == 100.0 && r._2 == 0L))
    assert(g1.exists(r => r._1 == 2600.0 && r._2 == 25L))
    assert(g1.exists(r => r._1 == 5000.0 && r._2 == 49L))
  }

  test("exactQuantiles matches Spark's percentile aggregate end to end") {
    val rnd = new scala.util.Random(11)
    val df = (1 to 5000).map(_ => math.floor(rnd.nextGaussian() * 500) / 7)
      .toDF("x")
    val probs = Seq(0.0, 0.01, 0.25, 0.5, 0.75, 0.99, 1.0)
    val got = Stats.exactQuantiles(df, "x", probs)
    val exp = df.agg(percentile(col("x"), typedLit(probs))).head()
      .getAs[scala.collection.Seq[Double]](0)
    assert(got.zip(exp).forall { case (g, e) => g == e },
      s"got $got expected $exp")
  }

  test("quantiles over infinite values match Spark's percentile bit for bit") {
    val rnd = new scala.util.Random(13)
    val probs = Seq(0.0, 0.0002, 0.1, 0.25, 0.4, 0.5, 0.75, 0.9998, 1.0)
    // ±Infinity endpoints around more finite distinct values than the
    // collect cap (exactQuantiles narrows from finite bounds), and a
    // column with no finite value at all (no bounds: the root interval
    // is ±MaxValue/2; p = 0.4 interpolates −Inf against +Inf → NaN)
    val ends = (1 to 5000).map(_ => rnd.nextGaussian() * 1000) ++
      Seq.fill(3)(Double.NegativeInfinity) ++ Seq.fill(2)(Double.PositiveInfinity)
    val allInf = Seq.fill(4)(Double.NegativeInfinity) ++
      Seq.fill(5)(Double.PositiveInfinity)
    def same(got: Seq[Double], exp: Seq[Double]): Boolean =
      got.size == exp.size && got.zip(exp).forall { case (g, e) =>
        g == e || (g.isNaN && e.isNaN) }
    for (xs <- Seq(ends, allInf)) {
      val df = xs.toDF("x")
      val exp = df.agg(percentile(col("x"), typedLit(probs))).head()
        .getAs[scala.collection.Seq[Double]](0).toSeq
      val got = Stats.exactQuantiles(df, "x", probs)
      assert(same(got, exp), s"exactQuantiles: got $got expected $exp")
      // without distinct counts the routine always narrows (no direct tier)
      val freq = df.groupBy("x").agg(count(lit(1)).as("_cnt"))
        .withColumn("_gi", lit(0)).localCheckpoint()
      val b = freq.agg(min(Packing.finiteProxy(col("x"))),
        max(Packing.finiteProxy(col("x")))).head()
      val bounds =
        if (b.isNullAt(0)) Map.empty[Int, (Double, Double)]
        else Map(0 -> (b.getDouble(0), b.getDouble(1)))
      val narrowed = Packing.weightedQuantiles(freq, "_gi", "x", "_cnt", probs,
        Map(0 -> xs.size.toLong), bounds)(0)
      assert(same(narrowed, exp), s"weightedQuantiles: got $narrowed expected $exp")
    }
  }
}
