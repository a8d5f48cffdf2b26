package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.core.{Report, SemanticType}

class DescribeSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private def make(rows: Seq[Row], fields: (String, DataType)*) =
    spark.createDataFrame(rows.asJava,
      StructType(fields.map { case (n, t) => StructField(n, t) }))

  // Ground truth from pandas on [1.0, 2.5, 3.7, 4.2, 10.0, 2.2, 8.8, 0.5]
  // (see SURVEY.md §5.2: kurt/skew are bias-corrected G2/G1, std ddof=1).
  test("numeric kernel matches pandas definitions on a hand-checked series") {
    val vals = Seq(1.0, 2.5, 3.7, 4.2, 10.0, 2.2, 8.8, 0.5)
    val data = make(vals.zipWithIndex.map { case (v, i) => Row(i.toLong, v) },
      "id" -> LongType, "x" -> DoubleType)
    val s = Report(data, key = Some("id")).describe(Seq("x")).head.stats
    def d(k: String) = s(k).asInstanceOf[Double]
    assert(math.abs(d("kurtosis") - -0.4083215073671873) < 1e-9)
    assert(math.abs(d("skewness") - 0.9697949276087013) < 1e-9)
    assert(math.abs(d("std") - 3.5011987742975776) < 1e-12)
    assert(math.abs(d("mad") - 2.665625) < 1e-12)
    assert(math.abs(d("25%") - 1.9) < 1e-12) // type-7 interpolation
    assert(math.abs(d("mean") - vals.sum / 8) < 1e-12)
    assert(d("iqr") === d("75%") - d("25%"))
    assert(math.abs(d("cv") - d("std") / d("mean")) < 1e-15)
  }

  test("is_unique compares distinct against SIZE: a null breaks uniqueness (tools.py:33)") {
    val data = make(Seq(Row(1L, "a"), Row(2L, "b"), Row(3L, null)),
      "id" -> LongType, "s" -> StringType)
    val s = Report(data, key = Some("id")).describe(Seq("s")).head.stats
    assert(s("distinct_count") === 2L)
    assert(s("is_unique") === false) // 2 distinct vs size 3
    assert(s("p_unique") === 2.0 / 3)
  }

  test("n_zeros counts exact zeros; nulls are not zeros (tools.py:51)") {
    val data = make(Seq(Row(1L, 0.0), Row(2L, 0.0), Row(3L, Double.NaN), Row(4L, 5.0)),
      "id" -> LongType, "x" -> DoubleType)
    val s = Report(data, key = Some("id")).describe(Seq("x")).head.stats
    assert(s("n_zeros") === 2L)
    assert(s("p_zeros") === 0.5)
    assert(s("n_null") === 1L) // the NaN, canonicalized
  }

  test("all-null column classifies EMPTY before its physical type (tools.py:87-91)") {
    val data = make(Seq(Row(1L, null), Row(2L, null)), "id" -> LongType, "x" -> DoubleType)
    val p = Report(data, key = Some("id")).describe(Seq("x")).head
    assert(p.contentType === SemanticType.Empty)
    assert(p.stats("count") === 0L)
    assert(p.stats("distinct_count") === 0L)
    assert(!p.stats.contains("mean")) // EMPTY keeps only base + distinct block
    assert(!p.stats.contains("min"))
  }

  test("boolean ladder: mean is the fraction true (tools.py:37-40)") {
    val data = make(Seq(Row(1L, true), Row(2L, false), Row(3L, true), Row(4L, true)),
      "id" -> LongType, "b" -> BooleanType)
    val p = Report(data, key = Some("id")).describe(Seq("b")).head
    assert(p.contentType === SemanticType.Boolean)
    assert(p.stats("mean") === 0.75)
    assert(!p.stats.contains("min")) // bools get no min/max block
  }

  test("date ladder gets min/max/quantiles but no moments (tools.py:41-48)") {
    val ts = (1 to 5).map(i => java.time.LocalDateTime.of(2024, 1, i, 0, 0))
    val data = make(ts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) },
      "id" -> LongType, "t" -> TimestampNTZType)
    val p = Report(data, key = Some("id")).describe(Seq("t")).head
    assert(p.contentType === SemanticType.Date)
    assert(p.stats.contains("min") && p.stats.contains("50%"))
    assert(!p.stats.contains("std"))
    // median of 5 evenly spaced days = the 3rd
    assert(p.stats("50%").toString.startsWith("2024-01-03"))
  }

  test("constant column: is_constant, zero variance") {
    val data = make((1 to 4).map(i => Row(i.toLong, 7.0)), "id" -> LongType, "x" -> DoubleType)
    val s = Report(data, key = Some("id")).describe(Seq("x")).head.stats
    assert(s("is_constant") === true)
    assert(s("std") === 0.0)
    assert(s("variance") === 0.0)
    assert(s("cv") === 0.0) // std/mean = 0/7
  }

  test("empty input: zero counts, no stat blocks, no crash") {
    val data = make(Seq.empty[Row], "id" -> LongType, "x" -> DoubleType, "s" -> StringType)
    val ps = Report(data, key = Some("id")).describe(Seq("x", "s"))
    ps.foreach { p =>
      assert(p.stats("count") === 0L)
      assert(p.stats("n_null") === 0L)
      assert(p.stats("p_null") === 0.0)
      assert(p.stats("distinct_count") === 0L)
      assert(!p.stats.contains("mean"))
      assert(!p.stats.contains("min"))
    }
  }

  test("whole-table profile covers every column/type in one call") {
    val out = graft.queries.ProfilingQueries.describeFullLineitem(spark, "/root/testdata/sf0.001")
    val byCol = out.collect().groupBy(_.getString(0))
    assert(byCol.keySet.size === 11)
    assert(byCol("l_extendedprice").exists(_.getString(1) == "kurtosis"))
    assert(byCol("l_shipdate").exists(_.getString(1) == "min"))
    assert(byCol("l_returnflag").exists(_.getString(1) == "distinct_count"))
  }

  test("family columns stay exact at any cardinality threshold (distributed quantile chain)") {
    val data = make((1 to 1000).map(i => Row(i.toLong, i.toDouble)),
      "id" -> LongType, "x" -> DoubleType)
    // type-7 median of 1..1000 interpolates to 500.5
    val exact = Describe.profile(data, Seq("x")).head.stats
    assert(exact("50%").asInstanceOf[Number].doubleValue() === 500.5)
    assert(exact("distinct_count") === 1000L)
  }

  test("forced bracket chain matches the buffered percentile bit for bit") {
    // percentileBufferMaxDistinct = 0 forces every family column through
    // the distributed prefix-sum bracket chain; the result must equal the
    // default (buffered Percentile) route exactly — including dates and a
    // multi-column family in one pass
    val rnd = new scala.util.Random(7)
    val rows = (1 to 500).map { i =>
      Row(i.toLong, rnd.nextDouble() * 1000 - 500, (rnd.nextInt(300) + 1).toLong,
        java.sql.Date.valueOf(f"2024-01-${rnd.nextInt(28) + 1}%02d"))
    }
    val data = make(rows, "id" -> LongType, "x" -> DoubleType,
      "y" -> LongType, "d" -> DateType)
    val cols = Seq("x", "y", "d")
    val viaBuffer = Describe.profile(data, cols)
    val viaChain = Describe.profile(data, cols, percentileBufferMaxDistinct = 0)
    viaBuffer.zip(viaChain).foreach { case (b, c) =>
      assert(b.stats.keySet === c.stats.keySet, s"column ${b.column}")
      b.stats.foreach { case (k, bv) =>
        val cv = c.stats(k)
        (bv, cv) match {
          // mad rides different aggregation operators in the two routes
          // (ObjectHashAggregate with the Percentile vs codegen
          // HashAggregate), whose partial-merge order differs at last
          // ULP — everything else, quantiles included, is bit-identical
          case (x: Double, y: Double) if k == "mad" =>
            assert(math.abs(x - y) <= math.ulp(x) * 8, s"${b.column}.$k: $x vs $y")
          case _ => assert(bv === cv, s"${b.column}.$k")
        }
      }
    }
  }

  test("forced bracket chain handles NaN and infinities like the buffered route") {
    val vals: Seq[Double] = Seq(1.0, 2.0, 3.0, Double.NaN,
      Double.PositiveInfinity, Double.NegativeInfinity, -7.5, 4.25)
    val data = make(vals.zipWithIndex.map { case (v, i) => Row(i.toLong, v) },
      "id" -> LongType, "x" -> DoubleType)
    // NaN is canonicalized to null by Report normalization in the real
    // pipeline; here we call the kernel raw, so Percentile's NaN-last
    // ordering vs the chain's NaN edge slice must agree
    val b = Describe.profile(data, Seq("x")).head.stats
    val c = Describe.profile(data, Seq("x"), percentileBufferMaxDistinct = 0).head.stats
    Describe.QuantileNames.foreach { q =>
      val bv = b(q).asInstanceOf[Double]; val cv = c(q).asInstanceOf[Double]
      assert(bv == cv || (bv.isNaN && cv.isNaN), s"$q: $bv vs $cv")
    }
    assert(b("distinct_count") === c("distinct_count"))
  }

  test("decimal columns stay exact at any cardinality") {
    val data = make((1 to 1000).map(i => Row(i.toLong, BigDecimal(i))),
      "id" -> LongType, "x" -> DecimalType(10, 2))
    // a bound of 0 sends the decimal through the distributed bracket
    // chain, which interpolates (type 7) like the buffered percentile
    Seq(Describe.PercentileBufferMaxDistinct, 0L).foreach { bound =>
      val s = Describe.profile(data, Seq("x"), percentileBufferMaxDistinct = bound).head.stats
      assert(s("50%").asInstanceOf[Number].doubleValue() === 500.5, s"bound $bound")
      assert(s("distinct_count") === 1000L, s"bound $bound")
      assert(s("mad").asInstanceOf[Number].doubleValue() === 250.0, s"bound $bound")
    }
  }

  test("vector groups follow Spark's key semantics: [0.0] and [-0.0] are one value") {
    val data = make(Seq(Seq(0.0f), Seq(-0.0f), Seq(Float.NaN), Seq(Float.NaN), null)
      .zipWithIndex.map { case (v, i) => Row(i.toLong, v) },
      "id" -> LongType, "v" -> ArrayType(FloatType))
    assert(Describe.profile(data, Seq("v")).head.stats("distinct_count") === 2L)
  }

  test("introduce's memory_usage is the sum of describe's, all-null variable-width columns included") {
    val data = make((1 to 40).map(i =>
        Row(i.toLong, if (i % 2 == 0) "" else "null", null, i * 0.5, s"v${i % 3}")),
      "id" -> LongType, "s" -> StringType, "bin" -> BinaryType, "x" -> DoubleType,
      "t" -> StringType)
    val r = Report(data, key = Some("id"))
    val introduced = r.introduce().collect()
      .collectFirst { case Row("basic", "memory_usage", v: Long) => v }.get
    val described = r.describe().map(_.stats("memory_usage").asInstanceOf[Long]).sum
    assert(introduced === described)
  }

  test("decimal, vector and binary columns add no job to the frequency table") {
    val data = make((1 to 1000).map { i =>
        Row(i.toLong, i * 0.5, BigDecimal(i % 97), BigDecimal(i) / 8,
          Seq((i % 7).toFloat, 1.0f), Array[Byte]((i % 11).toByte))
      },
      "id" -> LongType, "x" -> DoubleType, "dec" -> DecimalType(10, 2),
      "dec2" -> DecimalType(12, 3), "vec" -> ArrayType(FloatType), "bin" -> BinaryType)
    val sc = spark.sparkContext
    def jobsOf(cols: Seq[String]): Int = {
      val group = s"describe-jobs-${cols.mkString("-")}"
      val marker = s"$group-marker"
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      @volatile var sawMarker = false
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          if (g.contains(marker)) sawMarker = true
          else if (g.contains(group)) jobs.incrementAndGet()
        }
      }
      sc.addSparkListener(listener)
      try {
        sc.setJobGroup(group, "profile")
        try Describe.profile(data, cols) finally sc.clearJobGroup()
        sc.setJobGroup(marker, "drain")
        try spark.range(1).collect() finally sc.clearJobGroup()
        val deadline = System.nanoTime() + 60L * 1000000000L
        while (!sawMarker && System.nanoTime() < deadline) Thread.sleep(20)
        assert(sawMarker, "listener events did not drain")
      } finally sc.removeSparkListener(listener)
      jobs.get()
    }
    val alone = jobsOf(Seq("x"))
    assert(alone > 0)
    assert(jobsOf(Seq("x", "dec", "dec2", "vec", "bin")) === alone)
  }

  // 16 columns over every family and every own-type slot: int, long,
  // short, float, doubles with NaN/±Inf, date, timestamp_ntz, strings,
  // boolean, decimal, a float vector holding [0.0], [-0.0] and a NaN
  // element, binary and an all-null column — six numeric columns alone
  // carry more than 100 pass-1 buffer fields
  private def wideFrame() = {
    val rows = (0 until 400).map { i =>
      val d =
        if (i % 50 == 0) Double.NaN
        else if (i % 97 == 0) Double.PositiveInfinity
        else if (i % 89 == 0) Double.NegativeInfinity
        else i * 0.37 - 20
      Row(i, i * 7919L % 100003L, (i % 37) * 1000, d, (i % 7) / 2.0,
        java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i % 31)),
        java.time.LocalDateTime.of(2020, 1, 1, 0, 0).plusSeconds(i * 86413L),
        s"s${i % 13}", if (i % 3 == 0) null else s"t$i", i % 4 == 0, null,
        (i % 5).toShort, i / 3.0f, BigDecimal(i % 41) / 4,
        i % 9 match {
          case 0 => Seq(0.0f)
          case 1 => Seq(-0.0f)
          case 2 => Seq(Float.NaN, 1.0f)
          case 3 => null
          case k => Seq(k.toFloat, (i % 4).toFloat)
        },
        if (i % 5 == 0) null else Array[Byte]((i % 23).toByte, 7))
    }
    make(rows, "id" -> IntegerType, "l" -> LongType, "i" -> IntegerType,
      "d" -> DoubleType, "d2" -> DoubleType, "dt" -> DateType,
      "ts" -> TimestampNTZType, "s" -> StringType, "s2" -> StringType,
      "b" -> BooleanType, "nul" -> DoubleType, "sh" -> ShortType,
      "f" -> FloatType, "dec" -> DecimalType(10, 2), "vec" -> ArrayType(FloatType),
      "bin" -> BinaryType)
  }

  test("profiling every column at once equals profiling each alone, bit for bit") {
    val data = wideFrame()
    val cols = data.columns.toSeq
    assert(Describe.pass1Chunks(data, cols, approximate = false).size >= 2,
      "the frame must span more than one pass-1 chunk")
    // the default bound routes every quantile through job A; 50 sends
    // some columns through the tier-2 percentile and the rest through
    // the bracket chain, over longs, doubles and timestamps together
    Seq(Describe.PercentileBufferMaxDistinct, 50L).foreach { bound =>
      val all = Describe.profile(data, cols, percentileBufferMaxDistinct = bound)
      cols.zip(all).foreach { case (c, p) =>
        val one = Describe.profile(data, Seq(c), percentileBufferMaxDistinct = bound).head
        assert(p.column === c)
        assert(p.contentType === one.contentType, s"$c (bound $bound)")
        assert(p.stats.keys.toSeq === one.stats.keys.toSeq, s"$c (bound $bound)")
        p.stats.foreach { case (k, v) =>
          (v, one.stats(k)) match {
            case (x: Double, y: Double) =>
              val same = java.lang.Double.doubleToLongBits(x) ==
                java.lang.Double.doubleToLongBits(y)
              // mad sums f·|v - mean| over the frequency table, whose
              // row order follows the table's layout; the same bound as
              // DeterminismStressSpec
              if (k == "mad") assert(same || math.abs(x - y) <= math.ulp(x) * 64,
                s"$c.$k (bound $bound): $x vs $y")
              else assert(same, s"$c.$k (bound $bound): $x vs $y")
            case (x, y) => assert(x === y, s"$c.$k (bound $bound)")
          }
        }
      }
    }
  }

  test("exact profile keeps every hash aggregate inside whole-stage codegen") {
    val data = wideFrame()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val marker = "codegen_guard_marker"
    @volatile var sawMarker = false
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.output.exists(_.name == marker)) sawMarker = true
        else plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Seq(Describe.PercentileBufferMaxDistinct, 50L).foreach { bound =>
        Describe.profile(data, data.columns.toSeq, percentileBufferMaxDistinct = bound)
      }
      // the listener bus delivers in order: once the marker action has
      // arrived, so has every profiling action before it
      spark.range(1).toDF(marker).collect()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!sawMarker && System.nanoTime() < deadline) Thread.sleep(20)
      assert(sawMarker, "listener events did not drain")
    } finally spark.listenerManager.unregister(listener)
    val aggs = plans.asScala.toSeq.flatMap(graft.tools.OptProbe.aggregates)
    assert(aggs.exists(_._1.isInstanceOf[
      org.apache.spark.sql.execution.aggregate.HashAggregateExec]))
    aggs.foreach { case (node, inCodegen) =>
      assert(inCodegen, s"aggregate outside whole-stage codegen:\n${node.treeString}")
    }
  }

  test("frequency-table jobs run under the caller's job group") {
    val data = wideFrame()
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val marker = "describe-spec-marker"
    @volatile var sawMarker = false
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        if (g.contains(marker)) sawMarker = true else groups.add(g.getOrElse("<none>"))
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("describe-spec", "profile")
      try Describe.profile(data, data.columns.toSeq, percentileBufferMaxDistinct = 50L)
      finally sc.clearJobGroup()
      sc.setJobGroup(marker, "drain")
      try spark.range(1).collect() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!sawMarker && System.nanoTime() < deadline) Thread.sleep(20)
      assert(sawMarker, "listener events did not drain")
    } finally sc.removeSparkListener(listener)
    assert(!groups.isEmpty)
    assert(groups.asScala.forall(_ == "describe-spec"), groups.asScala.toSeq.distinct)
  }

  test("small-n guards: kurtosis undefined below 4, skewness below 3 (pandas parity)") {
    assert(Describe.kurtosisG2(3, 1.0).isEmpty)
    assert(Describe.skewnessG1(2, 1.0).isEmpty)
    assert(Describe.kurtosisG2(4, 0.0).isDefined)
    // correction formulas
    val g2 = -1.2; val n = 100L
    val expected = (n - 1.0) / ((n - 2.0) * (n - 3.0)) * ((n + 1.0) * g2 + 6.0)
    assert(Describe.kurtosisG2(n, g2).get === expected)
  }
}
