package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class StatsSpec extends SparkSpec {

  test("correlation matrix: exact on a hand-computed linear pair, long-form, a < b") {
    val s = spark
    import s.implicits._
    // y = 2x exactly (corr 1); z anti-correlates with x (corr -1)
    val df = Seq((1.0, 2.0, 3.0), (2.0, 4.0, 2.0), (3.0, 6.0, 1.0))
      .toDF("x", "y", "z")
    val out = Stats.correlationMatrix(df, Seq("x", "y", "z"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(math.abs(out(("x", "y")) - 1.0) < 1e-12)
    assert(math.abs(out(("x", "z")) + 1.0) < 1e-12)
    assert(math.abs(out(("y", "z")) + 1.0) < 1e-12)
    assert(out.size === 3)
  }

  test("spearman: rank correlation is 1 for any monotone map, ties averaged") {
    val s = spark
    import s.implicits._
    // monotone but non-linear (Pearson < 1, Spearman = 1)
    val mono = Seq((1.0, 1.0), (2.0, 8.0), (3.0, 27.0), (4.0, 64.0)).toDF("a", "b")
    assert(math.abs(Stats.spearman(mono, "a", "b").head().getDouble(0) - 1.0) < 1e-12)
    // ties: a = (1,2,2,3) avg-ranks to (1, 2.5, 2.5, 4) — matches pandas
    val ties = Seq((1.0, 10.0), (2.0, 20.0), (2.0, 30.0), (3.0, 40.0)).toDF("a", "b")
    val got = ties.select(
      rank().over(org.apache.spark.sql.expressions.Window.orderBy(col("a"))).as("r")).collect()
    // sanity of the underlying rank; the averaged variant is covered by
    // equality with the closed-form Spearman on these values: rs with one
    // tied pair of size 2 against untied b = 0.9486832980505138
    val rs = Stats.spearman(ties, "a", "b").head().getDouble(0)
    assert(math.abs(rs - 0.9486832980505138) < 1e-9, s"got $rs (ranks ${got.mkString(",")})")
  }

  test("histogram: buckets, bounds and clamp of the max value") {
    val s = spark
    import s.implicits._
    val df = Seq(0.0, 1.0, 2.0, 3.0, 4.0, 10.0).toDF("v")
    val out = Stats.histogram(df, "v", 5).orderBy("bucket").collect()
    // width 2: [0,2)x2 [2,4)x2 [4,6)x2(4 and clamped 10? no: 10 -> bucket 4)
    assert(out.map(_.getInt(0)).toSeq === Seq(0, 1, 2, 4))
    assert(out.map(_.getLong(3)).toSeq === Seq(2L, 2L, 1L, 1L))
    assert(out.head.getDouble(1) === 0.0 && out.head.getDouble(2) === 2.0)
    // constant column: single bucket 0 holding everything
    val const = Seq(7.0, 7.0, 7.0).toDF("v")
    val c = Stats.histogram(const, "v", 4).collect()
    assert(c.length === 1 && c.head.getInt(0) === 0 && c.head.getLong(3) === 3L)
  }

  test("entropy: uniform = ln k, constant = 0, nulls excluded") {
    val s = spark
    import s.implicits._
    val uni = Seq("a", "b", "c", "d").toDF("c")
    assert(math.abs(Stats.entropy(uni, "c").head().getDouble(0) - math.log(4)) < 1e-12)
    val const = Seq("a", "a", "a").toDF("c")
    assert(math.abs(Stats.entropy(const, "c").head().getDouble(0)) < 1e-12)
    val withNull = Seq(Some("a"), Some("b"), None).toDF("c")
    assert(math.abs(Stats.entropy(withNull, "c").head().getDouble(0) - math.log(2)) < 1e-12)
  }

  test("zscore: standardized columns have mean 0 / std 1; constant column yields null") {
    val s = spark
    import s.implicits._
    val df = Seq((1.0, 5.0), (2.0, 5.0), (3.0, 5.0), (4.0, 5.0)).toDF("x", "c")
    val out = Stats.zscore(df, Seq("x", "c"))
    // x = 1..4: mean 2.5, std_samp = sqrt(5/3)
    val zx = out.orderBy("x").collect().map(_.getDouble(2))
    val expected = Seq(1.0, 2.0, 3.0, 4.0).map(v => (v - 2.5) / math.sqrt(5.0 / 3.0))
    zx.zip(expected).foreach { case (g, e) => assert(math.abs(g - e) < 1e-12) }
    assert(out.select("z_c").collect().forall(_.isNullAt(0))) // std 0 -> null
    assert(out.columns.toSeq === Seq("x", "c", "z_x", "z_c"))
  }

  test("grouped quantiles: exact type-7 interpolation per group") {
    val s = spark
    import s.implicits._
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 10.0), ("b", 7.0))
      .toDF("g", "v")
    val out = Stats.groupedQuantiles(df, "g", "v", Seq(0.5))
      .orderBy("g").collect()
    // a: (1,2,3,10) -> median 2.5 (linear interpolation); b: single value
    assert(math.abs(out(0).getDouble(1) - 2.5) < 1e-12 && out(0).getLong(2) === 4L)
    assert(out(1).getDouble(1) === 7.0 && out(1).getLong(2) === 1L)
  }

  test("top values: count-desc, value-asc ties, per-column k, nulls excluded") {
    val s = spark
    import s.implicits._
    val df = Seq(("a", "x"), ("a", "y"), ("b", "y"), ("b", null), ("c", "y"))
      .toDF("c1", "c2")
    val out = Stats.topValues(df, Seq("c1", "c2"), 2)
      .orderBy("column", "rank").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3)))
    assert(out.toSeq === Seq(
      ("c1", "a", 2L, 1), ("c1", "b", 2L, 2), // tie a/b -> value asc
      ("c2", "y", 3L, 1), ("c2", "x", 1L, 2)))
  }

  test("distributed exact quantiles match Spark's percentile aggregate bit-for-bit") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    // heavy ties + skew + nulls: the shapes that stress interpolation
    val data = (1 to 5000).map(_ => math.floor(rnd.nextDouble() * 80) / 4.0) ++
      Seq.fill(500)(7.25) ++ (1 to 50).map(_ => rnd.nextDouble() * 1e6)
    val df = (data.map(Option(_)) ++ Seq.fill(37)(Option.empty[Double])).toDF("x")
    val probs = Seq(0.0, 0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.999, 1.0)
    val viaAgg = df.agg(percentile(col("x"), typedLit(probs)).as("q"))
      .head().getSeq[Double](0)
    val viaDistributed = Stats.exactQuantiles(df, "x", probs)
    assert(viaDistributed === viaAgg.toSeq)
    // partition invariance
    assert(Stats.exactQuantiles(df.repartition(13), "x", probs) === viaDistributed)
  }

  test("equi-depth histogram bins hold ~1/bins of rows with exact decile edges") {
    val s = spark
    import s.implicits._
    val df = (1 to 1000).map(_.toDouble).toDF("x")
    val out = Stats.equiDepthHistogram(df, "x", 10)
      .orderBy("bin").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
    assert(out.length === 10)
    assert(out.map(_._4).sum === 1000L)
    // uniform 1..1000: each decile holds ~100 rows; edges are type-7 deciles
    assert(out.forall(b => b._4 >= 99 && b._4 <= 101), out.mkString(", "))
    assert(out.head._2 === 1.0)
    assert(math.abs(out(4)._3 - 500.5) < 1e-9) // median edge = 500.5
  }

  test("equi-depth bin counts come from the frequency table, not a base rescan") {
    val s = spark
    import s.implicits._
    val df = (1 to 1000).map(i => (i % 250).toDouble).toDF("x")
    val hist = Stats.equiDepthHistogram(df, "x", 4)
    val plan = hist.queryExecution.executedPlan.toString
    // the binning aggregation must scan the checkpointed (value, count)
    // table — one full scan of the data total, not one per phase
    assert(plan.contains("ExistingRDD"), plan)
    assert(!plan.contains("LocalTableScan"), s"base data rescanned:\n$plan")
    // summing _cnt over distinct values equals counting rows
    assert(hist.agg(sum("cnt")).head().getLong(0) === 1000L)
  }

  test("association: perfect, independent, and degenerate 1-level cases") {
    val s = spark
    import s.implicits._
    // perfect association (a determines b and vice versa): chi2 = n·(min-1),
    // V = 1, Theil's U = 1 both ways. 2x2 diag with 2 rows per cell.
    val perfect = Seq(("x", "x"), ("x", "x"), ("y", "y"), ("y", "y")).toDF("a", "b")
    val p = Stats.association(perfect, "a", "b").head()
    assert(p.getLong(2) === 4L) // n
    assert(math.abs(p.getDouble(5) - 4.0) < 1e-12, s"chi2 ${p.getDouble(5)}")
    assert(math.abs(p.getDouble(6) - 1.0) < 1e-12) // cramers_v
    assert(math.abs(p.getDouble(7) - 1.0) < 1e-12) // theil_u_ab
    assert(math.abs(p.getDouble(8) - 1.0) < 1e-12) // theil_u_ba
    // independence: uniform 2x2 grid — chi2 = 0, V = 0, U = 0
    val indep = Seq(("x", "c"), ("x", "d"), ("y", "c"), ("y", "d")).toDF("a", "b")
    val i = Stats.association(indep, "a", "b").head()
    assert(math.abs(i.getDouble(5)) < 1e-12)
    assert(math.abs(i.getDouble(6)) < 1e-12)
    assert(math.abs(i.getDouble(7)) < 1e-12)
    // degenerate: constant a — V and U(a|b) undefined (null), H(A) = 0
    val const = Seq(("k", "c"), ("k", "d")).toDF("a", "b")
    val c = Stats.association(const, "a", "b").head()
    assert(c.isNullAt(6) && c.isNullAt(7))
  }

  test("functionalDependency: holds, violated, and null-det exclusion") {
    val s = spark
    import s.implicits._
    // a -> b holds (each a maps to one b); b -> a is violated by b=1
    val df = Seq((1, 1), (1, 1), (2, 1), (3, 2)).toDF("a", "b")
    val ab = Stats.functionalDependency(df, "a", "b").head()
    assert(ab.getLong(2) === 3L && ab.getLong(3) === 0L && ab.getBoolean(5))
    val ba = Stats.functionalDependency(df, "b", "a").head()
    assert(ba.getLong(2) === 2L && ba.getLong(3) === 1L && !ba.getBoolean(5))
    assert(ba.getLong(4) === 2L) // b=1 fans out to a in {1,2}
    // null determinants are excluded entirely
    val withNull = Seq((Option.empty[Int], 1), (Some(1), 2)).toDF("a", "b")
    assert(Stats.functionalDependency(withNull, "a", "b").head().getLong(2) === 1L)
  }

  test("keyCandidate: unique, duplicated, and null-part rows dropped") {
    val s = spark
    import s.implicits._
    val unique = Seq((1, "x"), (2, "y")).toDF("k", "v")
    val u = Stats.keyCandidate(unique, Seq("k"), "t").head()
    assert(u.getLong(2) === 2L && u.getLong(3) === 2L && u.getBoolean(5))
    val dup = Seq((1, 1), (1, 1), (1, 2)).toDF("k1", "k2")
    val d = Stats.keyCandidate(dup, Seq("k1", "k2"), "t").head()
    assert(d.getLong(2) === 3L && d.getLong(3) === 2L &&
      d.getLong(4) === 1L && !d.getBoolean(5))
  }

  test("decayedSum: exact half-life weighting against the frame max ts") {
    val s = spark
    import s.implicits._
    val day = 86400L * 1000000L
    // user 1: one event AT the reference (weight 1) and one exactly one
    // half-life (7 days) earlier (weight 0.5); user 2: only the old one
    val df = Seq(
      (1L, 7 * day, 10.0), (1L, 0L, 8.0), (2L, 0L, 4.0))
      .toDF("user_id", "us", "value")
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"), col("value"))
    val out = Stats.decayedSum(df, "user_id", "ts", "value", halfLifeDays = 7.0)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toMap
    assert(math.abs(out(1L)._2 - (10.0 + 0.5 * 8.0)) < 1e-9, out.toString)
    assert(math.abs(out(2L)._2 - 0.5 * 4.0) < 1e-9)
    assert(out(1L)._1 === 2L && out(1L)._3 === 7 * day)
  }

  test("coOccurrence: pair counts per shared basket, lift, minCount prune") {
    val s = spark
    import s.implicits._
    // baskets: {x,y}, {x,y,z}, {x} — (x,y) in 2, (x,z) 1, (y,z) 1; N=3,
    // n_x=3 n_y=2 n_z=1. lift(x,y) = (2/3)/((3/3)(2/3)) = 1.0
    val df = Seq((1, "x"), (1, "y"), (2, "x"), (2, "y"), (2, "z"), (3, "x"),
      (2, "x")) // duplicate line: distinct collapses it
      .toDF("b", "i")
    val all = Stats.coOccurrence(df, "b", "i", minCount = 1L)
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(all.keySet === Set(("x", "y"), ("x", "z"), ("y", "z")))
    assert(all(("x", "y"))._1 === 2L)
    assert(math.abs(all(("x", "y"))._2 - 1.0) < 1e-12)
    // lift(y,z) = (1/3)/((2/3)(1/3)) = 1.5 — co-occurring more than chance
    assert(math.abs(all(("y", "z"))._2 - 1.5) < 1e-12)
    val pruned = Stats.coOccurrence(df, "b", "i", minCount = 2L).collect()
    assert(pruned.length === 1 && pruned.head.getString(0) === "x")
  }

  test("level-1 item prune never changes output: __N keeps pruned-only baskets") {
    val s = spark
    import s.implicits._
    // basket 4 holds ONLY the infrequent item w: the level-1 prune drops
    // it from pair generation, but it still belongs to the basket
    // universe — lift(x,y) = (2/4)/((3/4)(2/4)) = 4/3, not 1.0
    val df = Seq((1, "x"), (1, "y"), (2, "x"), (2, "y"), (2, "z"), (3, "x"),
      (4, "w")).toDF("b", "i")
    val out = Stats.coOccurrence(df, "b", "i", minCount = 2L).collect()
    assert(out.length === 1)
    assert((out.head.getString(0), out.head.getString(1)) === (("x", "y")))
    assert(out.head.getLong(2) === 2L)
    assert(math.abs(out.head.getDouble(3) - 4.0 / 3.0) < 1e-12)
    // rules read the same pruned pair set with unpruned denominators:
    // confidence(y→x) = 2/2, support = 2/4
    val rules = Stats.associationRules(df, "b", "i", minCount = 2L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(3), r.getDouble(4))).toMap
    assert(rules.keySet === Set(("x", "y"), ("y", "x")))
    assert(math.abs(rules(("y", "x"))._1 - 0.5) < 1e-12) // support
    assert(math.abs(rules(("y", "x"))._2 - 1.0) < 1e-12) // confidence
  }

  test("relative support delegates to the absolute form: ceil(support·N)") {
    val s = spark
    import s.implicits._
    val df = Seq((1, "x"), (1, "y"), (2, "x"), (2, "y"), (2, "z"), (3, "x"))
      .toDF("b", "i")
    // N=3 baskets: support 0.6 → minCount ceil(1.8)=2; 0.1 → 1
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq).toSet
    assert(rows(Stats.coOccurrenceBySupport(df, "b", "i", 0.6)) ===
      rows(Stats.coOccurrence(df, "b", "i", 2L)))
    assert(rows(Stats.coOccurrenceBySupport(df, "b", "i", 0.1)) ===
      rows(Stats.coOccurrence(df, "b", "i", 1L)))
    assert(rows(Stats.associationRulesBySupport(df, "b", "i", 0.6)) ===
      rows(Stats.associationRules(df, "b", "i", 2L)))
    assert(rows(Stats.frequentTriplesBySupport(df, "b", "i", 0.1)) ===
      rows(Stats.frequentTriples(df, "b", "i", 1L)))
    intercept[IllegalArgumentException] {
      Stats.coOccurrenceBySupport(df, "b", "i", 0.0)
    }
  }

  test("pruneSurvivorCount engages exactly at the infrequent items' share of long-form rows") {
    val s = spark
    import s.implicits._
    // items: a=6 rows, b=3, c=1 → at minCount=3, tail = c's 1 row of 10
    val ic = Seq(("a", 6L), ("b", 3L), ("c", 1L)).toDF("i", "n_i")
    def decide(minCount: Long, threshold: Double) =
      Stats.pruneSurvivorCount(ic, minCount, threshold, Stats.defaultPruneBroadcastCap)
    assert(decide(3L, 0.1) === Some(2L))
    assert(decide(3L, math.nextUp(0.1)) === None)
    // at minCount=4 both b and c are tail: 4/10
    assert(decide(4L, 0.4) === Some(1L))
    assert(decide(4L, math.nextUp(0.4)) === None)
    // nothing infrequent, or an empty frame: never engages
    assert(decide(1L, 0.0) === None)
    assert(Stats.pruneSurvivorCount(ic.limit(0), 3L, 0.0, Stats.defaultPruneBroadcastCap) === None)
  }

  test("adaptive level-1 prune is lossless: forced OFF yields identical results") {
    val s = spark
    import s.implicits._
    // Zipf-ish corpus: x,y frequent everywhere, a long tail of items
    // that appear once each — the prune drops the tail before pair
    // expansion; downward closure says the frequent sets cannot change
    val rows = (1 to 30).flatMap { b =>
      Seq((b, "x"), (b, "y")) ++
        (if (b % 3 == 0) Seq((b, "z")) else Seq((b, s"tail_$b")))
    }
    val df = rows.toDF("b", "i")
    def all(run: => org.apache.spark.sql.DataFrame) =
      run.collect().map(_.toSeq).toSet
    // force the prune path for the on-arm regardless of where the
    // default mass threshold sits relative to this corpus (~22% tail);
    // the knob is per-call (r15: no session-global state)
    val (coOn, arOn, ftOn) = (
      all(Stats.coOccurrence(df, "b", "i", 3L, pruneMassThreshold = 0.0)),
      all(Stats.associationRules(df, "b", "i", 3L, pruneMassThreshold = 0.0)),
      all(Stats.frequentTriples(df, "b", "i", 3L, pruneMassThreshold = 0.0)))
    assert(coOn.nonEmpty && ftOn.nonEmpty)
    // 2.0 forces pass-through
    assert(all(Stats.coOccurrence(df, "b", "i", 3L, pruneMassThreshold = 2.0)) === coOn)
    assert(all(Stats.associationRules(df, "b", "i", 3L, pruneMassThreshold = 2.0)) === arOn)
    assert(all(Stats.frequentTriples(df, "b", "i", 3L, pruneMassThreshold = 2.0)) === ftOn)
  }

  test("level-1 prune ENGAGES on the assoc_rules_skew substrate (oracle gate exercises the filter path)") {
    // the exact substrate the oracle-hashed assoc_rules_skew query
    // builds (ProfilingQueries.assocRulesSkew): head-collapse transform
    // of l_partkey, minCount 100, DEFAULT knobs — proving the green
    // correctness row runs the broadcast survivor filter, not the
    // pass-through arm (VERDICT r14 #2)
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey"),
        when(col("l_partkey") % 10 < 3, col("l_partkey") % 10)
          .otherwise(col("l_partkey")).as("item"))
    val itemCounts = li
      .filter(col("l_orderkey").isNotNull && col("item").isNotNull)
      .select("l_orderkey", "item").distinct()
      .groupBy(col("item").as("i")).agg(count(lit(1)).as("n_i"))
    val distinctItems = itemCounts.count()
    val decided = Stats.pruneSurvivorCount(itemCounts, minCount = 100L,
      massThreshold = Stats.defaultPruneMassThreshold,
      broadcastCap = Stats.defaultPruneBroadcastCap)
    assert(decided.nonEmpty, "prune must engage on the planted-skew substrate")
    val survivors = decided.get
    assert(survivors > 0 && survivors < distinctItems,
      s"survivor set must be a strict subset: $survivors of $distinctItems")
    // the three collapsed heads are the designed survivor set
    assert(survivors === 3L)
    // and the query itself returns the head pairs (both rule directions)
    val out = graft.queries.ProfilingQueries
      .assocRulesSkew(spark, "/root/testdata/sf0.001")
    assert(out.count() === 6L)
  }

  test("concentration: HHI is 1 for a monopoly, 1/n for perfect balance") {
    val s = spark
    import s.implicits._
    val df = Seq(
      ("g1", "m1", 10.0), ("g1", "m1", 10.0),           // monopoly
      ("g2", "m1", 5.0), ("g2", "m2", 5.0), ("g2", "m3", 5.0), ("g2", "m4", 5.0))
      .toDF("g", "m", "v")
    val out = Stats.concentration(df, "g", "m", "v")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(out("g1")._1 === 1L && math.abs(out("g1")._3 - 1.0) < 1e-12)
    assert(out("g2")._1 === 4L && math.abs(out("g2")._3 - 0.25) < 1e-12)
    assert(math.abs(out("g1")._2 - 20.0) < 1e-12)
  }

  test("gini: 0 for equality, (n-1)/n for a monopoly, tie-order invariant") {
    val s = spark
    import s.implicits._
    val df = Seq(
      ("eq", "a", 5.0), ("eq", "b", 5.0), ("eq", "c", 5.0), ("eq", "d", 5.0),
      ("mono", "a", 0.0), ("mono", "b", 0.0), ("mono", "c", 0.0), ("mono", "d", 12.0))
      .toDF("g", "m", "v")
    val out = Stats.gini(df, "g", "m", "v")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(math.abs(out("eq")._2) < 1e-12, out.toString)
    // monopoly with n=4: G = (n-1)/n = 0.75
    assert(math.abs(out("mono")._2 - 0.75) < 1e-12, out.toString)
    // hand case: x = (1, 2, 3, 4) -> G = 2*(1+4+9+16)/(4*10) - 5/4 = 0.25
    val hand = Seq(("h", "a", 1.0), ("h", "b", 2.0), ("h", "c", 3.0), ("h", "d", 4.0))
      .toDF("g", "m", "v")
    val g = Stats.gini(hand, "g", "m", "v").head().getDouble(2)
    assert(math.abs(g - 0.25) < 1e-12, g.toString)
  }

  test("concentration/gini: zero-sum groups yield null, not DIVIDE_BY_ZERO") {
    val s = spark
    import s.implicits._
    // signed values canceling to exactly 0 per group — the ANSI trap
    val df = Seq(
      ("z", "a", 3.0), ("z", "b", -3.0),
      ("ok", "a", 2.0), ("ok", "b", 2.0)).toDF("g", "m", "v")
    val hhi = Stats.concentration(df, "g", "m", "v")
      .collect().map(r => r.getString(0) -> Option(r.get(3))).toMap
    assert(hhi("z").isEmpty && hhi("ok").nonEmpty)
    val gin = Stats.gini(df, "g", "m", "v")
      .collect().map(r => r.getString(0) -> Option(r.get(2))).toMap
    assert(gin("z").isEmpty && gin("ok").nonEmpty)
  }

  test("benford digits: string-form first significant digit, exclusions, freqs") {
    val s = spark
    import s.implicits._
    val df = Seq(1.0, 12.0, -15.0, 0.002, 950.0, 0.0, Double.NaN,
      Double.PositiveInfinity).toDF("v")
    val out = Stats.benfordDigits(df, "v").collect()
    // zero / NaN / Inf excluded; digits: 1 (from 1.0, 12.0, -15.0... sign
    // skipped), 2 (0.002 leading zeros skipped), 9
    assert(out.map(r => r.getInt(0) -> r.getLong(1)).toMap ===
      Map(1 -> 3L, 2 -> 1L, 9 -> 1L))
    val first = out.head
    assert(math.abs(first.getDouble(2) - 0.6) < 1e-12) // obs_p of digit 1
    assert(math.abs(first.getDouble(3) - math.log10(2.0)) < 1e-12) // exp_p
    assert(math.abs(first.getDouble(4) - (0.6 - math.log10(2.0))) < 1e-12)
  }
}
