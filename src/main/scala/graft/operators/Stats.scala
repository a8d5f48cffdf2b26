package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Materialize._

/** Cross-column statistics the profiling surface needs beyond the
  * per-column describe ladder (pandas-profiling-style extensions the
  * reference does not have; SURVEY.md §2.C): correlation matrices,
  * equi-width histograms, Shannon entropy, and per-column frequent
  * values. Every operator is a fixed number of hash aggregations — no
  * all-pairs row joins, no driver-side loops over data — so the shapes
  * hold at 100 TB.
  */
object Stats {

  /** Pairwise Pearson correlation of `cols` in ONE aggregation pass:
    * n*(n-1)/2 codegen'd `corr` aggregates over a single scan, emitted
    * long-form (col_a, col_b, corr) with col_a < col_b. Spark's `corr`
    * is the sample correlation over pairwise-complete rows — the same
    * definition pandas `DataFrame.corr()` and DuckDB `corr()` use. */
  def correlationMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "correlationMatrix needs at least two columns")
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val aggs = pairs.map { case (a, b) => corr(col(a), col(b)).as(s"${a}__$b") }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val longForm = pairs.map { case (a, b) =>
      struct(lit(a).as("col_a"), lit(b).as("col_b"), col(s"${a}__$b").as("corr"))
    }
    row.select(explode(array(longForm: _*)).as("p")).select("p.*")
  }

  /** Average ranks of `c`'s non-null values (ties get the mean of their
    * rank range — the convention pandas `rank(method='average')` uses,
    * which makes Spearman well-defined under ties), computed WITHOUT a
    * global single-task window: avg_rank(v) = (# values < v) +
    * (ties(v) + 1) / 2, so group by value (one hash agg), take the
    * EXCLUSIVE prefix sum of group counts in value order via
    * [[Packing.prefixSums]]' two-phase plan (deterministic value
    * slices, per-slice window, broadcast base offsets — the only
    * global window runs over one row per slice), and map each value
    * to its rank. Exact, not approximate: identical numbers to a
    * rank-over-global-sort formulation for counts < 2^53. Returns
    * (value, rank) keyed by `_v`. */
  private def avgRanks(df: DataFrame, c: String): DataFrame = {
    val vals = df.filter(col(c).isNotNull)
      .groupBy(col(c).as("_v")).agg(count(lit(1)).as("_cnt"))
    Packing.prefixSums(vals, Nil, "_v", Seq("_cnt"), Seq("_before"))
      .select(col("_v"), (col("_before") + (col("_cnt") + 1) / 2.0).as("_r"))
  }

  /** Lorenz curve — the distributional companion of [[gini]]: at each
    * of `points` equal population quantiles (ascending by value), the
    * cumulative share of the total value held by that poorest
    * fraction. The classic inequality readout ("the bottom 50% of
    * customers carry 9% of revenue").
    *
    * Scale shape: the member values reduce to the DISTINCT-value
    * frame (one hash agg), whose per-value counts and value-sums ride
    * ONE [[Packing.prefixSums]] pass — the same
    * machinery as the Spearman/KS statistics, so no single-task global
    * window ever sees a corpus-sized frame. Quantile boundary
    * positions are exact integers (ceil by integer division); within a
    * tie run the share interpolates linearly, which equals any
    * tie-ordering's cumulative sum. The `points`-row boundary frame
    * broadcasts against the distinct frame. */
  def lorenzCurve(df: DataFrame, valueCol: String, points: Int = 10): DataFrame = {
    require(points >= 1, s"points must be >= 1, got $points")
    val clean = df.filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("double").as("v"))
    // both running sums (population count and value mass) ride ONE
    // two-phase prefix pass over the distinct-value frame, like the KS
    // drift CDFs: one slice-bounds action, one window, one offsets
    // aggregate, and no value-keyed join to re-align two passes
    val distinctV = clean.groupBy("v").agg(count(lit(1)).as("n_at"))
      .withColumn("rev_at", col("v") * col("n_at"))
      .withColumn("__g", lit(1))
      .barrier() // feeds the slice-bounds action + both phases
    val brackets = Packing.prefixSums(distinctV, Seq("__g"), "v",
        Seq("n_at", "rev_at"), Seq("cum_n_before", "cum_rev_before"))
      .select(col("v"), col("n_at"), col("cum_n_before"), col("cum_rev_before"))
    val tot = clean.agg(count(lit(1)).as("__n"), sum("v").as("__tot"))
    val bounds = df.sparkSession.range(1, points + 1)
      .select(col("id").cast("int").as("point"))
      .crossJoin(broadcast(tot))
      .withColumn("__p", expr(s"(__n * point + ${points - 1}) div $points"))
    brackets.join(broadcast(bounds),
        col("__p") > col("cum_n_before") &&
          col("__p") <= col("cum_n_before") + col("n_at"))
      .select(col("point"),
        (col("point") / lit(points.toDouble)).as("pop_share"),
        ((col("cum_rev_before") +
            (col("__p") - col("cum_n_before")) * col("v")) /
          when(col("__tot") =!= 0, col("__tot"))).as("value_share"))
  }

  /** Nullity correlation (the missingno-style missing-data co-pattern
    * screen): Pearson correlation between the NULL-indicator flags of
    * column pairs — +1 means two columns go missing together, −1 they
    * alternate, 0 independent gaps. The profiling question behind it:
    * is missingness structural (an upstream join or source dropped a
    * whole record section) or independent noise? Same one-scan
    * codegen'd shape as [[correlationMatrix]] — the flags are just
    * projected expressions. */
  def nullityCorrelation(df: DataFrame, cols: Seq[String]): DataFrame =
    correlationMatrix(
      df.select(cols.map(c => col(c).isNull.cast("double").as(c)): _*), cols)

  /** Spearman rank correlation of two columns: Pearson on average ranks.
    * Ranks come from [[avgRanks]]'s distributed prefix-sum (shuffles
    * carry one row per DISTINCT value; no full-table single-task sort),
    * joined back on the value; rows where either side is null are
    * excluded, matching `corr`'s pairwise-complete semantics.
    *
    * Tradeoff, measured: at sf0.1 this is ~1.4 s vs ~0.15 s for a
    * global-sort `Window.orderBy(value)` rank — more stages, tiny data.
    * But the window form moves the WHOLE table into one task (Spark
    * warns exactly that), a guaranteed failure at 100 TB, while this
    * plan's shuffles carry per-distinct-value rows and its only global
    * window runs over one row per partition. Constant factors at toy
    * scale lose to a plan that survives the scale-up. */
  def spearman(df: DataFrame, a: String, b: String): DataFrame = {
    val pairs = df.select(col(a), col(b))
      .filter(col(a).isNotNull && col(b).isNotNull)
    pairs
      .join(avgRanks(df, a).withColumnRenamed("_v", a).withColumnRenamed("_r", "ra"), Seq(a))
      .join(avgRanks(df, b).withColumnRenamed("_v", b).withColumnRenamed("_r", "rb"), Seq(b))
      .agg(corr(col("ra"), col("rb")).as("spearman"))
  }

  /** Equi-width histogram of a numeric column: `bins` buckets spanning
    * [min, max] (bounds from a first tiny agg pass), bucket =
    * floor((x - min) / width) clamped to bins - 1 so x = max lands in the
    * last bucket. Returns (bucket, lo, hi, cnt) for non-empty buckets.
    * Two passes over the scan, both codegen'd hash aggs. */
  def histogram(df: DataFrame, c: String, bins: Int): DataFrame = {
    require(bins > 0)
    val Seq(mn, mx) = df.agg(min(col(c)).cast("double"), max(col(c)).cast("double"))
      .head().toSeq.map(_.asInstanceOf[Double])
    val width = (mx - mn) / bins
    val bucket =
      if (width == 0.0) lit(0) // constant column: everything in bucket 0
      else least(floor((col(c) - mn) / width), lit(bins - 1)).cast("int")
    df.filter(col(c).isNotNull)
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("bucket"),
        (lit(mn) + col("bucket") * width).as("lo"),
        (lit(mn) + (col("bucket") + 1) * width).as("hi"),
        col("cnt"))
  }

  /** Shannon entropy (natural log) of a column's value distribution,
    * nulls excluded: -sum(p * ln p) over the value frequencies. One
    * groupBy + one tiny agg. An approximate dual at extreme cardinality
    * would sketch the frequencies (CMS); exact is the oracle baseline. */
  def entropy(df: DataFrame, c: String): DataFrame = {
    val freq = df.filter(col(c).isNotNull).groupBy(col(c)).agg(count(lit(1)).as("n"))
    freq.agg((lit(0.0) - sum(col("n") * log(col("n")))).as("w"), sum("n").as("t"))
      .select((col("w") / col("t") + log(col("t"))).as("entropy"))
    // -sum((n/t) ln(n/t)) = ln t - sum(n ln n)/t — one pass, no join back
  }

  /** Per-group exact interpolated quantiles (type-7, matching pandas /
    * quantile_cont) of a numeric column: one hash aggregation keyed by
    * the group. Per-group percentile buffers hold that group's values —
    * fine for grouped profiling (groups partition the data); the
    * whole-table single-group case is what Describe's distinct-count
    * guard / sketch fallback is for. */
  def groupedQuantiles(df: DataFrame, groupCol: String, valueCol: String,
      probs: Seq[Double]): DataFrame = {
    val aggs = probs.map(p =>
      percentile(col(valueCol), lit(p)).as(s"q${(p * 100).toInt}")) :+
      count(col(valueCol)).as("n")
    df.groupBy(groupCol).agg(aggs.head, aggs.tail: _*)
  }

  /** Median absolute deviation per group — the robust dispersion twin
    * of [[groupedQuantiles]]: per-group median, joined back on the
    * group key, then the median of |x − med|. Two grouped percentile
    * passes and one equi-join, all keyed on the group column, so the
    * shuffles co-locate; AQE broadcasts the |groups|-row median frame
    * when the key is enum-like. Null groups and null values are
    * excluded (the reference's describe convention). */
  def groupedMad(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val clean = df.filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
    val med = clean.groupBy(groupCol)
      .agg(percentile(col(valueCol), lit(0.5)).as("med"))
    clean.join(med, groupCol)
      .groupBy(groupCol)
      .agg(count(col(valueCol)).as("n"),
        max(col("med")).as("median"), // constant within the group
        percentile(abs(col(valueCol) - col("med")), lit(0.5)).as("mad"))
  }

  /** Modified z-score (Iglewicz–Hoaglin): 0.6745·(x − median)/MAD per
    * group — the robust outlier score that survives the heavy tails
    * that wreck mean/std z-scores (a single spike inflates std enough
    * to hide itself; the median/MAD baseline doesn't move). Rides
    * [[groupedMad]]; groups with zero MAD (constant columns) yield
    * null scores. Returns every row with (median, mad, mz) attached —
    * callers threshold (|mz| ≥ 3.5 is the published cut). */
  def modifiedZ(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val m = groupedMad(df, groupCol, valueCol).select(
      col(groupCol), col("median"), col("mad"))
    df.filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .join(m, groupCol)
      .withColumn("mz",
        lit(0.6745) * (col(valueCol) - col("median")) /
          when(col("mad") =!= 0, col("mad")))
  }

  /** Exact type-7 interpolated quantiles (pandas / quantile_cont
    * semantics) computed DISTRIBUTED — the whole-table replacement for
    * Spark's `percentile` aggregate, whose value→count map buffers every
    * distinct value through one final merge (the construction that dies
    * on a 100 TB column). Here the heavy lifting is ordinary hash
    * aggregation:
    *
    *   1. distinct (value, count) — one hash agg, materialized (the only
    *      full scan; the distinct table is orders of magnitude smaller);
    *   2. ONE job reads n, the distinct count and the finite value
    *      bounds;
    *   3. [[Packing.weightedQuantiles]] brackets the ≤ 2·|probs| rows
    *      covering the needed order statistics by aggregation-only
    *      bucket narrowing and interpolates them driver-side.
    *
    * The interpolation arithmetic matches Spark's Percentile and
    * DuckDB's quantile_cont double-for-double (the equidepth oracle
    * hash-checks this end to end). Nulls are excluded; n = 0 fails
    * loudly. */
  def exactQuantiles(df: DataFrame, c: String, probs: Seq[Double]): Seq[Double] = {
    // perf only: two small downstream actions share the scan.
    // localCheckpoint like equiDepthHistogram's copy of this substrate
    // (r17): the lazy persist pinned both consumers' stages at full
    // shuffle width (AQE cannot coalesce a cached subplan)
    val vals = valueFrequencies(df, c).barrier()
    try quantilesFromFrequencies(vals, probs)
    finally release(vals)
  }

  /** The distinct (value, count) table — (`_v` double, `_cnt` long) —
    * that [[quantilesFromFrequencies]] consumes: one hash aggregation,
    * the only full scan of the quantile pipeline. */
  private def valueFrequencies(df: DataFrame, c: String): DataFrame =
    df.filter(col(c).isNotNull)
      .groupBy(col(c).cast("double").as("_v"))
      .agg(count(lit(1)).as("_cnt"))

  /** Steps 2–3 of [[exactQuantiles]] over a prebuilt (and materialized —
    * persisted or checkpointed, since two actions consume it) frequency
    * table from [[valueFrequencies]]. */
  private def quantilesFromFrequencies(vals: DataFrame, probs: Seq[Double]): Seq[Double] = {
    require(probs.nonEmpty && probs.forall(p => p >= 0.0 && p <= 1.0),
      s"probs must be in [0, 1], got $probs")
    val finiteV = Packing.finiteProxy(col("_v"))
    val b = vals.agg(sum("_cnt").as("n"),
      min(finiteV).as("mn"), max(finiteV).as("mx"),
      count(lit(1)).as("d")).head()
    val n = if (b.isNullAt(0)) 0L else b.getLong(0)
    require(n > 0, "exactQuantiles: no non-null values")
    val bounds =
      if (b.isNullAt(1)) Map.empty[Int, (Double, Double)]
      else Map(0 -> (b.getDouble(1), b.getDouble(2)))
    Packing.weightedQuantiles(vals.withColumn("_gi", lit(0)), "_gi", "_v",
      "_cnt", probs, Map(0 -> n), bounds,
      distinctByGroup = Map(0 -> b.getLong(3)))(0)
  }

  /** Equi-DEPTH binning: bucket edges are exact type-7 quantiles
    * ([[exactQuantiles]] — distributed, no whole-column percentile
    * buffer), rows fall into [edge_i, edge_i+1) with the last
    * bin closed — each bin holds ~1/bins of the data regardless of
    * distribution, the binning a feature pipeline actually wants for
    * skewed measures. Returns (bin, lo, hi, cnt). Duplicate edges from
    * heavy ties collapse naturally (empty bins are absent).
    *
    * ONE full scan total: the (value, count) frequency table the
    * quantile math already builds is materialized (localCheckpoint —
    * it outlives this call inside the lazily-executed result plan,
    * which a persist/unpersist pair can't provide) and the bin counts
    * are derived from IT — binning is a pure function of the value, so
    * summing `_cnt` per bin over the distinct values equals counting
    * rows, without rescanning `df` against the edge literals (the
    * rescan made this the most expensive query on the bench board). */
  def equiDepthHistogram(df: DataFrame, c: String, bins: Int): DataFrame = {
    require(bins > 0)
    val probs = (0 to bins).map(_.toDouble / bins)
    val vals = valueFrequencies(df, c).barrier()
    val edges = quantilesFromFrequencies(vals, probs)
    // CASE ladder over the literal edges: value < edge_1 -> bin 0, etc.;
    // the max value lands in the last bin (<= top edge). `_v` is the
    // double-cast value — identical comparisons to the raw column, which
    // Spark would implicitly cast against the double edge literals.
    val bin = (1 until bins).foldRight(lit(bins - 1)) { case (i, acc) =>
      when(col("_v") < edges(i), lit(i - 1)).otherwise(acc)
    }.cast("int")
    vals.groupBy(bin.as("bin"))
      .agg(sum("_cnt").cast("long").as("cnt"))
      .select(col("bin"),
        element_at(typedLit(edges), col("bin") + 1).as("lo"),
        element_at(typedLit(edges), col("bin") + 2).as("hi"),
        col("cnt"))
  }

  /** Z-score standardization of `cols`: (x - mean) / stddev_samp, the
    * feature-scaling transform of a training pipeline. One tiny
    * moments-agg row broadcast back over the data — never a window over
    * an unpartitioned frame (which would single-task the table). Appends
    * `z_<col>` columns; a constant column (std = 0) yields null. */
  def zscore(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap(c =>
      Seq(avg(col(c)).as(s"__m_$c"), stddev_samp(col(c)).as(s"__s_$c")))
    val moments = df.agg(aggs.head, aggs.tail: _*)
    val out = df.crossJoin(broadcast(moments))
    // nullified zero divisor: a constant column z-scores to null rather
    // than tripping ANSI division-by-zero
    val zCols = cols.map(c =>
      ((col(c) - col(s"__m_$c")) /
        when(col(s"__s_$c") =!= 0.0, col(s"__s_$c"))).as(s"z_$c"))
    out.select(df.columns.map(col) ++ zCols: _*)
  }

  /** Categorical association between two columns — the chi-square
    * statistic, Cramér's V, and BOTH directions of Theil's uncertainty
    * coefficient U, from ONE contingency pass (the pandas-profiling-
    * class "association matrix" cell the per-column describe ladder
    * cannot see).
    *
    * Shape: the only full scan is the `groupBy(a, b).count` building the
    * contingency cells; everything downstream (marginals via windows,
    * the closing aggregate) runs over the |A|·|B|-cell frame, which is
    * bounded by category cardinalities, not rows — the audited
    * bounded-frame window category (the global-sum window single-tasks a
    * frame of at most a few thousand cells, never the table).
    *
    * Identities used so ABSENT cells need no generation:
    *   chi2 = Σ_cells o²/e − n            (zero cells contribute 0 to o²/e)
    *   H(A) = −Σ_cells (o/n)·ln(n_a/n)    (Σ_{b|a} o = n_a)
    *   H(A|B) = −Σ_cells (o/n)·ln(o/n_b)
    *   U(A|B) = (H(A) − H(A|B)) / H(A)    (null when H(A) = 0)
    * Cramér's V = sqrt(chi2 / (n·(min(R,C)−1))), null for a 1×C or R×1
    * table (no association is defined). Null values in either column are
    * excluded (pairwise-complete, matching `corr`). One output row. */
  def association(df: DataFrame, a: String, b: String): DataFrame = {
    val cells = df
      .filter(col(a).isNotNull && col(b).isNotNull)
      .groupBy(col(a).cast("string").as("_a"), col(b).cast("string").as("_b"))
      .agg(count(lit(1)).cast("double").as("o"))
    val enriched = cells
      .withColumn("n_a", sum("o").over(Window.partitionBy("_a")))
      .withColumn("n_b", sum("o").over(Window.partitionBy("_b")))
      .withColumn("n", sum("o").over(Window.partitionBy()))
    val hA = -sum(col("o") / col("n") * log(col("n_a") / col("n")))
    val hB = -sum(col("o") / col("n") * log(col("n_b") / col("n")))
    val hAgB = -sum(col("o") / col("n") * log(col("o") / col("n_b")))
    val hBgA = -sum(col("o") / col("n") * log(col("o") / col("n_a")))
    enriched.agg(
        max("n").as("nd"),
        countDistinct("_a").as("r_levels"),
        countDistinct("_b").as("c_levels"),
        (sum(col("o") * col("o") / (col("n_a") * col("n_b") / col("n"))) -
          max("n")).as("chi2"),
        hA.as("h_a"), hB.as("h_b"), hAgB.as("h_a_given_b"), hBgA.as("h_b_given_a"))
      .select(
        lit(a).as("col_a"), lit(b).as("col_b"),
        col("nd").cast("long").as("n"),
        col("r_levels"), col("c_levels"),
        col("chi2"),
        when(least(col("r_levels"), col("c_levels")) > 1,
          sqrt(col("chi2") / (col("nd") * (least(col("r_levels"), col("c_levels")) - 1))))
          .as("cramers_v"),
        when(col("h_a") > 0, (col("h_a") - col("h_a_given_b")) / col("h_a"))
          .as("theil_u_ab"),
        when(col("h_b") > 0, (col("h_b") - col("h_b_given_a")) / col("h_b"))
          .as("theil_u_ba"))
  }

  /** Benford first-significant-digit census of a numeric column — the
    * classic fabricated-data / unit-mix validation screen. The digit is
    * the first `[1-9]` character of the value's string form, which is
    * notation-independent (a scientific-notation mantissa starts with
    * the first significant digit, fixed notation reaches it after any
    * sign/zeros) and avoids the cross-engine ULP hazard of a
    * log10/pow round trip near exact powers of ten. Zeros, nulls, NaN
    * and infinities are excluded (no first significant digit). One
    * groupBy over ≤9 keys; expected frequency is log10(1 + 1/d).
    * Returns (digit, cnt, obs_p, exp_p, dev) ordered by digit. */
  def benfordDigits(df: DataFrame, c: String): DataFrame = {
    val v = col(c).cast("double")
    val digits = df
      .filter(v.isNotNull && !isnan(v) && v =!= 0.0 &&
        v =!= Double.PositiveInfinity && v =!= Double.NegativeInfinity)
      .select(regexp_extract(v.cast("string"), "[1-9]", 0).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("cnt"))
    val withTotal = digits.withColumn("total", sum("cnt").over(Window.partitionBy()))
    withTotal.select(
        col("digit"), col("cnt"),
        (col("cnt") / col("total")).as("obs_p"),
        (log(lit(1.0) + lit(1.0) / col("digit")) / log(lit(10.0))).as("exp_p"))
      .withColumn("dev", col("obs_p") - col("exp_p"))
      .orderBy("digit")
  }

  /** Exponential time-decay aggregation: per-key recency-weighted sum
    * Σ value·2^(−Δt/halfLife) against the frame's latest timestamp —
    * the standard engagement/recency feature, computed as ONE hash
    * aggregation (the decayed sum is a plain weighted sum once the
    * reference instant is fixed; no sequential recursion, no window).
    * The reference is the global max timestamp (1-row broadcast), so
    * scores are comparable across keys and reproducible by any engine.
    * All time arithmetic stays in integral MICROSECONDS until the one
    * final multiply by the decay constant — no seconds-vs-micros float
    * bridge for an oracle to diverge on. Null timestamps/values are
    * excluded. Returns (keyCol, n_events, decayed_sum, last_seen_us). */
  def decayedSum(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, halfLifeDays: Double): DataFrame = {
    require(halfLifeDays > 0, s"half-life must be positive, got $halfLifeDays")
    val lambdaUs = math.log(2.0) / (halfLifeDays * 86400.0 * 1e6)
    val ref = df.agg(max(unix_micros(col(tsCol))).as("__ref_us"))
    df.filter(col(tsCol).isNotNull && col(valueCol).isNotNull)
      .crossJoin(broadcast(ref))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        sum(col(valueCol) *
          exp(lit(-lambdaUs) * (col("__ref_us") - unix_micros(col(tsCol)))))
          .as("decayed_sum"),
        max(unix_micros(col(tsCol))).as("last_seen_us"))
  }

  /** SQL-injectable decay constant for [[decayedSum]] oracles: the
    * EXACT double the Spark plan uses, rendered so an independent
    * engine parses the identical literal. */
  def decayLambdaUs(halfLifeDays: Double): String =
    (math.log(2.0) / (halfLifeDays * 86400.0 * 1e6)).toString

  /** Functional-dependency check det → dep: does every value of `det`
    * map to exactly one value of `dep`? The discovery primitive behind
    * "these two columns are redundant" profiler warnings and schema-
    * normalization advice. One hash aggregation keyed by `det` (per-det
    * distinct-dep counts), then a tiny closing agg — the per-group
    * distinct state is bounded by the dep values under one det, never
    * the table. Null dets are excluded (no determinant); null deps
    * count as a branch value like any other. Returns one row:
    * (det, dep, n_det, n_violating, max_branch, fd_holds) where
    * n_violating = dets mapping to >1 dep and max_branch is the widest
    * fan-out. */
  def functionalDependency(df: DataFrame, det: String, dep: String): DataFrame =
    df.filter(col(det).isNotNull)
      .groupBy(col(det))
      .agg(countDistinct(col(dep)).as("__nb"))
      .agg(count(lit(1)).as("n_det"),
        sum(when(col("__nb") > 1, 1L).otherwise(0L)).as("n_violating"),
        max("__nb").as("max_branch"))
      .select(lit(det).as("det"), lit(dep).as("dep"), col("n_det"),
        col("n_violating"), col("max_branch"),
        (col("n_violating") === 0).as("fd_holds"))

  /** Candidate-key check: is the column set `cols` unique over the
    * frame? count vs distinct-count in one aggregation pair. Returns
    * one row (key_cols, n_rows, n_distinct, n_dup_rows, is_key);
    * `label` names the frame in unioned multi-table censuses. */
  def keyCandidate(df: DataFrame, cols: Seq[String], label: String): DataFrame = {
    require(cols.nonEmpty, "keyCandidate needs at least one column")
    // rows with a null key part are excluded EXPLICITLY (a null can
    // never identify a row); without the filter Spark's multi-column
    // countDistinct would skip them silently while n_rows counted them
    df.na.drop("any", cols)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col(cols.head), cols.tail.map(col): _*).as("n_distinct"))
      .select(lit(label).as("table_name"),
        lit(cols.mkString(",")).as("key_cols"),
        col("n_rows"), col("n_distinct"),
        (col("n_rows") - col("n_distinct")).as("n_dup_rows"),
        (col("n_rows") === col("n_distinct")).as("is_key"))
  }

  /** Basket co-occurrence (market-basket association): unordered item
    * pairs sharing a basket, with pair counts and LIFT
    * p(ab)/(p(a)·p(b)) over the basket universe. Pairs are expanded
    * per row from the basket's sorted item array ([[basketPairs]] — no
    * self-join; per-basket fan-out is C(width, 2), bounded by basket
    * size, never corpus²). The [[basketItems]] substrate feeds every
    * consumer (pairs, per-item counts, the basket total), so it is
    * materialized ONCE — the recompute-diamond rule
    * [[Fuzzy.fuzzyPairs]] documents for its distinct-string table.
    * This replaced a (basket, item) long form whose pair pass was a
    * self-equi-join: 4× the substrate rows and two fact-sized
    * exchanges per pass, the measured third-decade memory-cliff driver
    * (BASELINE.md round 13). `minCount` prunes pairs before the
    * per-item-count join, keeping that join proportional to frequent
    * pairs. Lift is computed in the probability form
    * (n_ab/N)/((n_a/N)·(n_b/N)) — pure double ops an oracle replays
    * literally. Returns (item_a, item_b, n_baskets, lift) with
    * item_a < item_b. */
  def coOccurrence(df: DataFrame, basketCol: String, itemCol: String,
      minCount: Long,
      pruneMassThreshold: Double = defaultPruneMassThreshold,
      pruneBroadcastCap: Long = defaultPruneBroadcastCap): DataFrame = {
    val arrays = basketItems(df, basketCol, itemCol)
    coOccurrenceOver(arrays, substrateStats(arrays), minCount,
      pruneMassThreshold, pruneBroadcastCap)
  }

  /** [[coOccurrence]] body over a prebuilt [[basketItems]] substrate.
    * `stats` is the (basket count, expansion cardinality) pair from
    * [[substrateStats]] — resolved by the caller with ONE action, and
    * the basket-universe total reaches the lift arithmetic as a
    * LITERAL — the one-row `totals` aggregate + `crossJoin(broadcast)`
    * subtree it replaces cost an extra aggregation subtree and a
    * broadcast exchange in every run (r17: one less exchange, same
    * values — the literal is the identical Long the subtree produced).
    * The stats pass itself reads the checkpointed blocks, never the
    * source scan. */
  private def coOccurrenceOver(arrays: DataFrame, stats: SubStats,
      minCount: Long, pruneMassThreshold: Double,
      pruneBroadcastCap: Long): DataFrame = {
    // distinct-item-sized, feeds THREE consumers (the prune decision +
    // both lift joins) — materialized once, like the arrays substrate
    val itemCounts = arrays.select(explode(col("its")).as("i"))
      .groupBy(col("i")).agg(count(lit(1)).as("n_i"))
      .barrier()
    val bigN = lit(stats.nBaskets).cast("long")
    val pairs = pairCounts(frequentItemArrays(
        arrays, itemCounts, minCount, pruneMassThreshold, pruneBroadcastCap),
        stats, minCount)
      .select(col("ia").as("item_a"), col("ib").as("item_b"),
        col("n_ab").as("n_baskets"))
    pairs
      .join(itemCounts.select(col("i").as("item_a"), col("n_i").as("n_a")), "item_a")
      .join(itemCounts.select(col("i").as("item_b"), col("n_i").as("n_b")), "item_b")
      .select(col("item_a"), col("item_b"), col("n_baskets"),
        ((col("n_baskets") / bigN) /
          ((col("n_a") / bigN) * (col("n_b") / bigN))).as("lift"))
  }

  /** The shared Apriori substrate: one row per basket holding its
    * SORTED distinct item array — materialized once (localCheckpoint)
    * for the multi-consumer diamond, like the (basket, item) long form
    * it replaced, but |baskets| rows instead of |basket,item| rows and
    * with pair/triple generation turned from SELF-JOINS over the long
    * form (two 600M-row exchanges per pass at sf≈100, the measured
    * memory-cliff driver in BASELINE.md round 13) into NARROW per-row
    * array expansion over the checkpointed frame. Per-basket fan-out is
    * C(width, 2) — bounded by basket width exactly as the join form was
    * (a join on the basket key concentrates a pathological basket in
    * one task either way); baskets are order-line-sized by contract. */
  private def basketItems(df: DataFrame, basketCol: String,
      itemCol: String): DataFrame =
    df.filter(col(basketCol).isNotNull && col(itemCol).isNotNull)
      .groupBy(col(basketCol).as("b"))
      .agg(sort_array(collect_set(col(itemCol))).as("its"))
      .barrier()

  /** Level-1 Apriori prune (downward closure on ITEMS): an item in
    * fewer than `minCount` baskets cannot appear in any frequent pair
    * or triple, so it can be dropped from the pair-generation arrays
    * before the C(width, 2) expansion. The prune is NOT free — it pays
    * an explode, a semi join and a collect_set re-grouping over the
    * whole (basket, item) long form — so the adaptive decision weighs
    * its payoff: [[pruneSurvivorCount]] (one small agg over the
    * item-count frame, which the Apriori callers already materialize)
    * reads the share of long-form rows held by infrequent items,
    * and the prune engages only when that share reaches
    * [[pruneMassThreshold]] and the SURVIVOR set fits a driver
    * broadcast ([[pruneBroadcastCap]]). The prune itself is a
    * SHUFFLE-FREE per-row array filter against the broadcast survivor
    * set — basket-width hash probes per row, no explode, no join, no
    * re-grouping. That shape matters: a first implementation that
    * pruned by semi join + collect_set regroup over the exploded long
    * form MEASURED 1.5–1.7× SLOWER than pass-through on a 60M-row
    * Zipf(1.2) corpus (the reshuffle dwarfed the expansion cut), while
    * this mapper form measures −23%/−29% (rules/triples) at 16% tail
    * mass and −51%/−49% at 56% — lossless at every point (BASELINE.md
    * round 14). When every item is frequent (re-keyed synthetic
    * corpora) the substrate passes through untouched. Basket-universe
    * counts (__N) and per-item counts must be read from the UNPRUNED
    * frames — pruning drops items, never baskets, so lift/support
    * denominators stay exact. */
  private def frequentItemArrays(arrays: DataFrame, itemCounts: DataFrame,
      minCount: Long, massThreshold: Double, broadcastCap: Long): DataFrame =
    pruneSurvivorCount(itemCounts, minCount, massThreshold, broadcastCap) match {
      case None => arrays
      case Some(_) =>
        val survivors = itemCounts.filter(col("n_i") >= minCount)
          .select("i").collect().map(_.get(0))
        val elemType = arrays.schema("its").dataType
          .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
        survivorFilter(elemType, survivors)
          .map(fn => arrays.withColumn("its", fn(col("its"))))
          .getOrElse(arrays) // exotic item type: pass through, never wrong
    }

  /** The level-1 prune DECISION, factored out so a spec can assert the
    * prune actually engages on a given substrate (VERDICT r14 #2: the
    * oracle-gated skew query must be proven to exercise the prune path,
    * not just pass). One aggregate over the distinct-item-sized count
    * frame — deleted mass, total mass, survivor count — returning
    * Some(survivor count) exactly when [[frequentItemArrays]] filters,
    * None when it passes through (nothing to delete, tail mass below
    * the threshold, or a survivor set too large to broadcast). */
  private[graft] def pruneSurvivorCount(itemCounts: DataFrame, minCount: Long,
      massThreshold: Double, broadcastCap: Long): Option[Long] = {
    if (minCount <= 1 || massThreshold > 1.0) return None
    // ONE decision agg: deleted mass, total mass, survivor count
    val m = itemCounts.agg(
      coalesce(sum(when(col("n_i") < minCount, col("n_i"))), lit(0L)),
      coalesce(sum(col("n_i")), lit(0L)),
      count(when(col("n_i") >= minCount, lit(1)))).first()
    val (tail, tot, nSurvivors) = (m.getLong(0), m.getLong(1), m.getLong(2))
    val f = if (tot == 0L) 0.0 else tail.toDouble / tot
    if (f == 0.0 || f < massThreshold || nSurvivors > broadcastCap) None
    else Some(nSurvivors)
  }

  /** Typed per-row array filter against a broadcast survivor set — the
    * shuffle-free core of the level-1 prune. Specialized per element
    * type because a Scala UDF needs a concrete signature; an
    * unsupported item type returns None (the caller passes through).
    * The set rides the closure, which Spark ships once per executor
    * through the task-binary broadcast; per row the cost is
    * basket-width hash probes. */
  private def survivorFilter(elemType: org.apache.spark.sql.types.DataType,
      survivors: Array[Any]): Option[Column => Column] = {
    import org.apache.spark.sql.types._
    elemType match {
      case StringType =>
        val s = survivors.map(_.asInstanceOf[String]).toSet
        val f = udf((its: Seq[String]) => its.filter(s.contains))
        Some((c: Column) => f(c))
      case LongType =>
        val s = survivors.map(_.asInstanceOf[Long]).toSet
        val f = udf((its: Seq[Long]) => its.filter(s.contains))
        Some((c: Column) => f(c))
      case IntegerType =>
        val s = survivors.map(_.asInstanceOf[Int]).toSet
        val f = udf((its: Seq[Int]) => its.filter(s.contains))
        Some((c: Column) => f(c))
      case ShortType =>
        val s = survivors.map(_.asInstanceOf[Short]).toSet
        val f = udf((its: Seq[Short]) => its.filter(s.contains))
        Some((c: Column) => f(c))
      case DoubleType =>
        val s = survivors.map(_.asInstanceOf[Double]).toSet
        val f = udf((its: Seq[Double]) => its.filter(s.contains))
        Some((c: Column) => f(c))
      case _ => None
    }
  }

  /** Default survivor-set size cap for the level-1 prune: above this
    * the driver-side collect + per-executor set stops being "free" (1M
    * long/string keys ≈ tens of MB) and the prune passes through. A
    * corpus whose FREQUENT item set exceeds 1M distinct items while
    * the infrequent tail still holds the majority of row mass is not a
    * shape the prune targets. Per-call knob on the Apriori family
    * (`pruneBroadcastCap`); this is only the default. */
  private[graft] val defaultPruneBroadcastCap: Long = 1L * 1000 * 1000

  /** Default minimum infrequent row-mass fraction at which the
    * adaptive level-1 prune engages. The mapper-form prune measured a
    * WIN at every point tried (−23% at 16% tail mass, −51% at 56% —
    * round-14 Zipf table in BASELINE.md), so the floor only guards the
    * fixed costs — the decision agg and the survivor-set collect —
    * against corpora where there is almost nothing to delete: below
    * ~5% of row mass the expansion cut cannot repay collecting up to
    * [[defaultPruneBroadcastCap]] survivors. The knob is a PER-CALL
    * parameter on the Apriori family (r14 shipped it as a
    * session-global `@volatile var`, which let concurrent sessions
    * observe each other's bench overrides — VERDICT r14 #6): scale
    * harnesses pass 0.0 (engage whenever anything can prune) or 2.0
    * (never engage) to measure both arms with everything else held
    * fixed; production callers take this default. Either way the
    * family returns exactly the same frequent sets — the prune is a
    * pure no-loss rewrite by downward closure. */
  private[graft] val defaultPruneMassThreshold: Double = 0.05

  /** The driver-side scalars every Apriori run needs, from ONE pass
    * over the checkpointed |baskets|-row substrate: the basket-universe
    * count (the support/lift denominator and the relative-support
    * resolver), the exact pair-expansion cardinality Σ C(width, 2)
    * (feeds [[aggWidth]]), and — for integral item types — the global
    * item value range, which decides whether the pair passes may ride
    * the lossless packed-long key (r18, see [[basketPairsPacked]]).
    * Until r17 the first two were two separate actions — `arrays.count()`
    * plus a dedicated cardinality agg — i.e. two full passes over the
    * substrate per query; one narrow agg resolves everything (the range
    * min/max are two more agg columns on the SAME pass, reading the
    * ends of each basket's already-sorted array — no extra action).
    * The cardinality is measured on the UNPRUNED substrate: when the
    * level-1 prune engages it only deletes rows from the expansion, so
    * the width [[aggWidth]] derives from it is a conservative (never
    * undersized) bound and the prune no longer costs a dedicated
    * re-scan of the pruned lineage just to size the exchange. The range
    * too is measured unpruned — the prune only removes items, so the
    * packing window stays valid for every surviving pair. */
  private case class SubStats(nBaskets: Long, expRows: Long, packable: Boolean)

  private def substrateStats(arrays: DataFrame): SubStats = {
    import org.apache.spark.sql.types._
    val elemType = arrays.schema("its").dataType
      .asInstanceOf[ArrayType].elementType
    val integral = elemType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    if (!integral) {
      val r = arrays.agg(
        count(lit(1)),
        coalesce(sum(
          expr("CAST(size(its) AS BIGINT) * (size(its) - 1) div 2")), lit(0L)))
        .first()
      SubStats(r.getLong(0), r.getLong(1), packable = false)
    } else {
      // the arrays are sorted, so the basket-local extrema are its ends;
      // array_min/array_max stay null-safe should a width-0 array ever
      // appear (they scan a basket-width array — noise next to the
      // C(w,2) term in the same projection)
      val r = arrays.agg(
        count(lit(1)),
        coalesce(sum(
          expr("CAST(size(its) AS BIGINT) * (size(its) - 1) div 2")), lit(0L)),
        min(array_min(col("its")).cast("long")),
        max(array_max(col("its")).cast("long")))
        .first()
      val packable = !r.isNullAt(2) && r.getLong(2) >= 0L &&
        r.getLong(3) < (1L << 32)
      SubStats(r.getLong(0), r.getLong(1), packable)
    }
  }

  /** Per-task group budget for the exact pair/triple aggregations:
    * ~4M mostly-unique (long, long) keys keep a task's hash-agg map in
    * the hundreds of MB — comfortably inside executor memory — so the
    * aggregation never silently falls back to sort-based spilling. */
  private val aggGroupsPerTask = 4L * 1000 * 1000

  /** Data-derived exchange width for an aggregation whose group count
    * can approach its input rows (the Apriori pair/triple counts: the
    * expansion is quadratic in basket width, so its cardinality can
    * dwarf the substrate the session's shuffle width was sized for).
    * The round-13 third decade measured the failure: ~850M pair groups
    * over 16 shuffle partitions = ~53M groups per task, silently
    * falling back to sort-based aggregation on BOTH sides of the
    * exchange — linear work turned into a memory-hierarchy log factor
    * (BASELINE.md round 13). Returns Some(width) only when `rows`
    * exceeds the session width's budget; None leaves the plan exactly
    * as the optimizer built it (small corpora pay nothing — no
    * repartition node, no behavior change). Callers hash-partition the
    * expansion on its grouping keys at this width, which the final agg
    * reuses (the distribution is already satisfied, no second
    * exchange). The trade: the exchange moves raw pair rows instead of
    * map-side-combined ones — a loss only when duplication is high AND
    * the group count still exceeds the budget, and strictly smaller
    * than the double sort-spill it prevents. Capped at 65536 — at that
    * width per-task state is tiny and more partitions only add
    * scheduling overhead. */
  private def aggWidth(spark: SparkSession, rows: Long): Option[Int] = {
    val default = spark.sessionState.conf.numShufflePartitions
    val need = math.ceil(rows.toDouble / aggGroupsPerTask).toLong
    if (need <= default) None else Some(math.min(need, 65536L).toInt)
  }

  /** Frequent-pair counts (ia, ib, n_ab with ia < ib, n_ab ≥ minCount)
    * over a (possibly pruned) substrate — the shared pair pass of
    * [[coOccurrenceOver]] and [[associationRulesOver]], hash-partitioned
    * wider when the expansion cardinality calls for it ([[aggWidth]]).
    * When [[substrateStats]] proved the item range packable, the
    * expansion emits ONE packed long per pair and the count aggregates
    * (and any widening exchange moves) 8-byte keys; the typed items are
    * restored by exact bit unpacking AFTER the agg, on the bounded
    * frequent-pair frame (r18, guide §2.3 "narrower types" — the packing
    * is a bijection on the proven domain, so groups, counts and the
    * restored values are identical to the struct form's). */
  private def pairCounts(arrays: DataFrame, stats: SubStats,
      minCount: Long): DataFrame = {
    val w = aggWidth(arrays.sparkSession, stats.expRows)
    if (stats.packable) {
      val packed = basketPairsPacked(arrays)
      val shaped = w.map(x => packed.repartition(x, col("pk"))).getOrElse(packed)
      val counted = shaped.groupBy(col("pk"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= minCount)
      val elemType = arrays.schema("its").dataType
        .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
      counted.select(
        shiftrightunsigned(col("pk"), 32).cast(elemType).as("ia"),
        col("pk").bitwiseAND(lit(0xFFFFFFFFL)).cast(elemType).as("ib"),
        col("n_ab"))
    } else {
      val pairs = basketPairs(arrays)
      val shaped = w.map(x => pairs.repartition(x, col("ia"), col("ib")))
        .getOrElse(pairs)
      shaped.groupBy(col("ia"), col("ib"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= minCount)
    }
  }

  /** (b, ia, ib) with ia < ib — every unordered in-basket pair, expanded
    * per row from the sorted array (codegen'd collection expressions,
    * no join). Cheap to derive more than once from the checkpointed
    * [[basketItems]] frame. NOT widened via [[Parallelize.cpuBound]]:
    * the expansion is CPU-dense on a byte-small input (AQE coalesces
    * the checkpoint to ~4 of 32 local cores), but the r17 A/B measured
    * the widened form a net LOSS — wall a wash (13.0 s vs 13.0 s over
    * the six bench queries) while total CPU TRIPLED (2.7 → 9.6 s on
    * the copurchase expansion stage: the extra exchange deserializes
    * every basket array and 32 concurrent explode+hash-agg tasks pay
    * allocation contention), and CPU is exactly what the low-core
    * scaling bench and a saturated cluster price. */
  private def basketPairs(arrays: DataFrame): DataFrame =
    arrays.select(col("b"), explode(expr(
        """flatten(transform(its, (x, i) ->
          |  transform(slice(its, i + 2, size(its)),
          |            y -> named_struct('ia', x, 'ib', y))))""".stripMargin))
        .as("p"))
      .select(col("b"), col("p.ia").as("ia"), col("p.ib").as("ib"))

  /** [[basketPairs]] with the pair packed into ONE long —
    * `pk = (ia << 32) | ib` — emitted straight from the expansion
    * lambda (r18). Valid exactly when [[substrateStats]] proved every
    * item lies in [0, 2³²): the two 32-bit halves then hold ia and ib
    * losslessly (shifts/ORs are pure bit ops — no ANSI overflow, and a
    * pk whose high bit is set is merely negative, still unique), so
    * packing is a BIJECTION and `ia < ib` still generates each
    * unordered pair exactly once. Downstream the pair agg hashes and
    * shuffles an 8-byte primitive instead of a 16-byte two-field
    * struct, and the expansion emits a primitive-long array — no
    * per-pair struct allocation inside the hot C(w, 2) lambda (guide
    * §2.3: narrower types / shuffle fewer bytes). Items above the
    * window (e.g. synthetic 64-bit keys) or signed fall back to the
    * struct form — never wrong, just wider. */
  private def basketPairsPacked(arrays: DataFrame): DataFrame =
    arrays.select(col("b"), explode(expr(
        """flatten(transform(its, (x, i) ->
          |  transform(slice(its, i + 2, size(its)),
          |            y -> shiftleft(CAST(x AS BIGINT), 32) | CAST(y AS BIGINT))))""".stripMargin))
        .as("pk"))

  /** Market concentration per group: the Herfindahl–Hirschman index
    * Σ share² over each group's members (1/n_members for perfect
    * balance, 1.0 for a monopoly) — the standard skew/dependency screen
    * for "is this nation's revenue one customer?" questions, which also
    * flags partition-key hot spots before they become shuffle skew.
    * Shape: one hash agg to (group, member) totals, member shares via a
    * per-group window over that aggregated frame (bounded by members
    * per group, the standard grouped shape), one closing agg. Returns
    * (groupCol, n_members, total, hhi). */
  def concentration(df: DataFrame, groupCol: String, memberCol: String,
      valueCol: String): DataFrame = {
    val mv = df
      .filter(col(groupCol).isNotNull && col(memberCol).isNotNull)
      .groupBy(col(groupCol), col(memberCol))
      .agg(sum(col(valueCol)).as("__x"))
    // ANSI guard: a group whose member values sum to exactly 0 (possible
    // with signed values) must yield null hhi, not DIVIDE_BY_ZERO.
    val tot0 = when(col("__tot") =!= 0, col("__tot"))
    mv.withColumn("__tot", sum("__x").over(Window.partitionBy(groupCol)))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_members"),
        max("__tot").as("total"),
        sum((col("__x") / tot0) * (col("__x") / tot0)).as("hhi"))
  }

  /** Per-group GINI coefficient of `valueCol` over members — the
    * inequality companion to [[concentration]] (HHI weighs the top;
    * Gini reads the whole curve: 0 = perfect equality, →1 = one member
    * holds everything). Computed from the rank-sum identity
    * G = 2·Σ rank·x / (n·Σx) − (n+1)/n with ranks assigned by the
    * TOTAL order (value, member) — tied values permute freely without
    * changing Σ rank·x, so the result is deterministic and an oracle
    * replays it with the same row_number. The rank window runs per
    * group over the (group, member) aggregate frame (bounded by one
    * group's members, the standard grouped shape). Negative values are
    * the caller's concern (Gini is defined for non-negative x).
    * Returns (groupCol, n_members, gini); a single-member group reads
    * 0 by the identity. */
  def gini(df: DataFrame, groupCol: String, memberCol: String,
      valueCol: String): DataFrame = {
    val mv = df
      .filter(col(groupCol).isNotNull && col(memberCol).isNotNull)
      .groupBy(col(groupCol), col(memberCol))
      .agg(sum(col(valueCol)).as("__x"))
    val w = Window.partitionBy(groupCol).orderBy(col("__x"), col(memberCol))
    mv.withColumn("__rk", row_number().over(w))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_members"),
        sum("__x").as("__sx"),
        sum(col("__rk") * col("__x")).as("__srx"))
      .select(col(groupCol), col("n_members"),
        // ANSI guard: an all-zero (or canceling) group has Σx = 0; the
        // identity is undefined there, so emit null instead of aborting.
        ((lit(2) * col("__srx")) /
            when(col("__sx") =!= 0, col("n_members") * col("__sx")) -
          (col("n_members") + 1) / col("n_members")).as("gini"))
  }

  /** Association RULES over basket co-occurrence — [[coOccurrence]]'s
    * directional completion: every frequent pair emits BOTH rules
    * a→b and b→a with support n_ab/N, confidence n_ab/n_antecedent and
    * the (symmetric) lift. The standard market-basket readout; rules
    * are what recommenders and cross-sell screens consume, and
    * confidence is direction-sensitive where lift is not. Same
    * scale shape as the pair pass — pairs meet only inside baskets,
    * item counts broadcast-join back. */
  def associationRules(df: DataFrame, basketCol: String, itemCol: String,
      minCount: Long,
      pruneMassThreshold: Double = defaultPruneMassThreshold,
      pruneBroadcastCap: Long = defaultPruneBroadcastCap): DataFrame = {
    val arrays = basketItems(df, basketCol, itemCol)
    associationRulesOver(arrays, substrateStats(arrays), minCount,
      pruneMassThreshold, pruneBroadcastCap)
  }

  /** [[associationRules]] body over a prebuilt substrate — same literal-
    * totals rewrite as [[coOccurrenceOver]] (one less aggregation
    * subtree + broadcast exchange; bit-identical arithmetic). */
  private def associationRulesOver(arrays: DataFrame, stats: SubStats,
      minCount: Long, pruneMassThreshold: Double,
      pruneBroadcastCap: Long): DataFrame = {
    // three consumers (prune decision + both rule-direction joins):
    // materialized once — see coOccurrence
    val itemCounts = arrays.select(explode(col("its")).as("i"))
      .groupBy(col("i")).agg(count(lit(1)).as("n_i"))
      .barrier()
    val bigN = lit(stats.nBaskets).cast("long")
    val pairs = pairCounts(frequentItemArrays(
        arrays, itemCounts, minCount, pruneMassThreshold, pruneBroadcastCap),
        stats, minCount)
    val directed = pairs.select(col("ia").as("antecedent"),
        col("ib").as("consequent"), col("n_ab"))
      .unionAll(pairs.select(col("ib"), col("ia"), col("n_ab")))
    directed
      .join(itemCounts.select(col("i"), col("n_i").as("n_ante")),
        col("antecedent") === col("i")).drop("i")
      .join(itemCounts.select(col("i"), col("n_i").as("n_cons")),
        col("consequent") === col("i")).drop("i")
      .select(col("antecedent"), col("consequent"), col("n_ab"),
        (col("n_ab") / bigN.cast("double")).as("support"),
        (col("n_ab") / col("n_ante").cast("double")).as("confidence"),
        ((col("n_ab") * bigN.cast("double")) /
          (col("n_ante") * col("n_cons"))).as("lift"))
  }

  /** Frequent 3-itemsets with one Apriori candidate-pruning step
    * (Agrawal & Srikant 1994, downward closure): a triple can reach
    * `minCount` support only if all three of its pairs do, so
    * candidates extend FREQUENT pairs only — (a,b) frequent, extended
    * by basket-mates c > b (a narrow array filter off the basket's
    * sorted item array), kept when (a,c) and (b,c) are frequent too,
    * then support-counted. At 100 TB the prune is the difference
    * between |frequent pairs|·width and |baskets|·width³ candidate
    * rows; the remaining joins key on the basket id (the one
    * occ→arrays extension join) or on the bounded frequent-pair set
    * (left-semi). Pair generation itself is join-free (see
    * [[basketItems]]). The unpruned ground truth is what the oracle
    * computes — downward closure guarantees the pruned plan reproduces
    * it exactly. */
  def frequentTriples(df: DataFrame, basketCol: String, itemCol: String,
      minCount: Long,
      pruneMassThreshold: Double = defaultPruneMassThreshold,
      pruneBroadcastCap: Long = defaultPruneBroadcastCap): DataFrame = {
    val arrays = basketItems(df, basketCol, itemCol)
    frequentTriplesOver(arrays, substrateStats(arrays), minCount,
      pruneMassThreshold, pruneBroadcastCap)
  }

  /** [[frequentTriples]] body over a prebuilt substrate (the relative-
    * support wrapper resolves its threshold from the same checkpointed
    * frame instead of a second source scan — r17). `expRows` is the
    * expansion cardinality from [[substrateStats]], resolved by the
    * caller in the same action as the basket count. */
  private def frequentTriplesOver(arrays0: DataFrame, stats: SubStats,
      minCount: Long,
      pruneMassThreshold: Double, pruneBroadcastCap: Long): DataFrame = {
    val itemCounts0 = arrays0.select(explode(col("its")).as("i"))
      .groupBy(col("i")).agg(count(lit(1)).as("n_i"))
    // here itemCounts feeds only the prune, which reads it twice
    // (decision agg + survivor collect) — materialize once when the
    // prune can engage, stay lazy (zero cost) when it cannot
    val itemCounts =
      if (minCount > 1 && pruneMassThreshold <= 1.0) itemCounts0.barrier()
      else itemCounts0
    val arrays = frequentItemArrays(
      arrays0, itemCounts, minCount, pruneMassThreshold, pruneBroadcastCap)
    // one data-derived width covers the pair agg, the fp semi join,
    // and the candidate-triple agg (candidates are the same order of
    // magnitude as frequent-pair occurrences); identical exchanges are
    // deduplicated by ReuseExchange
    val w = aggWidth(arrays.sparkSession, stats.expRows)
    if (stats.packable) {
      // packed-key shape (r18): the pair census, the frequent-pair set,
      // BOTH downward-closure probes and the candidate agg all key
      // 8-byte packed longs — the expansion (run twice off the
      // checkpoint, the measured cheaper-than-materializing form) emits
      // primitive longs, every semi join compares one long, and the
      // candidate agg keys (pk, ic) instead of three typed columns.
      // Packing is a bijection on the proven [0, 2³²) domain, so the
      // groups and counts are identical to the struct form's.
      val elemType = arrays0.schema("its").dataType
        .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
      val pairsB0 = basketPairsPacked(arrays)
      val pairsB = w.map(x => pairsB0.repartition(x, col("pk")))
        .getOrElse(pairsB0)
      val fp = pairsB
        .groupBy(col("pk"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= minCount)
        .select(col("pk").as("fpk"))
        .barrier() // the bounded frequent-pair set, used 3 times
      val occ = pairsB.join(fp, col("pk") === col("fpk"), "left_semi")
      // extend by a third basket-mate (z > ib straight off the basket's
      // sorted array; the long compare equals the typed compare on the
      // proven non-negative domain), prune via the other two pairs —
      // (ia, ic) is pk with its low half swapped for ic, (ib, ic) is
      // pk's low half shifted up with ic in the low half
      val icL = col("ic").cast("long")
      val packAC = col("pk").bitwiseAND(lit(0xFFFFFFFF00000000L)).bitwiseOR(icL)
      val packBC = shiftleft(col("pk").bitwiseAND(lit(0xFFFFFFFFL)), 32)
        .bitwiseOR(icL)
      val cand = occ.join(arrays, "b")
        .select(col("pk"),
          explode(filter(col("its"), z =>
            z.cast("long") > col("pk").bitwiseAND(lit(0xFFFFFFFFL)))).as("ic"))
        .join(fp, packAC === col("fpk"), "left_semi")
        .join(fp, packBC === col("fpk"), "left_semi")
      val candShaped = w.map(x => cand.repartition(x, col("pk"), col("ic")))
        .getOrElse(cand)
      candShaped.groupBy(col("pk"), col("ic"))
        .agg(count(lit(1)).as("n_baskets"))
        .filter(col("n_baskets") >= minCount)
        .select(
          shiftrightunsigned(col("pk"), 32).cast(elemType).as("item_a"),
          col("pk").bitwiseAND(lit(0xFFFFFFFFL)).cast(elemType).as("item_b"),
          col("ic").as("item_c"),
          col("n_baskets"))
    } else {
      val pairsB0 = basketPairs(arrays) // derived narrow, twice, from the checkpoint
      val pairsB = w.map(x => pairsB0.repartition(x, col("ia"), col("ib")))
        .getOrElse(pairsB0)
      val fp = pairsB
        .groupBy(col("ia").as("pa"), col("ib").as("pb"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= minCount)
        .select("pa", "pb")
        .barrier() // the bounded frequent-pair set, used 3 times
      // occurrences of frequent pairs, with their basket retained
      val occ = pairsB
        .join(fp, col("ia") === col("pa") && col("ib") === col("pb"), "left_semi")
      // extend by a third basket-mate (z > ib straight off the basket's
      // sorted array), prune via the other two pairs
      val cand = occ.join(arrays, "b")
        .select(col("ia"), col("ib"),
          explode(expr("filter(its, z -> z > ib)")).as("ic"))
        .join(fp, col("ia") === col("pa") && col("ic") === col("pb"), "left_semi")
        .join(fp, col("ib") === col("pa") && col("ic") === col("pb"), "left_semi")
      val candShaped = w.map(x => cand.repartition(x, col("ia"), col("ib"), col("ic")))
        .getOrElse(cand)
      candShaped.groupBy(col("ia").as("item_a"), col("ib").as("item_b"),
          col("ic").as("item_c"))
        .agg(count(lit(1)).as("n_baskets"))
        .filter(col("n_baskets") >= minCount)
    }
  }

  /** RELATIVE-support parameterizations of the Apriori family — the
    * production form (Agrawal & Srikant define support as a FRACTION of
    * baskets): an absolute `minCount` held fixed while the corpus grows
    * admits ever-more patterns (every pattern's count rises with data),
    * inflating the frequent sets and the candidate joins with them —
    * the scale drift VERDICT r12 #5 anticipated for the third decade.
    * A fraction holds the output (and the candidate-set sizes) stable
    * as the corpus scales. One extra narrow countDistinct pass resolves
    * N baskets; the threshold then delegates to the absolute form, so
    * the two parameterizations cannot diverge. */
  def coOccurrenceBySupport(df: DataFrame, basketCol: String,
      itemCol: String, minSupport: Double,
      pruneMassThreshold: Double = defaultPruneMassThreshold,
      pruneBroadcastCap: Long = defaultPruneBroadcastCap): DataFrame = {
    val arrays = basketItems(df, basketCol, itemCol)
    val stats = substrateStats(arrays)
    coOccurrenceOver(arrays, stats, supportCount(stats.nBaskets, minSupport),
      pruneMassThreshold, pruneBroadcastCap)
  }

  /** See [[coOccurrenceBySupport]]. */
  def associationRulesBySupport(df: DataFrame, basketCol: String,
      itemCol: String, minSupport: Double,
      pruneMassThreshold: Double = defaultPruneMassThreshold,
      pruneBroadcastCap: Long = defaultPruneBroadcastCap): DataFrame = {
    val arrays = basketItems(df, basketCol, itemCol)
    val stats = substrateStats(arrays)
    associationRulesOver(arrays, stats, supportCount(stats.nBaskets, minSupport),
      pruneMassThreshold, pruneBroadcastCap)
  }

  /** See [[coOccurrenceBySupport]]. */
  def frequentTriplesBySupport(df: DataFrame, basketCol: String,
      itemCol: String, minSupport: Double,
      pruneMassThreshold: Double = defaultPruneMassThreshold,
      pruneBroadcastCap: Long = defaultPruneBroadcastCap): DataFrame = {
    val arrays = basketItems(df, basketCol, itemCol)
    val stats = substrateStats(arrays)
    frequentTriplesOver(arrays, stats, supportCount(stats.nBaskets, minSupport),
      pruneMassThreshold, pruneBroadcastCap)
  }

  /** ceil(minSupport · |distinct baskets|), floored at 1. `nBaskets` is
    * the row count of the checkpointed [[basketItems]] substrate —
    * basketItems requires BOTH the basket and the item non-null, so
    * one row per basket of the fraction's universe and the count
    * resolves against exactly the N that the support/lift denominators
    * (and the DuckDB oracles) use. Counting baskets whose every item
    * is null (possible on sparse corpora; not on TPC-H lineitem) would
    * silently raise the resolved threshold above the one the outputs
    * are scored with. Until r17 this was a dedicated
    * `df.filter(...).select(basket).distinct().count()` — a second
    * full source scan plus a two-stage distinct per relative-support
    * query; counting the already-materialized substrate reads only the
    * checkpointed blocks (measured: one scan + distinct exchange gone
    * from each of the four *_support bench queries, same resolved
    * threshold by construction). */
  private def supportCount(nBaskets: Long, minSupport: Double): Long = {
    require(minSupport > 0.0 && minSupport <= 1.0,
      s"minSupport must be in (0, 1], got $minSupport")
    math.max(1L, math.ceil(minSupport * nBaskets).toLong)
  }

  /** Structural pattern census (the classic profiler "mask" view,
    * cf. pandas-profiling/Deequ pattern detection): every string is
    * reduced to its shape — digits→`9`, upper→`A`, lower→`a`, other
    * characters kept — and the masks are counted per column. Three
    * chained `regexp_replace` calls, fully codegen'd; the census is one
    * hash agg per column over a shared scan (same stacked-long-form
    * idiom as [[topValues]]), so adding columns adds no scans. At
    * 100 TB the mask space is tiny (shapes, not values) — the agg
    * output is bounded by distinct FORMATS, making this the cheap
    * first-pass format-drift screen. */
  def patternCensus(df: DataFrame, cols: Seq[String], k: Int): DataFrame = {
    def mask(c: Column): Column =
      regexp_replace(regexp_replace(regexp_replace(
        c.cast("string"), "[0-9]", "9"), "[A-Z]", "A"), "[a-z]", "a")
    val stacked = df.select(explode(array(cols.map(c =>
      struct(lit(c).as("column"), mask(col(c)).as("mask"))): _*)).as("cm"))
      .select("cm.*")
      .filter(col("mask").isNotNull)
    val freq = stacked.groupBy("column", "mask").agg(count(lit(1)).as("cnt"))
    GroupTopK.topK(freq, Seq("column"),
        Seq(col("cnt").desc, col("mask").asc), k, rankCol = "rank")
      .select(col("column"), col("mask"), col("cnt"), col("rank").cast("int").as("rank"))
  }

  /** Top `k` most frequent values per column, long-form
    * (column, value, cnt, rank), values cast to string for a uniform
    * schema. Frequencies are one hash agg per column over a shared scan;
    * the per-column ranking goes through [[GroupTopK]] — the
    * low-cardinality partition key ("column") never becomes a
    * single-task sort of the full frequency table. */
  def topValues(df: DataFrame, cols: Seq[String], k: Int): DataFrame = {
    val stacked = df.select(explode(array(cols.map(c =>
      struct(lit(c).as("column"), col(c).cast("string").as("value"))): _*)).as("cv"))
      .select("cv.*")
      .filter(col("value").isNotNull)
    val freq = stacked.groupBy("column", "value").agg(count(lit(1)).as("cnt"))
    GroupTopK.topK(freq, Seq("column"),
        Seq(col("cnt").desc, col("value").asc), k, rankCol = "rank")
      .select(col("column"), col("value"), col("cnt"), col("rank").cast("int").as("rank"))
  }
}
