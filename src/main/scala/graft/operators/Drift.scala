package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Materialize._

/** Distribution-drift monitoring between two slices of a table (time
  * windows, sources, pipeline versions) — the check that runs before a
  * new crawl batch is allowed into the training mix, extending the
  * reference's single-snapshot profiling (petk exploration.py describes
  * ONE frame; drift compares two).
  *
  * Everything is hash aggregations over binned rows: both slices bin in
  * one pass each, the per-bin histograms are `bins`-sized (collected
  * nowhere), and the PSI reduction is a sum over `bins` rows. The only
  * window runs over the `bins`-sized histogram. No collect, no
  * all-pairs anything, one pass over the data per slice.
  */
object Drift {

  /** Population Stability Index of `valueCol` between the `isBase` slice
    * and its complement, over `bins` equal-width bins spanning the
    * combined [min, max] (fixed-width keeps the binning replayable by an
    * independent engine; quantile bins would tie the oracle to a
    * percentile implementation). Null values are ignored; proportions
    * are clamped at `eps` so empty bins contribute a finite, bounded
    * term (the standard PSI guard). Returns one row:
    * (psi, n_base, n_other).
    *
    * Reading: < 0.1 stable, 0.1–0.25 moderate shift, > 0.25 break. */
  def psi(df: DataFrame, valueCol: String, isBase: Column,
      bins: Int = 10, eps: Double = 1e-6): DataFrame = {
    val withTotals = histWithTotals(df, valueCol, isBase, bins)
    // an empty slice makes PSI ill-defined: the when guards keep the
    // ANSI divide from raising on 0/0 and the final mask returns a null
    // psi (counts still reported) rather than a garbage number
    val p = greatest(col("nb").cast("double") /
      when(col("tb") =!= 0, col("tb")), lit(eps))
    val q = greatest(col("no").cast("double") /
      when(col("to") =!= 0, col("to")), lit(eps))
    withTotals
      .select(((p - q) * log(p / q)).as("term"),
        col("nb"), col("no"), col("tb"), col("to"))
      .agg(
        when(max(col("tb")) === 0 || max(col("to")) === 0, lit(null))
          .otherwise(sum(col("term"))).as("psi"),
        sum("nb").cast("long").as("n_base"),
        sum("no").cast("long").as("n_other"))
  }

  /** PSI over a CATEGORICAL column — the drift check for string/enum
    * columns the equal-width binning above cannot serve (language codes,
    * priorities, sources). Per-value frequencies of the base slice vs
    * its complement, same clamped PSI reduction as [[psi]].
    *
    * Scale guard: the category frame is the column's distinct-value set,
    * which on a 100 TB corpus can be unbounded (URLs, user ids) — every
    * category at or below a 1/`maxShareDenom` share of the combined
    * count is pooled into '__other' BEFORE the reduction, a pure filter
    * on counts (no ranking pass, no window), so at most `maxShareDenom`
    * named categories survive regardless of input cardinality. Pooling
    * is share-based and therefore replayable by any engine. Null values
    * are excluded (as in [[psi]]); an empty slice yields null psi.
    * Returns one row: (psi, n_base, n_other, n_categories). */
  def categoricalPsi(df: DataFrame, valueCol: String, isBase: Column,
      eps: Double = 1e-6, maxShareDenom: Long = 1000): DataFrame = {
    require(maxShareDenom > 0, s"maxShareDenom must be positive, got $maxShareDenom")
    val freq = df.filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol).cast("string").as("cat"))
      .agg(sum(when(isBase, 1L).otherwise(0L)).as("nb"),
        sum(when(isBase, 0L).otherwise(1L)).as("nc"))
    val t = freq.agg(sum("nb").as("tb"), sum("nc").as("tc"))
    val share = (col("nb") + col("nc")).cast("double") /
      when(col("tb") + col("tc") =!= 0, (col("tb") + col("tc")).cast("double"))
    val pooled = freq.crossJoin(broadcast(t)) // 1-row totals side
      .withColumn("catp",
        when(share > 1.0 / maxShareDenom, col("cat")).otherwise(lit("__other")))
      .groupBy("catp")
      .agg(sum("nb").as("nb"), sum("nc").as("nc"))
      .crossJoin(broadcast(t)) // re-attach the 1-row totals after pooling
    val p = greatest(col("nb").cast("double") /
      when(col("tb") =!= 0, col("tb")), lit(eps))
    val q = greatest(col("nc").cast("double") /
      when(col("tc") =!= 0, col("tc")), lit(eps))
    pooled
      .select(((p - q) * log(p / q)).as("term"),
        col("nb"), col("nc"), col("tb"), col("tc"))
      .agg(
        when(max(col("tb")) === 0 || max(col("tc")) === 0, lit(null))
          .otherwise(sum(col("term"))).as("psi"),
        max("tb").cast("long").as("n_base"),
        max("tc").cast("long").as("n_other"),
        count(lit(1)).as("n_categories"))
  }

  /** EXACT two-sample Kolmogorov–Smirnov statistic between the `isBase`
    * slice and its complement: sup over x of |F_base(x) − F_other(x)| —
    * the binning-free drift test (PSI/JSD depend on a bin grid; KS sees
    * every jump). The supremum of a two-ECDF gap is attained at an
    * observed value, so evaluating the inclusive CDFs at every DISTINCT
    * value is exact.
    *
    * Scale shape: one hash aggregation to (value, n_base, n_other)
    * frequency rows; BOTH sides' cumulative counts ride ONE
    * [[Packing.prefixSums]] two-phase pass over the distinct-value
    * frame in value order — shuffles carry one row per distinct value,
    * and the only global window runs over one row per slice (the
    * spearman rank machinery, reused). No corpus-sized single-task
    * sort anywhere. The frequency frame feeds three consumers (the
    * prefix-sum pass's two branches + totals) and is checkpointed once.
    * Cumulative counts are exact longs; the final gaps divide identical
    * integers in both engines, so the statistic replays bit-for-bit.
    * Returns one row (ks, n_base, n_other); null ks when a slice is
    * empty. */
  def ksDrift(df: DataFrame, valueCol: String, isBase: Column): DataFrame = {
    val v = col(valueCol).cast("double")
    val freq = df.filter(v.isNotNull)
      .groupBy(v.as("_v"))
      .agg(sum(when(isBase, 1L).otherwise(0L)).as("_nb"),
        sum(when(isBase, 0L).otherwise(1L)).as("_nc"))
      .barrier()
    // BOTH inclusive CDF counts in one two-phase pass (one slice-bounds
    // action, one window, one offsets agg) — and no re-join of the two
    // cumulative frames on _v afterwards
    val both = Packing.prefixSums(freq, Nil, "_v",
        Seq("_nb", "_nc"), Seq("_cb0", "_cc0"))
      .select(col("_v"),
        (col("_cb0") + col("_nb")).as("_cb"),
        (col("_cc0") + col("_nc")).as("_cc"))
    val t = freq.agg(sum("_nb").as("tb"), sum("_nc").as("tc"))
    both
      .crossJoin(broadcast(t)) // 1-row totals side
      .select(abs(col("_cb").cast("double") / when(col("tb") =!= 0, col("tb")) -
          col("_cc").cast("double") / when(col("tc") =!= 0, col("tc"))).as("gap"),
        col("tb"), col("tc"))
      .agg(max("gap").as("ks"),
        max("tb").cast("long").as("n_base"),
        max("tc").cast("long").as("n_other"))
  }

  /** Per-GROUP exact two-sample KS — "WHICH segment drifted?": the
    * [[ksDrift]] statistic computed independently for every value of
    * `groupCol` (language, source, shard) in ONE pass. Both sides'
    * cumulative counts ride one [[Packing.prefixSums]] two-phase pass
    * over the (group, distinct value) frequency frame —
    * per-group windows only ever see one slice's rows of one group, no
    * corpus-sized single-task window. The per-group totals frame is
    * |groups| rows and goes through [[SizeGuard.broadcastIfSmall]] —
    * bounded for enum-shaped groups, shuffle-joined past the bound
    * (user-id-shaped groups). Returns (groupCol, ks, n_base, n_other);
    * null ks for a group with an empty slice. */
  def ksDriftByGroup(df: DataFrame, groupCol: String, valueCol: String,
      isBase: Column): DataFrame = {
    val v = col(valueCol).cast("double")
    val freq = df.filter(v.isNotNull && col(groupCol).isNotNull)
      .groupBy(col(groupCol).as("_g"), v.as("_v"))
      .agg(sum(when(isBase, 1L).otherwise(0L)).as("_nb"),
        sum(when(isBase, 0L).otherwise(1L)).as("_nc"))
      .barrier()
    // both per-group CDF counts in ONE two-phase pass
    val both = Packing.prefixSums(freq, Seq("_g"), "_v",
        Seq("_nb", "_nc"), Seq("_cb0", "_cc0"))
      .select(col("_g"), col("_v"),
        (col("_cb0") + col("_nb")).as("_cb"),
        (col("_cc0") + col("_nc")).as("_cc"))
    val t = freq.groupBy("_g").agg(sum("_nb").as("_tb"), sum("_nc").as("_tc"))
      .barrier()
    both.join(SizeGuard.broadcastIfSmall(t), Seq("_g"))
      .select(col("_g"),
        abs(col("_cb").cast("double") / when(col("_tb") =!= 0, col("_tb")) -
          col("_cc").cast("double") / when(col("_tc") =!= 0, col("_tc"))).as("_gap"),
        col("_cb"), col("_cc"))
      .groupBy(col("_g").as(groupCol))
      .agg(max("_gap").as("ks"),
        max("_cb").cast("long").as("n_base"),
        max("_cc").cast("long").as("n_other"))
  }

  /** Shared two-slice histogram: `bins` equal-width bins over the
    * combined [min, max] with per-bin slice counts (nb, no) and slice
    * totals (tb, to). The totals ride a window over the `bins`-sized
    * histogram, NOT a separate aggregate frame: hist feeding two
    * consumers would recompute the whole binning lineage (two scans +
    * two bin exchanges); this keeps every divergence metric built on it
    * at ONE pass over the data per side. The constant partition key
    * bounds the window at `bins` rows. */
  private def histWithTotals(df: DataFrame, valueCol: String,
      isBase: Column, bins: Int): DataFrame = {
    require(bins > 0, s"bins must be positive, got $bins")
    val v = col(valueCol).cast("double")
    val bounds = df.filter(v.isNotNull)
      .agg(min(v).as("__lo"), max(v).as("__hi"))
    val binned = df.filter(v.isNotNull).crossJoin(broadcast(bounds))
      .select(
        when(col("__hi") === col("__lo"), lit(0)).otherwise(
          least(lit(bins - 1),
            floor((v - col("__lo")) * bins / (col("__hi") - col("__lo"))).cast("int")))
          .as("bin"),
        isBase.as("base"))
    val hist = binned.groupBy("bin").agg(
      sum(when(col("base"), 1L).otherwise(0L)).as("nb"),
      sum(when(!col("base"), 1L).otherwise(0L)).as("no"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(lit(0))
    hist
      .withColumn("tb", sum("nb").over(wAll))
      .withColumn("to", sum("no").over(wAll))
  }

  /** Jensen–Shannon divergence between the `isBase` slice and its
    * complement over the same equal-width binning as [[psi]] (same one
    * scan per side, same replayable binning). Natural-log JSD, bounded
    * in [0, ln 2]; symmetric and defined WITHOUT an epsilon clamp — a
    * bin empty on one side contributes 0·ln(…) = 0 by the standard
    * convention (the guard below), and the mixture m > 0 whenever
    * either side occupies the bin. Null when either slice is empty.
    * Returns one row: (jsd, n_base, n_other).
    *
    * PSI's eps-clamp makes it blow up on disjoint supports (that is
    * its job as an alarm); JSD saturates at ln 2 — the better metric
    * for RANKING drifts or feeding a monitor threshold. */
  def jsDivergence(df: DataFrame, valueCol: String, isBase: Column,
      bins: Int = 10): DataFrame = {
    val withTotals = histWithTotals(df, valueCol, isBase, bins)
    val p = col("nb").cast("double") / when(col("tb") =!= 0, col("tb"))
    val q = col("no").cast("double") / when(col("to") =!= 0, col("to"))
    val m = (p + q) / 2
    val term =
      when(col("nb") > 0, p * log(p / m) / 2).otherwise(lit(0.0)) +
      when(col("no") > 0, q * log(q / m) / 2).otherwise(lit(0.0))
    withTotals
      .select(term.as("term"), col("nb"), col("no"), col("tb"), col("to"))
      .agg(
        when(max(col("tb")) === 0 || max(col("to")) === 0, lit(null))
          .otherwise(sum(col("term"))).as("jsd"),
        sum("nb").cast("long").as("n_base"),
        sum("no").cast("long").as("n_other"))
  }

  /** Per-column summary drift between two frames sharing a schema:
    * long-form (column, metric, base, other, delta) rows for count,
    * null fraction, mean, and sample stddev over the given numeric
    * columns. One aggregation pass per frame regardless of column
    * count (the describe() family-unpivot shape). */
  def statDrift(base: DataFrame, other: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "statDrift needs at least one column")
    def summarize(df: DataFrame, side: String): DataFrame = {
      val aggs = cols.flatMap { c =>
        val v = col(c).cast("double")
        Seq(count(lit(1)).as(s"__n_$c"), avg(v).as(s"__mean_$c"),
          stddev_samp(v).as(s"__std_$c"),
          avg(when(v.isNull, 1.0).otherwise(0.0)).as(s"__nullf_$c"))
      }
      val row = df.agg(aggs.head, aggs.tail: _*)
      val stacked = cols.map { c =>
        struct(lit(c).as("column"),
          col(s"__n_$c").cast("double").as("n"),
          col(s"__nullf_$c").as("null_fraction"),
          col(s"__mean_$c").as("mean"),
          col(s"__std_$c").as("std"))
      }
      row.select(explode(array(stacked: _*)).as("s"))
        .select(col("s.column").as("column"),
          expr("stack(4, 'count', s.n, 'null_fraction', s.null_fraction, " +
            "'mean', s.mean, 'std', s.std)").as(Seq("metric", side)))
    }
    summarize(base, "base").join(summarize(other, "other"), Seq("column", "metric"))
      .withColumn("delta", col("other") - col("base"))
  }

  /** Pairwise similarity between per-slice unigram DISTRIBUTIONS — the
    * corpus-mixing diagnostic ("how alike are my sources?"): restrict
    * to the global top-`topN` terms (the bounded comparison
    * vocabulary), normalize each slice's counts over that vocabulary,
    * then for every slice pair the weighted Jaccard Σmin/Σmax and the
    * total-variation distance ½Σ|p−q|. Terms a slice lacks enter as 0
    * through the slices × vocabulary grid (|slices|·topN rows — both
    * factors bounded, so the grid and every pair join are phase-2
    * frames; the only corpus-scale work is the one token-count pass).
    * Returns (slice_a, slice_b, wjaccard, tv_dist). */
  def sliceUnigramSimilarity(df: DataFrame, sliceCol: String,
      textCol: String, topN: Int): DataFrame = {
    val toks = df
      .filter(col(sliceCol).isNotNull)
      .select(col(sliceCol).as("slice"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
    val counts = toks.groupBy("slice", "term").agg(count(lit(1)).as("cnt"))
      .barrier() // feeds the vocabulary cut and the grid join
    val vocab = counts.groupBy("term").agg(sum("cnt").as("g"))
      .orderBy(col("g").desc, col("term")).limit(topN).select("term")
    val restricted = counts.join(vocab, "term")
    val totals = restricted.groupBy("slice").agg(sum("cnt").as("tot"))
    val p = restricted.join(totals, "slice")
      .select(col("slice"), col("term"),
        (col("cnt") / col("tot").cast("double")).as("p"))
    val grid = totals.select("slice").crossJoin(vocab)
      .join(p, Seq("slice", "term"), "left")
      .withColumn("p", coalesce(col("p"), lit(0.0)))
    grid.as("a")
      .join(grid.as("b"),
        col("a.term") === col("b.term") && col("a.slice") < col("b.slice"))
      .groupBy(col("a.slice").as("slice_a"), col("b.slice").as("slice_b"))
      .agg(
        (sum(least(col("a.p"), col("b.p"))) /
          when(sum(greatest(col("a.p"), col("b.p"))) =!= 0,
            sum(greatest(col("a.p"), col("b.p"))))).as("wjaccard"),
        (lit(0.5) * sum(abs(col("a.p") - col("b.p")))).as("tv_dist"))
  }
}
