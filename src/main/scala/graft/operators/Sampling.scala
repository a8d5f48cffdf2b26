package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable sampling and dataset splitting.
  *
  * `df.sample()` draws from Spark's per-partition RNG: the result changes
  * with partitioning, retries and Spark versions — useless for a
  * reproducible pipeline. These operators hash a KEY column instead: a
  * row's fate depends only on its key, so the sample is stable across
  * engines, runs, repartitions and appends (new rows join the same
  * buckets), and any engine with md5 can reproduce it exactly (the
  * DuckDB oracle does).
  *
  * The hash bucket is the first 4 hex chars of md5(key) read as a
  * base-16 number — uniform over [0, 65536).
  */
object Sampling {

  val Buckets = 65536

  /** Uniform bucket in [0, 65536) from the key's md5 — pure codegen'd
    * string ops, no UDF, portable across engines. */
  def hashBucket(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 4), 16, 10).cast("int")

  /** md5(seed # key) — the per-row priority every md5-ordered operator
    * here ranks by; changing the seed draws a fresh order. */
  private def seededHash(keyCol: String, seed: Long): Column =
    md5(concat_ws("#", lit(seed), col(keyCol).cast("string")))

  /** Keep ~`fraction` of rows, deterministically by key. */
  def deterministicSample(df: DataFrame, keyCol: String, fraction: Double): DataFrame = {
    require(fraction >= 0 && fraction <= 1)
    df.filter(hashBucket(col(keyCol)) < (fraction * Buckets).toInt)
  }

  /** Stratified deterministic sample: a per-stratum keep fraction (e.g.
    * downsampling a dominant language to rebalance a corpus). Strata not
    * listed keep `defaultFraction`. The keep decision still hashes only
    * the KEY, so it stays stable under appends and across engines; a row
    * changing stratum WOULD change its threshold — by design (the
    * stratum is part of the policy, the key is the identity). */
  def stratifiedSample(df: DataFrame, keyCol: String, strataCol: String,
      fractions: Map[String, Double], defaultFraction: Double = 0.0): DataFrame = {
    require((fractions.values ++ Seq(defaultFraction)).forall(f => f >= 0 && f <= 1))
    val cut = fractions.foldLeft(lit((defaultFraction * Buckets).toInt)) {
      case (acc, (stratum, f)) =>
        when(col(strataCol) === stratum, lit((f * Buckets).toInt)).otherwise(acc)
    }
    df.filter(hashBucket(col(keyCol)) < cut)
  }

  /** Per-ROW weighted deterministic sampling — the RESAMPLING step that
    * realizes a computed weight column: soft-dedup weights
    * ([[Dedup.softDedupWeights]] — each near-dup cluster thins to ~one
    * survivor in expectation), DSIR importance weights, quality scores.
    * A row is kept iff `hashBucket(seed # key) < floor(weight · 65536)`
    * with the weight clipped to [0, 1] — [[deterministicSample]]
    * generalized from one global fraction to a per-row fraction, with
    * the same properties: the decision depends only on (seed, key,
    * weight), so it is reproducible across engines, runs, partitionings
    * and appends, and changing the seed draws a fresh realization.
    * Weights should come pre-rounded (the 1e-6 bridge) so the integer
    * threshold cannot sit on an engine-dependent ULP.
    *
    * Keep rates are QUANTIZED to 16 bits: the threshold is
    * `floor(weight * 65536)`, so every weight is biased DOWN by up to
    * 2^-16 and a weight below 1/65536 keeps nothing at all. Harmless
    * for soft-dedup 1/|cluster| weights (clusters nowhere near 65k
    * members); for very small importance/DSIR weights, rescale into a
    * workable range or widen the bucket space before sampling. */
  def weightedSample(df: DataFrame, keyCol: String, weight: Column,
      seed: Long = 0L): DataFrame = {
    val b = hashBucket(concat_ws("#", lit(seed), col(keyCol).cast("string")))
    df.filter(b <
      floor(least(greatest(weight, lit(0.0)), lit(1.0)) * Buckets).cast("int"))
  }

  /** Deterministic global shuffle for reproducible training order:
    * every row gets `shuffle_pos` — its 0-based rank in the order of
    * md5(seed # key). The permutation depends only on (seed, key), so it
    * is identical across engines, runs and partitionings; changing the
    * seed draws a fresh permutation. The rank is a SCALABLE global
    * row_number: the exclusive prefix sum of unit weights in hash
    * order, via [[Packing.prefixSums]] (deterministic hash slices,
    * per-slice window, broadcast base offsets) — never a single-task
    * global window. `keyCol` must be unique per row (duplicate keys collide to
    * the same hash and their relative order is undefined). */
  def shuffleOrder(df: DataFrame, keyCol: String, seed: Long): DataFrame = {
    val hashed = df
      .withColumn("__h", seededHash(keyCol, seed))
      .withColumn("__one", lit(1L))
    Packing.prefixSums(hashed, Nil, "__h", Seq("__one"), Seq("shuffle_pos"))
      .drop("__h", "__one")
  }

  /** Per-group quota cap — the domain-balancing step of a pretraining
    * mix: each group (source, domain, language) keeps at most `cap`
    * rows, selected by a deterministic hash priority so the kept set is
    * a uniform within-group sample that is stable across engines, runs
    * and partitionings (and under appends, until new rows out-rank old
    * ones). Adds `cap_rank`, the row's 1-based priority rank within its
    * group.
    *
    * Priority = md5(seed # key) with the key as tie-break — a total
    * order any engine reproduces. Group keys like "source" are
    * LOW-cardinality, exactly the single-task-window shape
    * [[GroupTopK]] exists to avoid, so the ranking runs its salted
    * two-phase plan rather than a plain window. */
  def capPerGroup(df: DataFrame, keyCol: String, groupCol: String, cap: Int,
      seed: Long = 0L): DataFrame = {
    require(cap > 0, s"cap must be positive, got $cap")
    val withPri = df.withColumn("__pri", seededHash(keyCol, seed))
    GroupTopK.topK(withPri, Seq(groupCol),
      Seq(col("__pri").asc, col(keyCol).asc), cap, rankCol = "cap_rank")
      .drop("__pri")
  }

  /** Balanced class downsampling: cap every label at
    * ⌈minorityCount · maxRatio⌉ rows, keeping the deterministic
    * md5-priority prefix per label ([[capPerGroup]]'s machinery, so
    * the ranking runs the salted GroupTopK plan) — the label-balancing
    * step before training classifier heads on skewed data. The count
    * pass reduces to ONE scalar (the minority count — a bounded driver
    * value, same class as the quantile brackets); the cap is then a
    * plan literal. Deterministic and append-stable for a fixed seed. */
  def balanceClasses(df: DataFrame, keyCol: String, labelCol: String,
      maxRatio: Double, seed: Long = 0L): DataFrame = {
    require(maxRatio >= 1.0, s"maxRatio must be >= 1, got $maxRatio")
    val clean = df.filter(col(labelCol).isNotNull)
    val minRow = clean.groupBy(col(labelCol)).agg(count(lit(1)).as("__n"))
      .agg(min("__n").as("__m")).collect().headOption
    val minN = minRow.filter(!_.isNullAt(0)).map(_.getLong(0)).getOrElse(0L)
    val cap = math.max(1L, math.ceil(minN * maxRatio).toLong)
      .min(Int.MaxValue.toLong).toInt
    capPerGroup(clean, keyCol, labelCol, cap, seed)
  }

  /** Corpus MIXING by per-group token budget — the data-mixing step of a
    * pretraining pipeline: each group (source, domain, language) keeps
    * documents in deterministic md5-priority order until its cumulative
    * token count would exceed `budgetPerGroup`; a row is kept iff
    * tokens_before + its tokens <= budget (no partial documents). The
    * kept set is a stable uniform within-group prefix: reproducible
    * across engines, runs and partitionings, and growing the corpus only
    * exchanges kept docs when new rows out-rank old ones.
    *
    * The grouped running sum is [[tokensBefore]]. Adds `tokens_before`. */
  def mixByTokenBudget(df: DataFrame, keyCol: String, groupCol: String,
      tokenCol: String, budgetPerGroup: Long, seed: Long = 0L): DataFrame = {
    require(budgetPerGroup > 0, s"budget must be positive, got $budgetPerGroup")
    tokensBefore(df, keyCol, groupCol, tokenCol, seed)
      .filter(col("tokens_before") + col(tokenCol) <= budgetPerGroup)
  }

  /** Each row's `tokens_before`: its group's exclusive token prefix in
    * md5-priority order, the per-row step every mixer shares. Priority +
    * key suffix is a total order within the group even under
    * (astronomically unlikely) digest collisions; the running sum is
    * [[Packing.prefixSums]]' two-phase plan, so low-cardinality groups
    * never become single-task windows. */
  private def tokensBefore(df: DataFrame, keyCol: String, groupCol: String,
      tokenCol: String, seed: Long): DataFrame = {
    val ordered = df.withColumn("__ord",
      concat(seededHash(keyCol, seed), lit("#"), col(keyCol).cast("string")))
    Packing.prefixSums(ordered, Seq(groupCol), "__ord", Seq(tokenCol),
      Seq("tokens_before")).drop("__ord")
  }

  /** Temperature-weighted corpus mixing: per-group token budgets are
    * allocated proportionally to (group token total)^alpha over a global
    * token budget — alpha=1 reproduces natural proportions, alpha→0
    * flattens toward uniform (the multilingual up-sampling rule of the
    * XLM-R/mT5 family) — then each group keeps docs in md5-priority
    * order within its own budget, exactly like [[mixByTokenBudget]].
    *
    * Scale shape: group totals are one hash aggregation (|groups| rows),
    * the share normalizer one more row on top, and both join back as
    * broadcasts; the running sum is the same [[tokensBefore]] — no
    * single-task per-group windows, no driver-side collect.
    *
    * Determinism bridge: each group's share is rounded to 1e-6 BEFORE
    * the budget multiply (the fitted-parameter rule), so ULP drift in
    * pow or in the |groups|-term normalizer sum order cannot move a
    * budget across its floor. Adds `tokens_before` and `group_budget`. */
  def mixByTemperature(df: DataFrame, keyCol: String, groupCol: String,
      tokenCol: String, totalBudget: Long, alpha: Double,
      seed: Long = 0L): DataFrame = {
    require(totalBudget > 0, s"budget must be positive, got $totalBudget")
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    val totals = df.groupBy(groupCol)
      .agg(sum(col(tokenCol)).cast("double").as("__gt"))
    val z = totals.agg(sum(pow(col("__gt"), lit(alpha))).as("__z"))
    val budgets = totals.crossJoin(broadcast(z))
      .select(col(groupCol),
        floor((floor(pow(col("__gt"), lit(alpha)) / col("__z") * 1e6 + 0.5) / 1e6) *
          lit(totalBudget.toDouble)).cast("long").as("group_budget"))
    tokensBefore(df, keyCol, groupCol, tokenCol, seed)
      .join(broadcast(budgets), Seq(groupCol))
      .filter(col("tokens_before") + col(tokenCol) <= col("group_budget"))
  }

  /** The waterfill allocation table alone — (groupCol, group_budget) —
    * for callers that materialize the allocation differently than a
    * one-pass prefix (see [[expandEpochs]]). Semantics and arithmetic
    * exactly as documented on [[mixByUniMax]]. */
  def uniMaxBudgets(df: DataFrame, groupCol: String, tokenCol: String,
      totalBudget: Long, maxEpochs: Double): DataFrame = {
    require(totalBudget > 0, s"budget must be positive, got $totalBudget")
    require(maxEpochs > 0, s"maxEpochs must be positive, got $maxEpochs")
    val totals = df.groupBy(groupCol)
      .agg(sum(col(tokenCol)).cast("long").as("__gt"))
      .withColumn("__cap", floor(col("__gt") * lit(maxEpochs)).cast("long"))
    // bounded |groups|-row frames: caps ascending, group as tie-break
    val byCap = Window.orderBy(col("__cap"), col(groupCol))
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val flagged = totals
      .withColumn("__i", row_number().over(byCap))
      .withColumn("__cum", sum("__cap")
        .over(byCap.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__n", count(lit(1)).over(all))
      .withColumn("__exhausted",
        col("__cap") * (col("__n") - col("__i") + 1) +
          (col("__cum") - col("__cap")) <= totalBudget)
    val kAgg = flagged.agg(
      coalesce(max(when(col("__exhausted"), col("__i"))), lit(0L)).as("__k"),
      coalesce(max(when(col("__exhausted"), col("__cum"))), lit(0L)).as("__csum"))
    // `when` evaluates lazily, but guard the divisor anyway (all-capped
    // ⇒ n-k = 0): `div` is integer division — no 2^53 double hazard
    flagged.crossJoin(broadcast(kAgg))
      .select(col(groupCol),
        when(col("__exhausted"), col("__cap"))
          .otherwise(expr(s"($totalBudget - __csum) div greatest(__n - __k, 1)"))
          .as("group_budget"))
  }

  /** UniMax corpus mixing (epoch-capped waterfilling, the published
    * alternative to temperature sampling for multilingual budgets):
    * allocate a global token budget as UNIFORMLY as possible across
    * groups, subject to each group's repeat cap
    * `cap_g = floor(maxEpochs * group tokens)` — small sources are
    * capped at their epoch ceiling, the remaining budget waterfills
    * evenly over the rest. Then each group keeps documents in
    * md5-priority order within its allocation, exactly like
    * [[mixByTokenBudget]].
    *
    * The waterfill has a closed form over the |groups|-row totals table:
    * sort groups by cap ascending; group i (of n) is exhausted iff
    * serving every remaining group at level cap_i still fits the
    * leftover budget — `cap_i*(n-i+1) + cum_{i-1} <= B`, a prefix
    * property under this order — and every non-exhausted group gets
    * `(B - sum of exhausted caps) div (n - k)`. INTEGER arithmetic
    * everywhere except ONE float bridge: the per-group cap is
    * `floor(total_tokens * maxEpochs)` computed in doubles — for group
    * token totals approaching 2^53 the product loses integer precision
    * and the floored cap could diverge across engines (the oracle
    * replays the same double product, so both sides agree here; callers
    * at that magnitude should pre-scale or pass integral maxEpochs).
    * The waterfill itself (cumulative caps, the level's integer
    * division) is long arithmetic with no rounding to bridge.
    *
    * Scale shape: totals are one hash aggregation; the waterfill windows
    * run over |groups| rows (bounded — sources/languages, not documents;
    * the audited bounded-frame category) and the single-row reduction
    * joins back as a broadcast; per-row work is the same
    * [[tokensBefore]] as every other mixer. Adds `tokens_before` and
    * `group_budget`. */
  def mixByUniMax(df: DataFrame, keyCol: String, groupCol: String,
      tokenCol: String, totalBudget: Long, maxEpochs: Double,
      seed: Long = 0L): DataFrame = {
    val budgets = uniMaxBudgets(df, groupCol, tokenCol, totalBudget, maxEpochs)
    tokensBefore(df, keyCol, groupCol, tokenCol, seed)
      .join(broadcast(budgets), Seq(groupCol))
      .filter(col("tokens_before") + col(tokenCol) <= col("group_budget"))
  }

  /** Materialize a per-group token allocation into EPOCH-EXPANDED rows —
    * what "2.3 epochs of a small source" physically means in a training
    * run: each group emits `budget div tokens` COMPLETE passes over its
    * documents plus one partial pass holding the md5-priority prefix of
    * the remainder (`budget mod tokens`), every row tagged with its
    * 0-based `epoch`. Feed [[uniMaxBudgets]] (or any (group,
    * group_budget) table) in; get the actual repeated-row training mix
    * out. Whole documents only, same priority rule as every mixer, so
    * the expansion is engine-replayable and append-stable.
    *
    * Scale shape: group totals one hash aggregation; the budget/total
    * tables are |groups| rows and broadcast; per-row work is the shared
    * [[tokensBefore]] plus a sequence-explode bounded by the epoch
    * count (small by construction — a budget implies epochs ≈
    * budget/corpus, never data-dependent blowup). */
  def expandEpochs(df: DataFrame, keyCol: String, groupCol: String,
      tokenCol: String, budgets: DataFrame, seed: Long = 0L): DataFrame = {
    val totals = df.groupBy(groupCol)
      .agg(sum(col(tokenCol)).cast("long").as("__gt"))
    val parts = budgets.join(totals, Seq(groupCol))
      .select(col(groupCol),
        expr("group_budget div __gt").as("__full"),
        expr("group_budget % __gt").as("__rem"))
    tokensBefore(df, keyCol, groupCol, tokenCol, seed)
      .join(broadcast(parts), Seq(groupCol))
      .withColumn("epoch", explode(sequence(lit(0L), col("__full"))))
      // complete passes keep everything; the final partial pass keeps
      // the budget-remainder priority prefix (whole docs only)
      .filter(col("epoch") < col("__full") ||
        col("tokens_before") + col(tokenCol) <= col("__rem"))
      .drop("__full", "__rem")
  }

  /** Systematic probability-proportional-to-size (PPS) sampling: a
    * FIXED-SIZE weighted sample of exactly `k` draws, deterministic and
    * integer-exact end to end — the fixed-budget counterpart of
    * [[weightedSample]]'s per-row Bernoulli (which only controls the
    * EXPECTED sample size). Classic survey-sampling systematics: lay
    * the rows on a line in md5(seed # key) order, each occupying a
    * segment of its integer weight; drop k evenly spaced ticks at
    * positions j·W/k (j = 0..k−1, W = total weight); a row is drawn
    * once per tick inside its segment, so `n_picks` =
    * ceil((cum+w)·k / W) − ceil(cum·k / W) ≥ 1 iff selected, with
    * inclusion probability min(1, w·k/W) and rows heavier than W/k
    * drawn multiple times (PPS with replacement above that line). The
    * hash order is a deterministic shuffle, so the k draws are spread
    * uniformly over the corpus — no clustering by any natural order.
    *
    * Everything is INTEGER arithmetic on longs (cum·k ≤ W·k must stay
    * below 2^63 — at W = 10^14 tokens that allows k up to ~9·10^4, and
    * larger k has no use at that scale) and the cumulative weights ride
    * [[Packing.prefixSums]]' two-phase plan — never a
    * single-task global window. Weights clamp at 0; zero-weight rows
    * are never drawn. Adds `n_picks` (≥ 1, the multiplicity) and keeps
    * only selected rows. */
  def systematicSample(df: DataFrame, keyCol: String, weightCol: String,
      k: Int, seed: Long = 0L): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val hashed = df
      .withColumn("__h", seededHash(keyCol, seed))
      .withColumn("__wt", greatest(col(weightCol).cast("long"), lit(0L)))
    val cum = Packing.prefixSums(hashed, Nil, "__h", Seq("__wt"), Seq("__cum"))
    val total = df
      .agg(coalesce(sum(greatest(col(weightCol).cast("long"), lit(0L))), lit(0L))
        .as("__tw"))
    cum.crossJoin(broadcast(total)) // 1-row total side
      .withColumn("n_picks",
        when(col("__tw") > 0L, expr(
          s"((__cum + __wt) * ${k}L + __tw - 1) DIV __tw - (__cum * ${k}L + __tw - 1) DIV __tw"))
          .otherwise(lit(0L)))
      .filter(col("n_picks") > 0L)
      .drop("__h", "__wt", "__cum", "__tw")
  }

  /** Assign every row a split label by hash range: `weights` are
    * (label, weight) pairs, normalized over their sum — e.g.
    * Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)). Stable under
    * appends: a row's split never changes when the dataset grows. */
  def assignSplits(df: DataFrame, keyCol: String,
      weights: Seq[(String, Double)], splitCol: String = "split"): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0))
    val total = weights.map(_._2).sum
    val cuts = weights.scanLeft(0.0) { case (acc, (_, w)) => acc + w / total }
      .map(f => (f * Buckets).toInt)
    val b = hashBucket(col(keyCol))
    val labeled = weights.zipWithIndex.foldLeft(lit(null).cast("string")) {
      case (acc, ((label, _), i)) =>
        // the last range extends to the top bucket so every row labels
        val upper = if (i == weights.size - 1) lit(true) else b < cuts(i + 1)
        when(b >= cuts(i) && upper, lit(label)).otherwise(acc)
    }
    df.withColumn(splitCol, labeled)
  }
}
