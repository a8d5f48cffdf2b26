package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Materialize._

/** Salted equi-join for skewed keys (SURVEY.md / 100 TB design notes).
  *
  * AQE's skew-join handling covers sort-merge joins at runtime, but a
  * hand-salted join is the explicit tool when one side has pathological
  * hot keys and the other side is small enough to replicate: the skewed
  * (large) side gets a random salt in [0, buckets), the replicated
  * (small) side is exploded across every salt value, and the join key
  * becomes (key, salt) — splitting each hot key's rows across `buckets`
  * tasks instead of one straggler.
  *
  * Semantics are identical to `skewed.join(small, keys, "inner"/"left")`;
  * equivalence is unit-tested. The salt uses a seeded deterministic
  * column (hash of the row's own values) rather than rand() so replays
  * and retries are stable.
  */
object SkewJoin {

  /** Inner or left salted equi-join on `key`. `buckets` = salt fan-out —
    * set to (hot-key rows / target rows per task). */
  def saltedJoin(
      skewed: DataFrame, small: DataFrame, key: String,
      buckets: Int, joinType: String = "inner"): DataFrame = {
    require(buckets > 0)
    require(joinType == "inner" || joinType == "left",
      "salted join supports inner and left joins")
    // deterministic salt: hash of the full skewed row, stable under retry
    val salted = skewed.withColumn("__salt",
      pmod(xxhash64(skewed.columns.map(col): _*), lit(buckets)).cast("int"))
    val replicated = small
      .withColumn("__salt", explode(sequence(lit(0), lit(buckets - 1))))
    val out = salted.join(replicated, Seq(key, "__salt"), joinType)
    out.drop("__salt")
  }

  /** The hot keys of `df.key`: every non-null key holding more than
    * `minShare` of the table's rows. At most floor(1/minShare) keys can
    * exist by construction, so the driver-side collect is bounded
    * regardless of data size. ONE pass over the fact table: the key
    * histogram (a map-side-combining hash aggregation, null keys grouped
    * like any other) is materialized through [[Materialize]] for the
    * duration of the call, and both the total (the sum of per-key
    * counts, which IS `df.count()`) and the hot filter read it; its
    * blocks are RELEASED in a finally before returning. The histogram is
    * distinct-key-sized — tiny for the skewed keys this is built for,
    * but it can approach fact size for a near-unique key, which is why
    * it must not outlive the call. Fault tolerance follows the session's
    * `spark.graft.materialize` strategy (`persist` or `reliable` survive
    * an executor loss during the call). */
  def hotKeys(df: DataFrame, key: String, minShare: Double): Seq[Any] = {
    require(minShare > 0.0 && minShare <= 1.0,
      s"minShare must be in (0, 1], got $minShare")
    val hist = df.groupBy(col(key)).agg(count(lit(1)).as("__n")).barrier()
    try {
      val total = Option(hist.agg(sum("__n")).first().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      hist.filter(col(key).isNotNull && col("__n") > total * minShare)
        .select(col(key)).collect().map(_.get(0)).toSeq
    } finally release(hist)
  }

  /** SPLIT-AND-UNION salted join — the production skew pattern: only
    * rows on a `hotKeys` key take the salted path, and only the hot
    * rows of `small` are replicated (|hotKeys| × buckets rows, constant
    * in the dim size); everything else takes the untouched plain
    * shuffle join. [[saltedJoin]]'s whole-dim replication costs
    * |small| × buckets rows, which MEASURED slower than the straggler
    * it removes at both 1.5M- and 15M-row scale (SkewBench, BASELINE.md
    * round 12) — the split makes the replication term independent of
    * the dim, so the salted branch is pure win on the hot rows.
    *
    * Null keys take the plain branch (they match nothing, but a left
    * join must keep them); semantics equal
    * `skewed.join(small, key, joinType)` and are unit-tested. */
  def saltedJoinHot(
      skewed: DataFrame, small: DataFrame, key: String,
      buckets: Int, hotKeys: Seq[Any], joinType: String = "inner"): DataFrame = {
    require(joinType == "inner" || joinType == "left",
      "salted join supports inner and left joins")
    if (hotKeys.isEmpty) skewed.join(small, Seq(key), joinType)
    else {
      // null-safe split: isin(null) is NULL, and a predicate-and-its-
      // negation pair would drop null-key rows from BOTH branches
      val isHot = col(key).isin(hotKeys: _*) <=> lit(true)
      val saltedPart = saltedJoin(
        skewed.filter(isHot), small.filter(isHot), key, buckets, joinType)
      saltedPart.unionByName(
        skewed.filter(!isHot).join(small, Seq(key), joinType))
    }
  }

  /** Detect-and-split: one histogram pass finds the keys above
    * `minShare`, [[saltedJoinHot]] salts exactly those. With no hot key
    * the plan degrades to the plain join — never a wrong answer, never
    * unneeded replication. */
  def saltedJoinAuto(
      skewed: DataFrame, small: DataFrame, key: String,
      buckets: Int, minShare: Double = 0.05,
      joinType: String = "inner"): DataFrame =
    saltedJoinHot(skewed, small, key, buckets,
      hotKeys(skewed, key, minShare), joinType)
}
