package graft.operators

import scala.collection.immutable.ListMap
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.SemanticType
import graft.operators.Materialize._

/** Per-column statistics kernel — the Spark-native equivalent of the
  * reference's `get_description` (petk/tools.py:14-70).
  *
  * Execution shape (SURVEY.md §4.2, revised after benching):
  *
  *  1. ONE wide codegen'd hash aggregation computes every
  *     moment/count/extremum stat for every requested column (count, min,
  *     max, mean, std, var, kurtosis, skewness, sum, zeros, infinities,
  *     measured bytes). Partial + final hash agg, whole-stage codegen,
  *     one exchange — independent of column count.
  *  2. Exact distinct counts and exact (type-7) percentiles do NOT join
  *     that aggregation: mixing a distinct aggregate and the
  *     TypedImperative Percentile in one agg forces an Expand-based plan
  *     that benched 2-6x slower than running the pieces separately (57s
  *     vs ~15s at sf0.1) and single-reducer Percentile cannot scale.
  *     Instead each column gets a two-phase `groupBy(col).count()`
  *     frequency table — a scalable hash aggregation that shuffles only
  *     distinct values — from which one tiny job reads BOTH
  *     distinct_count and the frequency-weighted exact percentile.
  *     Per-column jobs are submitted concurrently; the Spark scheduler
  *     interleaves their stages across the cluster.
  *  3. `approximate = true` (the 100 TB mode) folds distinct + quantiles
  *     back into pass 1 as mergeable sketches (HLL++
  *     `approx_count_distinct`, KLL quantiles
  *     [[graft.plans.KllSketchAgg]]) — benched ~10x cheaper than the
  *     exact pair and single-pass. KLL (k = [[ApproxQuantileK]], ~0.3%
  *     normalized rank error) replaced `percentile_approx` here: the GK
  *     summary answers one in-query percentile but cannot be stored or
  *     unioned, while the KLL sketch is the same object
  *     [[Profiles]] persists per shard — approximate describe over a
  *     sharded corpus is now profile-union, not rescan.
  *  4. `mad` needs the mean first: one dependent second aggregation for
  *     all numeric columns together (petk/tools.py:62).
  *
  * Stat-definition parity with the reference (pandas):
  *  - quantiles: linear (type-7) interpolation — Spark `percentile`
  *    matches pandas `Series.quantile` (petk/tools.py:47-48).
  *  - std/variance: sample, ddof=1 — `stddev_samp`/`var_samp`
  *    (petk/tools.py:56-57).
  *  - kurtosis/skewness: pandas returns bias-corrected G2/G1
  *    (petk/tools.py:59-60); Spark returns population g2/g1, corrected
  *    driver-side:
  *      G1 = g1 * sqrt(n(n-1)) / (n-2)               (n > 2)
  *      G2 = (n-1)/((n-2)(n-3)) * ((n+1) g2 + 6)     (n > 3)
  *  - mad: mean absolute deviation around the mean (petk/tools.py:62).
  *  - n_zeros counts exact zeros; nulls/NaN are NOT zeros
  *    (petk/tools.py:51).
  *  - is_unique compares distinct against SIZE, so any null breaks
  *    uniqueness (petk/tools.py:33).
  */
object Describe {

  /** Reference quantile labels: '{:.0%}'.format(p) (petk/tools.py:48). */
  val QuantilePs: Seq[Double] = Seq(0.05, 0.25, 0.5, 0.75, 0.95)
  val QuantileNames: Seq[String] = Seq("5%", "25%", "50%", "75%", "95%")

  /** KLL parameter for approximate-mode quantiles: k=1024 keeps the
    * sketch at a few thousand retained doubles (~100 KB serialized) for
    * ~0.3% normalized rank error — coarser than percentile_approx(10000)
    * but mergeable (see class doc, mode 3). */
  val ApproxQuantileK: Int = 1024

  /** One profiled column: reference-ordered stat map (petk/tools.py:18-68).
    * Values are Any (Long / Double / Boolean / String / timestamp) exactly
    * as heterogeneous as the reference's pandas Series. */
  final case class ColumnProfile(
      column: String,
      contentType: SemanticType,
      stats: ListMap[String, Any])

  private val SEP = ""

  private def isFloating(dt: DataType) = dt match {
    case DoubleType | FloatType => true
    case _ => false
  }

  private def wantsDistinct(st: SemanticType) =
    st != SemanticType.Unsupported && st != SemanticType.Geometry

  private def wantsQuantiles(st: SemanticType) =
    st == SemanticType.Date || st == SemanticType.Numeric

  /** Exact-percentile guard (SURVEY.md §4.2): a column's exact
    * frequency-weighted percentile puts its whole distinct-value set into
    * ONE TypedImperative Percentile buffer — fine at oracle scale, an OOM
    * for a near-unique column at 100 TB. Above this many distinct values
    * the quantiles fall back to the mergeable KLL sketch
    * ([[graft.plans.KllSketchAgg]]), same as `approximate = true`; distinct_count
    * stays exact either way (the frequency table is a scalable hash agg).
    * ~4M doubles ≈ a few hundred MB of buffer — the default keeps well
    * under a normal executor's headroom. */
  val DefaultExactQuantileMaxDistinct: Long = 4L * 1000 * 1000

  /** Family-path quantile ROUTING bound (performance, not correctness —
    * both routes are exact): columns whose distinct count is PROVABLY at
    * or under this — via the free static bound min(n, max-min+1 for
    * integral/date values) — ride the weighted Percentile inside job A
    * (buffer bounded by this constant, ~10 MB); all others use the
    * distributed bracket chain, which holds no whole-column buffer at
    * any cardinality. */
  val PercentileBufferMaxDistinct: Long = 1L << 18

  /** Profile `columns` of `df`. `df` must already be null-normalized
    * (graft.core.Report). */
  def profile(
      df: DataFrame,
      columns: Seq[String],
      approximate: Boolean = false,
      exactQuantileMaxDistinct: Long = DefaultExactQuantileMaxDistinct,
      percentileBufferMaxDistinct: Long = PercentileBufferMaxDistinct): Seq[ColumnProfile] = {
    // NOT widened via Parallelize.cpuBound: the wide agg carries
    // FP-accumulating stats (mean/std/mad) whose rounded values sit on
    // documented boundary rationals (l_discount's mean is EXACTLY
    // 0.0499185 — the rd6 bridge class in the verify notes), and an
    // extra exchange changes the FP merge order. Measured: widening at
    // sf0.01 flipped describe_long's rounded mean by one ulp while
    // buying ~nothing (the pass is not partition-bound — its local cost
    // is plan/launch latency, not per-row compute).
    val fields = df.schema.fields.map(f => f.name -> f).toMap
    val static = columns.map(c => c -> SemanticType.ofField(fields(c))).toMap

    def cnt(cond: Column): Column = count(when(cond, lit(1)))
    def quantileInput(name: String): Column = static(name) match {
      // NTZ timestamps cast through TimestampType under the UTC session
      // zone; DATE through epoch days — both lossless.
      case SemanticType.Date => unix_micros(col(name).cast(TimestampType))
      case _ => col(name).cast(DoubleType)
    }

    // ---- pass 1: one wide codegen'd hash agg ---------------------------
    val aggs = Seq.newBuilder[Column]
    aggs += count(lit(1)).as(s"${SEP}n")
    columns.foreach { name =>
      val f = fields(name)
      val c = col(name)
      def a(stat: String, e: Column): Unit = aggs += e.as(s"$name$SEP$stat")
      a("count", count(c))
      f.dataType match { // memory estimate: var-width measured, fixed derived
        case StringType | BinaryType => a("bytes", sum(octet_length(c)))
        case _ => ()
      }
      val st = static(name)
      if (approximate && wantsDistinct(st))
        a("distinct_count", approx_count_distinct(c))
      if (approximate && wantsQuantiles(st))
        a("quantiles", graft.plans.KllSketchAgg.kllQuantiles(
          quantileInput(name).cast(DoubleType), QuantilePs, ApproxQuantileK))
      st match {
        case SemanticType.Boolean =>
          a("mean", avg(c.cast(IntegerType)))
        case SemanticType.Date =>
          a("min", min(c)); a("max", max(c))
        case SemanticType.Numeric =>
          val d = c.cast(DoubleType)
          a("min", min(c)); a("max", max(c))
          a("mean", avg(c)); a("std", stddev_samp(c)); a("variance", var_samp(c))
          a("kurtosis", kurtosis(c)); a("skewness", skewness(c)); a("sum", sum(c))
          if (isFloating(f.dataType))
            a("n_infinite", cnt(d === Double.PositiveInfinity || d === Double.NegativeInfinity))
          a("n_zeros", cnt(c === lit(0)))
        case _ => ()
      }
    }
    val allAggs = aggs.result()
    val row = df.agg(allAggs.head, allAggs.tail: _*).head()
    val idx = row.schema.fieldNames.zipWithIndex.toMap
    def get(name: String, stat: String): Option[Any] =
      idx.get(s"$name$SEP$stat").map(row.get).filter(_ != null)
    val n = row.getLong(idx(s"${SEP}n"))

    // ---- pass 2 (exact mode): frequency tables ------------------------
    // distinct_count + frequency-weighted exact percentile. Same-typed
    // columns are UNPIVOTED into one (column, value) relation per type
    // family, so the whole pass is a fixed number of scans (one per
    // family), not one scan per column: profiling 11 columns benched
    // 19s -> ~6s at sf0.1 against the per-column shape. Columns outside
    // the three families (arrays, decimals) fall back to concurrent
    // per-column frequency jobs.
    // exact-mode mads harvested from the frequency tables (see below);
    // approximate mode keeps the dedicated raw-row scan
    val madFromFreq = scala.collection.concurrent.TrieMap.empty[String, Double]
    val freqStats: Map[String, (Long, Option[Seq[Any]])] =
      if (approximate) Map.empty
      else {
        // family = unified unpivot type; conversions preserve distinctness
        // (date -> epoch micros, integral -> long) and feed percentile
        // with the same double arithmetic as the direct cast
        def familyOf(name: String): Option[(String, Column)] = {
          val c = col(name)
          fields(name).dataType match {
            case ByteType | ShortType | IntegerType | LongType => Some("long" -> c.cast(LongType))
            case BooleanType => Some("long" -> c.cast(LongType))
            case DateType | TimestampType | TimestampNTZType =>
              Some("long" -> unix_micros(c.cast(TimestampType)))
            case FloatType | DoubleType => Some("double" -> c.cast(DoubleType))
            case StringType => Some("string" -> c)
            case _ => None
          }
        }
        // Cardinality ROUTING estimate for FALLBACK (non-family) columns
        // only — decimals/arrays, whose quantiles must choose between the
        // bounded Percentile buffer and the t-digest sketch before their
        // freq job runs. One small HLL job, and only when n even makes
        // the bound reachable. Family columns need no estimate: their
        // routing reads the EXACT distinct count off job A (below) and
        // runs the chosen route as a second job over the persisted freq
        // table — no extra scan, no sketch error. An earlier variant rode
        // HLL sketches on the pass-1 wide agg instead: approx_count_
        // distinct is an ImperativeAggregate, which knocks the whole
        // pass-1 hash agg out of whole-stage codegen (measured: the
        // 4-column long-form profile went 1.6 s -> 3.7 s at sf0.1).
        val gateEstimates: Map[String, Long] = {
          val qCols = columns.filter(c => wantsQuantiles(static(c)) &&
            familyOf(c).isEmpty && n > exactQuantileMaxDistinct)
          if (qCols.isEmpty) Map.empty
          else {
            val est = df.agg(
              approx_count_distinct(col(qCols.head)).as(qCols.head),
              qCols.tail.map(c => approx_count_distinct(col(c)).as(c)): _*).head()
            qCols.map(c => c -> est.getAs[Long](c)).toMap
          }
        }
        val want = columns.filter(c => wantsDistinct(static(c)))
        val results = scala.collection.mutable.Map.empty[String, (Long, Option[Seq[Any]])]

        // mad rides the frequency tables too (exact mode): avg(|x - mean|)
        // over rows == sum(f·|v - mean|)/sum(f) over the distinct table,
        // so the dedicated pass-3 full scan disappears — the distinct
        // table is never larger than the data and usually far smaller.
        def madMeanOf(n: String): Option[Double] =
          if (static(n) == SemanticType.Numeric)
            get(n, "mean").map(_.asInstanceOf[Number].doubleValue())
          else None

        // Static distinct-count upper bound for quantile routing: d ≤ n
        // always, and d ≤ max - min + 1 for integral/date columns (pass-1
        // extrema). Double arithmetic keeps the range overflow-safe and
        // is exact far beyond the 2^18 bound being tested.
        def epochish(v: Any): Option[Double] = v match {
          case x: java.sql.Date => Some(x.toLocalDate.toEpochDay.toDouble)
          case x: java.time.LocalDate => Some(x.toEpochDay.toDouble)
          case x: Number => Some(x.doubleValue())
          case _ => None
        }
        def provablySmall(name: String): Boolean =
          n <= percentileBufferMaxDistinct || {
            val integral = fields(name).dataType match {
              case ByteType | ShortType | IntegerType | LongType | DateType => true
              case _ => false
            }
            integral && (for {
              mn <- get(name, "min").flatMap(epochish)
              mx <- get(name, "max").flatMap(epochish)
            } yield mx - mn + 1 <= percentileBufferMaxDistinct.toDouble)
              .getOrElse(false)
          }

        val byFamily = want.flatMap(n => familyOf(n).map { case (f, conv) => (f, n, conv) })
          .groupBy(_._1)
        byFamily.foreach { case (family, members) =>
          // single-member family: plain projection, no explode machinery
          // (r17 — describe_numeric/long/date profile exactly one column
          // per family; the 1-element array explode bought nothing)
          val pairs = (members match {
            case Seq((_, n, conv)) =>
              df.select(lit(n).as("c"), conv.as("v"))
            case _ =>
              df.select(explode(array(members.map { case (_, n, conv) =>
                struct(lit(n).as("c"), conv.as("v"))
              }: _*)).as("p"))
                .select(col("p.c").as("c"), col("p.v").as("v"))
          }).filter(col("v").isNotNull)
          val wantQ = members.map(_._2)
            .filter(n => family != "string" && wantsQuantiles(static(n)))
          // Exact type-7 quantiles, routed in two FREE tiers (both routes
          // are exact, so routing can never change a value):
          //  - PROVABLY-small columns — static bound min(n, max-min+1 for
          //    integral/date values, all known from pass 1) at or under
          //    PercentileBufferMaxDistinct — ride job A's weighted
          //    Percentile directly: no extra job, bounded buffer;
          //  - AMBIGUOUS columns (high-n doubles, wide-range longs) are
          //    routed by the EXACT distinct count job A computes anyway:
          //    actually-small ones get one extra weighted-Percentile job
          //    over the CACHED freq blocks (sub-bound rows, ~ms), and
          //    truly-large ones go DISTRIBUTED: a per-column two-phase
          //    prefix sum over the (c, v, f) table brackets the
          //    ≤ 2·|probs| rows covering the needed order statistics;
          //    interpolation is driver-side (the same arithmetic as
          //    Stats.exactQuantiles — Spark Percentile / DuckDB
          //    quantile_cont parity). No buffer ever holds a whole
          //    column's distinct set, at ANY cardinality — this path
          //    needs no sketch fallback.
          // Rejected alternatives, each measured at sf0.1: a dedicated
          // HLL routing job ≈ one extra full scan per profile; HLL riding
          // pass 1 knocks the wide agg out of whole-stage codegen (the
          // 4-column profile went 1.6 s -> 3.7 s); exact-d routing for
          // EVERY column forces persist + a second round trip on the
          // provably-small majority.
          val (smallQ, ambigQ) = wantQ.partition(qn => provablySmall(qn))
          // the frequency table feeds one job when every quantile column
          // is provably small (job A); ambiguous columns add a second
          // consumer (the cached percentile job or the bracket chain) —
          // persist only when those extra consumers exist
          val freq0 = pairs.groupBy("c", "v").agg(count(lit(1)).as("f"))
          // localCheckpoint, not persist (r17): the cached-plan form
          // pinned every consumer stage (job A, tier-2 percentile, the
          // bracket chain) at full shuffle width — AQE cannot coalesce
          // through a persisted subplan — measured as 145 tasks for the
          // one-column numeric profile; the checkpoint materializes
          // with AQE-coalesced partitions and the same three consumers
          // read its blocks
          val freq = if (ambigQ.nonEmpty) freq0.barrier() else freq0
          try {
            val madMembers = members.map(_._2).flatMap(n => madMeanOf(n).map(n -> _))
            // job A — ONE aggregation over the freq table: distinct
            // counts, small-column percentiles, large-column row counts
            // and value bounds (feeding the bracket chain), and mad;
            // each group's mad uses its own pass-1 mean
            val madAgg =
              if (family == "string" || madMembers.isEmpty) Nil
              else {
                val meanExpr = coalesce(madMembers.map { case (n, m) =>
                  when(col("c") === lit(n), lit(m)) }: _*)
                Seq((sum(col("f") * abs(col("v").cast(DoubleType) - meanExpr)) /
                  sum(when(meanExpr.isNotNull, col("f")))).as("mad"))
              }
            // finite-only bounds: NaN/±Inf go to edge slices by rule, so
            // the bucketing literals must span only the finite values
            val vd = col("v").cast(DoubleType)
            // bounds are taken over the CLAMPED proxy (same as
            // Stats.exactQuantiles / Packing.deterministicSlice): clamping
            // is monotone, only slice balance shifts, and it keeps
            // mxv-mnv from overflowing to Infinity when the finite range
            // spans more than ~1.8e308 (which would make the bucket
            // division produce NaN and floor(NaN).cast throw under ANSI)
            val half = Double.MaxValue / 2
            val pb = greatest(least(vd, lit(half)), lit(-half))
            val finiteV =
              if (family == "double")
                when(isnan(vd) || vd === Double.PositiveInfinity ||
                  vd === Double.NegativeInfinity, lit(null)).otherwise(pb)
              else vd
            val smallAgg =
              if (smallQ.isEmpty) Nil
              else Seq(percentile(when(col("c").isin(smallQ: _*), col("v")),
                typedLit(QuantilePs), col("f")).as("q"))
            val boundsAgg =
              if (ambigQ.isEmpty) Nil
              else Seq(sum("f").as("nrows"),
                min(finiteV).as("mnv"), max(finiteV).as("mxv"))
            val aggExprs = count(lit(1)).as("d") +: (smallAgg ++ boundsAgg ++ madAgg)
            val qByCol = scala.collection.mutable.Map.empty[String, scala.collection.Seq[Any]]
            val dByCol = scala.collection.mutable.Map.empty[String, Long]
            val nByCol = scala.collection.mutable.Map.empty[String, Long]
            val vBounds = scala.collection.mutable.Map.empty[String, (Double, Double)]
            val madSet = madMembers.map(_._1).toSet
            freq.groupBy("c").agg(aggExprs.head, aggExprs.tail: _*).collect().foreach { r =>
              val c = r.getString(0)
              dByCol(c) = r.getAs[Long]("d")
              if (smallQ.contains(c) && r.getAs[Any]("q") != null)
                qByCol(c) = r.getAs[scala.collection.Seq[Any]]("q")
              if (ambigQ.contains(c)) {
                nByCol(c) = r.getAs[Long]("nrows")
                if (r.getAs[Any]("mnv") != null)
                  vBounds(c) = (r.getAs[Double]("mnv"), r.getAs[Double]("mxv"))
              }
              if (madSet.contains(c) && r.getAs[Any]("mad") != null)
                madFromFreq(c) = r.getAs[Double]("mad")
            }
            // tier 2: the exact d settles the ambiguous columns
            val (lateSmallQ, largeQ) = ambigQ.partition(qn =>
              dByCol.getOrElse(qn, 0L) <= percentileBufferMaxDistinct)
            if (lateSmallQ.nonEmpty) {
              // sub-bound groups only, over the CACHED freq blocks — the
              // scan was already paid by job A's materialization
              freq.filter(col("c").isin(lateSmallQ: _*)).groupBy("c")
                .agg(percentile(col("v"), typedLit(QuantilePs), col("f")).as("q"))
                .collect().foreach { r =>
                  if (r.getAs[Any]("q") != null)
                    qByCol(r.getString(0)) = r.getAs[scala.collection.Seq[Any]]("q")
                }
            }
            val qCols = largeQ.filter(n => nByCol.getOrElse(n, 0L) > 0)
            if (qCols.nonEmpty) {
              // aggregation-only bucket narrowing (r18) — the same
              // helper as Stats.quantilesFromFrequencies: one narrow
              // hash aggregation per round plus one small collect
              // replace the d-row sort/window/broadcast-join prefix
              // pass. The group key stays the dense int index (r17);
              // vBounds (the clamped finite proxy range job A already
              // computed) seeds each column's root interval.
              val idxOf = qCols.zipWithIndex.toMap
              val ci = coalesce(qCols.map(n =>
                when(col("c") === lit(n), lit(idxOf(n)))): _*)
              val neededByIdx = qCols.map { n =>
                val cnt = nByCol(n)
                val hs = QuantilePs.map(p => p * (cnt - 1))
                idxOf(n) -> hs.flatMap(h =>
                  Seq(math.floor(h).toLong, math.min(math.ceil(h).toLong, cnt - 1))).distinct
              }.toMap
              val boundsByIdx = qCols.flatMap(n =>
                vBounds.get(n).map(idxOf(n) -> _)).toMap
              val narrowed = freq.filter(col("c").isin(qCols: _*))
                .select(ci.as("_ci"), col("v"), col("f"))
              val brackets = graft.operators.Packing.bracketRowsByAgg(
                narrowed, "_ci", "v", "f", neededByIdx, boundsByIdx)
              qCols.foreach { n =>
                val rows = brackets.getOrElse(idxOf(n), Array.empty)
                def valueAt(pos: Long): Double = rows
                  .find(r => r._2 <= pos && r._2 + r._3 > pos)
                  .getOrElse(throw new IllegalStateException(
                    s"describe('$n'): no value covers position $pos"))
                  ._1
                val cnt = nByCol(n)
                qByCol(n) = QuantilePs.map { p =>
                  val h = p * (cnt - 1)
                  val lower = math.floor(h).toLong
                  val higher = math.min(math.ceil(h).toLong, cnt - 1)
                  // Spark Percentile's exact two-sided form — bit-identical
                  // to the buffered route for finite values, and the right
                  // answer (not NaN) when an endpoint is ±Infinity
                  if (higher == lower) (valueAt(lower): Any)
                  else ((higher - h) * valueAt(lower) +
                    (h - lower) * valueAt(higher): Any)
                }
              }
            }
            members.foreach { case (_, n, _) => // absent = all-null column
              results(n) = (dByCol.getOrElse(n, 0L), qByCol.get(n).map(_.toSeq))
            }
          } finally if (ambigQ.nonEmpty) release(freq)
        }

        // fallback: per-column jobs for non-family types, run concurrently
        val rest = want.filterNot(n => familyOf(n).isDefined)
        if (rest.nonEmpty) {
          implicit val ec: ExecutionContext = Describe.freqEc
          val futures = rest.map { name =>
            name -> Future {
              val freq = df.filter(col(name).isNotNull)
                .groupBy(col(name)).agg(count(lit(1)).as(s"${SEP}f"))
              val withQ = wantsQuantiles(static(name))
              val exact = gateEstimates.getOrElse(name, 0L) <= exactQuantileMaxDistinct
              val madMean = madMeanOf(name)
              val exprs = count(lit(1)).as("d") +:
                ((if (withQ && exact)
                  Seq(percentile(quantileInput(name), typedLit(QuantilePs), col(s"${SEP}f")).as("q"))
                else Nil) ++
                madMean.map(m => (sum(col(s"${SEP}f") *
                  abs(col(name).cast(DoubleType) - lit(m))) /
                  sum(col(s"${SEP}f"))).as("mad")).toSeq)
              val r = freq.agg(exprs.head, exprs.tail: _*).head()
              if (madMean.isDefined && r.getAs[Any]("mad") != null)
                madFromFreq(name) = r.getAs[Double]("mad")
              val qs =
                if (withQ && exact && r.getAs[Any]("q") != null)
                  Some(r.getAs[scala.collection.Seq[Any]]("q").toSeq)
                else if (withQ && !exact) { // gate fired: KLL over raw rows
                  val rr = df.filter(col(name).isNotNull)
                    .agg(graft.plans.KllSketchAgg.kllQuantiles(
                      quantileInput(name).cast(DoubleType), QuantilePs,
                      ApproxQuantileK).as("q")).head()
                  if (rr.isNullAt(0)) None else Some(rr.getSeq[Any](0).toSeq)
                } else None
              (r.getAs[Long]("d"), qs)
            }
          }
          futures.foreach { case (name, fut) =>
            results(name) = Await.result(fut, Duration.Inf)
          }
        }
        results.toMap
      }

    def distinctOf(name: String): Option[Long] =
      if (approximate) get(name, "distinct_count").map(_.asInstanceOf[Number].longValue())
      else freqStats.get(name).map(_._1)
    def quantilesOf(name: String): Option[scala.collection.Seq[Any]] =
      if (approximate) get(name, "quantiles").map(_.asInstanceOf[scala.collection.Seq[Any]])
      else freqStats.get(name).flatMap(_._2)

    // ---- pass 3: mad for columns the freq tables didn't cover ----------
    // Exact mode harvests every mad from pass 2 (madFromFreq), so this
    // scan only fires in approximate mode (no freq tables exist there).
    val numericWithMean = columns.filter { name =>
      static(name) == SemanticType.Numeric && get(name, "mean").isDefined
    }
    val madLeftover = numericWithMean.filterNot(madFromFreq.contains)
    val madByCol: Map[String, Any] =
      (if (madLeftover.isEmpty) Map.empty[String, Any]
      else {
        val madAggs = madLeftover.map { name =>
          val mean = get(name, "mean").get.asInstanceOf[Number].doubleValue()
          avg(abs(col(name).cast(DoubleType) - lit(mean))).as(s"$name$SEP")
        }
        val madRow = df.agg(madAggs.head, madAggs.tail: _*).head()
        madLeftover.zipWithIndex.flatMap { case (name, i) =>
          Option(madRow.get(i)).map(name -> _)
        }.toMap
      }) ++ madFromFreq.map { case (k, v) => k -> (v: Any) }

    // ---- driver-side assembly, reference stat order --------------------
    columns.map { name =>
      val f = fields(name)
      val cn = get(name, "count").map(_.asInstanceOf[Number].longValue()).getOrElse(0L)
      val tpe = SemanticType.refineEmpty(static(name), cn, n)
      val s = ListMap.newBuilder[String, Any]
      s += "content_type" -> tpe.name
      s += "memory_usage" -> memoryEstimate(f, n, get(name, "bytes"))
      s += "count" -> cn
      s += "p_null" -> (if (n == 0) 0.0 else (n - cn).toDouble / n)
      s += "n_null" -> (n - cn)

      if (tpe != SemanticType.Unsupported && tpe != SemanticType.Geometry) {
        val nd = distinctOf(name).getOrElse(0L)
        s += "distinct_count" -> nd
        s += "is_constant" -> (nd == 1L)
        s += "is_unique" -> (nd == n) // vs size, petk/tools.py:33
        s += "p_unique" -> (if (n == 0) 0.0 else nd.toDouble / n)

        // EMPTY columns keep only the base + distinct block, matching the
        // reference ladder where EMPTY preempts the dtype branches.
        if (tpe == SemanticType.Boolean) {
          get(name, "mean").foreach(m => s += "mean" -> m)
        } else if (tpe == SemanticType.Date || tpe == SemanticType.Numeric) {
          get(name, "min").foreach(v => s += "min" -> v)
          get(name, "max").foreach(v => s += "max" -> v)
          val qs = quantilesOf(name)
          qs.foreach { q =>
            QuantileNames.zip(q).foreach { case (qn, v) =>
              val vv = if (tpe == SemanticType.Date && v != null)
                microsToTimestamp(v.asInstanceOf[Number].doubleValue())
              else v
              if (vv != null) s += qn -> vv
            }
          }
          if (tpe == SemanticType.Numeric) {
            val mean = get(name, "mean").map(_.asInstanceOf[Number].doubleValue())
            val std = get(name, "std").map(_.asInstanceOf[Number].doubleValue())
            mean.foreach(m => s += "mean" -> m)
            std.foreach(v => s += "std" -> v)
            get(name, "variance").foreach(v => s += "variance" -> v)
            qs.foreach { q =>
              if (q(3) != null && q(1) != null)
                s += "iqr" -> (q(3).asInstanceOf[Number].doubleValue() -
                  q(1).asInstanceOf[Number].doubleValue())
            }
            get(name, "kurtosis").foreach { g2 =>
              kurtosisG2(cn, g2.asInstanceOf[Number].doubleValue())
                .foreach(v => s += "kurtosis" -> v)
            }
            get(name, "skewness").foreach { g1 =>
              skewnessG1(cn, g1.asInstanceOf[Number].doubleValue())
                .foreach(v => s += "skewness" -> v)
            }
            get(name, "sum").foreach(v => s += "sum" -> v)
            madByCol.get(name).foreach(v => s += "mad" -> v)
            for (m <- mean; v <- std if m != 0.0) s += "cv" -> v / m
            val nInf =
              get(name, "n_infinite").map(_.asInstanceOf[Number].longValue()).getOrElse(0L)
            s += "p_infinite" -> (if (n == 0) 0.0 else nInf.toDouble / n)
            s += "n_infinite" -> nInf
            val nZeros = get(name, "n_zeros").map(_.asInstanceOf[Number].longValue()).getOrElse(0L)
            s += "n_zeros" -> nZeros
            s += "p_zeros" -> (if (n == 0) 0.0 else nZeros.toDouble / n)
          }
        }
      }
      ColumnProfile(name, tpe, s.result())
    }
  }

  /** Bounded pool for concurrent per-column frequency jobs (driver-side
    * job submission only; the work runs on executors). */
  private lazy val freqEc: ExecutionContext = ExecutionContext.fromExecutor(
    java.util.concurrent.Executors.newFixedThreadPool(8, r => {
      val t = new Thread(r, "describe-freq"); t.setDaemon(true); t
    }))

  /** Bias-corrected sample excess kurtosis (pandas `Series.kurt`) from
    * Spark's population excess kurtosis g2. */
  def kurtosisG2(n: Long, g2: Double): Option[Double] =
    if (n < 4 || g2.isNaN) None
    else Some((n - 1.0) / ((n - 2.0) * (n - 3.0)) * ((n + 1.0) * g2 + 6.0))

  /** Bias-corrected sample skewness (pandas `Series.skew`) from Spark's
    * population skewness g1. */
  def skewnessG1(n: Long, g1: Double): Option[Double] =
    if (n < 3 || g1.isNaN) None
    else Some(g1 * math.sqrt(n * (n - 1.0)) / (n - 2.0))

  private def microsToTimestamp(us: Double): java.sql.Timestamp = {
    val micros = math.rint(us).toLong
    val ts = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
    ts.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
    ts
  }

  /** Spark-side size estimate (exact pandas byte parity is impossible and
    * not required — SURVEY.md A7/A19). Fixed-width types: n * width + null
    * bitmap; var-width: measured bytes from the profiling agg. */
  private def memoryEstimate(f: StructField, n: Long, measured: Option[Any]): Long = {
    val varBytes = measured.map(_.asInstanceOf[Number].longValue())
    varBytes match {
      case Some(b) => b + n / 8 + 16
      case None => n * f.dataType.defaultSize + n / 8 + 16
    }
  }
}
