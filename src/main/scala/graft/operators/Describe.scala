package graft.operators

import scala.collection.immutable.ListMap
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.SemanticType
import graft.operators.Materialize._

/** Per-column statistics kernel — the Spark-native equivalent of the
  * reference's `get_description` (petk/tools.py:14-70).
  *
  * Execution shape (SURVEY.md §4.2, revised after benching):
  *
  *  1. Pass 1 computes every moment/count/extremum stat for every
  *     requested column (count, min, max, mean, std, var, kurtosis,
  *     skewness, sum, zeros, infinities, measured bytes) in no-grouping
  *     hash aggregations, packed into chunks whose aggregation buffer
  *     stays within `spark.sql.codegen.maxFields` ([[pass1Chunks]]): one
  *     aggregation over more buffer fields silently loses whole-stage
  *     codegen, and a numeric column carries 22-23 of them, so ONE wide
  *     aggregation fell back to the interpreted path from about five
  *     numeric columns on. The chunks run as one action (a cartesian
  *     product of their one-row results): k chunks cost k + 1 AQE jobs.
  *  2. Exact distinct counts and exact (type-7) percentiles do NOT join
  *     pass 1: mixing a distinct aggregate and the TypedImperative
  *     Percentile in one agg forces an Expand-based plan that benched
  *     2-6x slower than running the pieces separately (57s vs ~15s at
  *     sf0.1) and single-reducer Percentile cannot scale. Instead every
  *     long/double/string-family column is unpivoted into ONE typed
  *     `(c, vl, vd, vs)` relation and counted into ONE two-phase
  *     frequency table — a scalable hash aggregation that shuffles only
  *     distinct values — from which one job (job A) reads distinct_count,
  *     mad and, per family, the frequency-weighted exact percentile over
  *     that family's own typed value. Columns whose distinct count pass 1
  *     cannot bound read the same table again (a weighted-percentile job
  *     or the distributed bracket chain). Columns outside the families
  *     (decimals, arrays) get per-column frequency jobs; they and the
  *     family table run concurrently on a fixed driver pool.
  *  3. `approximate = true` (the 100 TB mode) folds distinct + quantiles
  *     back into pass 1 as mergeable sketches (HLL++
  *     `approx_count_distinct`, KLL quantiles
  *     [[graft.plans.KllSketchAgg]]) — benched ~10x cheaper than the
  *     exact pair and single-pass. Its pass 1 stays ONE aggregation:
  *     the sketches are imperative aggregates, which never codegen. KLL
  *     (k = [[ApproxQuantileK]], ~0.3% normalized rank error) replaced
  *     `percentile_approx` here: the GK summary answers one in-query
  *     percentile but cannot be stored or unioned, while the KLL sketch
  *     is the same object [[Profiles]] persists per shard — approximate
  *     describe over a sharded corpus is now profile-union, not rescan.
  *  4. `mad` needs the mean first (petk/tools.py:62). Exact mode reads it
  *     off the frequency table in job A; approximate mode, which has no
  *     frequency table, runs one dependent aggregation for all numeric
  *     columns together.
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
    // NOT widened via Parallelize.cpuBound: the pass-1 aggregates carry
    // FP-accumulating stats (mean/std/mad) whose rounded values sit on
    // documented boundary rationals (l_discount's mean is EXACTLY
    // 0.0499185 — the rd6 bridge class in the verify notes), and an
    // extra exchange changes the FP merge order. Measured: widening at
    // sf0.01 flipped describe_long's rounded mean by one ulp while
    // buying ~nothing (the pass is not partition-bound — its local cost
    // is plan/launch latency, not per-row compute).
    val fields = df.schema.fields.map(f => f.name -> f).toMap
    val static = columns.map(c => c -> SemanticType.ofField(fields(c))).toMap

    // ---- pass 1: codegen-sized chunks, one action ---------------------
    val pass1 = aggregateChunks(df, pass1Chunks(df, columns, approximate))
    def get(name: String, stat: String): Option[Any] =
      pass1.get(s"$name$SEP$stat").filter(_ != null)
    val n = pass1(s"${SEP}n").asInstanceOf[Long]

    // ---- pass 2 (exact mode): one frequency table ---------------------
    // distinct_count + frequency-weighted exact percentile + mad. Every
    // family column (see slotOf) is UNPIVOTED into ONE typed
    // (c, vl, vd, vs) relation, so the pass is one scan and one job A
    // whatever the mix of types (one scan per type family, run one after
    // another, cost 3 chains of 3 AQE jobs on an 11-column table).
    // Columns outside the families (arrays, decimals) get per-column
    // frequency jobs, run concurrently with the family table's.
    val freqStats: Map[String, FreqStat] =
      if (approximate) Map.empty
      else {
        val want = columns.filter(c => wantsDistinct(static(c)))
        val (family, rest) = want.partition(c => slotOf(fields(c)).isDefined)

        // mad rides the frequency tables (exact mode): avg(|x - mean|)
        // over rows == sum(f·|v - mean|)/sum(f) over the distinct table,
        // so the dedicated pass-3 full scan disappears — the distinct
        // table is never larger than the data and usually far smaller.
        def madMeanOf(c: String): Option[Double] =
          if (static(c) == SemanticType.Numeric)
            get(c, "mean").map(_.asInstanceOf[Number].doubleValue())
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

        def familyStats(members: Seq[String]): Seq[(String, FreqStat)] = {
          def unpivoted(name: String): Seq[Column] = {
            val (slot, v) = slotOf(fields(name)).get
            lit(name).as("c") +: Slots.map { case (s, t) =>
              (if (s == slot) v else lit(null).cast(t)).as(s)
            }
          }
          // single member: plain projection, no explode machinery (r17 —
          // describe_numeric/long/date profile exactly one column; the
          // 1-element array explode bought nothing)
          val pairs = (members match {
            case Seq(one) => df.select(unpivoted(one): _*)
            case _ =>
              df.select(explode(array(members.map(m => struct(unpivoted(m): _*)): _*)).as("p"))
                .select("p.*")
          }).filter(Slots.map { case (s, _) => col(s).isNotNull }.reduce(_ || _))
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
          //    truly-large ones go DISTRIBUTED: Packing.weightedQuantiles
          //    brackets the ≤ 2·|probs| rows covering the needed order
          //    statistics of the (c, v, f) table and interpolates them
          //    driver-side (Spark Percentile / DuckDB quantile_cont
          //    parity). No buffer ever holds a whole
          //    column's distinct set, at ANY cardinality — this path
          //    needs no sketch fallback.
          // Rejected alternatives, each measured at sf0.1: a dedicated
          // HLL routing job ≈ one extra full scan per profile; HLL riding
          // pass 1 knocks the wide agg out of whole-stage codegen (the
          // 4-column profile went 1.6 s -> 3.7 s); exact-d routing for
          // EVERY column forces persist + a second round trip on the
          // provably-small majority.
          val (smallQ, ambigQ) = members.filter(m => wantsQuantiles(static(m)))
            .partition(provablySmall)
          val freq0 = pairs.groupBy("c", Slots.map(_._1): _*).agg(count(lit(1)).as("f"))
          // localCheckpoint, not persist (r17): the cached-plan form
          // pinned every consumer stage (job A, tier-2 percentile, the
          // bracket chain) at full shuffle width — AQE cannot coalesce
          // through a persisted subplan — measured as 145 tasks for the
          // one-column numeric profile; the checkpoint materializes
          // with AQE-coalesced partitions and the same three consumers
          // read its blocks. Only ambiguous columns add those consumers.
          val freq = if (ambigQ.nonEmpty) freq0.barrier() else freq0
          try {
            // one percentile column per family, each over that family's
            // own typed value: no value is coerced into another family
            def percentiles(qs: Seq[String]): Seq[Column] = Seq("vl", "vd").flatMap { s =>
              val mine = qs.filter(q => slotOf(fields(q)).exists(_._1 == s))
              if (mine.isEmpty) None
              else Some(percentile(when(col("c").isin(mine: _*), col(s)),
                typedLit(QuantilePs), col("f")).as(s"q$s"))
            }
            def quantilesIn(r: Row): Option[Seq[Any]] = Seq("qvl", "qvd").collectFirst {
              case k if r.schema.fieldNames.contains(k) && !r.isNullAt(r.fieldIndex(k)) =>
                r.getAs[scala.collection.Seq[Any]](k).toSeq
            }
            // the numeric value as a double: mad and the bracket chain
            // read it (strings are null here)
            val x = coalesce(col("vl").cast(DoubleType), col("vd"))
            val madMembers = members.flatMap(m => madMeanOf(m).map(m -> _))
            // job A — ONE aggregation over the freq table: distinct
            // counts, small-column percentiles, large-column row counts
            // and value bounds (feeding the bracket chain), and mad;
            // each group's mad uses its own pass-1 mean
            val madAgg =
              if (madMembers.isEmpty) Nil
              else {
                val meanExpr = coalesce(madMembers.map { case (m, mean) =>
                  when(col("c") === lit(m), lit(mean)) }: _*)
                Seq((sum(col("f") * abs(x - meanExpr)) /
                  sum(when(meanExpr.isNotNull, col("f")))).as("mad"))
              }
            // finite-only bounds over the clamped proxy: the root interval
            // of each column's bracket chain (NaN/±Inf resolve by rule)
            val finiteX = Packing.finiteProxy(x)
            val boundsAgg =
              if (ambigQ.isEmpty) Nil
              else Seq(sum("f").as("nrows"), min(finiteX).as("mnv"), max(finiteX).as("mxv"))
            val aggExprs = count(lit(1)).as("d") +: (percentiles(smallQ) ++ boundsAgg ++ madAgg)
            val qByCol = scala.collection.mutable.Map.empty[String, Seq[Any]]
            val dByCol = scala.collection.mutable.Map.empty[String, Long]
            val nByCol = scala.collection.mutable.Map.empty[String, Long]
            val vBounds = scala.collection.mutable.Map.empty[String, (Double, Double)]
            val madByCol = scala.collection.mutable.Map.empty[String, Double]
            val madSet = madMembers.map(_._1).toSet
            freq.groupBy("c").agg(aggExprs.head, aggExprs.tail: _*).collect().foreach { r =>
              val c = r.getString(0)
              dByCol(c) = r.getAs[Long]("d")
              if (smallQ.contains(c)) quantilesIn(r).foreach(qByCol(c) = _)
              if (ambigQ.contains(c)) {
                nByCol(c) = r.getAs[Long]("nrows")
                if (r.getAs[Any]("mnv") != null)
                  vBounds(c) = (r.getAs[Double]("mnv"), r.getAs[Double]("mxv"))
              }
              if (madSet.contains(c) && r.getAs[Any]("mad") != null)
                madByCol(c) = r.getAs[Double]("mad")
            }
            // tier 2: the exact d settles the ambiguous columns
            val (lateSmallQ, largeQ) = ambigQ.partition(qn =>
              dByCol.getOrElse(qn, 0L) <= percentileBufferMaxDistinct)
            if (lateSmallQ.nonEmpty) {
              // sub-bound groups only, over the CACHED freq blocks — the
              // scan was already paid by job A's materialization
              val ps = percentiles(lateSmallQ)
              freq.filter(col("c").isin(lateSmallQ: _*)).groupBy("c")
                .agg(ps.head, ps.tail: _*)
                .collect().foreach(r => quantilesIn(r).foreach(qByCol(r.getString(0)) = _))
            }
            val qCols = largeQ.filter(n => nByCol.getOrElse(n, 0L) > 0)
            if (qCols.nonEmpty) {
              // one narrowing chain for every family: the group key is
              // the dense int index (r17), vBounds seeds each column's
              // root interval, and a long never lands in the NaN/±Inf
              // edge classes a double view adds
              val code = qCols.zipWithIndex.toMap
              val ci = coalesce(qCols.map(n => when(col("c") === lit(n), lit(code(n)))): _*)
              val narrowed = freq.filter(col("c").isin(qCols: _*))
                .select(ci.as("_ci"), x.as("v"), col("f"))
              val qs = Packing.weightedQuantiles(narrowed, "_ci", "v", "f",
                QuantilePs, qCols.map(n => code(n) -> nByCol(n)).toMap,
                qCols.flatMap(n => vBounds.get(n).map(code(n) -> _)).toMap,
                context = g => s"describe('${qCols(g)}'): ")
              qCols.foreach(n => qByCol(n) = qs(code(n)))
            }
            members.map(m => m -> // absent = all-null column
              FreqStat(dByCol.getOrElse(m, 0L), qByCol.get(m), madByCol.get(m)))
          } finally if (ambigQ.nonEmpty) release(freq)
        }

        // Cardinality ROUTING estimate for the non-family columns only —
        // decimals/arrays, whose quantiles must choose between the
        // bounded Percentile buffer and the t-digest sketch before their
        // freq job runs. One small HLL job, and only when n even makes
        // the bound reachable. Family columns need no estimate: their
        // routing reads the EXACT distinct count off job A and runs the
        // chosen route over the persisted freq table — no extra scan, no
        // sketch error. An earlier variant rode HLL sketches on pass 1
        // instead: approx_count_distinct is an ImperativeAggregate, which
        // knocks the pass-1 hash agg out of whole-stage codegen
        // (measured: the 4-column long-form profile went 1.6 s -> 3.7 s
        // at sf0.1).
        val gateEstimates: Map[String, Long] = {
          val qCols = rest.filter(c => wantsQuantiles(static(c)) && n > exactQuantileMaxDistinct)
          if (qCols.isEmpty) Map.empty
          else {
            val est = df.agg(
              approx_count_distinct(col(qCols.head)).as(qCols.head),
              qCols.tail.map(c => approx_count_distinct(col(c)).as(c)): _*).head()
            qCols.map(c => c -> est.getAs[Long](c)).toMap
          }
        }
        def fallbackStats(name: String): (String, FreqStat) = {
          val freq = df.filter(col(name).isNotNull)
            .groupBy(col(name)).agg(count(lit(1)).as(s"${SEP}f"))
          val withQ = wantsQuantiles(static(name))
          val exact = gateEstimates.getOrElse(name, 0L) <= exactQuantileMaxDistinct
          val madMean = madMeanOf(name)
          val exprs = count(lit(1)).as("d") +:
            ((if (withQ && exact)
              Seq(percentile(quantileInput(fields(name)), typedLit(QuantilePs), col(s"${SEP}f")).as("q"))
            else Nil) ++
            madMean.map(m => (sum(col(s"${SEP}f") *
              abs(col(name).cast(DoubleType) - lit(m))) /
              sum(col(s"${SEP}f"))).as("mad")).toSeq)
          val r = freq.agg(exprs.head, exprs.tail: _*).head()
          val qs =
            if (withQ && exact && r.getAs[Any]("q") != null)
              Some(r.getAs[scala.collection.Seq[Any]]("q").toSeq)
            else if (withQ && !exact) { // gate fired: KLL over raw rows
              val rr = df.filter(col(name).isNotNull)
                .agg(graft.plans.KllSketchAgg.kllQuantiles(
                  quantileInput(fields(name)).cast(DoubleType), QuantilePs,
                  ApproxQuantileK).as("q")).head()
              if (rr.isNullAt(0)) None else Some(rr.getSeq[Any](0).toSeq)
            } else None
          val mad = if (madMean.isDefined) Option(r.getAs[Any]("mad")).map(_.asInstanceOf[Double])
            else None
          name -> FreqStat(r.getAs[Long]("d"), qs, mad)
        }

        val tasks: Seq[() => Seq[(String, FreqStat)]] =
          (if (family.isEmpty) Nil else Seq(() => familyStats(family))) ++
            rest.map(name => () => Seq(fallbackStats(name)))
        onPool(df.sparkSession.sparkContext, tasks).flatten.toMap
      }

    def distinctOf(name: String): Option[Long] =
      if (approximate) get(name, "distinct_count").map(_.asInstanceOf[Number].longValue())
      else freqStats.get(name).map(_.distinct)
    def quantilesOf(name: String): Option[scala.collection.Seq[Any]] =
      if (approximate) get(name, "quantiles").map(_.asInstanceOf[scala.collection.Seq[Any]])
      else freqStats.get(name).flatMap(_.quantiles)

    // ---- pass 3: mad for columns the freq tables didn't cover ----------
    // Exact mode harvests every mad from pass 2, so this scan only fires
    // in approximate mode (no freq tables exist there).
    val madFromFreq: Map[String, Any] =
      freqStats.flatMap { case (c, s) => s.mad.map(c -> (_: Any)) }
    val madLeftover = columns.filter { name =>
      static(name) == SemanticType.Numeric && get(name, "mean").isDefined &&
        !madFromFreq.contains(name)
    }
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
      }) ++ madFromFreq

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

  /** Pass 2's result for one column: exact distinct count, quantiles when
    * the column takes them, and mad from its frequency table. */
  private final case class FreqStat(distinct: Long, quantiles: Option[Seq[Any]],
      mad: Option[Double])

  /** The typed unpivot's value slots, one per frequency-table family. */
  private val Slots: Seq[(String, DataType)] =
    Seq("vl" -> LongType, "vd" -> DoubleType, "vs" -> StringType)

  /** A family column's slot and its value there: integral, boolean and
    * date/time values as longs (date/time as epoch micros), floats as
    * doubles, strings as strings. Each conversion preserves distinctness
    * and feeds percentile the same double arithmetic as a direct cast.
    * None (decimals, arrays): a per-column frequency job instead. */
  private def slotOf(f: StructField): Option[(String, Column)] = {
    val c = col(f.name)
    f.dataType match {
      case ByteType | ShortType | IntegerType | LongType | BooleanType =>
        Some("vl" -> c.cast(LongType))
      case DateType | TimestampType | TimestampNTZType =>
        Some("vl" -> unix_micros(c.cast(TimestampType)))
      case FloatType | DoubleType => Some("vd" -> c.cast(DoubleType))
      case StringType => Some("vs" -> c)
      case _ => None
    }
  }

  /** A quantile column's values as numbers. NTZ timestamps cast through
    * TimestampType under the UTC session zone; DATE through epoch days —
    * both lossless. */
  private def quantileInput(f: StructField): Column = SemanticType.ofField(f) match {
    case SemanticType.Date => unix_micros(col(f.name).cast(TimestampType))
    case _ => col(f.name).cast(DoubleType)
  }

  /** Pass 1's aggregates for one column, keyed `column SEP stat`. */
  private def pass1Aggs(f: StructField, approximate: Boolean): Seq[(String, Column)] = {
    val name = f.name
    val c = col(name)
    val st = SemanticType.ofField(f)
    val out = Seq.newBuilder[(String, Column)]
    def a(stat: String, e: Column): Unit = out += s"$name$SEP$stat" -> e
    def cnt(cond: Column): Column = count(when(cond, lit(1)))
    a("count", count(c))
    f.dataType match { // memory estimate: var-width measured, fixed derived
      case StringType | BinaryType => a("bytes", sum(octet_length(c)))
      case _ => ()
    }
    if (approximate && wantsDistinct(st))
      a("distinct_count", approx_count_distinct(c))
    if (approximate && wantsQuantiles(st))
      a("quantiles", graft.plans.KllSketchAgg.kllQuantiles(
        quantileInput(f).cast(DoubleType), QuantilePs, ApproxQuantileK))
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
    out.result()
  }

  /** Pass 1's aggregates — the row count, then each column's group —
    * packed in column order into chunks that whole-stage codegen accepts.
    * A no-grouping aggregate whose buffer holds more fields than the
    * session's `spark.sql.codegen.maxFields` (default 100) silently runs
    * as an interpreted HashAggregate, and one numeric column carries 22-23
    * buffer fields. Each group's width is read off the analyzed plan's
    * `aggBufferAttributes`, so a stat added later is counted without a
    * hand-kept table. A no-grouping aggregate computes every column on its
    * own, so the split changes no value. Approximate mode keeps one
    * chunk: its sketches are imperative aggregates, never codegen'd. */
  private[operators] def pass1Chunks(df: DataFrame, columns: Seq[String],
      approximate: Boolean): Seq[Seq[(String, Column)]] = {
    val groups = Seq(s"${SEP}n" -> count(lit(1))) +:
      columns.map(c => pass1Aggs(df.schema(c), approximate))
    if (approximate) Seq(groups.flatten)
    else {
      val all = groups.flatten.map(_._2)
      val buffers: Seq[Seq[Attribute]] =
        df.agg(all.head, all.tail: _*).queryExecution.analyzed match {
          case a: Aggregate => a.aggregateExpressions.map(_.collect {
            case e: AggregateExpression => e.aggregateFunction.aggBufferAttributes
          }.flatten)
          case other => throw new IllegalStateException(
            s"pass 1 analyzed to ${other.nodeName}, not an Aggregate")
        }
      val conf = df.sparkSession.sessionState.conf
      def fits(attrs: Seq[Attribute]) = !WholeStageCodegenExec.isTooManyFields(conf,
        StructType(attrs.map(a => StructField(a.name, a.dataType))))
      val chunks = Seq.newBuilder[Seq[(String, Column)]]
      var chunk = Vector.empty[(String, Column)]
      var width = Vector.empty[Attribute]
      var rest = buffers
      groups.foreach { g =>
        val (mine, tail) = rest.splitAt(g.size)
        rest = tail
        val attrs = mine.flatten
        if (chunk.nonEmpty && !fits(width ++ attrs)) {
          chunks += chunk
          chunk = Vector.empty
          width = Vector.empty
        }
        chunk ++= g
        width ++= attrs
      }
      (chunks += chunk).result()
    }
  }

  /** Runs pass 1's chunks as ONE action and returns every stat by key.
    * Each chunk stays its own no-grouping aggregate (own exchange, own
    * codegen stage) and yields exactly one row; the rows are joined side
    * by side as a cartesian product, so AQE submits every chunk's map
    * stage at once and k chunks cost k + 1 jobs, where one action per
    * chunk would cost 2k. (A union would need each chunk padded to the
    * shared schema, and the optimizer folds that padding into the final
    * aggregate, which then outgrows the codegen limit again.) */
  private def aggregateChunks(df: DataFrame,
      chunks: Seq[Seq[(String, Column)]]): Map[String, Any] = {
    val offsets = chunks.scanLeft(0)(_ + _.size)
    val frames = chunks.zip(offsets).map { case (chunk, off) =>
      val named = chunk.zipWithIndex.map { case ((_, e), j) => e.as(s"_${off + j}") }
      df.agg(named.head, named.tail: _*)
    }
    val row = frames.reduce((a, b) => a.hint("shuffle_replicate_nl").crossJoin(b)).head()
    chunks.flatten.map(_._1).zipWithIndex.map { case (key, k) => key -> row.get(k) }.toMap
  }

  /** Job-local properties a pool task takes over from its caller, so
    * describe's jobs keep the caller's job group (cancelling the group
    * cancels them), tags, description and scheduler pool. */
  private val CallerProps = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel", "spark.job.tags", "spark.scheduler.pool")

  /** Runs `tasks` on [[freqEc]] and blocks the caller until all finish.
    * Only the caller waits: a task never awaits another pool future, so
    * any number of concurrent callers share the fixed pool without
    * deadlock. */
  private def onPool[T](sc: SparkContext, tasks: Seq[() => T]): Seq[T] = {
    val props = CallerProps.map(k => k -> sc.getLocalProperty(k))
    implicit val ec: ExecutionContext = freqEc
    tasks.map { t =>
      Future {
        props.foreach { case (k, v) => sc.setLocalProperty(k, v) }
        t()
      }
    }.map(Await.result(_, Duration.Inf))
  }

  /** Bounded pool for describe's frequency-table tasks (driver-side job
    * submission only; the work runs on executors). */
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
