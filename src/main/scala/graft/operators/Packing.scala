package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Contiguous sequence packing for LLM training batches: documents are
  * laid end-to-end in a deterministic total order and the token stream is
  * chunked into fixed-size context windows ("concat-and-chunk" packing).
  * Each document gets its global token start offset, its window (seq_id),
  * and a flag for whether it straddles a window boundary.
  *
  * The global running sum is the scale problem: a single
  * `Window.orderBy(id)` moves the whole table into ONE partition (Spark
  * even warns "No Partition Defined for Window operation"). This
  * implementation is the two-phase shape that survives 100 TB:
  *
  *   1. assign every row a SLICE id — a deterministic, monotone function
  *      of the order key (see [[deterministicSlice]]), so each slice is a
  *      contiguous span of the total order; the local running sum is a
  *      window PER SLICE — parallel;
  *   2. the per-slice totals (at most slices+2 rows, tiny) are cumulated
  *      in slice order on a single small partition and broadcast back as
  *      each slice's base offset.
  *
  * Slice ids are a PURE FUNCTION OF THE ROW (order value + literal
  * bounds computed once, eagerly, from exact min/max — never sampled):
  * every consumer of the plan assigns identical slices on every
  * recompute, so no `persist()` is needed for correctness and no
  * recompute path (cache eviction, AQE replan, speculative retry) can
  * disagree with another. This replaces the round-6 construction
  * (`spark_partition_id()` over a sampled `repartitionByRange`, pinned
  * by `persist()`), whose slice ids depended on WHICH materialization a
  * consumer observed — the intermittent `mix_corpus` hash drift.
  *
  * Greedy never-split packing (close the window when the next document
  * would overflow) requires a running sum with data-dependent resets —
  * inherently sequential, not a window function. Contiguous packing is
  * what large-scale training pipelines use precisely because it is a
  * pure prefix sum; documents longer than the budget simply span
  * multiple windows.
  */
object Packing {

  /** Fixed-size token-window chunking with overlap — the other standard
    * training-example shape (RAG indexing, long-doc splitting): each
    * document is cut into windows of `size` tokens starting every
    * `stride` tokens (stride < size ⇒ overlapping context). Chunk k
    * covers tokens [k·stride, k·stride + size); starts run while they
    * still index a token, so the final chunk may be short. Token-less
    * documents emit no chunks.
    *
    * Scale shape: tokenize → generate chunk ids (sequence + explode) →
    * slice — one narrow, fully codegen'd stage; no shuffle, no UDF, and
    * chunk rows never leave the partition that read the document. */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
      size: Int, stride: Int): DataFrame = {
    require(size > 0 && stride > 0, s"size/stride must be positive, got $size/$stride")
    require(stride <= size, s"stride $stride > size $size would skip tokens")
    val toks = TextAnalysis.tokens(col(textCol))
    df.select(col(idCol), toks.as("_t"))
      .withColumn("_n", org.apache.spark.sql.functions.size(col("_t")))
      .filter(col("_n") > 0)
      .select(col(idCol),
        explode(sequence(lit(0), floor((col("_n") - 1) / stride).cast("int")))
          .as("chunk_id"),
        col("_t"))
      .select(col(idCol), col("chunk_id"),
        array_join(slice(col("_t"), col("chunk_id") * stride + 1, lit(size)), " ")
          .as("chunk_text"),
        org.apache.spark.sql.functions
          .size(slice(col("_t"), col("chunk_id") * stride + 1, lit(size)))
          .cast("long").as("n_chunk_tokens"))
  }

  /** CONTENT-DEFINED chunking (the dedup-stable alternative to fixed
    * windows): a chunk boundary falls after token position i whenever the
    * md5 of the `gramWords`-token gram ENDING at i starts with
    * `zeroHexDigits` zero hex digits — an expected chunk length of
    * 16^zeroHexDigits tokens. Because boundaries depend only on a local
    * content window, inserting or deleting text resynchronizes within one
    * gram: every later chunk keeps its exact text, so chunk-level exact
    * dedup still matches across document revisions — the property fixed
    * [[chunkTokens]] windows lose (one insertion shifts every subsequent
    * chunk). The md5-prefix rule keeps the boundary decision replayable
    * by any engine (no xxhash in the cut path).
    *
    * Boundary candidates stop at n-1, so no empty trailing chunk; docs
    * shorter than gramWords+1 tokens emit one whole-doc chunk; token-less
    * docs emit nothing. Production CDC adds min/max chunk clamps —
    * deliberately omitted here to keep the cut rule a pure per-position
    * predicate (clamps reintroduce sequential state).
    *
    * Scale shape: identical to [[chunkTokens]] — tokenize → per-position
    * boundary predicate → span assembly, all array expressions in one
    * narrow projection; chunks never leave the partition that holds the
    * document. A narrow (few-split) source is first widened once by
    * [[Parallelize.cpuBound]] (no-op at cluster scale where the input is
    * already thousands of splits); the cut rule itself is a row-local
    * deterministic hash predicate, so the safety contract holds. */
  def chunkContentDefined(df: DataFrame, idCol: String, textCol: String,
      gramWords: Int = 4, zeroHexDigits: Int = 1): DataFrame = {
    require(gramWords > 0 && zeroHexDigits > 0)
    val zeros = "0" * zeroHexDigits
    val toks = TextAnalysis.tokens(col(textCol))
    // the per-position md5 boundary probe is an interpreted HOF over
    // every token window — CPU-bound per row and fused into the scan
    // stage, so widen a narrow source (Parallelize; boundaries are
    // row-local deterministic hash predicates)
    Parallelize.cpuBound(df.select(col(idCol), col(textCol)))
      .select(col(idCol), toks.as("_t"))
      .withColumn("_n", org.apache.spark.sql.functions.size(col("_t")))
      .filter(col("_n") > 0)
      // sequence(a, b) descends when a > b — guard short docs to an
      // empty candidate list instead
      .withColumn("_b", when(col("_n") - 1 >= gramWords,
        filter(sequence(lit(gramWords), col("_n") - 1), i =>
          substring(md5(array_join(
            slice(col("_t"), i - (gramWords - 1), lit(gramWords)), " ")),
            1, zeroHexDigits) === lit(zeros)))
        .otherwise(array().cast("array<int>")))
      .withColumn("_starts",
        concat(array(lit(1)), transform(col("_b"), b => b + 1)))
      .withColumn("_ends",
        concat(transform(col("_b"), b => b), array(col("_n"))))
      .select(col(idCol), col("_t"),
        posexplode(arrays_zip(col("_starts"), col("_ends"))).as(Seq("chunk_id", "_se")))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        array_join(slice(col("_t"), col("_se._starts"),
          col("_se._ends") - col("_se._starts") + 1), " ").as("chunk_text"),
        (col("_se._ends") - col("_se._starts") + 1).cast("long").as("n_chunk_tokens"))
  }

  // ---------------------------------------------------------------------
  // Deterministic slicing: the foundation the prefix-sum plan stands on.
  // ---------------------------------------------------------------------

  private val CpBase = 2097152.0          // 2^21 > max code point 0x10FFFF
  private val CpBase2 = CpBase * CpBase   // 2^42 — three digits fit a double

  /** Code point at index `i` of `cps`, or 0 past the end (the empty
    * suffix sorts first, matching lexicographic order). */
  private def cpAt(cps: Array[Int], i: Int): Double =
    if (i >= 0 && i < cps.length) cps(i).toDouble else 0.0

  /** Driver-side monotone proxy of a string's 3 code points starting at
    * `skip` — used ONLY to interpolate boundary literals; executors never
    * evaluate it, so it cannot disagree with executor semantics. */
  private def proxyVal(s: String, skip: Int): Double = {
    val cps = s.codePoints().toArray
    cpAt(cps, skip) * CpBase2 + cpAt(cps, skip + 1) * CpBase + cpAt(cps, skip + 2)
  }

  /** Interpolated slice-boundary strings between the corpus min and max:
    * shared prefix + 3 code points unpacked from an evenly spaced proxy
    * value. Boundary QUALITY only affects balance; slice assignment
    * compares rows against these literals with Spark's own string
    * comparator, so monotonicity (hence correctness) holds for any
    * encoding. Clamped to below the surrogate range so every boundary is
    * a well-formed BMP string. */
  private def stringBoundaries(mnS: String, mxS: String, n: Int): Seq[String] = {
    val mnCps = mnS.codePoints().toArray
    val mxCps = mxS.codePoints().toArray
    var lcp = 0
    while (lcp < mnCps.length && lcp < mxCps.length && mnCps(lcp) == mxCps(lcp)) lcp += 1
    val prefix = new String(mnCps, 0, lcp)
    val lo = proxyVal(mnS, lcp)
    val hi = proxyVal(mxS, lcp)
    if (!(hi > lo)) return Seq.empty // degenerate: one slice, still correct
    def unpack(v: Double): String = {
      def clampCp(d: Double): Int = {
        val c = math.max(0, math.min(0xD7FF, d.toInt)) // BMP, below surrogates
        c
      }
      val d1 = clampCp(v / CpBase2)
      val d2 = clampCp((v % CpBase2) / CpBase)
      val d3 = clampCp(v % CpBase)
      prefix + new String(Array(d1, d2, d3), 0, 3)
    }
    (1 until n).map(i => unpack(lo + (hi - lo) * i / n)).distinct
  }

  /** Slice id for the two-phase prefix sum: a deterministic, monotone
    * (w.r.t. the order column's sort order) bucketing of `orderCol` into
    * ~`nSlices` contiguous spans. Pure function of the row given literal
    * bounds computed HERE, eagerly, from one exact min/max aggregation —
    * deterministic across recomputes, runs, partitionings and engines
    * (unlike `spark_partition_id()` over a sampled range exchange).
    *
    * Monotone non-strict is all correctness needs (within-slice order is
    * resolved exactly by the window's `orderBy`); balance is a
    * performance property and holds for roughly uniform keys (md5-hex
    * order keys, dense ids). Edge slices: nulls (sort first) → -1,
    * numeric NaN/+Inf (sort last) → nSlices; -Inf shares the null slice,
    * adjacent in the total order so contiguity is preserved.
    *
    *   - numeric / date / timestamp: linear bucketing between exact
    *     min/max literals of a monotone double proxy (clamped to half
    *     the double range so the span never overflows);
    *   - string: count of driver-interpolated boundary literals ≤ the
    *     value, evaluated with Spark's own comparator — monotone by
    *     construction for any encoding;
    *   - other types: unsupported (fail loudly — add a monotone proxy
    *     before widening this).
    */
  private[operators] def deterministicSlice(df: DataFrame, orderCol: String,
      nSlices: Int): Column = {
    val c = col(orderCol)
    df.schema(orderCol).dataType match {
      case StringType =>
        val b = df.agg(min(c), max(c)).head()
        if (b.isNullAt(0) || b.getString(0) == b.getString(1)) {
          when(c.isNull, lit(-1)).otherwise(lit(0))
        } else {
          val bounds = stringBoundaries(b.getString(0), b.getString(1), nSlices)
          val rank = bounds.foldLeft(lit(0)) { (acc, bd) =>
            acc + when(c >= lit(bd), 1).otherwise(0)
          }
          when(c.isNull, lit(-1)).otherwise(rank)
        }
      case dt =>
        val p = numericProxy(c, dt).getOrElse(throw new IllegalArgumentException(
          s"prefix-sum order column '$orderCol' must be string, numeric, date or timestamp, got $dt"))
        val negInf = lit(Double.NegativeInfinity)
        val posInf = lit(Double.PositiveInfinity)
        val pb = clampedProxy(p)
        val b = df.agg(min(finiteProxy(p)), max(finiteProxy(p))).head()
        val bucket =
          if (b.isNullAt(0) || !(b.getDouble(0) < b.getDouble(1))) lit(0)
          else {
            val mn = b.getDouble(0)
            val span = b.getDouble(1) - mn
            least(floor((pb - lit(mn)) / lit(span) * nSlices).cast("int"), lit(nSlices - 1))
          }
        when(p.isNull || p === negInf, lit(-1))
          .when(isnan(p) || p === posInf, lit(nSlices))
          .otherwise(bucket)
    }
  }

  /** Half the double range: the clamp of every bucketing proxy. */
  private val HalfRange = Double.MaxValue / 2

  /** The BUCKETING proxy of a double value, clamped to ±[[HalfRange]].
    * Clamping is monotone (it only shifts bucket balance), and it keeps
    * max − min from overflowing to Infinity (span Inf ⇒ NaN ratios ⇒ an
    * ANSI cast failure, or silent mis-bucketing with ANSI off). */
  private def clampedProxy(v: Column): Column =
    greatest(least(v, lit(HalfRange)), lit(-HalfRange))

  /** [[clampedProxy]] of finite values only; null for null, NaN and ±Inf,
    * which bucketing callers route to edge classes by rule. Its min/max
    * are the finite bounds that seed [[deterministicSlice]] and
    * [[bracketRowsByAgg]]. */
  private[operators] def finiteProxy(v: Column): Column =
    when(v.isNull || isnan(v) || v === Double.NegativeInfinity ||
      v === Double.PositiveInfinity, lit(null)).otherwise(clampedProxy(v))

  /** Monotone double proxy of an orderable non-string key, or None for
    * unsupported types. Long→double rounding is monotone (round-to-
    * nearest preserves non-strict order), and NTZ→timestamp conversion
    * uses one fixed session zone, so order is preserved there too. */
  private def numericProxy(c: Column, dt: DataType): Option[Column] = dt match {
    case _: NumericType => Some(c.cast("double"))
    case DateType => Some(unix_date(c).cast("double"))
    case TimestampType => Some(unix_micros(c).cast("double"))
    case TimestampNTZType => Some(unix_micros(c.cast(TimestampType)).cast("double"))
    case _ => None
  }

  /** Exclusive prefix sums of `valueCols` in `orderCol` order, per group
    * of `groupCols` (empty = global running sums) — the ONE two-phase
    * plan behind packing, ranks, CDFs, mixers and shuffles. A plain
    * `Window.partitionBy(group).orderBy(order)` puts each WHOLE group in
    * one task — groups like "source" or "language" are low-cardinality
    * and huge, the same hot-key shape GroupTopK exists to avoid, and a
    * global running sum is one task outright. Here:
    *
    *   1. every row gets a deterministic slice id (monotone in
    *      `orderCol` — see [[deterministicSlice]]); the local running
    *      sums window over (groups, slice) — parallel;
    *   2. per-(groups, slice) totals (groups × slices rows, tiny) are
    *      cumulated per group in slice order and broadcast back as
    *      bases.
    *
    * Both phases read the same pure plan — slice assignment cannot
    * differ between them, whatever gets recomputed where, so there is no
    * `persist()` and no correctness dependence on one materialization.
    *
    * Every value column rides the same slice window, offsets aggregate
    * and broadcast join: callers that need k running sums over the SAME
    * order (Drift's two-sided KS CDFs, the lorenz count and mass) pay one
    * slice-bounds action, one window exchange and one offsets aggregate
    * instead of k of each, and no join re-aligns the k results. Sums are
    * integer/long (or double, associated in slice order), deterministic
    * for an `orderCol` unique within each group. Adds `cumBeforeCols`
    * (same arity as `valueCols`). */
  private[graft] def prefixSums(df: DataFrame, groupCols: Seq[String],
      orderCol: String, valueCols: Seq[String],
      cumBeforeCols: Seq[String]): DataFrame = {
    require(valueCols.nonEmpty && valueCols.size == cumBeforeCols.size)
    val nSlices = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // The input lineage feeds three consumers (slice bounds, window
    // branch, offsets branch). Correctness never depends on
    // materialization — slice ids are pure row functions — so whether
    // to persist is the CALLER's economics: persist upstream when the
    // lineage is expensive (measured: a persist costs more than it
    // saves for plain scan+hash lineages).
    val sliced = df.withColumn("_slice",
      deterministicSlice(df, orderCol, nSlices))
    val gCols = groupCols.map(col)
    val local = Window.partitionBy(gCols :+ col("_slice"): _*).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // identical window spec for every column -> Catalyst plans ONE
    // Window node (one sort), k running-sum frames inside it
    val withLocal = valueCols.zipWithIndex.foldLeft(sliced) {
      case (d, (v, i)) => d.withColumn(s"_lc_$i", sum(col(v)).over(local))
    }
    val ptAggs = valueCols.zipWithIndex.map { case (v, i) =>
      sum(col(v)).as(s"_pt_$i") }
    val offsets = sliced.groupBy(gCols :+ col("_slice"): _*)
      .agg(ptAggs.head, ptAggs.tail: _*)
    // slice ids are numeric and monotone in the order key, so cumulating
    // per-slice totals IN SLICE ORDER yields each slice's base offset.
    // AUDITED GLOBAL WINDOW (empty groupCols): the frame is ≤ nSlices+2
    // rows by construction (one per slice), so WindowExec's "No
    // Partition Defined" WARN — aimed at corpus-sized frames — is benign
    // here. A constant partition key does not silence it (foldable keys
    // are optimized out of the spec); Bench/Verify drop that one logger
    // to ERROR instead so driver logs stay readable.
    val offW = Window.partitionBy(gCols: _*).orderBy("_slice")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bases = valueCols.indices.foldLeft(offsets) { (d, i) =>
        d.withColumn(s"_b_$i", sum(col(s"_pt_$i")).over(offW) - col(s"_pt_$i"))
      }
      .select(gCols ++ Seq(col("_slice")) ++
        valueCols.indices.map(i => col(s"_b_$i")): _*)
    val joined = withLocal.join(broadcast(bases),
      groupCols :+ "_slice")
    val withCums = valueCols.indices.foldLeft(joined) { (d, i) =>
      d.withColumn(cumBeforeCols(i),
        col(s"_b_$i") + col(s"_lc_$i") - col(valueCols(i)))
    }
    withCums.drop("_slice" +:
      valueCols.indices.flatMap(i => Seq(s"_lc_$i", s"_b_$i")): _*)
  }

  /** Covering rows for count-weighted order statistics over a distinct
    * (group, value, count) frequency table, by ITERATED AGGREGATION-ONLY
    * bucket narrowing — zero sorts, zero windows, zero joins (r18).
    *
    * A [[prefixSums]] pass over the table would pay a sort-for-window
    * exchange over all d rows plus a broadcast join, only to read back
    * ≤ 2·|probs| covering rows. Narrowing instead pays one NARROW hash
    * aggregation per round over a geometrically shrinking candidate set:
    * each round buckets rows with an O(1) floor formula over
    * driver-literal interval bounds — `floor((pb−lo)/(hi−lo)·nBuckets)`,
    * a pure codegen expression, the same determinism contract as
    * [[deterministicSlice]] — aggregates (Σcnt, #rows, min pb, max pb)
    * per bucket, and the driver walks the ≤ nBuckets-row result in
    * bucket order (monotone in value) to find each needed position's
    * bucket. Buckets small enough to collect (≤ `collectCap` distinct
    * rows, or un-narrowable single-proxy buckets) become terminal; the
    * rest recurse on their OBSERVED [min, max] — a ≥ nBuckets-fold
    * width reduction per round, so d = 10¹² distinct values resolve in
    * ~⌈log_nBuckets d⌉ = 3 rounds. One final filtered collect retrieves
    * the terminal buckets' rows; the driver orders them by value and
    * cumulates the exact Long counts from each bucket's base offset.
    *
    * Exactness: counts are Longs (association-free), bucket codes are
    * pure row functions of literals (stable across the round's agg
    * action and the final collect — `freq` must be materialized or a
    * pure projection of a materialized frame), and bucket ranges
    * partition the proxy axis monotonically, so the returned
    * (value, cumBefore, count) triples are exactly the rows an exclusive
    * prefix sum of counts in value order brackets. Values are returned
    * as the DOUBLE cast of the native value — what [[weightedQuantiles]]
    * interpolates. Distinct values whose double
    * casts collide (longs beyond 2⁵³, or clamped magnitudes beyond
    * ±MaxValue/2) sort arbitrarily among themselves, which cannot
    * change any returned triple's value or any later row's cumBefore.
    * Double-family edge values ride dedicated round-1 codes in the same
    * aggregation and resolve analytically: −Inf sorts first, +Inf then
    * NaN last — [[deterministicSlice]]'s convention, matching Spark's
    * double sort order.
    *
    * `freq` must be distinct on (group, value) with positive counts and
    * no null values; `valueCol` must be LongType or DoubleType (the two
    * families the quantile chains route here). `neededByGroup` holds
    * 0-based global positions per int group id; `boundsByGroup` the
    * min/max of [[finiteProxy]] where known (groups with no finite
    * values may omit theirs). Groups whose `distinctByGroup` entry is
    * known and ≤ `collectCap` skip narrowing: one direct collect of
    * their whole frequency set. Returns per group the covering rows
    * (value, cumBefore, count): every needed position pos has exactly
    * one row with cumBefore ≤ pos < cumBefore + count. */
  private[operators] def bracketRowsByAgg(freq: DataFrame, groupCol: String,
      valueCol: String, cntCol: String,
      neededByGroup: Map[Int, Seq[Long]],
      boundsByGroup: Map[Int, (Double, Double)],
      nBuckets: Int = 4096, collectCap: Int = 4096,
      distinctByGroup: Map[Int, Long] = Map.empty): Map[Int, Array[(Double, Long, Long)]] = {
    val dt = freq.schema(valueCol).dataType
    require(dt == LongType || dt == DoubleType,
      s"bracket value column '$valueCol' must be long or double, got $dt")
    require(nBuckets >= 2 && collectCap >= 1)
    val vd = col(valueCol).cast(DoubleType)
    val pb = clampedProxy(vd)
    val floaty = dt == DoubleType
    // edge classes on the RAW value (clamping would fold ±Inf into the
    // finite range); a long column has none
    val isNeg = if (floaty) vd === Double.NegativeInfinity else lit(false)
    val isPos = if (floaty) vd === Double.PositiveInfinity else lit(false)
    val isNan = if (floaty) isnan(vd) else lit(false)
    val isEdge = isNan || isPos || isNeg

    // one active interval: proxy range [lo, hi], global count cum
    // before its first row, and the needed positions inside it
    case class Iv(lo: Double, hi: Double, base: Long, needed: Seq[Long])

    val allGroups = neededByGroup.keys.toSeq.sorted
    val resolved = scala.collection.mutable.Map.empty[Int,
      scala.collection.mutable.ArrayBuffer[(Double, Long, Long)]]
    allGroups.foreach(g => resolved(g) = scala.collection.mutable.ArrayBuffer.empty)

    // DIRECT tier: a group whose caller-known distinct count already
    // fits the collect cap skips narrowing entirely — ONE collect of
    // its whole frequency set (edges included: Double.compare orders
    // −Inf first, NaN after +Inf, exactly Spark's double sort order)
    val (directG, groups) = allGroups.partition(g =>
      distinctByGroup.get(g).exists(_ <= collectCap))
    if (directG.nonEmpty) {
      val pred = directG.map(g => col(groupCol) === lit(g)).reduce(_ || _)
      val got = freq.filter(pred)
        .select(col(groupCol), vd, col(cntCol).cast(LongType)).collect()
      got.groupBy(_.getInt(0)).foreach { case (g, rows) =>
        val mine = rows.map(r => (r.getDouble(1), r.getLong(2)))
          .sortWith((a, b) => java.lang.Double.compare(a._1, b._1) < 0)
        var cum = 0L
        var rest = neededByGroup(g).sorted
        mine.foreach { case (v, cnt) =>
          val (inRow, after) = rest.partition(_ < cum + cnt)
          rest = after
          if (inRow.nonEmpty) resolved(g) += ((v, cum, cnt))
          cum += cnt
        }
      }
    }

    var active: Map[Int, Seq[Iv]] = groups.map { g =>
      val (lo, hi) = boundsByGroup.getOrElse(g, (-HalfRange, HalfRange))
      g -> Seq(Iv(lo, hi, 0L, neededByGroup(g).sorted))
    }.toMap
    var terminal: Map[Int, Seq[Iv]] = groups.map(_ -> Seq.empty[Iv]).toMap

    var firstRound = true
    var round = 0
    while (active.valuesIterator.exists(_.nonEmpty) && round < 16) {
      round += 1
      // bucket-code column for this round: interval j of group g owns
      // codes [j·nBuckets, (j+1)·nBuckets); round 1 adds the edge codes
      // (-1 = −Inf, tail = +Inf, tail+1 = NaN). Rows outside every
      // active interval (already-terminal ranges, resolved edges) get
      // null and are filtered before the aggregation.
      val codeByGroup: Map[Int, Column] = active.collect {
        case (g, ivs) if ivs.nonEmpty =>
          var off = 0
          var chain: Column = null
          ivs.foreach { iv =>
            val c =
              if (iv.lo < iv.hi)
                lit(off) + least(floor((pb - lit(iv.lo)) / lit(iv.hi - iv.lo)
                  * nBuckets).cast("int"), lit(nBuckets - 1))
              else lit(off)
            val cond = pb >= lit(iv.lo) && pb <= lit(iv.hi)
            chain = if (chain == null) when(cond, c) else chain.when(cond, c)
            off += nBuckets
          }
          val full =
            if (firstRound && floaty)
              when(isNan, lit(off + 1)).when(isPos, lit(off))
                .when(isNeg, lit(-1)).otherwise(chain)
            else if (floaty) when(isEdge, lit(null)).otherwise(chain)
            else chain
          g -> full
      }
      val code = coalesce(codeByGroup.toSeq.sortBy(_._1).map { case (g, c) =>
        when(col(groupCol) === lit(g), c) }: _*)
      val agg = freq.withColumn("_bk", code).filter(col("_bk").isNotNull)
        .groupBy(col(groupCol).as("_g"), col("_bk"))
        .agg(sum(col(cntCol)).as("_tc"), count(lit(1)).as("_nr"),
          min(pb).as("_mn"), max(pb).as("_mx"))
        .collect()
      val byG = agg.groupBy(_.getInt(0))
      val nextActive = scala.collection.mutable.Map.empty[Int, Seq[Iv]]
      active.foreach { case (g, ivs) =>
        if (ivs.isEmpty) nextActive(g) = Nil
        else {
          val rows: Map[Int, (Long, Long, Double, Double)] =
            byG.getOrElse(g, Array.empty).map(r =>
              r.getInt(1) -> (r.getLong(2), r.getLong(3),
                r.getDouble(4), r.getDouble(5))).toMap
          val children = scala.collection.mutable.ArrayBuffer.empty[Iv]
          val terms = scala.collection.mutable.ArrayBuffer.empty[Iv]
          // walk codes in value order, cumulating exact Long counts and
          // routing needed positions into their covering buckets
          def walk(base: Long, codes: Iterator[Int], needed: Seq[Long],
              edgeVals: Map[Int, Double]): Unit = {
            var cum = base
            var rest = needed
            codes.foreach { c =>
              rows.get(c).foreach { case (tc, nr, mn, mx) =>
                val (inB, after) = rest.partition(_ < cum + tc)
                rest = after
                if (inB.nonEmpty) {
                  if (edgeVals.contains(c)) resolved(g) += ((edgeVals(c), cum, tc))
                  else if (nr <= collectCap || !(mn < mx)) terms += Iv(mn, mx, cum, inB)
                  else children += Iv(mn, mx, cum, inB)
                }
                cum += tc
              }
            }
          }
          if (firstRound) {
            val iv = ivs.head // round 1 has exactly one root interval
            val edgeVals =
              if (floaty) Map(-1 -> Double.NegativeInfinity,
                nBuckets -> Double.PositiveInfinity,
                (nBuckets + 1) -> Double.NaN)
              else Map.empty[Int, Double]
            walk(iv.base,
              (Seq(-1) ++ (0 until nBuckets) ++
                Seq(nBuckets, nBuckets + 1)).iterator,
              iv.needed, edgeVals)
          } else {
            var off = 0
            ivs.foreach { iv =>
              walk(iv.base, (off until off + nBuckets).iterator, iv.needed,
                Map.empty)
              off += nBuckets
            }
          }
          nextActive(g) = children.toSeq
          terminal = terminal.updated(g, terminal(g) ++ terms)
        }
      }
      active = nextActive.toMap
      firstRound = false
    }
    // round cap hit with actives left (cannot happen for real data —
    // each round shrinks interval width ≥ nBuckets-fold): collect them
    terminal = terminal.map { case (g, t) =>
      g -> (t ++ active.getOrElse(g, Seq.empty)) }

    // final collect: the terminal intervals' rows (disjoint closed
    // proxy ranges by construction), re-selected by the same pure
    // proxy, ordered by value driver-side, cumulated from each
    // interval's base
    val withTerms = terminal.toSeq.filter(_._2.nonEmpty).sortBy(_._1)
    if (withTerms.nonEmpty) {
      val pred = withTerms.map { case (g, ivs) =>
        col(groupCol) === lit(g) &&
          ivs.map(iv => pb >= lit(iv.lo) && pb <= lit(iv.hi)).reduce(_ || _)
      }.reduce(_ || _)
      val nonEdge = if (floaty) !isEdge else lit(true)
      val got = freq.filter(nonEdge && pred)
        .select(col(groupCol), vd, col(cntCol).cast(LongType), pb.as("_pb"))
        .collect()
      got.groupBy(_.getInt(0)).foreach { case (g, rows) =>
        terminal(g).foreach { iv =>
          val mine = rows.filter { r =>
              val x = r.getDouble(3); x >= iv.lo && x <= iv.hi }
            .map(r => (r.getDouble(1), r.getLong(2)))
            .sortWith((a, b) => java.lang.Double.compare(a._1, b._1) < 0)
          var cum = iv.base
          var rest = iv.needed
          mine.foreach { case (v, cnt) =>
            val (inRow, after) = rest.partition(_ < cum + cnt)
            rest = after
            if (inRow.nonEmpty) resolved(g) += ((v, cum, cnt))
            cum += cnt
          }
        }
      }
    }
    resolved.map { case (g, buf) => g -> buf.toArray }.toMap
  }

  /** Exact type-7 quantiles (pandas / quantile_cont / Spark Percentile
    * semantics) of each group of a distinct (group, value, count)
    * frequency table with the [[bracketRowsByAgg]] contract: position
    * h = p·(n−1) falls between order statistics ⌊h⌋ and ⌈h⌉, whose
    * covering rows one narrowing chain brackets, and the driver
    * interpolates them in Spark Percentile's exact two-sided form
    * `(⌈h⌉ − h)·x⌊h⌋ + (h − ⌊h⌋)·x⌈h⌉` — bit-identical to the buffered
    * aggregate for finite values, and the right answer (not NaN) when an
    * endpoint is ±Infinity or h is integral, where `lo + frac·(hi − lo)`
    * gives 0·(Inf − Inf) = NaN. `rowsByGroup` holds each group's n > 0;
    * `boundsByGroup` and `distinctByGroup` are passed through to
    * [[bracketRowsByAgg]]. `context` prefixes the error raised when a
    * position finds no covering row. Returns per group one value per
    * prob. */
  private[operators] def weightedQuantiles(freq: DataFrame, groupCol: String,
      valueCol: String, cntCol: String, probs: Seq[Double],
      rowsByGroup: Map[Int, Long], boundsByGroup: Map[Int, (Double, Double)],
      distinctByGroup: Map[Int, Long] = Map.empty,
      context: Int => String = _ => ""): Map[Int, Seq[Double]] = {
    // (h, ⌊h⌋, ⌈h⌉) of prob p over n rows
    def position(n: Long, p: Double): (Double, Long, Long) = {
      val h = p * (n - 1)
      (h, math.floor(h).toLong, math.min(math.ceil(h).toLong, n - 1))
    }
    val needed = rowsByGroup.map { case (g, n) =>
      g -> probs.flatMap { p =>
        val (_, lower, higher) = position(n, p)
        Seq(lower, higher)
      }.distinct
    }
    val brackets = bracketRowsByAgg(freq, groupCol, valueCol, cntCol,
      needed, boundsByGroup, distinctByGroup = distinctByGroup)
    rowsByGroup.map { case (g, n) =>
      val rows = brackets.getOrElse(g, Array.empty)
      def valueAt(pos: Long): Double = rows
        .find(r => r._2 <= pos && r._2 + r._3 > pos)
        .getOrElse(throw new IllegalStateException(
          s"${context(g)}no value covers position $pos"))
        ._1
      g -> probs.map { p =>
        val (h, lower, higher) = position(n, p)
        if (higher == lower) valueAt(lower)
        else (higher - h) * valueAt(lower) + (h - lower) * valueAt(higher)
      }
    }
  }

  /** Pack by a precomputed token-count column. Returns the input columns
    * plus start_offset (global tokens before this doc, from
    * [[prefixSums]]), seq_id (floor(start_offset / budget)) and
    * crosses_boundary (true when the document's tokens span two or more
    * windows). */
  def packContiguous(df: DataFrame, idCol: String, tokenCol: String,
      budget: Int): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    prefixSums(df, Nil, idCol, Seq(tokenCol), Seq("start_offset"))
      .withColumn("seq_id", floor(col("start_offset") / budget.toLong))
      .withColumn("crosses_boundary",
        col(tokenCol) > 0 &&
          floor((col("start_offset") + col(tokenCol) - 1) / budget.toLong) > col("seq_id"))
  }
}
