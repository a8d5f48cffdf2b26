package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** KLL streaming quantile sketch (Karnin, Lang, Liberty: "Optimal
  * Quantile Approximation in Streams", FOCS 2016 — the sketch behind
  * Apache DataSketches' KLL; implemented here from the paper, not the
  * library, since nothing beyond Spark is on the classpath).
  *
  * Why it exists: `percentile_approx` (Spark's GK-style
  * QuantileSummaries) answers one query over one aggregation — its
  * summary is not exposed as a storable value, so a 100 TB pipeline
  * cannot profile each ingest shard once and later UNION the profiles
  * into a corpus profile. KLL is a ~`O(k log log n)`-space fully
  * mergeable sketch: [[KllSketchAgg]] builds one from raw values (and
  * can emit it as bytes), [[KllUnionAgg]] merges stored sketches —
  * union of per-shard profiles replaces any rescan of the corpus. The
  * exact-quantile paths of describe ([[graft.operators.Stats]]) are
  * untouched; this is the sketch mode with documented error bounds.
  *
  * Structure: a stack of compactors. Level `h` holds items of weight
  * `2^h`; level capacities decay geometrically (ratio 2/3) from `k` at
  * the top, floored at 8. When total size exceeds total capacity the
  * lowest over-full level is sorted and every other item is promoted to
  * the level above (the other half is discarded, transferring its
  * weight). Normalized rank error is ~1.65% at k=200 for the randomized
  * sketch; this implementation draws the odd/even compaction coin from a
  * fixed-seed splitmix64 stream, trading the adversarial-input guarantee
  * for replay determinism under a fixed partitioning (the same tradeoff
  * as the engine's md5-keyed samplers). Tests assert ≤2.5% measured rank
  * error at k=200 and merge/build agreement within 2× the single-build
  * error.
  *
  * Merge is buffer concatenation level-by-level followed by compaction —
  * associative and commutative up to the (bounded-error) compaction
  * randomness, so partial aggregation and shard-merge order never break
  * the rank guarantee, only the specific retained items. */
final class KllState(val k: Int) extends Serializable {
  var n: Long = 0L
  private[plans] var seed: Long = 0x9e3779b97f4a7c15L
  val levels: ArrayBuffer[DoubleBuf] = ArrayBuffer(new DoubleBuf())

  private def nextCoin(): Boolean = {
    // splitmix64 step — deterministic per-sketch coin stream
    seed += 0x9e3779b97f4a7c15L
    var z = seed
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    (z ^ (z >>> 31)) >= 0L
  }

  private def capacity(h: Int): Int = {
    val fromTop = levels.length - 1 - h
    math.max(8, math.ceil(k * math.pow(2.0 / 3.0, fromTop)).toInt)
  }

  private def totalSize: Int = { var s = 0; var i = 0; while (i < levels.length) { s += levels(i).len; i += 1 }; s }
  private def totalCapacity: Int = { var s = 0; var i = 0; while (i < levels.length) { s += capacity(i); i += 1 }; s }

  def update(v: Double): Unit = { levels(0) += v; n += 1L; compress() }

  /** Weighted insert: level h of the stack holds items of weight 2^h, so
    * a row of integer weight w enters as ONE copy per set bit of w —
    * exact total weight with at most 63 inserts, never w replications.
    * (Cormode et al.'s weighted KLL uses the same bit decomposition.)
    * Fractional weights must be pre-scaled to integers by the caller
    * (the engine's soft-dedup weights already ride a 2^16 quantization,
    * [[graft.operators.Sampling]]). */
  def updateWeighted(v: Double, w: Long): Unit = {
    require(w >= 0L, s"weight must be non-negative, got $w")
    var h = 0
    var rest = w
    while (rest != 0L) {
      if ((rest & 1L) == 1L) {
        while (levels.length <= h) levels += new DoubleBuf()
        levels(h) += v
      }
      rest >>>= 1
      h += 1
    }
    n += w
    compress()
  }

  def merge(other: KllState): Unit = {
    require(other.k == k, s"cannot merge KLL sketches with different k: $k vs ${other.k}")
    n += other.n
    var h = 0
    while (h < other.levels.length) {
      if (h >= levels.length) levels += new DoubleBuf()
      levels(h).appendAll(other.levels(h))
      h += 1
    }
    compress()
  }

  private def compress(): Unit = {
    var guard = 0
    while (totalSize > totalCapacity && guard < 64) {
      // lowest level at-or-over its capacity; levels(0) is the usual one
      var h = 0
      while (h < levels.length && levels(h).len < capacity(h)) h += 1
      if (h == levels.length) return // capacities satisfied level-by-level
      compact(h)
      guard += 1
    }
  }

  private def compact(h: Int): Unit = {
    if (h == levels.length - 1) levels += new DoubleBuf()
    val buf = levels(h)
    buf.sortInPlace()
    val hasOdd = buf.len % 2 == 1
    val oddLeftover = if (hasOdd) buf.removeLast() else 0.0
    val offset = if (nextCoin()) 0 else 1
    val up = levels(h + 1)
    var i = offset
    while (i < buf.len) { up += buf(i); i += 2 }
    buf.clear()
    if (hasOdd) buf += oddLeftover // keeps its own weight at level h
  }

  /** Estimated value at normalized rank `p` (inclusive-rank convention:
    * the smallest retained value whose cumulative weight reaches
    * `ceil(p*n)`). Undefined (NaN) on an empty sketch. */
  def quantile(p: Double): Double = {
    if (n == 0L) return Double.NaN
    // gather (value, weight) into parallel arrays, index-sorted by value
    // (eval-time only — once per group, not per row)
    val total = totalSize
    val vs = new Array[Double](total)
    val ws = new Array[Long](total)
    var idx = 0
    var h = 0
    while (h < levels.length) {
      val w = 1L << h
      val buf = levels(h)
      var i = 0
      while (i < buf.len) { vs(idx) = buf(i); ws(idx) = w; idx += 1; i += 1 }
      h += 1
    }
    val order = Array.range(0, total).sortBy(i => vs(i))
    val target = math.max(1L, math.ceil(p * n).toLong)
    var cum = 0L
    var j = 0
    while (j < total) {
      cum += ws(order(j))
      if (cum >= target) return vs(order(j))
      j += 1
    }
    vs(order(total - 1))
  }

  def serialize(): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(k); out.writeLong(n); out.writeLong(seed)
    out.writeInt(levels.length)
    levels.foreach { buf =>
      out.writeInt(buf.len)
      var i = 0
      while (i < buf.len) { out.writeDouble(buf(i)); i += 1 }
    }
    out.flush()
    bos.toByteArray
  }
}

object KllState {
  def deserialize(bytes: Array[Byte]): KllState = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val st = new KllState(in.readInt())
    st.n = in.readLong()
    st.seed = in.readLong()
    st.levels.clear()
    val nl = in.readInt()
    var h = 0
    while (h < nl) {
      val sz = in.readInt()
      val buf = new DoubleBuf(math.max(sz, 8))
      var i = 0
      while (i < sz) { buf += in.readDouble(); i += 1 }
      st.levels += buf
      h += 1
    }
    st
  }
}

/** Growable primitive double buffer — the KLL level store. ArrayBuffer
  * [Double] boxes every element (generic backing array), which puts an
  * allocation on EVERY sketch update and a boxed comparator sort on
  * every compaction; at profile scale (tens of millions of updates per
  * aggregation) that dominated the aggregate's cost. This is a plain
  * double[] with manual length, sorted via Arrays.sort(double[]). */
private[plans] final class DoubleBuf(initialCapacity: Int = 8) {
  private[plans] var arr: Array[Double] = new Array[Double](initialCapacity)
  private[plans] var len: Int = 0

  def +=(v: Double): Unit = {
    if (len == arr.length) {
      val next = new Array[Double](arr.length * 2)
      System.arraycopy(arr, 0, next, 0, len)
      arr = next
    }
    arr(len) = v
    len += 1
  }

  def appendAll(other: DoubleBuf): Unit = {
    var i = 0
    while (i < other.len) { this += other.arr(i); i += 1 }
  }

  def apply(i: Int): Double = arr(i)
  def clear(): Unit = len = 0
  def sortInPlace(): Unit = java.util.Arrays.sort(arr, 0, len)
  def removeLast(): Double = { len -= 1; arr(len) }
}

/** Shared TypedImperativeAggregate plumbing for the KLL nodes. Output is
  * the quantile estimates at `probs` (`array<double>`, for direct
  * query); only [[KllSketchAgg]] can emit the serialized sketch instead
  * (`BinaryType`, for storage in a shard profile). */
sealed trait KllAggCommon extends TypedImperativeAggregate[KllState] {
  def k: Int
  def probs: Seq[Double]
  def emitBytes: Boolean = false

  override def dataType: DataType =
    if (emitBytes) BinaryType else ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): KllState = new KllState(k)
  override def merge(a: KllState, b: KllState): KllState = { a.merge(b); a }
  override def eval(buf: KllState): Any =
    if (emitBytes) buf.serialize()
    else new GenericArrayData(probs.map(buf.quantile).toArray)
  override def serialize(buf: KllState): Array[Byte] = buf.serialize()
  override def deserialize(bytes: Array[Byte]): KllState = KllState.deserialize(bytes)

  protected def checkParams(): TypeCheckResult =
    if (k < 8) TypeCheckResult.TypeCheckFailure(s"$prettyName requires k >= 8, got $k")
    else if (!emitBytes && probs.isEmpty)
      TypeCheckResult.TypeCheckFailure(s"$prettyName in quantile mode requires at least one prob")
    else if (probs.exists(p => p < 0.0 || p > 1.0))
      TypeCheckResult.TypeCheckFailure(s"$prettyName probs must be in [0, 1]: $probs")
    else TypeCheckResult.TypeCheckSuccess
}

sealed trait KllAggBase extends KllAggCommon with UnaryLike[Expression]

/** Builds a KLL sketch from a DOUBLE column. Nulls and NaNs are skipped
  * (NaN has no rank; the profiler counts NaN separately, Report A5). */
case class KllSketchAgg(
    child: Expression,
    k: Int,
    probs: Seq[Double],
    override val emitBytes: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends KllAggBase {

  override def prettyName: String = "kll_sketch"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires a DOUBLE child, got ${child.dataType.sql}")
    else checkParams()

  override def update(buf: KllState, input: InternalRow): KllState = {
    val v = child.eval(input)
    if (v != null) {
      val d = v.asInstanceOf[Double]
      if (!d.isNaN) buf.update(d)
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): KllSketchAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KllSketchAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): KllSketchAgg = copy(child = c)
}

/** Merges serialized KLL sketches (a BINARY column of [[KllState]]
  * bytes) — the shard-profile union path. `k` must match the sketches'
  * build parameter (asserted per input). */
case class KllUnionAgg(
    child: Expression,
    k: Int,
    probs: Seq[Double],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends KllAggBase {

  override def prettyName: String = "kll_union"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires a BINARY child, got ${child.dataType.sql}")
    else checkParams()

  override def update(buf: KllState, input: InternalRow): KllState = {
    val v = child.eval(input)
    if (v != null) buf.merge(KllState.deserialize(v.asInstanceOf[Array[Byte]]))
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): KllUnionAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KllUnionAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): KllUnionAgg = copy(child = c)
}

/** WEIGHTED KLL build: each row contributes its `weight` (BIGINT ≥ 0)
  * copies of `value` via the bit-decomposition insert
  * ([[KllState.updateWeighted]] — at most 63 level inserts per row, never
  * weight replications). Quantiles are then over the WEIGHTED
  * distribution — "the median token sits in a document of length X"
  * (weight = token count), or soft-dedup/importance-weighted profiles
  * (pre-scale fractional weights to integers; the engine's samplers
  * already quantize rates at 2^16). Null value, NaN value, null weight
  * and zero weight all contribute nothing. */
case class KllWeightedSketchAgg(
    left: Expression,
    right: Expression,
    k: Int,
    probs: Seq[Double],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends KllAggCommon with BinaryLike[Expression] {

  override def prettyName: String = "kll_weighted_sketch"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires a DOUBLE value child, got ${left.dataType.sql}")
    else if (right.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires a BIGINT weight child, got ${right.dataType.sql}")
    else checkParams()

  override def update(buf: KllState, input: InternalRow): KllState = {
    val v = left.eval(input)
    val w = right.eval(input)
    if (v != null && w != null) {
      val d = v.asInstanceOf[Double]
      val wt = w.asInstanceOf[Long]
      if (!d.isNaN && wt > 0L) buf.updateWeighted(d, wt)
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): KllWeightedSketchAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KllWeightedSketchAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): KllWeightedSketchAgg =
    copy(left = l, right = r)
}

object KllSketchAgg {
  /** Weighted quantile estimates for a grouped (value, weight) pair. */
  def kllWeightedQuantiles(v: Column, w: Column, probs: Seq[Double], k: Int = 200): Column =
    Bridge.column(KllWeightedSketchAgg(Bridge.expression(v), Bridge.expression(w),
      k, probs).toAggregateExpression())

  /** Quantile estimates (array<double>, one per prob) for a grouped column. */
  def kllQuantiles(c: Column, probs: Seq[Double], k: Int = 200): Column =
    Bridge.column(KllSketchAgg(Bridge.expression(c), k, probs, emitBytes = false).toAggregateExpression())

  /** The serialized sketch itself — store it in a shard profile. */
  def kllSketch(c: Column, k: Int = 200): Column =
    Bridge.column(KllSketchAgg(Bridge.expression(c), k, Nil, emitBytes = true).toAggregateExpression())

  /** Quantile estimates from a column of stored sketches. */
  def kllUnionQuantiles(c: Column, probs: Seq[Double], k: Int = 200): Column =
    Bridge.column(KllUnionAgg(Bridge.expression(c), k, probs).toAggregateExpression())
}
