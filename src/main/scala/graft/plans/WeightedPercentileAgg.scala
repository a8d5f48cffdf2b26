package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** Exact frequency-weighted percentiles of a BIGINT or DOUBLE value —
  * Spark's `percentile(value, array(ps), weight)` on primitive arrays.
  *
  * Why it exists: Spark's `Percentile` keeps a boxed `OpenHashMap` per
  * group and sorts boxed tuples at eval; on [[graft.operators.Describe]]'s
  * frequency table (one row per distinct value, so the map never
  * deduplicates anything) the boxing, hashing and TimSort were most of
  * the aggregation's CPU. Here the buffer is two growable `long[]`s:
  * update appends, merge concatenates, serialization is raw bytes.
  *
  * BIT-IDENTICAL to `percentile`: eval sorts by the SQL ordering
  * (doubles through an order-preserving bit transform: NaN last, −0.0
  * just below 0.0 — the two zeros are distinct keys there too, with
  * SQL-equal order), accumulates the weights and runs `PercentileBase.
  * getPercentile`'s arithmetic — position = (total − 1) · p, the
  * floor/ceil binary search over the accumulated weights, no interpolation
  * when the two keys are equal (numeric `==`, as `BoxesRunTime.equals`),
  * else `(hi − pos)·lo + (pos − lo)·hi`. Duplicate keys need no merging:
  * the accumulated weights stay strictly increasing, so both searches
  * land on an entry of the same key as in the deduplicated map.
  * Null values and null or zero weights are skipped; a negative weight
  * throws Spark's error; no input rows give null. */
case class WeightedPercentileAgg(
    child: Expression,
    weight: Expression,
    percentages: Seq[Double],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[WeightedPercentileAgg.Buffer]
  with BinaryLike[Expression] {

  import WeightedPercentileAgg._

  override def left: Expression = child
  override def right: Expression = weight
  override def prettyName: String = "weighted_percentile"

  private lazy val isDouble = child.dataType == DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != LongType && child.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a BIGINT or DOUBLE value, got ${child.dataType.sql}")
    else if (weight.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires a BIGINT weight, got ${weight.dataType.sql}")
    else if (percentages.exists(p => !(p >= 0.0 && p <= 1.0)))
      TypeCheckResult.TypeCheckFailure(s"$prettyName percentages must lie in [0, 1]")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true

  override def createAggregationBuffer(): Buffer = new Buffer(16)

  override def update(buf: Buffer, input: InternalRow): Buffer = {
    val v = child.eval(input)
    val w = weight.eval(input)
    if (v != null && w != null) {
      val f = w.asInstanceOf[Long]
      if (f > 0) buf.append(if (isDouble) sortKey(v.asInstanceOf[Double]) else v.asInstanceOf[Long], f)
      else if (f < 0) throw Bridge.negativeValueError(weight, f)
    }
    buf
  }

  override def merge(a: Buffer, b: Buffer): Buffer = { a.appendAll(b); a }

  private def value(key: Long): Double = if (isDouble) fromSortKey(key) else key.toDouble

  override def eval(buf: Buffer): Any = {
    val n = buf.size
    if (n == 0) return null
    sortByKey(buf.keys, buf.weights, n)
    val acc = new Array[Long](n)
    var total = 0L
    var i = 0
    while (i < n) { total += buf.weights(i); acc(i) = total; i += 1 }
    val maxPosition = total - 1
    new GenericArrayData(percentages.map { p =>
      val position = maxPosition * p
      val lower = math.floor(position).toLong
      val higher = math.ceil(position).toLong
      val lo = buf.keys(search(acc, n, lower + 1))
      if (higher == lower) value(lo)
      else {
        val hi = buf.keys(search(acc, n, higher + 1))
        val same = if (isDouble) value(hi) == value(lo) else hi == lo
        if (same) value(lo)
        else (higher - position) * value(lo) + (position - lower) * value(hi)
      }
    }.toArray)
  }

  override def serialize(buf: Buffer): Array[Byte] = {
    val out = ByteBuffer.allocate(4 + 16 * buf.size)
    out.putInt(buf.size)
    out.asLongBuffer().put(buf.keys, 0, buf.size)
    out.position(4 + 8 * buf.size)
    out.asLongBuffer().put(buf.weights, 0, buf.size)
    out.array()
  }

  override def deserialize(bytes: Array[Byte]): Buffer = {
    val in = ByteBuffer.wrap(bytes)
    val n = in.getInt()
    val buf = new Buffer(math.max(n, 16))
    in.asLongBuffer().get(buf.keys, 0, n)
    in.position(4 + 8 * n)
    in.asLongBuffer().get(buf.weights, 0, n)
    buf.size = n
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): WeightedPercentileAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): WeightedPercentileAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): WeightedPercentileAgg = copy(child = l, weight = r)
}

object WeightedPercentileAgg {

  /** Parallel growable arrays of sort keys and weights. */
  final class Buffer(capacity: Int) {
    var keys = new Array[Long](capacity)
    var weights = new Array[Long](capacity)
    var size = 0

    def append(k: Long, w: Long): Unit = {
      reserve(size + 1)
      keys(size) = k
      weights(size) = w
      size += 1
    }

    def appendAll(o: Buffer): Unit = {
      reserve(size + o.size)
      System.arraycopy(o.keys, 0, keys, size, o.size)
      System.arraycopy(o.weights, 0, weights, size, o.size)
      size += o.size
    }

    private def reserve(n: Int): Unit =
      if (n > keys.length) {
        val capacity = math.max(n, keys.length * 2)
        keys = java.util.Arrays.copyOf(keys, capacity)
        weights = java.util.Arrays.copyOf(weights, capacity)
      }
  }

  /** A double as a long whose signed order is the double's SQL order:
    * every NaN canonical and last, −0.0 immediately below 0.0. */
  private def sortKey(d: Double): Long = {
    val bits = java.lang.Double.doubleToLongBits(d) // canonical NaN
    bits ^ ((bits >> 63) & Long.MaxValue)
  }

  private def fromSortKey(k: Long): Double =
    java.lang.Double.longBitsToDouble(k ^ ((k >> 63) & Long.MaxValue))

  /** `PercentileBase.binarySearchCount`: the first index whose
    * accumulated weight reaches `target`. */
  private def search(acc: Array[Long], n: Int, target: Long): Int =
    java.util.Arrays.binarySearch(acc, 0, n, target) match {
      case ix if ix < 0 => -(ix + 1)
      case ix => ix
    }

  /** Sorts `keys(0 until n)` ascending, carrying `weights` along: a
    * bottom-up merge sort over primitive arrays (stable, O(n log n)). */
  private def sortByKey(keys: Array[Long], weights: Array[Long], n: Int): Unit = {
    var k = keys
    var w = weights
    var tk = new Array[Long](n)
    var tw = new Array[Long](n)
    var width = 1
    while (width < n) {
      var lo = 0
      while (lo < n) {
        val mid = math.min(lo + width, n)
        val hi = math.min(lo + 2 * width, n)
        var i = lo
        var j = mid
        var o = lo
        while (o < hi) {
          if (j >= hi || (i < mid && k(i) <= k(j))) { tk(o) = k(i); tw(o) = w(i); i += 1 }
          else { tk(o) = k(j); tw(o) = w(j); j += 1 }
          o += 1
        }
        lo = hi
      }
      val (sk, sw) = (k, w)
      k = tk; w = tw; tk = sk; tw = sw
      width *= 2
    }
    if (k ne keys) {
      System.arraycopy(k, 0, keys, 0, n)
      System.arraycopy(w, 0, weights, 0, n)
    }
  }

  /** Exact type-7 percentiles `ps` of `value` (BIGINT or DOUBLE) weighted
    * by the BIGINT `weight`, as `array<double>` — `percentile(value,
    * array(ps), weight)`. */
  def weightedPercentile(value: Column, ps: Seq[Double], weight: Column): Column =
    Bridge.column(WeightedPercentileAgg(
      Bridge.expression(value), Bridge.expression(weight), ps).toAggregateExpression())
}
