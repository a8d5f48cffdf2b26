package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, Decimal}

/** SparkSessionExtensions entry point: registers graft's custom Catalyst
  * expressions AND sketch aggregates into the SQL function registry, so
  * `spark.sql("SELECT cosine_similarity(a, b) ...")`,
  * `kll_quantiles(v, array(0.5), 200)`, `freq_items(term, 512)` and
  * `kmv_sketch(h, 1024)` work in sessions built with
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions`. Aggregate
  * parameters (k/capacity/probs) must be literals — they are sketch
  * SHAPE, baked into the aggregation buffer, not per-row inputs. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  /** The registered (identifier, info, builder) triples — public so a
    * test (or an already-built session) can register the identical
    * builders straight into a FunctionRegistry. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (new FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(
        classOf[CosineSimilarityExpr].getCanonicalName, "cosine_similarity"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "cosine_similarity takes exactly 2 arguments")
        CosineSimilarityExpr(exprs.head, exprs(1))
      }),
    (new FunctionIdentifier("kll_quantiles"),
      new ExpressionInfo(classOf[KllSketchAgg].getCanonicalName, "kll_quantiles"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3,
          "kll_quantiles(value, probs_array, k) takes exactly 3 arguments")
        KllSketchAgg(exprs.head, intLit(exprs(2), "k"),
          doubleArrayLit(exprs(1), "probs"), emitBytes = false)
      }),
    (new FunctionIdentifier("kll_weighted_quantiles"),
      new ExpressionInfo(classOf[KllWeightedSketchAgg].getCanonicalName, "kll_weighted_quantiles"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 4,
          "kll_weighted_quantiles(value, weight, probs_array, k) takes exactly 4 arguments")
        KllWeightedSketchAgg(exprs.head, exprs(1), intLit(exprs(3), "k"),
          doubleArrayLit(exprs(2), "probs"))
      }),
    (new FunctionIdentifier("freq_items"),
      new ExpressionInfo(classOf[FreqItemsAgg].getCanonicalName, "freq_items"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          "freq_items(item, capacity) takes exactly 2 arguments")
        FreqItemsAgg(exprs.head, intLit(exprs(1), "capacity"))
      }),
    (new FunctionIdentifier("kmv_sketch"),
      new ExpressionInfo(classOf[KmvSketchAgg].getCanonicalName, "kmv_sketch"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "kmv_sketch(hash, k) takes exactly 2 arguments")
        KmvSketchAgg(exprs.head, intLit(exprs(1), "k"))
      }))

  private def intLit(e: Expression, name: String): Int = {
    require(e.foldable, s"$name must be a literal")
    e.eval().asInstanceOf[Number].intValue()
  }

  /** Foldable array of doubles; SQL decimal literals (`array(0.25)`)
    * fold to Decimal elements and are converted. */
  private def doubleArrayLit(e: Expression, name: String): Seq[Double] = {
    require(e.foldable && e.dataType.isInstanceOf[ArrayType],
      s"$name must be a literal array")
    val elemType = e.dataType.asInstanceOf[ArrayType].elementType
    e.eval().asInstanceOf[ArrayData].toObjectArray(elemType).toSeq.map {
      case d: Decimal => d.toDouble
      case n: Number => n.doubleValue()
      case other => throw new IllegalArgumentException(
        s"$name elements must be numeric, got $other")
    }
  }
}
