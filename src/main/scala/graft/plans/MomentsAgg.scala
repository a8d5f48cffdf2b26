package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, CreateNamedStruct, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{CentralMomentAgg, Kurtosis, Skewness, StddevSamp, VarianceSamp}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** The four central-moment statistics of one column from ONE
  * `(n, avg, m2, m3, m4)` buffer: `struct(variance, std, skewness,
  * kurtosis)` — Spark's `var_samp`, `stddev_samp`, `skewness` and
  * `kurtosis` at the cost of one of them.
  *
  * Why it exists: those four are separate `CentralMomentAgg`s, so an
  * aggregation asking for all of them keeps four copies of the same
  * moment buffer (3 + 3 + 4 + 5 fields) where one 5-field buffer holds
  * every input. In a no-grouping aggregation the buffer width is what
  * whole-stage codegen is sized by ([[graft.operators.Describe]]'s pass 1
  * packs its columns under `spark.sql.codegen.maxFields`), so the extra
  * copies cost codegen chunks, not just memory.
  *
  * BIT-IDENTICAL by construction: update and merge are inherited from
  * `CentralMomentAgg` at moment order 4 — the lower moments' update and
  * merge never read the higher ones, so n, avg and m2 evolve exactly as
  * in an order-2 buffer — and each result field is the
  * `evaluateExpression` of Spark's own aggregate, rebound by buffer
  * position onto this buffer. `nullOnDivideByZero` defaults like Spark's
  * (`!spark.sql.legacy.statisticalAggregate`), read when the expression
  * is built. */
case class MomentsAgg(
    child: Expression,
    nullOnDivideByZero: Boolean = !SQLConf.get.legacyStatisticalAggregate)
  extends CentralMomentAgg(child, nullOnDivideByZero) {

  override def prettyName: String = "moments"

  override protected def momentOrder: Int = 4

  override def dataType: DataType = StructType(MomentsAgg.Fields.map(StructField(_, DoubleType)))

  override val evaluateExpression: Expression = CreateNamedStruct(
    MomentsAgg.Fields.zip(Seq(
      VarianceSamp(child, nullOnDivideByZero), StddevSamp(child, nullOnDivideByZero),
      Skewness(child, nullOnDivideByZero), Kurtosis(child, nullOnDivideByZero))).flatMap {
      case (name, agg) =>
        val mine = agg.aggBufferAttributes.map(_.exprId).zip(aggBufferAttributes).toMap
        Seq(Literal(name), agg.evaluateExpression.transform {
          case a: AttributeReference if mine.contains(a.exprId) => mine(a.exprId)
        })
    })

  override protected def withNewChildInternal(c: Expression): MomentsAgg = copy(child = c)
}

object MomentsAgg {
  /** Result field names, in order. */
  val Fields: Seq[String] = Seq("variance", "std", "skewness", "kurtosis")

  /** `struct(variance, std, skewness, kurtosis)` of `c` cast to double. */
  def moments(c: Column): Column =
    Bridge.column(MomentsAgg(Bridge.expression(c)).toAggregateExpression())
}
