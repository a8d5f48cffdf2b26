package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Dense-vector math over ArrayType(Numeric) columns using codegen'd
  * higher-order functions — no UDFs, no serialization boundary
  * (SURVEY.md §2.C "similarity search"). Float inputs are cast to double
  * element-wise first so arithmetic matches a double-precision oracle.
  */
object VectorFunctions {

  def toDoubleArray(a: Column): Column = transform(a, _.cast(DoubleType))

  /** Sequential left-fold dot product — deterministic element order, so
    * results are bit-stable across runs and engines. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(toDoubleArray(a), toDoubleArray(b), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)

  def norm2(a: Column): Column = dot(a, a)

  def norm(a: Column): Column = sqrt(norm2(a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))
}
