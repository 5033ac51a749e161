package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float|double>` columns.
  *
  * Dot products (and the norms/cosines built on them) run through the
  * custom codegen'd [[graft.plans.VectorDot]] expression — Spark's own
  * higher-order functions (`zip_with`/`aggregate`) interpret their lambda
  * per element, which dominates brute-force similarity scans.
  *
  * All math accumulates in double over element-wise double products, so a
  * float-typed embedding column and a double oracle agree bit-for-bit with
  * a sequential left fold.
  */
object VectorFunctions {

  /** Element-wise cast to array<double>. */
  def toDouble(v: Column): Column = transform(v, _.cast("double"))

  /** Dot product (codegen'd primitive loop). */
  def dot(a: Column, b: Column): Column =
    graft.plans.VectorExpressions.vectorDot(a, b)

  /** Squared L2 norm. */
  def normSq(a: Column): Column = dot(a, a)

  /** Cosine similarity; 0 when either vector is all-zero. */
  def cosine(a: Column, b: Column): Column =
    cosineFromParts(dot(a, b), normSq(a), normSq(b))

  /** Cosine from precomputed pieces — lets pair scans compute each side's
    * norm once per *vector* instead of once per *pair* (bit-identical:
    * same `dot / (sqrt(nsqA) * sqrt(nsqB))` shape). */
  def cosineFromParts(dotAB: Column, normSqA: Column, normSqB: Column): Column = {
    val denom = sqrt(normSqA) * sqrt(normSqB)
    when(denom === 0.0, lit(0.0)).otherwise(dotAB / denom)
  }
}
