package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector kernels over `array<float>` embedding columns.
  *
  * Pure higher-order-function expressions (zip_with/aggregate/transform) —
  * codegen-friendly, no UDF serialization, distributable to any scale.
  * Elements are cast to double *before* arithmetic so the left-to-right
  * fold is bit-identical across engines (float32 promotion first, then
  * IEEE-754 double ops).
  */
object VectorFunctions {

  /** Cast array<float> → array<double> for deterministic arithmetic. */
  def asDouble(v: Column): Column = transform(v, _.cast("double"))

  /** Dot product — native codegen'd loop ([[graft.plans.DotProduct]]);
    * value-identical to the HOF fold `aggregate(zip_with(a,b,*),0d,+)`.
    */
  def dot(a: Column, b: Column): Column = graft.plans.VectorExpressions.dotNative(a, b)

  /** The HOF formulation, kept as the portable/reference implementation
    * (and for engines where custom expressions can't be installed).
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Dot product against a constant weight vector (e.g. an LSH
    * hyperplane) — the weights become a literal array in the plan, so the
    * whole projection stays inside whole-stage codegen with no join.
    */
  def dotConst(v: Column, weights: Seq[Double]): Column =
    dot(v, array(weights.map(lit): _*))
}
