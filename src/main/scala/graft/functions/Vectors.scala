package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector column math over `array<float>` / `array<double>`
  * columns, built from codegen'd higher-order functions (`zip_with`,
  * `aggregate`) — no UDFs, so ANN scans stay inside whole-stage codegen
  * and scale linearly with partition count.
  */
object Vectors {

  /** Elementwise product then left-fold sum, all in double. The fold is
    * sequential per row, matching a scalar loop's accumulation order. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def normSq(a: Column): Column = dot(a, a)

  def l2norm(a: Column): Column = sqrt(normSq(a))

  /** Cosine similarity in double precision — the codegen'd native
    * expression (one fused loop per row). Value-identical to the
    * test-scope HofReference.cosineHof: same per-element double
    * accumulation order. */
  def cosine(a: Column, b: Column): Column =
    NativeExpressions.cosine(a, b)
}
