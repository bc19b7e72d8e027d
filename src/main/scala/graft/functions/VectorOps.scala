package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns, built from
  * codegen-friendly higher-order functions (`zip_with`/`aggregate`) —
  * no UDFs, so the expressions distribute and survive Catalyst rewrites
  * (SURVEY.md §7.4).
  *
  * All arithmetic is done in DOUBLE after an exact float→double widen,
  * accumulated left-to-right, which keeps results bit-identical with the
  * DuckDB oracle's equivalent fold.
  */
object VectorOps {

  /** Σ aᵢ·bᵢ in double precision. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v)

  /** ‖a‖₂ in double precision. */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** cos(a, b) = a·b / (‖a‖‖b‖). HOF reference implementation — the
    * hot paths use [[cosineNative]], which is bit-identical. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Codegen'd native cosine ([[graft.functions.CosineSim]]): same
    * doubles as [[cosine]], ~100× less per-element overhead in all-pairs
    * joins. */
  def cosineNative(spark: org.apache.spark.sql.SparkSession,
                   a: Column, b: Column): Column =
    Natives.call(spark, "cosine_sim", a, b)

  /** Codegen'd native [[dot]] ([[graft.functions.DotF]]): bit-identical
    * double fold, for corpus-scaled serve frames (r16 HOF audit). */
  def dotNative(spark: org.apache.spark.sql.SparkSession,
                a: Column, b: Column): Column =
    Natives.call(spark, "dot_f", a, b)

  /** Codegen'd native integer dot over two `array<long>` columns
    * ([[graft.functions.DotL]]) — the int8 serve's rescale input;
    * bit-identical to `aggregate(zip_with(a, b, _*_), 0L, _+_)`. */
  def dotLongNative(spark: org.apache.spark.sql.SparkSession,
                    a: Column, b: Column): Column =
    Natives.call(spark, "dot_l", a, b)

  /** Random-hyperplane LSH bucket id: sign bits of `nBits` pseudo-random
    * projections packed into a long. Two vectors with high cosine
    * similarity land in the same bucket with high probability, so an ANN
    * search shuffles on `bucket` instead of comparing all pairs.
    *
    * The "random" hyperplane weights are derived per (bit, dimension)
    * from a deterministic integer hash — no driver-side random state, no
    * broadcast of a weight matrix, identical on every executor.
    */
  def simhashBucket(vec: Column, nBits: Int): Column = {
    val bits = (0 until nBits).map { b =>
      // projection_b = Σ_i w(b,i) * v_i, with w(b,i) ∈ {-1,+1} derived
      // from a splitmix-style integer mix of (b, i).
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1), (v, i) => {
          val mixed = hash(i, lit(b))
          when(pmod(mixed, lit(2)) === 0, v.cast("double"))
            .otherwise(-v.cast("double"))
        }),
        lit(0.0), (acc, v) => acc + v)
      when(proj >= 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }
    bits.reduce(_ bitwiseOR _).as("bucket")
  }
}
