package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Shared MinHash parameters: universal-hash family
  * h_i(x) = (a_i·x32 + b_i) mod p over the 32-bit-masked shingle hash,
  * p = 2^31-1. Fixed seed ⇒ identical constants on every executor with
  * no broadcast; products stay well inside a long
  * ((2^31-1)(2^32-1) + 2^31 < 2^63). */
object MinHash {
  val P: Long = 2147483647L // 2^31 - 1, Mersenne prime
  val NumPerm = 48
  val Bands = 12
  val Rows: Int = NumPerm / Bands // LSH threshold ≈ (1/b)^(1/r) ≈ 0.54
  val (permA, permB) = {
    val rnd = new scala.util.Random(42)
    (Array.fill(NumPerm)(1L + rnd.nextInt(Int.MaxValue - 1)),
     Array.fill(NumPerm)(rnd.nextInt(Int.MaxValue).toLong))
  }
}

/** Native MinHash signature: `array<long>` shingle hashes → NumPerm
  * minimum universal-hash values, computed in one tight two-level loop.
  *
  * Replaces the higher-order `transform(sequence, i ->
  * array_min(transform(...)))` formulation, whose per-element lambda
  * dispatch dominated the MinHash+LSH dedup bench (~10 s of a 55 s
  * total at sf0.1). Identical values by construction: same constants,
  * same (a·x + b) mod p arithmetic on non-negative operands
  * (`DedupSpec` asserts exact equality against the HOF reference). */
case class MinHashSig(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(v: Any): Any = {
    import MinHash._
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val sig = Array.fill(NumPerm)(Long.MaxValue)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val x = arr.getLong(i) & 0xFFFFFFFFL
        var j = 0
        while (j < NumPerm) {
          val h = (permA(j) * x + permB(j)) % P
          if (h < sig(j)) sig(j) = h
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
