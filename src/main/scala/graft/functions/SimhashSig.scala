package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Native nBits-bit sign-LSH signature of an `array<float>` vector —
  * the BENCH-SIDE twin of the signature [[DeconScore]] computes
  * corpus-side, bit-identical to the HOF reference
  * [[VectorOps.simhashBucket]] (same [[DeconSigns]]
  * hash-derived hyperplanes, same ascending accumulation order, and
  * the HOF's null-element convention: a vector with ANY null element
  * nulls every projection, so every `when(proj >= 0, …)` falls to its
  * 0 branch and the bucket is 0L).
  *
  * Why native (r15, JobProf on dc06): the HOF form evaluates
  * nBits × dim interpreted lambda calls PER ROW. Invisible at the
  * 199-row fixture bench, it became two 7.6 s single-task stages the
  * moment dc06's threshold-crossing bench made the bench side 10⁴
  * rows — and the 100× corpus' organic 2·10⁴-row bench pays it on
  * every gate build. One compiled loop per row instead; doGenCode is
  * a thin call to the same method (the DeconScore lesson — a fat
  * inline body buys nothing but a per-plan janino tax).
  */
case class SimhashSig(child: Expression, nBits: Int)
    extends UnaryExpression {

  require(nBits >= 1 && nBits <= 63,
    s"signature must fit one long: got $nBits bits")

  private lazy val signs = new DeconSigns(nBits)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float>, got $t")
    }
  override def dataType: DataType = LongType
  // the HOF reference NEVER returns null: a null vector nulls every
  // projection and every bit's `when` falls to its 0 branch — 0L
  override def nullable: Boolean = false
  override def prettyName: String = "simhash_sig_n"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0L else sigOf(v.asInstanceOf[ArrayData])
  }

  /** One precompiled method shared by both paths (see [[DeconScore]]'s
    * boundary note). Returns a primitive long — the generated caller
    * never boxes. */
  def sigOf(vecData: ArrayData): Long = {
    val dim = vecData.numElements()
    // HOF conventions, replicated exactly: any null ELEMENT nulls every
    // projection, so every bit's `when` falls through to 0 (bucket 0L,
    // not null); an EMPTY vector hits the same path through a quirk —
    // `sequence(0, size-1)` at size 0 is sequence(0, -1) = [0, -1]
    // (descending-step inference), zip_with pads the empty vector with
    // nulls against it, and the null elements zero every bit.
    if (dim == 0) return 0L
    val vec = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      if (vecData.isNullAt(i)) return 0L
      vec(i) = vecData.getFloat(i).toDouble
      i += 1
    }
    val w = signs.forDim(dim)
    var sig = 0L
    var b = 0
    while (b < nBits) {
      var proj = 0.0
      val base = b * dim
      i = 0
      while (i < dim) {
        proj += (if (w(base + i)) vec(i) else -vec(i))
        i += 1
      }
      if (proj >= 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val ref = ctx.addReferenceObj("simhashSig", this,
                                  classOf[SimhashSig].getName)
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        long ${ev.value} = ${c.isNull} ? 0L : $ref.sigOf(${c.value});
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}
