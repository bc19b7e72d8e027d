package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: the TWO nearest centroids (squared L2)
  * of an `array<float>` vector against an `array<array<double>>`
  * centroid set, as `struct(l1 int, d1 double, l2 int, d2 double)` —
  * the per-row loop of SPILLED IVF assignment
  * ([[graft.analytics.IvfIndex.assignSpilled]]): a border vector whose
  * runner-up list is within a distance margin of its winner is indexed
  * in BOTH, so a query probing either list finds it. One pass, same
  * left-to-right double accumulation and lower-index tie-break as
  * [[NearestCentroid]] (l1 here always equals its argmin — pinned in
  * DedupSpec against the HOF sort reference).
  *
  * `l2`/`d2` are null when the centroid set has a single entry. NULL
  * overall on a null vector/element, a null centroid entry, or a
  * dimension mismatch — [[NearestCentroid]]'s strict contract.
  */
case class Nearest2Centroid(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<float>, array<array<double>>), got ($l, $r)")
    }
  override def dataType: DataType = StructType(Seq(
    StructField("l1", IntegerType, nullable = false),
    StructField("d1", DoubleType, nullable = false),
    StructField("l2", IntegerType, nullable = true),
    StructField("d2", DoubleType, nullable = true)))
  override def nullable: Boolean = true
  override def prettyName: String = "nearest2_centroid"

  override def nullSafeEval(v: Any, cs: Any): Any = top2(v, cs)

  /** The per-row loop, precompiled once in this class — shared by the
    * interpreted eval above and the generated code ([[doGenCode]]
    * emits a thin call to it). r16 GenProf measurement: the previous
    * ~40-line inlined object-returning body (the pre-fix
    * [[DeconScore]] shape at half size) cost +0.48 s of janino
    * compile per fresh plan over the same-fixture baseline
    * (thin-call controls read +0.004 s); warm per-row cost is
    * unchanged — one virtual call against a dim × nLists multiply
    * loop is noise. */
  def top2(v: Any, cs: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    val cents = cs.asInstanceOf[ArrayData]
    val dim = vec.numElements()
    val k = cents.numElements()
    if (k == 0) return null
    var b1 = -1; var b2 = -1
    var d1 = Double.MaxValue; var d2 = Double.MaxValue
    var c = 0
    while (c < k) {
      if (cents.isNullAt(c)) return null
      val cent = cents.getArray(c)
      if (cent.numElements() != dim) return null
      var d = 0.0
      var i = 0
      while (i < dim) {
        if (vec.isNullAt(i) || cent.isNullAt(i)) return null
        val diff = vec.getFloat(i).toDouble - cent.getDouble(i)
        d += diff * diff
        i += 1
      }
      // strict < on both ranks → ties keep the LOWER index in each slot,
      // matching NearestCentroid's argmin for l1
      if (d < d1) { d2 = d1; b2 = b1; d1 = d; b1 = c }
      else if (d < d2) { d2 = d; b2 = c }
      c += 1
    }
    if (b1 < 0) return null // all-NaN distances
    new GenericInternalRow(Array[Any](
      b1, d1,
      if (b2 < 0) null else Integer.valueOf(b2),
      if (b2 < 0) null else java.lang.Double.valueOf(d2)))
  }

  /** Generated form: a THIN CALL to the precompiled [[top2]] — the
    * generated and interpreted paths are literally the same code (see
    * [[top2]] for the GenProf numbers that retired the inline body;
    * the expression still participates in whole-stage codegen). */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearest2Centroid", this,
                                  classOf[Nearest2Centroid].getName)
    nullSafeCodeGen(ctx, ev, (v, cs) => {
      val r = ctx.freshName("n2cRes")
      s"""
         |final org.apache.spark.sql.catalyst.InternalRow $r =
         |  (org.apache.spark.sql.catalyst.InternalRow) $ref.top2($v, $cs);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r; }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
