package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: index of the nearest centroid (squared
  * L2) for an `array<float>` vector against an `array<array<double>>`
  * centroid set — the per-row hot loop of IVF index assignment
  * ([[graft.analytics.IvfIndex]]).
  *
  * The HOF formulation (`array_position(dists, array_min(dists))` over
  * per-centroid `zip_with`+`aggregate` folds) evaluates nLists × dim
  * interpreted lambda calls per row; at 100 TB the assignment pass maps
  * the ENTIRE corpus, so this is exactly the "built-ins genuinely fall
  * short" case of SURVEY.md §7.4. This expression generates one tight
  * nested loop (same left-to-right double accumulation → identical
  * argmin, ties to the lower index; equality vs the HOF reference pinned
  * in `DedupSpec`).
  *
  * NULL if the vector is NULL or any element/centroid entry is NULL;
  * centroids shorter/longer than the vector compare over the shared
  * prefix exactly like `zip_with` (which truncates to the shorter side
  * producing nulls — here we require equal dims and return NULL
  * otherwise, the stricter contract).
  */
case class NearestCentroid(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<float>, array<array<double>>), got ($l, $r)")
    }
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_centroid"

  override def nullSafeEval(v: Any, cs: Any): Any = argmin(v, cs)

  /** The per-row loop, precompiled once in this class — shared by the
    * interpreted eval above and the generated code ([[doGenCode]]
    * emits a thin call to it). r16 GenProf measurement: the previous
    * ~33-line inlined body cost +0.43 s of janino compile per fresh
    * plan over the same-fixture baseline (thin-call controls read
    * +0.004 s); the warm per-row cost is unchanged — one virtual call
    * against a dim × nLists multiply loop is noise. Same thin-call
    * boundary as [[DeconScore.score]]. */
  def argmin(v: Any, cs: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    val cents = cs.asInstanceOf[ArrayData]
    val dim = vec.numElements()
    val k = cents.numElements()
    if (k == 0) return null
    var best = -1
    var bestD = Double.MaxValue
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
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    // all-NaN distances never beat bestD → best stays -1; surface NULL
    // instead of a valid-looking (and unprobeable) list id. (The HOF
    // argmin reference yields -1 here via array_position's 0 — the
    // equality pin in DedupSpec runs on NaN-free data.)
    if (best < 0) null else best
  }

  /** Generated form: a THIN CALL to the precompiled [[argmin]] — the
    * generated and interpreted paths are literally the same code (see
    * [[argmin]] for the GenProf numbers that retired the inline body;
    * the expression still participates in whole-stage codegen). */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCentroid", this,
                                  classOf[NearestCentroid].getName)
    nullSafeCodeGen(ctx, ev, (v, cs) => {
      val r = ctx.freshName("ncRes")
      s"""
         |final Object $r = $ref.argmin($v, $cs);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ((java.lang.Integer) $r).intValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
