package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst twins of the three remaining HOF vector folds on
  * CORPUS-SCALED frames (r16 HOF audit — the dc06 lesson generalized:
  * an interpreted `zip_with`+`aggregate` evaluates one lambda call per
  * element per row, invisible on a fixture, 10⁹ interpreted evals the
  * moment a serve maps a 100× corpus):
  *
  *  - [[DotF]]: Σ aᵢ·bᵢ over two `array<float>`s in double — the ss10
  *    MIPS serve and [[graft.functions.VectorOps.dot]]'s hot twin.
  *  - [[DotL]]: Σ aᵢ·bᵢ over two `array<long>`s in long — the int8
  *    integer-dot rescale serve (ss09/ss11/ss15/st13).
  *  - [[SqDist]]: Σ (aᵢ−bᵢ)² of an `array<float>` vector against an
  *    `array<double>` centroid/query — the L2 serves and IVF probe
  *    audits ([[graft.analytics.IvfIndex.sqDistCol]]'s hot twin).
  *
  * Each is BIT-IDENTICAL to its HOF form (same left-to-right
  * accumulation, same float→double widening, same wrap-around long
  * multiply), so every DuckDB oracle holds unchanged — pinned
  * per-expression against the HOF references in VecFoldsSpec. NULL
  * semantics mirror the HOF fold exactly: NULL if either array is
  * NULL, lengths differ (zip_with pads the shorter side with null →
  * the sum goes null), or any element is NULL; an empty pair folds to
  * the zero of the accumulator.
  *
  * Codegen is INLINE (not the [[DeconScore]] thin call): these bodies
  * are the [[CosineSim]] size (~15 generated lines, primitive return,
  * no object alloc), which the r16 GenProf sweep measured at ≤ +0.07 s
  * of janino per fresh plan — below the thin-call boundary; the fat
  * object-returning bodies (DeconScore ~80 lines at +1.1 s,
  * Nearest2Centroid ~40 at +0.48) are the shapes that cross it.
  */
case class DotF(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<float>, array<float>), got ($l, $r)")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_f"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += (double) $x.getFloat($i) * (double) $y.getFloat($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class DotL(left: Expression, right: Expression)
    extends BinaryExpression {
  // Either side may be any integral element type: the persisted int8
  // index stores array<tinyint> codes while the query side quantizes
  // to array<bigint> in-plan — accepting both directly lets the serve
  // scan drop its per-element `transform(q, cast(bigint))` widen pass
  // (one more interpreted lambda per element per row, r16 HOF audit).
  // Accumulation is IDENTICAL either way: Java integral widening to
  // long before the multiply, the same wrap-around arithmetic as the
  // HOF fold over pre-widened longs.
  private def integral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(l, _), ArrayType(r, _)) if integral(l) && integral(r) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two integral-element arrays, got ($l, $r)")
    }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_l"

  @transient private lazy val leftElem =
    left.dataType.asInstanceOf[ArrayType].elementType
  @transient private lazy val rightElem =
    right.dataType.asInstanceOf[ArrayType].elementType

  private def getAsLong(arr: ArrayData, i: Int, dt: DataType): Long =
    dt match {
      case LongType => arr.getLong(i)
      case IntegerType => arr.getInt(i).toLong
      case ShortType => arr.getShort(i).toLong
      case ByteType => arr.getByte(i).toLong
      case other => throw new IllegalStateException(s"non-integral $other")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += getAsLong(x, i, leftElem) * getAsLong(y, i, rightElem)
      i += 1
    }
    acc
  }

  private def accessor(arr: String, i: String, dt: DataType): String =
    dt match {
      case LongType => s"$arr.getLong($i)"
      case IntegerType => s"(long) $arr.getInt($i)"
      case ShortType => s"(long) $arr.getShort($i)"
      case ByteType => s"(long) $arr.getByte($i)"
      case other => throw new IllegalStateException(s"non-integral $other")
    }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += ${accessor(x, i, leftElem)} * ${accessor(y, i, rightElem)};
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class SqDist(left: Expression, right: Expression)
    extends BinaryExpression {
  // Either side may be array<float> OR array<double>: the serve scans
  // pair a float corpus vector with a float query (brute-force L2 —
  // the shape that surfaced as an analysis failure on the first cut of
  // this expression, caught by the sf0.01 oracle run: ss05/ss06/ss07
  // wrote nothing) or with a double centroid/residual. The HOF fold
  // widens each element to double before subtracting (exact for a
  // float), so accepting both types with the same per-element widen is
  // bit-identical to every existing call shape.
  private def fd(dt: DataType): Boolean = dt match {
    case FloatType | DoubleType => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(l, _), ArrayType(r, _)) if fd(l) && fd(r) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two float/double-element arrays, got ($l, $r)")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "sq_dist"

  @transient private lazy val leftElem =
    left.dataType.asInstanceOf[ArrayType].elementType
  @transient private lazy val rightElem =
    right.dataType.asInstanceOf[ArrayType].elementType

  private def getAsDouble(arr: ArrayData, i: Int, dt: DataType): Double =
    dt match {
      case DoubleType => arr.getDouble(i)
      case FloatType => arr.getFloat(i).toDouble
      case other => throw new IllegalStateException(s"non-fractional $other")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = getAsDouble(x, i, leftElem) - getAsDouble(y, i, rightElem)
      acc += d * d
      i += 1
    }
    acc
  }

  private def accessor(arr: String, i: String, dt: DataType): String =
    dt match {
      case DoubleType => s"$arr.getDouble($i)"
      case FloatType => s"(double) $arr.getFloat($i)"
      case other => throw new IllegalStateException(s"non-fractional $other")
    }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |final int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    final double $d = ${accessor(x, i, leftElem)} - ${accessor(y, i, rightElem)};
         |    $acc += $d * $d;
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
