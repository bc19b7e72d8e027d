package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: asymmetric-distance (ADC) between a
  * query residual and a product-quantized code word —
  *
  * `pq_adc(qres, codes, codebooks)` =
  *   Σ_m Σ_i (qres[m·dSub + i] − codebooks[m][codes[m]][i])²
  *
  * — the per-(query, vector) hot loop of the batch IVF-PQ path
  * ([[graft.analytics.Similarity.batchIvfPqTopK]]). The HOF
  * formulation (aggregate over subspaces of aggregate-over-zip_with
  * slices) runs entirely in the expression interpreter — Spark's
  * higher-order functions have no codegen — at ~m·dSub lambda
  * invocations per pair; an in-plan lookup-table rewrite was measured
  * and REJECTED (SURVEY "Measured and rejected": the 16 KB per-probe
  * table erased the win outside one cell). This expression is the
  * cosine_sim/nearest_centroid precedent instead: one tight generated
  * loop, identical left-to-right double accumulation (m ascending,
  * then i ascending) → bit-identical distances to the HOF form, so
  * shortlists and the hash-exact ss07x anchor are unchanged.
  *
  * NULL on NULL/malformed inputs: missing arrays, a code outside its
  * codebook, inconsistent dims (qres shorter than the concatenated
  * sub-centroids), or NULL elements.
  */
case class PqAdc(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(IntegerType, _),
            ArrayType(ArrayType(ArrayType(DoubleType, _), _), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (q, c, cb) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, array<int>, " +
          s"array<array<array<double>>>), got ($q, $c, $cb)")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "pq_adc"

  override def nullSafeEval(q: Any, c: Any, cb: Any): Any = {
    val qres = q.asInstanceOf[ArrayData]
    val codes = c.asInstanceOf[ArrayData]
    val books = cb.asInstanceOf[ArrayData]
    val m = codes.numElements()
    if (books.numElements() != m) return null
    var acc = 0.0
    var off = 0
    var s = 0
    while (s < m) {
      if (codes.isNullAt(s) || books.isNullAt(s)) return null
      val book = books.getArray(s)
      val code = codes.getInt(s)
      if (code < 0 || code >= book.numElements() || book.isNullAt(code))
        return null
      val cent = book.getArray(code)
      val dSub = cent.numElements()
      if (off + dSub > qres.numElements()) return null
      // per-subspace partial, then add to the total — the grouping the
      // HOF fold uses ((Σ_i per m) summed over m); a single running
      // accumulator across subspace boundaries differs in the last ulp
      var sub = 0.0
      var i = 0
      while (i < dSub) {
        if (qres.isNullAt(off + i) || cent.isNullAt(i)) return null
        val diff = qres.getDouble(off + i) - cent.getDouble(i)
        sub += diff * diff
        i += 1
      }
      acc += sub
      off += dSub
      s += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (q, c, cb) => {
      val m = ctx.freshName("m")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val off = ctx.freshName("off")
      val acc = ctx.freshName("acc")
      val book = ctx.freshName("book")
      val cent = ctx.freshName("cent")
      val code = ctx.freshName("code")
      val dSub = ctx.freshName("dSub")
      val diff = ctx.freshName("diff")
      val ad = "org.apache.spark.sql.catalyst.util.ArrayData"
      s"""
         |final int $m = $c.numElements();
         |double $acc = 0.0;
         |int $off = 0;
         |if ($cb.numElements() != $m) { ${ev.isNull} = true; }
         |for (int $s = 0; $s < $m && !${ev.isNull}; $s++) {
         |  if ($c.isNullAt($s) || $cb.isNullAt($s)) { ${ev.isNull} = true; break; }
         |  final $ad $book = $cb.getArray($s);
         |  final int $code = $c.getInt($s);
         |  if ($code < 0 || $code >= $book.numElements() ||
         |      $book.isNullAt($code)) { ${ev.isNull} = true; break; }
         |  final $ad $cent = $book.getArray($code);
         |  final int $dSub = $cent.numElements();
         |  if ($off + $dSub > $q.numElements()) { ${ev.isNull} = true; break; }
         |  double ${acc}Sub = 0.0; // per-subspace partial: HOF grouping
         |  for (int $i = 0; $i < $dSub; $i++) {
         |    if ($q.isNullAt($off + $i) || $cent.isNullAt($i)) {
         |      ${ev.isNull} = true; break;
         |    }
         |    final double $diff = $q.getDouble($off + $i) - $cent.getDouble($i);
         |    ${acc}Sub += $diff * $diff;
         |  }
         |  $acc += ${acc}Sub;
         |  $off += $dSub;
         |}
         |if (!${ev.isNull}) { ${ev.value} = $acc; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}
