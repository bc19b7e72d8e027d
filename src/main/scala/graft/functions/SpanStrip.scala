package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expression: remove every word covered by a flagged
  * L-gram span —
  *
  * `span_strip(words, starts, L)` = the elements `words[j]` (order
  * preserved) for which NO start `p ∈ starts` satisfies
  * `p <= j <= p + L - 1`, where `starts` is the sorted array of span
  * start positions (0-based).
  *
  * This is the text-rebuild step of boilerplate stripping (bp02 /
  * cp02 stage 1, [[graft.analytics.DataQuality]] /
  * [[graft.analytics.CurationPipeline]]). The HOF `aggregate` fold it
  * replaces had two scale defects: every step ran in the expression
  * interpreter (higher-order functions have no codegen), and it built
  * the kept-array by `concat(out, array(word))` — a full copy per
  * kept word, O(n²) element copies per document, which turns a
  * 10k-word document into ~10⁸ copies. This loop is the two-pointer
  * interval-union scan: O(n + |starts|) per document, one output
  * allocation.
  *
  * Identical output to the fold for sorted, duplicate-free `starts`
  * (what `sort_array(collect_list(p))` over posexplode positions
  * produces): both advance one start per position and keep `words[j]`
  * iff `j > end` after extending `end` over starts at `j`. Duplicate
  * starts are additionally tolerated here (the `while` merges them).
  *
  * NULL on NULL `words`/`starts`/`L`; NULL elements inside `words`
  * are kept as NULL elements (the fold's `element_at` did the same).
  */
case class SpanStrip(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(StringType, _), ArrayType(IntegerType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (w, s, l) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<string>, array<int>, int), " +
          s"got ($w, $s, $l)")
    }
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "span_strip"

  override def nullSafeEval(w: Any, s: Any, l: Any): Any = {
    val words = w.asInstanceOf[ArrayData]
    val starts = s.asInstanceOf[ArrayData]
    val span = l.asInstanceOf[Int]
    val n = words.numElements()
    val np = starts.numElements()
    val out = new Array[AnyRef](n)
    var cnt = 0
    var k = 0
    var end = -1L
    var j = 0
    while (j < n) {
      while (k < np && !starts.isNullAt(k) && starts.getInt(k) == j) {
        val e = j.toLong + span - 1
        if (e > end) end = e
        k += 1
      }
      if (j > end) {
        out(cnt) =
          if (words.isNullAt(j)) null else words.getUTF8String(j)
        cnt += 1
      }
      j += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, cnt))
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (w, s, l) => {
      val n = ctx.freshName("n")
      val np = ctx.freshName("np")
      val out = ctx.freshName("out")
      val cnt = ctx.freshName("cnt")
      val k = ctx.freshName("k")
      val end = ctx.freshName("end")
      val j = ctx.freshName("j")
      val e = ctx.freshName("e")
      s"""
         |final int $n = $w.numElements();
         |final int $np = $s.numElements();
         |final Object[] $out = new Object[$n];
         |int $cnt = 0;
         |int $k = 0;
         |long $end = -1L;
         |for (int $j = 0; $j < $n; $j++) {
         |  while ($k < $np && !$s.isNullAt($k) && $s.getInt($k) == $j) {
         |    final long $e = (long) $j + $l - 1;
         |    if ($e > $end) $end = $e;
         |    $k++;
         |  }
         |  if ($j > $end) {
         |    $out[$cnt++] = $w.isNullAt($j) ? null : $w.getUTF8String($j);
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  java.util.Arrays.copyOf($out, $cnt));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}
