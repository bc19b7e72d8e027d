package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native champion-run of an `array<string>`: sort ascending
  * (binary UTF8 order, nulls last — `array_sort`'s ordering), walk
  * runs of equal adjacent elements, return `struct(gram, n)` for the
  * element whose run FIRST reaches the maximum length — the per-doc
  * mode dq03's repetition stats are built on.
  *
  * Replaces the interpreted `aggregate(array_sort(arr), struct(...),
  * ...)` fold, which evaluated ~10 interpreted struct/when expressions
  * per element per row (Dq03Prof r16: the fold alone cost ~0.25 s of
  * the entry's 1.8 s at sf0.1 PER FOLD — dq03 runs two — and the cost
  * is ∝ corpus tokens). This is a REPLICA OF THE WALK, not a
  * reformulated mode: `newRun = 1` whenever the `x = prev` comparison
  * is null (null element or null carried prev — `when`'s
  * null-condition → otherwise branch), strict `>` so ties keep the
  * binary-smallest gram, empty array → ("", 0) like the fold's seed
  * (TopRunSpec pins equality against the HOF form on real documents
  * and on the null/tie/empty edges).
  *
  * Codegen is a THIN CALL to the precompiled walk (object-returning
  * ~40-line body — the shape the r16 GenProf sweep measured at
  * +0.4–0.5 s of janino per fresh plan when inlined). */
case class TopRun(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got $other")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("gram", StringType, nullable = true),
    StructField("n", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "top_run"

  override def nullSafeEval(a: Any): Any = walk(a)

  /** The precompiled sorted-run walk — shared by the interpreted eval
    * and the generated thin call. */
  def walk(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val xs = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      xs(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      i += 1
    }
    // array_sort ascending: non-null in binary order, nulls LAST
    java.util.Arrays.sort(xs, (p: UTF8String, q: UTF8String) =>
      if (p == null && q == null) 0
      else if (p == null) 1
      else if (q == null) -1
      else p.compareTo(q))
    // the fold's walk, comparison-for-comparison: prev seeds "", a
    // null x (or null carried prev) makes the equality null -> run 1
    var prev: UTF8String = UTF8String.EMPTY_UTF8
    var run = 0L
    var best: UTF8String = UTF8String.EMPTY_UTF8
    var bestn = 0L
    i = 0
    while (i < n) {
      val x = xs(i)
      val newRun =
        if (x != null && prev != null && x.equals(prev)) run + 1L else 1L
      if (newRun > bestn) { best = x; bestn = newRun }
      prev = x
      run = newRun
      i += 1
    }
    new GenericInternalRow(Array[Any](best, bestn))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("topRun", this, classOf[TopRun].getName)
    nullSafeCodeGen(ctx, ev, a => {
      val r = ctx.freshName("topRunRes")
      s"""
         |final org.apache.spark.sql.catalyst.InternalRow $r =
         |  (org.apache.spark.sql.catalyst.InternalRow) $ref.walk($a);
         |${ev.value} = $r;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
