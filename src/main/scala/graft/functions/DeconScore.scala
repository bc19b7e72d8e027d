package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** The ±1 sign-LSH weight matrix for a given signature width, cached
  * per embedding dimension: weight(b, i) = parity of Spark's
  * `hash(i, b)` = murmur3_32(b, murmur3_32(i, 42)) — the exact bit
  * [[VectorOps.simhashBucket]] derives per (bit, dim). The matrix
  * depends only on (nBits, dim), so both the interpreted and the
  * generated [[DeconScore]] paths build it ONCE per task instead of
  * re-hashing nBits × dim integers per row (at 48 bits × 64 dims the
  * per-row rebuild was ~3 k murmur mixes — a third of the serve's
  * interpreted cost). The lazy cache holds ONE volatile reference to
  * an immutable (dim, array) pair, so a reader can never pair a stale
  * array with a fresh dim when two threads race on different dims
  * (r13 kept dim and array in separate volatiles — safe only for a
  * single dim). Recompute-on-miss is idempotent: every thread
  * computes the identical array for a given dim. */
final class DeconSigns(nBits: Int) extends Serializable {
  @transient @volatile
  private var cached: (Int, Array[Boolean]) = null

  /** flat [b * dim + i] → true = +v, false = −v */
  def forDim(dim: Int): Array[Boolean] = {
    val c = cached
    if (c != null && c._1 == dim) return c._2
    val w = new Array[Boolean](nBits * dim)
    var b = 0
    while (b < nBits) {
      var i = 0
      while (i < dim) {
        val mixed = Murmur3_x86_32.hashInt(b, Murmur3_x86_32.hashInt(i, 42))
        w(b * dim + i) = (mixed & 1) == 0
        i += 1
      }
      b += 1
    }
    cached = (dim, w)
    w
  }
}

/** Native Catalyst expression for the map-only banded decon serve
  * (dc03 / st18 / the curation ledgers): ONE eval per corpus row
  * computes the row's sign-LSH signature, indexes its `nBands` buckets
  * in the broadcast bench bucket table, scores every candidate with
  * exact double-precision cosine and returns
  * `struct(mc: double, n_cand: bigint)` — the max candidate cosine
  * (null when all buckets are empty) and the distinct candidate count.
  *
  * Why native: every higher-order function is a CodegenFallback
  * evaluated one lambda call per ELEMENT per row, and the banded
  * scoring needs nBands × |bucket| cosine lambdas plus a
  * 48-projection signature fold — profiled at ~76 ms/row interpreted
  * (136 s of executor CPU to score 1 801 fixture rows, r13 JobProf).
  * This expression does the identical arithmetic in one tight
  * primitive loop per row — and since r13 it implements `doGenCode`,
  * so the serve participates in whole-stage codegen instead of
  * falling back to per-row interpreted eval: the DeconCrossover probe
  * measured the fallback at ~5-10× the per-operation cost of the
  * codegen'd exact crossJoin, which made banding lose wall-clock even
  * at a 97 % candidate-pruning rate. Generated and interpreted paths
  * share [[DeconSigns]] and are pinned row-identical in
  * DataQualitySpec.
  *
  * BIT-COMPATIBILITY contract (pinned in DataQualitySpec against the
  * HOF reference scorer):
  *  - the signature reproduces [[VectorOps.simhashBucket]] exactly:
  *    per (bit b, dim i) the ±1 weight is the parity of Spark's
  *    `hash(i, b)` = murmur3_32(b, murmur3_32(i, 42)), the projection
  *    accumulates left-to-right in double, ties (proj == 0) set the
  *    bit — the bench side keeps hashing with the HOF column, so a
  *    drifted replica would empty every bucket (dc03r's recall anchor
  *    would collapse, loudly);
  *  - the cosine is [[CosineSim]]'s: float→double widen, one
  *    left-to-right pass, dot/(‖a‖‖b‖);
  *  - the max uses java.lang.Double.compare (NaN greatest), matching
  *    `array_max`/`greatest` double ordering.
  *
  * `right` is the DENSE bucket table for one bench chunk:
  * `array<array<struct<bench_id: bigint, qvec: array<float>>>>` of
  * length nBands·2^rows, indexed by slot = band·2^rows + bandKey
  * (missing slots are null). Dense indexing replaces the r12
  * string-keyed map — an O(1) array load instead of an O(#keys)
  * UTF8String scan per band per row.
  *
  * NULL semantics: null vec/table or a null element inside `vec` or a
  * candidate `qvec` → null result (fixtures carry none; the serve
  * treats an unscorable row as "no candidate evidence").
  */
case class DeconScore(left: Expression, right: Expression,
                      nBands: Int, rowsPerBand: Int)
    extends BinaryExpression {

  private val nBits = nBands * rowsPerBand
  require(nBands >= 1 && rowsPerBand >= 1 && rowsPerBand <= 24,
    s"need 1 <= rowsPerBand <= 24 (slot arithmetic is Int: " +
      s"nBands << rowsPerBand must not overflow), got " +
      s"($nBands bands, $rowsPerBand rows)")
  private val slotMask = (1 << rowsPerBand) - 1
  require(nBits <= 63, s"signature does not fit one long: $nBits bits")

  private lazy val signs = new DeconSigns(nBits)

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _),
            ArrayType(ArrayType(StructType(fs), _), _))
          if fs.length == 2 && fs(0).dataType == LongType &&
             fs(1).dataType.isInstanceOf[ArrayType] =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<float>, array<array<struct<bench_id," +
          s" qvec>>>), got ($l, $r)")
    }

  override def dataType: DataType = StructType(Seq(
    StructField("mc", DoubleType, nullable = true),
    StructField("n_cand", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "decon_score"

  override def nullSafeEval(vecAny: Any, tableAny: Any): Any =
    score(vecAny.asInstanceOf[ArrayData], tableAny.asInstanceOf[ArrayData])

  /** The whole scorer as ONE precompiled method, shared verbatim by the
    * interpreted path ([[nullSafeEval]]) and the generated path
    * ([[doGenCode]] emits a thin call to it). r15 measurement
    * (graft.DeconProf): the r13/r14 form inlined ~80 generated lines
    * into every WholeStageCodegen source containing this expression, so
    * EVERY fresh plan paid a ~1.1 s janino compile — with all 32 tasks
    * of the serve stage blocking on the codegen-cache load lock, booked
    * as ~35 executor-seconds on a 0.15 s row workload (the dominant
    * cost of the whole fixture-scale decon family; JobProf r14/r15).
    * Inlining bought nothing: the loop shares no subexpressions with
    * neighboring operators, and C2 compiles this method exactly as it
    * compiled the janino twin. Returns null for a null-element vector
    * (the generated caller maps it to isNull — same contract the
    * inlined form implemented). */
  def score(vecData: ArrayData, tableAny: ArrayData): InternalRow = {
    val dim = vecData.numElements()
    val vec = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      if (vecData.isNullAt(i)) return null
      vec(i) = vecData.getFloat(i).toDouble
      i += 1
    }
    // ‖vec‖² depends only on the row — hoisted out of the candidate
    // loop (r14; ~⅓ of the hot loop's multiplies). Accumulation order
    // over j is unchanged, so the value is bit-identical to the r13
    // in-loop form (pinned against the HOF scorer in DataQualitySpec).
    var na = 0.0
    i = 0
    while (i < dim) { na += vec(i) * vec(i); i += 1 }
    val sqNa = math.sqrt(na)
    // sign-LSH signature, bit-identical to VectorOps.simhashBucket
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
    val table = tableAny.asInstanceOf[ArrayData]
    val seen = new java.util.HashSet[java.lang.Long]()
    var best = 0.0
    var hasBest = false
    b = 0
    while (b < nBands) {
      val slot = (b << rowsPerBand) +
        ((sig >>> (b * rowsPerBand)) & slotMask).toInt
      if (slot < table.numElements() && !table.isNullAt(slot)) {
        val bucket = table.getArray(slot)
        var e = 0
        val m = bucket.numElements()
        while (e < m) {
          if (!bucket.isNullAt(e)) {
            val entry = bucket.getStruct(e, 2)
            seen.add(entry.getLong(0))
            val q = entry.getArray(1)
            if (q != null && q.numElements() == dim) {
              var dot = 0.0; var nb = 0.0
              var j = 0
              var nullElem = false
              while (j < dim && !nullElem) {
                if (q.isNullAt(j)) nullElem = true
                else {
                  val qv = q.getFloat(j).toDouble
                  dot += vec(j) * qv; nb += qv * qv
                  j += 1
                }
              }
              if (!nullElem) {
                val c = dot / (sqNa * math.sqrt(nb))
                if (!hasBest || java.lang.Double.compare(c, best) > 0) {
                  best = c; hasBest = true
                }
              }
            }
          }
          e += 1
        }
      }
      b += 1
    }
    new GenericInternalRow(Array[Any](
      if (hasBest) java.lang.Double.valueOf(best) else null,
      java.lang.Long.valueOf(seen.size.toLong)))
  }

  /** Generated form: a THIN CALL to the precompiled [[score]] method —
    * the generated and interpreted paths are literally the same code.
    * The r13/r14 form generated the scoring loop inline; see [[score]]
    * for the measured janino-compile cost that retired it. The
    * expression still participates in whole-stage codegen (no
    * CodegenFallback row boxing — the one-virtual-call overhead is
    * noise against ~150 cosines per row). */
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val scorerRef = ctx.addReferenceObj("deconScorer", this,
                                        classOf[DeconScore].getName)
    nullSafeCodeGen(ctx, ev, (vecTerm, tableTerm) => {
      val r = ctx.freshName("deconRow")
      s"""
        |final org.apache.spark.sql.catalyst.InternalRow $r =
        |  $scorerRef.score($vecTerm, $tableTerm);
        |if ($r == null) { ${ev.isNull} = true; }
        |else { ${ev.value} = $r; }
      """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
