package graft.functions

import java.util.LinkedHashSet

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native word n-gram shingle hashes: text → distinct 64-bit hashes of
  * its lowercase whitespace-token n-grams, in one pass per row.
  *
  * Replaces the HOF formulation (`transform(sequence, i ->
  * xxhash64(array_join(slice(tokens, i+1, n), ' ')))`), which built a
  * string per shingle per row in interpreted lambdas — together ~19 s
  * of the sf0.1 bench across the MinHash and n-gram-Jaccard dedups.
  * Here each token is hashed once and shingles are a rolling
  * multiply-xor mix of n consecutive token hashes.
  *
  * The hash VALUES differ from the HOF version by design — every
  * consumer treats shingle hashes as an opaque set (MinHash signatures,
  * Jaccard |∩|/|∪|), so any strong 64-bit hash yields identical
  * downstream results modulo ~2^-64 collisions. Docs with fewer than n
  * tokens yield one whole-text shingle (reference `colors[:5]`-style
  * guard semantics: short docs still dedup exactly).
  */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  require(n >= 1, "shingle size must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  private final val Mix = 0x9E3779B97F4A7C15L // golden-ratio odd constant

  private def tokenHash(s: String): Long = {
    // FNV-1a-then-mix over UTF-8 bytes: stable, allocation-free
    val bytes = UTF8String.fromString(s).getBytes
    var h = 0xCBF29CE484222325L
    var i = 0
    while (i < bytes.length) {
      h = (h ^ (bytes(i) & 0xFFL)) * 0x100000001B3L
      i += 1
    }
    h
  }

  override def nullSafeEval(v: Any): Any = {
    val text = v.asInstanceOf[UTF8String].toString.toLowerCase
    val tokens = text.split("\\s+").filter(_.nonEmpty)
    val out = new LinkedHashSet[java.lang.Long]()
    def mixRange(from: Int, until: Int): Long = {
      var acc = 0x27D4EB2F165667C5L
      var i = from
      while (i < until) {
        acc = (acc ^ tokenHash(tokens(i))) * Mix
        i += 1
      }
      // final avalanche
      acc ^= (acc >>> 33); acc *= 0xFF51AFD7ED558CCDL; acc ^= (acc >>> 33)
      acc
    }
    if (tokens.length == 0) {
      new GenericArrayData(Array(mixRange(0, 0)))
    } else if (tokens.length < n) {
      new GenericArrayData(Array(mixRange(0, tokens.length)))
    } else {
      var i = 0
      while (i + n <= tokens.length) {
        out.add(mixRange(i, i + n))
        i += 1
      }
      val arr = new Array[Long](out.size)
      val it = out.iterator()
      var j = 0
      while (it.hasNext) { arr(j) = it.next(); j += 1 }
      new GenericArrayData(arr)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
