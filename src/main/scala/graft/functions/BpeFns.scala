package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native BPE merge-chain application — the scale path for the learned
  * tokenizer ([[graft.analytics.BpeTokenizer]]).
  *
  * The reference application builds ONE nested
  * `replace(seg, ' l r ', ' lr ')` Catalyst expression PER MERGE: at 12
  * merges that is a fine codegen'd chain, at 1024+ it blows the
  * expression-tree and generated-method size limits, and every rank
  * rescans the whole padded string. These expressions run the identical
  * chain as ONE codegen'd operator over a merge TABLE held in the
  * expression (passed as two foldable array<string> literals —
  * driver-bounded, ≤ a few MB even at 50k merges, the standard
  * tokenizer-asset shape), with a per-rank symbol-presence skip so a
  * rank whose symbols are absent from the word costs two hash probes
  * instead of a string scan.
  *
  * BIT-EQUALITY with the replace chain is the contract (the DuckDB
  * oracle replays the string form), and the string form has one subtle
  * semantics the obvious pairwise scan misses: consecutive matches of
  * `' l r '` SHARE the delimiter space, so in a run like `a b a b` the
  * second pair's leading space is consumed by the first match and the
  * `replace` pass merges only the first pair. [[BpeApply.mergePass]]
  * reproduces this exactly: after merging symbols (i, i+1) the
  * immediately following symbol cannot begin a match. Pinned against
  * the replace chain in BpeTokenizerSpec and via the still-green
  * tok02/dm02b/dm06b oracle rows.
  */
object BpeApply {

  /** Java-regex `\s` (no UNICODE flag) — must match Spark's
    * `split(text, '\\s+')` exactly. */
  @inline private def isSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' ||
      c == '\f' || c == '\r'

  /** Word → initial symbol array (one code point per symbol — Spark's
    * `substring(w, i, 1)` is code-point indexed). */
  def toSymbols(word: String): Array[String] = {
    val n = word.codePointCount(0, word.length)
    val out = new Array[String](n)
    var i = 0
    var off = 0
    while (i < n) {
      val cp = word.codePointAt(off)
      val len = Character.charCount(cp)
      out(i) = word.substring(off, off + len)
      off += len
      i += 1
    }
    out
  }

  /** One left-to-right `' l r ' → ' lr '` replace pass over
    * `syms[0,n)`, writing the result into `buf` and returning the new
    * length. After a merge at (i, i+1) the next symbol is copied
    * verbatim — its leading delimiter space was consumed by the match,
    * so it cannot begin one (the string-replace space-sharing rule). */
  def mergePass(syms: Array[String], n: Int, l: String, r: String,
                buf: Array[String]): Int = {
    var in = 0
    var out = 0
    while (in < n) {
      if (in + 1 < n && syms(in) == l && syms(in + 1) == r) {
        buf(out) = l + r
        out += 1
        in += 2
        if (in < n) { buf(out) = syms(in); out += 1; in += 1 }
      } else {
        buf(out) = syms(in)
        out += 1
        in += 1
      }
    }
    out
  }

  /** Rank-skip index for one merge table: for every symbol that appears
    * as a merge side, the bitset of ranks using it on that side. Per
    * word the candidate rank set is (∪ left-bits of present symbols) ∩
    * (∪ right-bits) — an OVER-approximation of the applicable ranks
    * (presence is necessary, not sufficient; the per-rank count check
    * and the pass itself are unchanged), so iterating only its set bits
    * in ascending rank order is bit-identical to scanning every rank
    * while costing O(symbols · R/64 + candidates · len) per word
    * instead of O(R) hash probes — the difference between 12 and 50k
    * ranks riding the same scan. Built once per expression instance
    * (the merge table is a foldable literal). */
  final class RankIndex(mL: Array[String], mR: Array[String]) {
    val nRanks: Int = mL.length
    val nWords: Int = (nRanks + 63) >>> 6
    private val ids = new java.util.HashMap[String, Integer]()
    private var left = new Array[Array[Long]](16)
    private var right = new Array[Array[Long]](16)
    private def slot(s: String): Int = {
      val got = ids.get(s)
      if (got != null) got.intValue()
      else {
        val i = ids.size()
        ids.put(s, Integer.valueOf(i))
        if (i >= left.length) {
          left = java.util.Arrays.copyOf(left, left.length * 2)
          right = java.util.Arrays.copyOf(right, right.length * 2)
        }
        left(i) = new Array[Long](nWords)
        right(i) = new Array[Long](nWords)
        i
      }
    }
    locally {
      var k = 0
      while (k < nRanks) {
        // resolve the slot BEFORE indexing: slot() may grow (reassign)
        // the arrays, and `left(...)` evaluates its receiver first
        val li = slot(mL(k))
        left(li)(k >>> 6) |= 1L << k
        val ri = slot(mR(k))
        right(ri)(k >>> 6) |= 1L << k
        k += 1
      }
    }
    /** OR `s`'s rank bits into the aggregates (no-op for symbols no
      * merge uses). */
    def or(s: String, lAgg: Array[Long], rAgg: Array[Long]): Unit = {
      val i = ids.get(s)
      if (i != null) {
        val lb = left(i.intValue()); val rb = right(i.intValue())
        var w = 0
        while (w < nWords) { lAgg(w) |= lb(w); rAgg(w) |= rb(w); w += 1 }
      }
    }
  }

  /** Surviving-symbol count of one word under the full merge chain in
    * rank order (convenience form building a throwaway [[RankIndex]] —
    * the expressions cache theirs per instance). */
  def wordTokens(word: String, mL: Array[String], mR: Array[String]): Int =
    wordTokens(word, mL, mR, new RankIndex(mL, mR))

  def wordTokens(word: String, mL: Array[String], mR: Array[String],
                 idx: RankIndex): Int =
    runChain(toSymbols(word), mL, mR, idx)

  /** Final surviving symbols of one word — the token STRINGS in order
    * (tok03's id-encoding needs them; same chain as [[wordTokens]]). */
  def wordSymbols(word: String, mL: Array[String],
                  mR: Array[String]): Array[String] =
    wordSymbols(word, mL, mR, new RankIndex(mL, mR))

  def wordSymbols(word: String, mL: Array[String], mR: Array[String],
                  idx: RankIndex): Array[String] = {
    val syms = toSymbols(word)
    val n = runChain(syms, mL, mR, idx)
    java.util.Arrays.copyOf(syms, n)
  }

  /** Run the merge chain over `syms` in place; returns the surviving
    * count (prefix of `syms`). Candidate ranks come from [[RankIndex]];
    * the count check and the left-to-right pass are the chain's exact
    * semantics. */
  private def runChain(syms: Array[String], mL: Array[String],
                       mR: Array[String], idx: RankIndex): Int = {
    var n = syms.length
    if (n <= 1 || mL.length == 0) return n
    val nWords = idx.nWords
    val lAgg = new Array[Long](nWords)
    val rAgg = new Array[Long](nWords)
    val counts = new java.util.HashMap[String, Integer](n * 2)
    var i = 0
    while (i < n) {
      idx.or(syms(i), lAgg, rAgg)
      counts.merge(syms(i), Integer.valueOf(1), (a, b) => a + b)
      i += 1
    }
    val buf = new Array[String](n)
    var w = 0
    while (w < nWords && n > 1) {
      var bits = lAgg(w) & rAgg(w)
      while (bits != 0L && n > 1) {
        val bitPos = java.lang.Long.numberOfTrailingZeros(bits)
        bits &= bits - 1
        val rank = (w << 6) + bitPos
        val l = mL(rank)
        val r = mR(rank)
        val cl = counts.getOrDefault(l, 0).intValue()
        val possible =
          if (l == r) cl >= 2
          else cl > 0 && counts.getOrDefault(r, 0).intValue() > 0
        if (possible) {
          var merged = false
          var in = 0
          var out = 0
          while (in < n) {
            if (in + 1 < n && syms(in) == l && syms(in + 1) == r) {
              val m = l + r
              buf(out) = m; out += 1; in += 2
              merged = true
              counts.merge(l, Integer.valueOf(-1), (a, b) => a + b)
              counts.merge(r, Integer.valueOf(-1), (a, b) => a + b)
              counts.merge(m, Integer.valueOf(1), (a, b) => a + b)
              if (in < n) { buf(out) = syms(in); out += 1; in += 1 }
            } else {
              buf(out) = syms(in); out += 1; in += 1
            }
          }
          if (merged) {
            System.arraycopy(buf, 0, syms, 0, out)
            n = out
            // the new symbol may be a side of LATER ranks: refresh the
            // aggregates and re-arm this 64-rank word's bits above the
            // current rank (later words recompute at their loop entry)
            idx.or(l + r, lAgg, rAgg)
            if (bitPos < 63)
              bits |= lAgg(w) & rAgg(w) & (-1L << (bitPos + 1))
          }
        }
      }
      w += 1
    }
    n
  }

  /** Per-document token count: Σ over `\s+`-separated words of
    * [[wordTokens]] (0 for a wordless document, matching the HOF
    * aggregate's COALESCE anchor). */
  def docTokens(text: String, mL: Array[String], mR: Array[String]): Long =
    docTokens(text, mL, mR, new RankIndex(mL, mR))

  def docTokens(text: String, mL: Array[String], mR: Array[String],
                idx: RankIndex): Long = {
    var total = 0L
    var i = 0
    val n = text.length
    while (i < n) {
      while (i < n && isSpace(text.charAt(i))) i += 1
      val start = i
      while (i < n && !isSpace(text.charAt(i))) i += 1
      if (i > start)
        total += wordTokens(text.substring(start, i), mL, mR, idx)
    }
    total
  }

  private[functions] def extractStrings(e: Expression): Array[String] = {
    val ad = e.eval(null).asInstanceOf[ArrayData]
    val out = new Array[String](ad.numElements())
    var i = 0
    while (i < out.length) { out(i) = ad.getUTF8String(i).toString; i += 1 }
    out
  }

  private[functions] def checkArgs(name: String, word: Expression,
                                   l: Expression, r: Expression)
      : TypeCheckResult =
    (word.dataType, l.dataType, r.dataType) match {
      case (StringType, ArrayType(StringType, _), ArrayType(StringType, _)) =>
        if (l.foldable && r.foldable) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          s"$name requires foldable merge arrays (the learned table is " +
            "a driver-side asset, not a per-row column)")
      case (w, a, b) => TypeCheckResult.TypeCheckFailure(
        s"$name requires (string, array<string>, array<string>), " +
          s"got ($w, $a, $b)")
    }
}

/** `bpe_word_tokens(word, mergeL, mergeR)` — surviving-symbol count of
  * one word under the learned merge chain (see [[BpeApply]]). */
case class BpeWordTokens(first: Expression, second: Expression,
                         third: Expression) extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    BpeApply.checkArgs(prettyName, first, second, third)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "bpe_word_tokens"

  @transient private lazy val mL = BpeApply.extractStrings(second)
  @transient private lazy val mR = BpeApply.extractStrings(third)
  @transient private lazy val idx = new BpeApply.RankIndex(mL, mR)

  def tokens(w: UTF8String): Int =
    BpeApply.wordTokens(w.toString, mL, mR, idx)

  override def nullSafeEval(w: Any, l: Any, r: Any): Any =
    tokens(w.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeWordTokens", this,
      classOf[BpeWordTokens].getName)
    nullSafeCodeGen(ctx, ev, (w, _, _) => s"${ev.value} = $ref.tokens($w);")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** `bpe_word_segment(word, mergeL, mergeR)` — the surviving token
  * STRINGS of one word in order (the array [[BpeWordTokens]] counts);
  * tok03's id encoding explodes this. */
case class BpeWordSegment(first: Expression, second: Expression,
                          third: Expression) extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    BpeApply.checkArgs(prettyName, first, second, third)
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_word_segment"

  @transient private lazy val mL = BpeApply.extractStrings(second)
  @transient private lazy val mR = BpeApply.extractStrings(third)
  @transient private lazy val idx = new BpeApply.RankIndex(mL, mR)

  def segment(w: UTF8String): GenericArrayData = {
    val syms = BpeApply.wordSymbols(w.toString, mL, mR, idx)
    val out = new Array[AnyRef](syms.length)
    var i = 0
    while (i < syms.length) {
      out(i) = UTF8String.fromString(syms(i)); i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(w: Any, l: Any, r: Any): Any =
    segment(w.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeWordSegment", this,
      classOf[BpeWordSegment].getName)
    nullSafeCodeGen(ctx, ev, (w, _, _) => s"${ev.value} = $ref.segment($w);")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** `bpe_token_count(text, mergeL, mergeR)` — per-document subword token
  * count: the word split and the per-word chains fused into one
  * codegen'd operator (see [[BpeApply]]). */
case class BpeTokenCount(first: Expression, second: Expression,
                         third: Expression) extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    BpeApply.checkArgs(prettyName, first, second, third)
  override def dataType: DataType = LongType
  override def prettyName: String = "bpe_token_count"

  @transient private lazy val mL = BpeApply.extractStrings(second)
  @transient private lazy val mR = BpeApply.extractStrings(third)
  @transient private lazy val idx = new BpeApply.RankIndex(mL, mR)

  def tokens(t: UTF8String): Long =
    BpeApply.docTokens(t.toString, mL, mR, idx)

  override def nullSafeEval(t: Any, l: Any, r: Any): Any =
    tokens(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeTokenCount", this,
      classOf[BpeTokenCount].getName)
    nullSafeCodeGen(ctx, ev, (t, _, _) => s"${ev.value} = $ref.tokens($t);")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}
