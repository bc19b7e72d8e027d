package graft.functions

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions.call_function

/** The one catalog of the engine's native Catalyst functions: every
  * native is declared once below as (SQL name, expression class,
  * builder), the shape of Catalyst's own `FunctionRegistry.expressions`.
  * The same list reaches a session by either route:
  *
  *  - `spark.sql.extensions=graft.GraftExtensions` injects it into every
  *    session the config builds ([[inject]]);
  *  - [[register]] installs it on a session that already exists, and
  *    [[call]] registers before it calls, so library code never depends
  *    on a registration made elsewhere.
  *
  * Arguments documented as int literals must be foldable ints: they
  * parameterize the expression (signature width, shingle size, bands),
  * not the rows.
  */
object Natives {

  final class Native private[Natives] (
      val name: String,
      val cls: Class[_],
      val build: Seq[Expression] => Expression) {
    private[Natives] val id = FunctionIdentifier(name)
    private[Natives] val info = new ExpressionInfo(cls.getCanonicalName, name)
  }

  private def native[E <: Expression](name: String)(
      build: PartialFunction[Seq[Expression], E])(
      implicit ct: ClassTag[E]): Native =
    new Native(name, ct.runtimeClass, args => build.applyOrElse(args,
      (a: Seq[Expression]) => throw new IllegalArgumentException(
        s"$name does not take ${a.length} argument(s)")))

  private def intLit(e: Expression): Int =
    (if (e.foldable) e.eval() else null) match {
      case i: Int => i
      case _ => throw new IllegalArgumentException(
        s"expected an int literal, got ${e.sql}")
    }

  val all: Seq[Native] = Seq(
    // vector kernels over array<float>/array<double> embeddings
    native("cosine_sim") { case Seq(a, b) => CosineSim(a, b) },
    native("dot_f") { case Seq(a, b) => DotF(a, b) },
    native("dot_l") { case Seq(a, b) => DotL(a, b) },
    native("sq_dist") { case Seq(a, b) => SqDist(a, b) },
    native("nearest_centroid") { case Seq(v, cs) => NearestCentroid(v, cs) },
    native("nearest2_centroid") { case Seq(v, cs) => Nearest2Centroid(v, cs) },
    native("pq_adc") { case Seq(q, c, cb) => PqAdc(q, c, cb) },
    // `simhash_sig_n(vec, nBits)`, `decon_score(vec, table, nBands, rowsPerBand)`
    native("simhash_sig_n") { case Seq(v, n) => SimhashSig(v, intLit(n)) },
    native("decon_score") {
      case Seq(v, t, b, r) => DeconScore(v, t, intLit(b), intLit(r))
    },
    // text kernels: shingles, signatures, runs, spans, sketches
    native("shingle_hashes") { case Seq(t, n) => ShingleHashes(t, intLit(n)) },
    native("minhash_sig") { case Seq(sh) => MinHashSig(sh) },
    native("simhash64") { case Seq(sh) => SimHash64(sh) },
    native("top_run") { case Seq(a) => TopRun(a) },
    native("span_strip") { case Seq(w, s, l) => SpanStrip(w, s, l) },
    // `misra_gries(item[, weight], k)`: rows with a null or non-positive
    // bigint weight are ignored
    native("misra_gries") {
      case Seq(item, k) => MisraGriesAgg(item, None, intLit(k))
      case Seq(item, w, k) => MisraGriesAgg(item, Some(w), intLit(k))
    },
    // the learned BPE merge chain, `(text, mergeL, mergeR)` with
    // foldable merge arrays
    native("bpe_word_tokens") { case Seq(w, l, r) => BpeWordTokens(w, l, r) },
    native("bpe_token_count") { case Seq(t, l, r) => BpeTokenCount(t, l, r) },
    native("bpe_word_segment") { case Seq(w, l, r) => BpeWordSegment(w, l, r) },
    // Spark's own runtime-filter bloom pair, which Catalyst ships for its
    // InjectRuntimeFilter rewrite but leaves out of the public registry:
    // `bloom_agg(xxhash64(item), estItems, numBits) → binary` builds one
    // filter in-plan (executors build partial filters, the merge is a
    // bit-OR) and `bloom_might_contain(filterBytes, xxhash64(item))`
    // probes a foldable filter with no false negatives. The same
    // `xxhash64` of the item must be inserted and probed.
    native("bloom_agg") { case Seq(h, n, b) => new BloomFilterAggregate(h, n, b) },
    native("bloom_might_contain") {
      case Seq(f, h) => BloomFilterMightContain(f, h)
    },
    // probes of filters persisted as files, loaded once per executor
    native("bloom_probe_file") { case Seq(p, h) => BloomProbeFile(p, h) },
    native("bloom_probe_sharded") {
      case Seq(p, k, h) => BloomProbeSharded(p, k, h)
    }
  )

  private val names: Set[String] = all.map(_.name).toSet

  /** Injects every native into the sessions `ext` configures. */
  def inject(ext: SparkSessionExtensions): Unit =
    all.foreach(n => ext.injectFunction((n.id, n.info, n.build)))

  /** Installs every native on `spark`. Idempotent and cheap enough to
    * run per micro-batch: re-registering the same (info, builder) pair
    * is one map put per native. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach(n => registry.registerFunction(n.id, n.info, n.build))
  }

  /** `name(args…)` as a column, with the catalog registered on `spark`. */
  def call(spark: SparkSession, name: String, args: Column*): Column = {
    require(names(name), s"$name is not in the native catalog")
    register(spark)
    call_function(name, args: _*)
  }
}
