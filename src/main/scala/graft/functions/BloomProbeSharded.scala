package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `bloom_probe_sharded(basePath, k, xxhash64(item)) → boolean` —
  * membership probe against a HASH-PREFIX-SHARDED bloom filter family:
  * shard `i` (file `basePath-s{i}`) holds exactly the items with
  * `pmod(hash, k) = i`, so membership is the disjoint union of the
  * shards and one probe of the routed shard answers it.
  *
  * Why sharding: a single corpus-gram filter holds to ~10⁹ grams
  * (~1.2 GB at 1% fpp, loaded once per executor through
  * [[BloomFilterCache]]); past that one buffer outgrows executor
  * comfort and build-side driver merge. K shards cap every buffer at
  * 1/K of that — same total bits, same fpp (each shard is sized for its
  * own item count), no semantics change. The probe routing MUST equal
  * the build routing ([[graft.analytics.BloomGramIndex.ensureSharded]]
  * uses the same `pmod(xxhash64, k)`), which the id03x anchor pins
  * end-to-end (leaked = 0 requires no false negatives, and a mis-routed
  * probe would produce them immediately).
  *
  * Codegen keeps the K filter references in one lazily-initialized
  * instance array — the hot loop is one modulo + one bit-array probe
  * per row, no cache lookup (the [[BloomProbeFile]] discipline,
  * generalized to a family).
  */
case class BloomProbeSharded(first: Expression, second: Expression,
                             third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (StringType, IntegerType, LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case (b, k, h) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string basePath, int k, bigint hash), " +
          s"got ($b, $k, $h)")
    }
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "bloom_probe_sharded"

  override def nullSafeEval(base: Any, k: Any, hash: Any): Any = {
    val kk = k.asInstanceOf[Int]
    val h = hash.asInstanceOf[Long]
    val idx = (((h % kk) + kk) % kk).toInt
    BloomFilterCache
      .get(s"${base.asInstanceOf[UTF8String].toString}-s$idx")
      .mightContainLong(h)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (base, k, hash) => {
      val filters = ctx.addMutableState(
        "org.apache.spark.util.sketch.BloomFilter[]", "bloomShardFilters")
      val idx = ctx.freshName("idx")
      s"""
         |if ($filters == null) {
         |  $filters = new org.apache.spark.util.sketch.BloomFilter[$k];
         |  for (int i = 0; i < $k; i++) {
         |    $filters[i] = graft.functions.BloomFilterCache.get(
         |      $base.toString() + "-s" + i);
         |  }
         |}
         |final int $idx = (int) ((($hash % $k) + $k) % $k);
         |${ev.value} = $filters[$idx].mightContainLong($hash);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}
