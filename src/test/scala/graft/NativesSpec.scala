package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}

import graft.functions.Natives

/** The native-function catalog: both routes to a session (the
  * SQL extension and `Natives.register`) carry the whole list, and
  * every native resolves from plain SQL. */
class NativesSpec extends SparkSpec {

  private val f = "array(CAST(1 AS FLOAT), CAST(0 AS FLOAT))"
  private val d = "array(1D, 0D)"

  /** Every native by SQL name, with one call of it that type-checks. */
  private val calls = Seq(
    "cosine_sim" -> s"cosine_sim($f, $f)",
    "dot_f" -> s"dot_f($f, $f)",
    "dot_l" -> "dot_l(array(1L, 2L), array(3L, 4L))",
    "sq_dist" -> s"sq_dist($f, $d)",
    "nearest_centroid" -> s"nearest_centroid($f, array($d))",
    "nearest2_centroid" -> s"nearest2_centroid($f, array($d, $d))",
    "pq_adc" -> "pq_adc(array(0.5D), array(0), array(array(array(0.5D))))",
    "simhash_sig_n" -> s"simhash_sig_n($f, 8)",
    "decon_score" ->
      s"decon_score($f, array(array(named_struct('bench_id', 1L, 'qvec', $f))), 2, 2)",
    "shingle_hashes" -> "shingle_hashes('a b c', 2)",
    "minhash_sig" -> "minhash_sig(array(1L, 2L))",
    "simhash64" -> "simhash64(array(1L, 2L))",
    "top_run" -> "top_run(array('a', 'a', 'b'))",
    "span_strip" -> "span_strip(array('a', 'b', 'c'), array(0), 1)",
    "misra_gries" -> "misra_gries(s, 2) FROM VALUES ('a'), ('b') AS t(s)",
    "bpe_word_tokens" -> "bpe_word_tokens('abab', array('a'), array('b'))",
    "bpe_token_count" -> "bpe_token_count('ab ab', array('a'), array('b'))",
    "bpe_word_segment" -> "bpe_word_segment('abab', array('a'), array('b'))",
    "bloom_agg" -> "bloom_agg(xxhash64('a'), 16L, 256L)",
    "bloom_might_contain" ->
      "bloom_might_contain(CAST(NULL AS BINARY), xxhash64('a'))",
    "bloom_probe_file" -> "bloom_probe_file('/no/such/filter', xxhash64('a'))",
    "bloom_probe_sharded" ->
      "bloom_probe_sharded('/no/such/filter', 2, xxhash64('a'))")

  test("session-extensions route injects every catalog native") {
    val injected = ArrayBuffer[String]()
    val ext = new SparkSessionExtensions {
      override def injectFunction(fn: FunctionDescription): Unit = {
        injected += fn._1.funcName
        super.injectFunction(fn)
      }
    }
    new GraftExtensions().apply(ext)
    assert(injected.sorted == calls.map(_._1).sorted)
  }

  test("after register, every native resolves from plain SQL in a new session") {
    assert(Natives.all.map(_.name).sorted == calls.map(_._1).sorted)
    val s2 = spark.newSession()
    calls.foreach { case (_, sql) =>
      intercept[AnalysisException](s2.sql(s"SELECT $sql"))
    }
    Natives.register(s2)
    Natives.register(s2) // idempotent
    calls.foreach { case (name, sql) =>
      val cls = Natives.all.find(_.name == name).get.cls
      val built = s2.sql(s"SELECT $sql").queryExecution.analyzed.expressions
        .flatMap(_.collectFirst { case e if cls.isInstance(e) => e })
      assert(built.size == 1, s"$name did not build a ${cls.getSimpleName}")
      // the catalog name is the one the expression prints in plans
      if (cls.getPackageName == "graft.functions")
        assert(built.head.prettyName == name)
    }
  }
}
