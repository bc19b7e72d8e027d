package graft

import org.apache.spark.sql.functions._

import graft.analytics.{BpeTokenizer, TextAnalysis}
import graft.queries.QueryDef

/** Pins for the learned-merge tokenizer (graft.analytics.BpeTokenizer):
  * determinism, structural bounds the DuckDB oracle can't see, and the
  * monotone-shrink property of the replace-chain application. */
class BpeTokenizerSpec extends SparkSpec {

  test("bpe: learning is deterministic, merges distinct, full length") {
    val m1 = BpeTokenizer.learnMerges(spark, sf0001)
    val m2 = BpeTokenizer.learnMerges(spark, sf0001)
    assert(m1 == m2, "two learns over the same corpus diverged")
    assert(m1.map(m => (m.l, m.r)).distinct.size == m1.size,
           s"duplicate merge learned: $m1")
    assert(m1.size == BpeTokenizer.Merges)
    assert(m1.forall(m => m.cnt > 0 && !m.l.contains(' ') && !m.r.contains(' ')))
  }

  test("bpe: per-doc counts bounded by words below and chars above; more merges never grow") {
    val merges = BpeTokenizer.loadOrLearn(spark, sf0001)
    val docs = QueryDef.table(spark, sf0001, "documents")
      .filter(col("doc_id") < 50)
    val rows = docs.select(
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_words"),
        BpeTokenizer.bpeTokenCount(col("text"), merges).as("n_bpe"),
        length(regexp_replace(col("text"), "\\s+", "")).cast("long")
          .as("n_chars"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= r.getLong(0),
             s"fewer tokens than words: $r") // every word >= 1 token
      assert(r.getLong(1) <= r.getLong(2),
             s"more tokens than characters: $r") // merges only shrink
    }
    // a PREFIX of the merge list can only leave MORE tokens: each
    // replace pass strictly never increases the symbol count
    val both = docs.select(
        BpeTokenizer.bpeTokenCount(col("text"), merges.take(4)).as("few"),
        BpeTokenizer.bpeTokenCount(col("text"), merges).as("all"))
      .collect()
    both.foreach(r => assert(r.getLong(0) >= r.getLong(1)))
    // and the fixture must actually exercise merging (some doc shrinks)
    assert(both.exists(r => r.getLong(0) > r.getLong(1)) ||
           rows.exists(r => r.getLong(1) < r.getLong(2)))
  }

  test("bpe: native operator is bit-equal to the replace chain, word- and doc-level") {
    // the native single-operator application (BpeApply) must reproduce
    // the replace chain's exact semantics — including the delimiter-
    // space-sharing rule where consecutive ' l r ' matches in a run
    // merge only alternately — because the DuckDB oracle replays the
    // string form. Checked over EVERY distinct word and every document
    // of the fixture corpus.
    val merges = BpeTokenizer.loadOrLearn(spark, sf0001)
    val words = QueryDef.table(spark, sf0001, "documents")
      .select(explode(expr(
        "filter(split(text, '\\\\s+'), w -> length(w) > 0)")).as("w"))
      .distinct()
    val wordDiff = words.select(col("w"),
        BpeTokenizer.bpeWordTokensChain(col("w"), merges).as("chain"),
        BpeTokenizer.bpeWordTokens(col("w"), merges).as("native"))
      .filter(col("chain") =!= col("native"))
    assert(wordDiff.isEmpty,
           s"word-level divergence: ${wordDiff.head(5).mkString(", ")}")
    val docDiff = QueryDef.table(spark, sf0001, "documents")
      .select(col("doc_id"),
        BpeTokenizer.bpeTokenCountChain(col("text"), merges).as("chain"),
        BpeTokenizer.bpeTokenCount(col("text"), merges).as("native"))
      .filter(col("chain") =!= col("native"))
    assert(docDiff.isEmpty,
           s"doc-level divergence: ${docDiff.head(5).mkString(", ")}")
    // adversarial run shapes the fixture may not cover: alternate-merge
    // runs, odd/even runs of one symbol, and a later merge recreating
    // an earlier pair — the exact cases where naive pairwise scanning
    // diverges from the string replace
    import spark.implicits._
    val tricky = Seq("abababab", "aaaa", "aaaaa", "abab", "aba", "",
                     "xyxyxy", "aabbaabb").toDF("w")
    val trickyMerges = Seq(
      BpeTokenizer.Merge(0, "a", "b", 0L),
      BpeTokenizer.Merge(1, "a", "a", 0L),
      BpeTokenizer.Merge(2, "ab", "ab", 0L),
      BpeTokenizer.Merge(3, "x", "y", 0L),
      BpeTokenizer.Merge(4, "xy", "xy", 0L))
    val trickyDiff = tricky.filter(length(col("w")) > 0).select(col("w"),
        BpeTokenizer.bpeWordTokensChain(col("w"), trickyMerges).as("chain"),
        BpeTokenizer.bpeWordTokens(col("w"), trickyMerges).as("native"))
      .filter(col("chain") =!= col("native"))
    assert(trickyDiff.isEmpty,
           s"adversarial divergence: ${trickyDiff.head(8).mkString(", ")}")
  }

  test("bpe: learning and application scale to 1024 merges") {
    // the round-8 gap: per-merge driver round-trips in learning and a
    // per-merge nested replace node in application capped real merge
    // counts at toys. Learning is now one Spark aggregate + a local
    // loop; application is one operator. 1024 merges must learn in
    // bounded time and apply over the corpus without blowing codegen.
    // the fixture vocabulary is tiny (~90 merges exhaust it), so the
    // scale probe runs on a synthetic high-vocabulary corpus: 4096
    // distinct 32-hex-char words (exactly VocabCap) packed 50 to a
    // document — merge capacity ≈ 4096 × 31 symbol reductions
    val words = spark.range(4096).select(
      (col("id") / 50).cast("long").as("doc_id"),
      md5(col("id").cast("string").cast("binary")).as("w"))
    val docs = words.groupBy("doc_id")
      .agg(concat_ws(" ", collect_list("w")).as("text"))
    val dir = java.nio.file.Files.createTempDirectory("bpe-scale").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val t0 = System.nanoTime()
    val big = BpeTokenizer.learnMerges(spark, dir, 1024)
    val learnSec = (System.nanoTime() - t0) / 1e9
    assert(big.length == 1024,
           s"vocabulary exhausted at ${big.length} merges")
    assert(learnSec < 120.0, f"learning took $learnSec%.1f s")
    // prefix property: the long chain extends the short one — same
    // tokenizer, deeper, so persisted short tables stay valid prefixes
    val small = BpeTokenizer.learnMerges(spark, dir, BpeTokenizer.Merges)
    assert(big.take(small.length) == small,
           "1024-merge chain is not an extension of the learned prefix")
    // application: one native operator at 1024 merges (no codegen blow-
    // up), more merges never grow any document, corpus total shrinks
    val counts = spark.read.parquet(s"$dir/documents.parquet").select(
        BpeTokenizer.bpeTokenCount(col("text"), small).as("c12"),
        BpeTokenizer.bpeTokenCount(col("text"), big).as("c1024"))
      .agg(sum((col("c12") < col("c1024")).cast("int")),
           sum("c12"), sum("c1024")).head()
    assert(counts.getLong(0) == 0L, "a doc grew under the longer chain")
    assert(counts.getLong(2) < counts.getLong(1),
           s"1024 merges did not shrink the corpus: $counts")
  }

  test("bpe: segment operator — counts agree, tokens concatenate losslessly, multi-char tokens are merge outputs") {
    // tok03's segment operator must be the SAME chain the count
    // operators run: (a) its length equals the pinned native count for
    // every distinct fixture word, (b) tokens concatenate back to the
    // word (lossless segmentation), (c) every multi-character token is
    // a merge's surface form (single chars are the base alphabet).
    val merges = BpeTokenizer.loadOrLearn(spark, sf0001)
    val mL = typedLit(merges.map(_.l))
    val mR = typedLit(merges.map(_.r))
    val words = QueryDef.table(spark, sf0001, "documents")
      .select(explode(expr(
        "filter(split(text, '\\\\s+'), w -> length(w) > 0)")).as("w"))
      .distinct()
      .withColumn("seg", graft.functions.Natives.call(spark,
        "bpe_word_segment", col("w"), mL, mR))
    val bad = words.filter(
      size(col("seg")) =!= BpeTokenizer.bpeWordTokens(col("w"), merges) ||
      concat_ws("", col("seg")) =!= col("w"))
    assert(bad.isEmpty, s"segment diverges: ${bad.head(5).mkString(", ")}")
    val mergedForms = merges.map(m => m.l + m.r).toSet
    val multi = words
      .select(explode(col("seg")).as("t")).filter(length(col("t")) > 1)
      .distinct().collect().map(_.getString(0)).toSet
    assert(multi.subsetOf(mergedForms),
           s"non-merge multi-char tokens: ${multi -- mergedForms}")
  }
}
