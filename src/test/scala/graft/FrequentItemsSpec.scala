package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.analytics.FrequentItems
import graft.functions.Natives

/** Misra–Gries heavy hitters: the no-false-negative guarantee in its
  * real regime (vocabulary ≫ summary size, skewed stream), merge-order
  * robustness, and the two-pass entries' exact determinism. */
class FrequentItemsSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** Zipf-ish stream: item i (1..V) appears ⌈C/i⌉ times — head items
    * are heavy, the tail is a long noise floor. */
  private def zipfStream(v: Int, c: Int): Seq[String] =
    (1 to v).flatMap(i => Seq.fill(math.max(c / i, 1))(s"item$i"))

  test("MG candidates cover every true heavy hitter when vocab >> k") {
    val k = 16
    val stream = zipfStream(v = 2000, c = 3000)
    val n = stream.size
    val truth = stream.groupBy(identity).view.mapValues(_.size)
      .filter { case (_, cnt) => cnt.toLong * (k + 1) > n }.keySet.toSet
    assert(truth.nonEmpty && truth.size < k,
      s"fixture must exercise the sketch: ${truth.size} HHs vs k=$k")
    // three adversarial presentations of the same multiset: sorted,
    // reverse-sorted (heavy items first), seeded shuffle — and three
    // partition counts, so partial/merge paths all differ
    val orders = Seq(
      stream.sorted,
      stream.sorted.reverse,
      new scala.util.Random(7).shuffle(stream))
    for (s0 <- orders; parts <- Seq(1, 3, 8)) {
      val cands = s0.toDF("item").repartition(parts)
        .agg(Natives.call(spark, "misra_gries", $"item", lit(k)).as("mg"))
        .select(explode($"mg.item").as("item"))
        .as[String].collect().toSet
      assert(cands.size <= k)
      assert(truth.subsetOf(cands),
        s"lost HHs ${truth -- cands} at parts=$parts")
    }
  }

  test("MG summary is exact when the vocabulary fits in k") {
    val stream = Seq("a", "a", "a", "b", "b", "c")
    val rows = stream.toDF("item").repartition(2)
      .agg(Natives.call(spark, "misra_gries", $"item", lit(10)).as("mg"))
      .select(explode($"mg").as("c"))
      .select($"c.item", $"c.est").as[(String, Long)].collect().toMap
    assert(rows == Map("a" -> 3L, "b" -> 2L, "c" -> 1L))
  }

  test("MG estimates undercount by at most N/(k+1)") {
    val k = 16
    val stream = zipfStream(v = 500, c = 2000)
    val n = stream.size
    val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ests = stream.toDF("item").repartition(5)
      .agg(Natives.call(spark, "misra_gries", $"item", lit(k)).as("mg"))
      .select(explode($"mg").as("c"))
      .select($"c.item", $"c.est").as[(String, Long)].collect()
    ests.foreach { case (item, est) =>
      val truth = exact(item)
      assert(est <= truth, s"$item overestimated: $est > $truth")
      assert(truth - est <= n.toLong / (k + 1),
        s"$item undercounted past the bound: $truth - $est > $n/(${k + 1})")
    }
  }

  test("null items are ignored, not counted") {
    val rows = Seq(Some("a"), None, Some("a"), None, Some("b"))
      .toDF("item")
      .agg(Natives.call(spark, "misra_gries", $"item", lit(4)).as("mg"))
      .select(explode($"mg").as("c"))
      .select($"c.item", $"c.est").as[(String, Long)].collect().toMap
    assert(rows == Map("a" -> 2L, "b" -> 1L))
  }

  test("fi01 equals the exact census heavy hitters on the fixture") {
    val fi = FrequentItems.all.find(_.name == "fi01_heavy_hitters").get
      .df(spark, sf0001)
      .select("ngram", "n_occ").as[(String, Long)].collect().toSet
    // exact reference: full census, same threshold
    val toks = filter(split(lower(trim($"text")), "\\s+"),
                      t => length(t) > 0)
    val census = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(toks.as("ts"))
      .select(explode(zip_with(
        slice($"ts", lit(1), greatest(size($"ts") - 1, lit(0))),
        slice($"ts", lit(2), greatest(size($"ts") - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b))).as("ngram"))
    val n = census.count()
    val truth = census.groupBy("ngram").count()
      .filter($"count" * 800 > n)
      .select($"ngram", $"count").as[(String, Long)].collect().toSet
    assert(fi == truth && fi.nonEmpty)
    // and the fixture genuinely sketches: bigram vocabulary exceeds k
    assert(census.select("ngram").distinct().count() > 800)
  }

  test("streaming incremental HH: sketch hand-off across batches on a planted stream") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("st24_").toString
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = graft.streaming.EventStreams.incrementalHeavyHitters(
      mem.toDF().toDF("doc_id", "text"),
      s"$tmp/state", s"$tmp/store", s"$tmp/out", s"$tmp/ckpt", k = 4)
    try {
      // batch 0: bigrams "a b"×3, "b a"×2 (N=5); both clear 1/4 of 5
      mem.addData((1L, "a b a b a b"))
      q.processAllAvailable()
      // batch 1: five NEW distinct bigrams (N=10 total) — vocabulary 7
      // now exceeds k=4, so the merged summary must truncate, yet the
      // guarantee keeps "a b" (3 > 10/(4+1)); only it clears 1/4 of 10
      mem.addData((2L, "c d e f g h"))
      q.processAllAvailable()
      def pub(b: Int) = spark.read.parquet(s"$tmp/out")
        .filter(col("batch_id") === b)
        .select("ngram", "n_occ", "n_stream")
        .as[(String, Long, Long)].collect().toSet
      assert(pub(0) == Set(("a b", 3L, 5L), ("b a", 2L, 5L)))
      assert(pub(1) == Set(("a b", 3L, 10L)))
      // cross-batch decision state is the bounded summary alone:
      // ≤ k entries + the single running-total row
      val st = spark.read.parquet(s"$tmp/state/state_1")
      assert(st.filter(col("item").isNotNull).count() <= 4)
      assert(st.filter(col("item").isNull).count() == 1)
      // stateless streaming plan (state lives in files, not a store)
      assert(q.lastProgress.stateOperators.isEmpty ||
             q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()
  }

  test("st24 batch form is row-equal to the streaming twin at sf0.001") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("st24t_").toString
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = graft.streaming.EventStreams.incrementalHeavyHitters(
      mem.toDF().toDF("doc_id", "text"),
      s"$tmp/state", s"$tmp/store", s"$tmp/out", s"$tmp/ckpt")
    try {
      mem.addData(docs.filter(_._1 % 2 == 0).toSeq)
      q.processAllAvailable()
      mem.addData(docs.filter(_._1 % 2 == 1).toSeq)
      q.processAllAvailable()
      val streamed = spark.read.parquet(s"$tmp/out")
        .select((col("batch_id") + 1).cast("int").as("epoch"),
                col("ngram"), col("n_occ"), col("n_stream"))
        .as[(Int, String, Long, Long)].collect().toSet
      val batch = graft.analytics.FrequentItems.all
        .find(_.name == "st24_incremental_heavy_hitters").get
        .df(spark, sf0001)
        .as[(Int, String, Long, Long)].collect().toSet
      assert(streamed == batch && batch.nonEmpty)
    } finally q.stop()
  }

  test("MG guarantee holds on random streams (sampled ScalaCheck, adversarial k)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // random multisets over a small alphabet with geometric-ish counts:
    // k chosen SMALLER than the alphabet so the summary must truncate
    val streamGen = for {
      nItems <- Gen.choose(20, 40)
      counts <- Gen.listOfN(nItems, Gen.choose(1, 60))
    } yield counts.zipWithIndex.flatMap { case (c, i) =>
      Seq.fill(c)(s"w$i")
    }
    (0 until 5).foreach { s =>
      val stream = streamGen(Gen.Parameters.default, Seed(99L + s))
        .getOrElse(fail("gen"))
      val n = stream.size
      for (k <- Seq(4, 8, 16)) {
        val truth = stream.groupBy(identity).view.mapValues(_.size)
          .filter { case (_, c) => c.toLong * (k + 1) > n }.keySet.toSet
        val cands = new scala.util.Random(s).shuffle(stream)
          .toDF("item").repartition(1 + s % 4)
          .agg(Natives.call(spark, "misra_gries", $"item", lit(k)).as("mg"))
          .select(explode($"mg.item").as("item"))
          .as[String].collect().toSet
        assert(cands.size <= k)
        assert(truth.subsetOf(cands),
          s"seed=$s k=$k lost ${truth -- cands}")
      }
    }
  }

  test("weighted replay of a summary preserves the guarantee (sketch hand-off)") {
    val k = 8
    // stream 1 has a dominant item; stream 2 buries it under new vocab
    val s1 = Seq.fill(40)("hot") ++ (1 to 30).map(i => s"one$i")
    val s2 = (1 to 60).map(i => s"two$i")
    val n = s1.size + s2.size
    // summary of s1 alone
    val sum1 = s1.toDF("item").repartition(3)
      .agg(Natives.call(spark, "misra_gries", $"item", lit(k)).as("mg"))
      .select(explode($"mg").as("c"))
      .select($"c.item".as("item"), $"c.est".as("w"))
    // replay it (weighted) against stream 2 — exactly st24's hand-off
    val cands = sum1
      .unionByName(s2.toDF("item").withColumn("w", lit(1L)))
      .agg(Natives.call(spark, "misra_gries", $"item", $"w", lit(k)).as("mg"))
      .select(explode($"mg.item").as("item"))
      .as[String].collect().toSet
    // "hot" (40 occurrences) clears N/(k+1) = 130/9 — must survive the
    // persisted-summary replay AND the 60 new-vocab insert storms
    assert(cands.contains("hot"), s"replay lost the heavy item: $cands")
    assert(cands.size <= k)
  }

  test("cp08 Z-order groups bound BOTH dimensions (the data-skipping contract)") {
    val rows = graft.analytics.CurationPipeline.all
      .find(_.name == "cp08_zorder_layout").get
      .df(spark, sf0001)
      .select("zgroup", "min_src", "max_src", "min_len", "max_len")
      .as[(Int, Int, Int, Int, Int)].collect()
    assert(rows.nonEmpty && rows.length <= 16)
    rows.foreach { case (g, s0, s1, l0, l1) =>
      assert(s1 - s0 < 4 && l1 - l0 < 4,
        s"group $g spans src[$s0,$s1] len[$l0,$l1] — a linear sort " +
          "bounds one dimension only; Z-order must bound both")
    }
  }

  test("st26: sketch-of-union and union-of-sketches agree EXACTLY (register max-merge)") {
    // the property that makes the cross-batch hand-off sound: HLL
    // registers are max-merged, so unioning two batch sketches yields
    // bit-for-bit the same estimator state as sketching the combined
    // stream — the estimate is identical, not merely close
    val xs = (1 to 40000).map(i => s"a$i")
    val ys = (20000 to 60000).map(i => s"a$i") // overlapping
    val whole = (xs ++ ys).toDF("s")
      .agg(hll_sketch_estimate(hll_sketch_agg($"s", 12)).as("e"))
      .as[Long].head()
    val parts = xs.toDF("s").agg(hll_sketch_agg($"s", 12).as("sk"))
      .crossJoin(ys.toDF("s").agg(hll_sketch_agg($"s", 12).as("sk2")))
      .select(hll_sketch_estimate(hll_union($"sk", $"sk2")).as("e"))
      .as[Long].head()
    assert(whole == parts, s"union estimate $parts != whole $whole")
    // and the estimator regime is genuinely dense (60001 distinct vs
    // 4096 registers), with the entry's 5% audit bound holding
    assert(math.abs(whole - 60001L) <= 0.05 * 60001, whole.toString)
  }

  test("st26: epoch rows grow monotonically and match exact distinct counts") {
    val rows = FrequentItems.all.find(_.name == "st26_incremental_vocab").get
      .df(spark, sf0001)
      .select("epoch", "source", "ndv_slice", "hll_slice_ok", "hll_full_ok")
      .as[(Int, String, Long, Boolean, Boolean)].collect()
    assert(rows.nonEmpty && rows.forall(_._4), "a slice-mechanism audit flipped")
    assert(rows.forall(_._5), "a full-width collapse detector flipped")
    val e1 = rows.filter(_._1 == 1).map(r => r._2 -> r._3).toMap
    val e2 = rows.filter(_._1 == 2).map(r => r._2 -> r._3).toMap
    // sliced vocab so-far never shrinks, and epoch 2 covers every source
    e1.foreach { case (src, n1) =>
      assert(e2(src) >= n1, s"$src sliced vocab shrank: $n1 -> ${e2(src)}")
    }
    assert(e2.keySet.size >= e1.keySet.size)
    // the slice NDV IS exact for the sampled gram space: recount it
    // locally for epoch 2 (md5 first hex digit '0' — same gate)
    val md = java.security.MessageDigest.getInstance("MD5")
    def inSlice(g: String): Boolean =
      "%02x".format(md.digest(g.getBytes("UTF-8"))(0)).startsWith("0")
    val exact = graft.queries.QueryDef.table(spark, sf0001, "documents")
      .select(col("source"), col("text")).as[(String, String)].collect()
      .flatMap { case (src, txt) =>
        val t = txt.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
        t.dropRight(1).zip(t.drop(1)).map { case (a, b) => (src, s"$a $b") }
      }.toSet.filter(p => inSlice(p._2))
      .groupMapReduce((p: (String, String)) => p._1)(_ => 1L)(_ + _)
    e2.foreach { case (src, n) =>
      assert(n == exact.getOrElse(src, 0L), s"$src slice NDV $n != exact")
    }
  }

  test("fi03: inclusion-exclusion audit holds and exact overlaps match a local reference") {
    val rows = FrequentItems.all.find(_.name == "fi03_vocab_overlap").get
      .df(spark, sf0001)
      .as[(String, String, Long, Long, Long, Boolean, Boolean)]
      .collect().toVector
    assert(rows.nonEmpty && rows.forall(_._6),
           "a slice-mechanism audit flipped")
    assert(rows.forall(_._7), "a full-width collapse detector flipped")
    // n_inter ≤ min(n_a, n_b) — a join that double-counts grams breaks this
    rows.foreach { case (s1, s2, na, nb, ni, _, _) =>
      assert(ni <= math.min(na, nb), s"($s1,$s2): inter $ni > min($na,$nb)")
    }
    // local exact reference for three pairs, straight from the data —
    // over the same 1/16 gram-space slice the entry publishes
    val md = java.security.MessageDigest.getInstance("MD5")
    def inSlice(g: String): Boolean =
      "%02x".format(md.digest(g.getBytes("UTF-8"))(0)).startsWith("0")
    val grams = graft.queries.QueryDef.table(spark, sf0001, "documents")
      .select(col("source"), col("text")).as[(String, String)].collect()
      .flatMap { case (src, txt) =>
        val t = txt.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
        t.dropRight(1).zip(t.drop(1)).map { case (a, b) => (src, s"$a $b") }
      }.toSet.filter(p => inSlice(p._2))
      .groupMap((p: (String, String)) => p._1)(_._2)
    rows.take(3).foreach { case (s1, s2, na, nb, ni, _, _) =>
      assert(na == grams.getOrElse(s1, Set.empty).size &&
             nb == grams.getOrElse(s2, Set.empty).size)
      assert(ni == (grams.getOrElse(s1, Set.empty) &
                    grams.getOrElse(s2, Set.empty)).size, s"($s1,$s2)")
    }
  }

  test("st26 streaming twin: sketch-only state tracks vocab across MemoryStream batches") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("st26_").toString
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, String)]
    val q = graft.streaming.EventStreams.incrementalVocab(
      mem.toDF().toDF("source", "text"),
      s"$tmp/state", s"$tmp/store", s"$tmp/out", s"$tmp/ckpt")
    try {
      // batch 0: s0 sees bigrams {a b, b c}; s1 sees {x y}
      mem.addData(("s0", "a b c"), ("s1", "x y"))
      q.processAllAvailable()
      // batch 1: s0 re-sees "b c" and adds "c d"; s1 absent
      mem.addData(("s0", "b c d"))
      q.processAllAvailable()
      def pub(b: Int) = spark.read.parquet(s"$tmp/out")
        .filter(col("batch_id") === b)
        .select("source", "ndv_exact", "ndv_est", "hll_ok")
        .as[(String, Long, Long, Boolean)].collect().toSet
      // HLL is exact at these cardinalities (sparse mode): est == exact
      assert(pub(0) == Set(("s0", 2L, 2L, true), ("s1", 1L, 1L, true)))
      // s0 grows 2 → 3 (dup "b c" absorbed by register max-merge);
      // s1 keeps its sketch verbatim through the absent batch
      assert(pub(1) == Set(("s0", 3L, 3L, true), ("s1", 1L, 1L, true)))
      // cross-batch state: one sketch row per source, and no
      // streaming state store at all (foreachBatch + parquet state)
      val st = spark.read.parquet(s"$tmp/state/state_1")
      assert(st.count() == 2 &&
             st.schema.fieldNames.toSet == Set("source", "sk"))
      assert(q.lastProgress.stateOperators.isEmpty ||
             q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()
  }

  test("fi01 refine join broadcasts the bounded candidate side") {
    val df = FrequentItems.all.find(_.name == "fi01_heavy_hitters").get
      .df(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val bcasts = collectWithSubqueries(plan) {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bcasts.nonEmpty, s"expected broadcast refine join:\n$plan")
  }
}
