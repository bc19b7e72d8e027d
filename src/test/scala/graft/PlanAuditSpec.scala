package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan

/** Pins the 100 TB plan properties as assertions instead of one-off
  * `graft.Explain` reviews: filter pushdown reaching the parquet scan,
  * column pruning, top-k via TakeOrderedAndProject (never a full sort),
  * broadcast joins for dimension-sized sides, and partition pruning on
  * the IVF inverted-file layout. A regression in any of these is
  * invisible to the correctness oracle (same rows, catastrophic plan)
  * — exactly what a test must catch. */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf0001)
    df.queryExecution.executedPlan.toString
  }

  private def formatted(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf0001)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  test("q01: equality filter is pushed into the parquet scan") {
    val f = formatted("q01_scan_filter_eq")
    assert(f.contains("PushedFilters:") &&
           f.matches("(?s).*PushedFilters: \\[[^\\]]*EqualTo[^\\]]*\\].*"), f)
  }

  test("q04: top-k compiles to TakeOrderedAndProject, not a global sort") {
    val p = plan("q04_topk_desc")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q19: three-way join broadcasts the dimension sides") {
    val p = plan("q19_threeway_distinct")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q16: projection prunes the scan to referenced columns only") {
    val f = formatted("q16_join_eq_filter")
    // lineitem has 11 columns; the ReadSchema lines must stay narrow
    val schemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(f).map(_.group(1)).toSeq
    assert(schemas.nonEmpty)
    schemas.foreach { s =>
      assert(s.split(",").length <= 4, s"scan reads too many columns: $s")
    }
  }

  test("ss01: single scan, no shuffle of the corpus for brute-force top-k") {
    val p = plan("ss01_cosine_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
    // the only exchange allowed is the broadcast of the 1-row query side
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles == 0, s"corpus shuffled $shuffles times:\n$p")
  }

  test("ss09: int8 scan path keeps the ss01 shape — no corpus shuffle") {
    val p = plan("ss09_int8_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles == 0, s"corpus shuffled $shuffles times:\n$p")
  }

  test("ss11: persisted-index scan reads 1-byte codes, no corpus shuffle") {
    val f = formatted("ss11_int8_indexed")
    // the serving scan must read the tinyint codes, not re-derive them
    // from the 4-byte float embedding column
    assert(f.contains("array<tinyint>"), f)
    assert(!f.matches("(?s).*ReadSchema:[^\\n]*array<float>.*"), f)
    val p = plan("ss11_int8_indexed")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty, p)
  }

  test("ss10: MIPS scan keeps the ss01 shape — no corpus shuffle") {
    val p = plan("ss10_mips_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles == 0, s"corpus shuffled $shuffles times:\n$p")
  }

  test("dq04: adaptive gate never hash-shuffles the corpus") {
    // the only exchanges allowed are the single-partition reduce for
    // the 1-row percentile aggregate and its broadcast back — a
    // hashpartitioning exchange would mean the per-doc stats shuffled
    val p = plan("dq04_adaptive_quality_gate")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles == 0, s"corpus shuffled $shuffles times:\n$p")
  }

  test("dm06: running-sum windows are (lang, shard)-partitioned, never global") {
    // an unpartitioned running sum would funnel each language (or the
    // whole corpus) through one task; the plan must show every window
    // keyed by the hash shard
    val p = plan("dm06_token_budget_mixture")
    val specs = "windowspecdefinition\\(([^,]*, [^,]*)," .r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(specs.nonEmpty, p)
    specs.foreach { s =>
      assert(s.contains("lang") && s.contains("shard"),
             s"window not sharded: $s\n$p")
    }
  }

  test("tx11: collocation top-20 is a TakeOrderedAndProject, not a global sort") {
    val p = plan("tx11_collocations")
    assert(p.contains("TakeOrderedAndProject"), p)
    // dictionary joins must not broadcast the unigram side blindly is a
    // scale DECISION, not assertable at sf0.001 (AQE rightly broadcasts
    // tiny sides here); what must hold is that no global Sort survives
    assert(!p.contains("Sort [lift"), p)
  }

  test("ss03: IVF probe prunes unprobed list partitions at the scan") {
    graft.analytics.IvfIndex.ensure(spark, sf0001)
    val df = graft.analytics.Similarity.ivfTopK(
      spark, sf0001, queryId = 0L, k = 10,
      nLists = graft.analytics.IvfIndex.DefaultLists, nProbe = 4)
    val f = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(f.matches("(?s).*PartitionFilters: \\[[^\\]]*list[^\\]]*\\].*"), f)
  }

  test("ss14: filtered probe pushes the label predicate AND prunes list partitions") {
    graft.analytics.IvfIndex.ensure(spark, sf0001)
    val df = graft.analytics.Similarity.filteredIvfTopK(
      spark, sf0001, queryId = 0L, k = 10,
      nLists = graft.analytics.IvfIndex.DefaultLists, nProbe = 4,
      labels = Seq(2, 5))
    val f = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // both optimizations must reach the same index scan: the probed-
    // list partition filter AND the pushed label predicate
    assert(f.matches("(?s).*PartitionFilters: \\[[^\\]]*list[^\\]]*\\].*"), f)
    assert(f.matches("(?s).*PushedFilters: \\[[^\\]]*label[^\\]]*\\].*") ||
           f.matches("(?s).*PushedFilters: \\[[^\\]]*In\\(label[^\\]]*\\].*"), f)
  }

  test("ss17: tombstone-masked probe still prunes list partitions; anti-join unhinted") {
    graft.analytics.IvfIndex.ensure(spark, sf0001)
    val df = graft.analytics.Similarity.tombstoneIvfTopK(
      spark, sf0001, queryId = 0L, k = 10,
      nLists = graft.analytics.IvfIndex.DefaultLists, nProbe = 4,
      delMod = 17, delRes = 3)
    val f = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // the probed-list filter must push THROUGH the tombstone anti-join
    // to the index scan — masking deletes cannot cost the pruning
    assert(f.matches("(?s).*PartitionFilters: \\[[^\\]]*list[^\\]]*\\].*"), f)
    // and the anti-join side is AQE-decided, never a forced hint (the
    // tombstone set grows with deletion history until a purge)
    assert(!f.contains("ResolvedHint"), f)
  }

  test("ss16: batch filtered probe pushes the label predicate into the index scan") {
    graft.analytics.IvfIndex.ensure(spark, sf0001)
    val df = graft.analytics.Similarity.batchFilteredAnnTopK(
      spark, sf0001, queryMaxId = 32L, k = 10,
      nLists = graft.analytics.IvfIndex.DefaultLists, nProbe = 4,
      labels = Seq(2, 5))
    val f = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // the label predicate must reach the corpus-side index scan (the
    // list pruning arrives at runtime through the broadcast probe join)
    assert(f.matches("(?s).*PushedFilters: \\[[^\\]]*label[^\\]]*\\].*") ||
           f.matches("(?s).*PushedFilters: \\[[^\\]]*In\\(label[^\\]]*\\].*"), f)
    // the corpus meets the probe set by broadcast — a shuffled corpus
    // join here would defeat the one-plan batch serve
    val p = df.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin(?: \\S+)? \\[list#".r.findFirstIn(p).isDefined, p)
  }

  test("ss20: spilled serve broadcasts the probe side; dedup is a partial aggregate") {
    // The spilled index's serve must keep ss04's 100 TB shape: the
    // (query, list) probe table broadcasts into the assignments scan
    // (the corpus is never hash-shuffled for the JOIN), and the
    // (query_id, vec_id) duplicate-candidate dedup runs as a partial
    // HashAggregate BEFORE its exchange — the shuffle carries one row
    // per candidate pair, not one per spilled copy.
    val p = plan("ss20_spilled_batch_ann")
    assert(p.contains("BroadcastHashJoin"), p)
    assert("(?s)partial_max".r.findFirstIn(p.toLowerCase).isDefined ||
           "HashAggregate\\(keys=\\[query_id[^\\]]*vec_id".r
             .findAllIn(p).length >= 2,
           s"dedup aggregate not partial/map-side:\n$p")
  }

  test("st01: windowed aggregation keeps partial aggregation map-side") {
    val p = plan("st01_tumbling_window")
    assert(p.contains("HashAggregate") &&
           "HashAggregate".r.findAllIn(p).length >= 2, // partial + final
           p)
  }

  test("ss05: PQ ADC scan is map-only — no corpus shuffle, top-k via TakeOrdered") {
    // the registry entry wraps the serve in its self-audit (tiny 1-row
    // cross joins); the plan pin targets the raw serving path
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val p = graft.analytics.PqIndex.pqTopKRefined(
        emb, graft.analytics.Similarity.pqCodebooksFor(spark, sf0001),
        queryId = 0L, k = 10)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles == 0, s"corpus shuffled $shuffles times:\n$p")
  }

  test("ss06: IVF-PQ probe branches prune list partitions at the scan") {
    graft.analytics.IvfIndex.ensure(spark, sf0001)
    val df = graft.analytics.Similarity.ivfPqTopK(
      spark, sf0001, queryId = 0L, k = 10,
      nLists = graft.analytics.IvfIndex.DefaultLists, nProbe = 4)
    val f = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(f.matches("(?s).*PartitionFilters: \\[[^\\]]*list[^\\]]*\\].*"), f)
  }

  test("dm01: per-class rates broadcast onto the corpus — no corpus shuffle for the gate") {
    val p = plan("dm01_mixture_rebalance")
    assert(p.contains("BroadcastHashJoin") ||
           p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dm02: packing windows are partitioned by shard, never a global window") {
    val p = plan("dm02_pack_sequences")
    assert(p.contains("hashpartitioning(shard"), p)
    // a single-partition (empty-key) window exchange would read
    // "SinglePartition" in the plan — the 100 TB funnel this entry
    // deliberately avoids
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("dm02b: BPE packing keeps dm02's sharded-window shape — no global funnel") {
    val p = plan("dm02b_pack_bpe")
    assert(p.contains("hashpartitioning(shard"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
    // tokenization is an expression chain on the scan, not a join: the
    // only joins anywhere would be a leaked merges-table lookup
    assert(!p.contains("Join"), p)
  }

  test("dc03: banded decon serve is map-only — no shuffled join, no pair exchange") {
    // raw serving path (the entry's self-audit adds benign 1-row cross
    // joins of scalar aggregates around it)
    val p = graft.analytics.DataQuality.anchorDrops(
        spark.read.parquet(s"$sf0001/embeddings.parquet"))
      .queryExecution.executedPlan.toString
    // the bench band index is ONE broadcast row (a band-key → bucket
    // map); the corpus side is a single projection that looks its 12
    // buckets up per row. The r12 100× gate killed the old shuffled
    // band equi-join (~1.9e9 candidate-pair rows through an Exchange
    // at sf10), so the pin is inverted: NO shuffled join may appear —
    // the only join is the 1-row broadcast, and the corpus never
    // shuffles at all (no aggregate left in the serve).
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
           p)
    assert(p.contains("BroadcastNestedLoopJoin") ||
           p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("HashAggregate(keys=[vec_id"), p)
  }

  test("rj01: range join is a bucketed equi-join — no nested-loop or cartesian node") {
    val p = plan("rj01_range_join")
    // a raw inequality join plans to BroadcastNestedLoopJoin (driver
    // OOM once the lookback side grows) or a per-key cross product; the
    // bucketed rewrite must keep every join an equi-join
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
           p.contains("BroadcastHashJoin"), p)
  }

  test("lm01: language cutoffs broadcast back; no single-partition exchange") {
    val p = plan("lm01_familiarity_bins")
    // the per-language P25/P75 frame is language-cardinality-sized and
    // must broadcast; nothing in the plan may funnel one partition
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("lm01: bins agree with the emitted cutoffs; short docs never vanish") {
    val df = SparkEntry.queries("lm01_familiarity_bins")(spark, sf0001)
    val rows = df.collect()
    val nDocs = spark.read.parquet(s"$sf0001/documents.parquet").count()
    assert(rows.length == nDocs, "census: one row per document")
    rows.foreach { r =>
      val bin = r.getAs[String]("bin")
      if (r.getAs[Long]("n_bigrams") == 0L) assert(bin == "short")
      else {
        // familiarity has exactly 6 decimals → ×10⁶ recovers the exact
        // integer micro-score the gate compared against the cutoffs
        val fm = math.round(r.getAs[Double]("familiarity") * 1e6)
        val (p25, p75) =
          (r.getAs[Double]("p25_micro"), r.getAs[Double]("p75_micro"))
        assert(p25 <= p75)
        if (fm < p25) assert(bin == "tail", s"$fm $p25 $bin")
        else if (fm >= p75) assert(bin == "head", s"$fm $p75 $bin")
        else assert(bin == "middle", s"$fm [$p25,$p75) $bin")
      }
    }
    assert(rows.map(_.getAs[String]("bin")).toSet
             .intersect(Set("head", "middle", "tail")).size == 3,
           "fixture must exercise all three quality bins")
  }

  test("cp03: curriculum windows partition by (phase, shard); positions are per-cell permutations") {
    val df = SparkEntry.queries("cp03_curriculum_order")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("hashpartitioning(phase"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
    val rows = df.collect().map(r =>
      (r.getAs[Int]("phase"), r.getAs[Int]("shard"), r.getAs[Int]("pos")))
    assert(rows.map(_._1).toSet == Set(1, 2, 3),
           "fixture must populate all three curriculum phases")
    rows.groupBy(r => (r._1, r._2)).foreach { case (_, g) =>
      assert(g.map(_._3).sorted.toSeq == (1 to g.length))
    }
  }

  test("st15: batch bigrams broadcast onto the dictionary — dictionary never re-shuffled") {
    val p = plan("st15_familiarity_route")
    // per-batch routing must broadcast the (batch-sized) bigram frame
    // onto the corpus dictionary; a sort-merge join would re-shuffle
    // the whole dictionary every ingest tick
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("dm03: temperature mixture — smallest language keeps rate 1, rates monotone in count") {
    val rows = SparkEntry.queries("dm03_temperature_mixture")(spark, sf0001)
      .collect().map(r => (r.getAs[String]("lang"), r.getAs[Long]("n_docs"),
                           r.getAs[Double]("rate"), r.getAs[Long]("n_sampled")))
    assert(rows.nonEmpty)
    val minN = rows.map(_._2).min
    rows.foreach { case (lang, n, rate, sampled) =>
      if (n == minN) assert(rate == 1.0, s"$lang: smallest class must keep all")
      assert(math.abs(rate - math.sqrt(minN.toDouble / n)) < 1e-6)
      assert(sampled <= n)
    }
    // rates strictly decrease as counts increase (α < 1 flattening)
    rows.sortBy(_._2).map(_._3).toSeq.sliding(2).foreach {
      case Seq(a, b) => assert(a >= b)
      case _ => ()
    }
  }

  test("dm04: epoch shuffle is a per-shard window, positions form a permutation") {
    val df = SparkEntry.queries("dm04_epoch_shuffle")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("hashpartitioning(shard"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
    val rows = df.collect().map(r => (r.getAs[Int]("shard"), r.getAs[Int]("pos")))
    // within each shard, pos is exactly 1..count
    rows.groupBy(_._1).foreach { case (_, g) =>
      assert(g.map(_._2).sorted.toSeq == (1 to g.length))
    }
  }

  test("tx10: no vocabulary-wide window — top-40 via TakeOrderedAndProject") {
    val p = plan("tx10_vocab_coverage")
    // the old shape ranked the WHOLE term table through one task via
    // row_number over an unpartitioned window; at web-corpus scale that
    // is a 10^8-row single-executor sort. The plan must carry no Window
    // node at all and slice the top-40 with TakeOrderedAndProject.
    assert(!p.contains("Window"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("st11: batch gram sets broadcast onto the corpus — corpus grams never hash-shuffled") {
    val p = plan("st11_incremental_gram_gate")
    // the gate's semi-joins must broadcast the (batch-sized) gram sets;
    // a sort-merge join here would shuffle every gram of the corpus per
    // ingest batch — the cost id01's design note rules out
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("dm05: per-batch rates broadcast back onto the corpus gate") {
    val p = plan("dm05_streaming_temperature")
    assert(p.contains("BroadcastHashJoin") ||
           p.contains("BroadcastNestedLoopJoin"), p)
    // the md5 hash gate is a map-side filter: no corpus shuffle between
    // the scan and the gate other than the final per-language aggregate
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("tx08: corpus size broadcasts; tf/df aggregate partially map-side") {
    val p = plan("tx08_tfidf_top_terms")
    // the 1-row n_docs side must broadcast, never shuffle the tf frame
    // against it
    assert(p.contains("BroadcastNestedLoopJoin") ||
           p.contains("BroadcastHashJoin"), p)
    assert("HashAggregate".r.findAllIn(p).length >= 4, // tf + df, each 2-phase
           p)
  }

  test("ss13: metadata predicate pushes into the scan before the vector math") {
    val f = formatted("ss13_filtered_topk")
    assert(f.matches("(?s).*PushedFilters: \\[[^\\]]*In\\(label[^\\]]*\\].*"), f)
    val p = plan("ss13_filtered_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles == 0, s"filtered corpus shuffled $shuffles times:\n$p")
  }

  test("bp01/bp02/dd08/cp02: census join is AQE-decided, never a forced broadcast") {
    // the >= k-doc gram census of a 100 TB crawl is an unbounded corpus
    // statistic; a mandatory broadcast hint would bypass AQE's size
    // check and OOM the driver. Proof the hint is gone: with the
    // broadcast threshold off and AQE disabled, the planner must fall
    // back to a shuffled join — a lingering hint would still force
    // BroadcastHashJoin here.
    GraftSession.withConfs(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
      Seq("bp01_boilerplate_ngrams", "bp02_boilerplate_strip",
          "dd08_dup_spans").foreach { n =>
        val p = plan(n)
        assert(!p.contains("BroadcastHashJoin") &&
               !p.contains("BroadcastNestedLoopJoin"),
               s"$n still forces a broadcast:\n$p")
        assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
               s"$n census join missing a shuffled fallback:\n$p")
      }
      // cp02 keeps legitimate broadcasts of provably bounded frames
      // (eval-suite grams, 1-row threshold/budget aggregates); only its
      // census semi-join on (h1, h2) must plan shuffled. The entry now
      // materializes the strip stage (localCheckpoint barrier), so the
      // pin targets the pre-barrier lineage it checkpoints.
      val p = graft.analytics.CurationPipeline.cp02Cleaned(spark, sf0001)
        .queryExecution.executedPlan.toString
      assert("SortMergeJoin(?: \\S+)? \\[h1#[\\s\\S]*?LeftSemi".r
               .findFirstIn(p).isDefined,
             s"cp02 census semi-join is not shuffle-planned:\n$p")
    }
  }

  test("dq05/ql01/st16/st17: growing-cardinality state joins are AQE-decided") {
    // per-source reputation (source = crawl domain: 10^7-10^8 rows at
    // 100 TB) and per-shard pack offsets (cardinality = corpus/1000)
    // grow with the data — a mandatory broadcast hint on them is a
    // multi-GB driver broadcast. Same proof shape as the census pin
    // above: with the threshold off and AQE disabled, a lingering hint
    // would still force a broadcast; a clean plan falls back to a
    // shuffled join on the state key.
    GraftSession.withConfs(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
      def shuffledOn(p: String, key: String): Boolean =
        s"(?:SortMergeJoin|ShuffledHashJoin)(?: \\S+)? \\[$key#".r
          .findFirstIn(p).isDefined
      def broadcastOn(p: String, key: String): Boolean =
        s"BroadcastHashJoin(?: \\S+)? \\[$key#".r.findFirstIn(p).isDefined
      Seq("dq05_source_reputation", "st16_streaming_reputation").foreach { n =>
        val p = plan(n)
        assert(!broadcastOn(p, "source"), s"$n still forces a broadcast:\n$p")
        assert(shuffledOn(p, "source"),
               s"$n reputation join missing a shuffled fallback:\n$p")
      }
      // ql01 keeps its bounded 4096-row weights broadcast (hinted, by
      // design); only the per-source reputation join must plan shuffled
      val pQl = plan("ql01_model_quality_score")
      assert(!broadcastOn(pQl, "source"),
             s"ql01 still forces the reputation broadcast:\n$pQl")
      assert(shuffledOn(pQl, "source"), pQl)
      // st17: per-shard base offsets join shuffles on shard
      val pSt = plan("st17_streaming_pack")
      assert(!pSt.contains("BroadcastHashJoin") &&
             !pSt.contains("BroadcastNestedLoopJoin"),
             s"st17 still forces a broadcast:\n$pSt")
      assert(shuffledOn(pSt, "shard"), pSt)
    }
  }

  test("ql01: weight vector broadcasts onto the bigram scan; no sort-merge join") {
    val p = plan("ql01_model_quality_score")
    // the 4096-row weight vector joins the exploded bigrams by
    // broadcast — a shuffled join HERE would re-shuffle every corpus
    // bigram. (The doc-census LEFT join on doc_id legitimately
    // sort-merges: both of its sides are corpus-sized at scale, and its
    // exchange carries only (doc_id, logit) scalars.)
    assert("BroadcastHashJoin \\[bucket#".r.findFirstIn(p).isDefined, p)
    assert("SortMergeJoin \\[bucket#".r.findFirstIn(p).isEmpty, p)
    // partial aggregation keeps the logit sum map-side
    assert(p.contains("partial_sum") || p.contains("HashAggregate"), p)
    // every documents scan prunes to (doc_id, source, text) or fewer —
    // a scorer that drags full rows through the feature explode is the
    // classic 100 TB mistake
    val f = formatted("ql01_model_quality_score")
    val schemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(f).map(_.group(1)).toSeq
    assert(schemas.nonEmpty)
    schemas.foreach { s =>
      assert(s.split(",").length <= 3, s"scan reads too many columns: $s")
    }
  }

  test("cp04: layout plan broadcasts the per-source stats; assignment is map-only") {
    val p = plan("cp04_layout_plan")
    // the tiny per-source plan joins back by broadcast — the corpus is
    // never shuffled to meet it
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // no rank window anywhere: file assignment is a hash bucket, so the
    // layout step adds no per-source sort at 100 TB
    assert(!p.contains("Window"), p)
  }

  test("dm09: the split is map-only — no exchange, no window, no join") {
    val p = plan("dm09_train_split")
    // a per-row hash threshold must never cost a data shuffle: the
    // exact-proportion row_number alternative would hash-partition and
    // sort the corpus per language. (The only exchange allowed is the
    // presentation orderBy's range partitioning.)
    assert(!p.contains("hashpartitioning"), p)
    assert(!p.contains("Window") && !p.contains("Join"), p)
  }

  test("dm10x: the leakage audit is equi-joins + aggregates only — no nested loop anywhere") {
    // the exhaustive anchor carries the pure-equi-join contract (the
    // banded dm10 crossJoins only 1-row audit aggregates by design)
    val p = plan("dm10x_split_leakage_exact")
    // candidate generation and both intersection counts must stay
    // shuffled equi-joins with partial aggregation: a Cartesian or
    // broadcast-nested-loop anywhere means the audit re-grew an
    // all-pairs term that dies at corpus scale
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // and no forced hint: the hot-gram set's size is corpus-dependent
    assert(!p.contains("ResolvedHint"), p)
  }

  test("dd09: the band probe prunes unprobed kp partitions at the bands scan") {
    val dir = graft.analytics.MinHashBandIndex.ensure(spark, sf0001)
    val docs = graft.queries.QueryDef.table(spark, sf0001, "documents")
    val df = graft.analytics.MinHashBandIndex.gate(
      spark, dir, graft.analytics.MinHashBandIndex.arrivalsOf(docs))
    val f = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // the arriving batch's kp set reaches the persisted bands scan as a
    // partition filter — per-batch probe cost follows the batch, not
    // the corpus
    assert(f.matches("(?s).*PartitionFilters: \\[[^\\]]*kp[^\\]]*\\].*"), f)
    // no forced broadcast anywhere in the gate: every join is
    // AQE-decided (the index side grows with the corpus)
    assert(!f.contains("ResolvedHint"), f)
  }

  test("st20: the executed curation ledger plan scans the seed bands once") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.functions.col
    val mh = graft.analytics.MinHashBandIndex
    val seed = mh.ensure(spark, sf0001)
    val docs = graft.queries.QueryDef.table(spark, sf0001, "documents")
    val slice = mh.arrivalsOf(docs).select("doc_id", "text")
    val emb = graft.queries.QueryDef.table(spark, sf0001, "embeddings")
    // the stream's static side: the bench index is checkpointed before
    // the first batch, so the ledger's only vector reads are its own
    val index = graft.analytics.DataQuality.DeconIndex(
      emb.filter(col("label") === 0)
        .select(col("vec_id").as("bench_id"), col("embedding")),
      once = true)
    val ledger = graft.streaming.StreamShapes.curationLedgerOf(slice,
      mh.gateFrames(spark, spark.read.parquet(s"$seed/bands"),
                    spark.read.parquet(s"$seed/shingles"), slice),
      emb, index.scored)
    assert(ledger.collect().nonEmpty)
    // the hot-bucket census and the candidate join read ONE probe: a
    // second branch re-scans the bands every batch
    object Plans extends AdaptiveSparkPlanHelper
    val bandScans = Plans.collect(ledger.queryExecution.executedPlan) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.getName == "bands") => s
    }
    assert(bandScans.size == 1,
      s"${bandScans.size} bands scans:\n${ledger.queryExecution.executedPlan}")
    // one ids ⋈ emb feeds both the decon scoring and the label-0 rule:
    // a second branch re-reads every vector each batch
    val vecScans = Plans.collect(ledger.queryExecution.executedPlan) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths
            .exists(_.getName == "embeddings.parquet") => s
    }
    assert(vecScans.size == 1,
      s"${vecScans.size} vector scans:\n${ledger.queryExecution.executedPlan}")
  }

  test("fi01: the sketch pass partial-aggregates map-side; the shuffle is one summary per partition") {
    val p = plan("fi01_heavy_hitters")
    // misra_gries is a TypedImperativeAggregate → ObjectHashAggregate,
    // and it must appear in BOTH partial and final mode: the k-entry
    // summaries combine on the map side, so what crosses the exchange
    // is partitions×1 serialized sketches — never the gram stream. A
    // plan where the sketch aggregate lost its partial half re-grows
    // the vocabulary-sized shuffle this operator exists to remove.
    assert(p.contains("ObjectHashAggregate"), p)
    assert("partial_misra_gries".r.findAllIn(p).nonEmpty, p)
    // the refine join broadcasts the ≤k candidate frame (bounded by
    // construction, unlike bp01's data-dependent census)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("fi02: bloom-gated recount keeps partial aggregation; refine join stays AQE-decided") {
    // r12 shape: the MG sketch pass is checkpointed (it feeds both the
    // candidate frame and the bloom blob), so partial_misra_gries
    // lives in the materialized subtree — the FINAL plan must show the
    // bloom gate on the gram stream (the thing that bounds the refine
    // shuffle) and a map-side partial count before the exchange
    val p = plan("fi02_grouped_heavy_hitters")
    assert(p.contains("might_contain"), p)
    assert("partial_count".r.findAllIn(p).nonEmpty, p)
    // per-group candidates are bounded but the GROUP COUNT is a corpus
    // property — no forced broadcast on the refine join
    assert(!p.contains("ResolvedHint"), p)
  }

  test("qs02: exact quantiles without per-group value materialization") {
    val p = plan("qs02_global_exact_quantiles")
    // the whole point of the tier: the exact `percentile` aggregate
    // (which buffers every value of a group in one aggregation state)
    // must never appear — exactness comes from bracketed refinement
    assert(!"(?<!approx_)percentile\\(".r.findAllIn(p).hasNext,
      s"exact percentile aggregate in plan:\n$p")
    // rank pass partial-aggregates map-side (8 conditional longs of
    // state cross the exchange, never values)
    assert("partial_sum".r.findAllIn(p).nonEmpty, p)
    // refine is a row_number window whose input passed a bracket
    // Filter — the sort below the window never sees the full stream
    assert(p.contains("row_number"), p)
    // the sketch subtree is checkpointed: exactly two live scans
    // remain (rank pass + refine pass) — a third would mean the
    // summary re-executes per consumer
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 2, s"$scans value scans (want 2: rank + refine):\n$p")
  }

  test("st25: histogram state partial-aggregates; picks broadcast onto the stream") {
    val p = plan("st25_incremental_quantiles")
    assert(!"(?<!approx_)percentile\\(".r.findAllIn(p).hasNext, p)
    // bin census combines map-side — the shuffle moves (bin, count)
    // summaries, bounded by the value domain
    assert("partial_count".r.findAllIn(p).nonEmpty ||
           "partial_sum".r.findAllIn(p).nonEmpty, p)
    // the ≤3-row (bin, base, target) picks broadcast onto the refine
    // scan; the stream is never hash-shuffled to meet them
    assert(p.contains("BroadcastHashJoin") ||
           p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("tp01: profile never plans an Expand; every column pass prunes to one column") {
    // six countDistincts in ONE agg would plan an Expand (row-
    // multiplying shuffle — the x14 lesson); the per-column passes
    // must also each prune the parquet scan to their single column
    val df = SparkEntry.queries("tp01_table_profile")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Expand"), p)
    val f = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert("ReadSchema: struct<o_orderkey:bigint>".r.findAllIn(f).nonEmpty, f)
    assert("ReadSchema: struct<o_orderstatus:string>".r.findAllIn(f).nonEmpty, f)
  }

  test("gr02: wedge generation and triangle close are equi-joins, never nested-loop over edges") {
    // the oriented self-join's inequality rides as a join FILTER on an
    // equi key (e1.s = e2.s) and the closing probe is a pure equi
    // semi-join: if either degrades to a cartesian/BNLJ over the edge
    // list, triangle counting dies at the first hub at scale. (The
    // only BNLJ tolerated is the final 1-row×1-row stat crossJoin.)
    val p = plan("gr02_triangle_count")
    val hashJoins = "(ShuffledHashJoin|SortMergeJoin|BroadcastHashJoin)".r
      .findAllIn(p).size
    assert(hashJoins >= 3, s"expected >=3 hash joins (orient x2, wedge, close): $p")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    val cart = "CartesianProduct".r.findAllIn(p).size
    assert(bnlj + cart <= 2, s"edge-list join degraded to nested loop: $p")
  }

  test("gr01: every PageRank iteration joins on equi keys with partial aggregation") {
    val p = plan("gr01_token_pagerank")
    // contributions partial-aggregate map-side before the by-dst shuffle
    assert("partial_sum".r.findAllIn(p).nonEmpty, p)
    assert(!p.contains("CartesianProduct"), p)
    // final top-20 is a TakeOrderedAndProject, not a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("fi03: overlap estimates come from the sketch table, not a pairwise gram join") {
    // the exact audit joins grams once (equi on ngram); the estimate
    // side must be the tiny per-source sketch frame joined to itself —
    // a sketch-rows² nested loop is FINE (n_sources² rows), a
    // gram-level inequality join is not. Assert the plan has exactly
    // one gram-gram equi join and the only non-equi join inputs are
    // aggregate results.
    val p = plan("fi03_vocab_overlap")
    assert(p.contains("hll_union") && p.contains("hll_sketch_estimate"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("tp01 stats are load-bearing: CBO + catalog column stats reorder the 3-way join") {
    // AQE's runtime stats exist only after a stage materializes — the
    // INITIAL join order of a multi-way join is fixed at planning
    // time. This pin proves the persisted profile steers that order:
    // the same 3-way star query (big fact first syntactically) keeps
    // its syntactic order without CBO, and with CBO + the ANALYZE'd
    // stats CostBasedJoinReorder moves the selective dimension pair
    // (orders ⋈ filtered customer, ~60x smaller output) below the
    // 60k-row lineitem side.
    import org.apache.spark.sql.catalyst.plans.logical.Join
    graft.analytics.TableStats.analyze(spark, sf001,
      Seq("customer", "orders", "lineitem"))
    val sql =
      """SELECT c.c_mktsegment, sum(l.l_quantity) AS q
        |FROM graft_stats.lineitem l
        |JOIN graft_stats.orders o ON l.l_orderkey = o.o_orderkey
        |JOIN graft_stats.customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |GROUP BY c.c_mktsegment""".stripMargin
    // the innermost Join node is the pair that executes first
    def innermostJoin(): String = {
      val joins = spark.sql(sql).queryExecution.optimizedPlan
        .collect { case j: Join => j }
      assert(joins.nonEmpty, "no join in optimized plan")
      joins.last.toString
    }
    val syntactic = innermostJoin()
    assert(syntactic.contains("lineitem"),
      s"without CBO the syntactic (lineitem ⋈ orders) pair should go first:\n$syntactic")
    graft.analytics.TableStats.withCbo(spark) {
      val reordered = innermostJoin()
      assert(reordered.contains("customer") &&
             !reordered.contains("lineitem"),
        s"CBO + stats should join (orders ⋈ customer) first:\n$reordered")
    }
  }

  test("tp02: the REGISTRY entry itself plans reordered under CBO stats") {
    // the lifecycle pin VERDICT r12 asked for: not a hand-built SQL in
    // a withCbo block, but the actual registry entry — ensure() runs
    // the ANALYZE, the entry forces planning inside its own withCbo
    // scope, and the plan the driver will execute has the selective
    // (orders ⋈ customer) pair innermost instead of the syntactic
    // big-fact-first (lineitem ⋈ orders).
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val df = SparkEntry.queries("tp02_cbo_join_order")(spark, sf001)
    val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.nonEmpty, "no join in tp02's optimized plan")
    val innermost = joins.last.toString
    assert(innermost.contains("customer") && !innermost.contains("lineitem"),
      s"tp02 should plan (orders ⋈ customer) innermost under stats:\n$innermost")
    // and the stats-steered plan returns real rows
    assert(df.count() > 0)
  }

  test("TableStats.ensure is content-stamped: regenerated data at the " +
       "same path re-ANALYZEs; unchanged content is a memo hit") {
    // r13's memo keyed on (table, path) only — regenerating data at
    // the same path left tp02 planning under stale row counts/NDV,
    // the staleness class IvfIndex fixed in r3 with a
    // name+length+mtime fingerprint. The stamp now folds into the key.
    import graft.analytics.TableStats
    val dir = java.nio.file.Files
      .createTempDirectory("graft-stats-stale").toFile
    dir.deleteOnExit()
    val path = dir.getAbsolutePath
    def regen(n: Long): Unit =
      spark.range(n).selectExpr("id AS k", "id % 7 AS v")
        .write.mode("overwrite").parquet(s"$path/stale_probe.parquet")
    def statRows(): Long = {
      val s = spark.sql("DESCRIBE TABLE EXTENDED graft_stats.stale_probe")
        .filter(org.apache.spark.sql.functions.col("col_name") === "Statistics")
        .collect()
      assert(s.nonEmpty, "no statistics row in catalog")
      val txt = s.head.getString(1)
      "(\\d+) rows".r.findFirstMatchIn(txt).map(_.group(1).toLong)
        .getOrElse(fail(s"no row count in catalog stats: $txt"))
    }
    regen(100)
    TableStats.ensure(spark, path, Seq("stale_probe"))
    assert(statRows() == 100L)
    // unchanged content → memo hit: drop the catalog entry and call
    // ensure again; a re-ANALYZE would recreate it
    spark.sql("DROP TABLE graft_stats.stale_probe")
    TableStats.ensure(spark, path, Seq("stale_probe"))
    assert(!spark.catalog.tableExists("graft_stats.stale_probe"),
      "unchanged content must be a memo hit (no re-ANALYZE)")
    // regenerated content at the SAME path → stamp differs → refresh
    regen(250)
    TableStats.ensure(spark, path, Seq("stale_probe"))
    assert(statRows() == 250L,
      "regenerated data at the same path must refresh catalog stats")
    // the memo is slot → LAST key, not a set of keys seen: pointing the
    // table at B and then back at A must re-ANALYZE both times, or the
    // catalog keeps serving B's stats for A
    val other = java.nio.file.Files
      .createTempDirectory("graft-stats-other").toFile.getAbsolutePath
    spark.range(40).selectExpr("id AS k", "id % 7 AS v")
      .write.mode("overwrite").parquet(s"$other/stale_probe.parquet")
    TableStats.ensure(spark, other, Seq("stale_probe"))
    assert(statRows() == 40L, "re-pointing at B must re-ANALYZE")
    TableStats.ensure(spark, path, Seq("stale_probe"))
    assert(statRows() == 250L, "re-pointing back at A must re-ANALYZE")
  }

  test("ScanSpread sites: nothing order-sensitive downstream of a round-robin spread") {
    // VERDICT r17 #3: ScanSpread's order-insensitivity contract was
    // prose-only. Round-robin redistribution makes row order
    // nondeterministic, so any input-order-sensitive expression
    // downstream (first/last aggregates, monotonically_increasing_id,
    // a collect_list never normalized by sort_array) would make a
    // spread entry's results run-dependent. Pin every current
    // ScanSpread call site's plan free of them; sites whose spread is
    // hidden behind an eager checkpoint pass the contains-guard
    // trivially (their strip stages are pinned via the helper frames
    // below).
    val spreadSites = Seq("bp01_boilerplate_ngrams", "tok04_bpe_deep_apply",
      "cp02_curation_v2", "cp07_training_file", "ref01_reference_e2e")
    def audit(name: String, p: String): Unit =
      if (p.contains("RoundRobinPartitioning")) {
        assert(!p.contains("monotonically_increasing_id"),
          s"$name: monotonically_increasing_id above a spread\n$p")
        assert("(?<![a-z_])first\\(".r.findFirstIn(p).isEmpty,
          s"$name: first() above a spread\n$p")
        assert("(?<![a-z_])last\\(".r.findFirstIn(p).isEmpty,
          s"$name: last() above a spread\n$p")
        if (p.contains("collect_list"))
          assert(p.contains("sort_array(collect_list"),
            s"$name: unsorted collect_list above a spread\n$p")
      }
    // formatted mode: ObjectHashAggregate's toString hides its result
    // expressions (where sort_array(collect_list...) lives), so the
    // audit must read the detailed form
    spreadSites.foreach(n => audit(n, formatted(n)))
    // the checkpoint-hidden strip stage, audited directly
    audit("cp02Cleaned",
      graft.analytics.CurationPipeline.cp02Cleaned(spark, sf0001)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
  }

  test("ScanSpread: identity when sortBeforeRepartition is disabled") {
    // retry determinism of a round-robin exchange relies on Spark's
    // sort-before-repartition; if a session disables it (e.g. via the
    // AB-conf seam) the helper must refuse to spread rather than trade
    // correctness for parallelism (ADVICE r17).
    val df = spark.read.parquet(s"$sf0001/documents.parquet")
    val spread = graft.analytics.ScanSpread.forMapPass(df)
    assert(spread.queryExecution.optimizedPlan.toString
             .contains("Repartition"),
      "guarded spread should fire on the one-split fixture scan")
    GraftSession.withConfs(spark, "spark.sql.execution.sortBeforeRepartition" -> "false") {
      val noSpread = graft.analytics.ScanSpread.forMapPass(df)
      assert(!noSpread.queryExecution.optimizedPlan.toString
               .contains("Repartition"),
        "spread must fall back to identity without sortBeforeRepartition")
    }
  }
}
