package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up probe: materializes an N×-replicated copy of the
  * `documents` / `embeddings` tables (ids offset per replica, text
  * salted per replica so replicas are near- but not exact duplicates —
  * the realistic high-dup-rate regime) and times the operators whose
  * cost could grow superlinearly: full-corpus MinHash+LSH, SimHash,
  * clustering, exact dedup, batch ANN.
  *
  * The point is the EXPONENT, not the absolute number: an operator
  * whose time grows ~N× when the corpus grows N× survives the 100 TB
  * scale-up; one that grows N²× does not.
  *
  * Usage: runMain graft.ScaleProbe [baseSfDir] [factor] [workDir]
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val workDir = args.lift(2).getOrElse(
      s"${sys.props("java.io.tmpdir")}/graft-scale$factor")
    val spark = GraftSession()

    val rawNames = if (args.length > 3) args.drop(3).toSet else Set.empty[String]
    // stageonly: materialize every table group and run NO probes — used
    // to build a complete N× directory for a full-registry Bench run.
    // distinctsalt: salt every WORD with the replica id instead of
    // appending one suffix token, and re-draw replica embeddings as
    // deterministic hash noise — replicas share no shingles and no
    // near-dup vectors, so the staged corpus models REALISTIC growth
    // (N× data at a constant dup rate) rather than the dup-stress shape
    // the near-dup salt deliberately creates for the dd02/dd03 probes.
    val stageOnly = rawNames.contains("stageonly")
    val distinctSalt = rawNames.contains("distinctsalt")
    val names = rawNames - "stageonly" - "distinctsalt"
    def enabled(n: String) =
      !stageOnly && (names.isEmpty || names.contains(n))

    // multi-column replication with EXPLICIT per-column strides: a FK
    // column must shift by its referenced DIMENSION's stride (max key
    // + 1 of the dimension), never by its own max — max(fact FK) only
    // equals max(dim key) when the top dimension row happens to be
    // referenced, so self-derived FK strides would silently break the
    // replica⋈replica invariant on any fixture where it isn't (e.g.
    // TPC-H's unreferenced custkeys). With lockstep strides each
    // replica joins only with itself and results scale exactly N×.
    def maxPlus1(df: DataFrame, c: String): Long =
      df.agg(max(col(c)).cast("long")).head().getLong(0) + 1L
    def replicate(df: DataFrame, strides: Seq[(String, Long)],
                  salt: Option[String]): DataFrame = {
      val k = explode(sequence(lit(0), lit(factor - 1))).as("__k")
      val rep0 = df.select(col("*"), k)
      val rep = strides.foldLeft(rep0) { case (acc, (c, stride)) =>
        acc.withColumn(c, (col(c).cast("long") + col("__k") * stride)
          .cast(df.schema(c).dataType))
      }
      salt.fold(rep.drop("__k")) { textCol =>
        if (distinctSalt)
          // every word carries the replica id → replicas share zero
          // shingles (vocabulary grows N×, constant dup rate)
          rep.withColumn(textCol,
              regexp_replace(col(textCol), lit("(\\S+)"),
                             concat(lit("$1r"), col("__k"))))
            .drop("__k")
        else
          // distinct replica suffix: near-dup of the original, so fuzzy
          // dedup has real work (dup-stress crawl shape)
          rep.withColumn(textCol,
              concat(col(textCol), lit(" replica"), col("__k")))
            .drop("__k")
      }
    }
    // single-key convenience: stride from the column's own max (correct
    // only for a table's OWN key / standalone ids)
    def replicate1(df: DataFrame, idCols: Seq[String],
                   salt: Option[String]): DataFrame =
      replicate(df, idCols.map(c => c -> maxPlus1(df, c)), salt)
    def stage(name: String, df: => DataFrame): Unit =
      // spread each staged table over >= `factor` files: a real N×
      // corpus arrives as many input splits, and a probe that compacts
      // it into one 50 MB parquet file would hand explode-amplified
      // text pipelines (dq03/dc01/bp01) a SINGLE input task — measuring
      // the fixture's file layout, not the operator's plan
      df.repartition(math.max(factor, GraftSession.cpus))
        .write.mode("overwrite").parquet(s"$workDir/$name.parquet")

    // inputs are replicated lazily, per enabled probe group — a
    // relational-only run shouldn't pay for a 10x documents copy
    val wantsDocs = stageOnly ||
      Seq("dd01", "dd02", "dd03", "dd06", "tx08", "dq03",
          "dc01", "bp01", "id01", "dm04", "cp01",
          "st11", "dm05", "mm04", "tx10", "dd08",
          "tx11", "dm06", "mm05", "dq04", "bp02", "cp02",
          "emb02", "dm07", "lm01", "id03", "cp03", "st15",
          "mm06", "mm07", "mm08", "cp04", "st20").exists(enabled)
    val wantsEmb = stageOnly ||
      Seq("ivf", "ss04", "ss05", "ss06", "sem01", "ss09", "ss10",
          "ss11", "st13", "emb02", "st20").exists(enabled)
    val wantsEvents = stageOnly ||
      Seq("aj01", "st03", "st08", "st12", "rj01").exists(enabled)
    val wantsRel = stageOnly ||
      Seq("q06", "q14", "q17", "q20", "x07", "dq01", "partsweep")
      .exists(enabled)

    if (wantsDocs)
      stage("documents", replicate1(
        spark.read.parquet(s"$baseDir/documents.parquet"),
        Seq("doc_id"), Some("text")))
    if (wantsEmb || wantsDocs) {
      val emb0 = spark.read.parquet(s"$baseDir/embeddings.parquet")
      val embRep = replicate1(emb0, Seq("vec_id"), None)
      val emb =
        if (!distinctSalt) embRep
        else {
          // replicas (vec_id >= original stride) re-drawn as
          // deterministic hash noise: ~orthogonal new points in 64-dim,
          // not N exact copies of every original — constant near-dup
          // rate as the corpus grows
          val stride = maxPlus1(emb0, "vec_id")
          embRep.withColumn("embedding", expr(
            s"""CASE WHEN vec_id < ${stride}L THEN embedding
               |ELSE transform(embedding, (x, i) -> CAST(
               |  (pmod(xxhash64(concat(cast(vec_id AS string), ':',
               |                        cast(i AS string))), 2001) - 1000)
               |  / 1000.0 AS FLOAT)) END""".stripMargin))
        }
      stage("embeddings", emb)
    }
    if (wantsEvents) {
      // events scale by adding USERS (ids offset per replica), keeping
      // per-user event density constant — the realistic growth axis for
      // sessionization / as-of / window pipelines
      val ev0 = graft.queries.QueryDef.eventsTable(spark, baseDir)
      stage("events", replicate1(ev0, Seq("event_id", "user_id"), None))
    }
    if (wantsRel) {
      // TPC-H-ish fact/dim graph at N×: every FK column shifts by its
      // referenced dimension's key stride, so fact and dim replicas
      // stay in lockstep; region/nation stay as true dimensions
      val orders0 = spark.read.parquet(s"$baseDir/orders.parquet")
      val customer0 = spark.read.parquet(s"$baseDir/customer.parquet")
      val part0 = spark.read.parquet(s"$baseDir/part.parquet")
      val supplier0 = spark.read.parquet(s"$baseDir/supplier.parquet")
      val orderKey = maxPlus1(orders0, "o_orderkey")
      val custKey = maxPlus1(customer0, "c_custkey")
      val partKey = maxPlus1(part0, "p_partkey")
      val suppKey = maxPlus1(supplier0, "s_suppkey")
      stage("orders", replicate(orders0,
        Seq("o_orderkey" -> orderKey, "o_custkey" -> custKey), None))
      stage("lineitem", replicate(
        spark.read.parquet(s"$baseDir/lineitem.parquet"),
        Seq("l_orderkey" -> orderKey, "l_partkey" -> partKey,
            "l_suppkey" -> suppKey), None))
      stage("customer", replicate(customer0,
        Seq("c_custkey" -> custKey), None))
      stage("part", replicate(part0, Seq("p_partkey" -> partKey), None))
      stage("supplier", replicate(supplier0,
        Seq("s_suppkey" -> suppKey), None))
      Seq("region", "nation").foreach(t =>
        stage(t, spark.read.parquet(s"$baseDir/$t.parquet")))
    }

    def time(name: String)(body: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = graft.analytics.Materialize.scoped(body)
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"""{"probe":"$name","sec":$dt%.2f,"rows":$n,"factor":$factor}""")
      GraftSession.release(spark)
    }

    import graft.analytics.{Dedup, IvfIndex, Similarity}
    import graft.queries.QueryDef.table

    // Registry-entry probes are forced through the NOOP sink, not
    // count(): column pruning under a count deletes exactly the
    // map-side work (folds, regex projections, whole Window nodes)
    // these probes exist to measure — dq03's "0.5 s at 10×" and dd08's
    // "1 s" were scan skeletons. The trailing count (cheap, pruned) is
    // only for the rows field of the probe line.
    def probeEntry(qn: String): Unit =
      if (enabled(qn.takeWhile(_ != '_')) || enabled(qn)) time(qn) {
        val df = SparkEntry.queries(qn)(spark, workDir)
        df.write.format("noop").mode("overwrite").save()
        df.count()
      }

    probeEntry("dd01_exact_dedup")
    if (enabled("dd02")) time("dd02_minhash_lsh") {
      Dedup.minhashPairs(table(spark, workDir, "documents"),
                         shingleN = 3, minJaccard = 0.3).count()
    }
    if (enabled("dd03")) time("dd03_simhash") {
      Dedup.simhashPairs(spark, table(spark, workDir, "documents"),
                         maxHamming = 7).count()
    }
    if (enabled("dd06")) time("dd06_clusters") {
      Dedup.clusterPairs(
        Dedup.minhashPairs(table(spark, workDir, "documents"),
                           shingleN = 3, minJaccard = 0.3)
          .select("id_a", "id_b")).count()
    }
    if (enabled("ivf")) time("ivf_build") {
      IvfIndex.ensure(spark, workDir, IvfIndex.DefaultLists); 1L
    }
    if (enabled("ss04")) time("ss04_batch_ann") {
      Similarity.batchAnnTopK(spark, workDir, queryMaxId = 32L, k = 10,
        nLists = IvfIndex.DefaultLists, nProbe = IvfIndex.DefaultLists).count()
    }
    if (enabled("ss05")) {
      // codebook training is offline by the operator's contract (bench
      // stages it in warm-up) — time it separately, like ivf_build
      time("pq_fit") { Similarity.pqCodebooksFor(spark, workDir); 1L }
      time("ss05_pq_ann") {
        graft.analytics.PqIndex.pqTopKRefined(
          table(spark, workDir, "embeddings"),
          Similarity.pqCodebooksFor(spark, workDir), queryId = 0L, k = 10).count()
      }
    }
    if (enabled("ss06")) time("ss06_ivfpq_ann") {
      Similarity.ivfPqTopK(spark, workDir, queryId = 0L, k = 10,
        nLists = IvfIndex.DefaultLists, nProbe = 4).count()
    }
    probeEntry("tx08_tfidf_top_terms")
    probeEntry("aj01_asof_join")
    probeEntry("rj01_range_join")
    probeEntry("st03_session_window")
    probeEntry("st08_sessionize")
    // round-4 curation surface at N×: repetition stats (explode+window),
    // decontamination (broadcast n-gram join), boilerplate census
    // (gram groupBy), incremental gate (batch semi-join), epoch shuffle
    // (per-shard windows), and semantic dedup (within-cluster pairwise
    // over the replicated index)
    Seq("dq03_repetition_stats", "dc01_decontaminate",
        "bp01_boilerplate_ngrams", "id01_incremental_gate",
        "dm04_epoch_shuffle", "cp01_curation_manifest",
        // round-5 additions: cross-batch gram gate (two-batch fold),
        // running-counts temperature mixture, real PNG codec round
        // trip, and the de-windowed vocabulary curve
        "st11_incremental_gram_gate", "dm05_streaming_temperature",
        "mm04_png_decode", "tx10_vocab_coverage",
        "dd08_dup_spans",
        // late round-5 additions: collocation mining (two dictionary
        // joins), token-budget mixture (sharded running sums), codec
        // resize (decode + pool per image)
        "tx11_collocations", "dm06_token_budget_mixture",
        "mm05_resize_pool", "dq04_adaptive_quality_gate",
        "bp02_boilerplate_strip", "cp02_curation_v2",
        "emb02_cluster_terms", "dm07_upsample_repeats",
        // LM-familiarity bins: two dictionary-keyed shuffles + tiny
        // per-language cutoff broadcast — the probe checks the
        // dictionary join, not the corpus, is the growth term
        "lm01_familiarity_bins",
        // curriculum ordering: lm01's shuffles + per-(phase, shard)
        // rank windows — 48 window partitions, no global funnel
        "cp03_curriculum_order",
        // familiarity routing: the fixed src19 batch scored against the
        // N× corpus' model — the corpus-side dictionary/cutoffs are the
        // epoch artifact, the batch side broadcasts onto them
        "st15_familiarity_route",
        // per-partition-resolved JDK codecs (WAV, multi-page TIFF, and
        // the tolerant WAV gate): the probes pin that codec work stays
        // map-only and embarrassingly parallel — the AudioSystem/
        // ImageIO registry locks these ops originally serialized on
        // would show up here as a flat-at-32-threads ceiling
        "mm06_wav_decode", "mm07_tiff_frames",
        "mm08_codec_gate",
        // output layout planner: per-source stats + map-only bucket —
        // the probe pins that growth lands on the map side, not the plan
        "cp04_layout_plan").foreach(probeEntry)
    // int8 scan-path ANN + MIPS over the replicated embeddings
    // (map-only + TakeOrderedAndProject — the probes check the scan
    // stays the only N-term), streaming ANN serving in batch form, and
    // the stateful streaming funnel in batch mode (state scales with
    // USERS, which is the replication axis for events)
    Seq("ss09_int8_topk", "ss10_mips_topk", "st13_ann_serving",
        "st12_funnel_state").foreach(probeEntry)
    if (enabled("ss11")) {
      // the codes build is offline by the index contract — stage it
      // untimed, then probe the serve path alone
      time("int8_build") {
        graft.analytics.Int8Index.ensure(spark, workDir); 1L
      }
      probeEntry("ss11_int8_indexed")
    }
    if (enabled("id02")) {
      // The ingest-gate scale claim measured directly: gate a FIXED
      // batch (baseDir's src19 docs) against the 1× and the N× corpus.
      // The exact gate (id01 shape) re-scans corpus grams per batch —
      // its time must grow ~N×; the bloom gate probes a prebuilt
      // filter — its per-batch time must stay FLAT (the filter build,
      // timed separately, is the once-per-epoch cost).
      import graft.analytics.{BloomGramIndex, DataQuality}
      def batch = table(spark, baseDir, "documents")
        .filter(col("source") === "src19")
      def corpusGrams(dir: String) = DataQuality.gramKeys(
        table(spark, dir, "documents").filter(col("source") =!= "src19"))
      def force(df: DataFrame): Long = {
        df.write.format("noop").mode("overwrite").save(); df.count()
      }
      time("id02_exact_1x_corpus") {
        force(DataQuality.gramGate(batch, corpusGrams(baseDir)))
      }
      time(s"id02_exact_${factor}x_corpus") {
        force(DataQuality.gramGate(batch, corpusGrams(workDir)))
      }
      time("id02_bloom_build_1x") {
        BloomGramIndex.ensure(spark, baseDir); 1L
      }
      time(s"id02_bloom_build_${factor}x") {
        BloomGramIndex.ensure(spark, workDir); 1L
      }
      time("id02_bloom_1x_filter") {
        force(DataQuality.bloomGate(spark, batch,
          BloomGramIndex.ensure(spark, baseDir)))
      }
      time(s"id02_bloom_${factor}x_filter") {
        force(DataQuality.bloomGate(spark, batch,
          BloomGramIndex.ensure(spark, workDir)))
      }
    }
    if (enabled("id03")) {
      // sharded family: same fixed-batch design as id02 — the probe
      // must stay flat as the corpus (and so each shard file) grows,
      // and within measurement noise of the single-filter gate (the
      // routing modulo is the only extra per-row work)
      import graft.analytics.{BloomGramIndex, DataQuality}
      def batch = table(spark, baseDir, "documents")
        .filter(col("source") === "src19")
      def force(df: DataFrame): Long = {
        df.write.format("noop").mode("overwrite").save(); df.count()
      }
      val k = DataQuality.ShardedK
      time("id03_sharded_build_1x") {
        BloomGramIndex.ensureSharded(spark, baseDir, k); 1L
      }
      time(s"id03_sharded_build_${factor}x") {
        BloomGramIndex.ensureSharded(spark, workDir, k); 1L
      }
      time("id03_sharded_1x_gate") {
        force(DataQuality.bloomGateSharded(spark, batch,
          BloomGramIndex.ensureSharded(spark, baseDir, k), k))
      }
      time(s"id03_sharded_${factor}x_gate") {
        force(DataQuality.bloomGateSharded(spark, batch,
          BloomGramIndex.ensureSharded(spark, workDir, k), k))
      }
    }
    if (enabled("sem01")) {
      // sem01's scale contract: cluster count grows with the corpus
      // (k ∝ N), keeping per-cluster pairwise work flat. Probing N×
      // data with the 1× cluster count would measure an N²/cluster
      // blowup the operator's own documentation rules out.
      import graft.analytics.IvfIndex
      val lists = IvfIndex.DefaultLists * factor
      time("ivfN_build") { IvfIndex.ensure(spark, workDir, lists); 1L }
      time("sem01_semdedup") {
        Similarity.semDedup(IvfIndex.readAssignments(spark,
          IvfIndex.ensure(spark, workDir, lists)), tau = 0.35).count()
      }
    }
    if (enabled("st20")) {
      // streaming-curation capstone at N×: the full two-batch chain
      // over the DUP-HEAVY staged corpus (the default near-dup salt —
      // the worst case for the banded gate's bucket census), timed per
      // stage AND end-to-end at 1× and N× — the composition-level
      // check that the online census caps hold when the stages stack,
      // not just per stage in isolation.
      import graft.analytics.{DataQuality, MinHashBandIndex}
      def force(df: DataFrame): Long = {
        df.write.format("noop").mode("overwrite").save(); df.count()
      }
      for (dir <- Seq(baseDir, workDir)) {
        val tag = if (dir == baseDir) "1x" else s"${factor}x"
        time(s"st20_seed_build_$tag") {
          MinHashBandIndex.ensure(spark, dir); 1L
        }
        val docs = table(spark, dir, "documents")
        val emb = table(spark, dir, "embeddings")
        val arr = MinHashBandIndex.arrivalsOf(docs)
        val b1 = arr.filter(col("doc_id") % 20 === 0)
        val b2 = arr.filter(col("doc_id") % 20 =!= 0)
        val seed = MinHashBandIndex.ensure(spark, dir)
        val seedBands = spark.read.parquet(s"$seed/bands")
          .select("corpus_id", "band", "key", "kp")
        val seedSh = spark.read.parquet(s"$seed/shingles")
        time(s"st20_quality_$tag") {
          force(DataQuality.qualityFlags(
            docs.filter(col("doc_id") % 10 === 0)))
        }
        time(s"st20_ndgate_b1_$tag") {
          force(MinHashBandIndex.gateFrames(spark, seedBands, seedSh, b1))
        }
        val g1 = graft.analytics.Materialize.once(
          MinHashBandIndex.gateFrames(spark, seedBands, seedSh, b1))
        val acc1 = graft.analytics.Materialize.once(b1.join(
          g1.filter(col("keep") === 1).select("doc_id"), Seq("doc_id")))
        time(s"st20_ndgate_b2_$tag") {
          force(MinHashBandIndex.gateFrames(spark,
            seedBands.unionByName(MinHashBandIndex.segmentBands(spark, acc1)),
            seedSh.unionByName(MinHashBandIndex.segmentShingles(spark, acc1)),
            b2))
        }
        time(s"st20_decon_$tag") {
          force(DataQuality.DeconIndex(
              emb.filter(col("label") === 0)
                .select(col("vec_id").as("bench_id"), col("embedding")),
              Some((DataQuality.DeconLshBands, DataQuality.DeconLshRows)))
            .drops(emb.filter(col("label") =!= 0 && col("vec_id") % 10 === 0)
              .select("vec_id", "embedding")))
        }
        time(s"st20_chain_$tag") {
          force(graft.streaming.StreamShapes
            .curationLedgerChain(spark, dir, banded = true))
        }
      }
    }
    // relational headline shapes at N× (join+filter, wide 1:N join,
    // join+full-sort, join+group+multiagg, decorrelated subquery,
    // census+anti-join) — the shuffle-heavy plans whose partitioning
    // assumptions bend first at scale
    Seq("q06_join_filter_gt", "q14_join_notnull", "q17_join_full_sort",
        "q20_join_group_multiagg", "x07_subquery_above_avg",
        "dq01_quality_gate").foreach(probeEntry)
    // shuffle-partition sensitivity: the same shuffle-bound queries
    // timed at several initial partition counts (AQE coalesces from
    // this number — too low starves parallelism before AQE can split,
    // too high pays scheduling overhead). Prints one JSON line per
    // (query, partitions) sample.
    if (enabled("partsweep")) {
      val sweep = Seq("32", "64", "128", "256")
      for (p <- sweep;
           qn <- Seq("q14_join_notnull", "q17_join_full_sort",
                     "q20_join_group_multiagg")) {
        GraftSession.withConfs(spark, "spark.sql.shuffle.partitions" -> p) {
          time(s"$qn@p$p") {
            val df = SparkEntry.queries(qn)(spark, workDir)
            df.write.format("noop").mode("overwrite").save()
            df.count()
          }
        }
      }
    }
    spark.stop()
  }
}
