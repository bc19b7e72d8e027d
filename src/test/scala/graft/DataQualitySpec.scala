package graft

import org.apache.spark.sql.functions._

/** Semantic + plan-shape pins for the curation operators
  * (graft.analytics.DataQuality): the properties the DuckDB oracle
  * can't see — internal consistency of the flags, the decontamination
  * guarantee, scrub completeness, and the map-only / broadcast plan
  * shapes that make these 100 TB passes. */
class DataQualitySpec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf0001)

  test("dq02: keep = conjunction of all rule flags, flags are 0/1") {
    val rows = run("dq02_quality_filters").collect()
    assert(rows.nonEmpty)
    val flagCols = Seq("f_word_count", "f_mean_word_len", "f_stopword",
                       "f_no_brace", "f_no_lorem", "f_low_repetition")
    rows.foreach { r =>
      val flags = flagCols.map(c => r.getAs[Int](c))
      flags.foreach(f => assert(f == 0 || f == 1))
      assert(r.getAs[Int]("keep") == flags.product,
             s"keep mismatch at doc ${r.getAs[Long]("doc_id")}")
    }
    // the fixture must exercise both sides of the gate
    assert(rows.exists(_.getAs[Int]("keep") == 1))
    assert(rows.exists(_.getAs[Int]("keep") == 0))
  }

  test("dq03: top word is the true per-doc mode (brute recount)") {
    val out = run("dq03_repetition_stats")
      .select("doc_id", "top_word", "top_word_char_frac").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter(col("doc_id") < 50)
      .select("doc_id", "text").collect()
    docs.foreach { r =>
      val words = r.getString(1).split("\\s+").filter(_.nonEmpty)
      val counts = words.groupBy(identity).view.mapValues(_.length)
      val best = counts.toSeq.minBy { case (w, n) => (-n, w) }
      val (gotWord, gotFrac) = out(r.getLong(0))
      assert(gotWord == best._1,
             s"doc ${r.getLong(0)}: got $gotWord want ${best._1}")
      val expFrac = BigDecimal(best._2.toLong * best._1.length.toLong) /
        BigDecimal(words.map(_.length).sum)
      assert(math.abs(gotFrac - expFrac.toDouble) < 1e-4)
    }
  }

  test("dc01: every flagged doc truly shares a 5-gram with the benchmark") {
    val flagged = run("dc01_decontaminate").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged.nonEmpty, "fixture should contain contamination")
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "source", "text").collect()
    def grams(t: String): Set[String] = {
      val w = t.split("\\s+").filter(_.nonEmpty)
      if (w.length < 5) Set.empty
      else w.sliding(5).map(_.mkString(" ")).toSet
    }
    val bench = docs.filter(_.getString(1) == "src0")
      .flatMap(r => grams(r.getString(2))).toSet
    docs.filter(_.getString(1) != "src0").foreach { r =>
      val overlap = grams(r.getString(2)).intersect(bench).size
      val expected = if (overlap > 0) Some(overlap.toLong) else None
      assert(flagged.get(r.getLong(0)) == expected,
             s"doc ${r.getLong(0)}: overlap $overlap vs ${flagged.get(r.getLong(0))}")
    }
  }

  test("pii01: scrub removes every digit; pseudonyms are stable per user") {
    val out = run("pii01_scrub_logs").collect()
    out.foreach { r =>
      assert(!r.getAs[String]("scrubbed").exists(_.isDigit),
             s"digits survive in event ${r.getAs[Long]("event_id")}")
    }
    // same user -> same pseudonym; pseudonym never reveals the raw id
    val byUser = spark.read.parquet(s"$sf0001/events.parquet")
      .select("event_id", "user_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pseudo = out.map(r =>
      byUser(r.getAs[Long]("event_id")) -> r.getAs[String]("user_pseudo"))
    pseudo.groupBy(_._1).values.foreach { ps =>
      assert(ps.map(_._2).distinct.length == 1)
    }
    pseudo.foreach { case (uid, p) =>
      assert(!p.drop(2).contains(uid.toString) || uid < 10)
    }
  }

  test("bloom chain across epochs: replays identical, keep ⊆ mirror-exact keep at every prefix, link sizes constant") {
    // the id02/st14 chain run for 5 epochs from a cold filter, with
    // every link REPLAYED: (a) a replayed gate emits identical
    // decisions and a replayed merge writes identical filter bytes
    // (the st11 idempotence discipline, here across the whole chain);
    // (b) at every prefix the bloom gate's keep set is a SUBSET of an
    // exact gate probing the mirror gram table fed with the same
    // accepted docs — bloom error stays one-sided link after link,
    // never leaking a doc the exact gate would drop; (c) every filter
    // file in the chain has the seed's byte size — the fixed-size-state
    // contract that makes the design 100 TB-viable.
    import graft.analytics.{BloomGramIndex, DataQuality}
    import graft.queries.QueryDef
    import spark.implicits._
    val docs = QueryDef.table(spark, sf0001, "documents")
    val dir = java.nio.file.Files.createTempDirectory("bloom-chain").toString
    val est = 20000L
    val bits = math.ceil(est * 9.585).toLong
    var prev = BloomGramIndex.emptyFilter(s"$dir/seed.bf", est, bits)
    val seedSize = new java.io.File(prev).length()
    var exactG = spark.emptyDataFrame.select(lit("").as("g")).filter(lit(false))
    def gateMap(df: org.apache.spark.sql.DataFrame): Map[Long, Int] =
      df.collect().map(r =>
        r.getAs[Long]("doc_id") -> r.getAs[Int]("keep")).toMap
    for (b <- 0 until 5) {
      val batch = docs.filter(col("doc_id") % 5 === b)
      val bloomKeep = gateMap(DataQuality.bloomGate(spark, batch, prev))
      // (a) replayed gate: identical decisions
      assert(gateMap(DataQuality.bloomGate(spark, batch, prev)) == bloomKeep,
             s"epoch $b: replayed gate diverged")
      // (b) mirror-exact gate over the same inserted gram trajectory
      val newG = DataQuality.gramKeys(batch).distinct()
      val per = newG.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      val hits = newG.join(exactG.distinct(), Seq("g"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
      val exactKeep = gateMap(batch.select("doc_id")
        .join(per, Seq("doc_id"), "left").join(hits, Seq("doc_id"), "left")
        .na.fill(0L, Seq("n_grams", "n_hit"))
        .select(col("doc_id"),
                (col("n_hit") * lit(1.0) /
                 greatest(col("n_grams"), lit(1L)) < 0.5)
                  .cast("int").as("keep")))
      bloomKeep.foreach { case (id, k) =>
        assert(k <= exactKeep(id),
               s"epoch $b: doc $id leaked past the bloom gate " +
               s"(bloom keep=$k, exact keep=${exactKeep(id)})")
      }
      // advance BOTH chains with the bloom-accepted docs
      val accepted = batch.select("doc_id").join(
        bloomKeep.filter(_._2 == 1).keys.toSeq.toDF("doc_id"), Seq("doc_id"))
      val accGrams = DataQuality.gramKeys(batch)
        .join(accepted, Seq("doc_id"), "left_semi").select("g")
      val next = BloomGramIndex.merged(spark, prev, accGrams,
                                       s"$dir/filter_$b.bf")
      // (a) replayed merge: identical bytes
      BloomGramIndex.merged(spark, prev, accGrams, s"$dir/replay_$b.bf")
      assert(java.util.Arrays.equals(
               java.nio.file.Files.readAllBytes(
                 java.nio.file.Paths.get(next)),
               java.nio.file.Files.readAllBytes(
                 java.nio.file.Paths.get(s"$dir/replay_$b.bf"))),
             s"epoch $b: replayed merge wrote different filter bytes")
      // (c) fixed-size state per link
      assert(new java.io.File(next).length() == seedSize,
             s"epoch $b: filter grew beyond the seed sizing")
      exactG = exactG.union(accGrams).distinct().localCheckpoint()
      prev = next
    }
  }

  test("bloom chain through a non-file: scheme: merged, sizing, pruneChain, replayed rewrite") {
    // filter writes, sizing reads and retention go through Hadoop FS;
    // the scheme's rename never overwrites (as on HDFS), so rewriting
    // an existing version (a replayed batch) needs its own step
    import graft.analytics.BloomGramIndex
    import org.apache.spark.util.sketch.BloomFilter
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftlocal.impl", classOf[SchemeLocalFs].getName)
    val local = java.nio.file.Files.createTempDirectory("bloom-scheme").toString
    val remote = s"graftlocal://$local"
    def bytes(v: Int): Array[Byte] =
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$local/filter_$v.bf"))
    def hash(g: String): Long =
      spark.range(1).select(xxhash64(lit(g))).head().getLong(0)
    BloomGramIndex.emptyFilter(s"$remote/filter_0.bf", 1024L, 16384L)
    (1 to 3).foreach { v =>
      BloomGramIndex.merged(spark, s"$remote/filter_${v - 1}.bf",
        Seq(s"gram$v").toDF("g"), s"$remote/filter_$v.bf")
      assert(BloomGramIndex.sizing(s"$remote/filter_$v.bf") == ((1024L, 16384L)))
    }
    val f3 = bytes(3)
    assert((1 to 3).forall(v =>
      BloomFilter.readFrom(f3).mightContainLong(hash(s"gram$v"))))
    // a replayed batch rewrites identical bytes over the existing file
    BloomGramIndex.merged(spark, s"$remote/filter_2.bf",
      Seq("gram3").toDF("g"), s"$remote/filter_3.bf")
    assert(java.util.Arrays.equals(bytes(3), f3))
    // a rewrite with other content replaces the file, never appends to it
    BloomGramIndex.merged(spark, s"$remote/filter_2.bf",
      Seq("gram4").toDF("g"), s"$remote/filter_3.bf")
    assert(bytes(3).length == f3.length)
    assert(BloomFilter.readFrom(bytes(3)).mightContainLong(hash("gram4")))
    // keep-last-2 retention: versions 0 and 1 go with their sidecars
    assert(BloomGramIndex.pruneChain(remote) == 2)
    val left = new java.io.File(local).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).sorted.toSeq
    assert(left == Seq("filter_2.bf", "filter_2.bf.meta",
                       "filter_3.bf", "filter_3.bf.meta"), s"$left")
  }

  test("dc03: 1e5-row benchmark probe — candidate pairs bounded below the exact product") {
    // the reason dc03 exists: past ~1e5 benchmark rows dc02's exact
    // corpus x benchmark product is the cost driver. Bucket a synthetic
    // 1e5-vector benchmark with the dc03 band config and count the
    // candidate pairs the refine stage would actually score: near-
    // orthogonal pairs collide in >= 1 of the 12 bands w.p.
    // ~1-(1-0.5^4)^12 = 0.54, so the bound asserted here (< 0.7x) holds
    // with huge margin in expectation, and the probe pins that the
    // candidate count SCALES BOUNDED, not that a hint got lucky.
    import graft.analytics.DataQuality.{DeconLshBands, DeconLshRows}
    val nBits = DeconLshBands * DeconLshRows
    val mask = (1L << DeconLshRows) - 1
    val dim = 64
    val nBench = 100000L
    val bench = spark.range(nBench)
      .select(col("id").as("bench_id"), expr(
        s"""transform(sequence(0, ${dim - 1}),
           |  i -> cast((pmod(hash(id, i), 2001) - 1000) / 1000.0 as float))"""
          .stripMargin).as("embedding"))
    val corpus = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(col("label") =!= 0).select("vec_id", "embedding")
    def banded(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("__sig",
        graft.functions.VectorOps.simhashBucket(col("embedding"), nBits))
      .select(col("*"), explode(array((0 until DeconLshBands).map { b =>
        struct(lit(b).as("band"),
               shiftright(col("__sig"), b * DeconLshRows)
                 .bitwiseAND(lit(mask)).as("key"))
      }: _*)).as("bk"))
      .select(col("*"), col("bk.band").as("band"), col("bk.key").as("key"))
    val nCorpus = corpus.count()
    val pairs = banded(corpus).select("vec_id", "band", "key")
      .join(banded(bench).select("bench_id", "band", "key"),
            Seq("band", "key"))
      .select("vec_id", "bench_id").distinct().count()
    val ratio = pairs.toDouble / (nCorpus * nBench)
    assert(ratio < 0.7,
           s"prefilter prunes nothing: $pairs of ${nCorpus * nBench} " +
           f"pairs survive (${ratio}%.3f)")
  }

  test("dc03: chunked band-bucket maps are bit-identical to the single map") {
    // The map-only serve's broadcast-row bound: a bench past
    // DeconMapChunkRows splits into id-disjoint chunks, each its own
    // one-row map (~3 KB/vector => ~30 MB/row at the 10k chunk size;
    // r12's single map would have been a ~300 MB row at the Bounded
    // cap). Chunking must be INVISIBLE in the results: max-cosine is
    // associative and the chunks partition bench ids so distinct-
    // candidate counts add. Pin that by forcing 7 chunks over the
    // fixture's 56-row bench and comparing against the 1-chunk form
    // row-for-row — including n_cand, the count most sensitive to a
    // double-counted bench id leaking across chunks.
    import graft.analytics.DataQuality
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val bench = emb.filter(col("label") === 0)
      .select(col("vec_id").as("bench_id"), col("embedding"))
    val corpus = emb.filter(col("label") =!= 0)
      .select("vec_id", "embedding")
    val anchor = Some((DataQuality.DeconLshBands, DataQuality.DeconLshRows))
    val single = DataQuality.DeconIndex(bench, anchor)
    assert(single.chunks.size == 1,
           s"56-row bench should be one chunk, got ${single.chunks.size}")
    val chunked = DataQuality.DeconIndex(bench, anchor, chunkRows = 8L)
    assert(chunked.chunks.size == 7,
           s"ceil(56/8) = 7 chunks, got ${chunked.chunks.size}")
    def serve(index: DataQuality.DeconIndex) =
      index.drops(corpus)
        .orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val a = serve(single)
    val b = serve(chunked)
    assert(a.nonEmpty, "fixture should produce decon drops")
    assert(a.toSeq == b.toSeq,
           s"chunked serve diverged: ${a.length} vs ${b.length} rows")
  }

  test("dc03: native DeconScore serve ≡ the HOF band-join reference, bit for bit") {
    // The serve's hot path is one native eval per row
    // (functions.DeconScore: murmur3 sign signature + dense bucket
    // loads + primitive-loop cosine). This pins it against the
    // readable reference formulation built ONLY from column functions:
    // simhashBucket signatures on BOTH sides, an explicit band
    // equi-join for candidates, cosineNative refine, max + distinct
    // count. Any drift in the native murmur3/signature replica, slot
    // arithmetic, cosine accumulation order or distinct counting shows
    // up as a row diff here (and would collapse dc03r's recall anchor
    // at scale). Exact doubles compared — bit-compat is the contract.
    import graft.analytics.DataQuality
    import graft.analytics.DataQuality.{DeconLshBands, DeconLshRows, SemanticDeconTau}
    val nBits = DeconLshBands * DeconLshRows
    val mask = (1L << DeconLshRows) - 1
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val bench = emb.filter(col("label") === 0)
      .select(col("vec_id").as("bench_id"), col("embedding"))
    val corpus = emb.filter(col("label") =!= 0)
      .select("vec_id", "embedding")
    def banded(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("__sig",
        graft.functions.VectorOps.simhashBucket(col("embedding"), nBits))
      .select(col("*"), explode(array((0 until DeconLshBands).map { b =>
        struct(lit(b).as("band"),
               shiftright(col("__sig"), b * DeconLshRows)
                 .bitwiseAND(lit(mask)).as("key"))
      }: _*)).as("bk"))
      .select(col("*"), col("bk.band").as("band"), col("bk.key").as("key"))
    val ref = banded(corpus).select("vec_id", "embedding", "band", "key")
      .join(banded(bench)
              .select(col("bench_id"), col("embedding").as("qvec"),
                      col("band"), col("key")),
            Seq("band", "key"))
      .groupBy("vec_id")
      .agg(max(graft.functions.VectorOps.cosineNative(
             spark, col("embedding"), col("qvec"))).as("mc"),
           countDistinct(col("bench_id")).as("n_cand"))
      .filter(col("mc") >= SemanticDeconTau)
      .select(col("vec_id"), round(col("mc"), 6).as("max_cand_sim"),
              col("n_cand"))
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val native = DataQuality.DeconIndex(bench, Some((DeconLshBands, DeconLshRows)))
      .drops(corpus)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(ref.nonEmpty, "fixture should produce decon drops")
    assert(native.toSeq == ref.toSeq,
           s"native serve diverged from HOF reference: " +
           s"${native.length} vs ${ref.length} rows; " +
           s"first diff ${native.toSeq.diff(ref.toSeq).take(3)}")
  }

  test("dc03: DeconScore generated code ≡ interpreted eval, row for row") {
    // r13 gave DeconScore a doGenCode (the serve was the one hot-path
    // expression still on CodegenFallback — the DeconCrossover probe
    // measured the interpreted eval at ~5-10× the per-op cost of the
    // codegen'd exact crossJoin). The generated Java must be the same
    // arithmetic statement for statement: force the serve through
    // CODEGEN_ONLY and NO_CODEGEN expression factories and compare the
    // full scored frame (including null mc rows and n_cand) exactly.
    import graft.analytics.DataQuality
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val bench = emb.filter(col("label") === 0)
      .select(col("vec_id").as("bench_id"), col("embedding"))
    val corpus = emb.filter(col("label") =!= 0)
      .select("vec_id", "embedding")
    val index = DataQuality.DeconIndex(bench,
      Some((DataQuality.DeconLshBands, DataQuality.DeconLshRows)), once = true)
    def serveDf() = index.scored(corpus).orderBy("vec_id")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)), r.getLong(2)))
      .toSeq
    // factoryMode only switches the UnsafeProjection/MutableProjection
    // factories — since DeconScore stopped extending CodegenFallback
    // (r13), the scoring Project collapses into a WholeStageCodegen
    // stage regardless, so NO_CODEGEN alone would still run the
    // generated Java and never touch nullSafeEval (the r13 form of
    // this pin was vacuous — ADVICE r13). The interpreted leg must
    // ALSO disable whole-stage codegen, and each leg asserts from the
    // executed plan that its path is the one actually running.
    // hermetic plans: a lingering cache from ANOTHER suite (e.g. a
    // streaming test's emb.persist) would be substituted into these
    // legs as an InMemoryRelation whose STORED printout keeps its
    // original `*(1)` codegen markers — a false positive for the
    // string check below regardless of how this query actually runs
    // (surfaced by suite-order shuffling, r15)
    spark.catalog.clearCache()
    val fmKey = "spark.sql.codegen.factoryMode"
    val wsKey = "spark.sql.codegen.wholeStage"
    val fmBefore = spark.conf.getOption(fmKey)
    val wsBefore = spark.conf.getOption(wsKey)
    def restore(): Unit = {
      fmBefore.fold(spark.conf.unset(fmKey))(spark.conf.set(fmKey, _))
      wsBefore.fold(spark.conf.unset(wsKey))(spark.conf.set(wsKey, _))
    }
    // plans are checked AFTER the collect: under AQE the pre-execution
    // plan string is the un-wrapped initial plan (no codegen stages
    // yet); the final plan marks codegen'd spans with `*(n)`.
    def codegenSpans(df: org.apache.spark.sql.DataFrame): Boolean = {
      val p = df.queryExecution.executedPlan.toString
      p.contains("WholeStageCodegen") || p.contains("*(")
    }
    val gen =
      try {
        spark.conf.set(fmKey, "CODEGEN_ONLY")
        val df = serveDf()
        val out = rows(df)
        assert(codegenSpans(df),
               "generated leg should run inside whole-stage codegen")
        out
      } finally restore()
    val interp =
      try {
        spark.conf.set(fmKey, "NO_CODEGEN")
        spark.conf.set(wsKey, "false")
        val df = serveDf()
        val out = rows(df)
        assert(!codegenSpans(df),
               "interpreted leg must not run generated Java: with " +
                 "wholeStage off and NO_CODEGEN factories the serve " +
                 "goes through nullSafeEval\n" +
                 df.queryExecution.executedPlan.toString.take(5000))
        out
      } finally restore()
    assert(gen.nonEmpty && gen.exists(_._2.isDefined),
           "fixture should score some candidates")
    assert(gen == interp,
           s"codegen diverged from interpreted eval: first diff " +
           s"${gen.diff(interp).take(3)} / ${interp.diff(gen).take(3)}")
  }

  test("decon crossover: selectivity config on the clustered fixture — " +
       "banded ⊆ exact, strong stratum recalled, candidates pruned") {
    // The parameterized (bands × rows) serve behind graft.DeconCrossover
    // (FIXTURES.md §D). On the mixture-of-centroids fixture the
    // contaminated stratum sits at 1/(1+σ²) ≈ 0.978 cosine, so a
    // selectivity config (6×8: per-band collision ~0.55 there, miss all
    // six ≈ 0.8 %) must (a) score every row at most at its exact max —
    // the banded max is over a candidate SUBSET, (b) recall ≥ 95 % of
    // the strong (≥ 0.9) stratum, (c) prune the candidate space hard —
    // the property hash noise denies every config. Ground truth is
    // derivable from the generator: the exact strong set IS the
    // same-cluster set (cross-cluster cosines sit 7σ below 0.9).
    import graft.analytics.{ClusteredEmbeddings, DataQuality}
    val emb = ClusteredEmbeddings
      .generate(spark, 4000L, nClusters = 400, benchOdds = 40)
      .localCheckpoint(true)
    // deterministic: a regeneration is bit-identical
    def snapshot(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2))).toSeq
    assert(snapshot(emb) == snapshot(ClusteredEmbeddings
             .generate(spark, 4000L, nClusters = 400, benchOdds = 40)),
           "generator must be deterministic")
    assert(emb.schema.map(f => (f.name, f.dataType.simpleString)) ==
           Seq("vec_id" -> "bigint", "embedding" -> "array<float>",
               "label" -> "int"),
           s"fixture schema drifted: ${emb.schema.simpleString}")
    val corpus = emb.filter(col("label") =!= 0).select("vec_id", "embedding")
    val bench = emb.filter(col("label") === 0)
      .select(col("vec_id").as("bench_id"), col("embedding"))
    val nCorpus = corpus.count()
    val nBench = bench.count()
    assert(nBench > 50 && nBench < 200, s"bench sample off: $nBench")
    val exact = corpus
      .crossJoin(broadcast(bench.select(col("embedding").as("qvec"))))
      .groupBy("vec_id")
      .agg(max(graft.functions.VectorOps.cosineNative(
             spark, col("embedding"), col("qvec"))).as("mc"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val exactStrong = exact.collect {
      case (id, mc) if mc >= 0.9 => id }.toSet
    val contaminated = ClusteredEmbeddings.contaminatedIds(emb, 400)
      .collect().map(_.getLong(0)).toSet
    assert(exactStrong == contaminated,
           s"strong stratum ≠ same-cluster set: ${exactStrong.size} vs " +
           s"${contaminated.size} (diff ${(exactStrong diff contaminated).take(3)}" +
           s" / ${(contaminated diff exactStrong).take(3)})")
    // both selectivity configs: 6×8 (deepest pruning) and the SERVING
    // config dc05 ships (DeconSelBands×DeconSelRows = 8×7, measured
    // 0.9994+ strong recall at 0.069 cand rate — FIXTURES.md §D); the
    // 8×7 floor is the registry entry's clustered-regime recall pin.
    val configs = Seq((6, 8, 0.95), (DataQuality.DeconSelBands,
                                     DataQuality.DeconSelRows, 0.98))
    configs.foreach { case (bands, rows, recallFloor) =>
      val scored = DataQuality.DeconIndex(bench, Some((bands, rows)))
        .scored(corpus)
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getDouble(1)), r.getLong(2)))
      scored.foreach { case (id, mc, _) =>
        mc.foreach(m => assert(m <= exact(id) + 1e-12,
          s"banded max above exact for $id at $bands×$rows: " +
            s"$m > ${exact(id)}")) }
      val bandedStrong = scored.collect {
        case (id, Some(mc), _) if mc >= 0.9 => id }.toSet
      assert(bandedStrong.subsetOf(exactStrong))
      val recall = bandedStrong.size.toDouble / exactStrong.size
      assert(exactStrong.nonEmpty && recall >= recallFloor,
             f"$bands×$rows strong recall $recall%.3f over " +
               s"${exactStrong.size} rows (floor $recallFloor)")
      val candRate = scored.map(_._3).sum.toDouble / (nCorpus * nBench)
      assert(candRate < 0.15,
             f"$bands×$rows should prune hard on clustered data: " +
               f"$candRate%.3f")
    }
  }

  test("banding guards: configs that pass the 63-bit check but overflow " +
       "Int slot arithmetic are rejected at both the chunk builder and the scorer") {
    // ADVICE r13: nSlots = bands << rows and the per-band slot base are
    // Int arithmetic — (2, 31) passes nBits <= 63 yet shifts into a
    // negative slot base and a silently broken bucket table. Both ends
    // of the machinery must refuse it loudly.
    import graft.analytics.DataQuality
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val bench = emb.filter(col("label") === 0)
      .select(col("vec_id").as("bench_id"), col("embedding"))
    intercept[IllegalArgumentException] {
      DataQuality.DeconIndex(bench, Some((2, 31)))
    }
    intercept[IllegalArgumentException] {
      import org.apache.spark.sql.catalyst.expressions.Literal
      graft.functions.DeconScore(Literal(1), Literal(1),
                                 nBands = 2, rowsPerBand = 31)
    }
    // the documented configs still construct
    DataQuality.DeconIndex(bench,
      Some((DataQuality.DeconSelBands, DataQuality.DeconSelRows)))
    ()
  }

  test("deconConfigFor encodes the measured crossover boundary: anchor " +
       "shape below 10^4 bench rows, selectivity config above") {
    import graft.analytics.DataQuality
    assert(DataQuality.deconConfigFor(500L) ==
           (DataQuality.DeconLshBands, DataQuality.DeconLshRows))
    assert(DataQuality.deconConfigFor(
             DataQuality.DeconAutoBenchThreshold - 1) ==
           (DataQuality.DeconLshBands, DataQuality.DeconLshRows))
    assert(DataQuality.deconConfigFor(DataQuality.DeconAutoBenchThreshold) ==
           (DataQuality.DeconSelBands, DataQuality.DeconSelRows))
    assert(DataQuality.deconConfigFor(100000L) ==
           (DataQuality.DeconSelBands, DataQuality.DeconSelRows))
    // an index built with no config carries the boundary's choice for
    // its bench's row count; an explicit config is carried as given
    def benchOf(n: Long) = spark.range(n).select(col("id").as("bench_id"),
      array(lit(1f), lit(0f)).as("embedding"))
    assert(DataQuality.DeconIndex(benchOf(500L)).config ==
           (DataQuality.DeconLshBands, DataQuality.DeconLshRows))
    assert(DataQuality.DeconIndex(
             benchOf(DataQuality.DeconAutoBenchThreshold)).config ==
           (DataQuality.DeconSelBands, DataQuality.DeconSelRows))
    assert(DataQuality.DeconIndex(benchOf(500L), Some((6, 8))).config ==
           (6, 8))
  }

  test("bp01: 30x-duplicated corpus flows the shuffled census path, counts scale exactly") {
    // dup-stress probe of the non-broadcast path: replicate documents
    // 30x under fresh doc_ids so the flagged census covers EVERY gram
    // (each original doc's grams now span >= 30 distinct docs) — the
    // shape where a forced broadcast of the census would be at its
    // worst. With the broadcast threshold off the semi-join must run
    // shuffled end-to-end, and the result is fully predictable from the
    // unstressed corpus: n_docs and n_occ scale by exactly 30.
    val reps = 30
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text")
    val maxId = docs.agg(max("doc_id")).head().getLong(0) + 1
    val stressed = (0 until reps).map { r =>
      docs.select((col("doc_id") + lit(r * maxId)).as("doc_id"), col("text"))
    }.reduce(_ union _)
    val dir = java.nio.file.Files.createTempDirectory("bp01-stress").toString
    stressed.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    GraftSession.withConfs(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val out = SparkEntry.queries("bp01_boilerplate_ngrams")(spark, dir)
      val got = out.collect()
        .map(r => r.getAs[String]("gram") ->
               (r.getAs[Long]("n_docs"), r.getAs[Long]("n_occ"))).toMap
      // expected: the unfiltered census of the ORIGINAL corpus, x30
      val words = "filter(split(text, '\\\\s+'), w -> length(w) > 0)"
      val base = docs
        .select(col("doc_id"), expr(
          s"""CASE WHEN size($words) >= 8 THEN
             |  transform(sequence(0, size($words) - 8),
             |            i -> concat_ws(' ', slice($words, i + 1, 8)))
             |ELSE cast(array() as array<string>) END""".stripMargin).as("gs"))
        .select(col("doc_id"), explode(col("gs")).as("gram"))
        .groupBy("gram")
        .agg(countDistinct("doc_id").as("d"), count(lit(1)).as("c"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      val expected = base.view
        .mapValues { case (d, c) => (d * reps, c * reps) }
        .filter(_._2._1 >= 3).toMap
      assert(got == expected,
             s"stressed census mismatch: got ${got.size} grams, " +
             s"expected ${expected.size}")
    }
  }

  test("dq05/st16: 1e5-distinct-source corpus flows the shuffled reputation path end-to-end") {
    // high-cardinality probe of the retired reputation broadcast: 1e5
    // distinct sources is far past any broadcast threshold, so with the
    // hint gone and the threshold forced off the join must run shuffled
    // — and the gate stays closed-form checkable: even-index sources
    // carry two good docs (kept), odd-index sources two brace-failing
    // docs (keep_rate 0 < SourceKeepRateMin → dropped wholesale).
    val nSrc = 100000
    val good = "the quick brown fox jumps over a lazy dog while many " +
      "small birds sing cheerful morning songs near this quiet river bank today"
    val docs = spark.range(2L * nSrc).select(
      col("id").as("doc_id"),
      concat(lit("s"), floor(col("id") / 2).cast("long")).as("source"),
      when(floor(col("id") / 2) % 2 === 0, lit(good))
        .otherwise(lit(good + " {")).as("text"))
    val dir = java.nio.file.Files.createTempDirectory("dq05-stress").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    GraftSession.withConfs(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val out = SparkEntry.queries("dq05_source_reputation")(spark, dir)
        .agg(count(lit(1)), sum("keep_final"),
             countDistinct("source"), sum("source_ok")).head()
      assert(out.getLong(0) == 2L * nSrc, s"row count: $out")
      assert(out.getLong(1) == nSrc, s"kept docs: $out")
      assert(out.getLong(2) == nSrc, s"distinct sources: $out")
      assert(out.getLong(3) == nSrc, s"source_ok docs: $out")
      // st16 shares the reputation-join shape; its two-batch gate lands
      // on the same closed form (source j's parity pair splits across
      // the batches, reputation through each batch = good(j))
      val st = SparkEntry.queries("st16_streaming_reputation")(spark, dir)
        .agg(count(lit(1)), sum("keep_final")).head()
      assert(st.getLong(0) == 2L * nSrc && st.getLong(1) == nSrc,
             s"st16 stressed gate: $st")
    }
  }

  test("bp01: every reported gram really spans >= 3 distinct docs (brute recount)") {
    val reported = run("bp01_boilerplate_ngrams").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(reported.nonEmpty)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split("\\s+").filter(_.nonEmpty))
    val counts = scala.collection.mutable.Map.empty[String, (Set[Long], Int)]
    docs.foreach { case (id, w) =>
      if (w.length >= 8) w.sliding(8).foreach { g =>
        val k = g.mkString(" ")
        val (s0, n0) = counts.getOrElse(k, (Set.empty[Long], 0))
        counts(k) = (s0 + id, n0 + 1)
      }
    }
    val expected = counts.collect {
      case (g, (ids, n)) if ids.size >= 3 => (g, ids.size.toLong, n.toLong)
    }.toSet
    assert(reported.toSet == expected)
  }

  test("bp02: strip removes exactly the positions covered by flagged grams (brute recount)") {
    // brute-force reference: recompute the >= 3-doc 8-gram census and
    // the covered position set per doc in plain Scala, then check the
    // plan's O(n) pointer fold rebuilt the same cleaned text
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split("\\s+").filter(_.nonEmpty))
    val census = scala.collection.mutable.Map.empty[String, Set[Long]]
    docs.foreach { case (id, w) =>
      w.sliding(8).filter(_.length == 8).map(_.mkString(" "))
        .foreach(g => census(g) = census.getOrElse(g, Set.empty) + id)
    }
    val flagged = census.collect { case (g, ds) if ds.size >= 3 => g }.toSet
    val expected = docs.map { case (id, w) =>
      val covered = w.sliding(8).zipWithIndex
        .filter { case (g, _) => g.length == 8 && flagged(g.mkString(" ")) }
        .flatMap { case (_, p) => p until (p + 8) }.toSet
      val kept = w.zipWithIndex.collect { case (x, j) if !covered(j) => x }
      id -> ((w.length.toLong, (w.length - kept.length).toLong,
              kept.mkString(" ")))
    }.toMap
    val out = run("bp02_boilerplate_strip").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out.keySet == expected.keySet)
    out.foreach { case (id, got) =>
      assert(got == expected(id), s"doc $id: $got vs ${expected(id)}")
    }
    // the fixture must exercise the strip (some doc loses words) AND
    // the passthrough (some doc survives verbatim)
    assert(out.values.exists(_._2 > 0))
    assert(out.values.exists(_._2 == 0L))
  }

  test("span_strip: native scan matches the interval-union reference on adversarial spans") {
    import spark.implicits._
    import graft.functions.SpanStrip
    val L = 3
    // (words, sorted starts): passthrough, empty doc, span at 0, full
    // coverage, overlapping + adjacent + duplicate starts, tail span
    // clipped by doc end, 1-word doc
    val cases: Seq[(Seq[String], Seq[Int])] = Seq(
      (Seq("a", "b", "c", "d"), Seq.empty),
      (Seq.empty, Seq.empty),
      (Seq("a", "b", "c", "d"), Seq(0)),
      (Seq("a", "b", "c"), Seq(0)),
      (Seq.tabulate(10)(i => s"w$i"), Seq(1, 2, 6)),
      (Seq.tabulate(10)(i => s"w$i"), Seq(1, 1, 4, 7)),
      (Seq("a", "b"), Seq(1)),
      (Seq("solo"), Seq.empty)
    )
    def reference(w: Seq[String], ps: Seq[Int]): Seq[String] = {
      val covered = ps.flatMap(p => p until (p + L)).toSet
      w.zipWithIndex.collect { case (x, j) if !covered(j) => x }
    }
    // codegen path: through a DataFrame plan
    val out = cases.toDF("words", "ps")
      .select(graft.functions.Natives.call(spark, "span_strip",
        col("words"), col("ps"), lit(L)).as("kept"))
      .collect().map(_.getSeq[String](0).toSeq)
    cases.zip(out).foreach { case ((w, ps), got) =>
      assert(got == reference(w, ps), s"codegen: words=$w ps=$ps")
    }
    // interpreted path: direct eval with Literal children
    import org.apache.spark.sql.catalyst.expressions.Literal
    cases.foreach { case (w, ps) =>
      val got = SpanStrip(
        Literal.create(w, org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType)),
        Literal.create(ps, org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.IntegerType)),
        Literal(L)).eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toSeq[org.apache.spark.unsafe.types.UTF8String](
          org.apache.spark.sql.types.StringType).map(_.toString)
      assert(got == reference(w, ps), s"eval: words=$w ps=$ps")
    }
  }

  test("id01: gate covers exactly the src19 batch; keep agrees with containment") {
    val rows = run("id01_incremental_gate").collect()
    val batch = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter(col("source") === "src19").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(rows.map(_.getAs[Long]("doc_id")).toSet == batch)
    rows.foreach { r =>
      val c = r.getAs[Double]("containment")
      assert(c >= 0.0 && c <= 1.0)
      assert(r.getAs[Int]("keep") == (if (c < 0.5) 1 else 0))
      assert(r.getAs[Long]("n_hit") <= r.getAs[Long]("n_grams"))
    }
  }

  test("id02: bloom gate errs one-sided only (keep subset, n_hit dominance)") {
    // the registry entry now emits the self-audit row; compare the raw
    // gate frame it audits
    val id02docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val bloom = graft.analytics.DataQuality.bloomGate(spark,
        id02docs.filter(col("source") === "src19"),
        graft.analytics.BloomGramIndex.ensure(spark, sf0001)).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_hit"),
         r.getAs[Int]("keep"))).toMap
    val exact = run("id01_incremental_gate").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_hit"),
         r.getAs[Int]("keep"))).toMap
    // both gates decide exactly the same census
    assert(bloom.keySet == exact.keySet)
    bloom.foreach { case (id, (bg, bh, bk)) =>
      val (eg, eh, ek) = exact(id)
      assert(bg == eg, s"doc $id: gram count differs ($bg vs $eg)")
      // no false negatives in membership ⇒ bloom hits dominate
      assert(bh >= eh, s"doc $id: bloom n_hit $bh < exact $eh")
      // ⇒ bloom-keep ⊆ exact-keep (over-drop allowed, under-drop never)
      assert(bk <= ek, s"doc $id: bloom kept what exact dropped")
    }
    // the fixture must exercise both decisions
    assert(bloom.values.exists(_._3 == 1) && bloom.values.exists(_._3 == 0))
  }

  test("id02: census anchor — gram-less docs still get a keep decision") {
    import spark.implicits._
    val corpus = Seq((1L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val batch = Seq((10L, "so short"),
                    (11L, "alpha beta gamma delta epsilon zeta eta"))
      .toDF("doc_id", "text")
    val bytes = graft.analytics.DataQuality.gramKeys(corpus)
      .agg(graft.functions.Natives.call(spark, "bloom_agg",
        xxhash64(col("g")), lit(1024L), lit(16384L)))
      .head().getAs[Array[Byte]](0)
    val bf = java.io.File.createTempFile("graft-test-bloom", ".bf")
    bf.deleteOnExit()
    java.nio.file.Files.write(bf.toPath, bytes)
    val out = graft.analytics.DataQuality.bloomGate(
        spark, batch, bf.getAbsolutePath)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_grams"), r.getAs[Double]("containment"),
         r.getAs[Int]("keep"))).toMap
    // 2-word doc forms no 5-gram: containment 0, kept
    assert(out(10L) == ((0L, 0.0, 1)))
    // full-overlap doc: every gram inserted, bloom never misses ⇒ dropped
    assert(out(11L)._2 > 0.5 && out(11L)._3 == 0)
  }

  test("id03: sharded gate errs one-sided only; census and gram counts match the exact gate") {
    // the registry entry now emits the self-audit row; compare the raw
    // sharded gate frame it audits
    val id03docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val sharded = graft.analytics.DataQuality.bloomGateSharded(spark,
        id03docs.filter(col("source") === "src19"),
        graft.analytics.BloomGramIndex.ensureSharded(
          spark, sf0001, graft.analytics.DataQuality.ShardedK),
        graft.analytics.DataQuality.ShardedK).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_hit"),
         r.getAs[Int]("keep"))).toMap
    val exact = run("id01_incremental_gate").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_hit"),
         r.getAs[Int]("keep"))).toMap
    assert(sharded.keySet == exact.keySet)
    sharded.foreach { case (id, (sg, sh, sk)) =>
      val (eg, eh, ek) = exact(id)
      assert(sg == eg, s"doc $id: gram count differs ($sg vs $eg)")
      // membership union over disjoint shards never misses an inserted
      // gram — a routing mismatch between build and probe breaks this
      assert(sh >= eh, s"doc $id: sharded n_hit $sh < exact $eh")
      assert(sk <= ek, s"doc $id: sharded gate kept what exact dropped")
    }
    assert(sharded.values.exists(_._3 == 1) &&
           sharded.values.exists(_._3 == 0))
  }

  test("id03: every inserted gram hits its routed shard, across all shards") {
    import spark.implicits._
    val k = 3
    // enough distinct grams that xxhash64 populates every residue class
    val corpus = (0L until 40L).map(i =>
      (i, (0 to 5).map(j => s"w${i}_$j").mkString(" "))).toDF("doc_id", "text")
    val grams = graft.analytics.DataQuality.gramKeys(corpus)
      .select(col("g"), xxhash64(col("g")).as("h"),
              pmod(xxhash64(col("g")), lit(k.toLong)).cast("int").as("shard"))
    val base = java.nio.file.Files.createTempDirectory("graft-shard-test")
      .resolve("fam.bf").toString
    val parts = grams.groupBy("shard")
      .agg(graft.functions.Natives.call(spark, "bloom_agg",
        col("h"), lit(1024L), lit(16384L)).as("bf"))
      .collect().map(r => r.getInt(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(parts.keySet == (0 until k).toSet, s"residues hit: ${parts.keySet}")
    parts.foreach { case (i, bytes) =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$base-s$i"), bytes)
    }
    val probed = grams.select(
      graft.functions.Natives.call(spark, "bloom_probe_sharded",
        lit(base), lit(k), col("h")).as("hit"))
      .collect().map(_.getBoolean(0))
    assert(probed.nonEmpty && probed.forall(identity),
           "an inserted gram missed its routed shard")
    // absent grams stay mostly absent (sanity that shards aren't
    // saturated / the probe isn't trivially true)
    val absentHits = (0 until 200).map(i =>
        (s"absent_gram_$i", i)).toDF("g", "i")
      .select(graft.functions.Natives.call(spark, "bloom_probe_sharded",
        lit(base), lit(k), xxhash64(col("g"))).as("hit"))
      .collect().count(_.getBoolean(0))
    assert(absentHits < 20, s"$absentHits/200 absent grams hit")
  }

  test("plan: id03 probes the sharded family without scanning the corpus") {
    val p = run("id03_sharded_bloom_gate").queryExecution.executedPlan.toString
    val exactPlan = run("id01_incremental_gate")
      .queryExecution.executedPlan.toString
    def scans(s: String) = "Scan parquet".r.findAllIn(s).length
    assert(scans(p) < scans(exactPlan), s"sharded=${scans(p)}\n$p")
    assert(p.contains("bloom_probe_sharded"), p)
  }

  test("plan: id02 probes the filter without scanning the corpus") {
    val bloomPlan = run("id02_bloom_gate").queryExecution.executedPlan.toString
    val exactPlan = run("id01_incremental_gate")
      .queryExecution.executedPlan.toString
    def scans(p: String) = "Scan parquet".r.findAllIn(p).length
    // id01 reads documents for batch AND corpus grams; id02's only
    // input is the batch — corpus membership rides in the probe literal
    assert(scans(bloomPlan) < scans(exactPlan),
           s"bloom=${scans(bloomPlan)} exact=${scans(exactPlan)}\n$bloomPlan")
    assert(bloomPlan.contains("bloom_probe_file"), bloomPlan)
  }

  test("emb01: centroid groups partition the corpus (counts per label consistent)") {
    val rows = run("emb01_label_centroids").collect()
      .map(r => (r.getAs[Int]("label"), r.getAs[Int]("pos"), r.getAs[Long]("n_vecs")))
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val labelCounts = emb.groupBy("label").count().collect()
      .map(r => r.getAs[Int]("label") -> r.getAs[Long]("count")).toMap
    val dims = emb.selectExpr("max(size(embedding))").head().getInt(0)
    assert(rows.length == labelCounts.size * dims)
    rows.foreach { case (label, _, n) => assert(n == labelCounts(label)) }
  }

  test("cp01: manifest honors every pipeline stage's contract") {
    val manifest = run("cp01_curation_manifest").collect()
    assert(manifest.nonEmpty)
    val ids = manifest.map(_.getAs[Long]("doc_id")).toSet
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
                 r.getAs[String]("text")))
    val byId = docs.map(d => d._1 -> d).toMap
    // eval set never trains; quality attrition really happened
    assert(ids.forall(byId(_)._2 != "src0"))
    assert(ids.size < docs.count(_._2 != "src0"))
    // survivors carry distinct canonical fingerprints
    def fp(t: String) = t.trim.toLowerCase.replaceAll("\\s+", " ")
    assert(ids.map(i => fp(byId(i)._3)).size == ids.size)
    // no survivor shares a 5-gram with the eval set
    def grams(t: String) = {
      val w = t.split("\\s+").filter(_.nonEmpty)
      if (w.length < 5) Set.empty[String] else w.sliding(5).map(_.mkString(" ")).toSet
    }
    val bench = docs.filter(_._2 == "src0").flatMap(d => grams(d._3)).toSet
    assert(ids.forall(i => grams(byId(i)._3).intersect(bench).isEmpty))
    // shuffle+pack invariants: pos is 1..n per shard; seq_id is
    // non-decreasing in pos and respects the 512-token budget
    manifest.groupBy(_.getAs[Int]("shard")).values.foreach { g =>
      val inOrder = g.sortBy(_.getAs[Int]("pos"))
      assert(inOrder.map(_.getAs[Int]("pos")).toSeq == (1 to g.length))
      var cum = 0L
      inOrder.foreach { r =>
        assert(r.getAs[Long]("seq_id") == cum / 512)
        cum += r.getAs[Long]("n_tokens")
      }
    }
  }

  test("plan: dq02, dq03 and pii01 are map-only (zero exchanges)") {
    Seq("dq02_quality_filters", "dq03_repetition_stats",
        "pii01_scrub_logs").foreach { name =>
      val p = run(name).queryExecution.executedPlan.toString
      val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(shuffles == 0, s"$name shuffled $shuffles times:\n$p")
    }
  }

  test("plan: dc01 joins the benchmark n-gram set by broadcast") {
    val p = run("dc01_decontaminate").queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("Bounded.broadcastBench refuses a corpus-scaled frame, passes a bounded one") {
    // the bench-frame broadcast convention made a contract: every
    // decon/audit bench side routes through this seam, so a "bench"
    // that grows with the corpus fails loudly instead of OOMing the
    // driver at 100x
    import graft.analytics.Bounded
    val big = spark.range(1000).toDF("x")
    val e = intercept[IllegalArgumentException] {
      graft.analytics.Bounded.broadcastBench(big, "spec.big", maxRows = 100)
    }
    assert(e.getMessage.contains("must not be broadcast"), e.getMessage)
    val ok = Bounded.broadcastBench(big, "spec.ok", maxRows = 10000)
    assert(ok.count() == 1000)
  }
}
