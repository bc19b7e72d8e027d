package graft

import org.apache.spark.sql.functions._

import graft.analytics.{Dedup, IvfIndex, Similarity, TextAnalysis}
import graft.functions.{Natives, VectorOps}

/** Fuzzy-dedup and similarity operators on planted fixtures: the
  * pipelines must find the planted near-duplicate pair and nothing
  * else. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  // ~100-token base so a one-token edit moves only a few simhash bit
  // votes (short docs make simhash inherently noisy).
  private val base = (1 to 25).map(i =>
    s"sentence$i about the quick brown fox").mkString(" ")
  private lazy val docs = Seq(
    (0L, base),
    (1L, base + " again"),                       // near-dup of 0
    (2L, "completely different words about spark catalyst tungsten codegen shuffles and joins"),
    (3L, "yet another unrelated document mentioning parquet columnar storage formats and pushdown")
  ).toDF("doc_id", "text")

  test("minhash LSH finds the planted near-dup pair only") {
    val pairs = Dedup.minhashPairs(docs, shingleN = 3, minJaccard = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("minhash jaccard estimate is close to exact jaccard") {
    val exact = docs.filter($"doc_id" === 0)
      .crossJoin(docs.filter($"doc_id" === 1).select($"text".as("t2")))
      .select(Dedup.jaccard(
        Dedup.shingleHashes(spark, $"text", 3), Dedup.shingleHashes(spark, $"t2", 3)))
      .head().getDouble(0)
    assert(exact > 0.8) // 1-token suffix on ~150 tokens ⇒ high overlap
  }

  test("simhash finds the planted near-dup pair, skips unrelated docs") {
    val pairs = Dedup.simhashPairs(spark, docs, maxHamming = 7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.contains((2L, 3L)))
  }

  test("dd03: hamming filter of the ≤ 7 candidates equals a maxHamming = 1 call, row for row") {
    // dd03 serves its near-identity set as blocked7.filter(hamming <= 1);
    // that is only sound while simhashPairs' candidate set depends on
    // maxBucket and chunk blocking, never on maxHamming
    val docs500 = graft.queries.QueryDef.table(spark, sf0001, "documents")
      .filter(col("doc_id") < 500)
    val fp = Dedup.simhashFingerprints(docs500).localCheckpoint(true)
    val blocked7 = Dedup.simhashPairs(spark, docs500, maxHamming = 7,
                                      fingerprints = Some(fp))
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "hamming").as[(Long, Long, Int)]
        .collect().toSeq.sorted
    val filtered = sorted(blocked7.filter(col("hamming") <= 1))
    val direct = sorted(Dedup.simhashPairs(spark, docs500, maxHamming = 1))
    assert(filtered == direct,
      s"filter(hamming <= 1) diverges from maxHamming = 1: $filtered vs $direct")
    // non-vacuous: the fixture has pairs on both sides of the filter
    assert(direct.nonEmpty && sorted(blocked7).size > direct.size,
      s"fixture does not exercise the filter: ${direct.size} pairs")
  }

  test("native minhash_sig is exactly equal to the HOF reference") {
    val sigs = docs
      .select(Dedup.shingleHashes(spark, $"text", 3).as("sh"))
      .select(Dedup.minhashSignature($"sh").as("hof"),
              Natives.call(spark, "minhash_sig", $"sh").as("native"))
      .collect()
    sigs.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
  }

  test("native simhash64 sign bits equal the HOF vote reference") {
    val rows = graft.analytics.Dedup.simhashFingerprints(docs)
      .join(docs.selectExpr("doc_id", s"${Dedup.simhashVotesExpr} AS votes"), "doc_id")
      .collect()
    rows.foreach { r =>
      val fp = r.getAs[Long]("fp")
      val votes = r.getSeq[Long](r.fieldIndex("votes"))
      (0 until 64).foreach { b =>
        assert((((fp >>> b) & 1L) == 1L) == (votes(b) > 0),
               s"bit $b mismatch for doc ${r.getAs[Long]("doc_id")}")
      }
    }
  }

  test("pair clustering: chains collapse to the min-id canonical doc") {
    val pairs = Seq((0L, 1L), (1L, 2L), (5L, 6L), (7L, 2L))
      .toDF("id_a", "id_b")
    val clusters = Dedup.clusterPairs(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // component {0,1,2,7} → 0 (7 connects through 2), {5,6} → 5
    assert(clusters == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 7L -> 0L,
                           5L -> 5L, 6L -> 5L))
  }

  test("pair clustering converges on a long chain (pointer jumping)") {
    // a 60-hop path: plain min-label propagation would need 60 rounds
    // (over the iteration cap); pointer jumping needs O(log 60)
    val chain = (0L until 60L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val clusters = Dedup.clusterPairs(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.size == 61 && clusters.values.forall(_ == 0L))
  }

  test("exact-dedup fingerprint is whitespace/case-insensitive") {
    val df = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "other"))
      .toDF("doc_id", "text")
      .select(TextAnalysis.fingerprint($"text").as("fp"))
    assert(df.distinct().count() == 2)
  }

  test("cosine: hand-computed values and self-similarity") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)),   // orthogonal → 0
      (Array(1.0f, 2.0f), Array(2.0f, 4.0f)),   // parallel → 1
      (Array(3.0f, 4.0f), Array(3.0f, 4.0f))    // self → 1
    ).toDF("a", "b")
    val sims = df.select(VectorOps.cosine($"a", $"b")).as[Double].collect()
    assert(math.abs(sims(0) - 0.0) < 1e-12)
    assert(math.abs(sims(1) - 1.0) < 1e-12)
    assert(math.abs(sims(2) - 1.0) < 1e-12)
  }

  test("brute-force top-k returns nearest first, excludes the query") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),  // nearest to 0
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(emb, queryId = 0L, k = 2)
      .select("vec_id").as[Long].collect().toSeq
    assert(top == Seq(1L, 2L))
  }

  test("IVF ANN with full probe is exactly brute force") {
    val emb = (0L to 40L).map { i =>
      val angle = i.toDouble / 41 * math.Pi
      (i, Array(math.cos(angle).toFloat, math.sin(angle).toFloat, 0.1f))
    }.toDF("vec_id", "embedding")
    val brute = Similarity.bruteForceTopK(emb, 0L, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val ivf = Similarity.ivfTopKOf(emb, 0L, 5, nLists = 4, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(ivf == brute)
  }

  test("hot band bucket is capped: bounded work, planted pair still found") {
    // 30 identical boilerplate docs make every one of their band buckets
    // 30-deep; with maxBucket = 10 those buckets are dropped before the
    // self-join (no quadratic blow-up) while the distinct near-dup pair
    // (bucket depth 2) is still emitted.
    val boiler = (100L to 129L).map(i => (i, "shared boilerplate text " * 20))
    val all = (docs.as[(Long, String)].collect().toSeq ++ boiler)
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(all, shingleN = 3, minJaccard = 0.5,
                                   maxBucket = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("native nearest_centroid equals the HOF argmin reference") {
    val centroids = Seq(
      Array(0.0, 0.0, 1.0), Array(1.0, 0.0, 0.0), Array(0.5, 0.5, 0.0))
    val emb = (0 to 60).map { i =>
      (i.toLong, Array(math.sin(i * 0.3).toFloat,
                       math.cos(i * 0.7).toFloat, (i % 5 / 4.0).toFloat))
    }.toDF("vec_id", "embedding")
    val rows = emb.select(
      IvfIndex.nearestList(spark, $"embedding", centroids).as("nat"),
      IvfIndex.nearestListHof($"embedding", centroids).as("hof")).collect()
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("batch ANN with full probe equals per-query brute force") {
    val top = Similarity.batchAnnTopK(spark, sf0001, queryMaxId = 4L, k = 5,
                                      nLists = 8, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    (0L until 4L).foreach { qid =>
      val brute = Similarity.bruteForceTopK(emb, qid, 5)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val batch = top.filter(_._1 == qid).sortBy(_._4)
        .map(t => (t._2, t._3)).toSeq
      assert(batch == brute, s"query $qid")
    }
  }

  test("spilled IVF: native nearest2 ≡ two-minima reference, primary rows ≡ " +
       "plain assignment, serve ≡ brute force at full probe, recall never below plain") {
    // The multi-assignment index (IvfIndex.assignSpilled/ensureSpilled,
    // Similarity.batchAnnTopKSpilled — the data-side fix for the
    // clustered-fixture recall plateau, FIXTURES.md §E). Four pins:
    // the native top-2 expression against a driver-side two-minima
    // replica doing the identical left-to-right double arithmetic;
    // spilled=0 rows exactly the plain argmin assignment; the spilled
    // serve at FULL probe is bit-equal to the plain serve (the dedup
    // aggregate must be invisible — cosine is identical on both rows
    // of a spilled vector); and at a partial probe the spilled serve's
    // recall can never drop below the plain serve's (its candidate set
    // is a superset).
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val centroids = IvfIndex.fit(emb, nLists = 8)
    val got = emb.select(col("vec_id"),
        Natives.call(spark, "nearest2_centroid", col("embedding"),
          array(centroids.map(c => array(c.map(lit): _*)): _*)).as("n2"))
      .select(col("vec_id"), col("n2.l1"), col("n2.d1"),
              col("n2.l2"), col("n2.d2"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getDouble(2), r.getInt(3), r.getDouble(4))).toMap
    emb.select("vec_id", "embedding").collect().foreach { r =>
      val v = r.getSeq[Float](1)
      var b1 = -1; var b2 = -1
      var d1 = Double.MaxValue; var d2 = Double.MaxValue
      centroids.zipWithIndex.foreach { case (c, ci) =>
        var d = 0.0
        var i = 0
        while (i < v.length) {
          val diff = v(i).toDouble - c(i); d += diff * diff; i += 1
        }
        if (d < d1) { d2 = d1; b2 = b1; d1 = d; b1 = ci }
        else if (d < d2) { d2 = d; b2 = ci }
      }
      assert(got(r.getLong(0)) == ((b1, d1, b2, d2)),
             s"nearest2 drifted at vec ${r.getLong(0)}")
    }
    val margin = 0.3
    val plainAssign = IvfIndex.assign(emb, centroids)
      .select("vec_id", "list").as[(Long, Int)].collect().toSet
    val spilled = IvfIndex.assignSpilled(emb, centroids, margin)
    assert(spilled.filter(col("spilled") === 0)
             .select("vec_id", "list").as[(Long, Int)].collect().toSet ==
           plainAssign, "primary rows must equal the plain assignment")
    val nSpill = spilled.filter(col("spilled") === 1).count()
    assert(nSpill > 0, "margin 0.3 should spill some border vectors")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val fullPlain = rows(Similarity.batchAnnTopK(
      spark, sf0001, queryMaxId = 4L, k = 5, nLists = 8, nProbe = 8))
    val fullSpilled = rows(Similarity.batchAnnTopKSpilled(
      spark, sf0001, queryMaxId = 4L, k = 5, nLists = 8, nProbe = 8,
      margin = margin))
    assert(fullSpilled == fullPlain,
           "full-probe spilled serve must equal the plain serve")
    def recallAt(served: Seq[(Long, Long, Double, Int)]): Double = {
      (0L until 4L).map { qid =>
        val exact = Similarity.bruteForceTopK(emb, qid, 5)
          .select("vec_id").as[Long].collect().toSet
        val s = served.filter(_._1 == qid).map(_._2).toSet
        (exact & s).size / 5.0
      }.sum / 4.0
    }
    val rPlain = recallAt(rows(Similarity.batchAnnTopK(
      spark, sf0001, queryMaxId = 4L, k = 5, nLists = 8, nProbe = 2)))
    val rSpilled = recallAt(rows(Similarity.batchAnnTopKSpilled(
      spark, sf0001, queryMaxId = 4L, k = 5, nLists = 8, nProbe = 2,
      margin = margin)))
    assert(rSpilled >= rPlain,
           f"spilled recall $rSpilled%.2f below plain $rPlain%.2f")
  }

  test("spilled IVF paying regime (ss21): on clustered data, nProbe 2 at " +
       "margin 0.05 recalls at least the plain index at the same probe " +
       "budget and approaches plain at nProbe 4 (FIXTURES §E)") {
    // The production-shaped consumer of the spilled machinery: the §E
    // boundary says ratio-margin spilling pays ONLY in probe-latency-
    // bound serving, where spilled m=0.05 @ nProbe 2 matched plain @
    // nProbe 4 (0.902 vs 0.902 at 200 k × 256 lists) while scanning
    // ~22 % fewer rows. This pin replays that regime on the
    // deterministic clustered fixture at spec scale: the structural
    // dominance (superset candidates ⇒ recall ≥ plain at the same
    // nProbe) must hold exactly; the cross-budget equivalence is
    // pinned with a small tolerance (spec-scale fixtures quantize
    // recall in 1/(k·|Q|) steps).
    // 2 000 tight clusters of 10 over 64 lists reproduces the §E loss
    // mechanism at spec scale: a query's exact top-10 is its cluster,
    // σ-noise pushes border members across list boundaries, so a
    // 2-of-64 probe misses a measurable fraction that spilling
    // recovers (at 200 clusters / 16 lists every config saturated at
    // recall 1.0 and the pin was vacuous).
    import graft.analytics.ClusteredEmbeddings
    val emb = ClusteredEmbeddings
      .generate(spark, 20000L, nClusters = 2000, benchOdds = 1000000)
      .localCheckpoint(true)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-spill-pay").toString
    emb.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val k = 10
    val nLists = 64
    val qids = (0L until 32L)
    val exact = Similarity
      .batchBruteCosTopK(emb, queryIds = qids.toSeq, k = k)
      .select("query_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val served = df.select("query_id", "vec_id").as[(Long, Long)]
        .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      qids.map { q =>
        (exact.getOrElse(q, Set.empty) & served.getOrElse(q, Set.empty))
          .size.toDouble / k
      }.sum / qids.size
    }
    val rSp2 = recallOf(Similarity.batchAnnTopKSpilled(
      spark, dir, queryMaxId = 32L, k = k, nLists = nLists, nProbe = 2,
      margin = 0.05))
    val rPl2 = recallOf(Similarity.batchAnnTopK(
      spark, dir, queryMaxId = 32L, k = k, nLists = nLists, nProbe = 2))
    val rPl4 = recallOf(Similarity.batchAnnTopK(
      spark, dir, queryMaxId = 32L, k = k, nLists = nLists, nProbe = 4))
    info(f"clustered recall@10: spilled@2=$rSp2%.3f plain@2=$rPl2%.3f " +
         f"plain@4=$rPl4%.3f")
    assert(rSp2 >= rPl2,
           f"structural dominance broken: spilled@2 $rSp2%.3f < " +
             f"plain@2 $rPl2%.3f")
    assert(rSp2 >= rPl4 - 0.05,
           f"§E equivalence regressed: spilled@2 $rSp2%.3f well below " +
             f"plain@4 $rPl4%.3f")
    def rmrf(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete(); ()
    }
    rmrf(new java.io.File(dir))
  }

  test("IVF probe-path recall floor against exact top-k on driver data") {
    // rows-only entries need a pinned quality floor: with a quarter of
    // the lists probed, the measured recall@10 on the driver's
    // embeddings must not silently regress below what the current index
    // achieves (deterministic build → deterministic recall).
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val exact = Similarity.bruteForceTopK(emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val ivf = Similarity.ivfTopKOf(emb, 0L, 10, nLists = 16, nProbe = 4)
      .select("vec_id").as[Long].collect().toSet
    val recall = (exact & ivf).size / 10.0
    assert(recall >= 0.5, s"IVF recall@10 regressed: $recall")
  }

  test("filtered IVF probe: recall floor against the filtered exact top-k") {
    // ss14's quality contract mirrors ss03's: with a quarter of the
    // lists probed, recall@10 against the label-filtered exact top-k
    // (= the ss14x anchor, nProbe = nLists) must not silently regress.
    // Deterministic: same persisted index, same probe order.
    val exact = Similarity.filteredIvfTopK(spark, sf0001, 0L, 10,
        nLists = graft.analytics.IvfIndex.DefaultLists,
        nProbe = graft.analytics.IvfIndex.DefaultLists, labels = Seq(2, 5))
      .select("vec_id").as[Long].collect().toSet
    val probed = Similarity.filteredIvfTopK(spark, sf0001, 0L, 10,
        nLists = graft.analytics.IvfIndex.DefaultLists, nProbe = 4,
        labels = Seq(2, 5))
      .select("vec_id").as[Long].collect().toSet
    val recall = (exact & probed).size / 10.0
    assert(recall >= 0.5, s"filtered IVF recall@10 regressed: $recall")
  }

  test("IVF append: frozen-centroid append matches a same-centroid rebuild; drift trigger fires on shifted data") {
    // the daily-ingest path: build over HALF the corpus, append the
    // other half with centroids frozen. Pins: (a) append needs neither
    // the source corpus nor the base assignments (source deleted first
    // — cost ∝ batch); (b) appended assignments == what assignment
    // over the full corpus with the SAME frozen centroids produces;
    // (c) a full probe over the appended index is exact vs brute force
    // on the full corpus; (d) the drift statistic stays quiet for the
    // in-distribution append and fires for an out-of-distribution one.
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val srcDir = java.nio.file.Files.createTempDirectory("ivf-append").toString
    emb.filter(col("vec_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$srcDir/embeddings.parquet")
    val dir = IvfIndex.ensure(spark, srcDir)
    val centroids = IvfIndex.readCentroids(spark, dir)
    // (a) delete the source corpus — the append path must not read it
    def rmrf(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete(); ()
    }
    rmrf(new java.io.File(s"$srcDir/embeddings.parquet"))
    val batch = emb.filter(col("vec_id") % 2 === 1)
    val n = IvfIndex.appendBatch(spark, dir, batch)
    assert(n == batch.count(), s"appended $n rows")
    // (b) assignment equivalence under frozen centroids
    val got = IvfIndex.readAssignments(spark, dir)
      .select("vec_id", "list").as[(Long, Int)].collect().toSet
    val want = IvfIndex.assign(emb, centroids.map(_._2))
      .select("vec_id", "list").as[(Long, Int)].collect().toSet
    assert(got == want, "appended assignments diverge from a rebuild's")
    // (c) full-probe ANN over the appended index is exact
    val probed = Similarity.ivfProbe(IvfIndex.readAssignments(spark, dir),
        centroids, queryId = 0L, k = 10, nProbe = centroids.size)
      .select("vec_id").as[Long].collect().toSeq
    val brute = Similarity.bruteForceTopK(emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(probed == brute, s"append broke the probe: $probed vs $brute")
    // (d) drift: in-distribution append ≈ build-time baseline ...
    val quiet = IvfIndex.driftStatus(spark, dir)
    assert(!quiet.needsRebuild,
           s"in-distribution append flagged a rebuild: $quiet")
    // ... an out-of-distribution batch (every component shifted) trips
    // the rebuild trigger
    val shifted = batch.select(
      (col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), x => x + lit(10.0f)).as("embedding"),
      col("label"))
    IvfIndex.appendBatch(spark, dir, shifted)
    val noisy = IvfIndex.driftStatus(spark, dir)
    assert(noisy.needsRebuild && noisy.ratio > quiet.ratio,
           s"drifted append not flagged: $noisy")
    // provenance: one append-log row per batch, stamps distinct
    val log = spark.read.parquet(s"$dir/append_log").collect()
    assert(log.length == 2 &&
           log.map(_.getAs[Long]("batch_stamp")).distinct.length == 2)
  }

  test("IVF compaction: bounds per-list file counts, content and probe unchanged") {
    // maintenance half of the ingest story: many small appends → small
    // files accumulate inside hot list partitions → compactLists
    // rewrites just those leaves. Content-neutrality is the contract.
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val srcDir = java.nio.file.Files.createTempDirectory("ivf-compact").toString
    emb.filter(col("vec_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$srcDir/embeddings.parquet")
    val dir = IvfIndex.ensure(spark, srcDir)
    val rest = emb.filter(col("vec_id") % 2 === 1).collect()
    // 6 single-vector-ish appends: each lands ≥ 1 new file per touched list
    rest.grouped(math.max(1, rest.length / 6)).foreach { chunk =>
      val b = spark.createDataFrame(
        spark.sparkContext.parallelize(chunk.toSeq, 1), emb.schema)
      IvfIndex.appendBatch(spark, dir, b)
    }
    def fileCounts(): Map[String, Int] = {
      val base = new java.io.File(s"$dir/assignments")
      base.listFiles().filter(_.getName.startsWith("list=")).map { d =>
        d.getName -> d.listFiles().count(f =>
          f.isFile && !f.getName.startsWith(".") &&
          !f.getName.startsWith("_"))
      }.toMap
    }
    val before = fileCounts()
    assert(before.values.max > 3, s"fixture never fragmented: $before")
    val rows = IvfIndex.readAssignments(spark, dir)
      .select("vec_id", "list").as[(Long, Int)].collect().toSet
    val probeBefore = Similarity.ivfProbe(
        IvfIndex.readAssignments(spark, dir),
        IvfIndex.readCentroids(spark, dir), queryId = 0L, k = 10,
        nProbe = IvfIndex.DefaultLists)
      .select("vec_id").as[Long].collect().toSeq
    val nCompacted = IvfIndex.compactLists(spark, dir, maxFilesPerList = 3)
    assert(nCompacted == before.count(_._2 > 3), s"compacted $nCompacted")
    val after = fileCounts()
    assert(after.values.max <= 3, s"still fragmented: $after")
    // cold lists untouched, hot lists down to one file
    before.foreach { case (l, n) =>
      if (n <= 3) assert(after(l) == n, s"cold list $l rewritten")
      else assert(after(l) == 1, s"hot list $l not coalesced: ${after(l)}")
    }
    val rowsAfter = IvfIndex.readAssignments(spark, dir)
      .select("vec_id", "list").as[(Long, Int)].collect().toSet
    assert(rowsAfter == rows, "compaction changed index content")
    val probeAfter = Similarity.ivfProbe(
        IvfIndex.readAssignments(spark, dir),
        IvfIndex.readCentroids(spark, dir), queryId = 0L, k = 10,
        nProbe = IvfIndex.DefaultLists)
      .select("vec_id").as[Long].collect().toSeq
    assert(probeAfter == probeBefore, "compaction changed probe results")
  }

  test("batch filtered IVF: per-query recall floor against the filtered exact batch") {
    // ss16's quality contract: with a quarter of the lists probed, MEAN
    // recall@10 across the 32-query batch against the ss16x anchor
    // (nProbe = nLists, exact by construction) must not silently
    // regress. Deterministic: same persisted index, same probe order.
    import graft.analytics.IvfIndex
    def sets(nProbe: Int): Map[Long, Set[Long]] =
      Similarity.batchFilteredAnnTopK(spark, sf0001, queryMaxId = 32L,
          k = 10, nLists = IvfIndex.DefaultLists, nProbe = nProbe,
          labels = Seq(2, 5))
        .select("query_id", "vec_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = sets(IvfIndex.DefaultLists)
    val probed = sets(4)
    assert(exact.keySet == probed.keySet,
           s"query coverage drifted: ${exact.keySet} vs ${probed.keySet}")
    val recalls = exact.map { case (q, ex) =>
      (exact(q) & probed.getOrElse(q, Set.empty)).size.toDouble /
        math.max(ex.size, 1)
    }
    // deterministic build ⇒ deterministic recall: measures 0.44 on the
    // fixture (the label slice thins every probed list, so the batch
    // mean sits below the single-query filtered recall); the floor
    // exists to catch silent regression, not to claim quality
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.4, s"batch filtered IVF mean recall@10 regressed: $mean")
  }

  test("int8-quantized top-k tracks the exact float cosine ranking") {
    // ss09's approximation lives in the REPRESENTATION (64-dim unit
    // vectors rounded to int8), so its top-10 must nearly coincide with
    // the exact float path — a deterministic fidelity floor, unlike the
    // probabilistic LSH/IVF recall pins.
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val exact = Similarity.bruteForceTopK(emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val int8 = Similarity.int8TopK(emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val overlap = (exact & int8).size
    assert(overlap >= 8, s"int8 fidelity collapsed: $overlap/10 vs exact")
  }

  test("two-level quantizer with all groups descended equals the flat IVF probe") {
    // the top layer only changes WHICH lists the driver picks; with
    // every super-group descended the candidate centroid set is the
    // full set, so ss12 must reproduce ss03's ranking exactly — and
    // with a pruned descent it must still keep useful recall
    import graft.analytics.IvfIndex
    val flat = Similarity.ivfTopK(spark, sf0001, 0L, 10,
      IvfIndex.DefaultLists, nProbe = 4).collect().toSeq
    val layeredFull = Similarity.ivf2TopK(spark, sf0001, 0L, 10,
      IvfIndex.DefaultLists, nProbe = 4,
      superProbe = IvfIndex.DefaultLists).collect().toSeq
    assert(layeredFull == flat)
    val exact = Similarity.bruteForceTopK(
      spark.read.parquet(s"$sf0001/embeddings.parquet"), 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val pruned = Similarity.ivf2TopK(spark, sf0001, 0L, 10,
      IvfIndex.DefaultLists, nProbe = 4, superProbe = 2)
      .select("vec_id").as[Long].collect().toSet
    assert((exact & pruned).size >= 3,
           s"layered recall collapsed: ${(exact & pruned).size}/10")
  }

  test("int8 index: appending a batch equals rebuilding over the grown corpus") {
    // int8 codes are per-vector (no corpus statistics), so incremental
    // append must be EXACTLY a rebuild — the property that makes a
    // continuously-fed serving tier affordable
    import graft.analytics.{Int8Index, Similarity}
    val tmp = java.nio.file.Files.createTempDirectory("int8app_").toString
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val base = emb.filter(col("vec_id") < 400)
    val delta = emb.filter(col("vec_id") >= 400)
    Similarity.int8Quantized(base)
      .select(col("vec_id"), col("__scale").as("scale"),
              expr("transform(__q, x -> cast(x as tinyint))").as("q"))
      .write.parquet(s"$tmp/codes")
    Int8Index.appendCodes(delta, tmp)
    val grown = Int8Index.readCodes(spark, tmp)
    val served = Similarity.int8ScoreTopK(grown, grown, 0L, 10).collect().toSeq
    val rebuilt = Similarity.int8TopK(emb, 0L, 10).collect().toSeq
    assert(served == rebuilt)
    assert(grown.count() == emb.count())
  }

  test("int8 index: tombstone delete masks the serve; purge rewrites codes and converges") {
    // Tombstones parity with the IVF tier: same side segment, same
    // stamped replay no-op, serve through the live view; codes are
    // per-vector so the physical purge is one filtered rewrite
    import graft.analytics.{Int8Index, Similarity}
    val tmp = java.nio.file.Files.createTempDirectory("int8tomb_").toString
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    Similarity.int8Quantized(emb)
      .select(col("vec_id"), col("__scale").as("scale"),
              expr("transform(__q, x -> cast(x as tinyint))").as("q"))
      .write.parquet(s"$tmp/codes")
    // doom two ids out of the int8 top-10 so masking visibly changes it
    val top = Similarity.int8TopK(emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSeq
    val doomed = Seq(top(0), top(2))
    assert(Int8Index.deleteIds(spark, tmp,
      doomed.toDF("vec_id")) == 2L)
    assert(Int8Index.deleteIds(spark, tmp,
      doomed.toDF("vec_id")) == 0L, "replayed delete not skipped")
    val live = Int8Index.liveCodes(spark, tmp)
    val served = Similarity.int8ScoreTopK(live, live, 0L, 10)
      .select("vec_id").as[Long].collect().toSeq
    val want = Similarity.int8TopK(
        emb.filter(!col("vec_id").isin(doomed: _*)), 0L, 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(served == want, s"live int8 serve diverged: $served vs $want")
    // physical purge: masked rows gone from the RAW codes, serve
    // unchanged, tombstones cleared, second purge a no-op
    assert(Int8Index.purgeTombstones(spark, tmp) == 2L)
    val raw = Int8Index.readCodes(spark, tmp)
    assert(raw.filter(col("vec_id").isin(doomed: _*)).count() == 0)
    val servedAfter = Similarity.int8ScoreTopK(raw, raw, 0L, 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(servedAfter == want, "purge changed the served result")
    assert(!new java.io.File(s"$tmp/tombstones").exists())
    assert(Int8Index.purgeTombstones(spark, tmp) == 0L)
  }

  test("int8 purge crash recovery: a committed staging dir is replayed and converges") {
    // crash window the StagedSwap protocol closes: the staged rewrite
    // committed (_SUCCESS) but no file moved yet. The replayed purge
    // must recover the staging (transient old ∪ staged duplicates) and
    // converge to the exact post-purge row set — never lose the codes.
    import graft.analytics.{Int8Index, Similarity, Tombstones}
    val tmp = java.nio.file.Files.createTempDirectory("int8crash_").toString
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val n = emb.count()
    Similarity.int8Quantized(emb)
      .select(col("vec_id"), col("__scale").as("scale"),
              expr("transform(__q, x -> cast(x as tinyint))").as("q"))
      .write.parquet(s"$tmp/codes")
    val doomed = Seq(3L, 7L)
    assert(Int8Index.deleteIds(spark, tmp, doomed.toDF("vec_id")) == 2L)
    // simulate the crash: stage the filtered rewrite exactly as the
    // purge would, then "die" before any move — codes + tombstones intact
    spark.read.parquet(s"$tmp/codes")
      .join(Tombstones.read(spark, tmp), Seq("vec_id"), "left_anti")
      .write.parquet(s"$tmp/.purge-codes")
    assert(Int8Index.purgeTombstones(spark, tmp) == 2L)
    val after = Int8Index.readCodes(spark, tmp)
    assert(after.count() == n - 2, "rows lost or duplicated after recovery")
    assert(after.select("vec_id").distinct().count() == n - 2)
    assert(after.filter(col("vec_id").isin(doomed: _*)).count() == 0)
    assert(!new java.io.File(s"$tmp/.purge-codes").exists())
  }

  test("band purge convergence: shingles rewrite decided independently of the bands") {
    // crash window between the band and shingle rewrites: every band
    // partition already purged, shingles untouched, tombstones intact.
    // The replayed purge finds no touched band partition but must STILL
    // purge the retracted docs' shingles (a takedown's derived content
    // must not outlive it).
    import graft.analytics.{MinHashBandIndex, Tombstones}
    val dir = java.nio.file.Files.createTempDirectory("mhshcrash_").toString
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter(col("doc_id") < 60)
    val doomedId = 7L
    // bands as if already purged (built without the doomed doc)…
    MinHashBandIndex.buildFrom(spark, dir,
      docs.filter(col("doc_id") =!= doomedId))
    // …but shingles still carrying it, plus the intact tombstone
    MinHashBandIndex.segmentShingles(spark, docs)
      .write.mode("overwrite").parquet(s"$dir/shingles")
    assert(Tombstones.delete(spark, dir, Seq(doomedId).toDF("corpus_id"),
      idCol = "corpus_id") == 1L)
    val touched = MinHashBandIndex.purgeTombstones(spark, dir)
    assert(touched == 0, s"no band partition should need rewriting: $touched")
    assert(spark.read.parquet(s"$dir/shingles")
      .filter(col("corpus_id") === doomedId).count() == 0,
      "retracted doc's shingles survived the replayed purge")
    assert(!new java.io.File(s"$dir/tombstones").exists())
  }

  test("ensureFresh: drift-triggered rebuild serves the live content exactly; replay is a no-op") {
    // lifecycle: build over half the corpus → tombstone a slice →
    // append an out-of-distribution batch (trips drift) → ensureFresh
    // rebuilds from the LIVE view (append folded in, tombstones become
    // physical deletes) with fresh centroids → full probe is exact over
    // the live union, drift is settled, and a second call is a no-op.
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val srcDir = java.nio.file.Files.createTempDirectory("ivf-fresh").toString
    emb.filter(col("vec_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$srcDir/embeddings.parquet")
    val dir = IvfIndex.ensure(spark, srcDir)
    val doomed = Seq(2L, 4L).filter(i =>
      emb.filter(col("vec_id") === i).count() > 0)
    assert(IvfIndex.deleteIds(spark, dir, doomed.toDF("vec_id")) ==
      doomed.size)
    val shifted = emb.filter(col("vec_id") % 2 === 1).select(
      (col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), x => x + lit(10.0f)).as("embedding"),
      col("label"))
    IvfIndex.appendBatch(spark, dir, shifted)
    assert(IvfIndex.driftStatus(spark, dir).needsRebuild)
    assert(IvfIndex.ensureFresh(spark, dir), "tripped drift must rebuild")
    // tombstones folded: physically gone, segment dropped
    assert(IvfIndex.readAssignments(spark, dir)
      .filter(col("vec_id").isin(doomed: _*)).count() == 0)
    assert(!new java.io.File(s"$dir/tombstones").exists())
    // serve equivalence over the live union with the REBUILT centroids
    val liveUnion = emb.filter(col("vec_id") % 2 === 0)
      .filter(!col("vec_id").isin(doomed: _*))
      .unionByName(shifted)
    val cents = IvfIndex.readCentroids(spark, dir)
    val probed = Similarity.ivfProbe(IvfIndex.readAssignments(spark, dir),
        cents, queryId = 0L, k = 10, nProbe = cents.size)
      .select("vec_id").as[Long].collect().toSeq
    val brute = Similarity.bruteForceTopK(liveUnion, 0L, 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(probed == brute, s"rebuilt serve diverged: $probed vs $brute")
    // fresh baseline: drift settled; replay is a no-op
    assert(!IvfIndex.driftStatus(spark, dir).needsRebuild)
    assert(!IvfIndex.ensureFresh(spark, dir), "settled index must not rebuild")
    // provenance: one rebuild_log row, append log carried forward
    assert(spark.read.parquet(s"$dir/rebuild_log").count() == 1)
    assert(new java.io.File(s"$dir/append_log").exists())
  }

  test("ensureFresh crash recovery: committed staging swaps in; mid-swap states converge") {
    // crash window 1: staged rebuild committed (its copied artifact
    // marker) but no move happened — the next call must finish the
    // swap, not re-rebuild.
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    def stage(mod: Int, tag: String): String = {
      val src = java.nio.file.Files.createTempDirectory(s"ivfc-$tag").toString
      emb.filter(col("vec_id") % 3 === mod)
        .write.mode("overwrite").parquet(s"$src/embeddings.parquet")
      IvfIndex.ensure(spark, src)
    }
    def copyDir(from: java.io.File, to: java.io.File): Unit = {
      if (from.isDirectory) {
        to.mkdirs()
        Option(from.listFiles()).getOrElse(Array.empty)
          .foreach(f => copyDir(f, new java.io.File(to, f.getName)))
      } else {
        java.nio.file.Files.copy(from.toPath, to.toPath)
        ()
      }
    }
    val oldDir = stage(0, "old")
    val newContent = stage(1, "new")
    val newIds = spark.read.parquet(s"$newContent/assignments")
      .select("vec_id").as[Long].collect().toSet
    copyDir(new java.io.File(newContent), new java.io.File(oldDir + "-fresh"))
    assert(IvfIndex.ensureFresh(spark, oldDir),
      "committed staging must complete the swap")
    assert(spark.read.parquet(s"$oldDir/assignments")
      .select("vec_id").as[Long].collect().toSet == newIds)
    assert(!new java.io.File(oldDir + "-fresh").exists())
    assert(!new java.io.File(oldDir + "-stale").exists())
    assert(graft.analytics.OfflineArtifact.isComplete(spark, oldDir))
    // crash window 2: target already moved aside, staged dir committed
    // — the recovery moves the staged index in and drops the stale copy
    val dir2 = stage(2, "mid")
    val ids2 = spark.read.parquet(s"$dir2/assignments")
      .select("vec_id").as[Long].collect().toSet
    copyDir(new java.io.File(dir2), new java.io.File(dir2 + "-fresh"))
    java.nio.file.Files.move(new java.io.File(dir2).toPath,
                             new java.io.File(dir2 + "-stale").toPath)
    assert(IvfIndex.ensureFresh(spark, dir2))
    assert(spark.read.parquet(s"$dir2/assignments")
      .select("vec_id").as[Long].collect().toSet == ids2)
    assert(!new java.io.File(dir2 + "-stale").exists())
    // crash window 3: an UNCOMMITTED staging dir is discarded and the
    // old index keeps serving (no spurious rebuild on a quiet index)
    new java.io.File(dir2 + "-fresh").mkdirs()
    assert(!IvfIndex.ensureFresh(spark, dir2))
    assert(!new java.io.File(dir2 + "-fresh").exists())
  }

  test("IVF compaction crash recovery: committed staging completes and dedups") {
    // same crash window, partitioned case: a committed .compact-list=N
    // staging dir is recovered on the next compactLists, the leaf is
    // force-recompacted (even below the file-count threshold), and the
    // vec_id dedup converges the transient duplicate state.
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val srcDir = java.nio.file.Files.createTempDirectory("ivf-crash").toString
    emb.filter(col("vec_id") < 300)
      .write.mode("overwrite").parquet(s"$srcDir/embeddings.parquet")
    val dir = IvfIndex.ensure(spark, srcDir)
    val rows = IvfIndex.readAssignments(spark, dir)
      .select("vec_id", "list").as[(Long, Int)].collect().toSet
    val base = new java.io.File(s"$dir/assignments")
    val leaf = base.listFiles().filter(_.getName.startsWith("list="))
      .maxBy(d => spark.read.parquet(d.getPath).count())
    // simulate: staged compacted copy committed, crash before any move
    spark.read.parquet(leaf.getPath).coalesce(1)
      .write.parquet(s"${base.getPath}/.compact-${leaf.getName}")
    val nc = IvfIndex.compactLists(spark, dir, maxFilesPerList = 1000)
    assert(nc == 1, s"recovered leaf not force-recompacted: $nc")
    val rowsAfter = IvfIndex.readAssignments(spark, dir)
      .select("vec_id", "list").as[(Long, Int)].collect().toSet
    assert(rowsAfter == rows, "recovery changed index content")
    assert(IvfIndex.readAssignments(spark, dir).count() == rows.size,
      "duplicates survived the recovery rewrite")
  }

  test("IVF appendBatchOnce: a replayed batch appends nothing, also through a non-file: scheme") {
    // the append-log check goes through Hadoop FS: a local-file check
    // sees no log under `graftlocal://`, so a replayed batch would
    // append twice
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftlocal.impl", classOf[SchemeLocalFs].getName)
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val batch = emb.filter(col("vec_id") % 2 === 1)
    Seq("", "graftlocal://").foreach { scheme =>
      val srcDir = java.nio.file.Files.createTempDirectory("ivf-once").toString
      emb.filter(col("vec_id") % 2 === 0)
        .write.mode("overwrite").parquet(s"$srcDir/embeddings.parquet")
      val dir = scheme + IvfIndex.ensure(spark, srcDir)
      assert(IvfIndex.appendBatchOnce(spark, dir, batch) == batch.count())
      val rows = IvfIndex.readAssignments(spark, dir).count()
      assert(IvfIndex.appendBatchOnce(spark, dir, batch) == 0L,
        s"$scheme: replayed batch appended")
      assert(IvfIndex.readAssignments(spark, dir).count() == rows)
    }
  }

  test("IVF compaction and purge through a non-file: scheme, with a committed staging recovery") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftlocal.impl", classOf[SchemeLocalFs].getName)
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val srcDir = java.nio.file.Files.createTempDirectory("ivf-scheme").toString
    emb.filter(col("vec_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$srcDir/embeddings.parquet")
    val local = IvfIndex.ensure(spark, srcDir)
    val dir = s"graftlocal://$local"
    val rest = emb.filter(col("vec_id") % 2 === 1).collect()
    rest.grouped(math.max(1, rest.length / 4)).foreach { chunk =>
      IvfIndex.appendBatch(spark, dir, spark.createDataFrame(
        spark.sparkContext.parallelize(chunk.toSeq, 1), emb.schema))
    }
    val base = new java.io.File(s"$local/assignments")
    def leaves(): Seq[java.io.File] =
      base.listFiles().toSeq.filter(_.getName.startsWith("list="))
    def maxFiles(): Int = leaves().map(_.listFiles().count(f =>
      f.isFile && !f.getName.startsWith(".") &&
      !f.getName.startsWith("_"))).max
    def rowSet(): Set[(Long, Int)] = IvfIndex.readAssignments(spark, dir)
      .select("vec_id", "list").as[(Long, Int)].collect().toSet
    val rows = rowSet()
    assert(maxFiles() > 2, "fixture never fragmented")
    assert(IvfIndex.compactLists(spark, dir, maxFilesPerList = 2) > 0)
    assert(maxFiles() <= 2, "compaction through the scheme left the leaves")
    assert(rowSet() == rows, "compaction changed index content")
    // a committed `.compact-list=N` stage, crash before any move
    val leaf = leaves().maxBy(d => spark.read.parquet(d.getPath).count())
    spark.read.parquet(leaf.getPath).coalesce(1)
      .write.parquet(s"${base.getPath}/.compact-${leaf.getName}")
    assert(IvfIndex.compactLists(spark, dir, maxFilesPerList = 1000) == 1)
    assert(rowSet() == rows &&
      IvfIndex.readAssignments(spark, dir).count() == rows.size,
      "recovery through the scheme lost or duplicated rows")
    // purge: only the lists holding the doomed ids are rewritten
    val doomed = rows.map(_._1).toSeq.sorted.take(2)
    assert(IvfIndex.deleteIds(spark, dir, doomed.toDF("vec_id")) == 2L)
    assert(IvfIndex.purgeTombstones(spark, dir) ==
      rows.filter(r => doomed.contains(r._1)).map(_._2).size)
    assert(rowSet() == rows.filter(r => !doomed.contains(r._1)))
    assert(!new java.io.File(s"$local/tombstones").exists())
    assert(!base.listFiles().exists(f =>
      f.isDirectory && f.getName.startsWith(".")), "staging dirs left behind")
  }

  test("int8 and band purges through a non-file: scheme") {
    import graft.analytics.{Int8Index, MinHashBandIndex}
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftlocal.impl", classOf[SchemeLocalFs].getName)
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val n = emb.count()
    val int8 = java.nio.file.Files.createTempDirectory("int8-scheme").toString
    Similarity.int8Quantized(emb)
      .select(col("vec_id"), col("__scale").as("scale"),
              expr("transform(__q, x -> cast(x as tinyint))").as("q"))
      .write.parquet(s"$int8/codes")
    val doomed = Seq(3L, 7L)
    val remote8 = s"graftlocal://$int8"
    assert(Int8Index.deleteIds(spark, remote8, doomed.toDF("vec_id")) == 2L)
    assert(Int8Index.purgeTombstones(spark, remote8) == 2L)
    val codes = Int8Index.readCodes(spark, int8)
    assert(codes.count() == n - 2 &&
      codes.filter(col("vec_id").isin(doomed: _*)).count() == 0)
    assert(!new java.io.File(s"$int8/tombstones").exists() &&
      !new java.io.File(s"$int8/.purge-codes").exists())
    // band index: the retracted doc's bands and shingles both go
    val other = "completely different words about spark catalyst tungsten"
    val band = java.nio.file.Files.createTempDirectory("mhband-scheme").toString
    MinHashBandIndex.buildFrom(spark, band,
      Seq((1L, base), (2L, other)).toDF("doc_id", "text"))
    val remote = s"graftlocal://$band"
    assert(MinHashBandIndex.deleteDocs(spark, remote,
      Seq(1L).toDF("corpus_id")) == 1L)
    assert(MinHashBandIndex.purgeTombstones(spark, remote) >= 1)
    Seq("bands", "shingles").foreach { sub =>
      val ids = spark.read.parquet(s"$band/$sub").select("corpus_id")
        .as[Long].collect().toSet
      assert(ids == Set(2L), s"$sub after the purge: $ids")
    }
    assert(!new java.io.File(s"$band/tombstones").exists())
  }

  test("ensureFresh through a non-file: scheme: rebuild, then a committed-stage recovery") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftlocal.impl", classOf[SchemeLocalFs].getName)
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    def stage(mod: Int): String = {
      val src = java.nio.file.Files.createTempDirectory("ivff-scheme").toString
      emb.filter(col("vec_id") % 2 === mod)
        .write.mode("overwrite").parquet(s"$src/embeddings.parquet")
      IvfIndex.ensure(spark, src)
    }
    def ids(d: String): Set[Long] = IvfIndex.readAssignments(spark, d)
      .select("vec_id").as[Long].collect().toSet
    val local = stage(0)
    val dir = s"graftlocal://$local"
    val before = ids(dir)
    assert(IvfIndex.ensureFresh(spark, dir, force = true))
    assert(ids(dir) == before, "rebuild through the scheme changed the rows")
    assert(spark.read.parquet(s"$dir/rebuild_log").count() == 1)
    assert(graft.analytics.OfflineArtifact.isComplete(spark, dir))
    Seq("-fresh", "-stale").foreach(sfx =>
      assert(!new java.io.File(local + sfx).exists(), s"$sfx left behind"))
    // a committed stage (a complete artifact copied in), crash before
    // any move: the next call swaps it in instead of rebuilding
    val other = stage(1)
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(other), new java.io.File(s"$local-fresh"))
    assert(IvfIndex.ensureFresh(spark, dir), "committed stage not swapped in")
    assert(ids(dir) == ids(other))
    Seq("-fresh", "-stale").foreach(sfx =>
      assert(!new java.io.File(local + sfx).exists(), s"$sfx left behind"))
  }

  test("emb02: learned-cluster labels match a brute recount") {
    // the oracle can't see the learned lists, so pin the whole labeling
    // computation (cluster tf, cluster df, rational TF-IDF, top-3)
    // against a plain-Scala recount over the same persisted assignments
    import graft.analytics.IvfIndex
    val dir = IvfIndex.ensure(spark, sf0001, IvfIndex.DefaultLists)
    val assigns = IvfIndex.readAssignments(spark, dir)
      .selectExpr("vec_id", "cast(list as int) as list").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val tf = scala.collection.mutable.Map.empty[(Int, String), Long]
    for ((id, cl) <- assigns; text <- docs.get(id);
         w <- text.toLowerCase.split("\\s+").filter(_.nonEmpty))
      tf((cl, w)) = tf.getOrElse((cl, w), 0L) + 1
    val df = tf.keys.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val nC = tf.keys.map(_._1).toSet.size
    val expected = tf.keys.groupBy(_._1).toSeq.flatMap { case (cl, keys) =>
      keys.toSeq.map { case (_, term) =>
        val score = math.rint(
          tf((cl, term)) * (nC + 1.0) / (df(term) + 1.0) * 1e6) / 1e6
        (cl, term, tf((cl, term)), df(term), score)
      }.sortBy { case (_, term, _, _, score) => (-score, term) }
        .take(3).zipWithIndex
        .map { case ((c, t, f, d, s), i) => (c, t, f, d, s, i + 1) }
    }.sortBy(r => (r._1, r._6))
    // the registry entry now emits the self-audit row; recount against
    // the raw labeling frame it audits
    val emb02dir = IvfIndex.ensure(spark, sf0001, IvfIndex.DefaultLists)
    val got = Similarity.clusterTerms(
        IvfIndex.readAssignments(spark, emb02dir)
          .select(col("vec_id"), col("list").cast("int").as("cluster")),
        spark.read.parquet(s"$sf0001/documents.parquet"), k = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
                           r.getLong(3), r.getDouble(4), r.getInt(5))).toSeq
    assert(got == expected)
  }

  test("persisted int8 index answers exactly like the in-plan quantization") {
    // ss11's contract: the offline codes are THE SAME representation
    // ss09 derives per query, so the two paths must agree row-for-row
    // (a lossy tinyint narrowing or a stale index would diverge here)
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val inPlan = Similarity.int8TopK(emb, 0L, 10).collect().toSeq
    val dir = graft.analytics.Int8Index.ensure(spark, sf0001)
    val codes = graft.analytics.Int8Index.readCodes(spark, dir)
    val served = Similarity.int8ScoreTopK(codes, codes, 0L, 10).collect().toSeq
    assert(served == inPlan)
  }

  test("multi-probe LSH recalls at least as much as single-probe") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val exact = Similarity.bruteForceTopK(emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val single = Similarity.lshTopK(emb, 0L, 10, nBits = 4)
      .select("vec_id").as[Long].collect().toSet
    val multi = Similarity.lshTopKMultiProbe(emb, 0L, 10, nBits = 4)
      .select("vec_id").as[Long].collect().toSet
    assert((exact & multi).size >= (exact & single).size,
           s"multi-probe recall ${(exact & multi).size} < single ${(exact & single).size}")
    // every multi-probe hit still scores exactly (values anchored by ss01)
    assert(multi.nonEmpty)
  }

  test("IVF index build is deterministic across fits") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val c1 = IvfIndex.fit(emb, nLists = 8)
    val c2 = IvfIndex.fit(emb.repartition(7), nLists = 8) // different layout
    assert(c1.map(_.toSeq) == c2.map(_.toSeq),
           "centroids must not depend on partitioning")
    val a1 = IvfIndex.assign(emb, c1).select("vec_id", "list")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val a2 = IvfIndex.assign(emb, c2).select("vec_id", "list")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a1 == a2)
  }

  test("IVF index dir key tracks dataset content, not just its path") {
    // every dir-based offline artifact, keyed by the corpus table it
    // derives from
    import graft.analytics.{BloomGramIndex, BpeTokenizer, Int8Index,
                            MinHashBandIndex}
    val kinds: Seq[(String, String => String)] = Seq(
      "ivf" -> (d => IvfIndex.indexDir(d, 4)),
      "int8" -> (d => Int8Index.indexDir(d)),
      "mhband" -> (d => MinHashBandIndex.indexDir(d)),
      "bpe" -> (d => BpeTokenizer.mergesDir(d)),
      "bloom" -> (d => BloomGramIndex.filterPath(d)))
    val dir = java.nio.file.Files.createTempDirectory("ivfstamp").toString
    // both tables laid out in subdirectories (p=0, p=1), so a part
    // file can move between them
    def write(n: Long, y: Float): Unit = {
      (0L to n).map(i => (i, Array(i.toFloat, y), i % 2))
        .toDF("vec_id", "embedding", "p")
        .write.mode("overwrite").partitionBy("p")
        .parquet(s"$dir/embeddings.parquet")
      (0L to n).map(i => (i, s"doc $i $y", i % 2))
        .toDF("doc_id", "text", "p")
        .write.mode("overwrite").partitionBy("p")
        .parquet(s"$dir/documents.parquet")
    }
    def parts(table: String, p: Int): Seq[java.io.File] =
      new java.io.File(s"$dir/$table.parquet/p=$p").listFiles().toSeq
        .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
    // the same corpus read through a non-`file:` scheme: the stamp must
    // resolve through Hadoop FS, not a local-file walk that lists
    // nothing there
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftlocal.impl", classOf[SchemeLocalFs].getName)
    val sfDirs = Seq(dir, s"graftlocal://$dir")
    def keys(): Map[(String, String), String] =
      (for (d <- sfDirs; (k, f) <- kinds) yield (d, k) -> f(d)).toMap
    write(20, 1f)
    var prev = keys()
    assert(prev == keys(), "stamp must be stable")
    def mustChange(what: String): Unit = {
      val now = keys()
      now.foreach { case (id, v) =>
        assert(v != prev(id), s"$what must invalidate the $id key")
      }
      prev = now
    }
    // regenerate the dataset at the SAME path → the key must change,
    // otherwise a stale persisted index would be silently reused
    Thread.sleep(1100) // mtime granularity on some filesystems is 1s
    write(30, 2f)
    mustChange("regenerated data")
    // a part file rewritten in place under the same name (same length)
    Seq("embeddings", "documents").foreach { t =>
      val f = parts(t, 0).head
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 1).toByte
      val mtime = f.lastModified()
      java.nio.file.Files.write(f.toPath, bytes)
      f.setLastModified(mtime + 2000)
    }
    mustChange("a part file rewritten in place")
    // a part file moved between subdirectories: same name, length and
    // mtime — only its path relative to the table root changes
    Seq("embeddings", "documents").foreach { t =>
      val f = parts(t, 0).head
      val to = java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$dir/$t.parquet/p=2"))
      java.nio.file.Files.move(f.toPath, to.resolve(f.getName))
    }
    mustChange("a part file moved between subdirectories")
  }

  test("PQ: codebooks deterministic; ADC equals reconstruction distance") {
    import graft.analytics.PqIndex
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val cb1 = PqIndex.fitCodebooks(emb)
    val cb2 = PqIndex.fitCodebooks(emb.repartition(5))
    assert(cb1.map(_.map(_.toSeq)) == cb2.map(_.map(_.toSeq)),
           "codebooks must not depend on partitioning")
    // ADC identity: the plan-side table-lookup distance must equal the
    // distance from the query to the reconstructed (decoded) vector
    val qvec = emb.filter($"vec_id" === 0L)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble).toArray
    val table = PqIndex.adcTable(qvec, cb1)
    val rows = PqIndex.encode(emb, cb1)
      .select($"vec_id", $"codes",
              PqIndex.adcDistance($"codes", table).as("adc"))
      .limit(50).collect()
    rows.foreach { r =>
      val codes = r.getSeq[Int](1)
      val rec = PqIndex.reconstruct(codes, cb1)
      val expected = qvec.zip(rec).map { case (q, c) => (q - c) * (q - c) }.sum
      assert(math.abs(r.getDouble(2) - expected) < 1e-9,
             s"vec ${r.getLong(0)}: adc ${r.getDouble(2)} != recon $expected")
    }
    // 32x compression: 64 floats -> 8 small codes
    assert(rows.forall(_.getSeq[Int](1).size == PqIndex.SubSpaces))
  }

  test("pq_adc native expression is bit-identical to the HOF fold") {
    import graft.analytics.{IvfIndex, Similarity}
    val dir = IvfIndex.ensure(spark, sf0001)
    val assignments = IvfIndex.readAssignments(spark, dir)
    val rcbs = IvfIndex.readResidualCodebooks(spark, dir)
    val dSub = rcbs.head.head.length
    val cbLit = array(rcbs.map(cb =>
      array(cb.map(c => array(c.map(lit): _*)): _*)): _*)
    // a realistic qres: this query's residual against list 0's centroid
    val cent = IvfIndex.readCentroids(spark, dir).head._2
    val centLit = array(cent.map(lit): _*)
    val qres = zip_with(transform($"embedding", _.cast("double")),
                        centLit, _ - _)
    // HOF reference formulation (what batchIvfPqTopK ran pre-native):
    // aggregate over subspaces of aggregate-over-zip_with slices —
    // same m-then-i accumulation order the native loop generates
    val hof = aggregate(
      sequence(lit(0), lit(rcbs.size - 1)), lit(0.0), (acc, m) =>
        acc + aggregate(
          zip_with(
            slice(qres, m * lit(dSub) + lit(1), lit(dSub)),
            element_at(element_at(cbLit, m + 1),
                       element_at($"res_codes", m + 1) + 1),
            (a, b) => (a - b) * (a - b)),
          lit(0.0), (a2, d) => a2 + d))
    val rows = assignments
      .select($"vec_id", hof.as("hof"),
              Natives.call(spark, "pq_adc",
                            qres, $"res_codes", cbLit).as("native"))
      .limit(200).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // bit-identical, not approximately equal: same accumulation order
      assert(r.getDouble(1) == r.getDouble(2),
             s"vec ${r.getLong(0)}: hof ${r.getDouble(1)} != native ${r.getDouble(2)}")
    }
    // ties/ordering downstream are therefore unchanged: the batch plan
    // must still produce the exact result under full probe + shortlist
    val exact = Similarity.batchIvfPqTopK(spark, sf0001, queryMaxId = 4L,
      k = 5, nLists = IvfIndex.DefaultLists,
      nProbe = IvfIndex.DefaultLists, shortlistFactor = 2000)
    assert(exact.count() == 20)
  }

  test("PQ ANN recall floor against exact L2 top-k on driver data") {
    import graft.analytics.{IvfIndex, PqIndex}
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val cb = PqIndex.fitCodebooks(emb)
    val pq = PqIndex.pqTopK(emb, cb, queryId = 0L, k = 10)
      .select("vec_id").as[Long].collect().toSet
    // exact reference in the SAME metric the PQ index quantizes (L2);
    // the cosine top-k is a different ordering on unnormalized vectors
    val qvec = emb.filter($"vec_id" === 0L)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble).toArray
    val qLit = array(qvec.map(lit): _*)
    val exact = emb.filter($"vec_id" =!= 0L)
      .select($"vec_id", IvfIndex.sqDistCol($"embedding", qLit).as("d"))
      .orderBy(asc("d"), asc("vec_id")).limit(10)
      .select("vec_id").as[Long].collect().toSet
    // raw ADC ordering: near-random synthetic vectors concentrate
    // pairwise distances, so quantization noise near the neighbor-gap
    // scale caps raw-ADC recall — the floor documents that reality
    val overlap = (pq & exact).size
    assert(overlap >= 3, s"PQ recall collapsed: $overlap/10 vs exact L2")
    // the serving pattern (ADC shortlist -> exact re-rank) must recover
    // what raw ADC loses: a true neighbor only has to survive into the
    // 8k shortlist, not be ranked exactly by quantized distances
    val refined = PqIndex.pqTopKRefined(emb, cb, queryId = 0L, k = 10)
      .select("vec_id").as[Long].collect().toSet
    val refOverlap = (refined & exact).size
    assert(refOverlap >= 8, s"refined PQ recall: $refOverlap/10 vs exact L2")
    assert(refOverlap >= overlap)
  }

  test("IVF-PQ: full probe + full shortlist equals exact L2; pruned probe keeps recall") {
    import graft.analytics.{IvfIndex, Similarity}
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val qvec = emb.filter($"vec_id" === 0L)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble).toArray
    val qLit = array(qvec.map(lit): _*)
    val exact = emb.filter($"vec_id" =!= 0L)
      .select($"vec_id", round(IvfIndex.sqDistCol($"embedding", qLit), 6).as("d"))
      .orderBy(asc("d"), asc("vec_id")).limit(10)
      .select("vec_id").as[Long].collect().toSeq
    // every list probed + shortlist covering the corpus → the ADC stage
    // prunes nothing and the exact re-rank IS brute force: pins the
    // whole persisted-codes path (format, per-list tables, union,
    // re-rank) end to end
    val full = Similarity.ivfPqTopK(spark, sf0001, queryId = 0L, k = 10,
        nLists = IvfIndex.DefaultLists, nProbe = IvfIndex.DefaultLists,
        shortlistFactor = 100)
      .select("vec_id").as[Long].collect().toSeq
    assert(full == exact)
    // the serving configuration (nProbe 4 of 16) keeps useful recall
    val pruned = Similarity.ivfPqTopK(spark, sf0001, queryId = 0L, k = 10,
        nLists = IvfIndex.DefaultLists, nProbe = 4)
      .select("vec_id").as[Long].collect().toSet
    val overlap = (pruned & exact.toSet).size
    assert(overlap >= 5, s"IVF-PQ recall collapsed: $overlap/10 vs exact L2")
  }

  test("semDedup: drops are sound (true cosine, same cluster) and a subset of global dedup") {
    val dir = IvfIndex.ensure(spark, sf0001)
    val assignments = IvfIndex.readAssignments(spark, dir)
    val dropped = Similarity.semDedup(assignments, tau = 0.35).collect()
    assert(dropped.nonEmpty)
    val byId = assignments.select("vec_id", "list", "embedding").collect()
      .map(r => r.getLong(0) -> (r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray)).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    dropped.foreach { r =>
      val (vid, kid) = (r.getAs[Long]("vec_id"), r.getAs[Long]("keeper_id"))
      assert(kid < vid)
      val (vl, vv) = byId(vid); val (kl, kv) = byId(kid)
      assert(vl == kl, s"keeper $kid not in $vid's cluster")
      assert(cos(vv, kv) >= 0.35 - 1e-6, s"pair ($kid,$vid) below tau")
    }
    // within-cluster dominance implies global dominance: sem01's drop
    // set must be a subset of the single-cluster (exact) drop set
    val globalDrops = Similarity.semDedup(
        assignments.withColumn("list", lit(0)), tau = 0.35)
      .select("vec_id").as[Long].collect().toSet
    val clusterDrops = dropped.map(_.getAs[Long]("vec_id")).toSet
    assert(clusterDrops.subsetOf(globalDrops))
  }

  test("semDedupCapped: under-cap clusters are identical; oversized ones bound their pair count") {
    import spark.implicits._
    // 300 near-identical vectors in ONE cluster (all pairwise cos ≈ 1)
    val big = (0L until 300L)
      .map(i => (i, 0, Array(1.0f, (i % 7) * 1e-4f, 0f)))
      .toDF("vec_id", "list", "embedding")
    // under the cap: capped ≡ uncapped, bit for bit
    val uncapped = Similarity.semDedup(big, tau = 0.9)
      .collect().map(_.toSeq).toSet
    val underCap = Similarity.semDedupCapped(big, tau = 0.9, cap = 1000)
      .collect().map(_.toSeq).toSet
    assert(underCap == uncapped)
    // over the cap: drops are a SUBSET (sub-splits can only remove
    // pairs) and every vector still dominated inside its sub-split is
    // found — with all-identical vectors each sub-split of ~100 drops
    // all but its own minimum, so ~(300 - nSub) drops survive
    val capped = Similarity.semDedupCapped(big, tau = 0.9, cap = 100)
      .select("vec_id").as[Long].collect().toSet
    val uncappedIds = uncapped.map(_.head.asInstanceOf[Long])
    assert(capped.subsetOf(uncappedIds))
    assert(capped.size >= 290, s"cap lost too much: ${capped.size}")
  }

  test("semDedup: near-dups split across clusters are never paired (cross-cluster leak pin)") {
    import spark.implicits._
    // two identical-vector pairs, each pair SPLIT across the two
    // clusters: any implementation that joins pairs across lists would
    // drop one of each; the correct per-cluster pass drops none
    val v = Array(1.0f, 0.0f, 0.0f)
    val w = Array(0.0f, 1.0f, 0.0f)
    val df = Seq((0L, 0, v), (1L, 1, v), (2L, 0, w), (3L, 1, w))
      .toDF("vec_id", "list", "embedding")
    assert(Similarity.semDedup(df, tau = 0.9).count() == 0)
    // the same data in ONE cluster produces exactly the two drops —
    // proving the guard above is the cluster key, not the similarities
    assert(Similarity.semDedup(df.withColumn("list", lit(0)), tau = 0.9)
      .count() == 2)
  }

  test("range search returns exactly the brute-force threshold set") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val got = Similarity.rangeSearch(emb, queryId = 0L, tau = 0.30)
      .select("vec_id").as[Long].collect().toSet
    val all = Similarity.bruteForceTopK(emb, queryId = 0L, k = 1000)
      .collect().filter(_.getDouble(1) >= 0.30).map(_.getLong(0)).toSet
    assert(got == all && got.nonEmpty)
  }

  test("LSH ANN: bucket-mates score identically to brute force") {
    val emb = (0L to 40L).map { i =>
      val angle = i.toDouble / 41 * math.Pi
      (i, Array(math.cos(angle).toFloat, math.sin(angle).toFloat, 0.1f))
    }.toDF("vec_id", "embedding")
    val brute = Similarity.bruteForceTopK(emb, 0L, 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ann = Similarity.lshTopK(emb, 0L, 5, nBits = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    // every ANN hit's similarity must equal its brute-force similarity
    ann.foreach { case (id, sim) =>
      brute.get(id).foreach(bs => assert(math.abs(bs - sim) < 1e-9))
    }
    assert(ann.nonEmpty)
  }

  // --- MinHash band-index ingest gate (dd09) -----------------------------

  private def gateRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getInt(1),
      if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq

  test("mhband gate: chain across ingest epochs — append ≡ rebuild, accepted docs gate later arrivals") {
    import graft.analytics.MinHashBandIndex
    val corpus = Seq(
      (1L, base),
      (2L, "completely different words about spark catalyst tungsten codegen shuffles and joins"),
      (3L, "yet another unrelated document mentioning parquet columnar storage formats and pushdown")
    ).toDF("doc_id", "text")
    val novel = (11 to 35).map(i => s"novel$i topic on distributed systems theory").mkString(" ")
    val b1 = Seq(
      (10L, base + " again"), // near-dup of corpus doc 1 → reject
      (20L, novel)            // nothing like it → accept
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("mhband-chain").toString
    MinHashBandIndex.buildFrom(spark, dir, corpus)

    val g1 = MinHashBandIndex.gate(spark, dir, b1)
    assert(gateRows(g1) == Seq((10L, 0, 1L), (20L, 1, -1L)))

    // epoch 2 arrives AFTER doc 20 was accepted and appended: a near-dup
    // of 20 must now be rejected (the index chains), and append must be
    // indistinguishable from a full rebuild over corpus + accepted.
    // materialize BEFORE appending: the gate result is lazy over the
    // index dir, and appendAccepted mutates that dir (see its scaladoc)
    val accepted1 = b1.join(g1.filter(col("keep") === 1).select("doc_id"), Seq("doc_id"))
      .localCheckpoint(true)
    MinHashBandIndex.appendAccepted(spark, dir, accepted1)
    val b2 = Seq(
      (30L, novel + " addendum"), // near-dup of appended doc 20 → reject
      (40L, "entirely fresh content about olap engines vectorized execution and columnar scans")
    ).toDF("doc_id", "text")
    val g2 = MinHashBandIndex.gate(spark, dir, b2)
    assert(gateRows(g2) == Seq((30L, 0, 20L), (40L, 1, -1L)))

    val dir2 = java.nio.file.Files.createTempDirectory("mhband-rebuild").toString
    MinHashBandIndex.buildFrom(spark, dir2, corpus.unionByName(accepted1))
    assert(g2.collect().toSeq ==
      MinHashBandIndex.gate(spark, dir2, b2).collect().toSeq)

    // re-gating an already-appended doc rejects it against itself at
    // jaccard 1 — replay safety of the ingest loop.
    val replay = MinHashBandIndex.gate(spark, dir, accepted1).collect()
    assert(replay.forall(r =>
      r.getInt(1) == 0 && r.getLong(2) == r.getLong(0) && r.getDouble(3) == 1.0))
  }

  test("mhband gate: banded ≡ exhaustive on the planted fixture; hot-bucket cap only widens accepts") {
    import graft.analytics.MinHashBandIndex
    val corpus = Seq(
      (1L, base),
      (2L, "completely different words about spark catalyst tungsten codegen shuffles and joins")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, base + " again"),
      (20L, (11 to 35).map(i => s"novel$i topic on distributed systems theory").mkString(" "))
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("mhband-eq").toString
    MinHashBandIndex.buildFrom(spark, dir, corpus)
    val banded = MinHashBandIndex.gate(spark, dir, batch).collect().toSeq
    val exact = MinHashBandIndex.exhaustiveGate(spark, corpus, batch).collect().toSeq
    assert(banded == exact)
    // with every bucket treated as hot the gate must fail open (accept
    // everything) — never reject on suppressed evidence
    val capped = MinHashBandIndex.gate(spark, dir, batch, maxBucket = 0)
    assert(capped.collect().forall(_.getInt(1) == 1))
  }

  test("band-index takedown: a retracted corpus doc stops gating; purge removes its state") {
    import graft.analytics.MinHashBandIndex
    val base = (1 to 30).map(i =>
      s"corpus$i sentence about the quick brown fox").mkString(" ")
    val other = (1 to 30).map(i =>
      s"other$i topic on columnar storage and vectorized scans").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("mhband-tomb").toString
    MinHashBandIndex.buildFrom(spark, dir,
      Seq((1L, base), (2L, other)).toDF("doc_id", "text"))
    val batch = Seq((10L, base + " again")).toDF("doc_id", "text")
    def verdict(): (Int, Long) = {
      val r = MinHashBandIndex.gate(spark, dir, batch).collect().head
      (r.getInt(1), if (r.isNullAt(2)) -1L else r.getLong(2))
    }
    // the arrival is a near-dup of corpus doc 1 → rejected against it
    assert(verdict() == ((0, 1L)), s"fixture gate broken: ${verdict()}")
    // retract doc 1: the same arrival must now be ACCEPTED — a near-dup
    // of a doc the corpus no longer keeps is not a duplicate
    assert(MinHashBandIndex.deleteDocs(spark, dir,
      Seq(1L).toDF("corpus_id")) == 1L)
    assert(verdict() == ((1, -1L)), s"retracted doc still gates: ${verdict()}")
    assert(MinHashBandIndex.deleteDocs(spark, dir,
      Seq(1L).toDF("corpus_id")) == 0L, "replayed retraction not skipped")
    // physical purge: doc 1's bands AND shingles gone, tombstones
    // cleared, gate verdict unchanged, second purge a no-op
    assert(MinHashBandIndex.purgeTombstones(spark, dir) >= 1)
    assert(spark.read.parquet(s"$dir/bands")
      .filter(col("corpus_id") === 1L).count() == 0)
    assert(spark.read.parquet(s"$dir/shingles")
      .filter(col("corpus_id") === 1L).count() == 0)
    assert(!new java.io.File(s"$dir/tombstones").exists())
    assert(verdict() == ((1, -1L)), s"purge changed the gate: ${verdict()}")
    assert(MinHashBandIndex.purgeTombstones(spark, dir) == 0)
    // doc 2 still gates: an unrelated retraction must not widen the gate
    val nd2 = Seq((11L, other + " addendum")).toDF("doc_id", "text")
    val r2 = MinHashBandIndex.gate(spark, dir, nd2).collect().head
    assert(r2.getInt(1) == 0 && r2.getLong(2) == 2L, s"doc 2 lost: $r2")
    // the same takedown through a non-`file:` scheme: the tombstone
    // checks must go through Hadoop FS, or the retraction is silently
    // ignored and a replayed delete appends twice
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftlocal.impl", classOf[SchemeLocalFs].getName)
    val local = java.nio.file.Files.createTempDirectory("mhband-tomb-fs").toString
    MinHashBandIndex.buildFrom(spark, local,
      Seq((1L, base), (2L, other)).toDF("doc_id", "text"))
    val remote = s"graftlocal://$local"
    def verdictAt(d: String): (Int, Long) = {
      val r = MinHashBandIndex.gate(spark, d, batch).collect().head
      (r.getInt(1), if (r.isNullAt(2)) -1L else r.getLong(2))
    }
    assert(verdictAt(remote) == ((0, 1L)), s"scheme fixture: ${verdictAt(remote)}")
    assert(MinHashBandIndex.deleteDocs(spark, remote,
      Seq(1L).toDF("corpus_id")) == 1L)
    assert(verdictAt(remote) == ((1, -1L)),
      s"retraction through the scheme ignored: ${verdictAt(remote)}")
    assert(MinHashBandIndex.deleteDocs(spark, remote,
      Seq(1L).toDF("corpus_id")) == 0L, "replayed retraction through the scheme appended")
    graft.analytics.Tombstones.clear(spark, remote)
    assert(!new java.io.File(s"$local/tombstones").exists() &&
           !new java.io.File(s"$local/tombstone_log").exists(),
           "clear through the scheme left the tombstone segment")
    assert(verdictAt(remote) == ((0, 1L)), "cleared tombstones still mask")
  }

  test("ss17 tombstone probe: recall floor against the tombstone-exact anchor") {
    // ss17's quality contract: the approximate (nProbe = 4) serve over
    // the tombstoned live view must not silently regress against ss17x
    // (nProbe = nLists, exact over the live rows by construction).
    // Deterministic: same persisted index, same tombstone slice.
    def ids(nProbe: Int): Set[Long] =
      Similarity.tombstoneIvfTopK(spark, sf0001, queryId = 0L, k = 10,
          nLists = IvfIndex.DefaultLists, nProbe = nProbe,
          delMod = 17, delRes = 3)
        .select("vec_id").as[Long].collect().toSet
    val exact = ids(IvfIndex.DefaultLists)
    val probed = ids(4)
    val recall = (exact & probed).size / 10.0
    assert(recall >= 0.5, s"tombstone IVF recall@10 regressed: $recall")
    // neither serve may surface a tombstoned id
    assert((exact ++ probed).forall(_ % 17 != 3))
  }

  test("IVF tombstones: delete masks the serve, replay is a no-op, purge applies list-locally") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val srcDir = java.nio.file.Files.createTempDirectory("ivf-tomb").toString
    emb.write.mode("overwrite").parquet(s"$srcDir/embeddings.parquet")
    val dir = IvfIndex.ensure(spark, srcDir)
    // doom two ids straight out of the exact top-10: masking them must
    // visibly change the serve, so a broken anti-join cannot pass
    val brute = Similarity.bruteForceTopK(emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSeq
    val doomedIds = Seq(brute(1), brute(3))
    val n = IvfIndex.deleteIds(spark, dir,
      emb.filter(col("vec_id").isin(doomedIds: _*)).select("vec_id"))
    assert(n == 2, s"tombstoned $n")
    // full probe over the live view == brute force over the live corpus
    val served = Similarity.ivfProbe(IvfIndex.liveAssignments(spark, dir),
        IvfIndex.readCentroids(spark, dir), queryId = 0L, k = 10,
        nProbe = IvfIndex.DefaultLists)
      .select("vec_id").as[Long].collect().toSeq
    val want = Similarity.bruteForceTopK(
        emb.filter(!col("vec_id").isin(doomedIds: _*)), 0L, 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(served == want, s"live serve diverged: $served vs $want")
    assert(doomedIds.forall(id => !served.contains(id)))
    // replaying the identical delete batch is a stamped no-op
    val again = IvfIndex.deleteIds(spark, dir,
      emb.filter(col("vec_id").isin(doomedIds: _*)).select("vec_id"))
    assert(again == 0L, "replayed delete batch was not skipped")
    // physical purge: only the lists holding doomed rows are rewritten
    def leafFiles(): Map[String, Set[String]] = {
      val base = new java.io.File(s"$dir/assignments")
      base.listFiles().filter(_.getName.startsWith("list=")).map { d =>
        d.getName -> d.listFiles().filter(f =>
          f.isFile && !f.getName.startsWith(".") &&
          !f.getName.startsWith("_")).map(_.getName).toSet
      }.toMap
    }
    val doomedLists = IvfIndex.readAssignments(spark, dir)
      .filter(col("vec_id").isin(doomedIds: _*))
      .select("list").distinct().as[Int].collect().map(l => s"list=$l").toSet
    val before = leafFiles()
    val nPurged = IvfIndex.purgeTombstones(spark, dir)
    assert(nPurged == doomedLists.size, s"purged $nPurged lists")
    val after = leafFiles()
    before.foreach { case (l, fs) =>
      if (doomedLists(l)) assert(after(l) != fs, s"hot list $l not rewritten")
      else assert(after(l) == fs, s"cold list $l rewritten")
    }
    // after the purge the RAW index equals the former live view and the
    // tombstone segment is gone; a second purge touches nothing
    assert(!new java.io.File(s"$dir/tombstones").exists())
    val servedAfter = Similarity.ivfProbe(IvfIndex.readAssignments(spark, dir),
        IvfIndex.readCentroids(spark, dir), queryId = 0L, k = 10,
        nProbe = IvfIndex.DefaultLists)
      .select("vec_id").as[Long].collect().toSeq
    assert(servedAfter == want, "purge changed the served result")
    assert(IvfIndex.readAssignments(spark, dir)
      .filter(col("vec_id").isin(doomedIds: _*)).count() == 0)
    assert(IvfIndex.purgeTombstones(spark, dir) == 0)
  }

  test("band config holds recall-anchor strength: (1 - 0.9^Rows)^Bands < 1e-4") {
    // The derived miss bound the retired dd02r registry anchor carried
    // (r16: dd02's in-plan recall_ok boolean took over the runtime
    // assertion; THIS pin keeps the config itself from silently
    // weakening — a Jaccard >= 0.9 pair must miss all bands with
    // probability < 1e-4 for "guaranteed recall" to stay honest).
    import graft.functions.MinHash
    val missBound =
      math.pow(1.0 - math.pow(0.9, MinHash.Rows), MinHash.Bands)
    assert(missBound < 1e-4,
      s"band config too weak for a recall anchor: miss=$missBound")
  }
}

/** Local files under a non-`file:` scheme (`graftlocal:///…`), as an
  * offline stand-in for a remote store: a `java.io.File` walk sees
  * nothing under this scheme, a Hadoop `FileSystem` listing sees the
  * files. */
class SchemeLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, Path}
  override def getUri: java.net.URI = java.net.URI.create("graftlocal:///")
  override def getScheme: String = "graftlocal"
  // plain statuses: the raw local ones load permissions lazily through
  // a `file:`-only URI conversion
  private def plain(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication,
                   st.getBlockSize, st.getModificationTime, st.getPath)
  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(plain)
  override def getFileStatus(f: Path): FileStatus =
    plain(super.getFileStatus(f))
  // as on HDFS, a rename never replaces an existing file
  override def rename(src: Path, dst: Path): Boolean =
    if (exists(dst) && getFileStatus(dst).isFile) false
    else super.rename(src, dst)
}
