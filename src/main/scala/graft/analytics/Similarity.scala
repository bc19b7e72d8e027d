package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.queries.QueryDef

/** Similarity search over the `embeddings` table's `array<float>`
  * column.
  *
  *  - Brute-force cosine top-k is the correctness baseline: one
  *    broadcast of the query vector, a map-side cosine per row, and a
  *    TakeOrderedAndProject top-k — no shuffle of the corpus at all, so
  *    even this "naive" plan scans 100 TB in one pass.
  *  - The LSH-bucketed variant buckets the corpus by random-hyperplane
  *    signs (computed map-side, deterministic on every executor);
  *    probing compares only the query's bucket.
  *  - The IVF variant probes a PERSISTED inverted-file index
  *    ([[IvfIndex]]): learned centroids rank driver-side (metadata),
  *    partition pruning skips every unprobed list at the scan, and
  *    nothing is trained at query time.
  *  - Batch ANN serves a TABLE of query vectors in one plan: queries
  *    rank centroids distributively, the (query, list) probe set joins
  *    the inverted lists, and a per-query window takes the top-k — the
  *    shape a training-data pipeline needs when it queries millions of
  *    vectors, not one.
  */
object Similarity {
  import QueryDef.table

  /** Content-stamped per-JVM cache of single QUERY VECTORS pulled to
    * the driver for centroid/codebook ranking (FloorProf r15: the
    * eager one-row head() job was the dominant BUILD cost of the
    * IVF/PQ entries — a fresh-plan Spark job per entry for a
    * corpus-static value). Keyed by [[Bounded.planStamp]] + queryId
    * ([[Bounded.stampMemo]]): a mutated index dir (appends, drift
    * rebuilds, tombstone segments — all of which change the frame's
    * scanned file set) refetches, so the cache can never serve a
    * vector for changed data. */
  private[analytics] def cachedQueryVec(df: DataFrame,
                                        queryId: Long): Array[Float] =
    Bounded.stampMemo(df, "qvec#" + queryId)(
      df.filter(col("vec_id") === queryId)
        .select("embedding").head().getSeq[Float](0).toArray)

  /** Brute-force cosine top-k against the vector with id `queryId`:
    * broadcast of one query row, codegen'd per-row cosine, top-k via
    * TakeOrderedAndProject — a single scan, no shuffle of the corpus. */
  def bruteForceTopK(emb: DataFrame, queryId: Long, k: Int): DataFrame = {
    val spark = emb.sparkSession
    val q = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qvec"))
    emb.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
              round(VectorOps.cosineNative(spark, col("embedding"), col("qvec")), 6)
                .as("cos_sim"))
      .orderBy(desc("cos_sim"), asc("vec_id"))
      .limit(k)
  }

  /** Brute-force L2 top-k — the exact in-plan baseline the PQ-metric
    * serves (ss05/ss06/ss07) are audited against ([[SelfAudit.topK]]).
    * Same rounding as [[PqIndex.rerankExact]] so "served best never
    * beats exact best" is an exact-arithmetic comparison. */
  def bruteForceL2TopK(emb: DataFrame, queryId: Long, k: Int): DataFrame = {
    val spark = emb.sparkSession
    val q = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qvec"))
    emb.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
              round(IvfIndex.sqDistNative(spark, col("embedding"), col("qvec")), 6)
                .as("l2_dist"))
      .orderBy(asc("l2_dist"), asc("vec_id"))
      .limit(k)
  }

  /** Slice modulus/residue shared by every single-query sliced audit
    * and its oracle SQL ([[SelfAudit.topKSliced]]): the exact audit
    * side scans `vec_id % 8 == 1` instead of the whole corpus. Residue
    * 1 keeps the query row (vec_id 0) out of the slice by construction. */
  val AuditSliceMod = 8L
  val AuditSliceRes = 1L

  /** Exact cosine scores of the deterministic audit slice — the exact
    * side of [[SelfAudit.topKSliced]]. One map-side pass over
    * corpus/mod rows (the modulus filter rides the scan; no shuffle,
    * no top-k barrier — the audit aggregates it in one pass). Pass a
    * pre-filtered `emb` (label predicate, tombstone mask, staged
    * union) to audit a restricted serve: the slice composes on top. */
  def cosScoredSlice(emb: DataFrame, queryId: Long): DataFrame = {
    val spark = emb.sparkSession
    val q = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qvec"))
    emb.filter(pmod(col("vec_id"), lit(AuditSliceMod)) === AuditSliceRes &&
               col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
              round(VectorOps.cosineNative(spark, col("embedding"), col("qvec")), 6)
                .as("cos_sim"))
  }

  /** L2 twin of [[cosScoredSlice]] (PQ-metric serves). */
  def l2ScoredSlice(emb: DataFrame, queryId: Long): DataFrame = {
    val spark = emb.sparkSession
    val q = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qvec"))
    emb.filter(pmod(col("vec_id"), lit(AuditSliceMod)) === AuditSliceRes &&
               col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
              round(IvfIndex.sqDistNative(spark, col("embedding"), col("qvec")), 6)
                .as("l2_dist"))
  }

  /** Exact per-query cosine top-k for a deterministic audit subset of a
    * batch serve's queries ([[SelfAudit.batchTopK]]): the audit stays a
    * bounded fraction of the serve (|queryIds| queries, not the batch). */
  def batchBruteCosTopK(emb: DataFrame, queryIds: Seq[Long], k: Int,
                        labels: Option[Seq[Int]] = None): DataFrame = {
    val spark = emb.sparkSession
    val q = emb.filter(col("vec_id").isin(queryIds.map(Long.box): _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val base = labels.map(ls => emb.filter(col("label").isin(ls.map(Int.box): _*)))
      .getOrElse(emb)
    val w = Window.partitionBy("query_id").orderBy(desc("cos_sim"), asc("vec_id"))
    base.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
              round(VectorOps.cosineNative(spark, col("embedding"), col("qvec")), 6)
                .as("cos_sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("query_id", "vec_id", "cos_sim")
  }

  /** L2 twin of [[batchBruteCosTopK]] for the batch PQ-metric audit. */
  def batchBruteL2TopK(emb: DataFrame, queryIds: Seq[Long],
                       k: Int): DataFrame = {
    val spark = emb.sparkSession
    val q = emb.filter(col("vec_id").isin(queryIds.map(Long.box): _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val w = Window.partitionBy("query_id").orderBy(asc("l2_dist"), asc("vec_id"))
    emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
              round(IvfIndex.sqDistNative(spark, col("embedding"), col("qvec")), 6)
                .as("l2_dist"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("query_id", "vec_id", "l2_dist")
  }

  /** Int8-quantized cosine top-k — the memory-bandwidth serving path:
    * unit-normalize, symmetric int8 quantization (the ef01 transform),
    * then an INTEGER dot product per row, rescaled by the two
    * quantization scales back to an approximate cosine. Every step is
    * deterministic IEEE/integer math, so unlike LSH/IVF this
    * "approximation" is exactly replayable by an oracle engine: the
    * approximation is in the REPRESENTATION (4× smaller vectors, integer
    * multiplies), not in which rows get scanned. Same plan shape as
    * [[bruteForceTopK]]: broadcast one quantized query row, map-side
    * scoring, TakeOrderedAndProject — no shuffle of the corpus. */
  /** (vec_id, __scale, __q): the int8 representation behind ss09/st13 —
    * unit-normalize then symmetric int8 quantization (ef01's transform),
    * computed as a map-only projection. */
  def int8Quantized(emb: DataFrame): DataFrame = {
    val norm = sqrt(aggregate(
      transform(col("embedding"), c => c.cast("double") * c.cast("double")),
      lit(0.0), (acc, v) => acc + v))
    emb
      .withColumn("__unit", transform(col("embedding"),
        c => c.cast("double") / norm))
      .withColumn("__scale", lit(127.0) /
        array_max(transform(col("__unit"), u => abs(u))))
      .withColumn("__q", transform(col("__unit"),
        u => round(u * col("__scale"), 0).cast("long")))
      .select(col("vec_id"), col("__scale"), col("__q"))
  }

  /** Top-k over an already-quantized (vec_id, __scale, __q) frame: the
    * query row is taken FROM `queryQz` (one-row broadcast), scoring is
    * the integer-dot rescale, top-k a TakeOrderedAndProject. Shared by
    * the in-plan path (ss09) and the persisted-index path (ss11). */
  def int8ScoreTopK(qz: DataFrame, queryQz: DataFrame, queryId: Long,
                    k: Int): DataFrame = {
    val q = queryQz.filter(col("vec_id") === queryId)
      .select(col("__scale").as("q_scale"), col("__q").as("q_q"))
    val spark = qz.sparkSession
    qz.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      // native integer dot (r16 HOF audit): the corpus-scaled serve
      // frame paid 2*dim interpreted lambda evals per row; DotL is
      // bit-identical (exact integer math, VecFoldsSpec)
      .withColumn("qdot",
        VectorOps.dotLongNative(spark, col("__q"), col("q_q")))
      .withColumn("score",
        round(col("qdot") / (col("__scale") * col("q_scale")), 6))
      .select(col("vec_id"), col("qdot"), col("score"))
      .orderBy(desc("score"), asc("vec_id"))
      .limit(k)
  }

  def int8TopK(emb: DataFrame, queryId: Long, k: Int): DataFrame = {
    val qz = int8Quantized(emb)
    int8ScoreTopK(qz, qz, queryId, k)
  }

  /** Batch multi-query int8 top-k: a TABLE of queries served against
    * the int8-quantized corpus in one plan — the query side broadcasts
    * onto the corpus scan (queries ≪ corpus always, in a serving tier),
    * integer dots score map-side, and a per-query window takes the
    * top-k. Deterministic end to end like [[int8TopK]], so the batch
    * plumbing is fully oracle-checkable; the STREAMING form
    * ([[graft.streaming.EventStreams.annServe]]) runs this exact plan
    * per micro-batch of arriving queries — stateless, corpus never
    * re-shuffled. */
  def int8BatchTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    int8BatchServe(int8Quantized(corpus), queries, k)

  /** [[int8BatchTopK]] over an ALREADY-quantized corpus frame — the
    * serving deployment reads [[Int8Index]]'s persisted codes here, so
    * each micro-batch quantizes only its own handful of queries. */
  def int8BatchServe(corpusQz: DataFrame, queries: DataFrame, k: Int)
      : DataFrame = {
    val qs = int8Quantized(queries)
      .select(col("vec_id").as("query_id"), col("__scale").as("q_scale"),
              col("__q").as("q_q"))
    val w = Window.partitionBy("query_id").orderBy(desc("score"), asc("vec_id"))
    corpusQz.join(broadcast(qs), col("vec_id") =!= col("query_id"))
      // native integer dot — see int8ScoreTopK (same serve metric)
      .withColumn("qdot",
        VectorOps.dotLongNative(corpusQz.sparkSession,
                                col("__q"), col("q_q")))
      .withColumn("score",
        round(col("qdot") / (col("__scale") * col("q_scale")), 6))
      .withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= k)
      .select("query_id", "vec_id", "score", "rk")
      .orderBy("query_id", "rk")
  }

  /** LSH-bucketed ANN: both corpus and query are bucketed by
    * random-hyperplane sign bits; only the query's bucket is scanned.
    * Returns the approximate top-k (exact within the probed bucket). */
  def lshTopK(emb: DataFrame, queryId: Long, k: Int, nBits: Int): DataFrame = {
    val spark = emb.sparkSession
    // native signature (r16 HOF audit): the HOF bucket evaluated
    // nBits x dim interpreted lambdas per CORPUS row — the exact shape
    // whose cost stayed invisible at fixture scale and surfaced at
    // dc06's 10^4-row bench; bit-identical (SimhashSigSpec)
    val bucketed = emb
      .withColumn("bucket", graft.functions.Natives.call(spark,
        "simhash_sig_n", col("embedding"), lit(nBits)))
    val q = bucketed.filter(col("vec_id") === queryId)
      .select(col("bucket").as("qbucket"), col("embedding").as("qvec"))
    bucketed.filter(col("vec_id") =!= queryId)
      .join(broadcast(q), col("bucket") === col("qbucket"))
      .select(col("vec_id"),
              round(VectorOps.cosineNative(spark, col("embedding"), col("qvec")), 6)
                .as("cos_sim"))
      .orderBy(desc("cos_sim"), asc("vec_id"))
      .limit(k)
  }

  /** Multi-probe LSH ANN: scans the query's bucket PLUS every bucket at
    * Hamming distance 1 (one sign bit flipped) — the standard
    * multi-probe trick: near neighbors that land just across one
    * hyperplane are recovered at the cost of probing nBits extra
    * buckets instead of doubling the table. Probed fraction ≈
    * (nBits+1)/2^nBits of the corpus; still a single scan + broadcast. */
  def lshTopKMultiProbe(emb: DataFrame, queryId: Long, k: Int,
                        nBits: Int): DataFrame = {
    val spark = emb.sparkSession
    // native signature — see lshTopK (bit-identical, SimhashSigSpec)
    val bucketed = emb
      .withColumn("bucket", graft.functions.Natives.call(spark,
        "simhash_sig_n", col("embedding"), lit(nBits)))
    val q = bucketed.filter(col("vec_id") === queryId)
      .select(col("bucket").as("qbucket"), col("embedding").as("qvec"))
    // query bucket ⊕ single-bit flips, exploded to one probe row each
    val flips = array((0 until nBits).map(b =>
      col("qbucket").bitwiseXOR(lit(1L << b))): _*)
    val probes = q.select(col("qvec"),
      explode(concat(array(col("qbucket")), flips)).as("pbucket"))
    bucketed.filter(col("vec_id") =!= queryId)
      .join(broadcast(probes), col("bucket") === col("pbucket"))
      .select(col("vec_id"),
              round(VectorOps.cosineNative(spark, col("embedding"), col("qvec")), 6)
                .as("cos_sim"))
      .orderBy(desc("cos_sim"), asc("vec_id"))
      .limit(k)
  }

  /** IVF probe shared by the persisted and in-memory paths: centroid
    * ranking happens driver-side over nLists rows (index metadata, not
    * data), the `isin(probes)` filter prunes unprobed lists — at the
    * parquet SCAN when `assignments` comes from the partitioned index
    * layout — and exact cosine runs only inside the probed lists. */
  def ivfProbe(assignments: DataFrame, centroids: Seq[(Int, Array[Double])],
               queryId: Long, k: Int, nProbe: Int): DataFrame = {
    val spark = assignments.sparkSession
    val qvec = cachedQueryVec(assignments, queryId)
    val probes = centroids
      .map { case (l, c) =>
        val d = c.zip(qvec).map { case (ci, qi) =>
          (ci - qi) * (ci - qi) }.sum
        (l, d)
      }
      .sortBy { case (l, d) => (d, l) }.take(nProbe).map(_._1)
    val qLit = array(qvec.map(lit): _*)
    assignments
      .filter(col("list").isin(probes: _*) && col("vec_id") =!= queryId)
      .select(col("vec_id"),
              round(VectorOps.cosineNative(spark, col("embedding"), qLit), 6)
                .as("cos_sim"))
      .orderBy(desc("cos_sim"), asc("vec_id"))
      .limit(k)
  }

  /** Cluster the (metadata-sized) IVF centroid table into `nSuper`
    * super-centroids — plain deterministic Scala k-means on the driver
    * (seeds evenly spaced over the id-sorted centroids, 3 Lloyd
    * rounds). This is the layered-coarse-quantizer role HNSW plays in
    * big ANN systems: once the centroid count reaches 10⁵⁺ (a 10¹⁰-
    * vector corpus at ~10⁵ vectors/list), ranking every centroid per
    * query stops being free; a √k top layer cuts the driver-side
    * ranking from O(k) to O(√k · probes). Returns each super-centroid
    * with its member list ids. */
  def fitSuperCentroids(centroids: Seq[(Int, Array[Double])], nSuper: Int)
      : Seq[(Array[Double], Seq[Int])] = {
    val sorted = centroids.sortBy(_._1)
    val n = sorted.length
    val k = math.min(nSuper, n)
    var supers: Seq[Array[Double]] =
      (0 until k).map(i => sorted((i.toLong * n / k).toInt)._2)
    def nearest(v: Array[Double], cs: Seq[Array[Double]]): Int =
      cs.zipWithIndex.minBy { case (c, i) =>
        (c.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum, i) }._2
    var assign: Map[Int, Seq[(Int, Array[Double])]] = Map.empty
    (0 until 3).foreach { _ =>
      assign = sorted.groupBy { case (_, v) => nearest(v, supers) }
      supers = supers.zipWithIndex.map { case (old, si) =>
        assign.get(si) match {
          case Some(members) =>
            val dim = old.length
            val mean = Array.tabulate(dim)(d =>
              members.map(_._2(d)).sum / members.length)
            // round like IvfIndex.fit: summation order can never flip
            // an assignment between runs
            mean.map(x => math.rint(x * 1e6) / 1e6)
          case None => old
        }
      }
    }
    supers.zipWithIndex.map { case (c, si) =>
      (c, assign.getOrElse(si, Seq.empty).map(_._1))
    }.filter(_._2.nonEmpty)
  }

  /** Two-level IVF probe: rank super-centroids, keep the top
    * `superProbe` groups, rank only THEIR member centroids, probe the
    * top `nProbe` lists. The executor-side plan is IDENTICAL to
    * [[ivfProbe]] (partition-pruned scan of the probed lists) — the
    * layer only changes which lists the driver picks, which is why
    * `superProbe` = all groups degenerates exactly to [[ivfTopK]]
    * (pinned in DedupSpec). */
  def ivf2TopK(spark: SparkSession, sfDir: String, queryId: Long, k: Int,
               nLists: Int, nProbe: Int, superProbe: Int): DataFrame = {
    val dir = IvfIndex.ensure(spark, sfDir, nLists)
    val centroids = IvfIndex.readCentroids(spark, dir)
    val assignments = IvfIndex.readAssignments(spark, dir)
    val nSuper = math.max(1, math.round(math.sqrt(nLists.toDouble)).toInt)
    val layered = fitSuperCentroids(centroids, nSuper)
    val qvec = cachedQueryVec(assignments, queryId)
    def sqDist(c: Array[Double]): Double =
      c.zip(qvec).map { case (ci, qi) => (ci - qi) * (ci - qi) }.sum
    val memberIds = layered.zipWithIndex
      .map { case ((c, members), si) => (sqDist(c), si, members) }
      .sortBy { case (d, si, _) => (d, si) }
      .take(superProbe).flatMap(_._3).toSet
    val probes = centroids.filter(c => memberIds(c._1))
      .map { case (l, c) => (l, sqDist(c)) }
      .sortBy { case (l, d) => (d, l) }.take(nProbe).map(_._1)
    assignments
      .filter(col("list").isin(probes: _*) && col("vec_id") =!= queryId)
      .select(col("vec_id"),
              round(VectorOps.cosineNative(spark, col("embedding"),
                    array(qvec.map(lit): _*)), 6).as("cos_sim"))
      .orderBy(desc("cos_sim"), asc("vec_id"))
      .limit(k)
  }

  /** IVF ANN against the persisted [[IvfIndex]] — nothing is trained at
    * query time. With nProbe = nLists this degenerates to exact brute
    * force (the property `DedupSpec` pins via [[ivfTopKOf]]). */
  def ivfTopK(spark: SparkSession, sfDir: String, queryId: Long, k: Int,
              nLists: Int, nProbe: Int): DataFrame = {
    val dir = IvfIndex.ensure(spark, sfDir, nLists)
    ivfProbe(IvfIndex.readAssignments(spark, dir),
             IvfIndex.readCentroids(spark, dir), queryId, k, nProbe)
  }

  /** FILTERED IVF ANN — ss13's pushed metadata predicate composed with
    * the ss03 partition-pruned probe: the label filter and the probed-
    * list filter reach the SAME index scan, so a selective predicate
    * cuts the probe's IO on top of the list pruning (the filtered-ANN
    * shape every metadata-scoped serving tier needs). The query vector
    * row is exempted from the predicate (its label is irrelevant; the
    * probe drops it from candidates anyway). Exact within the probed
    * lists; nProbe = nLists degenerates to exact filtered brute force —
    * the ss14x anchor. */
  def filteredIvfTopK(spark: SparkSession, sfDir: String, queryId: Long,
                      k: Int, nLists: Int, nProbe: Int,
                      labels: Seq[Int]): DataFrame = {
    val dir = IvfIndex.ensure(spark, sfDir, nLists)
    val assignments = IvfIndex.readAssignments(spark, dir)
      .filter(col("label").isin(labels.map(Int.box): _*) ||
              col("vec_id") === queryId)
    ivfProbe(assignments, IvfIndex.readCentroids(spark, dir),
             queryId, k, nProbe)
  }

  /** IVF ANN over the persisted index AFTER a tombstone delete — the
    * takedown-serving shape: a deterministic id slice (vec_id ≡ delRes
    * mod delMod) is tombstoned via [[IvfIndex.deleteIds]] (append-only
    * side segment, replay-idempotent, no index rewrite) and the probe
    * runs over [[IvfIndex.liveAssignments]], whose anti-join masks the
    * deleted rows inside the same partition-pruned scan. nProbe =
    * nLists degenerates to exact brute force over the LIVE rows — the
    * ss17x anchor. */
  def tombstoneIvfTopK(spark: SparkSession, sfDir: String, queryId: Long,
                       k: Int, nLists: Int, nProbe: Int,
                       delMod: Int, delRes: Int): DataFrame = {
    // PRIVATE index copy: this entry mutates index state (tombstones),
    // and the shared ensure dir is reused by every other IVF entry —
    // writing the delete there would leak it into any future entry
    // serving through liveAssignments (st21 stages its own the same way)
    val dir = IvfIndex.ensurePrivate(spark, sfDir, nLists, "ss17")
    val doomed = IvfIndex.readAssignments(spark, dir)
      .filter(pmod(col("vec_id"), lit(delMod.toLong)) === delRes.toLong)
      .select("vec_id")
    IvfIndex.deleteIds(spark, dir, doomed)
    ivfProbe(IvfIndex.liveAssignments(spark, dir),
             IvfIndex.readCentroids(spark, dir), queryId, k, nProbe)
  }

  /** Stage the ss18 lifecycle index: private copy of the shared index →
    * replay-idempotent append of a deterministically SHIFTED batch
    * (out-of-distribution: +10 per component, ids offset by 1e6 —
    * trips [[IvfIndex.driftStatus]]) → [[IvfIndex.ensureFresh]]
    * rebuild-and-swap. Idempotent across runs: the append log carries
    * the batch stamp through the rebuild, and post-rebuild drift is
    * back under threshold, so a replay is two no-ops. Shared by the
    * ss18 registry entry and Bench's warm-up (the lifecycle is offline
    * by the index contract; the entry times the serve + audit). */
  def stageDriftRefresh(spark: SparkSession, sfDir: String): String = {
    val dir = IvfIndex.ensurePrivate(spark, sfDir, IvfIndex.DefaultLists,
                                     "ss18")
    IvfIndex.appendBatchOnce(spark, dir,
      shiftedBatch(table(spark, sfDir, "embeddings")))
    IvfIndex.ensureFresh(spark, dir, IvfIndex.DefaultLists)
    dir
  }

  /** The deterministic out-of-distribution batch ss18 appends: exact
    * float arithmetic (+10.0f is exactly representable, and a
    * double-add-then-round-to-float of two floats equals the float
    * add), so the oracle replays it bit-identically. */
  def shiftedBatch(emb: DataFrame): DataFrame =
    emb.select(
      (col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), x => x + lit(10.0f)).as("embedding"),
      col("label"))

  /** IVF ANN over an in-memory DataFrame (tests / ad-hoc corpora):
    * fits + assigns ephemerally, then runs the same probe. */
  def ivfTopKOf(emb: DataFrame, queryId: Long, k: Int,
                nLists: Int, nProbe: Int): DataFrame = {
    val centroids = IvfIndex.fit(emb, nLists)
    ivfProbe(IvfIndex.assign(emb, centroids),
             centroids.zipWithIndex.map { case (c, i) => (i, c) },
             queryId, k, nProbe)
  }

  /** IVF-PQ ANN (FAISS IVFADC shape) against the persisted index:
    * centroids rank driver-side, the probed lists' partitions are the
    * only ones scanned, and candidates inside them are ranked from
    * their stored 8-byte residual codes via a per-list ADC table
    * (residual base differs per list, so each probed list gets its own
    * driver-computed table — one pruned scan branch per list, unioned).
    * The ADC shortlist is then re-ranked by exact distance, touching
    * only `k * shortlistFactor` full vectors. At 100 TB: codes ride the
    * probe scan (8 bytes/row), full vectors are read for the shortlist
    * only. */
  def ivfPqTopK(spark: SparkSession, sfDir: String, queryId: Long, k: Int,
                nLists: Int, nProbe: Int, shortlistFactor: Int = 8): DataFrame = {
    val dir = IvfIndex.ensure(spark, sfDir, nLists)
    val assignments = IvfIndex.readAssignments(spark, dir)
    val centroids = IvfIndex.readCentroids(spark, dir)
    val rcbs = IvfIndex.readResidualCodebooks(spark, dir)
    val qvec = cachedQueryVec(assignments, queryId).map(_.toDouble)
    val probes = centroids
      .map { case (l, c) =>
        (l, c.zip(qvec).map { case (ci, qi) => (ci - qi) * (ci - qi) }.sum) }
      .sortBy { case (l, d) => (d, l) }.take(nProbe).map(_._1)
    val branches = probes.map { l =>
      val c = centroids.find(_._1 == l).get._2
      val qres = qvec.zip(c).map { case (qi, ci) => qi - ci }
      val tbl = PqIndex.adcTable(qres, rcbs)
      assignments
        .filter(col("list") === l && col("vec_id") =!= queryId)
        .select(col("vec_id"),
                PqIndex.adcDistance(col("res_codes"), tbl).as("adc"))
    }
    val shortlist = branches.reduce(_ union _)
      .orderBy(asc("adc"), asc("vec_id"))
      .limit(k * shortlistFactor)
      .select("vec_id")
    PqIndex.rerankExact(assignments, shortlist, qvec, k)
  }

  /** Batch IVF-PQ ANN: a TABLE of queries served from the persisted
    * compressed codes in ONE plan — the shape a training pipeline needs
    * when millions of queries hit a 100 TB corpus. Unlike the
    * single-query path (driver-side ADC tables), the ADC estimate is
    * computed IN-PLAN from the codebook literal: each probe row carries
    * its query's residual against the probed list's centroid, and the
    * per-row cost is SubSpaces sliced sub-distances against the coded
    * centroids — all codegen'd HOFs over the (query, list)-joined codes,
    * no per-query driver work at all. Stages: distributed centroid
    * ranking (broadcast centroid table + window) → probe-set join →
    * in-plan ADC → per-query shortlist window → exact re-rank of
    * shortlist rows only. */
  def batchIvfPqTopK(spark: SparkSession, sfDir: String, queryMaxId: Long,
                     k: Int, nLists: Int, nProbe: Int,
                     shortlistFactor: Int = 8): DataFrame = {
    val dir = IvfIndex.ensure(spark, sfDir, nLists)
    val assignments = IvfIndex.readAssignments(spark, dir)
    import spark.implicits._
    val cdf = IvfIndex.readCentroids(spark, dir)
      .map { case (l, c) => (l, c.toSeq) }
      .toDF("list", "centroid")
    val rcbs = IvfIndex.readResidualCodebooks(spark, dir)
    val cbLit = array(rcbs.map(cb =>
      array(cb.map(c => array(c.map(lit): _*)): _*)): _*)
    val queries = assignments.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("query_id"),
              transform(col("embedding"), _.cast("double")).as("qvec"))
    val probeRank = Window.partitionBy("query_id")
      .orderBy(col("dist").asc, col("list").asc)
    val probes = queries.crossJoin(broadcast(cdf))
      .withColumn("dist", IvfIndex.sqDistCol(col("qvec"), col("centroid")))
      .withColumn("prk", row_number().over(probeRank))
      .filter(col("prk") <= nProbe)
      .select(col("query_id"), col("qvec"),
              zip_with(col("qvec"), col("centroid"), _ - _).as("qres"),
              col("list"))
    // Native codegen'd ADC (graft.functions.PqAdc): identical doubles
    // to the HOF fold (same m-then-i accumulation order — equality
    // pinned in DedupSpec), ~m×dSub fewer interpreted lambda calls per
    // (query, vector) pair. This is the corpus-sized stage of the
    // batch path; the HOF form ran entirely in the expression
    // interpreter (higher-order functions have no codegen).
    val adc = graft.functions.Natives.call(spark, "pq_adc",
                            col("qres"), col("res_codes"), cbLit)
    val shortRank = Window.partitionBy("query_id")
      .orderBy(asc("adc"), asc("vec_id"))
    // pin the window exchanges EXPLICITLY on the window key: the
    // implicit required-distribution exchange carries a few MB here, so
    // AQE coalesces it to ONE partition and the per-query window sort
    // of (queries × probed rows) serializes on one core (r18 JobProf:
    // a 1.7 s single-task stage inside ss07x). An explicit repartition
    // keeps defaultParallelism-way sorts, is exactly the exchange the
    // window needs anyway, and scales with the session instead of the
    // estimate.
    val p = spark.sparkContext.defaultParallelism
    val shortlist = assignments.join(broadcast(probes), Seq("list"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adc", adc)
      .repartition(p, col("query_id"))
      .withColumn("srk", row_number().over(shortRank))
      .filter(col("srk") <= k * shortlistFactor)
      .select("query_id", "vec_id")
    val topk = Window.partitionBy("query_id")
      .orderBy(asc("l2_dist"), asc("vec_id"))
    shortlist
      .join(assignments.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .join(broadcast(queries), Seq("query_id"))
      .repartition(p, col("query_id"))
      .withColumn("l2_dist",
        round(IvfIndex.sqDistCol(col("embedding"), col("qvec")), 6))
      .withColumn("rk", row_number().over(topk).cast("int"))
      .filter(col("rk") <= k)
      .select("query_id", "vec_id", "l2_dist", "rk")
      .orderBy("query_id", "rk")
  }

  /** Batch multi-query ANN: every vector with id < `queryMaxId` is a
    * query; one plan serves them all. Queries rank centroids via a
    * broadcast of the (tiny) centroid table + a per-query window, the
    * resulting (query, list) probe set joins the inverted lists, and a
    * per-query window takes the top-k on rounded cosine (deterministic
    * vec_id tie-break).
    *
    * The probe set is broadcast here (right for a moderate query batch
    * joined against a huge corpus); for query sets too big to broadcast
    * the same plan holds with a shuffle join on `list`. With
    * nProbe = nLists the result is exact regardless of centroids. */
  def batchAnnTopK(spark: SparkSession, sfDir: String, queryMaxId: Long,
                   k: Int, nLists: Int, nProbe: Int): DataFrame = {
    val dir = IvfIndex.ensure(spark, sfDir, nLists)
    val assignments = IvfIndex.readAssignments(spark, dir)
    import spark.implicits._
    val cdf = IvfIndex.readCentroids(spark, dir)
      .map { case (l, c) => (l, c.toSeq) }
      .toDF("list", "centroid")
    val queries = assignments.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val probeRank = Window.partitionBy("query_id")
      .orderBy(col("dist").asc, col("list").asc)
    val probes = queries.crossJoin(broadcast(cdf))
      .withColumn("dist", IvfIndex.sqDistCol(col("qvec"), col("centroid")))
      .withColumn("prk", row_number().over(probeRank))
      .filter(col("prk") <= nProbe)
      .select(col("query_id"), col("qvec"), col("list"))
    val topk = Window.partitionBy("query_id")
      .orderBy(desc("cos_sim"), asc("vec_id"))
    assignments.join(broadcast(probes), Seq("list"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos_sim",
        round(VectorOps.cosineNative(spark, col("embedding"), col("qvec")), 6))
      .withColumn("rk", row_number().over(topk))
      .filter(col("rk") <= k)
      .select("query_id", "vec_id", "cos_sim", "rk")
      .orderBy("query_id", "rk")
  }

  /** [[batchAnnTopK]] over a SPILLED index
    * ([[IvfIndex.ensureSpilled]]): border vectors are present in their
    * top-2 lists, so a probed-list scan recovers neighbors the plain
    * index loses across list boundaries (the AnnCrossover-measured ~6 %
    * plateau on clustered data). The only plan change vs the plain
    * serve: a vector can now match a query through BOTH its rows, so a
    * partial map-side max-cosine aggregate on (query_id, vec_id) dedups
    * candidates before the top-k window — the shuffle it adds carries
    * exactly the candidate rows the window already shuffles, and the
    * cosine is identical on both rows so max ≡ first. Same output
    * contract as [[batchAnnTopK]]; at margin such that nothing spills
    * the result is row-identical (pinned in DedupSpec). */
  def batchAnnTopKSpilled(spark: SparkSession, sfDir: String,
                          queryMaxId: Long, k: Int, nLists: Int,
                          nProbe: Int, margin: Double): DataFrame = {
    val dir = IvfIndex.ensureSpilled(spark, sfDir, nLists, margin)
    val assignments = IvfIndex.readAssignments(spark, dir)
    import spark.implicits._
    val cdf = IvfIndex.readCentroids(spark, dir)
      .map { case (l, c) => (l, c.toSeq) }
      .toDF("list", "centroid")
    val queries = assignments
      .filter(col("spilled") === 0 && col("vec_id") < queryMaxId)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val probeRank = Window.partitionBy("query_id")
      .orderBy(col("dist").asc, col("list").asc)
    val probes = queries.crossJoin(broadcast(cdf))
      .withColumn("dist", IvfIndex.sqDistCol(col("qvec"), col("centroid")))
      .withColumn("prk", row_number().over(probeRank))
      .filter(col("prk") <= nProbe)
      .select(col("query_id"), col("qvec"), col("list"))
    val topk = Window.partitionBy("query_id")
      .orderBy(desc("cos_sim"), asc("vec_id"))
    assignments.join(broadcast(probes), Seq("list"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos_sim",
        round(VectorOps.cosineNative(spark, col("embedding"), col("qvec")), 6))
      .groupBy("query_id", "vec_id")
      .agg(max(col("cos_sim")).as("cos_sim"))
      .withColumn("rk", row_number().over(topk))
      .filter(col("rk") <= k)
      .select("query_id", "vec_id", "cos_sim", "rk")
      .orderBy("query_id", "rk")
  }

  /** Batch FILTERED multi-query ANN — ss04's one-plan batch serve
    * composed with ss14's pushed metadata predicate: the label filter
    * sits on the index scan itself (PushedFilters), the probe set joins
    * on `list` against the already-label-pruned rows, and the per-query
    * window ranks only survivors. This is the shape a training pipeline
    * actually serves — millions of queries, each scoped to a metadata
    * slice, one plan. Queries come from the UNFILTERED corpus (a
    * query's own label is irrelevant to its candidate scope). With
    * nProbe = nLists the result is exact regardless of learned
    * centroids — the ss16x anchor. */
  def batchFilteredAnnTopK(spark: SparkSession, sfDir: String,
                           queryMaxId: Long, k: Int, nLists: Int,
                           nProbe: Int, labels: Seq[Int]): DataFrame = {
    val dir = IvfIndex.ensure(spark, sfDir, nLists)
    val assignments = IvfIndex.readAssignments(spark, dir)
    import spark.implicits._
    val cdf = IvfIndex.readCentroids(spark, dir)
      .map { case (l, c) => (l, c.toSeq) }
      .toDF("list", "centroid")
    val queries = assignments.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val probeRank = Window.partitionBy("query_id")
      .orderBy(col("dist").asc, col("list").asc)
    val probes = queries.crossJoin(broadcast(cdf))
      .withColumn("dist", IvfIndex.sqDistCol(col("qvec"), col("centroid")))
      .withColumn("prk", row_number().over(probeRank))
      .filter(col("prk") <= nProbe)
      .select(col("query_id"), col("qvec"), col("list"))
    val topk = Window.partitionBy("query_id")
      .orderBy(desc("cos_sim"), asc("vec_id"))
    assignments
      .filter(col("label").isin(labels.map(Int.box): _*))
      .join(broadcast(probes), Seq("list"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos_sim",
        round(VectorOps.cosineNative(spark, col("embedding"), col("qvec")), 6))
      .withColumn("rk", row_number().over(topk))
      .filter(col("rk") <= k)
      .select("query_id", "vec_id", "cos_sim", "rk")
      .orderBy("query_id", "rk")
  }

  /** Per-dataset PQ codebooks, fit once per JVM and corpus epoch
    * ([[OfflineArtifact.memo]] on the embeddings' content stamp; in
    * production the codebooks persist next to the IVF index — they are
    * SubSpaces × CodebookSize × dSub doubles of metadata). */
  def pqCodebooksFor(spark: SparkSession, sfDir: String): Seq[Seq[Array[Double]]] =
    OfflineArtifact.memo(s"pq|$sfDir",
      OfflineArtifact.stamp(spark, s"$sfDir/embeddings.parquet")) {
      PqIndex.fitCodebooks(table(spark, sfDir, "embeddings"))
    }

  /** DuckDB replay of the int8 top-k (ss09/ss11): derives the codes
    * from raw embeddings — identical math whether the Spark side
    * quantizes in-plan or reads the persisted index. */
  private val int8OracleSql =
    """WITH nrm AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(embedding,
      |      c -> CAST(c AS DOUBLE) * CAST(c AS DOUBLE)))) AS nrm
      |  FROM embeddings),
      |un AS (
      |  SELECT vec_id,
      |    list_transform(embedding, c -> CAST(c AS DOUBLE) / nrm) AS unit
      |  FROM nrm),
      |sc AS (
      |  SELECT vec_id, unit,
      |    127.0 / list_max(list_transform(unit, u -> abs(u))) AS scale
      |  FROM un),
      |qz AS (
      |  SELECT vec_id, scale,
      |    list_transform(unit,
      |      u -> CAST(round(u * scale, 0) AS BIGINT)) AS q
      |  FROM sc),
      |qv AS (SELECT scale AS q_scale, q AS q_q FROM qz WHERE vec_id = 0)
      |SELECT e.vec_id,
      |  CAST(list_sum(list_transform(list_zip(e.q, qv.q_q),
      |    p -> p[1] * p[2])) AS BIGINT) AS qdot,
      |  round(CAST(list_sum(list_transform(list_zip(e.q, qv.q_q),
      |    p -> p[1] * p[2])) AS BIGINT)
      |    / (e.scale * qv.q_scale), 6) AS score
      |FROM qz e, qv WHERE e.vec_id <> 0
      |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin

  private val cosSql =
    """list_sum(list_transform(list_zip(e.embedding, q.qvec),
      |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      |  / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |   * sqrt(list_sum(list_transform(q.qvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin

  /** Oracle side of [[SelfAudit.topKSliced]] for a single-query COSINE
    * serve: the audit slice's exact optimum (recomputed brute-force by
    * the oracle engine over `vec_id % 8 = 1` only) + `true` for every
    * audit boolean. `preds` narrows the candidate set exactly as the
    * audited serve does (label slice, tombstoned ids); `extraCols`
    * mirrors the serve's extra deterministic booleans. */
  private def cosSlicedAuditSql(preds: String = "",
                                extraCols: String = ""): String =
    s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
       |SELECT CAST(10 AS BIGINT) AS n_served,
       |  max(round($cosSql, 6)) AS exact_best_slice,
       |  true AS slice_dominated_ok$extraCols
       |FROM embeddings e, q
       |WHERE e.vec_id <> 0
       |  AND e.vec_id % ${Similarity.AuditSliceMod} = ${Similarity.AuditSliceRes}$preds""".stripMargin

  private val l2Sql =
    """list_sum(list_transform(list_zip(e.embedding, q.qvec),
      |    p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
      |       * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))""".stripMargin

  /** L2 twin of [[cosSlicedAuditSql]] (PQ-metric serves). */
  private def l2SlicedAuditSql: String =
    s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
       |SELECT CAST(10 AS BIGINT) AS n_served,
       |  min(round($l2Sql, 6)) AS exact_best_slice,
       |  true AS slice_dominated_ok
       |FROM embeddings e, q
       |WHERE e.vec_id <> 0
       |  AND e.vec_id % ${Similarity.AuditSliceMod} = ${Similarity.AuditSliceRes}""".stripMargin

  /** Oracle side of [[SelfAudit.batchTopK]]: deterministic batch
    * counts + the audited queries' exact optima, decimal-accumulated. */
  private def batchAuditSql(qidsIn: String, nQueries: Int, totalServed: Int,
                            agg: String, metricSql: String,
                            preds: String = "",
                            extraCols: String = ""): String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
       |           FROM embeddings WHERE vec_id IN $qidsIn),
       |eb AS (SELECT q.query_id, $agg(round($metricSql, 6)) AS b
       |       FROM embeddings e, q
       |       WHERE e.vec_id <> q.query_id$preds GROUP BY q.query_id)
       |SELECT CAST($nQueries AS BIGINT) AS n_queries,
       |  CAST($totalServed AS BIGINT) AS total_served,
       |  CAST(SUM(CAST(b AS DECIMAL(20,6))) AS DOUBLE) AS exact_best_sum,
       |  true AS recall_ok, true AS best_bounded$extraCols
       |FROM eb""".stripMargin

  /** Brute-force L2 top-k oracle shared by the PQ/IVF-PQ exactness
    * anchors (their serving metric is L2, not cosine). */
  private val l2OracleSql =
    """WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
      |SELECT e.vec_id,
      |  round(list_sum(list_transform(list_zip(e.embedding, q.qvec),
      |    p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
      |       * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))), 6) AS l2_dist
      |FROM embeddings e, q WHERE e.vec_id <> 0
      |ORDER BY l2_dist, vec_id LIMIT 10""".stripMargin

  /** Cosine range search: every corpus vector within `tau` of the query
    * — the "give me ALL near-duplicates / all relevant chunks" shape
    * (top-k bounds the result size; range search bounds the QUALITY).
    * Same scale story as [[bruteForceTopK]]: broadcast one query row,
    * codegen'd map-side cosine, and the threshold filter — one scan of
    * the corpus, no shuffle at all (not even a top-k ordering barrier;
    * the final sort orders only the matched rows). */
  def rangeSearch(emb: DataFrame, queryId: Long, tau: Double): DataFrame = {
    val spark = emb.sparkSession
    val q = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qvec"))
    emb.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
              round(VectorOps.cosineNative(spark, col("embedding"), col("qvec")), 6)
                .as("cos_sim"))
      .filter(col("cos_sim") >= tau)
      .orderBy(asc("vec_id"))
  }

  /** SemDeDup-style semantic deduplication: vectors are grouped into
    * clusters (`list` column), and within each cluster a vector is
    * DROPPED iff a smaller-id vector of the same cluster sits within
    * cosine `tau` (min-id dominance — deterministic and algebraic,
    * unlike the order-dependent sequential greedy scan). Returns the
    * dropped rows with their minimum dominator and evidence.
    *
    * Semantics note: `keeper_id` is the MINIMUM DOMINATOR, not
    * necessarily a survivor — under similarity chains (a~b, b~c, a≁c)
    * both b and c are dropped and c's keeper_id is the (dropped) b.
    * The surviving set is the COMPLEMENT of the returned vec_ids; with
    * min-id dominance a dropped vector always has at least one
    * dominator, but its nearest survivor may sit beyond `tau`. A
    * consumer wanting greedy-equivalent "every drop has a survivor
    * within tau" semantics must iterate dominators to fixpoint (or
    * post-filter keeper_id to surviving ids); this operator trades that
    * guarantee for a single deterministic pairwise pass.
    *
    * Scale shape: the pairwise stage is confined WITHIN clusters — the
    * self-join key is the cluster id, so cost is Σ|cluster|², not N²,
    * and the cluster count grows with the corpus (k ∝ N / target
    * cluster size) exactly as the IVF index it reuses. No global stage
    * anywhere: one equi-join + one per-vector aggregate. */
  /** Vectors per cluster targeted by [[semLists]]. */
  val SemTargetPerList = 256

  /** Cluster count for [[semDedup]] honoring its k ∝ N contract: one
    * list per ~[[SemTargetPerList]] vectors, never below the serving
    * default. At the driver's verify fixtures (≤ 4k vectors) this
    * equals `DefaultLists`, so small-SF results are unchanged; at
    * larger corpora the per-cluster pairwise cost Σ|cluster|² stays
    * linear in N instead of blowing up N²/k at a frozen k (the failure
    * mode the round-4 probe measured at 42.7 s for 10× data). The
    * count() is parquet-metadata-only. */
  def semLists(spark: org.apache.spark.sql.SparkSession, sfDir: String): Int = {
    val n = table(spark, sfDir, "embeddings").count()
    math.max(IvfIndex.DefaultLists,
             math.ceil(n.toDouble / SemTargetPerList).toInt)
  }

  /** [[semDedup]] with the hot-cluster census cap: clusters larger than
    * `cap` are deterministically hash-split into ⌈|c|/cap⌉ sub-lists
    * before the pairwise pass, bounding Σ|cluster|² to ~N·cap even when
    * Lloyd leaves skewed lists (measured at the sf1 bench: 13.7× skew,
    * max list 4064 of 20k — 69.7M pairs where balance predicts 5.1M).
    * Near-dups landing in different sub-splits of an OVERSIZED cluster
    * are missed — the same bounded-recall trade the LSH hot-bucket
    * census cap makes, and the reason the cap only engages above `cap`
    * (clusters at the [[SemTargetPerList]] design size are untouched,
    * so verify-fixture results are identical). The split key rides
    * inside the `list` column (a struct), so [[semDedup]]'s plan is
    * reused unchanged and dominance stays within (list, sub). */
  def semDedupCapped(assignments: DataFrame, tau: Double,
                     cap: Int = 4 * SemTargetPerList): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("list")
    val sub = assignments
      .withColumn("__csize", count(lit(1)).over(w))
      .withColumn("__nsub",
        ceil(col("__csize") / lit(cap.toDouble)).cast("int"))
      .withColumn("list",
        struct(col("list").as("l"),
               pmod(xxhash64(col("vec_id")), col("__nsub")).cast("int")
                 .as("sub")))
      .drop("__csize", "__nsub")
    semDedup(sub, tau)
  }

  /** Top-`k` TF-IDF terms per cluster: `clusters` is (vec_id, cluster);
    * docs join on doc_id ≡ vec_id. One explode → two partial-aggregated
    * groupBys (cluster-tf, then term-df over the CLUSTER-term table, so
    * df is bounded by cluster count × vocabulary — dictionary-sized);
    * the 1-row cluster count broadcasts; per-cluster top-k is the only
    * window and it partitions on cluster. */
  def clusterTerms(clusters: DataFrame, docs: DataFrame, k: Int): DataFrame = {
    val toks = docs
      .join(clusters, docs("doc_id") === clusters("vec_id"))
      .select(col("cluster"),
              explode(expr(
                "filter(split(lower(text), '\\\\s+'), t -> length(t) > 0)"))
                .as("term"))
    val tf = toks.groupBy("cluster", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nc = tf.agg(countDistinct("cluster").as("n_clusters"))
    val w = Window.partitionBy("cluster").orderBy(desc("score"), asc("term"))
    tf.join(df, Seq("term")).crossJoin(broadcast(nc))
      .withColumn("score",
        round(col("tf") * (col("n_clusters") + lit(1.0)) / (col("df") + lit(1.0)), 6))
      .withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= k)
      .select("cluster", "term", "tf", "df", "score", "rk")
      .orderBy("cluster", "rk")
  }

  def semDedup(assignments: DataFrame, tau: Double): DataFrame = {
    val spark = assignments.sparkSession
    val a = assignments.select(col("list"), col("vec_id"), col("embedding"))
    val b = assignments.select(col("list"), col("vec_id").as("vid_b"),
                               col("embedding").as("emb_b"))
    a.join(b, Seq("list"))
      .filter(col("vid_b") < col("vec_id"))
      .withColumn("cos_sim",
        round(VectorOps.cosineNative(spark, col("embedding"), col("emb_b")), 6))
      .filter(col("cos_sim") >= tau)
      .groupBy("vec_id")
      .agg(min("vid_b").as("keeper_id"),
           count(lit(1)).as("n_dominators"),
           max("cos_sim").as("max_cos"))
      .orderBy("vec_id")
  }

  def all: Seq[QueryDef] = Seq(
    QueryDef(
      "ss01_cosine_topk",
      (s, d) => bruteForceTopK(table(s, d, "embeddings"), queryId = 0L, k = 10),
      Some(s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
              |SELECT e.vec_id, round($cosSql, 6) AS cos_sim
              |FROM embeddings e, q WHERE e.vec_id <> 0
              |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin)
    ),
    // FILTERED vector search: top-k cosine restricted to vectors whose
    // metadata passes a predicate (label ∈ {2, 5}) — the
    // "filter + ANN" capability every vector store names. The predicate
    // composes BEFORE the vector math, so Catalyst pushes it into the
    // parquet scan (PushedFilters: In(label…), pinned in PlanAuditSpec)
    // and the dot products run over the filtered slice only — at 100 TB
    // a selective predicate cuts the scan itself, not just the ranking.
    // Exact by construction ⇒ hash-green directly, no anchor needed; the
    // approximate path composes the same way (filter the probed lists).
    QueryDef(
      "ss13_filtered_topk",
      (s, d) => {
        val emb = table(s, d, "embeddings")
        val q = emb.filter(col("vec_id") === 0L)
          .select(col("embedding").as("qvec"))
        emb.filter(col("vec_id") =!= 0L && col("label").isin(2, 5))
          .crossJoin(broadcast(q))
          .select(col("vec_id"), col("label"),
                  round(graft.functions.VectorOps.cosineNative(
                    s, col("embedding"), col("qvec")), 6).as("cos_sim"))
          .orderBy(desc("cos_sim"), asc("vec_id"))
          .limit(10)
      },
      Some(s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
              |SELECT e.vec_id, e.label, round($cosSql, 6) AS cos_sim
              |FROM embeddings e, q
              |WHERE e.vec_id <> 0 AND e.label IN (2, 5)
              |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin)
    ),
    QueryDef(
      "ss02_ann_lsh",
      // SELF-AUDITING approximate serve (the x16 discipline): the LSH
      // bucket scan runs at its serving configuration, and THE SAME
      // PLAN audits it against the exact scores of a deterministic
      // corpus SLICE ([[SelfAudit.topKSliced]] — the whole-corpus
      // exact baseline this audit used in r10 is the one plan shape
      // that defeats the index at 100 TB; the slice keeps the audit a
      // fixed 1/8 of a corpus scan). Single-probe sign-LSH at 4 bits
      // carries NO per-query top-10 guarantee (measured 0–2/10 across
      // SFs — one hyperplane splits a neighbor pair with probability
      // θ/π), but it reliably lands in the exact top-50 neighborhood
      // (measured 4–7 hits), so its best score is ≥ the global rank-50
      // score and at most 49 slice rows can beat it — beatCap 50 is
      // never tighter than the old top-50/minHits-1 floor, while a
      // broken bucket join or cosine sends the beaten count to half
      // the slice. The variant with a real top-10 guarantee is the
      // multi-probe serve — ss19, plus the DedupSpec dominance pin.
      (s, d) => {
        val emb = table(s, d, "embeddings")
        SelfAudit.topKSliced(
          lshTopK(emb, queryId = 0L, k = 10, nBits = 4),
          cosScoredSlice(emb, queryId = 0L),
          simCol = "cos_sim", higherIsBetter = true, beatCap = 50)
      },
      Some(cosSlicedAuditSql())
    ),
    QueryDef(
      "ss19_ann_lsh_multiprobe",
      // multi-probe LSH serving ([[lshTopKMultiProbe]]): the query's
      // bucket PLUS every Hamming-1 neighbor bucket — the standard
      // trick recovering neighbors that landed just across one
      // hyperplane at (nBits+1)/2^nBits of the corpus scanned instead
      // of doubling the table. Unlike single-probe ss02 this carries a
      // REAL top-10 floor (measured 6–7/10 across SFs vs ss02's 0–2),
      // which is the reason the variant exists; sliced-audited in-plan
      // ([[SelfAudit.topKSliced]]) like the rest of the serving tier —
      // ≥ 1 exact-top-10 hit bounds the beaten count at 9 in any slice.
      (s, d) => {
        val emb = table(s, d, "embeddings")
        SelfAudit.topKSliced(
          lshTopKMultiProbe(emb, queryId = 0L, k = 10, nBits = 4),
          cosScoredSlice(emb, queryId = 0L),
          simCol = "cos_sim", higherIsBetter = true)
      },
      Some(cosSlicedAuditSql())
    ),
    QueryDef(
      "ss03_ann_ivf",
      // learned-bucket serve over the persisted index at the production
      // nProbe, sliced-audited in-plan ([[SelfAudit.topKSliced]]: the
      // exact side scans a deterministic 1/8 corpus slice, so the audit
      // costs a bounded fraction of the probe instead of the
      // whole-corpus scan the index exists to avoid) — hash-green;
      // ss03x stays the exactness anchor for the probe machinery
      // itself and DedupSpec pins the tight measured recall floor
      // (0.5+) on the fixed fixture.
      (s, d) => SelfAudit.topKSliced(
        ivfTopK(s, d, queryId = 0L, k = 10,
                nLists = IvfIndex.DefaultLists, nProbe = 4),
        cosScoredSlice(table(s, d, "embeddings"), queryId = 0L),
        simCol = "cos_sim", higherIsBetter = true),
      Some(cosSlicedAuditSql())
    ),
    QueryDef(
      "ss03x_ann_ivf_exact",
      // the persisted-index probe path (ensure → read centroids → prune
      // partitions → exact cosine in probed lists) with nProbe = nLists:
      // every list is probed, so the result is exact REGARDLESS of the
      // learned centroids and the DuckDB brute-force top-k is a
      // hash-checkable oracle for the whole read→prune→probe machinery.
      // ss03 (nProbe < nLists) is the same code path; this entry is its
      // driver-visible exactness anchor.
      (s, d) => ivfTopK(s, d, queryId = 0L, k = 10,
                        nLists = IvfIndex.DefaultLists,
                        nProbe = IvfIndex.DefaultLists),
      Some(s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
              |SELECT e.vec_id, round($cosSql, 6) AS cos_sim
              |FROM embeddings e, q WHERE e.vec_id <> 0
              |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin)
    ),
    QueryDef(
      "ss14_filtered_ivf",
      // metadata-filtered ANN serve (label predicate + list pruning in
      // the same scan), sliced-audited in-plan against the FILTERED
      // slice's exact scores (the label predicate composes under the
      // slice modulus on both sides) — hash-green; ss14x anchors
      // exactness, DedupSpec the tight floor.
      (s, d) => SelfAudit.topKSliced(
        filteredIvfTopK(s, d, queryId = 0L, k = 10,
                        nLists = IvfIndex.DefaultLists, nProbe = 4,
                        labels = Seq(2, 5)),
        cosScoredSlice(table(s, d, "embeddings")
                         .filter(col("label").isin(2, 5) ||
                                 col("vec_id") === 0L),
                       queryId = 0L),
        simCol = "cos_sim", higherIsBetter = true),
      Some(cosSlicedAuditSql(preds = " AND e.label IN (2, 5)"))
    ),
    QueryDef(
      "ss14x_filtered_ivf_exact",
      // nProbe = nLists: every list probed ⇒ exact filtered top-k
      // regardless of the learned centroids — the whole filtered
      // read→prune→probe machinery against a brute-force SQL oracle.
      (s, d) => filteredIvfTopK(s, d, queryId = 0L, k = 10,
                                nLists = IvfIndex.DefaultLists,
                                nProbe = IvfIndex.DefaultLists,
                                labels = Seq(2, 5)),
      Some(s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
              |SELECT e.vec_id, round($cosSql, 6) AS cos_sim
              |FROM embeddings e, q
              |WHERE e.vec_id <> 0 AND e.label IN (2, 5)
              |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin)
    ),
    QueryDef(
      "ss17_tombstone_ivf",
      // takedown serving: tombstone-delete an id slice (append-only
      // side segment — no rebuild), probe over the live view — sliced-
      // audited in-plan against the LIVE rows' audit slice, plus the
      // takedown invariant as its own audit boolean: a doomed id in
      // the serve is a correctness failure at ANY recall, so
      // `no_doomed_served` flips the row red independently of the
      // floor. ss17x anchors exactness; DedupSpec pins delete/purge.
      (s, d) => SelfAudit.topKSliced(
        tombstoneIvfTopK(s, d, queryId = 0L, k = 10,
                         nLists = IvfIndex.DefaultLists, nProbe = 4,
                         delMod = 17, delRes = 3),
        cosScoredSlice(table(s, d, "embeddings")
                         .filter(pmod(col("vec_id"), lit(17L)) =!= 3L ||
                                 col("vec_id") === 0L),
                       queryId = 0L),
        simCol = "cos_sim", higherIsBetter = true,
        extras = Seq("no_doomed_served" ->
          bool_and(pmod(col("vec_id"), lit(17L)) =!= 3L))),
      Some(cosSlicedAuditSql(preds = " AND e.vec_id % 17 <> 3",
                             extraCols = ",\n  true AS no_doomed_served"))
    ),
    QueryDef(
      "ss17x_tombstone_exact",
      // nProbe = nLists: every list probed ⇒ exact top-k over the LIVE
      // rows regardless of the learned centroids — the whole
      // delete→mask→probe machinery against a brute-force SQL oracle
      // that excludes the tombstoned slice.
      (s, d) => tombstoneIvfTopK(s, d, queryId = 0L, k = 10,
                                 nLists = IvfIndex.DefaultLists,
                                 nProbe = IvfIndex.DefaultLists,
                                 delMod = 17, delRes = 3),
      Some(s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
              |SELECT e.vec_id, round($cosSql, 6) AS cos_sim
              |FROM embeddings e, q
              |WHERE e.vec_id <> 0 AND e.vec_id % 17 <> 3
              |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin)
    ),
    QueryDef(
      "ss18_drift_refresh",
      // the INDEX LIFECYCLE as one driver-checked entry: private index
      // copy → replay-idempotent append of a deterministically shifted
      // out-of-distribution batch ([[shiftedBatch]]: trips driftStatus)
      // → [[IvfIndex.ensureFresh]] rebuild-and-swap (fresh centroids
      // over the live content; crash-recovering marker protocol; no-op
      // on replay) → the production-nProbe serve over the refreshed
      // index, sliced-audited against the in-plan exact scores of the
      // base ∪ shifted audit slice (SQL-replayable — the shift is
      // exact float arithmetic, and shifted ids preserve slice
      // residues: 1000000 ≡ 0 mod 8) with the post-refresh drift bound
      // as an extra audit boolean. Every lifecycle step sits inside
      // the hash-checked row: a failed rebuild collapses recall (stale
      // centroids on bimodal data → the slice's beaten count
      // explodes), a double append breaks n_served's oracle count, a
      // leaked tombstone breaks exactness.
      (s, d) => {
        val dir = stageDriftRefresh(s, d)
        val emb = table(s, d, "embeddings")
        val union = emb.select("vec_id", "embedding")
          .unionByName(shiftedBatch(emb).select("vec_id", "embedding"))
        val driftOk = IvfIndex.driftStatus(s, dir).ratio <=
          IvfIndex.DriftRebuildRatio
        SelfAudit.topKSliced(
          ivfProbe(IvfIndex.liveAssignments(s, dir),
                   IvfIndex.readCentroids(s, dir),
                   queryId = 0L, k = 10, nProbe = 4),
          cosScoredSlice(union, queryId = 0L),
          simCol = "cos_sim", higherIsBetter = true,
          extras = Seq("drift_settled_ok" -> bool_and(lit(driftOk))))
      },
      Some(s"""WITH u AS (
              |  SELECT vec_id, embedding FROM embeddings
              |  UNION ALL
              |  SELECT vec_id + 1000000,
              |    list_transform(embedding, x -> CAST(x + 10.0 AS FLOAT))
              |  FROM embeddings),
              |q AS (SELECT embedding AS qvec FROM u WHERE vec_id = 0)
              |SELECT CAST(10 AS BIGINT) AS n_served,
              |  max(round($cosSql, 6)) AS exact_best_slice,
              |  true AS slice_dominated_ok,
              |  true AS drift_settled_ok
              |FROM u e, q
              |WHERE e.vec_id <> 0
              |  AND e.vec_id % ${Similarity.AuditSliceMod} = ${Similarity.AuditSliceRes}""".stripMargin)
    ),
    QueryDef(
      "ss12_ivf2_topk",
      // two-level coarse quantizer probe ([[ivf2TopK]]): rank √k
      // super-centroids, descend into the best groups, probe their
      // lists — sliced-audited in-plan ([[SelfAudit.topKSliced]]; the
      // layered descent prunes harder than flat IVF, so the floor is
      // lower: DedupSpec measures 3+/10 on the fixture). ss12x anchors
      // exactness and DedupSpec pins the all-groups degeneracy.
      (s, d) => SelfAudit.topKSliced(
        ivf2TopK(s, d, queryId = 0L, k = 10,
                 nLists = IvfIndex.DefaultLists, nProbe = 4,
                 superProbe = 2),
        cosScoredSlice(table(s, d, "embeddings"), queryId = 0L),
        simCol = "cos_sim", higherIsBetter = true),
      Some(cosSlicedAuditSql())
    ),
    QueryDef(
      "ss12x_ivf2_exact",
      // all groups descended + all lists probed ⇒ exact regardless of
      // both learned layers — the brute-force oracle hash-checks the
      // whole layered rank→descend→prune→scan machinery
      (s, d) => ivf2TopK(s, d, queryId = 0L, k = 10,
                         nLists = IvfIndex.DefaultLists,
                         nProbe = IvfIndex.DefaultLists,
                         superProbe = IvfIndex.DefaultLists),
      Some(s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
              |SELECT e.vec_id, round($cosSql, 6) AS cos_sim
              |FROM embeddings e, q WHERE e.vec_id <> 0
              |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin)
    ),
    QueryDef(
      "ss05_pq_ann",
      // product-quantized ANN, serving shape: map-only ADC scan over
      // 32x-compressed codes prunes to a shortlist, exact re-rank
      // touches only the shortlist's full vectors — sliced-audited
      // in-plan against the L2 audit slice (refined-PQ floor measured
      // 8+/10 in DedupSpec on the fixture). The serving shortlist is
      // 32·k (1.6% of the corpus — a standard refine size): the audit
      // floor must hold across corpus SHAPES, and on the noise-staged
      // scale-pair corpus (90% hash-noise vectors — no residual
      // structure for the codebooks to exploit) the 8·k shortlist
      // measured 1/10 recall vs 3/10 at 32·k. Re-rank cost stays
      // shortlist-bound, never corpus-bound.
      (s, d) => {
        val emb = table(s, d, "embeddings")
        SelfAudit.topKSliced(
          PqIndex.pqTopKRefined(emb, pqCodebooksFor(s, d),
                                queryId = 0L, k = 10,
                                shortlistFactor = 32),
          l2ScoredSlice(emb, queryId = 0L),
          simCol = "l2_dist", higherIsBetter = false)
      },
      Some(l2SlicedAuditSql)
    ),
    QueryDef(
      "ss05x_pq_exact",
      // exactness anchor for the PQ serving path: a shortlist factor
      // covering the corpus means the ADC stage prunes nothing and the
      // exact re-rank IS brute-force L2 — every piece of the PQ
      // machinery (codebooks, encode, ADC table, re-rank) runs, and the
      // result is hash-checkable against the DuckDB brute force. The
      // pruned configuration (ss05) is the same code path.
      (s, d) => PqIndex.pqTopKRefined(table(s, d, "embeddings"),
                                      pqCodebooksFor(s, d), queryId = 0L,
                                      k = 10, shortlistFactor = 2000),
      Some(l2OracleSql)
    ),
    QueryDef(
      "ss06x_ivfpq_exact",
      // exactness anchor for the IVF-PQ serving path: every list probed
      // + corpus-covering shortlist → exact brute force through the
      // persisted-codes path (per-list ADC tables, union, re-rank).
      (s, d) => ivfPqTopK(s, d, queryId = 0L, k = 10,
                          nLists = IvfIndex.DefaultLists,
                          nProbe = IvfIndex.DefaultLists,
                          shortlistFactor = 2000),
      Some(l2OracleSql)
    ),
    QueryDef(
      "ss06_ivfpq_ann",
      // IVF-PQ serving path: probe-pruned scans ranked from stored
      // residual codes, exact re-rank of the shortlist — sliced-audited
      // in-plan against the L2 audit slice (DedupSpec measures 5+/10
      // at this configuration on the fixture).
      (s, d) => SelfAudit.topKSliced(
        ivfPqTopK(s, d, queryId = 0L, k = 10,
                  nLists = IvfIndex.DefaultLists, nProbe = 4),
        l2ScoredSlice(table(s, d, "embeddings"), queryId = 0L),
        simCol = "l2_dist", higherIsBetter = false),
      Some(l2SlicedAuditSql)
    ),
    QueryDef(
      "ss07_batch_ivfpq",
      // batch IVF-PQ at the serving configuration (nProbe 4 of 16,
      // 32·k shortlist — ss05's refine size: the 30× noise-staged gate
      // showed the 8·k ADC shortlist losing the true neighbors among
      // the probed lists' noise rows exactly as ss05's did at sf1),
      // self-audited on a deterministic QUERY SUBSET
      // ([[SelfAudit.batchTopK]]: exact recall on all 32 queries would
      // re-run the ss07x brute-force anchor inside the serve; 4 audited
      // queries keep the audit a bounded fraction). ss07x stays the
      // full exactness anchor.
      (s, d) => SelfAudit.batchTopK(
        batchIvfPqTopK(s, d, queryMaxId = 32L, k = 10,
                       nLists = IvfIndex.DefaultLists, nProbe = 4,
                       shortlistFactor = 32),
        batchBruteL2TopK(table(s, d, "embeddings"),
                         queryIds = Seq(1L, 9L, 17L, 25L), k = 10),
        auditQueryIds = Seq(1L, 9L, 17L, 25L), minHitsTotal = 8,
        simCol = "l2_dist", higherIsBetter = false),
      Some(batchAuditSql(qidsIn = "(1, 9, 17, 25)", nQueries = 32,
                         totalServed = 320, agg = "min", metricSql = l2Sql))
    ),
    QueryDef(
      "ss07x_batch_ivfpq_exact",
      // exactness anchor: every list probed + corpus-covering shortlist
      // ⇒ the in-plan ADC prunes nothing and the re-rank is per-query
      // brute-force L2, hash-checkable in DuckDB — pins the whole batch
      // codes path (probe windows, code join, in-plan ADC, re-rank).
      (s, d) => batchIvfPqTopK(s, d, queryMaxId = 32L, k = 10,
                               nLists = IvfIndex.DefaultLists,
                               nProbe = IvfIndex.DefaultLists,
                               shortlistFactor = 2000),
      Some("""WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
             |          FROM embeddings WHERE vec_id < 32),
             |scored AS (
             |  SELECT q.query_id, e.vec_id,
             |    round(list_sum(list_transform(list_zip(e.embedding, q.qvec),
             |      p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
             |         * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))), 6) AS l2_dist
             |  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
             |ranked AS (
             |  SELECT query_id, vec_id, l2_dist, CAST(row_number() OVER (
             |    PARTITION BY query_id ORDER BY l2_dist, vec_id) AS INT) AS rk
             |  FROM scored)
             |SELECT query_id, vec_id, l2_dist, rk FROM ranked
             |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin)
    ),
    QueryDef(
      "emb01_label_centroids",
      // per-class embedding centroids — the vector AGGREGATE primitive
      // (class prototypes for semantic dedup seeding, cluster drift
      // monitoring, classifier-free relabeling). posexplode → one
      // partially aggregated groupBy on (label, pos): the shuffle
      // carries 64 running (sum, count) pairs per label, never vectors.
      (s, d) =>
        table(s, d, "embeddings")
          .select(col("label"), posexplode(col("embedding")))
          .groupBy("label", "pos")
          .agg((round(avg(col("col").cast("double")), 4) + lit(0.0))
                 .as("mean_val"),
               count(lit(1)).as("n_vecs"))
          .orderBy("label", "pos"),
      Some("""WITH ex AS (
             |  SELECT label, embedding, unnest(range(len(embedding))) AS i
             |  FROM embeddings)
             |SELECT label, CAST(i AS INT) AS pos,
             |  round(avg(CAST(embedding[i + 1] AS DOUBLE)), 4) + 0.0 AS mean_val,
             |  count(*) AS n_vecs
             |FROM ex GROUP BY label, i ORDER BY label, pos""".stripMargin)
    ),
    QueryDef(
      "ss08_range_search",
      // exact by construction (brute-force threshold scan) — the range-
      // search dual of ss01, hash-checkable end to end.
      (s, d) => rangeSearch(table(s, d, "embeddings"), queryId = 0L, tau = 0.30),
      Some(s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
              |SELECT e.vec_id, round($cosSql, 6) AS cos_sim
              |FROM embeddings e, q
              |WHERE e.vec_id <> 0 AND round($cosSql, 6) >= 0.30
              |ORDER BY vec_id""".stripMargin)
    ),
    QueryDef(
      "ss09_int8_topk",
      // int8-quantized cosine top-k ([[int8TopK]]): the scan-path dual
      // of ss05's PQ compression — 4× smaller vectors, integer
      // multiplies, one broadcast + TakeOrderedAndProject. Deterministic
      // end to end (quantization is IEEE round, scoring is integer),
      // so the full DuckDB replay hash-checks it — an ANN-serving
      // entry that needs no rows-only escape hatch. SimilaritySpec pins
      // its overlap against the exact float path (ss01).
      (s, d) => int8TopK(table(s, d, "embeddings"), queryId = 0L, k = 10),
      Some(int8OracleSql)
    ),
    QueryDef(
      "ss11_int8_indexed",
      // the same int8 top-k served from the PERSISTED codes
      // ([[Int8Index]]): quantization runs once offline and the scan
      // reads 1-byte codes (array<tinyint> — 4× narrower than the raw
      // float column) instead of re-quantizing the corpus per query.
      // Quantization is deterministic, so the persisted path answers
      // EXACTLY like ss09 and the same DuckDB replay (which derives the
      // codes from raw embeddings) hash-checks the whole
      // build→persist→scan machinery, content stamp included.
      (s, d) => {
        val dir = Int8Index.ensure(s, d)
        val codes = Int8Index.readCodes(s, dir)
        int8ScoreTopK(codes, codes, queryId = 0L, k = 10)
      },
      Some(int8OracleSql)
    ),
    QueryDef(
      "emb02_cluster_terms",
      // cluster LABELING: the top TF-IDF terms of the documents inside
      // each embedding cluster — the corpus-exploration report a
      // curation pass runs to see WHAT each semantic cluster is (before
      // deciding to up/down-sample it). Joins the vector side (persisted
      // IVF lists) to the text side (doc_id ≡ vec_id on the driver
      // fixtures); cluster-level TF-IDF = tf × (C+1)/(df+1) with df =
      // clusters containing the term (tx08's rational-IDF discipline at
      // cluster granularity). Learned clusters aren't SQL-replayable →
      // rows-only; emb02x pins the whole labeling machinery with
      // deterministic clusters.
      // SELF-AUDITING: the learned-cluster labeling runs as-is; the
      // plan then audits it against the oracle-recomputable text side —
      // every emitted term must exist in the corpus vocabulary with
      // cluster-tf ≤ its global frequency, ranks must be complete (3
      // per cluster) and score-ordered, and the TF-IDF formula must
      // reproduce each emitted score bit-for-bit. The corpus vocabulary
      // size + token count are the oracle's deterministic scalars.
      (s, d) => {
        val dir = IvfIndex.ensure(s, d, IvfIndex.DefaultLists)
        val served = Materialize.once(clusterTerms(
          IvfIndex.readAssignments(s, dir)
            .select(col("vec_id"), col("list").cast("int").as("cluster")),
          table(s, d, "documents"), k = 3))
        val globalTf = table(s, d, "documents")
          .select(explode(expr(
            "filter(split(lower(text), '\\\\s+'), t -> length(t) > 0)"))
            .as("term"))
          .groupBy("term").agg(count(lit(1)).as("gtf"))
        val vocab = globalTf.agg(count(lit(1)).as("n_vocab"),
                                 sum("gtf").as("n_tokens"))
        val nServed = served.agg(count(lit(1)).as("__n"))
        val perCluster = served.groupBy("cluster")
          .agg(count(lit(1)).as("__cnt"), max("rk").as("__mx"),
               min("rk").as("__mn"))
          .agg(bool_and(col("__cnt") === 3 && col("__mx") === 3 &&
                        col("__mn") === 1).as("rk_complete_ok"))
        val w = Window.partitionBy("cluster").orderBy("rk")
        val ord = served.withColumn("__prev", lag(col("score"), 1).over(w))
          .agg(bool_and(col("__prev").isNull ||
                        col("__prev") >= col("score")).as("rank_order_ok"))
        val tfJoin = served.join(globalTf, Seq("term"))
          .agg(count(lit(1)).as("__matched"),
               bool_and(col("tf") <= col("gtf")).as("tf_le_global_ok"))
        val nC = served.agg(countDistinct("cluster").as("__C"))
        val formula = served.crossJoin(nC)
          .agg(bool_and(col("score") ===
            round(col("tf") * (col("__C") + lit(1.0)) / (col("df") + lit(1.0)),
                  6)).as("score_formula_ok"))
        vocab.crossJoin(nServed).crossJoin(perCluster).crossJoin(ord)
          .crossJoin(tfJoin).crossJoin(formula)
          .select(col("n_vocab"), col("n_tokens"), col("rk_complete_ok"),
                  col("rank_order_ok"),
                  (col("__matched") === col("__n")).as("terms_in_vocab_ok"),
                  col("tf_le_global_ok"), col("score_formula_ok"))
      },
      Some("""WITH toks AS (
             |  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
             |                            t -> len(t) > 0)) AS term
             |  FROM documents)
             |SELECT COUNT(DISTINCT term) AS n_vocab, COUNT(*) AS n_tokens,
             |  true AS rk_complete_ok, true AS rank_order_ok,
             |  true AS terms_in_vocab_ok, true AS tf_le_global_ok,
             |  true AS score_formula_ok
             |FROM toks""".stripMargin)
    ),
    QueryDef(
      "emb02x_cluster_terms_exact",
      // deterministic parity clusters ⇒ the full labeling pipeline
      // (join, cluster tf, cluster df, rational TF-IDF, per-cluster
      // top-k) replays exactly in DuckDB
      (s, d) => clusterTerms(
        table(s, d, "embeddings")
          .select(col("vec_id"), (col("vec_id") % 4).cast("int").as("cluster")),
        table(s, d, "documents"), k = 3),
      Some("""WITH cl AS (
             |  SELECT vec_id, CAST(vec_id % 4 AS INT) AS cluster
             |  FROM embeddings),
             |toks AS (
             |  SELECT cl.cluster,
             |    unnest(list_filter(string_split_regex(lower(d.text), '\s+'),
             |                       t -> len(t) > 0)) AS term
             |  FROM documents d JOIN cl ON d.doc_id = cl.vec_id),
             |tf AS (SELECT cluster, term, COUNT(*) AS tf
             |       FROM toks GROUP BY cluster, term),
             |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
             |nc AS (SELECT COUNT(DISTINCT cluster) AS n_clusters FROM tf),
             |scored AS (
             |  SELECT tf.cluster, tf.term, tf.tf, df.df,
             |    round(tf.tf * (nc.n_clusters + 1.0) / (df.df + 1.0), 6) AS score
             |  FROM tf JOIN df USING (term) CROSS JOIN nc),
             |ranked AS (
             |  SELECT *, CAST(row_number() OVER (
             |    PARTITION BY cluster ORDER BY score DESC, term) AS INT) AS rk
             |  FROM scored)
             |SELECT cluster, term, tf, df, score, rk FROM ranked
             |WHERE rk <= 3 ORDER BY cluster, rk""".stripMargin)
    ),
    QueryDef(
      "ss10_mips_topk",
      // maximum-inner-product top-k: the recommender-serving metric
      // (user·item affinity scores are dots of UNnormalized vectors —
      // cosine would erase the magnitude signal that encodes item
      // popularity/confidence). Same no-shuffle scan shape as ss01;
      // the dot is the same left-to-right HOF fold both engines run
      // (the ef01/cosSql precedent), so the entry is hash-exact.
      (s, d) => {
        val emb = table(s, d, "embeddings")
        val q = emb.filter(col("vec_id") === 0L)
          .select(col("embedding").as("qvec"))
        emb.filter(col("vec_id") =!= 0L)
          .crossJoin(broadcast(q))
          .select(col("vec_id"),
                  // native double dot (r16 HOF audit) — bit-identical
                  // left-to-right fold (VecFoldsSpec), corpus-scaled frame
                  round(graft.functions.VectorOps.dotNative(
                    s, col("embedding"), col("qvec")), 6).as("dot"))
          .orderBy(desc("dot"), asc("vec_id"))
          .limit(10)
      },
      Some("""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
             |SELECT e.vec_id,
             |  round(list_sum(list_transform(list_zip(e.embedding, q.qvec),
             |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), 6) AS dot
             |FROM embeddings e, q WHERE e.vec_id <> 0
             |ORDER BY dot DESC, vec_id LIMIT 10""".stripMargin)
    ),
    QueryDef(
      "sem01_semdedup",
      // production configuration: clusters are the persisted IVF lists
      // (offline, partition-pruned layout reused from ss03+), with the
      // cluster count derived from the corpus size ([[semLists]]) so the
      // k ∝ N contract is honored by the ENTRY itself, not by operator
      // tuning — at the driver's verify fixtures this degenerates to
      // DefaultLists. Learned clusters aren't SQL-replayable →
      // rows-only; sem01x/sem01y are the driver-visible exactness
      // anchors for the dominance logic, and DedupSpec pins
      // within-cluster consistency on this entry.
      // SELF-AUDITING: the learned-cluster serve runs as-is; the same
      // plan recomputes the sem01x embedded exact subset (vec_id < 800,
      // one global cluster) and audits the serve against it. The
      // containment invariant is DETERMINISTIC: a doc dominated within
      // its learned cluster by a keeper < 800 (both in the slice) forms
      // a global pair at ≥ tau, so it MUST appear in the exact
      // dominated set — `subset_ok` flips red on any fabricated
      // dominance. Structural invariants (keeper < id, max_cos ≥ tau,
      // ≥1 dominator) and the slice's exact dominated count (oracle
      // recomputes it) complete the row.
      (s, d) => {
        val dir = IvfIndex.ensure(s, d, semLists(s, d))
        val served = Materialize.once(
          semDedupCapped(IvfIndex.readAssignments(s, dir), tau = 0.35))
        val exact = Materialize.once(semDedup(
          table(s, d, "embeddings").filter(col("vec_id") < 800)
            .withColumn("list", lit(0)),
          tau = 0.35))
        val escaped = served
          .filter(col("vec_id") < 800 && col("keeper_id") < 800)
          .join(exact.select("vec_id"), Seq("vec_id"), "left_anti")
          .agg(count(lit(1)).as("__escaped"))
        val struct = served.agg(
          count(lit(1)).as("__n"),
          bool_and(col("keeper_id") < col("vec_id")).as("keeper_lt_ok"),
          bool_and(col("max_cos") >= 0.35).as("tau_ok"),
          bool_and(col("n_dominators") >= 1).as("dominators_ok"))
        val exAgg = exact.agg(count(lit(1)).as("n_exact_dominated_800"))
        struct.crossJoin(exAgg).crossJoin(escaped)
          .select(col("n_exact_dominated_800"),
                  (col("__escaped") === 0).as("subset_ok"),
                  (col("__n") > 0).as("nonempty_ok"),
                  col("keeper_lt_ok"), col("tau_ok"), col("dominators_ok"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 800),
             |pairs AS (
             |  SELECT a.vec_id,
             |    round(list_sum(list_transform(list_zip(a.embedding, b.embedding),
             |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             |      / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             |       * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos_sim
             |  FROM e a JOIN e b ON b.vec_id < a.vec_id)
             |SELECT COUNT(DISTINCT vec_id) AS n_exact_dominated_800,
             |  true AS subset_ok, true AS nonempty_ok, true AS keeper_lt_ok,
             |  true AS tau_ok, true AS dominators_ok
             |FROM pairs WHERE cos_sim >= 0.35""".stripMargin)
    ),
    QueryDef(
      "sem01x_semdedup_exact",
      // exactness anchor: one cluster covering a bounded deterministic
      // slice ⇒ min-id dominance over all pairs, replayable in DuckDB.
      // Same semDedup code path as sem01 (join, threshold, aggregate);
      // only the cluster assignment degenerates.
      (s, d) => semDedup(
        table(s, d, "embeddings").filter(col("vec_id") < 800)
          .withColumn("list", lit(0)),
        tau = 0.35),
      Some("""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 800),
             |pairs AS (
             |  SELECT a.vec_id, b.vec_id AS vid_b,
             |    round(list_sum(list_transform(list_zip(a.embedding, b.embedding),
             |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             |      / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             |       * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos_sim
             |  FROM e a JOIN e b ON b.vec_id < a.vec_id)
             |SELECT vec_id, min(vid_b) AS keeper_id,
             |  count(*) AS n_dominators, max(cos_sim) AS max_cos
             |FROM pairs WHERE cos_sim >= 0.35
             |GROUP BY vec_id ORDER BY vec_id""".stripMargin)
    ),
    QueryDef(
      "sem01y_semdedup_twocluster",
      // second exactness anchor with TWO deterministic clusters (vec_id
      // parity): pins the per-cluster independence of the dominance
      // logic — an implementation bug joining pairs ACROSS lists would
      // still pass the single-cluster sem01x anchor but diverges here,
      // because the oracle only forms same-parity pairs. Same semDedup
      // code path; only the assignment differs.
      (s, d) => semDedup(
        table(s, d, "embeddings").filter(col("vec_id") < 800)
          .withColumn("list", (col("vec_id") % 2).cast("int")),
        tau = 0.35),
      Some("""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 800),
             |pairs AS (
             |  SELECT a.vec_id, b.vec_id AS vid_b,
             |    round(list_sum(list_transform(list_zip(a.embedding, b.embedding),
             |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             |      / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             |       * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos_sim
             |  FROM e a JOIN e b
             |    ON b.vec_id < a.vec_id AND (a.vec_id % 2) = (b.vec_id % 2))
             |SELECT vec_id, min(vid_b) AS keeper_id,
             |  count(*) AS n_dominators, max(cos_sim) AS max_cos
             |FROM pairs WHERE cos_sim >= 0.35
             |GROUP BY vec_id ORDER BY vec_id""".stripMargin)
    ),
    QueryDef(
      "ss04_batch_ann",
      // batch multi-query ANN with nProbe = nLists: exact by
      // construction (independent of learned centroids), so the DuckDB
      // brute-force per-query top-k is a hash-checkable oracle for the
      // whole batch plumbing. The nProbe < nLists path is the same plan
      // (pinned against this exact anchor in DedupSpec).
      (s, d) => batchAnnTopK(s, d, queryMaxId = 32L, k = 10,
                             nLists = IvfIndex.DefaultLists,
                             nProbe = IvfIndex.DefaultLists),
      Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
              |          FROM embeddings WHERE vec_id < 32),
              |scored AS (
              |  SELECT q.query_id, e.vec_id, round($cosSql, 6) AS cos_sim
              |  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
              |ranked AS (
              |  SELECT query_id, vec_id, cos_sim, CAST(row_number() OVER (
              |    PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS INT) AS rk
              |  FROM scored)
              |SELECT query_id, vec_id, cos_sim, rk FROM ranked
              |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin)
    ),
    QueryDef(
      "ss20_spilled_batch_ann",
      // batch serve over the SPILLED (multi-assignment) index at
      // nProbe = nLists and a real margin (0.3 — most of the fixture
      // spills, the dedup aggregate's stress case): every list is
      // probed, so the result is exact by construction REGARDLESS of
      // the learned centroids, which border vectors spilled, or how
      // the (query, vec) duplicates deduped — the DuckDB brute-force
      // per-query top-k is a hash-checkable oracle for the whole
      // nearest2 → explode → partitioned write → probe → max-dedup →
      // window machinery. The nProbe < nLists path is the same plan;
      // DedupSpec pins its full-probe equality with the plain serve
      // and that partial-probe recall never drops below plain. The
      // measured margin boundary (64-dim ratio concentration — spill
      // pays only in probe-latency-bound serving) is FIXTURES.md §E.
      (s, d) => batchAnnTopKSpilled(s, d, queryMaxId = 32L, k = 10,
                                    nLists = IvfIndex.DefaultLists,
                                    nProbe = IvfIndex.DefaultLists,
                                    margin = 0.3),
      Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
              |          FROM embeddings WHERE vec_id < 32),
              |scored AS (
              |  SELECT q.query_id, e.vec_id, round($cosSql, 6) AS cos_sim
              |  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
              |ranked AS (
              |  SELECT query_id, vec_id, cos_sim, CAST(row_number() OVER (
              |    PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS INT) AS rk
              |  FROM scored)
              |SELECT query_id, vec_id, cos_sim, rk FROM ranked
              |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin)
    ),
    QueryDef(
      "ss21_spilled_lowprobe_ann",
      // the spilled index in its ONE paying regime (FIXTURES.md §E
      // boundary): probe-LATENCY-bound serving — nProbe = 2 of 16 at
      // margin 0.05, where the measured clustered-regime equivalence
      // is spilled@2 ≈ plain@4 while scanning ~22 % fewer rows (the
      // 2/16 slice of a ~1.6× index vs 4/16 of 1×). ss20 stays the
      // full-probe exactness anchor for the machinery; this entry is
      // its production-shaped consumer. Self-audited batchTopK-style
      // on a deterministic query subset, PLUS the structural dominance
      // scalar: on the audited queries the spilled serve's exact-top-k
      // hits can never be fewer than the PLAIN index's at the SAME
      // probe budget — its probed candidate set is a superset (same
      // centroids, same probe ranking, spilled rows added), true on
      // ANY data distribution. The §E clustered-regime recall
      // equivalence (spilled@2 vs plain@4) is pinned on the
      // ClusteredEmbeddings fixture in DedupSpec.
      (s, d) => {
        val qids = Seq(1L, 9L, 17L, 25L)
        val emb = table(s, d, "embeddings")
        val exactAudit = Materialize.once(
          batchBruteCosTopK(emb, queryIds = qids, k = 10))
        // serve materialized ONCE; the batchTopK audit and the
        // dominance scalar both derive from the same 320-row frame
        val servedSpilled = Materialize.once(
          batchAnnTopKSpilled(s, d, queryMaxId = 32L, k = 10,
                              nLists = IvfIndex.DefaultLists, nProbe = 2,
                              margin = 0.05))
        val base = SelfAudit.batchTopK(
          servedSpilled, exactAudit,
          auditQueryIds = qids, minHitsTotal = 2,
          simCol = "cos_sim", higherIsBetter = true)
        def hitsOf(served: org.apache.spark.sql.DataFrame) = served
          .filter(col("query_id").isin(qids.map(Long.box): _*))
          .select("query_id", "vec_id").distinct()
          .join(exactAudit.select("query_id", "vec_id"),
                Seq("query_id", "vec_id"), "left_semi")
          .agg(count(lit(1)))
        val dom = hitsOf(servedSpilled).toDF("__hs")
          .crossJoin(hitsOf(batchAnnTopK(s, d, queryMaxId = 32L, k = 10,
              nLists = IvfIndex.DefaultLists, nProbe = 2)).toDF("__hp"))
          .select((col("__hs") >= col("__hp")).as("superset_ok"))
        base.crossJoin(dom)
      },
      Some(batchAuditSql(qidsIn = "(1, 9, 17, 25)", nQueries = 32,
                         totalServed = 320, agg = "max", metricSql = cosSql,
                         extraCols = ", true AS superset_ok"))
    ),
    QueryDef(
      "ss15_batch_filtered_int8",
      // metadata-filtered BATCH serving against the int8 corpus: the
      // query table (vec_id < 32) answered over only the label-scoped
      // corpus slice — ss13's predicate composed with st13's batch
      // int8 plan. Quantization is per-vector, so filtering the corpus
      // first changes nothing about any surviving code, and the whole
      // filtered serve stays deterministic ⇒ hash-checked end to end
      // (no rows-only escape). At 100 TB the label predicate prunes
      // the codes scan itself; queries broadcast, integer dots score
      // map-side, per-query window top-k.
      (s, d) => {
        val emb = table(s, d, "embeddings")
        int8BatchTopK(emb.filter(col("label").isin(2, 5)),
                      emb.filter(col("vec_id") < 32), k = 10)
      },
      Some("""WITH nrm AS (
             |  SELECT vec_id, label, embedding,
             |    sqrt(list_sum(list_transform(embedding,
             |      c -> CAST(c AS DOUBLE) * CAST(c AS DOUBLE)))) AS nrm
             |  FROM embeddings),
             |un AS (
             |  SELECT vec_id, label,
             |    list_transform(embedding, c -> CAST(c AS DOUBLE) / nrm) AS unit
             |  FROM nrm),
             |sc AS (
             |  SELECT vec_id, label, unit,
             |    127.0 / list_max(list_transform(unit, u -> abs(u))) AS scale
             |  FROM un),
             |qz AS (
             |  SELECT vec_id, label, scale,
             |    list_transform(unit,
             |      u -> CAST(round(u * scale, 0) AS BIGINT)) AS q
             |  FROM sc),
             |qs AS (SELECT vec_id AS query_id, scale AS q_scale, q AS q_q
             |       FROM qz WHERE vec_id < 32),
             |scored AS (
             |  SELECT qs.query_id, e.vec_id,
             |    round(CAST(list_sum(list_transform(list_zip(e.q, qs.q_q),
             |      p -> p[1] * p[2])) AS BIGINT) / (e.scale * qs.q_scale), 6)
             |      AS score
             |  FROM qz e, qs
             |  WHERE e.label IN (2, 5) AND e.vec_id <> qs.query_id),
             |ranked AS (
             |  SELECT query_id, vec_id, score, CAST(row_number() OVER (
             |    PARTITION BY query_id ORDER BY score DESC, vec_id) AS INT) AS rk
             |  FROM scored)
             |SELECT query_id, vec_id, score, rk FROM ranked
             |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin)
    ),
    QueryDef(
      "ss16_batch_filtered_ivf",
      // metadata-filtered BATCH ANN over the persisted IVF index (ss04's
      // one-plan multi-query serve × ss14's pushed label predicate),
      // self-audited on a deterministic query subset against the
      // filtered exact per-query top-k (DedupSpec measures mean recall
      // 0.44 across the full batch; the subset floor is the collapse
      // detector). ss16x stays the full exactness anchor.
      (s, d) => SelfAudit.batchTopK(
        batchFilteredAnnTopK(s, d, queryMaxId = 32L, k = 10,
                             nLists = IvfIndex.DefaultLists,
                             nProbe = 4, labels = Seq(2, 5)),
        batchBruteCosTopK(table(s, d, "embeddings"),
                          queryIds = Seq(1L, 9L, 17L, 25L), k = 10,
                          labels = Some(Seq(2, 5))),
        auditQueryIds = Seq(1L, 9L, 17L, 25L), minHitsTotal = 6,
        simCol = "cos_sim", higherIsBetter = true),
      Some(batchAuditSql(qidsIn = "(1, 9, 17, 25)", nQueries = 32,
                         totalServed = 320, agg = "max", metricSql = cosSql,
                         preds = " AND e.label IN (2, 5)"))
    ),
    QueryDef(
      "ss16x_batch_filtered_ivf_exact",
      // nProbe = nLists: every list probed ⇒ exact filtered per-query
      // top-k regardless of learned centroids — the whole batch
      // read→label-prune→probe→window machinery against a brute-force
      // SQL oracle (ss04's oracle scoped to the label slice).
      (s, d) => batchFilteredAnnTopK(s, d, queryMaxId = 32L, k = 10,
                                     nLists = IvfIndex.DefaultLists,
                                     nProbe = IvfIndex.DefaultLists,
                                     labels = Seq(2, 5)),
      Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
              |          FROM embeddings WHERE vec_id < 32),
              |scored AS (
              |  SELECT q.query_id, e.vec_id, round($cosSql, 6) AS cos_sim
              |  FROM embeddings e, q
              |  WHERE e.vec_id <> q.query_id AND e.label IN (2, 5)),
              |ranked AS (
              |  SELECT query_id, vec_id, cos_sim, CAST(row_number() OVER (
              |    PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS INT) AS rk
              |  FROM scored)
              |SELECT query_id, vec_id, cos_sim, rk FROM ranked
              |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin)
    )
  )
}
