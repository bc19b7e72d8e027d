package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Natives, VectorOps}
import graft.queries.QueryDef

/** Deduplication operators for a training-data pipeline over the
  * `documents` / `embeddings` tables: exact (hash-groupBy), MinHash+LSH,
  * SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design (the 100 TB path): every fuzzy variant is
  * candidate-generation-by-equi-join — shingle/band/chunk keys are
  * computed map-side with built-in higher-order functions, the only
  * shuffle is the equi-join on those compact keys, and exact similarity
  * is verified on the surviving candidate pairs only. No O(n²) stage
  * ever materializes (the brute-force cosine variant exists as the
  * correctness baseline; [[Similarity]] holds the LSH scale path).
  */
object Dedup {
  import QueryDef.table

  // --- shingling --------------------------------------------------------

  /** Distinct hashes of word n-gram shingles — native single-pass
    * expression ([[graft.functions.ShingleHashes]]); docs shorter than
    * `n` tokens fall back to a single whole-text shingle. */
  def shingleHashes(spark: SparkSession, text: Column, n: Int): Column =
    Natives.call(spark, "shingle_hashes", text, lit(n))

  /** Exact Jaccard similarity of two pre-computed shingle-hash sets. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter * lit(1.0) / (size(a) + size(b) - inter)
  }

  // --- MinHash ----------------------------------------------------------

  import graft.functions.MinHash.{Bands, NumPerm, P, Rows, permA, permB}

  /** MinHash signature (array of NumPerm longs) from shingle hashes —
    * HOF reference formulation; the pipeline uses the native
    * [[graft.functions.MinHashSig]] (exact-equality asserted in
    * `DedupSpec`). */
  def minhashSignature(shingles: Column): Column = {
    val aLit = array(permA.map(lit): _*)
    val bLit = array(permB.map(lit): _*)
    val masked = transform(shingles, h => h.bitwiseAND(lit(0xFFFFFFFFL)))
    transform(sequence(lit(0), lit(NumPerm - 1)), i =>
      array_min(transform(masked, x =>
        pmod(element_at(aLit, i + 1) * x + element_at(bLit, i + 1), lit(P)))))
  }

  /** LSH band keys: one xxhash64 per `Bands` contiguous signature slice;
    * docs sharing ANY band key become candidate pairs. */
  def bandKeys(sig: Column): Column =
    transform(sequence(lit(0), lit(Bands - 1)), b =>
      xxhash64(b, slice(sig, b * Rows + 1, lit(Rows))))

  /** Full MinHash+LSH near-dup pipeline: shingle → sign → band →
    * equi-join on (band, key) → exact-Jaccard verify ≥ minJaccard.
    *
    * The band join and pair-distinct move ONLY (doc_id, band, key) —
    * the shingle arrays rejoin after candidates are known, so the
    * shuffle payload is a few longs per row instead of a few hundred
    * (at 100 TB the band shuffle is the dominant data movement).
    *
    * Skew guard: a hot band bucket (boilerplate shared by millions of
    * docs) makes the self-join quadratic inside one reducer, so buckets
    * larger than `maxBucket` are dropped BEFORE the join — the bucket
    * census is a map-side-combinable groupBy, so the hot key never
    * concentrates raw rows on one task. Near-dups suppressed this way
    * almost always share a rarer band too (and exact duplicates belong
    * to the dd01 hash-dedup pass that should precede LSH anyway). */
  def minhashPairs(docs: DataFrame, shingleN: Int, minJaccard: Double,
                   maxBucket: Int = 500): DataFrame = {
    val base = docs
      .select(col("doc_id"),
              shingleHashes(docs.sparkSession, col("text"), shingleN).as("sh"))
    val keys = base
      .withColumn("sig",
        Natives.call(docs.sparkSession, "minhash_sig", col("sh")))
      .select(col("doc_id"), posexplode(bandKeys(col("sig"))).as(Seq("band", "key")))
    val smallBuckets = keys.groupBy("band", "key")
      .agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") <= maxBucket)
      .select("band", "key")
    val bounded = keys.join(smallBuckets, Seq("band", "key"))
    val cand = bounded.select(col("doc_id").as("id_a"), col("band"), col("key"))
      .join(bounded.select(col("doc_id").as("id_b"), col("band"), col("key")),
            Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cand
      .join(base.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(base.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
              round(jaccard(col("sh_a"), col("sh_b")), 6).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  // --- SimHash ----------------------------------------------------------

  /** 64-bit SimHash over whitespace tokens: per-token xxhash64, signed
    * bit-vote accumulation, sign → bit. The pipeline uses the native
    * [[graft.functions.SimHash64]] (one tight loop per row);
    * [[simhashVotesExpr]] is the HOF reference `DedupSpec` checks it
    * against.
    *
    * Escaping note: these are triple-quoted Scala strings, so `'\\s+'`
    * already reaches the SQL parser as `\\s+` and the regex as `\s+` —
    * do NOT "fix" it to four backslashes (that splits on a literal
    * backslash and turns each doc into one giant token, which silently
    * randomizes every fingerprint). */
  val tokenHashesExpr: String =
    """transform(filter(split(lower(text), '\\s+'), tk -> length(tk) > 0),
      |          tok -> xxhash64(tok))""".stripMargin

  /** HOF reference for the per-bit vote counts (test oracle only). */
  val simhashVotesExpr: String =
    s"""aggregate(
      |  $tokenHashesExpr,
      |  transform(sequence(0, 63), z -> 0L),
      |  (acc, h) -> zip_with(acc,
      |     transform(sequence(0, 63), i -> IF(((h >> i) & 1) = 1, 1L, -1L)),
      |     (va, vb) -> va + vb))""".stripMargin

  /** doc_id + packed 64-bit `fp` fingerprint column (native). */
  def simhashFingerprints(docs: DataFrame): DataFrame =
    docs.selectExpr("doc_id", s"$tokenHashesExpr AS th")
      .select(col("doc_id"),
              Natives.call(docs.sparkSession, "simhash64", col("th")).as("fp"))

  /** SimHash near-dup pairs: block on 8×8-bit fingerprint chunks — by
    * pigeonhole any pair within Hamming distance 7 shares at least one
    * unchanged chunk — then verify with bit_count(xor) ≤ maxHamming.
    * Guaranteed recall for maxHamming ≤ 7; probabilistic above.
    *
    * Skew guard: a chunk key has only 8 bits of selectivity, so on a
    * low-entropy corpus (or before exact-dedup has removed identical
    * fingerprints) a bucket can hold n/256 of all docs and the
    * self-join degrades toward quadratic. Buckets above `maxBucket`
    * are dropped via the same map-side census as the MinHash path —
    * pairs whose ONLY shared chunk was hot lose the recall guarantee,
    * which is the standard trade (run dd01 exact dedup first; the
    * residual fingerprint distribution is high-entropy).
    *
    * Invariant: the candidate set depends on `maxBucket` and the chunk
    * blocking only, never on `maxHamming` — the Hamming bound is the
    * final filter. So for h ≤ k, `simhashPairs(…, maxHamming = k)
    * .filter(hamming <= h)` equals `simhashPairs(…, maxHamming = h)`
    * row for row (dd03 derives its near-identity set this way;
    * DedupSpec pins it). Keep any future pruning by `maxHamming` out of
    * the candidate stage, or that derivation breaks. */
  def simhashPairs(spark: SparkSession, docs: DataFrame, maxHamming: Int,
                   maxBucket: Int = 1000,
                   fingerprints: Option[DataFrame] = None): DataFrame = {
    // `fingerprints` (doc_id, fp) lets a caller that already
    // materialized the fingerprint pass (dd03's slice audits consume
    // it three times) feed it in instead of re-tokenizing `docs`
    val fp = fingerprints.getOrElse(simhashFingerprints(docs))
      .selectExpr("doc_id", "fp",
        "posexplode(transform(sequence(0, 7), c -> (fp >> (c * 8)) & 255))")
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "key")
    val smallBuckets = fp.groupBy("chunk", "key")
      .agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") <= maxBucket)
      .select("chunk", "key")
    val bounded = fp.join(smallBuckets, Seq("chunk", "key"))
    val a = bounded.select(col("doc_id").as("id_a"), col("fp").as("fp_a"),
                           col("chunk"), col("key"))
    val b = bounded.select(col("doc_id").as("id_b"), col("fp").as("fp_b"),
                           col("chunk"), col("key"))
    a.join(b, Seq("chunk", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "fp_a", "fp_b").distinct()
      .select(col("id_a"), col("id_b"),
              bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  // --- clustering -------------------------------------------------------

  /** Connected components over near-dup pairs by min-label propagation:
    * every doc in a component converges to the component's smallest
    * doc_id, which becomes the canonical survivor (deterministic
    * INSERT-IGNORE-style keeper).
    *
    * Each iteration is one distributed join+aggregate; the driver loop
    * only checks the converged-count (O(component diameter) iterations
    * — near-dup components are shallow in practice). [[Materialize.once]]
    * cuts lineage so plans don't grow exponentially across iterations.
    */
  def clusterPairs(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
    val symRaw = Materialize.once(
      edges.union(edges.select(col("dst").as("src"), col("src").as("dst"))))
    // Size iteration frames to the edge count: near-dup edge sets are
    // usually tiny relative to the corpus (a handful of partitions keeps
    // per-iteration cost at task-scheduling scale), but pairs can reach
    // billions of rows when dup rates are high — so partitions scale
    // with volume (~1M edges per task) instead of a hardcoded constant.
    val nEdges = symRaw.count()
    val parts = math.max(4, math.min(
      spark.sparkContext.defaultParallelism * 4,
      (nEdges / 1000000L).toInt + 1))
    // pre-partition the edge frame on the join key and checkpoint THAT:
    // the localCheckpoint's LogicalRDD keeps its outputPartitioning, so
    // every iteration's sym⋈labels join reuses this one shuffle instead
    // of re-exchanging the (big) edge side per round.
    val sym = Materialize.once(symRaw.repartition(parts, col("dst")))
    Materialize.release(symRaw) // superseded by the partitioned copy
    var labels = Materialize.once(
      sym.select(col("src").as("id")).distinct()
        .withColumn("label", col("id")).coalesce(parts))
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < 50) {
      iter += 1
      // neighbor-min step: pull the smallest label over each node's
      // neighborhood (plain min-label propagation)…
      val nbrMin = sym.join(labels, sym("dst") === labels("id"))
        .groupBy(col("src")).agg(min("label").as("nbr_label"))
        .withColumnRenamed("src", "nid")
      val stepped = labels
        .join(nbrMin, labels("id") === nbrMin("nid"), "left")
        .select(col("id"), col("label"),
                least(col("label"), coalesce(col("nbr_label"), col("label")))
                  .as("nl"))
      // …then POINTER-JUMP: follow the new label's own label one hop
      // (label(x) ← label(label(x))). Neighbor-min alone needs
      // O(component diameter) rounds — a long chain costs one round per
      // hop; the jump doubles the propagation distance per round, so
      // convergence is O(log diameter). At a 10× scale probe this cut
      // the clustering from ~38 rounds to ~7.
      val l2 = stepped.select(col("id").as("jid"), col("nl").as("jl"))
      val updated = Materialize.once(
        stepped
          .join(l2, stepped("nl") === l2("jid"), "left")
          .select(col("id"), col("label"),
                  least(col("nl"), coalesce(col("jl"), col("nl")))
                    .as("new_label"))
          .coalesce(parts))
      changed = updated.filter(col("new_label") =!= col("label")).count()
      Materialize.release(labels) // superseded by `updated`
      labels = updated.select(col("id"), col("new_label").as("label"))
    }
    Materialize.release(sym) // loop exited; result reads only `labels`
    labels.select(col("id").as("doc_id"), col("label").as("canonical_id"))
  }

  // --- exact n-gram Jaccard (bounded correctness anchor) ----------------

  /** Exact bigram-Jaccard pairs on the deterministic doc_id < `cap`
    * slice — the ground truth that anchors every approximate dedup path
    * (dd02 precision/recall, dd06 clustering oracle).
    *
    * Set-similarity join as pure aggregation: the blocking join's
    * per-pair row count IS |A∩B| (shingle sets are distinct), so overlap
    * comes from a map-side-combinable groupBy().count() — no
    * array_intersect, no wide distinct, and the only joined payload
    * beyond ids is each doc's set SIZE. Jaccard = |∩| / (|A|+|B|-|∩|)
    * on identical integers either way. */
  def exactNgramPairs(s: SparkSession, d: String,
                      minJaccard: Double = 0.3, cap: Long = 500): DataFrame = {
    val docs = table(s, d, "documents")
      .filter(col("doc_id") < cap)
      .select(col("doc_id"), shingleHashes(s, col("text"), 2).as("sh"))
    val sets = docs.select(col("doc_id"), size(col("sh")).cast("long").as("n"))
    val exploded = docs.select(col("doc_id"), explode(col("sh")).as("g"))
    val overlap = exploded.select(col("doc_id").as("id_a"), col("g"))
      .join(exploded.select(col("doc_id").as("id_b"), col("g")), Seq("g"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    overlap
      .join(sets.select(col("doc_id").as("id_a"), col("n").as("na")), Seq("id_a"))
      .join(sets.select(col("doc_id").as("id_b"), col("n").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
              round(col("inter") * lit(1.0) /
                    (col("na") + col("nb") - col("inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** DuckDB replay of [[exactNgramPairs]] (shared by the dd04 and dd06
    * oracles). */
  def exactNgramPairsSql(minJaccard: Double = 0.3, cap: Long = 500): String =
    s"""WITH t AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    range(len(string_split_regex(lower(text), '\\s+')) - 1),
       |    i -> string_split_regex(lower(text), '\\s+')[i+1] || ' ' ||
       |         string_split_regex(lower(text), '\\s+')[i+2])) AS ngrams
       |  FROM documents WHERE doc_id < $cap)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  round(len(list_intersect(a.ngrams, b.ngrams)) * 1.0 /
       |    (len(a.ngrams) + len(b.ngrams) - len(list_intersect(a.ngrams, b.ngrams))), 6) AS jaccard
       |FROM t a JOIN t b ON a.doc_id < b.doc_id
       |WHERE round(len(list_intersect(a.ngrams, b.ngrams)) * 1.0 /
       |      (len(a.ngrams) + len(b.ngrams) - len(list_intersect(a.ngrams, b.ngrams))), 6) >= $minJaccard""".stripMargin

  // --- query surface ----------------------------------------------------

  def all: Seq[QueryDef] = Seq(
    // exact dedup: hash-groupBy on the canonical fingerprint; keeper is
    // the smallest doc_id (deterministic INSERT-IGNORE semantics).
    QueryDef(
      "dd01_exact_dedup",
      (s, d) =>
        table(s, d, "documents")
          .groupBy(TextAnalysis.fingerprint(col("text")).as("content_hash"))
          .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("n_copies"))
          .orderBy("keeper_id"),
      Some("""SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS content_hash,
             |  min(doc_id) AS keeper_id, COUNT(*) AS n_copies
             |FROM documents
             |GROUP BY content_hash ORDER BY keeper_id""".stripMargin)
    ),

    // MinHash+LSH near-dup pairs, SELF-AUDITING ([[SelfAudit]]): the
    // full-corpus serve runs at its production configuration (3-gram
    // shingles, band-bucket candidates, exact-Jaccard verify); the SAME
    // PLAN replays the dd02p/dd02r anchor logic on the embedded exact
    // slice (doc_id < 500, bigram — matching [[exactNgramPairs]]'s
    // basis): slice-LSH pairs must all be exact-ground-truth pairs
    // (precision 1 by construction — the verify step IS exact Jaccard)
    // and every J ≥ 0.9 ground-truth pair must be recalled (miss prob
    // (1−0.9⁴)¹² ≈ 2.7e-6). The slice's exact pair counts are the
    // oracle's recomputable scalars; the anchors stay in the registry.
    QueryDef(
      "dd02_minhash_lsh",
      (s, d) => {
        val docs = table(s, d, "documents")
        // three independent eager audit chains — overlap them from
        // driver threads (guide §2.6, the dd03 pattern): the slice
        // audits hide behind the full-corpus serve's tail
        val frames = ParActions.run(Seq[() => Any](
          () => Materialize.once(
            minhashPairs(docs, shingleN = 3, minJaccard = 0.3)),
          () => Materialize.once(
            minhashPairs(docs.filter(col("doc_id") < 500),
                         shingleN = 2, minJaccard = 0.3)),
          () => Materialize.once(exactNgramPairs(s, d))))
        val served = frames(0).asInstanceOf[DataFrame]
        val sliceLsh = frames(1).asInstanceOf[DataFrame]
        val exact = frames(2).asInstanceOf[DataFrame]
        val strong = exact.filter(col("jaccard") >= 0.9)
        val precEsc = sliceLsh.select("id_a", "id_b")
          .join(exact.select("id_a", "id_b"), Seq("id_a", "id_b"), "left_anti")
          .agg(count(lit(1)).as("__p"))
        val recEsc = strong.select("id_a", "id_b")
          .join(sliceLsh.select("id_a", "id_b"), Seq("id_a", "id_b"),
                "left_anti")
          .agg(count(lit(1)).as("__r"))
        val sAgg = served.agg(
          count(lit(1)).as("__n"),
          coalesce(bool_and(col("jaccard") >= 0.3), lit(true))
            .as("threshold_ok"))
        sAgg.crossJoin(exact.agg(count(lit(1)).as("n_exact_pairs_500")))
          .crossJoin(strong.agg(count(lit(1)).as("n_strong_pairs_500")))
          .crossJoin(precEsc).crossJoin(recEsc)
          .select(col("n_exact_pairs_500"), col("n_strong_pairs_500"),
                  (col("__n") > 0).as("nonempty_ok"), col("threshold_ok"),
                  (col("__p") === 0).as("precision_ok"),
                  (col("__r") === 0).as("recall_ok"))
      },
      Some(s"""WITH pairs AS (${exactNgramPairsSql()})
              |SELECT COUNT(*) AS n_exact_pairs_500,
              |  (SELECT COUNT(*) FROM pairs WHERE jaccard >= 0.9)
              |    AS n_strong_pairs_500,
              |  true AS nonempty_ok, true AS threshold_ok,
              |  true AS precision_ok, true AS recall_ok
              |FROM pairs""".stripMargin)
    ),

    // SimHash near-dup pairs (Hamming ≤ 7 on 64-bit fingerprints),
    // SELF-AUDITING: the full-corpus chunk-blocked serve runs as-is;
    // the same plan replays the dd03p/dd03r anchor logic on the
    // embedded slice — the near-identical stratum (Hamming ≤ 1) must be
    // genuine ≥ 0.8-Jaccard text, and chunk blocking must find EXACTLY
    // the brute-force Hamming ≤ 7 set (the pigeonhole guarantee,
    // checked in both directions). Oracle recomputes the slice's exact
    // ≥ 0.8 pair count and asserts the booleans.
    QueryDef(
      "dd03_simhash",
      (s, d) => {
        val docs = table(s, d, "documents")
        val docs500 = docs.filter(col("doc_id") < 500)
        // The r17 form ran the slice blocking chain TWICE (maxHamming 1
        // then 7 — identical fingerprints, census and self-join, only
        // the final filter differs) and fingerprinted the slice a THIRD
        // time for the brute-force side. One materialized fingerprint
        // pass + ONE blocked chain at hamming ≤ 7 now serves all three
        // consumers (near-identity = filter(hamming ≤ 1) of the same
        // candidates — row-identical to a maxHamming = 1 call by the
        // simhashPairs candidate invariant); the three
        // independent eager audit chains overlap from driver threads
        // (guide §2.6) so the slice audits hide behind the full-corpus
        // serve's tail.
        val frames = ParActions.run(Seq[() => Any](
          () => Materialize.once(simhashPairs(s, docs, maxHamming = 7)),
          () => {
            val f = Materialize.once(simhashFingerprints(docs500))
            (f, Materialize.once(simhashPairs(s, docs500, maxHamming = 7,
                                              fingerprints = Some(f))))
          },
          () => Materialize.once(exactNgramPairs(s, d, minJaccard = 0.8))))
        val served = frames(0).asInstanceOf[DataFrame]
        val (fp, blocked7) = frames(1).asInstanceOf[(DataFrame, DataFrame)]
        val exact08 = frames(2).asInstanceOf[DataFrame]
        val nearIdent = blocked7.filter(col("hamming") <= 1)
        val precEsc = nearIdent.select("id_a", "id_b")
          .join(exact08.select("id_a", "id_b"), Seq("id_a", "id_b"),
                "left_anti")
          .agg(count(lit(1)).as("__p"))
        val a = fp.select(col("doc_id").as("id_a"), col("fp").as("fa"))
        val b = fp.select(col("doc_id").as("id_b"), col("fp").as("fb"))
        val brute = a.join(b, col("id_a") < col("id_b"))
          .filter(bit_count(col("fa").bitwiseXOR(col("fb"))) <= lit(7))
          .select("id_a", "id_b")
        val blocked500 = blocked7.select("id_a", "id_b")
        val diff = brute.except(blocked500).union(blocked500.except(brute))
          .agg(count(lit(1)).as("__d"))
        val sAgg = served.agg(
          count(lit(1)).as("__n"),
          coalesce(bool_and(col("hamming") <= 7), lit(true))
            .as("hamming_bound_ok"))
        sAgg.crossJoin(exact08.agg(count(lit(1)).as("n_exact08_pairs_500")))
          .crossJoin(precEsc).crossJoin(diff)
          .select(col("n_exact08_pairs_500"),
                  (col("__n") > 0).as("nonempty_ok"), col("hamming_bound_ok"),
                  (col("__p") === 0).as("precision_ok"),
                  (col("__d") === 0).as("block_exact_ok"))
      },
      Some(s"""WITH pairs AS (${exactNgramPairsSql(minJaccard = 0.8)})
              |SELECT COUNT(*) AS n_exact08_pairs_500, true AS nonempty_ok,
              |  true AS hamming_bound_ok, true AS precision_ok,
              |  true AS block_exact_ok
              |FROM pairs""".stripMargin)
    ),

    // n-gram Jaccard with exact verification. The candidate join blocks
    // on shared 2-gram shingle hash, so only docs sharing at least one
    // bigram are compared — oracle replays the same pairs in DuckDB via
    // its list functions.
    //
    // Bounded to a deterministic 500-doc slice: exact all-pairs Jaccard
    // is quadratic by nature, and this synthetic corpus draws from a
    // ~30-word vocabulary, so EVERY doc pair shares bigrams and no
    // exact blocking scheme (including rarest-first prefix filtering)
    // can prune it below O(n²). The operator stays fully exact on its
    // slice and anchors the MinHash path (dd02), which is the
    // sub-quadratic full-corpus variant.
    QueryDef(
      "dd04_ngram_jaccard",
      (s, d) => exactNgramPairs(s, d).orderBy("id_a", "id_b"),
      Some(exactNgramPairsSql() + "\nORDER BY id_a, id_b")
    ),

    // near-dup clustering: pairs → connected components → (doc_id,
    // canonical survivor). Clusters the EXACT n-gram pairs so the whole
    // entry is oracle-checkable (DuckDB recursive-CTE transitive
    // closure); the same clusterPairs over MinHash pairs — the
    // sub-quadratic 100 TB input — is pinned in DedupSpec.
    QueryDef(
      "dd06_dedup_clusters",
      (s, d) =>
        clusterPairs(exactNgramPairs(s, d).select("id_a", "id_b"))
          .orderBy("doc_id"),
      Some(s"""WITH RECURSIVE pairs AS (${exactNgramPairsSql()}),
              |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              |          UNION ALL SELECT id_b, id_a FROM pairs),
              |reach(id, r) AS (
              |  SELECT src, src FROM edges
              |  UNION
              |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
              |SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS canonical_id
              |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin)
    ),

    // (r16 registry discipline: the dd02p/dd02r precision/recall anchors
    // were RETIRED from the registry — dd02's in-plan audit computes the
    // identical anti-joins on the identical <500 slice and surfaces them
    // as oracle-gated precision_ok/recall_ok booleans every driver run;
    // the derived (1-0.9^Rows)^Bands miss bound that justified dd02r
    // lives on as a DedupSpec pin so the band config cannot silently
    // weaken below recall-anchor strength.)

    // dedup reporting: per-cluster membership stats over the connected
    // components — the shape every dedup pipeline emits for auditing
    // (how many groups, how big, which id ranges collapsed). One
    // partial-aggregated groupBy over the clustering output.
    QueryDef(
      "dd07_cluster_stats",
      (s, d) =>
        clusterPairs(exactNgramPairs(s, d).select("id_a", "id_b"))
          .groupBy("canonical_id")
          .agg(count(lit(1)).as("n_members"),
               max("doc_id").as("max_member"))
          .orderBy("canonical_id"),
      Some(s"""WITH RECURSIVE pairs AS (${exactNgramPairsSql()}),
              |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              |          UNION ALL SELECT id_b, id_a FROM pairs),
              |reach(id, r) AS (
              |  SELECT src, src FROM edges
              |  UNION
              |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
              |clusters AS (
              |  SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS canonical_id
              |  FROM reach GROUP BY id)
              |SELECT canonical_id, COUNT(*) AS n_members,
              |  max(doc_id) AS max_member
              |FROM clusters GROUP BY canonical_id
              |ORDER BY canonical_id""".stripMargin)
    ),

    // (r16 registry discipline: the dd03p/dd03r anchors were RETIRED —
    // dd03's in-plan audit runs the identical near-identity anti-join
    // and the identical two-direction brute-vs-blocked pigeonhole diff
    // on the identical 500-doc slice, surfaced as oracle-gated
    // precision_ok/block_exact_ok booleans every driver run. The
    // fixture calibration note they carried: the meaningful precision
    // claim lives in the Hamming ≤ 1 stratum only — at Hamming ≤ 7 this
    // ~30-word-vocabulary corpus has pairs sharing ZERO bigrams
    // (measured min J 0.007), inherent SimHash behavior, not a bug.)

    // embedding-cosine near-dup, brute-force baseline (correctness
    // anchor for the LSH scale path in Similarity).
    QueryDef(
      "dd05_embedding_neardup",
      (s, d) => {
        // Bounded to a deterministic 1000-vector slice: the brute-force
        // all-pairs form is the CORRECTNESS anchor for the LSH scale
        // path (ss02/dd02), and quadratic by construction — unbounded
        // it was 118 s of the sf0.1 bench by itself. Per-pair math is
        // the codegen'd native cosine (bit-identical to the HOF form).
        val e = table(s, d, "embeddings").filter(col("vec_id") < 1000)
        val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
        val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
        a.join(b, col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
                  round(VectorOps.cosineNative(s, col("va"), col("vb")), 6)
                    .as("cos_sim"))
          .filter(col("cos_sim") >= 0.35)
          .orderBy("id_a", "id_b")
      },
      Some("""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |  round(list_sum(list_transform(list_zip(a.embedding, b.embedding),
             |          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             |    / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             |     * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos_sim
             |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
             |WHERE b.vec_id < 1000
             |  AND round(list_sum(list_transform(list_zip(a.embedding, b.embedding),
             |          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             |    / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             |     * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) >= 0.35
             |ORDER BY id_a, id_b""".stripMargin)
    ),

    // ---- exact duplicated-substring spans (Lee et al. / RefinedWeb) ----
    // Per-document coverage by EXACT token spans (20-grams) that also
    // occur in another document — the "deduplicate exact substrings"
    // family member the gram-containment gate approximates. Plan: one
    // positioned-gram explode; census on a 128-bit hash pair (16-byte
    // shuffle keys, the bp01 discipline) keeps grams seen in >= 2 docs;
    // duplicated POSITIONS per doc survive an AQE-decided semi-join; the
    // union length of the [p, p+19] intervals is a sorted-array fold —
    // map-side after a per-doc aggregate that shuffles only duplicated
    // positions. Census-anchored: every doc reports, short docs as 0s.
    QueryDef(
      "dd08_dup_spans",
      (s, d) => {
        val L = 20
        val gramsL =
          s"""CASE WHEN size(words) >= $L THEN
             |  transform(sequence(0, size(words) - $L),
             |            i -> concat_ws(' ', slice(words, i + 1, $L)))
             |ELSE cast(array() as array<string>) END""".stripMargin
        // `words` feeds the gram explode AND the final per-doc join;
        // `grams` feeds the census AND the dup-position semi-join —
        // without a barrier each subtree re-runs per consumer (the
        // split pass twice, the 20-gram explode+hash twice). Both frames
        // are corpus-wide; within this one action each computes once.
        val words = Materialize.shared(table(s, d, "documents")
          .select(col("doc_id"),
                  expr("filter(split(text, '\\\\s+'), w -> length(w) > 0)")
                    .as("words")))
        val grams = Materialize.shared(words
          .select(col("doc_id"), posexplode(expr(gramsL)).as(Seq("p", "gram")))
          .withColumn("h1", xxhash64(col("gram")))
          .withColumn("h2", xxhash64(col("gram"), lit(1)))
          .select("doc_id", "p", "h1", "h2"))
        val flagged = grams.groupBy("h1", "h2")
          .agg(countDistinct("doc_id").as("n_docs"))
          .filter(col("n_docs") >= 2)
          .select("h1", "h2")
        // unhinted (AQE-decided) semi-join: the >= 2-doc census of a
        // 100 TB corpus is unbounded — forcing a broadcast would OOM the
        // driver; AQE broadcasts small censuses and shuffles big ones on
        // the 16-byte (h1, h2) keys
        val dupPos = grams
          .join(flagged, Seq("h1", "h2"), "left_semi")
        val perDoc = dupPos.groupBy("doc_id")
          .agg(sort_array(collect_list(col("p"))).as("ps"))
          .select(col("doc_id"),
                  size(col("ps")).cast("long").as("n_dup_grams"),
                  aggregate(col("ps"),
                    struct(lit(-1).as("end"), lit(0L).as("cov")),
                    (acc, p) => {
                      val start = greatest(p, acc("end") + lit(1))
                      val add = greatest(p + lit(L) - start, lit(0))
                      struct(greatest(acc("end"), p + lit(L) - 1).as("end"),
                             (acc("cov") + add.cast("long")).as("cov"))
                    },
                    acc => acc("cov")).as("dup_covered"))
        words.select(col("doc_id"),
                     size(col("words")).cast("long").as("n_tokens"))
          .join(perDoc, Seq("doc_id"), "left")
          .na.fill(0L, Seq("n_dup_grams", "dup_covered"))
          .select(col("doc_id"), col("n_tokens"), col("n_dup_grams"),
                  col("dup_covered"),
                  round(col("dup_covered") * lit(1.0) /
                        greatest(col("n_tokens"), lit(1L)), 6)
                    .as("dup_span_frac"))
          .orderBy("doc_id")
      },
      Some("""WITH words AS (
             |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
             |                             w -> length(w) > 0) AS w
             |  FROM documents),
             |pos AS (
             |  SELECT doc_id, w,
             |    CAST(unnest(range(greatest(len(w) - 19, 0))) AS INT) AS p
             |  FROM words),
             |g2 AS (
             |  SELECT doc_id, p, array_to_string(w[p + 1:p + 20], ' ') AS g
             |  FROM pos),
             |census AS (
             |  SELECT g FROM g2 GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
             |dup AS (
             |  SELECT doc_id, p FROM g2 WHERE g IN (SELECT g FROM census)),
             |marked AS (
             |  SELECT doc_id, p,
             |    CASE WHEN lag(p) OVER w IS NULL OR p > lag(p) OVER w + 19
             |         THEN 1 ELSE 0 END AS brk
             |  FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
             |numbered AS (
             |  SELECT doc_id, p,
             |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY p
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
             |  FROM marked),
             |merged AS (
             |  SELECT doc_id, count(*) AS n_grams_isl,
             |    max(p) + 19 - min(p) + 1 AS covered
             |  FROM numbered GROUP BY doc_id, isl),
             |stats AS (
             |  SELECT doc_id, CAST(SUM(n_grams_isl) AS BIGINT) AS n_dup_grams,
             |    CAST(SUM(covered) AS BIGINT) AS dup_covered
             |  FROM merged GROUP BY doc_id)
             |SELECT d.doc_id, CAST(len(d.w) AS BIGINT) AS n_tokens,
             |  CAST(coalesce(s.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
             |  CAST(coalesce(s.dup_covered, 0) AS BIGINT) AS dup_covered,
             |  round(coalesce(s.dup_covered, 0) * 1.0 /
             |        greatest(len(d.w), 1), 6) AS dup_span_frac
             |FROM words d LEFT JOIN stats s USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin)
    ),

    // ---- near-dup INGEST gate over the persisted MinHash band index --
    // id02's "don't re-ingest what the corpus already has" in FUZZY
    // form: arrivals (doc_id % 10 = 0 — this epoch's crawl) are gated
    // against a persisted band index of the standing corpus; reject iff
    // a corpus doc with 2-gram Jaccard ≥ 0.3 exists among LSH band
    // candidates. LSH banding is engine-specific (DuckDB cannot replay
    // MinHash signatures), so the entry is rows-only; dd09x replays the
    // EXHAUSTIVE gate end to end in SQL, dd09p pins precision 1
    // (banded rejects ⊆ exhaustive rejects, same-witness jaccard), and
    // dd09r pins the LSH miss bound on the ≥ 0.9 stratum.
    // SELF-AUDITING: the banded gate serves every arrival as-is; the
    // same plan runs the EXHAUSTIVE gate on a deterministic quarter of
    // the arrivals (doc_id % 40 = 0 — full exhaustive recall inside the
    // serve would re-run the dd09x anchor) and audits: banded rejects ⊆
    // exhaustive rejects with witness Jaccard bounded by the exhaustive
    // best (precision 1 — the refine is exact Jaccard over a candidate
    // subset), and the ≥ 0.9 stratum recalled within the dd09r count
    // bound. The audited slice's exhaustive reject/strong counts are
    // the oracle's recomputable scalars; dd09x/p/r stay in the registry.
    QueryDef(
      "dd09_neardup_ingest_gate",
      (s, d) => {
        val docs = table(s, d, "documents")
        val dir = MinHashBandIndex.ensure(s, d)
        // serve and exhaustive-slice audit are independent eager chains
        // — overlap them from driver threads (guide §2.6)
        val (served, exact) = ParActions.both(
          () => Materialize.once(
            MinHashBandIndex.gate(s, dir, MinHashBandIndex.arrivalsOf(docs))),
          () => Materialize.once(MinHashBandIndex.exhaustiveGate(
            s, MinHashBandIndex.corpusOf(docs),
            MinHashBandIndex.arrivalsOf(docs)
              .filter(col("doc_id") % 40 === 0))))
        val sAud = served.filter(col("doc_id") % 40 === 0)
        val sRej = sAud.filter(col("keep") === 0)
        val exRej = exact.filter(col("keep") === 0)
        val precEsc = sRej.select("doc_id")
          .join(exRej.select("doc_id"), Seq("doc_id"), "left_anti")
          .agg(count(lit(1)).as("__p"))
        val jBound = sRej.select(col("doc_id"), col("match_jaccard").as("bj"))
          .join(exRej.select(col("doc_id"), col("match_jaccard").as("ej")),
                Seq("doc_id"))
          .agg(coalesce(bool_and(col("bj") <= col("ej") + lit(1e-9)),
                        lit(true)).as("jaccard_bounded_ok"))
        val strong = exact.filter(col("match_jaccard") >= 0.9)
        val missed = strong.select("doc_id")
          .join(sRej.select("doc_id"), Seq("doc_id"), "left_anti")
          .agg(count(lit(1)).as("__m"))
        served.agg(count(lit(1)).as("n_arrivals"))
          .crossJoin(exRej.agg(count(lit(1)).as("n_audit_rejects")))
          .crossJoin(strong.agg(count(lit(1)).as("n_audit_strong")))
          .crossJoin(precEsc).crossJoin(jBound).crossJoin(missed)
          .select(col("n_arrivals"), col("n_audit_rejects"),
                  col("n_audit_strong"),
                  (col("__p") === 0).as("precision_ok"),
                  col("jaccard_bounded_ok"),
                  (col("__m") <= ceil(col("n_audit_strong") * lit(2e-4)))
                    .as("recall_bound_ok"))
      },
      Some("""WITH w AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM documents),
             |t AS (
             |  SELECT doc_id,
             |    CASE WHEN len(w) >= 2 THEN list_distinct(list_transform(
             |           range(len(w) - 1), i -> w[i+1] || ' ' || w[i+2]))
             |         ELSE [array_to_string(w, ' ')] END AS ngrams
             |  FROM w),
             |ag AS (SELECT doc_id, unnest(ngrams) AS g FROM t WHERE doc_id % 40 = 0),
             |cg AS (SELECT doc_id AS corpus_id, unnest(ngrams) AS g
             |       FROM t WHERE doc_id % 10 <> 0),
             |inter AS (
             |  SELECT a.doc_id, c.corpus_id, count(*) AS i
             |  FROM ag a JOIN cg c USING (g) GROUP BY 1, 2),
             |sc AS (
             |  SELECT i.doc_id,
             |    round(i.i * 1.0 / (len(sa.ngrams) + len(sb.ngrams) - i.i), 6) AS j
             |  FROM inter i
             |  JOIN t sa ON sa.doc_id = i.doc_id
             |  JOIN t sb ON sb.doc_id = i.corpus_id),
             |best AS (SELECT doc_id, max(j) AS mj FROM sc GROUP BY doc_id
             |         HAVING max(j) >= 0.3)
             |SELECT
             |  (SELECT COUNT(*) FROM documents WHERE doc_id % 10 = 0)
             |    AS n_arrivals,
             |  (SELECT COUNT(*) FROM best) AS n_audit_rejects,
             |  (SELECT COUNT(*) FROM best WHERE mj >= 0.9) AS n_audit_strong,
             |  true AS precision_ok, true AS jaccard_bounded_ok,
             |  true AS recall_bound_ok""".stripMargin)
    ),

    // exhaustive reference gate: shared-gram equi-join candidates (no
    // banding) + the same exact-Jaccard refine — fully SQL-replayable.
    QueryDef(
      "dd09x_neardup_gate_exact",
      (s, d) => {
        val docs = table(s, d, "documents")
        MinHashBandIndex.exhaustiveGate(
          s, MinHashBandIndex.corpusOf(docs), MinHashBandIndex.arrivalsOf(docs))
      },
      Some("""WITH w AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM documents),
             |t AS (
             |  SELECT doc_id,
             |    CASE WHEN len(w) >= 2 THEN list_distinct(list_transform(
             |           range(len(w) - 1), i -> w[i+1] || ' ' || w[i+2]))
             |         ELSE [array_to_string(w, ' ')] END AS ngrams
             |  FROM w),
             |ag AS (SELECT doc_id, unnest(ngrams) AS g FROM t WHERE doc_id % 10 = 0),
             |cg AS (SELECT doc_id AS corpus_id, unnest(ngrams) AS g
             |       FROM t WHERE doc_id % 10 <> 0),
             |inter AS (
             |  SELECT a.doc_id, c.corpus_id, count(*) AS i
             |  FROM ag a JOIN cg c USING (g) GROUP BY 1, 2),
             |sc AS (
             |  SELECT i.doc_id, i.corpus_id,
             |    round(i.i * 1.0 / (len(sa.ngrams) + len(sb.ngrams) - i.i), 6) AS j
             |  FROM inter i
             |  JOIN t sa ON sa.doc_id = i.doc_id
             |  JOIN t sb ON sb.doc_id = i.corpus_id),
             |hits AS (SELECT * FROM sc WHERE j >= 0.3),
             |best AS (SELECT doc_id, max(j) AS mj FROM hits GROUP BY 1),
             |bid AS (
             |  SELECT h.doc_id, b.mj AS match_jaccard,
             |         min(h.corpus_id) AS match_id
             |  FROM hits h JOIN best b ON h.doc_id = b.doc_id AND h.j = b.mj
             |  GROUP BY 1, 2)
             |SELECT a.doc_id,
             |  CAST(CASE WHEN bid.doc_id IS NULL THEN 1 ELSE 0 END AS INT) AS keep,
             |  bid.match_id, bid.match_jaccard
             |FROM (SELECT DISTINCT doc_id FROM ag) a
             |LEFT JOIN bid USING (doc_id)
             |ORDER BY a.doc_id""".stripMargin)
    ),

    // precision anchor: every arrival the BANDED gate rejects must be
    // rejected by the exhaustive gate too (refine is exact, candidates
    // are a subset ⇒ anti-join empty by construction). Hash-checkable
    // empty-result oracle.
    QueryDef(
      "dd09p_neardup_gate_precision",
      (s, d) => {
        val docs = table(s, d, "documents")
        val dir = MinHashBandIndex.ensure(s, d)
        val banded = MinHashBandIndex
          .gate(s, dir, MinHashBandIndex.arrivalsOf(docs))
          .filter(col("keep") === 0).select("doc_id")
        val exact = MinHashBandIndex
          .exhaustiveGate(s, MinHashBandIndex.corpusOf(docs),
                          MinHashBandIndex.arrivalsOf(docs))
          .filter(col("keep") === 0).select("doc_id")
        banded.except(exact).orderBy("doc_id")
      },
      Some("SELECT CAST(NULL AS BIGINT) AS doc_id WHERE false")
    ),

    // recall anchor (dc03r discipline): arrivals whose exhaustive best
    // match is ≥ 0.9 collide in one 4-row band with prob 0.9⁴, so all
    // 12 bands miss with prob (1 − 0.9⁴)¹² ≈ 2.7e-6 per doc; the
    // banded gate may miss at most ceil(2e-4 × n_strong) of them (a
    // count bound scaled to the stratum — strict emptiness would be
    // fixture-fragile). The oracle recomputes n_strong exactly and pins
    // within_bound = 1.
    QueryDef(
      "dd09r_neardup_gate_recall",
      (s, d) => {
        val p = math.pow(0.9, graft.functions.MinHash.Rows)
        val missBound = math.pow(1.0 - p, graft.functions.MinHash.Bands)
        require(missBound < 1e-4,
          s"band config too weak for a recall anchor: miss=$missBound")
        val docs = table(s, d, "documents")
        val dir = MinHashBandIndex.ensure(s, d)
        val strong = MinHashBandIndex
          .exhaustiveGate(s, MinHashBandIndex.corpusOf(docs),
                          MinHashBandIndex.arrivalsOf(docs))
          .filter(col("match_jaccard") >= 0.9).select("doc_id")
        val missed = strong.except(
          MinHashBandIndex.gate(s, dir, MinHashBandIndex.arrivalsOf(docs))
            .filter(col("keep") === 0).select("doc_id"))
        strong.agg(count(lit(1)).as("n_strong"))
          .crossJoin(missed.agg(count(lit(1)).as("n_missed")))
          .select(col("n_strong"),
                  (col("n_missed") <= ceil(col("n_strong") * lit(2e-4)))
                    .cast("int").as("within_bound"))
      },
      // `t` is MATERIALIZED (referenced four times — inlined, DuckDB
      // re-tokenizes the corpus per reference), `tl` carries ONLY the
      // gram-set length so the pair join never copies the gram lists
      // (at the 100× gate the list-carrying form spilled past the
      // box's disk), and the Jaccard needs just the intersection count
      // plus the two set sizes.
      Some("""WITH w AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM documents),
             |t AS MATERIALIZED (
             |  SELECT doc_id,
             |    CASE WHEN len(w) >= 2 THEN list_distinct(list_transform(
             |           range(len(w) - 1), i -> w[i+1] || ' ' || w[i+2]))
             |         ELSE [array_to_string(w, ' ')] END AS ngrams
             |  FROM w),
             |tl AS MATERIALIZED (SELECT doc_id, len(ngrams) AS n FROM t),
             |ag AS (SELECT doc_id, unnest(ngrams) AS g FROM t WHERE doc_id % 10 = 0),
             |cg AS (SELECT doc_id AS corpus_id, unnest(ngrams) AS g
             |       FROM t WHERE doc_id % 10 <> 0),
             |inter AS (
             |  SELECT a.doc_id, c.corpus_id, count(*) AS i
             |  FROM ag a JOIN cg c USING (g) GROUP BY 1, 2),
             |sc AS (
             |  SELECT i.doc_id,
             |    round(i.i * 1.0 / (sa.n + sb.n - i.i), 6) AS j
             |  FROM inter i
             |  JOIN tl sa ON sa.doc_id = i.doc_id
             |  JOIN tl sb ON sb.doc_id = i.corpus_id),
             |strong AS (
             |  SELECT doc_id FROM sc GROUP BY doc_id HAVING max(j) >= 0.9)
             |SELECT CAST(COUNT(*) AS BIGINT) AS n_strong, 1 AS within_bound
             |FROM strong""".stripMargin)
    )
  )
}
