package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.QueryDef

/** Dataset-mixing operators for LLM training-data assembly over the
  * `documents` table: rebalancing a corpus to a target language/source
  * mixture, and packing documents into fixed token-budget training
  * sequences.
  *
  * Everything is deterministic (md5 hash gates, not RNG) and pure
  * DataFrame algebra: at 100 TB the mixture pass is one aggregate + a
  * broadcast of per-class rates + a map-side gate; the packing pass is
  * one running-sum window.
  */
object DataMix {
  import QueryDef.table

  /** Uniform [0,1) hash fraction of a key: the first 4 hex digits of
    * md5 as an integer over 2^16 — exactly replayable in any engine
    * with md5 (DuckDB parses the digits via strpos math). */
  def hashFraction(key: Column): Column =
    conv(substring(md5(key.cast("string").cast("binary")), 1, 4), 16, 10)
      .cast("double") / lit(65536.0)

  /** DuckDB replay of [[hashFraction]]. */
  def hashFractionSql(keyExpr: String): String = {
    def d(i: Int) =
      s"(strpos('0123456789abcdef', substring(md5(CAST($keyExpr AS VARCHAR)), $i, 1)) - 1)"
    s"((${d(1)} * 4096.0 + ${d(2)} * 256.0 + ${d(3)} * 16.0 + ${d(4)}) / 65536.0)"
  }

  /** Target language mixture for dm01 (sums to 1). */
  val LangTargets: Seq[(String, Double)] =
    Seq("en" -> 0.4, "fr" -> 0.2, "de" -> 0.2, "es" -> 0.1, "zh" -> 0.1)

  /** α = 1/2 temperature keep-rates from a (lang, n_docs) count frame:
    * rate_l = √(n_min / n_l) — 1 for the smallest language, flattening
    * the head. Shared by dm03 (one-shot), dm05 (per-batch running
    * counts), and the streaming `EventStreams.temperatureMixture`.
    * The count frame is language-cardinality-sized, so the cross join
    * of the 1-row min broadcasts. */
  def temperatureRates(counts: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    counts.crossJoin(broadcast(counts.agg(min("n_docs").as("n_min"))))
      .select(col("lang"), col("n_docs"),
              sqrt(col("n_min") / col("n_docs")).as("rate"))

  /** Tokens per packed training sequence for dm02. */
  val PackBudget = 512

  /** dm09 split thresholds on the md5 hash fraction: [0, ValFrac) →
    * val, [ValFrac, TestCut) → test, rest train. */
  val SplitValFrac = 0.1
  val SplitTestCut = 0.3

  /** dm10: minimum word-2-gram Jaccard for a cross-split pair to count
    * as training/eval leakage. */
  val SplitLeakJaccard = 0.8

  /** dm10 skew guard: shingles present in more than this many docs are
    * dropped from CANDIDATE GENERATION (the refine still scores full
    * shingle sets exactly). Without it a stopword-ish 2-gram shared by
    * k eval × m train docs contributes k·m join rows — a 30× probe put
    * the uncapped join at 190 s while the capped form stays linear. A
    * j ≥ 0.8 pair shares most of its grams, so it is linked unless
    * EVERY shared gram is corpus-hot (the dd02-style trade). */
  val LeakGramCap = 500L

  /** dm02's per-doc packing assignment — (doc_id, n_tokens, shard,
    * seq_id, pos_in_seq) — shared by the dm02 plan entry and dm08's
    * sequence materialization so the written sequences can never drift
    * from the oracle-checked assignment. */
  def packAssignments(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val tokens = docs
      .select(col("doc_id"),
              TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("shard", (col("doc_id") / lit(1000)).cast("long"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("doc_id")
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val packed = tokens
      .withColumn("cum_before", coalesce(sum("n_tokens").over(w), lit(0L)))
      .withColumn("seq_id", (col("cum_before") / lit(PackBudget)).cast("long"))
    val pos = org.apache.spark.sql.expressions.Window
      .partitionBy("shard", "seq_id").orderBy("doc_id")
    packed
      .withColumn("pos_in_seq", row_number().over(pos).cast("int"))
      .select("doc_id", "n_tokens", "shard", "seq_id", "pos_in_seq")
  }

  def all: Seq[QueryDef] = Seq(
    // rebalance the corpus to a target language mixture at the MAXIMUM
    // size that achieves the exact proportions: the feasible total is
    // min over languages of count_l / target_l, giving per-language
    // keep-rates rate_l = target_l * total / count_l (= 1 for the
    // binding language). Rates are computed in-plan from one aggregate,
    // broadcast back, and applied as a deterministic md5 gate — no
    // shuffle of the corpus, no RNG. Output is the per-language census
    // of the sampled mixture (pins rates AND gate).
    QueryDef(
      "dm01_mixture_rebalance",
      (s, d) => {
        val docs = table(s, d, "documents")
        val targetCol = LangTargets.tail.foldLeft(
          when(col("lang") === LangTargets.head._1, lit(LangTargets.head._2))) {
          case (acc, (l, t)) => acc.when(col("lang") === l, lit(t))
        }.otherwise(lit(0.0))
        val counts = docs.groupBy("lang")
          .agg(count(lit(1)).cast("double").as("n_lang"))
          .withColumn("target", targetCol)
          .filter(col("target") > 0)
        val feasible = counts
          .agg(min(col("n_lang") / col("target")).as("total"))
        val rates = counts.crossJoin(broadcast(feasible))
          .select(col("lang"),
                  least(lit(1.0),
                        col("target") * col("total") / col("n_lang")).as("rate"))
        docs.join(broadcast(rates), Seq("lang"))
          .filter(hashFraction(col("doc_id")) < col("rate"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_sampled"))
          .orderBy("lang")
      },
      Some(s"""WITH counts AS (
              |  SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n_lang,
              |    CASE lang ${LangTargets.map { case (l, t) =>
                     s"WHEN '$l' THEN $t" }.mkString(" ")}
              |         ELSE 0.0 END AS target
              |  FROM documents GROUP BY lang),
              |feasible AS (
              |  SELECT min(n_lang / target) AS total FROM counts
              |  WHERE target > 0),
              |rates AS (
              |  SELECT lang, least(1.0, target * total / n_lang) AS rate
              |  FROM counts CROSS JOIN feasible WHERE target > 0)
              |SELECT d.lang, COUNT(*) AS n_sampled
              |FROM documents d JOIN rates r ON d.lang = r.lang
              |WHERE ${hashFractionSql("d.doc_id")} < r.rate
              |GROUP BY d.lang ORDER BY d.lang""".stripMargin)
    ),

    // pack documents into fixed token-budget training sequences by
    // START OFFSET, independently per SHARD of 1000 contiguous doc_ids:
    // doc n goes to sequence floor(cum_before / budget) within its
    // shard, where cum_before is the running token total of earlier
    // shard docs (deterministic doc_id order). Documents are never
    // split; a sequence can overrun the budget by at most one
    // document's tail — the standard streaming-pack approximation.
    // Sharding is what makes this a 100 TB plan: an UNPARTITIONED
    // running-sum window funnels the whole corpus through one task,
    // while per-shard windows parallelize freely (training sequences
    // don't need global contiguity — packing locality within a shard is
    // all the objective asks). Output: per-doc (shard, sequence,
    // position).
    QueryDef(
      "dm02_pack_sequences",
      (s, d) => packAssignments(table(s, d, "documents")).orderBy("doc_id"),
      Some(s"""WITH toks AS (
              |  SELECT doc_id,
              |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens,
              |    CAST(floor(doc_id / 1000) AS BIGINT) AS shard
              |  FROM documents),
              |packed AS (
              |  SELECT doc_id, n_tokens, shard,
              |    COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
              |  FROM toks)
              |SELECT doc_id, n_tokens, shard,
              |  CAST(floor(cum_before / $PackBudget) AS BIGINT) AS seq_id,
              |  CAST(row_number() OVER (
              |    PARTITION BY shard, CAST(floor(cum_before / $PackBudget) AS BIGINT)
              |    ORDER BY doc_id) AS INT) AS pos_in_seq
              |FROM packed ORDER BY doc_id""".stripMargin)
    ),

    // temperature-based mixture sampling (the multilingual-pretraining
    // standard: sampling weight ∝ count^α flattens the head languages
    // and boosts the tail). α = 1/2, so the weight math is a single
    // sqrt — correctly-rounded IEEE in every engine, no transcendental
    // drift. With w_l ∝ √n_l the maximum feasible exact-mixture size
    // gives per-language keep-rate √(n_min / n_l) (rate 1 for the
    // smallest language; larger languages subsampled toward the
    // flattened mixture). Same scale shape as dm01: one tiny aggregate,
    // rates broadcast back, deterministic md5 gate, census output.
    QueryDef(
      "dm03_temperature_mixture",
      (s, d) => {
        val docs = table(s, d, "documents")
        val counts = docs.groupBy("lang")
          .agg(count(lit(1)).cast("double").as("n_docs"))
        val rates = temperatureRates(counts)
        docs.join(broadcast(rates), Seq("lang"))
          .filter(hashFraction(col("doc_id")) < col("rate"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_sampled"))
          .join(rates.select(col("lang"), col("n_docs").cast("long").as("n_docs"),
                             round(col("rate"), 6).as("rate")), Seq("lang"))
          .select("lang", "n_docs", "rate", "n_sampled")
          .orderBy("lang")
      },
      Some(s"""WITH counts AS (
              |  SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n_docs
              |  FROM documents GROUP BY lang),
              |rates AS (
              |  SELECT lang, n_docs,
              |    sqrt((SELECT min(n_docs) FROM counts) / n_docs) AS rate
              |  FROM counts),
              |sampled AS (
              |  SELECT d.lang, COUNT(*) AS n_sampled
              |  FROM documents d JOIN rates r ON d.lang = r.lang
              |  WHERE ${hashFractionSql("d.doc_id")} < r.rate
              |  GROUP BY d.lang)
              |SELECT s.lang, CAST(r.n_docs AS BIGINT) AS n_docs,
              |  round(r.rate, 6) AS rate, s.n_sampled
              |FROM sampled s JOIN rates r ON s.lang = r.lang
              |ORDER BY s.lang""".stripMargin)
    ),

    // deterministic epoch shuffle: the pre-tokenization global order
    // randomization every training run needs, as a pure function of
    // (doc_id, epoch) — reproducible across reruns and engines, no RNG
    // state. Each document hashes to one of 16 shards (first md5 byte)
    // and to a position within its shard (rank of the full digest).
    // The per-shard row_number window parallelizes freely — a single
    // global ORDER BY md5 would funnel 100 TB through one sort range;
    // shard-local ranks with shard-major read order give the same
    // shuffle quality (readers consume shards in sequence).
    QueryDef(
      "dm04_epoch_shuffle",
      (s, d) => {
        val epoch = 1
        val h = md5(concat(col("doc_id").cast("string"), lit(s":$epoch"))
          .cast("binary"))
        val shard = conv(substring(h, 1, 2), 16, 10).cast("int") % 16
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("shard").orderBy(col("h"), col("doc_id"))
        table(s, d, "documents")
          .select(col("doc_id"), h.as("h"), shard.as("shard"))
          .withColumn("pos", row_number().over(w).cast("int"))
          .select("doc_id", "shard", "pos")
          .orderBy("doc_id")
      },
      Some("""WITH hashed AS (
             |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':1') AS h
             |  FROM documents),
             |sharded AS (
             |  SELECT doc_id, h,
             |    CAST((strpos('0123456789abcdef', substring(h, 1, 1)) - 1) * 16
             |       + (strpos('0123456789abcdef', substring(h, 2, 1)) - 1)
             |       AS INT) % 16 AS shard
             |  FROM hashed)
             |SELECT doc_id, shard,
             |  CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
             |       AS INT) AS pos
             |FROM sharded ORDER BY doc_id""".stripMargin)
    ),

    // STREAMING temperature mixture in batch form: the corpus processed
    // as two micro-batches (doc_id parity); each batch's keep-rates are
    // refreshed from the RUNNING language counts through that batch
    // (update counts, then gate), so the mixture self-corrects as the
    // observed language distribution drifts — dm03's one-shot rates
    // generalized to a feed. After batch 2 the running counts equal the
    // full-corpus counts, which the oracle exploits. The streaming form
    // is the same per-batch plan via foreachBatch with the counts in a
    // tiny per-batch-delta store (EventStreams.temperatureMixture); a
    // MemoryStream test pins the rate refresh across batches.
    QueryDef(
      "dm05_streaming_temperature",
      (s, d) => {
        val docs = table(s, d, "documents")
        val b1 = docs.filter(col("doc_id") % 2 === 0)
        val b2 = docs.filter(col("doc_id") % 2 === 1)
        def census(batch: org.apache.spark.sql.DataFrame,
                   rates: org.apache.spark.sql.DataFrame) =
          batch.join(broadcast(rates), Seq("lang"))
            .filter(hashFraction(col("doc_id")) < col("rate"))
            .groupBy("lang").agg(count(lit(1)).as("n_sampled"))
        def out(batchNo: Int, rates: org.apache.spark.sql.DataFrame,
                sampled: org.apache.spark.sql.DataFrame) =
          rates.join(broadcast(sampled), Seq("lang"), "left")
            .select(lit(batchNo).as("batch"), col("lang"),
                    col("n_docs").cast("long").as("n_running"),
                    round(col("rate"), 6).as("rate"),
                    coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
        val c1 = b1.groupBy("lang")
          .agg(count(lit(1)).cast("double").as("n_docs"))
        val r1 = temperatureRates(c1)
        // running counts through batch 2 = the whole corpus
        val cAll = docs.groupBy("lang")
          .agg(count(lit(1)).cast("double").as("n_docs"))
        val r2 = temperatureRates(cAll)
        out(1, r1, census(b1, r1))
          .unionByName(out(2, r2, census(b2, r2)))
          .orderBy("batch", "lang")
      },
      Some(s"""WITH b1 AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
              |b2 AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
              |c1 AS (SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n FROM b1 GROUP BY lang),
              |r1 AS (SELECT lang, n,
              |         sqrt((SELECT min(n) FROM c1) / n) AS rate FROM c1),
              |s1 AS (
              |  SELECT d.lang, COUNT(*) AS n_sampled
              |  FROM b1 d JOIN r1 r ON d.lang = r.lang
              |  WHERE ${hashFractionSql("d.doc_id")} < r.rate
              |  GROUP BY d.lang),
              |o1 AS (
              |  SELECT 1 AS batch, r.lang, CAST(r.n AS BIGINT) AS n_running,
              |    round(r.rate, 6) AS rate,
              |    CAST(coalesce(s.n_sampled, 0) AS BIGINT) AS n_sampled
              |  FROM r1 r LEFT JOIN s1 s ON r.lang = s.lang),
              |c2 AS (SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n
              |       FROM documents GROUP BY lang),
              |r2 AS (SELECT lang, n,
              |         sqrt((SELECT min(n) FROM c2) / n) AS rate FROM c2),
              |s2 AS (
              |  SELECT d.lang, COUNT(*) AS n_sampled
              |  FROM b2 d JOIN r2 r ON d.lang = r.lang
              |  WHERE ${hashFractionSql("d.doc_id")} < r.rate
              |  GROUP BY d.lang),
              |o2 AS (
              |  SELECT 2 AS batch, r.lang, CAST(r.n AS BIGINT) AS n_running,
              |    round(r.rate, 6) AS rate,
              |    CAST(coalesce(s.n_sampled, 0) AS BIGINT) AS n_sampled
              |  FROM r2 r LEFT JOIN s2 s ON r.lang = s.lang)
              |SELECT * FROM o1 UNION ALL SELECT * FROM o2
              |ORDER BY batch, lang""".stripMargin)
    ),

    // TOKEN-budget mixture: dm01/dm03 mix by document COUNT, but a
    // training run's real resource is tokens — long documents must not
    // let a language overshoot its share. Target: a uniform token
    // mixture at the largest feasible size (budget = the smallest
    // language's token mass, computed in-plan). Selection is
    // deterministic "random": docs ordered by md5 within each of 16
    // hash shards per language, kept while the shard's running token
    // total is under budget/16 (a doc may overrun its shard budget by
    // one tail — the dm02 streaming-pack convention). Sharding is the
    // 100 TB shape: one UNPARTITIONED per-language running sum would
    // funnel each language through a single task, while (lang, shard)
    // windows parallelize 16-way per language and the shuffle carries
    // only (doc_id, n_tokens) scalars. Output: per-language census of
    // the selection (pins budget math, hash order, and gate).
    QueryDef(
      "dm06_token_budget_mixture",
      (s, d) => {
        val docs = table(s, d, "documents")
          .select(col("doc_id"), col("lang"),
                  TextAnalysis.tokenCount(col("text")).cast("long")
                    .as("n_tokens"))
        val totals = docs.groupBy("lang").agg(sum("n_tokens").as("tok_lang"))
        val budget = totals.agg(expr("min(tok_lang) div 16").as("shard_budget"))
        val h = md5(concat(col("doc_id").cast("string"), lit(":tb"))
          .cast("binary"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang", "shard").orderBy("h", "doc_id")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        docs.withColumn("h", h)
          .withColumn("shard",
            conv(substring(col("h"), 1, 2), 16, 10).cast("int") % 16)
          .withColumn("cum_before",
            coalesce(sum("n_tokens").over(w), lit(0L)))
          .crossJoin(broadcast(budget))
          .filter(col("cum_before") < col("shard_budget"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs_kept"),
               sum("n_tokens").as("tok_kept"))
          .join(broadcast(totals), Seq("lang"))
          .select("lang", "tok_lang", "n_docs_kept", "tok_kept")
          .orderBy("lang")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, lang,
             |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
             |    md5(CAST(doc_id AS VARCHAR) || ':tb') AS h
             |  FROM documents),
             |sharded AS (
             |  SELECT *, CAST((strpos('0123456789abcdef', substring(h, 1, 1)) - 1) * 16
             |     + (strpos('0123456789abcdef', substring(h, 2, 1)) - 1)
             |     AS INT) % 16 AS shard
             |  FROM toks),
             |totals AS (
             |  SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS tok_lang
             |  FROM toks GROUP BY lang),
             |budget AS (
             |  SELECT CAST(min(tok_lang) // 16 AS BIGINT) AS shard_budget
             |  FROM totals),
             |cum AS (
             |  SELECT lang, n_tokens,
             |    COALESCE(SUM(n_tokens) OVER (PARTITION BY lang, shard
             |      ORDER BY h, doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS cum_before
             |  FROM sharded),
             |kept AS (
             |  SELECT lang, n_tokens FROM cum, budget
             |  WHERE cum_before < shard_budget)
             |SELECT k.lang, t.tok_lang, COUNT(*) AS n_docs_kept,
             |  CAST(SUM(k.n_tokens) AS BIGINT) AS tok_kept
             |FROM kept k JOIN totals t ON k.lang = t.lang
             |GROUP BY k.lang, t.tok_lang ORDER BY k.lang""".stripMargin)
    ),

    // pack MATERIALIZATION — the write side of dm02 (cp04's "execute"
    // twin for sequences): each (shard, seq_id) cell becomes one actual
    // training row — member docs' texts joined in pos order, with the
    // doc count and token total a loader needs. The ONLY corpus-text
    // shuffle is the pack write itself (inherent: sequences ARE a
    // regrouping of text), keyed by (shard, seq_id), every group
    // bounded by PackBudget + one doc tail — no skew, no global sort;
    // collect_list is made deterministic by sorting the (pos, text)
    // structs, and the per-cell aggregate partial-aggregates map-side.
    QueryDef(
      "dm08_pack_materialize",
      (s, d) => {
        val docs = table(s, d, "documents")
        packAssignments(docs)
          .join(docs.select("doc_id", "text"), Seq("doc_id"))
          .groupBy("shard", "seq_id")
          .agg(count(lit(1)).cast("long").as("n_docs"),
               sum("n_tokens").as("seq_tokens"),
               array_join(transform(
                 sort_array(collect_list(struct(col("pos_in_seq"),
                                                col("text")))),
                 p => p("text")), " ").as("seq_text"))
          .orderBy("shard", "seq_id")
      },
      Some(s"""WITH toks AS (
              |  SELECT doc_id, text,
              |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens,
              |    CAST(floor(doc_id / 1000) AS BIGINT) AS shard
              |  FROM documents),
              |packed AS (
              |  SELECT doc_id, text, n_tokens, shard,
              |    COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              |      AS cum_before
              |  FROM toks)
              |SELECT shard,
              |  CAST(floor(cum_before / $PackBudget) AS BIGINT) AS seq_id,
              |  COUNT(*) AS n_docs,
              |  CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
              |  string_agg(text, ' ' ORDER BY doc_id) AS seq_text
              |FROM packed
              |GROUP BY shard, CAST(floor(cum_before / $PackBudget) AS BIGINT)
              |ORDER BY shard, seq_id""".stripMargin)
    ),

    // UPsampling: dm01/dm03/dm06 only ever subsample the head; the other
    // half of mixture control is repeating the TAIL (a rare language
    // appears w > 1 times per epoch). α = 1/2 up-weights: w_l =
    // √(n_max / n_l) ≥ 1, with w = 1 for the largest language. Each doc
    // gets floor(w) whole copies plus one more where its md5 fraction
    // falls under frac(w) — deterministic, no RNG, exactly E[copies] = w
    // per doc. Plan: one language-count aggregate broadcast back, then a
    // map-only sequence-explode (each row carries its own copy index —
    // downstream epoch shuffles spread the copies). Census output pins
    // weights, whole-copy explode, and the fractional gate.
    QueryDef(
      "dm07_upsample_repeats",
      (s, d) => {
        val docs = table(s, d, "documents")
        val counts = docs.groupBy("lang")
          .agg(count(lit(1)).cast("double").as("n_docs"))
        val weights = counts
          .crossJoin(broadcast(counts.agg(max("n_docs").as("n_max"))))
          .select(col("lang"), col("n_docs"),
                  sqrt(col("n_max") / col("n_docs")).as("w"))
        docs.join(broadcast(weights), Seq("lang"))
          .withColumn("copies",
            (floor(col("w")) +
             (hashFraction(col("doc_id")) < col("w") - floor(col("w")))
               .cast("long")).cast("int"))
          .select(col("lang"), col("doc_id"),
                  explode(expr("sequence(1, copies)")).as("copy_idx"))
          .groupBy("lang")
          .agg(countDistinct("doc_id").as("n_docs"),
               count(lit(1)).as("n_copies"))
          .join(broadcast(weights.select(col("lang"),
                round(col("w"), 6).as("w"))), Seq("lang"))
          .select("lang", "n_docs", "n_copies", "w")
          .orderBy("lang")
      },
      Some(s"""WITH counts AS (
              |  SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n_docs
              |  FROM documents GROUP BY lang),
              |weights AS (
              |  SELECT lang, n_docs,
              |    sqrt((SELECT max(n_docs) FROM counts) / n_docs) AS w
              |  FROM counts),
              |copies AS (
              |  SELECT d.lang, d.doc_id,
              |    CAST(floor(w.w) +
              |      CAST(${hashFractionSql("d.doc_id")} < w.w - floor(w.w)
              |           AS INT) AS INT) AS copies
              |  FROM documents d JOIN weights w ON d.lang = w.lang),
              |exploded AS (
              |  SELECT lang, doc_id, unnest(range(copies)) AS copy_idx
              |  FROM copies)
              |SELECT e.lang, COUNT(DISTINCT e.doc_id) AS n_docs,
              |  COUNT(*) AS n_copies, round(w.w, 6) AS w
              |FROM exploded e JOIN weights w ON e.lang = w.lang
              |GROUP BY e.lang, w.w ORDER BY e.lang""".stripMargin)
    ),

    // ---- train/val/test split + leakage audit -------------------------
    // dm09: deterministic hash-threshold split — MAP-ONLY on purpose.
    // The exact-proportion alternative (row_number per language) costs
    // a full shuffle+sort of the corpus; at 100 TB the split is a
    // per-row pure function of the id (reproducible across reruns and
    // engines, no coordination), and proportions converge to the
    // thresholds by the law of large numbers. Same md5-fraction
    // primitive as every sampling gate here (x21/dm01/dm07).
    QueryDef(
      "dm09_train_split",
      (s, d) => {
        val hf = hashFraction(col("doc_id"))
        table(s, d, "documents")
          .select(col("doc_id"), col("lang"),
                  when(hf < SplitValFrac, "val")
                    .when(hf < SplitTestCut, "test")
                    .otherwise("train").as("split"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, lang,
              |  CASE WHEN ${hashFractionSql("doc_id")} < $SplitValFrac THEN 'val'
              |       WHEN ${hashFractionSql("doc_id")} <
              |            $SplitTestCut THEN 'test'
              |       ELSE 'train' END AS split
              |FROM documents ORDER BY doc_id""".stripMargin)
    ),

    // dm10: near-dup LEAKAGE across the split boundary — the audit a
    // training pipeline runs before trusting its eval numbers: every
    // (eval doc, train doc) pair with word-2-gram Jaccard ≥ 0.8 is a
    // leak (exact duplicates are the j = 1 special case). BANDED
    // serving form (the dd09 discipline, upgraded from r10's
    // shared-gram equi-join candidates whose output grew with
    // eval×train gram co-occurrence — 38 s at staged sf1): candidates
    // come from MinHash band collisions against a train-side band
    // table built in-plan (map-side native signatures), the refine is
    // EXACT Jaccard — every reported pair is a true leak regardless of
    // what banding missed. Band hashing is engine-specific, so the
    // entry is SELF-AUDITING: the same plan runs the exhaustive
    // pair-level reference on a deterministic EVAL slice
    // (doc_id % 16 = 1 — the relation is per-eval-doc independent and
    // the train side stays whole, so the slice bounds audit cost
    // without weakening per-pair exactness) and asserts banded ⊆
    // exhaustive with bit-equal Jaccards plus the ≥ 0.9-stratum recall
    // bound. The slice's exhaustive leak/strong counts are the
    // oracle's recomputable scalars; dm10x is the hash-green
    // pair-level anchor.
    QueryDef(
      "dm10_split_leakage",
      (s, d) => {
        val hf = hashFraction(col("doc_id"))
        val docs = table(s, d, "documents")
          .select(col("doc_id"), col("text"),
                  when(hf < SplitValFrac, "val")
                    .when(hf < SplitTestCut, "test")
                    .otherwise("train").as("split"))
        val ev = docs.filter(col("split") =!= "train")
        val tr = docs.filter(col("split") === "train")
          .select("doc_id", "text")
        // one shared shingle+sig pass over the train side (the r17
        // segmentFrames form — the separate segmentBands/segmentShingles
        // calls each re-tokenized tr inside the serve plan), and the
        // serve + exact-slice audit are independent eager chains —
        // overlap them from driver threads (guide §2.6)
        val (served, exact) = graft.analytics.ParActions.both(
          () => Materialize.once {
            val (trBands, trSh) = MinHashBandIndex.segmentFrames(s, tr)
            MinHashBandIndex.scoredPairs(s, trBands, trSh,
                MinHashBandIndex.signatures(s, ev),
                minJaccard = SplitLeakJaccard)
              .select(col("doc_id"), col("corpus_id").as("train_id"),
                      col("j").as("jaccard"))
          },
          () => Materialize.once(
            leakPairsExact(s, d, col("doc_id") % 16 === 1)
              .select("doc_id", "train_id", "jaccard")))
        val sAud = served.filter(col("doc_id") % 16 === 1)
        val subEsc = sAud.select("doc_id", "train_id")
          .join(exact.select("doc_id", "train_id"),
                Seq("doc_id", "train_id"), "left_anti")
          .agg(count(lit(1)).as("__s"))
        val jm = sAud.select(col("doc_id"), col("train_id"),
                             col("jaccard").as("bj"))
          .join(exact.select(col("doc_id"), col("train_id"),
                             col("jaccard").as("ej")),
                Seq("doc_id", "train_id"))
          .agg(coalesce(bool_and(abs(col("bj") - col("ej")) <= lit(1e-9)),
                        lit(true)).as("jaccard_exact_ok"))
        val strong = exact.filter(col("jaccard") >= 0.9)
        val missed = strong.select("doc_id", "train_id")
          .join(sAud.select("doc_id", "train_id"),
                Seq("doc_id", "train_id"), "left_anti")
          .agg(count(lit(1)).as("__m"))
        ev.agg(count(lit(1)).as("n_eval"))
          .crossJoin(tr.agg(count(lit(1)).as("n_train")))
          .crossJoin(exact.agg(count(lit(1)).as("n_audit_leaks")))
          .crossJoin(strong.agg(count(lit(1)).as("n_audit_strong")))
          .crossJoin(subEsc).crossJoin(jm).crossJoin(missed)
          .select(col("n_eval"), col("n_train"), col("n_audit_leaks"),
                  col("n_audit_strong"),
                  (col("__s") === 0).as("banded_subset_ok"),
                  col("jaccard_exact_ok"),
                  // floor, not ceil: below 5000 strong pairs the bound
                  // is EXACTLY ZERO misses (a banding regression that
                  // drops even one ≥0.9 leak flips this false); past
                  // that the 2e-4 rate is the statistical slack for
                  // the deterministic per-pair miss probability
                  // (1 − 0.9⁴)¹² ≈ 2.7e-6 compounding over a huge
                  // audit stratum.
                  (col("__m") <= floor(col("n_audit_strong") * lit(2e-4)))
                    .as("recall_bound_ok"))
      },
      Some(s"""${leakPairsCtes("AND t.doc_id % 16 = 1")}
              |SELECT
              |  (SELECT COUNT(*) FROM sp WHERE split <> 'train') AS n_eval,
              |  (SELECT COUNT(*) FROM sp WHERE split = 'train') AS n_train,
              |  (SELECT COUNT(*) FROM leaks) AS n_audit_leaks,
              |  (SELECT COUNT(*) FROM leaks WHERE jaccard >= 0.9)
              |    AS n_audit_strong,
              |  true AS banded_subset_ok, true AS jaccard_exact_ok,
              |  true AS recall_bound_ok""".stripMargin)
    ),

    // dm10x: the exhaustive pair-level anchor — shared below-cap-gram
    // equi-join candidates + exact rare/hot-count Jaccard, end-to-end
    // SQL-replayable and hash-checked. The EVAL side is a deterministic
    // slice (doc_id % 8 = 1; the train side stays whole): the leak
    // relation is per-eval-doc independent, so the slice preserves
    // every mechanism the anchor pins (gram census, rare/hot split,
    // exact intersection counting, threshold) at a bounded fraction of
    // the full product — the full-eval report is dm10's banded serve.
    QueryDef(
      "dm10x_split_leakage_exact",
      (s, d) => leakPairsExact(s, d, col("doc_id") % 8 === 1),
      Some(s"""${leakPairsCtes("AND t.doc_id % 8 = 1")}
              |SELECT doc_id, split, train_id, jaccard FROM leaks
              |ORDER BY doc_id, train_id""".stripMargin)
    ),

    // ---- length-proportional Poisson sampling (Horvitz–Thompson) ----
    QueryDef(
      "dm11_weighted_sample",
      // budgeted subsampling with KNOWN inclusion probabilities: doc i
      // kept iff its 16-bit md5 fraction clears p_i = min(1,
      // n_tokens·256/65536) — longer docs proportionally likelier, and
      // every sampled row carries its Horvitz–Thompson weight 1/p_i so
      // downstream token statistics stay unbiased. The gate is PURE
      // INTEGER arithmetic (h16 < n_tokens·256), so both engines decide
      // every boundary identically — no float threshold to disagree
      // on. Map-only: no shuffle at all, the 100 TB cost is the scan
      // (x21 is the uniform cousin; the weighting is what a
      // token-budget subsample needs).
      (s, d) => {
        val h16 = (DataMix.hashFraction(col("doc_id")) * lit(65536.0))
          .cast("long")
        val nTok = graft.analytics.TextAnalysis.tokenCount(col("text"))
          .cast("long")
        table(s, d, "documents")
          .select(col("doc_id"), nTok.as("n_tokens"), h16.as("h16"))
          .filter(col("h16") < least(col("n_tokens") * 256L, lit(65536L)))
          .select(col("doc_id"), col("n_tokens"),
                  round(lit(65536.0) /
                        least(col("n_tokens") * 256L, lit(65536L)), 6)
                    .as("ht_weight"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id,
              |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT)
              |      AS n_tokens,
              |    CAST(${hashFractionSql("doc_id")} * 65536.0 AS BIGINT)
              |      AS h16
              |  FROM documents)
              |SELECT doc_id, n_tokens,
              |  round(65536.0 / least(n_tokens * 256, 65536), 6)
              |    AS ht_weight
              |FROM t WHERE h16 < least(n_tokens * 256, 65536)
              |ORDER BY doc_id""".stripMargin)
    ),

    // ---- exactly-m-per-group deterministic sample -------------------
    QueryDef(
      "dm12_group_sample",
      // "give me m docs per source, uniformly at random, reproducibly"
      // — the per-stratum inspection sample every curation review
      // starts from. Definition: the m lexicographically-smallest
      // md5(doc_id || ':gs') hashes per group — deterministic and
      // uniform. The naive plan windows the WHOLE corpus per group (a
      // full shuffle + sort of every row); this plan bounds the window
      // input first: per-group counts n_g (one partial-agg pass), then
      // keep only rows whose 16-bit hash prefix clears
      // u16·n_g < 65536·4m — expected 4m survivors per group, and
      // since hex order is dominated by its prefix, survivors ≥ m ⟹
      // true top-m ⊆ survivors (groups at or below ~4m keep every
      // row: the cutoff exceeds 65535). The oracle computes the naive
      // full window — row-equality IS the proof the bounded path
      // loses nothing (an undershoot, Poisson(4m) < m ≈ 3e-8 per
      // group and deterministic per corpus, would break the hash
      // loudly). At 100 TB the window sorts ~4m rows per group
      // instead of n_g.
      (s, d) => {
        val m = 8
        val hx = md5(concat(col("doc_id").cast("string"), lit(":gs"))
          .cast("binary"))
        val base = table(s, d, "documents")
          .select(col("source"), col("doc_id"))
          .withColumn("hx", hx)
          .withColumn("u16",
            conv(substring(col("hx"), 1, 4), 16, 10).cast("long"))
        val counts = base.groupBy("source").agg(count(lit(1)).as("n_g"))
        // unhinted count join (fi02's rule: group count is a corpus
        // property; AQE broadcasts the 20-row fixture side on its own)
        val cands = base.join(counts, "source")
          .filter(col("u16") * col("n_g") < lit(65536L * 4 * m))
        val w = Window.partitionBy("source")
          .orderBy(col("hx"), col("doc_id"))
        cands
          .withColumn("rn", row_number().over(w).cast("int"))
          .filter(col("rn") <= m)
          .select(col("source"), col("rn"), col("doc_id"))
          .orderBy("source", "rn")
      },
      Some("""WITH h AS (
             |  SELECT source, doc_id,
             |    md5(CAST(doc_id AS VARCHAR) || ':gs') AS hx
             |  FROM documents),
             |r AS (
             |  SELECT source, doc_id,
             |    CAST(row_number() OVER (
             |      PARTITION BY source ORDER BY hx, doc_id) AS INT)
             |      AS rn
             |  FROM h)
             |SELECT source, rn, doc_id FROM r WHERE rn <= 8
             |ORDER BY source, rn""".stripMargin)
    )
  )

  /** Exhaustive (eval, train) leak pairs over the hash split,
    * `evalSlice` restricting the EVAL side. Candidate generation over
    * RARE grams only (map-side-combinable census, [[LeakGramCap]]): a
    * pair is a candidate iff it shares ≥ 1 below-cap gram, so the
    * hot-gram join product Σ ev(g)·tr(g) is bounded by
    * cap·|gram rows| instead of growing with the square of the
    * stopword-gram frequency. The intersection is then counted EXACTLY
    * as rare + hot shared-gram COUNTS — two aggregations that never
    * ship a shingle array per pair (an array_intersect refine measured
    * 4× slower than the uncapped join at a 30× probe: each doc's full
    * gram set is re-shipped for every candidate pair). */
  private def leakPairsExact(s: org.apache.spark.sql.SparkSession,
                             d: String, evalSlice: Column): DataFrame = {
    val hf = hashFraction(col("doc_id"))
    val docs = table(s, d, "documents")
      .select(col("doc_id"), col("text"),
              when(hf < SplitValFrac, "val")
                .when(hf < SplitTestCut, "test")
                .otherwise("train").as("split"))
    // both shingle frames feed three consumers each (gram explode, hot
    // semi-join, the size join) — materialize them so each side
    // tokenizes once per plan instead of three times (the train side is
    // corpus-wide)
    val ev = Materialize.shared(
      docs.filter(col("split") =!= "train").filter(evalSlice)
        .select(col("doc_id"), col("split"),
                Dedup.shingleHashes(s, col("text"), 2).as("sh")))
    val tr = Materialize.shared(docs.filter(col("split") === "train")
      .select(col("doc_id").as("train_id"),
              Dedup.shingleHashes(s, col("text"), 2).as("sh_t")))
    val evG = ev.select(col("doc_id"), explode(col("sh")).as("g"))
    val trG = tr.select(col("train_id"), explode(col("sh_t")).as("g"))
    // the HOT set (grams above the cap) is tiny — near-empty on a
    // healthy corpus — so the membership joins below are AQE
    // broadcasts. The census runs over the WHOLE corpus's grams (not
    // the sliced eval side) so the hot set — and with it every pair's
    // rare/hot arithmetic — is identical for every slice choice.
    val allG = docs
      .select(explode(Dedup.shingleHashes(s, col("text"), 2)).as("g"))
    val hot = allG
      .groupBy("g").agg(count(lit(1)).as("__gn"))
      .filter(col("__gn") > LeakGramCap)
      .select("g")
    // shared RARE grams per pair — the uncapped original minus
    // hot-gram rows; partial-aggregated map-side like any count
    val iRare = evG.join(hot, Seq("g"), "left_anti")
      .join(trG, Seq("g"))
      .groupBy("doc_id", "train_id").agg(count(lit(1)).as("__ir"))
    // shared HOT grams per pair, restricted to the candidates the
    // rare join produced: per-pair cost <= hot grams per doc (a
    // handful of stopword-ish shingles), never ev(g)·tr(g)
    val evH = evG.join(hot, Seq("g"), "left_semi")
    val trH = trG.join(hot, Seq("g"), "left_semi")
    val iHot = iRare.select("doc_id", "train_id")
      .join(evH, Seq("doc_id"))
      .join(trH, Seq("train_id", "g"))
      .groupBy("doc_id", "train_id").agg(count(lit(1)).as("__ih"))
    iRare
      .join(iHot, Seq("doc_id", "train_id"), "left")
      .withColumn("__i", col("__ir") + coalesce(col("__ih"), lit(0L)))
      .join(ev.select(col("doc_id"), col("split"),
                      size(col("sh")).as("__na")), Seq("doc_id"))
      .join(tr.select(col("train_id"), size(col("sh_t")).as("__nb")),
            Seq("train_id"))
      .select(col("doc_id"), col("split"), col("train_id"),
              round(col("__i") * lit(1.0) /
                    (col("__na") + col("__nb") - col("__i")), 6)
                .as("jaccard"))
      .filter(col("jaccard") >= SplitLeakJaccard)
      .orderBy("doc_id", "train_id")
  }

  /** Shared CTE chain of [[leakPairsExact]]'s DuckDB replay, ending in
    * a `leaks` CTE of (doc_id, split, train_id, jaccard); `evPred`
    * narrows the eval side exactly as the Spark `evalSlice` does. */
  private def leakPairsCtes(evPred: String): String =
    s"""WITH sp AS (
       |  SELECT doc_id,
       |    CASE WHEN ${hashFractionSql("doc_id")} < $SplitValFrac THEN 'val'
       |         WHEN ${hashFractionSql("doc_id")} <
       |              $SplitTestCut THEN 'test'
       |         ELSE 'train' END AS split
       |  FROM documents),
       |w AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
       |                             x -> x <> '') AS w
       |  FROM documents),
       |t AS (
       |  SELECT doc_id,
       |    CASE WHEN len(w) >= 2 THEN list_distinct(list_transform(
       |           range(len(w) - 1), i -> w[i+1] || ' ' || w[i+2]))
       |         ELSE [array_to_string(w, ' ')] END AS ngrams
       |  FROM w),
       |ev AS (SELECT t.doc_id, sp.split, t.ngrams
       |       FROM t JOIN sp USING (doc_id)
       |       WHERE sp.split <> 'train' $evPred),
       |tr AS (SELECT t.doc_id AS train_id, t.ngrams
       |       FROM t JOIN sp USING (doc_id) WHERE sp.split = 'train'),
       |hot AS (
       |  SELECT g FROM (SELECT doc_id, unnest(ngrams) AS g FROM t)
       |  GROUP BY g HAVING count(*) > $LeakGramCap),
       |evg AS (
       |  SELECT a.doc_id, a.g
       |  FROM (SELECT doc_id, unnest(ngrams) AS g FROM ev) a
       |  WHERE a.g NOT IN (SELECT g FROM hot)),
       |trg AS (SELECT train_id, unnest(ngrams) AS g FROM tr),
       |cand AS (
       |  SELECT DISTINCT doc_id, train_id FROM evg JOIN trg USING (g)),
       |leaks AS (
       |  SELECT c.doc_id, e.split, c.train_id,
       |    round(len(list_intersect(e.ngrams, r.ngrams)) * 1.0 /
       |          (len(e.ngrams) + len(r.ngrams)
       |           - len(list_intersect(e.ngrams, r.ngrams))), 6) AS jaccard
       |  FROM cand c
       |  JOIN ev e ON e.doc_id = c.doc_id
       |  JOIN tr r ON r.train_id = c.train_id
       |  WHERE round(len(list_intersect(e.ngrams, r.ngrams)) * 1.0 /
       |        (len(e.ngrams) + len(r.ngrams)
       |         - len(list_intersect(e.ngrams, r.ngrams))), 6)
       |        >= $SplitLeakJaccard)""".stripMargin
}
