package graft.analytics

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.QueryDef

/** The end-to-end training-data curation pipeline, composed from the
  * module operators as ONE Spark plan: eval-set isolation → C4-style
  * quality gate (dq02's rules) → exact fingerprint dedup (dd01's key,
  * keep-first) → benchmark decontamination (dc01's 5-gram overlap) →
  * deterministic epoch shuffle (dm04's shards) → token-budget sequence
  * packing (dm02's running sum) — emitting the per-document training
  * manifest (shard, position, packed sequence).
  *
  * This is the artifact a pretraining run actually consumes, and the
  * integration check that the unit operators compose: one lazy plan,
  * stage boundaries only where semantics need them (the dedup window,
  * the decontamination broadcast, the shard-local pack windows). At
  * 100 TB each stage keeps its unit-operator scale shape — nothing in
  * the composition adds a corpus-wide barrier beyond the dedup
  * shuffle the semantics require.
  */
object CurationPipeline {
  import QueryDef.table

  private val wordsExpr =
    "filter(split(text, '\\\\s+'), w -> length(w) > 0)"
  private val wordsSql =
    """list_filter(string_split_regex(text, '\s+'), w -> length(w) > 0)"""

  /** cp02's strip stage — 8-gram census (unhinted, AQE-decided
    * semi-join; see bp01's census note: the flagged set must never be
    * forced through the driver) + the native SpanStrip two-pointer
    * rebuild — reduced to NARROW per-doc rows: the dedup fingerprint
    * replaces the cleaned text (md5 computed once here), so the corpus
    * text never materializes. The entry checkpoints this frame once;
    * exposed for the plan audit (the checkpoint hides the lineage from
    * the entry's executed plan). */
  private[graft] def cp02Cleaned(s: org.apache.spark.sql.SparkSession,
                                 d: String)
      : org.apache.spark.sql.DataFrame = {
    val L = 8
    val grams8 =
      s"""CASE WHEN size(words) >= $L THEN
         |  transform(sequence(0, size(words) - $L),
         |            i -> concat_ws(' ', slice(words, i + 1, $L)))
         |ELSE cast(array() as array<string>) END""".stripMargin
    // `words` is consumed twice (gram derivation + the final SpanStrip
    // join) — the tokenized frame is materialized so the pass runs once,
    // spread off the one-split scan first (ScanSpread guard; r17)
    val words = Materialize.shared(
      ScanSpread.forMapPass(table(s, d, "documents"))
        .select(col("doc_id"), col("lang"), expr(wordsExpr).as("words")))
    val grams = words
      .select(col("doc_id"), posexplode(expr(grams8)).as(Seq("p", "gram")))
      .withColumn("h1", xxhash64(col("gram")))
      .withColumn("h2", xxhash64(col("gram"), lit(1)))
      .select("doc_id", "p", "h1", "h2")
    val flagged = grams.groupBy("h1", "h2")
      .agg(countDistinct("doc_id").as("n_docs"))
      .filter(col("n_docs") >= 3).select("h1", "h2")
    val starts = grams
      .join(flagged, Seq("h1", "h2"), "left_semi")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("p"))).as("ps"))
    // native codegen'd two-pointer scan — same SpanStrip swap as bp02:
    // identical kept-set to the HOF fold, O(n + |ps|) per doc
    words.join(starts, Seq("doc_id"), "left")
      .withColumn("ps",
        coalesce(col("ps"), expr("cast(array() as array<int>)")))
      .withColumn("cleaned",
        graft.functions.Natives.call(s, "span_strip",
                      col("words"), col("ps"), lit(L)))
      .select(col("doc_id"), col("lang"),
              size(col("cleaned")).cast("long").as("n_tokens"),
              round((size(col("cleaned")) -
                     size(array_distinct(col("cleaned")))) * lit(1.0) /
                    greatest(size(col("cleaned")), lit(1)), 6).as("dwf"),
              md5(lower(concat_ws(" ", col("cleaned")))).as("fp"))
  }

  /** cp02's full v2 selection — boilerplate strip → adaptive quality
    * gate → cleaned-fingerprint dedup → per-language token-budget
    * selection — returning the unsorted survivor frame
    * (doc_id, lang, n_tokens, shard). Shared by the cp02 entry and
    * cp07's training-file capstone so the selection can never drift
    * between them. */
  private[graft] def cp02Selection(s: org.apache.spark.sql.SparkSession,
                                   d: String)
      : org.apache.spark.sql.DataFrame = {
    // The strip lineage ([[cp02Cleaned]]: 8-gram explode → census
    // semi-join → native span strip) feeds BOTH the threshold
    // aggregate and the gated frame — without a barrier it
    // re-executes per consumer (the dq05 recipe).
    val cleaned = Materialize.once(cp02Cleaned(s, d))
    // stage 2: adaptive gate over the cleaned corpus (dq04)
    val th = cleaned.agg(
      expr("percentile(n_tokens, 0.25)").as("p25w"),
      expr("percentile(dwf, 0.75)").as("p75d"))
    val gated = cleaned.crossJoin(broadcast(th))
      .filter(col("n_tokens") >= col("p25w") && col("dwf") <= col("p75d"))
    // stage 3: exact dedup on the CLEANED fingerprint, keep-first
    val dw = Window.partitionBy(col("fp")).orderBy("doc_id")
    // second barrier: `deduped` feeds the per-language totals, the
    // budget, and the final selection — materialize the (already
    // narrow) survivor rows once instead of re-running gate + dedup
    // per consumer
    val deduped = Materialize.once(gated
      .withColumn("rk", row_number().over(dw))
      .filter(col("rk") === 1)
      .select("doc_id", "lang", "n_tokens"))
    // stage 4: per-language token-budget selection (dm06)
    val totals = deduped.groupBy("lang").agg(sum("n_tokens").as("tok_lang"))
    val budget = totals.agg(expr("min(tok_lang) div 16").as("shard_budget"))
    val h = md5(concat(col("doc_id").cast("string"), lit(":tb2"))
      .cast("binary"))
    val w = Window.partitionBy("lang", "shard").orderBy("h", "doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    deduped.withColumn("h", h)
      .withColumn("shard",
        conv(substring(col("h"), 1, 2), 16, 10).cast("int") % 16)
      .withColumn("cum_before",
        coalesce(sum("n_tokens").over(w), lit(0L)))
      .crossJoin(broadcast(budget))
      .filter(col("cum_before") < col("shard_budget"))
      .select("doc_id", "lang", "n_tokens", "shard")
  }

  /** [[cp02Selection]]'s DuckDB replay as a CTE chain ending in `sel`
    * (doc_id, lang, n_tokens, shard) — shared by the cp02 oracle and
    * cp07's, which re-derives the selection before auditing the
    * training file built over it.
    *
    * The gram (`g2`) and word (`wp`) expansions use ZIPPED unnests over
    * doc-local lists rather than `unnest(range(...))` followed by
    * indexing into a carried `w` column: the carried-array form
    * duplicates each document's full word list onto every one of its
    * ~wordcount output rows, which DuckDB materializes — at the 100×
    * staged gate that is a >70 GB spill and the replay dies on disk;
    * the zipped form streams one (g|word, position) pair per row.
    * The multiply-referenced CTEs (`words`/`g2`/`cstats`/`toks`/`sel` —
    * cp07's tail reads `sel` twice more) are MATERIALIZED: DuckDB
    * inlines plain CTEs, so each extra reference re-ran the entire
    * selection chain from the raw corpus. */
  private def cp02SelectionCtesSql: String =
    s"""words AS MATERIALIZED (
       |  SELECT doc_id, lang, $wordsSql AS w FROM documents),
       |g2 AS MATERIALIZED (
       |  SELECT doc_id,
       |    CAST(unnest(range(greatest(len(w) - 7, 0))) AS INT) AS p,
       |    unnest(list_transform(range(greatest(len(w) - 7, 0)),
       |      q -> array_to_string(w[q + 1:q + 8], ' '))) AS g
       |  FROM words),
       |census AS (
       |  SELECT g FROM g2 GROUP BY g HAVING count(DISTINCT doc_id) >= 3),
       |dup AS (
       |  SELECT doc_id, p FROM g2 WHERE g IN (SELECT g FROM census)),
       |marked AS (
       |  SELECT doc_id, p,
       |    CASE WHEN lag(p) OVER win IS NULL OR p > lag(p) OVER win + 7
       |         THEN 1 ELSE 0 END AS brk
       |  FROM dup WINDOW win AS (PARTITION BY doc_id ORDER BY p)),
       |numbered AS (
       |  SELECT doc_id, p,
       |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY p
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
       |  FROM marked),
       |islands AS (
       |  SELECT doc_id, min(p) AS mn, max(p) + 7 AS mx
       |  FROM numbered GROUP BY doc_id, isl),
       |wp AS (
       |  SELECT doc_id, unnest(w) AS word,
       |    CAST(unnest(range(len(w))) AS INT) AS j
       |  FROM words),
       |keptw AS (
       |  SELECT wp.doc_id, wp.word, wp.j
       |  FROM wp
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM islands i
       |    WHERE i.doc_id = wp.doc_id AND wp.j BETWEEN i.mn AND i.mx)),
       |cstats AS MATERIALIZED (
       |  SELECT d.doc_id, d.lang,
       |    CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_tokens,
       |    round((coalesce(a.n_kept, 0) - coalesce(a.n_distinct, 0)) * 1.0 /
       |          greatest(coalesce(a.n_kept, 0), 1), 6) AS dwf,
       |    coalesce(a.ctext, '') AS ctext
       |  FROM words d LEFT JOIN (
       |    SELECT doc_id, count(*) AS n_kept,
       |      count(DISTINCT word) AS n_distinct,
       |      string_agg(word, ' ' ORDER BY j) AS ctext
       |    FROM keptw GROUP BY doc_id) a USING (doc_id)),
       |th AS (
       |  SELECT quantile_cont(n_tokens, 0.25) AS p25w,
       |         quantile_cont(dwf, 0.75) AS p75d
       |  FROM cstats),
       |gated AS (
       |  SELECT c.* FROM cstats c, th
       |  WHERE c.n_tokens >= th.p25w AND c.dwf <= th.p75d),
       |dedup AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY md5(lower(ctext)) ORDER BY doc_id) AS rk
       |    FROM gated) WHERE rk = 1),
       |toks AS MATERIALIZED (
       |  SELECT doc_id, lang, n_tokens,
       |    md5(CAST(doc_id AS VARCHAR) || ':tb2') AS h
       |  FROM dedup),
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
       |  SELECT doc_id, lang, n_tokens, shard,
       |    COALESCE(SUM(n_tokens) OVER (PARTITION BY lang, shard
       |      ORDER BY h, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS cum_before
       |  FROM sharded),
       |sel AS MATERIALIZED (
       |  SELECT doc_id, lang, n_tokens, shard
       |  FROM cum, budget WHERE cum_before < shard_budget)""".stripMargin

  def all: Seq[QueryDef] = Seq(
    QueryDef(
      "cp01_curation_manifest",
      (s, d) => {
        val grams5 =
          """CASE WHEN size(words) >= 5 THEN
            |  transform(sequence(0, size(words) - 5),
            |            i -> md5(cast(concat_ws(' ', slice(words, i + 1, 5)) as binary)))
            |ELSE cast(array() as array<string>) END""".stripMargin
        val base = table(s, d, "documents")
          .select(col("doc_id"), col("text"), col("source"),
                  expr(wordsExpr).as("words"),
                  length(regexp_replace(col("text"), "\\s", ""))
                    .as("n_word_chars"))
          .withColumn("n_words", size(col("words")))
          .withColumn("n_distinct", size(array_distinct(col("words"))))
        // stage 1+2: eval set (src0) aside, quality gate (dq02's rules)
        val kept = base
          .filter(col("source") =!= "src0")
          .filter(col("n_words").between(20, 10000) &&
            (col("n_word_chars") * lit(1.0) / greatest(col("n_words"), lit(1)))
              .between(3.0, 10.0) &&
            regexp_count(col("text"), lit("\\b(the|a|and|of|to|in)\\b")) > 0 &&
            !col("text").contains("{") &&
            !lower(col("text")).contains("lorem ipsum") &&
            (col("n_words") - col("n_distinct")) * lit(1.0) /
              greatest(col("n_words"), lit(1)) <= 0.5)
        // stage 3: exact content dedup, keep-first (dd01's fingerprint)
        val dedupW = Window
          .partitionBy(TextAnalysis.fingerprint(col("text")))
          .orderBy("doc_id")
        val deduped = kept
          .withColumn("rk", row_number().over(dedupW))
          .filter(col("rk") === 1).drop("rk")
        // stage 4: decontamination against the eval set's 5-grams
        val bench = base.filter(col("source") === "src0")
          .select(explode(expr(grams5)).as("g")).distinct()
        val contaminated = deduped
          .select(col("doc_id"), explode(expr(grams5)).as("g"))
          .join(Bounded.broadcastBench(bench, "cp01.bench-grams"),
                Seq("g"), "left_semi")
          .select("doc_id").distinct()
        val clean = deduped.join(contaminated, Seq("doc_id"), "left_anti")
        // stage 5: deterministic epoch shuffle (dm04's shards)
        val h = md5(concat(col("doc_id").cast("string"), lit(":1"))
          .cast("binary"))
        val sharded = clean
          .select(col("doc_id"), col("n_words").cast("long").as("n_tokens"))
          .withColumn("h", h)
          .withColumn("shard", conv(substring(col("h"), 1, 2), 16, 10)
            .cast("int") % 16)
        // stage 6: token-budget packing in shuffle order (dm02's sum)
        val posW = Window.partitionBy("shard").orderBy(col("h"), col("doc_id"))
        val cumW = posW.rowsBetween(Window.unboundedPreceding, -1)
        sharded
          .withColumn("pos", row_number().over(posW).cast("int"))
          .withColumn("cum_before", coalesce(sum("n_tokens").over(cumW), lit(0L)))
          .withColumn("seq_id", (col("cum_before") / lit(512)).cast("long"))
          .select("doc_id", "n_tokens", "shard", "pos", "seq_id")
          .orderBy("doc_id")
      },
      Some(s"""WITH base AS (
              |  SELECT doc_id, text, source, $wordsSql AS words,
              |    length(regexp_replace(text, '\\s', '', 'g')) AS n_word_chars
              |  FROM documents),
              |st AS (
              |  SELECT *, len(words) AS n_words,
              |    len(list_distinct(words)) AS n_distinct
              |  FROM base),
              |kept AS (
              |  SELECT * FROM st WHERE source <> 'src0'
              |    AND n_words BETWEEN 20 AND 10000
              |    AND n_word_chars * 1.0 / greatest(n_words, 1) BETWEEN 3.0 AND 10.0
              |    AND len(regexp_extract_all(text, '\\b(the|a|and|of|to|in)\\b')) > 0
              |    AND NOT contains(text, '{')
              |    AND NOT contains(lower(text), 'lorem ipsum')
              |    AND (n_words - n_distinct) * 1.0 / greatest(n_words, 1) <= 0.5),
              |dedup AS (
              |  SELECT * FROM (
              |    SELECT *, row_number() OVER (
              |      PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
              |      ORDER BY doc_id) AS rk
              |    FROM kept) WHERE rk = 1),
              |bench AS (
              |  SELECT DISTINCT unnest(list_transform(range(greatest(len(words) - 4, 0)),
              |    i -> md5(array_to_string(words[i + 1:i + 5], ' ')))) AS g
              |  FROM st WHERE source = 'src0'),
              |dgrams AS (
              |  SELECT doc_id, unnest(list_transform(range(greatest(len(words) - 4, 0)),
              |    i -> md5(array_to_string(words[i + 1:i + 5], ' ')))) AS g
              |  FROM dedup),
              |contam AS (
              |  SELECT DISTINCT doc_id FROM dgrams
              |  WHERE g IN (SELECT g FROM bench)),
              |clean AS (
              |  SELECT doc_id, CAST(n_words AS BIGINT) AS n_tokens,
              |    md5(CAST(doc_id AS VARCHAR) || ':1') AS h
              |  FROM dedup WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
              |sharded AS (
              |  SELECT doc_id, n_tokens, h,
              |    CAST((strpos('0123456789abcdef', substring(h, 1, 1)) - 1) * 16
              |       + (strpos('0123456789abcdef', substring(h, 2, 1)) - 1)
              |       AS INT) % 16 AS shard
              |  FROM clean),
              |ordered AS (
              |  SELECT doc_id, n_tokens, shard,
              |    CAST(row_number() OVER w AS INT) AS pos,
              |    COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY h, doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
              |  FROM sharded
              |  WINDOW w AS (PARTITION BY shard ORDER BY h, doc_id))
              |SELECT doc_id, n_tokens, shard, pos,
              |  CAST(floor(cum_before / 512) AS BIGINT) AS seq_id
              |FROM ordered ORDER BY doc_id""".stripMargin)
    ),

    // The second-generation pipeline, composing the round-5 operators
    // into ONE plan: boilerplate strip (bp02's >= 3-doc 8-gram spans,
    // text rebuilt by the O(n) pointer fold) → ADAPTIVE quality gate
    // (dq04's percentile-derived cutoffs, computed over the CLEANED
    // corpus) → exact dedup on the cleaned fingerprint (keep-first) →
    // per-language token-budget selection (dm06's sharded running
    // sums). Versus cp01: thresholds adapt to the corpus instead of C4
    // constants, the dedup key sees post-strip text (boilerplate can't
    // mask near-identical bodies), and the output is budget-balanced by
    // tokens, not doc counts. Same composition discipline: every stage
    // keeps its unit-operator scale shape; the only corpus-wide
    // barriers are the census, the 1-row percentile aggregate, and the
    // dedup shuffle the semantics require.
    QueryDef(
      "cp02_curation_v2",
      (s, d) => cp02Selection(s, d).orderBy("doc_id"),
      Some(s"""WITH $cp02SelectionCtesSql
              |SELECT doc_id, lang, n_tokens, shard FROM sel
              |ORDER BY doc_id""".stripMargin)
    ),

    // ---- curriculum ordering ------------------------------------------
    // Curriculum learning's data-side contract: feed the model familiar
    // text first, novel text last. Phase = lm01's LM-familiarity bin
    // (head → 1, middle → 2, tail → 3; 'short' docs carry no signal and
    // are excluded — a real run drops them at the quality gate anyway);
    // within a phase the order is a deterministic md5 shuffle (dm04's
    // epoch-shuffle discipline: 16 hash shards so no window sees more
    // than 1/16 of a phase — a single per-phase ORDER BY would funnel
    // one task at 100 TB). A trainer replays (phase, shard, pos)
    // lexicographically and gets the same curriculum on any engine.
    QueryDef(
      "cp03_curriculum_order",
      (s, d) => {
        val binned = DataQuality.familiarityBins(s, d)
          .filter(col("bin") =!= "short")
          .select(col("doc_id"),
                  when(col("bin") === "head", 1)
                    .when(col("bin") === "middle", 2)
                    .otherwise(3).as("phase"))
        val h = md5(concat(col("doc_id").cast("string"), lit(":c1"))
          .cast("binary"))
        val w = Window.partitionBy("phase", "shard")
          .orderBy(col("h"), col("doc_id"))
        binned
          .withColumn("h", h)
          .withColumn("shard",
            conv(substring(col("h"), 1, 2), 16, 10).cast("int") % 16)
          .withColumn("pos", row_number().over(w).cast("int"))
          .select("doc_id", "phase", "shard", "pos")
          .orderBy("doc_id")
      },
      Some(s"""WITH d AS (SELECT doc_id, lang, $wordsSql AS w FROM documents),
              |bgp AS (SELECT doc_id, lang,
              |          unnest(w[1:len(w) - 1]) AS a,
              |          unnest(w[2:len(w)]) AS b
              |        FROM d),
              |bg AS (SELECT doc_id, lang, a || ' ' || b AS bg FROM bgp),
              |dict AS (SELECT bg, count(*) AS n FROM bg GROUP BY bg),
              |fam AS (
              |  SELECT doc_id, lang,
              |    CAST((sum(n) * 1000000) // count(*) AS BIGINT) AS fam_micro
              |  FROM bg JOIN dict USING (bg) GROUP BY doc_id, lang),
              |cuts AS (
              |  SELECT lang, quantile_cont(fam_micro, 0.25) AS p25m,
              |         quantile_cont(fam_micro, 0.75) AS p75m
              |  FROM fam GROUP BY lang),
              |phased AS (
              |  SELECT f.doc_id,
              |    CASE WHEN f.fam_micro >= c.p75m THEN 1
              |         WHEN f.fam_micro < c.p25m THEN 3
              |         ELSE 2 END AS phase,
              |    md5(CAST(f.doc_id AS VARCHAR) || ':c1') AS h
              |  FROM fam f JOIN cuts c ON f.lang = c.lang),
              |sharded AS (
              |  SELECT doc_id, phase, h,
              |    CAST((strpos('0123456789abcdef', substring(h, 1, 1)) - 1) * 16
              |       + (strpos('0123456789abcdef', substring(h, 2, 1)) - 1)
              |       AS INT) % 16 AS shard
              |  FROM phased)
              |SELECT doc_id, phase, shard,
              |  CAST(row_number() OVER (PARTITION BY phase, shard
              |                          ORDER BY h, doc_id) AS INT) AS pos
              |FROM sharded ORDER BY doc_id""".stripMargin)
    ),

    // ---- output layout planner -----------------------------------------
    // The write-side twin of the ingest gates: before a curated corpus
    // is persisted, plan HOW MANY output files each source partition
    // gets (target bytes per file — the small-files/giant-files
    // problem) and assign every doc to one planned file. The plan is
    // one tiny per-source aggregate broadcast back; the assignment is a
    // map-only md5 bucket — no global sort, no rank window, so the
    // layout step adds zero corpus-wide barriers at 100 TB. The actual
    // write is then `df.repartition(col("source"), col("file_no"))
    // .write.partitionBy("source")`: each planned file lands in one
    // task. The manifest (file counts + per-file bytes) is the
    // oracle-checked contract; near-uniform md5 bucketing keeps every
    // file within noise of the target size.
    QueryDef(
      "cp04_layout_plan",
      (s, d) => {
        val assigned = layoutAssignment(table(s, d, "documents"))
        assigned.groupBy("source", "file_no", "n_files")
          .agg(count(lit(1)).as("n_docs"),
               sum("n_chars").as("file_chars"))
          .select("source", "file_no", "n_files", "n_docs", "file_chars")
          .orderBy("source", "file_no")
      },
      Some(s"""WITH stats AS (
              |  SELECT source,
              |    greatest(CAST(ceil(SUM(n_chars) / $LayoutTargetChars.0)
              |                  AS BIGINT), 1) AS n_files
              |  FROM documents GROUP BY source),
              |assigned AS (
              |  SELECT d.source,
              |    CAST(floor(${graft.analytics.DataMix.hashFractionSql("d.doc_id")}
              |               * s.n_files) AS INT) AS file_no,
              |    s.n_files, d.n_chars
              |  FROM documents d JOIN stats s USING (source))
              |SELECT source, file_no, n_files,
              |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS file_chars
              |FROM assigned
              |GROUP BY source, file_no, n_files
              |ORDER BY source, file_no""".stripMargin)
    ),

    // ---- joint text + vector curation gate ----------------------------
    // Cross-modal composition: a document survives only if BOTH its
    // text passes the C4/Gopher rules (dq02) and its embedding clears
    // semantic decontamination (dc02's max-cosine-vs-benchmark gate).
    // Conventions: a doc whose vector IS benchmark content (label 0)
    // is dropped on the vector side by definition; a doc with no
    // embedding row keeps keep_vec = 1 (no vector evidence — the text
    // rules alone decide). Scale shape: each side keeps its unit
    // operator's plan (map-only flags; the FIXED-SIZE benchmark suite
    // broadcasts — DataQuality.benchSuite, the production invariant
    // that keeps the vector gate linear in the corpus; the full-set
    // exact form is the cp05x anchor below — + partial max), joined
    // once on the id — the join's exchanges carry only (id, 0/1)
    // scalars, never text or vectors.
    QueryDef(
      "cp05_joint_gate",
      (s, d) => {
        val text = DataQuality.qualityFlags(table(s, d, "documents"))
          .select(col("doc_id"), col("source"), col("keep").as("keep_text"))
        val emb = table(s, d, "embeddings")
        val vecKeep = DataQuality.exactScored(emb.filter(col("label") =!= 0),
                                              DataQuality.benchSuite(emb))
          .select(col("vec_id").as("doc_id"),
                  (col("mc") < DataQuality.SemanticDeconTau).cast("int")
                    .as("keep_vec"))
          .unionByName(emb.filter(col("label") === 0)
            .select(col("vec_id").as("doc_id"),
                    lit(0).as("keep_vec")))
        text.join(vecKeep, Seq("doc_id"), "left")
          .withColumn("keep_vec", coalesce(col("keep_vec"), lit(1)))
          .select(col("doc_id"), col("source"), col("keep_text"),
                  col("keep_vec"),
                  (col("keep_text") * col("keep_vec")).cast("int")
                    .as("keep_joint"))
          .orderBy("doc_id")
      },
      Some(s"""WITH base AS (
              |  SELECT doc_id, source, text, $wordsSql AS words,
              |    length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))
              |      AS n_word_chars
              |  FROM documents),
              |st AS (
              |  SELECT doc_id, source, text, n_word_chars,
              |    len(words) AS n_words, len(list_distinct(words)) AS n_distinct
              |  FROM base),
              |k AS (
              |  SELECT doc_id, source,
              |    CAST(CAST(n_words BETWEEN 20 AND 10000 AS INT)
              |       * CAST(n_word_chars * 1.0 / greatest(n_words, 1)
              |              BETWEEN 3.0 AND 10.0 AS INT)
              |       * CAST(len(regexp_extract_all(text,
              |              '\\b(the|a|and|of|to|in)\\b')) > 0 AS INT)
              |       * CAST(NOT contains(text, '{') AS INT)
              |       * CAST(NOT contains(lower(text), 'lorem ipsum') AS INT)
              |       * CAST((n_words - n_distinct) * 1.0 /
              |              greatest(n_words, 1) <= 0.5 AS INT)
              |       AS INT) AS keep_text
              |  FROM st),
              |b AS (SELECT embedding AS qvec
              |      FROM (${DataQuality.benchSuiteSql})),
              |m AS (
              |  SELECT c.vec_id AS doc_id, max(
              |    list_sum(list_transform(list_zip(c.embedding, b.qvec),
              |            p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
              |      / (sqrt(list_sum(list_transform(c.embedding,
              |                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              |       * sqrt(list_sum(list_transform(b.qvec,
              |                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
              |    ) AS mc
              |  FROM (SELECT vec_id, embedding FROM embeddings
              |        WHERE label <> 0) c, b
              |  GROUP BY c.vec_id),
              |v AS (
              |  SELECT doc_id,
              |    CAST(mc < ${DataQuality.SemanticDeconTau} AS INT) AS keep_vec
              |  FROM m
              |  UNION ALL
              |  SELECT vec_id AS doc_id, 0 AS keep_vec
              |  FROM embeddings WHERE label = 0)
              |SELECT k.doc_id, k.source, k.keep_text,
              |  COALESCE(v.keep_vec, 1) AS keep_vec,
              |  CAST(k.keep_text * COALESCE(v.keep_vec, 1) AS INT)
              |    AS keep_joint
              |FROM k LEFT JOIN v USING (doc_id)
              |ORDER BY k.doc_id""".stripMargin)
    ),

    // cp05x: the exhaustive anchor — the joint gate's VECTOR side
    // scored against the WHOLE label-0 set (the pre-r12 cp05 vector
    // gate, verbatim), on a deterministic corpus slice (vec_id % 4 = 1;
    // the per-vector max is independent across vectors, so the slice
    // preserves every mechanism while bounding the anchor's
    // corpus×label-0 cost — the dm10x discipline). Keeps "contaminated
    // vs the full set" hash-checked so the suite cap can never
    // silently weaken the production gate.
    QueryDef(
      "cp05x_vector_gate_full",
      (s, d) => {
        val emb = table(s, d, "embeddings")
        DataQuality.exactScored(
            emb.filter(col("label") =!= 0 && col("vec_id") % 4 === 1),
            emb.filter(col("label") === 0))
          .select(col("vec_id").as("doc_id"),
                  round(col("mc"), 6).as("max_benchmark_sim"),
                  (col("mc") < DataQuality.SemanticDeconTau).cast("int")
                    .as("keep_vec"))
          .orderBy("doc_id")
      },
      Some(s"""WITH b AS (
              |  SELECT embedding AS qvec FROM embeddings WHERE label = 0),
              |c AS (
              |  SELECT vec_id, embedding FROM embeddings
              |  WHERE label <> 0 AND vec_id % 4 = 1),
              |m AS (
              |  SELECT c.vec_id, max(
              |    list_sum(list_transform(list_zip(c.embedding, b.qvec),
              |            p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
              |      / (sqrt(list_sum(list_transform(c.embedding,
              |                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              |       * sqrt(list_sum(list_transform(b.qvec,
              |                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
              |    ) AS mc
              |  FROM c, b GROUP BY c.vec_id)
              |SELECT vec_id AS doc_id, round(mc, 6) AS max_benchmark_sim,
              |  CAST(mc < ${DataQuality.SemanticDeconTau} AS INT) AS keep_vec
              |FROM m ORDER BY doc_id""".stripMargin)
    ),

    // ---- end-to-end curation with conservation ledger -----------------
    // The round-8 registry proves each curation operator alone; this
    // entry proves they COMPOSE: quality gate (dq02) → exact dedup
    // (dd01, keep-first among survivors) → semantic decontamination
    // (cp05's vector conventions) → token-budget mixture (dm06, over
    // survivors) → output layout (cp04, over kept docs) — as ONE lazy
    // plan emitting the per-document LEDGER: every input doc appears
    // exactly once with the FIRST stage that dropped it, or 'kept' plus
    // its planned output file. Conservation (docs in = kept + dropped-
    // with-reason) is structural — the oracle replays the whole
    // composition and hash-checks the ledger row for row. The REAL
    // partitioned write of the kept docs is [[executePipeline]]
    // (cp04's executeLayout discipline); CurationPropertySpec asserts
    // the landed files match this ledger cell for cell. Scale shape:
    // every stage keeps its unit-operator plan — the only corpus-wide
    // exchanges are the dedup key shuffle and the (lang, shard) budget
    // windows the semantics require; decon and layout join only
    // scalar (id, flag/file) frames back.
    QueryDef(
      "cp06_end_to_end",
      (s, d) => cp06Ledger(s, d),
      Some(s"""WITH base AS (
              |  SELECT doc_id, source, text, $wordsSql AS words,
              |    length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))
              |      AS n_word_chars
              |  FROM documents),
              |stq AS (
              |  SELECT doc_id, source, text, n_word_chars,
              |    len(words) AS n_words, len(list_distinct(words)) AS n_distinct
              |  FROM base),
              |k AS (
              |  SELECT doc_id,
              |    CAST(CAST(n_words BETWEEN 20 AND 10000 AS INT)
              |       * CAST(n_word_chars * 1.0 / greatest(n_words, 1)
              |              BETWEEN 3.0 AND 10.0 AS INT)
              |       * CAST(len(regexp_extract_all(text,
              |              '\\b(the|a|and|of|to|in)\\b')) > 0 AS INT)
              |       * CAST(NOT contains(text, '{') AS INT)
              |       * CAST(NOT contains(lower(text), 'lorem ipsum') AS INT)
              |       * CAST((n_words - n_distinct) * 1.0 /
              |              greatest(n_words, 1) <= 0.5 AS INT)
              |       AS INT) AS keep_q
              |  FROM stq),
              |dup AS (
              |  SELECT d.doc_id,
              |    CASE WHEN k.keep_q = 1 AND d.doc_id <>
              |      MIN(CASE WHEN k.keep_q = 1 THEN d.doc_id END)
              |        OVER (PARTITION BY md5(d.text))
              |    THEN 1 ELSE 0 END AS is_dup
              |  FROM documents d JOIN k USING (doc_id)),
              |b AS (SELECT embedding AS qvec
              |      FROM (${DataQuality.benchSuiteSql})),
              |m AS (
              |  SELECT c.vec_id AS doc_id, max(
              |    list_sum(list_transform(list_zip(c.embedding, b.qvec),
              |            p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
              |      / (sqrt(list_sum(list_transform(c.embedding,
              |                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              |       * sqrt(list_sum(list_transform(b.qvec,
              |                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
              |    ) AS mc
              |  FROM (SELECT vec_id, embedding FROM embeddings
              |        WHERE label <> 0) c, b
              |  GROUP BY c.vec_id),
              |v AS (
              |  SELECT doc_id,
              |    CAST(mc < ${DataQuality.SemanticDeconTau} AS INT) AS keep_vec
              |  FROM m
              |  UNION ALL
              |  SELECT vec_id AS doc_id, 0 AS keep_vec
              |  FROM embeddings WHERE label = 0),
              |surv AS (
              |  SELECT d.doc_id, d.lang,
              |    CAST(len(regexp_extract_all(d.text, '\\S+')) AS BIGINT)
              |      AS n_tokens,
              |    md5(CAST(d.doc_id AS VARCHAR) || ':tb') AS h
              |  FROM documents d
              |  JOIN k USING (doc_id) JOIN dup USING (doc_id)
              |  LEFT JOIN v USING (doc_id)
              |  WHERE k.keep_q = 1 AND dup.is_dup = 0
              |    AND COALESCE(v.keep_vec, 1) = 1),
              |sharded AS (
              |  SELECT *, CAST((strpos('0123456789abcdef', substring(h, 1, 1)) * 16
              |     + strpos('0123456789abcdef', substring(h, 2, 1)) - 17)
              |     AS INT) % 16 AS shard
              |  FROM surv),
              |totals AS (
              |  SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS tok_lang
              |  FROM surv GROUP BY lang),
              |budget AS (
              |  SELECT CAST(min(tok_lang) // 16 AS BIGINT) AS shard_budget
              |  FROM totals),
              |cum AS (
              |  SELECT doc_id,
              |    COALESCE(SUM(n_tokens) OVER (PARTITION BY lang, shard
              |      ORDER BY h, doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              |      AS cum_before
              |  FROM sharded),
              |keptb AS (
              |  SELECT doc_id FROM cum, budget
              |  WHERE cum_before < shard_budget),
              |kept AS (
              |  SELECT d.doc_id, d.source, d.n_chars
              |  FROM documents d JOIN keptb USING (doc_id)),
              |stats AS (
              |  SELECT source,
              |    greatest(CAST(ceil(SUM(n_chars) / $LayoutTargetChars.0)
              |                  AS BIGINT), 1) AS n_files
              |  FROM kept GROUP BY source),
              |fileno AS (
              |  SELECT d.doc_id,
              |    CAST(floor(${graft.analytics.DataMix.hashFractionSql("d.doc_id")}
              |               * s.n_files) AS INT) AS file_no
              |  FROM kept d JOIN stats s USING (source))
              |SELECT d.doc_id, d.source,
              |  CASE WHEN k.keep_q = 0 THEN 'quality'
              |       WHEN dup.is_dup = 1 THEN 'duplicate'
              |       WHEN COALESCE(v.keep_vec, 1) = 0 THEN 'decontaminated'
              |       WHEN kb.doc_id IS NULL THEN 'over_budget'
              |       ELSE 'kept' END AS verdict,
              |  COALESCE(f.file_no, -1) AS file_no
              |FROM documents d
              |JOIN k USING (doc_id) JOIN dup USING (doc_id)
              |LEFT JOIN v USING (doc_id)
              |LEFT JOIN keptb kb ON d.doc_id = kb.doc_id
              |LEFT JOIN fileno f ON d.doc_id = f.doc_id
              |ORDER BY d.doc_id""".stripMargin)
    ),

    // ---- cp07: crawl → training-file CAPSTONE --------------------------
    // The whole stack in ONE plan: cp02's v2 curation selects the
    // corpus, the 1024-merge DEEP tokenizer (tok01b's table, learned
    // in-plan via the one-aggregate-plus-driver-loop) encodes every
    // selected doc's bigram units through the native segmenter, and
    // dm08's greedy packer lays the deep-token counts into fixed-budget
    // training sequences per shard. The emitted frame is the per-shard
    // CONSERVATION LEDGER of that training file:
    //  - n_docs / prefix_tokens are fully oracle-recomputable — the
    //    oracle re-derives the cp02 selection (its own CTE chain) AND
    //    the deep table's 12-rank prefix (the materialized bigram learn
    //    CTEs; prefix-stability makes deep.take(12) bit-equal to the
    //    12-round replay, the tok01b theorem) and re-tokenizes the
    //    selected docs under it;
    //  - the full-depth side rides as tok04's theorem audits
    //    (depth-monotone, token floor) plus packing conservation
    //    (Σ sequence docs/tokens == selected docs/deep tokens) — a
    //    broken selection, learn, segmenter, or packer flips a count
    //    or a boolean.
    // Scale shape: selection is cp02's (unit-operator shapes + two
    // narrow barriers), learning is merge-count-independent in cluster
    // round trips, encoding is map-side codegen at any depth, packing
    // is shard-local windows — no new corpus-wide barrier anywhere.
    QueryDef(
      "cp07_training_file",
      (s, d) => {
        import graft.analytics.{BpeTokenizer => bpe}
        val deep = bpe.loadOrLearn(s, d, bpe.DeepMerges, "bigram")
        val prefix = deep.take(bpe.Merges)
        val sel = Materialize.once(cp02Selection(s, d))
        // the selected corpus arrives as the fixture's one-split scan
        // behind a broadcast join, so the whole per-unit deep+prefix
        // tokenization ran as ONE task (r17 JobProf: three ~0.8 s
        // single-task stages). ScanSpread widens it only while the
        // size estimate proves the exchange trivial — downstream is
        // explode + per-doc aggregation, order-insensitive.
        // AbProf: 5.84 -> 4.84 s.
        val units = ScanSpread.forMapPass(
            table(s, d, "documents")
              .join(sel.select("doc_id", "shard"), Seq("doc_id")))
          .select(col("doc_id"), col("shard"),
                  expr(bpe.wordsExpr).as("ws"))
          .select(col("doc_id"), col("shard"),
                  explode(expr(bpe.bigramUnitsOf("ws"))).as("u"))
          .select(col("doc_id"), col("shard"),
                  bpe.bpeWordTokens(col("u"), deep).cast("long").as("td"),
                  bpe.bpeWordTokens(col("u"), prefix).cast("long").as("tp"))
        // per-doc totals (docs with < 2 words have no units → 0 tokens)
        val perDoc = Materialize.once(sel.select("doc_id", "shard")
          .join(units.groupBy("doc_id")
                  .agg(sum("td").as("n_deep"), sum("tp").as("n_prefix"),
                       bool_and(col("td") <= col("tp")).as("mono"),
                       bool_and(col("td") >= 1).as("flr")),
                Seq("doc_id"), "left")
          .select(col("doc_id"), col("shard"),
                  coalesce(col("n_deep"), lit(0L)).as("n_deep"),
                  coalesce(col("n_prefix"), lit(0L)).as("n_prefix"),
                  coalesce(col("mono"), lit(true)).as("mono"),
                  coalesce(col("flr"), lit(true)).as("flr")))
        // the training-file layout at FULL depth: dm08's greedy pack
        // over deep-token counts, shard-local windows
        val w = Window.partitionBy("shard").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        val seqs = perDoc
          .withColumn("cum_before",
            coalesce(sum("n_deep").over(w), lit(0L)))
          .withColumn("seq_id",
            (col("cum_before") / lit(Cp07SeqBudget)).cast("long"))
          .groupBy("shard", "seq_id")
          .agg(count(lit(1)).as("sdocs"), sum("n_deep").as("stoks"))
        val bySeq = seqs.groupBy("shard")
          .agg(sum("sdocs").as("docs_in_seqs"),
               sum("stoks").as("toks_in_seqs"))
        perDoc.groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
               sum("n_prefix").as("prefix_tokens"),
               sum("n_deep").as("__deep"),
               bool_and(col("mono")).as("depth_monotone_ok"),
               bool_and(col("flr")).as("token_floor_ok"))
          .join(bySeq, Seq("shard"))
          .select(col("shard"), col("n_docs"), col("prefix_tokens"),
                  col("depth_monotone_ok"), col("token_floor_ok"),
                  (col("docs_in_seqs") === col("n_docs"))
                    .as("docs_conserved_ok"),
                  (col("toks_in_seqs") === col("__deep"))
                    .as("tokens_conserved_ok"))
          .orderBy("shard")
      },
      Some(s"""WITH $cp02SelectionCtesSql,
              |${graft.analytics.BpeTokenizer.learnCtesSqlBigram},
              |${graft.analytics.BpeTokenizer.mergeRowCteSql},
              |dw AS (
              |  SELECT d.doc_id, s7.shard, $wordsSql AS w
              |  FROM documents d JOIN sel s7 ON s7.doc_id = d.doc_id),
              |uu AS (
              |  SELECT shard,
              |    unnest(${graft.analytics.BpeTokenizer.bigramUnitsSql("w")})
              |      AS u
              |  FROM dw),
              |ut AS (
              |  SELECT shard,
              |    len(${graft.analytics.BpeTokenizer.segListSql("u")}) AS tp
              |  FROM uu, m),
              |shp AS (
              |  SELECT shard, CAST(SUM(tp) AS BIGINT) AS prefix_tokens
              |  FROM ut GROUP BY shard),
              |shd AS (
              |  SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs
              |  FROM sel GROUP BY shard)
              |SELECT shd.shard, shd.n_docs,
              |  CAST(COALESCE(shp.prefix_tokens, 0) AS BIGINT)
              |    AS prefix_tokens,
              |  true AS depth_monotone_ok, true AS token_floor_ok,
              |  true AS docs_conserved_ok, true AS tokens_conserved_ok
              |FROM shd LEFT JOIN shp USING (shard)
              |ORDER BY shd.shard""".stripMargin)
    ),

    // ---- cp08: Z-order layout (multi-dimensional data skipping) --------
    QueryDef(
      "cp08_zorder_layout",
      // cp04 plans file SIZES; this plans file CONTENT for multi-dim
      // data skipping. A linear sort on one key bounds min/max ranges
      // on that key alone — a reader filtering on the OTHER dimension
      // scans every file. Interleaving the bits of two 4-bit dimension
      // buckets (source id, token-count band) into one 8-bit Z-value
      // and cutting the file groups along it bounds BOTH dimensions at
      // once: each of the 16 groups fixes the top two bits of each
      // dim, so per-group spans are ≤ 4 of 16 buckets and a predicate
      // on either dimension prunes ~3/4 of the files from min/max
      // stats alone. All integer bit math, map-only; the real write is
      // `repartitionByRange(zgroup)` + per-group parquet (cp04's sink
      // discipline) — no global sort, the range exchange is the one
      // shuffle. The emitted frame IS the min/max footer a reader
      // would prune on, so the skipping claim is itself hash-checked.
      (s, d) => {
        val b1 = regexp_extract(col("source"), "^src(\\d+)$", 1)
          .cast("int") % 16
        val b2 = least((graft.analytics.TextAnalysis.tokenCount(col("text"))
          .cast("int") / 8).cast("int"), lit(15))
        val z = (0 until 4).map { i =>
          (shiftleft(shiftright(col("b1"), i).bitwiseAND(1), 2 * i + 1)
            .bitwiseOR(shiftleft(shiftright(col("b2"), i).bitwiseAND(1),
                                 2 * i)))
        }.reduce(_ bitwiseOR _)
        table(s, d, "documents")
          .select(col("doc_id"), b1.as("b1"), b2.as("b2"))
          .withColumn("zgroup", (z / 16).cast("int"))
          .groupBy("zgroup")
          .agg(count(lit(1)).as("n_docs"),
               min("b1").as("min_src"), max("b1").as("max_src"),
               min("b2").as("min_len"), max("b2").as("max_len"))
          .withColumn("both_dims_bounded",
            (col("max_src") - col("min_src") < 4) &&
              (col("max_len") - col("min_len") < 4))
          .orderBy("zgroup")
      },
      Some("""WITH dims AS (
             |  SELECT doc_id,
             |    CAST(regexp_extract(source, '^src(\d+)$', 1) AS INT)
             |      % 16 AS b1,
             |    least(CAST(len(regexp_extract_all(text, '\S+')) AS INT)
             |          // 8, 15) AS b2
             |  FROM documents),
             |zed AS (
             |  -- DuckDB gives every bitwise operator EQUAL precedence
             |  -- (left-assoc, Postgres-style), so each interleave term
             |  -- is fully parenthesized
             |  SELECT doc_id, b1, b2,
             |    ( (((b1 >> 0) & 1) << 1) | (((b2 >> 0) & 1) << 0)
             |    | (((b1 >> 1) & 1) << 3) | (((b2 >> 1) & 1) << 2)
             |    | (((b1 >> 2) & 1) << 5) | (((b2 >> 2) & 1) << 4)
             |    | (((b1 >> 3) & 1) << 7) | (((b2 >> 3) & 1) << 6)
             |    ) // 16 AS zgroup
             |  FROM dims)
             |SELECT zgroup, COUNT(*) AS n_docs,
             |  MIN(b1) AS min_src, MAX(b1) AS max_src,
             |  MIN(b2) AS min_len, MAX(b2) AS max_len,
             |  (MAX(b1) - MIN(b1) < 4) AND (MAX(b2) - MIN(b2) < 4)
             |    AS both_dims_bounded
             |FROM zed GROUP BY zgroup ORDER BY zgroup""".stripMargin)
    ),

    // ---- cp09: dataset-version diff (manifest v1 vs v2) ---------------
    QueryDef(
      "cp09_manifest_diff",
      // dataset versioning's first question: between curation run v1
      // and v2, what changed and does the ledger balance? v2 differs
      // from v1 on BOTH axes a real re-curation moves: the snapshot
      // grew (v1 predates the doc_id % 16 = 3 ingest batch) and the
      // gate tightened (min length 20 → 25 tokens). Every doc
      // classifies as added (v2 only), removed (v1 only), or kept.
      // Because BOTH manifests are per-row predicates over the SAME
      // unique-keyed snapshot, their full-outer join on doc_id (the
      // r17 form — two tokenize passes + an exchange-heavy x26-shape
      // join, and the round's one unexplained driver-side spike)
      // degenerates to a single conditional-projection pass: tok1/tok2
      // are `when(in_v1/in_v2, n_tokens)` on one scan, rows in neither
      // manifest drop out, and the census aggregates are unchanged —
      // ZERO joins, ONE tokenize pass (guide §2.4, remove shuffles
      // outright). Oracle-proved equivalent (the SQL oracle still runs
      // the full-outer-join form). The per-source census carries its
      // own conservation proof
      // (n_v2 = n_kept + n_added ∧ n_v1 = n_kept + n_removed), so a
      // diff that drops or double-counts a doc flips a boolean AND
      // the hash.
      (s, d) => {
        val base = table(s, d, "documents").select(
          col("doc_id"), col("source"),
          TextAnalysis.tokenCount(col("text")).cast("long")
            .as("n_tokens"))
        val in1 = col("doc_id") % 16 =!= 3 &&
          col("n_tokens").between(20L, 10000L)
        val in2 = col("n_tokens").between(25L, 10000L)
        base
          .select(col("source"),
                  when(in1, col("n_tokens")).as("tok1"),
                  when(in2, col("n_tokens")).as("tok2"))
          .filter(col("tok1").isNotNull || col("tok2").isNotNull)
          .groupBy("source")
          .agg(sum(when(col("tok1").isNotNull, 1L).otherwise(0L))
                 .as("n_v1"),
               sum(when(col("tok2").isNotNull, 1L).otherwise(0L))
                 .as("n_v2"),
               sum(when(col("tok1").isNull, 1L).otherwise(0L))
                 .as("n_added"),
               sum(when(col("tok2").isNull, 1L).otherwise(0L))
                 .as("n_removed"),
               sum(when(col("tok1").isNotNull && col("tok2").isNotNull,
                        1L).otherwise(0L)).as("n_kept"),
               sum(when(col("tok1").isNull, col("tok2"))
                 .otherwise(0L)).as("tokens_added"),
               sum(when(col("tok2").isNull, col("tok1"))
                 .otherwise(0L)).as("tokens_removed"))
          .withColumn("conserved_ok",
            col("n_v2") === col("n_kept") + col("n_added") &&
              col("n_v1") === col("n_kept") + col("n_removed"))
          .orderBy("source")
      },
      Some("""WITH base AS (
             |  SELECT doc_id, source,
             |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT)
             |      AS n_tokens
             |  FROM documents),
             |m1 AS (
             |  SELECT doc_id, source, n_tokens FROM base
             |  WHERE doc_id % 16 <> 3 AND n_tokens BETWEEN 20 AND 10000),
             |m2 AS (
             |  SELECT doc_id, source, n_tokens FROM base
             |  WHERE n_tokens BETWEEN 25 AND 10000),
             |j AS (
             |  SELECT COALESCE(m2.source, m1.source) AS source,
             |    m1.n_tokens AS tok1, m2.n_tokens AS tok2
             |  FROM m1 FULL OUTER JOIN m2 USING (doc_id))
             |SELECT source,
             |  CAST(SUM(CASE WHEN tok1 IS NOT NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_v1,
             |  CAST(SUM(CASE WHEN tok2 IS NOT NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_v2,
             |  CAST(SUM(CASE WHEN tok1 IS NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_added,
             |  CAST(SUM(CASE WHEN tok2 IS NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_removed,
             |  CAST(SUM(CASE WHEN tok1 IS NOT NULL AND tok2 IS NOT NULL
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             |  CAST(SUM(CASE WHEN tok1 IS NULL THEN tok2 ELSE 0 END)
             |    AS BIGINT) AS tokens_added,
             |  CAST(SUM(CASE WHEN tok2 IS NULL THEN tok1 ELSE 0 END)
             |    AS BIGINT) AS tokens_removed,
             |  true AS conserved_ok
             |FROM j GROUP BY source ORDER BY source""".stripMargin)
    )
  )

  /** Deep-token budget per cp07 training sequence. Larger than dm02's
    * word budget: a selected doc's bigram-unit DEEP tokens run ~2× its
    * word count, and the packer is doc-granular — a budget well above
    * the typical doc keeps multi-doc sequences the common case. */
  val Cp07SeqBudget = 8192L

  /** cp06's per-document conservation ledger (see the entry comment):
    * one row per input document, verdict ∈ {quality, duplicate,
    * decontaminated, over_budget, kept}, file_no = the cp04-planned
    * output file for kept docs (−1 otherwise). */
  def cp06Ledger(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val docs = table(s, d, "documents")
    // stage 1: C4/Gopher rules
    val flags = DataQuality.qualityFlags(docs)
      .select(col("doc_id"), col("keep").as("keep_q"))
    val staged = docs
      .select("doc_id", "source", "lang", "text", "n_chars")
      .join(flags, Seq("doc_id"))
      // stage 2: exact dedup among quality survivors — dd01's hash key,
      // keep-first by doc_id (droppees of stage 1 can't claim a slot)
      .withColumn("first_id",
        min(when(col("keep_q") === 1, col("doc_id")))
          .over(Window.partitionBy(md5(col("text").cast("binary")))))
      .withColumn("is_dup",
        (col("keep_q") === 1 && col("doc_id") =!= col("first_id"))
          .cast("int"))
    // stage 3: semantic decon, cp05's vector conventions (label-0 docs
    // drop; docs without an embedding row keep keep_vec = 1; the
    // fixed-size benchmark suite keeps this stage linear in the corpus)
    val emb = table(s, d, "embeddings")
    val vecKeep = DataQuality.exactScored(emb.filter(col("label") =!= 0),
                                          DataQuality.benchSuite(emb))
      .select(col("vec_id").as("doc_id"),
              (col("mc") < DataQuality.SemanticDeconTau).cast("int")
                .as("keep_vec"))
      .unionByName(emb.filter(col("label") === 0)
        .select(col("vec_id").as("doc_id"), lit(0).as("keep_vec")))
    // The staged lineage (quality flags + dedup window + decon join) is
    // consumed by the budget stage, the layout stage, and the final
    // ledger join — the dq05/cp02 barrier discipline: compute the token
    // count once and reduce to narrow rows (text dropped).
    val s3 = Materialize.once(staged.join(vecKeep, Seq("doc_id"), "left")
      .withColumn("keep_vec", coalesce(col("keep_vec"), lit(1)))
      .withColumn("n_tokens",
        TextAnalysis.tokenCount(col("text")).cast("long"))
      .select("doc_id", "source", "lang", "n_chars",
              "keep_q", "is_dup", "keep_vec", "n_tokens"))
    // stage 4: dm06 token-budget mixture over the survivors
    val toks = s3
      .filter(col("keep_q") === 1 && col("is_dup") === 0 &&
              col("keep_vec") === 1)
      .select(col("doc_id"), col("lang"), col("n_tokens"))
    val totals = toks.groupBy("lang").agg(sum("n_tokens").as("tok_lang"))
    val budget = totals.agg(expr("min(tok_lang) div 16").as("shard_budget"))
    val h = md5(concat(col("doc_id").cast("string"), lit(":tb"))
      .cast("binary"))
    val wB = Window.partitionBy("lang", "shard").orderBy("h", "doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val keptB = toks.withColumn("h", h)
      .withColumn("shard",
        conv(substring(col("h"), 1, 2), 16, 10).cast("int") % 16)
      .withColumn("cum_before",
        coalesce(sum("n_tokens").over(wB), lit(0L)))
      .crossJoin(broadcast(budget))
      .filter(col("cum_before") < col("shard_budget"))
      .select(col("doc_id"), lit(1).as("keep_b"))
    // third barrier: s4 feeds the kept-set layout planning AND the
    // final ledger join — keptB's double window would otherwise run
    // per consumer
    val s4 = Materialize.once(s3.join(keptB, Seq("doc_id"), "left")
      .withColumn("keep_b", coalesce(col("keep_b"), lit(0))))
    // layout (cp04) over the kept docs only
    val kept = s4
      .filter(col("keep_q") === 1 && col("is_dup") === 0 &&
              col("keep_vec") === 1 && col("keep_b") === 1)
      .select("doc_id", "source", "n_chars")
    val stats = kept.groupBy("source").agg(sum("n_chars").as("sum_chars"))
      .withColumn("n_files",
        greatest(ceil(col("sum_chars") / lit(LayoutTargetChars.toDouble))
          .cast("long"), lit(1L)))
    val fileNo = kept
      .join(broadcast(stats.select("source", "n_files")), Seq("source"))
      .select(col("doc_id"),
              floor(DataMix.hashFraction(col("doc_id")) * col("n_files"))
                .cast("int").as("file_no"))
    s4.join(fileNo, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
              when(col("keep_q") === 0, lit("quality"))
                .when(col("is_dup") === 1, lit("duplicate"))
                .when(col("keep_vec") === 0, lit("decontaminated"))
                .when(col("keep_b") === 0, lit("over_budget"))
                .otherwise(lit("kept")).as("verdict"),
              coalesce(col("file_no"), lit(-1)).as("file_no"))
      .orderBy("doc_id")
  }

  /** Execute cp06 for real: the kept docs land as the cp04-planned
    * partitioned layout — `repartition(source, file_no)` puts each
    * planned file in one task, `partitionBy` lands it as one parquet
    * data file per cell. CurationPropertySpec asserts the landed
    * files match [[cp06Ledger]] cell for cell. */
  def executePipeline(s: org.apache.spark.sql.SparkSession, sfDir: String,
                      outDir: String): Unit =
    table(s, sfDir, "documents")
      .join(cp06Ledger(s, sfDir).filter(col("verdict") === "kept")
              .select("doc_id", "file_no"),
            Seq("doc_id"))
      .repartition(col("source"), col("file_no"))
      .write.mode("overwrite").partitionBy("source", "file_no")
      .parquet(outDir)

  /** Target characters per planned output file (the test-scale stand-in
    * for a 256 MB parquet target; a parameter in production). */
  val LayoutTargetChars = 65536

  /** cp04's per-doc file assignment, shared verbatim by the plan entry
    * and [[executeLayout]] so the executed layout can never drift from
    * the oracle-checked manifest. */
  private def layoutAssignment(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val stats = docs.groupBy("source").agg(
      sum("n_chars").as("sum_chars"))
      .withColumn("n_files",
        greatest(ceil(col("sum_chars") / lit(LayoutTargetChars.toDouble))
          .cast("long"), lit(1L)))
    docs
      .join(broadcast(stats.select(col("source"), col("n_files"))),
            Seq("source"))
      .withColumn("file_no",
        floor(DataMix.hashFraction(col("doc_id")) * col("n_files"))
          .cast("int"))
  }

  /** Execute the cp04 plan as the real partitioned write its comment
    * promises: `repartition(source, file_no)` co-locates each planned
    * file in exactly one task, `partitionBy(source, file_no)` lands it
    * as exactly ONE parquet data file per planned (source, file_no)
    * cell — no global sort, no rank window, and each write task streams
    * one target-sized file. CurationPropertySpec asserts the landed
    * layout matches the oracle-checked manifest file-for-file. */
  def executeLayout(s: org.apache.spark.sql.SparkSession, sfDir: String,
                    outDir: String): Unit =
    layoutAssignment(table(s, sfDir, "documents"))
      .drop("n_files")
      .repartition(col("source"), col("file_no"))
      .write.mode("overwrite").partitionBy("source", "file_no")
      .parquet(outDir)
}
