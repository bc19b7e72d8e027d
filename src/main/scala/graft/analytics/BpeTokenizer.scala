package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Natives
import graft.queries.QueryDef

/** Learned byte-pair-merge tokenizer feeding the token-budget operators
  * (dm02b/dm06b): real mixture budgets and sequence packing are computed
  * in subword tokens, not whitespace words (reference shape: the
  * whitespace counts in `DataMix`; this is the engine-roadmap upgrade).
  *
  * Algorithm — deterministic and ENGINE-NEUTRAL so the whole pipeline,
  * learning included, is oracle-checkable in DuckDB:
  *
  *  1. vocab = distinct whitespace words with corpus frequencies,
  *     capped at the [[VocabCap]] most frequent (ties by word) — the
  *     standard sample-bounded tokenizer-training discipline (the cap
  *     never binds on the fixtures; at 100 TB it bounds driver state
  *     exactly like [[IvfIndex]]'s sample-bounded Lloyd);
  *  2. each word's segmentation starts as space-joined characters,
  *     padded with one space each side;
  *  3. repeat [[Merges]] times: count adjacent symbol pairs weighted by
  *     word frequency; the argmax pair (count desc, then pair asc)
  *     becomes the next merge; apply it everywhere via ONE literal
  *     `replace(seg, ' l r ', ' lr ')` pass — left-to-right
  *     non-overlapping, identical semantics in Spark and DuckDB, so
  *     both engines derive bit-identical merge tables.
  *
  * Scale shape: learning aggregates the corpus ONCE into the
  * [[VocabCap]]-capped vocabulary census and collects it (bounded
  * driver state, [[IvfIndex]]'s sample discipline); ALL merge rounds
  * then run driver-local — one Spark job and one round-trip total,
  * merge-count-independent, where the round-8 form paid a scheduler
  * round-trip per merge. Application is ONE native codegen'd operator
  * ([[graft.functions.BpeTokenCount]]) over the merge table passed as
  * foldable literals (map-only, no shuffle, no UDF, no per-merge
  * expression nodes): token counts ride the same scan that reads the
  * text, at any merge count. The merges table is an
  * [[OfflineArtifact]], so a round's queries learn at most once.
  */
object BpeTokenizer {
  import QueryDef.table

  /** Number of learned merges. Small by design: the oracle replays
    * learning as [[Merges]] unrolled CTE rounds, and the fixtures'
    * synthetic vocabulary saturates quickly; the machinery is
    * merge-count-agnostic. */
  val Merges = 12

  /** Production-shaped merge count exercised end-to-end by the
    * tok01b/tok04 entries: learning stays ONE Spark aggregate + a
    * driver-local loop (merge-count-independent in cluster round
    * trips), and application stays one codegen'd operator — this
    * constant proves the PIPELINE at depth, not just the spec. */
  val DeepMerges = 1024

  /** Vocabulary cap for learning (most-frequent first, ties by word). */
  val VocabCap = 4096

  /** Spark-side whitespace word list of `text`. */
  private[analytics] val wordsExpr =
    "filter(split(text, '\\\\s+'), w -> length(w) > 0)"

  /** DuckDB replay of [[wordsExpr]]. */
  private[analytics] val wordsSql =
    """list_filter(string_split_regex(text, '\s+'), w -> length(w) > 0)"""

  /** Learning units for the DEEP table: word BIGRAMS joined by '_'.
    * The fixtures' ~30-word synthetic vocabulary exhausts word-level
    * learning after ~90 merges (every word fully merged); bigram units
    * drawn from the same corpus have ~|V|² distinct forms and ~2×
    * longer char sequences, so the greedy loop genuinely runs ≥
    * [[DeepMerges]] ranks — the depth is real, not nominal.
    *
    * Takes a WORD-LIST COLUMN name, never the raw text: a lambda
    * referencing `split(text, …)` re-evaluates the split per element
    * (O(words²·len) per doc) — project the list once, then build the
    * bigrams off the attribute. */
  private[analytics] def bigramUnitsOf(ws: String): String =
    s"""CASE WHEN size($ws) >= 2 THEN
       |  transform(sequence(1, size($ws) - 1),
       |    i -> concat(element_at($ws, i), '_', element_at($ws, i + 1)))
       |ELSE cast(array() as array<string>) END""".stripMargin

  /** DuckDB replay of [[bigramUnitsOf]] over a word-list column `w`. */
  private[analytics] def bigramUnitsSql(w: String): String =
    s"""CASE WHEN len($w) >= 2 THEN
       |  list_transform(range(len($w) - 1),
       |    i -> $w[i + 1] || '_' || $w[i + 2])
       |ELSE CAST([] AS VARCHAR[]) END""".stripMargin

  final case class Merge(rank: Int, l: String, r: String, cnt: Long)

  // -- learning ----------------------------------------------------------

  /** ` a b c `-style padded character segmentation of a word column
    * (kept for the replace-chain reference path pinned in the spec). */
  private def seg0(w: Column): Column =
    concat(lit(" "),
           concat_ws(" ", transform(sequence(lit(1), length(w)),
             i => call_function("substring", w, i, lit(1)))),
           lit(" "))

  private def applyMerge(seg: Column, l: String, r: String): Column =
    call_function("replace", seg, lit(s" $l $r "), lit(s" $l$r "))

  /** UTF-8 byte order — what Spark's string `asc` and DuckDB's default
    * VARCHAR collation both compare by (Java `String.compareTo` is
    * UTF-16 order, which diverges past the BMP). */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Learn `nMerges` merges from the corpus word-frequency table.
    *
    * ONE Spark aggregate + ONE driver round-trip total: the vocabulary
    * census is capped at [[VocabCap]] rows (sample-bounded driver
    * state, the [[IvfIndex]] Lloyd discipline), so the merge loop runs
    * driver-local over ≤ 4096 (freq, symbols) pairs — the round-7/8
    * form re-aggregated the cached vocab frame once PER MERGE, which
    * is 1024 scheduler round-trips at real merge counts. Semantics are
    * bit-identical (pair counts weighted by freq; argmax by count desc
    * then UTF-8-ascending (l, r); application via
    * [[graft.functions.BpeApply.mergePass]], the exact string-replace
    * semantics the DuckDB oracle replays — tok01 stays hash-green). */
  def learnMerges(spark: SparkSession, sfDir: String,
                  nMerges: Int = Merges,
                  unitKind: String = "word"): Seq[Merge] = {
    val unitRows =
      if (unitKind == "bigram")
        table(spark, sfDir, "documents")
          .select(expr(wordsExpr).as("ws"))
          .select(explode(expr(bigramUnitsOf("ws"))).as("word"))
      else
        table(spark, sfDir, "documents")
          .select(explode(expr(wordsExpr)).as("word"))
    val vocab = unitRows
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), asc("word")).limit(VocabCap)
      .collect()
    val freqs = vocab.map(_.getLong(1))
    val syms = vocab.map(r =>
      graft.functions.BpeApply.toSymbols(r.getString(0)))
    val lens = syms.map(_.length)
    val bufs = syms.map(s => new Array[String](s.length))
    val merges = Seq.newBuilder[Merge]
    var rank = 0
    var exhausted = false
    while (rank < nMerges && !exhausted) {
      // pair census (symbols never contain spaces → "l r" keys split
      // unambiguously on the first space)
      val counts = new java.util.HashMap[String, Long]()
      var w = 0
      while (w < syms.length) {
        val s = syms(w)
        val f = freqs(w)
        var i = 0
        while (i + 1 < lens(w)) {
          counts.merge(s(i) + " " + s(i + 1), f, (a, b) => a + b)
          i += 1
        }
        w += 1
      }
      if (counts.isEmpty) {
        // at the default (oracle-replayed) merge count this is the same
        // hard error as before; experimental larger counts stop cleanly
        require(nMerges > Merges,
          s"vocabulary exhausted after $rank merges — corpus too small " +
          s"for Merges=$nMerges")
        exhausted = true
      } else {
        // argmax: count desc, then (l, r) componentwise UTF-8 asc — NOT
        // a compare of the joined key (a symbol byte < 0x20 would sort
        // before the delimiter space and flip prefix pairs)
        def split(k: String): (String, String) = {
          val sp = k.indexOf(' ')
          (k.substring(0, sp), k.substring(sp + 1))
        }
        def pairLt(a: String, b: String): Boolean = {
          val (al, ar) = split(a)
          val (bl, br) = split(b)
          if (al != bl) utf8Lt(al, bl) else utf8Lt(ar, br)
        }
        var bestK: String = null
        var bestC = Long.MinValue
        counts.forEach { (k, c) =>
          if (c > bestC || (c == bestC && pairLt(k, bestK))) {
            bestK = k; bestC = c
          }
        }
        val (l, r) = split(bestK)
        merges += Merge(rank, l, r, bestC)
        w = 0
        while (w < syms.length) {
          if (lens(w) > 1) {
            lens(w) = graft.functions.BpeApply.mergePass(
              syms(w), lens(w), l, r, bufs(w))
            System.arraycopy(bufs(w), 0, syms(w), 0, lens(w))
          }
          w += 1
        }
        rank += 1
      }
    }
    merges.result()
  }

  // -- persistence (OfflineArtifact contract) ---------------------------

  private val Artifact = OfflineArtifact.Kind("bpe", "documents", "v1")

  private def variant(nMerges: Int, unitKind: String): String =
    if (unitKind == "word") s"$nMerges" else s"$nMerges-$unitKind"

  def mergesDir(sfDir: String, nMerges: Int = Merges,
                unitKind: String = "word"): String =
    Artifact.dir(sfDir, variant(nMerges, unitKind))

  /** Learned merges for a corpus dir: learned and persisted once per
    * corpus epoch ([[OfflineArtifact]]), read into driver memory once
    * per JVM. `unitKind` "word" learns over whitespace words (the
    * production table); "bigram" over [[bigramUnitsOf]] (the deep
    * table). */
  def loadOrLearn(spark: SparkSession, sfDir: String,
                  nMerges: Int = Merges,
                  unitKind: String = "word"): Seq[Merge] = {
    Artifact.load(spark, sfDir, variant(nMerges, unitKind)) { dir =>
      import spark.implicits._
      val merges = learnMerges(spark, sfDir, nMerges, unitKind)
      merges.toDF("rank", "l", "r", "cnt")
        .coalesce(1).write.mode("overwrite").parquet(dir)
      merges
    } { dir =>
      spark.read.parquet(dir).orderBy("rank").collect()
        .map(r => Merge(r.getAs[Int]("rank"), r.getAs[String]("l"),
                        r.getAs[String]("r"), r.getAs[Long]("cnt"))).toSeq
    }
  }

  // -- application -------------------------------------------------------

  /** Subword token count of one word column under a learned merge list
    * — the native single-operator chain ([[graft.functions.BpeApply]]):
    * one codegen'd expression regardless of merge count, where the
    * replace chain built one nested `replace` node PER MERGE and broke
    * expression-tree/codegen limits past ~100 ranks. Bit-equal to the
    * chain (spec-pinned at [[Merges]]; oracle-pinned via tok02).
    * Resolves against the active session. */
  def bpeWordTokens(w: Column, merges: Seq[Merge]): Column =
    Natives.call(SparkSession.active, "bpe_word_tokens", w,
      typedLit(merges.map(_.l)), typedLit(merges.map(_.r)))

  /** Per-document subword token count over `text` (native fused
    * split+chain operator; bit-equal to the HOF aggregate form).
    * Resolves against the active session. */
  def bpeTokenCount(text: Column, merges: Seq[Merge]): Column =
    Natives.call(SparkSession.active, "bpe_token_count", text,
      typedLit(merges.map(_.l)), typedLit(merges.map(_.r)))

  /** The round-8 replace-chain application, kept as the bit-equality
    * reference the spec pins the native operator against (the oracle
    * SQL replays exactly this string form). */
  def bpeWordTokensChain(w: Column, merges: Seq[Merge]): Column = {
    val segd = merges.foldLeft(seg0(w))((s, m) => applyMerge(s, m.l, m.r))
    size(filter(split(segd, " "), x => x =!= ""))
  }

  /** HOF-aggregate document form of [[bpeWordTokensChain]] (reference
    * path for the equality pin). */
  def bpeTokenCountChain(text: Column, merges: Seq[Merge]): Column =
    aggregate(
      filter(split(text, "\\s+"), w => length(w) > 0),
      lit(0L), (acc, w) => acc + bpeWordTokensChain(w, merges).cast("long"))

  // -- oracle SQL generation --------------------------------------------

  /** The learning rounds as unrolled DuckDB CTEs (`w0, v0, p0, b0, v1,
    * …`) — the oracle DERIVES the merge table itself, so tok01 checks
    * learning end-to-end, not a copied answer. */
  def learnCtesSql: String = learnCtesSqlOver(
    s"SELECT unnest($wordsSql) AS word FROM documents")

  /** [[learnCtesSql]] over bigram units — the deep table's basis. */
  def learnCtesSqlBigram: String = learnCtesSqlOver(
    s"""SELECT unnest(${bigramUnitsSql("w")}) AS word
       |  FROM (SELECT $wordsSql AS w FROM documents)""".stripMargin)

  private def learnCtesSqlOver(unitsSelect: String): String = {
    val sb = new StringBuilder
    sb ++= s"""w0 AS MATERIALIZED (
              |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
              |  FROM ($unitsSelect)
              |  GROUP BY word ORDER BY freq DESC, word LIMIT $VocabCap),
              |v0 AS MATERIALIZED (
              |  SELECT freq, ' ' || array_to_string(list_transform(
              |    range(length(word)),
              |    i -> substring(word, i + 1, 1)), ' ') || ' ' AS seg
              |  FROM w0)""".stripMargin
    for (i <- 0 until Merges) {
      sb ++= s""",
                |p$i AS MATERIALIZED (
                |  SELECT l, r, CAST(SUM(freq) AS BIGINT) AS cnt
                |  FROM (
                |    SELECT freq, p['l'] AS l, p['r'] AS r FROM (
                |      SELECT freq, unnest(list_transform(range(len(syms) - 1),
                |        i -> struct_pack(l := syms[i + 1], r := syms[i + 2]))) AS p
                |      FROM (SELECT freq, list_filter(string_split(seg, ' '),
                |                             x -> x <> '') AS syms FROM v$i)))
                |  GROUP BY l, r),
                |b$i AS MATERIALIZED (SELECT $i AS rank, l, r, cnt FROM p$i
                |        ORDER BY cnt DESC, l, r LIMIT 1),
                |v${i + 1} AS MATERIALIZED (
                |  SELECT freq, replace(seg,
                |    ' ' || (SELECT l FROM b$i) || ' ' || (SELECT r FROM b$i) || ' ',
                |    ' ' || (SELECT l FROM b$i) || (SELECT r FROM b$i) || ' ') AS seg
                |  FROM v$i)""".stripMargin
    }
    sb.result()
  }

  /** 1-row CTE `m` exposing the derived merges as columns l0,r0,…  —
    * the form the application lambdas can reference (scalar subqueries
    * are not usable inside DuckDB lambdas; correlated columns are). */
  def mergeRowCteSql: String =
    "m AS MATERIALIZED (SELECT " + (0 until Merges).map(i =>
      s"(SELECT l FROM b$i) AS l$i, (SELECT r FROM b$i) AS r$i")
      .mkString(", ") + ")"

  /** DuckDB per-document token count under the derived merges; requires
    * `documents, m` in the enclosing FROM. */
  def bpeTokenCountSql: String = {
    val chain = (0 until Merges).foldLeft(
      "' ' || array_to_string(list_transform(range(length(w)), " +
        "i -> substring(w, i + 1, 1)), ' ') || ' '") { (s, i) =>
      s"replace($s, ' ' || m.l$i || ' ' || m.r$i || ' ', " +
        s"' ' || m.l$i || m.r$i || ' ')"
    }
    s"""CAST(COALESCE(list_sum(list_transform($wordsSql,
       |    w -> len(list_filter(string_split($chain, ' '),
       |             x -> x <> '')))), 0) AS BIGINT)""".stripMargin
  }

  /** DuckDB token-string LIST of one word column under the derived
    * merges (requires `m` in the enclosing FROM) — the list whose
    * length [[bpeTokenCountSql]] sums; tok03 explodes it. */
  def segListSql(wCol: String): String = {
    val chain = (0 until Merges).foldLeft(
      s"' ' || array_to_string(list_transform(range(length($wCol)), " +
        s"i -> substring($wCol, i + 1, 1)), ' ') || ' '") { (acc, i) =>
      s"replace($acc, ' ' || m.l$i || ' ' || m.r$i || ' ', " +
        s"' ' || m.l$i || m.r$i || ' ')"
    }
    s"list_filter(string_split($chain, ' '), x -> x <> '')"
  }

  // -- query surface -----------------------------------------------------

  def all: Seq[QueryDef] = Seq(
    // the learned merge table itself — pins vocabulary census, pair
    // counting, argmax tie-breaks, and the replace-application step of
    // EVERY round, because round i's counts depend on rounds 0..i-1
    // having applied identically.
    QueryDef(
      "tok01_bpe_merges",
      (s, d) => {
        val merges = loadOrLearn(s, d)
        import s.implicits._
        merges.map(m => (m.rank, m.l, m.r, m.l + m.r, m.cnt))
          .toDF("rank", "lft", "rgt", "merged", "cnt")
          .orderBy("rank")
      },
      Some(s"""WITH $learnCtesSql
              |SELECT rank, l AS lft, r AS rgt, l || r AS merged, cnt
              |FROM (${(0 until Merges).map(i => s"SELECT * FROM b$i")
                        .mkString(" UNION ALL ")})
              |ORDER BY rank""".stripMargin)
    ),

    // PRODUCTION-SHAPED merge count through the driver's gate: learn
    // [[DeepMerges]] (1024) merges over bigram units (the fixtures'
    // word vocabulary exhausts after ~90 ranks, so the deep table's
    // basis is [[bigramUnitsOf]] — ~|V|² distinct forms, genuinely
    // ≥ 1024 learnable ranks) — same one-aggregate-plus-driver-loop
    // learn, cost independent of merge count in cluster round trips —
    // and emit the first [[Merges]] ranks. Greedy learning is
    // prefix-stable (round i depends only on rounds < i), so the deep
    // table's prefix must be bit-identical to the oracle's 12-round
    // replay over the same units: the 1024-rank learn itself runs
    // inside the gate and any census/argmax/application drift in the
    // shared loop goes red. tok04 audits the deep ranks' APPLICATION.
    QueryDef(
      "tok01b_bpe_deep_prefix",
      (s, d) => {
        val deep = loadOrLearn(s, d, DeepMerges, "bigram")
        import s.implicits._
        deep.take(Merges)
          .map(m => (m.rank, m.l, m.r, m.l + m.r, m.cnt))
          .toDF("rank", "lft", "rgt", "merged", "cnt")
          .orderBy("rank")
      },
      Some(s"""WITH $learnCtesSqlBigram
              |SELECT rank, l AS lft, r AS rgt, l || r AS merged, cnt
              |FROM (${(0 until Merges).map(i => s"SELECT * FROM b$i")
                        .mkString(" UNION ALL ")})
              |ORDER BY rank""".stripMargin)
    ),

    // Deep-application audit ([[SelfAudit]] discipline): per-unit token
    // counts under the FULL 1024-rank table vs its own 12-rank prefix,
    // through the native codegen'd operator carrying all 1024 ranks.
    // Three theorems make the audit deterministic: (1) prefix
    // stability + each merge pass never increasing a unit's token
    // count ⇒ deep count ≤ prefix count per unit; (2) every non-empty
    // unit yields ≥ 1 token; (3) BPE closure — every emitted subword
    // is a single character or the output of some learned merge
    // (checked over a deterministic doc sample via the native
    // segmenter at full depth). Census + total unit count are the
    // oracle's recomputable scalars.
    QueryDef(
      "tok04_bpe_deep_apply",
      (s, d) => {
        val deep = loadOrLearn(s, d, DeepMerges, "bigram")
        val prefix = deep.take(Merges)
        val docs = table(s, d, "documents")
        // one-split fixture scan feeding the expensive per-unit deep+
        // prefix token counts — spread under the ScanSpread size guard
        // (downstream: aggregation + an explicitly-broadcast anti-join,
        // so no strategy can flip; r17)
        val units = ScanSpread.forMapPass(docs)
          .select(col("doc_id"), expr(wordsExpr).as("ws"))
          .select(col("doc_id"), explode(expr(bigramUnitsOf("ws"))).as("u"))
        val agg = units.select(col("doc_id"),
            bpeWordTokens(col("u"), deep).cast("long").as("cd"),
            bpeWordTokens(col("u"), prefix).cast("long").as("cb"))
          .agg(count(lit(1)).as("total_units"),
               bool_and(col("cd") <= col("cb")).as("depth_monotone_ok"),
               bool_and(col("cd") >= 1).as("count_floor_ok"))
        import s.implicits._
        val vocabDf = deep.map(m => m.l + m.r).toDF("t")
        val closureEsc = units.filter(col("doc_id") % 20 === 0)
          .select(explode(Natives.call(s, "bpe_word_segment",
            col("u"), typedLit(deep.map(_.l)), typedLit(deep.map(_.r))))
            .as("t"))
          .distinct()
          .filter(length(col("t")) > 1)
          .join(broadcast(vocabDf), Seq("t"), "left_anti")
          .agg(count(lit(1)).as("__esc"))
        val census = docs.agg(count(lit(1)).as("n_docs"))
        census.crossJoin(agg).crossJoin(closureEsc)
          .select(col("n_docs"), col("total_units"),
                  col("depth_monotone_ok"), col("count_floor_ok"),
                  (col("__esc") === 0).as("vocab_closure_ok"))
      },
      Some(s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
              |  CAST(SUM(greatest(len($wordsSql) - 1, 0)) AS BIGINT)
              |    AS total_units,
              |  true AS depth_monotone_ok, true AS count_floor_ok,
              |  true AS vocab_closure_ok
              |FROM documents""".stripMargin)
    ),

    // tx06 re-expressed in learned subword tokens: chunk each document
    // into SUBWORD-budget windows — words are never split; word k goes
    // to chunk floor(cum_bpe_tokens_before_k / budget), the greedy
    // streaming chunker every context-length-bounded pipeline runs.
    // Map-only until the per-doc window (partitioned by doc_id — no
    // global barrier); the (doc_id, chunk) regroup shuffles only what
    // the chunk output IS. Wordless docs census-anchor as one empty
    // chunk (tx06 convention).
    QueryDef(
      "tok02_chunk_bpe",
      (s, d) => {
        val merges = loadOrLearn(s, d)
        val budget = 64
        val docs = table(s, d, "documents")
        val words = docs
          .select(col("doc_id"), posexplode(expr(wordsExpr)).as(Seq("pos", "w")))
          .withColumn("n_tok", bpeWordTokens(col("w"), merges).cast("long"))
        val win = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("pos")
          .rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        val agg = words
          .withColumn("cum_before",
            coalesce(sum("n_tok").over(win), lit(0L)))
          .withColumn("chunk_idx",
            (col("cum_before") / lit(budget)).cast("int"))
          .groupBy("doc_id", "chunk_idx")
          .agg(count(lit(1)).cast("long").as("n_words"),
               sum("n_tok").as("n_chunk_tokens"),
               array_join(transform(
                 sort_array(collect_list(struct(col("pos"), col("w")))),
                 p => p("w")), " ").as("chunk_text"))
        docs.select("doc_id").join(agg, Seq("doc_id"), "left")
          .select(col("doc_id"),
                  coalesce(col("chunk_idx"), lit(0)).as("chunk_idx"),
                  coalesce(col("n_words"), lit(0L)).as("n_words"),
                  coalesce(col("n_chunk_tokens"), lit(0L)).as("n_chunk_tokens"),
                  coalesce(col("chunk_text"), lit("")).as("chunk_text"))
          .orderBy("doc_id", "chunk_idx")
      },
      Some {
        val chain = (0 until Merges).foldLeft(
          "' ' || array_to_string(list_transform(range(length(w)), " +
            "i -> substring(w, i + 1, 1)), ' ') || ' '") { (s, i) =>
          s"replace($s, ' ' || m.l$i || ' ' || m.r$i || ' ', " +
            s"' ' || m.l$i || m.r$i || ' ')"
        }
        s"""WITH $learnCtesSql,
           |$mergeRowCteSql,
           |wlist AS (SELECT doc_id, $wordsSql AS ws FROM documents),
           |wflat AS (
           |  SELECT doc_id, CAST(p['i'] AS INT) AS pos, p['w'] AS w
           |  FROM (SELECT doc_id, unnest(list_transform(range(len(ws)),
           |          i -> struct_pack(i := i, w := ws[i + 1]))) AS p
           |        FROM wlist)),
           |wtok AS (
           |  SELECT doc_id, pos, w,
           |    CAST(len(list_filter(string_split($chain, ' '),
           |             x -> x <> '')) AS BIGINT) AS n_tok
           |  FROM wflat, m),
           |cum AS (
           |  SELECT *, COALESCE(SUM(n_tok) OVER (PARTITION BY doc_id
           |    ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND
           |    1 PRECEDING), 0) AS cum_before
           |  FROM wtok),
           |agg AS (
           |  SELECT doc_id, CAST(floor(cum_before / 64) AS INT) AS chunk_idx,
           |    COUNT(*) AS n_words, CAST(SUM(n_tok) AS BIGINT) AS n_chunk_tokens,
           |    string_agg(w, ' ' ORDER BY pos) AS chunk_text
           |  FROM cum GROUP BY 1, 2)
           |SELECT d.doc_id, COALESCE(a.chunk_idx, 0) AS chunk_idx,
           |  COALESCE(a.n_words, 0) AS n_words,
           |  COALESCE(a.n_chunk_tokens, 0) AS n_chunk_tokens,
           |  COALESCE(a.chunk_text, '') AS chunk_text
           |FROM (SELECT doc_id FROM documents) d
           |LEFT JOIN agg a USING (doc_id)
           |ORDER BY d.doc_id, chunk_idx""".stripMargin
      }
    ),

    // dm02 re-expressed in learned subword tokens: pack documents into
    // PackBudget-token training sequences per 1000-doc shard (same
    // running-sum window shape — see DataMix.dm02 for the sharding
    // rationale; only the token metric changes).
    QueryDef(
      "dm02b_pack_bpe",
      (s, d) => {
        val merges = loadOrLearn(s, d)
        val tokens = table(s, d, "documents")
          .select(col("doc_id"),
                  bpeTokenCount(col("text"), merges).as("n_tokens"))
          .withColumn("shard", (col("doc_id") / lit(1000)).cast("long"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("shard").orderBy("doc_id")
          .rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        val packed = tokens
          .withColumn("cum_before",
            coalesce(sum("n_tokens").over(w), lit(0L)))
          .withColumn("seq_id",
            (col("cum_before") / lit(DataMix.PackBudget)).cast("long"))
        val pos = org.apache.spark.sql.expressions.Window
          .partitionBy("shard", "seq_id").orderBy("doc_id")
        packed
          .withColumn("pos_in_seq", row_number().over(pos).cast("int"))
          .select("doc_id", "n_tokens", "shard", "seq_id", "pos_in_seq")
          .orderBy("doc_id")
      },
      Some(s"""WITH $learnCtesSql,
              |$mergeRowCteSql,
              |toks AS (
              |  SELECT doc_id, $bpeTokenCountSql AS n_tokens,
              |    CAST(floor(doc_id / 1000) AS BIGINT) AS shard
              |  FROM documents, m),
              |packed AS (
              |  SELECT doc_id, n_tokens, shard,
              |    COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              |      AS cum_before
              |  FROM toks)
              |SELECT doc_id, n_tokens, shard,
              |  CAST(floor(cum_before / ${DataMix.PackBudget}) AS BIGINT) AS seq_id,
              |  CAST(row_number() OVER (
              |    PARTITION BY shard,
              |      CAST(floor(cum_before / ${DataMix.PackBudget}) AS BIGINT)
              |    ORDER BY doc_id) AS INT) AS pos_in_seq
              |FROM packed ORDER BY doc_id""".stripMargin)
    ),

    // dm06 re-expressed in learned subword tokens: uniform TOKEN
    // mixture at the largest feasible size, (lang, shard)-windowed
    // running totals — see DataMix.dm06 for the budget math and the
    // 100 TB sharding rationale; only the token metric changes.
    QueryDef(
      "dm06b_token_budget_bpe",
      (s, d) => {
        val merges = loadOrLearn(s, d)
        val docs = table(s, d, "documents")
          .select(col("doc_id"), col("lang"),
                  bpeTokenCount(col("text"), merges).as("n_tokens"))
        val totals = docs.groupBy("lang").agg(sum("n_tokens").as("tok_lang"))
        val budget = totals.agg(expr("min(tok_lang) div 16").as("shard_budget"))
        val h = md5(concat(col("doc_id").cast("string"), lit(":tb"))
          .cast("binary"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang", "shard").orderBy("h", "doc_id")
          .rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
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
      Some(s"""WITH $learnCtesSql,
              |$mergeRowCteSql,
              |toks AS (
              |  SELECT doc_id, lang, $bpeTokenCountSql AS n_tokens,
              |    md5(CAST(doc_id AS VARCHAR) || ':tb') AS h
              |  FROM documents, m),
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

    // the FINAL tokenizer artifact: documents encoded to vocabulary
    // IDS. Vocab = corpus-wide base alphabet (utf8-sorted, ids 0..B-1
    // — driver-side metadata, alphabet-bounded) + one token per merge
    // (id B + rank; duplicate surface forms keep their smallest id).
    // Per doc, every word segments through the native merge-chain
    // operator ([[graft.functions.BpeWordSegment]] — the token STRINGS
    // the count operators count) and each token looks its id up in a
    // broadcast map literal — map-only until the presentation sort.
    // The oracle DERIVES merges, segmentation, alphabet, and vocab
    // itself, so the id assignment is checked end to end. Encoded docs
    // capped at doc_id < 100 to bound the oracle's replay; the Spark
    // plan is the uncapped shape.
    QueryDef(
      "tok03_bpe_ids",
      (s, d) => {
        val merges = loadOrLearn(s, d)
        val mL = typedLit(merges.map(_.l))
        val mR = typedLit(merges.map(_.r))
        val docs = table(s, d, "documents")
        val baseChars = docs
          .select(explode(expr(wordsExpr)).as("w"))
          .select(explode(expr(
            "transform(sequence(1, length(w)), i -> substring(w, i, 1))"))
            .as("c"))
          .distinct().collect().map(_.getString(0)).toSeq
          .sortWith(utf8Lt)
        val vocab = scala.collection.mutable.LinkedHashMap[String, Int]()
        baseChars.zipWithIndex.foreach { case (c, i) => vocab.put(c, i) }
        merges.foreach { m =>
          val t = m.l + m.r
          if (!vocab.contains(t)) { vocab.put(t, baseChars.size + m.rank); () }
        }
        val vmap = typedLit(vocab.toMap)
        docs.filter(col("doc_id") < 100)
          .select(col("doc_id"),
                  posexplode(expr(wordsExpr)).as(Seq("wpos", "w")))
          .select(col("doc_id"), col("wpos"),
                  posexplode(Natives.call(s, "bpe_word_segment",
                    col("w"), mL, mR))
                    .as(Seq("spos", "token")))
          .select(col("doc_id"), col("wpos"), col("spos"), col("token"),
                  element_at(vmap, col("token")).as("token_id"))
          .orderBy("doc_id", "wpos", "spos")
      },
      Some(s"""WITH $learnCtesSql,
              |$mergeRowCteSql,
              |docs AS (SELECT doc_id, $wordsSql AS words
              |         FROM documents WHERE doc_id < 100),
              |wp0 AS (SELECT doc_id, words, unnest(range(len(words))) AS i
              |        FROM docs),
              |wp AS (SELECT doc_id, CAST(i AS INT) AS wpos, words[i + 1] AS w
              |       FROM wp0),
              |seg AS (SELECT doc_id, wpos, ${segListSql("w")} AS toks
              |        FROM wp, m),
              |tp0 AS (SELECT doc_id, wpos, toks, unnest(range(len(toks))) AS j
              |        FROM seg),
              |tp AS (SELECT doc_id, wpos, CAST(j AS INT) AS spos,
              |              toks[j + 1] AS token
              |       FROM tp0),
              |aw AS (SELECT unnest($wordsSql) AS w FROM documents),
              |chars AS (
              |  SELECT DISTINCT substring(w, i + 1, 1) AS c
              |  FROM (SELECT w, unnest(range(length(w))) AS i FROM aw)),
              |base AS (
              |  SELECT c AS token,
              |         CAST(row_number() OVER (ORDER BY c) - 1 AS INT) AS id
              |  FROM chars),
              |mg AS (
              |  SELECT l || r AS token,
              |         CAST((SELECT COUNT(*) FROM base) + rank AS INT) AS id
              |  FROM (${(0 until Merges).map(i => s"SELECT * FROM b$i")
                          .mkString(" UNION ALL ")})),
              |vocab AS (
              |  SELECT token, MIN(id) AS id
              |  FROM (SELECT * FROM base UNION ALL SELECT * FROM mg)
              |  GROUP BY token)
              |SELECT tp.doc_id, tp.wpos, tp.spos, tp.token,
              |       CAST(v.id AS INT) AS token_id
              |FROM tp JOIN vocab v ON v.token = tp.token
              |ORDER BY tp.doc_id, tp.wpos, tp.spos""".stripMargin)
    )
  )
}
