package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.QueryDef

/** Exact distributed quantiles with bounded state: the quantile dual of
  * the [[FrequentItems]] tier's two-pass heavy hitters.
  *
  * The existing quantile entries split the trade: x15 is exact but uses
  * Spark's `percentile`, which materializes every group's values in one
  * aggregation buffer (OOM at 100 TB); x16 is bounded-state but emits an
  * approximation gated by booleans. This tier gets BOTH — the emitted
  * number is the exact discrete quantile (an actual element of the data,
  * hash-checked against DuckDB `quantile_disc`), computed with only
  * bounded-size aggregation state — via sketch-bracketed refinement, the
  * classic distributed exact-order-statistic pattern:
  *
  *  1. SKETCH: one pass folds the values into a GK summary
  *     (`approx_percentile`, mergeable, ≤ O(accuracy·log n) entries,
  *     partial-aggregated like any COUNT) and reads off bracket values
  *     lo = q(p − 4ε), hi = q(p + 4ε) with ε = 1/accuracy — DOUBLE the
  *     margin the GK merge bound needs, so the bracket survives merge
  *     slop;
  *  2. RANK: one exact pass counts base = |{v < lo}| and
  *     rhi = |{v ≤ hi}| per bracket (conditional sums — map-side
  *     partial aggregation, a few longs of state);
  *  3. REFINE: the GK guarantee puts the target rank
  *     t = max(1, ceil(p·n)) strictly inside (base, rhi], so the answer
  *     is the (t − base)-th smallest of the ≤ ~10εn rows in [lo, hi] —
  *     a row_number window whose partitions hold only bracket rows.
  *
  * The emitted value is a function of the data alone — whatever bracket
  * the sketch produced, the refine step lands on the same order
  * statistic — so the entries hash-check even though the sketch content
  * is merge-order dependent (fi01's discipline). `bracket_ok`
  * (base < t ≤ rhi) rides along as the theorem's self-audit: a sketch
  * that ever broke its rank bound would flip the boolean AND break the
  * row hash loudly (the refine would pick a wrong row or none).
  *
  * Groups at or below the sketch accuracy short-circuit to
  * lo = min, hi = max — the bracket is the whole (small) group and the
  * refine is exact selection outright; the sketch path engages exactly
  * where it matters, past `accuracy` rows.
  *
  * Rank convention: t = max(1, ceil(p·n)), computed in INTEGER
  * arithmetic ((num·n + den − 1) DIV den with p = num/den) — matching
  * DuckDB's `quantile_disc` (verified: Postgres percentile_disc
  * convention) with no float boundary for the engines to disagree on.
  *
  * Reference anchor: the reference app's summary views aggregate with
  * AVG/COUNT only (harvard_artifacts_app.py:289-313); per-group
  * distribution tails are the first question its operators would add at
  * scale, and this is the shape that answers it at 100 TB.
  */
object Quantiles {
  import QueryDef.table

  /** (label, num, den, p): p = num/den exactly. */
  private type P = (String, Long, Long, Double)

  private def lohiArray(ps: Seq[P], acc: Int): Seq[Double] =
    ps.flatMap { case (_, _, _, p) =>
      Seq(math.max(0.0, p - 4.0 / acc), math.min(1.0, p + 4.0 / acc))
    }

  /** The full three-pass pipeline over `vals(groupCols*, "v")`.
    * `groupCols` empty = global (the one-row stats frame broadcasts). */
  private[graft] def bracketed(vals: DataFrame, groupCols: Seq[String],
                               ps: Seq[(String, Long, Long, Double)],
                               acc: Int): DataFrame = {
    val qs = lohiArray(ps, acc)
    val gcols = groupCols.map(col)
    def grouped(df: DataFrame) =
      if (groupCols.nonEmpty) df.groupBy(gcols: _*) else df.groupBy()
    // pass 1: sketch + extrema. min/max are the hard-edge overrides: a
    // clamped probe (pLo = 0 or pHi = 1) and the small-group fallback
    // both take the true extremum instead of trusting the sketch there.
    val stats = grouped(vals).agg(
      expr(s"approx_percentile(v, array(${qs.mkString(", ")}), $acc)")
        .as("bk"),
      count(lit(1)).as("n"),
      min("v").as("vmin"), max("v").as("vmax"))
    // the stats frame is consumed by BOTH the rank pass and the refine
    // long-form — without materialization Spark re-executes the whole
    // sketch scan for each consumer (no subplan CSE across joins).
    // Materialize.once (the cp02/dq03 discipline) pins the ≤
    // #groups-row summary once; the value stream itself is never
    // cached, so total cost is exactly three scans: sketch, rank,
    // refine.
    val withBrackets = Materialize.once(ps.zipWithIndex.foldLeft(stats) {
      case (df, ((_, _, _, p), i)) =>
        val pLo = math.max(0.0, p - 4.0 / acc)
        val pHi = math.min(1.0, p + 4.0 / acc)
        val lo =
          if (pLo == 0.0) col("vmin")
          else when(col("n") <= acc, col("vmin"))
            .otherwise(col("bk").getItem(2 * i))
        val hi =
          if (pHi == 1.0) col("vmax")
          else when(col("n") <= acc, col("vmax"))
            .otherwise(col("bk").getItem(2 * i + 1))
        df.withColumn(s"lo$i", lo).withColumn(s"hi$i", hi)
    }.drop("bk", "vmin", "vmax"))
    // pass 2: exact bracket ranks, one scan, conditional partial sums.
    // Unhinted join (fi02's rule): the group count is a corpus
    // property; AQE broadcasts the 20-source fixture on its own.
    val joined =
      if (groupCols.nonEmpty) vals.join(withBrackets, groupCols)
      else vals.crossJoin(broadcast(withBrackets))
    val rankCols = ps.indices.flatMap { i =>
      Seq(sum(when(col("v") < col(s"lo$i"), 1L).otherwise(0L))
            .as(s"base$i"),
          sum(when(col("v") <= col(s"hi$i"), 1L).otherwise(0L))
            .as(s"rhi$i"))
    }
    val ranks = grouped(joined).agg(rankCols.head, rankCols.tail: _*)
    val full =
      if (groupCols.nonEmpty) withBrackets.join(ranks, groupCols)
      else withBrackets.crossJoin(ranks)
    // long form: one row per (group, p) with its integer target rank
    val pf = full.select(gcols :+ col("n") :+ explode(array(
      ps.zipWithIndex.map { case ((pl, num, den, _), i) =>
        struct(lit(pl).as("plabel"),
               col(s"lo$i").as("lo"), col(s"hi$i").as("hi"),
               col(s"base$i").as("base"), col(s"rhi$i").as("rhi"),
               expr(s"(n * ${num}L + ${den - 1}L) DIV ${den}L").as("t0"))
      }: _*)).as("q"): _*)
      .select(gcols :+ col("n") :+ col("q.*"): _*)
      .withColumn("target", greatest(lit(1L), col("t0")))
    // pass 3: refine inside the bracket only — the window partitions
    // hold ≤ ~10εn rows by the GK bound (whole group on the small-n
    // fallback), never the full value stream
    val pj =
      if (groupCols.nonEmpty) vals.join(pf, groupCols)
      else vals.crossJoin(broadcast(pf))
    val w = Window.partitionBy((groupCols :+ "plabel").map(col): _*)
      .orderBy("v")
    pj.filter(col("v") >= col("lo") && col("v") <= col("hi"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === col("target") - col("base"))
      .select(gcols ++ Seq(col("plabel"), col("v").as("q_exact"),
        col("n").as("n_group"),
        (col("base") < col("target") && col("rhi") >= col("target"))
          .as("bracket_ok")): _*)
      .orderBy((groupCols :+ "plabel").map(col): _*)
  }

  private[graft] val PS3: Seq[P] =
    Seq(("p50", 1L, 2L, 0.5), ("p90", 9L, 10L, 0.9),
        ("p99", 99L, 100L, 0.99))

  /** Bounded integer histogram (bin = v DIV 8 → count) over a `v`
    * column — the exact, deterministic, addition-mergeable summary
    * st25 and its streaming twin persist across batches. */
  private[graft] def hist(df: DataFrame): DataFrame =
    df.groupBy(shiftright(col("v"), 3).as("bin"))
      .agg(count(lit(1)).as("cnt"))

  /** Exact p50/p90/p99 of `stream("v")` given its (exact) histogram:
    * CDF walk locates the single bin holding each target rank
    * (base < t ≤ cum — exact, the histogram is a group-count, not a
    * sketch), then an in-bin row_number selects the (t − base)-th
    * smallest. Returns (plabel, q_exact, n_stream). The unpartitioned
    * CDF window runs over SUMMARY rows (≤ domain/8 — a dozen for the
    * token-count domain), never values; at 100 TB a hot bin recurses
    * into sub-bins, at this domain the in-bin refine is already tiny. */
  private[graft] def histQuantiles(h: DataFrame, stream: DataFrame)
      : DataFrame = {
    val wc = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cdf = h
      .withColumn("cum", sum("cnt").over(wc))
      .withColumn("base", col("cum") - col("cnt"))
      .withColumn("n", sum("cnt").over(
        Window.orderBy("bin").rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
    val targets = cdf.select("n").limit(1).select(
      explode(array(PS3.map { case (pl, num, den, _) =>
        struct(lit(pl).as("plabel"),
          greatest(lit(1L),
            expr(s"(n * ${num}L + ${den - 1}L) DIV ${den}L"))
            .as("target"))
      }: _*)).as("q"), col("n"))
      .select(col("q.*"), col("n"))
    // exactly one bin satisfies base < t ≤ cum
    val picks = targets.join(broadcast(cdf.select("bin", "base", "cum")),
      col("base") < col("target") && col("target") <= col("cum"))
    val w = Window.partitionBy("plabel").orderBy("v")
    stream.join(broadcast(picks),
        shiftright(col("v"), 3) === col("bin"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === col("target") - col("base"))
      .select(col("plabel"), col("v").as("q_exact"),
              col("n").as("n_stream"))
  }

  private def qs01OracleBranch(p: String, first: Boolean): String = {
    val cols =
      if (first)
        s"'p$p' AS plabel, quantile_disc(v, 0.$p) AS q_exact, " +
          "COUNT(*) AS n_group, true AS bracket_ok"
      else s"'p$p', quantile_disc(v, 0.$p), COUNT(*), true"
    s"SELECT source, $cols FROM t GROUP BY source"
  }

  val all: Seq[QueryDef] = Seq(
    QueryDef(
      "qs01_grouped_exact_quantiles",
      // per-source p50/p90/p99 of doc token counts — integer values
      // with heavy ties, the adversarial case for discrete-quantile
      // tie handling. accuracy 100: the sketch path engages at sf0.1
      // (250 docs/source) and the small-group fallback covers the
      // smaller fixtures; both paths emit the same exact statistic.
      (s, d) => {
        val vals = table(s, d, "documents").select(
          col("source"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("v"))
        bracketed(vals, Seq("source"), PS3, acc = 100)
      },
      Some(("""WITH t AS (
              |  SELECT source,
              |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT)
              |      AS v
              |  FROM documents),
              |q AS (
              |""" +
        Seq("50", "90", "99").zipWithIndex.map { case (p, i) =>
          qs01OracleBranch(p, i == 0)
        }.mkString("\n|  UNION ALL\n|") + """
              |)
              |SELECT * FROM q ORDER BY source, plabel""").stripMargin)
    ),
    QueryDef(
      "qs02_global_exact_quantiles",
      // corpus-wide p50/p90/p99/p99.9 of order-line price — 600k
      // doubles at sf0.1, deep in the sketch regime (accuracy 1000 →
      // brackets hold ~0.8% of the stream). The answer is an actual
      // element of the column, so the double compares bit-exact with
      // no rounding convention in either engine. This is the x15
      // shape with the per-group full materialization removed: state
      // is one GK summary + 8 counters + a ~5k-row bracket sort.
      (s, d) => {
        val vals = table(s, d, "lineitem")
          .select(col("l_extendedprice").as("v"))
        bracketed(vals, Seq.empty,
          PS3 :+ (("p999", 999L, 1000L, 0.999)), acc = 1000)
      },
      Some("""WITH t AS (SELECT l_extendedprice AS v FROM lineitem),
             |q AS (
             |SELECT 'p50' AS plabel, quantile_disc(v, 0.5) AS q_exact,
             |  COUNT(*) AS n_group, true AS bracket_ok FROM t
             |  UNION ALL
             |SELECT 'p90', quantile_disc(v, 0.9), COUNT(*), true FROM t
             |  UNION ALL
             |SELECT 'p99', quantile_disc(v, 0.99), COUNT(*), true FROM t
             |  UNION ALL
             |SELECT 'p999', quantile_disc(v, 0.999), COUNT(*), true
             |  FROM t)
             |SELECT * FROM q ORDER BY plabel""".stripMargin)
    ),
    QueryDef(
      "qs03_weighted_quantiles",
      // WEIGHTED discrete quantiles: "the median doc is 40 tokens" and
      // "the median TOKEN-OF-CHARS sits in a doc of length q" are
      // different numbers whenever length and weight correlate — the
      // distinction a packing planner or a token-budget report needs
      // (qs01 answers by doc count; this answers by char mass, w =
      // n_chars). Exact and fully deterministic at the VALUE level:
      // aggregate weight per distinct v first (one bounded shuffle —
      // the 10..100 token domain has ≤ 91 distinct values; an
      // unbounded domain bins first, st25's recursion note), then the
      // weighted CDF crossing cum ≥ T = max(1, ceil(p·W)) picks the
      // answer, integer arithmetic end to end. The per-value weight
      // table is itself mergeable cross-batch state (sum by v), the
      // weighted sibling of st25's histogram.
      (s, d) => {
        val vals = table(s, d, "documents").select(
          TextAnalysis.tokenCount(col("text")).cast("long").as("v"),
          col("n_chars").cast("long").as("w"))
        val byV = vals.groupBy("v").agg(sum("w").as("wv"))
        val wc = Window.orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cdf = byV
          .withColumn("cum", sum("wv").over(wc))
          .withColumn("wtot", sum("wv").over(
            Window.orderBy("v").rowsBetween(
              Window.unboundedPreceding, Window.unboundedFollowing)))
        val targets = cdf.select("wtot").limit(1).select(
          explode(array(PS3.map { case (pl, num, den, _) =>
            struct(lit(pl).as("plabel"),
              greatest(lit(1L),
                expr(s"(wtot * ${num}L + ${den - 1}L) DIV ${den}L"))
                .as("target"))
          }: _*)).as("q"), col("wtot"))
          .select(col("q.*"), col("wtot"))
        // weights are positive, so exactly one value row crosses T
        targets.join(broadcast(cdf.select("v", "wv", "cum")),
            col("cum") >= col("target") &&
              col("cum") - col("wv") < col("target"))
          .select(col("plabel"), col("v").as("q_weighted"),
                  col("wtot").as("total_w"))
          .orderBy("plabel")
      },
      Some("""WITH t AS (
             |  SELECT
             |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT)
             |      AS v,
             |    CAST(n_chars AS BIGINT) AS w
             |  FROM documents),
             |byv AS (
             |  SELECT v, CAST(SUM(w) AS BIGINT) AS wv FROM t GROUP BY v),
             |w1 AS (SELECT CAST(SUM(wv) AS BIGINT) AS wtot FROM byv),
             |cdf AS (
             |  SELECT v, wv,
             |    CAST(SUM(wv) OVER (ORDER BY v) AS BIGINT) AS cum
             |  FROM byv),
             |tg AS (
             |  SELECT 'p50' AS plabel,
             |    GREATEST(1, (1 * wtot + 1) // 2) AS target, wtot FROM w1
             |  UNION ALL
             |  SELECT 'p90', GREATEST(1, (9 * wtot + 9) // 10), wtot
             |    FROM w1
             |  UNION ALL
             |  SELECT 'p99', GREATEST(1, (99 * wtot + 99) // 100), wtot
             |    FROM w1)
             |SELECT plabel, v AS q_weighted, wtot AS total_w
             |FROM tg JOIN cdf
             |  ON cdf.cum >= tg.target AND cdf.cum - cdf.wv < tg.target
             |ORDER BY plabel""".stripMargin)
    ),
    QueryDef(
      "st25_incremental_quantiles",
      // streaming quantile tracking in batch form: documents arrive as
      // two micro-batches (doc_id parity); after each, the gate
      // publishes exact p50/p90/p99 of token counts SO FAR. The
      // cross-batch state is a bounded INTEGER HISTOGRAM (bin = v DIV
      // 8 → count): exact, deterministic, and mergeable by addition —
      // epoch 2's CDF reads h1 + h2, never epoch 1's values. The CDF
      // walk locates the one bin holding the target rank (base <
      // t ≤ cum — exact, not approximate, because the histogram is an
      // exact group-count); the refine selects the (t − base)-th
      // smallest within that single bin against the stream-so-far
      // (st24's recount discipline — the retained corpus a curation
      // gate stores anyway). At 100 TB a hot bin recurses into
      // sub-bins; at this domain (token counts, bin width 8) the
      // in-bin refine is already tiny. Fully exact end to end, so the
      // entry hash-checks with no guarantee booleans at all.
      (s, d) => {
        val vals = table(s, d, "documents").select(
          col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("v"))
        val e1 = vals.filter(col("doc_id") % 2 === 0).select("v")
        val e2 = vals.filter(col("doc_id") % 2 === 1).select("v")
        // h1 is the persisted cross-batch state: materialize the ≤
        // domain/8-row summary once (epoch-1 CDF + the epoch-2 merge
        // both read it; without this the e1 scan re-runs per consumer)
        val h1 = Materialize.once(hist(e1))
        // the hand-off: epoch 2's summary = h1 merged with the new
        // batch's histogram — pure addition on ≤ domain/8 rows
        val h12 = h1.unionByName(hist(e2))
          .groupBy("bin").agg(sum("cnt").as("cnt"))
        def epoch(e: Int, h: DataFrame, stream: DataFrame) =
          histQuantiles(h, stream)
            .select(lit(e).as("epoch"), col("plabel"),
                    col("q_exact"), col("n_stream"))
        epoch(1, h1, e1)
          .unionByName(epoch(2, h12, e1.unionByName(e2)))
          .orderBy("epoch", "plabel")
      },
      Some("""WITH t AS (
             |  SELECT doc_id % 2 AS par,
             |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT)
             |      AS v
             |  FROM documents),
             |q AS (
             |SELECT 1 AS epoch, 'p50' AS plabel,
             |  quantile_disc(v, 0.5) AS q_exact, COUNT(*) AS n_stream
             |  FROM t WHERE par = 0
             |  UNION ALL
             |SELECT 1, 'p90', quantile_disc(v, 0.9), COUNT(*) FROM t
             |  WHERE par = 0
             |  UNION ALL
             |SELECT 1, 'p99', quantile_disc(v, 0.99), COUNT(*) FROM t
             |  WHERE par = 0
             |  UNION ALL
             |SELECT 2, 'p50', quantile_disc(v, 0.5), COUNT(*) FROM t
             |  UNION ALL
             |SELECT 2, 'p90', quantile_disc(v, 0.9), COUNT(*) FROM t
             |  UNION ALL
             |SELECT 2, 'p99', quantile_disc(v, 0.99), COUNT(*) FROM t)
             |SELECT * FROM q ORDER BY epoch, plabel""".stripMargin)
    )
  )
}
