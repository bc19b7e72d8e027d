package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.QueryDef

/** Iterative graph computation — the operator class (PageRank /
  * label-propagation / influence) every corpus-curation stack
  * eventually needs: "which tokens/domains/sources sit at the center
  * of the link structure". The reference app has no graph surface
  * (harvard_artifacts_app.py's 20 templates are all single-pass
  * relational — SURVEY.md §2.4); this module adds the Spark-first
  * form: each iteration is ONE shuffle (edges join ranks on src,
  * partial-agg by dst), state between iterations is a plain
  * node-keyed DataFrame, and the iteration count is fixed and small —
  * exactly how join-based Pregel runs on a 1000-executor cluster
  * (GraphX's Pregel is the same plan with RDD plumbing; the DataFrame
  * form gets AQE, codegen, and columnar shuffle for free).
  *
  * Determinism discipline: ranks are SCALED INTEGERS (1e9 = rank 1.0)
  * and every per-step operation is integer floor arithmetic —
  * `contrib(u→v) = (85 · (r(u) DIV outdeg(u))) DIV 100`,
  * `r'(v) = 0.15·S + Σ contrib` — so summation order cannot perturb
  * the result (long addition is associative) and Spark and DuckDB
  * agree bit-for-bit, the same integer-arithmetic discipline the
  * exact-quantile tier (qs01–qs03) uses. Dangling mass is dropped,
  * not redistributed (both engines implement the same definition).
  *
  * Overflow headroom: total system mass ≤ N·S ≈ 1e6·1e9 = 1e15 on the
  * 30× staged corpus; the ×85 step peaks at ~1e17 « 2^63.
  */
object GraphOps {
  import QueryDef.table

  /** Scaled-integer unit: rank 1.0 ≡ 1e9. */
  private val S = 1000000000L
  private val Iters = 3

  /** Distinct directed token-bigram edges (u→v, u ≠ v), lower-cased
    * whitespace tokens — the co-occurrence graph over the corpus
    * vocabulary. One expression-only pass; the distinct is the only
    * shuffle and is the graph's natural size. */
  private def tokenEdges(docs: DataFrame): DataFrame = {
    val toks = filter(split(lower(trim(col("text"))), "\\s+"),
                      t => length(t) > 0)
    docs
      .select(toks.as("__toks"))
      .select(explode(zip_with(
        slice(col("__toks"), lit(1), greatest(size(col("__toks")) - 1, lit(0))),
        slice(col("__toks"), lit(2), greatest(size(col("__toks")) - 1, lit(0))),
        (a, b) => struct(a.as("u"), b.as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Undirected distinct token-bigram edges (a < b) — the graph this
    * tier runs on; the public seam the incremental/streaming twin
    * (st27, `EventStreams.incrementalKCore`) shares with the batch
    * entries so row-equality is structural. */
  def undirectedEdges(docs: DataFrame): DataFrame = {
    val e = tokenEdges(docs)
    e.select(least(col("u"), col("v")).as("a"),
             greatest(col("u"), col("v")).as("b")).distinct()
  }

  /** Degree census `(tk, dg)` of an undirected edge list — one
    * partial-agg shuffle; the tier's mergeable cross-batch state
    * (degree counts over DISJOINT edge deltas add). */
  def degreeCensus(e: DataFrame): DataFrame =
    e.select(col("a").as("tk")).union(e.select(col("b")))
      .groupBy("tk").agg(count(lit(1)).as("dg"))

  /** 3-round k-core peel summary where ROUND 0's census is INJECTED —
    * the incremental hand-off: the caller passes the maintained degree
    * state (st27's additive census), round 0 reports it and round 1
    * peels WITH ITS keep set (the state is load-bearing, not
    * decorative); later rounds recount from survivors, as any peel
    * must (peeling changes degrees). Per-round [[Materialize.once]]
    * for the gr03 lineage reason (O(rounds²) re-peel otherwise —
    * measured 38.7 → 3.8 s at 30×). */
  def peelSummary(e0in: DataFrame, c0in: DataFrame, k: Int): DataFrame = {
    val e0 = Materialize.once(e0in) // st27's inputs are checkpoints
    val c0 = Materialize.once(c0in)
    def restrict(e: DataFrame, keep: DataFrame) =
      e.join(keep.withColumnRenamed("tk", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("tk", "b"), Seq("b"), "left_semi")
        .select("a", "b")
    val e1 = Materialize.once(
      restrict(e0, c0.filter(col("dg") >= k).select("tk")))
    val c1 = Materialize.once(degreeCensus(e1))
    val e2 = Materialize.once(
      restrict(e1, c1.filter(col("dg") >= k).select("tk")))
    val c2 = Materialize.once(degreeCensus(e2))
    Seq((0, e0, c0), (1, e1, c1), (2, e2, c2)).map { case (i, e, c) =>
      e.agg(count(lit(1)).as("n_edges"))
        .crossJoin(c.agg(count(lit(1)).as("n_nodes"),
          coalesce(sum(when(col("dg") >= k, 1L).otherwise(0L)), lit(0L))
            .as("n_core_candidates")))
        .select(lit(i).as("round"), col("n_nodes"), col("n_edges"),
                col("n_core_candidates"))
    }.reduce(_ unionByName _)
  }

  val all: Seq[QueryDef] = Seq(
    QueryDef(
      "gr01_token_pagerank",
      // 3-iteration PageRank over the token co-occurrence graph,
      // top-20 hubs. At 100 TB each iteration shuffles the EDGE list
      // once (join on u, agg by v) — never materializes anything
      // bigger than edges + a node-keyed rank table; a real run
      // checkpoints the rank table every few iterations to cut
      // lineage, which changes nothing semantically (every step is
      // deterministic integer math).
      (s, d) => {
        // (r18 measured-and-rejected: eagerly checkpointing the edge
        // list — it feeds deg/nodes/three iteration joins — read 1.49 →
        // 1.62 s warm median; ReuseExchange already shares the repeated
        // distinct subtree and the checkpoint job costs more than the
        // planning it saves.)
        val edges = tokenEdges(table(s, d, "documents"))
        val deg = edges.groupBy("u").agg(count(lit(1)).as("d"))
        val nodes = edges.select(col("u").as("tk"))
          .union(edges.select(col("v"))).distinct()
        val ed = edges.join(deg, "u")
        var r = nodes.withColumn("r", lit(S))
        for (_ <- 1 to Iters) {
          val contrib = ed.join(r, col("u") === col("tk"))
            .select(col("v").as("tk"),
              expr("(85L * (r DIV d)) DIV 100L").as("c"))
            .groupBy("tk").agg(sum("c").as("c"))
          r = nodes.join(contrib, Seq("tk"), "left")
            .select(col("tk"),
              (lit(S * 15L / 100L) + coalesce(col("c"), lit(0L))).as("r"))
        }
        r.select(col("tk").as("token"), col("r").as("pr"))
          .orderBy(col("pr").desc, col("token")).limit(20)
      },
      Some("""WITH t AS (
             |  SELECT list_filter(
             |    string_split_regex(lower(trim(text)), '\s+'),
             |    tk -> len(tk) > 0) AS toks
             |  FROM documents),
             |e0 AS MATERIALIZED (
             |  SELECT DISTINCT toks[i+1] AS u, toks[i+2] AS v
             |  FROM t, (SELECT unnest(range(len(toks))) AS i)
             |  WHERE i < len(toks) - 1 AND toks[i+1] <> toks[i+2]),
             |deg AS MATERIALIZED (SELECT u, COUNT(*) AS d FROM e0 GROUP BY u),
             |nodes AS MATERIALIZED (SELECT u AS tk FROM e0 UNION SELECT v FROM e0),
             |r0 AS MATERIALIZED (SELECT tk, CAST(1000000000 AS BIGINT) AS r FROM nodes),
             |c1 AS MATERIALIZED (
             |  SELECT e0.v AS tk,
             |    CAST(SUM((85 * (r0.r // deg.d)) // 100) AS BIGINT) AS c
             |  FROM e0 JOIN deg ON e0.u = deg.u JOIN r0 ON r0.tk = e0.u
             |  GROUP BY e0.v),
             |r1 AS MATERIALIZED (
             |  SELECT n.tk, 150000000 + COALESCE(c1.c, 0) AS r
             |  FROM nodes n LEFT JOIN c1 ON c1.tk = n.tk),
             |c2 AS MATERIALIZED (
             |  SELECT e0.v AS tk,
             |    CAST(SUM((85 * (r1.r // deg.d)) // 100) AS BIGINT) AS c
             |  FROM e0 JOIN deg ON e0.u = deg.u JOIN r1 ON r1.tk = e0.u
             |  GROUP BY e0.v),
             |r2 AS MATERIALIZED (
             |  SELECT n.tk, 150000000 + COALESCE(c2.c, 0) AS r
             |  FROM nodes n LEFT JOIN c2 ON c2.tk = n.tk),
             |c3 AS MATERIALIZED (
             |  SELECT e0.v AS tk,
             |    CAST(SUM((85 * (r2.r // deg.d)) // 100) AS BIGINT) AS c
             |  FROM e0 JOIN deg ON e0.u = deg.u JOIN r2 ON r2.tk = e0.u
             |  GROUP BY e0.v),
             |r3 AS MATERIALIZED (
             |  SELECT n.tk, 150000000 + COALESCE(c3.c, 0) AS r
             |  FROM nodes n LEFT JOIN c3 ON c3.tk = n.tk)
             |SELECT tk AS token, CAST(r AS BIGINT) AS pr FROM r3
             |ORDER BY pr DESC, token LIMIT 20""".stripMargin)
    ),
    QueryDef(
      "gr02_triangle_count",
      // global triangle census + clustering coefficient over the
      // UNDIRECTED token co-occurrence graph — the degree-ordered
      // algorithm, which is what survives scale: orient every edge
      // from its (degree, token)-smaller endpoint, so each wedge is
      // enumerated exactly once AT ITS LOWEST-DEGREE VERTEX. The hub
      // that would explode a naive wedge join (d² pairs at "the")
      // contributes only wedges where IT is the small endpoint —
      // total wedge volume is bounded by O(m^1.5) regardless of skew,
      // the classic result the naive neighbor-pair join lacks. Plan:
      // one self-join of the oriented edge list on the source (wedge
      // generation), one semi-ish join probing the closing edge —
      // both equi-joins AQE can plan; no vertex ever needs its full
      // neighborhood in memory. All arithmetic is integer (the
      // coefficient ships as ppm via integer division), so the single
      // output row is hash-exact against the unrolled DuckDB oracle.
      (s, d) => {
        val und = {
          val e = tokenEdges(table(s, d, "documents"))
          e.select(least(col("u"), col("v")).as("a"),
                   greatest(col("u"), col("v")).as("b")).distinct()
        }
        val deg = und.select(col("a").as("tk"))
          .union(und.select(col("b")))
          .groupBy("tk").agg(count(lit(1)).as("dg"))
        // orient a—b from the (degree, token)-smaller endpoint; carry
        // the target's (degree, token) key so wedge pairs can be
        // ordered by the SAME total order the orientation uses
        val o = und
          .join(deg.select(col("tk").as("a"), col("dg").as("da")), "a")
          .join(deg.select(col("tk").as("b"), col("dg").as("db")), "b")
          .select(
            when(col("da") < col("db") ||
                 (col("da") === col("db") && col("a") < col("b")),
                 struct(col("a").as("s"), col("b").as("t"),
                        col("db").as("dt")))
              .otherwise(struct(col("b").as("s"), col("a").as("t"),
                                col("da").as("dt"))).as("e"))
          .select(col("e.s").as("s"), col("e.t").as("t"),
                  col("e.dt").as("dt"))
        val wedges = o.as("e1").join(o.as("e2"),
            col("e1.s") === col("e2.s") &&
              (col("e1.dt") < col("e2.dt") ||
               (col("e1.dt") === col("e2.dt") &&
                col("e1.t") < col("e2.t"))))
          .select(col("e1.t").as("x"), col("e2.t").as("y"))
        val tri = wedges.join(o.select(col("s").as("x"), col("t").as("y")),
                              Seq("x", "y"), "left_semi")
        // the published wedge count is the TRUE path-2 census
        // Σ_v C(deg(v),2) (from degrees alone — no join), so the
        // coefficient is the standard 3·tri/wedges ≤ 1; the oriented
        // join above enumerates each triangle exactly once and its
        // volume is the O(m^1.5)-bounded diagnostic, not a statistic
        und.agg(count(lit(1)).as("n_edges"))
          .crossJoin(deg.agg(
            sum(expr("dg * (dg - 1L) DIV 2L")).as("n_wedges")))
          .crossJoin(tri.agg(count(lit(1)).as("n_triangles")))
          .select(col("n_edges"), col("n_wedges"), col("n_triangles"),
            expr("(3L * n_triangles * 1000000L) DIV greatest(n_wedges, 1L)")
              .as("gcc_ppm"))
      },
      Some("""WITH t AS (
             |  SELECT list_filter(
             |    string_split_regex(lower(trim(text)), '\s+'),
             |    tk -> len(tk) > 0) AS toks
             |  FROM documents),
             |e0 AS (
             |  SELECT DISTINCT toks[i+1] AS u, toks[i+2] AS v
             |  FROM t, (SELECT unnest(range(len(toks))) AS i)
             |  WHERE i < len(toks) - 1 AND toks[i+1] <> toks[i+2]),
             |und AS (
             |  SELECT DISTINCT LEAST(u, v) AS a, GREATEST(u, v) AS b
             |  FROM e0),
             |deg AS (
             |  SELECT tk, COUNT(*) AS dg FROM (
             |    SELECT a AS tk FROM und UNION ALL SELECT b FROM und)
             |  GROUP BY tk),
             |o AS (
             |  SELECT
             |    CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND und.a < und.b)
             |         THEN und.a ELSE und.b END AS s,
             |    CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND und.a < und.b)
             |         THEN und.b ELSE und.a END AS tgt,
             |    CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND und.a < und.b)
             |         THEN db.dg ELSE da.dg END AS dt
             |  FROM und
             |  JOIN deg da ON da.tk = und.a
             |  JOIN deg db ON db.tk = und.b),
             |w AS (
             |  SELECT e1.tgt AS x, e2.tgt AS y
             |  FROM o e1 JOIN o e2
             |    ON e1.s = e2.s
             |   AND (e1.dt < e2.dt OR (e1.dt = e2.dt AND e1.tgt < e2.tgt))),
             |tri AS (
             |  SELECT w.x, w.y FROM w
             |  WHERE EXISTS (SELECT 1 FROM o
             |                WHERE o.s = w.x AND o.tgt = w.y))
             |SELECT
             |  (SELECT COUNT(*) FROM und) AS n_edges,
             |  (SELECT CAST(SUM(dg * (dg - 1) // 2) AS BIGINT) FROM deg)
             |    AS n_wedges,
             |  (SELECT COUNT(*) FROM tri) AS n_triangles,
             |  (3 * (SELECT COUNT(*) FROM tri) * 1000000)
             |    // GREATEST((SELECT CAST(SUM(dg * (dg - 1) // 2) AS BIGINT)
             |                 FROM deg), 1) AS gcc_ppm""".stripMargin)
    ),
    QueryDef(
      "gr02a_triangle_estimate",
      // the sketch-tier sibling of gr02 (the x14 discipline): Doulion
      // edge sampling — keep each undirected edge with probability p
      // via the engine-portable md5-fraction gate (dm09/x21's
      // primitive, so BOTH engines draw the identical sample), count
      // triangles EXACTLY on the sampled graph with gr02's
      // degree-ordered join, scale by 1/p³. p adapts to the graph:
      // p = min(1/2, 12/√m) — constant 1/2 at fixture widths (the
      // estimates below are real, not cap artifacts) and shrinking at
      // scale so the wedge volume ~p²·W stays near-linear in edges
      // where gr02's exact census grows super-linearly (26× at the r11
      // 100× probe). Everything published is deterministic integer /
      // boolean arithmetic over the deterministic samples, so the row
      // is hash-exact: TWO independent samples (different salt) each
      // publish edge/triangle counts and estimates, and `stability_ok`
      // bounds their disagreement (50% ∨ the 4/p³ few-sampled-triangle
      // noise floor — measured A/B disagreement ≤ 8.8% across the
      // three fixture SFs, a 5× margin). gr02 in the same registry is
      // the exact anchor the estimates bracket (measured 2.4–13%
      // error at p = 1/2 on the fixtures).
      (s, d) => {
        val und = Materialize.once {
          val e = tokenEdges(table(s, d, "documents"))
          e.select(least(col("u"), col("v")).as("a"),
                   greatest(col("u"), col("v")).as("b")).distinct()
        }
        val m = und.count()
        val p = math.min(0.5, 12.0 / math.sqrt(m.toDouble))
        def hf(salted: org.apache.spark.sql.Column) =
          graft.analytics.DataMix.hashFraction(salted)
        def triCount(e: DataFrame): DataFrame = {
          val deg = e.select(col("a").as("tk"))
            .union(e.select(col("b")))
            .groupBy("tk").agg(count(lit(1)).as("dg"))
          val o = e
            .join(deg.select(col("tk").as("a"), col("dg").as("da")), "a")
            .join(deg.select(col("tk").as("b"), col("dg").as("db")), "b")
            .select(
              when(col("da") < col("db") ||
                   (col("da") === col("db") && col("a") < col("b")),
                   struct(col("a").as("s"), col("b").as("t"),
                          col("db").as("dt")))
                .otherwise(struct(col("b").as("s"), col("a").as("t"),
                                  col("da").as("dt"))).as("e"))
            .select(col("e.s").as("s"), col("e.t").as("t"),
                    col("e.dt").as("dt"))
          val wedges = o.as("e1").join(o.as("e2"),
              col("e1.s") === col("e2.s") &&
                (col("e1.dt") < col("e2.dt") ||
                 (col("e1.dt") === col("e2.dt") &&
                  col("e1.t") < col("e2.t"))))
            .select(col("e1.t").as("x"), col("e2.t").as("y"))
          wedges.join(o.select(col("s").as("x"), col("t").as("y")),
                      Seq("x", "y"), "left_semi")
            .agg(count(lit(1)).as("n_tri"))
        }
        val sa = triCount(und.filter(
          hf(concat_ws("|", col("a"), col("b"))) < p))
        val sb = triCount(und.filter(
          hf(concat_ws("|", lit("x"), col("a"), col("b"))) < p))
        val ea = und.filter(hf(concat_ws("|", col("a"), col("b"))) < p)
          .agg(count(lit(1)).as("n_edges_a"))
        val eb = und
          .filter(hf(concat_ws("|", lit("x"), col("a"), col("b"))) < p)
          .agg(count(lit(1)).as("n_edges_b"))
        val scale = lit(1.0 / (p * p * p))
        und.agg(count(lit(1)).as("n_edges"))
          .crossJoin(ea).crossJoin(eb)
          .crossJoin(sa.select(col("n_tri").as("n_tri_a")))
          .crossJoin(sb.select(col("n_tri").as("n_tri_b")))
          .select(col("n_edges"), col("n_edges_a"), col("n_edges_b"),
            col("n_tri_a"), col("n_tri_b"),
            round(col("n_tri_a") * scale).cast("bigint").as("est_a"),
            round(col("n_tri_b") * scale).cast("bigint").as("est_b"),
            (abs(col("n_tri_a") * scale - col("n_tri_b") * scale) <=
              greatest((col("n_tri_a") + col("n_tri_b")) * scale * 0.25,
                       lit(4.0) * scale)).as("stability_ok"))
      },
      Some {
        def hfSql(e: String) = graft.analytics.DataMix.hashFractionSql(e)
        def triSql(tag: String, pred: String) =
          s"""und_$tag AS (SELECT a, b FROM und WHERE $pred),
             |deg_$tag AS (
             |  SELECT tk, COUNT(*) AS dg FROM (
             |    SELECT a AS tk FROM und_$tag
             |    UNION ALL SELECT b FROM und_$tag)
             |  GROUP BY tk),
             |o_$tag AS (
             |  SELECT
             |    CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND u.a < u.b)
             |         THEN u.a ELSE u.b END AS s,
             |    CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND u.a < u.b)
             |         THEN u.b ELSE u.a END AS tgt,
             |    CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND u.a < u.b)
             |         THEN db.dg ELSE da.dg END AS dt
             |  FROM und_$tag u
             |  JOIN deg_$tag da ON da.tk = u.a
             |  JOIN deg_$tag db ON db.tk = u.b),
             |w_$tag AS (
             |  SELECT e1.tgt AS x, e2.tgt AS y
             |  FROM o_$tag e1 JOIN o_$tag e2
             |    ON e1.s = e2.s
             |   AND (e1.dt < e2.dt OR (e1.dt = e2.dt AND e1.tgt < e2.tgt))),
             |tri_$tag AS (
             |  SELECT w.x, w.y FROM w_$tag w
             |  WHERE EXISTS (SELECT 1 FROM o_$tag o
             |                WHERE o.s = w.x AND o.tgt = w.y))""".stripMargin
        s"""WITH t AS (
           |  SELECT list_filter(
           |    string_split_regex(lower(trim(text)), '\\s+'),
           |    tk -> len(tk) > 0) AS toks
           |  FROM documents),
           |e0 AS (
           |  SELECT DISTINCT toks[i+1] AS u, toks[i+2] AS v
           |  FROM t, (SELECT unnest(range(len(toks))) AS i)
           |  WHERE i < len(toks) - 1 AND toks[i+1] <> toks[i+2]),
           |und AS MATERIALIZED (
           |  SELECT DISTINCT LEAST(u, v) AS a, GREATEST(u, v) AS b
           |  FROM e0),
           |pp AS MATERIALIZED (
           |  SELECT LEAST(0.5, 12.0 / sqrt(COUNT(*))) AS p FROM und),
           |${triSql("a", s"${hfSql("a || '|' || b")} < (SELECT p FROM pp)")},
           |${triSql("b", s"${hfSql("'x' || '|' || a || '|' || b")} < (SELECT p FROM pp)")}
           |SELECT
           |  (SELECT COUNT(*) FROM und) AS n_edges,
           |  (SELECT COUNT(*) FROM und_a) AS n_edges_a,
           |  (SELECT COUNT(*) FROM und_b) AS n_edges_b,
           |  (SELECT COUNT(*) FROM tri_a) AS n_tri_a,
           |  (SELECT COUNT(*) FROM tri_b) AS n_tri_b,
           |  CAST(round((SELECT COUNT(*) FROM tri_a) *
           |    (1.0 / ((SELECT p FROM pp) * (SELECT p FROM pp) *
           |            (SELECT p FROM pp)))) AS BIGINT) AS est_a,
           |  CAST(round((SELECT COUNT(*) FROM tri_b) *
           |    (1.0 / ((SELECT p FROM pp) * (SELECT p FROM pp) *
           |            (SELECT p FROM pp)))) AS BIGINT) AS est_b,
           |  true AS stability_ok""".stripMargin
      }
    ),

    QueryDef(
      "gr03_kcore_peel",
      // bounded-round k-core peeling (k = 4): repeatedly drop vertices
      // of degree < k and the edges they carry — the standard
      // distributed k-core algorithm IS this synchronized peel, run to
      // fixpoint; this entry pins the first 3 rounds plus a converged
      // flag, which is exactly what one inspects when deciding whether
      // a corpus's vocabulary graph has a dense backbone worth
      // boilerplate-mining. Each round is one degree census (one
      // partial-agg shuffle) + two semi-joins restricting the edge
      // list — cost ∝ surviving edges, monotonically shrinking, and
      // nothing materializes per-vertex neighborhoods. Integer counts
      // only ⇒ hash-exact; the DuckDB oracle unrolls the rounds.
      (s, d) => {
        val k = 4
        def census(e: DataFrame): DataFrame =
          e.select(col("a").as("tk")).union(e.select(col("b")))
            .groupBy("tk").agg(count(lit(1)).as("dg"))
        def peel(e: DataFrame): DataFrame = {
          val keep = census(e).filter(col("dg") >= k).select("tk")
          e.join(keep.withColumnRenamed("tk", "a"), Seq("a"), "left_semi")
            .join(keep.withColumnRenamed("tk", "b"), Seq("b"), "left_semi")
            .select("a", "b")
        }
        val e0 = {
          val e = tokenEdges(table(s, d, "documents"))
          e.select(least(col("u"), col("v")).as("a"),
                   greatest(col("u"), col("v")).as("b")).distinct()
        }
        // checkpoint each round's survivors: without it round r's plan
        // re-runs every earlier peel (O(rounds²) passes over the edge
        // list — measured 38.7 s → 3.8 s at the 30× corpus); with it
        // each round is computed exactly once, which is also how a
        // real fixpoint loop must run (lineage cannot grow per round)
        val rounds = Iterator.iterate(Materialize.once(e0))(e =>
          Materialize.once(peel(e))).take(4).toSeq
        rounds.zipWithIndex.map { case (e, i) =>
          e.agg(count(lit(1)).as("n_edges"))
            .crossJoin(census(e).agg(
              count(lit(1)).as("n_nodes"),
              coalesce(sum(when(col("dg") >= k, 1L).otherwise(0L)),
                       lit(0L)).as("n_core_candidates")))
            .select(lit(i).as("round"), col("n_nodes"), col("n_edges"),
                    col("n_core_candidates"))
        }.reduce(_ unionByName _)
          .orderBy("round")
      },
      Some("""WITH t AS (
             |  SELECT list_filter(
             |    string_split_regex(lower(trim(text)), '\s+'),
             |    tk -> len(tk) > 0) AS toks
             |  FROM documents),
             |eD AS MATERIALIZED (
             |  SELECT DISTINCT toks[i+1] AS u, toks[i+2] AS v
             |  FROM t, (SELECT unnest(range(len(toks))) AS i)
             |  WHERE i < len(toks) - 1 AND toks[i+1] <> toks[i+2]),
             |e0 AS MATERIALIZED (
             |  SELECT DISTINCT LEAST(u, v) AS a, GREATEST(u, v) AS b
             |  FROM eD),
             |d0 AS MATERIALIZED (
             |  SELECT tk, COUNT(*) AS dg FROM (
             |    SELECT a AS tk FROM e0 UNION ALL SELECT b FROM e0)
             |  GROUP BY tk),
             |k0 AS MATERIALIZED (SELECT tk FROM d0 WHERE dg >= 4),
             |e1 AS MATERIALIZED (
             |  SELECT a, b FROM e0
             |  WHERE a IN (SELECT tk FROM k0) AND b IN (SELECT tk FROM k0)),
             |d1 AS MATERIALIZED (
             |  SELECT tk, COUNT(*) AS dg FROM (
             |    SELECT a AS tk FROM e1 UNION ALL SELECT b FROM e1)
             |  GROUP BY tk),
             |k1 AS MATERIALIZED (SELECT tk FROM d1 WHERE dg >= 4),
             |e2 AS MATERIALIZED (
             |  SELECT a, b FROM e1
             |  WHERE a IN (SELECT tk FROM k1) AND b IN (SELECT tk FROM k1)),
             |d2 AS MATERIALIZED (
             |  SELECT tk, COUNT(*) AS dg FROM (
             |    SELECT a AS tk FROM e2 UNION ALL SELECT b FROM e2)
             |  GROUP BY tk),
             |k2 AS MATERIALIZED (SELECT tk FROM d2 WHERE dg >= 4),
             |e3 AS MATERIALIZED (
             |  SELECT a, b FROM e2
             |  WHERE a IN (SELECT tk FROM k2) AND b IN (SELECT tk FROM k2)),
             |d3 AS MATERIALIZED (
             |  SELECT tk, COUNT(*) AS dg FROM (
             |    SELECT a AS tk FROM e3 UNION ALL SELECT b FROM e3)
             |  GROUP BY tk),
             |r AS (
             |  SELECT 0 AS round, (SELECT COUNT(*) FROM d0) AS n_nodes,
             |    (SELECT COUNT(*) FROM e0) AS n_edges,
             |    (SELECT COALESCE(CAST(SUM(CASE WHEN dg >= 4 THEN 1
             |      ELSE 0 END) AS BIGINT), 0) FROM d0) AS n_core_candidates
             |  UNION ALL
             |  SELECT 1, (SELECT COUNT(*) FROM d1),
             |    (SELECT COUNT(*) FROM e1),
             |    (SELECT COALESCE(CAST(SUM(CASE WHEN dg >= 4 THEN 1
             |      ELSE 0 END) AS BIGINT), 0) FROM d1)
             |  UNION ALL
             |  SELECT 2, (SELECT COUNT(*) FROM d2),
             |    (SELECT COUNT(*) FROM e2),
             |    (SELECT COALESCE(CAST(SUM(CASE WHEN dg >= 4 THEN 1
             |      ELSE 0 END) AS BIGINT), 0) FROM d2)
             |  UNION ALL
             |  SELECT 3, (SELECT COUNT(*) FROM d3),
             |    (SELECT COUNT(*) FROM e3),
             |    (SELECT COALESCE(CAST(SUM(CASE WHEN dg >= 4 THEN 1
             |      ELSE 0 END) AS BIGINT), 0) FROM d3))
             |SELECT * FROM r ORDER BY round""".stripMargin)
    ),

    QueryDef(
      "st27_incremental_kcore",
      // the graph tier's INCREMENTAL twin (st24/st25/st26's
      // versioned-state protocol applied to k-core): documents arrive
      // as two epochs (doc_id parity); the cross-batch decision state
      // is the DEGREE CENSUS alone — epoch 2 derives its census by
      // ADDING the census of the NEW edges (epoch-2 edges anti-joined
      // against the epoch-1 store: degree counts over disjoint edge
      // deltas are additive), never by recounting the retained edge
      // list. Each epoch publishes the 3-round k=4 peel of the
      // edges-so-far ([[peelSummary]]): round 0 reports the maintained
      // census and round 1 peels with ITS keep set, so a broken merge
      // changes published rows; `census_merge_ok` additionally pins
      // incremental ≡ recount as a hash-checked boolean. The retained
      // edge store is the corpus a graph service keeps anyway (the
      // st24 gram-store discipline); the streaming form
      // (`EventStreams.incrementalKCore`) runs the identical per-batch
      // step through versioned replay-idempotent state files, pinned
      // row-equal + replay-stable in GraphOpsSpec.
      (s, d) => {
        val docs = table(s, d, "documents")
        // the two epochs' edge materializations are independent eager
        // jobs — overlap them from driver threads (guide §2.6)
        val (e1, eAll) = ParActions.both(
          () => Materialize.once(
            undirectedEdges(docs.filter(col("doc_id") % 2 === 0))),
          () => Materialize.once(undirectedEdges(docs)))
        val delta = eAll.join(e1, Seq("a", "b"), "left_anti")
        val c1 = Materialize.once(degreeCensus(e1))
        val c2inc = Materialize.once(c1.unionByName(degreeCensus(delta))
          .groupBy("tk").agg(sum("dg").as("dg")))
        val mergeDiff = c2inc
          .join(degreeCensus(eAll).withColumnRenamed("dg", "dg2"),
                Seq("tk"), "full_outer")
          .filter(col("dg").isNull || col("dg2").isNull ||
                  col("dg") =!= col("dg2"))
          .agg(count(lit(1)).as("__m"))
        // the two epochs' peel chains are independent once their inputs
        // are materialized — each is 4+ strictly sequential checkpoint
        // jobs, so overlapping the chains halves that latency leg
        val (p1, p2) = ParActions.both(
          () => peelSummary(e1, c1, 4).withColumn("epoch", lit(1)),
          () => peelSummary(eAll, c2inc, 4).withColumn("epoch", lit(2)))
        p1.unionByName(p2)
          .crossJoin(mergeDiff)
          .select(col("epoch"), col("round"), col("n_nodes"),
                  col("n_edges"), col("n_core_candidates"),
                  (col("__m") === 0).as("census_merge_ok"))
          .orderBy("epoch", "round")
      },
      Some {
        def epochSql(tag: String, pred: String) =
          s"""e0_$tag AS MATERIALIZED (
             |  SELECT DISTINCT LEAST(toks[i+1], toks[i+2]) AS a,
             |                  GREATEST(toks[i+1], toks[i+2]) AS b
             |  FROM t, (SELECT unnest(range(len(toks))) AS i)
             |  WHERE $pred AND i < len(toks) - 1
             |    AND toks[i+1] <> toks[i+2]),
             |d0_$tag AS MATERIALIZED (
             |  SELECT tk, COUNT(*) AS dg FROM (
             |    SELECT a AS tk FROM e0_$tag
             |    UNION ALL SELECT b FROM e0_$tag)
             |  GROUP BY tk),
             |k0_$tag AS MATERIALIZED (SELECT tk FROM d0_$tag WHERE dg >= 4),
             |e1_$tag AS MATERIALIZED (
             |  SELECT a, b FROM e0_$tag
             |  WHERE a IN (SELECT tk FROM k0_$tag)
             |    AND b IN (SELECT tk FROM k0_$tag)),
             |d1_$tag AS MATERIALIZED (
             |  SELECT tk, COUNT(*) AS dg FROM (
             |    SELECT a AS tk FROM e1_$tag
             |    UNION ALL SELECT b FROM e1_$tag)
             |  GROUP BY tk),
             |k1_$tag AS MATERIALIZED (SELECT tk FROM d1_$tag WHERE dg >= 4),
             |e2_$tag AS MATERIALIZED (
             |  SELECT a, b FROM e1_$tag
             |  WHERE a IN (SELECT tk FROM k1_$tag)
             |    AND b IN (SELECT tk FROM k1_$tag)),
             |d2_$tag AS MATERIALIZED (
             |  SELECT tk, COUNT(*) AS dg FROM (
             |    SELECT a AS tk FROM e2_$tag
             |    UNION ALL SELECT b FROM e2_$tag)
             |  GROUP BY tk)""".stripMargin
        def roundsSql(ep: Int, tag: String) = (0 to 2).map { r =>
          s"""SELECT $ep AS epoch, $r AS round,
             |  (SELECT COUNT(*) FROM d${r}_$tag) AS n_nodes,
             |  (SELECT COUNT(*) FROM e${r}_$tag) AS n_edges,
             |  (SELECT COALESCE(CAST(SUM(CASE WHEN dg >= 4 THEN 1
             |    ELSE 0 END) AS BIGINT), 0) FROM d${r}_$tag)
             |    AS n_core_candidates,
             |  true AS census_merge_ok""".stripMargin
        }.mkString("\n  UNION ALL\n")
        s"""WITH t AS (
           |  SELECT doc_id % 2 AS par, list_filter(
           |    string_split_regex(lower(trim(text)), '\\s+'),
           |    tk -> len(tk) > 0) AS toks
           |  FROM documents),
           |${epochSql("p1", "par = 0")},
           |${epochSql("all", "true")},
           |r AS (
           |  ${roundsSql(1, "p1")}
           |  UNION ALL
           |  ${roundsSql(2, "all")})
           |SELECT * FROM r ORDER BY epoch, round""".stripMargin
      }
    )
  )
}
