package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** In-plan self-validation for APPROXIMATE serving entries — the x16
  * discipline (sketch result checked against in-plan exact bounds)
  * generalized to the ANN/LSH/bloom serving tier.
  *
  * An approximate serve (IVF probe, LSH bucket scan, PQ shortlist…)
  * cannot be replayed by a SQL oracle: WHICH rows it returns depends on
  * learned index state. What CAN be oracle-checked is the audit the
  * serve carries with it: the same plan computes an exact baseline on
  * a DETERMINISTIC SLICE (a corpus modulus for single-query serves —
  * [[topKSliced]]; an embedded query subset for batch serves —
  * [[batchTopK]]), measures the serve against it, and emits only
  * deterministic scalars — counts the oracle derives from the data,
  * exact-side values the oracle recomputes, and booleans the oracle
  * asserts as `true`. The slice discipline is load-bearing at scale:
  * a whole-corpus exact baseline inside a serving entry costs more
  * than the serve it audits and defeats the index's purpose at 100 TB;
  * a bounded slice keeps the audit a fixed fraction of one scan while
  * a serving regression (bad centroids, broken probe pruning, masked
  * rows leaking) still flips a boolean and turns the driver's hash
  * compare red — the entry is both a real serve of the approximate
  * path and a hash-checkable correctness row. The whole-corpus exact
  * proofs live in the `*x` anchor entries, where being expensive is
  * the point.
  *
  * Floors are deliberately LOOSE collapse detectors (a real break
  * yields ~0 hits); the tight measured floors live in the specs
  * (DedupSpec et al.) where the fixture is pinned. Cost discipline:
  * each serve/exact frame is k rows — materialized once (the dq05
  * recipe, [[Materialize.once]]) so the audit never re-runs the probe
  * or the exact scan.
  */
object SelfAudit {

  /** Audit a single-query top-k serve against the exact scores of a
    * deterministic CORPUS SLICE — the [[batchTopK]] modulus discipline
    * applied to the corpus side of a single-query serve. A whole-corpus
    * exact baseline (this audit's r10 form) is the one plan shape that
    * defeats the index's purpose at scale (the audit scan costs more
    * than the serve it audits); the slice audit keeps the exact side a
    * fixed 1/mod fraction while retaining collapse sensitivity:
    *
    *  - `n_served` — deterministic k (oracle asserts the count);
    *  - `exact_best_slice` — the slice's exact optimum, recomputed by
    *    the oracle from the data alone;
    *  - `slice_dominated_ok` — at most `beatCap` slice rows score
    *    STRICTLY better than the serve's best. A working serve's best
    *    is near the global optimum, so almost nothing beats it in any
    *    slice; a collapsed serve (broken bucket join, garbage
    *    centroids, masked rows leaking) returns mediocre rows and half
    *    the slice beats it. Formally: if the serve still contains ≥ 1
    *    of the exact global top-k (the old recall floor), its best is
    *    ≥ the global rank-k score, so at most k−1 rows beat it in ANY
    *    slice — `beatCap = k` is never tighter than `minHits = 1` was,
    *    yet a collapse flips it by orders of magnitude.
    *
    * Score fabrication (a serve emitting similarity values it never
    * computed) is NOT this audit's job — the whole-corpus `*x`
    * exactness anchors pin the scoring expressions bit-for-bit against
    * the SQL oracle. `scoredSlice` must carry (`idCol`, `simCol`) with
    * the SAME scoring + rounding as the serve; it is aggregated in one
    * pass (never checkpointed — it is corpus/mod rows, not k). */
  def topKSliced(served: DataFrame, scoredSlice: DataFrame,
                 simCol: String, higherIsBetter: Boolean,
                 beatCap: Int = 10,
                 extras: Seq[(String, Column)] = Nil): DataFrame = {
    val s = Materialize.once(served)
    def best(c: Column): Column = if (higherIsBetter) max(c) else min(c)
    val sAggCols = Seq(best(col(simCol)).as("__served_best")) ++
      extras.map { case (n, c) => c.as(n) }
    val sAgg = s.agg(count(lit(1)).as("n_served"), sAggCols: _*)
    val beats =
      if (higherIsBetter) col(simCol) > col("__served_best") + lit(1e-9)
      else col(simCol) < col("__served_best") - lit(1e-9)
    val eAgg = scoredSlice
      .crossJoin(broadcast(sAgg.select(col("__served_best"))))
      .agg(best(col(simCol)).as("exact_best_slice"),
           count(when(beats, 1)).as("__beaten"))
    sAgg.crossJoin(eAgg)
      .select(Seq(col("n_served"), col("exact_best_slice"),
                  (col("__beaten") <= beatCap).as("slice_dominated_ok")) ++
              extras.map { case (n, _) => col(n) }: _*)
  }

  /** Audit a batch top-k serve on a deterministic SUBSET of its
    * queries (full exact recall on every query would re-run the
    * brute-force anchor inside the serving entry — the subset keeps the
    * audit a bounded fraction of the serve).
    *
    * Output: `n_queries`/`total_served` (deterministic), `exact_best_sum`
    * (decimal-accumulated sum of the audited queries' exact optima —
    * order-free, oracle recomputes it), `recall_ok` (total hits across
    * audited queries ≥ minHitsTotal), `best_bounded` (per audited
    * query, served best never beats the exact optimum). */
  def batchTopK(served: DataFrame, exactAudit: DataFrame,
                auditQueryIds: Seq[Long], minHitsTotal: Int,
                simCol: String, higherIsBetter: Boolean): DataFrame = {
    val s = Materialize.once(served)
    val e = Materialize.once(exactAudit)
    def best(c: Column): Column = if (higherIsBetter) max(c) else min(c)
    val sAud = s.filter(col("query_id").isin(auditQueryIds.map(Long.box): _*))
    val nAgg = s.agg(countDistinct(col("query_id")).as("n_queries"),
                     count(lit(1)).as("total_served"))
    val eBest = e.groupBy("query_id").agg(best(col(simCol)).as("__eb"))
    val eAgg = eBest.agg(
      sum(col("__eb").cast("decimal(20,6)")).cast("double")
        .as("exact_best_sum"))
    val hits = sAud.select("query_id", "vec_id").distinct()
      .join(e.select("query_id", "vec_id"),
            Seq("query_id", "vec_id"), "left_semi")
      .agg(count(lit(1)).as("__hits"))
    val bAgg = sAud.groupBy("query_id").agg(best(col(simCol)).as("__sb"))
      .join(eBest, Seq("query_id"))
      .agg(bool_and(
        if (higherIsBetter) col("__sb") <= col("__eb") + lit(1e-9)
        else col("__sb") >= col("__eb") - lit(1e-9)).as("best_bounded"))
    nAgg.crossJoin(eAgg).crossJoin(hits).crossJoin(bAgg)
      .select(col("n_queries"), col("total_served"), col("exact_best_sum"),
              (col("__hits") >= minHitsTotal).as("recall_ok"),
              col("best_bounded"))
  }
}
