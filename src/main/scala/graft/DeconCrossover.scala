package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analytics.{ClusteredEmbeddings, DataQuality, Materialize}

/** Banded-vs-exact decon crossover measurement on STRUCTURED vs NOISE
  * embeddings (VERDICT r12 "What's missing #3").
  *
  * r12 measured sign-LSH banding at dc03's recall-anchored 12×4 config
  * against the driver fixture's hash-noise embeddings and rejected it
  * for the production gate: uniform 64-dim vectors pass ~53 % of all
  * pairs as candidates, so banding pruned nothing and cost a signature.
  * That measurement conflates two causes — the DATA (noise has no
  * geometry to exploit) and the CONFIG (12×4 is chosen for the 9.5e-5
  * miss bound at s = 0.9, not for selectivity: even two ORTHOGONAL
  * vectors pass a 4-bit band with odds 1/16, hence ≥ 1 − (15/16)¹² ≈
  * 54 % of ANY data). This probe separates them: the same scorer
  * ([[DataQuality.DeconIndex]]`.scored`, one index per bands×rows)
  * runs over both the hash-noise fixture and the mixture-of-centroids
  * fixture ([[ClusteredEmbeddings]]) at several band shapes, measuring
  * candidate rate, drop recall vs the exact pass (a banded drop is
  * always a true drop — refinement is exact — so recall at any
  * threshold is a count ratio), recall at the strong stratum (≥ 0.9,
  * where contamination lives on structured data), and wall time against
  * the exact broadcast-crossJoin pass.
  *
  * Expected shape (recorded in FIXTURES.md §D): on noise no config
  * wins — selectivity configs (6×8) prune to ~2 % but there is nothing
  * to find and the recall-anchor config prunes nothing; on clustered
  * data the contaminated stratum sits at 1/(1+σ²) ≈ 0.978 cosine where
  * an 8-row band still collides with odds ~0.55, so 6×8 keeps ≥ 99 %
  * strong recall while scoring ~30× fewer pairs than exact — banding
  * wins decisively exactly when the data has structure.
  *
  * The bench SIZE is the second crossover axis: cost_exact ∝ corpus ×
  * bench while cost_banded ∝ corpus × (signature + candRate × bench),
  * so at an eval-suite-sized bench (~500) the codegen'd exact
  * crossJoin wins outright and banding only pays off once the bench is
  * large enough that candRate × bench dominates the signature — pass a
  * small `benchOdds` (e.g. 10 → ~20 k bench rows at 200 k vectors) to
  * measure that regime.
  *
  * Usage: runMain graft.DeconCrossover [nVecs] [benchOdds]
  */
object DeconCrossover {
  def main(args: Array[String]): Unit = {
    val nVecs = args.headOption.map(_.toLong).getOrElse(200000L)
    val benchOdds = args.lift(1).map(_.toInt).getOrElse(400)
    val spark = GraftSession()

    val tau = DataQuality.SemanticDeconTau
    val strongTau = 0.9
    val nClusters = 20000

    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }

    // per-dim uniform hash noise — the driver-fixture regime, same
    // quantization as ScaleProbe's distinctsalt replica redraw
    def noiseFixture: DataFrame =
      ClusteredEmbeddings.generate(spark, nVecs, sigma = 1e6,
                                   nClusters = nClusters,
                                   benchOdds = benchOdds)

    val fixtures: Seq[(String, DataFrame)] = Seq(
      "clustered" -> ClusteredEmbeddings.generate(spark, nVecs,
                                                  nClusters = nClusters,
                                                  benchOdds = benchOdds),
      "noise" -> noiseFixture)

    for ((fname, embRaw) <- fixtures) Materialize.scoped {
      val emb = Materialize.once(embRaw)
      val corpus = emb.filter(col("label") =!= 0)
        .select("vec_id", "embedding")
      val bench = emb.filter(col("label") === 0)
        .select(col("vec_id").as("bench_id"), col("embedding"))
      val nCorpus = corpus.count()
      val nBench = bench.count()
      val contaminated =
        if (fname == "clustered")
          ClusteredEmbeddings.contaminatedIds(emb, nClusters).count()
        else -1L
      println(s"""{"probe":"stage","fixture":"$fname","n":$nVecs,""" +
        s""""corpus":$nCorpus,"bench":$nBench,"contaminated":$contaminated}""")

      // exact pass: broadcast bench, map-side partial max, one row per
      // corpus vector — the dc02 production shape
      val (exactCk, exactSec) = timed {
        Materialize.once(DataQuality.exactScored(corpus, bench))
      }
      val exactTau = exactCk.filter(col("mc") >= tau).count()
      val exactStrong = exactCk.filter(col("mc") >= strongTau).count()
      println(f"""{"probe":"exact","fixture":"$fname","sec":$exactSec%.2f,""" +
        s""""drops_tau":$exactTau,"drops_strong":$exactStrong}""")

      for ((b, r) <- Seq((12, 4), (10, 6), (8, 7), (6, 8))) Materialize.scoped {
        val (index, buildSec) = timed {
          DataQuality.DeconIndex(bench, Some((b, r)), once = true)
        }
        val (ck, scoreSec) = timed {
          Materialize.once(index.scored(corpus))
        }
        val agg = ck.agg(
          sum("n_cand").as("cand"),
          sum(when(col("mc") >= tau, 1L).otherwise(0L)).as("dtau"),
          sum(when(col("mc") >= strongTau, 1L).otherwise(0L)).as("dstrong"))
          .head()
        val cand = agg.getLong(0)
        val dTau = agg.getLong(1)
        val dStrong = agg.getLong(2)
        val candRate = cand.toDouble / (nCorpus.toDouble * nBench)
        def recall(n: Long, of: Long) =
          if (of == 0) 1.0 else n.toDouble / of
        println(
          f"""{"probe":"banded","fixture":"$fname","bands":$b,"rows":$r,""" +
          f""""build_sec":$buildSec%.2f,"score_sec":$scoreSec%.2f,""" +
          f""""cand_rate":$candRate%.4f,"drops_tau":$dTau,""" +
          f""""recall_tau":${recall(dTau, exactTau)}%.4f,""" +
          f""""drops_strong":$dStrong,""" +
          f""""recall_strong":${recall(dStrong, exactStrong)}%.4f,""" +
          f""""speedup_vs_exact":${exactSec / scoreSec}%.2f}""")
      }
    }
    spark.stop()
  }
}
