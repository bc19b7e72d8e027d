package graft

import org.apache.spark.sql.functions._

import graft.analytics.{ClusteredEmbeddings, IvfIndex, Similarity}

/** IVF serving-quality crossover on STRUCTURED vs NOISE embeddings —
  * the ANN-tier companion to [[DeconCrossover]].
  *
  * Every IVF recall incident so far (ss05's shortlist at staged sf1,
  * ss07's batch shortlist at sf3) was caught on hash-noise corpora —
  * the adversarial regime where coarse quantization cannot
  * discriminate (all centroids are equidistant from everything, so a
  * k-NN's true neighbors spread uniformly over the lists and recall at
  * nProbe p approaches the p/nLists floor). The production regime is
  * the opposite: embeddings cluster, a query's true neighbors share
  * its cluster, and a tight cluster lands in ONE list — nProbe ≪
  * nLists recovers ~all of the top-k. This probe measures both
  * boundaries on the same code path the registry serves
  * ([[IvfIndex.ensure]] + [[Similarity.batchAnnTopK]], a persisted
  * index in a throwaway corpus dir): recall@k vs nProbe on the
  * mixture-of-centroids fixture and on hash noise, with the full-probe
  * serve (nProbe = nLists ≡ brute force, the SimilaritySpec
  * equivalence) as ground truth.
  *
  * Usage: runMain graft.AnnCrossover [nVecs] [nLists] [nq] [k]
  */
object AnnCrossover {
  def main(args: Array[String]): Unit = {
    val nVecs = args.headOption.map(_.toLong).getOrElse(200000L)
    val nLists = args.lift(1).map(_.toInt).getOrElse(256)
    val nq = args.lift(2).map(_.toLong).getOrElse(64L)
    val k = args.lift(3).map(_.toInt).getOrElse(10)
    val spark = GraftSession()

    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }

    for (fname <- Seq("clustered", "noise")) {
      val dir = s"${sys.props("java.io.tmpdir")}/graft-annx-$fname"
      val emb =
        if (fname == "clustered")
          ClusteredEmbeddings.generate(spark, nVecs)
        else ClusteredEmbeddings.generate(spark, nVecs, sigma = 1e6)
      emb.repartition(GraftSession.cpus).write.mode("overwrite")
        .parquet(s"$dir/embeddings.parquet")
      val (_, buildSec) = timed { IvfIndex.ensure(spark, dir, nLists) }
      println(s"""{"probe":"ann_stage","fixture":"$fname","n":$nVecs,""" +
        f""""n_lists":$nLists,"build_sec":$buildSec%.2f}""")

      def serve(nProbe: Int): Map[Long, Seq[Long]] =
        Similarity.batchAnnTopK(spark, dir, queryMaxId = nq, k = k,
                                nLists = nLists, nProbe = nProbe)
          .select("query_id", "vec_id", "rk").collect()
          .groupBy(_.getLong(0))
          .map { case (q, rows) =>
            q -> rows.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq }

      // full probe ≡ brute force: the ground-truth top-k
      val (truth, exactSec) = timed(serve(nLists))
      println(f"""{"probe":"ann_exact","fixture":"$fname",""" +
        f""""sec":$exactSec%.2f,"queries":${truth.size}}""")
      def recallOf(got: Map[Long, Seq[Long]]): Double =
        truth.iterator.map { case (q, t) =>
          got.getOrElse(q, Nil).toSet.intersect(t.toSet).size }.sum
          .toDouble / (truth.size * k)

      for (nProbe <- Seq(1, 2, 4, 8, 16)) {
        val (got, sec) = timed(serve(nProbe))
        println(f"""{"probe":"ann_ivf","fixture":"$fname",""" +
          f""""n_probe":$nProbe,"sec":$sec%.2f,"recall":${recallOf(got)}%.4f}""")
      }

      // spilled (multi-assignment) index: border vectors live in their
      // top-2 lists — the data-side fix for the recall plateau above.
      // Reported per margin: index inflation (spilled rows / corpus)
      // and recall at the same probe budgets.
      for (margin <- Seq(0.05, 0.15, 0.3)) {
        val (sdir, sBuild) = timed {
          IvfIndex.ensureSpilled(spark, dir, nLists, margin) }
        val spillRows = spark.read.parquet(s"$sdir/assignments")
          .filter(col("spilled") === 1).count()
        println(f"""{"probe":"ann_spill_stage","fixture":"$fname",""" +
          f""""margin":$margin%.2f,"build_sec":$sBuild%.2f,""" +
          f""""spill_frac":${spillRows.toDouble / nVecs}%.4f}""")
        for (nProbe <- Seq(2, 4, 8, 16)) {
          val (got, sec) = timed {
            Similarity.batchAnnTopKSpilled(spark, dir, queryMaxId = nq,
                k = k, nLists = nLists, nProbe = nProbe, margin = margin)
              .select("query_id", "vec_id", "rk").collect()
              .groupBy(_.getLong(0))
              .map { case (q, rows) =>
                q -> rows.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq }
          }
          println(f"""{"probe":"ann_spill","fixture":"$fname",""" +
            f""""margin":$margin%.2f,"n_probe":$nProbe,"sec":$sec%.2f,""" +
            f""""recall":${recallOf(got)}%.4f}""")
        }
      }
    }
    spark.stop()
  }
}
