package graft

/** Stable A/B harness for optimization rounds: runs each named entry
  * K times inside ONE warmed session (noop sink, Bench's state
  * hygiene between samples) and prints every sample. Isolated
  * one-shot Bench subset runs spread ~1.5-2x on this box because the
  * first heavy entry pays JVM/codegen warm-up that the full-registry
  * run amortizes across ~200 predecessors; the in-session repeats
  * reproduce the deep-warm regime the committed numbers come from.
  * Decision metric: median of the last K-1 samples, same tree vs
  * candidate tree.
  *
  * Usage: runMain graft.AbProf <k> <queryName...> [sfDir via env]
  */
object AbProf {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: AbProf <k> <queryName...>")
    val k = args(0).toInt
    require(k >= 2, s"k must be >= 2 (warm median drops sample 1): got $k")
    val names = args.drop(1).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val builder = GraftSession.builder()
    // config A/B seam: SPARK_GRAFT_AB_CONF="k=v;k=v" overlays extra
    // session confs so candidate settings can be measured without
    // touching the committed GraftSession confs
    sys.env.get("SPARK_GRAFT_AB_CONF").foreach(
      _.split(';').filter(_.nonEmpty).foreach { kv =>
        require(kv.contains("="),
          s"SPARK_GRAFT_AB_CONF segment without '=': '$kv'")
        val Array(k, v) = kv.split("=", 2)
        builder.config(k, v)
      })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Bench.warmUp(spark, sfDir)
    val qs = names.map(n => SparkEntry.registry.find(_.name == n)
      .getOrElse(sys.error(s"unknown query: $n")))
    qs.foreach { q =>
      val samples = (1 to k).map { _ =>
        val dt = graft.analytics.Materialize.scoped {
          val t0 = System.nanoTime()
          q.df(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        GraftSession.release(spark)
        dt
      }
      val warm = samples.drop(1).sorted
      val med = warm(warm.size / 2)
      println(f"[ab] ${q.name}: median(warm)=$med%.3f  samples=" +
        samples.map(s => f"$s%.3f").mkString(","))
    }
    spark.stop()
  }
}
