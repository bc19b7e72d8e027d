package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration of the driver tools (Bench, Verify,
  * AbProf, JobProf, ScaleProbe, Explain, the two crossover probes) and
  * of the test suite: `local[n]` with `n` shuffle partitions, AQE on,
  * UTC session time zone, UI off. `n` is `SPARK_GRAFT_CPUS` when set,
  * else the cores the JVM may use — so no tool oversubscribes a box by
  * default, and every tool measures under the same confs. */
object GraftSession {
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim).filter(_.nonEmpty)
    .map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  /** The configured builder; a caller may add its own confs (AbProf's
    * A/B overlay, the tests' warehouse) before `getOrCreate`. */
  def builder(n: Int = cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toLong)
      .config("spark.sql.adaptive.enabled", true)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", false)

  def apply(logLevel: String = "WARN"): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Runs `body` with the given SQL confs set on `spark`, then restores
    * each to its previous value (or unsets it), also on a throw. Plans
    * read confs when they are planned and executed, so `body` must run
    * its action inside the scope. */
  def withConfs[T](spark: SparkSession, confs: (String, String)*)(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** State hygiene between measured or dumped entries, after the
    * entry's `Materialize.scoped` released what it made: drop every
    * block the session still holds (ML caches, frames made with no
    * scope open) and the cached-table registry. */
  def release(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    spark.catalog.clearCache()
  }
}
