package graft.analytics

import org.apache.spark.sql.SparkSession

/** Makes tp01's table profile LOAD-BEARING: the same statistics the
  * profile entry publishes (row count, per-column null count, NDV,
  * min/max) are persisted into the session catalog via
  * `ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS`, where Spark's
  * cost-based optimizer reads them — so the numbers steer plans
  * instead of only feeding dashboards.
  *
  * Why this matters at 100 TB: AQE's runtime statistics only exist
  * AFTER a stage materializes — the initial join ORDER of a multi-way
  * join is fixed at planning time, and a wrong order materializes the
  * big intermediate before AQE can see it. Catalog column stats +
  * `spark.sql.cbo.joinReorder.enabled` let `CostBasedJoinReorder` pick
  * the small-intermediate order BEFORE anything runs; AQE then still
  * re-plans exchanges at runtime. The two are complementary — stats fix
  * the shape, AQE fixes the sizes (the PlanAuditSpec pin demonstrates a
  * 3-way join whose order only CBO+stats repairs).
  *
  * Scale shape of ANALYZE itself: per-column passes with partial
  * aggregation — exactly tp01's plan discipline (no Expand; see
  * `tp01_table_profile`'s comment); at a real deployment it runs on the
  * ingest schedule, not per query.
  */
object TableStats {

  /** Database name used for the stats-bearing external tables. */
  val StatsDb = "graft_stats"

  /** Register `tables` of the sfDir corpus as EXTERNAL parquet tables
    * in [[StatsDb]] (data stays in place — the catalog entry is
    * metadata only) and persist table + column statistics for each.
    * Idempotent: re-registering replaces the catalog entry and
    * recomputes stats, so regenerated data cannot serve stale numbers.
    * Columns default to every top-level leaf column of the file. */
  def analyze(spark: SparkSession, sfDir: String,
              tables: Seq[String],
              columnsFor: String => Seq[String] = _ => Nil): Unit =
    tables.foreach(t =>
      analyzePath(spark, t, s"$sfDir/$t.parquet", columnsFor(t)))

  /** Single-table [[analyze]] over an explicit data path — the form
    * the store maintenance path uses ([[graft.sinks.ArtifactStore
    * .compact]] re-ANALYZEs the freshly compacted store, the nightly
    * OPTIMIZE slot being exactly when production statistics refresh). */
  def analyzePath(spark: SparkSession, t: String, path: String,
                  columns: Seq[String] = Nil): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $StatsDb")
    spark.sql(s"DROP TABLE IF EXISTS $StatsDb.$t")
    spark.catalog.createTable(s"$StatsDb.$t", path, "parquet")
    val cols = {
      if (columns.nonEmpty) columns
      else spark.table(s"$StatsDb.$t").schema
        // nested/array/map columns are not ANALYZE-supported; the
        // join-order decisions ride on scalar keys anyway
        .filter(f => f.dataType.typeName match {
          case "struct" | "array" | "map" => false
          case _ => true
        })
        .map(f => s"`${f.name}`")
    }
    spark.sql(
      s"ANALYZE TABLE $StatsDb.$t COMPUTE STATISTICS FOR COLUMNS " +
        cols.mkString(", "))
  }

  /** Idempotent per-JVM [[analyze]]: one ANALYZE per (table, data dir,
    * content stamp) per JVM lifetime — the ingest-schedule contract the
    * CBO-planned registry entry (tp02) relies on. ANALYZE is an OFFLINE
    * step by the same contract as every index build here (Bench stages
    * it in warm-up; Verify pays it once per corpus). Re-pointing a
    * table at a DIFFERENT corpus dir — or regenerating/appending the
    * data under the SAME dir — re-analyzes, so stale stats cannot
    * serve a changed corpus. */
  def ensure(spark: SparkSession, sfDir: String,
             tables: Seq[String]): Unit = tables.foreach { t =>
    memoized(spark, t, s"$sfDir/$t.parquet") { analyze(spark, sfDir, Seq(t)) }
  }

  /** One [[OfflineArtifact.memo]] slot per catalog table, keyed by the
    * source data dir and its content stamp: a throw leaves the slot
    * unset (retry next call; ADVICE r15), concurrent same-JVM callers
    * cannot both run ANALYZE or both stage an overwrite write to the
    * same external-table path (ADVICE r16), and re-pointing the table
    * at another corpus — or regenerating the data in place — re-runs. */
  private def memoized(spark: SparkSession, t: String, source: String)
                      (work: => Unit): Unit =
    OfflineArtifact.memo(s"stats|$t",
      s"$source@${OfflineArtifact.stamp(spark, source)}")(work)

  /** Stage the PLANTED-ZIPF derived table (orders + `skey`, see
    * [[graft.operators.SkewData]]) as a managed [[StatsDb]] table and
    * ANALYZE it — with EQUI-HEIGHT HISTOGRAMS on the skewed key when
    * `histogram` is set (the statistic that corrects range-predicate
    * selectivity on skewed data; basic min/max/NDV stats interpolate
    * uniformly and mis-estimate the hot range ~300×), without them for
    * the basic-stats comparison twin (PlanAuditSpec). Offline by the
    * ingest-schedule contract like every ANALYZE here; content-stamped
    * against the SOURCE table so regenerated data re-stages. Returns
    * the table name. */
  def ensureSkewedOrders(spark: SparkSession, sfDir: String,
                         histogram: Boolean): String = {
    val t = if (histogram) "orders_skewed" else "orders_skewed_basic"
    // a throw mid-stage leaves the slot unset, so the next call
    // re-stages instead of planning tp03 against a partial table
    memoized(spark, t, s"$sfDir/orders.parquet") {
      // external-table staging (the analyzePath form): a managed
      // saveAsTable trips over a previous JVM's leftover warehouse
      // directory (DROP TABLE clears only the in-memory catalog) —
      // a plain path write overwrites cleanly, then the catalog entry
      // is metadata over it
      val loc = s"${spark.conf.get("spark.sql.warehouse.dir")}" +
        s"/graft_derived/$t"
      spark.read.parquet(s"$sfDir/orders.parquet")
        .withColumn("skey", graft.operators.SkewData.zipfKey(
          org.apache.spark.sql.functions.col("o_orderkey")))
        .write.mode("overwrite").parquet(loc)
      spark.sql(s"CREATE DATABASE IF NOT EXISTS $StatsDb")
      spark.sql(s"DROP TABLE IF EXISTS $StatsDb.$t")
      spark.catalog.createTable(s"$StatsDb.$t", loc, "parquet")
      graft.GraftSession.withConfs(spark,
          "spark.sql.statistics.histogram.enabled" -> histogram.toString) {
        spark.sql(s"ANALYZE TABLE $StatsDb.$t COMPUTE STATISTICS " +
                  "FOR COLUMNS skey, o_custkey, o_totalprice")
      }
    }
    t
  }

  /** Run `body` with the cost-based optimizer (and its stats-driven
    * join reorder) enabled, restoring the previous configuration
    * after. CBO only acts where catalog stats exist, so flipping it on
    * session-wide is safe — but scoping keeps test plans explicit. */
  def withCbo[T](spark: SparkSession)(body: => T): T =
    graft.GraftSession.withConfs(spark, "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true")(body)
}
