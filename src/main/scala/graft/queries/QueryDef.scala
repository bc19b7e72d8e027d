package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession

/** One named query of the engine's public surface.
  *
  * @param name   stable key used by the driver (`SparkEntry.queries`)
  * @param df     DataFrame program; `sfDir` points at a directory of
  *               parquet tables (`/root/testdata/sf*`)
  * @param oracle equivalent ANSI SQL runnable by DuckDB over the same
  *               parquet tables; None for non-SQL-expressible operators
  *               (driver then records a weaker rows-only check)
  */
final case class QueryDef(
    name: String,
    df: (SparkSession, String) => DataFrame,
    oracle: Option[String]
)

object QueryDef {
  /** Load one of the driver test tables. Plain parquet scan: Catalyst
    * pushes filters + prunes columns into this scan for free. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") eventsTable(spark, sfDir)
    else spark.read.parquet(s"$sfDir/$name.parquet")

  /** Normalize `events.parquet`'s `ts` to a plain `TimestampType` (UTC
    * instant, µs) regardless of how the writer encoded it. Three shapes
    * have shipped so far:
    *
    *  - TIMESTAMP(NANOS): Spark's reader rejects it (Spark time is µs);
    *    read nanos as long and floor to µs — the truncation DuckDB
    *    applies casting TIMESTAMP_NS → TIMESTAMP;
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 infers
    *    TIMESTAMP_NTZ, which `unix_micros`, event-time watermarks, and
    *    window functions all reject — cast to TimestampType, value-
    *    preserving under the pinned UTC session timezone (DuckDB treats
    *    the same bytes as plain TIMESTAMP, so both engines agree);
    *  - plain µs TIMESTAMP (our own derived copies): passthrough.
    *
    * Every operator reads events through this one seam so a writer-side
    * format drift is a one-line fix here, not a per-operator hunt.
    *
    * The caller's session conf is never changed. The legacy
    * nanos-as-long conf is set only around the schema read and, for a
    * NANOS file, around building the scan: a scan captures its reader
    * conf when it is built, so that file reads as an RDD of the
    * normalized rows (no scan pushdown — no shipped file is NANOS). */
  def eventsTable(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.LongType
    GraftSession.withConfs(spark, "spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      val raw = spark.read.parquet(s"$sfDir/events.parquet")
      if (raw.schema("ts").dataType != LongType) normalizeEventTs(raw)
      else {
        val ts = normalizeEventTs(raw)
        spark.createDataFrame(ts.rdd, ts.schema)
      }
    }
  }

  /** The `ts`-normalization half of [[eventsTable]], reusable on any
    * frame derived from the events table (streaming landing dirs,
    * scale-probe replicas). */
  def normalizeEventTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType => // nanos-as-long under the legacy conf
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => // µs isAdjustedToUTC=0; session TZ is UTC
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
}
