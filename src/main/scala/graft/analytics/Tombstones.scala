package graft.analytics

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Shared tombstone-delete segment for the persisted serving indexes
  * ([[IvfIndex]], [[Int8Index]]): deleted ids land as an append-only
  * `dir/tombstones` parquet segment — cost ∝ the delete batch, no
  * index data read or rewritten — and each index's live view anti-joins
  * them out at serve time. Replaying the same delete batch is a no-op:
  * an order-independent content stamp per batch is recorded in
  * `dir/tombstone_log` and already-logged batches are skipped — the
  * same replay-idempotence discipline as [[IvfIndex.appendBatch]]'s
  * append log, which is what makes a crash-replayed streaming takedown
  * batch safe ([[graft.streaming.EventStreams.takedownStream]]).
  * Every path check goes through the dir's Hadoop `FileSystem` (as in
  * [[OfflineArtifact]]): a `java.io.File` check sees nothing under a
  * non-`file:` scheme, which would silently drop every retraction from
  * the live views and append a replayed delete twice. */
object Tombstones {

  /** Tombstone the ids (one `idCol` column — stored canonically as
    * `vec_id` regardless); returns the number of newly tombstoned ids
    * (0 on a replayed batch). */
  def delete(spark: SparkSession, dir: String, ids: DataFrame,
             idCol: String = "vec_id"): Long = {
    import spark.implicits._
    val t = ids.select(col(idCol).cast("long").as("vec_id"))
    val st = t.agg(count(lit(1)).as("n_rows"),
                   coalesce(bit_xor(xxhash64(col("vec_id"))), lit(0L))
                     .as("batch_stamp")).head()
    val (n, stamp) = (st.getLong(0), st.getLong(1))
    if (n == 0L) return 0L
    val replay = OfflineArtifact.exists(spark, s"$dir/tombstone_log") &&
      spark.read.parquet(s"$dir/tombstone_log")
        .filter(col("n_rows") === n && col("batch_stamp") === stamp)
        .limit(1).count() > 0
    if (replay) return 0L
    t.write.mode("append").parquet(s"$dir/tombstones")
    Seq((n, stamp)).toDF("n_rows", "batch_stamp").coalesce(1)
      .write.mode("append").parquet(s"$dir/tombstone_log")
    n
  }

  /** The tombstoned id set, surfaced under the caller's id column name.
    * With none yet it is an empty LOCAL relation: the optimizer folds
    * it out of the live views' anti-joins, so they run no broadcast job
    * for an empty side. */
  def read(spark: SparkSession, dir: String,
           idCol: String = "vec_id"): DataFrame =
    if (OfflineArtifact.exists(spark, s"$dir/tombstones"))
      spark.read.parquet(s"$dir/tombstones")
        .select(col("vec_id").as(idCol))
    else spark.createDataFrame(java.util.Collections.emptyList[Row](),
      StructType(Seq(StructField(idCol, LongType))))

  /** Drop the tombstone segment + log — called by an index's physical
    * purge AFTER every masked row is rewritten away, so a crash at any
    * earlier point leaves rows that are still masked by the live view. */
  def clear(spark: SparkSession, dir: String): Unit =
    Seq("tombstones", "tombstone_log").foreach { sub =>
      OfflineArtifact.delete(spark, s"$dir/$sub")
    }
}
