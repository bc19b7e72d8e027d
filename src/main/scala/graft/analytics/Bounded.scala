package graft.analytics

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** Guarded broadcast for frames that are fixed-size BY CONVENTION —
  * benchmark/eval-suite sides (gram tables, embedding sets) that every
  * decon/audit plan forces through the driver. Nothing structural
  * enforces that convention: a "bench" frame wired to something that
  * scales with the corpus would sail through `broadcast()` locally and
  * OOM the driver at 100×. This seam makes the convention a CONTRACT:
  * the frame is counted once per (tag, plan) per JVM — bench frames
  * are per-corpus static, so a registry run pays one count per corpus,
  * not per entry — and a frame past the cap fails loudly with the
  * remediation (use the banded/shuffled path) instead of broadcasting.
  */
object Bounded {

  /** Default cap: ~2M rows of 64-float embeddings is ~600 MB — far
    * above any real eval suite, comfortably below the 8 GB broadcast
    * ceiling and a production driver heap. */
  val MaxBenchRows = 2000000L

  private val memo = new ConcurrentHashMap[String, AnyRef]()

  /** `broadcast(df)` with the bounded-bench contract asserted. The
    * cache key includes the logical plan's semantic hash AND a content
    * stamp of the scanned files (path + mtime + length), so the same
    * tag over different data (tests, multiple corpora in one JVM)
    * re-counts — and so does data REGENERATED IN PLACE at the same
    * path, which the plan hash alone cannot see. The stamp is
    * [[planStamp]]; the count is memoized by [[stampMemo]]. */
  def broadcastBench(df: DataFrame, tag: String,
                     maxRows: Long = MaxBenchRows): DataFrame = {
    checkedRowCount(df, tag, maxRows)
    broadcast(df)
  }

  /** Identity of a frame's PLAN + DATA: the logical plan's semantic
    * hash joined with [[OfflineArtifact.filesStamp]] of every scanned
    * file (path, length, mtime via Hadoop FileSystem — java.io.File
    * returns fake zeros off local disk). The key the bounded-count
    * cache uses, and the key any driver-side memo of a frame-derived
    * value must use — data regenerated in place changes the stamp, so
    * a memo can never serve a stale value for a changed corpus. */
  private[analytics] def planStamp(df: DataFrame): String =
    df.queryExecution.logical.semanticHash() + ":" +
      OfflineArtifact.filesStamp(df.sparkSession, df.inputFiles.toSeq)

  /** Per-JVM memo of a value derived from `df`, keyed by `key` and
    * [[planStamp]]: one map serves every such value (bounded counts,
    * fetched query vectors), each under its own key prefix. `compute`
    * (a Spark job) runs OUTSIDE the map's compute lambda:
    * get-then-putIfAbsent instead of computeIfAbsent, so no
    * ConcurrentHashMap bin lock is held for the job's duration (a
    * concurrent duplicate job is harmless; a stalled bin is not). */
  private[analytics] def stampMemo[V <: AnyRef](df: DataFrame, key: String)
                                               (compute: => V): V = {
    val k = key + "@" + planStamp(df)
    val cached = memo.get(k)
    if (cached != null) cached.asInstanceOf[V]
    else {
      val v = compute
      val prev = memo.putIfAbsent(k, v)
      (if (prev != null) prev else v).asInstanceOf[V]
    }
  }

  /** The count-and-assert half of [[broadcastBench]], exposed for
    * callers that need the bounded frame's ROW COUNT as well as the
    * contract (e.g. the decon serve sizing its band-bucket map chunks,
    * [[DataQuality.DeconIndex]]) — same content-stamped
    * cache, so asking for the count and then broadcasting under the
    * same tag pays one count job, not two. */
  def checkedRowCount(df: DataFrame, tag: String,
                      maxRows: Long = MaxBenchRows): Long = {
    val n = stampMemo(df, "count:" + tag)(
      java.lang.Long.valueOf(df.count())).longValue()
    require(n <= maxRows,
      s"bench/eval frame '$tag' has $n rows (bound $maxRows): a frame " +
        "that scales with the corpus must not be broadcast — route it " +
        "through the banded/shuffled path instead")
    n
  }
}
