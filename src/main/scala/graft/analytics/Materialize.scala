package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one materialization policy, and the lifetime of what it pins.
  *
  *  - [[once]], an eager `localCheckpoint`, is for BOUNDED frames: a
  *    micro-batch, an iteration's state (a loop's lineage must not grow
  *    per round), a top-k serve, an audit's exact side. Its blocks ARE
  *    its data, so an executor loss fails a query still reading them;
  *    bounded state is cheap to recompute one level up.
  *  - [[shared]], a MEMORY_AND_DISK `persist` with lineage INTACT, is
  *    for CORPUS-WIDE frames with several consumers: the first fills
  *    the blocks, and a lost partition is recomputed from lineage
  *    instead of failing the query.
  *  - [[scoped]] releases every frame `once`/`shared` made in `body` —
  *    on this thread or on the [[ParActions]] threads it starts — when
  *    `body` returns or throws. An entry returns a lazy frame over such
  *    blocks, so its consumer writes the result inside the scope.
  *
  * Outside a scope nothing is released (`GraftSession.release` drops
  * what a session holds). A scope is carried by its thread, never found
  * by diffing the session's persisted RDDs, so blocks other driver code
  * pins (a running stream, a test) are never taken. */
object Materialize {

  /** The releases one scope owes. */
  final class Scope {
    private val owed = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    private[Materialize] def owe(f: () => Unit): Unit =
      synchronized { owed += f; () }
    def close(): Unit = synchronized { owed.foreach(_()); owed.clear() }
  }

  private val current = new ThreadLocal[Scope]

  private[graft] def scope: Scope = current.get // null: none open

  /** `df` checkpointed — or `df` itself when it is a checkpoint already
    * (an RDD-backed frame that is not recomputes per action: copied). */
  def once(df: DataFrame): DataFrame =
    if (checkpointed(df)) df
    else {
      val out = df.localCheckpoint(true)
      Option(current.get).foreach(_.owe(() => release(out)))
      out
    }

  /** [[once]], plus `metrics` — named aggregates over `df`'s rows — by
    * name. They ride the checkpoint's own job (an [[Observation]]), so
    * a side result (a row count, a key set) costs no action of its own.
    * A frame that is a checkpoint already runs no checkpoint job, so
    * its metrics are one aggregate over its blocks. */
  def onceObserving(df: DataFrame, metrics: Column*): (DataFrame, Map[String, Any]) =
    if (checkpointed(df)) {
      val r = df.agg(metrics.head, metrics.tail: _*).head()
      (df, r.getValuesMap[Any](r.schema.fieldNames.toSeq))
    } else {
      val obs = Observation()
      val out = once(df.observe(obs, metrics.head, metrics.tail: _*))
      (out, obs.get)
    }

  private def checkpointed(df: DataFrame): Boolean =
    df.queryExecution.analyzed match {
      case r: LogicalRDD => r.rdd.isCheckpointed
      case _ => false
    }

  /** `df` persisted — or as it is when the caller cached it, and then
    * it stays the caller's to release. */
  def shared(df: DataFrame): DataFrame =
    if (df.storageLevel != StorageLevel.NONE) df
    else {
      val out = df.persist(StorageLevel.MEMORY_AND_DISK)
      Option(current.get).foreach(_.owe(() => { out.unpersist(false); () }))
      out
    }

  /** Drop the checkpoints `df` reads before their scope ends (a round
    * a newer one superseded). */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed.foreach {
    case r: LogicalRDD if r.rdd.isCheckpointed => r.rdd.unpersist(false); ()
    case _ => ()
  }

  def scoped[T](body: => T): T = {
    val s = new Scope
    try within(s)(body) finally s.close()
  }

  /** `body` with `s` as this thread's scope: a [[ParActions]] thread,
    * or a stream's static side in the scope its query owns. */
  private[graft] def within[T](s: Scope)(body: => T): T = {
    val outer = current.get
    current.set(s)
    try body finally current.set(outer)
  }
}
