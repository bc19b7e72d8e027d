package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Minimal JSON writer for the harness's result file (no JSON library
  * ships on the Spark classpath that is stable across versions). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case a: Array[_] => a.map(apply).mkString("[", ",", "]")
    case x => str(x.toString)
  }
}

/** Wall clock in epoch milliseconds with nanosecond resolution, so span
  * times line up with the millisecond event times Spark's listeners
  * report. */
object Clock {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6
}

/** Spans recorded in memory and written when the run ends. A span is
  * (id, parent, name, layer, start, end); the benchmark has one client
  * thread, so the open-span stack is a plain stack. */
final class Tracer {
  final case class Span(id: Int, parent: Int, name: String, layer: String,
                        t0: Double, var t1: Double, var ok: Boolean)
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  def span[T](name: String, layer: String)(body: => T): T = {
    val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name,
                 layer, Clock.nowMs, Double.NaN, ok = false)
    spans += s
    stack = s :: stack
    try { val r = body; s.ok = true; r }
    finally { s.t1 = Clock.nowMs; stack = stack.tail }
  }

  /** Id of the innermost open span. */
  def current: Option[Int] = stack.headOption.map(_.id)

  def toJson: String = Json(spans.map(s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "t0" -> s.t0, "t1" -> s.t1, "ok" -> s.ok)))
}

/** Engine-layer counters for the traced run: every job (with the job
  * group the benchmark set and its time window) and every completed
  * stage with its aggregated task metrics. */
final class EngineListener extends SparkListener {
  final case class Job(id: Int, group: String, t0: Long, var t1: Long,
                       stageIds: Seq[Int])
  final case class Stage(id: Int, attempt: Int, tasks: Int, t0: Long,
                         t1: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                         shuffleRead: Long, shuffleWrite: Long,
                         spill: Long, input: Long)
  val jobs = ArrayBuffer.empty[Job]
  val stages = ArrayBuffer.empty[Stage]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs += Job(e.jobId, g, e.time, -1L, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.t1 = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      if (m != null)
        stages += Stage(si.stageId, si.attemptNumber(), si.numTasks,
          si.submissionTime.getOrElse(-1L), si.completionTime.getOrElse(-1L),
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead)
    }

  /** Listener events arrive on Spark's asynchronous bus: wait (bounded)
    * until every started job has ended before reading the records. */
  def settle(): Unit = {
    val deadline = System.currentTimeMillis() + 10000L
    while (synchronized(jobs.exists(_.t1 < 0)) &&
           System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(200)
  }

  def toJson: String = synchronized {
    Json(Map(
      "jobs" -> jobs.map(j => Map("id" -> j.id, "group" -> j.group,
        "t0" -> j.t0, "t1" -> j.t1, "stages" -> j.stageIds)),
      "stages" -> stages.map(s => Map("id" -> s.id, "attempt" -> s.attempt,
        "tasks" -> s.tasks, "t0" -> s.t0, "t1" -> s.t1, "run_ms" -> s.runMs,
        "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs,
        "shuffle_read" -> s.shuffleRead, "shuffle_write" -> s.shuffleWrite,
        "spill" -> s.spill, "input" -> s.input))))
  }
}

/** Streaming-layer counters for the traced run: one record per
  * micro-batch progress event. */
final class StreamListener extends StreamingQueryListener {
  val progress = ArrayBuffer.empty[Map[String, Any]]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      progress += Map("batch" -> p.batchId, "rows" -> p.numInputRows,
        "add_batch_ms" -> ms("addBatch"), "wal_commit_ms" -> ms("walCommit"),
        "commit_offsets_ms" -> ms("commitOffsets"),
        "planning_ms" -> ms("queryPlanning"),
        "latest_offset_ms" -> ms("latestOffset"),
        "get_batch_ms" -> ms("getBatch"),
        "trigger_ms" -> ms("triggerExecution"))
    }
  def toJson: String = synchronized(Json(progress))
}

/** Block-manager occupancy: bytes held by persisted RDD blocks (memory
  * plus disk) and how many persisted RDDs are registered. */
object Blocks {
  def persisted(spark: SparkSession): (Int, Double) = {
    val sc = spark.sparkContext
    val n = sc.getPersistentRDDs.size
    val bytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    (n, bytes / 1048576.0)
  }
  def release(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    spark.catalog.clearCache()
  }
}
