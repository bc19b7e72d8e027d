package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, Executors}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command line of the harness JVM (`run.py` builds it). */
final case class Args(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, cores: Int, work: String, out: String)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
         need("trace") == "1", need("cores").toInt, need("work"), need("out"))
  }
}

/** One timed part of a workload: a set-up from cold, a warm-up, and a
  * unit of timed work the harness repeats until the part's share of the
  * run's time is spent and at least [[minSteps]] units have run. */
trait Part {
  /** Set up from cold; returns seconds per named sub-step. */
  def prepare(): Map[String, Double]
  def warmup(): Unit
  /** One whole unit of timed work (an epoch, a pass, a batch). */
  def step(): Unit
  def minSteps: Int = 1
}

/** One workload: seeded inputs, then its parts in order. */
trait Workload {
  /** Write the seeded inputs (not part of set-up time). */
  def generate(): Unit
  def parts: Seq[Part]
  /** After the timed region: outputs the correctness check needs. */
  def finish(): Map[String, Any]
}

/** Harness state shared with the workloads: the session, the tracer, and
  * the operation log every latency sample comes from. */
final class Run(val spark: SparkSession, val args: Args) {
  final case class Op(kind: String, name: String, t0: Double, t1: Double,
                      ok: Boolean, phase: String, err: String,
                      attrs: Map[String, Any])
  val tracer = new Tracer
  val ops = ArrayBuffer.empty[Op]
  /** (persisted RDDs, persisted MB) at each operation's return, before
    * anything is released. */
  val cacheSamples = ArrayBuffer.empty[(Int, Double)]
  var phase = "setup"

  def path(rel: String): String = s"${args.work}/$rel"

  private def group(spanId: Int): Unit =
    if (args.trace)
      spark.sparkContext.setJobGroup(s"span-$spanId", "perfbench",
                                     interruptOnCancel = false)

  /** A traced sub-step of an operation; in a traced run its jobs carry
    * the span's job group. */
  def sub[T](name: String, layer: String)(body: => T): T = {
    val parent = tracer.current
    tracer.span(name, layer) {
      tracer.current.foreach(group)
      try body finally parent.foreach(group)
    }
  }

  /** One timed operation. A throw is recorded as a failed operation, and
    * the operation's persisted blocks are sampled, then released. */
  def op(kind: String, name: String, attrs: Map[String, Any] = Map.empty,
         release: Boolean = true)(body: => Unit): Boolean = {
    val t0 = Clock.nowMs
    var err = ""
    try sub(s"$kind:$name", "op")(body)
    catch { case e: Throwable =>
      err = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
      System.err.println(s"[perfbench] $kind $name failed: $err")
    }
    val t1 = Clock.nowMs
    if (args.trace) spark.sparkContext.clearJobGroup()
    ops += Op(kind, name, t0, t1, err.isEmpty, phase, err, attrs)
    cacheSamples += Blocks.persisted(spark)
    if (release) Blocks.release(spark)
    err.isEmpty
  }

  /** Warm-up operations, run [[Args.cores]] at a time: they are no
    * samples, only the JIT and code-generation caches they fill matter.
    * Each is logged as an operation of the warm-up phase, so a failure
    * counts; blocks are released once all have returned. */
  def warm(kind: String, names: Seq[String])(body: String => Unit): Unit = {
    val pool = Executors.newFixedThreadPool(args.cores)
    try {
      val pending = names.map { n =>
        pool.submit(new Callable[Op] {
          def call(): Op = {
            val t0 = Clock.nowMs
            val err = try { body(n); "" } catch { case e: Throwable =>
              s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400) }
            if (err.nonEmpty) System.err.println(s"[perfbench] $kind $n failed: $err")
            Op(kind, n, t0, Clock.nowMs, err.isEmpty, phase, err, Map.empty)
          }
        })
      }
      pending.foreach { f => ops += f.get(); cacheSamples += Blocks.persisted(spark) }
    } finally pool.shutdown()
    Blocks.release(spark)
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Main {
  def session(args: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(args)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val run = new Run(spark, args)
    val engine = new EngineListener
    val streams = new StreamListener
    if (args.trace) {
      spark.sparkContext.addSparkListener(engine)
      spark.streams.addListener(streams)
    }
    val w: Workload = args.workload match {
      case "artifact_app" => new ArtifactApp(run)
      case "curation" => new Curation(run)
      case other => sys.error(s"unknown workload $other")
    }
    val (_, generateS) = run.timed(w.generate())
    val setup = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = setup(k) = setup.getOrElse(k, 0.0) + v
    // set-up time: process start to the first timed operation, less input
    // generation, plus the set-up and warm-up of every later part
    var setupS = 0.0
    var timedS = 0.0
    var steps = 0
    for ((p, i) <- w.parts.zipWithIndex) {
      run.phase = "setup"
      // a set-up step that fails stops the run with its cause
      val (sub, prepareS) = run.timed(run.tracer.span("setup", "setup")(p.prepare()))
      sub.foreach { case (k, v) => add(k, v) }
      run.phase = "warmup"
      val (_, warmupS) = run.timed(p.warmup())
      add("prepare", prepareS)
      add("warmup", warmupS)
      run.phase = "timed"
      val t0 = Clock.nowMs
      setupS += (if (i == 0) (t0 - jvmStart) / 1000.0 - generateS else prepareS + warmupS)
      val deadline = t0 + args.seconds * 1000.0 / w.parts.size
      var n = 0
      while (n < p.minSteps || Clock.nowMs < deadline) { p.step(); n += 1 }
      timedS += (Clock.nowMs - t0) / 1000.0
      steps += n
    }
    run.phase = "finish"
    val extra = w.finish()
    if (args.trace) engine.settle()
    val result = Map(
      "workload" -> args.workload, "seed" -> args.seed, "cores" -> args.cores,
      "trace" -> args.trace, "session_s" -> sessionS, "setup_s" -> setupS,
      "generate_s" -> generateS,
      "setup" -> setup.toMap,
      "timed_s" -> timedS, "steps" -> steps,
      "ops" -> run.ops.map(o => Map("kind" -> o.kind, "name" -> o.name,
        "t0" -> o.t0, "t1" -> o.t1, "ok" -> o.ok, "phase" -> o.phase,
        "err" -> o.err) ++ o.attrs),
      "cache" -> run.cacheSamples.map { case (n, mb) => Seq(n, mb) },
      "extra" -> extra)
    val body = Json(result).stripSuffix("}") +
      (if (args.trace)
         s""","spans":${run.tracer.toJson},"engine":${engine.toJson},""" +
         s""""stream_progress":${streams.toJson}}"""
       else "}")
    Files.write(Paths.get(args.out), body.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  // ------------------------------------------------------------ file utils

  /** Data files (not markers or checksums) under `dir`, relative paths. */
  def dataFiles(dir: String): Seq[(String, Long)] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Seq.empty
    else {
      val walk = Files.walk(root)
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) && !hidden(root.relativize(p)))
        .map(p => root.relativize(p).toString -> Files.size(p)).toSeq.sorted
      finally walk.close()
    }
  }
  private def hidden(rel: Path): Boolean =
    rel.iterator().asScala.exists { part =>
      val s = part.toString
      s.startsWith("_") || s.startsWith(".")
    }

  /** All files (including markers and metadata) and bytes under `dir`. */
  def treeSize(dir: String): (Int, Long) = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) (0, 0L)
    else {
      val walk = Files.walk(root)
      try {
        val fs = walk.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        (fs.size, fs.map(Files.size).sum)
      } finally walk.close()
    }
  }

  def writeLines(path: String, lines: Iterable[String]): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), lines.asJava, StandardCharsets.UTF_8)
    ()
  }
}
