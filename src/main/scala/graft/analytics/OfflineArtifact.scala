package graft.analytics

import java.util.concurrent.ConcurrentHashMap

import scala.util.hashing.MurmurHash3

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The offline-artifact contract: every derived structure a query probes
  * — IVF/PQ index, int8 codes, MinHash band seed, gram blooms, BPE
  * merges, catalog statistics — is built ONCE per corpus epoch and
  * probed per query; nothing is re-trained at query time.
  *
  * '''Dir layout.''' A dir-shaped artifact lives at
  * `${java.io.tmpdir}/graft-<kind>-<key>-<stamp>-<variant>-<version>`:
  *  - `kind` names the artifact family (`ivf`, `int8`, `mhband`, …);
  *  - `key` is a 32-bit hash of the corpus dir STRING, so two corpora
  *    never share a dir;
  *  - `stamp` is [[stamp]] of the one input table the artifact derives
  *    from, so a corpus regenerated at the same path gets a new dir
  *    instead of silently serving a stale index;
  *  - `variant` carries the build parameters that change the bytes
  *    (list count, merge count, shard count; omitted when there are
  *    none);
  *  - `version` is the on-disk format. Bump it whenever a build writes
  *    a layout an older reader would misread (a new subdir, a changed
  *    column or encoding): the new name retires older dirs instead of
  *    half-reading them. Algorithm changes that keep the layout but
  *    change the bytes need a bump too, or an old dir keeps serving.
  *
  * '''Stamp rule.''' A recursive Hadoop `FileSystem` listing of the
  * input, folding each file's path RELATIVE to the input root, its
  * length and its mtime into a 64-bit hash (two independent murmur
  * seeds). Going through Hadoop, not `java.io.File`, is what keeps the
  * stamp live on `hdfs://`/`s3a://` inputs (a local-file walk lists
  * nothing there and freezes the stamp); the relative path (not the
  * bare file name) makes a part file moved between subdirectories — a
  * partition re-layout — a new stamp. A missing input stamps as a
  * distinct marker; any other listing failure is rethrown with the path
  * named, never swallowed into a stale key.
  *
  * '''Marker-last publishing.''' A dir counts as built only when its
  * [[Marker]] file exists (checked through Hadoop FS). A build first
  * clears whatever a crashed earlier build left at the dir, then
  * writes, and writes the marker LAST — so a crash at any point leaves
  * a dir the next [[Kind.ensure]] rebuilds, never one it reads.
  *
  * '''Memo.''' [[memo]] runs work at most once per (slot, key) per JVM:
  * one lock per slot (not a `ConcurrentHashMap.computeIfAbsent` bin
  * lock, which would stall unrelated keys for a multi-second Spark
  * build), and the slot records its key only after the work returns —
  * a throw leaves it unset and the next call retries. A slot remembers
  * its LAST key, not every key it has seen: a catalog table pointed at
  * corpus A, then B, then A again re-runs the third time.
  */
object OfflineArtifact {

  /** Completion marker at the root of a built artifact dir. Distinct
    * from Spark's `_SUCCESS` (written per output subdir, long before a
    * multi-output build is done) and from the `_COMPLETE` commit record
    * of [[IvfIndex.ensureFresh]]'s staging protocol. */
  val Marker = "_ARTIFACT_COMPLETE"

  private val stampSeeds = (0x9747b28c, 0x5bd1e995)

  private def hash64(s: String): String =
    f"${MurmurHash3.stringHash(s, stampSeeds._1)}%08x" +
      f"${MurmurHash3.stringHash(s, stampSeeds._2)}%08x"

  /** Content stamp of `path` (a file or a dir tree) — see the stamp
    * rule above. */
  def stamp(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    try {
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val root = fs.makeQualified(p).toUri.getPath
      val it = fs.listFiles(p, true)
      val sig = Seq.newBuilder[String]
      while (it.hasNext) {
        val st = it.next()
        sig += s"${st.getPath.toUri.getPath.stripPrefix(root)}:" +
          s"${st.getLen}:${st.getModificationTime}"
      }
      hash64(sig.result().sorted.mkString("|"))
    } catch {
      case _: java.io.FileNotFoundException => "missing"
      case e: java.io.IOException =>
        throw new java.io.IOException(
          s"cannot stamp '$path': a listing failure must not fall back " +
            "to a stale artifact; retry", e)
    }
  }

  /** Stamp of an explicit file list (each stat'ed, not walked) — the
    * data half of [[Bounded.planStamp]]. A file that vanished between
    * planning and stamping folds in as a distinct marker. */
  private[analytics] def filesStamp(spark: SparkSession,
                                    files: Seq[String]): String = {
    val hconf = spark.sparkContext.hadoopConfiguration
    hash64(files.sorted.map { f =>
      val p = new Path(f)
      try {
        val st = p.getFileSystem(hconf).getFileStatus(p)
        s"$f:${st.getLen}:${st.getModificationTime}"
      } catch {
        case _: java.io.FileNotFoundException => s"$f:missing"
      }
    }.mkString("|"))
  }

  /** True iff `dir`'s completion [[Marker]] exists. */
  def isComplete(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir, Marker)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Write `dir`'s completion marker — the last step of any build that
    * produces a whole artifact dir. */
  private[analytics] def markComplete(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir, Marker)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(p, true).close()
  }

  /** Build `dir` from scratch: clear any partial leftovers, run `build`
    * into an empty dir, then write the marker. */
  private def publish[T](spark: SparkSession, dir: String)(build: => T): T = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    fs.mkdirs(p)
    val v = build
    markComplete(spark, dir)
    v
  }

  /** One artifact family: its `name` (the `kind` of the layout), the
    * corpus `table` its stamp is taken of, and its format `version`.
    * `variant` carries the build parameters of one member. */
  final case class Kind(name: String, table: String, version: String) {

    private def dirOf(spark: SparkSession, sfDir: String,
                      variant: String): String = {
      val key = Integer.toHexString(MurmurHash3.stringHash(sfDir, stampSeeds._1))
      val st = stamp(spark, s"$sfDir/$table.parquet")
      Seq(s"${sys.props("java.io.tmpdir")}/graft", name, key, st, variant,
          version).filter(_.nonEmpty).mkString("-")
    }

    /** The artifact dir over `sfDir` (stamped through the active
      * session's Hadoop conf). */
    def dir(sfDir: String, variant: String = ""): String =
      dirOf(SparkSession.active, sfDir, variant)

    /** Build the artifact dir once (per JVM via [[memo]], across JVMs
      * via the marker) and return it. `build` receives the dir. */
    def ensure(spark: SparkSession, sfDir: String, variant: String = "")
              (build: String => Unit): String =
      load(spark, sfDir, variant) { d => build(d); d }(identity)

    /** The artifact's content, once per JVM: `build` writes the dir and
      * returns what it wrote, `read` loads a dir built earlier — for
      * artifacts whose probe side wants the content in driver memory
      * (BPE merges). */
    def load[T](spark: SparkSession, sfDir: String, variant: String = "")
               (build: String => T)(read: String => T): T = {
      val d = dirOf(spark, sfDir, variant)
      memo(s"$name|$sfDir|$variant|$version", d) {
        if (isComplete(spark, d)) read(d) else publish(spark, d)(build(d))
      }
    }
  }

  private final class Slot { var key: String = _; var value: Any = _ }
  private val slots = new ConcurrentHashMap[String, Slot]()

  /** `work`'s result for `key`, computed at most once while `slot`'s
    * last key stays `key` — see the memo rule above. Callers namespace
    * their slots (`kind|…`), and one slot always holds one type. */
  def memo[T](slot: String, key: String)(work: => T): T = {
    val s = slots.computeIfAbsent(slot, _ => new Slot)
    s.synchronized {
      if (s.key != key) {
        s.value = work
        s.key = key
      }
      s.value.asInstanceOf[T]
    }
  }
}
