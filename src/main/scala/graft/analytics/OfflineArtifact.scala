package graft.analytics

import java.io.IOException
import java.util.concurrent.ConcurrentHashMap

import scala.util.hashing.MurmurHash3

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
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
  * '''Staged swap.''' Index MAINTENANCE (compaction, tombstone purge,
  * drift rebuild) rewrites part of a built dir in place through one
  * step, on the dir's Hadoop `FileSystem` like everything above:
  *
  *  1. [[recover]] runs at the START of every op that stages: a
  *     leftover staging dir WITH its commit record has its swap
  *     completed (step 3); one without is discarded (the target was
  *     never touched).
  *  2. Stage: the rewrite lands in a STAGING dir next to the target —
  *     `.<op>-<target>` for [[stagedSwap]], dot-prefixed so Spark
  *     readers ignore it while it is half-written.
  *  3. Commit, then swap: the staged dir's commit record (Spark's
  *     `_SUCCESS`) marks it complete; the swap snapshots the target's
  *     data files, MOVES the staged data files in FIRST (part-file
  *     names carry task UUIDs, never colliding with existing names),
  *     then deletes the snapshot and drops the staging dir.
  *
  * Crash-window analysis — why no state is ever lost:
  *  - before the commit record: target untouched; recovery discards
  *    the staging dir.
  *  - between the commit record and the last move: target holds old ∪
  *    some staged files — DUPLICATES of surviving rows (deleted rows
  *    are still masked: a purge clears its tombstones only after every
  *    swap). Recovery completes the moves and returns the target's
  *    name; the caller's rewrite of it is natural-key-deduplicating, so
  *    it converges to the exact row set.
  *  - between the last move and the snapshot delete: same duplicate
  *    state, same convergence.
  * A delete-then-move order would have a window where the data exists
  * ONLY in the (reader-invisible) staging dir; this order never has.
  *
  * A drift rebuild replaces a WHOLE artifact dir, whose subdirs keep
  * their names, so its files cannot move in first: [[swapDir]] stages
  * at `<dir>-fresh`, commits with [[Marker]] (the staged dir is a
  * complete artifact in its own right), moves the target aside to
  * `<dir>-stale`, moves the stage in and drops the stale copy. A crash
  * between the two moves leaves no target, and the committed stage
  * that the next [[swapDir]] moves in.
  *
  * Every Hadoop `rename` or `delete` that answers `false` throws,
  * naming the path (a delete of a path that is already gone is not a
  * failure): a maintenance step never half-runs quietly.
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

  /** Completion marker at the root of a built artifact dir, and the
    * commit record of a [[swapDir]] stage. Distinct from Spark's
    * `_SUCCESS` (written per output subdir, long before a multi-output
    * build is done). */
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

  /** `path` and its Hadoop `FileSystem` under the session's conf. */
  private[analytics] def fsPath(spark: SparkSession,
                                path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private[graft] def exists(spark: SparkSession, path: String): Boolean = {
    val (fs, p) = fsPath(spark, path)
    fs.exists(p)
  }

  /** Recursive delete of `path` (see the loud-failure rule above). */
  private[graft] def delete(spark: SparkSession, path: String): Unit = {
    val (fs, p) = fsPath(spark, path)
    remove(fs, p)
  }

  private[analytics] def remove(fs: FileSystem, p: Path): Unit =
    if (!fs.delete(p, true) && fs.exists(p))
      throw new IOException(s"cannot delete $p")

  private[analytics] def move(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to))
      throw new IOException(s"cannot rename $from to $to")

  /** The entries of dir `path` (none when it does not exist). */
  private[analytics] def children(spark: SparkSession,
                                  path: String): Seq[FileStatus] = {
    val (fs, p) = fsPath(spark, path)
    if (fs.exists(p)) fs.listStatus(p).toSeq else Nil
  }

  /** Parquet data files of a dir (skips `_SUCCESS` and dot sidecars). */
  private[analytics] def dataFiles(spark: SparkSession,
                                   dir: String): Seq[Path] =
    children(spark, dir).filter(_.isFile).map(_.getPath)
      .filter(p => !p.getName.startsWith(".") && !p.getName.startsWith("_"))

  /** True iff `dir`'s completion [[Marker]] exists. */
  def isComplete(spark: SparkSession, dir: String): Boolean =
    exists(spark, new Path(dir, Marker).toString)

  /** Write `dir`'s completion marker — the last step of any build that
    * produces a whole artifact dir. */
  private[analytics] def markComplete(spark: SparkSession, dir: String): Unit = {
    val (fs, p) = fsPath(spark, new Path(dir, Marker).toString)
    fs.create(p, true).close()
  }

  /** Build `dir` from scratch: clear any partial leftovers, run `build`
    * into an empty dir, then write the marker. */
  private def publish[T](spark: SparkSession, dir: String)(build: => T): T = {
    val (fs, p) = fsPath(spark, dir)
    remove(fs, p)
    fs.mkdirs(p)
    val v = build
    markComplete(spark, dir)
    v
  }

  /** The staged-swap step for the data-file dir `target` (see the
    * protocol above): `stage` writes the replacement with Spark into
    * the staging dir whose path it receives, then the committed stage
    * is swapped in. */
  private[analytics] def stagedSwap(spark: SparkSession, target: String,
                                    op: String)(stage: String => Unit): Unit = {
    val (fs, t) = fsPath(spark, target)
    val staged = new Path(t.getParent, s".$op-${t.getName}")
    stage(staged.toString)
    if (!fs.exists(new Path(staged, "_SUCCESS")))
      throw new IOException(s"staging dir $staged has no _SUCCESS")
    swapIn(spark, fs, staged, t, dataFiles(spark, target))
  }

  /** Move the committed stage's data files into `target`, then delete
    * the `superseded` files and the stage. */
  private def swapIn(spark: SparkSession, fs: FileSystem, staged: Path,
                     target: Path, superseded: Seq[Path]): Unit = {
    fs.mkdirs(target)
    dataFiles(spark, staged.toString)
      .foreach(f => move(fs, f, new Path(target, f.getName)))
    superseded.foreach(remove(fs, _))
    remove(fs, staged)
  }

  /** Complete (or discard) interrupted [[stagedSwap]]s of `op` under
    * `parent`. Returns the target names whose swap was COMPLETED from a
    * committed stage: callers must force a deduplicating rewrite of
    * those targets (they may hold old ∪ staged duplicates). */
  private[analytics] def recover(spark: SparkSession, parent: String,
                                 op: String): Seq[String] = {
    val (fs, p) = fsPath(spark, parent)
    val prefix = s".$op-"
    children(spark, parent).filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.startsWith(prefix))
      .flatMap { staged =>
        if (fs.exists(new Path(staged, "_SUCCESS"))) {
          val name = staged.getName.stripPrefix(prefix)
          swapIn(spark, fs, staged, new Path(p, name), Nil)
          Some(name)
        } else { remove(fs, staged); None }
      }
  }

  /** The whole-dir form (see the protocol above): if `<dir>-fresh` is
    * committed, move `dir` aside and the stage in, and return true;
    * otherwise discard an uncommitted stage and return false. Leftover
    * `<dir>-stale` copies go either way. A rebuild stages into
    * `<dir>-fresh`, writes its [[Marker]] and calls this; calling it
    * before the rebuild recovers an interrupted swap. */
  private[analytics] def swapDir(spark: SparkSession, dir: String): Boolean = {
    val (fs, target) = fsPath(spark, dir)
    val fresh = new Path(s"$dir-fresh")
    val stale = new Path(s"$dir-stale")
    val committed = fs.exists(new Path(fresh, Marker))
    if (committed) {
      if (fs.exists(target)) { remove(fs, stale); move(fs, target, stale) }
      move(fs, fresh, target)
    } else remove(fs, fresh)
    remove(fs, stale)
    committed
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
