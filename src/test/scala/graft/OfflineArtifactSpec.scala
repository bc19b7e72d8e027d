package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import graft.analytics._

/** The offline-artifact layer: marker-last publishing for every
  * artifact kind, the per-slot memo, and the tripwire that keeps the
  * per-module copies from coming back. */
class OfflineArtifactSpec extends SparkSpec {
  import spark.implicits._

  /** A private copy of the sf0.001 corpus tables the artifacts read, so
    * artifact paths are fresh for this JVM. */
  private def corpusCopy(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    Seq("embeddings", "documents").foreach { t =>
      Files.copy(Paths.get(s"$sf0001/$t.parquet"), dir.resolve(s"$t.parquet"))
    }
    dir.toString
  }

  private def scalaFiles(d: java.io.File): Seq[java.io.File] =
    d.listFiles().toSeq.sortBy(_.getName).flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  /** Scaladoc and comment lines are not code. */
  private def isComment(line: String): Boolean =
    Seq("*", "//", "/*").exists(line.trim.startsWith)

  test("a partial artifact (data, no marker) is rebuilt, never read") {
    val c = corpusCopy("graft-partial")
    val nVecs = spark.read.parquet(s"$c/embeddings.parquet").count()
    val nCorpus = MinHashBandIndex.corpusOf(
      spark.read.parquet(s"$c/documents.parquet")).count()
    // each kind: stage readable-but-wrong data (including Spark's own
    // `_SUCCESS`, the old completion check) where ensure will look
    def junk(path: String): Unit =
      spark.range(3).write.mode("overwrite").parquet(path)
    def junkFile(path: String): Unit = {
      Files.createDirectories(Paths.get(path).getParent)
      Files.write(Paths.get(path), Array[Byte](1, 2, 3))
    }
    val ivf = IvfIndex.indexDir(c, IvfIndex.DefaultLists)
    junk(s"$ivf/assignments")
    val int8 = Int8Index.indexDir(c)
    junk(s"$int8/codes")
    val mh = MinHashBandIndex.indexDir(c)
    junk(s"$mh/bands")
    val bpe = BpeTokenizer.mergesDir(c)
    Seq((0, "x", "y", 1L)).toDF("rank", "l", "r", "cnt")
      .write.mode("overwrite").parquet(bpe)
    val bloom = BloomGramIndex.filterPath(c)
    junkFile(bloom) // a filter with no sizing sidecar
    val sharded = BloomGramIndex.shardedPath(c, DataQuality.ShardedK)
    junkFile(s"$sharded-s0") // one shard of K, no sidecar

    assert(IvfIndex.ensure(spark, c) == ivf)
    assert(IvfIndex.readAssignments(spark, ivf).count() == nVecs)
    assert(Int8Index.ensure(spark, c) == int8)
    assert(Int8Index.readCodes(spark, int8).count() == nVecs)
    assert(MinHashBandIndex.ensure(spark, c) == mh)
    assert(spark.read.parquet(s"$mh/shingles").count() == nCorpus)
    assert(spark.read.parquet(s"$mh/bands").columns.contains("corpus_id"))
    val merges = BpeTokenizer.loadOrLearn(spark, c)
    assert(merges.size == BpeTokenizer.Merges)
    assert(merges.head.l != "x", "the staged merges table was read")
    assert(BloomGramIndex.ensure(spark, c) == bloom)
    assert(BloomGramIndex.ensureSharded(spark, c, DataQuality.ShardedK) ==
             sharded)
    (bloom +: (0 until DataQuality.ShardedK).map(i => s"$sharded-s$i"))
      .foreach { f =>
        BloomGramIndex.sizing(f)
        org.apache.spark.util.sketch.BloomFilter.readFrom(
          Files.readAllBytes(Paths.get(f)))
      }
    Seq(ivf, int8, mh, bpe, Paths.get(bloom).getParent.toString,
        Paths.get(sharded).getParent.toString).foreach { d =>
      assert(OfflineArtifact.isComplete(spark, d), s"$d has no marker")
    }
  }

  test("artifact memo: one build per slot under concurrency; a throw " +
       "retries; a slow build does not block another slot") {
    val c = Files.createTempDirectory("graft-memo").toString
    spark.range(5).write.parquet(s"$c/t.parquet")
    val kind = OfflineArtifact.Kind("memotest", "t", "v1")
    def ensure(variant: String)(build: String => Unit): String =
      kind.ensure(spark, c, variant)(build)
    // two threads, one artifact: the second waits on the slot and finds
    // the first's build
    val builds = new AtomicInteger()
    val entered = new CountDownLatch(1)
    def slowBuild(d: String): Unit = {
      builds.incrementAndGet()
      entered.countDown()
      Thread.sleep(500)
      Files.write(Paths.get(d, "payload"), Array[Byte](1))
    }
    val first = Future(ensure("same")(slowBuild))
    assert(entered.await(60, TimeUnit.SECONDS))
    val second = Future(ensure("same")(slowBuild))
    val dirs = Seq(first, second).map(Await.result(_, 60.seconds))
    assert(dirs.distinct.size == 1)
    assert(builds.get == 1, "concurrent callers must build once")
    assert(Files.exists(Paths.get(dirs.head, "payload")))
    // a build that throws leaves the slot unset and no marker: the
    // next call builds again
    val boom = intercept[IllegalStateException] {
      ensure("flaky")(_ => throw new IllegalStateException("boom"))
    }
    assert(boom.getMessage == "boom")
    val flaky = kind.dir(c, "flaky")
    assert(!OfflineArtifact.isComplete(spark, flaky))
    var retried = false
    assert(ensure("flaky")(_ => retried = true) == flaky)
    assert(retried, "a failed build must be retried")
    assert(OfflineArtifact.isComplete(spark, flaky))
    // a build blocked on one slot does not hold up another slot
    val release = new CountDownLatch(1)
    val started = new CountDownLatch(1)
    val blocked = Future(ensure("blocked") { _ =>
      started.countDown()
      release.await(60, TimeUnit.SECONDS)
    })
    assert(started.await(60, TimeUnit.SECONDS))
    try {
      Await.result(Future(ensure("other")(_ => ())), 30.seconds)
      assert(!blocked.isCompleted)
    } finally release.countDown()
    Await.result(blocked, 60.seconds)
  }

  test("tripwire: no hand-rolled stamp, tmpdir name or _SUCCESS check " +
       "outside OfflineArtifact") {
    val root = new java.io.File("src/main/scala/graft/analytics")
    assert(root.isDirectory, s"source dir not found from ${root.getAbsolutePath}")
    val allowed = Set("OfflineArtifact.scala")
    val banned = Seq("java\\.io\\.tmpdir", "MurmurHash3\\.stringHash",
                     "File\\([^)]*_SUCCESS").map(_.r)
    // local-file access, banned in every file: index dirs live on any
    // Hadoop FS scheme (scaladoc and comment lines are not code)
    val localFile = Seq("new java\\.io\\.File\\(", "java\\.nio\\.file\\.Files\\.",
                        "FileInputStream\\(").map(_.r)
    val hits = for {
      f <- root.listFiles().toSeq.sortBy(_.getName)
      if f.getName.endsWith(".scala")
      (line, i) <- Files.readAllLines(f.toPath).asScala.zipWithIndex
      if (!allowed(f.getName) && banned.exists(_.findFirstIn(line).isDefined)) ||
         (!isComment(line) && localFile.exists(_.findFirstIn(line).isDefined))
    } yield s"${f.getName}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, "route these through OfflineArtifact:\n" +
      hits.mkString("\n"))
  }

  test("tripwire: no checkpoint, persist, cache or unpersist outside " +
       "Materialize and GraftSession.release") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"source dir not found from ${root.getAbsolutePath}")
    val allowed = Set("graft/analytics/Materialize.scala", "graft/GraftSession.scala")
    val banned = Seq("localCheckpoint\\(", "\\.persist\\(", "\\.cache\\(\\)",
                     "\\.unpersist\\(").map(_.r)
    val hits = for {
      f <- scalaFiles(root)
      rel = root.toPath.relativize(f.toPath).toString
      if !allowed(rel)
      (line, i) <- Files.readAllLines(f.toPath).asScala.zipWithIndex
      if !isComment(line) && banned.exists(_.findFirstIn(line).isDefined)
    } yield s"$rel:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, s"route these ${hits.size} through Materialize:\n" +
      hits.mkString("\n"))
  }

  test("tripwire: no SparkSession.builder outside GraftSession") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"source dir not found from ${root.getAbsolutePath}")
    val hits = for {
      f <- scalaFiles(root)
      (line, i) <- Files.readAllLines(f.toPath).asScala.zipWithIndex
      if line.contains("SparkSession.builder")
    } yield s"${root.toPath.relativize(f.toPath)}:${i + 1}: ${line.trim}"
    assert(hits.map(_.takeWhile(_ != ':')) == Seq("graft/GraftSession.scala"),
      "build sessions through GraftSession:\n" + hits.mkString("\n"))
  }

  test("tripwire: foreachBatch and partitionOverwriteMode only in the " +
       "micro-batch protocol helpers") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"source dir not found from ${root.getAbsolutePath}")
    val defName = "\\bdef (\\w+)".r
    // each code use, with the def it sits in
    val hits = for {
      f <- scalaFiles(root)
      code = Files.readAllLines(f.toPath).asScala.toIndexedSeq
        .map(l => if (isComment(l)) "" else l)
      (line, i) <- code.zipWithIndex
      token <- Seq("foreachBatch", "partitionOverwriteMode")
      if line.contains(token)
    } yield {
      val owner = code.take(i + 1).reverseIterator
        .flatMap(defName.findFirstMatchIn(_)).nextOption().fold("?")(_.group(1))
      (s"${root.toPath.relativize(f.toPath)}", token, owner, i + 1)
    }
    assert(hits.map(h => (h._1, h._2, h._3)) == Seq(
        ("graft/streaming/EventStreams.scala", "foreachBatch", "perBatch"),
        ("graft/streaming/EventStreams.scala", "partitionOverwriteMode", "land")),
      s"route these ${hits.size} through EventStreams.perBatch / land:\n" +
        hits.map { case (f, t, o, n) => s"$f:$n: $t (in $o)" }.mkString("\n"))
  }

  test("tripwire: semantic decon is scored and configured only in " +
       "DataQuality") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"source dir not found from ${root.getAbsolutePath}")
    val owner = "graft/analytics/DataQuality.scala"
    // an exact max-cosine scan or a bench-vecs broadcast written out by
    // hand, or a banding config resolved by hand
    val banned = Seq("max\\(\\S*cosineNative\\(", "deconConfigFor\\(").map(_.r)
    val hits = for {
      f <- scalaFiles(root)
      rel = root.toPath.relativize(f.toPath).toString
      if rel != owner
      code = Files.readAllLines(f.toPath).asScala
        .map(l => if (isComment(l)) "" else l).mkString("\n")
      at <- ("broadcastBench\\(" +: banned.map(_.regex)).mkString("|").r
        .findAllMatchIn(code).map(_.start).toSeq
      // the call's argument list: a broadcastBench call often spans lines
      call = {
        var depth = 0
        code.drop(at).takeWhile { ch =>
          if (ch == '(') depth += 1 else if (ch == ')') depth -= 1
          depth > 0 || ch != ')'
        }
      }
      if call.contains("bench-vecs") || banned.exists(_.findPrefixOf(call).isDefined)
    } yield s"$rel:${code.take(at).count(_ == '\n') + 1}: " +
      call.takeWhile(_ != '\n')
    assert(hits.isEmpty, s"score decon through DataQuality.exactScored / " +
      s"DeconIndex (${hits.size} sites):\n" + hits.mkString("\n"))
  }

  test("a bloom build restores the session's runtime-filter caps") {
    val c = corpusCopy("graft-bloom-caps")
    // values no build sets, so a cap left raised by any build shows
    val caps = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems" -> "3000001",
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits" -> "50000001")
    GraftSession.withConfs(spark, caps: _*) {
      BloomGramIndex.ensure(spark, c)
      BloomGramIndex.ensureSharded(spark, c, DataQuality.ShardedK)
      assert(caps.map { case (k, _) => k -> spark.conf.get(k) } == caps)
    }
  }

  test("tripwire: natives reach a session only through the catalog") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"source dir not found from ${root.getAbsolutePath}")
    val catalog = "graft/functions/Natives.scala"
    val banned = Seq("createOrReplaceTempFunction", "injectFunction",
                     "registerFunction")
    val hits = for {
      f <- scalaFiles(root)
      rel = root.toPath.relativize(f.toPath).toString
      if rel != catalog
      (line, i) <- Files.readAllLines(f.toPath).asScala.zipWithIndex
      if !isComment(line) && banned.exists(line.contains)
    } yield s"$rel:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, "register natives through graft.functions.Natives:\n" +
      hits.mkString("\n"))
    // every Expression case class under functions/ is in the catalog
    val caseClass = "^case class (\\w+)".r
    val expressions = for {
      f <- scalaFiles(new java.io.File(root, "graft/functions"))
      line <- Files.readAllLines(f.toPath).asScala
      m <- caseClass.findFirstMatchIn(line)
      cls = Class.forName(s"graft.functions.${m.group(1)}")
      if classOf[org.apache.spark.sql.catalyst.expressions.Expression]
        .isAssignableFrom(cls)
    } yield cls
    val listed = graft.functions.Natives.all.map(_.cls).toSet
    assert(expressions.size >= 20)
    assert(expressions.filterNot(listed).isEmpty,
      s"not in the catalog: ${expressions.filterNot(listed).map(_.getSimpleName)}")
  }
}
