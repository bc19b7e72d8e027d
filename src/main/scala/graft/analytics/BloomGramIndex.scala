package graft.analytics

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.functions.Natives
import graft.queries.QueryDef

/** Persisted bloom filter over the standing corpus' word-5-gram hashes —
  * the membership index behind the id02 bloom ingest gate.
  *
  * Why it exists: id01's exact gram gate re-scans the CORPUS gram table
  * per arriving batch (map-only, but still a full-corpus pass — at
  * 100 TB that is the dominant cost of every ingest tick). The bloom
  * form inverts the asymmetry: the corpus is distilled ONCE per epoch
  * into a fixed-size filter (~1.2 bytes/gram at 1% fpp), and each batch
  * probes it with zero corpus IO. The price is bounded one-sided error:
  * false positives inflate containment, so the gate may drop a few
  * genuinely-novel docs (rate ≤ fpp) but NEVER keeps a doc the exact
  * gate would drop — the direction a dedup gate must err in, pinned by
  * the id02x anchor.
  *
  * The filter is an [[OfflineArtifact]] over documents.parquet; the
  * build is one distributed aggregate (executors build partial
  * filters, merge is a bit-OR) with only the final serialized filter
  * crossing to the driver — the same bytes every executor then
  * receives back as a probe-side literal.
  * Membership semantics make the filter append-friendly: a batch's
  * accepted grams can be OR-ed in without touching corpus data, the
  * property that keeps per-batch increments affordable (st11
  * discipline).
  */
object BloomGramIndex {

  /** ~9.585 bits/item → 1% false-positive rate (−ln p / ln²2). */
  private val BitsPerItem = 9.585

  private val Artifact = OfflineArtifact.Kind("bloomgram", "documents", "v3")

  /** Runs `build` on the `bloom_agg` column of an (est items, bits)
    * filter over `hashed`; `build` must run its action inside. The stock
    * expression caps its size at the runtime-filter confs (defaults: 4M
    * items / 67M bits — sized for join pruning, not corpus indexes), so
    * they are raised for the build and restored after it: a large corpus
    * gets the bits its fpp needs instead of a silent cap, and later
    * runtime-filter joins in the session keep their own caps. */
  private def withFilterAgg[T](spark: SparkSession, hashed: Column,
                               est: Long, bits: Long)(build: Column => T): T =
    GraftSession.withConfs(spark,
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems" ->
        (est max 4000000L).toString,
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits" ->
        (bits max 67108864L).toString) {
      build(Natives.call(spark, "bloom_agg", hashed, lit(est), lit(bits))
        .as("bf"))
    }

  /** The single filter's file inside its artifact dir. */
  def filterPath(sfDir: String): String = s"${Artifact.dir(sfDir)}/filter.bf"

  /** The sharded family's BASE path (shard `i` at `{base}-s{i}`). */
  def shardedPath(sfDir: String, k: Int): String =
    s"${Artifact.dir(sfDir, s"k$k")}/filter.bf"

  /** Builds (once per corpus epoch) and persists the
    * corpus-gram filter; returns its PATH. The probe side loads it
    * through [[graft.functions.BloomFilterCache]] — once per executor,
    * never embedded in the plan (an in-plan literal is re-deserialized
    * per task; measured 2.7 s → 17.1 s on a fixed 250-doc batch as the
    * filter grew 12 → 36 MB before the file-probe design). Corpus =
    * documents outside the arriving batch (`source != 'src19'`, id01's
    * standing-corpus convention). */
  def ensure(spark: SparkSession, sfDir: String): String = {
    val dir = Artifact.ensure(spark, sfDir) { dir =>
      val corpus = QueryDef.table(spark, sfDir, "documents")
        .filter(col("source") =!= "src19")
      val grams = DataQuality.gramKeys(corpus).select("g")
      // Size from the gram-row count (an overestimate of distinct
      // grams — extra rows only LOWER the realized fpp). One extra
      // corpus pass, paid once per epoch by the offline contract.
      val est = math.max(1024L, grams.count())
      val bits = math.ceil(est * BitsPerItem).toLong
      val bytes = withFilterAgg(spark, xxhash64(col("g")), est, bits) { bf =>
        grams.agg(bf).head().getAs[Array[Byte]](0)
      }
      writeFilter(s"$dir/filter.bf", bytes, est, bits)
    }
    s"$dir/filter.bf"
  }

  /** Hash-prefix-SHARDED corpus filter family — the documented growth
    * path past ~10⁹ grams, where a single filter (~1.2 GB at 1% fpp)
    * outgrows one executor buffer and the driver's merge. Grams route
    * by `pmod(xxhash64(g), k)`; shard `i` lands at `{base}-s{i}` and
    * holds exactly its residue class, so membership over the family is
    * a DISJOINT union — no semantics change vs the single filter, and
    * the probe ([[graft.functions.BloomProbeSharded]], same pmod
    * routing) touches exactly one shard per gram.
    *
    * Build: ONE distributed groupBy(shard) aggregate produces all K
    * partial-merged filters — K filter-sized buffers cross to the
    * driver (each 1/K the single-filter size; the driver never holds
    * the un-sharded total). Every shard gets uniform sizing from the
    * total gram count (+25% slack for routing imbalance — xxhash64
    * spreads residues near-uniformly, so realized per-shard fpp stays
    * at or under the configured rate); a residue class with no grams
    * still writes an (empty) filter so the probe side never routes to a
    * missing file. Returns the BASE path. */
  def ensureSharded(spark: SparkSession, sfDir: String, k: Int): String = {
    require(k >= 1 && k <= 64, s"shard count out of range: $k")
    val dir = Artifact.ensure(spark, sfDir, s"k$k") { dir =>
      val corpus = QueryDef.table(spark, sfDir, "documents")
        .filter(col("source") =!= "src19")
      val grams = DataQuality.gramKeys(corpus).select("g")
      val total = math.max(1024L * k, grams.count())
      val est = math.ceil(total * 1.25 / k).toLong
      val bits = math.ceil(est * BitsPerItem).toLong
      val shards = withFilterAgg(spark, col("h"), est, bits) { bf =>
        grams
          .withColumn("h", xxhash64(col("g")))
          .withColumn("shard", pmod(col("h"), lit(k.toLong)).cast("int"))
          .groupBy("shard").agg(bf)
          .collect()
      }.map(r => r.getInt(0) -> r.getAs[Array[Byte]](1)).toMap
      (0 until k).foreach { i =>
        shards.get(i) match {
          case Some(bytes) => writeFilter(s"$dir/filter.bf-s$i", bytes, est, bits)
          case None        => emptyFilter(s"$dir/filter.bf-s$i", est, bits)
        }
      }
    }
    s"$dir/filter.bf"
  }

  /** Write of filter bytes + a `.meta` sidecar recording the (estItems,
    * numBits) the filter was created with — a later incremental merge
    * must build its delta with the SAME sizing or `mergeInPlace`
    * rejects it as incompatible. The sidecar lands FIRST and the filter
    * becomes visible last, by one rename: a visible filter always has
    * its sizing and is never partial. A replayed batch rewrites an
    * existing version: where `rename` does not overwrite (HDFS) that
    * version is deleted first, so it is briefly absent, never torn. */
  private def writeFilter(path: String, bytes: Array[Byte],
                          est: Long, bits: Long): Unit = {
    val (fs, p) = filterFs(path)
    def write(to: Path, b: Array[Byte]): Unit = {
      val out = fs.create(to, true)
      try out.write(b) finally out.close()
    }
    write(new Path(path + ".meta"), s"$est:$bits".getBytes(UTF_8))
    val tmp = new Path(path + ".tmp")
    write(tmp, bytes)
    if (!fs.rename(tmp, p)) {
      OfflineArtifact.remove(fs, p)
      OfflineArtifact.move(fs, tmp, p)
    }
  }

  /** The raw FS beneath a checksummed one (the local FS): filter bytes
    * get no `.crc` sidecars, and their reads no checksum pass. */
  private def filterFs(path: String): (FileSystem, Path) =
    OfflineArtifact.fsPath(SparkSession.active, path) match {
      case (fs: ChecksumFileSystem, p) => (fs.getRawFileSystem, p)
      case other => other
    }

  private def readBytes(path: String): Array[Byte] = {
    val (fs, p) = filterFs(path)
    val in = fs.open(p)
    try in.readAllBytes() finally in.close()
  }

  /** The (estItems, numBits) sizing recorded beside a filter file. */
  def sizing(path: String): (Long, Long) = {
    val Array(est, bits) =
      new String(readBytes(path + ".meta"), UTF_8).split(":")
    (est.toLong, bits.toLong)
  }

  /** An empty filter at `path` with explicit sizing — the seed of a
    * from-scratch streaming gate (no standing corpus yet). */
  def emptyFilter(path: String, est: Long, bits: Long): String = {
    val out = new java.io.ByteArrayOutputStream()
    org.apache.spark.util.sketch.BloomFilter.create(est, bits).writeTo(out)
    writeFilter(path, out.toByteArray, est, bits)
    path
  }

  /** INCREMENTAL maintenance: `prevPath`'s filter plus `grams` (column
    * `g`), written to `outPath`. The delta filter is built IN-PLAN with
    * prev's recorded sizing (compatible by construction) and bit-OR
    * merged on the driver — two filter-sized buffers, never corpus
    * data. Sound for the same reason Int8Index.appendCodes is: filter
    * bits are a pure membership union, so merging a batch's grams is
    * EXACTLY equal to rebuilding over the grown corpus (at the original
    * sizing — fpp drifts up as insertions outgrow estItems; epoch
    * rebuilds via the content stamp re-size). Deterministic given
    * (prev, grams), so a replayed streaming batch rewrites identical
    * bytes — the st11 idempotence discipline. */
  def merged(spark: SparkSession, prevPath: String,
             grams: org.apache.spark.sql.DataFrame,
             outPath: String): String = {
    val (est, bits) = sizing(prevPath)
    val deltaBytes = withFilterAgg(spark, xxhash64(col("g")), est, bits) {
      bf => grams.agg(bf).head().getAs[Array[Byte]](0)
    }
    val merged =
      if (deltaBytes == null) // empty batch: nothing to insert
        readBytes(prevPath)
      else {
        val prev = org.apache.spark.util.sketch.BloomFilter.readFrom(
          readBytes(prevPath))
        prev.mergeInPlace(
          org.apache.spark.util.sketch.BloomFilter.readFrom(deltaBytes))
        val out = new java.io.ByteArrayOutputStream()
        prev.writeTo(out)
        out.toByteArray
      }
    writeFilter(outPath, merged, est, bits)
    outPath
  }

  /** Keep-last-N retention for a `filter_<v>.bf` version chain: each
    * [[merged]] epoch writes a NEW versioned file (cache soundness — a
    * path's bytes never change after creation, so
    * [[graft.functions.BloomFilterCache]] can key on the path), which
    * left superseded versions accumulating forever. Deleting versions
    * `<= max(v) − keepLast` is safe on two grounds, both spec-pinned:
    *
    *  - MEMBERSHIP is never lost — every filter in the chain is the
    *    cumulative union of all grams ever accepted, so the newest
    *    file alone gates exactly as the whole chain would;
    *  - CACHE/REPLAY soundness — only versions past a horizon go: a
    *    crash-replayed micro-batch k re-reads `filter_{k-1}` (within
    *    any keepLast ≥ 2), and a cache that already loaded an older
    *    path keeps serving from memory; no live reader ever OPENS a
    *    version below `latest − keepLast` because gates only probe the
    *    newest.
    *
    * Returns the number of versions deleted. */
  def pruneChain(filterDir: String, keepLast: Int = 2): Int = {
    val (fs, dir) = OfflineArtifact.fsPath(SparkSession.active, filterDir)
    val pat = "filter_(\\d+)\\.bf".r
    val versions = OfflineArtifact.children(SparkSession.active, filterDir)
      .flatMap(st => st.getPath.getName match {
        case pat(v) => Some(v.toLong)
        case _      => None
      })
    if (versions.isEmpty) 0
    else {
      val horizon = versions.max - keepLast
      val doomed = versions.filter(_ <= horizon)
      doomed.foreach { v =>
        OfflineArtifact.remove(fs, new Path(dir, s"filter_$v.bf"))
        OfflineArtifact.remove(fs, new Path(dir, s"filter_$v.bf.meta"))
      }
      doomed.length
    }
  }
}
