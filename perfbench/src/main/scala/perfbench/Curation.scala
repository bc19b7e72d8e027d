package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.analytics.{BpeTokenizer, DataQuality, MinHashBandIndex}
import graft.streaming.EventStreams

/** Writes a generated documents + embeddings corpus as a table directory
  * in the layout `QueryDef.table` reads. Rows are in id order and split
  * into one file per default-parallelism slice. */
object Corpus {
  def write(spark: SparkSession, dir: String, docs: Seq[Gen.Doc],
            vecs: Seq[Gen.Vec]): Unit = {
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    val vecSchema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = true)),
      StructField("label", IntegerType)))
    spark.createDataFrame(docs.sortBy(_.docId).map(d =>
        Row(d.docId, d.text, d.lang, d.source, d.text.length.toLong)).asJava, docSchema)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    spark.createDataFrame(vecs.sortBy(_.vecId).map(v =>
        Row(v.vecId, v.embedding.toSeq, v.label)).asJava, vecSchema)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/embeddings.parquet")
  }

  /** Quality-stage pass rates of `dir`'s documents, for the generator's
    * validity band against sf0.1 ([[Gen.Sf01Rates]]). */
  def qualityRates(spark: SparkSession, dir: String): Map[String, Double] = {
    val q = DataQuality.qualityFlags(
      spark.read.parquet(s"$dir/documents.parquet"))
    val keys = Gen.Sf01Rates.keys.toSeq.sorted
    val r = q.selectExpr(keys.map(k => s"avg($k) AS $k"): _*).head()
    keys.zipWithIndex.map { case (k, i) => k -> r.getDouble(i) }.toMap
  }
}

/** `curation`: batch curation and the streaming curation gate over one
  * generated corpus of [[Docs]] documents and [[Vecs]] vectors that
  * follows the sf0.1 model. Two parts run in turn:
  *
  *  - [[chains]]: registry chains in whole passes, each entry as
  *    `QueryDef.df` followed by a noop write, after the BPE merges they
  *    read are learned from cold;
  *  - [[stream]]: closed-loop micro-batches through
  *    `EventStreams.curationStream` over a parquet landing directory,
  *    gated against the corpus's seed MinHash index. The client lands
  *    one [[BatchSize]]-document batch and waits for its commit before
  *    landing the next. Each batch mixes held-out fresh documents,
  *    planted one-word edits of corpus documents, planted
  *    decontamination hits (vectors next to a label-0 benchmark vector)
  *    and low-quality documents, in the shares of [[Mix]].
  *
  * The stream starts after the chains' timed pass, so no stream runs
  * beside an entry and every entry's persisted blocks can be released. */
final class Curation(run: Run) extends Workload {
  /** Two chains, as many as the run's time allows: CurationPipeline
    * (quality strip, census, percentile cut-offs, exact dedup,
    * per-language token budget) and BpeTokenizer (reads the learned
    * merges). */
  val Entries: Seq[String] = Seq("cp02_curation_v2", "tok03_bpe_ids")
  val Docs = 2000
  val Vecs = 800
  val BatchSize = 200
  val TimedBatches = 3
  /** Batches generated up front: the warm-up batch, then more than a run
    * of `--seconds` lands at the fastest batch seen (over 2 s); the static
    * vector side holds one vector per planned arrival. */
  val MaxBatches: Int = 1 + math.max(TimedBatches, math.ceil(run.args.seconds / 2).toInt)
  val Mix: Seq[(String, Double)] = Seq(
    "fresh" -> 0.5, "neardup" -> 0.2, "decon" -> 0.1, "lowq" -> 0.2)
  private val spark = run.spark
  private val seed = run.args.seed
  private val corpus = run.path("corpus")
  private val landing = run.path("landing")
  private val state = run.path("state")
  private val schema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType)))
  private val defs = {
    val byName = SparkEntry.registry.map(q => q.name -> q).toMap
    Entries.map(byName)
  }
  private var batches: IndexedSeq[IndexedSeq[(Long, String, String)]] = _
  private var query: StreamingQuery = _
  private var landed = 0
  private val landedLog = ArrayBuffer.empty[Map[String, Any]]

  def generate(): Unit = {
    val docs = Gen.documents(seed, Docs)
    val vecs = Gen.vectors(seed, Vecs)
    val rng = new Random(seed * 15485863L + 3L)
    // near-duplicate sources: seed-index documents long enough that one
    // edited word leaves most of their shingles intact
    val sources = docs.filter(d => d.docId % 10 != 0 &&
                                   d.text.split(' ').length >= 40)
    val bench = vecs.filter(_.label == 0)
    val arrivalVecs = ArrayBuffer.empty[Gen.Vec]
    var next = 1000000L
    batches = (0 until MaxBatches).map { _ =>
      Mix.flatMap { case (kind, share) =>
        (0 until (BatchSize * share).round.toInt).map { _ =>
          next += 1
          val text = kind match {
            case "neardup" =>
              val w = sources(rng.nextInt(sources.size)).text.split(' ')
              val i = rng.nextInt(w.length)
              w(i) = Gen.Vocab.filterNot(_ == w(i))(rng.nextInt(Gen.Vocab.size - 1))
              w.mkString(" ")
            case "lowq" => Gen.randomText(rng) + " lorem ipsum"
            case _ => Gen.randomText(rng)
          }
          val vec =
            if (kind == "decon") {
              val b = bench(rng.nextInt(bench.size)).embedding
              val noise = Gen.unitVector(rng)
              val v = b.indices.map(j => b(j) + 0.02f * noise(j))
              val n = math.sqrt(v.map(x => x * x).sum).toFloat
              Gen.Vec(next, v.map(_ / n).toArray, 1 + rng.nextInt(9))
            } else Gen.Vec(next, Gen.unitVector(rng), 1 + rng.nextInt(9))
          arrivalVecs += vec
          (next, text, kind)
        }
      }.toIndexedSeq
    }
    Corpus.write(spark, corpus, docs, vecs ++ arrivalVecs)
  }

  val parts: Seq[Part] = Seq(chains, stream)

  object chains extends Part {
    /** The BPE merges `tok03` reads, learned from cold. */
    def prepare(): Map[String, Double] = {
      val (_, s) = run.timed(run.tracer.span("artifact:bpe", "setup")(
        BpeTokenizer.loadOrLearn(spark, corpus)))
      Map("bpe" -> s)
    }

    /** One pass that writes every entry's result for the oracle check
      * (made after the run, outside the timed region). */
    def warmup(): Unit = defs.foreach { q =>
      run.op("entry", q.name) {
        val df = run.sub("build", "analytics")(q.df(spark, corpus))
        run.sub("exec", "analytics")(
          df.write.mode(SaveMode.Overwrite).parquet(run.path(s"results/${q.name}")))
      }
    }

    def step(): Unit = defs.foreach { q =>
      run.op("entry", q.name) {
        val df = run.sub("build", "analytics")(q.df(spark, corpus))
        run.sub("exec", "analytics")(
          df.write.format("noop").mode(SaveMode.Overwrite).save())
      }
    }
  }

  object stream extends Part {
    override val minSteps: Int = TimedBatches

    /** The seed MinHash index over the corpus, then the stream's start
      * (it builds the decontamination bucket map). */
    def prepare(): Map[String, Double] = {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(landing))
      val (seedDir, seedS) = run.timed(run.tracer.span("artifact:minhash_seed", "setup")(
        MinHashBandIndex.ensure(spark, corpus)))
      val (q, startS) = run.timed(run.tracer.span("stream.start", "setup") {
        val emb = spark.read.parquet(s"$corpus/embeddings.parquet")
        EventStreams.curationStream(
          spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
            .parquet(landing),
          seedDir, emb, s"$state/bands", s"$state/shingles", s"$state/ledger",
          s"$state/checkpoint")
      })
      query = q
      Map("minhash_seed" -> seedS, "stream_start" -> startS)
    }

    /** The first batch pays the plans' warm-up. The timed batches that
      * follow meet on-disk state that grows every batch. */
    def warmup(): Unit = batch()

    def step(): Unit = batch()
  }

  /** Land the next batch and wait until the stream has committed it. */
  private def batch(): Unit = {
    if (landed == MaxBatches) sys.error("planned batches exhausted")
    val rows = batches(landed)
    val i = landed
    landed += 1
    // the running query owns its persisted blocks: sample, never release
    run.op("batch", s"b$i", Map("docs" -> rows.size), release = false) {
      run.sub("land", "ingest") {
        val df: DataFrame = spark.createDataFrame(
          spark.sparkContext.parallelize(rows.map { case (id, t, _) => Row(id, t) }, 1),
          schema)
        df.write.mode(SaveMode.Append).parquet(landing)
      }
      run.sub("commit", "streaming")(query.processAllAvailable())
    }
    landedLog += Map("batch" -> i, "phase" -> run.phase,
                     "docs" -> rows.map { case (id, _, k) => Seq(id, k) })
  }

  def finish(): Map[String, Any] = {
    query.stop()
    val (files, bytes) = Main.treeSize(state)
    Map("corpus" -> corpus, "docs" -> Docs,
        "oracles" -> defs.map(q => q.name -> q.oracle.orNull).toMap,
        "quality_rates" -> Corpus.qualityRates(spark, corpus),
        "sf01_rates" -> Gen.Sf01Rates, "rate_band" -> Gen.RateBand,
        "ledger" -> s"$state/ledger", "segments" -> s"$state/shingles",
        "state_files" -> files, "state_bytes" -> bytes,
        "landed" -> landedLog.toSeq)
  }
}
