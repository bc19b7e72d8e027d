package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions.col

import graft.etl.ArtifactEtl
import graft.model.ArtifactSchemas
import graft.queries.ReferenceQueries
import graft.sinks.ArtifactStore
import graft.sources.PagedJsonIngest

/** `artifact_app`: the reference application's lifecycle. Each epoch is
  * one collection run of 12,500 API records in 100-record pages, landed
  * through `PagedJsonIngest`, split by `ArtifactEtl` and INSERT-IGNOREd
  * into the three artifact tables, after which the 20 reference
  * templates are collected to the driver as the reference UI does. A
  * cycle is [[EpochsPerCycle]] epochs on one store; the next cycle starts
  * a new store, so the store size a query sees repeats from cycle to
  * cycle and does not drift with run length. */
final class ArtifactApp(run: Run) extends Workload with Part {
  val EpochsPerCycle = 4
  val Templates: Seq[Int] = 1 to 20
  private val spark = run.spark
  private val seed = run.args.seed
  private var cycleNo = 0
  private var cycle: Gen.Cycle = _
  private var epoch = 0
  /** Per epoch: store files and expected rows, for the DuckDB check. */
  private val epochs = ArrayBuffer.empty[Map[String, Any]]

  private def storeDir(c: Int, t: String) = run.path(s"store/c$c/$t")

  def generate(): Unit = ()
  def parts: Seq[Part] = Seq(this)

  /** Set-up from cold is the first collection run of a new store. */
  def prepare(): Map[String, Double] = {
    cycle = new Gen.Cycle(seed, cycleNo)
    val (_, s) = run.timed(ingest("setup"))
    Map("store_create" -> s)
  }

  /** One round of the templates on the store the set-up created. */
  def warmup(): Unit = {
    val (m, a, k) = tables(cycleNo)
    run.warm("query", Templates.map(q => s"q$q")) { n =>
      ReferenceQueries.run(spark, n.drop(1), m, a, k, deterministicLimits = true).collect()
      ()
    }
  }

  def step(): Unit = epochStep()

  private def epochStep(): Unit = {
    if (epoch == EpochsPerCycle) {
      cycleNo += 1
      cycle = new Gen.Cycle(seed, cycleNo)
      epoch = 0
    }
    ingest("ingest")
    queries()
  }

  /** One collection run into the current store; the pages are generated
    * before the operation starts, as a remote API would hold them. */
  private def ingest(kind: String): Unit = {
    val ids = cycle.crawl()
    val pages = Gen.pages(seed, ids)
    val c = cycleNo
    val e = epoch
    val landing = run.path(s"landing/c${c}e$e")
    val meta = storeDir(c, "artifactmetadata")
    val media = storeDir(c, "artifactmedia")
    val colors = storeDir(c, "artifactcolors")
    val ok = run.op(kind, s"c${c}e$e", Map("records" -> ids.size)) {
      run.sub("land", "ingest") {
        PagedJsonIngest.land(p => pages.lift(p - 1), ids.size, landing)
      }
      val raw = PagedJsonIngest.read(spark, landing, ArtifactSchemas.rawApiSchema)
        .persist()
      try {
        val (m, a, k) = ArtifactEtl.transform(raw)
        run.sub("store.metadata", "store") {
          if (e == 0) ArtifactStore.create(m, meta)
          else ArtifactStore.appendIgnore(spark, m, meta)
        }
        run.sub("store.media", "store") {
          insertIgnore(ArtifactEtl.dedupKeepFirst(a, "objectid", col("objectid")),
                       media, e == 0)
        }
        run.sub("store.colors", "store") {
          // colors of the first arrival of each object only
          val firsts = ArtifactEtl.toColors(
            ArtifactEtl.dedupKeepFirst(raw, "id", col("id")))
          insertIgnore(ArtifactEtl.cleanseDoubles(firsts), colors, e == 0)
        }
      } finally { raw.unpersist(false); () }
    }
    if (!ok) sys.error(s"collection run c${c}e$e failed")
    val distinct = cycle.distinct
    epochs += Map(
      "cycle" -> c, "epoch" -> e,
      "landed_bytes" -> Main.dataFiles(landing).map(_._2).sum,
      "records" -> ids.size,
      "files" -> Seq("artifactmetadata" -> meta, "artifactmedia" -> media,
                     "artifactcolors" -> colors).map { case (t, d) =>
        t -> Main.dataFiles(d).map { case (f, n) => Seq(s"$d/$f", n) } }.toMap,
      "expected" -> Map(
        "artifactmetadata" -> distinct.size,
        "artifactmedia" -> distinct.size,
        "artifactcolors" -> distinct.iterator
          .map(id => math.min(5, Gen.colorCount(seed, id))).sum))
    epoch += 1
  }

  /** INSERT IGNORE keyed on `objectid` for the two satellite tables. */
  private def insertIgnore(rows: DataFrame, path: String, first: Boolean): Unit =
    if (first) rows.write.mode(SaveMode.Overwrite).parquet(path)
    else ArtifactEtl.upsertIgnore(rows, spark.read.parquet(path), "objectid")
      .write.mode(SaveMode.Append).parquet(path)

  /** The 20 templates over the store as the last collection run left
    * it; every result is written for the DuckDB check. */
  private def queries(): Unit = {
    val c = cycleNo
    val e = epoch - 1
    val (m, a, k) = tables(c)
    for (q <- Templates) {
      var rows: Array[Row] = null
      val ok = run.op("query", s"q$q", Map("cycle" -> c, "epoch" -> e)) {
        val df = run.sub("sql.plan", "sql") {
          val df = ReferenceQueries.run(spark, q.toString, m, a, k,
                                        deterministicLimits = true)
          if (run.args.trace) df.queryExecution.executedPlan
          df
        }
        rows = run.sub("sql.exec", "sql")(df.collect())
      }
      if (ok) {
        val out = run.path(s"results/c${c}e$e/q$q.jsonl")
        Main.writeLines(out, rows.map(r => Json(r.toSeq.map(plain))).toSeq)
      }
    }
  }

  private def tables(c: Int): (DataFrame, DataFrame, DataFrame) =
    (ArtifactStore.read(spark, storeDir(c, "artifactmetadata")),
     spark.read.parquet(storeDir(c, "artifactmedia")),
     spark.read.parquet(storeDir(c, "artifactcolors")))

  private def plain(v: Any): Any = v match {
    case d: java.math.BigDecimal => d.doubleValue
    case x => x
  }

  def finish(): Map[String, Any] =
    Map("epochs" -> epochs.toSeq, "templates" -> ReferenceQueries.deterministic)
}
