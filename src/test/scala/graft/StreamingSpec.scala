package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.EventStreams

/** Structured Streaming semantics through the real streaming engine:
  * MemoryStream micro-batches → windowed/stateful transforms → memory
  * sink. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$min%02d:$sec%02d")

  private case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
                        event_type: String, value: Double, props: String)

  test("tumbling window aggregates arrive through the streaming path") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val events = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")

    val q = EventStreams.tumblingCounts(events).writeStream
      .queryName("tumbling_test").outputMode("complete").format("memory").start()
    try {
      mem.addData(
        (1L, ts(0), 1L, "click", 1.0, "{}"),
        (2L, ts(1), 1L, "click", 2.0, "{}"),
        (3L, ts(7), 2L, "view", 5.0, "{}"))
      q.processAllAvailable()
      val rows = spark.table("tumbling_test")
        .orderBy("w_start", "event_type").collect()
      assert(rows.map(r => (r.getAs[Timestamp]("w_start"),
                            r.getAs[String]("event_type"),
                            r.getAs[Long]("n_events"))).toSeq ==
        Seq((ts(0), "click", 2L), (ts(5), "view", 1L)))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups replayed event ids") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val events = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")

    val q = EventStreams.dedupedEvents(events).writeStream
      .queryName("dedup_test").outputMode("append").format("memory").start()
    try {
      mem.addData(
        (1L, ts(0), 1L, "click", 1.0, "{}"),
        (1L, ts(0, 30), 1L, "click", 1.0, "{}"), // replay of event 1
        (2L, ts(1), 2L, "view", 2.0, "{}"))
      q.processAllAvailable()
      assert(spark.table("dedup_test").select("event_id")
        .as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    } finally q.stop()
  }

  test("mapGroupsWithState accumulates per-user counts across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val events = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")

    val q = EventStreams.userRunningStats(events)
      .toDF("user_id", "n_events", "last_seen").writeStream
      .queryName("state_test").outputMode("update").format("memory").start()
    try {
      mem.addData((1L, ts(0), 7L, "click", 1.0, "{}"))
      q.processAllAvailable()
      mem.addData((2L, ts(1), 7L, "click", 1.0, "{}"),
                  (3L, ts(2), 8L, "view", 2.0, "{}"))
      q.processAllAvailable()
      val last = spark.table("state_test")
        .groupBy("user_id").agg(max("n_events").as("n")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(last == Map(7L -> 2L, 8L -> 1L))
    } finally q.stop()
  }

  test("file-source stream: landing dir → windowed agg matches batch") {
    import org.apache.spark.sql.streaming.OutputMode
    // land a µs-timestamp copy of events (Spark can't stream-read the
    // raw ns parquet, same as batch)
    val dir = java.nio.file.Files.createTempDirectory("landing").toString
    val events = graft.queries.QueryDef.eventsTable(spark, sf0001)
    events.write.mode("overwrite").parquet(dir)
    val q = EventStreams.runStream(spark, dir,
      df => EventStreams.tumblingCounts(df), "file_stream_test",
      OutputMode.Complete())
    try {
      q.processAllAvailable()
      val streamed = spark.table("file_stream_test")
        .agg(sum("n_events")).head().getLong(0)
      assert(streamed == events.count())
    } finally q.stop()
  }

  test("content-fingerprint stream dedup drops reworded-whitespace duplicates") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val docsStream = mem.toDF().toDF("doc_id", "ts", "text")
    val q = EventStreams.dedupedByContent(docsStream, "text").writeStream
      .queryName("content_dedup_test").outputMode("append").format("memory").start()
    try {
      mem.addData(
        (1L, ts(0), "Hello  World"),
        (2L, ts(1), "hello world"),   // same canonical content → dropped
        (3L, ts(2), "different doc"))
      q.processAllAvailable()
      assert(spark.table("content_dedup_test").select("doc_id")
        .as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    } finally q.stop()
  }

  test("stream-stream join attributes purchases to clicks through the streaming path") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val events = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStreams.clickPurchaseJoin(events).writeStream
      .queryName("ss_join_test").outputMode("append").format("memory").start()
    try {
      mem.addData(
        (1L, ts(0), 7L, "click", 0.0, "{}"),
        (2L, ts(10), 7L, "purchase", 9.99, "{}"),  // within 30 min → joins
        (3L, ts(45), 7L, "purchase", 5.00, "{}"),  // 45 min later → no join
        (4L, ts(5), 8L, "purchase", 1.00, "{}"))   // other user → no join
      q.processAllAvailable()
      val rows = spark.table("ss_join_test")
        .select("user_id", "click_id", "purchase_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(rows == Seq((7L, 1L, 2L)))
    } finally q.stop()
  }

  test("simhash stream near-dup drops reordered-token duplicates") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val docsStream = mem.toDF().toDF("doc_id", "ts", "text")
    val q = EventStreams.dedupedBySimhash(docsStream, "text").writeStream
      .queryName("simhash_dedup_test").outputMode("append").format("memory").start()
    try {
      mem.addData(
        (1L, ts(0), "the quick brown fox jumps"),
        (2L, ts(1), "jumps fox brown quick the"), // same token multiset → dropped
        (3L, ts(2), "a completely different document entirely"))
      q.processAllAvailable()
      assert(spark.table("simhash_dedup_test").select("doc_id")
        .as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    } finally q.stop()
  }

  test("fuzzy simhash stream dedup drops a one-token-edited near-duplicate") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val docsStream = mem.toDF().toDF("doc_id", "ts", "text")
    // ~100-token doc: one edited token flips few fingerprint bits, so
    // hamming(fp1, fp2) <= 7 while exact fingerprints differ
    val base = (1 to 25).map(i => s"sentence$i about the quick brown fox").mkString(" ")
    val edited = base.replace("sentence7", "sentence99")
    val q = EventStreams.dedupedBySimhashNear(docsStream, "doc_id", "text")
      .toDF("doc_id", "ts", "fp").writeStream
      .queryName("fuzzy_dedup_test").outputMode("append").format("memory").start()
    try {
      mem.addData((1L, ts(0), base))
      q.processAllAvailable()
      mem.addData(
        (2L, ts(1), edited), // near-dup across batches → dropped
        (3L, ts(2), "a completely different unrelated document about parquet files"))
      q.processAllAvailable()
      assert(spark.table("fuzzy_dedup_test").select("doc_id")
        .as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    } finally q.stop()
  }

  test("streaming LSH band candidates equal the batch band-join pair set (batch mode)") {
    // batch mode: every band group sees its whole bucket at once, so the
    // stateful op must emit exactly the pairs a batch band self-join
    // finds (below the census cap) — the strongest check the engine-
    // hashed candidate stage can get
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter(col("doc_id") < 200)
      .withColumn("ts", lit(Timestamp.valueOf("2024-01-01 10:00:00")))
    val streamed = EventStreams.lshBandCandidates(docs, "doc_id", "text")
      .toDF("id_a", "id_b").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // reference: explode band keys, self-join, id_a < id_b
    import graft.analytics.Dedup
    val keys = docs.select(col("doc_id"),
        explode(Dedup.bandKeys(graft.functions.Natives.call(spark,
          "minhash_sig",
          Dedup.shingleHashes(spark, col("text"), 3)))).as("bk"))
    val ref = keys.select(col("doc_id").as("id_a"), col("bk"))
      .join(keys.select(col("doc_id").as("id_b"), col("bk")), Seq("bk"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == ref)
    assert(streamed.nonEmpty) // the slice genuinely has band collisions
  }

  test("streaming LSH band candidates pair a late near-dup across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val docsStream = mem.toDF().toDF("doc_id", "ts", "text")
    val base = (1 to 30).map(i => s"token$i shared corpus text body").mkString(" ")
    val nearDup = base.replace("token7", "token99")
    val q = EventStreams.lshBandCandidates(docsStream, "doc_id", "text")
      .toDF("id_a", "id_b").writeStream
      .queryName("lsh_band_test").outputMode("append").format("memory").start()
    try {
      mem.addData((1L, ts(0), base))
      q.processAllAvailable()
      assert(spark.table("lsh_band_test").count() == 0) // nothing to pair yet
      mem.addData(
        (2L, ts(1), nearDup), // shares bands with doc 1 → pair emitted
        (3L, ts(2), "zz yy xx ww vv uu tt ss rr qq pp oo nn mm ll kk"))
      q.processAllAvailable()
      val pairs = spark.table("lsh_band_test").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((1L, 2L)))
      assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    } finally q.stop()
  }

  test("streaming LSH band candidates never pair across the horizon") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val docsStream = mem.toDF().toDF("doc_id", "ts", "text")
    val base = (1 to 30).map(i => s"token$i shared corpus text body").mkString(" ")
    val q = EventStreams.lshBandCandidates(docsStream, "doc_id", "text",
        horizonMinutes = 10)
      .toDF("id_a", "id_b").writeStream
      .queryName("lsh_horizon_test").outputMode("append").format("memory").start()
    try {
      mem.addData((1L, ts(0), base))
      q.processAllAvailable()
      // 25 min later: doc 1 is outside the horizon — no pair may form,
      // and the expired entry must not block doc 2 from entering state
      mem.addData((2L, ts(25), base.replace("token7", "token99")))
      q.processAllAvailable()
      mem.addData((3L, ts(26), base.replace("token3", "token88")))
      q.processAllAvailable()
      val pairs = spark.table("lsh_horizon_test").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((2L, 3L))) // in-horizon near-dups still pair
      assert(!pairs.exists(p => p._1 == 1L || p._2 == 1L),
             s"expired doc paired: $pairs")
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization assigns per-event session positions") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val events = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStreams.sessionizedEvents(events, gapMinutes = 30)
      .toDF("user_id", "event_id", "ts", "session_start", "n_in_session")
      .writeStream
      .queryName("sessionize_test").outputMode("append").format("memory").start()
    try {
      mem.addData(
        (1L, ts(0), 7L, "click", 0.0, "{}"),
        (2L, ts(10), 7L, "click", 0.0, "{}"))
      q.processAllAvailable()
      mem.addData((3L, ts(50), 7L, "click", 0.0, "{}")) // 40 min gap → new session
      q.processAllAvailable()
      val rows = spark.table("sessionize_test")
        .select("event_id", "session_start", "n_in_session").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).sortBy(_._1).toSeq
      assert(rows == Seq(
        (1L, ts(0), 1L), (2L, ts(0), 2L), (3L, ts(50), 1L)))
    } finally q.stop()
  }

  test("streaming funnel: progression across micro-batches, window rejection") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String, Timestamp)]
    val events = mem.toDF().toDF("user_id", "event_id", "event_type", "ts")
    val q = EventStreams.funnelProgress(events, windowDays = 3)
      .toDF("user_id", "first_view", "first_click", "first_purchase", "converted")
      .writeStream
      .queryName("funnel_test").outputMode("append").format("memory").start()
    try {
      // batch 0: user 7 views; user 8 views
      mem.addData((7L, 1L, "view", ts(0)), (8L, 2L, "view", ts(0)))
      q.processAllAvailable()
      // batch 1: user 7 clicks in-window then purchases in-window →
      // converts; user 8 clicks OUTSIDE the 3-day view window (4320
      // min) — the click must NOT register, so the later in-window
      // purchase can't convert them either
      mem.addData(
        (7L, 3L, "click", ts(10)), (7L, 4L, "purchase", ts(20)),
        (8L, 5L, "click", ts(5000)), (8L, 6L, "purchase", ts(5010)))
      q.processAllAvailable()
      val snaps = spark.table("funnel_test").collect()
        .map(r => (r.getLong(0), Option(r.getTimestamp(1)),
                   Option(r.getTimestamp(2)), Option(r.getTimestamp(3)),
                   r.getInt(4)))
      // batch-0 snapshots: view only, not converted (user 8 repeats the
      // identical snapshot in batch 1 — the stuck funnel is the point)
      assert(snaps.count(_ == ((7L, Some(ts(0)), None, None, 0))) == 1, snaps.toSeq)
      assert(snaps.count(_ == ((8L, Some(ts(0)), None, None, 0))) == 2, snaps.toSeq)
      // batch-1 snapshots: user 7 converted with the batch-0 view as
      // the anchor; user 8's out-of-window click left the funnel stuck
      assert(snaps.count(_ == ((7L, Some(ts(0)), Some(ts(10)), Some(ts(20)), 1))) == 1,
             snaps.toSeq)
      assert(snaps.count(t => t._1 == 8L && t._3.isEmpty && t._4.isEmpty) == 2,
             snaps.toSeq)
    } finally q.stop()
  }

  test("streaming ANN serving: per-batch results equal the batch plan, stateless") {
    implicit val sqlCtx = spark.sqlContext
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("st13_").toString
    val corpus = spark.read.parquet(s"$sf0001/embeddings.parquet")
    corpus.write.parquet(s"$tmp/corpus")
    // stream queries with ids beyond the corpus (pure lookups, no
    // self-exclusion interplay): reuse corpus vectors under new ids
    val qvecs = corpus.filter(col("vec_id") < 4)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val mem = MemoryStream[(Long, Seq[Float])]
    val stream = mem.toDF().toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val q = EventStreams.annServe(stream, s"$tmp/corpus", s"$tmp/out",
                                  s"$tmp/ckpt", k = 5)
    try {
      mem.addData(qvecs(0), qvecs(1))
      q.processAllAvailable()
      mem.addData(qvecs(2), qvecs(3))
      q.processAllAvailable()
      val out = spark.read.parquet(s"$tmp/out")
      assert(out.select("batch_id").distinct().count() == 2)
      // every query answered with exactly k results
      assert(out.groupBy("query_id").count().collect()
        .forall(_.getLong(1) == 5), out.collect().toSeq)
      // per-batch streaming results == the batch plan on the same queries
      val queriesDf = qvecs.toSeq.toDF("vec_id", "embedding")
        .withColumn("embedding", col("embedding").cast("array<float>"))
      val batchRes = graft.analytics.Similarity
        .int8BatchTopK(corpus, queriesDf, k = 5)
        .select("query_id", "vec_id", "score", "rk").collect().toSet
      val streamRes = out.select("query_id", "vec_id", "score", "rk")
        .collect().toSet
      assert(streamRes == batchRes)
      // stateless: the corpus is a static table, not streaming state
      assert(q.lastProgress.stateOperators.isEmpty ||
             q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()
  }

  test("streaming ANN serving: kill + restart — every query answered exactly once") {
    import java.nio.file.Files
    val landing = Files.createTempDirectory("st13r-landing").toString
    val tmp = Files.createTempDirectory("st13r-state").toString
    val corpus = spark.read.parquet(s"$sf0001/embeddings.parquet")
    corpus.write.parquet(s"$tmp/corpus")
    // this restart test serves from PERSISTED codes (the deployment
    // path); the previous test covers the quantize-in-plan fallback
    graft.analytics.Similarity.int8Quantized(corpus)
      .select(col("vec_id"), col("__scale").as("scale"),
              expr("transform(__q, x -> cast(x as tinyint))").as("q"))
      .write.parquet(s"$tmp/int8/codes")
    val qvecs = corpus.filter(col("vec_id") < 4)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    def land(rows: Seq[(Long, Seq[Float])]): Unit =
      rows.toDF("vec_id", "embedding")
        .withColumn("embedding", col("embedding").cast("array<float>"))
        .coalesce(1).write.mode("append").parquet(landing)
    land(Seq(qvecs(0), qvecs(1)))
    val schema = spark.read.parquet(landing).schema
    def start() = EventStreams.annServe(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(landing),
      s"$tmp/corpus", s"$tmp/out", s"$tmp/ckpt", k = 5,
      codesDir = Some(s"$tmp/int8"))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // while the server is down, more queries land; the restart must
    // answer only the new file (checkpoint resume) and a replayed
    // batch id would overwrite, not duplicate, its own partition
    land(Seq(qvecs(2), qvecs(3)))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val out = spark.read.parquet(s"$tmp/out")
    val counts = out.groupBy("query_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == qvecs.map(_._1 -> 5L).toMap,
           s"duplicate or missing answers after restart: $counts")
    // a takedown between batches takes effect at the next micro-batch:
    // doom a corpus id the first query was answered with, re-land that
    // query, and the re-served answers must exclude the doomed id
    import spark.implicits._
    val doomed = out.filter(col("query_id") === qvecs(0)._1)
      .select("vec_id").as[Long].collect().head
    graft.analytics.Int8Index.deleteIds(spark, s"$tmp/int8",
      Seq(doomed).toDF("vec_id"))
    land(Seq((qvecs(0)._1 + 5000000L, qvecs(0)._2)))
    val q3 = start()
    try q3.processAllAvailable() finally q3.stop()
    val reserved = spark.read.parquet(s"$tmp/out")
      .filter(col("query_id") === qvecs(0)._1 + 5000000L)
      .select("vec_id").as[Long].collect().toSet
    assert(reserved.size == 5 && !reserved.contains(doomed),
           s"takedown not honored by the serving stream: $reserved")
  }

  test("kafka-shaped source: encode → decode round-trips typed events (batch)") {
    val events = graft.queries.QueryDef.eventsTable(spark, sf0001).limit(100)
    val decoded = graft.sources.KafkaShapedSource.decodeEvents(
      graft.sources.KafkaShapedSource.encodeEvents(events, "events"))
    assert(decoded.schema == events.schema ||
           decoded.columns.toSeq == events.columns.toSeq)
    assert(decoded.exceptAll(events.select(decoded.columns.map(col): _*)).count() == 0)
  }

  test("kafka-shaped source: landing dir streams through decode into a windowed agg") {
    val dir = java.nio.file.Files.createTempDirectory("kafka-landing").toString
    val events = graft.queries.QueryDef.eventsTable(spark, sf0001)
    graft.sources.KafkaShapedSource.encodeEvents(events, "events")
      .write.mode("overwrite").parquet(dir)
    val in = graft.sources.KafkaShapedSource.readStream(spark, dir)
    val q = EventStreams.tumblingCounts(
        graft.sources.KafkaShapedSource.decodeEvents(in))
      .writeStream.queryName("kafka_stream_test")
      .outputMode("complete").format("memory").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("kafka_stream_test")
        .agg(sum("n_events")).head().getLong(0)
      assert(streamed == events.count())
    } finally q.stop()
  }

  test("durable sink: kill + restart resumes from checkpoint, exactly once") {
    import java.nio.file.Files
    val landing = Files.createTempDirectory("durable-landing").toString
    val outDir = Files.createTempDirectory("durable-out").toString
    val ckpt = Files.createTempDirectory("durable-ckpt").toString
    val events = graft.queries.QueryDef.eventsTable(spark, sf0001)
    // several input files so the query has multiple single-file batches
    events.repartition(6).write.mode("overwrite").parquet(landing)
    val transform = (df: org.apache.spark.sql.DataFrame) =>
      df.select("event_id", "user_id", "event_type")

    // run a few batches, then kill mid-stream
    val q1 = EventStreams.runStreamDurable(spark, landing, transform, outDir, ckpt)
    try {
      while (q1.recentProgress.length < 2) Thread.sleep(50)
    } finally q1.stop()

    // restart from the same checkpoint: must resume, not replay
    val q2 = EventStreams.runStreamDurable(spark, landing, transform, outDir, ckpt)
    try q2.processAllAvailable() finally q2.stop()

    val written = spark.read.parquet(outDir)
    assert(written.count() == events.count(), "no loss, no duplication")
    assert(written.select("event_id").exceptAll(
      events.select("event_id")).count() == 0)
  }

  test("foreachBatch streaming upsert: replayed landing files stay idempotent in the store") {
    import java.nio.file.Files
    val landing = Files.createTempDirectory("upsert-landing").toString
    val store = Files.createTempDirectory("upsert-store").toString + "/meta"
    val ckpt = Files.createTempDirectory("upsert-ckpt").toString
    def rows(ids: Seq[Long]) =
      ids.map(i => (i, s"title$i", "Coins")).toDF("id", "title", "classification")
    // seed the store and land overlapping batches (2,3 replayed)
    graft.sinks.ArtifactStore.create(rows(Seq(1L, 2L, 3L)), store)
    rows(Seq(2L, 3L, 4L)).coalesce(1).write.mode("append").parquet(landing)
    rows(Seq(4L, 5L)).coalesce(1).write.mode("append").parquet(landing)
    val q = EventStreams.runStreamUpsert(spark, landing, store, ckpt)
    try q.processAllAvailable() finally q.stop()
    val stored = graft.sinks.ArtifactStore.read(spark, store)
    assert(stored.count() == 5)
    assert(stored.select("id").as[Long].collect().sorted.toSeq == (1L to 5L))
  }

  test("foreachBatch upsert: kill + restart from checkpoint stays exactly-once") {
    import java.nio.file.Files
    val landing = Files.createTempDirectory("upsert2-landing").toString
    val store = Files.createTempDirectory("upsert2-store").toString + "/meta"
    val ckpt = Files.createTempDirectory("upsert2-ckpt").toString
    def rows(ids: Seq[Long]) =
      ids.map(i => (i, s"title$i", "Coins")).toDF("id", "title", "classification")
    graft.sinks.ArtifactStore.create(rows(Seq(1L)), store)
    rows(Seq(2L, 3L)).coalesce(1).write.mode("append").parquet(landing)
    // first incarnation processes the landed file, then dies
    val q1 = EventStreams.runStreamUpsert(spark, landing, store, ckpt)
    try q1.processAllAvailable() finally q1.stop()
    // more data lands while the query is down
    rows(Seq(3L, 4L)).coalesce(1).write.mode("append").parquet(landing)
    // restart from the same checkpoint: only the new file is processed,
    // the replayed id 3 is ignored by the idempotent upsert
    val q2 = EventStreams.runStreamUpsert(spark, landing, store, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    val stored = graft.sinks.ArtifactStore.read(spark, store)
    assert(stored.select("id").as[Long].collect().sorted.toSeq == (1L to 4L))
  }

  test("batch and streaming session windows agree on the events table") {
    val batch = graft.queries.QueryDef.eventsTable(spark, sf0001)
    val sessions = EventStreams.userSessions(batch)
    // sanity: sessions partition the events (counts sum to total)
    assert(sessions.agg(sum("n_events")).head().getLong(0) == batch.count())
  }

  test("ingest gate drops corpus duplicates across micro-batches, stateless") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq((100L, "the quick brown fox"), (101L, "unrelated corpus text"))
      .toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val arriving = mem.toDF().toDF("doc_id", "text")
    val q = EventStreams.ingestGate(arriving, corpus).writeStream
      .queryName("ingest_gate_test").outputMode("append").format("memory").start()
    try {
      // batch 1: one duplicate (whitespace/case variant — canonical
      // fingerprint equality), one novel doc
      mem.addData((1L, "  The   QUICK brown fox "), (2L, "a novel document"))
      q.processAllAvailable()
      // batch 2: another duplicate and another novel doc
      mem.addData((3L, "UNRELATED corpus TEXT"), (4L, "more novel content"))
      q.processAllAvailable()
      val kept = spark.table("ingest_gate_test")
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(kept == Seq(2L, 4L))
      // stateless by construction: no state store rows in the progress
      assert(q.lastProgress.stateOperators.isEmpty ||
             q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()
  }

  test("incremental gram gate: near-dup arrival gated by a doc accepted one batch earlier") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("st11_").toString
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val q = EventStreams.incrementalGramGate(
      stream, s"$tmp/store", s"$tmp/out", s"$tmp/ckpt")
    try {
      // batch 0: a novel 7-word doc (3 distinct 5-grams) and a doc too
      // short to form any 5-gram — the gate must decide for BOTH
      mem.addData((1L, "alpha beta gamma delta epsilon zeta eta"),
                  (2L, "tiny doc"))
      q.processAllAvailable()
      // batch 1: doc 3 is a NEAR-dup of doc 1 (shares 2 of its 3
      // 5-grams — not an exact duplicate, so st10's fingerprint tier
      // would pass it) and must be rejected against the store grown in
      // batch 0; doc 4 is novel
      mem.addData((3L, "alpha beta gamma delta epsilon zeta theta"),
                  (4L, "one two three four five six seven"))
      q.processAllAvailable()
      val out = spark.read.parquet(s"$tmp/out")
        .select("doc_id", "n_grams", "n_hit", "keep").collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
      assert(out(1L) == ((3L, 0L, 1)), s"novel doc must pass: $out")
      assert(out(2L) == ((0L, 0L, 1)), s"gram-less doc must get keep=1: $out")
      assert(out(3L) == ((3L, 2L, 0)),
             s"near-dup (containment 2/3) must be rejected: $out")
      assert(out(4L) == ((3L, 0L, 1)), s"novel doc in batch 1 must pass: $out")
      // stateless plan: the growing state is the gram-store TABLE, not
      // a streaming state store
      assert(q.lastProgress.stateOperators.isEmpty ||
             q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
      // rejected docs contribute nothing to the store: 3 grams from
      // doc 1 + 3 from doc 4, none from the rejected doc 3
      assert(spark.read.parquet(s"$tmp/store").distinct().count() == 6)
    } finally q.stop()
  }

  test("bloom ingest gate: near-dup arrival gated by filter grown one batch earlier") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("st14_").toString
    // cold start: an empty seed filter (no standing corpus)
    val seed = graft.analytics.BloomGramIndex.emptyFilter(
      s"$tmp/seed.bf", 1024L, 16384L)
    val mem = MemoryStream[(Long, String)]
    val q = EventStreams.bloomIngestGate(
      mem.toDF().toDF("doc_id", "text"),
      seed, s"$tmp/filters", s"$tmp/out", s"$tmp/ckpt")
    try {
      // batch 0: a novel doc and a doc too short to form any 5-gram —
      // the gate must decide for BOTH (census anchor)
      mem.addData((1L, "alpha beta gamma delta epsilon zeta eta"),
                  (2L, "tiny doc"))
      q.processAllAvailable()
      // batch 1: doc 3 is a NEAR-dup of doc 1 (shares 2 of its 3
      // 5-grams) and must be rejected by the filter grown in batch 0;
      // doc 4 is novel
      mem.addData((3L, "alpha beta gamma delta epsilon zeta theta"),
                  (4L, "one two three four five six seven"))
      q.processAllAvailable()
      val out = spark.read.parquet(s"$tmp/out")
        .select("doc_id", "n_grams", "n_hit", "keep").collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
      assert(out(1L) == ((3L, 0L, 1)), s"novel doc must pass: $out")
      assert(out(2L) == ((0L, 0L, 1)), s"gram-less doc must get keep=1: $out")
      assert(out(3L) == ((3L, 2L, 0)),
             s"near-dup (containment 2/3) must be rejected: $out")
      assert(out(4L) == ((3L, 0L, 1)), s"novel doc in batch 1 must pass: $out")
      // stateless streaming plan: the standing state is the versioned
      // filter FILES, not a state store
      assert(q.lastProgress.stateOperators.isEmpty ||
             q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
      assert(new java.io.File(s"$tmp/filters/filter_0.bf").exists())
      assert(new java.io.File(s"$tmp/filters/filter_1.bf").exists())
    } finally q.stop()
  }

  test("familiarity router: head/middle/tail/short/unseen-language routing per micro-batch, stateless") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("st15_").toString
    // corpus with a graded bigram-frequency spread: scores (µ) are
    // 1e6, 1e6, 2e6, 6e6 → en cutoffs p25 = 1e6, p75 = 3e6
    val corpus = Seq(
      (1L, "en", "u v w x"),
      (2L, "en", "k l m n"),
      (3L, "en", "p q p q p"),
      (4L, "en", "a a a a a a a")).toDF("doc_id", "lang", "text")
    val (dict, cuts) = graft.analytics.DataQuality.familiarityModel(corpus)
    dict.write.parquet(s"$tmp/model/dict.parquet")
    cuts.write.parquet(s"$tmp/model/cuts.parquet")
    val mem = MemoryStream[(Long, String, String)]
    val q = EventStreams.familiarityRouter(
      mem.toDF().toDF("doc_id", "lang", "text"),
      s"$tmp/model", s"$tmp/out", s"$tmp/ckpt")
    try {
      // batch 0: familiar (6e6 ≥ p75), mid-frequency (2e6), novel
      // vocabulary (0 < p25), and a doc too short for any bigram
      mem.addData((10L, "en", "a a a"), (11L, "en", "p q p q"),
                  (12L, "en", "zz yy xx"), (13L, "en", "solo"))
      q.processAllAvailable()
      // batch 1: a language the corpus never saw → no cutoffs → tail
      mem.addData((14L, "xx", "foo bar baz"), (15L, "en", "a a a a"))
      q.processAllAvailable()
      // batch_id comes back as the partition-directory's inferred INT
      val out = spark.read.parquet(s"$tmp/out")
        .select(col("doc_id"), col("route"),
                col("batch_id").cast("long")).collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
      assert(out(10L) == (("head", 0L)), s"$out")
      assert(out(11L) == (("middle", 0L)), s"$out")
      assert(out(12L) == (("tail", 0L)), s"$out")
      assert(out(13L) == (("short", 0L)), s"$out")
      assert(out(14L) == (("tail", 1L)), s"unseen language must route tail: $out")
      assert(out(15L) == (("head", 1L)), s"$out")
      // the model is epoch-static: no streaming state store exists
      assert(q.lastProgress.stateOperators.isEmpty ||
             q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
      // per-batch result equals the batch plan over the same docs
      val batch0 = Seq((10L, "en", "a a a"), (11L, "en", "p q p q"),
                       (12L, "en", "zz yy xx"), (13L, "en", "solo"))
        .toDF("doc_id", "lang", "text")
      val direct = graft.analytics.DataQuality
        .familiarityRouteFromModel(batch0, dict, cuts)
        .select("doc_id", "route").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(direct == out.collect { case (id, (r, b)) if b == 0L => id -> r })
    } finally q.stop()
  }

  test("familiarity router: kill + restart from checkpoint — one decision per doc") {
    import java.nio.file.Files
    import spark.implicits._
    val landing = Files.createTempDirectory("st15r-landing").toString
    val tmp = Files.createTempDirectory("st15r-state").toString
    val corpus = Seq(
      (1L, "en", "u v w x"), (2L, "en", "k l m n"),
      (3L, "en", "p q p q p"), (4L, "en", "a a a a a a a"))
      .toDF("doc_id", "lang", "text")
    val (dict, cuts) = graft.analytics.DataQuality.familiarityModel(corpus)
    dict.write.parquet(s"$tmp/model/dict.parquet")
    cuts.write.parquet(s"$tmp/model/cuts.parquet")
    def land(rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("doc_id", "lang", "text").coalesce(1)
        .write.mode("append").parquet(landing)
    land(Seq((10L, "en", "a a a")))
    val schema = spark.read.parquet(landing).schema
    def start() = EventStreams.familiarityRouter(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(landing),
      s"$tmp/model", s"$tmp/out", s"$tmp/ckpt")
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // while the query is down, two more docs land
    land(Seq((11L, "en", "zz yy xx"), (12L, "xx", "foo bar baz")))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val out = spark.read.parquet(s"$tmp/out")
      .select("doc_id", "route").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(out.length == 3 && out.toMap.size == 3,
           s"duplicate or missing decisions: ${out.toSeq}")
    assert(out.toMap == Map(10L -> "head", 11L -> "tail", 12L -> "tail"),
           s"${out.toSeq}")
  }

  test("reputation router: kill + restart from checkpoint — one decision per doc, evidence intact") {
    import java.nio.file.Files
    import spark.implicits._
    val landing = Files.createTempDirectory("st16r-landing").toString
    val tmp = Files.createTempDirectory("st16r-state").toString
    // srcA: high quality (keeps), srcB: junk (brace docs fail f_no_brace)
    val good = "the quick brown fox jumps over a lazy dog and then " +
      ("keeps running onward through the field of tall grass " * 3)
    def land(rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("doc_id", "source", "text").coalesce(1)
        .write.mode("append").parquet(landing)
    land(Seq((1L, "srcA", good), (2L, "srcB", s"{ $good }")))
    val schema = spark.read.parquet(landing).schema
    def start() = EventStreams.reputationRouter(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(landing),
      s"$tmp/counts", s"$tmp/out", s"$tmp/ckpt")
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // while the query is down, more docs land: srcB keeps failing —
    // its reputation after the restart batch reflects ALL its evidence
    land(Seq((3L, "srcA", good), (4L, "srcB", s"{ $good }"),
             (5L, "srcB", s"{{ $good }}")))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val out = spark.read.parquet(s"$tmp/out")
      .select("doc_id", "source", "keep_doc", "n_seen", "source_ok",
              "keep_final").collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getLong(3), r.getInt(4),
          r.getInt(5)))).toMap
    assert(out.size == 5, s"duplicate or missing decisions: $out")
    // batch 0 evidence: srcA 1/1 keeps (ok), srcB 0/1 (not ok)
    assert(out(1L) == (("srcA", 1, 1L, 1, 1)), s"$out")
    assert(out(2L) == (("srcB", 0, 1L, 0, 0)), s"$out")
    // after restart: running evidence spans both batches — srcB has
    // seen 3 docs, all failing, reputation stays revoked
    assert(out(3L) == (("srcA", 1, 2L, 1, 1)), s"$out")
    assert(out(4L)._1 == "srcB" && out(4L)._3 == 3L &&
           out(4L)._4 == 0 && out(4L)._5 == 0, s"$out")
    assert(out(5L)._3 == 3L && out(5L)._5 == 0, s"$out")
  }

  test("bloom ingest gate: 5-epoch chain stays bounded, membership survives pruning") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("st14p_").toString
    val seed = graft.analytics.BloomGramIndex.emptyFilter(
      s"$tmp/seed.bf", 1024L, 16384L)
    val mem = MemoryStream[(Long, String)]
    val q = EventStreams.bloomIngestGate(
      mem.toDF().toDF("doc_id", "text"),
      seed, s"$tmp/filters", s"$tmp/out", s"$tmp/ckpt")
    try {
      // epoch 0 plants the reference doc; epochs 1-3 are unrelated
      // novel docs; epoch 4 replays a near-dup of epoch 0's doc — by
      // then filter_0 has been PRUNED, so the rejection proves the
      // newest filter alone carries the full cumulative membership
      mem.addData((1L, "alpha beta gamma delta epsilon zeta eta"))
      q.processAllAvailable()
      for (e <- 1 to 3) {
        mem.addData((10L + e, s"novel$e words ${e}a ${e}b ${e}c ${e}d ${e}e"))
        q.processAllAvailable()
      }
      mem.addData((5L, "alpha beta gamma delta epsilon zeta theta"))
      q.processAllAvailable()
      val out = spark.read.parquet(s"$tmp/out")
        .select("doc_id", "keep").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(out(1L) == 1 && out(5L) == 0,
             s"membership lost across pruned epochs: $out")
      assert((1 to 3).forall(e => out(10L + e) == 1), s"$out")
      // chain bounded: exactly the keep-last-2 files remain (the
      // newest, probed by the next batch, and its replay predecessor)
      val left = Option(new java.io.File(s"$tmp/filters").listFiles())
        .getOrElse(Array.empty).map(_.getName)
        .filter(_.matches("filter_\\d+\\.bf")).sorted.toSeq
      assert(left == Seq("filter_3.bf", "filter_4.bf"),
             s"chain not pruned to the horizon: $left")
      // and their .meta sidecars went with them
      val metas = Option(new java.io.File(s"$tmp/filters").listFiles())
        .getOrElse(Array.empty).map(_.getName)
        .filter(_.endsWith(".meta")).sorted.toSeq
      assert(metas == Seq("filter_3.bf.meta", "filter_4.bf.meta"), s"$metas")
      // filter bytes bypass the local FS's checksums: no .crc sidecars
      val crcs = Seq(tmp, s"$tmp/filters").flatMap(d =>
        Option(new java.io.File(d).listFiles()).getOrElse(Array.empty)
          .map(_.getName).filter(_.endsWith(".crc")))
      assert(crcs.isEmpty, s"checksum sidecars written: $crcs")
    } finally q.stop()
  }

  test("bloom ingest gate: kill + restart from checkpoint — one decision per doc, chain intact") {
    import java.nio.file.Files
    val landing = Files.createTempDirectory("st14r-landing").toString
    val tmp = Files.createTempDirectory("st14r-state").toString
    val seed = graft.analytics.BloomGramIndex.emptyFilter(
      s"$tmp/seed.bf", 1024L, 16384L)
    def land(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(landing)
    land(Seq((1L, "alpha beta gamma delta epsilon zeta eta")))
    val schema = spark.read.parquet(landing).schema
    def start() = EventStreams.bloomIngestGate(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(landing),
      seed, s"$tmp/filters", s"$tmp/out", s"$tmp/ckpt")
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // while the query is down: a near-dup of the accepted doc and a
    // novel doc land
    land(Seq((2L, "alpha beta gamma delta epsilon zeta theta"),
             (3L, "one two three four five six seven")))
    // restart from the same checkpoint: the first file must NOT be
    // re-decided, and the filter grown before the kill must still gate
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val out = spark.read.parquet(s"$tmp/out")
      .select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getInt(1))
    assert(out.length == 3 && out.toMap.size == 3,
           s"duplicate or missing decisions: ${out.toSeq}")
    assert(out.toMap == Map(1L -> 1, 2L -> 0, 3L -> 1), s"${out.toSeq}")
  }

  test("incremental gram gate: kill + restart from checkpoint — one decision per doc, store intact") {
    import java.nio.file.Files
    val landing = Files.createTempDirectory("st11r-landing").toString
    val tmp = Files.createTempDirectory("st11r-state").toString
    def land(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(landing)
    // file 1 lands, gets processed, then the query is killed
    land(Seq((1L, "alpha beta gamma delta epsilon zeta eta")))
    val schema = spark.read.parquet(landing).schema
    def start() = EventStreams.incrementalGramGate(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(landing),
      s"$tmp/store", s"$tmp/out", s"$tmp/ckpt")
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // while the query is down: a near-dup of the accepted doc and a
    // novel doc land
    land(Seq((2L, "alpha beta gamma delta epsilon zeta theta"),
             (3L, "one two three four five six seven")))
    // restart from the same checkpoint: the first file must NOT be
    // re-decided, and the store grown before the kill must still gate
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val out = spark.read.parquet(s"$tmp/out")
      .select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getInt(1))
    assert(out.length == 3 && out.toMap.size == 3,
           s"duplicate or missing decisions: ${out.toSeq}")
    assert(out.toMap == Map(1L -> 1, 2L -> 0, 3L -> 1), s"${out.toSeq}")
    // store: 3 grams from doc 1 (pre-kill) + 3 from doc 3, none from
    // the rejected near-dup
    assert(spark.read.parquet(s"$tmp/store").distinct().count() == 6)
  }

  test("incremental gram gate: a crash-replayed batch decides as its first run did") {
    // a crash after the step's writes but before the checkpoint commit
    // replays the batch: it must not gate its own docs against the
    // grams its first run already landed in the store
    import java.nio.file.Files
    val landing = Files.createTempDirectory("st11p-landing").toString
    val tmp = Files.createTempDirectory("st11p-state").toString
    Seq((1L, "alpha beta gamma delta epsilon zeta eta"),
        (2L, "one two three four five six seven"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(landing)
    val schema = spark.read.parquet(landing).schema
    def run(): Map[Long, Int] = {
      val q = EventStreams.incrementalGramGate(
        spark.readStream.schema(schema).parquet(landing),
        s"$tmp/store", s"$tmp/out", s"$tmp/ckpt")
      try q.processAllAvailable() finally q.stop()
      spark.read.parquet(s"$tmp/out").select("doc_id", "keep").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    }
    val first = run()
    assert(first == Map(1L -> 1, 2L -> 1), s"$first")
    // un-commit batch 0: the restarted query re-runs it
    Seq("0", ".0.crc").foreach(f =>
      Files.deleteIfExists(java.nio.file.Paths.get(s"$tmp/ckpt/commits/$f")))
    assert(run() == first, "the replayed batch rejected its own docs")
  }

  test("temperature mixture: kill + restart — counts resume, batches never double-counted") {
    import java.nio.file.Files
    val landing = Files.createTempDirectory("dm05r-landing").toString
    val tmp = Files.createTempDirectory("dm05r-state").toString
    def land(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "lang").coalesce(1)
        .write.mode("append").parquet(landing)
    land(Seq((1L, "en"), (2L, "en"), (3L, "en"), (4L, "en"), (5L, "fr")))
    val schema = spark.read.parquet(landing).schema
    def start() = EventStreams.temperatureMixture(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(landing),
      s"$tmp/counts", s"$tmp/out", s"$tmp/ckpt")
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // while down: more docs land; on restart the running counts must
    // CONTINUE from the pre-kill deltas (en 4 + 1 = 5, fr 1 + 3 = 4),
    // not restart from zero and not double-count batch 0
    land(Seq((6L, "fr"), (7L, "fr"), (8L, "fr"), (9L, "en")))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val counts = spark.read.parquet(s"$tmp/counts")
      .groupBy("lang").sum("n_batch").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("en" -> 5L, "fr" -> 4L), s"$counts")
    val out = spark.read.parquet(s"$tmp/out")
      .select(col("batch_id").cast("long"), col("lang"), col("rate"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    assert(out.size == 4, s"$out") // 2 langs × 2 batches, no duplicates
    assert(out((1L, "en")) == math.floor(math.sqrt(4.0 / 5) * 1e6) / 1e6 ||
           math.abs(out((1L, "en")) - math.sqrt(4.0 / 5)) < 1e-6, s"$out")
  }

  test("streaming temperature mixture refreshes keep-rates from running counts") {
    implicit val sqlCtx = spark.sqlContext
    import graft.analytics.DataMix
    val tmp = java.nio.file.Files.createTempDirectory("dm05_").toString
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "lang")
    val q = EventStreams.temperatureMixture(
      stream, s"$tmp/counts", s"$tmp/out", s"$tmp/ckpt")
    def fracs(ids: Seq[Long]): Seq[Double] =
      ids.toDF("doc_id").select(DataMix.hashFraction(col("doc_id")).as("f"))
        .as[Double].collect().toSeq
    try {
      // batch 0: en dominant (4), fr rare (1) → rate_en = √(1/4) = 0.5,
      // rate_fr = 1
      mem.addData((1L, "en"), (2L, "en"), (3L, "en"), (4L, "en"), (5L, "fr"))
      q.processAllAvailable()
      // batch 1: a wave of fr — running counts become en 5, fr 4, so
      // rate_en must REFRESH to √(4/5), not stay at batch-0's 0.5
      mem.addData((6L, "fr"), (7L, "fr"), (8L, "fr"), (9L, "en"))
      q.processAllAvailable()
      val out = spark.read.parquet(s"$tmp/out")
        .select(col("batch_id").cast("long"), col("lang"),
                col("n_running"), col("rate"), col("n_sampled"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1)) ->
          ((r.getLong(2), r.getDouble(3), r.getLong(4)))).toMap
      // batch 0: rates from its own counts; the rate-1 language keeps all
      val expEn0 = fracs(Seq(1L, 2L, 3L, 4L)).count(_ < 0.5).toLong
      assert(out((0L, "en")) == ((4L, 0.5, expEn0)), s"$out")
      assert(out((0L, "fr")) == ((1L, 1.0, 1L)), s"$out")
      // batch 1: rates refreshed from RUNNING counts (en 5, fr 4)
      val rateEn1 = math.sqrt(4.0 / 5)
      val expEn1 = fracs(Seq(9L)).count(_ < rateEn1).toLong
      val (nEn1, rEn1, sEn1) = out((1L, "en"))
      assert(nEn1 == 5L && math.abs(rEn1 - rateEn1) < 1e-6 && sEn1 == expEn1,
             s"$out")
      assert(out((1L, "fr")) == ((4L, 1.0, 3L)), s"$out") // all 3 fr kept
      // stateless plan: running counts live in the delta table
      assert(q.lastProgress.stateOperators.isEmpty ||
             q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()
  }

  test("streaming reputation router: running evidence gates each batch; matches the batch form") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("st16_").toString
    val docs = graft.queries.QueryDef.table(spark, sf0001, "documents")
      .select("doc_id", "source", "text").collect()
    val (b1, b2) = docs.partition(_.getLong(0) % 2 == 0)
    def rows(rs: Array[org.apache.spark.sql.Row]) =
      rs.toSeq.map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val mem = MemoryStream[(Long, String, String)]
    val stream = mem.toDF().toDF("doc_id", "source", "text")
    val q = EventStreams.reputationRouter(
      stream, s"$tmp/counts", s"$tmp/out", s"$tmp/ckpt")
    try {
      mem.addData(rows(b1): _*)
      q.processAllAvailable()
      mem.addData(rows(b2): _*)
      q.processAllAvailable()
      // the streamed decision log must equal the oracle-checked batch
      // form row for row (batch_id is 0-based, the entry's batch 1-based)
      val streamed = spark.read.parquet(s"$tmp/out")
        .select((col("batch_id").cast("int") + 1).as("batch"),
                col("doc_id"), col("source"), col("keep_doc"),
                col("n_seen"), col("keep_rate"), col("source_ok"),
                col("keep_final"))
      val batchForm =
        SparkEntry.queries("st16_streaming_reputation")(spark, sf0001)
      assert(streamed.count() == batchForm.count())
      assert(streamed.exceptAll(batchForm).count() == 0 &&
             batchForm.exceptAll(streamed).count() == 0,
             "streamed decisions diverge from the batch form")
      // stateless: the running evidence lives in the delta table, not
      // a state store
      assert(q.lastProgress.stateOperators.isEmpty ||
             q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()
  }

  test("streaming pack: sequence ids continue across batches; matches the batch form") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("st17_").toString
    val docs = graft.queries.QueryDef.table(spark, sf0001, "documents")
      .select("doc_id", "text").collect()
    val (b1, b2) = docs.partition(_.getLong(0) % 2 == 0)
    def rows(rs: Array[org.apache.spark.sql.Row]) =
      rs.toSeq.map(r => (r.getLong(0), r.getString(1)))
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val q = EventStreams.packStream(
      stream, s"$tmp/counts", s"$tmp/out", s"$tmp/ckpt")
    try {
      mem.addData(rows(b1): _*)
      q.processAllAvailable()
      mem.addData(rows(b2): _*)
      q.processAllAvailable()
      val streamed = spark.read.parquet(s"$tmp/out")
        .select((col("batch_id").cast("int") + 1).as("batch"),
                col("doc_id"), col("n_tokens"), col("shard"),
                col("seq_id"), col("pos_in_seq"))
      val batchForm =
        SparkEntry.queries("st17_streaming_pack")(spark, sf0001)
      assert(streamed.count() == batchForm.count())
      assert(streamed.exceptAll(batchForm).count() == 0 &&
             batchForm.exceptAll(streamed).count() == 0,
             "streamed packing diverges from the batch form")
      assert(q.lastProgress.stateOperators.isEmpty ||
             q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()
  }

  test("streaming decon gate: stateless stream-static; matches the batch form") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("st18_").toString
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val bench = emb.filter(col("label") === 0)
      .select(col("vec_id").as("bench_id"), col("embedding"))
    val corpus = emb.filter(col("label") =!= 0)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val (b1, b2) = corpus.partition(_._1 % 2 == 0)
    val mem = MemoryStream[(Long, Seq[Float])]
    val stream = mem.toDF().toDF("vec_id", "embedding")
    val q = EventStreams.deconGate(stream, bench, s"$tmp/out", s"$tmp/ckpt")
    try {
      mem.addData(b1.toSeq: _*)
      q.processAllAvailable()
      mem.addData(b2.toSeq: _*)
      q.processAllAvailable()
      val streamed = spark.read.parquet(s"$tmp/out")
        .select((col("batch_id").cast("int") + 1).as("batch"),
                col("vec_id"), col("n_cand"), col("keep"))
      // the registry entry now emits the self-audit row; the raw chain
      // is the shared frame both forms serve
      val batchForm = graft.streaming.StreamShapes.deconGateChain(spark, sf0001)
      assert(streamed.count() == batchForm.count())
      assert(streamed.exceptAll(batchForm).count() == 0 &&
             batchForm.exceptAll(streamed).count() == 0,
             "streamed decon decisions diverge from the batch form")
      // stateless: nothing in a state store
      assert(q.lastProgress.stateOperators.isEmpty ||
             q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()
  }

  test("streaming decon gate at the selectivity config (8×7): the (bands, " +
       "rows) knob threads through the hoisted bucket map; stream ≡ batch") {
    // r14 surfaced (bands, rows) on deconGate/deconGateChain (the
    // measured 8×7 serving config — FIXTURES §D, served by dc05). The
    // config enters the gate TWICE — the pre-stream bucket-map build
    // and the per-batch scorer — and a mismatch between them silently
    // empties every bucket (the signature slots stop lining up), so
    // the streaming twin must be pinned row-equal to the batch chain
    // AT the non-default config, not just at 12×4.
    implicit val sqlCtx = spark.sqlContext
    import graft.analytics.DataQuality
    val tmp = java.nio.file.Files.createTempDirectory("st18sel_").toString
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val bench = emb.filter(col("label") === 0)
      .select(col("vec_id").as("bench_id"), col("embedding"))
    val corpus = emb.filter(col("label") =!= 0)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val (b1, b2) = corpus.partition(_._1 % 2 == 0)
    val mem = MemoryStream[(Long, Seq[Float])]
    val stream = mem.toDF().toDF("vec_id", "embedding")
    val sel = Some((DataQuality.DeconSelBands, DataQuality.DeconSelRows))
    val q = EventStreams.deconGate(stream, bench, s"$tmp/out", s"$tmp/ckpt",
                                   deconConfig = sel)
    try {
      mem.addData(b1.toSeq: _*)
      q.processAllAvailable()
      mem.addData(b2.toSeq: _*)
      q.processAllAvailable()
      val streamed = spark.read.parquet(s"$tmp/out")
        .select((col("batch_id").cast("int") + 1).as("batch"),
                col("vec_id"), col("n_cand"), col("keep"))
      val batchForm = graft.streaming.StreamShapes.deconGateChain(
        spark, sf0001, deconConfig = sel)
      assert(streamed.count() == batchForm.count())
      assert(streamed.exceptAll(batchForm).count() == 0 &&
             batchForm.exceptAll(streamed).count() == 0,
             "streamed 8×7 decon decisions diverge from the batch form")
      // and the selectivity config actually pruned: fewer candidates
      // in total than the corpus × bench product would give at 12×4's
      // config-bound ~54 % rate
      val nCand = spark.read.parquet(s"$tmp/out")
        .agg(sum("n_cand")).head().getLong(0)
      val bound = (corpus.length.toLong * bench.count() * 0.15).toLong
      assert(nCand <= bound,
             s"8×7 should prune candidates: $nCand > $bound")
    } finally q.stop()
  }

  test("streaming decon gate: kill + restart from checkpoint — one decision per vector") {
    import java.nio.file.Files
    import spark.implicits._
    val landing = Files.createTempDirectory("st18r-landing").toString
    val tmp = Files.createTempDirectory("st18r-state").toString
    // benchmark: one direction; contaminated vectors are near-parallel
    // to it (cos ≈ 1 ≥ tau), clean ones orthogonal (cos 0 — the refine
    // drops any accidental band collision)
    val bench = Seq((100L, Seq(1f, 0f, 0f, 0f)))
      .toDF("bench_id", "embedding")
    def land(rows: Seq[(Long, Seq[Float])]): Unit =
      rows.toDF("vec_id", "embedding").coalesce(1)
        .write.mode("append").parquet(landing)
    land(Seq((1L, Seq(0.99f, 0.05f, 0f, 0f)), (2L, Seq(0f, 1f, 0f, 0f))))
    val schema = spark.read.parquet(landing).schema
    def start() = EventStreams.deconGate(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(landing),
      bench, s"$tmp/out", s"$tmp/ckpt")
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // while the query is down: another contaminated and another clean
    land(Seq((3L, Seq(0.98f, -0.1f, 0f, 0f)), (4L, Seq(0f, 0f, 1f, 0f))))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val out = spark.read.parquet(s"$tmp/out")
      .select("vec_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getInt(1))
    assert(out.length == 4 && out.toMap.size == 4,
           s"duplicate or missing decisions: ${out.toSeq}")
    assert(out.toMap == Map(1L -> 0, 2L -> 1, 3L -> 0, 4L -> 1),
           s"${out.toSeq}")
  }

  test("st17: 1e5-distinct-shard corpus flows the shuffled offsets path end-to-end") {
    // high-cardinality probe of the retired per-shard broadcast: one
    // doc per shard at doc_id = i*1000 + (i%2) puts 1e5 distinct
    // shards through the offsets join; with the threshold forced off
    // it must run shuffled, and the closed form is trivial — every doc
    // is alone in its shard, so seq_id = 0, pos_in_seq = 1.
    val nShard = 100000
    val docs = spark.range(nShard).select(
      (col("id") * 1000 + col("id") % 2).as("doc_id"),
      lit("alpha beta gamma delta").as("text"))
    val dir = java.nio.file.Files.createTempDirectory("st17-stress").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    GraftSession.withConfs(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val out = SparkEntry.queries("st17_streaming_pack")(spark, dir)
        .agg(count(lit(1)), countDistinct("shard"), max("seq_id"),
             max("pos_in_seq"), sum("n_tokens")).head()
      assert(out.getLong(0) == nShard, s"row count: $out")
      assert(out.getLong(1) == nShard, s"distinct shards: $out")
      assert(out.getLong(2) == 0L && out.getInt(3) == 1,
             s"packing drifted: $out")
      assert(out.getLong(4) == 4L * nShard, s"token totals: $out")
    }
  }

  test("streaming pack + reputation router: empty micro-batches are no-ops, query survives") {
    // ADVICE regression: a zero-row file landing in the source dir
    // produced a zero-row dynamic-partition write (only _SUCCESS) and
    // the immediate state read-back died on schema inference. The
    // empty batch must be skipped and LATER batches must still pack /
    // gate correctly even though batch 0 left no delta behind.
    import java.nio.file.Files
    import spark.implicits._
    val text = ("tok " * 300).trim
    // --- packStream ---
    val landP = Files.createTempDirectory("st17e-landing").toString
    val tmpP = Files.createTempDirectory("st17e-state").toString
    Seq.empty[(Long, String)].toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(landP)
    val schemaP = spark.read.parquet(landP).schema
    def startP() = EventStreams.packStream(
      spark.readStream.schema(schemaP).option("maxFilesPerTrigger", "1")
        .parquet(landP),
      s"$tmpP/counts", s"$tmpP/out", s"$tmpP/ckpt")
    val qp1 = startP()
    try qp1.processAllAvailable() finally qp1.stop()
    Seq((1L, text), (2L, text), (3L, text)).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(landP)
    val qp2 = startP()
    try qp2.processAllAvailable() finally qp2.stop()
    val packed = spark.read.parquet(s"$tmpP/out")
      .select("doc_id", "seq_id", "pos_in_seq").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(packed == Map(1L -> ((0L, 1)), 2L -> ((0L, 2)),
                         3L -> ((1L, 1))), s"$packed")
    // --- reputationRouter ---
    val landR = Files.createTempDirectory("st16e-landing").toString
    val tmpR = Files.createTempDirectory("st16e-state").toString
    val good = "the quick brown fox jumps over a lazy dog and then " +
      ("keeps running onward through the field of tall grass " * 3)
    Seq.empty[(Long, String, String)].toDF("doc_id", "source", "text")
      .coalesce(1).write.mode("append").parquet(landR)
    val schemaR = spark.read.parquet(landR).schema
    def startR() = EventStreams.reputationRouter(
      spark.readStream.schema(schemaR).option("maxFilesPerTrigger", "1")
        .parquet(landR),
      s"$tmpR/counts", s"$tmpR/out", s"$tmpR/ckpt")
    val qr1 = startR()
    try qr1.processAllAvailable() finally qr1.stop()
    Seq((1L, "srcA", good), (2L, "srcB", s"{ $good }"))
      .toDF("doc_id", "source", "text")
      .coalesce(1).write.mode("append").parquet(landR)
    val qr2 = startR()
    try qr2.processAllAvailable() finally qr2.stop()
    val gated = spark.read.parquet(s"$tmpR/out")
      .select("doc_id", "keep_final").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(gated == Map(1L -> 1, 2L -> 0), s"$gated")
  }

  test("delta-reading streams: a zero-row first micro-batch is a valid batch") {
    // every stream that reads back what it landed: a zero-row file
    // lands first (its batch writes only _SUCCESS), then a real file
    // under a restarted query; the real batch's output must equal the
    // same batch run cold, with no empty batch before it
    import java.nio.file.Files
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.StreamingQuery
    val texts = Seq((1L, "alpha beta gamma delta epsilon zeta eta"),
                    (2L, "alpha beta gamma delta epsilon zeta theta"),
                    (3L, "tiny doc"),
                    (4L, "one two three one two three four one two"))
    val docs = texts.toDF("doc_id", "text")
    case class Case(name: String, rows: DataFrame,
                    start: (DataFrame, String) => StreamingQuery,
                    output: (String, Long) => DataFrame = (d, b) =>
                      spark.read.parquet(s"$d/out")
                        .filter(col("batch_id") === b).drop("batch_id"))
    val cases = Seq(
      Case("incrementalGramGate", docs, (s, d) =>
        EventStreams.incrementalGramGate(s, s"$d/store", s"$d/out", s"$d/ckpt")),
      Case("bloomIngestGate", docs, (s, d) =>
        EventStreams.bloomIngestGate(s,
          graft.analytics.BloomGramIndex.emptyFilter(s"$d/seed.bf", 1024L, 16384L),
          s"$d/filters", s"$d/out", s"$d/ckpt")),
      Case("temperatureMixture",
        Seq((1L, "en"), (2L, "en"), (3L, "en"), (4L, "fr")).toDF("doc_id", "lang"),
        (s, d) => EventStreams.temperatureMixture(
          s, s"$d/counts", s"$d/out", s"$d/ckpt")),
      Case("incrementalHeavyHitters", docs, (s, d) =>
        EventStreams.incrementalHeavyHitters(
          s, s"$d/state", s"$d/store", s"$d/out", s"$d/ckpt", k = 10)),
      Case("incrementalQuantiles", docs, (s, d) =>
        EventStreams.incrementalQuantiles(
          s, s"$d/state", s"$d/store", s"$d/out", s"$d/ckpt")),
      Case("incrementalVocab",
        texts.map { case (id, t) => (s"s${id % 2}", t) }.toDF("source", "text"),
        (s, d) => EventStreams.incrementalVocab(
          s, s"$d/state", s"$d/store", s"$d/out", s"$d/ckpt")),
      Case("scdApply", Seq((1L, "A"), (2L, "B")).toDF("k", "seg"),
        (s, d) => EventStreams.scdApply(s, s"$d/state", s"$d/ckpt"),
        // the history stamps rows with the batch id that opened them
        (d, b) => spark.read.parquet(s"$d/state/state_$b").drop("valid_from")),
      Case("incrementalKCore", docs, (s, d) =>
        EventStreams.incrementalKCore(
          s, s"$d/state", s"$d/store", s"$d/out", s"$d/ckpt", k = 2)),
      Case("packStream", docs, (s, d) =>
        EventStreams.packStream(s, s"$d/counts", s"$d/out", s"$d/ckpt")))
    // the sorted rows the real batch produced, after `files` landed one
    // micro-batch each (a restarted query per file)
    def run(c: Case, files: Seq[DataFrame]): Seq[String] = {
      val landing = Files.createTempDirectory("zr-landing").toString
      val dir = Files.createTempDirectory(s"zr-${c.name}").toString
      files.foreach { f =>
        f.coalesce(1).write.mode("append").parquet(landing)
        val q = c.start(spark.readStream.schema(c.rows.schema)
          .option("maxFilesPerTrigger", "1").parquet(landing), dir)
        try q.processAllAvailable() finally q.stop()
      }
      c.output(dir, files.size - 1L).collect().map(_.toString).sorted.toSeq
    }
    val failures = cases.flatMap { c =>
      try {
        val cold = run(c, Seq(c.rows))
        val afterEmpty = run(c, Seq(c.rows.limit(0), c.rows))
        Option.when(cold.isEmpty || afterEmpty != cold)(
          s"${c.name}: $afterEmpty vs cold $cold")
      } catch {
        case e: Exception => Some(s"${c.name}: ${e.getMessage.take(300)}")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("streaming pack: kill + restart from checkpoint — one assignment per doc, offsets intact") {
    import java.nio.file.Files
    import spark.implicits._
    val landing = Files.createTempDirectory("st17r-landing").toString
    val tmp = Files.createTempDirectory("st17r-state").toString
    // 300-token docs in one shard: budget 512 → doc 1 opens seq 0,
    // doc 2 (cum 300) still seq 0, doc 3 (cum 600) seq 1, doc 4
    // (cum 900) seq 1, doc 5 (cum 1200) seq 2 — crossing the restart
    val text = ("tok " * 300).trim
    def land(ids: Seq[Long]): Unit =
      ids.map(id => (id, text)).toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(landing)
    land(Seq(1L, 2L))
    val schema = spark.read.parquet(landing).schema
    def start() = EventStreams.packStream(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(landing),
      s"$tmp/counts", s"$tmp/out", s"$tmp/ckpt")
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // while the query is down, three more docs land
    land(Seq(3L, 4L, 5L))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val out = spark.read.parquet(s"$tmp/out")
      .select("doc_id", "seq_id", "pos_in_seq").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(out.size == 5, s"duplicate or missing assignments: $out")
    assert(out(1L) == ((0L, 1)) && out(2L) == ((0L, 2)), s"$out")
    // restart batch continues shard offsets AND in-sequence positions
    assert(out(3L) == ((1L, 1)) && out(4L) == ((1L, 2)) &&
           out(5L) == ((2L, 1)), s"$out")
  }

  test("codec validation gate runs per micro-batch: corrupt clip quarantined, good clips decoded") {
    implicit val sqlCtx = spark.sqlContext
    // real WAV payloads, prepared in batch and replayed as a stream
    val payloads = graft.analytics.Multimodal.wavMedia(
        Seq((10L, "a"), (14L, "b"), (21L, "c")).toDF("doc_id", "text"))
      .as[(Long, Array[Byte])].collect().toMap
    val corrupt = { val c = payloads(14L).clone(); c(0) = 'X'.toByte; c }
    val mem = MemoryStream[(Long, Array[Byte])]
    val arriving = mem.toDF().toDF("media_id", "payload")
    val q = graft.analytics.Multimodal.decodeWavStatsSafe(arriving)
      .writeStream.queryName("codec_gate_test")
      .outputMode("append").format("memory").start()
    try {
      // batch 1: one good clip, one with its RIFF magic destroyed —
      // the gate must emit a decision for BOTH, not kill the batch
      mem.addData((10L, payloads(10L)), (14L, corrupt))
      q.processAllAvailable()
      // batch 2: a later good clip decodes normally
      mem.addData((21L, payloads(21L)))
      q.processAllAvailable()
      val rows = spark.table("codec_gate_test")
        .select("media_id", "ok", "n_samples").collect()
        .map(r => r.getLong(0) ->
          ((r.getInt(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
      assert(rows(10L) ==
        ((1, graft.analytics.Multimodal.WavSamples.toLong)))
      assert(rows(14L) == ((0, -1L)), s"corrupt clip must quarantine: $rows")
      assert(rows(21L) ==
        ((1, graft.analytics.Multimodal.WavSamples.toLong)))
      // stateless: the gate carries no streaming state between batches
      assert(q.lastProgress.stateOperators.isEmpty ||
             q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()
  }

  test("streaming neardup ingest gate: matches the batch form") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("st19_").toString
    val seed = graft.analytics.MinHashBandIndex.ensure(spark, sf0001)
    val arr = graft.analytics.MinHashBandIndex.arrivalsOf(
        spark.read.parquet(s"$sf0001/documents.parquet"))
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val (b1, b2) = arr.partition(_._1 % 20 == 0)
    val mem = MemoryStream[(Long, String)]
    val q = EventStreams.neardupIngestGate(
      mem.toDF().toDF("doc_id", "text"), seed,
      s"$tmp/bands", s"$tmp/shingles", s"$tmp/out", s"$tmp/ckpt")
    try {
      mem.addData(b1.toSeq: _*)
      q.processAllAvailable()
      mem.addData(b2.toSeq: _*)
      q.processAllAvailable()
      val streamed = spark.read.parquet(s"$tmp/out")
        .select(col("doc_id"), col("keep"), col("match_id"),
                col("match_jaccard"),
                (col("batch_id").cast("int") + 1).as("batch"))
      val batchForm =
        graft.streaming.StreamShapes.neardupGateChain(spark, sf0001)
      assert(streamed.count() == batchForm.count())
      assert(streamed.exceptAll(batchForm).count() == 0 &&
             batchForm.exceptAll(streamed).count() == 0,
             "streamed neardup gate diverges from the batch form")
      // stateless operators: all state is the two delta tables
      assert(q.lastProgress.stateOperators.isEmpty ||
             q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()
  }

  test("streaming neardup ingest gate: kill + restart — accepted segments persist, no self-rejects") {
    import java.nio.file.Files
    import spark.implicits._
    val landing = Files.createTempDirectory("st19r-landing").toString
    val tmp = Files.createTempDirectory("st19r-state").toString
    val base = (1 to 25).map(i =>
      s"corpus$i sentence about the quick brown fox").mkString(" ")
    val novel = (1 to 25).map(i =>
      s"novel$i topic on distributed systems theory").mkString(" ")
    val seedDir = s"$tmp/seed"
    graft.analytics.MinHashBandIndex.buildFrom(
      spark, seedDir, Seq((1L, base)).toDF("doc_id", "text"))
    def land(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(landing)
    // batch 1: a near-dup of the seed corpus (reject) + a novel doc
    // (accept → becomes a segment)
    land(Seq((10L, base + " again"), (20L, novel)))
    val schema = spark.read.parquet(landing).schema
    def start() = EventStreams.neardupIngestGate(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(landing),
      seedDir, s"$tmp/bands", s"$tmp/shingles", s"$tmp/out", s"$tmp/ckpt")
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // while the query is down: a near-dup of the doc ACCEPTED before
    // the restart (must reject — the segment survived) + fresh content
    land(Seq((30L, novel + " addendum"),
             (40L, "entirely fresh content about olap engines and columnar scans")))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val out = spark.read.parquet(s"$tmp/out")
      .select("doc_id", "keep", "match_id").collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    assert(out.size == 4, s"one decision per doc: $out")
    assert(out(10L) == ((0, 1L)), s"seed near-dup must reject: $out")
    assert(out(20L) == ((1, -1L)), s"novel doc must accept: $out")
    assert(out(30L) == ((0, 20L)),
      s"near-dup of pre-restart accepted doc must reject against it: $out")
    assert(out(40L) == ((1, -1L)), s"fresh doc must accept: $out")
    // takedown parity with the batch gate: retract the seed corpus doc
    // between batches; its near-dups must now be ACCEPTED on the
    // streaming path too (the seed bands are read through the
    // tombstone anti-join, not raw)
    graft.analytics.MinHashBandIndex.deleteDocs(
      spark, seedDir, Seq(1L).toDF("corpus_id"))
    land(Seq((50L, base + " later")))
    val q3 = start()
    try q3.processAllAvailable() finally q3.stop()
    val out3 = spark.read.parquet(s"$tmp/out")
      .filter(col("doc_id") === 50L).select("keep", "match_id").head()
    assert(out3.getInt(0) == 1 && out3.isNullAt(1),
      s"retracted corpus doc still gates streamed arrivals: $out3")
  }

  test("neardup segment merge: folding deltas into the seed preserves gate semantics") {
    import spark.implicits._
    val mh = graft.analytics.MinHashBandIndex
    // the same fold through a non-`file:` scheme: the delta listing and
    // drop must go through Hadoop FS, or no segment is ever folded
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftlocal.impl", classOf[SchemeLocalFs].getName)
    Seq("", "graftlocal://").foreach { scheme =>
      val local = java.nio.file.Files.createTempDirectory("mhmerge").toString
      val tmp = scheme + local
      val base = (1 to 25).map(i =>
        s"corpus$i sentence about the quick brown fox").mkString(" ")
      val novel = (1 to 25).map(i =>
        s"novel$i topic on distributed systems theory").mkString(" ")
      val seedDir = s"$tmp/seed"
      mh.buildFrom(spark, seedDir, Seq((1L, base)).toDF("doc_id", "text"))
      // simulate one streamed batch's accepted segment in the delta dirs
      val acc = Seq((20L, novel)).toDF("doc_id", "text")
      mh.segmentBands(spark, acc).withColumn("batch_id", lit(0L))
        .write.partitionBy("batch_id").parquet(s"$tmp/bands")
      mh.segmentShingles(spark, acc).withColumn("batch_id", lit(0L))
        .write.partitionBy("batch_id").parquet(s"$tmp/shingles")
      val b2 = Seq(
        (30L, novel + " addendum"), // near-dup of the SEGMENT doc
        (40L, base + " again"),     // near-dup of the SEED doc
        (50L, "entirely fresh content about olap engines and columnar scans")
      ).toDF("doc_id", "text")
      val expected = mh.gateFrames(spark,
        spark.read.parquet(s"$seedDir/bands")
          .select("corpus_id", "band", "key", "kp")
          .unionByName(spark.read.parquet(s"$tmp/bands")
            .select("corpus_id", "band", "key", "kp")),
        spark.read.parquet(s"$seedDir/shingles")
          .unionByName(spark.read.parquet(s"$tmp/shingles")
            .select("corpus_id", "sh")),
        b2).collect().toSeq
      assert(mh.segmentCount(s"$tmp/bands") == 1, s"$scheme: segment not listed")
      val n = mh.mergeSegments(spark, seedDir, s"$tmp/bands", s"$tmp/shingles")
      assert(n == 1, s"$scheme: folded $n docs")
      assert(!new java.io.File(s"$local/bands").exists() &&
             !new java.io.File(s"$local/shingles").exists(),
             "delta dirs must be dropped after the merge")
      val merged = mh.gate(spark, seedDir, b2).collect().toSeq
      assert(merged == expected,
        s"merged-seed gate diverges from seed+delta gate: $merged vs $expected")
      // the segment doc really gates: 30 rejects against 20, 40 against 1
      val m = merged.map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
      assert(m == Map(30L -> 20L, 40L -> 1L, 50L -> -1L), s"$m")
    }
  }

  test("segment retention: maintenance cycles bound the delta count; decisions match a never-merged twin") {
    // the policy mergeSegments lacked a scheduler for: a long-lived
    // stream over many maintenance cycles (stop → maintainSegments →
    // restart) must (a) keep the landed segment count bounded, (b) make
    // every decision exactly as a twin stream that never merges —
    // including rejecting near-dups of docs whose segments were folded
    // into the seed several cycles ago.
    import java.nio.file.Files
    import spark.implicits._
    val mh = graft.analytics.MinHashBandIndex
    def mkDoc(tag: String): String =
      (1 to 25).map(i => s"$tag$i wording about topic $tag").mkString(" ")
    val base = mkDoc("corpus")
    // 3 cycles of 4 docs; cycles 2 and 3 lead with a near-dup of a doc
    // accepted (and by then MERGED) in an earlier cycle
    val cycles = Seq(
      Seq(10L -> mkDoc("alpha"), 11L -> mkDoc("beta"),
          12L -> mkDoc("gamma"), 13L -> mkDoc("delta")),
      Seq(20L -> (mkDoc("alpha") + " addendum"), 21L -> mkDoc("epsilon"),
          22L -> mkDoc("zeta"), 23L -> mkDoc("eta")),
      Seq(30L -> (mkDoc("epsilon") + " later"), 31L -> mkDoc("theta"),
          32L -> (base + " again"), 33L -> mkDoc("iota")))
    def runVariant(name: String, maintain: Boolean): Map[Long, Int] = {
      val tmp = Files.createTempDirectory(s"ret-$name").toString
      val landing = s"$tmp/landing"
      val seedDir = s"$tmp/seed"
      mh.buildFrom(spark, seedDir, Seq((1L, base)).toDF("doc_id", "text"))
      Seq((0L, "primer")).toDF("doc_id", "text").write.parquet(landing)
      val schema = spark.read.parquet(landing).schema
      def start() = EventStreams.neardupIngestGate(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(landing),
        seedDir, s"$tmp/bands", s"$tmp/shingles", s"$tmp/out", s"$tmp/ckpt")
      cycles.foreach { docs =>
        val q = start()
        try {
          docs.foreach { case (id, text) =>
            Seq((id, text)).toDF("doc_id", "text").coalesce(1)
              .write.mode("append").parquet(landing)
          }
          q.processAllAvailable()
        } finally q.stop()
        if (maintain) {
          // clean stop → maintenance window; trigger bound is 3 landed
          // segments, so every cycle folds
          mh.maintainSegments(spark, seedDir, s"$tmp/bands",
                              s"$tmp/shingles", maxSegments = 3)
          assert(mh.segmentCount(s"$tmp/bands") <= 3,
            s"segment count unbounded under maintenance")
        }
      }
      spark.read.parquet(s"$tmp/out")
        .select("doc_id", "keep").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    }
    val maintained = runVariant("m", maintain = true)
    val twin = runVariant("t", maintain = false)
    assert(maintained == twin,
      s"maintenance changed decisions: $maintained vs $twin")
    // the cross-cycle near-dups really reject against MERGED segments
    assert(maintained(20L) == 0 && maintained(30L) == 0 &&
           maintained(32L) == 0, s"$maintained")
    assert(maintained(21L) == 1 && maintained(31L) == 1, s"$maintained")
  }

  test("streaming curation: matches the batch form") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("st20_").toString
    val seed = graft.analytics.MinHashBandIndex.ensure(spark, sf0001)
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val arr = graft.analytics.MinHashBandIndex.arrivalsOf(
        spark.read.parquet(s"$sf0001/documents.parquet"))
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val (b1, b2) = arr.partition(_._1 % 20 == 0)
    val mem = MemoryStream[(Long, String)]
    val q = EventStreams.curationStream(
      mem.toDF().toDF("doc_id", "text"), seed, emb,
      s"$tmp/bands", s"$tmp/shingles", s"$tmp/out", s"$tmp/ckpt")
    try {
      mem.addData(b1.toSeq: _*)
      q.processAllAvailable()
      mem.addData(b2.toSeq: _*)
      q.processAllAvailable()
      val streamed = spark.read.parquet(s"$tmp/out")
        .select(col("doc_id"), col("keep_quality"), col("keep_neardup"),
                col("keep_vec"), col("keep"), col("stage"),
                (col("batch_id").cast("int") + 1).as("batch"))
      val batchForm = graft.streaming.StreamShapes
        .curationLedgerChain(spark, sf0001, banded = true)
      assert(streamed.count() == batchForm.count())
      assert(streamed.exceptAll(batchForm).count() == 0 &&
             batchForm.exceptAll(streamed).count() == 0,
             "streamed curation ledger diverges from the batch form")
      assert(q.lastProgress.stateOperators.isEmpty ||
             q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()
  }

  test("streaming curation: kill + restart — only all-stage keepers become index segments") {
    import java.nio.file.Files
    import spark.implicits._
    val landing = Files.createTempDirectory("st20r-landing").toString
    val tmp = Files.createTempDirectory("st20r-state").toString
    // quality-passing template: 150 words, low repetition, has stopword
    def good(tag: String) = (1 to 25)
      .map(i => s"the alpha$tag$i beta$tag$i gamma$tag$i delta$tag$i epsilon$tag$i")
      .mkString(" ")
    val base = good("c")
    val novel = good("n")
    val loremy = good("l") + " lorem ipsum" // near-dup-able but quality-dropped
    val seedDir = s"$tmp/seed"
    graft.analytics.MinHashBandIndex.buildFrom(
      spark, seedDir, Seq((1L, base)).toDF("doc_id", "text"))
    // vectors: 100 = benchmark direction (label 0); 60 = contaminated
    // (near-parallel, label 1); every other doc has NO vector (keep 1)
    val emb = Seq(
      (100L, Seq(1f, 0f, 0f, 0f), 0),
      (60L, Seq(0.99f, 0.05f, 0f, 0f), 1)
    ).toDF("vec_id", "embedding", "label")
    def land(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(landing)
    land(Seq((10L, base + " again"),   // neardup of seed corpus → drop
             (20L, novel),             // keeper → becomes a segment
             (50L, loremy)))           // quality drop → must NOT ingest
    val schema = spark.read.parquet(landing).schema
    def start() = EventStreams.curationStream(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(landing),
      seedDir, emb, s"$tmp/bands", s"$tmp/shingles", s"$tmp/out", s"$tmp/ckpt")
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    land(Seq((30L, novel + " addendum"), // neardup of pre-restart keeper 20
             (70L, good("l")),           // neardup of 50's text — but 50
                                         // was never ingested → keep
             (60L, good("d")),           // contaminated vector → decon
             (40L, good("f"))))          // fresh keeper
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val out = spark.read.parquet(s"$tmp/out")
      .select("doc_id", "keep", "stage").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getString(2)))).toMap
    assert(out.size == 7, s"one ledger row per doc: $out")
    assert(out(10L) == ((0, "neardup")), s"$out")
    assert(out(20L) == ((1, "kept")), s"$out")
    assert(out(50L) == ((0, "quality")), s"$out")
    assert(out(30L) == ((0, "neardup")),
      s"segment from before the restart must gate batch 2: $out")
    assert(out(70L) == ((1, "kept")),
      s"a quality-dropped doc must never have been ingested as state: $out")
    assert(out(60L) == ((0, "decon")), s"$out")
    assert(out(40L) == ((1, "kept")), s"$out")
  }

  /** Poll `cond` for up to 30 s — Spark and streaming listener events
    * are delivered asynchronously. */
  private def awaitTrue(what: String)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!cond && System.nanoTime() < deadline) Thread.sleep(50)
    assert(cond, s"timed out waiting for: $what")
  }

  test("streaming near-dup gates: each micro-batch read once, seed listed once per query") {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val seed = graft.analytics.MinHashBandIndex.ensure(spark, sf0001)
    // the seed must cross Spark's parallel-discovery threshold, or a
    // per-batch relisting would run on the driver and go unseen here
    val kpDirs = new java.io.File(s"$seed/bands").listFiles()
      .count(_.getName.startsWith("kp="))
    assert(kpDirs > spark.conf
      .get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt,
      s"seed has only $kpDirs kp dirs")
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val arr = graft.analytics.MinHashBandIndex.arrivalsOf(
        spark.read.parquet(s"$sf0001/documents.parquet"))
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val slices = (0 until 3).map(i => arr.filter(_._1 % 3 == i))
    assert(slices.forall(_.nonEmpty))
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(jobs.add)
    }
    // run a tagged job and wait until the listener has seen it: every
    // job started before it has then been delivered too
    def drain(): Unit = {
      val tag = s"drain-${System.nanoTime()}"
      sc.setJobDescription(tag)
      try spark.range(1).count() finally sc.setJobDescription(null)
      awaitTrue(s"job $tag delivered")(jobs.contains(tag))
    }
    sc.addSparkListener(listener)
    try Seq("gate", "curation").foreach { kind =>
      val tmp = Files.createTempDirectory(s"readonce-$kind").toString
      val landing = s"$tmp/landing"
      def land(i: Int): Unit = slices(i).toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(landing)
      land(0)
      val src = spark.readStream
        .schema(spark.read.parquet(landing).schema)
        .option("maxFilesPerTrigger", "1").parquet(landing)
      val q =
        if (kind == "gate")
          EventStreams.neardupIngestGate(src, seed, s"$tmp/bands",
            s"$tmp/shingles", s"$tmp/out", s"$tmp/ckpt")
        else
          EventStreams.curationStream(src, seed, emb, s"$tmp/bands",
            s"$tmp/shingles", s"$tmp/out", s"$tmp/ckpt")
      try {
        q.processAllAvailable()
        drain(); jobs.clear()
        land(1); q.processAllAvailable()
        land(2); q.processAllAvailable()
        drain()
        val relisted = jobs.asScala.filter(_.startsWith("Listing leaf files"))
        val inputRows = q.recentProgress
          .filter(_.durationMs.containsKey("addBatch")).map(_.numInputRows).toSeq
        val problems = Seq(
          Option.when(relisted.nonEmpty)(
            s"file listing re-run after the first batch: $relisted"),
          Option.when(inputRows != slices.map(_.size.toLong))(
            s"numInputRows $inputRows for landed ${slices.map(_.size)}")
        ).flatten
        assert(problems.isEmpty, s"$kind: ${problems.mkString("; ")}")
      } finally q.stop()
    } finally sc.removeSparkListener(listener)
  }

  test("streaming curation: fixed per-batch work — SQL executions and jobs per batch, " +
       "no isEmpty or collect action") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import org.apache.spark.sql.util.QueryExecutionListener
    implicit val sqlCtx = spark.sqlContext
    val sc = spark.sparkContext
    val seed = graft.analytics.MinHashBandIndex.ensure(spark, sf0001)
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val arr = graft.analytics.MinHashBandIndex.arrivalsOf(
        spark.read.parquet(s"$sf0001/documents.parquet"))
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val slices = (0 until 3).map(i => arr.filter(_._1 % 3 == i))
    // SQL executions and jobs per batch id of the query, and the name
    // of every action the query's session runs
    val perBatch = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    val tags = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val batchOf = """(?s).*\bbatch = (\d+).*""".r
    def batch(desc: String): Option[Long] = Option(desc).collect {
      case batchOf(b) => b.toLong
    }
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
        desc.foreach(tags.add)
        desc.flatMap(batch).foreach(b => perBatch.add(("job", b)))
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          batch(s.description).foreach(b => perBatch.add(("sql", b)))
        case _ => ()
      }
    }
    val named = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = actions.add(f)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = actions.add(f)
    }
    // a tagged RDD job (no SQL action) delivered means every event
    // before it was too
    def drain(): Unit = {
      val tag = s"drain-${System.nanoTime()}"
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      awaitTrue(s"job $tag delivered")(tags.contains(tag))
    }
    val tmp = java.nio.file.Files.createTempDirectory("st20-fixed").toString
    val mem = MemoryStream[(Long, String)]
    sc.addSparkListener(listener)
    // registered before the start: the query's session inherits it
    spark.listenerManager.register(named)
    val q = EventStreams.curationStream(
      mem.toDF().toDF("doc_id", "text"), seed, emb,
      s"$tmp/bands", s"$tmp/shingles", s"$tmp/out", s"$tmp/ckpt")
    try {
      mem.addData(slices(0): _*); q.processAllAvailable()
      drain(); actions.clear()
      slices.drop(1).foreach { s => mem.addData(s: _*); q.processAllAvailable() }
      drain()
    } finally {
      q.stop()
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(named)
    }
    // every timed batch (after the warm-up batch 0) accepts docs, so it
    // runs all three segment writes
    val kept = spark.read.parquet(s"$tmp/out").filter($"keep" === 1)
      .groupBy("batch_id").count().as[(Long, Long)].collect().toMap
    assert((1L to 2L).forall(b => kept.getOrElse(b, 0L) > 0), s"keepers: $kept")
    val counts = perBatch.asScala.toSeq.groupBy(identity).map { case (k, v) => k -> v.size }
    (1L to 2L).foreach { b =>
      val sql = counts.getOrElse(("sql", b), 0)
      val jobs = counts.getOrElse(("job", b), 0)
      // the micro-batch, two checkpoints (batch with its signatures,
      // decisions) and three writes (ledger, bands and shingles
      // segments); the side results ride the checkpoints
      assert(sql == 6, s"batch $b: $sql SQL executions")
      assert(jobs <= 25, s"batch $b: $jobs jobs")
    }
    val side = actions.asScala.toSeq.filter(Set("isEmpty", "collect", "head",
      "take", "first", "count", "tail", "collectAsList", "toLocalIterator"))
    assert(side.isEmpty, s"side actions ran: $side (all actions: $actions)")
    assert(actions.asScala.count(_ == "localCheckpoint") == 2 * 2, s"$actions")
  }

  test("streaming curation: stop() releases the persisted static side and every batch's blocks") {
    implicit val sqlCtx = spark.sqlContext
    val sc = spark.sparkContext
    val seed = graft.analytics.MinHashBandIndex.ensure(spark, sf0001)
    // a plan no other test caches, so the query owns its persist
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(col("vec_id") >= 0L)
    val none = org.apache.spark.storage.StorageLevel.NONE
    assert(emb.storageLevel == none)
    val arr = graft.analytics.MinHashBandIndex.arrivalsOf(
        spark.read.parquet(s"$sf0001/documents.parquet"))
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val tmp = java.nio.file.Files.createTempDirectory("st20-release").toString
    val before = sc.getPersistentRDDs.keySet
    val mem = MemoryStream[(Long, String)]
    val q = EventStreams.curationStream(
      mem.toDF().toDF("doc_id", "text"), seed, emb,
      s"$tmp/bands", s"$tmp/shingles", s"$tmp/out", s"$tmp/ckpt")
    try {
      arr.grouped(arr.size / 2 + 1).foreach { b =>
        mem.addData(b: _*)
        q.processAllAvailable()
      }
      assert(emb.storageLevel != none, "the running query pins its static side")
    } finally q.stop()
    awaitTrue("static side released") {
      emb.storageLevel == none &&
        (sc.getPersistentRDDs.keySet -- before).isEmpty
    }
  }

  test("st23: batch watermark-drop accounting equals the streaming engine's drops") {
    implicit val sqlCtx = spark.sqlContext
    // replay the entry's exact arrival schedule (batch = event_id
    // parity) through the real engine: tumblingCounts carries the same
    // 5-minute windows + 10-minute watermark the accounting models
    val ev = graft.queries.QueryDef.table(spark, sf0001, "events")
      .select("event_id", "ts", "event_type", "value")
      .as[(Long, Timestamp, String, Double)].collect()
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val events = mem.toDF().toDF("event_id", "ts", "event_type", "value")
    // UPDATE mode, deliberately: complete mode retains all state and
    // never drops late rows — the watermark only evicts/filters in
    // update/append. The sink then holds every per-batch update; the
    // final count per key is the max (counts are cumulative).
    val q = EventStreams.tumblingCounts(events).writeStream
      .queryName("st23_twin").outputMode("update").format("memory").start()
    try {
      mem.addData(ev.filter(_._1 % 2 == 0).toSeq: _*)
      q.processAllAvailable()
      mem.addData(ev.filter(_._1 % 2 == 1).toSeq: _*)
      q.processAllAvailable()
      val streamedDrops = q.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
      val acct = SparkEntry.queries("st23_watermark_drops")(spark, sf0001)
        .localCheckpoint(true)
      val acctDrops = acct.agg(sum("n_dropped")).head().getLong(0)
      assert(streamedDrops == acctDrops,
             s"streamed $streamedDrops vs accounted $acctDrops")
      // per-window surviving counts: the engine's final state, summed
      // over event types, must equal the accounting's n_counted rows
      val streamedCounts = spark.table("st23_twin")
        .groupBy("w_start", "event_type").agg(max("n_events").as("n"))
        .groupBy("w_start").agg(sum("n").as("n_counted"))
      val acctCounts = acct
        .filter(col("n_counted") > 0) // fully-dropped windows never open
        .select("w_start", "n_counted")
      assert(streamedCounts.exceptAll(acctCounts).isEmpty &&
             acctCounts.exceptAll(streamedCounts).isEmpty,
             "per-window counted rows diverge from the engine")
      // the fixture must actually exercise drops, or the pin is vacuous
      assert(acctDrops > 0, "sf0.001 schedule produced no late drops")
    } finally q.stop()
  }

  test("streaming takedown: per-epoch serves equal the batch form") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.analytics.IvfIndex
    val tmp = java.nio.file.Files.createTempDirectory("st21_").toString
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val centroids = IvfIndex.fit(emb, IvfIndex.DefaultLists)
    IvfIndex.assign(emb, centroids)
      .write.mode("overwrite").partitionBy("list")
      .parquet(s"$tmp/idx/assignments")
    val cs = centroids.zipWithIndex.map { case (c, i) => (i, c) }
    def slice(res: Long): Seq[Long] =
      emb.filter(col("vec_id") % 23 === res)
        .select("vec_id").as[Long].collect().toSeq
    val mem = MemoryStream[Long]
    val q = EventStreams.takedownStream(
      mem.toDF().toDF("vec_id"), s"$tmp/idx", cs, queryId = 0L, k = 10,
      s"$tmp/out", s"$tmp/ckpt")
    try {
      mem.addData(slice(1L): _*)
      q.processAllAvailable()
      mem.addData(slice(7L): _*)
      q.processAllAvailable()
      val streamed = spark.read.parquet(s"$tmp/out")
        .select((col("batch_id").cast("int") + 1).as("epoch"),
                col("vec_id"), col("cos_sim"))
      // the per-epoch serve probes EVERY list (nProbe = centroids.size
      // in takedownStream) ⇒ exact regardless of the learned centroids,
      // so the reference is brute-force top-k over the live rows of
      // each epoch (the batch entry now serves at the production
      // nProbe and emits audit scalars — no row form to pin against)
      def expected(ep: Int) = {
        val excl = Seq(1L, 7L).take(ep)
        graft.analytics.Similarity.bruteForceTopK(
          emb.filter(excl.map(r => col("vec_id") % 23 =!= r)
                       .reduce(_ && _) || col("vec_id") === 0L),
          queryId = 0L, k = 10)
          .select(lit(ep).as("epoch"), col("vec_id"), col("cos_sim"))
      }
      val batchForm = expected(1).unionByName(expected(2))
      assert(streamed.count() == batchForm.count())
      assert(streamed.exceptAll(batchForm).count() == 0 &&
             batchForm.exceptAll(streamed).count() == 0,
             "streamed takedown serves diverge from the exact per-epoch reference")
      // stateless: every bit of state is the tombstone side segment
      assert(q.lastProgress.stateOperators.isEmpty ||
             q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()
  }

  test("streaming takedown: kill + restart — tombstones persist, replay applies as a no-op") {
    import spark.implicits._
    import graft.analytics.IvfIndex
    import java.nio.file.Files
    val landing = Files.createTempDirectory("st21r-landing").toString
    val tmp = Files.createTempDirectory("st21r-state").toString
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val centroids = IvfIndex.fit(emb, IvfIndex.DefaultLists)
    IvfIndex.assign(emb, centroids)
      .write.mode("overwrite").partitionBy("list")
      .parquet(s"$tmp/idx/assignments")
    val cs = centroids.zipWithIndex.map { case (c, i) => (i, c) }
    def slice(res: Long): Seq[Long] =
      emb.filter(col("vec_id") % 23 === res)
        .select("vec_id").as[Long].collect().toSeq
    def land(ids: Seq[Long]): Unit =
      ids.toDF("vec_id").coalesce(1).write.mode("append").parquet(landing)
    land(slice(1L))
    val schema = spark.read.parquet(landing).schema
    def start() = EventStreams.takedownStream(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(landing),
      s"$tmp/idx", cs, queryId = 0L, k = 10, s"$tmp/out", s"$tmp/ckpt")
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // while the query is down, more delete requests arrive
    land(slice(7L))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    // the final serve excludes BOTH slices: pre-restart tombstones
    // survived the restart
    val served = graft.analytics.Similarity.ivfProbe(
        IvfIndex.liveAssignments(spark, s"$tmp/idx"), cs,
        queryId = 0L, k = 10, nProbe = IvfIndex.DefaultLists)
      .select("vec_id").as[Long].collect().toSet
    val deleted = (slice(1L) ++ slice(7L)).toSet
    assert(served.intersect(deleted).isEmpty,
           s"deleted ids served: ${served.intersect(deleted)}")
    // no double-application: one tombstone row per deleted id, one log
    // row per distinct batch — a replayed batch must have been skipped
    val tombs = IvfIndex.readTombstones(spark, s"$tmp/idx")
      .select("vec_id").as[Long].collect().toSeq
    assert(tombs.length == deleted.size && tombs.toSet == deleted,
           s"tombstone rows ${tombs.length} vs deleted ${deleted.size}")
    assert(spark.read.parquet(s"$tmp/idx/tombstone_log").count() == 2)
  }
}
