package graft

import org.apache.spark.sql.functions._

import graft.operators.SkewJoin
import graft.queries.QueryDef
import graft.sinks.BucketedStore

/** Scale-path operators: salted skew join correctness, bucketed
  * co-located joins (no Exchange in plan), and the driver-contract
  * flagship smoke. */
class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  test("salted join returns exactly the rows of the plain join") {
    // skewed facts: 90% of rows share one key
    val facts = ((1 to 900).map(i => (1L, i.toLong)) ++
                 (1 to 100).map(i => (i.toLong % 7 + 2, i.toLong)))
      .toDF("k", "payload")
    val dims = (1L to 10L).map(k => (k, s"dim$k")).toDF("k", "name")

    val plain = facts.join(dims, Seq("k")).select("k", "payload", "name")
    val salted = SkewJoin.saltedJoin(facts, dims, "k", col("payload"), 8)
      .select("k", "payload", "name")
    assert(plain.count() == salted.count())
    assert(plain.except(salted).count() == 0 && salted.except(plain).count() == 0)
  }

  test("events read seam always yields a plain TIMESTAMP ts") {
    // the driver's events.parquet has shipped as TIMESTAMP(NANOS), then
    // as µs isAdjustedToUTC=0 (→ TIMESTAMP_NTZ in Spark 4); every
    // event-time operator (unix_micros, watermarks, windows) requires
    // TimestampType, so pin the seam's output type — a future writer
    // drift must fail HERE, not deep inside an operator
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val events = QueryDef.eventsTable(spark, sf0001)
    assert(events.schema("ts").dataType == TimestampType,
           s"seam leaked ${events.schema("ts").dataType}")
    // and the normalizer handles each encoding it claims to
    val ntz = events.withColumn("ts", col("ts").cast(TimestampNTZType))
    assert(QueryDef.normalizeEventTs(ntz).schema("ts").dataType == TimestampType)
    val asLong = events.withColumn("ts", expr("unix_micros(ts) * 1000L"))
    val backFromNanos = QueryDef.normalizeEventTs(asLong)
    assert(backFromNanos.schema("ts").dataType == TimestampType)
    assert(backFromNanos.exceptAll(events).count() == 0)
  }

  private val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  test("events read seam leaves the caller's session conf as it was") {
    GraftSession.withConfs(spark, nanosAsLong -> "false") {
      val events = QueryDef.eventsTable(spark, sf0001)
      assert(events.count() > 0)
      assert(spark.conf.get(nanosAsLong) == "false",
        "reading events changed the session's nanos-as-long conf")
    }
  }

  test("events read seam reads a TIMESTAMP(NANOS) file as µs") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    import org.apache.spark.sql.types.TimestampType
    val dir = java.nio.file.Files.createTempDirectory("events-nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
      "required int64 ts (TIMESTAMP(NANOS,true)); }")
    // 1.5 µs and 1 s + 999 ns: the sub-µs part is dropped
    val nanos = Seq(1L -> 1500L, 2L -> 1000000999L)
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).build()
    try {
      val rows = new SimpleGroupFactory(schema)
      nanos.foreach { case (id, ns) =>
        writer.write(rows.newGroup().append("event_id", id).append("ts", ns))
      }
    } finally writer.close()
    GraftSession.withConfs(spark, nanosAsLong -> "false") {
      val events = QueryDef.eventsTable(spark, dir)
      assert(events.schema("ts").dataType == TimestampType)
      val micros = events.select($"event_id", expr("unix_micros(ts)"))
        .as[(Long, Long)].collect().toMap
      assert(micros == Map(1L -> 1L, 2L -> 1000000L), s"$micros")
      assert(spark.conf.get(nanosAsLong) == "false")
    }
  }

  test("bucketed tables join without a shuffle exchange") {
    GraftSession.withConfs(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val o = QueryDef.table(spark, sf0001, "orders")
      val l = QueryDef.table(spark, sf0001, "lineitem")
      BucketedStore.writeBucketed(
        o.select("o_orderkey", "o_totalprice"), "orders_b", "o_orderkey", 4)
      BucketedStore.writeBucketed(
        l.select(col("l_orderkey").as("o_orderkey"), col("l_quantity")),
        "lineitem_b", "o_orderkey", 4)
      val joined = BucketedStore.read(spark, "orders_b")
        .join(BucketedStore.read(spark, "lineitem_b"), Seq("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected shuffle-free plan:\n$plan")
      assert(joined.count() == l.count())
    }
  }

  test("bucketed documents layout halves the dedup verify-join shuffles") {
    // the dd/ss pipelines repeatedly join candidate pair frames back to
    // the corpus on doc_id; with `documents` persisted bucketed on
    // doc_id the corpus side of every such join is pre-shuffled — only
    // the (much smaller) candidate side exchanges
    GraftSession.withConfs(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") { // stable plan text
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
        .select("doc_id", "text")
      BucketedStore.writeBucketed(docs, "docs_dedup_b", "doc_id", 4)
      val bucketed = BucketedStore.read(spark, "docs_dedup_b")
      val cand = (0L to 50L).map(i => (i, i + 1)).toDF("doc_id", "peer_id")
      val joined = cand.join(bucketed, Seq("doc_id"))
      val plan = joined.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges == 1, // candidate side only; corpus side reuses buckets
             s"expected 1 exchange (probe side only):\n$plan")
      val expected = docs.filter(col("doc_id").between(0L, 50L)).count()
      assert(joined.count() == expected && expected > 0)
    }
  }

  test("as-of join: latest-at-or-before semantics, ties, tolerance, no-match drop") {
    import java.sql.Timestamp
    def ts(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val left = Seq(
      (1L, ts(10), 100L),  // clicks at 5 and 10 → tie at 10 matches (inclusive)
      (1L, ts(30), 101L),  // latest click 10, within 30 min → matches
      (1L, ts(45), 102L),  // latest click 10, 35 min back → outside tolerance
      (2L, ts(20), 103L)   // user 2 has no clicks → dropped
    ).toDF("user_id", "ts", "purchase_id")
    val right = Seq(
      (1L, ts(5), 7L),
      (1L, ts(10), 8L),
      (1L, ts(10), 9L)     // same (key, ts): max click_id 9 wins
    ).toDF("user_id", "click_ts", "click_id")
    val out = graft.operators.AsOfJoin.asofJoin(
        left, right, "user_id", "ts", "click_ts", "click_id",
        Seq("click_id", "click_ts"), Some("INTERVAL 30 minutes"))
      .select("purchase_id", "click_id").as[(Long, Long)].collect().toSet
    assert(out == Set((100L, 9L), (101L, 9L)))
  }

  test("as-of join equals a naive per-row reference on seeded random data") {
    import java.sql.Timestamp
    val rnd = new scala.util.Random(42)
    def ts(min: Int) = Timestamp.valueOf(f"2024-01-01 ${10 + min / 60}%02d:${min % 60}%02d:00")
    val lefts = (0 until 120).map(i =>
      (rnd.nextInt(8).toLong, ts(rnd.nextInt(300)), 1000L + i))
    val rights = (0 until 150).map(i =>
      (rnd.nextInt(8).toLong, ts(rnd.nextInt(300)), 2000L + i))
    val tolMs = 45 * 60000L

    val expected = lefts.flatMap { case (u, lts, lid) =>
      val cands = rights.filter { case (ru, rts, _) =>
        ru == u && !rts.after(lts) && rts.getTime >= lts.getTime - tolMs }
      if (cands.isEmpty) None
      else {
        val best = cands.maxBy { case (_, rts, rid) => (rts.getTime, rid) }
        Some((lid, best._3))
      }
    }.toSet

    val out = graft.operators.AsOfJoin.asofJoin(
        lefts.toDF("user_id", "ts", "purchase_id"),
        rights.toDF("user_id", "click_ts", "click_id"),
        "user_id", "ts", "click_ts", "click_id",
        Seq("click_id", "click_ts"), Some("INTERVAL 45 minutes"))
      .select("purchase_id", "click_id").as[(Long, Long)].collect().toSet
    assert(out == expected)
  }

  test("range join equals a brute-force theta join, boundaries half-open") {
    import java.sql.Timestamp
    val rnd = new scala.util.Random(7)
    def ts(sec: Long) = new Timestamp(1704067200000L + sec * 1000)
    // dense seeded data + hand-placed boundary rows: right rows exactly
    // AT lt+lo (must match: inclusive), exactly AT lt+hi (must NOT:
    // exclusive), and straddling bucket edges
    val lefts = (0 until 80).map(i =>
      (rnd.nextInt(5).toLong, ts(rnd.nextInt(7200).toLong), 100L + i)) ++
      Seq((9L, ts(3600), 900L))
    val rights = (0 until 120).map(i =>
      (rnd.nextInt(5).toLong, ts(rnd.nextInt(7200).toLong), 200L + i)) ++
      Seq((9L, ts(3600 - 600), 901L), // == lt+lo → in
          (9L, ts(3600), 902L),       // == lt+hi → out
          (9L, ts(3600 - 601), 903L)) // just before lo → out
    val (loUs, hiUs) = (-600000000L, 0L) // lookback 10 min
    val expected = lefts.flatMap { case (k, lts, lid) =>
      rights.collect { case (rk, rts, rid)
        if rk == k && rts.getTime * 1000 >= lts.getTime * 1000 + loUs &&
           rts.getTime * 1000 < lts.getTime * 1000 + hiUs => (lid, rid) }
    }.toSet
    val out = graft.operators.RangeJoin.rangeJoin(
        lefts.toDF("k", "ts", "lid"),
        rights.toDF("k", "rts", "rid"),
        "k", "ts", "rts", loUs, hiUs, Seq("rid"))
      .select("lid", "rid").as[(Long, Long)].collect()
    assert(out.length == out.toSet.size, "pair emitted twice")
    assert(out.toSet == expected)
    assert(expected.contains((900L, 901L)) && !expected.exists(_._2 == 902L))
  }

  test("token chunking covers every token with the declared overlap") {
    // tx06 contract: chunks start at 0,40,80,…; each holds ≤50 tokens;
    // their union covers all n tokens exactly
    val docs = Seq(1, 9, 10, 11, 49, 50, 51, 89, 90, 91, 130, 200).zipWithIndex
      .map { case (n, i) => (i.toLong, (1 to n).map(t => s"tok$t").mkString(" ")) }
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("chunk").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("tx06_chunk_tokens")(spark, dir)
      .select("doc_id", "chunk_idx", "n_chunk_tokens")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val byDoc = out.groupBy(_._1)
    Seq(1, 9, 10, 11, 49, 50, 51, 89, 90, 91, 130, 200).zipWithIndex.foreach {
      case (n, i) =>
        val chunks = byDoc(i.toLong).sortBy(_._2)
        val expectedChunks = math.max(1, math.ceil((n - 10) / 40.0).toInt)
        assert(chunks.length == expectedChunks, s"n=$n")
        // coverage: last chunk ends at token n; others are full 50s
        chunks.dropRight(1).foreach(c => assert(c._3 == 50L, s"n=$n chunk ${c._2}"))
        val last = chunks.last
        assert(last._2 * 40L + last._3 == n.toLong, s"n=$n last-chunk coverage")
    }
  }

  test("text/frame operators survive empty and whitespace-only documents") {
    val dir = java.nio.file.Files.createTempDirectory("emptydoc").toString
    Seq((0L, "", "en", "src0", 0L),
        (1L, "   ", "en", "src1", 3L),
        (2L, "three real tokens", "en", "src2", 17L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // tx07: bigram expansion must not crash on 0-token docs
    assert(SparkEntry.queries("tx07_top_ngrams")(spark, dir).count() == 2)
    // tx06: 0-token docs still emit exactly one (empty) chunk
    val chunks = SparkEntry.queries("tx06_chunk_tokens")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(chunks == Map(0L -> 0L, 1L -> 0L, 2L -> 3L))
    // mm03: empty payloads emit one empty frame, never frame_idx = -1
    val frames = SparkEntry.queries("mm03_frame_sample")(spark, dir)
      .select("media_id", "frame_idx").collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(frames.forall(_._2 >= 0) && frames.count(_._1 == 0L) == 1)
  }

  test("flagship entry returns rows (driver t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("dm10x: hot grams never generate candidates but still count in the jaccard") {
    import graft.analytics.DataMix
    // ids whose split the audit itself will assign: one 'val' doc (in
    // dm10x's deterministic eval slice, doc_id % 8 = 1) and one 'train'
    // doc, plus fillers (any split — they must vanish)
    val ids = spark.range(10000)
      .select(col("id"), DataMix.hashFraction(col("id")).as("hf")).collect()
    val evalId = ids.find(r => r.getDouble(1) < DataMix.SplitValFrac &&
                               r.getLong(0) % 8 == 1).get.getLong(0)
    val trainId = ids.find(_.getDouble(1) >= DataMix.SplitTestCut).get.getLong(0)
    val nFiller = DataMix.LeakGramCap.toInt + 100
    // fillers are IDENTICAL docs made of one gram that the census must
    // flag hot; the near-dup pair shares that hot gram plus 20 rare ones
    val hotText = "hp1 hp2"
    val pairText = hotText + " " + (1 to 20).map(i => s"r$i").mkString(" ")
    val fillers = spark.range(10000, 10000L + nFiller)
      .select(col("id").as("doc_id"), lit(hotText).as("text"))
    val pair = Seq((evalId, pairText), (trainId, pairText))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("dm10-guard").toString
    fillers.unionByName(pair).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("dm10x_split_leakage_exact")(spark, dir)
      .collect()
    // exactly ONE leak row: the planted pair at jaccard 1.0 — the hot
    // gram is counted in the intersection (21/21), while the hundreds
    // of identical all-hot filler pairs (true jaccard 1.0, every shared
    // gram above the cap) are the audit's documented recall trade and
    // must NOT appear
    assert(out.length == 1, out.mkString("; "))
    assert(out.head.getLong(0) == evalId && out.head.getString(1) == "val" &&
           out.head.getLong(2) == trainId, out.head.toString)
    assert(out.head.getDouble(3) == 1.0, out.head.toString)
  }

  test("dm12: bounded-candidate group sample equals the naive full-window top-m") {
    // one group far above the 4m candidate cutoff (the prefilter must
    // actually drop rows) and one sub-m group (its cutoff exceeds
    // 65535: every row survives, and the sample is all n_g rows)
    val big = spark.range(0, 2000)
      .select(col("id").as("doc_id"), lit("big").as("source"))
    val tiny = spark.range(100000, 100005)
      .select(col("id").as("doc_id"), lit("tiny").as("source"))
    val dir = java.nio.file.Files.createTempDirectory("dm12").toString
    big.unionByName(tiny).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("dm12_group_sample")(spark, dir)
      .as[(String, Int, Long)].collect().toVector
    // naive reference: full per-group sort by (md5 hex, doc_id), take m
    def hx(id: Long): String = java.security.MessageDigest
      .getInstance("MD5").digest(s"$id:gs".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def naive(ids: Seq[Long], src: String) =
      ids.map(i => (hx(i), i)).sorted.take(8).zipWithIndex
        .map { case ((_, i), k) => (src, k + 1, i) }
    val want = (naive(0L until 2000L, "big") ++
                naive(100000L until 100005L, "tiny")).toVector
    assert(got == want, s"got ${got.take(3)}... want ${want.take(3)}...")
    // the sub-m group keeps every row (its cutoff clears 65535)
    assert(got.count(_._1 == "tiny") == 5)
    assert(got.count(_._1 == "big") == 8)
  }

  test("scd01: SCD2 invariants — one open row per key, abutting intervals on change") {
    val rows = SparkEntry.queries("scd01_dimension_history")(spark, sf0001)
      .as[(Long, String, Int, Int, Boolean)].collect().toVector
    val byKey = rows.groupBy(_._1)
    byKey.foreach { case (k, vs) =>
      // exactly one current row, and it is the one open at 9999
      assert(vs.count(_._5) == 1, s"key $k: ${vs.size} current rows")
      assert(vs.filter(_._5).forall(_._4 == 9999), s"key $k")
      // intervals never overlap and changed keys abut exactly (0,1),(1,9999)
      val iv = vs.map(v => (v._3, v._4)).sorted
      iv.sliding(2).foreach {
        case Seq((_, t1), (f2, _)) => assert(t1 == f2, s"key $k gap: $iv")
        case _ =>
      }
    }
    // new arrivals (k%17=5) exist, have exactly one row, opened at batch 1
    val arrivals = byKey.filter(_._1 % 17 == 5)
    assert(arrivals.nonEmpty)
    arrivals.foreach { case (k, vs) =>
      assert(vs.size == 1 && vs.head._3 == 1, s"arrival $k: $vs")
    }
    // changed keys carry history: old segment closed, NEW- segment open
    val changed = byKey.filter { case (k, _) => k % 10 == 3 && k % 17 != 5 }
    assert(changed.nonEmpty)
    changed.foreach { case (k, vs) =>
      assert(vs.size == 2, s"changed $k: $vs")
      val cur = vs.find(_._5).get
      assert(cur._2.startsWith("NEW-") && !vs.find(!_._5).get._2.startsWith("NEW-"))
    }
  }

  test("scd01 streaming twin: CDC feed folds into the SCD2 history across batches") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("scdtwin").toString
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = graft.streaming.EventStreams.scdApply(
      mem.toDF().toDF("k", "seg"), s"$tmp/state", s"$tmp/ckpt")
    try {
      mem.addData((1L, "A"), (2L, "B"))          // batch 0: two inserts
      q.processAllAvailable()
      mem.addData((1L, "A2"), (2L, "B"), (3L, "C")) // change, no-op, insert
      q.processAllAvailable()
      val hist = spark.read.parquet(s"$tmp/state/state_1")
        .as[(Long, String, Int, Int, Boolean)].collect().toSet
      assert(hist == Set(
        (1L, "A", 0, 1, false), (1L, "A2", 1, 9999, true),
        (2L, "B", 0, 9999, true),                 // no-op keeps valid_from
        (3L, "C", 1, 9999, true)), hist.toString)
      // the per-batch snapshot is pure state_{b-1} + batch: state_0
      // holds exactly the two opens — replaying batch 1 regenerates
      // state_1 verbatim from it
      val s0 = spark.read.parquet(s"$tmp/state/state_0")
        .as[(Long, String, Int, Int, Boolean)].collect().toSet
      assert(s0 == Set((1L, "A", 0, 9999, true), (2L, "B", 0, 9999, true)))
      assert(q.lastProgress.stateOperators.isEmpty ||
             q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()
  }
}
