package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.analytics.GraphOps

/** gr01 — join-based iterative PageRank with scaled-integer
  * determinism. The reference truth is an independent in-memory
  * implementation of the same definition, straight from the formula. */
class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  private val S = 1000000000L

  /** Naive local PageRank with the entry's exact integer semantics. */
  private def localPr(edges: Set[(String, String)],
                      iters: Int): Map[String, Long] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2))
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var r = nodes.map(_ -> S).toMap
    for (_ <- 1 to iters) {
      val in = edges.toSeq
        .map { case (u, v) => v -> (85L * (r(u) / deg(u))) / 100L }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      r = nodes.map(n => n -> (S * 15L / 100L + in.getOrElse(n, 0L))).toMap
    }
    r
  }

  test("gr01: engine ranks equal the naive integer PageRank on a planted graph") {
    // a hub (everything points at 'z' via bigrams) plus a 3-cycle —
    // distinct ranks, deterministic ties broken by token
    val docs = Seq(
      "a z", "b z", "c z", "d z",   // four sources feed the hub
      "a b", "b c", "c a",          // the cycle
      "z q"                         // hub has an out-edge (outdeg 1)
    ).zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s0", 3L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("gr01").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("gr01_token_pagerank")(spark, dir)
      .as[(String, Long)].collect().toVector
    val edges = Set("a" -> "z", "b" -> "z", "c" -> "z", "d" -> "z",
                    "a" -> "b", "b" -> "c", "c" -> "a", "z" -> "q")
    val want = localPr(edges, 3).toVector
      .sortBy { case (tk, pr) => (-pr, tk) }.take(20)
    assert(got == want, s"got $got want $want")
    // ranks genuinely differentiate (not all teleport floor) and the
    // floor-only node sits last: the ORDER is meaningful
    assert(got.head._2 > got.last._2)
    assert(got.last._1 == "d" && got.last._2 == S * 15L / 100L,
      "d has no in-edges: teleport floor only")
  }

  test("gr01: rank mass is conserved up to the dropped dangling/floor remainder") {
    // total emitted mass can only shrink (floor division + dangling
    // drop), never grow — the invariant that catches a double-counted
    // contribution join
    val df = SparkEntry.queries("gr01_token_pagerank")(spark, sf0001)
    val top = df.agg(max("pr"), count(lit(1))).head()
    val nodes = graft.analytics.GraphOps.all.head // registry sanity
    assert(nodes.name == "gr01_token_pagerank")
    assert(top.getLong(1) == 20L)
    // every rank ≥ the teleport floor and far below total-mass bound
    val prs = df.select("pr").as[Long].collect()
    assert(prs.forall(_ >= S * 15L / 100L))
  }

  test("gr02: census matches hand-counted triangles on K4 plus a pendant") {
    // text "a b c d a c" in one doc plus "b d" and "d e" gives the
    // undirected edges of K4 {a,b,c,d} (6 edges) + pendant d—e:
    // K4 has exactly 4 triangles; wedge count under degree
    // orientation = Σ_v C(outdeg_o(v), 2)
    val docs = Seq("a b c d a c", "b d", "d e").zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "s0", 5L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("gr02").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val row = SparkEntry.queries("gr02_triangle_count")(spark, dir).head()
    assert(row.getLong(0) == 7L, s"edges: $row")      // 6 K4 + d—e
    // true path-2 wedges: a,b,c have deg 3 (C(3,2)=3 each), d has
    // deg 4 (C(4,2)=6), e deg 1 → 3·3 + 6 = 15
    assert(row.getLong(1) == 15L, s"wedges: $row")
    assert(row.getLong(2) == 4L, s"triangles: $row")  // K4's 4
    // gcc = 3·4/15 in ppm = 800000, integer-division-exact
    assert(row.getLong(3) == 800000L, row.toString)
  }

  test("gr02: a star has max wedges, zero triangles — and zero oriented join volume") {
    // a star (hub ↔ 20 leaves): 190 true wedges (C(20,2) at the hub),
    // no triangles. Under degree orientation every edge points
    // leaf→hub (leaf degree 1 < 20), so NO vertex has two
    // out-neighbors: the triangle join enumerates ZERO pairs where
    // the naive neighbor-pair join would enumerate all 190 — the
    // skew-immunity that makes the plan survive hub tokens at 100 TB
    val docs = (0 until 20).map(i => (i.toLong, s"leaf$i hub", "en", "s0", 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("gr02s").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val row = SparkEntry.queries("gr02_triangle_count")(spark, dir).head()
    assert(row.getLong(0) == 20L && row.getLong(1) == 190L &&
           row.getLong(2) == 0L && row.getLong(3) == 0L, row.toString)
  }

  test("gr03: peel strips the tendrils and keeps the K5 core") {
    // K5 on {a,b,c,d,e} (degree 4 each — exactly at the k=4 bar) plus
    // a chain f—g—h hanging off a: the chain and a's degree boost
    // vanish within two peels, K5 survives every round
    val k5 = for {
      x <- Seq("a", "b", "c", "d", "e")
      y <- Seq("a", "b", "c", "d", "e") if x < y
    } yield s"$x $y"
    val docs = (k5 ++ Seq("a f", "f g", "g h")).zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "s0", 3L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("gr03").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("gr03_kcore_peel")(spark, dir)
      .as[(Int, Long, Long, Long)].collect().toVector
    // round 0: 8 nodes, 13 edges; a has degree 5, f/g 2, h 1 →
    // candidates = K5's five plus a... a IS in K5; f,g,h below bar
    assert(rows(0) == ((0, 8L, 13L, 5L)), rows.toString)
    // peel 1 drops f,g,h (degree < 4): K5 + a—f edge goes with f
    assert(rows(1) == ((1, 5L, 10L, 5L)), rows.toString)
    // fixpoint: rounds 2 and 3 identical — the 4-core is K5
    assert(rows(2) == ((2, 5L, 10L, 5L)) && rows(3) == ((3, 5L, 10L, 5L)),
           rows.toString)
  }

  test("peelSummary: an RDD-backed edge frame is evaluated once, not once per round") {
    // the gr03 graph (K5 plus the tendril f—g—h off a) as a < b edges
    val k5 = for {
      x <- Seq("a", "b", "c", "d", "e")
      y <- Seq("a", "b", "c", "d", "e") if x < y
    } yield (x, y)
    val edges = k5 ++ Seq(("a", "f"), ("f", "g"), ("g", "h"))
    val census = GraphOps.degreeCensus(edges.toDF("a", "b"))
      .localCheckpoint(true)
    // a LogicalRDD whose RDD is not checkpointed: every read re-runs
    // the source's map
    val reads = spark.sparkContext.longAccumulator("peel-source-reads")
    val rdd = spark.sparkContext.parallelize(edges, 2)
      .map { case (a, b) => reads.add(1); Row(a, b) }
    val fromRdd = spark.createDataFrame(rdd,
      StructType.fromDDL("a STRING, b STRING"))
    val got = GraphOps.peelSummary(fromRdd, census, 4)
      .as[(Int, Long, Long, Long)].collect().toSet
    assert(reads.sum == edges.size,
      s"source evaluated ${reads.sum.toDouble / edges.size}x, want 1x")
    // st27's inputs: an eagerly checkpointed frame is a LogicalRDD over
    // a checkpointed RDD, the one shape that skips the defensive copy
    val checkpointed = edges.toDF("a", "b").localCheckpoint(true)
    assert(checkpointed.queryExecution.analyzed match {
      case r: LogicalRDD => r.rdd.isCheckpointed
      case _ => false
    })
    val want = GraphOps.peelSummary(checkpointed, census, 4)
      .as[(Int, Long, Long, Long)].collect().toSet
    assert(want == Set((0, 8L, 13L, 5L), (1, 5L, 10L, 5L), (2, 5L, 10L, 5L)),
      want.toString)
    assert(got == want, s"$got vs $want")
  }

  test("st27 streaming twin: row-equal to the batch entry; a replayed batch is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("st27_").toString
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = graft.streaming.EventStreams.incrementalKCore(
      mem.toDF().toDF("doc_id", "text"),
      s"$tmp/state", s"$tmp/store", s"$tmp/out", s"$tmp/ckpt")
    try {
      mem.addData(docs.filter(_._1 % 2 == 0).toSeq)
      q.processAllAvailable()
      mem.addData(docs.filter(_._1 % 2 == 1).toSeq)
      q.processAllAvailable()
      def outRows = spark.read.parquet(s"$tmp/out")
        .select((col("batch_id") + 1).cast("int").as("epoch"),
                col("round"), col("n_nodes"), col("n_edges"),
                col("n_core_candidates"))
        .as[(Int, Int, Long, Long, Long)].collect().toSet
      val streamed = outRows
      val batch = SparkEntry.queries("st27_incremental_kcore")(spark, sf0001)
        .select("epoch", "round", "n_nodes", "n_edges",
                "n_core_candidates")
        .as[(Int, Int, Long, Long, Long)].collect().toSet
      assert(streamed == batch && batch.nonEmpty, s"$streamed vs $batch")
      // the streaming plan carries no state-store state — every
      // cross-batch byte is in the versioned census files
      assert(q.lastProgress.stateOperators.isEmpty ||
             q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
      // REPLAY batch 1 directly (the crash-recovery path): identical
      // inputs must rewrite identical state + publish and must not
      // grow the store (the delta partition is overwritten, the census
      // re-derives from state_0 — nothing double-counts)
      def stateRows = spark.read.parquet(s"$tmp/state/state_1")
        .as[(String, Long)].collect().toSet
      def storeCount = spark.read.parquet(s"$tmp/store").count()
      val (st1, n1, out1) = (stateRows, storeCount, outRows)
      graft.streaming.EventStreams.applyKCoreBatch(spark,
        docs.filter(_._1 % 2 == 1).toSeq.toDF("doc_id", "text"),
        batchId = 1L, s"$tmp/state", s"$tmp/store", s"$tmp/out", k = 4)
      assert(stateRows == st1, "replay changed the census state")
      assert(storeCount == n1, "replay grew the edge store")
      assert(outRows == out1, "replay changed the publish")
    } finally q.stop()
  }
}
