package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.types.{LongType, StructType}

import graft.analytics.Materialize

/** Structured Streaming surface over the `events` stream
  * (`event_id, ts, user_id, event_type, value, props`) — the streaming
  * extension the reference lacks (SURVEY.md §2.4 "absent"; its ingest is
  * a bounded batch loop, `harvard_artifacts_app.py:118`).
  *
  * Each transform takes any DataFrame (batch or streaming): the same
  * declarative plan runs `spark.read` for backfill and
  * `spark.readStream` for the live path — one codebase, two execution
  * modes. Watermarks bound state so a 1000-executor cluster can run
  * these indefinitely.
  */
object EventStreams {

  /** Tumbling-window counts/sums per event type, 10-minute watermark for
    * late data. */
  def tumblingCounts(events: DataFrame, windowLen: String = "5 minutes"): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
              col("n_events"), col("sum_value"))

  /** Sliding-window event rate (10-minute windows every 5 minutes). */
  def slidingRate(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("w_start"), col("n_events"))

  /** Session windows per user: a session extends while successive events
    * arrive within `gap` of each other. */
  def userSessions(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("s_start"), col("n_events"))

  /** Stream-stream inner join: click → purchase attribution per user
    * within `within`. Both sides carry watermarks and the join has a
    * two-sided time-range condition, so state for both streams is
    * evictable — the canonical bounded-state stream-stream join shape.
    * Works identically on batch inputs (same logical plan). */
  def clickPurchaseJoin(events: DataFrame, within: String = "30 minutes"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
              col("event_id").as("click_id"))
      .withWatermark("click_ts", "10 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
              col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", "10 minutes")
    clicks.join(purchases,
        col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $within"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
              col("click_ts"), col("purchase_ts"), col("value"))
  }

  /** Exactly-once-per-key within the watermark horizon — the streaming
    * INSERT-IGNORE (reference K2). */
  def dedupedEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-side CONTENT dedup: drop records whose canonical text
    * fingerprint (md5 of lowercased, whitespace-collapsed `textCol` —
    * same key as the batch exact-dedup dd01) was already seen within
    * the watermark horizon. State is one fingerprint per distinct
    * document in the horizon — bounded, unlike an all-time exact dedup. */
  def dedupedByContent(stream: DataFrame, textCol: String,
                       tsCol: String = "ts"): DataFrame =
    dedupedByFingerprint(stream, textCol,
      graft.analytics.TextAnalysis.fingerprint, tsCol)

  /** Order-insensitive content fingerprint: md5 over the SORTED distinct
    * lowercased tokens. Robust to token reordering and repetition — the
    * SQL-expressible sibling of the simhash fingerprint (simhash is also
    * a pure function of the token multiset), so the batch form of the
    * near-dup dedup gets a cross-engine oracle. */
  def bagOfWordsFingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(
      filter(split(lower(trim(text)), "\\s+"), t => length(t) > 0)))))

  /** Stream-side NEAR-dup dedup: drop records whose fingerprint under
    * `fp` was already seen within the watermark horizon. Two built-in
    * fingerprints: [[bagOfWordsFingerprint]] (order/repetition
    * insensitive, oracle-checkable) and the 64-bit simhash of
    * [[dedupedBySimhash]] (also tolerates token-frequency noise that
    * leaves bit votes unchanged). State is one fingerprint per distinct
    * doc in the horizon — bounded. */
  def dedupedByFingerprint(stream: DataFrame, textCol: String,
                           fp: Column => Column,
                           tsCol: String = "ts"): DataFrame =
    stream
      .withColumn("__fp", fp(col(textCol)))
      .withWatermark(tsCol, "10 minutes")
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Streaming ingest gate against a STANDING corpus: drop any arriving
    * document whose canonical content fingerprint already exists in the
    * static corpus frame — the stream side of the per-batch incremental
    * dedup (id01's exact tier). A stream-static LEFT ANTI join is
    * STATELESS in Structured Streaming (append mode, no watermark, no
    * state store): each micro-batch probes the corpus side, which at
    * 100 TB is a broadcast of fingerprints-only or a bucketed static
    * table — the corpus is never shuffled per batch. Works identically
    * in batch mode (the oracle-checked form). */
  def ingestGate(newDocs: DataFrame, corpus: DataFrame,
                 textCol: String = "text"): DataFrame = {
    val fp = graft.analytics.TextAnalysis.fingerprint(col(textCol))
    val corpusFps = corpus.select(fp.as("__fp")).distinct()
    newDocs.withColumn("__fp", fp)
      .join(corpusFps, Seq("__fp"), "left_anti")
      .drop("__fp")
  }

  /** The micro-batch protocol every `foreachBatch` stream below runs
    * on: `step(batch, batchId)` per micro-batch, in Append mode, inside
    * a [[Materialize.scoped]] that drops whatever the batch materialized
    * (a no-op for steps that materialize nothing).
    *
    * The replay rule. The checkpoint commits a micro-batch only after
    * its step returns, so a crash replays the batch with the same id and
    * input. Every stream keeps four invariants that make that replay
    * rewrite, never duplicate or drift:
    *  - a batch's deltas go through [[land]], which overwrites the
    *    batch's own `batch_id` partition;
    *  - batch b reads earlier batches' deltas only (`batch_id < b`,
    *    [[landedBefore]]), or its own partition only after [[land]]
    *    rewrote it;
    *  - versioned state `state_b` is computed from `state_{b-1}` and the
    *    batch alone ([[priorState]] then [[commitState]]);
    *  - a zero-row batch is a valid batch: it lands no rows, and every
    *    read of a delta dir carries the landed frame's schema
    *    ([[readDelta]]), so no read depends on data having arrived. */
  private def perBatch(stream: DataFrame, checkpointDir: String)
                      (step: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Materialize.scoped(step(batch, batchId))
      }
      .start()

  /** `df` as micro-batch `batchId`'s delta in `dir`: the one
    * `batch_id`-partitioned, dynamic-overwrite write. */
  private def land(df: DataFrame, batchId: Long, dir: String): Unit =
    df.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(dir)

  /** Every delta [[land]]ed in `dir`, read with `schema` (the landed
    * frame's, or a projection of it) plus `batch_id`. Never infers: a
    * dir not created yet, or holding only `_SUCCESS` after zero-row
    * batches, reads as no rows. */
  private def readDelta(spark: SparkSession, dir: String,
                        schema: StructType): DataFrame = {
    val withId = schema.add("batch_id", LongType)
    if (graft.analytics.OfflineArtifact.exists(spark, dir))
      spark.read.schema(withId).parquet(dir)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], withId)
  }

  /** The deltas batches before `batchId` landed in `dir`. */
  private def landedBefore(spark: SparkSession, dir: String,
                           schema: StructType, batchId: Long): DataFrame =
    readDelta(spark, dir, schema).filter(col("batch_id") < batchId)
      .drop("batch_id")

  /** `state_{b-1}` in `stateDir`, read with `cold`'s schema — or `cold`
    * when that version does not exist (batch 0, or a retention horizon
    * pruned it). Only a MISSING path is a cold start: a transient FS
    * error or corrupt parquet fails the query, so it restarts and
    * replays against intact state instead of silently resetting the
    * cumulative summary (MG counts, histogram, HLL table, SCD2 history)
    * and making every later publish wrong. */
  private def priorState(stateDir: String, b: Long)(cold: DataFrame): DataFrame = {
    val spark = cold.sparkSession
    val dir = s"$stateDir/state_${b - 1}"
    if (graft.analytics.OfflineArtifact.exists(spark, dir))
      spark.read.schema(cold.schema).parquet(dir)
    else cold
  }

  /** `df` written as `state_b`, returned read back from the files. */
  private def commitState(df: DataFrame, stateDir: String, b: Long): DataFrame = {
    val dir = s"$stateDir/state_$b"
    df.write.mode("overwrite").parquet(dir)
    df.sparkSession.read.schema(df.schema).parquet(dir)
  }

  /** The docs a batch's gate decisions in `outDir` accepted, read back
    * from the sink (already materialized: the gate plan is not re-run). */
  private def acceptedIn(spark: SparkSession, outDir: String,
                         decisions: DataFrame, batchId: Long): DataFrame =
    readDelta(spark, outDir, decisions.schema)
      .filter(col("batch_id") === batchId && col("keep") === 1)
      .select("doc_id")

  /** Streaming INCREMENTAL near-dup gate (st11): per micro-batch, gate
    * arriving docs against the gram store with
    * [[graft.analytics.DataQuality.gramGate]], then land the ACCEPTED
    * docs' grams in the store — so a doc arriving in batch N+1 is gated
    * against everything accepted through batch N. The streaming plan
    * itself is STATELESS (no state store, no watermark): the growing
    * state lives in the gram-store table, exactly where a 1000-executor
    * pipeline wants it (broadcastable probe side, survives restarts for
    * free). The store holds one delta per batch and the gate reads only
    * earlier ones, so a replayed batch never rejects its own docs
    * against grams its first run landed — the [[perBatch]] replay rule. */
  def incrementalGramGate(stream: DataFrame, storeDir: String,
                          outDir: String, checkpointDir: String,
                          threshold: Double = 0.5): StreamingQuery =
    perBatch(stream, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      val grams = graft.analytics.DataQuality.gramKeys(batch)
      val decisions = graft.analytics.DataQuality.gramGate(batch,
        landedBefore(spark, storeDir, grams.select("g").schema, batchId),
        threshold)
      land(decisions, batchId, outDir)
      land(grams.join(acceptedIn(spark, outDir, decisions, batchId),
                      Seq("doc_id"), "left_semi").select("g"),
           batchId, storeDir)
    }

  /** STREAMING bloom ingest gate: [[incrementalGramGate]]'s containment
    * semantics with the standing state collapsed from a growing gram
    * TABLE (re-scanned per batch) to a FIXED-SIZE bloom filter chain —
    * the id02 design run continuously. Batch b gates against
    * `filter_{b-1}` (batch 0 against `seedFilterPath`, the corpus
    * filter from [[graft.analytics.BloomGramIndex.ensure]] — or an
    * [[graft.analytics.BloomGramIndex.emptyFilter]] when starting cold)
    * and writes `filter_b` = previous ∪ accepted grams. Per-batch cost
    * is batch-sized regardless of how much was ever ingested; the only
    * growing artifact is the decision log.
    *
    * Replay: the [[perBatch]] rule, with `filter_b` a deterministic
    * function of (filter_{b-1}, batch) — a replayed batch rewrites
    * identical filter bytes. Versioned filter files keep
    * [[graft.functions.BloomFilterCache]] sound: a path's content
    * never changes after creation.
    *
    * Error is one-sided per batch (bloom-keep ⊆ exact-keep against the
    * same inserted gram set); across batches the chains can diverge
    * only where an earlier batch's accepted sets already differed —
    * the st14x anchor pins both stages on the batch form. */
  def bloomIngestGate(stream: DataFrame, seedFilterPath: String,
                      filterDir: String, outDir: String,
                      checkpointDir: String, threshold: Double = 0.5)
      : StreamingQuery =
    perBatch(stream, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      val prevPath =
        if (batchId == 0) seedFilterPath
        else s"$filterDir/filter_${batchId - 1}.bf"
      val decisions = graft.analytics.DataQuality
        .bloomGate(spark, batch, prevPath, threshold)
      land(decisions, batchId, outDir)
      graft.analytics.BloomGramIndex.merged(spark, prevPath,
        graft.analytics.DataQuality.gramKeys(batch)
          .join(acceptedIn(spark, outDir, decisions, batchId),
                Seq("doc_id"), "left_semi").select("g"),
        s"$filterDir/filter_$batchId.bf")
      // retention AFTER the new version is durable: superseded
      // snapshots past the replay horizon go (each filter is the
      // cumulative gram union, so membership is never lost — see
      // BloomGramIndex.pruneChain for the soundness rule)
      graft.analytics.BloomGramIndex.pruneChain(filterDir)
      ()
    }

  /** STREAMING familiarity routing: arriving docs scored per
    * micro-batch under a PERSISTED corpus familiarity model
    * ([[graft.analytics.DataQuality.familiarityModel]] written to
    * `modelDir/dict.parquet` + `modelDir/cuts.parquet` — the
    * once-per-epoch artifact) and routed head/middle/tail/short
    * ([[graft.analytics.DataQuality.familiarityRouteFromModel]]).
    * Stateless: the model is epoch-static, the batch's bigrams
    * broadcast onto the dictionary scan, no state store exists;
    * decisions land per batch under the [[perBatch]] replay rule. */
  def familiarityRouter(stream: DataFrame, modelDir: String,
                        outDir: String, checkpointDir: String)
      : StreamingQuery =
    perBatch(stream, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      land(graft.analytics.DataQuality.familiarityRouteFromModel(batch,
             spark.read.parquet(s"$modelDir/dict.parquet"),
             spark.read.parquet(s"$modelDir/cuts.parquet")),
           batchId, outDir)
    }

  /** STREAMING ANN serving: arriving query vectors answered per
    * micro-batch against a STATIC corpus via the deterministic int8
    * batch plan ([[graft.analytics.Similarity.int8BatchTopK]]). The
    * streaming plan is stateless — the corpus is a static parquet table
    * the (small) query batch broadcasts onto, so nothing is re-shuffled
    * per batch and no state store exists; results land per batch under
    * the [[perBatch]] replay rule. */
  def annServe(queries: DataFrame, corpusDir: String, outDir: String,
               checkpointDir: String, k: Int = 10,
               codesDir: Option[String] = None)
      : StreamingQuery =
    perBatch(queries, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      // with a persisted Int8Index the per-batch plan scans 1-byte
      // codes and quantizes only the (tiny) query batch; without one
      // it derives the corpus codes in-plan — same answers either
      // way (deterministic quantization, pinned in DedupSpec).
      // The indexed path serves the LIVE view, so a takedown
      // ([[graft.analytics.Int8Index.deleteIds]]) takes effect at
      // the next micro-batch; with no tombstones the anti-join is
      // against an empty frame (free).
      val result = codesDir match {
        case Some(dir) =>
          graft.analytics.Similarity.int8BatchServe(
            graft.analytics.Int8Index.liveCodes(spark, dir), batch, k)
        case None =>
          graft.analytics.Similarity.int8BatchTopK(
            spark.read.parquet(corpusDir), batch, k)
      }
      land(result, batchId, outDir)
    }

  /** STREAMING temperature mixture (dm05): per micro-batch, refresh the
    * α = 1/2 keep-rates from the RUNNING language counts (update counts
    * with the batch, then gate the batch), so the mixture self-corrects
    * as the observed language distribution drifts. Architecture mirrors
    * [[incrementalGramGate]]: the streaming plan is stateless, the
    * running state is a tiny per-batch-delta parquet table
    * (`countsDir`), and each batch writes its per-language census
    * (n_running, rate, n_sampled) to `outDir` — both under the
    * [[perBatch]] replay rule. The counts table is
    * language-cardinality-sized — reading and re-aggregating it per
    * batch is O(languages × batches), trivial at any corpus scale. */
  def temperatureMixture(stream: DataFrame, countsDir: String,
                         outDir: String, checkpointDir: String)
      : StreamingQuery =
    perBatch(stream, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      val counts = batch.groupBy("lang").agg(count(lit(1)).as("n_batch"))
      land(counts, batchId, countsDir)
      val running = readDelta(spark, countsDir, counts.schema)
        .groupBy("lang").agg(sum("n_batch").cast("double").as("n_docs"))
      val rates = graft.analytics.DataMix.temperatureRates(running)
      val sampled = batch.join(broadcast(rates), Seq("lang"))
        .filter(graft.analytics.DataMix.hashFraction(col("doc_id"))
                  < col("rate"))
        .groupBy("lang").agg(count(lit(1)).as("n_sampled"))
      land(rates.join(broadcast(sampled), Seq("lang"), "left")
             .select(col("lang"), col("n_docs").cast("long").as("n_running"),
                     round(col("rate"), 6).as("rate"),
                     coalesce(col("n_sampled"), lit(0L)).as("n_sampled")),
           batchId, outDir)
    }

  /** STREAMING source-reputation routing (st16's continuous form):
    * each micro-batch's per-source (n, n_keep) quality evidence lands
    * as a batch-id-partitioned delta in `countsDir`, the RUNNING
    * per-source reputation is re-aggregated from the deltas
    * (source-cardinality-sized — O(sources × batches) to read, trivial
    * at any corpus scale), and the batch's docs are gated by the
    * reputation THROUGH that batch. Decisions land partitioned by
    * batch_id the same way; replay: the [[perBatch]] rule. */
  def reputationRouter(stream: DataFrame, countsDir: String,
                       outDir: String, checkpointDir: String)
      : StreamingQuery =
    perBatch(stream, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      val flags = graft.analytics.DataQuality.qualityFlags(batch)
        .select("doc_id", "source", "keep")
      val evidence = flags.groupBy("source")
        .agg(count(lit(1)).as("n_batch"), sum("keep").as("n_keep_batch"))
      land(evidence, batchId, countsDir)
      val srcs = readDelta(spark, countsDir, evidence.schema)
        .groupBy("source")
        .agg(sum("n_batch").as("n_seen"), sum("n_keep_batch").as("n_keep"))
        .select(col("source"), col("n_seen"),
                round(col("n_keep") * lit(1.0) / col("n_seen"), 6)
                  .as("keep_rate"),
                (col("n_keep") * lit(1.0) / col("n_seen") >=
                  graft.analytics.DataQuality.SourceKeepRateMin)
                  .cast("int").as("source_ok"))
      // no broadcast hint: the running reputation store is
      // source-cardinality state that grows over the stream's
      // lifetime (source = crawl domain); AQE decides per batch
      land(flags.join(srcs, Seq("source"))
             .select(col("doc_id"), col("source"), col("keep").as("keep_doc"),
                     col("n_seen"), col("keep_rate"), col("source_ok"),
                     (col("keep") * col("source_ok")).cast("int")
                       .as("keep_final")),
           batchId, outDir)
    }

  /** STREAMING sequence packing (st17's continuous form): arriving
    * docs extend each shard's RUNNING token total and take sequence
    * ids continuing from where earlier batches left off. State is two
    * delta tables under the [[perBatch]] replay rule: per-shard token
    * totals in `countsDir` (one long per shard per batch) and the
    * decision log itself in `outDir`, which doubles as the source of
    * per-(shard, seq) doc counts so `pos_in_seq` continues across
    * batches too. Per-batch cost is batch-sized + a
    * shard-cardinality-sized read — nothing ever re-packs. */
  def packStream(stream: DataFrame, countsDir: String, outDir: String,
                 checkpointDir: String)
      : StreamingQuery =
    perBatch(stream, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      val W = org.apache.spark.sql.expressions.Window
      val toks = batch
        .select(col("doc_id"),
                graft.analytics.TextAnalysis.tokenCount(col("text"))
                  .cast("long").as("n_tokens"))
        .withColumn("shard", (col("doc_id") / lit(1000)).cast("long"))
      // this batch's shard totals land, then only EARLIER batches are
      // read back as the base offsets
      val totals = toks.groupBy("shard").agg(sum("n_tokens").as("n_batch"))
      land(totals, batchId, countsDir)
      val base = landedBefore(spark, countsDir, totals.schema, batchId)
        .groupBy("shard").agg(sum("n_batch").as("base"))
      val wIn = W.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
      val wPos = W.partitionBy("shard", "seq_id").orderBy("doc_id")
      // no broadcast hints on the state joins: per-shard offsets
      // are corpus/1000 rows and the (shard, seq_id) history grows
      // without bound over the stream's lifetime — AQE decides
      val seqs = toks
        .withColumn("cum_in", coalesce(sum("n_tokens").over(wIn), lit(0L)))
        .join(base, Seq("shard"), "left")
        .withColumn("cum_before", col("cum_in") + coalesce(col("base"), lit(0L)))
        .withColumn("seq_id",
          (col("cum_before") / lit(graft.analytics.DataMix.PackBudget))
            .cast("long"))
      // the decision log doubles as per-(shard, seq) doc counts
      val nPrev = landedBefore(spark, outDir,
          seqs.select("shard", "seq_id").schema, batchId)
        .groupBy("shard", "seq_id")
        .agg(count(lit(1)).as("n_prev"))
      land(seqs.join(nPrev, Seq("shard", "seq_id"), "left")
             .withColumn("pos_in_seq",
               (coalesce(col("n_prev"), lit(0L)) +
                row_number().over(wPos)).cast("int"))
             .select(col("doc_id"), col("n_tokens"), col("shard"),
                     col("seq_id"), col("pos_in_seq")),
           batchId, outDir)
    }

  /** STREAMING semantic decontamination (st18's continuous form):
    * arriving vectors are gated per micro-batch against a STATIC
    * benchmark frame with dc03's banded-LSH prefilter + exact-cosine
    * refine ([[graft.analytics.DataQuality.DeconIndex]]).
    * Completely STATELESS — no running store, no delta reads: the
    * benchmark band-bucket map is built and MATERIALIZED once, before
    * the stream starts (r12 rebuilt it inside every micro-batch — one
    * redundant simhash → explode → groupBy → map_from_entries →
    * broadcast job chain per batch, the structural cause of st18's
    * 2.7× regression), so every micro-batch pays only its own map-side
    * scoring plus a cached one-row re-broadcast (the st10/st11
    * stream-static discipline; at 100 TB the bench bucket map
    * broadcasts once per executor and the corpus only ever flows
    * map-side). Decisions land per batch under the [[perBatch]] replay
    * rule. `bench` carries (bench_id, embedding); the stream (vec_id,
    * embedding).
    *
    * `deconConfig` is the banding config (bands, rows); the DEFAULT
    * None is AUTO — the index applies the measured §D crossover
    * boundary to the bench size: 12×4 (the recall-anchor shape, 9.5e-5
    * miss bound at s = 0.9) below ~10⁴ bench rows where its ~54 %
    * candidate rate costs nothing, the 8×7 selectivity config (12.7×
    * over exact, 99.96 % strong recall on clustered data — served and
    * audited by dc05) above it, where 12×4's unpruned candidate set is
    * an order-of-magnitude tax. Pass a config to pin it. */
  def deconGate(stream: DataFrame, bench: DataFrame, outDir: String,
                checkpointDir: String,
                deconConfig: Option[(Int, Int)] = None)
      : StreamingQuery = {
    // same session-registration guard as curationStream: bench-derived
    // frames resolve the natives against the driving session
    graft.functions.Natives.register(stream.sparkSession)
    // each one-row map frame is materialized once, in a scope the query
    // owns — micro-batch plans re-broadcast a cached row instead of
    // re-running the bench aggregation
    val owned = new Materialize.Scope
    val index = Materialize.within(owned)(graft.analytics.DataQuality
      .DeconIndex(bench, deconConfig, once = true))
    val q = perBatch(stream, checkpointDir) { (batch, batchId) =>
      // empty micro-batch = no-op (nothing to gate)
      if (!batch.isEmpty) {
        val drops = index.drops(batch.select("vec_id", "embedding"))
        land(batch.select("vec_id").join(drops, Seq("vec_id"), "left")
               .select(col("vec_id"),
                       coalesce(col("n_cand"), lit(0L)).as("n_cand"),
                       col("max_cand_sim").isNull.cast("int").as("keep")),
             batchId, outDir)
      }
    }
    onTermination(q, owned)
  }

  /** STREAMING near-dup ingest gate (st19's continuous form): each
    * micro-batch of arriving docs is gated against the persisted SEED
    * MinHash band index ∪ the accepted-doc segments of all EARLIER
    * batches; its accepted docs land as a new segment, its verdicts in
    * `outDir`. The seed is opened once per query start (a restarted
    * query picks up a rewritten seed), tombstones are re-read every
    * batch — see [[nearDupStream]]. */
  def neardupIngestGate(stream: DataFrame, seedDir: String,
                        bandsDeltaDir: String, shinglesDeltaDir: String,
                        outDir: String, checkpointDir: String)
      : StreamingQuery =
    nearDupStream(stream, seedDir, bandsDeltaDir, shinglesDeltaDir, outDir,
                  checkpointDir)((_, nd) => nd)

  /** STREAMING joint curation (st20's continuous form): each arriving
    * micro-batch of docs gets the full three-stage ledger — quality
    * rules, the [[neardupIngestGate]] step (same seed opened once per
    * query start, same tombstones re-read every batch, same delta
    * tables — see [[nearDupStream]]), semantic decon of the doc's
    * vector against the static benchmark — and only docs passing ALL
    * stages land a new index segment. Ledger rows (first-drop stage
    * attribution) land batch-id-partitioned in `outDir`. `emb` is the
    * static vector side (vec_id aligned with doc_id; label 0 =
    * benchmark): persisted unless the caller already has, and released
    * with the decon bucket map when the query terminates. */
  def curationStream(stream: DataFrame, seedDir: String, emb: DataFrame,
                     bandsDeltaDir: String, shinglesDeltaDir: String,
                     outDir: String, checkpointDir: String,
                     deconConfig: Option[(Int, Int)] = None)
      : StreamingQuery = {
    // deconConfig is the decon stage's (bands, rows); the DEFAULT None
    // is AUTO — the SAME default as deconGate and the batch twin
    // StreamShapes.curationLedgerChain, so the stream-equals-batch
    // contract holds at every bench size without explicit knobs
    // (ADVICE r14).
    // register the natives on the DRIVING session: frames built from
    // the static `emb` side resolve against it (not the micro-batch
    // clone), and clones inherit what is registered here before the
    // query starts
    graft.functions.Natives.register(stream.sparkSession)
    // the static side lives in a scope the query owns
    val owned = new Materialize.Scope
    val (embP, index) = Materialize.within(owned) {
      val embP = Materialize.shared(emb)
      // decon bucket map built + materialized ONCE before the stream
      // starts (same hoist as deconGate — r12 rebuilt it per batch)
      (embP, graft.analytics.DataQuality.DeconIndex(
        embP.filter(col("label") === 0)
          .select(col("vec_id").as("bench_id"), col("embedding")),
        deconConfig, once = true))
    }
    val q = nearDupStream(stream, seedDir, bandsDeltaDir, shinglesDeltaDir,
                          outDir, checkpointDir) { (batch, nd) =>
      StreamShapes.curationLedgerOf(batch, nd, embP, index.scored)
    }
    onTermination(q, owned)
  }

  /** The per-batch step of both near-dup gates.
    *  - Seed: `bands/` and `shingles/` are opened ONCE, at query start —
    *    their 64-`kp=`-dir listing is paid per query, not per batch. Its
    *    rewriters (MinHashBandIndex.mergeSegments / maintainSegments /
    *    purgeTombstones) run only while the stream is down, so a
    *    restarted query reads the rewritten seed.
    *  - Tombstones are re-read EVERY batch: a takedown (deleteDocs)
    *    masks the gate from the next batch on, as on the batch gate.
    *  - One read per batch: the micro-batch is materialized once with
    *    its shingles + band keys (MinHashBandIndex.withSignatures), then
    *    its decisions; every consumer reads those blocks, which the
    *    batch's scope drops when the batch ends.
    *  - No action of its own for a side result: the batch's row count
    *    and kp set and the accepted doc ids (≤ the batch) are observed
    *    on those two checkpoints ([[Materialize.onceObserving]]). The kp
    *    set prunes the bands probe, and the ids select the segment rows
    *    from the batch's signatures without a join.
    *  - State: `decide(batch, nd)` is what lands in `outDir` (doc_id,
    *    keep, …); its keep = 1 docs land as the batch's segment in the
    *    two delta tables, which later batches read ([[landedBefore]]). */
  private def nearDupStream(stream: DataFrame, seedDir: String,
                            bandsDeltaDir: String, shinglesDeltaDir: String,
                            outDir: String, checkpointDir: String)
                           (decide: (DataFrame, DataFrame) => DataFrame)
      : StreamingQuery = {
    val mh = graft.analytics.MinHashBandIndex
    val seedBands = stream.sparkSession.read.parquet(s"$seedDir/bands")
      .select("corpus_id", "band", "key", "kp")
    val seedSh = stream.sparkSession.read.parquet(s"$seedDir/shingles")
      .select("corpus_id", "sh")
    perBatch(stream, checkpointDir) { (landed, batchId) =>
      val spark = landed.sparkSession
      val (signed, seen) = Materialize.onceObserving(mh.withSignatures(spark, landed),
        count(lit(1)).as("n"), mh.keyPartsOf(col("keys")).as("kps"))
      // empty micro-batch = no-op (nothing to gate)
      if (seen("n") != 0L) {
        val batch = signed.drop("sh", "keys")
        val sigs = signed.select("doc_id", "sh", "keys")
        val bands = seedBands
          .join(graft.analytics.Tombstones.read(spark, seedDir, "corpus_id"),
                Seq("corpus_id"), "left_anti")
          .unionByName(landedBefore(spark, bandsDeltaDir, seedBands.schema, batchId))
        val shingles = seedSh.unionByName(
          landedBefore(spark, shinglesDeltaDir, seedSh.schema, batchId))
        // materialize the decisions BEFORE the segment writes mutate
        // the delta dirs their plan reads
        val (out, decided) = Materialize.onceObserving(decide(batch,
            mh.verdicts(batch, mh.scoredPairs(spark, bands, shingles, sigs,
              kps = Some(seen("kps").asInstanceOf[Seq[Int]])))),
          collect_set(when(col("keep") === 1, col("doc_id"))).as("accepted"))
        // the output and the two segment writes only read `out` and
        // `signed` blocks: independent, so they overlap
        val accepted = decided("accepted").asInstanceOf[Seq[Long]]
        val acc = sigs.filter(col("doc_id").isin(accepted: _*))
        graft.analytics.ParActions.run(
          Seq(() => land(out, batchId, outDir)) ++
            (if (accepted.isEmpty) Nil
             else Seq(() => land(mh.bandsOf(acc), batchId, bandsDeltaDir),
                      () => land(mh.shinglesOf(acc), batchId, shinglesDeltaDir))))
      }
    }
  }

  /** Close `owned` once when this run of `q` terminates, so what the
    * query pins does not outlive it: a self-removing listener matched
    * on the run id, re-checked after registration for a query already
    * dead. Events are asynchronous — it lands shortly after `stop()`. */
  private def onTermination(q: StreamingQuery, owned: Materialize.Scope)
      : StreamingQuery = {
    import StreamingQueryListener._
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val streams = q.sparkSession.streams
    lazy val listener: StreamingQueryListener = new StreamingQueryListener {
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit = ()
      def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (e.runId == q.runId) fire()
    }
    def fire(): Unit =
      if (fired.compareAndSet(false, true)) {
        streams.removeListener(listener)
        owned.close()
      }
    streams.addListener(listener)
    if (!q.isActive) fire()
    q
  }

  /** STREAMING takedown (st21's continuous form): each micro-batch of
    * delete requests (vec_id rows) is tombstoned into the serving
    * index via [[graft.analytics.IvfIndex.deleteIds]] — append-only
    * side segment, cost ∝ the batch, and replay-idempotent by batch
    * stamp, so a crash-replayed batch re-applies as a no-op — and the
    * post-batch top-k serve over [[graft.analytics.IvfIndex
    * .liveAssignments]] lands per batch under the [[perBatch]] replay
    * rule (batches are sequential, so the tombstone state at replay
    * equals the state at first execution). The index itself is
    * never rewritten on the hot path; [[graft.analytics.IvfIndex
    * .purgeTombstones]] is the offline maintenance step. */
  def takedownStream(stream: DataFrame, indexDir: String,
                     centroids: Seq[(Int, Array[Double])], queryId: Long,
                     k: Int, outDir: String, checkpointDir: String)
      : StreamingQuery =
    perBatch(stream, checkpointDir) { (batch, batchId) =>
      if (!batch.isEmpty) {
        val spark = batch.sparkSession
        graft.analytics.IvfIndex.deleteIds(
          spark, indexDir, batch.select("vec_id"))
        land(Materialize.once(graft.analytics.Similarity.ivfProbe(
               graft.analytics.IvfIndex.liveAssignments(spark, indexDir),
               centroids, queryId, k, nProbe = centroids.size)),
             batchId, outDir)
      }
    }

  /** [[dedupedByFingerprint]] keyed on the native 64-bit simhash — the
    * fuzzy sibling of [[dedupedByContent]]. */
  def dedupedBySimhash(stream: DataFrame, textCol: String,
                       tsCol: String = "ts"): DataFrame = {
    // same token pipeline as Dedup.tokenHashesExpr, in Column form
    dedupedByFingerprint(stream, textCol,
      t => graft.functions.Natives.call(stream.sparkSession, "simhash64",
        transform(filter(split(lower(t), "\\s+"), tk => length(tk) > 0),
                  tok => xxhash64(tok))),
      tsCol)
  }

  /** Stream-side FUZZY near-dup dedup: drop a document if a fingerprint
    * within Hamming distance `maxHamming` of its 64-bit simhash was
    * seen in the same prefix block within the state horizon.
    *
    * [[dedupedBySimhash]] catches only EXACT fingerprint collisions;
    * this variant compares against stored fingerprints with a real
    * Hamming check. Streams can't run the batch path's 8-chunk
    * pigeonhole blocking (a doc would need votes from 8 stateful groups
    * — not expressible as one stateful operator), so blocking is by the
    * top `prefixBits` fingerprint bits: near-dups agreeing on the
    * prefix are always caught, recall degrades gracefully for edits
    * that flip a prefix bit (tunable; prefixBits = 0 degenerates to
    * exact-recall single-group state — fine for modest streams).
    *
    * State per block = fingerprints seen within the horizon, evicted by
    * event-time timeout — bounded like every other stateful op here.
    * Emits (docId, ts, fp) of KEPT documents. */
  def dedupedBySimhashNear(docs: DataFrame, idCol: String, textCol: String,
                           tsCol: String = "ts", maxHamming: Int = 7,
                           prefixBits: Int = 12,
                           horizonMinutes: Int = 10)
      : Dataset[(Long, java.sql.Timestamp, Long)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val horizonMs = horizonMinutes * 60000L
    val fp = graft.functions.Natives.call(spark, "simhash64",
      transform(filter(split(lower(col(textCol)), "\\s+"), tk => length(tk) > 0),
                tok => xxhash64(tok)))
    docs
      .select(col(idCol).cast("long").as("__id"),
              col(tsCol).cast("timestamp").as("__ts"), fp.as("__fp"))
      .withWatermark("__ts", s"$horizonMinutes minutes")
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(r => if (prefixBits == 0) 0L else r._3 >>> (64 - prefixBits))
      .flatMapGroupsWithState[Seq[(Long, Long)], (Long, java.sql.Timestamp, Long)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (_, rows, state: GroupState[Seq[(Long, Long)]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // mutable buffer: per-row immutable appends would copy the
            // whole seen-set per kept doc (O(m²) on a hot block)
            val seen = scala.collection.mutable.ArrayBuffer
              .from(state.getOption.getOrElse(Seq.empty)) // (fp, tsMs)
            var maxTs = if (seen.isEmpty) 0L else seen.iterator.map(_._2).max
            val kept = rows.toSeq.sortBy(r => (r._2.getTime, r._1)).flatMap {
              case (id, ts, f) =>
                val isDup = seen.exists { case (sf, _) =>
                  java.lang.Long.bitCount(sf ^ f) <= maxHamming }
                maxTs = math.max(maxTs, ts.getTime)
                if (isDup) None
                else { seen += ((f, ts.getTime)); Some((id, ts, f)) }
            }
            // hot blocks never time out — prune horizon-expired
            // fingerprints inline so state stays bounded either way
            state.update(seen.filter(_._2 >= maxTs - horizonMs).toSeq)
            state.setTimeoutTimestamp(maxTs + horizonMs)
            kept.iterator
          }
      }
  }

  /** Stream-side MinHash-LSH banding: emits candidate near-dup PAIRS
    * (id_a < id_b) as documents arrive — the streaming front half of the
    * batch [[graft.analytics.Dedup.minhashPairs]] pipeline. Each doc
    * explodes to its `Bands` band keys; one stateful group per band
    * bucket holds the (docId, tsMs) seen within the horizon, and a new
    * arrival pairs with every doc already in its bucket. Exact-Jaccard
    * verification happens downstream on the emitted pairs (where both
    * texts can be fetched) — same split as the batch path, where the
    * band join generates and the verify filters.
    *
    * Pairs can repeat (two docs sharing several bands, or re-emission
    * across micro-batches is impossible — state remembers — but
    * cross-band duplicates are inherent); consumers dedupe with
    * `distinct`, exactly like the batch candidate stage does.
    *
    * Bounded state: event-time timeout + inline horizon pruning (the
    * [[dedupedBySimhashNear]] discipline), and a `maxBucket` census cap
    * — once a bucket holds `maxBucket` docs, later arrivals in that
    * bucket stop generating pairs (the batch path's hot-bucket trade,
    * applied online). */
  def lshBandCandidates(docs: DataFrame, idCol: String, textCol: String,
                        tsCol: String = "ts", shingleN: Int = 3,
                        horizonMinutes: Int = 10, maxBucket: Int = 500)
      : Dataset[(Long, Long)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val horizonMs = horizonMinutes * 60000L
    val sig = graft.functions.Natives.call(spark, "minhash_sig",
      graft.analytics.Dedup.shingleHashes(spark, col(textCol), shingleN))
    docs
      .select(col(idCol).cast("long").as("__id"),
              col(tsCol).cast("timestamp").as("__ts"),
              explode(graft.analytics.Dedup.bandKeys(sig)).as("__bk"))
      .withWatermark("__ts", s"$horizonMinutes minutes")
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._3)
      .flatMapGroupsWithState[Seq[(Long, Long)], (Long, Long)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (_, rows, state: GroupState[Seq[(Long, Long)]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val seen = scala.collection.mutable.ArrayBuffer
              .from(state.getOption.getOrElse(Seq.empty)) // (docId, tsMs)
            var maxTs = if (seen.isEmpty) 0L else seen.iterator.map(_._2).max
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
            rows.toSeq.sortBy(r => (r._2.getTime, r._1)).foreach {
              case (id, ts, _) =>
                maxTs = math.max(maxTs, ts.getTime)
                // prune to THIS arrival's horizon BEFORE the cap check
                // and pairing: expired entries must neither occupy cap
                // slots (a stale-full bucket would silently drop fresh
                // docs) nor produce pairs (the contract is in-horizon
                // pairs only)
                seen.filterInPlace(_._2 >= ts.getTime - horizonMs)
                if (seen.size < maxBucket && !seen.exists(_._1 == id)) {
                  seen.foreach { case (sid, _) =>
                    out += ((math.min(sid, id), math.max(sid, id)))
                  }
                  seen += ((id, ts.getTime))
                }
            }
            state.update(seen.toSeq)
            state.setTimeoutTimestamp(maxTs + horizonMs)
            out.iterator
          }
      }
  }

  /** One enriched row per event: its session start and 1-based position
    * within the session (a session extends while successive events are
    * within `gapMinutes`). The flatMapGroupsWithState escape hatch —
    * session ASSIGNMENT per event is something session_window (which
    * aggregates) can't emit. Event-time timeout evicts idle users'
    * state once the watermark passes their last session. */
  def sessionizedEvents(events: DataFrame, gapMinutes: Int = 30)
      : Dataset[(Long, Long, java.sql.Timestamp, java.sql.Timestamp, Long)] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60000L
    events
      .selectExpr("user_id", "event_id", "CAST(ts AS TIMESTAMP) AS ts")
      .withWatermark("ts", "10 minutes") // after the cast: the watermark
      // must tag the projected attribute, not one the cast replaces
      .as[(Long, Long, java.sql.Timestamp)] // user_id, event_id, ts
      .groupByKey(_._1)
      .flatMapGroupsWithState[
        (java.sql.Timestamp, java.sql.Timestamp, Long), // start, last, n
        (Long, Long, java.sql.Timestamp, java.sql.Timestamp, Long)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, rows,
              state: GroupState[(java.sql.Timestamp, java.sql.Timestamp, Long)]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var (start, last, n) = state.getOption.getOrElse(
              (new java.sql.Timestamp(0L), new java.sql.Timestamp(Long.MinValue / 2), 0L))
            val out = rows.toSeq.sortBy(e => (e._3.getTime, e._2)).map { e =>
              if (e._3.getTime - last.getTime > gapMs) { start = e._3; n = 0L }
              // max, not assignment: a late-but-in-watermark event must
              // not rewind `last` and fake a gap for its successors
              if (e._3.after(last)) last = e._3
              n += 1
              (userId, e._2, e._3, start, n)
            }
            state.update((start, last, n))
            state.setTimeoutTimestamp(last.getTime + gapMs)
            out.iterator
          }
      }
  }

  /** Per-user STREAMING funnel: view → click (within `windowDays` of
    * the first view) → purchase (within `windowDays` of the first
    * click), tracked as explicit per-user state and emitted as one
    * funnel-snapshot row per user per micro-batch (downstream keeps the
    * latest — the "live conversion dashboard" shape). In BATCH mode the
    * state starts empty and each user's whole history arrives as one
    * group, so the fold must reproduce the ev01 conditional-ordered-
    * aggregate SQL exactly — the same batch-oracle discipline as st08.
    *
    * The fold processes events in (ts, stage-rank, event_id) order;
    * ascending time makes "first qualifying in order" identical to
    * "min qualifying" and the stage rank (view < click < purchase)
    * resolves same-instant ties the way the SQL's >= window bounds do.
    * All window arithmetic is in exact MICROseconds (Timestamp.getTime
    * is millis — sub-ms components live in getNanos; truncating them
    * could flip a boundary comparison vs the oracle's µs INTERVAL
    * math). Stage timestamps update monotonically (first-set wins), so
    * cross-batch arrivals compose; an event later than the watermark
    * horizon is dropped upstream like every watermarked op here. State
    * is three timestamps per live user, evicted by event-time timeout
    * once a user has been idle past the funnel horizon. */
  def funnelProgress(events: DataFrame, windowDays: Int = 3)
      : Dataset[(Long, Option[java.sql.Timestamp], Option[java.sql.Timestamp],
                 Option[java.sql.Timestamp], Int)] = {
    val spark = events.sparkSession
    import spark.implicits._
    val winUs = windowDays * 86400L * 1000000L
    def micros(t: java.sql.Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
    def rank(t: String): Int =
      t match { case "view" => 0; case "click" => 1; case "purchase" => 2; case _ => 3 }
    events
      .selectExpr("user_id", "event_id", "event_type", "CAST(ts AS TIMESTAMP) AS ts")
      .withWatermark("ts", "10 minutes")
      .as[(Long, Long, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[
        (Option[java.sql.Timestamp], Option[java.sql.Timestamp],
         Option[java.sql.Timestamp]),
        (Long, Option[java.sql.Timestamp], Option[java.sql.Timestamp],
         Option[java.sql.Timestamp], Int)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, rows,
              state: GroupState[(Option[java.sql.Timestamp],
                Option[java.sql.Timestamp], Option[java.sql.Timestamp])]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var (fv, fc, fp) = state.getOption.getOrElse(
              (Option.empty[java.sql.Timestamp], Option.empty[java.sql.Timestamp],
               Option.empty[java.sql.Timestamp]))
            var maxTsMs = Long.MinValue
            rows.toSeq.sortBy(e => (micros(e._4), rank(e._3), e._2)).foreach { e =>
              val t = micros(e._4)
              if (e._4.getTime > maxTsMs) maxTsMs = e._4.getTime
              e._3 match {
                case "view" if fv.isEmpty => fv = Some(e._4)
                case "click" if fc.isEmpty && fv.isDefined &&
                    t >= micros(fv.get) && t <= micros(fv.get) + winUs =>
                  fc = Some(e._4)
                case "purchase" if fp.isEmpty && fc.isDefined &&
                    t >= micros(fc.get) && t <= micros(fc.get) + winUs =>
                  fp = Some(e._4)
                case _ =>
              }
            }
            state.update((fv, fc, fp))
            state.setTimeoutTimestamp(maxTsMs + 2 * windowDays * 86400000L)
            Iterator.single((userId, fv, fc, fp,
              if (fv.isDefined && fc.isDefined && fp.isDefined) 1 else 0))
          }
      }
  }

  /** Per-user running counters via explicit state — the
    * mapGroupsWithState escape hatch for semantics windows can't
    * express (here: lifetime event count + last-seen, emitted per
    * micro-batch). */
  def userRunningStats(events: DataFrame): Dataset[(Long, Long, java.sql.Timestamp)] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .selectExpr("user_id", "CAST(ts AS TIMESTAMP) AS ts")
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, java.sql.Timestamp), (Long, Long, java.sql.Timestamp)](
        GroupStateTimeout.NoTimeout) {
        case (userId, rows, state: GroupState[(Long, java.sql.Timestamp)]) =>
          val batch = rows.toSeq
          val (prevCount, prevLast) =
            state.getOption.getOrElse((0L, new java.sql.Timestamp(0L)))
          val newCount = prevCount + batch.size
          val newLast = (batch.map(_._2) :+ prevLast).maxBy(_.getTime)
          state.update((newCount, newLast))
          (userId, newCount, newLast)
      }
  }

  /** Run any of the above against a streaming source directory and sink
    * the result to a named memory table — the readStream→writeStream
    * wiring (`path` is a landing dir of parquet files with the events
    * schema).
    *
    * Pick `mode` per transform: Append for row-wise ops (dedup,
    * filters); Complete/Update for watermarked windowed aggregates —
    * in Append a window only emits once the watermark passes its end,
    * so a static landing dir would emit nothing. */
  def runStream(spark: SparkSession, path: String,
                transform: DataFrame => DataFrame,
                queryName: String,
                mode: OutputMode = OutputMode.Append())
      : StreamingQuery = {
    val schema = spark.read.parquet(path).schema // infer once, batch-side
    val in = spark.readStream.schema(schema).parquet(path)
    transform(in).writeStream
      .queryName(queryName)
      .outputMode(mode)
      .format("memory")
      .start()
  }

  /** Streaming INSERT-IGNORE into the artifact store: each micro-batch
    * ([[perBatch]]) runs the same dedup/anti-join/append as a batch
    * load — checkpoint plus the store's idempotent-append semantics give
    * effective exactly-once even across batch replays. The standard
    * shape for "stream into a table that batch jobs also write". */
  def runStreamUpsert(spark: SparkSession, landingPath: String,
                      storePath: String, checkpointDir: String)
      : StreamingQuery = {
    val schema = spark.read.parquet(landingPath).schema
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(landingPath)
    perBatch(in, checkpointDir) { (batch, _) =>
      graft.sinks.ArtifactStore.appendIgnore(spark, batch, storePath)
    }
  }

  /** Durable variant: parquet sink + WAL checkpoint — the
    * fault-tolerance contract. Source offsets and sink commits go
    * through the checkpoint dir, so a killed-and-restarted query
    * resumes from its last committed batch and appends each input row
    * EXACTLY ONCE (exactly-once within the parquet sink's transaction
    * log; the restart test in `StreamingSpec` kills a query between
    * batches and asserts no loss and no duplication). Append-mode
    * transforms only (parquet is an append sink). */
  def runStreamDurable(spark: SparkSession, path: String,
                       transform: DataFrame => DataFrame,
                       outDir: String, checkpointDir: String)
      : StreamingQuery = {
    val schema = spark.read.parquet(path).schema
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1") // bounded batches → restartable mid-stream
      .parquet(path)
    transform(in).writeStream
      .outputMode(OutputMode.Append())
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .start()
  }

  /** Streaming incremental heavy hitters (st24 run continuously): per
    * micro-batch of `(doc_id, text)` arrivals, merge the PERSISTED
    * Misra–Gries summary with the batch's bigram stream (weighted
    * replay = MG merge, so the ≤N/(k+1) bound survives the hand-off),
    * publish the exact-recounted heavy bigrams of the stream-so-far,
    * and persist the new summary. The cross-batch DECISION state is the
    * ≤k-entry summary plus one running total — bounded forever; the
    * gram store is the retained corpus the recount scans (a real
    * deployment schedules that recount per N batches, st22-style, and
    * retains grams anyway for the id01/st11 gates).
    *
    * Replay: the [[perBatch]] rule — the summary is versioned state,
    * the gram store and the publish log are batch deltas. The streaming
    * plan itself is stateless (no state store). */
  def incrementalHeavyHitters(stream: DataFrame, stateDir: String,
                              storeDir: String, outDir: String,
                              checkpointDir: String, k: Int = 800)
      : StreamingQuery =
    perBatch(stream, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      val grams = graft.analytics.FrequentItems.bigrams(batch)
        .withColumn("w", lit(1L)).withColumn("is_raw", lit(1L))
      // state = summary rows + one NULL-item row carrying the running
      // total (single self-describing parquet dir); cold: a zero total
      val prev = priorState(stateDir, batchId)(spark.range(1)
        .select(lit(null).cast("string").as("item"), lit(0L).as("est")))
      val prevN = prev.filter(col("item").isNull).agg(sum("est")).head()
        .getLong(0)
      val merged = prev.filter(col("item").isNotNull)
        .select(col("item").as("ngram"), col("est").as("w"),
                lit(0L).as("is_raw"))
        .unionByName(grams.select("ngram", "w", "is_raw"))
        .agg(graft.functions.Natives.call(spark, "misra_gries",
                           col("ngram"), col("w"), lit(k)).as("mg"),
             coalesce(sum(col("w") * col("is_raw")), lit(0L)).as("nb"))
      val st = commitState(
        merged.select(explode_outer(col("mg")).as("c"), col("nb"))
          .select(col("c.item").as("item"), col("c.est").as("est"))
          .filter(col("item").isNotNull)
          .unionByName(merged.select(
            lit(null).cast("string").as("item"),
            (col("nb") + lit(prevN)).as("est"))),
        stateDir, batchId)
      val ngrams = grams.select(col("ngram"))
      land(ngrams, batchId, storeDir)
      // publish: exact recount of the ≤k candidates over the
      // retained stream-so-far, thresholded at 1/k
      val nTotal = st.filter(col("item").isNull).head().getLong(1)
      val cands = st.filter(col("item").isNotNull)
        .select(col("item").as("ngram"))
      land(readDelta(spark, storeDir, ngrams.schema).select("ngram")
             .join(broadcast(cands), "ngram")
             .groupBy("ngram").agg(count(lit(1)).as("n_occ"))
             .filter(col("n_occ") * lit(k) > lit(nTotal))
             .select(col("ngram"), col("n_occ"), lit(nTotal).as("n_stream")),
           batchId, outDir)
    }

  /** st25's streaming twin: after each document micro-batch, publish
    * the EXACT p50/p90/p99 of token counts over the stream so far.
    *
    * Cross-batch decision state is the bounded integer histogram alone
    * (`Quantiles.hist` — bin = v DIV 8 → count, exact and mergeable by
    * addition): batch b reads `state_{b-1}`, adds its own bin census,
    * and writes `state_b` — the [[perBatch]] replay rule, as are the
    * batch-delta value store and publish log. The publish step walks the
    * persisted histogram's CDF and refines inside the one target bin per
    * percentile against the store (`Quantiles.histQuantiles`) — the
    * recount-against-retained-corpus discipline, scheduled per batch
    * here and per-N-batches at real scale. */
  def incrementalQuantiles(stream: DataFrame, stateDir: String,
                           storeDir: String, outDir: String,
                           checkpointDir: String)
      : StreamingQuery =
    perBatch(stream, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      val vals = batch.select(
        graft.analytics.TextAnalysis.tokenCount(col("text"))
          .cast("long").as("v"))
      val hb = graft.analytics.Quantiles.hist(vals)
      val h = commitState(
        priorState(stateDir, batchId)(hb.limit(0)).unionByName(hb)
          .groupBy("bin").agg(sum("cnt").as("cnt")),
        stateDir, batchId)
      land(vals, batchId, storeDir)
      land(graft.analytics.Quantiles.histQuantiles(h,
             readDelta(spark, storeDir, vals.schema).select("v")),
           batchId, outDir)
    }

  /** st26's streaming twin: per-source distinct-bigram vocabulary
    * tracked across micro-batches where the ONLY cross-batch decision
    * state is the HLL sketch table (`source → 2^12-register sketch`,
    * a few KB per source forever, regardless of stream length).
    *
    * Batch b sketches its own grams, max-merges with `state_{b-1}` via
    * `hll_union` (full-outer: a source absent from a batch keeps its
    * sketch verbatim), and writes `state_b` — the [[perBatch]] replay
    * rule, and registers max-merge, so the union is idempotent too.
    * Raw grams also land in a batch-delta store, used here ONLY for the
    * published exact audit (the batch entry's x14 discipline); a 100 TB
    * deployment audits on a schedule and publishes the estimate, whose
    * cost never grows. */
  def incrementalVocab(stream: DataFrame, stateDir: String,
                       storeDir: String, outDir: String,
                       checkpointDir: String)
      : StreamingQuery =
    perBatch(stream, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      val grams = graft.analytics.FrequentItems
        .bigrams(batch, col("source"))
      val sk = grams.groupBy("source")
        .agg(hll_sketch_agg(col("ngram"), 12).as("sk"))
      val prev = priorState(stateDir, batchId)(sk.limit(0))
      val st = commitState(
        sk.select(col("source"), col("sk").as("sk_new"))
          .join(prev.select(col("source"), col("sk").as("sk_old")),
                Seq("source"), "full_outer")
          .select(col("source"),
            when(col("sk_old").isNull, col("sk_new"))
              .when(col("sk_new").isNull, col("sk_old"))
              .otherwise(hll_union(col("sk_old"), col("sk_new")))
              .as("sk")),
        stateDir, batchId)
      val pairs = grams.select("source", "ngram").distinct()
      land(pairs, batchId, storeDir)
      val exact = readDelta(spark, storeDir, pairs.schema)
        .select("source", "ngram").distinct()
        .groupBy("source").agg(count(lit(1)).as("ndv_exact"))
      land(st.join(exact, "source")
             .select(col("source"), col("ndv_exact"),
               hll_sketch_estimate(col("sk")).as("ndv_est"),
               (abs(hll_sketch_estimate(col("sk")) - col("ndv_exact")) <=
                 greatest(col("ndv_exact").cast("double") * 0.05,
                          lit(8.0))).as("hll_ok")),
           batchId, outDir)
    }

  /** scd01's streaming twin — CDC apply: each micro-batch is a change
    * feed `(k, seg)` merged into a persisted SCD2 history table.
    *
    * Per batch b against `state_{b-1}`'s history: a key whose current
    * segment differs closes the open row at b and opens a new one; an
    * unseen key opens its first row at b; a no-op change (same
    * segment) and untouched keys pass through unchanged. The history
    * snapshot is versioned state under the [[perBatch]] replay rule,
    * applied to a dimension table. A 100 TB deployment partitions the
    * history by `is_current` and rewrites only the open partition
    * (closed rows are append-only); the snapshot here keeps the test
    * surface single-dir. Duplicate keys within one change batch must be
    * pre-collapsed by the feed (this twin's contract; the batch entry
    * scd01 derives its delta deterministically so the condition holds
    * by construction). */
  def scdApply(stream: DataFrame, stateDir: String,
               checkpointDir: String)
      : StreamingQuery =
    perBatch(stream, checkpointDir) { (batch, batchId) =>
      val delta = batch.select(col("k"), col("seg"))
      val hist = priorState(stateDir, batchId)( // cold: empty history
        delta.select(col("k"), col("seg"),
          lit(0).as("valid_from"), lit(9999).as("valid_to"),
          lit(true).as("is_current")).limit(0))
      val open = hist.filter(col("is_current"))
        .select(col("k"), col("seg"), col("valid_from"))
      val closedRows = hist.filter(!col("is_current"))
      val j = open.join(delta.select(col("k"), col("seg").as("seg_new")),
                        Seq("k"), "full_outer")
      val b = lit(batchId.toInt)
      val stillOpen = j.filter(col("seg_new").isNull ||
                               col("seg_new") === col("seg"))
        .select(col("k"), col("seg"), col("valid_from"),
                lit(9999).as("valid_to"), lit(true).as("is_current"))
      val newlyClosed = j.filter(col("seg").isNotNull &&
          col("seg_new").isNotNull && col("seg_new") =!= col("seg"))
        .select(col("k"), col("seg"), col("valid_from"),
                b.as("valid_to"), lit(false).as("is_current"))
      val newlyOpened = j.filter(col("seg_new").isNotNull &&
          (col("seg").isNull || col("seg_new") =!= col("seg")))
        .select(col("k"), col("seg_new").as("seg"),
                b.as("valid_from"), lit(9999).as("valid_to"),
                lit(true).as("is_current"))
      commitState(closedRows.unionByName(newlyClosed).unionByName(stillOpen)
                    .unionByName(newlyOpened), stateDir, batchId)
      ()
    }

  /** One micro-batch step of the incremental k-core twin (st27's
    * protocol run continuously) — exposed as a named function so the
    * replay-idempotence test can re-invoke a batch directly and assert
    * identical state/publish files.
    *
    * Per batch b of `(doc_id, text)` documents: the batch's undirected
    * token edges are anti-joined against the edges PRIOR batches
    * landed to form the NEW-edge delta, which lands as batch b's
    * partition of the edge store; the cross-batch degree census is
    * `state_{b-1}` PLUS the delta's census (additive over disjoint
    * deltas — never a recount of the store), all under the [[perBatch]]
    * replay rule; and the publish is the 3-round k-core peel of the
    * store-so-far with the maintained census injected as round 0
    * ([[graft.analytics.GraphOps.peelSummary]] — the same code path as
    * the batch entry, so row-equality is structural). */
  private[graft] def applyKCoreBatch(spark: SparkSession,
                                     batch: DataFrame, batchId: Long,
                                     stateDir: String, storeDir: String,
                                     outDir: String, k: Int): Unit = {
    import graft.analytics.{GraphOps => g}
    val edges = g.undirectedEdges(batch)
    val delta = Materialize.once(edges.join(
      landedBefore(spark, storeDir, edges.schema, batchId), Seq("a", "b"),
      "left_anti"))
    land(delta, batchId, storeDir)
    val census = commitState(
      priorState(stateDir, batchId)(g.degreeCensus(delta).limit(0))
        .unionByName(g.degreeCensus(delta))
        .groupBy("tk").agg(sum("dg").as("dg")),
      stateDir, batchId)
    val store = readDelta(spark, storeDir, edges.schema)
      .filter(col("batch_id") <= batchId).select("a", "b")
    land(g.peelSummary(store, census, k), batchId, outDir)
  }

  /** st27's streaming form: per micro-batch of `(doc_id, text)`
    * documents, maintain the additive degree census through versioned
    * state files and publish the 3-round k-core peel of the
    * stream-so-far — see [[applyKCoreBatch]] for the per-batch
    * contract. The streaming plan itself is stateless (no state
    * store); every cross-batch byte lives in `state_b` / the
    * batch-id-partitioned edge store. */
  def incrementalKCore(stream: DataFrame, stateDir: String,
                       storeDir: String, outDir: String,
                       checkpointDir: String, k: Int = 4)
      : StreamingQuery =
    perBatch(stream, checkpointDir) { (batch, batchId) =>
      applyKCoreBatch(batch.sparkSession, batch, batchId, stateDir,
                      storeDir, outDir, k)
    }
}
