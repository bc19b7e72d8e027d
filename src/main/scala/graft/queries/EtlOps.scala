package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's ETL operators (SURVEY.md §2.2-2.3, reference
  * `harvard_artifacts_app.py:157-278`) as verifiable queries over the
  * driver test tables. The artifact-schema versions of the same operators
  * live in [[graft.etl.ArtifactEtl]]; these entries prove the operator
  * semantics against the DuckDB oracle.
  */
object EtlOps {
  import QueryDef.table

  def all: Seq[QueryDef] = Seq(
    // ---- T1 project + rename (`:167-180`) -----------------------------
    QueryDef(
      "t1_project_rename",
      (s, d) =>
        table(s, d, "orders")
          .select(col("o_orderkey").as("id"),
                  col("o_orderpriority").as("priority"),
                  col("o_totalprice").as("total"))
          .orderBy("id"),
      Some("""SELECT o_orderkey AS id, o_orderpriority AS priority,
             |       o_totalprice AS total
             |FROM orders ORDER BY id""".stripMargin)
    ),

    // ---- T2/T3 default-fill strings + ints (`:169-189`) ---------------
    QueryDef(
      "t2_t3_default_fill",
      (s, d) =>
        table(s, d, "documents")
          .select(col("doc_id"),
                  coalesce(col("lang"), lit("")).as("lang_filled"),
                  coalesce(col("n_chars"), lit(0L)).as("nchars_filled"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id, coalesce(lang, '') AS lang_filled,
             |       coalesce(n_chars, 0) AS nchars_filled
             |FROM documents ORDER BY doc_id""".stripMargin)
    ),

    // ---- T5 string truncate (`:175` — description[:500]) --------------
    QueryDef(
      "t5_truncate",
      (s, d) =>
        table(s, d, "documents")
          .select(col("doc_id"),
                  substring(coalesce(col("text"), lit("")), 1, 120).as("snippet"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id, substring(coalesce(text, ''), 1, 120) AS snippet
             |FROM documents ORDER BY doc_id""".stripMargin)
    ),

    // ---- T7 array slice + unnest (`:197-206` — colors[:5] flatten) ----
    // posexplode(slice(...)) ≙ the reference's `for color in colors[:5]`;
    // plain explode (not _outer) matches "no colors ⇒ no child rows".
    QueryDef(
      "t7_explode_slice",
      (s, d) =>
        table(s, d, "embeddings")
          .select(col("vec_id"), posexplode(slice(col("embedding"), 1, 5)))
          .select(col("vec_id"), col("pos").cast("long").as("pos"),
                  col("col").cast("double").as("val"))
          .orderBy("vec_id", "pos"),
      Some("""SELECT vec_id, i AS pos, CAST(embedding[i + 1] AS DOUBLE) AS val
             |FROM embeddings, (SELECT unnest(range(5)) AS i) idx
             |WHERE i < least(5, len(embedding))
             |ORDER BY vec_id, pos""".stripMargin)
    ),

    // ---- K2 upsert-ignore / deterministic keep-first dedup ------------
    // MySQL INSERT IGNORE keeps the first-arriving PK row
    // (`:239-272`); the deterministic Spark equivalent is a window rank
    // over an explicit arrival order (SURVEY.md §7.5.4).
    QueryDef(
      "k2_dedup_keepfirst",
      // The synthetic lineitem has duplicate (l_orderkey, l_linenumber)
      // pairs, so the arrival order ranks over the full candidate key —
      // exactly the determinism pitfall SURVEY.md §7.5.4 warns about.
      (s, d) => {
        val w = Window.partitionBy("l_orderkey")
          .orderBy("l_linenumber", "l_partkey", "l_suppkey", "l_quantity")
        table(s, d, "lineitem")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
          .orderBy("l_orderkey")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM (
             |  SELECT *, row_number() OVER (
             |    PARTITION BY l_orderkey
             |    ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity) AS rn
             |  FROM lineitem) t
             |WHERE rn = 1 ORDER BY l_orderkey""".stripMargin)
    ),

    // ---- K3 NaN/±inf → NULL normalization (`:226-233`) ----------------
    QueryDef(
      "k3_nan_cleanse",
      (s, d) =>
        table(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
                  when(isnan(col("l_quantity")) ||
                       col("l_quantity") === Double.PositiveInfinity ||
                       col("l_quantity") === Double.NegativeInfinity, lit(null))
                    .otherwise(col("l_quantity")).as("qty_clean"))
          .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
             |  CASE WHEN isnan(l_quantity) OR isinf(l_quantity) THEN NULL
             |       ELSE l_quantity END AS qty_clean
             |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)
    ),

    // ---- ref01: the reference's FULL lifecycle as one driver-checked
    // entry (E1 ingest-parse → T1-T8 transform → K2 INSERT-IGNORE load →
    // E3 query + K6 census; harvard_artifacts_app.py:383-424). The chain
    // previously lived only in golden tests; here every stage's effect
    // sits inside the hash. Raw API records are derived closed-form from
    // `documents` ids, serialized to REAL JSON and re-parsed (from_json —
    // the S1 ingest parse), pushed through ArtifactEtl (string/int
    // default-fill, T5 truncation, T7 color slice+explode, T6 vertical
    // split, K3 double cleanse), deduped keep-first within the batch
    // (ids % 13 carry a later-arriving 'DUP'-titled copy that must
    // lose), INSERT-IGNOREd against a pre-existing epoch (ids % 10 = 0,
    // identical derivation — the final table is one-row-per-id exactly
    // when the anti-join is correct), then queried with reference
    // template 19 VERBATIM through spark.sql (3-way join + DISTINCT over
    // all three artifact tables) with the load census appended (the
    // reference's row-count metrics sink). All modular arithmetic ⇒
    // DuckDB replays the lifecycle's output with no JSON and no Spark;
    // a break in parse/fill/truncate/slice/dedup/anti-join/join shifts
    // either the row set or the census.
    QueryDef(
      "ref01_reference_e2e",
      (s, d) => {
        import graft.etl.ArtifactEtl
        import org.apache.spark.sql.types._
        val id = col("doc_id")
        def fields(dup: Boolean) = struct(
          id.as("id"),
          (if (dup) lit("DUP") else concat(lit("Artifact "), id)).as("title"),
          element_at(array(lit("Byzantine"), lit("Roman"), lit("Greek"),
                           lit("Egyptian")),
                     (pmod(id, lit(4L)) + 1).cast("int")).as("culture"),
          when(pmod(id, lit(3L)) === 0, lit("Archaic Period"))
            .when(pmod(id, lit(3L)) === 1, lit("Classical Period"))
            .as("period"), // else NULL → T2 fills ''
          concat((pmod(id, lit(20L)) + 1).cast("string"), lit("th century"))
            .as("century"),
          concat(lit("medium-"), pmod(id, lit(5L))).as("medium"),
          lit(null).cast("string").as("dimensions"), // T2 fill exercised
          concat(lit("desc "),
                 repeat(lit("d"), (pmod(id, lit(60L)) * 10).cast("int")))
            .as("description"),               // lengths 5..595 → T5 cut
          concat(lit("dept-"), pmod(id, lit(5L))).as("department"),
          concat(lit("class-"), pmod(id, lit(6L))).as("classification"),
          when(pmod(id, lit(7L)) =!= 0, lit(1900L) + pmod(id, lit(120L)))
            .as("accessionyear"),             // T4 nullable passthrough
          concat(lit("method-"), pmod(id, lit(3L))).as("accessionmethod"),
          when(pmod(id, lit(11L)) =!= 0, pmod(id, lit(5L))).as("imagecount"),
          when(pmod(id, lit(13L)) =!= 0, pmod(id, lit(4L))).as("mediacount"),
          pmod(id, lit(6L)).as("colorcount"),
          when(pmod(id, lit(17L)) =!= 0, pmod(id, lit(100L))).as("rank"),
          (lit(1400L) + pmod(id, lit(300L))).as("datebegin"),
          (lit(1450L) + pmod(id, lit(300L))).as("dateend"),
          slice(transform(sequence(lit(0), lit(6)), j => struct(
                  concat(lit("s"), j).as("spectrum"),
                  element_at(array(lit("Grey"), lit("Red"), lit("Blue"),
                                   lit("Green"), lit("Brown")),
                             (pmod(id + j, lit(5L)) + 1).cast("int"))
                    .as("hue"),
                  concat(lit("c"), pmod(id + j, lit(8L))).as("color"),
                  (pmod(id, lit(10L)).cast("double") / 10.0 + j)
                    .as("percent"),
                  concat(lit("#"), j).as("css3"))),
                lit(1), pmod(id, lit(7L)).cast("int")).as("colors"))
        val colorsT = ArrayType(StructType(Seq(
          StructField("spectrum", StringType), StructField("hue", StringType),
          StructField("color", StringType), StructField("percent", DoubleType),
          StructField("css3", StringType))))
        val rawSchema = StructType(Seq(
          StructField("id", LongType), StructField("title", StringType),
          StructField("culture", StringType), StructField("period", StringType),
          StructField("century", StringType), StructField("medium", StringType),
          StructField("dimensions", StringType),
          StructField("description", StringType),
          StructField("department", StringType),
          StructField("classification", StringType),
          StructField("accessionyear", LongType),
          StructField("accessionmethod", StringType),
          StructField("imagecount", LongType),
          StructField("mediacount", LongType),
          StructField("colorcount", LongType), StructField("rank", LongType),
          StructField("datebegin", LongType), StructField("dateend", LongType),
          StructField("colors", colorsT)))
        // spread the one-split id scan before the JSON round-trip (the
        // serialize+parse is the entry's hot per-row pass; ScanSpread
        // guard — identity on any real corpus), and materialize the
        // deduped batch ONCE: the final plan holds EIGHT broadcast
        // subtrees (metaFinal/mediaFinal twice each + three censuses +
        // the template join) that each re-ran the whole raw→ETL chain
        // (r18 JobProf: 8 concurrent ~6 s broadcast builds, ~90 s of
        // executor time for a ~9 s wall — and the entry's 2.7-5.8 s
        // noise band, VERDICT r17 #3).
        val docs = graft.analytics.ScanSpread
          .forMapPass(table(s, d, "documents").select("doc_id"))
        val rawJs = docs
          .select(to_json(fields(dup = false)).as("js"), lit(0).as("arrival"))
          .unionByName(docs.filter(pmod(id, lit(13L)) === 0)
            .select(to_json(fields(dup = true)).as("js"),
                    lit(1).as("arrival")))
        val raw = rawJs
          .select(from_json(col("js"), rawSchema).as("r"), col("arrival"))
          .select(col("r.*"), col("arrival"))
        val deduped = graft.analytics.Materialize.shared(ArtifactEtl
          .dedupKeepFirst(raw, "id", col("arrival")).drop("arrival"))
        val (meta, media, colors) = ArtifactEtl.transform(deduped)
        // pre-existing epoch (an earlier run of the same crawl):
        // identical rows for ids % 10 = 0 already sit in the store
        val metaOld = meta.filter(pmod(col("id"), lit(10L)) === 0)
        val metaFinal = metaOld
          .unionByName(ArtifactEtl.upsertIgnore(meta, metaOld, "id"))
        val mediaOld = media.filter(pmod(col("objectid"), lit(10L)) === 0)
        val mediaFinal = mediaOld
          .unionByName(ArtifactEtl.upsertIgnore(media, mediaOld, "objectid"))
        // colors carry no single-column PK — child rows follow their
        // parent's insert decision (one parent row per id here)
        val colorsFinal = ArtifactEtl.cleanseDoubles(colors)
        ReferenceQueries
          .run(s, "19", metaFinal, mediaFinal, colorsFinal)
          .crossJoin(broadcast(
            metaFinal.agg(count(lit(1)).as("total_artifacts"))))
          .crossJoin(broadcast(
            mediaFinal.agg(count(lit(1)).as("total_media"))))
          .crossJoin(broadcast(
            colorsFinal.agg(count(lit(1)).as("total_colors"))))
          .orderBy("title")
      },
      Some("""WITH ids AS (SELECT doc_id AS id FROM documents),
             |med AS (
             |  SELECT id,
             |    CASE WHEN id % 17 = 0 THEN 0 ELSE id % 100 END AS rnk
             |  FROM ids),
             |cj AS (
             |  SELECT id, unnest(range(LEAST(id % 7, 5))) AS j FROM ids),
             |greys AS (SELECT DISTINCT id FROM cj WHERE (id + j) % 5 = 0)
             |SELECT DISTINCT 'Artifact ' || CAST(g.id AS VARCHAR) AS title,
             |  (SELECT COUNT(*) FROM ids) AS total_artifacts,
             |  (SELECT COUNT(*) FROM ids) AS total_media,
             |  (SELECT COUNT(*) FROM cj) AS total_colors
             |FROM greys g JOIN med m USING (id)
             |WHERE m.rnk <= 10
             |ORDER BY title""".stripMargin)
    ),

    // ---- SCD2 dimension-history merge ---------------------------------
    QueryDef(
      "scd01_dimension_history",
      // the history-keeping sibling of K2's upsert-ignore
      // (`harvard_artifacts_app.py:239-274` keeps FIRST and drops the
      // update; a warehouse dimension keeps BOTH with validity
      // intervals). Batch 0 = the customer dim (minus the keys that
      // will arrive later); batch 1 = a deterministic delta (every
      // c_custkey%10=3 changes segment, every %17=5 is a new arrival).
      // The merge emits the classic SCD2 shape: untouched rows stay
      // open [0,9999), changed keys close the old row at 1 and open a
      // new one, inserts open at 1. One shuffle join on the dimension
      // key — and the delta side of a real deployment is a day's
      // changes, so AQE broadcasts it and the merge is map-side
      // against the bucketed dimension; nothing here scales with
      // history length except the output.
      (s, d) => {
        val cust = table(s, d, "customer")
          .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"))
        val base = cust.filter(col("k") % 17 =!= 5)
        val delta = cust.filter(col("k") % 10 === 3 && col("k") % 17 =!= 5)
          .select(col("k"), concat(lit("NEW-"), col("seg")).as("seg"))
          .unionByName(cust.filter(col("k") % 17 === 5))
        val j = base.join(delta.select(col("k"), col("seg").as("seg_new")),
                          Seq("k"), "full_outer")
        val closed = j.filter(col("seg").isNotNull && col("seg_new").isNotNull)
          .select(col("k"), col("seg"), lit(0).as("valid_from"),
                  lit(1).as("valid_to"), lit(false).as("is_current"))
        val opened = j.filter(col("seg_new").isNotNull)
          .select(col("k"), col("seg_new").as("seg"),
                  lit(1).as("valid_from"), lit(9999).as("valid_to"),
                  lit(true).as("is_current"))
        val untouched = j.filter(col("seg").isNotNull && col("seg_new").isNull)
          .select(col("k"), col("seg"), lit(0).as("valid_from"),
                  lit(9999).as("valid_to"), lit(true).as("is_current"))
        closed.unionByName(opened).unionByName(untouched)
          .orderBy("k", "valid_from")
      },
      Some("""WITH cust AS (
             |  SELECT c_custkey AS k, c_mktsegment AS seg FROM customer),
             |base AS (SELECT * FROM cust WHERE k % 17 <> 5),
             |delta AS (
             |  SELECT k, 'NEW-' || seg AS seg FROM cust
             |  WHERE k % 10 = 3 AND k % 17 <> 5
             |  UNION ALL
             |  SELECT k, seg FROM cust WHERE k % 17 = 5),
             |j AS (
             |  SELECT COALESCE(b.k, dl.k) AS k, b.seg AS seg,
             |         dl.seg AS seg_new
             |  FROM base b FULL OUTER JOIN delta dl ON b.k = dl.k),
             |out AS (
             |  SELECT k, seg, 0 AS valid_from, 1 AS valid_to,
             |         false AS is_current
             |  FROM j WHERE seg IS NOT NULL AND seg_new IS NOT NULL
             |  UNION ALL
             |  SELECT k, seg_new, 1, 9999, true FROM j
             |  WHERE seg_new IS NOT NULL
             |  UNION ALL
             |  SELECT k, seg, 0, 9999, true FROM j
             |  WHERE seg IS NOT NULL AND seg_new IS NULL)
             |SELECT * FROM out ORDER BY k, valid_from""".stripMargin)
    )
  )
}
