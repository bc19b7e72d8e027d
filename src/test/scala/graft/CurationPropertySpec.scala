package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.analytics.DataQuality

/** Adversarial property tests for the curation gates (dq02, dq03, and
  * the gram gate behind dc01/id01/st11): pathological whitespace,
  * unicode, empty/1-word docs, and all-duplicate docs — the inputs a
  * real crawl contains and the clean synthetic fixture doesn't. These
  * pin the `greatest(n, 1)` guards and empty-gram branches the oracle
  * run can't reach (the fixture has no degenerate docs).
  *
  * The registry entries are exercised through their REAL plans: docs
  * are written to a temp dir shaped like the driver fixture and run via
  * `SparkEntry.queries`, so a regression in the shipped QueryDef (not
  * just a helper) fails here. Plain-ScalaCheck sampling with fixed
  * seeds (same discipline as EtlPropertySpec). */
class CurationPropertySpec extends SparkSpec {

  private def forAllSampled[A](g: Gen[A], n: Int = 3)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      body(g.apply(Gen.Parameters.default, Seed(1234L + i))
        .getOrElse(fail(s"generator failed at sample $i")))
    }

  // whitespace the tokenizer must split on (space/tab/newline/CR) plus
  // U+00A0 NBSP, which \s matches in NEITHER Java regex NOR DuckDB RE2
  // — it glues tokens into one "word" identically in both engines
  private val wsGen: Gen[String] =
    Gen.oneOf(" ", "  ", "\t", "\n", "\r\n", " \t ", " ")

  private val wordGen: Gen[String] =
    Gen.oneOf("the", "café", "日本語", "x", "a-b.c", "{brace}", "Lorem",
              "ipsum", "🚀", "word1", "ALLCAPS", "ßharp")

  /** A document assembled from adversarial words and separators. */
  private val docGen: Gen[String] = for {
    n <- Gen.chooseNum(0, 12)
    words <- Gen.listOfN(n, wordGen)
    seps <- Gen.listOfN(n + 1, wsGen)
  } yield seps.zipAll(words, "", "").map { case (s, w) => s + w }.mkString

  /** Deterministic edge docs present in EVERY sample, whatever the
    * generator draws: empty, whitespace-only, 1-word, all-duplicate,
    * a tie for the most frequent word, and a unicode-only doc. */
  private val edgeDocs = Seq(
    ""                              -> "empty",
    " \t\n "                        -> "whitespace-only",
    "solo"                          -> "one word",
    Seq.fill(30)("dup").mkString(" ") -> "all-duplicate",
    "b a b a"                       -> "tied mode",
    "日本語 🚀 café"                 -> "unicode words")

  private def writeDocs(texts: Seq[String]): String = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("curation_").toString
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", concat(lit("src"), col("doc_id") % 20))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$tmp/documents.parquet")
    tmp
  }

  private def tokens(t: String): Seq[String] =
    t.split("\\s+").filter(_.nonEmpty).toSeq

  test("dq02: every adversarial doc gets a row; guards hold on degenerate inputs") {
    forAllSampled(Gen.listOfN(20, docGen)) { generated =>
      val texts = edgeDocs.map(_._1) ++ generated
      val dir = writeDocs(texts)
      val rows = SparkEntry.queries("dq02_quality_filters")(spark, dir)
        .collect()
      // census: one decision per doc, no drops, no duplicates
      assert(rows.map(_.getAs[Long]("doc_id")).toSeq ==
             texts.indices.map(_.toLong))
      rows.foreach { r =>
        val id = r.getAs[Long]("doc_id")
        val t = texts(id.toInt)
        val nWords = r.getAs[Int]("n_words")
        assert(nWords == tokens(t).size, s"doc $id [$t]")
        val dup = r.getAs[Double]("dup_word_frac")
        assert(dup >= 0.0 && dup <= 1.0, s"doc $id dup=$dup")
        assert(r.getAs[Double]("mean_word_len") >= 0.0)
        Seq("f_word_count", "f_mean_word_len", "f_stopword", "f_no_brace",
            "f_no_lorem", "f_low_repetition").foreach { f =>
          assert(Set(0, 1)(r.getAs[Int](f)), s"doc $id flag $f")
        }
        // the keep gate is exactly the conjunction of its flags
        val prod = Seq("f_word_count", "f_mean_word_len", "f_stopword",
                       "f_no_brace", "f_no_lorem", "f_low_repetition")
          .map(r.getAs[Int](_)).product
        assert(r.getAs[Int]("keep") == prod, s"doc $id")
        if (nWords == 0) {
          // greatest(n,1) guards: zero words divides by 1, not 0
          assert(r.getAs[Double]("mean_word_len") == 0.0, s"doc $id")
          assert(dup == 0.0 && r.getAs[Int]("f_word_count") == 0 &&
                 r.getAs[Int]("keep") == 0, s"doc $id")
        }
      }
      // the all-duplicate edge doc trips the repetition gate
      // (29/30 rounded to 6 places — the entry rounds in-plan)
      val dupRow = rows(3)
      assert(dupRow.getAs[Double]("dup_word_frac") == 0.966667 &&
             dupRow.getAs[Int]("f_low_repetition") == 0)
    }
  }

  test("dq03: degenerate docs keep their row with NULL modes; ties break lexicographically") {
    forAllSampled(Gen.listOfN(20, docGen)) { generated =>
      val texts = edgeDocs.map(_._1) ++ generated
      val dir = writeDocs(texts)
      val rows = SparkEntry.queries("dq03_repetition_stats")(spark, dir)
        .collect()
      assert(rows.map(_.getAs[Long]("doc_id")).toSeq ==
             texts.indices.map(_.toLong))
      rows.foreach { r =>
        val id = r.getAs[Long]("doc_id")
        val t = texts(id.toInt)
        val ws = tokens(t)
        if (ws.isEmpty) {
          assert(r.isNullAt(r.fieldIndex("top_word")) &&
                 r.isNullAt(r.fieldIndex("top_word_char_frac")), s"doc $id")
        } else {
          // the mode is the lexicographically SMALLEST most-frequent word
          val counts = ws.groupBy(identity).view.mapValues(_.size)
          val best = counts.toSeq.map { case (w, n) => (-n, w) }.min._2
          assert(r.getAs[String]("top_word") == best, s"doc $id [$t]")
        }
        if (ws.size < 2)
          assert(r.isNullAt(r.fieldIndex("top_bigram")), s"doc $id")
        else assert(!r.isNullAt(r.fieldIndex("top_bigram")), s"doc $id")
      }
      // all-duplicate doc: the single word covers ALL non-ws characters
      assert(rows(3).getAs[String]("top_word") == "dup" &&
             rows(3).getAs[Double]("top_word_char_frac") == 1.0)
      // tied mode "b a b a": both have count 2 → "a" wins
      assert(rows(4).getAs[String]("top_word") == "a")
    }
  }

  test("gramGate: adversarial batches always get a decision; containment is sound") {
    import spark.implicits._
    forAllSampled(Gen.listOfN(12, docGen)) { generated =>
      val corpusTexts = Seq(
        "alpha beta gamma delta epsilon zeta",
        Seq.fill(30)("dup").mkString(" ")) ++ generated.take(6)
      val batchTexts = Seq(
        "",                                       // no grams → keep
        "four words only here",                   // < 5 words → keep
        "alpha beta gamma delta epsilon zeta",    // exact corpus dup → drop
        Seq.fill(30)("dup").mkString(" "),        // all-dup corpus dup → drop
        "totally novel content never seen anywhere before") ++
        generated.drop(6)
      val corpus = corpusTexts.zipWithIndex
        .map { case (t, i) => (1000L + i, t) }.toDF("doc_id", "text")
      val batch = batchTexts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val out = DataQuality.gramGate(batch, DataQuality.gramKeys(corpus))
        .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
      // census: every batch doc decided exactly once
      assert(out.keySet == batchTexts.indices.map(_.toLong).toSet)
      out.values.foreach { r =>
        val (n, h) = (r.getAs[Long]("n_grams"), r.getAs[Long]("n_hit"))
        val c = r.getAs[Double]("containment")
        assert(h >= 0 && h <= n, s"row $r")
        assert(c >= 0.0 && c <= 1.0, s"row $r")
        assert(r.getAs[Int]("keep") == (if (c < 0.5) 1 else 0), s"row $r")
        if (n == 0) assert(c == 0.0 && r.getAs[Int]("keep") == 1, s"row $r")
      }
      // gram-less docs pass; exact corpus duplicates are fully contained
      assert(out(0L).getAs[Long]("n_grams") == 0L &&
             out(0L).getAs[Int]("keep") == 1)
      assert(out(1L).getAs[Long]("n_grams") == 0L &&
             out(1L).getAs[Int]("keep") == 1)
      assert(out(2L).getAs[Double]("containment") == 1.0 &&
             out(2L).getAs[Int]("keep") == 0)
      // 30×"dup" has ONE distinct 5-gram, already in the corpus
      assert(out(3L).getAs[Long]("n_grams") == 1L &&
             out(3L).getAs[Double]("containment") == 1.0)
      assert(out(4L).getAs[Int]("keep") == 1)
    }
  }

  test("bloomGate: dominance over gramGate holds on adversarial corpora") {
    import spark.implicits._
    forAllSampled(Gen.listOfN(12, docGen)) { generated =>
      val corpusTexts = Seq(
        "alpha beta gamma delta epsilon zeta",
        Seq.fill(30)("dup").mkString(" ")) ++ generated.take(6)
      val batchTexts = Seq(
        "",                                       // no grams → keep
        "alpha beta gamma delta epsilon zeta",    // exact corpus dup → drop
        "totally novel content never seen anywhere before") ++
        generated.drop(6)
      val corpus = corpusTexts.zipWithIndex
        .map { case (t, i) => (1000L + i, t) }.toDF("doc_id", "text")
      val batch = batchTexts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val bytes = DataQuality.gramKeys(corpus)
        .agg(graft.functions.Natives.call(spark, "bloom_agg",
          org.apache.spark.sql.functions.xxhash64(
            org.apache.spark.sql.functions.col("g")),
          org.apache.spark.sql.functions.lit(1024L),
          org.apache.spark.sql.functions.lit(16384L)))
        .head().getAs[Array[Byte]](0)
      val bf = java.io.File.createTempFile("graft-prop-bloom", ".bf")
      bf.deleteOnExit()
      java.nio.file.Files.write(bf.toPath, bytes)
      val bloom = DataQuality.bloomGate(spark, batch, bf.getAbsolutePath)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_hit"),
            r.getAs[Int]("keep")))).toMap
      val exact = DataQuality.gramGate(batch, DataQuality.gramKeys(corpus))
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_hit"),
            r.getAs[Int]("keep")))).toMap
      // identical census, identical gram counts; bloom hits dominate
      // (no false negatives) so bloom can only over-drop, never leak
      assert(bloom.keySet == exact.keySet)
      bloom.foreach { case (id, (bg, bh, bk)) =>
        val (eg, eh, ek) = exact(id)
        assert(bg == eg, s"doc $id: gram count $bg vs $eg")
        assert(bh >= eh, s"doc $id: bloom n_hit $bh < exact $eh")
        assert(bh <= bg, s"doc $id: n_hit $bh > n_grams $bg")
        assert(bk <= ek, s"doc $id: bloom kept what exact dropped")
      }
      // guaranteed (not probabilistic) decisions: gram-less docs keep;
      // a full corpus dup has every gram inserted → containment 1 → drop
      assert(bloom(0L) == ((0L, 0L, 1)))
      assert(bloom(1L)._1 == bloom(1L)._2 && bloom(1L)._3 == 0)
    }
  }

  test("cp02: composed pipeline survives adversarial corpora; manifest is sound") {
    // the composed plan's oracle only ever sees the clean fixture, so
    // the degenerate branches (0-token cleaned docs at the percentile
    // gate, a language whose token mass collapses to 0 at the budget)
    // are pinned here: no crash, manifest ⊆ corpus, no duplicate docs,
    // and every manifest row carries a positive token count (a 0-token
    // doc can never be selected: cum_before < budget requires budget
    // > 0, and selecting it would add nothing but rows)
    forAllSampled(Gen.listOfN(20, docGen), n = 2) { generated =>
      val boiler = (0 until 3).map(i =>
        s"nav home about contact legal privacy terms search unique$i tail")
      val texts = edgeDocs.map(_._1) ++ boiler ++ generated
      val dir = writeDocs(texts)
      val rows = SparkEntry.queries("cp02_curation_v2")(spark, dir).collect()
      val ids = rows.map(_.getLong(0))
      assert(ids.distinct.length == ids.length, "duplicate manifest rows")
      assert(ids.forall(i => i >= 0 && i < texts.length))
      rows.foreach { r =>
        assert(r.getLong(2) >= 0, s"negative token count: $r")
      }
    }
  }

  test("lm01/cp03: adversarial docs keep census; bins and phases match a brute recount") {
    forAllSampled(Gen.listOfN(24, docGen)) { generated =>
      val texts = edgeDocs.map(_._1) ++ generated
      val dir = writeDocs(texts)
      val rows = SparkEntry.queries("lm01_familiarity_bins")(spark, dir)
        .collect()
      // census, in doc_id order (the entry's contract)
      assert(rows.map(_.getAs[Long]("doc_id")).toSeq ==
             texts.indices.map(_.toLong))
      // brute recount: bigram dictionary, integer micro-score, type-7
      // quantile (exact for integer order statistics at dyadic fracs —
      // the same argument the entry's cross-engine exactness rests on)
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, tokens(t)) }
      val bigrams = docs.map { case (id, w) =>
        id -> w.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq }
      val dict = bigrams.flatMap(_._2).groupBy(identity)
        .view.mapValues(_.size.toLong).toMap
      val fam = bigrams.collect { case (id, bgs) if bgs.nonEmpty =>
        id -> ((bgs.length.toLong, bgs.map(dict).sum * 1000000L / bgs.length))
      }.toMap
      val vals = fam.values.map(_._2).toSeq.sorted
      def quant(p: Double): Double =
        if (vals.length == 1) vals.head.toDouble
        else {
          val pos = p * (vals.length - 1)
          val idx = pos.toInt
          if (idx + 1 >= vals.length) vals(idx).toDouble
          else vals(idx) + (pos - idx) * (vals(idx + 1) - vals(idx))
        }
      if (fam.nonEmpty) {
        val (p25, p75) = (quant(0.25), quant(0.75))
        rows.foreach { r =>
          val id = r.getAs[Long]("doc_id")
          fam.get(id) match {
            case None =>
              assert(r.getAs[String]("bin") == "short")
              assert(r.getAs[Long]("n_bigrams") == 0L)
            case Some((nb, fm)) =>
              assert(r.getAs[Long]("n_bigrams") == nb)
              assert(r.getAs[Double]("p25_micro") == p25 &&
                     r.getAs[Double]("p75_micro") == p75,
                     s"cutoffs: ${r.getAs[Double]("p25_micro")} vs $p25")
              val bin = if (fm < p25) "tail"
                        else if (fm >= p75) "head" else "middle"
              assert(r.getAs[String]("bin") == bin,
                     s"doc $id fm=$fm p25=$p25 p75=$p75")
          }
        }
      } else rows.foreach(r => assert(r.getAs[String]("bin") == "short"))
      // cp03 rides the same bins: exactly the non-short docs, phases
      // mapped head→1 / middle→2 / tail→3
      val cp = SparkEntry.queries("cp03_curriculum_order")(spark, dir)
        .collect()
      val binById = rows.map(r =>
        r.getAs[Long]("doc_id") -> r.getAs[String]("bin")).toMap
      assert(cp.map(_.getAs[Long]("doc_id")).toSet ==
             binById.filter(_._2 != "short").keySet)
      cp.foreach { r =>
        val exp = binById(r.getAs[Long]("doc_id")) match {
          case "head" => 1; case "middle" => 2; case _ => 3
        }
        assert(r.getAs[Int]("phase") == exp)
      }
    }
  }

  test("bp02: adversarial docs keep census, strip matches a brute recount") {
    forAllSampled(Gen.listOfN(20, docGen), n = 2) { generated =>
      // three docs share an 8-word navigation chrome prefix so the
      // >= 3-doc flag genuinely fires (random short docs rarely collide)
      val boiler = (0 until 3).map(i =>
        s"nav home about contact legal privacy terms search unique$i tail")
      val texts = edgeDocs.map(_._1) ++ boiler ++ generated
      val dir = writeDocs(texts)
      val out = SparkEntry.queries("bp02_boilerplate_strip")(spark, dir)
        .collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      // census: every doc (incl. empty / whitespace-only) gets a row
      assert(out.keySet == texts.indices.map(_.toLong).toSet)
      // brute recount of the >= 3-doc 8-gram strip in plain Scala
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, tokens(t)) }
      val census = scala.collection.mutable.Map.empty[String, Set[Long]]
      docs.foreach { case (id, w) =>
        w.sliding(8).filter(_.length == 8).map(_.mkString(" "))
          .foreach(g => census(g) = census.getOrElse(g, Set.empty) + id)
      }
      val flagged = census.collect { case (g, ds) if ds.size >= 3 => g }.toSet
      docs.foreach { case (id, w) =>
        val covered = w.sliding(8).zipWithIndex
          .filter { case (g, _) => g.length == 8 && flagged(g.mkString(" ")) }
          .flatMap { case (_, p) => p until (p + 8) }.toSet
        val kept = w.zipWithIndex.collect { case (x, j) if !covered(j) => x }
        assert(out(id) == ((w.length.toLong, (w.length - kept.length).toLong,
                            kept.mkString(" "))),
               s"doc $id: ${out(id)} vs expected over ${w.mkString("|")}")
      }
    }
  }

  test("cp04: layout plan conserves docs and bytes; file numbers stay in range") {
    forAllSampled(Gen.listOfN(40, docGen)) { generated =>
      val texts = edgeDocs.map(_._1) ++ generated
      val dir = writeDocs(texts)
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val bySource = docs.groupBy("source")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"))
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val rows = SparkEntry.queries("cp04_layout_plan")(spark, dir).collect()
      // conservation: per source, manifest docs and chars sum to the
      // corpus census — no doc lost or double-assigned by the bucketing
      val manifest = rows.groupBy(_.getAs[String]("source"))
      assert(manifest.keySet == bySource.keySet)
      for ((src, rs) <- manifest) {
        val (nDocs, chars) = bySource(src)
        assert(rs.map(_.getAs[Long]("n_docs")).sum == nDocs, src)
        assert(rs.map(_.getAs[Long]("file_chars")).sum == chars, src)
        val nFiles = rs.map(_.getAs[Long]("n_files")).distinct
        assert(nFiles.length == 1, s"$src: inconsistent n_files $nFiles")
        // plan formula holds even for empty/degenerate sources, and
        // every assigned file number is a real planned file
        val expected = math.max(
          math.ceil(chars.toDouble /
            graft.analytics.CurationPipeline.LayoutTargetChars).toLong, 1L)
        assert(nFiles.head == expected, src)
        assert(rs.forall { r =>
          val f = r.getAs[Int]("file_no"); f >= 0 && f < nFiles.head
        }, src)
      }
    }
  }

  test("cp06: ledger conserves every doc; executed pipeline lands the kept cells exactly") {
    import org.apache.spark.sql.functions._
    val ledger = SparkEntry.queries("cp06_end_to_end")(spark, sf0001).collect()
    // conservation: docs in = kept + dropped-with-reason, exactly once
    val nDocs = spark.read.parquet(s"$sf0001/documents.parquet").count()
    assert(ledger.length.toLong == nDocs, "ledger lost or duplicated docs")
    assert(ledger.map(_.getAs[Long]("doc_id")).distinct.length.toLong == nDocs)
    val byVerdict = ledger.groupBy(_.getAs[String]("verdict"))
      .view.mapValues(_.length).toMap
    assert(byVerdict.keySet.subsetOf(Set(
      "quality", "duplicate", "decontaminated", "over_budget", "kept")),
      s"unknown verdicts: $byVerdict")
    assert(byVerdict.getOrElse("kept", 0) > 0 && byVerdict.size >= 2,
           s"degenerate pipeline: $byVerdict")
    // kept docs carry a planned file; dropped docs carry -1
    ledger.foreach { r =>
      assert((r.getAs[Int]("file_no") >= 0) ==
             (r.getAs[String]("verdict") == "kept"), s"$r")
    }
    // composition consistency: the quality stage is exactly dq02
    val dq02Dropped = SparkEntry.queries("dq02_quality_filters")(spark, sf0001)
      .filter(col("keep") === 0).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val qualityDropped = ledger
      .filter(_.getAs[String]("verdict") == "quality")
      .map(_.getAs[Long]("doc_id")).toSet
    assert(qualityDropped == dq02Dropped,
           "cp06's quality stage diverges from dq02")
    // executed write: one parquet data file per kept (source, file_no)
    // cell, counts matching the ledger cell for cell
    val outDir = java.nio.file.Files.createTempDirectory("cp06-out").toString
    graft.analytics.CurationPipeline.executePipeline(spark, sf0001, outDir)
    val planned = ledger.filter(_.getAs[String]("verdict") == "kept")
      .groupBy(r => (r.getAs[String]("source"), r.getAs[Int]("file_no")))
      .view.mapValues(_.length.toLong).toMap
    val root = new java.io.File(outDir)
    val cells = for {
      s <- root.listFiles().filter(_.isDirectory).toSeq
      f <- s.listFiles().toSeq if f.isDirectory
    } yield {
      val parts = f.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(parts.length == 1,
             s"${f.getPath}: ${parts.length} data files in one planned cell")
      (s.getName.stripPrefix("source="),
       f.getName.stripPrefix("file_no=").toInt)
    }
    assert(cells.toSet == planned.keySet,
           "landed cells differ from the ledger's kept cells")
    val landed = spark.read.parquet(outDir)
      .groupBy("source", "file_no").agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Int]("file_no")) ->
             r.getAs[Long]("n")).toMap
    assert(landed == planned, "landed doc counts differ from the ledger")
  }

  test("cp04: executed layout lands exactly the planned files, cell for cell") {
    import org.apache.spark.sql.functions._
    val outDir = java.nio.file.Files.createTempDirectory("cp04-layout").toString
    graft.analytics.CurationPipeline.executeLayout(spark, sf0001, outDir)
    // the oracle-checked manifest is the contract the landed layout
    // must honor
    val manifest = SparkEntry.queries("cp04_layout_plan")(spark, sf0001)
      .collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Int]("file_no")) ->
             (r.getAs[Long]("n_files"), r.getAs[Long]("n_docs"),
              r.getAs[Long]("file_chars"))).toMap
    // 1 parquet data file per planned (source, file_no) cell; per-source
    // file count == n_files
    val root = new java.io.File(outDir)
    val srcDirs = root.listFiles().filter(_.isDirectory)
    val cells = for {
      s <- srcDirs.toSeq; f <- s.listFiles().toSeq if f.isDirectory
    } yield {
      val parts = f.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(parts.length == 1,
             s"${f.getPath}: ${parts.length} data files in one planned cell")
      (s.getName.stripPrefix("source="),
       f.getName.stripPrefix("file_no=").toInt)
    }
    assert(cells.toSet == manifest.keySet,
           "landed cells differ from the planned manifest")
    cells.groupBy(_._1).foreach { case (src, cs) =>
      assert(cs.size.toLong == manifest((src, cs.head._2))._1,
             s"$src: files-per-source != planned n_files")
    }
    // read-back contents match the manifest doc counts and char sums
    val landed = spark.read.parquet(outDir)
      .groupBy("source", "file_no")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("file_chars"))
      .collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Int]("file_no")) ->
             (r.getAs[Long]("n_docs"), r.getAs[Long]("file_chars"))).toMap
    assert(landed.keySet == manifest.keySet)
    landed.foreach { case (k, (n, c)) =>
      assert((n, c) == (manifest(k)._2, manifest(k)._3), s"cell $k differs")
    }
    // near-uniform md5 bucketing: no landed file grossly over target
    manifest.foreach { case ((src, f), (nf, _, chars)) =>
      if (nf > 1)
        assert(chars < 3L * graft.analytics.CurationPipeline.LayoutTargetChars,
               s"$src/$f: $chars chars vs target " +
               s"${graft.analytics.CurationPipeline.LayoutTargetChars}")
    }
  }
}
