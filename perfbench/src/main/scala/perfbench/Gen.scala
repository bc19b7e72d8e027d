package perfbench

import scala.collection.mutable
import scala.util.Random

/** Seeded input generators. Everything the program sees is produced
  * here from `--seed`; the same seed gives the same inputs. */
object Gen {

  // ---------------------------------------------------------------- corpus

  /** The text corpus model of the shipped sf0.1 `documents` table: words
    * drawn uniformly from a 30-word vocabulary (two of them stopwords),
    * 10–100 words per document, 5% planted near-duplicates (another
    * document's text plus " dup"), 0.16% exact copies, `lang` weighted
    * toward en, `source` = src(doc_id mod 20). Drawing fresh documents
    * from the same model (instead of salting copies of sf0.1) keeps the
    * stopword share and every quality stage's pass rate at sf0.1's. */
  val Vocab: IndexedSeq[String] = IndexedSeq(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch")
  private val Langs = IndexedSeq("en" -> 0.41, "de" -> 0.14, "es" -> 0.15,
                                 "fr" -> 0.15, "zh" -> 0.15)

  /** Quality-stage pass rates of the shipped sf0.1 corpus (5,000 docs),
    * measured with the `DataQuality.qualityFlags` rules: word count in
    * [20, 10000], a stopword present, duplicate-word fraction <= 0.5,
    * and all flags together. A generated corpus must land within
    * [[RateBand]] of each. */
  val Sf01Rates: Map[String, Double] = Map(
    "f_word_count" -> 0.8916, "f_stopword" -> 0.9108,
    "f_low_repetition" -> 0.4406, "keep" -> 0.2960)
  val RateBand = 0.04

  def randomText(rng: Random): String = text(rng, 10 + rng.nextInt(91))

  private def text(rng: Random, words: Int): String =
    Seq.fill(words)(Vocab(rng.nextInt(Vocab.size))).mkString(" ")

  private def lang(rng: Random): String = {
    val u = rng.nextDouble()
    var acc = 0.0
    Langs.find { case (_, w) => acc += w; u < acc }.getOrElse(Langs.head)._1
  }

  final case class Doc(docId: Long, text: String, lang: String,
                       source: String)

  /** Word counts are spread evenly over 10–100 and shuffled, not drawn
    * independently: the word-count and repetition pass rates then sit at
    * the model's value on every seed instead of scattering by sampling
    * noise across the validity band. */
  def documents(seed: Long, n: Int): IndexedSeq[Doc] = {
    val rng = new Random(seed * 7919L + 1L)
    val words = rng.shuffle((0 until n).map(i => 10 + i * 91 / n))
    val texts = words.map(w => text(rng, w)).toArray
    for (i <- 0 until n) {
      val u = rng.nextDouble()
      if (u < 0.05) texts(i) = texts(rng.nextInt(n)) + " dup"
      else if (u < 0.0516) texts(i) = texts(rng.nextInt(n))
    }
    (0 until n).map(i => Doc(i.toLong, texts(i), lang(rng), s"src${i % 20}"))
  }

  final case class Vec(vecId: Long, embedding: Array[Float], label: Int)

  def unitVector(rng: Random, dim: Int = 64): Array[Float] = {
    val v = Array.fill(dim)(rng.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  /** The sf0.1 `embeddings` model: 64-d unit Gaussian vectors, labels
    * uniform in 0..9 (label 0 is the decontamination benchmark). */
  def vectors(seed: Long, n: Int): IndexedSeq[Vec] = {
    val rng = new Random(seed * 104729L + 2L)
    (0 until n).map(i => Vec(i.toLong, unitVector(rng), rng.nextInt(10)))
  }

  // ------------------------------------------------------ artifact crawls

  val Classifications: IndexedSeq[String] =
    IndexedSeq("Coins", "Paintings", "Prints", "Drawings", "Sculpture")
  val PerClass = 2500
  val PageSize = 100
  val RecordsPerCrawl: Int = PerClass * Classifications.size
  /** Share of a crawl's records that repeat an id already seen in the
    * same crawl (pagination overlap). */
  val DupShare = 0.02
  /** Share of a crawl's records whose id was in the previous crawl of the
    * same cycle (re-collected objects, dropped by INSERT IGNORE). */
  val OverlapShare = 0.2

  private val Cultures = IndexedSeq("Byzantine", "Greek", "Roman", "American",
    "French", "Chinese", "Japanese", "Italian", "Dutch", "German", "Egyptian")
  private val Centuries = IndexedSeq("11th century", "5th century BCE",
    "1st century", "15th century", "16th century", "17th century",
    "18th century", "19th century", "20th century")
  private val Periods = IndexedSeq("Archaic period", "Classical period",
    "Hellenistic period", "Edo period", "Ming dynasty", "Middle Byzantine")
  private val Departments = IndexedSeq(
    "Department of Ancient and Byzantine Art & Numismatics",
    "Department of European and American Art",
    "Department of Asian and Mediterranean Art",
    "Department of Prints", "Department of Drawings")
  private val Media = IndexedSeq("Bronze", "Oil on canvas", "Etching",
    "Graphite on paper", "Marble", "Silver", "Terracotta")
  private val Methods = IndexedSeq("Gift", "Purchase", "Bequest", "Transfer")
  val Hues: IndexedSeq[String] = IndexedSeq("Grey", "Brown", "Red", "Blue",
    "Green", "Yellow", "Orange", "Black", "White", "Violet")
  private val Words = IndexedSeq("portrait", "coin", "vase", "study", "head",
    "figure", "landscape", "fragment", "bowl", "plate", "view", "saint")

  /** Number of colors an object carries (the ETL keeps the first 5). */
  def colorCount(seed: Long, id: Long): Int =
    new Random(seed * 31L + id * 1000003L).nextInt(8)

  /** One raw API record; its content depends only on (seed, id), so a
    * re-collected id is byte-identical. */
  def apiRecord(seed: Long, id: Long): String = {
    val rng = new Random(seed * 31L + id * 1000003L)
    val nColors = rng.nextInt(8)
    val cls = Classifications((id % Classifications.size).toInt)
    val b = new StringBuilder(512)
    def field(k: String, v: String): Unit = b ++= s""","$k":"$v""""
    def num(k: String, v: Long): Unit = b ++= s""","$k":$v"""
    b ++= s"""{"id":$id"""
    field("title", Seq.fill(1 + rng.nextInt(3))(Words(rng.nextInt(Words.size)))
      .mkString(" ") + s" $id")
    val byz = rng.nextDouble() < 0.06
    if (byz || rng.nextDouble() < 0.85)
      field("culture", if (byz) "Byzantine" else Cultures(1 + rng.nextInt(Cultures.size - 1)))
    if (rng.nextDouble() < 0.8)
      field("century", if (byz && rng.nextBoolean()) "11th century"
                       else Centuries(rng.nextInt(Centuries.size)))
    if (rng.nextDouble() < 0.55) field("period", Periods(rng.nextInt(Periods.size)))
    field("medium", Media(rng.nextInt(Media.size)))
    field("dimensions", f"${1 + rng.nextInt(90)} x ${1 + rng.nextInt(90)} cm")
    if (rng.nextDouble() < 0.7)
      field("description", Seq.fill(5 + rng.nextInt(120))(Words(rng.nextInt(Words.size)))
        .mkString(" "))
    field("department", Departments((id % Departments.size).toInt))
    field("classification", cls)
    if (rng.nextDouble() < 0.8) num("accessionyear", 1890 + rng.nextInt(134))
    field("accessionmethod", Methods(rng.nextInt(Methods.size)))
    if (rng.nextDouble() < 0.9) num("imagecount", rng.nextInt(6))
    num("mediacount", rng.nextInt(4))
    num("colorcount", nColors)
    num("rank", if (rng.nextDouble() < 0.03) 1 + rng.nextInt(10)
                else 11 + rng.nextInt(200000))
    if (rng.nextDouble() < 0.85) {
      val begin = if (rng.nextDouble() < 0.15) 1500 + rng.nextInt(101)
                  else -600 + rng.nextInt(2620)
      num("datebegin", begin)
      num("dateend", begin + rng.nextInt(100))
    }
    b ++= ""","colors":["""
    b ++= (0 until nColors).map { _ =>
      val hue = Hues(rng.nextInt(Hues.size))
      val hex = f"#${rng.nextInt(0x1000000)}%06x"
      f"""{"spectrum":"#${rng.nextInt(0x1000000)}%06x","hue":"$hue","color":"$hex",""" +
        f""""percent":${rng.nextDouble()}%.6f,"css3":"$hex"}"""
    }.mkString(",")
    b ++= "]}"
    b.toString
  }

  /** One cycle of collection runs: crawl 0 starts an empty store, each
    * later crawl re-collects [[OverlapShare]] of the previous crawl's ids
    * and repeats [[DupShare]] of its own records. `distinct` tracks the
    * ids the store holds after each crawl, which the correctness check
    * compares against the store's row counts. */
  final class Cycle(seed: Long, cycle: Int) {
    private val rng = new Random(seed * 1000033L + cycle)
    private var prev: IndexedSeq[Long] = IndexedSeq.empty
    private var next = 0L
    val distinct = mutable.HashSet.empty[Long]

    /** Ids of the next crawl in arrival order (classification by
      * classification, as the reference collects them). */
    def crawl(): IndexedSeq[Long] = {
      val prevByClass = prev.groupBy(id => (id % Classifications.size).toInt)
      val ids = Classifications.indices.flatMap { c =>
        val old = prevByClass.getOrElse(c, IndexedSeq.empty).distinct
        val nOld = if (old.isEmpty) 0 else (PerClass * OverlapShare).toInt
        val reuse = rng.shuffle(old).take(nOld)
        val fresh = (0 until PerClass - nOld).map { _ =>
          next += 1
          (cycle.toLong * 100000000L + next) * Classifications.size + c
        }
        val crawlC = rng.shuffle(reuse ++ fresh).toArray
        for (i <- 1 until crawlC.length if rng.nextDouble() < DupShare)
          crawlC(i) = crawlC(rng.nextInt(i))
        crawlC.toIndexedSeq
      }
      prev = ids
      distinct ++= ids
      ids
    }
  }

  def pages(seed: Long, ids: IndexedSeq[Long]): IndexedSeq[Seq[String]] =
    ids.grouped(PageSize).map(_.map(apiRecord(seed, _))).toIndexedSeq
}
