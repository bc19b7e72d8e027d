package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** Bench's committed-history parser (the slow-window re-measure
  * guard's input), on fixture files in a temp dir: which file of a
  * generation vouches, and that every degraded case says so. */
class BenchHistorySpec extends AnyFunSuite {
  private val sf = "/data/sf0.1"
  private val files = Seq("A.json", "B.json", "C.json")

  private def dir(fixtures: (String, String)*): Path = {
    val d = Files.createTempDirectory("bench-history")
    fixtures.foreach { case (name, body) =>
      Files.write(d.resolve(name), body.getBytes(UTF_8))
    }
    d
  }

  private def run(d: Path): (Map[String, Double], Seq[String]) = {
    val lines = Seq.newBuilder[String]
    val h = Bench.history(d.toString, files, sf, "degraded", lines += _)
    (h, lines.result())
  }

  /** Every warning line is ASCII: a tool main's console stream may not
    * be UTF-8, where any other character prints as `?`. */
  private def ascii(warns: Seq[String]): Boolean = warns.forall(_.forall(_ < 128))

  private def bench(queries: String, sfDir: String = sf): String =
    s"""{"metric":"total","value":9.0,"unit":"sec","queries":{$queries},""" +
      s""""failed":[],"sf":"$sfDir"}"""

  test("a same-sf file vouches, quietly; a failed (null) entry is left out") {
    val (h, warns) = run(dir("A.json" -> bench(""""q1":1.500,"q2":0.250,"q3":null""")))
    assert(h == Map("q1" -> 1.5, "q2" -> 0.25))
    assert(warns.isEmpty, warns)
  }

  test("another sf's file is ignored, and the empty generation is reported") {
    val (h, warns) = run(dir("A.json" -> bench(""""q1":1.5""", "/data/sf1")))
    assert(h.isEmpty)
    assert(warns.size == 1 && warns.head.contains("NO same-sf committed history") &&
      warns.head.contains(sf) && warns.head.contains("degraded") &&
      ascii(warns), warns)
  }

  test("the queries object ends at the `},\"failed\"` anchor, not the first brace") {
    val (h, _) = run(dir("A.json" ->
      bench(""""q1":1.0,"q2":{"p50":9.0},"q3":2.0""")))
    assert(h.get("q1").contains(1.0) && h.get("q3").contains(2.0), h)
    // a hand-trimmed file without the anchor falls back to the flat brace
    val (flat, warns) = run(dir("A.json" -> s"""{"queries":{"q1":1.0},"sf":"$sf"}"""))
    assert(flat == Map("q1" -> 1.0) && warns.isEmpty, (flat, warns))
  }

  test("the first candidate with a same-sf map wins; missing files skip quietly") {
    val other = bench(""""q1":1.0""", "/data/sf1")
    val b = bench(""""q1":2.0""")
    val c = bench(""""q1":3.0""")
    assert(run(dir("A.json" -> other, "B.json" -> b, "C.json" -> c)) ==
      ((Map("q1" -> 2.0), Nil)))
    assert(run(dir("A.json" -> c, "B.json" -> b)) == ((Map("q1" -> 3.0), Nil)))
    assert(run(dir("C.json" -> c)) == ((Map("q1" -> 3.0), Nil)))
    assert(Bench.HistoryFiles.map(Bench.previous) ==
      Seq("BENCH_QUERIES_PREV.json", "BENCH_SF01_PREV.json", "BENCH_SF1_PREV.json"))
  }

  test("a malformed file yields an empty map plus one line naming it") {
    val (h, warns) = run(dir("A.json" -> """{"metric":"total","value":1"""))
    assert(h.isEmpty)
    assert(warns.size == 2 && warns.head.contains("A.json") &&
      warns.head.contains("skipped") && warns(1).contains("NO same-sf") &&
      ascii(warns), warns)
    // an unparsable number is malformed too, and a later good file vouches
    val (h2, warns2) = run(dir("A.json" -> bench(""""q1":1.2.3"""),
      "B.json" -> bench(""""q1":2.0""")))
    assert(h2 == Map("q1" -> 2.0), h2)
    assert(warns2.size == 1 && warns2.head.contains("A.json") &&
      warns2.head.contains("NumberFormatException"), warns2)
  }
}
