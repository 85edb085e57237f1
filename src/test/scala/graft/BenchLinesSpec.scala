package graft

import java.nio.file.Files

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Bench's stdout tail contract: result parsers read a 2,000-char tail,
  * so the short "total" line must be last, short, and unique. */
class BenchLinesSpec extends AnyFunSuite with Matchers {

  test("short total line is last, under 1,000 chars, and the only total line") {
    val results = Map("q_a" -> 1.5, "q_b" -> 0.25, "q_c" -> 2.0)
    val prior = Map("q_a" -> 1.0, "q_c" -> 4.0)
    val lines = Bench.resultLines(results, Seq("q_b"), prior, 4, "/data/sf0.1")
    lines.count(_.contains("\"metric\":\"total\"")) shouldBe 1
    lines.last should include("\"metric\":\"total\"")
    lines.last.length should be < 1000
    val full = parse(lines.head)
    full \ "metric" shouldBe JString("total_full")
    full \ "failed" shouldBe JArray(List(JString("q_b")))
    val short = parse(lines.last)
    short \ "n" shouldBe JInt(3)
    short \ "ratio_median" shouldBe JDouble(1.5)
    // the artifact the next run compares against still yields the map
    val f = Files.createTempFile("bench-out", ".json")
    try {
      Files.writeString(f, lines.head + "\n")
      Bench.priorQueries(f.toString) shouldBe results
    } finally Files.delete(f)
  }

  test("mass failure: all 258 queries fail, the short line names a few and stays under 1,000 chars") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    names.size shouldBe 258
    val lines = Bench.resultLines(names.map(_ -> 0.5).toMap, names, Map.empty, 4, "/data/sf0.1")
    lines.last.length should be < 1000
    val short = parse(lines.last)
    short \ "failed_n" shouldBe JInt(258)
    short \ "failed" shouldBe JArray(names.take(Bench.ShortFailedNames).map(JString(_)).toList)
    (parse(lines.head) \ "failed").children.size shouldBe 258
  }
}
