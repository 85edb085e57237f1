package graft.tools

import java.nio.file.{Files, Path}

import org.json4s._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** BenchIsolated appends a round to its artifact, so it must never
  * rewrite history it could not read. */
class BenchIsolatedSpec extends AnyFunSuite with Matchers {

  private def withFile[T](content: Option[String])(body: Path => T): T = {
    val dir = Files.createTempDirectory("bench-isolated")
    val f = dir.resolve("BENCH_ISOLATED.json")
    content.foreach(Files.writeString(f, _))
    try body(f)
    finally { Files.deleteIfExists(f); Files.delete(dir) }
  }

  test("a missing artifact starts empty") {
    withFile(None)(f => BenchIsolated.priorRounds(f.toString) shouldBe Nil)
  }

  test("a keyed artifact yields its rounds in file order") {
    val keyed =
      """{
        |  "r1@abc": {"sf": "/d", "cpus": 4, "q": {"cold": 1.5, "warm": 1.0}},
        |  "r2@def": {"sf": "/d", "cpus": 4}
        |}""".stripMargin
    withFile(Some(keyed)) { f =>
      val rounds = BenchIsolated.priorRounds(f.toString)
      rounds.map(_._1) shouldBe List("r1@abc", "r2@def")
      rounds.head._2 \ "q" \ "warm" shouldBe JDouble(1.0)
    }
  }

  test("a corrupt or truncated artifact fails and is left as it is") {
    val truncated = """{"r1@abc": {"sf": "/d", "cpus": 4, "q": {"cold": 1.5"""
    withFile(Some(truncated)) { f =>
      val e = intercept[IllegalStateException](BenchIsolated.priorRounds(f.toString))
      e.getMessage should include("not a JSON object keyed by round")
      Files.readString(f) shouldBe truncated
    }
  }

  test("a flat artifact, not keyed by round, fails") {
    val flat = """{"sf": "/d", "cpus": 4, "q": {"cold": 1.5, "warm": 1.0}}"""
    withFile(Some(flat)) { f =>
      intercept[IllegalStateException](BenchIsolated.priorRounds(f.toString))
    }
    withFile(Some("[1, 2]")) { f =>
      intercept[IllegalStateException](BenchIsolated.priorRounds(f.toString))
    }
  }

  test("the committed artifact is keyed by round") {
    BenchIsolated.priorRounds("BENCH_ISOLATED.json").size should be > 1
  }

  test("auto mode picks every ratio over 2.5, integer ones included") {
    withFile(Some("""{"ratios_vs_prior": {"top": {"a": 3, "b": 2.6, "c": 1.2, "d": 12345678901}}}""")) { f =>
      BenchIsolated.autoOutliers(f.toString) shouldBe Seq("a", "b", "d")
    }
  }
}
