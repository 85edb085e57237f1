package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** The query catalog against a fixture of its names, in `queries`
  * iteration order, and the SHA-256 of each oracle string
  * (`catalog_oracles.tsv`, captured before the catalog became one
  * registry). A changed oracle, a lost or added query, or a changed
  * iteration order (Bench runs the queries in that order) fails here. */
class CatalogSpec extends AnyFunSuite {

  private lazy val fixture: Seq[(String, String)] = {
    val src = scala.io.Source.fromResource("graft/catalog_oracles.tsv")(
      scala.io.Codec.UTF8)
    try src.getLines().filter(_.nonEmpty).map { line =>
      val Array(name, sha) = line.split('\t')
      name -> sha
    }.toList
    finally src.close()
  }

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  test("both maps iterate the fixture's names in the fixture's order") {
    assert(fixture.size == 258)
    assert(SparkEntry.queries.keys.toSeq == fixture.map(_._1))
    assert(SparkEntry.oracleSql.keys.toSeq == fixture.map(_._1))
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("every oracle string hashes to the fixture") {
    val changed = fixture.collect {
      case (name, sha) if sha256(SparkEntry.oracleSql(name)) != sha => name
    }
    assert(changed.isEmpty, s"oracles changed: ${changed.mkString(", ")}")
  }

  test("a registry with a repeated name is rejected") {
    val q = QuerySpec("q", (s, _) => s.emptyDataFrame, "SELECT 1")
    assert(QuerySpec.registry(Seq(q, q.copy(name = "r"))).map(_.name) ==
      Seq("q", "r"))
    val e = intercept[IllegalArgumentException] {
      QuerySpec.registry(Seq(q, q.copy(name = "r"), q.copy(oracle = "SELECT 2")))
    }
    assert(e.getMessage.contains("repeated query names: q"))
  }
}
