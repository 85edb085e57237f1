package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The session factory: fail-fast core parsing and the shared policy a
  * factory session carries. */
class GraftSessionSpec extends AnyFunSuite with Matchers {

  test("SPARK_GRAFT_CPUS parses fail-fast") {
    GraftSession.parseCores(None) shouldBe 4
    GraftSession.parseCores(Some("8")) shouldBe 8
    GraftSession.parseCores(Some(" 2 ")) shouldBe 2
    Seq("auto", "", "0", "-3", "4.5", "99999999999").foreach { v =>
      val e = intercept[IllegalArgumentException](GraftSession.parseCores(Some(v)))
      e.getMessage should include("SPARK_GRAFT_CPUS")
    }
  }

  test("factory session: extensions, UTC, one shuffle partition per core") {
    // a fresh session (extensions apply at build) on the shared
    // SparkContext; the previous default session is restored after
    val previous = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val spark = GraftSession.local(3)
    try {
      spark.sql("SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d))")
        .head().getDouble(0) shouldBe 11.0
      spark.conf.get("spark.sql.session.timeZone") shouldBe "UTC"
      spark.conf.get("spark.sql.shuffle.partitions") shouldBe "3"
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      previous.foreach(SparkSession.setDefaultSession)
    }
  }
}
