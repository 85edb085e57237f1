package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.functions.Vectors
import graft.operators.Dedup

/** Proves the custom expressions' doGenCode paths actually compile and
  * run: with codegen fallback disabled, a broken generated-Java template
  * fails the query instead of silently degrading to interpreted eval. */
class CodegenOnlySpec extends AnyFunSuite with Matchers {

  test("custom expression codegen compiles (no silent interpreted fallback)") {
    val previous = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val spark = GraftSession.local(2, "spark.sql.codegen.fallback" -> "false")
    try {
      import spark.implicits._
      import org.apache.spark.sql.functions._
      val df = Seq(
        (Seq(1.0f, 2.0f, 3.0f), "a b c d e"),
        (Seq(0.5f, -1.0f, 2.5f), "x y z"))
        .toDF("vec", "text")
      val out = df.select(
        Vectors.dot($"vec", $"vec").as("d"),
        Dedup.simhash($"text").as("sh"),
        Dedup.minhashSignature(Dedup.shingles($"text", 2), 16, 7L).as("sig"))
        .collect()
      out.length shouldBe 2
      out(0).getDouble(0) shouldBe 14.0
      out(0).getAs[Seq[Long]]("sig").length shouldBe 16
      // AdcLookup: flat subspace-major LUT, ascending-j sum; same
      // values as the nested element_at chain it replaced
      val adc = Seq((Seq(1, 0), Seq(10.0, 20.0, 30.0, 40.0)))
        .toDF("codes", "lut")
        .select(graft.expressions.AdcLookup($"codes", $"lut").as("s"))
        .collect()
      adc(0).getDouble(0) shouldBe (20.0 + 30.0) // lut[0*2+1] + lut[1*2+0]
      // out-of-range code fails loudly, not silently
      val bad = intercept[Exception] {
        Seq((Seq(2, 0), Seq(10.0, 20.0, 30.0, 40.0))).toDF("codes", "lut")
          .select(graft.expressions.AdcLookup($"codes", $"lut").as("s"))
          .collect()
      }
      bad.getMessage should include("out of range")
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      previous.foreach(SparkSession.setDefaultSession)
    }
  }
}
