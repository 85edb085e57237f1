package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for all specs (one JVM-wide session; ScalaTest
  * runs suites sequentially in the forked JVM). */
object SparkSpec {
  lazy val spark: SparkSession = GraftSession.local(4)
}

abstract class SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = SparkSpec.spark
  def sf0001 = "/root/testdata/sf0.001"
  def sf001 = "/root/testdata/sf0.01"

  /** Every message along the cause chain of what `run` throws (a task
    * failure wraps the executor's exception). */
  def failure(run: => Any): String = {
    val e = intercept[Exception](run)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("\n")
  }

  /** Runs `body` with AQE partition coalescing off, so a small range
    * shuffle keeps its partitions (and the per-partition bases of a
    * two-pass running sum get checked). */
  def uncoalesced[T](body: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val previous = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, previous)
  }
}
