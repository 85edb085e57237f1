package graft

import scala.collection.mutable

import org.apache.spark.GraftSparkInternals
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The runner behind Bench, Verify, PlanDump and BenchIsolated. */
class QueryRunSpec extends SparkSpec {

  private def count(df: DataFrame): Unit = df.count(): Unit

  test("a throwing builder is recorded as a failure and the next query still runs") {
    val broken = QueryRun.run(spark, sf0001, "spec", "q_broken",
      (_: SparkSession, _: String) => throw new IllegalStateException("boom"))(count)
    broken.ok shouldBe false
    broken.error.map(_.getMessage) shouldBe Some("boom")
    val sinkBroken = QueryRun.run(spark, sf0001, "spec", "q_sink",
      (s: SparkSession, _: String) => s.range(3).toDF())(_ => sys.error("sink"))
    sinkBroken.error.map(_.getMessage) shouldBe Some("sink")
    var rows = -1L
    val next = QueryRun.run(spark, sf0001, "spec", "q_next",
      (s: SparkSession, _: String) => s.range(5).toDF())(df => rows = df.count())
    next.ok shouldBe true
    next.name shouldBe "q_next"
    next.seconds should be > 0.0
    rows shouldBe 5L
  }

  test("every job of a run, DriverJobs' pool jobs included, carries the query name as job group") {
    val sc = spark.sparkContext
    // start the pool threads outside any group: a thread created inside
    // the run would inherit the group without DriverJobs copying it
    DriverJobs.runAll(sc)(Seq.fill(8)(() => spark.range(1).count()))
    GraftSparkInternals.drainListenerBus(sc, 60000L) shouldBe true
    val groups = mutable.ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = groups.synchronized {
        groups += Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      }
    }
    sc.addSparkListener(listener)
    val outcome =
      try QueryRun.run(spark, sf0001, "spec", "q_grouped", { (s: SparkSession, _: String) =>
        s.range(10).count()
        DriverJobs.runAll(s.sparkContext)(Seq(() => s.range(7).count(), () => s.range(9).count()))
        s.range(4).toDF()
      })(count)
      finally {
        GraftSparkInternals.drainListenerBus(sc, 60000L) shouldBe true
        sc.removeSparkListener(listener)
      }
    outcome.ok shouldBe true
    groups.size should be >= 4
    groups.distinct shouldBe Seq("q_grouped")
    sc.getLocalProperty("spark.jobGroup.id") shouldBe null
    sc.getLocalProperty("spark.job.description") shouldBe null
  }

  test("blocks the run persisted or checkpointed are dropped; blocks persisted before it stay") {
    val sc = spark.sparkContext
    val kept = spark.range(20).toDF("k").persist()
    kept.count()
    val before = sc.getPersistentRDDs.keySet
    val created = mutable.Set.empty[Int]
    val outcome = QueryRun.run(spark, sf0001, "spec", "q_blocks", { (s: SparkSession, _: String) =>
      val cached = s.range(30).toDF("c").persist()
      cached.count()
      val checkpointed = s.range(40).toDF("p").localCheckpoint()
      created ++= sc.getPersistentRDDs.keySet -- before
      cached.crossJoin(checkpointed.limit(1))
    })(count)
    try {
      outcome.ok shouldBe true
      created.size should be >= 2
      sc.getPersistentRDDs.keySet shouldBe before
      kept.count() shouldBe 20L
    } finally kept.unpersist()
  }

  test("digest equals the inline all-columns decimal digest it replaced") {
    val df = spark.range(0, 40).selectExpr(
      "id",
      "cast(id * 7 % 13 as int) as k",
      "concat('row-', cast(id as string)) as s",
      "if(id % 5 = 0, null, cast(id as double) / 4) as d")
    QueryRun.digest(df) shouldBe new java.math.BigDecimal("26398472640652403075")
  }

  test("resolve keeps catalog names in the order given and names every unknown one") {
    val known = QueryRun.names.take(2).reverse
    QueryRun.resolve(known) shouldBe known
    QueryRun.resolve(Nil) shouldBe Nil
    val e = intercept[IllegalArgumentException] {
      QueryRun.resolve(known ++ Seq("no_such_query", "nor_this_one"))
    }
    e.getMessage should include("no_such_query, nor_this_one")
  }

  test("names lists the catalog in SparkEntry.queries' iteration order") {
    QueryRun.names shouldBe SparkEntry.queries.keys.toSeq
    QueryRun.names.size shouldBe 258
  }
}
