package graft

import org.apache.spark.sql.functions._

import graft.functions.Profiler

/** Specs for the distribution-shape profilers: equi-width histograms
  * and the key-skew (heavy-key) profile. */
class ProfilerShapeSpec extends SparkSpec {
  import spark.implicits._

  test("histogram golden: 0..15 into 4 bins of 4, max clamped to last bin") {
    val df = (0 to 15).map(_.toDouble).toDF("v")
    val got = Profiler.histogram(df, Seq("v"), nBins = 4)
      .collect().map(r => r.getInt(1) ->
        ((r.getDouble(2), r.getDouble(3), r.getLong(4)))).toMap
    got.keySet shouldBe Set(0, 1, 2, 3)
    // width = 15/4 = 3.75; v=15 hits (v-mn)/w == 4 exactly -> clamped
    got(0) shouldBe ((0.0, 3.75, 4L))
    got(1) shouldBe ((3.75, 7.5, 4L))
    got(2) shouldBe ((7.5, 11.25, 4L))
    got(3) shouldBe ((11.25, 15.0, 4L))
  }

  test("histogram: nulls excluded, all-null column emits nothing, min==max collapses") {
    val df = Seq(
      (Some(2.0), Option.empty[Double], Some(7.0)),
      (Some(2.0), None, Some(7.0)),
      (None, None, Some(7.0))).toDF("a", "b", "c")
    val got = Profiler.histogram(df, Seq("a", "b", "c"), nBins = 8)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4)))
    // a: two non-null equal values -> degenerate single bin, nulls dropped
    // b: all null -> absent entirely
    // c: constant -> single bin with lo == hi == value
    got.toSet shouldBe Set(
      ("a", 0, 2.0, 2.0, 2L),
      ("c", 0, 7.0, 7.0, 3L))
  }

  test("histogram bin counts sum to the non-null row count") {
    val rng = new scala.util.Random(7L)
    val df = (0 until 500).map(_ => rng.nextGaussian() * 10).toDF("v")
    val got = Profiler.histogram(df, Seq("v"), nBins = 16).collect()
    got.map(_.getLong(4)).sum shouldBe 500L
    got.map(_.getInt(1)).foreach { b => b should (be >= 0 and be < 16) }
  }

  test("keySkew golden: counts, ppm shares, null key counted, top-k order") {
    val df = (Seq.fill(5)(Some("a")) ++ Seq.fill(3)(Some("b")) ++
      Seq.fill(2)(Option.empty[String])).toDF("k")
    val got = Profiler.keySkew(df, $"k", k = 2)
      .collect().map(r => (Option(r.getString(0)), r.getLong(1),
        r.getLong(2)))
    got.toSeq shouldBe Seq(
      (Some("a"), 5L, 500000L),
      (Some("b"), 3L, 300000L))
    // k large enough: the null group shows up with its exact share
    val all = Profiler.keySkew(df, $"k", k = 10)
      .collect().map(r => (Option(r.getString(0)), r.getLong(1),
        r.getLong(2)))
    all.toSet should contain((None, 2L, 200000L))
  }

  test("equidepth golden: 1..8 into 2 buckets of 4 split at the median") {
    val df = (1 to 8).map(i => Tuple1(i.toDouble)).toDF("v")
    val got = Profiler.equidepth(df, col("v"), nBins = 2)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    got(0) shouldBe ((4L, 1.0, 4.0)) // v <= p50 (4.5)
    got(1) shouldBe ((4L, 5.0, 8.0))
  }

  test("equidepth: buckets partition the rows with non-overlapping ranges") {
    val li = Tables(spark, sf0001, "lineitem")
    val got = Profiler.equidepth(li, col("l_extendedprice"), nBins = 8)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).sortBy(_._1)
    got.map(_._1) shouldBe (0 until 8)
    got.map(_._2).sum shouldBe li.filter($"l_extendedprice".isNotNull).count()
    // ordered, non-overlapping: each bucket's hi <= next bucket's lo
    got.sliding(2).foreach { case Array(a, b) => a._4 should be <= b._3 }
    // roughly equal mass (exact percentile cuts; ties can skew a little)
    val per = got.map(_._2.toDouble)
    per.max / per.min should be < 1.5
  }

  test("per-group KMV: exact below k, within estimator error above") {
    val kmv = udaf(new LegacyAggregators.KmvAggregator(16))
    val tiny = Seq(("a", 1L), ("a", 2L), ("a", 2L), ("b", 9L))
      .toDF("g", "u")
    val t = tiny.groupBy($"g")
      .agg(kmv(graft.functions.Kmv.u32($"u")).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    t("a") shouldBe 2L // below k -> exact
    t("b") shouldBe 1L

    val ev = Tables(spark, sf0001, "events")
    val got = ev.groupBy($"event_type")
      .agg(countDistinct($"user_id").as("exact"),
        kmv(graft.functions.Kmv.u32($"user_id")).as("est"))
      .collect()
    got.foreach { r =>
      val (exact, est) = (r.getLong(1), r.getLong(2))
      est.toDouble should be >= exact * 0.4
      est.toDouble should be <= exact * 2.5
    }
  }

  test("partitionAdvice: goldens at known sizes; edges at the thresholds") {
    val p = graft.functions.Profiler
    def one(bytes: Long) =
      p.partitionAdvice("t", Seq(1).toDF("x"), lit(bytes))
        .as[(String, Long, Long, Long, Long, Boolean)].head()
    // 3 rows x 100 bytes: 1 partition, broadcastable, width 100
    p.partitionAdvice("t", Seq(1, 2, 3).toDF("x"), lit(100L))
      .as[(String, Long, Long, Long, Long, Boolean)]
      .head() shouldBe (("t", 3L, 300L, 100L, 1L, true))
    // exactly 10 MB still broadcasts; one byte more does not
    one(10485760L)._6 shouldBe true
    one(10485761L)._6 shouldBe false
    // exactly 128 MiB needs 1 partition; one byte more needs 2
    one(134217728L)._5 shouldBe 1L
    one(134217729L)._5 shouldBe 2L
  }

  test("KmvAgg estimate+sketch equal the udaf Aggregators, schema included") {
    import org.apache.spark.sql.functions.udaf
    val li = Tables(spark, sf001, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        col("l_partkey").cast("string").as("l_comment"))
      .repartition(7) // force partial buffers + merges
    for (k <- Seq(2, 16, 1024)) {
      val legacyEst = udaf(new LegacyAggregators.KmvAggregator(k))
      val legacySk = udaf(new LegacyAggregators.KmvSketchAggregator(k))
      val h = coalesce(
        graft.functions.Kmv.u32(col("l_comment")), lit(-1L))
      val oldDf = li.groupBy(col("l_suppkey") % 5)
        .agg(legacyEst(h).as("est"), legacySk(h).as("sk"))
      val newDf = li.groupBy(col("l_suppkey") % 5)
        .agg(graft.expressions.KmvAgg.estimate(h, k).as("est"),
          graft.expressions.KmvAgg.sketch(h, k).as("sk"))
      assert(newDf.schema == oldDf.schema,
        s"k=$k schema: ${newDf.schema} vs ${oldDf.schema}")
      val o = oldDf.collect().map(r => (r.get(0), r.getLong(1),
        r.getSeq[Long](2))).sortBy(_._1.toString)
      val n = newDf.collect().map(r => (r.get(0), r.getLong(1),
        r.getSeq[Long](2))).sortBy(_._1.toString)
      assert(o.toSeq == n.toSeq, s"k=$k values diverge")
    }
    // null-sentinel + all-null group behavior
    import spark.implicits._
    val edge = Seq((1, -1L), (1, 5L), (2, -1L)).toDF("g", "h")
    val got = edge.groupBy(col("g"))
      .agg(graft.expressions.KmvAgg.estimate(col("h"), 4).as("est"),
        graft.expressions.KmvAgg.sketch(col("h"), 4).as("sk"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2)))
      .sortBy(_._1)
    assert(got.toSeq == Seq((1, 1L, Seq(5L)), (2, 0L, Seq.empty[Long])))
  }
}
