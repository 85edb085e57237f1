package graft

import org.apache.spark.sql.functions._

import graft.functions.{CountMin, Profiler}
import graft.operators.{SortedExport, Splits}

/** Specs for the round-4 final-commit operators that landed untested
  * (VERDICT r4 item 4): Count-Min estimation, sequential-Poisson
  * weighted sampling, Tukey-fence outlier screening, and deterministic
  * range-sharded export. Golden values are hand-derived; fuzz inputs
  * are seeded.
  */
class PipelineStatsSpec extends SparkSpec {
  import spark.implicits._

  private val rng = new scala.util.Random(20260814L)

  /** u32(md5(s)) — the engine-portable hash both the operators and the
    * DuckDB oracles use, replicated here independently. */
  private def u32md5(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(
      d.take(4).map(b => f"${b & 0xff}%02x").mkString, 16)
  }

  // ------------------------------------------------------------ CountMin

  test("CountMin never undercounts, and is exact without collisions") {
    val terms = (0 until 500).map(i => s"t${rng.nextInt(40)}")
    val df = terms.toDF("term")
    val exact = terms.groupBy(identity).map { case (t, xs) =>
      t -> xs.size.toLong
    }
    val sk = CountMin.sketch(df, $"term", depth = 4, width = 2048)
    val cand = exact.keys.toSeq.toDF("term")
    val est = CountMin.estimate(sk, cand, $"term", depth = 4, width = 2048)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    est.keySet shouldBe exact.keySet
    exact.foreach { case (t, c) =>
      est(t) should be >= c // the CMS invariant: only over-counts
    }
    // 40 distinct terms in a 4x2048 sketch: collision probability per
    // (term, row) is 39/2048; the min over 4 rows is exact unless a
    // term collides in ALL rows (p < 4e-8) — assert full exactness
    est shouldBe exact
  }

  test("CountMin width=1 golden: every cell is the total, absent term too") {
    val df = Seq("a", "a", "b", "c").toDF("term")
    val sk = CountMin.sketch(df, $"term", depth = 2, width = 1)
    sk.collect().map(_.getLong(2)).foreach(_ shouldBe 4L)
    val est = CountMin.estimate(sk, Seq("a", "zz").toDF("term"), $"term",
      depth = 2, width = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    est("a") shouldBe 4L  // full collision: estimate = stream length
    est("zz") shouldBe 4L // even for a term never inserted
  }

  test("joinCardinalityByRow: rows only overestimate; exact without collisions") {
    val as = (0 until 300).map(_ => s"k${rng.nextInt(30)}")
    val bs = (0 until 200).map(_ => s"k${rng.nextInt(50)}")
    val fa = as.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val fb = bs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val trueSize = fa.keySet.intersect(fb.keySet)
      .toSeq.map(k => fa(k) * fb(k)).sum
    val ska = CountMin.sketch(as.toDF("k"), $"k", depth = 4, width = 2048)
    val skb = CountMin.sketch(bs.toDF("k"), $"k", depth = 4, width = 2048)
    val rows = CountMin.joinCardinalityByRow(ska, skb)
      .as[(Int, Long)].collect().toMap
    rows.keySet shouldBe Set(0, 1, 2, 3)
    rows.values.foreach(_ should be >= trueSize) // AMS: never under
    // pure-Scala replay of the same md5 cells: the operator's per-row
    // inner products must match exactly (no probability assumptions —
    // cross-pair collisions make w.h.p.-exactness claims wrong here)
    def cellOf(d: Int, t: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$d:$t".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16) % 2048L
    }
    val expect = (0 until 4).map { d =>
      val ca = fa.toSeq.groupBy(kv => cellOf(d, kv._1))
        .view.mapValues(_.map(_._2).sum).toMap
      val cb = fb.toSeq.groupBy(kv => cellOf(d, kv._1))
        .view.mapValues(_.map(_._2).sum).toMap
      d -> ca.keySet.intersect(cb.keySet)
        .toSeq.map(c => ca(c) * cb(c)).sum
    }.toMap
    rows shouldBe expect
    // width=1 degenerate: every row's inner product = |A| * |B|
    val s1a = CountMin.sketch(as.toDF("k"), $"k", depth = 2, width = 1)
    val s1b = CountMin.sketch(bs.toDF("k"), $"k", depth = 2, width = 1)
    CountMin.joinCardinalityByRow(s1a, s1b)
      .as[(Int, Long)].collect().foreach(_._2 shouldBe 300L * 200L)
  }

  test("joinAdvice: every rung of the ladder; stats and estimate exact") {
    def df(pairs: Seq[Long]) = pairs.map(k => Tuple1(k)).toDF("k")
    def advice(l: Seq[Long], r: Seq[Long], limit: Long = 10L,
               skew: Long = 1L): (String, Long) = {
      val row = Profiler.joinAdvice("t", df(l), $"k", df(r), $"k",
        broadcastLimit = limit, skewPct = skew).collect().head
      (row.getAs[String]("advice"), row.getAs[Long]("est_join_rows"))
    }
    // tiny right side -> broadcast_right (takes precedence)
    advice((1L to 100L), (1L to 5L))._1 shouldBe "broadcast_right"
    // tiny left side only -> broadcast_left
    advice((1L to 5L), (1L to 100L))._1 shouldBe "broadcast_left"
    // one key holds 50% of the left -> salt_skewed
    val skewed = Seq.fill(50)(7L) ++ (1L to 50L)
    advice(skewed, (1L to 100L))._1 shouldBe "salt_skewed"
    // high-fanout many-to-many, no single hot key -> pre_aggregate
    val fan = (1L to 20L).flatMap(k => Seq.fill(30)(k))
    val (adv, est) = advice(fan, fan, skew = 10L)
    adv shouldBe "pre_aggregate"
    est shouldBe 20L * 30L * 30L // no collisions at this width: exact
    // big unique-keyed sides -> sort_merge
    advice((1L to 500L), (1L to 500L))._1 shouldBe "sort_merge"
    // stats columns are the exact profile
    val row = Profiler.joinAdvice("t", df(skewed), $"k",
      df((1L to 30L)), $"k").collect().head
    row.getAs[Long]("n_left") shouldBe 100L
    row.getAs[Long]("distinct_left") shouldBe 50L // key 7 is in 1..50
    row.getAs[Long]("max_freq_left") shouldBe 51L // 50 fills + 1 range hit
    row.getAs[Long]("n_right") shouldBe 30L
  }

  test("CountMin absent term estimates 0 in a wide sketch") {
    val sk = CountMin.sketch(Seq("a", "b").toDF("term"), $"term",
      depth = 4, width = 2048)
    val est = CountMin.estimate(sk, Seq("never-seen").toDF("term"),
      $"term", depth = 4, width = 2048).collect()
    est.head.getLong(1) shouldBe 0L
  }

  // ------------------------------------------------- sampleWeighted

  private def weightedDf(n: Int) =
    (1 to n).map(i => (i.toLong, (i % 37) * 1000L + 1L)).toDF("id", "w")

  test("sampleWeighted key is exactly u32(md5(id)) * 2^20 div weight") {
    val df = Seq((7L, 100L), (8L, 1L), (9L, 2147483647L)).toDF("id", "w")
    val got = Splits.sampleWeighted(df, $"id", $"w", k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    Seq((7L, 100L), (8L, 1L), (9L, 2147483647L)).foreach { case (id, w) =>
      got(id) shouldBe u32md5(id.toString) * 1048576L / w
    }
  }

  test("sampleWeighted: k=50 is a prefix of k=200 (sample refinement)") {
    val df = weightedDf(400)
    val k50 = Splits.sampleWeighted(df, $"id", $"w", 50)
      .collect().map(_.getLong(0)).toSet
    val k200 = Splits.sampleWeighted(df, $"id", $"w", 200)
      .collect().map(_.getLong(0)).toSet
    k50.size shouldBe 50
    k200.size shouldBe 200
    k50.subsetOf(k200) shouldBe true
  }

  test("sampleWeighted is monotone in weight: heavier rows never rank worse") {
    val base = weightedDf(300)
    val heavier = base.withColumn("w", $"w" * 2)
    val kb = Splits.sampleWeighted(base, $"id", $"w", 300)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val kh = Splits.sampleWeighted(heavier, $"id", $"w", 300)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    kb.foreach { case (id, key) => kh(id) should be <= key }
  }

  test("sampleWeighted rejects weights outside [1, 2^31)") {
    val bad = Seq((1L, 0L)).toDF("id", "w")
    val e = intercept[Exception] {
      Splits.sampleWeighted(bad, $"id", $"w", 1).collect()
    }
    e.getMessage should include("outside [1, 2^31)")
  }

  // ---------------------------------------------- Profiler.outliers

  test("winsorize golden: outlier clamps to the fence, sum robust") {
    // 1..7 plus a 1e6 outlier: quartiles of 8 sorted values ->
    // q1 2.75, q3 6.25 (outliers-spec numbers), fences -2.5 / 11.5;
    // the outlier contributes 11.5, not 1e6 (exact verification twin)
    val df = (Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 1000000L)).toDF("v")
    val r = Profiler.winsorize(df, Seq("v"), exact = true)
      .collect().head
    r.getString(0) shouldBe "v"
    r.getDouble(1) shouldBe -2.5
    r.getDouble(2) shouldBe 11.5
    r.getLong(3) shouldBe 0L
    r.getLong(4) shouldBe 1L
    // sum = 1+..+7 + 11.5 = 39.5 -> e4
    r.getLong(5) shouldBe 395000L
    r.getLong(6) shouldBe 8L
    // empty column: null fences and sum, zero counts
    val e = Profiler.winsorize(df.filter($"v" < 0), Seq("v"))
      .collect().head
    e.isNullAt(1) shouldBe true
    e.isNullAt(5) shouldBe true
    e.getLong(3) shouldBe 0L
    e.getLong(6) shouldBe 0L
  }

  test("winsorize default (binned rounds=2) stays outlier-robust") {
    // the same 1e6-contaminated column: ONE histogram round would put
    // both quartiles at the first cell edge (~245 — range/4096, i.e.
    // fences poisoned by the very outlier they exist to clamp); the
    // round-2 refinement re-histograms inside the data-dense cell, so
    // the fences land near the exact ones (within the round-2 width
    // 1e6/4096^2 per quartile) and the outlier still clips
    val df = (Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 1000000L)).toDF("v")
    val r = Profiler.winsorize(df, Seq("v")).collect().head
    r.getDouble(1) should (be > -6.0 and be < 0.0) // exact: -2.5
    r.getDouble(2) should (be > 10.0 and be < 14.0) // exact: 11.5
    r.getLong(3) shouldBe 0L
    r.getLong(4) shouldBe 1L // the outlier clips
    // clipped sum stays ~39.5, nowhere near the 1e6 a poisoned fence
    // would admit
    r.getLong(5) should (be > 300000L and be < 500000L)
  }

  test("binnedCuts agrees with exact percentile on lineitem (twin)") {
    val li = Tables(spark, sf0001, "lineitem")
    val exact = li
      .agg(expr("percentile(l_extendedprice, array(0.25, 0.75))"))
      .head().getSeq[Double](0)
    val binned = Profiler.binnedCuts(li, col("l_extendedprice"),
      n => Seq((n + 3) / 4, (3 * n + 3) / 4), rounds = 2).get
    // binned targets the ceil-rank order statistic, exact percentile
    // interpolates — agreement within 0.5% relative is the contract
    binned.zip(exact).foreach { case (b, e) =>
      math.abs(b - e) / e should be < 0.005
    }
  }

  test("outliers golden: hand-derived Tukey fences and tail counts") {
    val df = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 100L).toDF("v")
    val r = Profiler.outliers(df, Seq("v")).collect()
    r.length shouldBe 1
    val row = r.head
    row.getString(0) shouldBe "v"
    // interpolated quartiles of 8 sorted values: idx .25*7=1.75 -> 2.75,
    // idx .75*7=5.25 -> 6.25; IQR 3.5 -> fences -2.5 / 11.5
    row.getDouble(1) shouldBe 2.75
    row.getDouble(2) shouldBe 6.25
    row.getDouble(3) shouldBe -2.5
    row.getDouble(4) shouldBe 11.5
    row.getLong(5) shouldBe 0L  // nothing below -2.5
    row.getLong(6) shouldBe 1L  // only 100 above 11.5
  }

  test("outliers: empty input and all-null columns yield null fences, zero counts") {
    val empty = spark.emptyDataFrame
      .withColumn("v", lit(null).cast("long"))
    val r1 = Profiler.outliers(empty, Seq("v")).collect()
    r1.length shouldBe 1
    r1.head.isNullAt(1) shouldBe true
    r1.head.getLong(5) shouldBe 0L
    r1.head.getLong(6) shouldBe 0L
    // one real column + one all-null column, in one call
    val mixed = Seq((1L, Option.empty[Long]), (2L, None), (3L, None))
      .toDF("a", "b")
    val r2 = Profiler.outliers(mixed, Seq("a", "b"))
      .collect().map(r => r.getString(0) -> r).toMap
    r2("a").getDouble(1) shouldBe 1.5
    r2("a").getDouble(2) shouldBe 2.5
    r2("b").isNullAt(1) shouldBe true
    r2("b").getLong(5) shouldBe 0L
    r2("b").getLong(6) shouldBe 0L
  }

  // ------------------------------------------------- SortedExport

  test("assignShards fuzz: shards are a monotone partition of the key order") {
    val n = 800
    // duplicates on purpose: ties must stay in the lower shard together
    val rows = (0 until n).map(i => (i.toLong, rng.nextInt(200).toDouble))
    val df = rows.toDF("id", "k")
    for (nShards <- Seq(2, 5, 8)) {
      val got = SortedExport.assignShards(df, "k", nShards)
        .select($"id", $"k", $"shard").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
      got.length shouldBe n // every row assigned exactly once
      got.foreach { case (_, _, s) =>
        s should be >= 0
        s should be < nShards
      }
      // ranges never overlap: max key of shard i <= min key of shard i+1
      val byShard = got.groupBy(_._3).toSeq.sortBy(_._1)
      byShard.sliding(2).foreach {
        case Seq((_, lo), (_, hi)) =>
          lo.map(_._2).max should be <= hi.map(_._2).min
        case _ => ()
      }
      // equal keys land in the same shard (cuts can't split ties)
      got.groupBy(_._2).values.foreach { same =>
        same.map(_._3).distinct.length shouldBe 1
      }
    }
  }

  test("assignShards balances distinct keys to ~n/nShards per shard") {
    val df = (0 until 800).map(i => (i.toLong, i.toDouble)).toDF("id", "k")
    val sizes = SortedExport.assignShards(df, "k", 8)
      .groupBy($"shard").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    sizes.keySet shouldBe (0 until 8).toSet
    sizes.values.foreach { c => c.toDouble shouldBe 100.0 +- 2.0 }
  }

  test("assignShards approx cuts still produce a monotone partition") {
    val rows = (0 until 600).map(i => (i.toLong, (i * 13 % 301).toDouble))
    val got = SortedExport
      .assignShards(rows.toDF("id", "k"), "k", 8, exact = false)
      .select($"k", $"shard").collect()
      .map(r => (r.getDouble(0), r.getInt(1)))
    got.length shouldBe 600
    got.foreach { case (_, s) => s should (be >= 0 and be < 8) }
    // whatever the sketch picked as cuts, the partition is monotone
    // and ties stay together — the properties the writer relies on
    val byShard = got.groupBy(_._2).toSeq.sortBy(_._1)
    byShard.sliding(2).foreach {
      case Seq((_, lo), (_, hi)) =>
        lo.map(_._1).max should be <= hi.map(_._1).min
      case _ => ()
    }
    got.groupBy(_._1).values.foreach { same =>
      same.map(_._2).distinct.length shouldBe 1
    }
  }

  test("assignShards degenerate: all-equal keys collapse to shard 0") {
    val df = (0 until 50).map(i => (i.toLong, 7.0)).toDF("id", "k")
    SortedExport.assignShards(df, "k", 4)
      .select($"shard").distinct().collect()
      .map(_.getInt(0)).toSeq shouldBe Seq(0)
  }

  test("manifest pins counts and membership via the u32-md5 digest") {
    val rows = (1 to 200).map(i => (i.toLong, (i * 37 % 101).toDouble))
    val df = rows.toDF("id", "k")
    val m = SortedExport.manifest(df, key = "k", id = "id", nShards = 4)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))).toMap
    m.values.map(_._1).sum shouldBe 200L
    m.values.map(_._4).sum shouldBe
      rows.map(r => u32md5(r._1.toString)).sum
    // digest per shard replayed independently from the assignment
    val asg = SortedExport.assignShards(df, "k", 4)
      .select($"id", $"shard").collect()
      .map(r => r.getLong(0) -> r.getInt(1))
    asg.groupBy(_._2).foreach { case (s, xs) =>
      m(s)._1 shouldBe xs.length.toLong
      m(s)._4 shouldBe xs.map(x => u32md5(x._1.toString)).sum
    }
  }

  test("write produces disjoint sorted shard directories matching the manifest") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-sorted-export").toString
    val rows = (1 to 300).map(i => (i.toLong, (i * 53 % 211).toDouble))
    val df = rows.toDF("id", "k")
    SortedExport.write(df, key = "k", id = "id", nShards = 4,
      path = dir) shouldBe 4
    val back = spark.read.parquet(dir)
    back.count() shouldBe 300L
    val m = SortedExport.manifest(df, "k", "id", 4)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3)))).toMap
    val got = back.groupBy($"shard")
      .agg(count(lit(1)), min($"k"), max($"k")).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3)))).toMap
    got shouldBe m
  }

  test("joinAdvice leaves no persisted RDDs behind and keeps its schema") {
    val li = Tables(spark, sf001, "lineitem")
    val ord = Tables(spark, sf001, "orders")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val advice1 = graft.functions.Profiler.joinAdvice(
      "li_orders", li, col("l_orderkey"), ord, col("o_orderkey"))
    val advice2 = graft.functions.Profiler.joinAdvice(
      "li_orders", li, col("l_orderkey"), ord, col("o_orderkey"))
    // the r10 lazy persist registered both counts tables in the
    // CacheManager and never dropped them: repeated calls accumulated
    // entries (and could silently serve counts frozen at first
    // materialization). Now the row materializes inside the call and
    // both persists are released in a finally.
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "joinAdvice leaked persisted RDDs")
    val r1 = advice1.collect()
    val r2 = advice2.collect()
    assert(r1.length == 1 && r1.toSeq == r2.toSeq)
    assert(advice1.schema.fieldNames.toSeq == Seq("join_name", "n_left",
      "n_right", "distinct_left", "distinct_right", "max_freq_left",
      "max_freq_right", "est_join_rows", "advice"))
    assert(r1.head.getString(8) == "sort_merge" ||
      r1.head.getString(8) == "broadcast_right") // sanity: a real label
  }
}
