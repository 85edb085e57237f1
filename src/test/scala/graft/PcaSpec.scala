package graft

import org.apache.spark.sql.functions._

import graft.functions.Pca

class PcaSpec extends SparkSpec {
  import spark.implicits._

  // anisotropic cloud: lane 0 carries ~16x the variance of lanes 1..3
  // (deterministic md5-derived noise, zero-mean by symmetric pairing)
  private def cloud = {
    val rows = (0 until 128).map { i =>
      val s = if (i % 2 == 0) 1.0f else -1.0f // symmetric pairs
      val big = s * (1.0f + (i / 2 % 7) * 0.1f)
      (i.toLong, Array(big, s * 0.1f * (i / 2 % 3),
        s * 0.05f * (i / 2 % 5), 0.0f))
    }
    rows.toDF("vec_id", "embedding")
  }

  test("power iteration finds the dominant axis; extra steps stabilize") {
    val v3 = Pca.topComponentInt(cloud, $"embedding", dim = 4)
    // lane 0 dominates and renormalization pins max |component| = 256
    math.abs(v3(0)) shouldBe 256L
    v3.drop(1).foreach(x => math.abs(x) should be < 128L)
    // converged: more iterations do not move the integer direction
    val v6 = Pca.topComponentInt(cloud, $"embedding", dim = 4, iters = 6)
    v6.toSeq shouldBe v3.toSeq
  }

  test("projection is the exact integer dot of centered quantized lanes") {
    val mean = Pca.laneMeans(cloud, $"embedding", dim = 4)
    val v = Pca.topComponentInt(cloud, $"embedding", dim = 4)
    val projs = Pca.projectInt(cloud, $"vec_id", $"embedding", mean, v)
      .as[(Long, Long)].collect().toMap
    val q = cloud.as[(Long, Array[Float])].collect()
    q.foreach { case (id, e) =>
      val want = e.zipWithIndex.map { case (x, j) =>
        (math.floor(x.toDouble * 256).toLong - mean(j)) * v(j)
      }.sum
      projs(id) shouldBe want
    }
    // symmetric-pair construction: projections pair up with opposite
    // signs modulo the centering shift, so the total is bounded small
    math.abs(projs.values.sum) should be < (4L * 256 * 256 * 128)
  }

  test("variance explained: dominant-axis cloud carries most variance") {
    val ve = Pca.varianceExplainedPpm(cloud, $"embedding", dim = 4)
      .as[(Long, Long)].head()
    ve._1 shouldBe 128L
    // lane 0 holds ~16x the per-lane variance of the noise lanes
    ve._2 should be > 900000L
    ve._2 should be <= 1000000L
  }

  // 3 orthogonal Rademacher axes with variances 16 : 4 : 1 on lanes
  // 0/1/2 (period-2/4/8 sign patterns — zero-mean, mutually
  // uncorrelated over 128 rows) + small deterministic lane-3 noise:
  // the true top-3 components are the coordinate axes, so the
  // deflation chain's answer is known exactly
  private def cloud3 = {
    val rows = (0 until 128).map { i =>
      val a = if (i % 2 == 0) 1.0f else -1.0f
      val b = if ((i / 2) % 2 == 0) 1.0f else -1.0f
      val c = if ((i / 4) % 2 == 0) 1.0f else -1.0f
      (i.toLong, Array(4.0f * a, 2.0f * b, 1.0f * c,
        0.05f * a * b * c))
    }
    rows.toDF("vec_id", "embedding")
  }

  test("deflation chain recovers three known orthogonal axes in order") {
    val v1 = Pca.topComponentInt(cloud3, $"embedding", dim = 4)
    val v2 = Pca.secondComponentInt(cloud3, $"embedding", dim = 4)
    val v3 = Pca.thirdComponentInt(cloud3, $"embedding", dim = 4)
    math.abs(v1(0)) shouldBe 256L
    math.abs(v2(1)) shouldBe 256L
    math.abs(v3(2)) shouldBe 256L // the second deflation found axis 3
    // off-axis leakage stays small on every recovered direction
    Seq(1, 2, 3).foreach(j => math.abs(v1(j)) should be < 16L)
    Seq(0, 2, 3).foreach(j => math.abs(v2(j)) should be < 16L)
    Seq(0, 1, 3).foreach(j => math.abs(v3(j)) should be < 16L)
  }

  test("accumulated truncation drift across two deflations is bounded " +
      "on real embeddings (near-orthogonality of v3 to v1 and v2)") {
    // each truncating shrink leaves an O(1/|v|) residual along the
    // removed direction; after TWO deflations the third direction must
    // still be nearly orthogonal to both prior ones — this pins the
    // accumulated drift with measured bounds, not hope
    val emb = Tables(spark, sf0001, "embeddings")
    val v1 = Pca.topComponentInt(emb, $"embedding", dim = 64)
    val v2 = Pca.secondComponentInt(emb, $"embedding", dim = 64)
    val v3 = Pca.thirdComponentInt(emb, $"embedding", dim = 64)
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val dot = (a, b).zipped.map(_.toDouble * _.toDouble).sum
      dot / math.sqrt(a.map(x => x.toDouble * x).sum *
        b.map(x => x.toDouble * x).sum)
    }
    math.abs(cos(v2, v1)) should be < 0.05 // one deflation's drift
    math.abs(cos(v3, v1)) should be < 0.05 // two deflations, vs v1
    math.abs(cos(v3, v2)) should be < 0.05 // two deflations, vs v2
    // and v3 is a genuine new direction, not a rescaled prior one
    math.abs(cos(v3, v1)) should be < 0.5
    v3.map(math.abs).max shouldBe 256L     // normalized output contract
  }

  test("degenerate input fails loudly (zero matrix)") {
    val z = Seq((1L, Array(0.0f, 0.0f)), (2L, Array(0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    an[Exception] should be thrownBy
      Pca.topComponentInt(z, $"embedding", dim = 2)
  }

  test("persisted deflation chain replays the recomputed reference") {
    val emb = Tables(spark, sf001, "embeddings")
    val dim = 64
    // driver-side exact integer replay over the collected rows: the
    // pre-persist semantics (quantize, center, iters x (dot, lane agg,
    // truncating renorm), truncating deflation) in plain BigInt
    val rows = emb.select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    val scale = 256
    val q = rows.map(_.map(x => math.floor(x * scale).toLong))
    val mean = Array.tabulate(dim)(j =>
      q.map(_(j)).sum / q.length)
    val c0 = q.map(r => Array.tabulate(dim)(j => r(j) - mean(j)))
    def power(lanes: Array[Array[Long]], iters: Int): Array[Long] = {
      var v = Array.fill(dim)(scale.toLong)
      for (_ <- 1 to iters) {
        val w = Array.fill(dim)(BigInt(0))
        lanes.foreach { r =>
          var d = BigInt(0)
          for (j <- 0 until dim) d += BigInt(r(j)) * v(j)
          for (j <- 0 until dim) w(j) += BigInt(r(j)) * d
        }
        val maxAbs = w.map(_.abs).max
        v = w.map(x => ((x * scale) / maxAbs).toLong)
      }
      v
    }
    def deflate(lanes: Array[Array[Long]], v: Array[Long])
        : Array[Array[Long]] = {
      val vsq = v.map(x => x * x).sum
      lanes.map { r =>
        var d = 0L
        for (j <- 0 until dim) d += r(j) * v(j)
        Array.tabulate(dim) { j =>
          val num = v(j) * d
          r(j) - (num - (num % vsq)) / vsq
        }
      }
    }
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val v1 = power(c0, 3)
    val d1 = deflate(c0, v1)
    val v2 = power(d1, 3)
    val d2 = deflate(d1, v2)
    val v3 = power(d2, 3)
    val gotV1 = graft.functions.Pca.topComponentInt(
      emb, col("embedding"), dim)
    val gotV2 = graft.functions.Pca.secondComponentInt(
      emb, col("embedding"), dim)
    val gotV3 = graft.functions.Pca.thirdComponentInt(
      emb, col("embedding"), dim)
    assert(gotV1.sameElements(v1), "v1 diverges from driver replay")
    assert(gotV2.sameElements(v2), "v2 diverges from driver replay")
    assert(gotV3.sameElements(v3), "v3 diverges from driver replay")
    // no persisted blocks may leak out of the trains
    assert(spark.sparkContext.getPersistentRDDs.keySet == persistedBefore,
      "PCA train leaked persisted RDDs")
  }

  test("Pca persisted loops keep exact integers past UnrollMax dims") {
    import spark.implicits._
    val dim = 130 // > UnrollMax(128): dot/deflation run the HOF forms
    val scale = 256
    val rnd = new scala.util.Random(7)
    val rows = Array.fill(40)(Array.fill(dim)(rnd.nextDouble() * 2 - 1))
    val df = rows.map(_.toSeq).toSeq.toDF("embedding")
    // driver-side exact integer replay (the deflation-chain spec's
    // reference, at a width that forces the fallback path)
    val q = rows.map(_.map(x => math.floor(x * scale).toLong))
    val mean = Array.tabulate(dim)(j => q.map(_(j)).sum / q.length)
    val c0 = q.map(r => Array.tabulate(dim)(j => r(j) - mean(j)))
    def power(lanes: Array[Array[Long]], iters: Int): Array[Long] = {
      var v = Array.fill(dim)(scale.toLong)
      for (_ <- 1 to iters) {
        val w = Array.fill(dim)(BigInt(0))
        lanes.foreach { r =>
          var d = BigInt(0)
          for (j <- 0 until dim) d += BigInt(r(j)) * v(j)
          for (j <- 0 until dim) w(j) += BigInt(r(j)) * d
        }
        val maxAbs = w.map(_.abs).max
        v = w.map(x => ((x * scale) / maxAbs).toLong)
      }
      v
    }
    def deflate(lanes: Array[Array[Long]], v: Array[Long])
        : Array[Array[Long]] = {
      val vsq = v.map(x => x * x).sum
      lanes.map { r =>
        var d = 0L
        for (j <- 0 until dim) d += r(j) * v(j)
        Array.tabulate(dim) { j =>
          val num = v(j) * d
          r(j) - (num - (num % vsq)) / vsq
        }
      }
    }
    val v1 = power(c0, 3)
    val v2 = power(deflate(c0, v1), 3)
    val gotV1 = graft.functions.Pca.topComponentInt(
      df, col("embedding"), dim)
    val gotV2 = graft.functions.Pca.secondComponentInt(
      df, col("embedding"), dim)
    assert(gotV1.sameElements(v1), "wide-dim v1 diverges from replay")
    assert(gotV2.sameElements(v2), "wide-dim v2 diverges from replay")
  }
}
