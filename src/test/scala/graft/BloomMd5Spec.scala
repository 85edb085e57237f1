package graft

import org.apache.spark.sql.functions._

import graft.functions.BloomMd5

/** Specs for the deterministic md5 Bloom filter. */
class BloomMd5Spec extends SparkSpec {
  import spark.implicits._

  private val rng = new scala.util.Random(20260815L)

  test("bloom has no false negatives: every inserted key probes positive") {
    val keys = (0 until 300).map(i => s"key-$i-${rng.nextInt(1000)}")
    val df = keys.toDF("key")
    val words = BloomMd5.build(df, $"key", m = 4096, k = 4)
    val got = BloomMd5.markPositive(df, $"key", words, 4096, 4, "pos")
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    keys.foreach { kk => got(kk) shouldBe true }
  }

  test("bloom negatives are definite and the build is order-independent") {
    val base = (0 until 200).map(i => s"base-$i")
    val w1 = BloomMd5.build(base.toDF("key"), $"key", m = 4096, k = 4)
    val w2 = BloomMd5.build(rng.shuffle(base).reverse.toDF("key"),
      $"key", m = 4096, k = 4)
    w1.toSeq shouldBe w2.toSeq // insertion order can't matter
    // probe disjoint keys: at 200 keys in 4096 bits (k=4, ~0.8 bits/key
    // load), the fp probability is tiny; assert most are negative and —
    // the hard guarantee — NO base key is negative
    val probe = (0 until 200).map(i => s"other-$i").toDF("key")
    val neg = BloomMd5.markPositive(probe, $"key", w1, 4096, 4, "pos")
      .filter(!$"pos").count()
    neg.toDouble should be >= 190.0
  }

  test("degenerate bitmaps: empty base rejects all, full base accepts all") {
    val none = BloomMd5.build(Seq.empty[String].toDF("key"), $"key",
      m = 256, k = 3)
    none.forall(_ == 0L) shouldBe true
    val probe = (0 until 50).map(i => s"p$i").toDF("key")
    BloomMd5.markPositive(probe, $"key", none, 256, 3, "pos")
      .filter($"pos").count() shouldBe 0L
    val full = Array.fill(4)(-1L) // all 256 bits set
    BloomMd5.markPositive(probe, $"key", full, 256, 3, "pos")
      .filter($"pos").count() shouldBe 50L
  }

  test("null keys flag null and survive neither filter side") {
    val df = Seq(Some("a"), None).toDF("key")
    val words = BloomMd5.build(df, $"key", m = 256, k = 3)
    val marked = BloomMd5.markPositive(df, $"key", words, 256, 3, "pos")
    marked.filter($"pos").count() shouldBe 1L
    marked.filter(!$"pos").count() shouldBe 0L
  }

  test("Md5Hex equals the conv(substring(md5)) chain it replaced") {
    import spark.implicits._
    val vals = Seq("", "a", "0:term", "f:alpha beta", "w:1234",
      "Ünïcodé ✓ tokens", "x" * 1000, null)
    val df = vals.toDF("s")
    Seq((1, 8), (1, 2), (3, 8), (5, 15)).foreach { case (pos, len) =>
      val got = df.select(graft.expressions.Md5Hex(col("s"), pos, len))
        .collect().map(r => if (r.isNullAt(0)) null else r.getLong(0))
      val want = df.select(
        conv(substring(md5(col("s")), pos, len), 16, 10).cast("long"))
        .collect().map(r => if (r.isNullAt(0)) null else r.getLong(0))
      assert(got.toSeq == want.toSeq, s"window ($pos,$len) diverges")
    }
  }
}
