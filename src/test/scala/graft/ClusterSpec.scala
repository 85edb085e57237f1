package graft

import org.apache.spark.sql.functions._
import scala.util.Random

import graft.operators.Dedup

/** Connected-component dedup clustering: chains, isolated pairs,
  * convergence on deep paths (pointer-jump acceleration), and a seeded
  * randomized differential test against driver-side union-find. */
class ClusterSpec extends SparkSpec {
  import spark.implicits._

  private def pairsDf(ps: Seq[(Long, Long)]) =
    ps.toDF("id_a", "id_b")

  test("chain collapses to one cluster; separate pair stays separate") {
    // 1-2-3-4 is a non-transitive near-dup chain; 10-11 is independent
    val pairs = pairsDf(Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)))
    val cc = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    cc shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L)
  }

  test("clusters() assigns singletons their own id") {
    val docs = Seq(1L, 2L, 3L, 99L).toDF("doc_id")
    val pairs = pairsDf(Seq((1L, 3L)))
    val r = Dedup.clusters(docs, $"doc_id", pairs)
      .as[(Long, Long)].collect().toMap
    r shouldBe Map(1L -> 1L, 3L -> 1L, 2L -> 2L, 99L -> 99L)
  }

  test("deep path (depth 64) converges well under the iteration cap") {
    // a pure path graph is the worst case for plain propagation
    // (O(diameter) rounds); pointer jumping must crush it
    val pairs = pairsDf((1L until 64L).map(i => (i, i + 1)))
    val cc = Dedup.connectedComponents(pairs, maxIter = 12,
      localEdgeThreshold = 0) // force the distributed pointer-jump path
      .as[(Long, Long)].collect()
    cc.length shouldBe 64
    all(cc.map(_._2)) shouldBe 1L
  }

  test("running out of rounds throws instead of returning unconverged labels") {
    // depth 64 needs ~7 pointer-jump rounds; 2 leave labels changing
    val pairs = pairsDf((1L until 64L).map(i => (i, i + 1)))
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(pairs, maxIter = 2, localEdgeThreshold = 0)
    }
    e.getMessage should include("maxIter = 2")
    e.getMessage should include("changed")
  }

  test("local union-find finish == distributed pointer jumping") {
    val rnd = new Random(13)
    val ps = Seq.fill(120) {
      val a = rnd.nextInt(80).toLong; val b = rnd.nextInt(80).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(p => p._1 != p._2).distinct
    val local = Dedup.connectedComponents(pairsDf(ps))
      .as[(Long, Long)].collect().toMap // default threshold -> local path
    val dist = Dedup.connectedComponents(pairsDf(ps), localEdgeThreshold = 0)
      .as[(Long, Long)].collect().toMap
    local shouldBe dist
  }

  test("component stats: size histogram mass covers the whole corpus") {
    val out = SparkEntry.queries("graph_component_stats")(spark, sf0001)
      .as[(Long, Long, Long)].collect()
    val total = Tables(spark, sf0001, "documents").count()
    out.map(r => r._1 * r._2).sum shouldBe total // partition of corpus
    out.map(_._1) should contain(1L) // singletons exist
    out.foreach { case (sz, n, ppm) =>
      ppm shouldBe sz * n * 1000000L / total
    }
  }

  test("splitByCluster: cluster members co-travel; buckets replay md5 exactly") {
    import graft.operators.Splits
    val asg = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 4L), (5L, 4L),
      (6L, 6L), (7L, 7L), (8L, 8L), (9L, 9L), (10L, 10L))
      .toDF("id", "cluster_id")
    val out = Splits.splitByCluster(asg, $"id", $"cluster_id", 80, 10)
      .as[(Long, Long, String)].collect()
    out.length shouldBe 10
    // near-dups never straddle: one split value per cluster
    out.groupBy(_._2).values.foreach(
      _.map(_._3).distinct.length shouldBe 1)
    // independent md5 replay of the bucket → split mapping
    def bucket(c: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(c.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16) * 100L >> 32
    }
    out.foreach { case (_, c, s) =>
      val b = bucket(c)
      s shouldBe (if (b < 80) "train" else if (b < 90) "val" else "test")
    }
    // invalid percents rejected
    an[IllegalArgumentException] should be thrownBy
      Splits.splitByCluster(asg, $"id", $"cluster_id", 90, 10)
  }

  test("randomized graphs match driver-side union-find") {
    val rnd = new Random(7)
    for (trial <- 1 to 3) {
      val n = 60
      val ps = Seq.fill(50) {
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
      // reference: union-find on the driver
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      ps.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = ps.flatMap(p => Seq(p._1, p._2)).distinct
        .map(v => v -> {
          // canonical label = min id in component
          val root = find(v.toInt)
          (0 until n).filter(u => find(u) == root).min.toLong
        }).toMap
      val got = Dedup.connectedComponents(pairsDf(ps),
        localEdgeThreshold = 0) // force the distributed path
        .as[(Long, Long)].collect().toMap
      withClue(s"trial $trial: ") { got shouldBe expected }
    }
  }
}
