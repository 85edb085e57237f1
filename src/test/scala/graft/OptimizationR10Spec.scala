package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Round-10 optimization invariants: every rewrite in this round must
  * be value-IDENTICAL to the shape it replaced — these are the
  * differential specs pinning that, independent of the DuckDB oracle
  * sweep.
  */
class OptimizationR10Spec extends SparkSpec {
  import org.apache.spark.sql.DataFrame

  // ------------------------------------------- Pca persisted chain

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

  // --------------------------------------- Opaque + parallelismFloor

  test("Opaque passes values through and blocks pushdown-style moves") {
    import spark.implicits._
    val df = Seq(1, 2, 3, 4).toDF("x")
    val got = df.filter(graft.expressions.Opaque(col("x") % 2 === 0))
      .collect().map(_.getInt(0)).sorted
    assert(got.sameElements(Array(2, 4)))
    // the wrapped expression must report non-deterministic
    assert(!org.apache.spark.sql.GraftSql
      .expression(graft.expressions.Opaque(col("x") > 1)).deterministic)
  }

  test("parallelismFloor lifts low-partition scans, leaves wide ones, keeps values") {
    val docs = Tables(spark, sf001, "documents").select("doc_id", "text")
    val p = spark.sparkContext.defaultParallelism
    assert(docs.rdd.getNumPartitions < p, "fixture: testdata scan is narrow")
    val floored = Tables.parallelismFloor(docs)
    assert(floored.rdd.getNumPartitions >= p)
    val wide = docs.repartition(p * 2)
    assert(Tables.parallelismFloor(wide).rdd.getNumPartitions == p * 2,
      "already-parallel input must not gain an exchange")
    val a = docs.agg(sum(octet_length(col("text"))), count(lit(1))).head()
    val b = floored.agg(sum(octet_length(col("text"))), count(lit(1))).head()
    assert(a == b)
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

  test("blockedPairs banded-lev rewrite matches the brute within-block join") {
    val cust = Tables(spark, sf001, "customer")
    val got = graft.operators.EntityMatch.blockedPairs(
      cust, col("c_custkey"), col("c_name"), col("c_nationkey"),
      segs = name => (0 until 3).map(j =>
        concat(substring(name, 13 + j, 1), substring(name, 16 + j, 1))),
      maxDist = 2).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.get(2).toString, r.getLong(3))).toSet
    // brute reference: all within-block pairs, plain full levenshtein,
    // restricted to pairs sharing >= 1 aligned segment (the blocking
    // contract) — the same set the pre-rewrite shape produced
    val base = cust.select(col("c_custkey").as("id"),
      col("c_name").as("name"), col("c_nationkey").as("blk"))
    val segv = (0 until 3).map(j =>
      concat(substring(col("name"), 13 + j, 1),
        substring(col("name"), 16 + j, 1)))
    val withSegs = base.withColumn("segs", array(segv: _*))
    val brute = withSegs.as("a").join(withSegs.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .filter(arrays_overlap(
        zip_with(col("a.segs"), array((0 until 3).map(lit(_)): _*),
          (s, i) => concat(i.cast("string"), lit(":"), s)),
        zip_with(col("b.segs"), array((0 until 3).map(lit(_)): _*),
          (s, i) => concat(i.cast("string"), lit(":"), s))))
      .select(col("a.id"), col("b.id"), col("a.blk").cast("string"),
        levenshtein(col("a.name"), col("b.name")).cast("long").as("d"))
      .filter(col("d") <= 2)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    assert(got == brute)
  }
}
