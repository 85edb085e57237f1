package graft

import org.apache.spark.sql.functions._

/** Round-11 optimization invariants — like OptimizationR10Spec, every
  * rewrite this round must be value-IDENTICAL to the shape it replaced;
  * these differentials pin that independently of the DuckDB oracle
  * sweep.
  */
class OptimizationR11Spec extends SparkSpec {

  // ------------------------------------------------ joinAdvice persist

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

  // -------------------------------------------- parallelismFloor gate

  test("parallelismFloor floors narrow scans without df.rdd, skips non-narrow plans") {
    val docs = Tables(spark, sf001, "documents").select("doc_id", "text")
    // scanWidth sees the single-file scan without converting to RDD
    assert(Tables.scanWidth(docs).exists(_ >= 1))
    val p = spark.sparkContext.defaultParallelism
    assert(Tables.parallelismFloor(docs).rdd.getNumPartitions >= p)
    // a shuffling plan is not narrow: no width probe, no floor — the
    // r10 .rdd probe would have materialized its stages at
    // construction under AQE (ADVICE r10 / VERDICT item 10)
    val agged = docs.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    assert(Tables.scanWidth(agged).isEmpty)
    assert(Tables.parallelismFloor(agged) eq agged)
    // filters over the scan stay narrow
    val filtered = docs.filter(
      org.apache.spark.sql.functions.length(col("text")) > 10)
    assert(Tables.scanWidth(filtered).exists(_ >= 1))
  }

  // --------------------------------- Pca wide-dim HOF fallback parity

  test("Pca persisted loops keep exact integers past UnrollMax dims") {
    import spark.implicits._
    val dim = 130 // > UnrollMax(128): dot/deflation run the HOF forms
    val scale = 256
    val rnd = new scala.util.Random(7)
    val rows = Array.fill(40)(Array.fill(dim)(rnd.nextDouble() * 2 - 1))
    val df = rows.map(_.toSeq).toSeq.toDF("embedding")
    // driver-side exact integer replay (the OptimizationR10Spec
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

  // ------------------------- native bounded aggregates (KMV / TopK)

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

  test("TopKAgg/TopTermsAgg/MinKAgg equal the udaf Aggregators, schema included") {
    import org.apache.spark.sql.functions.udaf
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // ties on score (incl. +/-0.0), duplicate ids, many groups
    val rows = (1 to 5000).map { i =>
      val g = i % 13
      val score = rnd.nextInt(20) match {
        case 0 => 0.0
        case 1 => -0.0
        case s => (s - 10).toDouble / 4.0
      }
      (g.toLong, (i % 700).toLong, score)
    }
    val df = rows.toDF("query_id", "neighbor_id", "score").repartition(9)
    for (k <- Seq(1, 3, 10)) {
      val legacy = udaf(new LegacyAggregators.TopKAggregator(k))
      val oldDf = df.groupBy(col("query_id"))
        .agg(legacy(col("neighbor_id"), col("score")).as("top"))
      val newDf = df.groupBy(col("query_id"))
        .agg(graft.expressions.TopKAgg(
          col("neighbor_id"), col("score"), k).as("top"))
      assert(newDf.schema == oldDf.schema,
        s"k=$k schema: ${newDf.schema} vs ${oldDf.schema}")
      val key = (r: org.apache.spark.sql.Row) => r.getLong(0)
      val o = oldDf.collect().sortBy(key).map(_.toString).toSeq
      val n = newDf.collect().sortBy(key).map(_.toString).toSeq
      assert(o == n, s"k=$k TopK values diverge")
    }
    // terms: unicode + empty strings
    val terms = (1 to 2000).map { i =>
      val t = Seq("alpha", "βeta", "", "Ünïco", "zz", "a b")(i % 6) + (i % 17)
      (i % 7, t, (i % 23).toDouble / 3.0)
    }.toDF("group", "term", "score").repartition(5)
    val legacyT = udaf(new LegacyAggregators.TopTermsAggregator(4))
    val oT = terms.groupBy(col("group"))
      .agg(legacyT(col("term"), col("score")).as("top"))
    val nT = terms.groupBy(col("group"))
      .agg(graft.expressions.TopTermsAgg(col("term"), col("score"), 4)
        .as("top"))
    assert(nT.schema == oT.schema, s"${nT.schema} vs ${oT.schema}")
    assert(oT.collect().sortBy(_.getInt(0)).map(_.toString).toSeq ==
      nT.collect().sortBy(_.getInt(0)).map(_.toString).toSeq)
    // min-k string pairs
    val keyed = (1 to 2000).map { i =>
      (i % 5, f"k${i % 97}%03d", f"id${i % 31}%04d", i.toLong)
    }.toDF("group", "sort_key", "id", "payload").repartition(5)
    val legacyM = udaf(new LegacyAggregators.MinKAggregator(6))
    val oM = keyed.groupBy(col("group"))
      .agg(legacyM(col("sort_key"), col("id"), col("payload")).as("top"))
    val nM = keyed.groupBy(col("group"))
      .agg(graft.expressions.MinKAgg(col("sort_key"), col("id"),
        col("payload"), 6).as("top"))
    assert(nM.schema == oM.schema, s"${nM.schema} vs ${oM.schema}")
    assert(oM.collect().sortBy(_.getInt(0)).map(_.toString).toSeq ==
      nM.collect().sortBy(_.getInt(0)).map(_.toString).toSeq)
  }

  test("native TopKAgg survives the ObjectHashAggregate sort-based fallback") {
    import org.apache.spark.sql.functions.udaf
    import spark.implicits._
    // > spark.sql.objectHashAggregate.sortBased.fallbackThreshold (128)
    // distinct groups per task forces the serialize-into-sort path;
    // equality with the udaf pins serialize/deserialize + sorted merge
    val rows = (1 to 40000).map { i =>
      ((i % 1500).toLong, (i % 37).toLong, ((i * 31) % 101).toDouble / 7.0)
    }
    val df = rows.toDF("query_id", "neighbor_id", "score").repartition(3)
    val legacy = udaf(new LegacyAggregators.TopKAggregator(5))
    val o = df.groupBy(col("query_id"))
      .agg(legacy(col("neighbor_id"), col("score")).as("top"))
      .collect().sortBy(_.getLong(0)).map(_.toString).toSeq
    val n = df.groupBy(col("query_id"))
      .agg(graft.expressions.TopKAgg(col("neighbor_id"), col("score"), 5)
        .as("top"))
      .collect().sortBy(_.getLong(0)).map(_.toString).toSeq
    assert(o == n)
  }

  // ------------------------------------ PqLut vs the subDists battery

  test("PqLut equals the m*k subDists expression battery bit-for-bit") {
    val emb = Tables(spark, sf001, "embeddings")
    val books = graft.operators.Pq.fitAnchored(
      emb, col("vec_id"), col("embedding"), m = 8, k = 16)
    val battery = array(books.indices.flatMap { j =>
      graft.operators.Pq.subDists(col("embedding"), j, books(j))
    }: _*)
    val both = emb.select(col("vec_id"), battery.as("old"),
      graft.operators.Pq.lutOf(col("embedding"), books).as("nw"))
      .collect()
    both.foreach { r =>
      val o = r.getSeq[Double](1)
      val n = r.getSeq[Double](2)
      assert(o.length == n.length)
      o.indices.foreach { i =>
        assert(java.lang.Double.doubleToRawLongBits(o(i)) ==
          java.lang.Double.doubleToRawLongBits(n(i)),
          s"vec ${r.getLong(0)} entry $i: ${o(i)} vs ${n(i)}")
      }
    }
    // int path: quantized codebook, inline 2^20 quantization
    val ibooks = graft.operators.Pq.fitLloydQuantized(
      emb, col("vec_id"), col("embedding"), m = 8, k = 16,
      trainN = 128, iters = 1)
    val batteryI = array(ibooks.indices.flatMap { j =>
      graft.operators.Pq.subDistsInt(col("embedding"), j, ibooks(j))
    }: _*)
    val bothI = emb.select(col("vec_id"), batteryI.as("old"),
      graft.operators.Pq.lutOfInt(col("embedding"), ibooks).as("nw"))
      .collect()
    bothI.foreach { r =>
      val o = r.getSeq[Double](1)
      val n = r.getSeq[Double](2)
      assert(o.length == n.length)
      o.indices.foreach { i =>
        assert(java.lang.Double.doubleToRawLongBits(o(i)) ==
          java.lang.Double.doubleToRawLongBits(n(i)),
          s"int vec ${r.getLong(0)} entry $i: ${o(i)} vs ${n(i)}")
      }
    }
  }

  // --------------------------- entity_match single-eval levenshtein

  test("blockedPairs evaluates the banded levenshtein exactly once per row") {
    val cust = Tables(spark, sf001, "customer")
    val pairs = graft.operators.EntityMatch.blockedPairs(
      cust, col("c_custkey"), col("c_name"), col("c_nationkey"),
      segs = name => (0 until 3).map(j =>
        concat(substring(name, 13 + j, 1), substring(name, 16 + j, 1))),
      maxDist = 2)
    val plan = pairs.queryExecution.executedPlan.toString
    val n = "levenshtein".r.findAllIn(plan.toLowerCase).length
    assert(n == 1, s"expected exactly one levenshtein in the plan, saw $n")
  }
}
