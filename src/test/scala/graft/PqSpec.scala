package graft

import org.apache.spark.sql.functions._

import graft.operators.Pq

/** Product quantization: codebook shape, code assignment goldens,
  * tie-breaking, and the ADC == exact-distance degenerate case. */
class PqSpec extends SparkSpec {
  import spark.implicits._

  test("fitAnchored: codebook is the first-k subvectors in id order") {
    val rows = Seq(
      (3L, Seq(30.0f, 31.0f, 32.0f, 33.0f)),
      (1L, Seq(10.0f, 11.0f, 12.0f, 13.0f)),
      (2L, Seq(20.0f, 21.0f, 22.0f, 23.0f)),
      (9L, Seq(90.0f, 91.0f, 92.0f, 93.0f)))
    val books = Pq.fitAnchored(rows.toDF("id", "v"), col("id"), col("v"),
      m = 2, k = 2)
    books.length shouldBe 2
    books(0) shouldBe Seq(Seq(10.0, 11.0), Seq(20.0, 21.0))
    books(1) shouldBe Seq(Seq(12.0, 13.0), Seq(22.0, 23.0))
  }

  test("encode: nearest centroid per subspace, ties to the lower index") {
    val corpus = Seq(
      (0L, Seq(0.0f, 0.0f)),   // centroid 0 of each 1-lane subspace
      (1L, Seq(4.0f, 4.0f)),   // centroid 1
      (2L, Seq(1.0f, 3.0f)),   // nearer 0 in lane 0, nearer 1 in lane 1
      (3L, Seq(2.0f, 2.0f)))   // exact tie both lanes -> lower index
    val books = Pq.fitAnchored(corpus.toDF("id", "v"), col("id"), col("v"),
      m = 2, k = 2)
    val got = Pq.encode(corpus.toDF("id", "v"), col("id"), col("v"), books)
      .select($"vec_id", $"codes", $"qerrs").collect()
      .map(r => r.getLong(0) -> (r.getSeq[Int](1), r.getSeq[Double](2)))
      .toMap
    got(0L)._1 shouldBe Seq(0, 0)
    got(1L)._1 shouldBe Seq(1, 1)
    got(2L)._1 shouldBe Seq(0, 1)
    got(3L)._1 shouldBe Seq(0, 0) // equidistant: lower centroid wins
    got(0L)._2 shouldBe Seq(0.0, 0.0)
    got(2L)._2 shouldBe Seq(1.0, 1.0)
    got(3L)._2 shouldBe Seq(4.0, 4.0)
  }

  test("encode on real embeddings: anchor rows quantize to error zero") {
    val emb = Tables(spark, sf0001, "embeddings")
    val books = Pq.fitAnchored(emb, col("vec_id"), col("embedding"),
      m = 8, k = 16)
    val enc = Pq.encode(emb, col("vec_id"), col("embedding"), books)
    enc.count() shouldBe emb.count()
    // every code in range, every error non-negative
    val bad = enc.select(explode($"codes").as("c")).filter(
      $"c" < 0 || $"c" >= 16).count()
    bad shouldBe 0L
    // an anchor row's own subvector is a centroid -> qerr exactly 0
    val anchorErr = enc.filter($"vec_id" < 16)
      .select(explode($"qerrs").as("e")).filter($"e" =!= 0.0).count()
    anchorErr shouldBe 0L
  }

  test("adcTopK == exact squared-L2 ranking when every vector is its own centroid") {
    // k = corpus size and m = 1: each (distinct) vector quantizes to
    // itself with zero error, so the ADC table lookup IS the exact
    // distance and the ranking must equal a hand-computed brute force.
    val vecs = (0 until 12).map { i =>
      (i.toLong, Seq(i.toFloat, (i * 7 % 5).toFloat, (i * 3 % 11).toFloat,
        (i % 4).toFloat))
    }
    val df = vecs.toDF("id", "v")
    val books = Pq.fitAnchored(df, col("id"), col("v"), m = 1, k = 12)
    val codes = Pq.encode(df, col("id"), col("v"), books)
      .select($"vec_id".as("neighbor_id"), $"codes")
    val got = Pq.adcTopK(df.filter($"id" < 3), codes, books, k = 4,
      col("id"), col("v"))
      .orderBy($"query_id", $"rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))

    def d2(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) =>
        val t = x.toDouble - y.toDouble; t * t
      }.sum
    val want = (0 until 3).flatMap { q =>
      vecs.filter(_._1 != q)
        .map { case (i, v) =>
          (i, BigDecimal(d2(vecs(q)._2, v)).setScale(6,
            BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
        .sortBy { case (i, d) => (d, i) }.take(4).zipWithIndex
        .map { case ((i, d), r) => (q.toLong, i, r + 1, d) }
    }
    got.toSeq shouldBe want
  }

  test("adcTopK returns k rows per query with ascending distances") {
    val emb = Tables(spark, sf0001, "embeddings")
    val books = Pq.fitAnchored(emb, col("vec_id"), col("embedding"),
      m = 8, k = 16)
    val codes = Pq.encode(emb, col("vec_id"), col("embedding"), books)
      .select($"vec_id".as("neighbor_id"), $"codes")
    val got = Pq.adcTopK(emb.filter($"vec_id" < 5), codes, books, k = 7,
      col("vec_id"), col("embedding"))
      .orderBy($"query_id", $"rank").collect()
    got.length shouldBe 35
    got.groupBy(_.getLong(0)).values.foreach { rs =>
      val ds = rs.sortBy(_.getInt(2)).map(_.getDouble(3))
      ds shouldBe ds.sorted
      rs.foreach(r => r.getLong(1) should not be r.getLong(0))
    }
  }

  test("ivfAdcTopK: candidates come only from probed cells; dists match full ADC") {
    val emb = Tables(spark, sf0001, "embeddings")
    val books = Pq.fitAnchored(emb, col("vec_id"), col("embedding"),
      m = 8, k = 16)
    val got = Pq.ivfAdcTopK(emb.filter($"vec_id" < 10), emb, books, k = 5,
      col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
      nCells = 16, nProbe = 4)
    val rows = got.orderBy($"query_id", $"rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    rows.length shouldBe 50 // 10 queries x k=5
    rows.groupBy(_._1).values.foreach { rs =>
      rs.map(_._3).sorted shouldBe (1 to 5)
      val ds = rs.sortBy(_._3).map(_._4)
      ds shouldBe ds.sorted
    }

    // cell-pruning invariant replayed in Scala: every returned
    // neighbor's rank-1 cell must be among its query's top-nProbe cells
    val all = emb.select($"vec_id".cast("long"),
        $"embedding".cast("array<double>")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toIndexedSeq).toMap
    val cents = all.toSeq.sortBy(_._1).take(16).map { case (_, v) =>
      val n = math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x))
      if (n == 0.0) v else v.map(_ / n)
    }
    def dot(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    def ranked(v: IndexedSeq[Double]): Seq[Int] =
      cents.zipWithIndex.map { case (c, i) => (-dot(v, c), i) }
        .sorted.map(_._2)
    rows.foreach { case (q, n, _, _) =>
      val probed = ranked(all(q)).take(4).toSet
      probed should contain(ranked(all(n)).head)
    }

    // where a pair also survives the UNPRUNED ADC top-5, the distance
    // must be identical — pruning changes the candidate set, never the
    // scoring
    val codes = Pq.encode(emb, col("vec_id"), col("embedding"), books)
      .select($"vec_id".as("neighbor_id"), $"codes")
    val full = Pq.adcTopK(emb.filter($"vec_id" < 10), codes, books, k = 5,
      col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val overlap = rows.flatMap { case (q, n, _, d) =>
      full.get((q, n)).map(fd => (d, fd))
    }
    overlap should not be empty
    overlap.foreach { case (d, fd) => d shouldBe fd }
  }

  test("fitLloydQuantized: distortion descends per round from the anchored init") {
    val emb = Tables(spark, sf001, "embeddings")
    // train distortion = sum over train rows and subspaces of the
    // min integer squared-L2 to a centroid — the k-means objective;
    // iters=0 IS the anchored (quantized) codebook
    val rows = emb
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .orderBy($"vec_id").limit(256).collect()
      .map(_.getSeq[Double](1).map(d =>
        math.floor(d * 1048576.0).toLong).toArray)
    def distortion(books: graft.operators.Pq.IntCodebook): BigInt = {
      val m = books.length; val sub = books.head.head.length
      var tot = BigInt(0)
      rows.foreach { t =>
        (0 until m).foreach { j =>
          val tj = t.slice(j * sub, (j + 1) * sub)
          tot += books(j).map { c =>
            var d = 0L; var i = 0
            while (i < sub) { val x = tj(i) - c(i); d += x * x; i += 1 }
            BigInt(d)
          }.min
        }
      }
      tot
    }
    val fits = (0 to 2).map(it => graft.operators.Pq.fitLloydQuantized(
      emb, $"vec_id", $"embedding", m = 8, k = 16, trainN = 256,
      iters = it))
    val ds = fits.map(distortion)
    ds(1) should be <= ds(0)
    ds(2) should be <= ds(1)
    ds(2) should be < ds(0) // genuinely refined, not a no-op
  }

  test("maintenanceReport stability: identical books -> zero drift, " +
      "zero re-encode; drifted books -> counts equal the encode diff") {
    val emb = Tables(spark, sf001, "embeddings")
    val base = emb.filter($"vec_id" < 300)
    val delta = emb.filter($"vec_id" >= 300 && $"vec_id" < 400)
    val b0 = Pq.fitLloydQuantized(base, $"vec_id", $"embedding",
      m = 8, k = 16, trainN = 64, iters = 1)
    // stability: refreshing with the SAME book is a no-op — no drift,
    // no changed codes, so no write amplification on a quiet corpus
    val stable = Pq.maintenanceReport(base, delta, $"vec_id",
        $"embedding", b0, b0).collect()
    stable.length shouldBe 8
    stable.foreach { r =>
      r.getAs[Long]("drift") shouldBe 0L
      r.getAs[Long]("n_changed_base") shouldBe 0L
      r.getAs[Long]("n_changed_delta") shouldBe 0L
    }
    // drifted refresh: report counts must equal the literal diff of
    // the two encodeInt outputs (the write set is exactly what the
    // report claims — no over- or under-write)
    val refresh = emb.filter($"vec_id" < 32 ||
      ($"vec_id" >= 300 && $"vec_id" < 332))
    val b1 = Pq.fitLloydQuantized(refresh, $"vec_id", $"embedding",
      m = 8, k = 16, trainN = 64, iters = 1)
    val report = Pq.maintenanceReport(base, delta, $"vec_id",
        $"embedding", b0, b1).collect()
      .map(r => r.getAs[Int]("subspace") ->
        ((r.getAs[Long]("n_changed_base"), r.getAs[Long]("n_changed_delta"),
          r.getAs[Long]("drift")))).toMap
    val all = base.unionByName(delta)
    val c0 = Pq.encodeInt(all, $"vec_id", $"embedding", b0)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val c1 = Pq.encodeInt(all, $"vec_id", $"embedding", b1)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    (0 until 8).foreach { j =>
      val wantBase = c0.keys.count(id => id < 300 && c0(id)(j) != c1(id)(j))
      val wantDelta = c0.keys.count(id => id >= 300 && c0(id)(j) != c1(id)(j))
      report(j)._1 shouldBe wantBase.toLong
      report(j)._2 shouldBe wantDelta.toLong
    }
    // drift matches the driver-side definition and is nonzero for a
    // genuinely different book
    val drift = Pq.codebookDrift(b0, b1)
    (0 until 8).foreach(j => report(j)._3 shouldBe drift(j))
    drift.sum should be > 0L
  }

  // ----------------------------------------------------- PqDistances

  /** Driver-side reference replay of the old least(struct) battery:
    * same decomposition (xx - 2*dot) + cc, left-to-right folds, strict
    * argmin with ties to the lower index. */
  private def refCodes(v: Array[Double], books: Pq2, quantize: Boolean)
      : Array[Int] = {
    val m = books.length
    val k = books.head.length
    val sub = books.head.head.length
    Array.tabulate(m) { j =>
      val xs = Array.tabulate(sub) { l =>
        val x = v(j * sub + l)
        if (quantize) math.floor(x * 1048576.0) else x
      }
      val xx = xs.foldLeft(0.0)((a, x) => a + x * x)
      var best = 0
      var bestD = Double.NaN
      for (i <- 0 until k) {
        val c = books(j)(i)
        val cc = c.foldLeft(0.0)((a, x) => a + x * x)
        var dot = 0.0
        for (l <- 0 until sub) dot += xs(l) * c(l)
        val d = (xx - 2.0 * dot) + cc
        if (if (bestD.isNaN) !d.isNaN else d < bestD) { bestD = d; best = i }
      }
      best
    }
  }
  private type Pq2 = IndexedSeq[IndexedSeq[IndexedSeq[Double]]]

  test("PqDistances codes match the expression-battery reference (float + int)") {
    val emb = Tables(spark, sf001, "embeddings")
    val books = graft.operators.Pq.fitAnchored(
      emb, col("vec_id"), col("embedding"), m = 8, k = 16)
    val got = graft.operators.Pq.encode(
        emb, col("vec_id"), col("embedding"), books)
      .select(col("vec_id"), col("codes")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    val raw = emb.select(col("vec_id"),
      col("embedding").cast("array<double>")).collect()
    raw.foreach { r =>
      val ref = refCodes(r.getSeq[Double](1).toArray, books, quantize = false)
      assert(got(r.getLong(0)).sameElements(ref),
        s"codes diverge for vec ${r.getLong(0)}")
    }
    // int path: quantized codebook, inline 2^20 quantization
    val ibooks = graft.operators.Pq.fitLloydQuantized(
      emb, col("vec_id"), col("embedding"), m = 8, k = 16,
      trainN = 128, iters = 1)
    val fbooks: Pq2 = ibooks.map(_.map(_.map(_.toDouble)))
    val gotI = graft.operators.Pq.encodeInt(
        emb, col("vec_id"), col("embedding"), ibooks)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    raw.foreach { r =>
      val ref = refCodes(r.getSeq[Double](1).toArray, fbooks, quantize = true)
      assert(gotI(r.getLong(0)).sameElements(ref),
        s"int codes diverge for vec ${r.getLong(0)}")
    }
  }

  test("PqDistances rejects ragged codebooks loudly") {
    val emb = Tables(spark, sf001, "embeddings")
    val books = graft.operators.Pq.fitAnchored(
      emb, col("vec_id"), col("embedding"), m = 8, k = 16)
    val ragged = books.updated(3, books(3).drop(1))
    val e = intercept[IllegalArgumentException] {
      graft.operators.Pq.encode(emb, col("vec_id"), col("embedding"), ragged)
    }
    assert(e.getMessage.contains("ragged"))
  }

  // ------------------------- PqDistances table vs the subDists battery

  test("PqDistances table equals the m*k subDists expression battery bit-for-bit") {
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
      graft.operators.Pq.lutOf(col("embedding"), ibooks).as("nw"))
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

  // ------------------------------- encode qerrs vs the subDists battery

  test("encode qerrs equal the round-6 min of the subDists battery (float + int)") {
    val emb = Tables(spark, sf001, "embeddings")
    def bitsEqual(o: Seq[Double], n: Seq[Double], what: String): Unit = {
      assert(o.length == n.length)
      o.indices.foreach { j =>
        assert(java.lang.Double.doubleToRawLongBits(o(j)) ==
          java.lang.Double.doubleToRawLongBits(n(j)),
          s"$what subspace $j: ${o(j)} vs ${n(j)}")
      }
    }
    val books = Pq.fitAnchored(emb, col("vec_id"), col("embedding"),
      m = 8, k = 16)
    val mins = array(books.indices.map { j =>
      round(least(Pq.subDists(col("embedding"), j, books(j)): _*), 6)
    }: _*)
    val got = Pq.encode(emb, col("vec_id"), col("embedding"), books)
      .select(col("vec_id"), col("qerrs"))
      .join(emb.select(col("vec_id"), mins.as("ref")), "vec_id")
      .collect()
    got.length shouldBe emb.count()
    got.foreach(r => bitsEqual(r.getSeq[Double](2), r.getSeq[Double](1),
      s"vec ${r.getLong(0)}"))
    // int codebook: the kernel's best-distance output over the
    // quantized vector against the subDistsInt battery
    val ibooks = Pq.fitLloydQuantized(emb, col("vec_id"), col("embedding"),
      m = 8, k = 16, trainN = 128, iters = 1)
    val minsI = array(ibooks.indices.map { j =>
      round(least(Pq.subDistsInt(col("embedding"), j, ibooks(j)): _*), 6)
    }: _*)
    val best = transform(Pq.pqDistances(col("embedding"), ibooks,
      graft.expressions.PqDistances.Best), d => round(d, 6))
    val gotI = emb.select(col("vec_id"), minsI.as("ref"), best.as("nw"))
      .collect()
    gotI.foreach(r => bitsEqual(r.getSeq[Double](1), r.getSeq[Double](2),
      s"int vec ${r.getLong(0)}"))
  }

  test("PqDistances outputs are bit-identical with codegen on and under NO_CODEGEN") {
    import graft.expressions.PqDistances.{Best, Codes, Table}
    val emb = Tables(spark, sf001, "embeddings")
    val books = Pq.fitAnchored(emb, col("vec_id"), col("embedding"),
      m = 8, k = 16)
    val ibooks = Pq.fitLloydQuantized(emb, col("vec_id"), col("embedding"),
      m = 8, k = 16, trainN = 128, iters = 1)
    val outs = Seq(Codes, Best, Table).flatMap { out =>
      Seq(Pq.pqDistances(col("embedding"), books, out).as(s"f_$out"),
        Pq.pqDistances(col("embedding"), ibooks, out).as(s"i_$out"))
    }
    // one row per vector, every output as raw bits (codes widen to long)
    def run(confs: (String, String)*): Map[Long, Seq[Seq[Long]]] = {
      val before = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        emb.select(col("vec_id") +: outs: _*).collect().map { r =>
          r.getLong(0) -> (1 to outs.length).map { i =>
            r.getSeq[Any](i).map {
              case d: Double => java.lang.Double.doubleToRawLongBits(d)
              case c: Int => c.toLong
            }
          }
        }.toMap
      } finally before.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val generated = run("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")
    val interpreted = run("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")
    generated.size shouldBe emb.count()
    generated.keys.foreach { id =>
      generated(id).zip(interpreted(id)).zipWithIndex.foreach {
        case ((g, n), i) =>
          assert(g == n, s"vec $id output ${outs(i)}: $g vs $n")
      }
    }
    // the Table output holds every distance the other two reduce
    generated.values.foreach(_(4).length shouldBe 8 * 16)
  }
}
