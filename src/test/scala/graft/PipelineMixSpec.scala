package graft

import org.apache.spark.sql.functions._

import graft.operators.{Cohorts, Dedup, Grouper, Pack, Splits}

/** Specs for the round-3 pipeline additions: duplicated-span scan,
  * weighted source mixture, md5-anchored Dirichlet partitioning, and
  * per-round cohort selection. */
class PipelineMixSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------- duplicated spans

  test("duplicatedSpans: flags recurring chunks, ignores partial tails") {
    val words = (1 to 16).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, words + " " + words),          // 2 chunks, identical -> both dup
      (2L, words),                        // 1 chunk, same content -> dup
      (3L, (1 to 16).map(i => s"u$i").mkString(" ")), // unique chunk
      (4L, "short tail only")             // no complete chunk -> absent
    ).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpans(docs, col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    out(1L) shouldBe ((2L, 2L))
    out(2L) shouldBe ((1L, 1L))
    out(3L) shouldBe ((1L, 0L))
    out.contains(4L) shouldBe false
  }

  test("duplicatedSpans: within-doc repetition alone counts as duplication") {
    val words = (1 to 16).map(i => s"x$i").mkString(" ")
    val docs = Seq((9L, words + " " + words)).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpans(docs, col("text"), col("doc_id"))
      .collect()
    out.head.getLong(2) shouldBe 2L // both copies recur
  }

  // ----------------------------------------------------- source mixture

  test("mixSources: weighted targets hit, membership deterministic and monotone") {
    val docs = Tables(spark, sf001, "documents")
      .select(col("doc_id"), col("source"))
    val evens = (0 until 20 by 2).map(i => s"src$i" -> 3L).toMap
    val once = Splits.mixSources(docs, col("doc_id"), col("source"),
      evens, defaultWeight = 1L, targetNum = 1L, targetDen = 2L)
    val twice = Splits.mixSources(docs, col("doc_id"), col("source"),
      evens, defaultWeight = 1L, targetNum = 1L, targetDen = 2L)
    // deterministic: identical membership on re-evaluation
    once.select("doc_id").except(twice.select("doc_id")).count() shouldBe 0L
    val bySrc = once.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // even sources get ~3x the rows of odd sources (same per-source n)
    val evenMean = (0 until 20 by 2).map(i => bySrc.getOrElse(s"src$i", 0L)).sum / 10.0
    val oddMean = (1 until 20 by 2).map(i => bySrc.getOrElse(s"src$i", 0L)).sum / 10.0
    evenMean should be > oddMean * 1.5
    // monotone: a smaller target is a subset of a larger one
    val small = Splits.mixSources(docs, col("doc_id"), col("source"),
      evens, defaultWeight = 1L, targetNum = 1L, targetDen = 4L)
    small.select("doc_id").except(once.select("doc_id")).count() shouldBe 0L
  }

  test("mixTemperatureSqrt: flattens shares toward low-resource langs") {
    val docs = Tables(spark, sf001, "documents")
      .select(col("doc_id"), col("lang"))
    val mixed = Splits.mixTemperatureSqrt(docs, col("doc_id"), col("lang"),
      targetNum = 1L, targetDen = 2L)
    val again = Splits.mixTemperatureSqrt(docs, col("doc_id"), col("lang"),
      targetNum = 1L, targetDen = 2L)
    mixed.select("doc_id").except(again.select("doc_id")).count() shouldBe 0L
    val before = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val after = mixed.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // T=2 flattening: the dominant language's SHARE must shrink and the
    // rarest language's share must grow
    val totB = before.values.sum.toDouble
    val totA = after.values.sum.toDouble
    val top = before.maxBy(_._2)._1
    val bottom = before.minBy(_._2)._1
    (after(top) / totA) should be < (before(top) / totB)
    (after(bottom) / totA) should be > (before(bottom) / totB)
    // monotone: a smaller target is a subset of a larger one (same
    // md5 membership rule as mixSources; exact counts are the DuckDB
    // oracle's job — per-lang targets carry binomial sampling noise)
    val small = Splits.mixTemperatureSqrt(docs, col("doc_id"), col("lang"),
      targetNum = 1L, targetDen = 4L)
    small.select("doc_id").except(mixed.select("doc_id")).count() shouldBe 0L
  }

  // ----------------------------------------- md5-anchored Dirichlet

  test("sampleFixedKPerGroup: exact k per group, nested across k, md5 order") {
    val docs = Tables(spark, sf0001, "documents")
    val k5 = Splits.sampleFixedKPerGroup(docs, $"doc_id", $"lang", 5)
      .as[(String, Long, Int)].collect()
    k5.groupBy(_._1).values.foreach { rows =>
      rows.map(_._3).sorted.toSeq shouldBe (1 to 5)
    }
    // nesting: the 5-sample per group is a prefix of the 20-sample
    val k20 = Splits.sampleFixedKPerGroup(docs, $"doc_id", $"lang", 20)
      .as[(String, Long, Int)].collect()
    val k20Set = k20.map(r => (r._1, r._2, r._3)).toSet
    k5.foreach(r => k20Set should contain((r._1, r._2, r._3)))
    // order = u32(md5(id)) asc, replayed independently
    def u32(id: Long): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8), 16)
    k5.groupBy(_._1).values.foreach { rows =>
      rows.sortBy(_._3).map(r => u32(r._2)).toSeq shouldBe
        rows.map(r => u32(r._2)).sorted.toSeq
    }
    // a group smaller than k yields the whole group
    val tiny = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "g")
    Splits.sampleFixedKPerGroup(tiny, $"id", $"g", 5)
      .count() shouldBe 3L
  }

  test("interleavedOrder: dense md5 ranks, formula positions, partition-invariant") {
    val docs = Tables(spark, sf0001, "documents")
    val out = uncoalesced(Splits.interleavedOrder(docs, $"doc_id", $"source")
      .as[(Long, String, Long, Long)].collect())
    out.length shouldBe docs.count()
    val srcs = out.map(_._2).distinct.sorted
    val si = srcs.zipWithIndex.toMap
    def u32(id: Long): BigInt = BigInt(
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8), 16)
    out.groupBy(_._2).foreach { case (s, rows) =>
      // dense 0..n-1, ordered by (u32(md5(id)), id)
      rows.map(_._3).sorted.toSeq shouldBe (0L until rows.length)
      rows.sortBy(_._3).map(_._1).toSeq shouldBe
        rows.map(_._1).sortBy(id => (u32(id), id)).toSeq
    }
    // position formula and uniqueness
    out.foreach { case (_, s, r, p) =>
      p shouldBe r * srcs.length + si(s)
    }
    out.map(_._4).distinct.length shouldBe out.length
    // batch-mix property: any prefix of the global order has balanced
    // sources until one exhausts
    val ordered = out.sortBy(_._4).map(_._2)
    val minSrcSize = out.groupBy(_._2).values.map(_.length).min
    val window = ordered.take(srcs.length * math.min(5, minSrcSize))
    window.groupBy(identity).values.map(_.size).toSet.size shouldBe 1
    // invariant under input partitioning
    val re = uncoalesced(Splits.interleavedOrder(
      docs.repartition(17, $"lang"), $"doc_id", $"source")
      .as[(Long, String, Long, Long)].collect())
    re.sortBy(_._1).toSeq shouldBe out.sortBy(_._1).toSeq
  }

  test("epochsPlan: golden integer plan; repeats flagged above 1e6 ppm") {
    // source A: 100 tokens -> weight 10; source B: 10000 -> weight 100
    val df = (Seq.fill(10)(("A", 10L)) ++ Seq.fill(10)(("B", 1000L)))
      .toDF("src", "n")
    val plan = Splits.epochsPlan(df, $"src", $"n", budget = 1100L)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // targets: 1100*10//110 = 100; 1100*100//110 = 1000
    plan("A") shouldBe ((100L, 10L, 100L, 1000000L))  // exactly 1 epoch
    plan("B") shouldBe ((10000L, 100L, 1000L, 100000L)) // 0.1 epochs
    // doubling the budget doubles-ish targets, monotone
    val plan2 = Splits.epochsPlan(df, $"src", $"n", budget = 2200L)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r._4).toMap
    plan2("A") shouldBe 200L
    plan2("A") should be > plan("A")._3
    // a low-resource boost: epochs_ppm beyond 1e6 means repeating data
    val skew = (Seq.fill(1)(("tiny", 4L)) ++ Seq.fill(10)(("big", 10000L)))
      .toDF("src", "n")
    val boosted = Splits.epochsPlan(skew, $"src", $"n", budget = 100000L)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r._5).toMap
    boosted("tiny") should be > 1000000L
    an[IllegalArgumentException] should be thrownBy
      Splits.epochsPlan(df, $"src", $"n", budget = 0L)
  }

  test("byDirichletMd5: deterministic, bounded groups, label-conditional") {
    val emb = Tables(spark, sf001, "embeddings")
    val g = Grouper.byDirichletMd5(col("label"), col("vec_id"),
      labels = 0 until 10, numGroups = 8, alpha = 0.5, seed = 7L)
    val keyed = g.keyed(emb).select(col("vec_id"), col("group_id"))
    val again = g.keyed(emb).select(col("vec_id"), col("group_id"))
    keyed.except(again).count() shouldBe 0L
    val groups = keyed.select("group_id").distinct().as[String].collect()
    all(groups.map(_.stripPrefix("group_").toInt)) should be < 8
    // with alpha=0.5 the per-label distribution is concentrated: at
    // least one label should NOT use all 8 groups at this sample size
    val spread = g.keyed(emb).groupBy(col("label"))
      .agg(countDistinct(col("group_id")).as("ng"))
      .agg(min(col("ng"))).as[Long].head()
    spread should be < 8L
  }

  test("dirichletOracleSelect embeds thresholds matching the Spark matrix") {
    // the generated SQL must contain the exact decimal expansion of the
    // first cumulative threshold of label 0's probability row
    val probs = Grouper.dirichletProbs(0 until 10, 8, 0.5, 7L)
    val thr0 = new java.math.BigDecimal(probs(0)(0)).toPlainString
    val sql = Grouper.dirichletOracleSelect("vec_id", "label",
      0 until 10, 8, 0.5, 7L)
    sql should include(thr0)
  }

  // -------------------------------------------------- token-budget pack

  test("packCappedBy: token weight packs greedily ascending, cap binds") {
    val docs = Seq(
      (1L, "a b c"),            // 3 tokens
      (2L, "d e"),              // 2 tokens
      (3L, "f g h i j k l m"),  // 8 tokens
      (4L, "n o p q")           // 4 tokens
    ).map { case (id, t) => (id, t, "g") }.toDF("doc_id", "text", "grp")
    val out = Pack.packCappedBy(docs, Grouper.byColumn("grp"),
      col("text"), col("doc_id"),
      p => graft.functions.TextAnalysis.tokenCount(p.cast("string")),
      limit = 9L).collect().head
    // ascending token order: 2,3,4,8 -> cum 2,5,9,17; kept = cum < 9
    out.getAs[Long]("num_examples") shouldBe 2L
    out.getAs[Long]("num_bytes") shouldBe 5L
  }

  test("packCappedBy with octet weight == packCappedDeterministic") {
    val docs = Tables(spark, sf0001, "documents").limit(200)
    val a = Pack.packCappedDeterministic(docs, Grouper.byColumn("lang"),
      col("text"), col("doc_id"), limit = 5000L)
    val b = Pack.packCappedBy(docs, Grouper.byColumn("lang"),
      col("text"), col("doc_id"),
      p => octet_length(p).cast("long"), limit = 5000L)
    a.select("group_id", "num_examples", "num_bytes")
      .except(b.select("group_id", "num_examples", "num_bytes"))
      .count() shouldBe 0L
  }

  // ------------------------------------------------- group-holdout split

  test("holdOutGroups: whole groups enter or leave together; monotone") {
    val docs = Tables(spark, sf001, "documents")
      .select(col("doc_id"), col("source"))
    val train = Splits.holdOutGroups(docs, col("source"), rate = 0.6)
    val trainSources = train.select("source").distinct().as[String].collect().toSet
    val allSources = docs.select("source").distinct().as[String].collect().toSet
    // every kept source keeps ALL its docs (group granularity)
    val counts = docs.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val keptCounts = train.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    keptCounts.foreach { case (s, n) => n shouldBe counts(s) }
    trainSources.subsetOf(allSources) shouldBe true
    // monotone: lower rate selects a subset of sources
    val small = Splits.holdOutGroups(docs, col("source"), rate = 0.3)
    val smallSources = small.select("source").distinct().as[String].collect().toSet
    smallSources.subsetOf(trainSources) shouldBe true
  }

  // ----------------------------------------------------- keep-best

  test("keepBest: highest score wins, lowest id breaks ties, singletons kept") {
    val asg = Seq((1L, 1L), (2L, 1L), (3L, 1L), (9L, 9L))
      .toDF("id", "cluster_id")
    val scores = Seq((1L, 0.5), (2L, 0.9), (3L, 0.9), (9L, 0.1))
      .toDF("doc_id", "q")
    val out = Dedup.keepBest(asg, scores, col("doc_id"), col("q"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    out(1L) shouldBe ((2L, 0.9, 3L)) // 2 beats 3 on tie (lower id)
    out(9L) shouldBe ((9L, 0.1, 1L)) // singleton survives
  }

  // ---------------------------------------------- deterministic shards

  test("writeTFRecordsSharded: shard membership is md5-deterministic; roundtrip intact") {
    import graft.operators.PartitionedDataset
    val docs = Tables(spark, sf0001, "documents").limit(100)
    val packed = PartitionedDataset.packExamples(docs, Grouper.byColumn("lang"))
    val tmp1 = java.nio.file.Files.createTempDirectory("g-shard1").toString
    val tmp2 = java.nio.file.Files.createTempDirectory("g-shard2").toString
    val p1 = PartitionedDataset.writeTFRecordsSharded(packed, tmp1, 4)
    val p2 = PartitionedDataset.writeTFRecordsSharded(
      packed.repartition(7), tmp2, 4) // different upstream partitioning
    p1.size shouldBe 4
    // identical shard contents independent of upstream partitioning
    (0 until 4).foreach { i =>
      val f1 = java.nio.file.Paths.get(tmp1, f"groups.tfrecord-$i%05d-of-00004")
      val f2 = java.nio.file.Paths.get(tmp2, f"groups.tfrecord-$i%05d-of-00004")
      val b1 = java.nio.file.Files.readAllBytes(f1)
      val b2 = java.nio.file.Files.readAllBytes(f2)
      // per-shard record MULTISET equality (records within a shard may
      // arrive in any order); compare sorted record payloads
      def records(b: Array[Byte]): Seq[Seq[Byte]] = {
        val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(b))
        Iterator.continually(graft.serialization.TFRecordCodec.readRecord(in))
          .takeWhile(_.isDefined).map(_.get.toSeq).toSeq.sortBy(_.hashCode())
      }
      records(b1).toSet shouldBe records(b2).toSet
    }
    // all groups present exactly once across shards
    val loaded = PartitionedDataset.loadTFRecords(
      spark, s"$tmp1/groups.tfrecord-*")
    loaded.count() shouldBe packed.count()
  }

  // ------------------------------------------------------ cohort rounds

  test("Cohorts.select: exact cohort size, deterministic, round-varying") {
    val docs = Tables(spark, sf001, "documents")
    val sel = Cohorts.select(docs, Grouper.byColumn("source"),
      rounds = 8, cohortSize = 5)
    val rows = sel.collect()
    rows.length shouldBe 40
    val byRound = rows.groupBy(_.getLong(0))
    byRound.keySet shouldBe (0L until 8L).toSet
    all(byRound.values.map(_.length)) shouldBe 5
    // no duplicate group within a round
    byRound.values.foreach { rs =>
      rs.map(_.getString(1)).distinct.length shouldBe 5
    }
    // different rounds draw different cohorts (md5 independence)
    byRound.values.map(_.map(_.getString(1)).toSet).toSet.size should be > 1
    // n_examples matches the roster counts
    val counts = docs.groupBy(col("source")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach(r => r.getLong(2) shouldBe counts(r.getString(1)))
  }

  // ------------------------------------------------- per-source quota

  test("capPerSource: at most cap rows per source, window-equivalent") {
    val docs = Tables(spark, sf001, "documents")
      .select(col("doc_id"), col("source"))
    val capped = Splits.capPerSource(docs, col("doc_id"), col("source"), 10)
    val bySrc = capped.groupBy(col("source")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = docs.groupBy(col("source")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    bySrc.keySet shouldBe full.keySet
    bySrc.foreach { case (s, n) => n shouldBe math.min(10L, full(s)) }
    // exactly the window-formulation's selection (the shape it replaces)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(md5(col("doc_id").cast("string")))
    val viaWindow = docs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= 10).drop("__rn")
      .collect().map(_.getLong(0)).toSet
    capped.collect().map(_.getLong(0)).toSet shouldBe viaWindow
  }

  test("capPerSource: monotone in cap (smaller cap is a subset)") {
    val docs = Tables(spark, sf001, "documents")
      .select(col("doc_id"), col("source"))
    val at5 = Splits.capPerSource(docs, col("doc_id"), col("source"), 5)
      .collect().map(_.getLong(0)).toSet
    val at15 = Splits.capPerSource(docs, col("doc_id"), col("source"), 15)
      .collect().map(_.getLong(0)).toSet
    at5.subsetOf(at15) shouldBe true
    at5.size shouldBe 5 * 20
    at15.size shouldBe 15 * 20
  }

  test("bestPerSource: top-cap by score per source, window-equivalent") {
    val docs = Tables(spark, sf001, "documents")
      .select(col("doc_id"), col("source"),
        graft.functions.TextAnalysis.qualityScoreOf(
          graft.functions.TextAnalysis.profile(col("text"))).as("q"))
      .repartition(col("source"))
    val got = Splits.bestPerSource(docs, col("doc_id"), col("source"),
        col("q"), cap = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
      .toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("q").desc, col("doc_id"))
    val expect = docs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getInt(3)))
      .toSet
    got shouldBe expect
    got.groupBy(_._1).values.foreach(_.size shouldBe 3)
  }

  test("invertedIndex: golden postings, minDf prune, cap binds") {
    val docs = Seq(
      (1L, "alpha beta"), (2L, "alpha gamma"), (3L, "alpha beta beta"),
      (4L, "delta")).toDF("doc_id", "text")
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val full = graft.functions.InvertedIndex.build(
        docs, col("text"), col("doc_id"), minDf = 2L, cap = 100)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    // in-doc repeats (doc 3 "beta beta") count once; delta df=1 pruned
    full shouldBe Set(
      ("alpha", 3L, 3L, md5hex("1,2,3")),
      ("beta", 2L, 2L, md5hex("1,3")))
    val capped = graft.functions.InvertedIndex.build(
        docs, col("text"), col("doc_id"), minDf = 2L, cap = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    // df stays FULL; postings keep the 2 smallest ids
    capped shouldBe Set(
      ("alpha", 3L, 2L, md5hex("1,2")),
      ("beta", 2L, 2L, md5hex("1,3")))
  }

  test("invertedIndex matches the window formulation on the driver corpus") {
    val docs = Tables(spark, sf0001, "documents")
    val got = graft.functions.InvertedIndex.build(
        docs, col("text"), col("doc_id"), minDf = 3L, cap = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    val pairs = docs.select(col("doc_id").as("id"),
        explode(array_distinct(
          graft.functions.TextAnalysis.tokens(col("text")))).as("term"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term")).orderBy(col("id"))
    val expect = pairs
      .withColumn("rk", row_number().over(w))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        count(when(col("rk") <= 10, lit(1))).as("n_postings"),
        md5(array_join(transform(
          array_sort(collect_list(when(col("rk") <= 10, col("id")))),
          i => i.cast("string")), ",")).as("posting_digest"))
      .filter(col("df") >= 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    got should not be empty
    got shouldBe expect
  }

  // ------------------------------------------------- vocab coverage

  test("vocab topTokens: hand-computed counts and coverage curve") {
    // occurrences: a:4 b:3 c:2 z:1 (total 10); ties none
    val docs = Seq((1L, "a b a"), (2L, "B c a\tb"), (3L, "c  z A"))
      .toDF("doc_id", "text")
    val out = graft.functions.Vocab.topTokens(docs, col("text"), k = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    out shouldBe Array(
      (1, "a", 4L, 0.4),
      (2, "b", 3L, 0.7),
      (3, "c", 2L, 0.9))
  }

  test("vocab topTokens: rank ties break by token ASC; k caps output") {
    val docs = Seq((1L, "x y"), (2L, "y x z")).toDF("doc_id", "text")
    val out = graft.functions.Vocab.topTokens(docs, col("text"), k = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    out shouldBe Array((1, "x", 2L), (2, "y", 2L))
  }
}
