package graft

import org.apache.spark.sql.functions._

import graft.operators.{CorpusDiff, Privacy, Retention, Validation}
import graft.functions.BpePairs

/** Governance / maintenance operators: targeted deletion audit, BPE
  * merge-pair counting, and snapshot drift. */
class GovernanceSpec extends SparkSpec {
  import spark.implicits._

  private def u32md5(s: String): Long =
    java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8), 16)

  test("deleteAudit: counts partition the corpus; digest replays; survivors agree") {
    val docs = Tables(spark, sf0001, "documents")
    val deletes = docs.filter($"doc_id" % 97 === 3).select($"doc_id")
    val audit = Retention.deleteAudit(docs, deletes,
      col("doc_id"), col("source")).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap

    val bySource = docs.groupBy($"source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    audit.keySet shouldBe bySource.keySet
    audit.foreach { case (src, (kept, deleted, _)) =>
      kept + deleted shouldBe bySource(src)
    }
    audit.values.map(_._2).sum shouldBe deletes.count()

    // survivors = kept side, and no delete-listed id survives
    val surv = Retention.survivors(docs, deletes, col("doc_id"))
    surv.count() shouldBe audit.values.map(_._1).sum
    surv.filter($"doc_id" % 97 === 3).count() shouldBe 0L

    // digest replay: exact sum of u32(md5(id)) over the kept rows
    val keptIds = surv.select($"source", $"doc_id").collect()
      .groupBy(_.getString(0))
      .map { case (s, rs) =>
        s -> rs.map(r => u32md5(r.getLong(1).toString)).sum
      }
    audit.foreach { case (src, (_, _, hash)) =>
      hash shouldBe keptIds.getOrElse(src, 0L)
    }
  }

  test("deleteAudit with an empty request list deletes nothing") {
    val docs = Tables(spark, sf0001, "documents")
    val none = docs.filter($"doc_id" < 0).select($"doc_id")
    val audit = Retention.deleteAudit(docs, none,
      col("doc_id"), col("source"))
    audit.agg(sum($"n_deleted")).collect().head.getLong(0) shouldBe 0L
    audit.agg(sum($"n_kept")).collect().head.getLong(0) shouldBe docs.count()
  }

  test("bpe pairs: golden counts on a tiny corpus, freq-weighted") {
    // vocab: aa:1, ab:2 -> pairs: "a a":1, "a b":2
    val df = Seq((1L, "aa ab"), (2L, "AB")).toDF("doc_id", "text")
    val got = BpePairs.topPairs(df, col("text"), k = 10)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    got.toSeq shouldBe Seq((1, "a b", 2L), (2, "a a", 1L))
  }

  test("bpe pairs: total pair mass == sum of (len-1)*freq over the vocab") {
    val docs = Tables(spark, sf0001, "documents")
    val got = BpePairs.topPairs(docs, col("text"), k = 1000000)
    val pairMass = got.agg(sum($"cnt")).collect().head.getLong(0)
    val want = docs
      .select(explode(
        graft.functions.TextAnalysis.tokens(lower($"text"))).as("w"))
      .select((org.apache.spark.sql.functions.length($"w") - 1).as("m"))
      .filter($"m" >= 1)
      .agg(sum($"m")).collect().head.getLong(0)
    pairMass shouldBe want
  }

  test("refresh pipeline: audit mass == gate count; docs == distinct gated fps") {
    val got = SparkEntry.queries("corpus_refresh_pipeline")(spark, sf0001)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    // independent recompute through the same building blocks
    val docs = Tables(spark, sf0001, "documents")
      .select($"doc_id", $"lang", $"source", $"text")
    val upd = docs.filter($"doc_id" % 10 === 0)
      .withColumn("text", concat($"text", lit(" rev1")))
      .withColumn("seq", lit(1L)).withColumn("op", lit("U"))
    val del = docs.filter($"doc_id" % 17 === 0)
      .withColumn("seq", lit(2L)).withColumn("op", lit("D"))
    val ins = docs.filter($"doc_id" < 40)
      .withColumn("doc_id", $"doc_id" + lit(100000L))
      .withColumn("seq", lit(3L)).withColumn("op", lit("I"))
    val v2 = graft.operators.Cdc.applyChangeset(docs,
      upd.unionByName(del).unionByName(ins), "doc_id", "seq", "op")
    val gated = v2.filter(
      graft.functions.HashedLinear.weightSum($"text") >= 0)
    got.map(_._2).sum shouldBe gated.count() // every gated copy audited
    got.map(_._1).sum shouldBe gated.select(
      graft.functions.TextAnalysis.fingerprint($"text")).distinct().count()
  }

  test("drift: golden ppm shares and full-outer dims") {
    val old = Seq("a", "a", "a", "b").map(Tuple1(_)).toDF("lang")
    val neu = Seq("a", "b", "b", "c").map(Tuple1(_)).toDF("lang")
    val got = CorpusDiff.drift(old, neu, col("lang")).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    got("a") shouldBe ((3L, 1L, 750000L, 250000L, 500000L))
    got("b") shouldBe ((1L, 2L, 250000L, 500000L, 250000L))
    got("c") shouldBe ((0L, 1L, 0L, 250000L, 250000L)) // v2-only dim
    // shares are exact integer ppm: each side sums to <= 1e6
    got.values.map(_._3).sum should be <= 1000000L
    got.values.map(_._4).sum should be <= 1000000L
  }

  test("validation suite: hand-computed violations, empty-table guard") {
    val df = Seq((1L, 10.0, "A"), (2L, 60.0, "X"), (2L, 5.0, "N"))
      .toDF("id", "qty", "flag")
    val report = Validation.suite(
      Validation.rowRules(df, Seq(
        "qty_le_50" -> ($"qty" > 50),
        "flag_domain" -> !$"flag".isin("A", "N", "R"))),
      Validation.uniqueness(df, "id_unique", $"id"),
      Validation.referential(df, $"id",
        Seq(1L).toDF("pid"), $"pid", "fk_parent"))
      .as[(String, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    report("qty_le_50") shouldBe ((1L, false))
    report("flag_domain") shouldBe ((1L, false))
    report("id_unique") shouldBe ((1L, false)) // id 2 twice -> 1 extra
    report("fk_parent") shouldBe ((2L, false)) // both id-2 rows orphaned
    // empty table: all zero, all passed (the coalesce guard)
    val empty = df.filter($"id" < 0)
    Validation.suite(Validation.rowRules(empty, Seq(
      "qty_le_50" -> ($"qty" > 50))))
      .as[(String, Long, Boolean)].head() shouldBe (("qty_le_50", 0L, true))
  }

  test("functionalDependency: holds/violations/fan-out; empty-safe") {
    val df = Seq((1L, "x"), (1L, "x"), (2L, "y"), (2L, "z"),
      (3L, "x"), (3L, "y"), (3L, "z")).toDF("a", "b")
    val r = Validation.functionalDependency(df, "a->b", $"a", $"b")
      .as[(String, Long, Long, Long, Boolean)].collect().head
    r shouldBe (("a->b", 3L, 2L, 3L, false))
    // the reverse direction: b -> a has b=x mapping to {1,3} etc.
    val rev = Validation.functionalDependency(df, "b->a", $"b", $"a")
      .as[(String, Long, Long, Long, Boolean)].collect().head
    rev shouldBe (("b->a", 3L, 3L, 2L, false))
    // a genuine dependency
    val ok = Validation.functionalDependency(
      df.select($"a", ($"a" * 2).as("c")), "a->c", $"a", $"c")
      .as[(String, Long, Long, Long, Boolean)].collect().head
    ok shouldBe (("a->c", 3L, 0L, 1L, true))
    // empty input: zero groups, holds vacuously
    val empty = Validation.functionalDependency(
      df.filter($"a" < 0), "e", $"a", $"b")
      .as[(String, Long, Long, Long, Boolean)].collect().head
    empty shouldBe (("e", 0L, 0L, 0L, true))
  }

  test("entity matching: levenshtein pairs stay inside their block") {
    val c = Tables(spark, sf0001, "customer")
    val pairs = SparkEntry.queries("entity_match_customers")(spark, sf0001)
      .collect()
    pairs should not be empty
    val nation = c.select($"c_custkey", $"c_nationkey")
      .as[(Long, Long)].collect().toMap
    pairs.foreach { r =>
      val (a, b) = (r.getAs[Long]("custkey_a"), r.getAs[Long]("custkey_b"))
      a should be < b
      nation(a) shouldBe nation(b) // blocking respected
      r.getAs[Long]("name_dist") should be <= 2L
    }
    // contract: segment blocking is pigeonhole-COMPLETE for
    // substitution distance (every hamming<=2 pair survives) and a
    // SUBSET of the unrestricted levenshtein truth (indel-SHIFTED
    // pairs like key 123 vs 1230 — lev 2 but many positional diffs —
    // need PassJoin's shifted probes and are out of contract)
    val full = c.as("a").join(c.as("b"),
        $"a.c_nationkey" === $"b.c_nationkey" &&
          $"a.c_custkey" < $"b.c_custkey" &&
          levenshtein($"a.c_name", $"b.c_name") <= 2)
      .select($"a.c_custkey", $"b.c_custkey", $"a.c_name", $"b.c_name")
      .as[(Long, Long, String, String)].collect()
    val fullSet = full.map(p => (p._1, p._2)).toSet
    val hammingSet = full.filter { case (_, _, na, nb) =>
      na.length == nb.length &&
        na.zip(nb).count { case (x, y) => x != y } <= 2
    }.map(p => (p._1, p._2)).toSet
    val got = pairs.map(r => (r.getAs[Long]("custkey_a"),
      r.getAs[Long]("custkey_b"))).toSet
    got.subsetOf(fullSet) shouldBe true // every match verified real
    hammingSet.subsetOf(got) shouldBe true // substitution-complete
  }

  test("decayTotals: golden power-of-two weights; anchor row undecayed") {
    val h = 1000L // half-life in ns
    val ev = Seq(
      (1000L, "a", 2.0),  // anchor (max ts): k=0, weight 1e6
      (0L, "a", 4.0),     // one half-life: k=1, weight 500000
      (1L, "a", 8.0),     // 999ns elapsed: k=0 (whole half-lives only)
      (1000L - 25000L, "b", 1.0)) // k=25 -> clamped weight 0
      .toDF("ts", "typ", "value")
    val out = Retention.decayTotals(ev, col("ts"), col("typ"),
      col("value"), h)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // a: 2.0*1e6 + 4.0*5e5 + 8.0*1e6 = 12e6 -> e10 scale *1e4
    out("a") shouldBe ((3L, 120000000000L))
    out("b") shouldBe ((1L, 0L))
    // fractional values keep e4 exactness:
    // round(0.12345, 4) = 0.1235; x 500000 (k=1) = 61750; e10 -> x 1e4
    val ev2 = Seq((1000L, "x", 0.0), (0L, "x", 0.12345))
      .toDF("ts", "typ", "value")
    Retention.decayTotals(ev2, col("ts"), col("typ"), col("value"), h)
      .as[(String, Long, Long)].collect()
      .head shouldBe (("x", 2L, 617500000L))
  }

  test("window top-k leaderboard: per-window cap, replayed golden window") {
    val out = SparkEntry.queries("events_window_topk_users")(spark, sf0001)
      .as[(Long, Long, Int, Long)].collect()
    out should not be empty
    out.groupBy(_._1).values.foreach { rows =>
      rows.map(_._3).sorted.toSeq shouldBe (1 to rows.length)
      rows.length should be <= 3
    }
    // driver replay of one window
    val w0 = out.map(_._1).min
    val ev = Tables(spark, sf0001, "events")
      .filter($"ts" >= w0 && $"ts" < w0 + 86400L * 1000000000L)
      .select($"user_id", $"value").as[(Long, Double)].collect()
    val expect = ev.groupBy(_._1).view.mapValues(vs =>
        vs.map(v => BigDecimal(v._2).setScale(4,
          BigDecimal.RoundingMode.HALF_UP)).sum * 10000)
      .toSeq.map { case (u, v) => (u, v.toLong) }
      .sortBy { case (u, v) => (-v, u) }.take(3)
    out.filter(_._1 == w0).sortBy(_._3)
      .map(r => (r._2, r._4)).toSeq shouldBe expect
  }

  test("anomalyWindows: spike flagged, steady rate quiet, 0-MAD strictness") {
    // key "a": 9 windows of 10 events + 1 window of 100 (the spike);
    // key "b": identical 5-event windows everywhere (MAD 0 -> quiet)
    val ev = (
      (0 until 9).flatMap(w => (0 until 10).map(i =>
        (w * 100L + i % 100, "a"))) ++
      (0 until 100).map(i => (900L + i % 100, "a")) ++
      (0 until 10).flatMap(w => (0 until 5).map(i =>
        (w * 100L + i % 100, "b"))))
      .toDF("ts", "key")
    val out = Retention.anomalyWindows(ev, $"ts", $"key",
      windowNs = 100L)
      .as[(String, Long, Long, Double, Double)].collect()
    out.length shouldBe 1
    val (k, w, c, med, mad) = out.head
    k shouldBe "a"
    w shouldBe 900L
    c shouldBe 100L
    med shouldBe 10.0
    mad shouldBe 0.0 +- 1e-12 // 9 of 10 deviations are zero
    // with MAD 0, ANY deviation is an anomaly — and only the spike
    // deviates; the steady key never fires
    out.count(_._1 == "b") shouldBe 0
  }

  test("sourceOverlap: unordered matrix with diagonal; pair-graph driven") {
    val pairs = Seq((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L))
      .toDF("id_a", "id_b")
    val corpus = Seq(
      (1L, "s1"), (2L, "s2"), (3L, "s2"), (4L, "s1"),
      (5L, "s1"), (6L, "s1"), (7L, "s3"), (8L, "s2"))
      .toDF("doc_id", "source")
    val m = CorpusDiff.sourceOverlap(pairs, corpus,
      col("doc_id"), col("source"))
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    m shouldBe Map(
      ("s1", "s2") -> 2L,  // both directions fold onto one cell
      ("s1", "s1") -> 1L,  // within-source diagonal
      ("s2", "s3") -> 1L)
  }

  test("bpe round 2: greedy merge semantics, merged symbol re-pairs") {
    import graft.functions.BpePairs
    // "abab" x2: round-1 pairs ab:4, ba:2 -> winner (a,b).
    // merged: "abab" -> [ab][ab]; "aab" -> a[ab]; "aaa" untouched
    val docs = Seq((1L, "abab abab aab aaa")).toDF("doc_id", "text")
    val r2 = BpePairs.topPairsAfterMerge(docs, $"text", k = 10)
      .as[(Int, String, Long)].collect()
      .map(r => r._2 -> r._3).toMap
    r2("[ab] [ab]") shouldBe 2L // the double merge inside "abab", freq 2
    r2("a [ab]") shouldBe 1L
    r2("a a") shouldBe 2L       // "aaa" keeps its two aa pairs
    r2.keySet should not contain "a b" // the merged pair is gone
    // greedy left-to-right on overlaps: winner (a,a) in "aaaa" -> two
    // merges, "aaa" -> one merge plus a bare a
    val over = Seq((1L, "aaaa aaa")).toDF("doc_id", "text")
    val o2 = BpePairs.topPairsAfterMerge(over, $"text", k = 10)
      .as[(Int, String, Long)].collect()
      .map(r => r._2 -> r._3).toMap
    o2("[aa] [aa]") shouldBe 1L
    o2("[aa] a") shouldBe 1L
  }

  test("deletionVariants: exact neighborhood; short strings safe") {
    import graft.operators.EntityMatch
    def variants(s: String): Set[String] =
      Seq(s).toDF("s")
        .select(EntityMatch.deletionVariants($"s").as("v"))
        .as[Seq[String]].head().toSet
    // reference neighborhood by direct enumeration
    def ref(s: String): Set[String] = {
      val d1 = s.indices.map(i => s.take(i) + s.drop(i + 1)).toSet
      val d2 = for (a <- d1; i <- a.indices)
        yield a.take(i) + a.drop(i + 1)
      d2 ++ d1 + s
    }
    for (s <- Seq("", "a", "ab", "abc", "1230", "Customer#000000042"))
      variants(s) shouldBe ref(s)
    variants("abcde").size shouldBe (1 + 5 + 10)
  }

  test("deletionNeighborhoodPairs: complete for lev<=2 incl. indels") {
    import graft.operators.EntityMatch
    // the documented aligned-segment gap: key 123 vs 1230 (lev 1,
    // every position after the shift differs)
    val rows = Seq(
      (1L, "Customer#000000123", 0L), (2L, "Customer#000001230", 0L),
      (3L, "Customer#000000999", 0L), (4L, "Customer#000000124", 0L),
      (5L, "Customer#000000123", 1L), // other block: never paired
      // random-ish tails, some within 2 edits
      (6L, "Customer#00451198", 0L), (7L, "Customer#000451198", 0L),
      (8L, "Customer#770000001", 0L))
      .toDF("id", "name", "blk")
    val got = EntityMatch.deletionNeighborhoodPairs(
      rows, $"id", $"name", $"blk")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._4).toMap
    // brute-force truth within block
    val all = rows.as[(Long, String, Long)].collect()
    val truth = (for {
      a <- all; b <- all
      if a._3 == b._3 && a._1 < b._1
      d = org.apache.commons.text.similarity.LevenshteinDistance
        .getDefaultInstance.apply(a._2, b._2).toLong
      if d <= 2
    } yield (a._1, b._1) -> d).toMap
    got shouldBe truth
    got.keySet should contain((1L, 2L)) // the indel-shifted pair
    // fuzz: random digit tails, completeness vs brute force
    val rnd = new scala.util.Random(7)
    val fuzz = (0 until 120).map { i =>
      (i.toLong, "C#" + (0 until rnd.nextInt(4) + 6)
        .map(_ => ('0' + rnd.nextInt(3)).toChar).mkString, i.toLong % 2)
    }
    val fdf = fuzz.toDF("id", "name", "blk")
    val fgot = EntityMatch.deletionNeighborhoodPairs(
      fdf, $"id", $"name", $"blk")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._4).toMap
    val ftruth = (for {
      a <- fuzz; b <- fuzz
      if a._3 == b._3 && a._1 < b._1
      d = org.apache.commons.text.similarity.LevenshteinDistance
        .getDefaultInstance.apply(a._2, b._2).toLong
      if d <= 2
    } yield (a._1, b._1) -> d).toMap
    fgot shouldBe ftruth
  }

  test("passJoinPairs: complete for lev<=3 incl. indel shifts") {
    import graft.operators.EntityMatch
    def lev(a: String, b: String): Long =
      org.apache.commons.text.similarity.LevenshteinDistance
        .getDefaultInstance.apply(a, b).toLong
    // planted: deletions shift every later segment — the +-d window's
    // whole reason to exist
    val rows = Seq(
      (1L, "0123456789ab", 0L), (2L, "123456789ab", 0L), // del head, d=1
      (3L, "0123456789", 0L), (4L, "3456789", 0L), // d=3 dels
      (5L, "0123456789ab", 1L), // other block: never paired
      (6L, "zzzzqqqqwwww", 0L)) // far from everything in-block
      .toDF("id", "name", "blk")
    val got = EntityMatch.passJoinPairs(rows, rows,
      $"id", $"name", $"blk", $"id", $"name", $"blk", maxDist = 3)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._4).toMap
    val all = rows.as[(Long, String, Long)].collect()
    val truth = (for {
      a <- all; b <- all
      if a._3 == b._3
      d = lev(a._2, b._2)
      if d <= 3
    } yield (a._1, b._1) -> d).toMap
    got shouldBe truth
    got((1L, 2L)) shouldBe 1L // the head-deletion shift
    got((3L, 4L)) shouldBe 3L // three deletions
    // fuzz: low-entropy strings (alphabet 3) force dense near-pairs;
    // lengths 0..9 include empty and short keys — the side path that
    // the pigeonhole argument doesn't cover
    val rnd = new scala.util.Random(11)
    val fuzz = (0 until 120).map { i =>
      (i.toLong, (0 until rnd.nextInt(10))
        .map(_ => ('0' + rnd.nextInt(3)).toChar).mkString, i.toLong % 2)
    }
    val fdf = fuzz.toDF("id", "name", "blk")
    val fgot = EntityMatch.passJoinPairs(fdf, fdf,
      $"id", $"name", $"blk", $"id", $"name", $"blk", maxDist = 3)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._4).toMap
    val ftruth = (for {
      a <- fuzz; b <- fuzz
      if a._3 == b._3
      d = lev(a._2, b._2)
      if d <= 3
    } yield (a._1, b._1) -> d).toMap
    fgot shouldBe ftruth
  }

  test("passJoin registry: stored index round-trips, probe == direct") {
    import graft.operators.EntityMatch
    // clean registry + a disjoint-id dirty delta (one planted edit)
    val clean = (0L until 200L).map(i =>
      (i, f"k$i%02d-0123456789", i % 4)).toDF("id", "name", "blk")
    val delta = (0L until 200L by 7L).map(i =>
      (1000L + i, f"k$i%02d-123456789", i % 4)) // head-region deletion
      .toDF("id", "name", "blk")
    val direct = EntityMatch.passJoinPairs(clean, delta,
      $"id", $"name", $"blk", $"id", $"name", $"blk", maxDist = 3)
      .as[(Long, Long, Long, Long)].collect().sorted
    direct.length should be > 0
    val dir = java.nio.file.Files
      .createTempDirectory("pjidx").toString
    EntityMatch.writePassJoinIndex(
      EntityMatch.passJoinIndexBuild(clean,
        $"id", $"name", $"blk", maxDist = 3), dir)
    val stored = EntityMatch.passJoinProbe(
      EntityMatch.readPassJoinIndex(spark, dir, expectMaxDist = 3),
      delta, $"id", $"name", $"blk")
      .as[(Long, Long, Long, Long)].collect().sorted
    stored shouldBe direct
    // a second delta probes the SAME stored index — no rebuild
    val delta2 = Seq((2000L, "k00-0123456789x", 0L))
      .toDF("id", "name", "blk")
    val second = EntityMatch.passJoinProbe(
      EntityMatch.readPassJoinIndex(spark, dir, expectMaxDist = 3),
      delta2, $"id", $"name", $"blk")
      .as[(Long, Long, Long, Long)].collect()
    second.map(p => (p._1, p._2)) should contain((0L, 2000L))
  }

  test("pseudonym: stable, salt-sensitive, preserves join cardinality") {
    val ev = Tables(spark, sf0001, "events")
    val cust = Tables(spark, sf0001, "customer")
    // deterministic and salt-keyed
    val a = ev.select(Privacy.pseudonym($"user_id", "s1").as("p"))
      .distinct().as[String].collect().toSet
    val b = ev.select(Privacy.pseudonym($"user_id", "s1").as("p"))
      .distinct().as[String].collect().toSet
    val c = ev.select(Privacy.pseudonym($"user_id", "s2").as("p"))
      .distinct().as[String].collect().toSet
    a shouldBe b
    (a intersect c) shouldBe empty // rotating the salt unlinks releases
    // referential integrity: pseudonymized join == raw join row count
    val raw = ev.join(cust, ev("user_id") === cust("c_custkey")).count()
    val pseudo = ev.select(Privacy.pseudonym($"user_id", "s1").as("p"))
      .join(cust.select(Privacy.pseudonym($"c_custkey", "s1").as("p")), "p")
      .count()
    pseudo shouldBe raw
  }

  test("kAnonymityAudit: suppression boundary at exactly k") {
    val df = (Seq.fill(5)(("US", "A")) ++ Seq.fill(4)(("US", "B")) ++
      Seq.fill(1)(("FR", "A"))).toDF("country", "seg")
    val out = Privacy.kAnonymityAudit(df, k = 5L, $"country", $"seg")
      .as[(String, String, Long, Boolean)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    out(("US", "A")) shouldBe ((5L, false)) // exactly k: kept
    out(("US", "B")) shouldBe ((4L, true))
    out(("FR", "A")) shouldBe ((1L, true))
    // audit partitions the table
    out.values.map(_._1).sum shouldBe 10L
  }

  test("lDiversityAudit: homogeneity attack — big cells still flagged " +
      "when the sensitive value is uniform; boundary at exactly l") {
    val df = (
      // 6 rows, but ONE sensitive value: k-anonymous at k=5, yet leaks
      Seq.fill(6)(("US", "A", "cancer")) ++
      // 4 rows, 2 distinct sensitive values: exactly l -> kept
      Seq(("US", "B", "flu"), ("US", "B", "flu"),
        ("US", "B", "cold"), ("US", "B", "cold")) ++
      // 3 rows, 3 distinct: above l
      Seq(("FR", "A", "flu"), ("FR", "A", "cold"), ("FR", "A", "cancer"))
    ).toDF("country", "seg", "dx")
    val out = Privacy.lDiversityAudit(df, l = 2L, $"dx", $"country", $"seg")
      .as[(String, String, Long, Long, Boolean)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    out(("US", "A")) shouldBe ((6L, 1L, true)) // k-anonymous but uniform
    out(("US", "B")) shouldBe ((4L, 2L, false)) // exactly l: kept
    out(("FR", "A")) shouldBe ((3L, 3L, false))
    // and the k-anonymity audit alone would have PASSED the leaky cell
    val k = Privacy.kAnonymityAudit(df, k = 5L, $"country", $"seg")
      .filter($"country" === "US" && $"seg" === "A")
      .select($"suppressed").as[Boolean].head()
    k shouldBe false
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
