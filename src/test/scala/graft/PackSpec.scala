package graft

import org.apache.spark.sql.functions._

import graft.operators.{Grouper, Pack, PackBuffer, PackWithLimit}

/** Golden values transferred from the reference's packer tests
  * (beam_transforms_test.py:26-122) — FIXTURES.md §A3. */
class PackSpec extends SparkSpec {
  import spark.implicits._

  private def b(s: String) = s.getBytes("UTF-8")
  private def strs(buf: Seq[Array[Byte]]) = buf.map(new String(_, "UTF-8"))

  test("add_input under limit (beam_transforms_test.py:28-34)") {
    val m = new PackWithLimit(12)
    val out = m.reduce(PackBuffer(Vector(b("one"), b("two")), 6), b("three"))
    strs(out.items) shouldBe Seq("one", "two", "three")
    out.total shouldBe 11L
  }

  test("add_input over limit drops, keeps accumulator (…:36-41)") {
    val m = new PackWithLimit(8)
    val acc = PackBuffer(Vector(b("one"), b("two")), 6)
    val out = m.reduce(acc, b("four"))
    strs(out.items) shouldBe Seq("one", "two")
    out.total shouldBe 6L
  }

  test("merge under limit concatenates (…:43-49)") {
    val m = new PackWithLimit(20)
    val out = m.merge(
      PackBuffer(Vector(b("one"), b("two")), 6),
      PackBuffer(Vector(b("three"), b("four")), 9))
    strs(out.items) shouldBe Seq("one", "two", "three", "four")
    out.total shouldBe 15L
  }

  test("merge over limit stops at first non-fitting element (…:51-58)") {
    val m = new PackWithLimit(12)
    val out = m.merge(
      PackBuffer(Vector(b("one"), b("two")), 6),
      PackBuffer(Vector(b("three"), b("four")), 9))
    strs(out.items) shouldBe Seq("one", "two", "three")
    out.total shouldBe 11L
  }

  test("three-accumulator fold matches reference merge (…:60-69)") {
    val m = new PackWithLimit(20)
    val a1 = PackBuffer(Vector(b("one"), b("two")), 6)
    val a2 = PackBuffer(Vector(b("three"), b("four")), 9)
    val a3 = PackBuffer(Vector(b("five"), b("six")), 7)
    val out = m.merge(m.merge(a1, a2), a3)
    strs(out.items) shouldBe Seq("one", "two", "three", "four", "five")
    out.total shouldBe 19L
  }

  private val keyedExamples = Seq(
    ("group1", "a"), ("group1", "b"), ("group1", "c"),
    ("group2", "dd"), ("group2", "ee"))

  test("engine pack, limit=5: no group capped (…:71-89)") {
    val df = keyedExamples.toDF("k", "v")
    val out = Pack.packGroups(df, Grouper.byColumn("k"), $"v", limit = 5)
      .orderBy("group_id")
      .select($"group_id", $"num_examples").as[(String, Long)].collect()
    out.toSeq shouldBe Seq(("group1", 3L), ("group2", 2L))
  }

  test("engine pack, limit=4: group2 capped to one element (…:91-105)") {
    val df = keyedExamples.toDF("k", "v").coalesce(1) // single partition => reference arrival order
    val out = Pack.packGroups(df, Grouper.byColumn("k"), $"v", limit = 4)
      .orderBy("group_id")
      .select($"group_id", $"num_examples").as[(String, Long)].collect()
    out.toSeq shouldBe Seq(("group1", 3L), ("group2", 1L))
  }

  test("engine pack, limit=3: all groups capped (…:107-122)") {
    val df = keyedExamples.toDF("k", "v").coalesce(1)
    val out = Pack.packGroups(df, Grouper.byColumn("k"), $"v", limit = 3)
      .orderBy("group_id")
      .select($"group_id", $"num_examples").as[(String, Long)].collect()
    out.toSeq shouldBe Seq(("group1", 2L), ("group2", 1L))
  }

  test("deterministic capped pack: prefix-by-ascending-size semantics") {
    val df = Seq(
      ("g", 1L, "aaaa"), ("g", 2L, "bb"), ("g", 3L, "c"), ("g", 4L, "ddddd"))
      .toDF("k", "id", "v")
    // ascending (size, id): c(1) bb(2) aaaa(4) ddddd(5); limit 8 keeps
    // cum 1,3,7 (<8) and drops ddddd (12>=8)
    val out = Pack.packCappedDeterministic(
      df, Grouper.byColumn("k"), $"v", $"id", limit = 8)
    val r = out.head()
    r.getAs[Long]("num_examples") shouldBe 3L
    r.getAs[Long]("num_bytes") shouldBe 7L
    r.getAs[Seq[Array[Byte]]]("examples").map(new String(_)) shouldBe Seq("c", "bb", "aaaa")
  }

  test("deterministic capped pack keeps empty groups (one row per group)") {
    val df = Seq(("g1", 1L, "tiny"), ("g2", 2L, "enormous-payload")).toDF("k", "id", "v")
    val out = Pack.packCappedDeterministic(
      df, Grouper.byColumn("k"), $"v", $"id", limit = 5)
      .orderBy("group_id")
      .select($"group_id", $"num_examples").as[(String, Long)].collect()
    // g2's only row (16 bytes) exceeds the cap: group survives, empty
    out.toSeq shouldBe Seq(("g1", 1L), ("g2", 0L))
  }

  test("deterministic capped pack is partitioning-invariant") {
    val base = (1 to 200).map(i => ("g" + (i % 3), i.toLong, "x" * (i % 17 + 1)))
    val df1 = base.toDF("k", "id", "v").repartition(13)
    val df2 = base.reverse.toDF("k", "id", "v").coalesce(1)
    def run(df: org.apache.spark.sql.DataFrame) =
      Pack.packCappedDeterministic(df, Grouper.byColumn("k"), $"v", $"id", limit = 300)
        .orderBy("group_id")
        .select($"group_id", $"num_examples", $"num_bytes")
        .as[(String, Long, Long)].collect().toSeq
    run(df1) shouldBe run(df2)
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("packFixedContext: hand-computed golden, docs span example cuts") {
    // stream (id order): a b c | d e | f g h i  -> L=4:
    //   e0 = a b c d (docs 1,2), e1 = e f g h (docs 2,3), e2 = i (doc 3)
    val df = Seq((1L, "a b c"), (2L, "d e"), (3L, "f g h i"))
      .toDF("doc_id", "text").withColumn("g", lit("g"))
    val out = Pack.packFixedContext(df, $"g", $"doc_id",
        graft.functions.TextAnalysis.tokens($"text"), seqLen = 4)
      .orderBy("example_id")
      .select($"example_id", $"n_tokens", $"n_docs", $"digest")
      .as[(Long, Long, Long, String)].collect().toSeq
    out shouldBe Seq(
      (0L, 4L, 2L, md5hex("a b c d")),
      (1L, 4L, 2L, md5hex("e f g h")),
      (2L, 1L, 1L, md5hex("i")))
  }

  test("inputTargetBlocks: next-token shift, padding weights, remainder drops") {
    // id stream per group: doc1 [1,2,3], doc2 [4,5,0,6], doc3 [7,8,9]
    // -> concat [1,2,3,4,5,0,6,7,8,9]; L=3, B=4: blocks [1,2,3,4],
    // [5,0,6,7]; remainder [8,9] drops
    val df = Seq(
      (1L, Seq(1, 2, 3)), (2L, Seq(4, 5, 0, 6)), (3L, Seq(7, 8, 9)))
      .toDF("doc_id", "ids").withColumn("g", lit("g"))
    val out = Pack.inputTargetBlocks(df, $"g", $"doc_id", $"ids",
        seqLen = 3)
      .orderBy("example_id")
      .as[(String, Long, Seq[Int], Seq[Int], Seq[Int])].collect().toSeq
    out shouldBe Seq(
      ("g", 0L, Seq(1, 2, 3), Seq(2, 3, 4), Seq(1, 1, 1)),
      ("g", 1L, Seq(5, 0, 6), Seq(0, 6, 7), Seq(0, 1, 1)))
    // the shift identity on the corpus: target == input shifted left
    // within the underlying block, for every emitted example
    val docs = Tables(spark, sf0001, "documents")
    val enc = graft.functions.Vocab.encodeIds(docs,
        $"doc_id", $"text", k = 200)
      .join(docs.select($"doc_id", $"lang"), "doc_id")
    val blocks = Pack.inputTargetBlocks(enc, $"lang", $"doc_id",
        $"ids", seqLen = 64)
      .as[(String, Long, Seq[Int], Seq[Int], Seq[Int])].collect()
    blocks should not be empty
    blocks.foreach { case (_, _, in, tg, wt) =>
      in.length shouldBe 64
      tg.length shouldBe 64
      in.drop(1) shouldBe tg.dropRight(1)
      wt shouldBe tg.map(t => if (t != 0) 1 else 0)
    }
  }

  test("blockBoundaries: seam offsets by hand; continuation blocks empty") {
    // streams: doc1 [3 toks] doc2 [4] doc3 [5] -> starts 0,3,7; B=4:
    // block0 seams at 0,3; block1 seam at 7%4=3; block2 none (pure
    // continuation of doc3); empty doc4 owns no tokens, no seam
    val df = Seq(
      (1L, Seq(1, 2, 3)), (2L, Seq(4, 5, 6, 7)),
      (3L, Seq(8, 9, 10, 11, 12)), (4L, Seq.empty[Int]))
      .toDF("doc_id", "ids").withColumn("g", lit("g"))
    val bounds = Pack.blockBoundaries(df, $"g", $"doc_id", $"ids",
        seqLen = 3)
      .as[(String, Long, Long, String)].collect()
      .map(r => r._2 -> (r._3, r._4)).toMap
    bounds shouldBe Map(0L -> ((2L, "0,3")), 1L -> ((1L, "3")))
    // joined the way the declared query does: full blocks 0,1,2 (12
    // tokens), block 2 must come back as a continuation
    val blocks = Pack.inputTargetBlocks(df, $"g", $"doc_id", $"ids",
        seqLen = 3).select($"group_id", $"example_id")
    val joined = blocks.join(
        Pack.blockBoundaries(df, $"g", $"doc_id", $"ids", seqLen = 3),
        Seq("group_id", "example_id"), "left")
      .as[(String, Long, Option[Long], Option[String])].collect()
      .map(r => r._2 -> ((r._3.getOrElse(0L), r._4.getOrElse("")))).toMap
    joined shouldBe Map(
      0L -> ((2L, "0,3")), 1L -> ((1L, "3")), 2L -> ((0L, "")))
  }

  test("packFixedContextScalable == window path: golden and driver corpus") {
    val golden = Seq((1L, "a b c"), (2L, "d e"), (3L, "f g h i"))
      .toDF("doc_id", "text").withColumn("g", lit("g"))
    val gotGolden = Pack.packFixedContextScalable(golden, $"g", $"doc_id",
        graft.functions.TextAnalysis.tokens($"text"), seqLen = 4)
      .orderBy("example_id")
      .select($"example_id", $"n_tokens", $"n_docs", $"digest")
      .as[(Long, Long, Long, String)].collect().toSeq
    gotGolden shouldBe Seq(
      (0L, 4L, 2L, md5hex("a b c d")),
      (1L, 4L, 2L, md5hex("e f g h")),
      (2L, 1L, 1L, md5hex("i")))
    val docs = Tables(spark, sf0001, "documents")
    def collectAll(d: org.apache.spark.sql.DataFrame) =
      d.select($"group_id", $"example_id", $"n_tokens", $"n_docs", $"digest")
        .as[(String, Long, Long, Long, String)].collect().toSet
    val window = collectAll(Pack.packFixedContext(docs, $"lang", $"doc_id",
      graft.functions.TextAnalysis.tokens($"text"), seqLen = 32))
    val scalable = uncoalesced(collectAll(Pack.packFixedContextScalable(
      docs, $"lang", $"doc_id", graft.functions.TextAnalysis.tokens($"text"),
      seqLen = 32)))
    window should not be empty
    scalable shouldBe window
  }

  test("duplicate ids in a group: window == scalable, no example over seqLen") {
    // group g: id 1 -> a b c, id 1 -> d e, id 2 -> f; seqLen 2. The two
    // id-1 docs tie, so either may come first, but each token belongs
    // to exactly one 2-token example
    val df = Seq((1L, "a b c"), (1L, "d e"), (2L, "f"))
      .toDF("doc_id", "text").withColumn("g", lit("g"))
    val toks = graft.functions.TextAnalysis.tokens($"text")
    def collectAll(d: org.apache.spark.sql.DataFrame) =
      d.select($"example_id", $"n_tokens", $"n_docs", $"digest")
        .as[(Long, Long, Long, String)].collect().toSet
    val window = collectAll(Pack.packFixedContext(df, $"g", $"doc_id",
      toks, seqLen = 2))
    val scalable = collectAll(Pack.packFixedContextScalable(df, $"g",
      $"doc_id", toks, seqLen = 2))
    window shouldBe scalable
    window.foreach(_._2 should be <= 2L)
    def cut(stream: String) = stream.split(" ").grouped(2).zipWithIndex
      .map { case (b, e) => md5hex(b.mkString(" ")) -> e.toLong }.toSet
    Set(cut("a b c d e f"), cut("d e a b c f")) should contain(
      window.map(r => r._4 -> r._1))
    // ids: the 6-id stream holds exactly two full 3-id blocks
    val ids = Seq((1L, Seq(1, 2, 3)), (1L, Seq(4, 5)), (2L, Seq(6)))
      .toDF("doc_id", "ids").withColumn("g", lit("g"))
    val blocks = Pack.inputTargetBlocks(ids, $"g", $"doc_id", $"ids",
        seqLen = 2)
      .select($"example_id", $"input_ids", $"target_ids")
      .as[(Long, Seq[Int], Seq[Int])].collect().sortBy(_._1)
    blocks.map(_._1).toSeq shouldBe Seq(0L, 1L)
    blocks.flatMap { case (_, in, tg) => in :+ tg.last }.sorted.toSeq shouldBe
      (1 to 6)
  }

  test("packFixedContextScalable keeps a null group as its own stream") {
    // 12 null-group docs spread over several range partitions (AQE
    // would coalesce this tiny shuffle into one); each partition
    // continues the null group's running sum
    val df = (1 to 16).map(i => (if (i % 4 == 0) Some("g") else None,
        i.toLong, s"t$i u$i"))
      .toDF("g", "doc_id", "text")
    val toks = graft.functions.TextAnalysis.tokens($"text")
    def collectAll(d: org.apache.spark.sql.DataFrame) =
      d.select($"group_id", $"example_id", $"n_tokens", $"digest")
        .as[(Option[String], Long, Long, String)].collect().toSet
    val window = collectAll(Pack.packFixedContext(df, $"g", $"doc_id",
      toks, seqLen = 3))
    uncoalesced(collectAll(Pack.packFixedContextScalable(df, $"g",
      $"doc_id", toks, seqLen = 3))) shouldBe window
    window.count(_._1.isEmpty) shouldBe 8 // 24 tokens, 3 per example
  }

  test("packFixedContext == naive driver recompute on the sf0.001 corpus") {
    val docs = Tables(spark, sf0001, "documents")
    val L = 32
    val got = Pack.packFixedContext(docs, $"lang", $"doc_id",
        graft.functions.TextAnalysis.tokens($"text"), seqLen = L)
      .select($"group_id", $"example_id", $"n_tokens", $"n_docs", $"digest")
      .as[(String, Long, Long, Long, String)].collect().toSet
    // naive: collect per-lang token streams in id order, cut on the driver
    val streams = docs.select($"lang", $"doc_id",
        graft.functions.TextAnalysis.tokens($"text").as("t"))
      .as[(String, Long, Seq[String])].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    val expect = streams.flatMap { case (lang, ds) =>
      val docSpans = ds.filter(_._3.nonEmpty)
      val flat = docSpans.flatMap { case (_, id, t) => t.map(tok => (id, tok)) }
      flat.zipWithIndex.groupBy(_._2 / L).map { case (e, part) =>
        val toks = part.map(_._1._2)
        val nDocs = part.map(_._1._1).distinct.size.toLong
        (lang, e.toLong, toks.size.toLong, nDocs, md5hex(toks.mkString(" ")))
      }
    }.toSet
    got should not be empty
    got shouldBe expect
  }
}
