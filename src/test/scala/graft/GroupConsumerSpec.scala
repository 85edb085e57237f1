package graft

import org.apache.spark.sql.functions._

import graft.operators.{GroupConsumer, Grouper, Pack}

class GroupConsumerSpec extends SparkSpec {
  import spark.implicits._

  test("chunkedBlocks: hand-computed blocks of 4 tokens") {
    val df = Seq(
      (1L, "g", "a b c"),
      (2L, "g", "d e f g h"))
      .toDF("doc_id", "k", "text")
    val out = GroupConsumer.chunkedBlocks(
      df, Grouper.byColumn("k"), $"text", $"doc_id", blockSize = 4)
      .orderBy("block_idx")
      .select($"block_idx", $"n_tokens").as[(Long, Long)].collect()
    // 8 tokens total: [a b c d] [e f g h]
    out.toSeq shouldBe Seq((0L, 4L), (1L, 4L))
    // drop_remainder drops a ragged tail
    val ragged = GroupConsumer.chunkedBlocks(
      df, Grouper.byColumn("k"), $"text", $"doc_id", blockSize = 3,
      dropRemainder = true)
    ragged.agg(sum($"n_tokens")).as[Long].head() shouldBe 6L // 8 -> two full blocks
    an[IllegalArgumentException] should be thrownBy
      GroupConsumer.chunkedBlocks(df, Grouper.byColumn("k"), $"text",
        $"doc_id", blockSize = 0)
  }

  test("chunkedBlocks: partitioning-invariant digests") {
    val docs = Tables(spark, sf0001, "documents")
    def run(df: org.apache.spark.sql.DataFrame) =
      GroupConsumer.chunkedBlocks(df, Grouper.byColumn("lang"),
        $"text", $"doc_id", 128)
        .orderBy("group_id", "block_idx")
        .select("group_id", "block_idx", "block_digest")
        .as[(String, Long, String)].collect().toSeq
    run(docs.repartition(11)) shouldBe run(docs.coalesce(1))
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("chunkedBlocks == driver model on the sf0.001 corpus") {
    // model: each lang's tokens in doc_id order, cut every n tokens,
    // md5 of each space-joined block
    val docs = Tables(spark, sf0001, "documents")
    val n = 64
    val got = GroupConsumer.chunkedBlocks(docs, Grouper.byColumn("lang"),
        $"text", $"doc_id", n)
      .select($"group_id", $"block_idx", $"n_tokens", $"block_digest")
      .as[(String, Long, Long, String)].collect().toSet
    val streams = docs.select($"lang", $"doc_id",
        graft.functions.TextAnalysis.tokens($"text").as("t"))
      .as[(String, Long, Seq[String])].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).flatMap(_._3)).toMap
    val expect = streams.flatMap { case (lang, toks) =>
      toks.grouped(n).zipWithIndex.map { case (b, i) =>
        (lang, i.toLong, b.size.toLong, md5hex(b.mkString(" ")))
      }
    }.toSet
    got should not be empty
    got shouldBe expect
  }

  test("shuffleExamples: deterministic permutation, same multiset") {
    val packed = Pack.packUncapped(
      Tables(spark, sf0001, "nation"), Grouper.byColumn("n_regionkey"), $"n_name")
    val a = GroupConsumer.shuffleExamples(packed, seed = 1L)
      .select($"group_id", $"examples").as[(String, Seq[Array[Byte]])]
      .collect().toMap
    val b = GroupConsumer.shuffleExamples(packed, seed = 1L)
      .select($"group_id", $"examples").as[(String, Seq[Array[Byte]])]
      .collect().toMap
    a.keySet shouldBe b.keySet
    a.foreach { case (k, v) =>
      v.map(new String(_)) shouldBe b(k).map(new String(_)) // same seed, same order
    }
    val c = GroupConsumer.shuffleExamples(packed, seed = 2L)
      .select($"group_id", $"examples").as[(String, Seq[Array[Byte]])]
      .collect().toMap
    a.foreach { case (k, v) =>
      v.map(new String(_)).sorted shouldBe c(k).map(new String(_)).sorted // multiset equal
    }
  }

  test("take + repeat tile and bound the packed arrays") {
    val packed = Pack.packUncapped(
      Tables(spark, sf0001, "nation"), Grouper.byColumn("n_regionkey"), $"n_name")
    GroupConsumer.takeExamples(packed, 2)
      .select(org.apache.spark.sql.functions.size($"examples"))
      .as[Int].collect().foreach(_ should be <= 2)
    val r = GroupConsumer.repeatExamples(packed, 3)
      .select(org.apache.spark.sql.functions.size($"examples")).as[Int]
      .collect()
    r.foreach(_ % 3 shouldBe 0)
    // regression: times=0 must empty the arrays (sequence(1,0) counts
    // DOWN and used to double them)
    GroupConsumer.repeatExamples(packed, 0)
      .select(org.apache.spark.sql.functions.size($"examples")).as[Int]
      .collect().foreach(_ shouldBe 0)
    an[IllegalArgumentException] should be thrownBy
      GroupConsumer.repeatExamples(packed, -1)
  }
}
