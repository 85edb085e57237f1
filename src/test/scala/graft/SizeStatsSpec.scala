package graft

import org.apache.spark.sql.{functions, Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{ByteSize, WordCount}

/** Golden values transferred from the reference's unit tests
  * (tf_utils_test.py:21-118) — see FIXTURES.md §A2/§A4. */
class SizeStatsSpec extends SparkSpec {
  import spark.implicits._

  test("word count: reference micro-semantics (strip + split on single space)") {
    val df = Seq("foo", "bar bar", "baz baz baz", "", "  ", "a  b", "a\nb",
      "this has four words", " padded  words ").toDF("s")
    val got = df.select(WordCount.expr($"s").as("w")).as[Long].collect().toSeq
    // CPython: len(s.strip().split(' '))
    got shouldBe Seq(1L, 2L, 3L, 1L, 1L, 3L, 1L, 4L, 3L)
  }

  test("word count: null counts 0, numerics count 0") {
    val df = Seq((Option.empty[String], 7)).toDF("s", "n")
    df.select(WordCount.expr($"s")).as[Long].head() shouldBe 0L
    WordCount.exprFor(df.schema).toString should not include "n"
  }

  test("byte size: strings are utf-8 byte length") {
    val df = Seq("foo", "bar bar", "baz baz baz").toDF("s")
    val got = df.select(ByteSize.exprFor($"s", StringType)).as[Long].collect()
    got.toSeq shouldBe Seq(3L, 7L, 11L)
    // multi-byte utf-8 (tf.strings.length counts BYTEs)
    Seq("héllo").toDF("s").select(ByteSize.exprFor($"s", StringType))
      .as[Long].head() shouldBe 6L
  }

  test("byte size: nested struct golden 12*4 + 5*1 + 7 = 60 (tf_utils_test.py:51-68)") {
    // {a: {a0: int32[3,4], a1: uint8[5]}, b: string(7)}
    val schema = StructType(Seq(
      StructField("a", StructType(Seq(
        StructField("a0", ArrayType(IntegerType)),
        StructField("a1", ArrayType(ByteType))))),
      StructField("b", StringType)))
    val row = Row(Row((1 to 12).toArray.toSeq, Array[Byte](1, 2, 3, 4, 5).toSeq), "sevenby")
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(row)), schema)
    df.select(ByteSize.exprFor(schema).as("b")).as[Long].head() shouldBe 60L
  }

  test("word count over nested struct: only string leaves (golden 4)") {
    val schema = StructType(Seq(
      StructField("a", StructType(Seq(
        StructField("a0", ArrayType(IntegerType)),
        StructField("a1", ArrayType(ByteType))))),
      StructField("b", StringType)))
    val row = Row(Row(Seq(1, 2, 3), Seq[Byte](1)), "this has four words")
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(row)), schema)
    df.select(WordCount.exprFor(schema).as("w")).as[Long].head() shouldBe 4L
  }

  test("array<string> columns: byte sizes sum elements, word counts sum leaves") {
    val df = Seq((Seq("ab", "c d e"), 7)).toDF("arr", "n")
    df.select(ByteSize.exprFor(df.schema)).as[Long].head() shouldBe
      (2L + 5L + 4L) // strings + int
    df.select(WordCount.exprFor(df.schema)).as[Long].head() shouldBe
      (1L + 3L) // "ab" + "c d e"
    // empty and null arrays contribute zero
    val empty = Seq((Seq.empty[String], Option.empty[Seq[String]])).toDF("a", "b")
    empty.select(ByteSize.exprFor(empty.schema)).as[Long].head() shouldBe 0L
    empty.select(WordCount.exprFor(empty.schema)).as[Long].head() shouldBe 0L
  }

  test("scalar string group golden: 3 examples, 21 bytes, 6 words (beam_transforms_test.py:179-192)") {
    val df = Seq("foo", "bar bar", "baz baz baz").toDF("text")
    val r = df.agg(
      count(lit(1)).as("n"),
      sum(ByteSize.exprFor(df.schema)).as("b"),
      sum(WordCount.exprFor(df.schema)).as("w")).head()
    (r.getLong(0), r.getLong(1), r.getLong(2)) shouldBe ((3L, 21L, 6L))
  }

  // The composition WordCount.expr replaced, kept as the reference model.
  private def regexWordCount(c: Column): Column =
    when(c.isNull, 0L).otherwise(
      functions.size(split(regexp_replace(c, "^\\s+|\\s+$", ""), " ", -1)).cast(LongType))

  test("word count kernel == regex composition, row by row, on seeded random strings") {
    val alphabet = Seq(" ", "\t", "\n", "\u000B", "\f", "\r", "\u00A0", "\u0085",
      "\u2028", "\u2029", "a", "bc", "é", "日本", "😀")
    val rng = new scala.util.Random(20261017L)
    def draw(n: Int) = Seq.fill(n)(alphabet(rng.nextInt(alphabet.size))).mkString
    val fixed = Seq(null, "", " ", "  ", "\t\n\u000B\f\r ", "a \u0085", "a \u2028",
      "a \u2029", " \u0085", "\u0085", "a \u0085 ", "a\r\n", "a \r\n", "\u00A0a b\u00A0")
    val random = Seq.fill(4000)(draw(rng.nextInt(10))) ++
      Seq.fill(1000)(draw(rng.nextInt(6)) + Seq("\u0085", "\u2028", "\u2029")(rng.nextInt(3)))
    val rows = (fixed ++ random).toDF("s")
      .select(col("s"), regexWordCount(col("s")), WordCount.expr(col("s")))
      .collect()
    rows.length shouldBe fixed.length + random.length
    val diff = rows.filter(r => r.getLong(1) != r.getLong(2))
      .map(r => (Option(r.getString(0)).map(_.flatMap(ch => f"\\u${ch.toInt}%04x")), r.getLong(1), r.getLong(2)))
    diff shouldBe empty
  }
}
