package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.expressions.DecodeExample
import graft.operators.PartitionedDataset
import graft.serialization.{SequenceExampleCodec, TFExampleCodec}

/** Inputs of the wire fixtures below. */
object WireGoldenInputs {
  def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  val leafSchema: StructType = StructType(Seq(
    StructField("s", StringType), StructField("b", BinaryType),
    StructField("f", FloatType), StructField("d", DoubleType),
    StructField("i8", ByteType), StructField("i16", ShortType),
    StructField("i32", IntegerType), StructField("i64", LongType),
    StructField("bo", BooleanType), StructField("ts", TimestampType),
    StructField("ntz", TimestampNTZType),
    StructField("as", ArrayType(StringType)), StructField("ab", ArrayType(BinaryType)),
    StructField("af", ArrayType(FloatType)), StructField("ad", ArrayType(DoubleType)),
    StructField("a8", ArrayType(ByteType)), StructField("a16", ArrayType(ShortType)),
    StructField("a32", ArrayType(IntegerType)), StructField("a64", ArrayType(LongType)),
    StructField("abo", ArrayType(BooleanType)), StructField("ats", ArrayType(TimestampType)),
    StructField("antz", ArrayType(TimestampNTZType))))

  private def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
  private def ldt(s: String) = java.time.LocalDateTime.parse(s)

  val leafRows: Seq[(String, Row)] = Seq(
    "values" -> Row("héllo wörld 日本", Array[Byte](0, -1, 127, -128), -0.0f, 1e-3,
      (-7).toByte, (-300).toShort, Int.MinValue, Long.MinValue, true,
      ts("2024-03-07T08:09:10.123456Z"), ldt("1955-11-05T06:07:08.5"),
      Seq("", "a b", "ключ"), Seq(Array[Byte](), Array.fill[Byte](200)(9)),
      Seq(Float.NaN, 1.5f, Float.NegativeInfinity, -0.0f),
      Seq(Double.NaN, 0.1, -0.0, 3.4e39, Double.MinPositiveValue),
      Seq(Byte.MinValue, 0.toByte, Byte.MaxValue), Seq(Short.MinValue, (-1).toShort),
      Seq(-1, 0, 1, 128, Int.MaxValue), Seq(-1L, 0L, 300L, Long.MaxValue, Long.MinValue),
      Seq(true, false, true),
      Seq(ts("1901-12-13T20:45:52Z"), ts("1970-01-01T00:00:00.000001Z")),
      Seq(ldt("2038-01-19T03:14:08"), ldt("1969-12-31T23:59:59.999999"))),
    "nulls" -> Row(null, null, null, null, null, null, null, null, null, null, null,
      null, null, null, null, null, null, null, null, null, null, null),
    "empty" -> Row("", Array[Byte](), Float.NaN, Double.NaN, 0.toByte, 0.toShort, 0, -1L,
      false, ts("1900-01-01T00:00:00.000001Z"), ldt("1900-01-01T00:00:00"),
      Seq(), Seq(), Seq(), Seq(), Seq(), Seq(), Seq(), Seq(), Seq(), Seq(), Seq()))

  val nestedSchema: StructType = StructType(Seq(
    StructField("名前", StringType),
    StructField("st", StructType(Seq(
      StructField("x", LongType),
      StructField("inner", StructType(Seq(
        StructField("z", StringType), StructField("w", ArrayType(FloatType))))),
      StructField("é", DoubleType)))),
    StructField("tail", ArrayType(LongType))))

  val nestedRows: Seq[(String, Row)] = Seq(
    "full" -> Row("ключ значение", Row(-5L, Row("z z", Seq(0.25f, -2f)), 2.5), Seq(1L, -2L)),
    "null_inner" -> Row("x", Row(7L, null, null), Seq()),
    "null_struct" -> Row(null, null, null))

  val seqGroups: Seq[(String, Seq[Array[Byte]])] = Seq(
    "empty" -> Seq(),
    "one" -> Seq(Array[Byte](1, 2, 3)),
    "mixed" -> Seq(Array[Byte](), Array.fill[Byte](130)(-3), "ünï".getBytes("UTF-8")))
}

/** Wire bytes of the codecs, pinned as hex fixtures captured from the
  * Row-based `tf.train.Example` and SequenceExample encoders the kernels
  * replaced. The kernel must reproduce them byte for byte, both through
  * the Row API and through the Catalyst expression over a DataFrame. */
class WireGoldenSpec extends SparkSpec {
  import WireGoldenInputs._
  import spark.implicits._

  private val leafHex = Map(
    "values" ->
      ("0ade050a1d0a017312180a160a1468c3a96c6c6f2077c3b6726c6420e697a5e69cac0a0d" +
      "0a016212080a060a0400ff7f800a0d0a0166120812060a04000000800a0d0a0164120812" +
      "060a046f12833a0a140a026938120e1a0c0a0af9ffffffffffffffff010a150a03693136" +
      "120e1a0c0a0ad4fdffffffffffffff010a150a03693332120e1a0c0a0a80808080f8ffff" +
      "ffff010a150a03693634120e1a0c0a0a808080808080808080010a0b0a02626f12051a03" +
      "0a01010a120a027473120c1a0a0a08c0efbcb8d9e184030a150a036e747a120e1a0c0a0a" +
      "a0b8e0dce5b59affff010a190a02617312130a110a000a036120620a08d0bad0bbd18ed1" +
      "870ad7010a02616212d0010acd010a000ac8010909090909090909090909090909090909" +
      "090909090909090909090909090909090909090909090909090909090909090909090909" +
      "090909090909090909090909090909090909090909090909090909090909090909090909" +
      "090909090909090909090909090909090909090909090909090909090909090909090909" +
      "090909090909090909090909090909090909090909090909090909090909090909090909" +
      "090909090909090909090909090909090909090909090909090909090909090909090909" +
      "0909090a1a0a026166121412120a100000c07f0000c03f000080ff000000800a1e0a0261" +
      "64121812160a140000c07fcdcccc3d000000800000807f000000000a160a02613812101a" +
      "0e0a0c80ffffffffffffffff01007f0a1f0a0361313612181a160a148080feffffffffff" +
      "ff01ffffffffffffffffff010a1e0a0361333212171a150a13ffffffffffffffffff0100" +
      "018001ffffffff070a2b0a0361363412241a220a20ffffffffffffffffff0100ac02ffff" +
      "ffffffffffff7f808080808080808080010a0e0a0361626f12071a050a030100010a160a" +
      "03617473120f1a0d0a0b8080808080dc97fcff01010a1e0a04616e747a12161a140a1280" +
      "80808080a4e803ffffffffffffffffff01"),
    "nulls" ->
      ("0a87020a070a017312020a000a070a016212020a000a090a0166120412020a000a090a01" +
      "64120412020a000a0a0a02693812041a020a000a0b0a0369313612041a020a000a0b0a03" +
      "69333212041a020a000a0b0a0369363412041a020a000a0a0a02626f12041a020a000a0a" +
      "0a02747312041a020a000a0b0a036e747a12041a020a000a080a02617312020a000a080a" +
      "02616212020a000a0a0a026166120412020a000a0a0a026164120412020a000a0a0a0261" +
      "3812041a020a000a0b0a0361313612041a020a000a0b0a0361333212041a020a000a0b0a" +
      "0361363412041a020a000a0b0a0361626f12041a020a000a0b0a0361747312041a020a00" +
      "0a0c0a04616e747a12041a020a00"),
    "empty" ->
      ("0ab5020a090a017312040a020a000a090a016212040a020a000a0d0a0166120812060a04" +
      "0000c07f0a0d0a0164120812060a040000c07f0a0b0a02693812051a030a01000a0c0a03" +
      "69313612051a030a01000a0c0a0369333212051a030a01000a150a03693634120e1a0c0a" +
      "0affffffffffffffffff010a0b0a02626f12051a030a01000a140a027473120e1a0c0a0a" +
      "81c08dbafbdd89fcff010a150a036e747a120e1a0c0a0a80c08dbafbdd89fcff010a080a" +
      "02617312020a000a080a02616212020a000a0a0a026166120412020a000a0a0a02616412" +
      "0412020a000a0a0a02613812041a020a000a0b0a0361313612041a020a000a0b0a036133" +
      "3212041a020a000a0b0a0361363412041a020a000a0b0a0361626f12041a020a000a0b0a" +
      "0361747312041a020a000a0c0a04616e747a12041a020a00"))

  private val nestedHex = Map(
    "full" ->
      ("0aa0010a270a06e5908de5898d121d0a1b0a19d0bad0bbd18ed18720d0b7d0bdd0b0d187" +
      "d0b5d0bdd0b8d0b50a160a0473742f78120e1a0c0a0afbffffffffffffffff010a150a0a" +
      "73742f696e6e65722f7a12070a050a037a207a0a1a0a0a73742f696e6e65722f77120c12" +
      "0a0a080000803e000000c00a110a0573742fc3a9120812060a04000020400a170a047461" +
      "696c120f1a0d0a0b01feffffffffffffffff01"),
    "null_inner" ->
      ("0a630a0f0a06e5908de5898d12050a030a01780a0d0a0473742f7812051a030a01070a10" +
      "0a0a73742f696e6e65722f7a12020a000a120a0a73742f696e6e65722f77120412020a00" +
      "0a0d0a0573742fc3a9120412020a000a0c0a047461696c12041a020a00"),
    "null_struct" ->
      ("0a5f0a0c0a06e5908de5898d12020a000a0c0a0473742f7812041a020a000a100a0a7374" +
      "2f696e6e65722f7a12020a000a120a0a73742f696e6e65722f77120412020a000a0d0a05" +
      "73742fc3a9120412020a000a0c0a047461696c12041a020a00"))

  private val seqHex = Map(
    "empty" ->
      "12160a140a1073657269616c697a65645f62797465731200",
    "one" ->
      "121f0a1d0a1073657269616c697a65645f627974657312090a070a050a03010203",
    "mixed" ->
      ("12b4010ab1010a1073657269616c697a65645f6279746573129c010a040a020a000a8801" +
      "0a85010a8201fdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfd" +
      "fdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfd" +
      "fdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfd" +
      "fdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfdfd0a090a070a05c3bc" +
      "6ec3af"))

  private def viaExpression(schema: StructType, rows: Seq[(String, Row)]): Map[String, String] = {
    val df = spark.createDataFrame(
      java.util.Arrays.asList(rows.map(_._2): _*), schema)
    val encoded = df.select(PartitionedDataset.serializeExpr(schema)).collect()
      .map(r => hex(r.getAs[Array[Byte]](0)))
    rows.map(_._1).zip(encoded).toMap
  }

  test("tf.train.Example bytes: every leaf type, nulls, NaN, -0.0, empty arrays") {
    val codec = new TFExampleCodec(leafSchema)
    leafRows.foreach { case (n, r) => withClue(n) { hex(codec.encode(r)) shouldBe leafHex(n) } }
    viaExpression(leafSchema, leafRows) shouldBe leafHex
  }

  test("tf.train.Example bytes: nested, null and inner-null structs, non-ASCII names") {
    val codec = new TFExampleCodec(nestedSchema)
    nestedRows.foreach { case (n, r) => withClue(n) { hex(codec.encode(r)) shouldBe nestedHex(n) } }
    viaExpression(nestedSchema, nestedRows) shouldBe nestedHex
  }

  test("SequenceExample bytes: empty group, one example, empty and long examples") {
    seqGroups.foreach { case (n, g) =>
      withClue(n) { hex(SequenceExampleCodec.encode(g)) shouldBe seqHex(n) }
    }
  }

  test("decode expression == Row decode on the fixtures") {
    Seq(leafSchema -> leafHex, nestedSchema -> nestedHex).foreach { case (schema, fixtures) =>
      val codec = new TFExampleCodec(schema)
      val bytes = fixtures.toSeq.sortBy(_._1).map { case (_, h) => unhex(h) }
      val viaRow = bytes.map(b => codec.decode(b))
      val viaExpr = bytes.toDF("b")
        .select(DecodeExample(col("b"), schema).as("r")).select("r.*").collect().toSeq
      // re-encoding compares every value, NaN and -0.0 included
      viaExpr.map(r => hex(codec.encode(r))) shouldBe viaRow.map(r => hex(codec.encode(r)))
      viaRow.map(r => hex(codec.encode(r))) shouldBe bytes.map(hex)
    }
  }

  private def unhex(h: String): Array[Byte] =
    h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
}
