package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, RegExpReplace, ScalaUDF, StringSplit}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, MapElements}
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.expressions.{CappedPack, DecodeExample, EncodeExample, StripSplitSize}
import graft.functions.WordCount
import graft.operators.{GroupCounts, Grouper, PartitionedDataset}

/** Plan shape of the pack, stats and load jobs: the per-example codec
  * and word count run as Catalyst kernels, each shard record is parsed
  * once, and the kernels' generated code compiles. */
class CodecKernelSpec extends SparkSpec {
  import spark.implicits._

  private def exprs(df: DataFrame): Seq[Expression] = {
    val plan: LogicalPlan = df.queryExecution.optimizedPlan
    plan.flatMap(_.expressions.flatMap(_.collect { case e => e }))
  }

  test("pack and load plans run the codec kernels, with no ScalaUDF and one parse per record") {
    val docs = Tables(spark, sf0001, "documents")
    val packed = PartitionedDataset.packExamples(docs, Grouper.byColumn("lang"))
    val dir = Files.createTempDirectory("graft-codec-plan").toString
    PartitionedDataset.writeTFRecords(packed, dir)
    val decoded = PartitionedDataset.decodeExamples(
      PartitionedDataset.loadTFRecords(spark, s"$dir/groups.tfrecord-*"), docs.schema)

    exprs(packed).collect { case u: ScalaUDF => u } shouldBe empty
    exprs(packed).collect { case e: EncodeExample => e } should have size 1
    exprs(decoded).collect { case u: ScalaUDF => u } shouldBe empty
    exprs(decoded).collect { case e: DecodeExample => e } should have size 1
    // the SequenceExample parse sits below the explode-inferred filter
    decoded.queryExecution.optimizedPlan.collect { case m: MapElements => m } should have size 1

    val cols = docs.columns.map(col).toSeq
    decoded.orderBy(cols: _*).collect().toSeq shouldBe docs.orderBy(cols: _*).collect().toSeq
  }

  test("the pack plan runs one native capped pack and no ScalaAggregator") {
    val packed = PartitionedDataset.packExamples(
      Tables(spark, sf0001, "documents"), Grouper.byColumn("lang"))
    exprs(packed).collect { case a: ScalaAggregator[_, _, _] => a } shouldBe empty
    exprs(packed).collect { case p: CappedPack => p } should have size 1
  }

  test("GroupCounts counts words with the kernel, not regexp_replace + split") {
    val counts = GroupCounts(Tables(spark, sf0001, "documents"), Grouper.byColumn("lang"))
    val all = exprs(counts)
    all.collect { case e: RegExpReplace => e } shouldBe empty
    all.collect { case e: StringSplit => e } shouldBe empty
    all.collect { case e: StripSplitSize => e } should not be empty
  }

  test("codec and word-count kernels compile with codegen fallback off") {
    val schema = StructType(Seq(
      StructField("s", StringType), StructField("xs", ArrayType(LongType)),
      StructField("st", StructType(Seq(
        StructField("f", FloatType), StructField("bs", ArrayType(BinaryType)))))))
    val rows = Seq(
      ("two words", Seq(1L, -2L), (1.5f, Seq(Array[Byte](1, 2)))),
      (null, Seq(), (0f, Seq())))
    val key = "spark.sql.codegen.fallback"
    val previous = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val df = rows.toDF("s", "xs", "st")
      val encoded = df.select(
        EncodeExample(struct(col("s"), col("xs"), col("st")), schema).as("b"),
        WordCount.expr(col("s")).as("w"))
      val back = encoded.select(DecodeExample(col("b"), schema).as("r"), col("w"))
        .select(col("r.s"), col("r.xs"), col("r.st.f"), col("w")).collect()
      back.map(r => (r.getString(0), r.getSeq[Long](1), r.getFloat(2), r.getLong(3))).toSeq shouldBe
        Seq(("two words", Seq(1L, -2L), 1.5f, 2L), (null, Seq(), 0f, 0L))
    } finally spark.conf.set(key, previous)
  }

  test("malformed UTF-8 strings are written and read as the JDK decodes them") {
    // the kernels keep well-formed strings as they are and re-encode the
    // rest through java.lang.String, so they rely on UTF8String.isValid
    // agreeing with the JDK decoder
    val rng = new scala.util.Random(7L)
    val pool = Array(0x41, 0x20, 0x80, 0x8f, 0x90, 0x9f, 0xa0, 0xbf, 0xc0, 0xc1, 0xc2,
      0xdf, 0xe0, 0xe1, 0xed, 0xee, 0xef, 0xf0, 0xf1, 0xf4, 0xf5, 0xff).map(_.toByte)
    val samples = Seq.fill(20000)(Array.fill(rng.nextInt(6))(pool(rng.nextInt(pool.length))))
    samples.filter { b =>
      org.apache.spark.unsafe.types.UTF8String.fromBytes(b).isValid !=
        java.util.Arrays.equals(new String(b, "UTF-8").getBytes("UTF-8"), b)
    } shouldBe empty

    val raw = Seq(Array[Byte](0x61, 0xed.toByte, 0xa0.toByte, 0x80.toByte, 0x62),
      Array[Byte](0xc3.toByte), "ok".getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("s", StringType)))
    val codec = new graft.serialization.TFExampleCodec(schema)
    val encoded = raw.toDF("b").select(col("b").cast(StringType).as("s"))
      .select(PartitionedDataset.serializeExpr(schema)).as[Array[Byte]].collect().toSeq
    encoded.map(codec.decode(_).getString(0)) shouldBe raw.map(new String(_, "UTF-8"))
    val rows = encoded.toDF("b").select(DecodeExample(col("b"), schema).as("r"))
      .select(col("r.s").cast(BinaryType)).as[Array[Byte]].collect().toSeq
    rows.map(_.toSeq) shouldBe raw.map(b => new String(b, "UTF-8").getBytes("UTF-8").toSeq)
  }
}
