package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream}
import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Grouper, Pack, PartitionedDataset}
import graft.serialization.{SequenceExampleCodec, TFExampleCodec, TFRecordCodec}
import graft.sources.TFRecordIO

class SerializationSpec extends SparkSpec {
  import spark.implicits._

  test("tf.train.Example round trip: flat primitive schema") {
    val schema = StructType(Seq(
      StructField("s", StringType), StructField("i", IntegerType),
      StructField("l", LongType), StructField("f", FloatType),
      StructField("bool", BooleanType), StructField("bin", BinaryType)))
    val codec = new TFExampleCodec(schema)
    val row = Row("héllo world", 42, 9876543210L, 2.5f, true,
      Array[Byte](1, 2, 3))
    val back = codec.decode(codec.encode(row))
    back.getString(0) shouldBe "héllo world"
    back.getInt(1) shouldBe 42
    back.getLong(2) shouldBe 9876543210L
    back.getFloat(3) shouldBe 2.5f
    back.getBoolean(4) shouldBe true
    back.getAs[Array[Byte]](5).toSeq shouldBe Seq[Byte](1, 2, 3)
  }

  test("tf.train.Example round trip: nested struct + arrays ('/'-flattened like TFDS)") {
    val schema = StructType(Seq(
      StructField("a", StructType(Seq(
        StructField("a0", ArrayType(IntegerType)),
        StructField("a1", ArrayType(FloatType))))),
      StructField("b", StringType)))
    val codec = new TFExampleCodec(schema)
    val row = Row(Row(Seq(1, 2, 3), Seq(0.5f, -1.25f)), "four words right here")
    val back = codec.decode(codec.encode(row))
    back.getAs[Row](0).getAs[Seq[Int]](0) shouldBe Seq(1, 2, 3)
    back.getAs[Row](0).getAs[Seq[Float]](1) shouldBe Seq(0.5f, -1.25f)
    back.getString(1) shouldBe "four words right here"
  }

  test("tf.train.Example round trip: timestamp types (TZ and NTZ)") {
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("ntz", TimestampNTZType)))
    val codec = new TFExampleCodec(schema)
    val inst = java.time.Instant.parse("2024-03-07T08:09:10.123456Z")
    val ldt = java.time.LocalDateTime.of(2024, 3, 7, 8, 9, 10, 123456000)
    val back = codec.decode(codec.encode(
      Row(java.sql.Timestamp.from(inst), ldt)))
    back.getAs[java.sql.Timestamp](0).toInstant shouldBe inst
    // NTZ must come back as LocalDateTime (Spark's external NTZ type) —
    // a Timestamp here breaks createDataFrame on NTZ schemas
    back.getAs[java.time.LocalDateTime](1) shouldBe ldt
    // and the pair survives createDataFrame with the declared schema
    val df = spark.createDataFrame(
      java.util.List.of(back), schema)
    df.collect().head.getAs[java.time.LocalDateTime]("ntz") shouldBe ldt
    // negative-epoch NTZ (pre-1970) exercises floorDiv/floorMod rounding
    val old = java.time.LocalDateTime.of(1955, 11, 5, 6, 7, 8, 500000000)
    codec.decode(codec.encode(Row(java.sql.Timestamp.from(inst), old)))
      .getAs[java.time.LocalDateTime](1) shouldBe old
  }

  test("schema mismatch raises with explanatory message (serialization.py:41-47)") {
    val s1 = StructType(Seq(StructField("x", StringType)))
    val s2 = StructType(Seq(StructField("y", StringType)))
    val bytes = new TFExampleCodec(s1).encode(Row("v"))
    val e = intercept[IllegalArgumentException] {
      new TFExampleCodec(s2).decode(bytes)
    }
    e.getMessage should include("mismatch")
  }

  test("SequenceExample round trip incl. empty group (serialization_test.py:45-58)") {
    val items = Seq("one".getBytes, "two two".getBytes, Array[Byte]())
    SequenceExampleCodec.decode(SequenceExampleCodec.encode(items))
      .map(new String(_)) shouldBe Seq("one", "two two", "")
    // empty group: empty-but-present feature list
    val empty = SequenceExampleCodec.encode(Seq.empty)
    empty.length should be > 0
    SequenceExampleCodec.decode(empty) shouldBe Seq.empty
  }

  test("TFRecord framing round trip with crc verification") {
    val out = new ByteArrayOutputStream()
    val payloads = Seq("alpha".getBytes("UTF-8"), Array[Byte](),
      "gamma-γ".getBytes("UTF-8"))
    payloads.foreach(TFRecordCodec.writeRecord(out, _))
    val in = new DataInputStream(new ByteArrayInputStream(out.toByteArray))
    val back = Iterator.continually(TFRecordCodec.readRecord(in))
      .takeWhile(_.isDefined).map(_.get).toSeq
    back.map(new String(_, "UTF-8")) shouldBe Seq("alpha", "", "gamma-γ")
    // corrupt a payload byte => crc failure
    val bytes = out.toByteArray
    bytes(20) = (bytes(20) ^ 0xff).toByte
    intercept[IllegalArgumentException] {
      val din = new DataInputStream(new ByteArrayInputStream(bytes))
      Iterator.continually(TFRecordCodec.readRecord(din))
        .takeWhile(_.isDefined).foreach(_ => ())
    }
  }

  test("TFRecord gzip shards: AUTO by .gz suffix, real gzip bytes on disk, " +
      "transparent read-back (Beam compression_type=AUTO contract)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-tfr-gz").toString
    val payloads = Seq("alpha", "beta", "gamma-γ").map(_.getBytes("UTF-8"))
    val ds = spark.createDataset(payloads)(
      org.apache.spark.sql.Encoders.BINARY).repartition(2)
    val written = TFRecordIO.write(ds, dir, suffix = ".gz")
    written.foreach(_ should endWith(".gz"))
    // the shard files are REAL gzip members (magic 1f 8b), not the
    // TFRecord frame: tf.data with compression_type="GZIP" reads them
    written.foreach { f =>
      val head = Files.readAllBytes(java.nio.file.Paths.get(
        new java.net.URI(if (f.startsWith("file:")) f else s"file:$f")))
        .take(2)
      (head(0) & 0xff) shouldBe 0x1f
      (head(1) & 0xff) shouldBe 0x8b
    }
    val back = TFRecordIO.read(spark, s"$dir/groups.tfrecord-*.gz")
      .select($"record").as[Array[Byte]].collect()
      .map(new String(_, "UTF-8")).sorted.toSeq
    back shouldBe Seq("alpha", "beta", "gamma-γ")
    // uncompressed write of the same records differs on disk byte-wise
    val dir2 = Files.createTempDirectory("graft-tfr-raw").toString
    TFRecordIO.write(ds, dir2)
    val raw = TFRecordIO.read(spark, s"$dir2/groups.tfrecord-*")
      .select($"record").as[Array[Byte]].collect()
      .map(new String(_, "UTF-8")).sorted.toSeq
    raw shouldBe back
  }

  test("TFRecord masked crc32c golden: known empty-record framing") {
    // length=0: lenBytes are 8 zero bytes; crc32c of 8 zero bytes is
    // 0x8c28b28a (JDK CRC32C, matches the crc32c reference vectors);
    // masked per mask(crc) = ((crc>>15)|(crc<<17)) + 0xa282ead8
    val lenBytes = new Array[Byte](8)
    val crc = new java.util.zip.CRC32C
    crc.update(lenBytes)
    crc.getValue.toInt shouldBe 0x8c28b28a
    TFRecordCodec.maskedCrc(lenBytes) shouldBe
      ((0x8c28b28a >>> 15) | (0x8c28b28a << 17)) + 0xa282ead8
  }

  test("end-to-end: pack region -> TFRecords -> load -> decode == original rows (integration_test.py:24-59)") {
    val dir = Files.createTempDirectory("graft-tfr").toString
    val region = Tables(spark, sf0001, "region")
    val packed = PartitionedDataset.packExamples(
      region, Grouper.byColumn("r_regionkey"))
    packed.count() shouldBe 5 // one row per group
    PartitionedDataset.writeTFRecords(packed, dir)
    val loaded = PartitionedDataset.loadTFRecords(spark, s"$dir/groups.tfrecord-*")
    loaded.count() shouldBe 5
    val decoded = PartitionedDataset.decodeExamples(loaded, region.schema)
    decoded.schema shouldBe region.schema // round-trip schema invariant
    val got = decoded.orderBy("r_regionkey").collect().toSeq
    val want = region.orderBy("r_regionkey").collect().toSeq
    got shouldBe want
  }

  test("engine-native parquet sink round trip keeps group ids") {
    val dir = Files.createTempDirectory("graft-pq").toString
    val nation = Tables(spark, sf0001, "nation")
    val packed = PartitionedDataset.packExamples(
      nation, Grouper.byColumn("n_regionkey"))
    // engine-native sink: Parquet keeps the group id (SURVEY §1.4.2)
    packed.write.mode("overwrite").parquet(dir)
    val loaded = spark.read.parquet(dir)
    loaded.select("group_id").distinct().count() shouldBe 5
    val decoded = PartitionedDataset.decodeExamples(loaded, nation.schema)
    decoded.orderBy("n_nationkey").collect().toSeq shouldBe
      nation.orderBy("n_nationkey").collect().toSeq
  }

  test("Avro container round trip: primitives, nulls, binary, arrays") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", StringType),
      StructField("d", DoubleType),
      StructField("b", BooleanType),
      StructField("bin", BinaryType),
      StructField("arr", ArrayType(FloatType, containsNull = false)),
      StructField("sarr", ArrayType(StringType))))
    val rows = Seq(
      Row(1L, "héllo\nworld", 2.5d, true, Array[Byte](0, 1, -2),
        Seq(1.0f, -2.5f), Seq("a", null, "c")),
      Row(2L, null, null, null, null, null, null),
      Row(3L, "", 0.0d, false, Array.emptyByteArray,
        Seq.empty[Float], Seq.empty[String]))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val dir = Files.createTempDirectory("graft-avro").toString
    val written = graft.sources.AvroIO.write(df, dir)
    written.size shouldBe 2
    val back = graft.sources.AvroIO.read(spark, s"$dir/part-*.avro", schema)
    back.schema shouldBe schema
    val key = (r: Row) => r.getLong(0)
    val got = back.collect().sortBy(key).map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case x => x
    })
    val want = rows.sortBy(key).map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case x => x
    })
    got.toSeq shouldBe want.toSeq
  }

  test("Avro round trip preserves the driver documents table exactly") {
    val docs = Tables(spark, sf0001, "documents")
    val dir = Files.createTempDirectory("graft-avro-docs").toString
    graft.sources.AvroIO.write(docs, dir)
    val back = graft.sources.AvroIO.read(
      spark, s"$dir/part-*.avro", docs.schema)
    back.orderBy("doc_id").collect().toSeq shouldBe
      docs.orderBy("doc_id").collect().toSeq
  }

  test("Avro read: caller schema projects columns by name (pruned read)") {
    val docs = Tables(spark, sf0001, "documents")
    val dir = Files.createTempDirectory("graft-avro-prune").toString
    graft.sources.AvroIO.write(docs, dir)
    val pruned = StructType(Seq(
      StructField("lang", StringType),   // order differs from the file
      StructField("doc_id", LongType)))
    val back = graft.sources.AvroIO.read(spark, s"$dir/part-*.avro", pruned)
    back.schema.fieldNames.toSeq shouldBe Seq("lang", "doc_id")
    back.orderBy("doc_id").collect().toSeq shouldBe
      docs.select("lang", "doc_id").orderBy("doc_id").collect().toSeq
  }

  test("Avro fuzz: random primitive/array schemas round trip (seeded)") {
    val rng = new scala.util.Random(777L)
    val leaves = Seq(StringType, BinaryType, IntegerType, LongType,
      BooleanType, FloatType, DoubleType)
    def randomLeaf(dt: DataType): Any = dt match {
      case StringType => rng.alphanumeric.take(rng.nextInt(12)).mkString
      case BinaryType => Array.fill(rng.nextInt(8))(rng.nextInt().toByte)
      case IntegerType => rng.nextInt()
      case LongType => rng.nextLong()
      case BooleanType => rng.nextBoolean()
      case FloatType => rng.nextFloat()
      case DoubleType => rng.nextDouble()
    }
    def normalize(v: Any): Any = v match {
      case b: Array[Byte] => b.toSeq
      case s: scala.collection.Seq[_] => s.map(normalize)
      case x => x
    }
    for (iter <- 1 to 5) {
      val fields = (0 until rng.nextInt(4) + 2).map { i =>
        val dt =
          if (rng.nextBoolean()) leaves(rng.nextInt(leaves.size))
          else ArrayType(leaves(rng.nextInt(leaves.size)),
            containsNull = rng.nextBoolean())
        StructField(s"c$i", dt, nullable = true)
      }
      val schema = StructType(
        StructField("id", LongType, nullable = false) +: fields)
      val rows = (0 until 30).map { r =>
        Row.fromSeq(r.toLong +: fields.map { f =>
          if (rng.nextInt(5) == 0) null
          else f.dataType match {
            case ArrayType(el, cn) =>
              (0 until rng.nextInt(5)).map { _ =>
                if (cn && rng.nextInt(4) == 0) null else randomLeaf(el)
              }
            case dt => randomLeaf(dt)
          }
        })
      }
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 3), schema)
      val dir = Files.createTempDirectory(s"graft-avro-fuzz$iter").toString
      graft.sources.AvroIO.write(df, dir)
      val back = graft.sources.AvroIO.read(spark, s"$dir/part-*.avro", schema)
      back.schema shouldBe schema
      val got = back.collect().sortBy(_.getLong(0))
        .map(_.toSeq.map(normalize)).toSeq
      val want = rows.sortBy(_.getLong(0))
        .map(_.toSeq.map(normalize))
      withClue(s"iter $iter schema $schema") { got shouldBe want }
    }
  }

  test("training blocks survive the TFRecord SequenceExample path byte-exactly") {
    val docs = Tables(spark, sf0001, "documents")
    val enc = graft.functions.Vocab.encodeIds(docs,
        $"doc_id", $"text", k = 200)
      .join(docs.select($"doc_id", $"lang"), "doc_id")
    val blocks = Pack.inputTargetBlocks(enc, $"lang", $"doc_id",
      $"ids", seqLen = 64)
    val tmp = Files.createTempDirectory("blocks-rt").toString
    PartitionedDataset.writeTFRecords(
      PartitionedDataset.packExamples(blocks,
        Grouper.byColumn("group_id")), tmp)
    val back = PartitionedDataset.decodeExamples(
      PartitionedDataset.loadTFRecords(spark, s"$tmp/groups.tfrecord-*"),
      blocks.schema)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Long, Seq[Int], Seq[Int], Seq[Int])]
        .collect().sortBy(r => (r._1, r._2)).toSeq
    norm(back) shouldBe norm(blocks)
    norm(blocks) should not be empty
  }

  test("mapGroups: per-group consumption without driver collect") {
    val nation = Tables(spark, sf0001, "nation")
    val packed = PartitionedDataset.packExamples(
      nation, Grouper.byColumn("n_regionkey"))
    val sizes = PartitionedDataset.mapGroups(packed, nation.schema,
      (gid: String, it: Iterator[Row]) => (gid, it.size))
      .collect().toMap
    sizes.values.sum shouldBe 25
    sizes.keySet shouldBe Set("0", "1", "2", "3", "4")
  }
}
