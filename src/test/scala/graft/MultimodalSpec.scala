package graft

import org.apache.spark.sql.functions._

import graft.operators.{Jpeg, Multimodal}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def media = Multimodal.syntheticMedia(
    Tables(spark, sf0001, "documents"), $"doc_id", $"text")

  test("media schema: opaque binary payload + typed metadata") {
    val m = media
    m.schema("payload").dataType.typeName shouldBe "binary"
    m.count() shouldBe 500
    m.filter($"kind" === "image").count() shouldBe 250
  }

  test("decodeFeatures: batch-shaped, deterministic, partition-invariant") {
    val a = Multimodal.decodeFeatures(media.repartition(13), dim = 8)
      .collect().map(f => f.media_id -> f.features.toSeq).toMap
    val b = Multimodal.decodeFeatures(media.coalesce(1), dim = 8)
      .collect().map(f => f.media_id -> f.features.toSeq).toMap
    a shouldBe b // stub decode is deterministic across partitionings
    a.values.foreach(_.length shouldBe 8)
    // n_bytes preserved
    val nb = Multimodal.decodeFeatures(media).filter(_.media_id == 0L)
      .head().n_bytes
    nb shouldBe media.filter($"media_id" === 0L).head().payload.length.toLong
  }

  test("decodeFeatures: lane_sums are the exact byte sums; features = sums/255") {
    val m = media.filter($"media_id" === 1L).head()
    val f = Multimodal.decodeFeatures(media.filter($"media_id" === 1L), dim = 8)
      .head()
    val expected = new Array[Long](8)
    m.payload.zipWithIndex.foreach { case (b, i) =>
      expected(i % 8) += (b & 0xff)
    }
    f.lane_sums.toSeq shouldBe expected.toSeq
    f.lane_sums.sum shouldBe m.payload.map(_ & 0xff).map(_.toLong).sum
    f.features.toSeq shouldBe expected.map(_ / 255.0f).toSeq
  }

  test("decodeFeatures: LaneCodec plug-in boundary is codec-agnostic " +
      "(a fake compressed codec swaps in; plumbing unchanged)") {
    val withFake = Multimodal
      .decodeFeatures(media, dim = 8, codec = FakeCompressedCodec)
      .collect().map(f => f.media_id -> f).toMap
    val raw = Multimodal.decodeFeatures(media, dim = 8)
      .collect().map(f => f.media_id -> f).toMap
    withFake.keySet shouldBe raw.keySet
    raw.foreach { case (id, r) =>
      val f = withFake(id)
      // metadata plumbing identical regardless of codec
      f.kind shouldBe r.kind
      f.n_bytes shouldBe r.n_bytes
      f.lane_sums.length shouldBe 8
      // decode really went through the fake codec: each byte b became
      // ~b = 255 - b, so lane sums complement against 255*laneCount
      val laneCounts = new Array[Long](8)
      (0L until f.n_bytes).foreach(i => laneCounts((i % 8).toInt) += 1)
      f.lane_sums.toSeq shouldBe
        r.lane_sums.toSeq.zip(laneCounts.toSeq).map { case (s, c) => 255L * c - s }
      // the features view applies codec-agnostically
      f.features.toSeq shouldBe f.lane_sums.map(_ / 255.0f).toSeq
    }
    // a codec violating the dim contract fails loudly, not silently
    intercept[org.apache.spark.SparkException] {
      Multimodal.decodeFeatures(media, dim = 8, codec = BadCodec).collect()
    }
  }

  test("sampleFrames: byte-addressed frames, stride sampling") {
    val df = Seq((1L, "abcdefghij")).toDF("id", "t")
      .select($"id", $"t".cast("binary").as("payload"))
    // frameSize=3 -> frames abc def ghi j ; stride 2 keeps abc, ghi
    val frames = df.select(Multimodal.sampleFrames($"payload", 3, 2).as("f"))
      .as[Seq[Array[Byte]]].head()
    frames.map(new String(_, "UTF-8")) shouldBe Seq("abc", "ghi")
  }

  test("phash64: hand-computed bits, identical payloads collide, twins near") {
    // 64 'a' bytes + one 'z': lane 0 sums 'a'+'z'=219, lanes 1..63 sum
    // 97; total = 97*64 + 122. Only lane 0 reaches the mean -> bit 0.
    val one = Multimodal.syntheticMedia(
      Seq((2L, "a" * 64 + "z")).toDF("id", "t"), $"id", $"t")
    Multimodal.phash64(one).select($"ph").as[Long].head() shouldBe 1L

    val docs = Tables(spark, sf0001, "documents").limit(50)
      .select($"doc_id", $"text")
    val self = docs.unionByName(
      docs.select(($"doc_id" + 1000L).as("doc_id"), $"text"))
    val ph = Multimodal.phash64(
      Multimodal.syntheticMedia(self, $"doc_id", $"text"))
      .as[(Long, Long)].collect().toMap
    // identical payloads hash identically
    (0L until 50L).foreach { id =>
      if (ph.contains(id)) ph(id) shouldBe ph(id + 1000L)
    }
    // a small byte append moves the hash by few bits
    val tw = docs.select(($"doc_id" + 2000L).as("doc_id"),
      concat($"text", lit(" xx")).as("text"))
    val ph2 = Multimodal.phash64(
      Multimodal.syntheticMedia(docs.unionByName(tw), $"doc_id", $"text"))
      .as[(Long, Long)].collect().toMap
    val dists = (0L until 50L).flatMap { id =>
      for (a <- ph2.get(id); b <- ph2.get(id + 2000L))
        yield java.lang.Long.bitCount(a ^ b)
    }
    dists should not be empty
    (dists.sum.toDouble / dists.size) should be < 8.0
  }

  test("decodePgm: real header parse — multi-digit dims, stats, failures") {
    // 3x2 raster with known bytes; width/height/maxval come from the
    // HEADER (multi-digit 12 maxval proves actual ASCII parsing)
    val good = "P5 3 2 12\n".getBytes("US-ASCII") ++
      Array[Byte](0, 5, 12, 7, 3, 9)
    val df = Seq((1L, good)).toDF("id", "p")
    val r = Multimodal.decodePgm(df, $"id", $"p").collect().head
    r.width shouldBe 3
    r.height shouldBe 2
    r.maxval shouldBe 12
    r.n_pixels shouldBe 6L
    r.pixel_sum shouldBe 36L
    r.pixel_min shouldBe 0
    r.pixel_max shouldBe 12
    // newline-separated header fields parse too (netpbm allows any ws)
    val nl = "P5\n2\n1\n255\n".getBytes("US-ASCII") ++
      Array[Byte](200.toByte, 100)
    val r2 = Multimodal.decodePgm(
      Seq((2L, nl)).toDF("id", "p"), $"id", $"p").collect().head
    r2.width shouldBe 2
    r2.pixel_sum shouldBe 300L
    // malformed payloads fail loudly, not silently
    an[Exception] should be thrownBy Multimodal.decodePgm(
      Seq((3L, "P6 1 1 255\n!".getBytes("US-ASCII"))).toDF("id", "p"),
      $"id", $"p").collect()
    an[Exception] should be thrownBy Multimodal.decodePgm(
      Seq((4L, "P5 4 4 255\nxy".getBytes("US-ASCII"))).toDF("id", "p"),
      $"id", $"p").collect() // truncated raster
  }

  test("decodeWav: RIFF chunk walk — fmt fields, signed PCM16 stats") {
    val bb = java.nio.ByteBuffer.allocate(44 + 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(44)
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")); bb.putInt(16)
    bb.putShort(1); bb.putShort(2); bb.putInt(44100)
    bb.putInt(176400); bb.putShort(4); bb.putShort(16)
    bb.put("data".getBytes("US-ASCII")); bb.putInt(8)
    // samples: 1000, -1000, 32767, -32768
    bb.putShort(1000); bb.putShort(-1000)
    bb.putShort(32767); bb.putShort(-32768)
    val r = Multimodal.decodeWav(
      Seq((1L, bb.array())).toDF("id", "p"), $"id", $"p").collect().head
    r.n_channels shouldBe 2
    r.sample_rate shouldBe 44100
    r.bits shouldBe 16
    r.n_samples shouldBe 4L
    r.sample_sum shouldBe (1000L - 1000L + 32767L - 32768L)
    r.sample_min shouldBe -32768
    r.sample_max shouldBe 32767
    an[Exception] should be thrownBy Multimodal.decodeWav(
      Seq((2L, "nope".getBytes("US-ASCII"))).toDF("id", "p"),
      $"id", $"p").collect()
  }

  test("channel check: JPEG payloads of the wrong channel count fail " +
      "loudly in the RGB, gray and lane operators") {
    val zz = Array.tabulate(64)(i => if (i == 0) 12 else if (i % 9 == 0) -3 else 0)
    val gray = Jpeg.encode(8, 8, Seq((1, 0)), IndexedSeq(zz))
    val rgb = Jpeg.encode(8, 8, Seq((1, 0), (2, 1), (3, 1)), IndexedSeq(zz, zz, zz))
    val df = Seq((1L, gray, rgb)).toDF("id", "gray", "rgb")
    failure(Multimodal.decodeRgb(df, $"id", $"gray", Jpeg.decode).collect()) should
      include("expected truecolor, payload is 1-channel")
    failure(Multimodal.decodeGray(df, $"id", $"rgb", "jpeg", Jpeg.decode)
      .collect()) should include("expected grayscale, payload is 3-channel")
    val media = Seq(Multimodal.Media(1L, "image", rgb, 8, 8, "jpeg")).toDS()
    failure(Multimodal.decodeFeatures(media, dim = 8,
      codec = Multimodal.PixelLanes(Jpeg.decode)).collect()) should
      include("expected grayscale, payload is 3-channel")
  }
}

/** A stand-in for a REAL compressed codec (JPEG/MP3): pretends the
  * payload is "compressed" by a byte-wise involution and decodes it
  * before the lane fold — deterministic, so its output is exactly the
  * raw-lane decode of the transformed payload. Top-level so Spark task
  * serialization ships ONLY the codec, never the enclosing spec — the
  * same constraint a production codec implementation lives under. */
object FakeCompressedCodec extends Multimodal.LaneCodec {
  @transient private var opened = false
  override def open(): Unit = { opened = true }
  def lanes(payload: Array[Byte], dim: Int): Array[Long] = {
    require(opened, "codec context not initialized before decode")
    val decoded = payload.map(b => (~b).toByte) // fake decompression
    Multimodal.RawByteLanes.lanes(decoded, dim)
  }
}

/** Violates the dim contract — decodeFeatures must fail loudly. */
object BadCodec extends Multimodal.LaneCodec {
  def lanes(payload: Array[Byte], dim: Int): Array[Long] = Array(1L)
}
