package graft

import org.apache.spark.sql.functions._

import graft.operators.{Multimodal, Png}

class PngSpec extends SparkSpec {
  import spark.implicits._

  private def raster(w: Int, h: Int)(f: (Int, Int) => Int): Array[Byte] =
    Array.tabulate(w * h)(i => (f(i / w, i % w) & 0xff).toByte)

  test("roundtrip: encode -> decode recovers pixels exactly (all 5 filters)") {
    // 8 rows -> filters 0,1,2,3,4,0,1,2: every defilter branch runs
    val px = raster(8, 8)((r, c) => r * 31 + c * 7 + (r * c) % 13)
    val img = Png.decodeGray8(Png.encodeGray8(8, 8, px))
    img.width shouldBe 8
    img.height shouldBe 8
    img.pixels.toSeq shouldBe px.toSeq
  }

  test("roundtrip: non-square, extreme values, single row/column") {
    for ((w, h) <- Seq((1, 1), (1, 9), (9, 1), (5, 12), (17, 3))) {
      val px = raster(w, h)((r, c) =>
        if ((r + c) % 3 == 0) 0 else if ((r + c) % 3 == 1) 255
        else r * 53 + c * 11)
      val img = Png.decodeGray8(Png.encodeGray8(w, h, px))
      (img.width, img.height) shouldBe ((w, h))
      img.pixels.toSeq shouldBe px.toSeq
    }
  }

  test("paeth filter branch: gradient raster survives the r%5=4 rows") {
    // rows 4, 9, 14 take the Paeth branch; a gradient makes the
    // predictor's tie-breaking order (left, up, up-left) observable
    val px = raster(16, 16)((r, c) => r * 16 + c)
    Png.decodeGray8(Png.encodeGray8(16, 16, px)).pixels.toSeq shouldBe px.toSeq
  }

  test("corrupted chunk CRC fails loudly") {
    val enc = Png.encodeGray8(4, 4, raster(4, 4)((r, c) => r + c))
    // flip one bit inside the IHDR data (byte 16 = width MSB)
    val bad = enc.clone(); bad(16) = (bad(16) ^ 0x01).toByte
    val e = intercept[IllegalArgumentException](Png.decodeGray8(bad))
    e.getMessage should include("CRC mismatch")
  }

  test("corrupted zlib stream fails loudly") {
    val enc = Png.encodeGray8(4, 4, raster(4, 4)((r, c) => r * c))
    // locate IDAT, flip a data byte, re-stamp the chunk CRC so the
    // corruption reaches the inflater (not the CRC check)
    var i = 8
    var idatOff = -1; var idatLen = -1
    while (idatOff < 0) {
      val len = ((enc(i) & 0xff) << 24) | ((enc(i + 1) & 0xff) << 16) |
        ((enc(i + 2) & 0xff) << 8) | (enc(i + 3) & 0xff)
      val typ = new String(enc, i + 4, 4, "US-ASCII")
      if (typ == "IDAT") { idatOff = i; idatLen = len } else i += 12 + len
    }
    val bad = enc.clone()
    bad(idatOff + 8 + 2) = (bad(idatOff + 8 + 2) ^ 0x40).toByte
    val crc = new java.util.zip.CRC32()
    crc.update(bad, idatOff + 4, 4 + idatLen)
    val cv = crc.getValue.toInt
    bad(idatOff + 8 + idatLen) = (cv >>> 24).toByte
    bad(idatOff + 9 + idatLen) = (cv >>> 16).toByte
    bad(idatOff + 10 + idatLen) = (cv >>> 8).toByte
    bad(idatOff + 11 + idatLen) = cv.toByte
    intercept[IllegalArgumentException](Png.decodeGray8(bad))
  }

  test("truncated payload and bad signature fail loudly") {
    val enc = Png.encodeGray8(4, 4, raster(4, 4)((r, c) => 7 * r + c))
    intercept[IllegalArgumentException](
      Png.decodeGray8(enc.take(enc.length - 6)))
    val sig = enc.clone(); sig(1) = 'Q'.toByte
    intercept[IllegalArgumentException](Png.decodeGray8(sig))
  }

  test("unsupported shapes fail loudly, not silently") {
    // hand-build an IHDR claiming color type 3 (palette — unsupported;
    // type 2 became a real decode path)
    val px = raster(4, 4)((r, c) => r + c)
    val enc = Png.encodeGray8(4, 4, px)
    val bad = enc.clone()
    bad(25) = 3.toByte // color type byte inside IHDR data
    val crc = new java.util.zip.CRC32()
    crc.update(bad, 12, 4 + 13)
    val cv = crc.getValue.toInt
    bad(29) = (cv >>> 24).toByte; bad(30) = (cv >>> 16).toByte
    bad(31) = (cv >>> 8).toByte; bad(32) = cv.toByte
    val e = intercept[IllegalArgumentException](Png.decodeGray8(bad))
    e.getMessage should include("unsupported color type")
  }

  test("truecolor roundtrip: bpp=3 filter arithmetic recovers RGB exactly") {
    // the left neighbor sits 3 bytes back in color rasters — a bpp bug
    // survives gray tests and breaks exactly here
    for ((w, h) <- Seq((1, 1), (8, 8), (5, 7))) {
      val px = Array.tabulate(w * h * 3)(i =>
        ((i * 37 + (i / 3) * 11 + i % 3) & 0xff).toByte)
      val img = Png.decode(Png.encodeRgb8(w, h, px))
      img.channels shouldBe 3
      (img.width, img.height) shouldBe ((w, h))
      img.pixels.toSeq shouldBe px.toSeq
    }
  }

  test("channel mismatch fails loudly (gray payload through the RGB path)") {
    // and an RGB payload through the gray operator and the lane codec
    val gray = Png.encodeGray8(4, 4, raster(4, 4)((r, c) => r + c))
    val rgb = Png.encodeRgb8(2, 2, Array.fill(12)(7.toByte))
    val df = Seq((1L, gray, rgb)).toDF("id", "gray", "rgb")
    failure(Multimodal.decodeRgb(df, col("id"), col("gray"), Png.decode)
      .collect()) should include("expected truecolor, payload is 1-channel")
    failure(Multimodal.decodeGray(df, col("id"), col("rgb"), "png", Png.decode)
      .collect()) should include("expected grayscale, payload is 3-channel")
    val media = Seq(Multimodal.Media(1L, "image", rgb, 2, 2, "png")).toDS()
    failure(Multimodal.decodeFeatures(media, dim = 8,
      codec = Multimodal.PixelLanes(Png.decode)).collect()) should
      include("expected grayscale, payload is 3-channel")
    failure(Png.decodeGray8(rgb)) should
      include("expected grayscale, payload is 3-channel")
  }

  test("PngLanes through decodeFeatures: lane sums equal pixel-lane sums") {
    val px = raster(8, 8)((r, c) => r * 17 + c * 3)
    val media = Seq(
      Multimodal.Media(1L, "image", Png.encodeGray8(8, 8, px), 8, 8, "png"))
      .toDS()
    val row = Multimodal.decodeFeatures(media, dim = 8,
      codec = Multimodal.PixelLanes(Png.decode)).collect().head
    val expect = Array.tabulate(8)(j =>
      px.indices.filter(_ % 8 == j).map(px(_) & 0xff).map(_.toLong).sum)
    row.lane_sums.toSeq shouldBe expect.toSeq
  }

  test("encodeColumn/decodeColumn: distributed roundtrip with exact stats") {
    val df = spark.range(6).select(col("id"),
      unhex(concat(md5(concat(lit("a:"), col("id"))),
        md5(concat(lit("b:"), col("id"))),
        md5(concat(lit("c:"), col("id"))),
        md5(concat(lit("d:"), col("id"))))).as("px"))
    val enc = Png.encodeColumn(df, col("id"), col("px"), w = 8, h = 8)
    val dec = Multimodal.decodeGray(enc, col("media_id"), col("payload"),
      "png", Png.decode).collect().sortBy(_.media_id)
    dec should have length 6
    val pxRows = df.select(col("id"), col("px"))
      .as[(Long, Array[Byte])].collect().sortBy(_._1)
    dec.zip(pxRows).foreach { case (d, (_, px)) =>
      d.width shouldBe 8
      d.n_pixels shouldBe 64L
      d.pixel_sum shouldBe px.map(_ & 0xff).map(_.toLong).sum
      d.pixel_min shouldBe px.map(_ & 0xff).min
      d.pixel_max shouldBe px.map(_ & 0xff).max
    }
  }
}
