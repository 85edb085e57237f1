package graft.operators

import java.util.zip.{CRC32, DataFormatException, Deflater, Inflater}

import org.apache.spark.sql.{Column, DataFrame}

import graft.operators.Multimodal.Raster

/** REAL compressed-image codec: PNG, 8-bit grayscale or truecolor,
  * non-interlaced — built entirely on the JDK (`java.util.zip` DEFLATE
  * + CRC32), no media library. The decoder walks the chunk stream with
  * VERIFIED CRCs, inflates the zlib-wrapped IDAT payload (adler
  * checked by `Inflater`), and undoes all five PNG scanline filters
  * (None/Sub/Up/Average/Paeth) byte-exactly into a
  * [[Multimodal.Raster]]; the Spark operators over it are
  * [[Multimodal.decodeGray]], [[Multimodal.decodeRgb]] and
  * [[Multimodal.PixelLanes]].
  *
  * Scope is stated, not hidden: color types 0 (grayscale) and 2
  * (truecolor), bit depth 8, interlace 0. Anything else fails loudly.
  * Reference anchor: the reference's image feature surface is MNIST
  * 28x28x1 grayscale (integration_test.py:29), exactly this pixel
  * shape.
  *
  * The encoder exists so declared queries can roundtrip REAL payloads
  * whose pixel bytes stay engine-replayable (md5-derived): it rotates
  * through all five filter types row by row (`r % 5`), so a defilter
  * bug in ANY branch breaks the exact oracle.
  */
object Png {

  private val Signature: Array[Byte] =
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  // ------------------------------------------------------------ encode

  /** Encode an 8-bit grayscale raster as a real PNG. Scanline r uses
    * filter type r % 5 — every defilter branch is exercised by any
    * raster taller than 4 rows. */
  def encodeGray8(w: Int, h: Int, pixels: Array[Byte]): Array[Byte] =
    encode8(w, h, channels = 1, pixels)

  /** Truecolor twin: interleaved RGB bytes (3 per pixel). */
  def encodeRgb8(w: Int, h: Int, pixels: Array[Byte]): Array[Byte] =
    encode8(w, h, channels = 3, pixels)

  /** PNG filters operate on BYTES with the left neighbor `bpp` bytes
    * back (PNG spec §9.2) — one loop serves both gray (bpp 1) and
    * truecolor (bpp 3). */
  private def encode8(w: Int, h: Int, channels: Int,
                      pixels: Array[Byte]): Array[Byte] = {
    require(channels == 1 || channels == 3,
      s"unsupported channel count $channels")
    val stride = w * channels // raster bytes per row
    require(pixels.length == stride * h,
      s"raster size ${pixels.length} != $w x $h x $channels")
    // filtered scanline stream: 1 filter byte + stride bytes per row
    val raw = new Array[Byte]((stride + 1) * h)
    var r = 0
    while (r < h) {
      val ft = r % 5
      raw(r * (stride + 1)) = ft.toByte
      var c = 0
      while (c < stride) {
        val x = pixels(r * stride + c) & 0xff
        val a = if (c >= channels) pixels(r * stride + c - channels) & 0xff
          else 0 // left (bpp back)
        val b = if (r > 0) pixels((r - 1) * stride + c) & 0xff else 0 // up
        val cc = if (r > 0 && c >= channels)
          pixels((r - 1) * stride + c - channels) & 0xff
          else 0 // up-left
        val f = ft match {
          case 0 => x
          case 1 => x - a
          case 2 => x - b
          case 3 => x - (a + b) / 2
          case 4 => x - paeth(a, b, cc)
        }
        raw(r * (stride + 1) + 1 + c) = f.toByte
        c += 1
      }
      r += 1
    }
    val idat = deflate(raw)
    val out = new java.io.ByteArrayOutputStream()
    out.write(Signature)
    val ihdr = java.nio.ByteBuffer.allocate(13)
    ihdr.putInt(w).putInt(h)
    ihdr.put(8.toByte)  // bit depth
    ihdr.put((if (channels == 1) 0 else 2).toByte) // color type
    ihdr.put(0.toByte)  // compression
    ihdr.put(0.toByte)  // filter method
    ihdr.put(0.toByte)  // interlace: none
    writeChunk(out, "IHDR", ihdr.array())
    writeChunk(out, "IDAT", idat)
    writeChunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  private def writeChunk(out: java.io.ByteArrayOutputStream,
                         typ: String, data: Array[Byte]): Unit = {
    val len = java.nio.ByteBuffer.allocate(4).putInt(data.length).array()
    out.write(len)
    val t = typ.getBytes("US-ASCII")
    out.write(t)
    out.write(data)
    val crc = new CRC32()
    crc.update(t); crc.update(data)
    out.write(java.nio.ByteBuffer.allocate(4)
      .putInt(crc.getValue.toInt).array())
  }

  private def deflate(raw: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(raw); d.finish()
    val buf = new Array[Byte](raw.length + 64)
    val out = new java.io.ByteArrayOutputStream()
    while (!d.finished()) {
      val n = d.deflate(buf)
      out.write(buf, 0, n)
    }
    d.end()
    out.toByteArray
  }

  // ------------------------------------------------------------ decode

  /** Gray-8 entry kept as the narrow API: full parse + the loud
    * channel check. */
  def decodeGray8(b: Array[Byte]): Raster = decode(b).withChannels(1)

  /** Full PNG parse: signature, CRC-verified chunk walk, zlib inflate
    * (adler verified by Inflater), 5-filter scanline reconstruction
    * with the left neighbor `bpp` bytes back (PNG spec §9.2) — gray-8
    * (color 0) and truecolor-8 (color 2) share the one loop. Fails
    * loudly on anything else. */
  def decode(b: Array[Byte]): Raster = {
    require(b.length >= 8 && Signature.indices.forall(i => b(i) == Signature(i)),
      "not a PNG payload (bad signature)")
    var i = 8
    var w = -1; var h = -1; var channels = -1
    val idat = new java.io.ByteArrayOutputStream()
    var sawEnd = false
    while (i < b.length && !sawEnd) {
      require(i + 8 <= b.length, s"truncated chunk header at byte $i")
      val len = be32(b, i)
      require(len >= 0 && i + 12 + len <= b.length,
        s"chunk length $len overruns payload at byte $i")
      val typ = new String(b, i + 4, 4, "US-ASCII")
      // verify the chunk CRC over type + data
      val crc = new CRC32()
      crc.update(b, i + 4, 4 + len)
      val expect = be32(b, i + 8 + len)
      require(crc.getValue.toInt == expect,
        s"CRC mismatch in $typ chunk at byte $i")
      typ match {
        case "IHDR" =>
          require(len == 13, s"IHDR length $len != 13")
          w = be32(b, i + 8); h = be32(b, i + 12)
          val depth = b(i + 16) & 0xff
          val color = b(i + 17) & 0xff
          val interlace = b(i + 20) & 0xff
          require(depth == 8, s"unsupported bit depth $depth (only 8)")
          require(color == 0 || color == 2,
            s"unsupported color type $color (gray or truecolor only)")
          require(interlace == 0, "interlaced PNG unsupported")
          channels = if (color == 0) 1 else 3
        case "IDAT" => idat.write(b, i + 8, len)
        case "IEND" => sawEnd = true
        case _ => () // ancillary chunks skipped (CRC still verified)
      }
      i += 12 + len
    }
    require(sawEnd, "missing IEND chunk")
    require(w > 0 && h > 0 && channels > 0, "missing IHDR chunk")
    val stride = w * channels
    val raw = inflate(idat.toByteArray, (stride + 1) * h)
    require(raw.length == (stride + 1) * h,
      s"inflated scanline stream ${raw.length} != ${(stride + 1) * h}")
    // defilter: recon bytes depend on the RECONSTRUCTED left/up/up-left
    val px = new Array[Byte](stride * h)
    var r = 0
    while (r < h) {
      val ft = raw(r * (stride + 1)) & 0xff
      require(ft <= 4, s"unknown filter type $ft on scanline $r")
      var c = 0
      while (c < stride) {
        val f = raw(r * (stride + 1) + 1 + c) & 0xff
        val a = if (c >= channels) px(r * stride + c - channels) & 0xff
          else 0
        val up = if (r > 0) px((r - 1) * stride + c) & 0xff else 0
        val ul = if (r > 0 && c >= channels)
          px((r - 1) * stride + c - channels) & 0xff
          else 0
        val x = ft match {
          case 0 => f
          case 1 => f + a
          case 2 => f + up
          case 3 => f + (a + up) / 2
          case 4 => f + paeth(a, up, ul)
        }
        px(r * stride + c) = (x & 0xff).toByte
        c += 1
      }
      r += 1
    }
    Raster(w, h, channels, px)
  }

  /** Paeth predictor (PNG spec §9.4) — nearest of left/up/up-left to
    * the linear estimate, ties resolved left, up, up-left. */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b)
    val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  private def be32(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
      ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)

  private def inflate(z: Array[Byte], expect: Int): Array[Byte] = {
    val inf = new Inflater()
    inf.setInput(z)
    val out = new Array[Byte](expect)
    var n = 0
    try {
      while (!inf.finished() && n < expect) {
        val k = inf.inflate(out, n, expect - n)
        require(k > 0 || inf.finished(),
          "zlib stream stalled (truncated IDAT)")
        n += k
      }
      // drain to let Inflater verify the adler32 trailer
      if (!inf.finished()) {
        val spill = new Array[Byte](1)
        require(inf.inflate(spill) == 0 && inf.finished(),
          s"IDAT inflates past the expected $expect scanline bytes")
      }
    } catch {
      case e: DataFormatException =>
        throw new IllegalArgumentException(
          s"corrupt zlib stream in IDAT: ${e.getMessage}", e)
    } finally inf.end()
    out.take(n)
  }

  // --------------------------------------------------- Spark operators

  /** Per-row PNG encode of an md5-derivable raster column — the payload
    * CONSTRUCTION side of the declared roundtrip. */
  def encodeColumn(df: DataFrame, idCol: Column, pxCol: Column,
                   w: Int, h: Int): DataFrame =
    Multimodal.payloads(df, idCol, pxCol)((id, px) => (id, encodeGray8(w, h, px)))
      .toDF("media_id", "payload")

  /** Truecolor encode twin of [[encodeColumn]] (interleaved RGB). */
  def encodeRgbColumn(df: DataFrame, idCol: Column, pxCol: Column,
                      w: Int, h: Int): DataFrame =
    Multimodal.payloads(df, idCol, pxCol)((id, px) => (id, encodeRgb8(w, h, px)))
      .toDF("media_id", "payload")
}
