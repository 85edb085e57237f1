package graft.operators

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Multimodal column support (BASELINE.json north star): image/audio/
  * video travel as opaque `binary` payload columns with typed metadata
  * structs. This object holds the steps every media operator shares,
  * once each: the per-partition `(media_id, payload)` boundary
  * `payloads`, the decoded [[Raster]] with its one channel check,
  * the gray-stats fold into [[DecodedImage]], the channel-sum fold
  * into [[DecodedRgb]] and the lane-sum loop `laneSums`. The
  * library-free decoders plug into them: [[decodePgm]] (netpbm P5
  * header + raster) and [[decodeWav]] (RIFF/WAVE chunk walk + PCM16
  * stats) here, and the compressed codecs [[Png.decode]] and
  * [[Jpeg.decode]] (JDK-only) through [[decodeGray]], [[decodeRgb]]
  * and the [[PixelLanes]] codec of [[decodeFeatures]].
  */
object Multimodal {

  /** Typed media row: payload + metadata. */
  final case class Media(
      media_id: Long, kind: String, payload: Array[Byte],
      width: Int, height: Int, format: String)

  final case class MediaFeatures(
      media_id: Long, kind: String, n_bytes: Long,
      lane_sums: Array[Long], features: Array[Float])

  /** Synthesize a deterministic media table from any table with an id
    * and a text column — stands in for real binary ingestion so the
    * plumbing is exercised end-to-end on driver data. */
  def syntheticMedia(df: DataFrame, idCol: Column, textCol: Column): Dataset[Media] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(
      idCol.cast("long").as("media_id"),
      when(idCol % 2 === 0, "image").otherwise("audio").as("kind"),
      textCol.cast("binary").as("payload"),
      (octet_length(textCol) % 640).cast("int").as("width"),
      (octet_length(textCol) % 480).cast("int").as("height"),
      when(idCol % 2 === 0, "png").otherwise("wav").as("format"))
      .as[Media]
  }

  /** A decoded image: `pixels` row-major, interleaved when
    * `channels == 3` (stride = width * channels bytes per row). */
  final case class Raster(width: Int, height: Int, channels: Int,
                          pixels: Array[Byte]) {
    /** This raster, after the loud check that it has `n` channels. */
    def withChannels(n: Int): Raster = {
      require(channels == n, s"expected ${if (n == 1) "grayscale" else "truecolor"}, " +
        s"payload is $channels-channel")
      this
    }
  }

  /** The per-partition typed boundary of every media operator: the
    * `(id, payload)` rows of `df` go through `f` one partition at a
    * time (the shape a native decoder needs: amortized per-partition
    * init, bounded memory). The payload column keeps the name the
    * caller gives it. */
  private[operators] def payloads[T <: Product : TypeTag](df: DataFrame,
      idCol: Column, payloadCol: Column)(f: (Long, Array[Byte]) => T): Dataset[T] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(idCol.cast("long").as("id"), payloadCol)
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) => f(id, b) })
  }

  /** Interleaved lane sums: lane `i % dim` accumulates byte `i`
    * (unsigned). Exact and order-independent. */
  private def laneSums(bytes: Array[Byte], dim: Int): Array[Long] = {
    val sums = new Array[Long](dim)
    var i = 0
    while (i < bytes.length) {
      sums(i % dim) += (bytes(i) & 0xff)
      i += 1
    }
    sums
  }

  /** The codec PLUG-IN point: payload bytes -> `dim` integer lane
    * accumulators. Implementations must be (a) serializable (shipped
    * to executors), (b) deterministic per payload, and (c) pure —
    * per-partition context (a native codec handle) belongs in
    * [[LaneCodec.open]], which runs once per partition before the
    * first payload. [[RawByteLanes]] sums the payload bytes and
    * [[PixelLanes]] the decoded pixels of a compressed image;
    * everything around the codec — schema, batching, partitioning,
    * the `features = sums/255f` view — is codec-agnostic (contract
    * pinned by MultimodalSpec's fake-codec registration). */
  trait LaneCodec extends Serializable {
    /** Per-partition init (codec context); default no-op. */
    def open(): Unit = ()
    /** Decode one payload into `dim` lane accumulators. */
    def lanes(payload: Array[Byte], dim: Int): Array[Long]
  }

  /** The identity "codec": raw interleaved byte lanes — exact integer
    * sums, order-independent, so the default path carries an exact
    * cross-engine oracle (`multimodal_decode_features`). */
  object RawByteLanes extends LaneCodec {
    def lanes(payload: Array[Byte], dim: Int): Array[Long] =
      laneSums(payload, dim)
  }

  /** Lane sums over the DECODED grayscale pixels of a compressed
    * payload (`Png.decode`, `Jpeg.decode`): the [[RawByteLanes]] rule
    * applied after the decode. */
  final case class PixelLanes(decode: Array[Byte] => Raster) extends LaneCodec {
    def lanes(payload: Array[Byte], dim: Int): Array[Long] =
      laneSums(decode(payload).withChannels(1).pixels, dim)
  }

  /** Batch-shaped feature extraction over media payloads: processes one
    * partition at a time through an iterator (the shape a vectorized /
    * native decoder needs — amortized per-partition init, bounded
    * memory). Partition count = parallelism; repartition by media_id
    * upstream for balance. The decode step itself is the pluggable
    * [[LaneCodec]]; the default [[RawByteLanes]] keeps the declared
    * query exact-oracle-checkable. */
  def decodeFeatures(media: Dataset[Media], dim: Int = 8,
                     codec: LaneCodec = RawByteLanes): Dataset[MediaFeatures] = {
    implicit val enc = Encoders.product[MediaFeatures]
    media.mapPartitions { it =>
      codec.open() // per-partition codec context init
      it.map { m =>
        val sums = codec.lanes(m.payload, dim)
        require(sums.length == dim,
          s"codec returned ${sums.length} lanes, expected $dim")
        val f = Array.tabulate(dim)(j => sums(j) / 255.0f)
        MediaFeatures(m.media_id, m.kind, m.payload.length.toLong, sums, f)
      }
    }
  }

  final case class DecodedImage(
      media_id: Long, format: String, width: Int, height: Int,
      maxval: Int, n_pixels: Long, pixel_sum: Long,
      pixel_min: Int, pixel_max: Int)

  /** The gray-stats fold: header fields plus the exact pixel count,
    * sum, min and max of a grayscale raster. */
  private def grayStats(id: Long, format: String, maxval: Int,
                        img: Raster): DecodedImage = {
    val px = img.withChannels(1).pixels
    var sum = 0L; var mn = 255; var mx = 0; var i = 0
    while (i < px.length) {
      val v = px(i) & 0xff
      sum += v; if (v < mn) mn = v; if (v > mx) mx = v
      i += 1
    }
    DecodedImage(id, format, img.width, img.height, maxval,
      px.length.toLong, sum, mn, mx)
  }

  /** Decode a grayscale payload column (`Png.decode`, `Jpeg.decode`)
    * into header + exact pixel stats, tagged `format` (maxval 255). */
  def decodeGray(df: DataFrame, idCol: Column, payloadCol: Column,
                 format: String,
                 decode: Array[Byte] => Raster): Dataset[DecodedImage] =
    payloads(df, idCol, payloadCol.as("p"))((id, b) =>
      grayStats(id, format, 255, decode(b)))

  /** Per-channel stats of a decoded color payload. */
  final case class DecodedRgb(media_id: Long, width: Int, height: Int,
                              n_pixels: Long, r_sum: Long, g_sum: Long,
                              b_sum: Long)

  /** Decode a color payload column into exact per-channel integer
    * sums (for JPEG after its pinned YCbCr->RGB, which the oracle
    * replays). */
  def decodeRgb(df: DataFrame, idCol: Column, payloadCol: Column,
                decode: Array[Byte] => Raster): Dataset[DecodedRgb] =
    payloads(df, idCol, payloadCol.as("p")) { (id, b) =>
      val img = decode(b).withChannels(3)
      val s = laneSums(img.pixels, 3)
      DecodedRgb(id, img.width, img.height, (img.pixels.length / 3).toLong,
        s(0), s(1), s(2))
    }

  /** REAL image decoder — binary PGM (P5), the netpbm grayscale
    * format: ASCII header `P5 <w> <h> <maxval>` + single whitespace +
    * w*h raw bytes. Dimensions and maxval come out of the HEADER,
    * pixel stats out of the RASTER through the shared gray-stats fold,
    * and malformed payloads fail loudly. Comment lines (`#`) are not
    * supported — the writers this engine pairs with never emit them. */
  def decodePgm(df: DataFrame, idCol: Column,
                payloadCol: Column): Dataset[DecodedImage] =
    payloads(df, idCol, payloadCol.as("p")) { (id, b) =>
      var i = 0
      def ws(c: Byte) = c == ' ' || c == '\n' || c == '\t' || c == '\r'
      def readInt(): Int = {
        while (i < b.length && ws(b(i))) i += 1
        var v = 0
        require(i < b.length && b(i) >= '0' && b(i) <= '9',
          s"PGM header digit expected at byte $i of media $id")
        while (i < b.length && b(i) >= '0' && b(i) <= '9') {
          v = v * 10 + (b(i) - '0'); i += 1
        }
        v
      }
      require(b.length >= 2 && b(0) == 'P' && b(1) == '5',
        s"not a P5 PGM payload at media $id")
      i = 2
      val w = readInt(); val h = readInt(); val mx = readInt()
      require(i < b.length && ws(b(i)),
        s"PGM raster delimiter missing at media $id")
      i += 1 // exactly ONE whitespace separates header and raster
      val n = w.toLong * h
      require(n >= 0 && b.length - i >= n, s"truncated PGM raster at media $id")
      grayStats(id, "pgm", mx,
        Raster(w, h, 1, java.util.Arrays.copyOfRange(b, i, i + n.toInt)))
    }

  final case class DecodedAudio(
      media_id: Long, format: String, n_channels: Int,
      sample_rate: Int, bits: Int, n_samples: Long,
      sample_sum: Long, sample_min: Int, sample_max: Int)

  /** REAL audio decoder — RIFF/WAVE with PCM16: walks the chunk list,
    * parses channels / sample rate / bit depth out of the `fmt `
    * chunk, and folds the `data` chunk's little-endian int16 samples
    * into exact integer stats. Pure byte arithmetic, library-free —
    * the audio leg is a genuine container parse. */
  def decodeWav(df: DataFrame, idCol: Column,
                payloadCol: Column): Dataset[DecodedAudio] =
    payloads(df, idCol, payloadCol.as("p")) { (id, b) =>
      def u16(b: Array[Byte], o: Int): Int =
        (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
      def u32(b: Array[Byte], o: Int): Long =
        (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
          ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
      def tag(b: Array[Byte], o: Int): String =
        new String(b, o, 4, "US-ASCII")
      require(b.length >= 12 && tag(b, 0) == "RIFF" &&
        tag(b, 8) == "WAVE", s"not a RIFF/WAVE payload at media $id")
      var o = 12
      var ch = -1; var rate = -1; var bits = -1
      var n = 0L; var sum = 0L; var mn = 32767; var mx = -32768
      while (o + 8 <= b.length) {
        val t = tag(b, o); val szL = u32(b, o + 4)
        // Fail loudly on a malformed/hostile chunk size: a u32 >
        // 2^31 would wrap negative under .toInt and make the
        // word-aligned advance below non-positive — an infinite
        // loop on the executor instead of the documented error.
        require(szL <= b.length.toLong - o - 8,
          s"chunk '$t' declares $szL bytes at offset $o but payload " +
            s"has ${b.length} bytes at media $id")
        val sz = szL.toInt
        if (t == "fmt ") {
          ch = u16(b, o + 10); rate = u32(b, o + 12).toInt
          bits = u16(b, o + 22)
        } else if (t == "data") {
          require(bits == 16,
            s"only PCM16 supported, got $bits bits at media $id")
          var i = o + 8
          val end = math.min(o + 8 + sz, b.length)
          while (i + 1 < end) {
            var v = u16(b, i)
            if (v >= 32768) v -= 65536
            sum += v; if (v < mn) mn = v; if (v > mx) mx = v
            n += 1; i += 2
          }
        }
        o += 8 + sz + (sz & 1) // chunks are word-aligned
      }
      require(ch > 0 && rate > 0,
        s"fmt chunk missing at media $id")
      DecodedAudio(id, "wav", ch, rate, bits, n, sum,
        if (n == 0) 0 else mn, if (n == 0) 0 else mx)
    }

  /** Frame slicing as pure Column expressions: split the payload into
    * `frameSize`-byte frames and keep every `stride`-th one (video
    * frame-sampling topology; `substring` on binary is byte-addressed). */
  def sampleFrames(payload: Column, frameSize: Int, stride: Int): Column = {
    val nFrames = ceil(octet_length(payload).cast("double") / frameSize).cast("int")
    transform(
      filter(sequence(lit(0), greatest(nFrames - 1, lit(0))),
        i => i % stride === 0 && octet_length(payload) > i * frameSize),
      i => substring(payload, i * frameSize + 1, lit(frameSize)))
  }

  /** 64-bit PERCEPTUAL-HASH stub from the decoded lane energies: bit j
    * is set iff lane j's byte-sum is >= the mean lane energy
    * (lane_sum * 64 >= total — all integer, so the hash replays
    * exactly in SQL). This is the block-energy-vs-global-mean shape of
    * a real pHash (DCT of a downscaled image thresholded at the
    * median); a real implementation swaps [[decodeFeatures]]'s decoder
    * and this threshold, the topology — decode once, hash per row,
    * near-dup via [[Dedup.simhashPairs]] segment pigeonhole — stays.
    * The 64-element fold re-evaluates the O(64) total per lane (4k
    * integer ops/row — noise next to the decode). Empty payloads hash
    * to all-ones (0 >= 0); filter them upstream if that's not wanted. */
  def phash64(media: Dataset[Media]): DataFrame = {
    val lanes = col("lane_sums")
    val total = aggregate(lanes, lit(0L), (a, x) => a + x)
    val bitVals = typedLit((0 until 64).map(j => 1L << j))
    decodeFeatures(media, dim = 64).toDF()
      .select(col("media_id"),
        aggregate(
          zip_with(lanes, bitVals, (x, b) =>
            when(x * 64L >= total, b).otherwise(0L)),
          lit(0L), (a, b) => a.bitwiseOR(b)).as("ph"))
  }
}
