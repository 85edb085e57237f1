package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Multimodal column support (BASELINE.json north star): image/audio/
  * video travel as opaque `binary` payload columns with typed metadata
  * structs. The Spark-side plumbing — schema, partitioning, batch-shaped
  * per-partition processing, frame slicing — is real and tested, and so
  * are two actual byte-format decoders: [[decodePgm]] (netpbm P5
  * grayscale — header + raster parse) and [[decodeWav]] (RIFF/WAVE
  * chunk walk + PCM16 sample stats), both library-free. Only
  * COMPRESSED codecs (JPEG/MP3/H.264) remain out of scope — this
  * environment ships no codec libraries — and the [[LaneCodec]]
  * trait is the API where such a codec plugs in: [[decodeFeatures]]
  * takes any LaneCodec, defaults to the exact-oracle [[RawByteLanes]],
  * and MultimodalSpec registers a fake compressed codec to pin that
  * the surrounding plumbing is codec-agnostic.
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

  /** The codec PLUG-IN point: payload bytes -> `dim` integer lane
    * accumulators. Implementations must be (a) serializable (shipped
    * to executors), (b) deterministic per payload, and (c) pure —
    * per-partition context (a native codec handle) belongs in
    * [[LaneCodec.open]], which runs once per partition before the
    * first payload. Compressed formats (JPEG/MP3/H.264) slot in HERE
    * when their libraries exist in the runtime image; everything
    * around the codec — schema, batching, partitioning, the
    * `features = sums/255f` view — is codec-agnostic and stays
    * (contract pinned by MultimodalSpec's fake-codec registration). */
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
    def lanes(payload: Array[Byte], dim: Int): Array[Long] = {
      val sums = new Array[Long](dim)
      var i = 0
      while (i < payload.length) {
        sums(i % dim) += (payload(i) & 0xff)
        i += 1
      }
      sums
    }
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

  /** REAL image decoder — binary PGM (P5), the netpbm grayscale
    * format: ASCII header `P5 <w> <h> <maxval>` + single whitespace +
    * w*h raw bytes. Needs no media library (that was only ever true
    * of compressed codecs), so the image leg of the multimodal family
    * is an actual byte-format parse, not a stand-in: dimensions and
    * maxval come out of the HEADER, pixel stats out of the RASTER,
    * and malformed payloads fail loudly. Same per-partition iterator
    * shape as [[decodeFeatures]] (amortized init is where a JPEG
    * codec context would go). Comment lines (`#`) are not supported —
    * the writers this engine pairs with never emit them. */
  def decodePgm(df: DataFrame, idCol: Column,
                payloadCol: Column): Dataset[DecodedImage] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(idCol.cast("long").as("id"), payloadCol.as("p"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        def parse(id: Long, b: Array[Byte]): DecodedImage = {
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
          var sum = 0L; var mn = 255; var mxv = 0; var p = 0L
          while (p < n && i < b.length) {
            val v = b(i) & 0xff
            sum += v; if (v < mn) mn = v; if (v > mxv) mxv = v
            i += 1; p += 1
          }
          require(p == n, s"truncated PGM raster at media $id")
          DecodedImage(id, "pgm", w, h, mx, n, sum, mn, mxv)
        }
        it.map { case (id, b) => parse(id, b) }
      }
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
                payloadCol: Column): Dataset[DecodedAudio] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(idCol.cast("long").as("id"), payloadCol.as("p"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        def u16(b: Array[Byte], o: Int): Int =
          (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
        def u32(b: Array[Byte], o: Int): Long =
          (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
            ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
        def tag(b: Array[Byte], o: Int): String =
          new String(b, o, 4, "US-ASCII")
        def parse(id: Long, b: Array[Byte]): DecodedAudio = {
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
        it.map { case (id, b) => parse(id, b) }
      }
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

  /** "Resize" stub for binary images: byte-decimate the payload by
    * `factor` (keep every factor-th byte) — stands in for a real
    * resampler, keeps the columnar shape. */
  def resizeStub(payload: Column, factor: Int): Column =
    aggregate(sampleFrames(payload, 1, factor),
      lit(Array.emptyByteArray), (acc, x) => concat(acc, x))

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
