package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

import graft.operators.Multimodal.Raster

/** REAL baseline-DCT JPEG codec (ISO/IEC 10918-1), built entirely on
  * the JDK — the compressed-image leg the PNG codec couldn't cover
  * (reference anchor: the reference's image surface is MNIST rasters,
  * `integration_test.py:29`; real corpora ship JPEG). The decoder is
  * the full pipeline a baseline JFIF file needs: marker walk
  * (SOI/APPn/COM/DQT/DHT/SOF0/SOS/EOI), canonical Huffman tables
  * built from DHT per Annex C, entropy decode per Annex F (DC
  * prediction + EXTEND, AC run/size with EOB and ZRL, 0xFF00 byte
  * unstuffing), dequantization, dezigzag, an 8x8 inverse DCT, level
  * shift and clamp — plus YCbCr→RGB for 3-component scans (4:4:4 and
  * 4:2:0 with pinned replicate chroma upsampling) and DRI/RSTn
  * restart intervals (byte-aligned markers, cycling sequence checked,
  * DC predictors reset per interval).
  *
  * Scope is stated, not hidden: baseline sequential (SOF0), 8-bit,
  * sampling factors 1 or 2 per axis. Progressive/extended/12-bit
  * streams fail loudly.
  *
  * EXACTNESS CONTRACT (what makes a LOSSY format oracle-checkable):
  * lossiness lives entirely in the ENCODER's forward DCT + quantizer;
  * everything from quantized coefficients to pixels is deterministic
  * integer math. So the declared queries derive the quantized
  * coefficients themselves from md5 (bounded ints), the encoder
  * entropy-codes them into a real JPEG stream, and the decoder must
  * recover them bit-exactly through real Huffman decode before the
  * pinned integer IDCT maps them to pixels. The DuckDB oracle replays
  * coefficients→pixels with the SAME integer tables ([[IdctW]],
  * [[ZigZagInv]], quant, YCbCr constants — interpolated as literals
  * into the SQL, the engine's pinned-literal discipline: never
  * runtime libm on two engines). The IDCT is fixed-point separable
  * (the shape every production decoder uses); rounding is pinned as
  * truncate-toward-zero division `(x + half) / 2^s` — identical to
  * DuckDB's `//`.
  */
object Jpeg {

  // ------------------------------------------------------- pinned math

  /** Zigzag scan order: ZigZag(i) = natural (row-major) coefficient
    * index of zigzag position i — generated by the diagonal walk of
    * spec Figure 5 (odd diagonals descend, even ascend), not typed in
    * by hand; JpegSpec pins the classic spot values. */
  val ZigZag: Array[Int] = {
    val buf = scala.collection.mutable.ArrayBuffer[Int]()
    for (s <- 0 to 14) {
      val us =
        if (s % 2 == 1) math.max(0, s - 7) to math.min(7, s)
        else math.min(7, s) to math.max(0, s - 7) by -1
      for (u <- us) buf += u * 8 + (s - u)
    }
    buf.toArray
  }

  /** natural index -> zigzag position. */
  val ZigZagInv: Array[Int] = {
    val inv = new Array[Int](64)
    for (i <- 0 until 64) inv(ZigZag(i)) = i
    inv
  }

  /** Orthonormal DCT-II basis in Q20 fixed point:
    * IdctW(u*8+x) = round( k(u) * cos((2x+1) u pi / 16) / 2 * 2^20 ),
    * k(0)=1/sqrt(2) else 1 — rows have unit norm, so
    * pixel = sum_u sum_v A[u][y] A[v][x] coef exactly. StrictMath so
    * the table is identical on any JVM; the oracle gets these 64
    * integers as literals, so both engines share the same table by
    * construction. */
  val IdctW: Array[Long] = Array.tabulate(64) { j =>
    val u = j / 8; val x = j % 8
    val k = if (u == 0) 1.0 / StrictMath.sqrt(2.0) else 1.0
    math.round(
      k * StrictMath.cos((2 * x + 1) * u * math.Pi / 16.0) / 2.0 * (1L << 20))
  }

  /** Quantization tables in NATURAL order (DQT stores them zigzagged).
    * Values are small so md5-derived coefficients stay well inside the
    * Huffman size categories the declared tables carry. */
  val QtLuma: Array[Int] = Array.tabulate(64)(n => 8 + n / 8 + n % 8)
  val QtChroma: Array[Int] = Array.tabulate(64)(n => 10 + 2 * (n / 8 + n % 8))

  /** Pinned truncate-toward-zero rounding division — `(x + half) / d`
    * with Long `/` = DuckDB `//` (both truncate toward zero). This is
    * the ONE rounding rule of the whole decode path. */
  @inline private def rdiv(x: Long, d: Long): Long = (x + d / 2) / d

  /** YCbCr -> RGB in Q16 fixed point (JFIF full-range matrix):
    * 91881 = round(1.402 * 65536), 22554 = round(0.344136 * 65536),
    * 46802 = round(0.714136 * 65536), 116130 = round(1.772 * 65536). */
  private val CrR = 91881L; private val CbG = 22554L
  private val CrG = 46802L; private val CbB = 116130L

  @inline private def clamp8(v: Long): Int =
    if (v < 0) 0 else if (v > 255) 255 else v.toInt

  /** Fixed-point separable IDCT: natural-order dequantized
    * coefficients -> 64 clamped pixel values (row-major). Pass 1
    * contracts the horizontal frequency v and keeps 10 fractional
    * bits; pass 2 contracts u and drops the remaining 30. */
  def idct(dq: Array[Long]): Array[Int] = {
    val r1 = new Array[Long](64) // r1(u*8+x)
    var u = 0
    while (u < 8) {
      var x = 0
      while (x < 8) {
        var m = 0L; var v = 0
        while (v < 8) { m += dq(u * 8 + v) * IdctW(v * 8 + x); v += 1 }
        r1(u * 8 + x) = rdiv(m, 1L << 10)
        x += 1
      }
      u += 1
    }
    val out = new Array[Int](64)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0L; var uu = 0
        while (uu < 8) { s += IdctW(uu * 8 + y) * r1(uu * 8 + x); uu += 1 }
        out(y * 8 + x) = clamp8(rdiv(s, 1L << 30) + 128)
        x += 1
      }
      y += 1
    }
    out
  }

  // -------------------------------------------------- huffman (Annex C/F)

  /** A Huffman table as DHT carries it: bits(l) = #codes of length
    * l+1 (l in 0..15), huffval = symbols in code order. Encoder and
    * decoder both derive the canonical code assignment from this one
    * representation, so the bytes written to DHT ARE the table. */
  final case class HuffTable(bits: Array[Int], huffval: Array[Int]) {
    require(bits.length == 16 && bits.sum == huffval.length,
      s"huffman table shape: ${bits.sum} codes vs ${huffval.length} values")

    /** Encoder view: symbol -> (code, length). Canonical assignment
      * per Annex C: codes of each length are consecutive, doubling at
      * each length step. */
    lazy val encode: Map[Int, (Int, Int)] = {
      var code = 0; var k = 0
      val m = Map.newBuilder[Int, (Int, Int)]
      for (l <- 1 to 16) {
        var n = bits(l - 1)
        while (n > 0) {
          m += huffval(k) -> (code, l)
          code += 1; k += 1; n -= 1
        }
        code <<= 1
      }
      m.result()
    }

    /** Decoder view per Annex F.2.2.3: MINCODE/MAXCODE/VALPTR per
      * length (maxcode = -1 marks an empty length). */
    lazy val (minCode, maxCode, valPtr) = {
      val mn = new Array[Int](17); val mx = Array.fill(17)(-1)
      val vp = new Array[Int](17)
      var code = 0; var k = 0
      for (l <- 1 to 16) {
        if (bits(l - 1) > 0) {
          vp(l) = k; mn(l) = code
          k += bits(l - 1); code += bits(l - 1)
          mx(l) = code - 1
        }
        code <<= 1
      }
      (mn, mx, vp)
    }
  }

  /** The declared tables: custom canonical tables sized to the
    * md5-coefficient value ranges (DC diffs fit category <= 6, AC
    * values category <= 4). Any DHT-valid table decodes — the decoder
    * builds from the segment bytes, never assumes these. */
  val DcTable: HuffTable = {
    val bits = new Array[Int](16); bits(3) = 8 // categories 0..7 at length 4
    HuffTable(bits, (0 to 7).toArray)
  }
  val AcTable: HuffTable = {
    // EOB, ZRL, and (run 0..15) x (size 1..4), all at length 7:
    // 66 of 128 code points used — canonical, all-ones code unused.
    val syms = (0x00 +: 0xF0 +:
      (for (run <- 0 to 15; size <- 1 to 4) yield (run << 4) | size)).sorted
    val bits = new Array[Int](16); bits(6) = syms.length
    HuffTable(bits, syms.toArray)
  }

  /** Size category of a (nonzero or DC-diff) value: #bits of |v|. */
  @inline private def category(v: Int): Int =
    if (v == 0) 0 else 32 - Integer.numberOfLeadingZeros(math.abs(v))

  // ---------------------------------------------------------- encoder

  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var acc = 0; private var n = 0
    def put(bitsVal: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        acc = (acc << 1) | ((bitsVal >>> i) & 1); n += 1
        if (n == 8) {
          out.write(acc)
          if (acc == 0xff) out.write(0x00) // byte stuffing
          acc = 0; n = 0
        }
        i -= 1
      }
    }
    /** Pad the final partial byte with 1-bits (spec F.1.2.3). */
    def flush(): Unit = if (n > 0) { put(0xff, 8 - n); () }
  }

  private def writeMarker(o: java.io.ByteArrayOutputStream, m: Int): Unit = {
    o.write(0xff); o.write(m)
  }
  private def writeSegment(o: java.io.ByteArrayOutputStream, m: Int,
                           body: Array[Byte]): Unit = {
    writeMarker(o, m)
    val len = body.length + 2
    o.write(len >> 8); o.write(len & 0xff); o.write(body)
  }

  private def dqtBody(id: Int, qtNatural: Array[Int]): Array[Byte] = {
    val b = new Array[Byte](65)
    b(0) = id.toByte // Pq=0 (8-bit) | Tq
    for (i <- 0 until 64) b(1 + i) = qtNatural(ZigZag(i)).toByte // zigzag order
    b
  }
  private def dhtBody(cls: Int, id: Int, t: HuffTable): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    b.write((cls << 4) | id)
    t.bits.foreach(b.write)
    t.huffval.foreach(b.write)
    b.toByteArray
  }

  /** Entropy-encode one component's 8x8 block given ZIGZAG-order
    * quantized coefficients; returns the new DC predictor. */
  private def encodeBlock(bw: BitWriter, zz: Array[Int], prevDc: Int,
                          dc: HuffTable, ac: HuffTable): Int = {
    val diff = zz(0) - prevDc
    val s = category(diff)
    val (c, l) = dc.encode(s)
    bw.put(c, l)
    if (s > 0) bw.put(if (diff < 0) diff + (1 << s) - 1 else diff, s)
    var run = 0; var k = 1
    while (k < 64) {
      val v = zz(k)
      if (v == 0) run += 1
      else {
        while (run >= 16) { val (zc, zl) = ac.encode(0xF0); bw.put(zc, zl); run -= 16 }
        val vs = category(v)
        val (ac1, al) = ac.encode((run << 4) | vs)
        bw.put(ac1, al)
        bw.put(if (v < 0) v + (1 << vs) - 1 else v, vs)
        run = 0
      }
      k += 1
    }
    if (run > 0) { val (ec, el) = ac.encode(0x00); bw.put(ec, el) } // EOB
    zz(0)
  }

  /** Build a real baseline JPEG from per-block ZIGZAG quantized
    * coefficients. `comps` describes the scan: (componentId, quant
    * table id); `sampling` gives each component's (h, v) factors
    * (default 1x1 for all). Blocks arrive MCU-interleaved: for each
    * MCU position (raster order), each component contributes its
    * h*v blocks in raster order — e.g. 4:2:0 color is
    * [Y00 Y01 Y10 Y11 Cb Cr] per 16x16 MCU. Grayscale: one 1x1
    * component. */
  def encode(w: Int, h: Int, comps: Seq[(Int, Int)],
             blocks: IndexedSeq[Array[Int]],
             sampling: Seq[(Int, Int)] = Nil,
             restartInterval: Int = 0): Array[Byte] = {
    require(restartInterval >= 0, "restart interval must be >= 0")
    val (samp, nMcu, blocksPerMcu) = scanShape(w, h, comps, sampling)
    require(blocks.length == nMcu * blocksPerMcu,
      s"${blocks.length} blocks != $nMcu MCUs x $blocksPerMcu")
    val out = new java.io.ByteArrayOutputStream()
    writeMarker(out, 0xD8) // SOI
    writeSegment(out, 0xDB, dqtBody(0, QtLuma))
    if (comps.exists(_._2 == 1)) writeSegment(out, 0xDB, dqtBody(1, QtChroma))
    val sof = new java.io.ByteArrayOutputStream()
    sof.write(8) // precision
    sof.write(h >> 8); sof.write(h & 0xff)
    sof.write(w >> 8); sof.write(w & 0xff)
    sof.write(comps.length)
    comps.zip(samp).foreach { case ((cid, tq), (sh, sv)) =>
      sof.write(cid); sof.write((sh << 4) | sv); sof.write(tq)
    }
    writeSegment(out, 0xC0, sof.toByteArray) // SOF0: baseline
    writeSegment(out, 0xC4, dhtBody(0, 0, DcTable))
    writeSegment(out, 0xC4, dhtBody(1, 0, AcTable))
    if (restartInterval > 0) {
      val dri = new java.io.ByteArrayOutputStream()
      dri.write(restartInterval >> 8); dri.write(restartInterval & 0xff)
      writeSegment(out, 0xDD, dri.toByteArray)
    }
    val sos = new java.io.ByteArrayOutputStream()
    sos.write(comps.length)
    comps.foreach { case (cid, _) => sos.write(cid); sos.write(0x00) }
    sos.write(0); sos.write(63); sos.write(0) // Ss, Se, Ah/Al
    writeSegment(out, 0xDA, sos.toByteArray)
    val bw = new BitWriter(out)
    val pred = new Array[Int](comps.length)
    var bi = 0
    var m = 0
    var rst = 0
    while (m < nMcu) {
      if (restartInterval > 0 && m > 0 && m % restartInterval == 0) {
        // restart boundary: pad to a byte, emit RSTm (cycling 0..7,
        // NOT byte-stuffed), reset every DC predictor (spec E.1.4)
        bw.flush()
        writeMarker(out, 0xD0 + (rst % 8))
        rst += 1
        java.util.Arrays.fill(pred, 0)
      }
      var c = 0
      while (c < comps.length) {
        val (sh, sv) = samp(c)
        var k = 0
        while (k < sh * sv) {
          pred(c) = encodeBlock(bw, blocks(bi), pred(c), DcTable, AcTable)
          bi += 1; k += 1
        }
        c += 1
      }
      m += 1
    }
    bw.flush()
    writeMarker(out, 0xD9) // EOI
    out.toByteArray
  }

  /** A scan's checked sampling factors (1x1 per component when
    * `sampling` is empty), its MCU count and its blocks per MCU. */
  private def scanShape(w: Int, h: Int, comps: Seq[(Int, Int)],
                        sampling: Seq[(Int, Int)]): (Seq[(Int, Int)], Int, Int) = {
    val samp = if (sampling.isEmpty) comps.map(_ => (1, 1)) else sampling
    require(samp.length == comps.length, "sampling/comps length mismatch")
    require(samp.forall { case (sh, sv) =>
      (sh == 1 || sh == 2) && (sv == 1 || sv == 2) },
      s"sampling factors must be 1 or 2: $samp")
    val hmax = samp.map(_._1).max; val vmax = samp.map(_._2).max
    val mx = (w + 8 * hmax - 1) / (8 * hmax)
    val my = (h + 8 * vmax - 1) / (8 * vmax)
    (samp, mx * my, samp.map { case (sh, sv) => sh * sv }.sum)
  }

  // ---------------------------------------------------------- decoder

  private final class BitReader(b: Array[Byte], var pos: Int) {
    private var acc = 0; private var n = 0
    private def nextDataByte(): Int = {
      require(pos < b.length, "truncated entropy-coded segment")
      val v = b(pos) & 0xff; pos += 1
      if (v == 0xff) {
        require(pos < b.length, "truncated entropy-coded segment at 0xFF")
        val nx = b(pos) & 0xff
        require(nx == 0x00,
          f"marker 0xFF$nx%02X inside entropy data (expected a stuffed 0x00)")
        pos += 1 // consume the stuffed 0x00
      }
      v
    }
    /** Consume an RSTm marker at a restart boundary: drop the partial
      * byte (the encoder padded it with 1s), then expect 0xFF 0xD0+m
      * verbatim (restart markers are NOT byte-stuffed). Spec E.1.4. */
    def restart(m: Int): Unit = {
      n = 0; acc = 0 // byte-align: discard pad bits
      require(pos + 2 <= b.length, "truncated stream at restart boundary")
      val got = ((b(pos) & 0xff) << 8) | (b(pos + 1) & 0xff)
      require(got == (0xffd0 | m),
        f"expected restart marker RST$m%d (0xFFD${m}%01X), got 0x$got%04X")
      pos += 2
    }
    def bit(): Int = {
      if (n == 0) { acc = nextDataByte(); n = 8 }
      n -= 1
      (acc >> n) & 1
    }
    def receive(len: Int): Int = {
      var v = 0; var i = 0
      while (i < len) { v = (v << 1) | bit(); i += 1 }
      v
    }
    /** DECODE procedure, Annex F.2.2.3. */
    def huff(t: HuffTable): Int = {
      var l = 1; var code = bit()
      while (l <= 16 && (t.maxCode(l) < 0 || code > t.maxCode(l))) {
        code = (code << 1) | bit(); l += 1
      }
      require(l <= 16, "invalid huffman code in entropy data")
      t.huffval(t.valPtr(l) + code - t.minCode(l))
    }
  }

  /** EXTEND, spec F.2.2.1: map the `s` received magnitude bits back to
    * the signed value. */
  @inline private def extend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  private def be16(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)

  /** Full baseline decode: gray / 4:4:4 / 4:2:0 (sampling factors 1-2
    * per axis, replicate upsample) and DRI/RSTn restart intervals.
    * Fails loudly on anything outside that scope (progressive,
    * extended, 12-bit, factors > 2). Color scans come out as
    * interleaved RGB (YCbCr converted). */
  def decode(b: Array[Byte]): Raster = {
    require(b.length >= 4 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xD8,
      "not a JPEG payload (missing SOI)")
    var i = 2
    val qt = new Array[Array[Int]](4)
    val dcT = new Array[HuffTable](4); val acT = new Array[HuffTable](4)
    var w = -1; var h = -1
    var restartInterval = 0
    var comps: Array[(Int, Int, Int, Int)] = null // (cid, h, v, tq) in SOF order
    var scan: Array[(Int, Int, Int)] = null // (compIdx, td, ta)
    var entropyStart = -1
    while (entropyStart < 0) {
      require(i + 2 <= b.length, s"truncated marker stream at byte $i")
      require((b(i) & 0xff) == 0xff, f"expected marker at byte $i, got 0x${b(i) & 0xff}%02X")
      val m = b(i + 1) & 0xff
      require(m != 0xD9, "EOI before SOS (no image data)")
      require(i + 4 <= b.length, s"truncated segment header at byte $i")
      val len = be16(b, i + 2)
      require(len >= 2 && i + 2 + len <= b.length,
        s"segment length $len overruns payload at byte $i")
      val p0 = i + 4; val pEnd = i + 2 + len
      m match {
        case 0xDB => // DQT: one or more tables
          var p = p0
          while (p < pEnd) {
            val pq = (b(p) & 0xff) >> 4; val tq = b(p) & 0x0f
            require(pq == 0, "16-bit quantization tables unsupported")
            require(p + 65 <= pEnd, "truncated DQT table")
            val t = new Array[Int](64)
            for (k <- 0 until 64) t(ZigZag(k)) = b(p + 1 + k) & 0xff // de-zigzag
            qt(tq) = t
            p += 65
          }
        case 0xC4 => // DHT: one or more tables
          var p = p0
          while (p < pEnd) {
            val tc = (b(p) & 0xff) >> 4; val th = b(p) & 0x0f
            require(p + 17 <= pEnd, "truncated DHT header")
            val bits = Array.tabulate(16)(k => b(p + 1 + k) & 0xff)
            val nv = bits.sum
            require(p + 17 + nv <= pEnd, "truncated DHT values")
            val vals = Array.tabulate(nv)(k => b(p + 17 + k) & 0xff)
            val t = HuffTable(bits, vals)
            if (tc == 0) dcT(th) = t else acT(th) = t
            p += 17 + nv
          }
        case 0xC0 => // SOF0 baseline
          require((b(p0) & 0xff) == 8, "only 8-bit precision supported")
          h = be16(b, p0 + 1); w = be16(b, p0 + 3)
          val nc = b(p0 + 5) & 0xff
          require(nc == 1 || nc == 3, s"unsupported component count $nc")
          comps = Array.tabulate(nc) { c =>
            val q = p0 + 6 + c * 3
            val sf = b(q + 1) & 0xff
            val sh = sf >> 4; val sv = sf & 0x0f
            require(sh >= 1 && sh <= 2 && sv >= 1 && sv <= 2,
              s"sampling factors ${sh}x$sv unsupported (1 or 2 only)")
            (b(q) & 0xff, sh, sv, b(q + 2) & 0xff)
          }
          if (nc == 1)
            require(comps(0)._2 == 1 && comps(0)._3 == 1,
              "single-component scans must be 1x1")
        case 0xC1 | 0xC2 | 0xC3 | 0xC5 | 0xC6 | 0xC7 | 0xC9 | 0xCA |
             0xCB | 0xCD | 0xCE | 0xCF =>
          throw new IllegalArgumentException(
            f"non-baseline SOF marker 0xFF$m%02X (progressive/extended unsupported)")
        case 0xDD =>
          restartInterval = be16(b, p0)
        case 0xDA => // SOS
          require(comps != null, "SOS before SOF0")
          val ns = b(p0) & 0xff
          require(ns == comps.length, "partial-scan SOS unsupported")
          scan = Array.tabulate(ns) { c =>
            val cs = b(p0 + 1 + c * 2) & 0xff
            val idx = comps.indexWhere(_._1 == cs)
            require(idx >= 0, s"SOS references unknown component $cs")
            val tt = b(p0 + 2 + c * 2) & 0xff
            (idx, tt >> 4, tt & 0x0f)
          }
          entropyStart = pEnd
        case _ if m >= 0xE0 && m <= 0xEF => () // APPn: skipped
        case 0xFE => ()                        // COM: skipped
        case _ =>
          throw new IllegalArgumentException(f"unsupported marker 0xFF$m%02X")
      }
      if (entropyStart < 0) i = pEnd
    }
    require(w > 0 && h > 0, "missing SOF0")
    val nc = comps.length
    val hmax = comps.map(_._2).max; val vmax = comps.map(_._3).max
    val mx = (w + 8 * hmax - 1) / (8 * hmax)
    val my = (h + 8 * vmax - 1) / (8 * vmax)
    val br = new BitReader(b, entropyStart)
    // per-component plane, sized by that component's sampling grid
    val planes = Array.tabulate(nc) { c =>
      new Array[Int](mx * 8 * comps(c)._2 * my * 8 * comps(c)._3)
    }
    val pred = new Array[Int](nc)
    val zz = new Array[Int](64)
    var mcu = 0
    var rstSeq = 0
    while (mcu < mx * my) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        br.restart(rstSeq % 8)
        rstSeq += 1
        java.util.Arrays.fill(pred, 0) // DC predictors reset per interval
      }
      val my0 = mcu / mx; val mx0 = mcu % mx
      var s = 0
      while (s < nc) {
        val (ci, td, ta) = scan(s)
        val dct = dcT(td); val act = acT(ta)
        require(dct != null && act != null, "scan references missing DHT table")
        val (_, sh, sv, tq) = comps(ci)
        val q = qt(tq)
        require(q != null, "scan references missing DQT table")
        val pw = mx * 8 * sh // this component's plane width
        var blk = 0
        while (blk < sh * sv) {
          val byy = blk / sh; val bxx = blk % sh
          java.util.Arrays.fill(zz, 0)
          val sdc = br.huff(dct)
          require(sdc <= 11, s"invalid DC category $sdc")
          pred(ci) += extend(br.receive(sdc), sdc)
          zz(0) = pred(ci)
          var k = 1
          var open = true
          while (open && k < 64) {
            val rs = br.huff(act)
            val r = rs >> 4; val sz = rs & 0x0f
            if (sz == 0) {
              if (r == 15) {
                // ZRL: mirror the nonzero path's bound so a malformed
                // stream with ZRL near the block end fails loudly
                // instead of being silently accepted (ADVICE r9)
                k += 16
                require(k <= 64, "ZRL overflows block")
              }
              else open = false    // EOB
            } else {
              k += r
              require(k < 64, "AC run overflows block")
              zz(k) = extend(br.receive(sz), sz)
              k += 1
            }
          }
          // dequantize into natural order + IDCT
          val dq = new Array[Long](64)
          var t = 0
          while (t < 64) { val n0 = ZigZag(t); dq(n0) = zz(t).toLong * q(n0); t += 1 }
          val px = idct(dq)
          val plane = planes(ci)
          val rowBase = (my0 * sv + byy) * 8
          val colBase = (mx0 * sh + bxx) * 8
          var y0 = 0
          while (y0 < 8) {
            var x0 = 0
            while (x0 < 8) {
              plane((rowBase + y0) * pw + colBase + x0) = px(y0 * 8 + x0)
              x0 += 1
            }
            y0 += 1
          }
          blk += 1
        }
        s += 1
      }
      mcu += 1
    }
    // expect EOI (fill 0xFF bytes allowed before it, spec B.1.1.2)
    var p = br.pos
    while (p + 1 < b.length && (b(p) & 0xff) == 0xff && (b(p + 1) & 0xff) == 0xff)
      p += 1
    require(p + 2 <= b.length && (b(p) & 0xff) == 0xff &&
      (b(p + 1) & 0xff) == 0xD9, "missing EOI after entropy data")
    // component sample for output pixel (y, x): replicate upsampling
    // (the pinned choice — JFIF leaves the interpolation filter open;
    // sample index = (coord * factor) / maxFactor, integer division)
    @inline def sampleOf(c: Int, y: Int, x: Int): Int = {
      val (_, sh, sv, _) = comps(c)
      planes(c)((y * sv / vmax) * (mx * 8 * sh) + (x * sh / hmax))
    }
    if (nc == 1) {
      val out = new Array[Byte](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { out(y * w + x) = sampleOf(0, y, x).toByte; x += 1 }
        y += 1
      }
      Raster(w, h, 1, out)
    } else {
      val out = new Array[Byte](w * h * 3)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val yy = sampleOf(0, y, x).toLong
          val cb = sampleOf(1, y, x).toLong - 128
          val cr = sampleOf(2, y, x).toLong - 128
          out((y * w + x) * 3) = clamp8(yy + rdiv(CrR * cr, 1L << 16)).toByte
          out((y * w + x) * 3 + 1) =
            clamp8(yy - rdiv(CbG * cb + CrG * cr, 1L << 16)).toByte
          out((y * w + x) * 3 + 2) = clamp8(yy + rdiv(CbB * cb, 1L << 16)).toByte
          x += 1
        }
        y += 1
      }
      Raster(w, h, 3, out)
    }
  }

  // --------------------------------------------------- Spark operators

  /** Shared md5-byte -> zigzag-coefficient rule (replayed by the SQL
    * oracle): DC from byte 0 in [-32, 31]; AC nonzero only when the
    * byte is 0 mod 4, value in [-15, 15] — sparse enough to exercise
    * runs, EOB and (occasionally) ZRL. */
  def coefFromBytes(bytes: Array[Byte], off: Int): Array[Int] =
    Array.tabulate(64) { i =>
      val v = bytes(off + i) & 0xff
      if (i == 0) (v % 64) - 32
      else if (v % 4 == 0) ((v / 4) % 31) - 15
      else 0
    }

  /** Per-row JPEG encode of a coefficient-blob column: each blob holds
    * 64 md5-derived bytes per block ([[coefFromBytes]]) in [[encode]]'s
    * MCU-interleaved block order for the scan that `comps` and
    * `sampling` describe: gray `Seq((1, 0))`; 4:4:4 color
    * `Seq((1, 0), (2, 1), (3, 1))` (chroma on quant table 1); 4:2:0
    * color adds sampling `Seq((2, 2), (1, 1), (1, 1))`. */
  def encodeColumn(df: DataFrame, idCol: Column, blobCol: Column,
                   w: Int, h: Int, comps: Seq[(Int, Int)] = Seq((1, 0)),
                   sampling: Seq[(Int, Int)] = Nil,
                   restartInterval: Int = 0): DataFrame = {
    val (_, nMcu, blocksPerMcu) = scanShape(w, h, comps, sampling)
    val nBlocks = nMcu * blocksPerMcu
    Multimodal.payloads(df, idCol, blobCol) { (id, blob) =>
      require(blob.length == nBlocks * 64,
        s"blob ${blob.length} != $nBlocks x 64")
      val blocks = IndexedSeq.tabulate(nBlocks)(b => coefFromBytes(blob, b * 64))
      (id, encode(w, h, comps, blocks, sampling, restartInterval))
    }.toDF("media_id", "payload")
  }
}
