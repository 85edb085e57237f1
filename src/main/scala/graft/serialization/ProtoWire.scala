package graft.serialization

/** Minimal protobuf wire-format primitives — just enough to read/write
  * `tf.train.Example` / `tf.train.SequenceExample` (whose schemas are
  * public: tensorflow/core/example/{example,feature}.proto). Hand-rolled
  * so the engine has zero TensorFlow/protobuf dependencies; the wire
  * format (varint + length-delimited + fixed32) is stable and simple.
  *
  * Writers size every nested message first and then write each byte
  * once into an exact-size array ([[varintSize]], [[putVarint]]); the
  * reader is one allocation-free [[Cursor]] that descends into nested
  * messages by narrowing its limit.
  */
object ProtoWire {

  // wire types
  val WtVarint = 0
  val WtFixed64 = 1
  val WtLenDelim = 2
  val WtFixed32 = 5

  /** Tag byte of a length-delimited field numbered 1..15. */
  def lenDelimTag(fieldNumber: Int): Byte = ((fieldNumber << 3) | WtLenDelim).toByte

  /** Bytes `v` takes as a varint (a negative value takes 10). */
  def varintSize(v: Long): Int =
    if (v < 0) 10 else (63 - java.lang.Long.numberOfLeadingZeros(v | 1)) / 7 + 1

  /** Write `v` as a varint at `pos`; returns the position after it. */
  def putVarint(out: Array[Byte], pos: Int, v: Long): Int = {
    var p = pos
    var x = v
    while ((x & ~0x7fL) != 0) {
      out(p) = ((x & 0x7f) | 0x80).toByte
      p += 1
      x >>>= 7
    }
    out(p) = x.toByte
    p + 1
  }

  /** Write a length-delimited field header (tag byte, then `len`). */
  def putHeader(out: Array[Byte], pos: Int, tag: Byte, len: Long): Int = {
    out(pos) = tag
    putVarint(out, pos + 1, len)
  }

  /** Bytes of a length-delimited field (tag, length, payload) around a
    * payload of `len` bytes. */
  def fieldSize(len: Long): Long = 1 + varintSize(len) + len

  /** Exact-size output array, failing cleanly above the JVM array cap. */
  def allocate(len: Long): Array[Byte] = {
    require(len <= Int.MaxValue - 8,
      s"serialized message of $len bytes exceeds the 2 GB array limit")
    new Array[Byte](len.toInt)
  }

  /** Cursor over one buffer. `limit` is the end of the message being
    * read; [[enter]] narrows it to the next length-delimited payload and
    * [[exit]] restores the parent's. Every read is bounds-checked against
    * `limit`, so a corrupt length or a truncated value is a clean
    * IllegalArgumentException, never a read into sibling data. */
  final class Cursor(private var bytes: Array[Byte]) {
    var pos = 0
    var limit: Int = bytes.length

    def this() = this(Array.emptyByteArray)

    def buf: Array[Byte] = bytes

    /** Start over at the beginning of `b`. */
    def reset(b: Array[Byte]): Unit = {
      bytes = b
      pos = 0
      limit = b.length
    }

    def hasNext: Boolean = pos < limit

    private def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"malformed proto at $pos: $msg")

    def readVarint(): Long = {
      var shift = 0
      var result = 0L
      var b = 0
      do {
        if (pos >= limit) fail("truncated varint")
        // canonical varints are <= 10 bytes (64 bits / 7); a longer run
        // would shift past 63 and silently wrap
        if (shift > 63) fail("varint exceeds 10 bytes")
        b = bytes(pos) & 0xff
        pos += 1
        result |= (b & 0x7fL) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      result
    }

    /** The next tag; its field number is `(tag >>> 3).toInt` and its wire
      * type `(tag & 7).toInt`. */
    def readTag(): Long = readVarint()

    /** Read a length prefix; `pos` is then at the payload start. */
    def readLength(): Int = {
      val len64 = readVarint()
      if (len64 < 0 || len64 > (limit - pos).toLong)
        fail(s"length $len64 exceeds remaining ${limit - pos} bytes")
      len64.toInt
    }

    /** Copy of the next length-delimited payload. */
    def readBytes(): Array[Byte] = {
      val len = readLength()
      val off = pos
      pos += len
      java.util.Arrays.copyOfRange(bytes, off, off + len)
    }

    /** Narrow to the next length-delimited payload; returns the limit to
      * hand back to [[exit]]. */
    def enter(): Int = {
      val len = readLength()
      val parent = limit
      limit = pos + len
      parent
    }

    /** Read `[start, end)` of the buffer as the current message; returns
      * the limit to hand back to [[exit]]. */
    def within(start: Int, end: Int): Int = {
      val parent = limit
      pos = start
      limit = end
      parent
    }

    /** Leave the current payload (skipping what was not read). */
    def exit(parent: Int): Unit = {
      pos = limit
      limit = parent
    }

    def readFixed32(): Int = {
      if (limit - pos < 4) fail("truncated fixed32")
      val v = (bytes(pos) & 0xff) | (bytes(pos + 1) & 0xff) << 8 |
        (bytes(pos + 2) & 0xff) << 16 | (bytes(pos + 3) & 0xff) << 24
      pos += 4
      v
    }

    def skip(wireType: Int): Unit = wireType match {
      case WtVarint   => readVarint(); ()
      case WtFixed64  => if (limit - pos < 8) fail("truncated fixed64"); pos += 8
      case WtLenDelim => val len = readLength(); pos += len
      case WtFixed32  => if (limit - pos < 4) fail("truncated fixed32"); pos += 4
      case other => throw new IllegalArgumentException(s"wire type $other")
    }
  }
}
