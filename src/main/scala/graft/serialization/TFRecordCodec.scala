package graft.serialization

import java.io.{DataInputStream, EOFException, OutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.CRC32C

/** TFRecord file framing (public format, tensorflow/core/lib/io/
  * record_writer.h): per record
  *   uint64 length (LE) | uint32 masked_crc32c(length bytes) (LE) |
  *   payload | uint32 masked_crc32c(payload) (LE)
  * with mask(crc) = ((crc >> 15) | (crc << 17)) + 0xa282ead8.
  */
object TFRecordCodec {

  private val MaskDelta = 0xa282ead8

  def maskedCrc(data: Array[Byte]): Int = {
    val crc = new CRC32C
    crc.update(data)
    val c = crc.getValue.toInt
    ((c >>> 15) | (c << 17)) + MaskDelta
  }

  def writeRecord(out: OutputStream, payload: Array[Byte]): Unit = {
    val lenBytes = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      .putLong(payload.length.toLong).array()
    out.write(lenBytes)
    out.write(le32(maskedCrc(lenBytes)))
    out.write(payload)
    out.write(le32(maskedCrc(payload)))
  }

  private def le32(v: Int): Array[Byte] =
    ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(v).array()

  /** Read one record, or None at clean EOF. Verifies both CRCs. */
  def readRecord(in: DataInputStream): Option[Array[Byte]] = {
    val lenBytes = new Array[Byte](8)
    val first = try { in.readFully(lenBytes); true }
    catch { case _: EOFException => false }
    if (!first) return None
    val lenCrc = readLe32(in)
    require(lenCrc == maskedCrc(lenBytes), "TFRecord: corrupt length crc")
    val len = ByteBuffer.wrap(lenBytes).order(ByteOrder.LITTLE_ENDIAN).getLong
    require(len >= 0 && len <= Int.MaxValue, s"TFRecord: bad length $len")
    val payload = new Array[Byte](len.toInt)
    in.readFully(payload)
    val dataCrc = readLe32(in)
    require(dataCrc == maskedCrc(payload), "TFRecord: corrupt data crc")
    Some(payload)
  }

  private def readLe32(in: DataInputStream): Int = {
    val b = new Array[Byte](4)
    in.readFully(b)
    ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).getInt
  }
}
