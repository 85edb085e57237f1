package perfbench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, OutputStream}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.serialization.{SequenceExampleCodec, TFExampleCodec, TFRecordCodec}

/** Single-thread throughput of the codecs on a fixed sample of the input:
  * rows are proto-encoded, grouped into SequenceExamples by key, framed as
  * TFRecords, and each step is decoded back. MB/s counts the encoded side. */
object Codecs {

  /** Discards bytes but counts them, so the writes cannot be elided. */
  private object NullOut extends OutputStream {
    var written = 0L
    override def write(b: Int): Unit = written += 1
    override def write(b: Array[Byte], off: Int, len: Int): Unit = written += len
  }

  /** Best-of-3 throughput of `f` run `passes` times over `bytes` bytes. */
  private def mbPerS(bytes: Long, passes: Int)(f: => Unit): Double = {
    val best = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < passes) { f; i += 1 }
      (System.nanoTime() - t0) / 1e9
    }.min
    bytes.toDouble * passes / (1024.0 * 1024.0) / best
  }

  def measure(input: DataFrame, key: String, sampleRows: Int): Map[String, Double] = {
    val rows: Array[Row] = input.orderBy(col(key), col(input.columns.head))
      .limit(sampleRows).collect()
    val codec = new TFExampleCodec(input.schema)
    val keyIdx = input.schema.fieldIndex(key)
    val examples = rows.map(codec.encode)
    val groups: Array[Seq[Array[Byte]]] = rows.indices
      .groupBy(i => rows(i).getString(keyIdx)).toArray.sortBy(_._1)
      .map(_._2.map(examples(_)).toSeq)
    val records = groups.map(SequenceExampleCodec.encode)
    val framed = {
      val bo = new ByteArrayOutputStream()
      records.foreach(TFRecordCodec.writeRecord(bo, _))
      bo.toByteArray
    }
    val exBytes = examples.map(_.length.toLong).sum
    val recBytes = records.map(_.length.toLong).sum
    // enough passes that each timing covers roughly 16 MB
    def passes(bytes: Long): Int = (16L * 1024 * 1024 / (bytes max 1L)).toInt max 1
    Map(
      "example_encode_mb_s" -> mbPerS(exBytes, passes(exBytes)) {
        rows.foreach(codec.encode)
      },
      "seqex_encode_mb_s" -> mbPerS(recBytes, passes(recBytes)) {
        groups.foreach(SequenceExampleCodec.encode)
      },
      "tfrecord_write_mb_s" -> mbPerS(framed.length.toLong, passes(framed.length.toLong)) {
        records.foreach(TFRecordCodec.writeRecord(NullOut, _))
      },
      "example_decode_mb_s" -> mbPerS(exBytes, passes(exBytes)) {
        examples.foreach(codec.decode)
      },
      "seqex_decode_mb_s" -> mbPerS(recBytes, passes(recBytes)) {
        records.foreach(SequenceExampleCodec.decode)
      },
      "tfrecord_read_mb_s" -> mbPerS(framed.length.toLong, passes(framed.length.toLong)) {
        val in = new DataInputStream(new ByteArrayInputStream(framed))
        while (TFRecordCodec.readRecord(in).isDefined) ()
      })
  }
}
