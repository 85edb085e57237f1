package graft.serialization

import scala.collection.mutable

import ProtoWire.{fieldSize, lenDelimTag, putHeader, Cursor}

/** `tf.train.SequenceExample` packing of a group's serialized examples —
  * the reference's `create_sequence_example`
  * (dataset_grouper/serialization.py:51-62): each group becomes ONE
  * SequenceExample whose feature list `'serialized_bytes'` holds one
  * bytes Feature per example. An empty group yields an empty-but-present
  * feature list (serialization_test.py:45-58).
  */
object SequenceExampleCodec {

  val BytesFeatureName = "serialized_bytes"
  private val NameBytes = BytesFeatureName.getBytes("UTF-8")

  private val T1 = lenDelimTag(1)
  private val T2 = lenDelimTag(2)

  /** Wrap a group's example bytes into SequenceExample proto bytes. */
  def encode(examples: Seq[Array[Byte]]): Array[Byte] = {
    // FeatureList: per example, Feature{bytes_list{value}}
    var listLen = 0L
    examples.foreach { ex => listLen += fieldSize(fieldSize(fieldSize(ex.length))) }
    val entryLen = fieldSize(NameBytes.length) + fieldSize(listLen) // map entry
    val featureListsLen = fieldSize(entryLen) // FeatureLists.feature_list = 1
    val out = ProtoWire.allocate(fieldSize(featureListsLen))
    var p = putHeader(out, 0, T2, featureListsLen) // SequenceExample.feature_lists = 2
    p = putHeader(out, p, T1, entryLen)
    p = putHeader(out, p, T1, NameBytes.length)
    System.arraycopy(NameBytes, 0, out, p, NameBytes.length)
    p = putHeader(out, p + NameBytes.length, T2, listLen)
    examples.foreach { ex =>
      val bytesList = fieldSize(ex.length)
      p = putHeader(out, p, T1, fieldSize(bytesList)) // FeatureList.feature = 1
      p = putHeader(out, p, T1, bytesList) // Feature.bytes_list = 1
      p = putHeader(out, p, T1, ex.length) // BytesList.value = 1
      System.arraycopy(ex, 0, out, p, ex.length)
      p += ex.length
    }
    out
  }

  /** Extract the per-example bytes back out (the loader's
    * `parse_sequence_example` path, data_loaders.py:62-68). */
  def decode(bytes: Array[Byte]): Seq[Array[Byte]] = {
    val out = mutable.ArrayBuffer.empty[Array[Byte]]
    val c = new Cursor(bytes)
    def lenDelim(tag: Long, field: Int) =
      (tag >>> 3).toInt == field && (tag & 7).toInt == ProtoWire.WtLenDelim
    while (c.hasNext) {
      val t = c.readTag()
      if (lenDelim(t, 2)) { // feature_lists
        val outer = c.enter()
        while (c.hasNext) {
          val mt = c.readTag()
          if (lenDelim(mt, 1)) { // map entry
            val outer = c.enter()
            var named = false
            var listStart, listEnd = -1
            while (c.hasNext) {
              val et = c.readTag()
              (et >>> 3).toInt match {
                case 1 =>
                  val len = c.readLength()
                  named = java.util.Arrays.equals(c.buf, c.pos, c.pos + len,
                    NameBytes, 0, NameBytes.length)
                  c.pos += len
                case 2 =>
                  val len = c.readLength()
                  listStart = c.pos
                  listEnd = c.pos + len
                  c.pos = listEnd
                case _ => c.skip((et & 7).toInt)
              }
            }
            if (named && listStart >= 0) {
              val outer = c.within(listStart, listEnd)
              while (c.hasNext) {
                val lt = c.readTag()
                if (lenDelim(lt, 1)) { // FeatureList.feature
                  val outer = c.enter()
                  while (c.hasNext) {
                    val ft = c.readTag()
                    if (lenDelim(ft, 1)) { // Feature.bytes_list
                      val outer = c.enter()
                      while (c.hasNext) {
                        val bt = c.readTag()
                        if (lenDelim(bt, 1)) out += c.readBytes()
                        else c.skip((bt & 7).toInt)
                      }
                      c.exit(outer)
                    } else c.skip((ft & 7).toInt)
                  }
                  c.exit(outer)
                } else c.skip((lt & 7).toInt)
              }
              c.exit(outer)
            }
            c.exit(outer)
          } else c.skip((mt & 7).toInt)
        }
        c.exit(outer)
      } else c.skip((t & 7).toInt)
    }
    out.toSeq
  }
}
