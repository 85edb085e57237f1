package graft.serialization

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, SpecializedGetters, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import ProtoWire.{fieldSize, lenDelimTag, putHeader, putVarint, varintSize, Cursor}

/** Row <-> `tf.train.Example` proto bytes, driven by a Spark schema — the
  * engine's boundary codec mirroring the reference's
  * `FeaturesDict.serialize_example` / `deserialize_example`
  * (dataset_grouper/serialization.py:23-48, data_loaders.py:110-113).
  *
  * Feature naming flattens nested structs with '/' (TFDS convention).
  * Type mapping (tensorflow/core/example/feature.proto):
  *  - string/binary        -> bytes_list
  *  - float/double         -> float_list  (float32 on the wire — the only
  *                            float type tf.train.Example has; doubles are
  *                            lossy across this boundary, same as TFDS)
  *  - byte/short/int/long/boolean/timestamp -> int64_list
  *  - arrays of the above  -> repeated values in the same list
  *
  * This codec is the ONLY row-shaped hot path in the engine, and it is
  * opt-in: the engine-native representation stays columnar Parquet
  * (SURVEY §1.3); protos exist for TFRecord wire compatibility.
  *
  * Null handling: tf.train.Example has no null — an absent value and an
  * empty list are the same wire state. A null scalar decodes back to
  * null (empty value list), but a null ARRAY coalesces to an empty
  * array across the round trip; callers needing the distinction must
  * encode presence explicitly (the reference has the same limitation).
  *
  * Dtype-fidelity note vs the reference: TF round-trips uint8/uint16
  * and float16 tensors (tf_utils_test.py:23-31) through the SAME wire
  * lists (int64_list / float_list) plus a dtype recorded in TFDS
  * feature metadata. Spark has no unsigned or half-precision types, so
  * this codec covers Spark's signed integrals + float/double: the wire
  * VALUES are identical (uint8 fits int64, float16 widens to float32
  * exactly), but a consumer restoring uint8/float16 TENSOR dtypes must
  * carry that dtype out-of-band, exactly as TFDS metadata does — a
  * representational gap of the engine's type system, not a data loss.
  *
  * The wire work is done by [[ExampleKernel]] over Catalyst's internal
  * rows; this class converts external Rows to and from them. Timestamps
  * travel as Spark's proleptic-Gregorian epoch micros, so a
  * `java.sql.Timestamp` before 1582-10-15 (whose external value uses the
  * hybrid Julian calendar) is written as the micros Spark stores for it.
  */
final class TFExampleCodec(schema: StructType) extends Serializable {

  private val kernel = new ExampleKernel(schema)
  @transient private lazy val toCatalyst =
    CatalystTypeConverters.createToCatalystConverter(schema)
  @transient private lazy val toScala =
    CatalystTypeConverters.createToScalaConverter(schema)
  @transient private lazy val scratch =
    ThreadLocal.withInitial[ExampleScratch](() => kernel.newScratch())

  /** Serialize one row to `tf.train.Example` bytes. */
  def encode(row: Row): Array[Byte] =
    kernel.encode(toCatalyst(row).asInstanceOf[InternalRow], scratch.get)

  /** Deserialize `tf.train.Example` bytes back to a Row of [[schema]].
    * Round-trip invariant: decode(encode(row)) == row for supported types
    * (pinned by SerializationSpec, mirroring integration_test.py:52-59).
    */
  def decode(bytes: Array[Byte]): Row =
    toScala(kernel.decode(bytes, scratch.get)).asInstanceOf[Row]
}

/** Per-thread working memory of an [[ExampleKernel]]: the struct rows of
  * the row being encoded, per-feature payload sizes, the wire cursor and
  * the per-feature spans of the example being decoded. One scratch
  * belongs to one task or thread. */
final class ExampleScratch(nLeaves: Int, nStructs: Int) {
  val rows = new Array[InternalRow](nStructs)
  val sizes = new Array[Long](nLeaves)
  var repairedStrings = false
  val cursor = new Cursor()
  // decode: the value list of the last entry seen per feature
  val kind = new Array[Int](nLeaves)
  val start = new Array[Int](nLeaves)
  val end = new Array[Int](nLeaves)
  val count = new Array[Int](nLeaves)
}

/** Schema-driven `tf.train.Example` kernel over Catalyst's internal rows.
  *
  * Encode sizes every nested message first (one pass over the values),
  * then writes each byte once into an exact-size array: no intermediate
  * buffers and no copies of nested messages into their parents. Decode
  * validates and counts each feature's values while scanning the wire,
  * remembers where the last entry of each feature lies, and builds the
  * row straight from those spans.
  *
  * Semantics (pinned against the earlier Row codec by WireGoldenSpec):
  *  - features are written in schema order, one map entry each; a null
  *    value, a null array and a null enclosing struct are an empty list;
  *  - a scalar with an empty list decodes to null, with several values
  *    to the first; a missing feature is a schema mismatch;
  *  - packed and unpacked lists are both read; when a key repeats, the
  *    last entry wins; keys the schema does not name are ignored;
  *  - strings are written and read as well-formed UTF-8: malformed bytes
  *    become U+FFFD exactly as `new String(bytes, UTF_8)` decodes them.
  *
  * The kernel is immutable; all per-row state lives in an
  * [[ExampleScratch]].
  */
final class ExampleKernel(schema: StructType) extends Serializable {
  import ExampleKernel._

  // struct nodes in pre-order; node 0 is the row itself
  private val (structParent, structOrdinal, structWidth) = {
    val parent, ordinal, width = Array.newBuilder[Int]
    var n = 0
    def walk(st: StructType, p: Int, o: Int): Unit = {
      val me = n
      n += 1
      parent += p; ordinal += o; width += st.length
      st.fields.zipWithIndex.foreach {
        case (StructField(_, s: StructType, _, _), i) => walk(s, me, i)
        case _ => ()
      }
    }
    walk(schema, -1, -1)
    (parent.result(), ordinal.result(), width.result())
  }

  private case class Leaf(node: Int, ordinal: Int, path: String,
                          elem: DataType, isArray: Boolean)

  // feature leaves in schema order (the order features are written)
  private val leaves: Array[Leaf] = {
    val out = Array.newBuilder[Leaf]
    var node = 0
    def walk(st: StructType, prefix: String): Unit = {
      val me = node
      st.fields.zipWithIndex.foreach { case (f, i) =>
        val path = prefix + f.name
        f.dataType match {
          case s: StructType => node += 1; walk(s, path + "/")
          case ArrayType(et, _) => out += Leaf(me, i, path, et, isArray = true)
          case dt => out += Leaf(me, i, path, dt, isArray = false)
        }
      }
    }
    walk(schema, "")
    out.result()
  }

  private val nLeaves = leaves.length
  private val leafNode = leaves.map(_.node)
  private val leafOrdinal = leaves.map(_.ordinal)
  private val leafArray = leaves.map(_.isArray)
  private val leafKind = leaves.map(l => kindOf(l.elem))
  private val keyBytes = leaves.map(_.path.getBytes("UTF-8"))
  // map entry key field, written verbatim: tag, length, UTF-8 key
  private val keyField = keyBytes.map { k =>
    val out = new Array[Byte](fieldSize(k.length).toInt)
    System.arraycopy(k, 0, out, putHeader(out, 0, T1, k.length), k.length)
    out
  }
  // leaves sharing a path share one feature (the first leaf's slot)
  private val slotOf = keyBytes.map(k => keyBytes.indexWhere(java.util.Arrays.equals(_, k)))
  private val firstUnsupported = leafKind.indexOf(Unsupported)

  def newScratch(): ExampleScratch = new ExampleScratch(nLeaves, structWidth.length)

  // ---------------------------------------------------------------- encode

  /** Serialize one internal row of [[schema]] to `tf.train.Example` bytes. */
  def encode(row: InternalRow, sc: ExampleScratch): Array[Byte] = {
    if (firstUnsupported >= 0) {
      val l = leaves(firstUnsupported)
      throw new UnsupportedOperationException(
        s"TFExampleCodec: unsupported leaf type ${l.elem} at ${l.path}")
    }
    val rows = sc.rows
    rows(0) = row
    var s = 1
    while (s < rows.length) {
      val p = rows(structParent(s))
      val o = structOrdinal(s)
      rows(s) = if (p == null || p.isNullAt(o)) null else p.getStruct(o, structWidth(s))
      s += 1
    }
    sc.repairedStrings = false
    var features = 0L
    var l = 0
    while (l < nLeaves) {
      val r = rows(leafNode(l))
      val o = leafOrdinal(l)
      val size = if (r == null || r.isNullAt(o)) 0L else payloadSize(l, r, o, sc)
      sc.sizes(l) = size
      features += fieldSize(keyField(l).length + fieldSize(fieldSize(listSize(l, size))))
      l += 1
    }
    val out = ProtoWire.allocate(fieldSize(features))
    var p = putHeader(out, 0, T1, features) // Example.features = 1
    l = 0
    while (l < nLeaves) {
      val size = sc.sizes(l)
      val list = listSize(l, size)
      val feature = fieldSize(list)
      val key = keyField(l)
      p = putHeader(out, p, T1, key.length + fieldSize(feature)) // map entry
      System.arraycopy(key, 0, out, p, key.length)
      p = putHeader(out, p + key.length, T2, feature) // entry value
      p = putHeader(out, p, ListTag(leafKind(l)), list) // Feature.*_list
      if (!isBytes(leafKind(l))) p = putHeader(out, p, T1, size) // packed
      val r = rows(leafNode(l))
      val o = leafOrdinal(l)
      if (r != null && !r.isNullAt(o)) p = writePayload(l, r, o, out, p, sc)
      l += 1
    }
    out
  }

  /** Bytes of a leaf's value list given its payload size: the values
    * themselves for bytes_list, one packed field for the numeric lists. */
  private def listSize(l: Int, size: Long): Long =
    if (isBytes(leafKind(l))) size else fieldSize(size)

  /** Payload bytes of a non-null leaf: its value, or every element. */
  private def payloadSize(l: Int, r: InternalRow, o: Int, sc: ExampleScratch): Long = {
    val kind = leafKind(l)
    if (!leafArray(l)) return valueSize(kind, r, o, sc)
    val a = r.getArray(o)
    val n = a.numElements()
    // float lists read a null element as 0, as the Row codec always did
    if (isFloat(kind)) return 4L * n
    var size = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i))
        throw new IllegalArgumentException(
          s"TFExampleCodec: null element in array feature '${leaves(l).path}'")
      size += valueSize(kind, a, i, sc)
      i += 1
    }
    size
  }

  private def valueSize(kind: Int, g: SpecializedGetters, i: Int, sc: ExampleScratch): Long =
    (kind: @annotation.switch) match {
      case Str => fieldSize(utf8Size(g.getUTF8String(i), sc))
      case Bin => fieldSize(g.getBinary(i).length)
      case F32 | F64 => 4L
      case I8  => varintSize(g.getByte(i).toLong)
      case I16 => varintSize(g.getShort(i).toLong)
      case I32 => varintSize(g.getInt(i).toLong)
      case I64 => varintSize(g.getLong(i))
      case _   => 1L
    }

  private def writePayload(l: Int, r: InternalRow, o: Int, out: Array[Byte],
                           pos: Int, sc: ExampleScratch): Int = {
    val kind = leafKind(l)
    if (!leafArray(l)) return writeValue(kind, r, o, out, pos, sc)
    val a = r.getArray(o)
    var p = pos
    var i = 0
    while (i < a.numElements()) {
      p = writeValue(kind, a, i, out, p, sc)
      i += 1
    }
    p
  }

  private def writeValue(kind: Int, g: SpecializedGetters, i: Int, out: Array[Byte],
                         pos: Int, sc: ExampleScratch): Int =
    (kind: @annotation.switch) match {
      case Str =>
        val s = g.getUTF8String(i)
        val t = if (sc.repairedStrings) repaired(s) else s
        val p = putHeader(out, pos, T1, t.numBytes)
        t.writeToMemory(out, Platform.BYTE_ARRAY_OFFSET + p)
        p + t.numBytes
      case Bin =>
        val b = g.getBinary(i)
        val p = putHeader(out, pos, T1, b.length)
        System.arraycopy(b, 0, out, p, b.length)
        p + b.length
      case F32 => putFloat(out, pos, g.getFloat(i))
      case F64 => putFloat(out, pos, g.getDouble(i).toFloat)
      case I8  => putVarint(out, pos, g.getByte(i).toLong)
      case I16 => putVarint(out, pos, g.getShort(i).toLong)
      case I32 => putVarint(out, pos, g.getInt(i).toLong)
      case I64 => putVarint(out, pos, g.getLong(i))
      case _   => putVarint(out, pos, if (g.getBoolean(i)) 1L else 0L)
    }

  private def utf8Size(s: UTF8String, sc: ExampleScratch): Int =
    if (s.isValid) s.numBytes
    else { sc.repairedStrings = true; repaired(s).numBytes }

  // ---------------------------------------------------------------- decode

  /** Deserialize `tf.train.Example` bytes to an internal row of [[schema]]. */
  def decode(bytes: Array[Byte], sc: ExampleScratch): InternalRow = {
    java.util.Arrays.fill(sc.kind, Absent)
    val c = sc.cursor
    c.reset(bytes)
    var hint = 0
    while (c.hasNext) {
      val t = c.readTag()
      if (isField(t, 1, ProtoWire.WtLenDelim)) { // Example.features
        val outer = c.enter()
        while (c.hasNext) {
          val ft = c.readTag()
          if (isField(ft, 1, ProtoWire.WtLenDelim)) { // map entry
            val outer = c.enter()
            var keyStart, keyLen = -1
            var kind = Absent
            var start, end, count = 0
            while (c.hasNext) {
              val et = c.readTag()
              (et >>> 3).toInt match {
                case 1 =>
                  keyLen = c.readLength()
                  keyStart = c.pos
                  c.pos += keyLen
                case 2 => // Feature: the last list of any kind wins
                  val outer = c.enter()
                  kind = NoList
                  start = 0; end = 0; count = 0
                  while (c.hasNext) {
                    val lt = c.readTag()
                    val field = (lt >>> 3).toInt
                    if (field >= BytesList && field <= Int64List) {
                      val outer = c.enter()
                      kind = field
                      start = c.pos
                      end = c.limit
                      count = countValues(c, field)
                      c.exit(outer)
                    } else c.skip((lt & 7).toInt)
                  }
                  c.exit(outer)
                case _ => c.skip((et & 7).toInt)
              }
            }
            if (keyStart >= 0 && kind != Absent) {
              val l = findLeaf(bytes, keyStart, keyLen, hint)
              if (l >= 0) {
                val slot = slotOf(l)
                sc.kind(slot) = kind
                sc.start(slot) = start
                sc.end(slot) = end
                sc.count(slot) = count
                hint = l + 1
              }
            }
            c.exit(outer)
          } else c.skip((ft & 7).toInt)
        }
        c.exit(outer)
      } else c.skip((t & 7).toInt)
    }
    build(sc)
  }

  /** Validate one value list and count its values. */
  private def countValues(c: Cursor, list: Int): Int = {
    var n = 0
    while (c.hasNext) {
      val t = c.readTag()
      if ((t >>> 3).toInt != 1) c.skip((t & 7).toInt)
      else ((t & 7).toInt, list) match {
        case (ProtoWire.WtLenDelim, BytesList) => c.skip(ProtoWire.WtLenDelim); n += 1
        case (ProtoWire.WtLenDelim, FloatList) =>
          val outer = c.enter()
          val len = c.limit - c.pos
          n += len / 4
          c.pos += len - len % 4
          if (c.hasNext) c.readFixed32() // fails: truncated fixed32
          c.exit(outer)
        case (ProtoWire.WtFixed32, FloatList) => c.readFixed32(); n += 1
        case (ProtoWire.WtLenDelim, Int64List) =>
          val outer = c.enter()
          while (c.hasNext) { c.readVarint(); n += 1 }
          c.exit(outer)
        case (ProtoWire.WtVarint, Int64List) => c.readVarint(); n += 1
        case (wt, _) => c.skip(wt)
      }
    }
    n
  }

  private def findLeaf(buf: Array[Byte], off: Int, len: Int, hint: Int): Int = {
    var l = if (hint < nLeaves) hint else 0
    var tried = 0
    while (tried < nLeaves) {
      val k = keyBytes(l)
      if (k.length == len && java.util.Arrays.equals(k, 0, len, buf, off, off + len))
        return l
      l = if (l + 1 == nLeaves) 0 else l + 1
      tried += 1
    }
    -1
  }

  private def mismatch(msg: String): Nothing =
    throw new IllegalArgumentException(
      s"Found a mismatch between the provided schema and an example: $msg")

  private def build(sc: ExampleScratch): InternalRow = {
    val values = structWidth.map(w => new Array[Any](w))
    var s = structWidth.length - 1
    while (s > 0) {
      values(structParent(s))(structOrdinal(s)) = new GenericInternalRow(values(s))
      s -= 1
    }
    var l = 0
    while (l < nLeaves) {
      val slot = slotOf(l)
      val found = sc.kind(slot)
      if (found == Absent) mismatch(s"missing feature '${leaves(l).path}'")
      val list = if (found == NoList) BytesList else found
      val n = sc.count(slot)
      val want = ListOf(leafKind(l))
      values(leafNode(l))(leafOrdinal(l)) =
        if (list == want || n == 0 && list == Int64List) {
          if (n == 0) { if (leafArray(l)) new GenericArrayData(Array.empty[Any]) else null }
          else {
            val c = sc.cursor
            c.within(sc.start(slot), sc.end(slot))
            if (leafArray(l)) readArray(l, c, n) else readFirst(l, c)
          }
        } else if (list == Int64List) {
          mismatch(s"int64 feature cannot decode to ${leaves(l).elem}")
        } else {
          mismatch(s"${ListName(list)} feature cannot decode to ${leaves(l).elem}")
        }
      l += 1
    }
    new GenericInternalRow(values(0))
  }

  private def string(buf: Array[Byte], off: Int, len: Int): UTF8String =
    repaired(UTF8String.fromBytes(buf, off, len))

  /** The first value of a (validated, non-empty) list. */
  private def readFirst(l: Int, c: Cursor): Any = {
    val kind = leafKind(l)
    while (true) {
      val t = c.readTag()
      if ((t >>> 3).toInt != 1) c.skip((t & 7).toInt)
      else ((t & 7).toInt, ListOf(kind)) match {
        case (ProtoWire.WtLenDelim, BytesList) =>
          val len = c.readLength()
          return if (kind == Str) string(c.buf, c.pos, len)
                 else java.util.Arrays.copyOfRange(c.buf, c.pos, c.pos + len)
        case (ProtoWire.WtLenDelim, FloatList) =>
          if (c.readLength() > 0) return fromFloat(kind, c.readFixed32())
        case (ProtoWire.WtFixed32, FloatList) => return fromFloat(kind, c.readFixed32())
        case (ProtoWire.WtLenDelim, Int64List) =>
          if (c.readLength() > 0) return fromInt64(kind, c.readVarint())
        case (ProtoWire.WtVarint, Int64List) => return fromInt64(kind, c.readVarint())
        case (wt, _) => c.skip(wt)
      }
    }
    null
  }

  /** All `n` values of a (validated) list. */
  private def readArray(l: Int, c: Cursor, n: Int): ArrayData = {
    val kind = leafKind(l)
    if (isBytes(kind)) {
      val out = new Array[Any](n)
      var i = 0
      while (c.hasNext) {
        val t = c.readTag()
        if (isField(t, 1, ProtoWire.WtLenDelim)) {
          val len = c.readLength()
          out(i) = if (kind == Str) string(c.buf, c.pos, len)
                   else java.util.Arrays.copyOfRange(c.buf, c.pos, c.pos + len)
          c.pos += len
          i += 1
        } else c.skip((t & 7).toInt)
      }
      new GenericArrayData(out)
    } else {
      val out = UnsafeArrayData.createFreshArray(n, ElemSize(kind))
      var i = 0
      def put(v: Long): Unit = {
        (kind: @annotation.switch) match {
          case F32  => out.setFloat(i, java.lang.Float.intBitsToFloat(v.toInt))
          case F64  => out.setDouble(i, java.lang.Float.intBitsToFloat(v.toInt).toDouble)
          case I8   => out.setByte(i, v.toByte)
          case I16  => out.setShort(i, v.toShort)
          case I32  => out.setInt(i, v.toInt)
          case I64  => out.setLong(i, v)
          case _    => out.setBoolean(i, v != 0L)
        }
        i += 1
      }
      val float = isFloat(kind)
      while (c.hasNext) {
        val t = c.readTag()
        if ((t >>> 3).toInt != 1) c.skip((t & 7).toInt)
        else (t & 7).toInt match {
          case ProtoWire.WtLenDelim =>
            val outer = c.enter()
            if (float) while (c.hasNext) put(c.readFixed32().toLong)
            else while (c.hasNext) put(c.readVarint())
            c.exit(outer)
          case ProtoWire.WtFixed32 if float => put(c.readFixed32().toLong)
          case ProtoWire.WtVarint if !float => put(c.readVarint())
          case wt => c.skip(wt)
        }
      }
      out
    }
  }
}

object ExampleKernel {
  // leaf kinds
  private final val Str = 0
  private final val Bin = 1
  private final val F32 = 2
  private final val F64 = 3
  private final val I8 = 4
  private final val I16 = 5
  private final val I32 = 6
  private final val I64 = 7
  private final val Bool = 8
  private final val Unsupported = 9

  // Feature value lists (their field numbers in tf.train.Feature)
  private final val BytesList = 1
  private final val FloatList = 2
  private final val Int64List = 3
  private final val NoList = 0 // a Feature with no list reads as empty bytes
  private final val Absent = -1

  private val ListOf = Array(BytesList, BytesList, FloatList, FloatList,
    Int64List, Int64List, Int64List, Int64List, Int64List, -2)
  private val ListName = Array("", "bytes_list", "float_list", "int64_list")
  private val ListTag = ListOf.map(f => if (f > 0) lenDelimTag(f) else 0.toByte)
  private val ElemSize = Array(0, 0, 4, 8, 1, 2, 4, 8, 1, 0)

  private val T1 = lenDelimTag(1)
  private val T2 = lenDelimTag(2)

  private def kindOf(dt: DataType): Int = dt match {
    case StringType => Str
    case BinaryType => Bin
    case FloatType => F32
    case DoubleType => F64
    case ByteType => I8
    case ShortType => I16
    case IntegerType => I32
    case LongType | TimestampType | TimestampNTZType => I64
    case BooleanType => Bool
    case _ => Unsupported
  }

  @inline private def isBytes(kind: Int) = kind == Str || kind == Bin
  @inline private def isFloat(kind: Int) = kind == F32 || kind == F64

  @inline private def isField(tag: Long, field: Int, wireType: Int) =
    (tag >>> 3).toInt == field && (tag & 7).toInt == wireType

  private def fromFloat(kind: Int, bits: Int): Any = {
    val f = java.lang.Float.intBitsToFloat(bits)
    if (kind == F32) f else f.toDouble
  }

  private def fromInt64(kind: Int, v: Long): Any = (kind: @annotation.switch) match {
    case I8 => v.toByte
    case I16 => v.toShort
    case I32 => v.toInt
    case I64 => v
    case _ => v != 0L
  }

  private def putFloat(out: Array[Byte], pos: Int, f: Float): Int = {
    val bits = java.lang.Float.floatToRawIntBits(f)
    out(pos) = bits.toByte
    out(pos + 1) = (bits >>> 8).toByte
    out(pos + 2) = (bits >>> 16).toByte
    out(pos + 3) = (bits >>> 24).toByte
    pos + 4
  }

  /** `s` as a JDK decode and re-encode leaves it: malformed sequences
    * become U+FFFD. Strings that are not well-formed UTF-8 (`isValid`
    * is false exactly when the JDK decoder would replace something) are
    * the only ones it changes. */
  private def repaired(s: UTF8String): UTF8String =
    if (s.isValid) s else UTF8String.fromString(s.toString)
}
