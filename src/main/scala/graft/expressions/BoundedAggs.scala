package graft.expressions

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, GraftSql}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst twins of the repo's bounded-state `Aggregator`s:
  * the KMV distinct sketch, the one bounded top-k aggregate behind
  * every ranking step and the byte-capped group packer.
  *
  * `udaf(Aggregator)` plans as a ScalaAggregator whose UPDATE path runs
  * the input through an ExpressionEncoder deserializer per row (row ->
  * boxed case-class object, reflective field assembly) before the
  * Scala `reduce` sees it — measured ~2.7s single-core overhead across
  * a 7-column KMV profile pre-floor, and the same boxing sat on every
  * similarity/search ranking path through TopK. These
  * TypedImperativeAggregates read the child expressions' primitive
  * values straight off the input row into growable primitive buffers —
  * no encoder, no per-row allocation — with the compaction discipline
  * of the Aggregators they replace (sort and cut to k once the buffer
  * holds 4k entries). KMV keeps their integer estimate arithmetic, so
  * its estimates and sketches are bit-identical. The top-k aggregate
  * ranks in Spark's SQL order, as `row_number() OVER (ORDER BY ...)`
  * does: NaN sorts largest, -0.0 and 0.0 are equal, and strings compare
  * by UTF-8 bytes. The packer keeps the reference's reduce and merge
  * rules over a growable array of payloads. The legacy Aggregators live
  * in test scope as the differential specs' reference.
  */
private[graft] object BoundedAggs {
  /** Growable primitive long buffer. */
  final class LongBuf(initial: Int) {
    var arr = new Array[Long](initial)
    var len = 0
    def add(v: Long): Unit = {
      if (len == arr.length) arr = java.util.Arrays.copyOf(arr, arr.length * 2)
      arr(len) = v
      len += 1
    }
  }
}

// ---------------------------------------------------------------- KMV

/** K-minimum-values sketch as a native typed-imperative aggregate.
  * Input: u32 hash as LONG, negative = the callers' null sentinel
  * (skipped — `count(DISTINCT)` null semantics); null input skipped
  * the same way. `emitSketch = false` finishes to the integer
  * estimate (n below k, else (k-1)*2^32 DIV h_k — the arithmetic of
  * [[graft.functions.Kmv.estFromSketch]]); `true` finishes to the
  * sorted k-smallest-distinct sketch. Compaction:
  * dedupe+sort+truncate to k when the buffer passes 4k — identical
  * lossless semilattice discipline, so estimates and sketches equal
  * the Aggregator's bit-for-bit. */
case class KmvAgg(child: Expression, k: Int, emitSketch: Boolean,
                  mutableAggBufferOffset: Int = 0,
                  inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[BoundedAggs.LongBuf] {
  require(k > 1, "k must be > 1")
  private val cap = 4 * k

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType =
    if (emitSketch) ArrayType(LongType, containsNull = false) else LongType

  override def createAggregationBuffer(): BoundedAggs.LongBuf =
    new BoundedAggs.LongBuf(math.min(cap, 64))

  private def compact(b: BoundedAggs.LongBuf): BoundedAggs.LongBuf = {
    if (b.len > k) {
      java.util.Arrays.sort(b.arr, 0, b.len)
      // in-place dedupe of the sorted prefix, keep at most k
      var w = 0
      var i = 0
      while (i < b.len && w < k) {
        if (w == 0 || b.arr(i) != b.arr(w - 1)) { b.arr(w) = b.arr(i); w += 1 }
        i += 1
      }
      b.len = w
    }
    b
  }

  override def update(b: BoundedAggs.LongBuf,
                      input: InternalRow): BoundedAggs.LongBuf = {
    val v = child.eval(input)
    if (v == null) return b
    val h = v.asInstanceOf[Long]
    if (h < 0) return b // null sentinel (hashes live in [0, 2^32))
    b.add(h)
    if (b.len >= cap) compact(b) else b
  }

  override def merge(a: BoundedAggs.LongBuf,
                     b: BoundedAggs.LongBuf): BoundedAggs.LongBuf = {
    var i = 0
    while (i < b.len) { a.add(b.arr(i)); i += 1 }
    compact(a)
  }

  /** sorted distinct k-smallest prefix (<= k values). */
  private def mins(b: BoundedAggs.LongBuf): Array[Long] = {
    compact(b)
    // compact() only fires past k entries; small buffers still need
    // the dedupe+sort for finish
    val sorted = java.util.Arrays.copyOf(b.arr, b.len)
    java.util.Arrays.sort(sorted)
    val out = new Array[Long](math.min(k, sorted.length))
    var w = 0
    var i = 0
    while (i < sorted.length && w < k) {
      if (w == 0 || sorted(i) != out(w - 1)) { out(w) = sorted(i); w += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(out, w)
  }

  override def eval(b: BoundedAggs.LongBuf): Any = {
    val m = mins(b)
    if (emitSketch) new GenericArrayData(m)
    else if (m.length < k) m.length.toLong
    else (k - 1).toLong * 4294967296L / math.max(m(k - 1), 1L)
  }

  override def serialize(b: BoundedAggs.LongBuf): Array[Byte] = {
    compact(b)
    val bb = ByteBuffer.allocate(b.len * 8)
    var i = 0
    while (i < b.len) { bb.putLong(b.arr(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): BoundedAggs.LongBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val b = new BoundedAggs.LongBuf(math.max(bytes.length / 8, 8))
    while (bb.remaining() >= 8) b.add(bb.getLong())
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KmvAgg =
    copy(child = newChildren.head)
}

object KmvAgg {
  /** Integer-estimate form. */
  def estimate(c: Column, k: Int): Column =
    GraftSql.column(KmvAgg(GraftSql.expression(c), k, emitSketch = false)
      .toAggregateExpression())

  /** Sketch form. */
  def sketch(c: Column, k: Int): Column =
    GraftSql.column(KmvAgg(GraftSql.expression(c), k, emitSketch = true)
      .toAggregateExpression())
}

// --------------------------------------------------------- top-k

/** One column of a [[BoundedTopK]] buffer: a growable primitive array
  * of one SQL type (`long[]`, `double[]` or `UTF8String[]`), compared
  * in Spark's SQL order and written length-prefixed. */
private[graft] sealed abstract class TopKCol {
  protected def array: AnyRef
  def resize(n: Int): Unit
  /** Slot `i` := the (non-null) value a child evaluated to. */
  def set(i: Int, v: Any): Unit
  def get(i: Int): Any
  /** Slots `at until at + n` := the first `n` of `src`, of the same type. */
  final def copy(at: Int, src: TopKCol, n: Int): Unit =
    System.arraycopy(src.array, 0, array, at, n)
  def compare(i: Int, j: Int): Int
  /** Keep the entries at `idx.take(n)`, in that order. */
  def keep(idx: Array[Integer], n: Int): Unit
  def bytes(n: Int): Int
  def write(bb: ByteBuffer, n: Int): Unit
  def read(bb: ByteBuffer, n: Int): Unit
}

private[graft] object TopKCol {
  def apply(dt: DataType, n: Int): TopKCol = dt match {
    case LongType => new Longs(n)
    case DoubleType => new Doubles(n)
    case StringType => new Strs(n)
    case other => throw new IllegalArgumentException(
      s"bounded top-k holds long, double or string columns, not $other")
  }

  final class Longs(n: Int) extends TopKCol {
    private var a = new Array[Long](n)
    protected def array: AnyRef = a
    def resize(n: Int): Unit = a = java.util.Arrays.copyOf(a, n)
    def set(i: Int, v: Any): Unit = a(i) = v.asInstanceOf[Long]
    def get(i: Int): Any = a(i)
    def compare(i: Int, j: Int): Int = java.lang.Long.compare(a(i), a(j))
    def keep(idx: Array[Integer], n: Int): Unit = {
      val b = new Array[Long](a.length)
      var i = 0
      while (i < n) { b(i) = a(idx(i)); i += 1 }
      a = b
    }
    def bytes(n: Int): Int = 8 * n
    def write(bb: ByteBuffer, n: Int): Unit = {
      var i = 0
      while (i < n) { bb.putLong(a(i)); i += 1 }
    }
    def read(bb: ByteBuffer, n: Int): Unit = {
      var i = 0
      while (i < n) { a(i) = bb.getLong(); i += 1 }
    }
  }

  final class Doubles(n: Int) extends TopKCol {
    private var a = new Array[Double](n)
    protected def array: AnyRef = a
    def resize(n: Int): Unit = a = java.util.Arrays.copyOf(a, n)
    def set(i: Int, v: Any): Unit = a(i) = v.asInstanceOf[Double]
    def get(i: Int): Any = a(i)
    def compare(i: Int, j: Int): Int =
      SQLOrderingUtil.compareDoubles(a(i), a(j))
    def keep(idx: Array[Integer], n: Int): Unit = {
      val b = new Array[Double](a.length)
      var i = 0
      while (i < n) { b(i) = a(idx(i)); i += 1 }
      a = b
    }
    def bytes(n: Int): Int = 8 * n
    def write(bb: ByteBuffer, n: Int): Unit = {
      var i = 0
      while (i < n) { bb.putDouble(a(i)); i += 1 }
    }
    def read(bb: ByteBuffer, n: Int): Unit = {
      var i = 0
      while (i < n) { a(i) = bb.getDouble(); i += 1 }
    }
  }

  /** Strings are cloned off the input row, which may be reused. */
  final class Strs(n: Int) extends TopKCol {
    private var a = new Array[UTF8String](n)
    protected def array: AnyRef = a
    def resize(n: Int): Unit = a = java.util.Arrays.copyOf(a, n)
    def set(i: Int, v: Any): Unit = a(i) = v.asInstanceOf[UTF8String].clone()
    def get(i: Int): Any = a(i)
    def compare(i: Int, j: Int): Int = a(i).binaryCompare(a(j))
    def keep(idx: Array[Integer], n: Int): Unit = {
      val b = new Array[UTF8String](a.length)
      var i = 0
      while (i < n) { b(i) = a(idx(i)); i += 1 }
      a = b
    }
    def bytes(n: Int): Int = {
      var s = 4 * n
      var i = 0
      while (i < n) { s += a(i).numBytes; i += 1 }
      s
    }
    def write(bb: ByteBuffer, n: Int): Unit = {
      var i = 0
      while (i < n) { bb.putInt(a(i).numBytes); a(i).writeTo(bb); i += 1 }
    }
    def read(bb: ByteBuffer, n: Int): Unit = {
      var i = 0
      while (i < n) {
        val s = new Array[Byte](bb.getInt())
        bb.get(s)
        a(i) = UTF8String.fromBytes(s)
        i += 1
      }
    }
  }
}

/** Buffer of a [[BoundedTopK]]: one column per child, `len` entries. */
private[graft] final class TopKBuf(types: Array[DataType], n: Int) {
  val cols: Array[TopKCol] = {
    val cs = new Array[TopKCol](types.length)
    var c = 0
    while (c < cs.length) { cs(c) = TopKCol(types(c), n); c += 1 }
    cs
  }
  var len = 0
  /** Slots 0 until k hold the k best entries, sorted (set by a cut). */
  var cut = false
  private var room = n
  /** Room for `n` more entries. */
  def ensure(n: Int = 1): Unit = if (len + n > room) {
    room = math.max(room * 2, len + n)
    cols.foreach(_.resize(room))
  }
}

/** The bounded top-k aggregate: the first k entries per group in the
  * order `sortBy` gives — (child ordinal, descending) pairs compared
  * left to right in Spark's SQL order (NaN largest, -0.0 == 0.0,
  * strings by UTF-8 bytes), the same order as
  * `row_number() OVER (ORDER BY ...)`. Emits array<struct<names...>>
  * sorted in that order. The buffer is compacted (sorted and cut to
  * k) when it reaches 4k entries, after a merge and before it is
  * serialized; once cut, a row ordered after the k-th kept entry is
  * not appended. A null input throws, as the `udaf` Aggregators it
  * replaced did. [[TopKAgg]], [[TopTermsAgg]] and [[MinKAgg]] are its
  * call sites' fixed column lists and sort specs. */
case class BoundedTopK(children: Seq[Expression], names: Seq[String],
                       sortBy: Seq[(Int, Boolean)], k: Int,
                       mutableAggBufferOffset: Int = 0,
                       inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKBuf] {
  require(k > 0, "k must be positive")
  private val cap = 4 * k
  private val inputs = children.toArray
  private val keys = sortBy.map(_._1).toArray
  private val signs = sortBy.map(s => if (s._2) -1 else 1).toArray
  private lazy val types = children.map(_.dataType).toArray

  override def nullable: Boolean = true
  // containsNull = true and nullable string fields: the ExpressionEncoder
  // schema the udaf reported, so downstream query schemas stay identical
  override def dataType: DataType = ArrayType(StructType(
    names.zip(types).map { case (n, t) =>
      StructField(n, t, nullable = t == StringType)
    }), containsNull = true)
  // plans print the children and k; names and sort spec come with the
  // factory (TopKAgg, TopTermsAgg, MinKAgg) that built it
  override protected def stringArgs: Iterator[Any] =
    children.iterator ++ Iterator(k, mutableAggBufferOffset,
      inputAggBufferOffset)

  // starts small: with many groups, most buffers hold a few rows
  override def createAggregationBuffer(): TopKBuf =
    new TopKBuf(types, math.min(cap, 8))

  /** Entry `i` against entry `j` in the sort spec's order. */
  private def order(b: TopKBuf, i: Int, j: Int): Int = {
    var c = 0
    var s = 0
    while (c == 0 && s < keys.length) {
      c = signs(s) * b.cols(keys(s)).compare(i, j)
      s += 1
    }
    c
  }

  private def sorted(b: TopKBuf): Array[Integer] = {
    val idx = new Array[Integer](b.len)
    var i = 0
    while (i < b.len) { idx(i) = i; i += 1 }
    java.util.Arrays.sort(idx, new java.util.Comparator[Integer] {
      override def compare(x: Integer, y: Integer): Int = order(b, x, y)
    })
    idx
  }

  private def compact(b: TopKBuf): TopKBuf = {
    if (b.len > k) {
      val idx = sorted(b)
      b.cols.foreach(_.keep(idx, k))
      b.len = k
      b.cut = true
    }
    b
  }

  override def update(b: TopKBuf, input: InternalRow): TopKBuf = {
    b.ensure()
    var c = 0
    while (c < inputs.length) {
      val v = inputs(c).eval(input)
      if (v == null) throw new NullPointerException(
        s"Null value appeared in non-nullable ${names(c)} input of a " +
          "bounded top-k aggregate")
      b.cols(c).set(b.len, v)
      c += 1
    }
    // a row ordered after the k-th best entry can never reach the top k
    if (b.cut && order(b, b.len, k - 1) > 0) return b
    b.len += 1
    if (b.len >= cap) compact(b) else b
  }

  override def merge(a: TopKBuf, b: TopKBuf): TopKBuf = {
    a.ensure(b.len)
    var c = 0
    while (c < a.cols.length) { a.cols(c).copy(a.len, b.cols(c), b.len); c += 1 }
    a.len += b.len
    compact(a)
  }

  override def eval(b: TopKBuf): Any = {
    val idx = sorted(b)
    val out = new Array[Any](math.min(k, b.len))
    var i = 0
    while (i < out.length) {
      val row = new Array[Any](b.cols.length)
      var c = 0
      while (c < row.length) { row(c) = b.cols(c).get(idx(i)); c += 1 }
      out(i) = new GenericInternalRow(row)
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(b: TopKBuf): Array[Byte] = {
    compact(b)
    var bytes = 4
    var c = 0
    while (c < b.cols.length) { bytes += b.cols(c).bytes(b.len); c += 1 }
    val bb = ByteBuffer.allocate(bytes)
    bb.putInt(b.len)
    c = 0
    while (c < b.cols.length) { b.cols(c).write(bb, b.len); c += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val b = new TopKBuf(types, math.max(n, 8))
    var c = 0
    while (c < b.cols.length) { b.cols(c).read(bb, n); c += 1 }
    b.len = n
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedTopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BoundedTopK =
    copy(children = newChildren)
}

object BoundedTopK {
  /** `fields` are the output (name, input column) pairs, in order. */
  def column(fields: Seq[(String, Column)], sortBy: Seq[(Int, Boolean)],
             k: Int): Column =
    GraftSql.column(BoundedTopK(fields.map(f => GraftSql.expression(f._2)),
      fields.map(_._1), sortBy, k).toAggregateExpression())
}

/** Top k (neighbor_id LONG, score DOUBLE) by score DESC, then
  * neighbor_id ASC — behind [[graft.functions.TopK.perQuery]]. */
object TopKAgg {
  def apply(id: Column, score: Column, k: Int): Column =
    BoundedTopK.column(Seq("neighbor_id" -> id, "score" -> score),
      Seq(1 -> true, 0 -> false), k)
}

/** Top k (term STRING, score DOUBLE) by score DESC, then term ASC —
  * behind [[graft.functions.TopK.perGroupTerms]]. */
object TopTermsAgg {
  def apply(term: Column, score: Column, k: Int): Column =
    BoundedTopK.column(Seq("term" -> term, "score" -> score),
      Seq(1 -> true, 0 -> false), k)
}

/** The k smallest (sort_key STRING, id STRING) with a LONG payload —
  * behind [[graft.functions.TopK.perGroupMinK]]. */
object MinKAgg {
  def apply(sortKey: Column, id: Column, payload: Column, k: Int): Column =
    BoundedTopK.column(
      Seq("sort_key" -> sortKey, "id" -> id, "payload" -> payload),
      Seq(0 -> false, 1 -> false), k)
}

// ------------------------------------------------------ capped pack

/** Buffer of a [[CappedPack]]: the first `len` slots of `items` are the
  * kept payloads, in arrival order, and `total` is their byte sum. */
private[graft] final class PackBuf(n: Int) {
  var items = new Array[Array[Byte]](n)
  var len = 0
  var total = 0L
  def add(e: Array[Byte]): Unit = {
    if (len == items.length) items = java.util.Arrays.copyOf(items, len * 2)
    items(len) = e
    len += 1
    total += e.length
  }
}

/** The byte-capped group packer: the reference's `MergeWithLimitFn`
  * (dataset_grouper/beam_transforms.py:27-78) as a native aggregate.
  * Drop-don't-fail, with the reference's asymmetry:
  *  - `update` (`add_input`) drops a payload when `total + size >=
  *    limit` (the exact boundary drops too) and keeps trying later ones;
  *  - `merge` (`merge_accumulators`) appends the whole right buffer when
  *    `l.total + r.total < limit`; otherwise it appends element by
  *    element and stops at the first one that does not fit.
  * Emits `struct<items: array<binary>, total: bigint>`, the schema the
  * `udaf` Aggregator it replaced reported. A null payload throws, as
  * that Aggregator (and the reference's `len(None)`) did. */
case class CappedPack(child: Expression, limit: Long,
                      mutableAggBufferOffset: Int = 0,
                      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[PackBuf] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true // as the replaced udaf reported
  override def dataType: DataType = CappedPack.Type

  // starts small: with many groups, most buffers hold a few payloads
  override def createAggregationBuffer(): PackBuf = new PackBuf(4)

  override def update(b: PackBuf, input: InternalRow): PackBuf = {
    val e = child.eval(input).asInstanceOf[Array[Byte]]
    if (e == null) throw new NullPointerException(
      "Null value appeared in the payload input of a capped pack")
    if (b.total + e.length < limit) b.add(e)
    b
  }

  // when l.total + r.total < limit every prefix of r fits, so the one
  // stop-at-the-first-misfit loop also does the whole-buffer append
  override def merge(l: PackBuf, r: PackBuf): PackBuf = {
    var i = 0
    while (i < r.len && l.total + r.items(i).length < limit) {
      l.add(r.items(i))
      i += 1
    }
    l
  }

  override def eval(b: PackBuf): Any = {
    val items = new Array[Any](b.len)
    System.arraycopy(b.items, 0, items, 0, b.len)
    new GenericInternalRow(Array[Any](new GenericArrayData(items), b.total))
  }

  /** The count, then each payload's length and bytes. */
  override def serialize(b: PackBuf): Array[Byte] = {
    val size = 4L * (b.len + 1) + b.total
    if (size > CappedPack.MaxArray) throw new IllegalStateException(
      s"a capped pack buffer of ${b.len} payloads and ${b.total} bytes " +
        s"serializes to $size bytes, more than one array holds " +
        s"(${CappedPack.MaxArray}); lower the pack limit")
    val bb = ByteBuffer.allocate(size.toInt)
    bb.putInt(b.len)
    var i = 0
    while (i < b.len) {
      bb.putInt(b.items(i).length)
      bb.put(b.items(i))
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): PackBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val b = new PackBuf(math.max(n, 4))
    var i = 0
    while (i < n) {
      val e = new Array[Byte](bb.getInt())
      bb.get(e)
      b.add(e)
      i += 1
    }
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CappedPack =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CappedPack =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CappedPack =
    copy(child = newChildren.head)
}

object CappedPack {
  /** The schema `Encoders.product` gave the replaced Aggregator's
    * `(items: Seq[Array[Byte]], total: Long)` buffer. */
  val Type: StructType = StructType(Seq(
    StructField("items", ArrayType(BinaryType, containsNull = true)),
    StructField("total", LongType, nullable = false)))

  /** The largest array the JVM allocates. */
  private val MaxArray = Int.MaxValue - 8
}
