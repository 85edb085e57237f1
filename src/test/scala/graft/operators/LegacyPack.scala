package graft.operators

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

// The typed `udaf` packer that `graft.expressions.CappedPack` replaced,
// moved here unchanged from `graft.operators.Pack`. It is the reference
// model of PackSpec, PackPropertySpec and the differential PackAggSpec.

/** Accumulator for [[PackWithLimit]]: the packed payloads plus their total
  * byte size (reference `MergeAccumulator = tuple[list[bytes], int]`,
  * beam_transforms.py:28). */
final case class PackBuffer(items: Seq[Array[Byte]], total: Long)

/** Byte-capped group packer — the reference's `MergeWithLimitFn`
  * (dataset_grouper/beam_transforms.py:27-78) as a typed Spark
  * [[Aggregator]]. The four CombineFn lifecycle methods map 1:1 onto
  * zero/reduce/merge/finish; Spark's ObjectHashAggregate gives the same
  * partial (map-side reduce) + final (post-shuffle merge) split that
  * Beam's combiner lifting gives, and additionally spills to sort-based
  * aggregation when the hash map grows — strictly safer at scale.
  *
  * Drop-don't-fail semantics (pinned by beam_transforms_test.py:26-122):
  *  - `reduce` drops an element when `total + size >= limit` (the exact
  *    boundary also drops) and KEEPS TRYING later, smaller elements;
  *  - `merge` first tries to append the whole right-hand accumulator;
  *    if it doesn't fit it falls back to element-by-element and STOPS at
  *    the first element that doesn't fit, discarding the remainder — the
  *    reference's asymmetry (beam_transforms.py:54-74).
  *
  * Which examples survive a binding cap is arrival-order-dependent, same
  * as the reference under a distributed runner. For an oracle-checkable
  * deterministic variant see [[Pack.packCappedDeterministic]].
  */
final class PackWithLimit(limit: Long)
    extends Aggregator[Array[Byte], PackBuffer, PackBuffer] {

  override def zero: PackBuffer = PackBuffer(Vector.empty, 0L)

  override def reduce(b: PackBuffer, e: Array[Byte]): PackBuffer = {
    val n = e.length.toLong
    if (b.total + n >= limit) b
    else PackBuffer(b.items :+ e, b.total + n)
  }

  override def merge(l: PackBuffer, r: PackBuffer): PackBuffer =
    if (l.total + r.total < limit)
      PackBuffer(l.items ++ r.items, l.total + r.total)
    else {
      var items = l.items
      var total = l.total
      val it = r.items.iterator
      var stopped = false
      while (!stopped && it.hasNext) {
        val e = it.next()
        val n = e.length.toLong
        if (total + n >= limit) stopped = true
        else { items = items :+ e; total += n }
      }
      PackBuffer(items, total)
    }

  // the buffer IS the result: its total is the group's num_bytes, so
  // nothing re-walks the packed array to sum it
  override def finish(b: PackBuffer): PackBuffer = b

  override def bufferEncoder: Encoder[PackBuffer] = Encoders.product[PackBuffer]
  override def outputEncoder: Encoder[PackBuffer] = bufferEncoder
}
