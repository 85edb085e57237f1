package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** The typed `Aggregator`s that the native bounded aggregates of
  * `graft.expressions.BoundedAggs` (KmvAgg, TopKAgg, TopTermsAgg,
  * MinKAgg) replaced, moved here unchanged from `graft.functions.Kmv`
  * and `graft.functions.TopK`. They are the reference models of the
  * differential specs (ProfilerShapeSpec, SimilaritySpec): each
  * native aggregate must equal its Aggregator bit for bit, schema
  * included. The top-k ones differ from SQL order only on NaN scores,
  * -0.0 vs 0.0, and strings whose UTF-16 and UTF-8 orders disagree.
  * The capped packer that `CappedPack` replaced, `PackWithLimit` with
  * its `PackBuffer`, keeps its package and lives in
  * `graft/operators/LegacyPack.scala`. */
object LegacyAggregators {

  /** Bounded min-k-distinct buffer with the TopK compaction discipline:
    * appends are O(1), the buffer is deduped+sorted+truncated to k only
    * when it grows past 4k — amortized O(log k) per row, O(k) state at
    * every stage. Truncation is lossless for this semilattice: the k
    * smallest distinct values of a stream are always a subset of the
    * union of per-partition k-smallest-distinct sets. */
  final class KmvAggregator(k: Int)
      extends Aggregator[Long, ArrayBuffer[Long], Long] {
    require(k > 1, "k must be > 1")
    private val cap = 4 * k

    private def compact(b: ArrayBuffer[Long]): ArrayBuffer[Long] = {
      if (b.length > k) {
        val kept = b.distinct.sorted.take(k)
        b.clear()
        b ++= kept
      }
      b
    }

    override def zero: ArrayBuffer[Long] = ArrayBuffer.empty[Long]

    override def reduce(b: ArrayBuffer[Long], h: Long): ArrayBuffer[Long] = {
      // negative input is the NULL sentinel (hashes live in [0, 2^32)):
      // callers feed coalesce(u32(...), -1) so the whole profile can run
      // as ONE multi-column agg pass — a per-column null filter would
      // force the melted two-pass shape back
      if (h < 0) return b
      b += h
      if (b.length >= cap) compact(b) else b
    }

    override def merge(a: ArrayBuffer[Long], b: ArrayBuffer[Long]): ArrayBuffer[Long] =
      compact(a ++= b)

    override def finish(b: ArrayBuffer[Long]): Long = {
      val mins = b.distinct.sorted.take(k)
      if (mins.length < k) mins.length.toLong
      // (k-1)*2^32 < 2^63 for any sane k; h_k >= 1 guarded (h_k = 0
      // needs all of the k smallest hashes to collide into 0)
      else ((k - 1).toLong * 4294967296L) / math.max(mins(k - 1), 1L)
    }

    override def bufferEncoder: Encoder[ArrayBuffer[Long]] =
      implicitly[Encoder[ArrayBuffer[Long]]](
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder())

    override def outputEncoder: Encoder[Long] =
      implicitly[Encoder[Long]](
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder())
  }

  /** [[KmvAggregator]] that finishes to the SKETCH itself (the sorted
    * k smallest distinct hashes) instead of the estimate — the
    * mergeable-summary form: sketches of two corpus versions (or two
    * shards, or yesterday and today) union by "k smallest distinct of
    * the concatenation" WITHOUT rescanning either input, which is what
    * makes incremental / federated profiling possible at 100 TB. */
  final class KmvSketchAggregator(k: Int)
      extends Aggregator[Long, ArrayBuffer[Long], Seq[Long]] {
    private val inner = new KmvAggregator(k)
    override def zero: ArrayBuffer[Long] = inner.zero
    override def reduce(b: ArrayBuffer[Long], h: Long): ArrayBuffer[Long] =
      inner.reduce(b, h)
    override def merge(a: ArrayBuffer[Long], b: ArrayBuffer[Long]): ArrayBuffer[Long] =
      inner.merge(a, b)
    override def finish(b: ArrayBuffer[Long]): Seq[Long] =
      b.distinct.sorted.take(k).toSeq
    override def bufferEncoder: Encoder[ArrayBuffer[Long]] =
      implicitly[Encoder[ArrayBuffer[Long]]](
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder())
    override def outputEncoder: Encoder[Seq[Long]] =
      implicitly[Encoder[Seq[Long]]](
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder())
  }

  /** One scored candidate. */
  final case class Entry(neighbor_id: Long, score: Double)

  private val ord: Ordering[Entry] =
    Ordering.by((e: Entry) => (-e.score, e.neighbor_id))

  /** Size-k buffer aggregator. The buffer is kept UNSORTED between
    * compactions and compacted (sort + truncate to k) only when it grows
    * past 4k — amortized O(log k) per row without a per-row heap
    * allocation, O(k) state at every stage. */
  final class TopKAggregator(k: Int)
      extends Aggregator[Entry, ArrayBuffer[Entry], Seq[Entry]] {
    require(k > 0, "k must be positive")
    private val cap = 4 * k

    private def compact(b: ArrayBuffer[Entry]): ArrayBuffer[Entry] = {
      if (b.length > k) {
        val kept = b.sorted(ord).take(k)
        b.clear()
        b ++= kept
      }
      b
    }

    override def zero: ArrayBuffer[Entry] = ArrayBuffer.empty[Entry]

    override def reduce(b: ArrayBuffer[Entry], e: Entry): ArrayBuffer[Entry] = {
      b += e
      if (b.length >= cap) compact(b) else b
    }

    override def merge(a: ArrayBuffer[Entry], b: ArrayBuffer[Entry]): ArrayBuffer[Entry] =
      compact(a ++= b)

    override def finish(b: ArrayBuffer[Entry]): Seq[Entry] =
      b.sorted(ord).take(k).toSeq

    override def bufferEncoder: Encoder[ArrayBuffer[Entry]] =
      implicitly[Encoder[ArrayBuffer[Entry]]](
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder())

    override def outputEncoder: Encoder[Seq[Entry]] =
      implicitly[Encoder[Seq[Entry]]](
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder())
  }

  /** String-keyed twin of [[TopKAggregator]] (terms instead of neighbor
    * ids) — same compaction discipline, ties by key ASC. */
  final case class TermEntry(term: String, score: Double)

  private val termOrd: Ordering[TermEntry] =
    Ordering.by((e: TermEntry) => (-e.score, e.term))

  final class TopTermsAggregator(k: Int)
      extends Aggregator[TermEntry, ArrayBuffer[TermEntry], Seq[TermEntry]] {
    require(k > 0, "k must be positive")
    private val cap = 4 * k

    private def compact(b: ArrayBuffer[TermEntry]): ArrayBuffer[TermEntry] = {
      if (b.length > k) {
        val kept = b.sorted(termOrd).take(k)
        b.clear()
        b ++= kept
      }
      b
    }

    override def zero: ArrayBuffer[TermEntry] = ArrayBuffer.empty[TermEntry]
    override def reduce(b: ArrayBuffer[TermEntry], e: TermEntry): ArrayBuffer[TermEntry] = {
      b += e
      if (b.length >= cap) compact(b) else b
    }
    override def merge(a: ArrayBuffer[TermEntry], b: ArrayBuffer[TermEntry]): ArrayBuffer[TermEntry] =
      compact(a ++= b)
    override def finish(b: ArrayBuffer[TermEntry]): Seq[TermEntry] =
      b.sorted(termOrd).take(k).toSeq
    override def bufferEncoder: Encoder[ArrayBuffer[TermEntry]] =
      implicitly[Encoder[ArrayBuffer[TermEntry]]](
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder())
    override def outputEncoder: Encoder[Seq[TermEntry]] =
      implicitly[Encoder[Seq[TermEntry]]](
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder())
  }

  /** Ascending string-key twin: the k entries with the SMALLEST
    * (sort_key, id) per group. Same bounded compaction discipline as
    * [[TopKAggregator]]. */
  final case class KeyedEntry(sort_key: String, id: String, payload: Long)

  private val keyedOrd: Ordering[KeyedEntry] =
    Ordering.by((e: KeyedEntry) => (e.sort_key, e.id))

  final class MinKAggregator(k: Int)
      extends Aggregator[KeyedEntry, ArrayBuffer[KeyedEntry], Seq[KeyedEntry]] {
    require(k > 0, "k must be positive")
    private val cap = 4 * k

    private def compact(b: ArrayBuffer[KeyedEntry]): ArrayBuffer[KeyedEntry] = {
      if (b.length > k) {
        val kept = b.sorted(keyedOrd).take(k)
        b.clear()
        b ++= kept
      }
      b
    }

    override def zero: ArrayBuffer[KeyedEntry] = ArrayBuffer.empty[KeyedEntry]
    override def reduce(b: ArrayBuffer[KeyedEntry], e: KeyedEntry): ArrayBuffer[KeyedEntry] = {
      b += e
      if (b.length >= cap) compact(b) else b
    }
    override def merge(a: ArrayBuffer[KeyedEntry], b: ArrayBuffer[KeyedEntry]): ArrayBuffer[KeyedEntry] =
      compact(a ++= b)
    override def finish(b: ArrayBuffer[KeyedEntry]): Seq[KeyedEntry] =
      b.sorted(keyedOrd).take(k).toSeq
    override def bufferEncoder: Encoder[ArrayBuffer[KeyedEntry]] =
      implicitly[Encoder[ArrayBuffer[KeyedEntry]]](
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder())
    override def outputEncoder: Encoder[Seq[KeyedEntry]] =
      implicitly[Encoder[Seq[KeyedEntry]]](
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder())
  }
}
