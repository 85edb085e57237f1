package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftSql}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expressions.CappedPack

/** Partition-and-pack — the reference's flagship pipeline
  * (tfds_pipelines.py:25-78) re-expressed relationally. Groups are
  * first-class rows: `(group_id, examples array<binary>, num_examples,
  * num_bytes)`. The faithful packer is the native aggregate
  * [[graft.expressions.CappedPack]], the reference's `MergeWithLimitFn`
  * (beam_transforms.py:27-78); Spark's ObjectHashAggregate gives the
  * partial (map-side update) + final (post-shuffle merge) split that
  * Beam's combiner lifting gives, and falls back to sort-based
  * aggregation, serializing the buffers, when its hash map grows.
  */
object Pack {

  /** Reference protobuf size ceiling (beam_transforms.py:27). */
  val BytesLimit: Long = 2000000000L

  /** The capped packer as a DataFrame aggregation column, a struct of
    * `items` (the packed payloads) and `total` (their byte sum):
    * `df.groupBy("group_id").agg(packWithLimit(limit)($"bytes"))`.
    * Drop-don't-fail, pinned by beam_transforms_test.py:26-122:
    *  - a payload is dropped when `total + size >= limit` (the exact
    *    boundary drops too), and later, smaller payloads are still tried;
    *  - merging two partial packs appends the whole right one when the
    *    totals sum below `limit`; otherwise it appends element by
    *    element and stops at the first that does not fit, discarding
    *    the rest (the reference's asymmetry, beam_transforms.py:54-74).
    * Which payloads survive a binding cap depends on arrival order, as
    * in the reference under a distributed runner; for an
    * oracle-checkable variant see [[packCappedDeterministic]]. */
  def packWithLimit(limit: Long = BytesLimit): Column => Column =
    c => GraftSql.column(
      CappedPack(GraftSql.expression(c), limit).toAggregateExpression())

  /** Faithful pack pipeline: key, serialize (caller supplies the payload
    * column — e.g. a proto-encoding expression or a raw binary column),
    * pack with the byte cap. One shuffle (partial agg map-side), exactly
    * one output row per group (reference invariant §1.4.1). */
  def packGroups(df: DataFrame, grouper: Grouper, payload: Column,
                 limit: Long = BytesLimit): DataFrame =
    grouper.keyed(df)
      .select(col(grouper.name), payload.cast("binary").as("__payload"))
      .groupBy(col(grouper.name))
      .agg(packWithLimit(limit)(col("__payload")).as("__packed"))
      .select(
        col(grouper.name),
        col("__packed.items").as("examples"),
        size(col("__packed.items")).cast("long").as("num_examples"),
        col("__packed.total").as("num_bytes"))

  /** Deterministic capped pack: rows are packed greedily in ascending
    * (byte size, tiebreak) order, which makes the surviving set — not
    * just the totals — independent of arrival order and partitioning,
    * hence oracle-checkable. With ascending sizes, greedy-with-skip
    * equals the maximal prefix with running total < limit, so the whole
    * thing is one window + one conditional aggregation.
    *
    * Scale shape: the window and the groupBy hash-partition on the same
    * key, so Catalyst plans a single exchange; the per-group sort is
    * the only extra cost over the faithful packer. Groups where even the
    * smallest row exceeds the cap still emit one row with an empty
    * examples array (reference invariant: one output record per group,
    * empty-but-present — serialization_test.py:45-58).
    */
  def packCappedDeterministic(df: DataFrame, grouper: Grouper,
                              payload: Column, tiebreak: Column,
                              limit: Long = BytesLimit): DataFrame =
    packCappedBy(df, grouper, payload, tiebreak,
      p => octet_length(p).cast("long"), limit)

  /** [[packCappedDeterministic]] with a caller-supplied WEIGHT function
    * over the BINARY payload — the byte cap is one instance; a TOKEN
    * budget (`TextAnalysis.tokenCount` over a decoded string payload)
    * turns the same operator into training-sequence packing: fill each
    * group's context window up to `limit` tokens with the deterministic
    * ascending-(weight, tiebreak) greedy. Same single-exchange
    * window+agg shape. */
  def packCappedBy(df: DataFrame, grouper: Grouper,
                   payload: Column, tiebreak: Column,
                   weigh: Column => Column,
                   limit: Long): DataFrame = {
    val keyed = grouper.keyed(df).select(
      col(grouper.name),
      payload.cast("binary").as("__payload"),
      tiebreak.as("__tb"))
      .withColumn("__bytes",
        coalesce(weigh(col("__payload")).cast("long"), lit(0L)))
    // the payload itself is the final tie-break: the caller's tiebreak
    // column may collide (duplicate ids in the wild), and the packed
    // order must be total for the digest to be engine-independent
    val w = Window.partitionBy(col(grouper.name))
      .orderBy(col("__bytes"), col("__tb"), col("__payload"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val kept = col("__cum") < limit
    keyed
      .withColumn("__cum", sum(col("__bytes")).over(w))
      .groupBy(col(grouper.name))
      .agg(
        // collect_list skips nulls => dropped rows vanish but the group
        // row itself survives (one record per group, possibly empty)
        sort_array(collect_list(when(kept,
          struct(col("__bytes"), col("__tb"), col("__payload"))))).as("__kept"),
        count(when(kept, lit(1))).as("num_examples"),
        coalesce(sum(when(kept, col("__bytes")).otherwise(0L)), lit(0L)).as("num_bytes"))
      .select(
        col(grouper.name),
        transform(col("__kept"), x => x.getField("__payload")).as("examples"),
        col("num_examples"),
        col("num_bytes"))
  }

  /** FIXED-CONTEXT sequence packing — the GPT-style training prep the
    * budget packers above deliberately avoid: concatenate each group's
    * token stream in ascending-id order and cut it into examples of
    * EXACTLY `seqLen` tokens, documents spanning example boundaries
    * (the last example of a group may be short). [[packCappedBy]] keeps
    * documents whole and drops what doesn't fit; this keeps every token
    * and splits documents — both shapes ship in production, for
    * different trainers.
    *
    * Topology: no token ever becomes its own row. [[docOffsets]] gives
    * each doc its running token offset in one window; each doc explodes
    * into only the examples it overlaps (≈ 1 + k/L rows per doc, NOT
    * k); array slices carve the per-example pieces; one groupBy glues
    * pieces in stream order. Two exchanges total (group, then group ×
    * example), both carrying doc-granularity rows.
    *
    * Output: (group_id, example_id, n_tokens, n_docs, digest) where
    * digest is md5 of the space-joined example tokens — order-sensitive,
    * so the oracle must replay the exact stream, not a multiset. */
  def packFixedContext(df: DataFrame, groupCol: Column, idCol: Column,
                       toksCol: Column, seqLen: Int): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    glueSpans(docOffsets(df, groupCol, idCol.cast("long"), toksCol), seqLen)
  }

  /** [[packFixedContext]] without the per-group window — the 100 TB
    * path when groups are FEW and huge (5 languages over a corpus puts
    * a window's whole partition on one reducer). Token offsets come
    * from the two-pass running sum ([[Splits.runningSums]]) over the
    * window path's (group, id, xxhash64(tokens)) order, so results are
    * identical to the window path. Group ids travel as strings here
    * (offset-map keys). */
  def packFixedContextScalable(df: DataFrame, groupCol: Column,
                               idCol: Column, toksCol: Column,
                               seqLen: Int): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    val base = df
      .select(groupCol.cast("string").as("group_id"),
        idCol.cast("long").as("id"), toksCol.as("__toks"))
      .withColumn("__k", size(col("__toks")).cast("long"))
    glueSpans(Splits.runningSums(base, "group_id", col("__k"),
      col("id"), xxhash64(col("__toks")))._1, seqLen)
  }

  /** Each doc's offset in its group's token stream: (group_id, id,
    * __toks, __k = token count, __start). The token arrays materialize
    * once behind a `repartition(group_id)` barrier (alias-inlining
    * hazard — the tokenize battery must not be rebuilt inside the
    * window/agg), which the window reuses. Docs run in
    * (id, xxhash64(__toks)) order over a ROWS frame: the hash breaks id
    * ties deterministically, and two docs tying on both carry the same
    * tokens, so every doc owns its own span and which of the two comes
    * first is immaterial. */
  private[operators] def docOffsets(df: DataFrame, groupCol: Column,
                                    idCol: Column, toksCol: Column): DataFrame = {
    val w = Window.partitionBy(col("group_id"))
      .orderBy(col("id"), xxhash64(col("__toks")))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(groupCol.as("group_id"), idCol.as("id"), toksCol.as("__toks"))
      .withColumn("__k", size(col("__toks")).cast("long"))
      .repartition(col("group_id"))
      .withColumn("__start", sum(col("__k")).over(w) - col("__k"))
  }

  /** Shared tail of the fixed-context packers: input carries
    * (group_id, __toks, __k, __start); explode each doc into the
    * examples it overlaps, slice the pieces, glue per example. */
  private def glueSpans(withStart: DataFrame, seqLen: Int): DataFrame =
    gluedParts(withStart, seqLen)
      .select(
        col("group_id"),
        col("example_id"),
        col("n_tokens"),
        col("n_docs"),
        md5(concat_ws(" ", col("__blk"))).as("digest"))

  /** The span-glue core shared by [[packFixedContext]]'s digest view,
    * [[inputTargetBlocks]]' id view and `GroupConsumer.chunkedBlocks`:
    * (group_id, example_id, n_tokens, n_docs, __blk = the glued token
    * array in stream order). */
  private[operators] def gluedParts(withStart: DataFrame,
                                    seqLen: Int): DataFrame = {
    val L = lit(seqLen.toLong)
    val spans = withStart
      // zero-token docs are dropped HERE (explode of null emits no
      // rows) rather than by an early filter: a filter above the
      // tokenize projection gets pushed into the scan with the
      // tokenize battery INLINED, running it twice per row. Empty
      // docs add 0 to the cumsum, so offsets are unaffected.
      .withColumn("example_id", explode(when(col("__k") > 0, sequence(
        expr(s"__start DIV $seqLen"),
        expr(s"(__start + __k - 1) DIV $seqLen")))))
      .withColumn("__lo",
        greatest(lit(0L), col("example_id") * L - col("__start")))
      .withColumn("__hi",
        least(col("__k"), (col("example_id") + lit(1L)) * L - col("__start")))
      .withColumn("__piece",
        expr("slice(__toks, CAST(__lo + 1 AS INT), CAST(__hi - __lo AS INT))"))
    spans
      .groupBy(col("group_id"), col("example_id"))
      .agg(
        sum(col("__hi") - col("__lo")).as("n_tokens"),
        count(lit(1)).as("n_docs"),
        // __start is strictly increasing within a group (k > 0), so the
        // struct sort restores stream order before the glue
        array_sort(collect_list(
          struct(col("__start"), col("__piece")))).as("__parts"))
      .select(
        col("group_id"),
        col("example_id"),
        col("n_tokens"),
        col("n_docs"),
        flatten(transform(col("__parts"), p => p.getField("__piece")))
          .as("__blk"))
  }

  /** LM TRAINING BLOCKS with the next-token shift (the reference's
    * group_and_split_input_target_fn — examples/training/
    * dataset_utils.py:112-140): each group's token-ID stream packs
    * into FULL blocks of seqLen+1 ids (the ragged remainder drops,
    * matching the reference), then input = block[0:L], target =
    * block[1:L+1], and class_weights mark non-padding targets (id 0 =
    * padding/OOV → weight 0). Same one-window glue as
    * [[packFixedContext]] (the scalable-offset twin applies
    * unchanged). Output: (group_id, example_id, input_ids, target_ids,
    * class_weights) — arrays; digest them for row-hash gates. */
  def inputTargetBlocks(df: DataFrame, groupCol: Column, idCol: Column,
                        idsCol: Column, seqLen: Int): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    val B = seqLen + 1
    gluedParts(docOffsets(df, groupCol, idCol.cast("long"), idsCol), B)
      .filter(col("n_tokens") === B.toLong) // full blocks only
      .select(col("group_id"), col("example_id"),
        slice(col("__blk"), 1, seqLen).as("input_ids"),
        slice(col("__blk"), 2, seqLen).as("target_ids"),
        transform(slice(col("__blk"), 2, seqLen),
          x => when(x =!= 0, 1).otherwise(0)).as("class_weights"))
  }

  /** DOCUMENT-BOUNDARY descriptors for the packed blocks of
    * [[inputTargetBlocks]] / [[packFixedContext]]: per (group, block),
    * the in-block offsets where a new document begins — the
    * attention-reset positions a trainer needs to build block-diagonal
    * masks so packed neighbors cannot attend across document seams. A
    * block with no entry is a pure continuation (its doc started in an
    * earlier block, no reset at offset 0 either). Offsets are emitted
    * as a comma-joined string (type-stable across engines) plus the
    * segment count. Same window topology as the packer itself: one
    * per-group running sum, then integer DIV/% against the block
    * width — zero extra shuffles beyond the group exchange. */
  def blockBoundaries(df: DataFrame, groupCol: Column, idCol: Column,
                      idsCol: Column, seqLen: Int): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    val B = seqLen + 1
    docOffsets(df, groupCol, idCol.cast("long"), idsCol)
      .filter(col("__k") > 0) // empty docs own no tokens, no seam
      .select(col("group_id"),
        expr(s"__start DIV $B").as("example_id"),
        expr(s"__start % $B").as("off"))
      .groupBy(col("group_id"), col("example_id"))
      .agg(count(lit(1)).as("n_segments"),
        array_join(array_sort(collect_list(col("off"))), ",")
          .as("seg_starts"))
  }

  /** Uncapped fast path — plain `collect_list` (the built-in Spark shape
    * of the reference's packer when the 2 GB cap can't bind), sorted for
    * determinism. */
  def packUncapped(df: DataFrame, grouper: Grouper, payload: Column): DataFrame =
    grouper.keyed(df)
      .select(col(grouper.name), payload.cast("binary").as("__payload"))
      .groupBy(col(grouper.name))
      .agg(sort_array(collect_list(col("__payload"))).as("examples"))
      .select(col(grouper.name), col("examples"),
        size(col("examples")).cast("long").as("num_examples"))
}
