package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

/** Consumer-side per-group preprocessing (SURVEY §2.6) — the reference's
  * tokenize → concatenate → chunk-into-fixed-blocks pipeline
  * (examples/dataset_utils.py:112-148, applied per group at
  * train_jax.py:118-122), expressed relationally on the fixed-context
  * packer's span glue: each document gets its running token offset,
  * explodes into only the blocks it overlaps, and the pieces glue per
  * block.
  *
  * Scale shape: one shuffle on the group key serves the offset window,
  * a second on (group, block) the glue, both carrying document-sized
  * rows; no token ever becomes its own row and no group is collected in
  * memory (unlike the tf.data original, which buffers per group).
  */
object GroupConsumer {

  /** Fixed-size token blocks per group: (group_id, block_idx, n_tokens,
    * block_digest). Order within a group is (orderCol, content hash,
    * token position) — the content-hash tiebreak makes offsets (and
    * hence digests) deterministic even when orderCol has duplicates
    * within a group; rows identical in BOTH are interchangeable, so the
    * result is always oracle-checkable. The final (ragged) block is kept
    * iff `dropRemainder` is false (the reference batches with
    * drop_remainder=True for train blocks). */
  def chunkedBlocks(df: DataFrame, grouper: Grouper, textCol: Column,
                    orderCol: Column, blockSize: Int,
                    dropRemainder: Boolean = false): DataFrame = {
    require(blockSize > 0, "blockSize must be positive")
    val docs = Pack.docOffsets(grouper.keyed(df), col(grouper.name),
      orderCol, TextAnalysis.tokens(textCol))
    val blocks = Pack.gluedParts(docs, blockSize)
      .select(col("group_id").as(grouper.name),
        col("example_id").as("block_idx"),
        col("n_tokens"),
        md5(concat_ws(" ", col("__blk"))).as("block_digest"))
    if (dropRemainder) blocks.filter(col("n_tokens") === blockSize) else blocks
  }

  /** Deterministic per-group example shuffle (dataset_utils.py:64-65
    * runs tf.data shuffle per group): reorder each group's packed
    * examples by a seeded hash of their content — reproducible across
    * runs and partitionings, unlike engine-random shuffles. */
  def shuffleExamples(packed: DataFrame, seed: Long): DataFrame =
    packed.withColumn("examples",
      transform(
        array_sort(transform(col("examples"),
          e => struct(xxhash64(e, lit(seed)).as("h"), e.as("e")))),
        x => x.getField("e")))

  /** Per-group repeat/take (dataset_utils.py:74-77): bounded sampling of
    * each group's examples — `take` keeps the first n after the
    * deterministic order, `repeat` tiles the array. */
  def takeExamples(packed: DataFrame, n: Int): DataFrame =
    packed.withColumn("examples", slice(col("examples"), 1, n))

  def repeatExamples(packed: DataFrame, times: Int): DataFrame = {
    require(times >= 0, s"times must be >= 0, got $times")
    if (times == 0)
      // sequence(1, 0) would count DOWN ([1,0]) and double the data
      packed.withColumn("examples",
        array().cast(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.BinaryType)))
    else
      packed.withColumn("examples",
        flatten(transform(sequence(lit(1), lit(times)), _ => col("examples"))))
  }
}
