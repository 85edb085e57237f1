package graft.examples

import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}
import graft.operators._

/** End-to-end example mirroring the reference's example pipelines
  * (examples/datasets/group_c4.py + group_counts.py): partition the
  * `documents` corpus by source domain, write group statistics, pack
  * the 90% train slice into TFRecords, reload, and run per-group
  * consumer preprocessing — the complete workflow a dataset_grouper
  * user runs, on this engine.
  *
  * Run: sbt "runMain graft.examples.PartitionDocuments [sfdir] [outdir]"
  */
object PartitionDocuments {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.drop(1).headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-example").toString)
    val spark = GraftSession.local(4)

    val docs = Tables(spark, sfDir, "documents")
    val grouper = Grouper.byColumn("source") // ≙ C4 domain partitioning

    // 1. group statistics (reference tfds_group_counts)
    val counts = GroupCounts(docs, grouper)
    GroupCounts.writeFormatted(counts.coalesce(1), s"$outDir/counts")
    println(s"[example] wrote group counts for ${counts.count()} groups")

    // 2. train/test split + partition-and-pack (reference tfds_to_tfrecords)
    val (train, test) = Splits.trainTest(docs, 90, col("doc_id"))
    val packed = PartitionedDataset.packExamples(train, grouper)
    val shards = PartitionedDataset.writeTFRecords(packed, s"$outDir/train")
    println(s"[example] packed ${train.count()} train docs into " +
      s"${packed.count()} groups across ${shards.length} shards " +
      s"(holdout ${test.count()} docs)")

    // 3. reload as a group stream and consume per group
    val loaded = PartitionedDataset.loadTFRecords(
      spark, s"$outDir/train/groups.tfrecord-*")
    val decoded = PartitionedDataset.decodeExamples(loaded, docs.schema)
    println(s"[example] reloaded ${decoded.count()} docs; schema matches: " +
      (decoded.schema == docs.schema))

    // 4. consumer-side chunking into 128-token training blocks
    val blocks = GroupConsumer.chunkedBlocks(
      decoded, grouper, col("text"), col("doc_id"), blockSize = 128)
    println(s"[example] ${blocks.count()} training blocks of <=128 tokens")
    spark.stop()
  }
}
