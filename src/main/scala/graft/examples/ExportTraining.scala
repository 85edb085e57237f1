package graft.examples

import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}
import graft.functions.TextAnalysis
import graft.operators._

/** End-to-end TRAINING-EXPORT example — the last mile after
  * [[CleanCorpus]]: turn a cleaned corpus into the artifacts a trainer
  * and its eval harness consume, composed from the same library calls
  * the declared queries use:
  *
  *   1. incremental dedup of an arriving delta against the base corpus
  *      through the Bloom-prefiltered path (base side never fully
  *      shuffles)
  *   2. held-out split by GROUP (whole sources leave together) so eval
  *      never shares a domain with train
  *   3. fixed-context packing of the train split (exactly-L-token
  *      examples spanning document boundaries — the scalable offset
  *      path, since language groups are few and huge)
  *   4. TFRecord shard export of the packed examples + an Avro
  *      manifest of per-example metadata for the eval harness
  *   5. inverted-index roster over the train split (contamination
  *      lookups during evals)
  *
  * Run: sbt "runMain graft.examples.ExportTraining [sfdir] [outdir]"
  */
object ExportTraining {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.drop(1).headOption.getOrElse("/tmp/graft-export")
    val spark = GraftSession.local(4)

    val docs = Tables(spark, sfDir, "documents")

    // 1. an arriving delta (pretend: doc_id % 10 >= 8) admits only
    //    content unseen in the base — bloom prefilter + exact confirm
    val fresh = Dedup.incrementalBloom(
      docs.filter(col("doc_id") % 10 < 8),
      docs.filter(col("doc_id") % 10 >= 8),
      col("text"), col("doc_id"))
    println(s"[example] delta admits ${fresh.count()} new contents")

    // 2. group-granular holdout: whole SOURCES move together
    val train = Splits.holdOutGroups(docs, col("source"), rate = 0.7)
    val eval = docs.join(train.select("doc_id"), Seq("doc_id"), "left_anti")
    println(s"[example] train=${train.count()} eval=${eval.count()} docs")

    // 3. fixed-context packing, 128-token examples per language
    val packed = Pack.packFixedContextScalable(train, col("lang"),
      col("doc_id"), TextAnalysis.tokens(col("text")), seqLen = 128)
    println(s"[example] ${packed.count()} training examples")

    // 4a. TFRecord shards: one record per example (digest as payload
    //     stand-in; a real trainer serializes the token ids)
    import spark.implicits._
    val shards = graft.sources.TFRecordIO.write(
      packed.select(concat_ws("|", col("group_id"),
          col("example_id").cast("string"), col("digest"))
        .cast("binary").as[Array[Byte]](org.apache.spark.sql.Encoders.BINARY)),
      outDir, prefix = "train.tfrecord")
    println(s"[example] wrote ${shards.size} TFRecord shards")

    // 4b. Avro manifest of per-example metadata (row-oriented, the
    //     format eval harnesses and buses consume)
    val manifest = graft.sources.AvroIO.write(
      packed.select(col("group_id"), col("example_id"),
        col("n_tokens"), col("n_docs")),
      outDir, prefix = "manifest")
    println(s"[example] wrote ${manifest.size} Avro manifest shards")

    // 5. inverted-index roster for contamination lookups
    val index = graft.functions.InvertedIndex.build(
      train, col("text"), col("doc_id"), minDf = 3L, cap = 50)
    println(s"[example] index terms: ${index.count()}")
    spark.stop()
  }
}
