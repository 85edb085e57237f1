package graft.examples

import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}
import graft.functions.{Redact, TextAnalysis}
import graft.operators._

/** End-to-end LLM-corpus CLEANING example — the extension-operator
  * workflow a training-data pipeline runs on this engine, composed from
  * the same library calls the declared queries use:
  *
  *   1. quality gate + language ID (single-pass TextStats battery)
  *   2. PII redaction (codegen'd regex, no UDF)
  *   3. exact dedup, then semantic-grade near-dup clustering
  *      (PPJoin n-gram pairs -> connected components) with keep-best
  *      survivor selection
  *   4. duplicated-span audit (overlapping rolling-hash windows)
  *   5. decontamination against a held-out eval slice
  *   6. deterministic stratified sample -> token-budget packing
  *
  * Run: sbt "runMain graft.examples.CleanCorpus [sfdir]"
  */
object CleanCorpus {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local(4)

    val docs = Tables(spark, sfDir, "documents")

    // 1. quality + langId in ONE battery pass; keep mid-quality-or-better
    val p = TextAnalysis.profile(col("text"))
    val scored = docs.select(col("doc_id"), col("text"), col("source"),
        TextAnalysis.qualityScoreOf(p).as("quality"),
        TextAnalysis.langIdOf(p).as("lang_id"))
      .repartition(col("doc_id")) // battery behind an exchange barrier
    val kept = scored.filter(col("quality") >= 0.2)
    println(s"[example] quality gate kept ${kept.count()}/${docs.count()}")

    // 2. PII redaction on the surviving text
    val redacted = kept.withColumn("text", Redact.redact(col("text")))

    // 3. exact dedup, then near-dup clusters + keep-best survivor
    val exact = Dedup.exact(redacted, col("text"), col("doc_id"))
    println(s"[example] ${exact.count()} distinct contents")
    val pairs = Dedup.ngramJaccardPairs(redacted, col("text"),
      col("doc_id"), n = 3, threshold = 0.8)
    val asg = Dedup.clusters(redacted, col("doc_id"), pairs)
    val survivors = Dedup.keepBest(asg,
      redacted.select(col("doc_id"), col("quality")),
      col("doc_id"), col("quality"))
    println(s"[example] ${survivors.count()} keep-best survivors")

    // 4. duplicated-span audit (unaligned boilerplate detection)
    val spans = Dedup.duplicatedSpansRolling(redacted, col("text"),
      col("doc_id"), windowTokens = 8)
    val flagged = spans.filter(col("n_dup_windows") * 2 > col("n_windows"))
    println(s"[example] ${flagged.count()} docs >50% duplicated spans")

    // 5. decontaminate vs a pretend eval slice (doc_id % 97 == 0)
    val overlap = Decontaminate.ngramOverlap(
      redacted.filter(col("doc_id") % 97 =!= 0),
      redacted.filter(col("doc_id") % 97 === 0),
      col("text"), col("doc_id"), col("text"), col("doc_id"), n = 4)
    println(s"[example] ${overlap.count()} corpus docs overlap eval shingles")

    // 6. stratified 30% sample by language, packed to a token budget
    val sample = Splits.stratifiedSample(
      redacted.join(survivors.select(col("keeper_id").as("doc_id")), "doc_id"),
      col("doc_id"), col("lang_id"), Map("en" -> 0.5), defaultRate = 0.3)
    val packed = Pack.packCappedBy(sample, Grouper.byColumn("lang_id"),
      col("text"), col("doc_id"),
      p => TextAnalysis.tokenCount(p.cast("string")), limit = 4096L)
    println(s"[example] packed ${packed.count()} context windows")

    // 7. sliding-window chunks of the sample for a retrieval index
    //    (overlapping so boundary passages land whole in some chunk)
    val chunks = Chunker.chunkWindows(sample, col("text"), col("doc_id"),
      windowTokens = 16, strideTokens = 8)
    println(s"[example] ${chunks.count()} retrieval chunks")

    // 8. audit the cleaning pass: what did it do to the corpus?
    val audit = CorpusDiff.summary(docs, redacted, col("doc_id"),
      col("text")).collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
    println(s"[example] clean-pass diff: $audit")
    spark.stop()
  }
}
