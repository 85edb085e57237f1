package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{Gopher, TextAnalysis}

/** The DATASET CARD: one (section, metric, value) long table a curator
  * publishes with a corpus — volume, composition shares, duplication,
  * and quality pass rate in a single gate-checked artifact. Reference
  * anchor: the counts pipeline publishes one artifact per corpus build
  * (tfds_pipelines.py:81-141) and is one-scan by construction.
  *
  * Two plan shapes behind one exact semantics (both hash-identical to
  * the shared DuckDB oracle):
  *
  *  - `fuseScans = false` (default): each section is its own lazy
  *    aggregate over the corpus — six scans, but they run as
  *    overlapping jobs and at local/sf0.1 scale the job-level
  *    parallelism WINS (measured r7: the fused scan was 1.2-2.5x
  *    slower at sf0.1 — recorded in SURVEY §21).
  *  - `fuseScans = true`: ONE derived scan computes every per-doc
  *    signal (lang, source, fingerprint, token count, gopher pass),
  *    then a single grouping-sets aggregation covers the global,
  *    per-lang, and per-source sections. At cluster scale the corpus
  *    read dominates and 1 scan beats 6 — the 100 TB shape. The
  *    grouped result is slice-bounded (1 + |langs| + |sources| rows),
  *    checkpointed once, and every section derives from it without
  *    touching the corpus again.
  *
  * The near-dup pair count rides the standard candidate pipeline
  * (shingle -> minhash band -> bucket join) in BOTH shapes — it is a
  * join-shaped computation, not a scan section, so there is nothing to
  * fuse it into.
  */
object DatasetCard {

  def card(docs: DataFrame, fuseScans: Boolean = false): DataFrame = {
    val nearPairs = Dedup.ngramJaccardPairs(docs,
        col("text"), col("doc_id"), n = 3, threshold = 0.8)
      .agg(count(lit(1)).as("v"))
      .select(lit("dedup").as("section"),
        lit("neardup_pairs").as("metric"), col("v").as("value"))
    scanSections(docs, fuseScans).union(nearPairs)
  }

  /** The scan-shaped sections alone (everything but the near-dup pair
    * branch, which is identical in both shapes) — public so ScaleStress
    * can measure the 6-scan vs 1-scan crossover without candidate-join
    * noise. */
  def scanSections(docs: DataFrame, fuseScans: Boolean): DataFrame =
    if (fuseScans) fused(docs) else parallel(docs)

  /** Six independent lazy aggregates; jobs overlap in the scheduler. */
  private def parallel(docs: DataFrame): DataFrame = {
    val total = docs.count()
    val volume = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(TextAnalysis.tokenCount(col("text"))).as("n_tokens"))
      .select(explode(array(
        struct(lit("corpus").as("section"), lit("n_docs").as("metric"),
          col("n_docs").as("value")),
        struct(lit("corpus").as("section"),
          lit("n_tokens").as("metric"),
          col("n_tokens").as("value")))))
      .select(col("col.*"))
    val langShares = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"))
      .select(lit("lang_share_ppm").as("section"),
        col("lang").as("metric"),
        expr(s"n * 1000000 DIV $total").as("value"))
    val srcShares = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n"))
      .select(lit("source_share_ppm").as("section"),
        col("source").as("metric"),
        expr(s"n * 1000000 DIV $total").as("value"))
    val exactDups = docs
      .select(TextAnalysis.fingerprint(col("text")).as("fp"))
      .agg((count(lit(1)) - countDistinct(col("fp"))).as("v"))
      .select(lit("dedup").as("section"),
        lit("exact_dup_docs").as("metric"), col("v").as("value"))
    val quality = Gopher.stats(docs, col("doc_id"), col("text"))
      .agg(sum(when(col("gopher_pass"), 1L).otherwise(0L)).as("p"))
      .select(lit("quality").as("section"),
        lit("gopher_pass_ppm").as("metric"),
        expr(s"p * 1000000 DIV $total").as("value"))
    volume.union(langShares).union(srcShares)
      .union(exactDups).union(quality)
  }

  /** One corpus scan -> grouping sets; sections assemble from the
    * checkpointed slice-bounded aggregate. */
  private def fused(docs0: DataFrame): DataFrame = {
    // r10 added a parallelism floor here on mechanism alone (honestly
    // declared unmeasured); r11's same-window A/B (card-floor vs
    // card-nofloor, both orders) found no confirmed
    // delta — warm means ~5.2s vs ~5.0s, inside noise — so per the
    // keep-only-with-a-confirmed-delta rule the floor is REVERTED to
    // keep the plan minimal. (The `parallel` shape never had one —
    // its heavy section barriers inside Gopher.stats.)
    val docs = docs0
    // every per-doc signal in one projection; the repartition barrier
    // materializes __toks as an attribute so CollapseProject cannot
    // inline the tokenize subtree into each gopher signal (the
    // Gopher.stats recipe), and spreads the signal battery across all
    // cores regardless of upstream split count
    val derived = docs.select(
        col("lang"), col("source"),
        length(col("text")).as("__chars"),
        TextAnalysis.tokens(col("text")).as("__toks"),
        TextAnalysis.tokenCount(col("text")).as("n_tok"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
      .repartition(col("fp"))
      .select(col("lang") +: col("source") +: col("n_tok") +: col("fp") +:
        Gopher.signalsFromToks(col("__toks"), col("__chars")): _*)
      .select(col("lang"), col("source"), col("n_tok"), col("fp"),
        col("gopher_pass"))
    // gid bits (lang, source): global=3, by-lang=1, by-source=2
    val g = derived.groupingSets(
        Seq(Seq.empty, Seq(col("lang")), Seq(col("source"))),
        col("lang"), col("source"))
      .agg(count(lit(1)).as("n"),
        sum(col("n_tok")).as("n_tokens"),
        countDistinct(col("fp")).as("n_fp"),
        sum(when(col("gopher_pass"), 1L).otherwise(0L)).as("n_pass"),
        grouping_id().as("gid"))
      .localCheckpoint() // bounded: 1 + |langs| + |sources| rows
    // total reads off the materialized aggregate (bounded, 1 row) —
    // no second corpus scan and no nested-loop totals broadcast
    val globalRow = g.filter(col("gid") === 3)
      .select(col("n"), col("n_tokens"), col("n_fp"), col("n_pass"))
      .head()
    val total = globalRow.getLong(0)
    val volume = g.filter(col("gid") === 3)
      .select(explode(array(
        struct(lit("corpus").as("section"), lit("n_docs").as("metric"),
          col("n").as("value")),
        struct(lit("corpus").as("section"), lit("n_tokens").as("metric"),
          col("n_tokens").as("value")))))
      .select(col("col.*"))
    val langShares = g.filter(col("gid") === 1)
      .select(lit("lang_share_ppm").as("section"),
        col("lang").as("metric"),
        expr(s"n * 1000000 DIV $total").as("value"))
    val srcShares = g.filter(col("gid") === 2)
      .select(lit("source_share_ppm").as("section"),
        col("source").as("metric"),
        expr(s"n * 1000000 DIV $total").as("value"))
    val exactDups = g.filter(col("gid") === 3)
      .select(lit("dedup").as("section"),
        lit("exact_dup_docs").as("metric"),
        (col("n") - col("n_fp")).as("value"))
    val quality = g.filter(col("gid") === 3)
      .select(lit("quality").as("section"),
        lit("gopher_pass_ppm").as("metric"),
        expr(s"n_pass * 1000000 DIV $total").as("value"))
    volume.union(langShares).union(srcShares)
      .union(exactDups).union(quality)
  }
}
