package graft

import org.apache.spark.sql.execution.ExpandExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.functions._

/** Plan-regression gate over the WHOLE declared query surface: a future
  * edit that reintroduces an unbroadcast dimension join (nested-loop), a
  * cartesian pair blowup, or an oversized Expand (the multi-distinct
  * rows x cols shape the profiler once had) fails `sbt test` instead of
  * surfacing as a bench anomaly indistinguishable from host throttle.
  *
  * Planning-only where possible: building each query's executedPlan at
  * sf0.001 (a handful of queries do bounded side work at declaration —
  * stats collects, temp-dir writes, stream drains — by design; all are
  * cheap at this SF).
  */
class PlanAuditSpec extends SparkSpec {

  /** Queries allowed a nested-loop/cartesian node BY DESIGN — each is a
    * broadcast-bounded shape, not a corpus x corpus blowup:
    *  - neardup_embeddings_exact: the declared-quadratic all-pairs
    *    verification twin of the LSH embedding dedup (input bounded by
    *    contract);
    *  - similarity_topk/ann/rag: a BOUNDED query batch broadcast
    *    against the corpus (brute-force contract / Hamming multi-probe
    *    non-equi predicate) — corpus side streams, never shuffles;
    *  - mix_sources_weighted / cohort_rounds_documents /
    *    vocab_top_tokens: a single-row (or |rounds|-row)
    *    scalar-totals/roster broadcast cross join.
    * Anything NOT in this list growing a nested-loop node is a plan
    * regression. */
  private val nestedLoopByDesign: Set[String] = Set(
    "neardup_embeddings_exact",
    "similarity_pq_adc",
    "similarity_topk_embeddings",
    "similarity_ann_embeddings",
    "eval_mrr_retrieval", // composes similarity_ann (Hamming broadcast probe)
    "embedding_label_noise", // bounded 100-probe broadcast vs corpus
    "similarity_matryoshka_recall", // bounded 16-query broadcast per dim
    "search_hybrid_rrf", // dense leg = single-query broadcast topk
    // dense leg = single-query LUT broadcast vs the 8-byte code rows
    // (the similarity_pq_adc shape)
    "search_hybrid_rrf_indexed",
    "train_triplets_embeddings", // bounded anchor roster broadcast
    // src batch broadcast fwd; bwd queries = the <=|src|*k candidate
    // roster, also broadcast — both sides bounded by contract
    "mine_bitext_margin",

    "rag_retrieval_pipeline",
    "mix_sources_weighted",
    "mix_temperature_lang", // same single-row totals broadcast as mix_sources
    "mix_epochs_budget", // single-row weight-total broadcast onto |langs| rows
    "dsir_select_documents", // single-row totals broadcast onto 256 buckets
    "cohort_rounds_documents",
    "vocab_top_tokens",
    // same single-row token-total broadcast as vocab_top_tokens
    "text_cooccurrence_lift",
    "events_covisitation_lift",
    // same single-row token-total broadcast, stream-state twin
    "events_stream_covisitation",
    "vocab_subsample_tokens",
    // same single-row token-total broadcast as vocab_subsample_tokens
    "train_blocks_subsampled",
    // single-row max-bucket broadcast bounding the sliding-window
    // gap-fill (Kmv.slidingFromBuckets)
    "events_sliding_distinct_users",
    "events_stream_distinct_users",
    "events_stickiness_ratio")

  /** Expand is legitimate for small grouping-set factors (rollup = d+1
    * projections) — anything wider than this is a blowup. */
  private val maxExpandProjections = 4

  test("no nested-loop/cartesian joins or oversized Expand in any declared plan") {
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    // AQE wraps plans in AdaptiveSparkPlanExec, which hides the physical
    // tree from collect() until execution — audit the static plan
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val offences = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
        case (name, fn) =>
          val plan = fn(spark, sf0001).queryExecution.executedPlan
          val nlj = plan.collect {
            case _: BroadcastNestedLoopJoinExec => "BroadcastNestedLoopJoin"
            case _: CartesianProductExec => "CartesianProduct"
          }
          val wideExpands = plan.collect {
            case e: ExpandExec if e.projections.length > maxExpandProjections =>
              s"Expand(${e.projections.length} projections)"
          }
          val bad =
            (if (nestedLoopByDesign(name)) Nil else nlj) ++ wideExpands
          bad.map(b => s"$name: $b")
      }
      withClue(offences.mkString("\n")) { offences shouldBe empty }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  test("no tokenize battery inlined into a scan filter (pushdown duplication)") {
    // PushDownPredicates pushes a filter over a computed projection
    // through Project/Repartition with the computing expression INLINED
    // — a filter on a token-derived column re-runs split+filter inside
    // the (often single-task) scan stage, doubling the hottest battery
    // (the r3 99s corpus_clean regression, and the shape packFixedContext
    // dodges with a null-guarded explode). The shingle-family queries
    // below CHOOSE a pushed token-count prefilter (tokenize is ~10x
    // cheaper than the shingle battery it spares sub-n docs from —
    // Dedup.scala "pre-filter on the cheap token count" comments);
    // anything else growing tokenize inside a FileScan's DataFilters is
    // the duplication bug.
    val pushedTokenPrefilterByDesign: Set[String] = Set(
      "dedup_minhash_documents",
      "dedup_incremental_minhash", // same shingleSets prefilter as minhash
      "dedup_containment_documents", // same shingleSets prefilter
      "dataset_card_documents", // composes ngramJaccardPairs
      "dataset_card_fused", // same ngramJaccardPairs near-dup branch
      "dedup_ngram_documents",
      "profile_source_overlap", // composes ngramJaccardPairs, same prefilter
      "dedup_simhash_documents",
      "text_novelty_bigram")
    val offences = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) if !pushedTokenPrefilterByDesign(name) =>
        val plan = fn(spark, sf0001).queryExecution.executedPlan.toString
        if ("DataFilters: \\[[^\\]]*split\\(".r.findFirstIn(plan).isDefined)
          Some(s"$name: tokenize in scan DataFilters")
        else None
      case _ => None
    }
    withClue(offences.mkString("\n")) { offences shouldBe empty }
  }

  test("cohort draw ranks through the bounded min-k aggregate, not a window sort") {
    // Cohorts.select once ranked the full per-round roster with
    // row_number() — roster-sized, but at 15M groups x many rounds the
    // per-round sort is the avoidable cost. The bounded aggregator
    // keeps <= cohortSize state per round; a WindowExec reappearing in
    // this plan is the regression.
    val plan = SparkEntry.queries("cohort_rounds_documents")(spark, sf0001)
      .queryExecution.executedPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    withClue(plan.toString) { windows shouldBe empty }
  }

  test("column pruning reaches the parquet scan on relational queries") {
    // every rel_* query touches a SUBSET of lineitem's 11 columns; a
    // scan whose ReadSchema carries all 11 means a projection stopped
    // being pushed down (the 2-column-projection-reads-everything
    // regression the brief calls out explicitly)
    val offences = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(_._1.startsWith("rel_"))
      .flatMap { case (name, fn) =>
        val plan = fn(spark, sf0001).queryExecution.executedPlan.toString
        "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(plan)
          .map(_.group(1).count(_ == ',') + 1)
          .filter(_ >= 11)
          .map(n => s"$name: scan reads $n columns (pruning lost)")
      }
    withClue(offences.mkString("\n")) { offences shouldBe empty }
  }

  test("Opaque passes values through and blocks pushdown-style moves") {
    import spark.implicits._
    val df = Seq(1, 2, 3, 4).toDF("x")
    val got = df.filter(graft.expressions.Opaque(col("x") % 2 === 0))
      .collect().map(_.getInt(0)).sorted
    assert(got.sameElements(Array(2, 4)))
    // the wrapped expression must report non-deterministic
    assert(!org.apache.spark.sql.GraftSql
      .expression(graft.expressions.Opaque(col("x") > 1)).deterministic)
  }

  test("parallelismFloor lifts low-partition scans, leaves wide ones, keeps values") {
    val docs = Tables(spark, sf001, "documents").select("doc_id", "text")
    val p = spark.sparkContext.defaultParallelism
    assert(docs.rdd.getNumPartitions < p, "fixture: testdata scan is narrow")
    val floored = Tables.parallelismFloor(docs)
    assert(floored.rdd.getNumPartitions >= p)
    val wide = docs.repartition(p * 2)
    assert(Tables.parallelismFloor(wide).rdd.getNumPartitions == p * 2,
      "already-parallel input must not gain an exchange")
    val a = docs.agg(sum(octet_length(col("text"))), count(lit(1))).head()
    val b = floored.agg(sum(octet_length(col("text"))), count(lit(1))).head()
    assert(a == b)
  }

  test("parallelismFloor floors narrow scans without df.rdd, skips non-narrow plans") {
    val docs = Tables(spark, sf001, "documents").select("doc_id", "text")
    // scanWidth sees the single-file scan without converting to RDD
    assert(Tables.scanWidth(docs).exists(_ >= 1))
    val p = spark.sparkContext.defaultParallelism
    assert(Tables.parallelismFloor(docs).rdd.getNumPartitions >= p)
    // a shuffling plan is not narrow: no width probe, no floor — the
    // r10 .rdd probe would have materialized its stages at
    // construction under AQE (ADVICE r10 / VERDICT item 10)
    val agged = docs.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    assert(Tables.scanWidth(agged).isEmpty)
    assert(Tables.parallelismFloor(agged) eq agged)
    // filters over the scan stay narrow
    val filtered = docs.filter(
      org.apache.spark.sql.functions.length(col("text")) > 10)
    assert(Tables.scanWidth(filtered).exists(_ >= 1))
  }
}
