package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-round cohort selection over a group-partitioned dataset — the
  * downstream-consumption step the reference's federated training
  * examples run every round: sample a cohort of M groups, load each
  * group's example stream, run local training
  * (examples/fedavg/trainer.py builds cohorts by sampling shard files
  * per round; the examples/datasets pipelines define the partitioning).
  *
  * Selection is DETERMINISTIC: per round r, groups are ranked by
  * md5(r || '|' || group_id) and the first M win — reproducible across
  * engines/retries (an exact cross-engine oracle), uniform-without-
  * replacement within a round, independent across rounds. This is the
  * seeded-shuffle cohort draw of the reference made partition-stable.
  *
  * Scale shape: the ranking operates on the GROUP ROSTER (one row per
  * group), never corpus rows, and the per-round draw is a BOUNDED
  * min-k aggregation ([[graft.functions.TopK.perGroupMinK]]) rather
  * than a window sort — map-side partials reduce each partition's
  * roster slice to <= cohortSize candidates before the shuffle, so a
  * 15M-group roster x many rounds never sorts |roster| rows per round.
  */
object Cohorts {

  /** (round, group_id, n_examples) for `rounds` rounds of cohorts of
    * `cohortSize` groups drawn from `df` keyed by `grouper`. */
  def select(df: DataFrame, grouper: Grouper, rounds: Int,
             cohortSize: Int): DataFrame = {
    val roster = df.select(grouper.key.as("group_id"))
      .groupBy(col("group_id"))
      .agg(count(lit(1)).as("n_examples"))
    val spark = df.sparkSession
    val r = spark.range(rounds).select(col("id").as("round"))
    graft.functions.TopK.perGroupMinK(
      r.crossJoin(roster).select(
        col("round").as("group"),
        md5(concat_ws("|", col("round").cast("string"),
          col("group_id"))).as("sort_key"),
        col("group_id").as("id"),
        col("n_examples").as("payload")),
      cohortSize)
      .select(col("group").as("round"), col("id").as("group_id"),
        col("payload").as("n_examples"))
  }
}
