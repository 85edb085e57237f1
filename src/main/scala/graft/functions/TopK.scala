package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bounded per-group top-k as a real AGGREGATE, not a window.
  *
  * `Window.partitionBy(query_id) + row_number + filter(rank <= k)` is the
  * obvious formulation, but it shuffles EVERY scored candidate to one
  * reducer per query and sorts |candidates| rows there — at 100 TB the
  * per-query reducer sees the whole corpus. The bounded aggregate of
  * [[graft.expressions.BoundedTopK]] is planned as an
  * ObjectHashAggregate with map-side partial aggregation: each input
  * partition reduces its candidates to at most k locally, the shuffle
  * carries one <=k-entry buffer per (partition, query), and the final
  * merge is a k-way list merge — bounded state everywhere.
  *
  * Ordering contract: score DESC, then the key ASC, in Spark's SQL
  * order — identical to the window formulation it replaces (and to
  * DuckDB's), so results are deterministic and oracle-checkable. NaN
  * sorts largest, so a NaN score ranks FIRST; a caller who wants
  * NaN-scored rows last must filter them out. -0.0 and 0.0 are equal
  * scores, tied on the key. Strings compare by their UTF-8 bytes.
  */
object TopK {

  /** Top-k (term, score) rows per group with map-side partials — same
    * shape as [[perQuery]] for string-keyed payloads. Input columns:
    * group, term, score; output (group, term, rank, score). */
  def perGroupTerms(scored: DataFrame, k: Int): DataFrame =
    ranked(scored, "group", "term",
      graft.expressions.TopTermsAgg(col("term"), col("score"), k))

  /** The k smallest (sort_key, id) rows per group, with the payload
    * carried through: the roster-draw shape (rank by a hash, keep the
    * first k) without a per-group window sort. Input columns: group,
    * sort_key, id, payload; output (group, id, payload).
    *
    * STRING-TYPED CONTRACT: sort_key and id ride through string
    * columns of [[graft.expressions.MinKAgg]], so ordering is by UTF-8
    * bytes and the output id column is a string. A numeric id would be
    * silently upcast and re-ordered — callers must pre-format numeric
    * keys (zero-pad) or cast explicitly; enforced below rather than
    * silently coerced. */
  def perGroupMinK(df: DataFrame, k: Int): DataFrame = {
    Seq("sort_key", "id").foreach { c =>
      require(df.schema(c).dataType ==
        org.apache.spark.sql.types.StringType,
        s"perGroupMinK requires string-typed '$c' (got " +
          s"${df.schema(c).dataType}); cast/format upstream — implicit " +
          "upcast would change output type and ordering")
    }
    df.groupBy(col("group"))
      .agg(graft.expressions.MinKAgg(
        col("sort_key"), col("id"), col("payload"), k).as("top"))
      .select(col("group"), explode(col("top")).as("e"))
      .select(col("group"), col("e.id").as("id"),
        col("e.payload").as("payload"))
  }

  /** Rank `scored` (columns query_id, neighbor_id, score) down to the
    * top k per query_id, emitting (query_id, neighbor_id, rank, score)
    * with rank 1..k by (score desc, neighbor_id) — drop-in for the
    * window+row_number formulation with map-side partials. */
  def perQuery(scored: DataFrame, k: Int): DataFrame =
    ranked(scored, "query_id", "neighbor_id",
      graft.expressions.TopKAgg(col("neighbor_id"), col("score"), k))

  /** (group, key, rank, score) rows of a per-`group` top-k aggregate. */
  private def ranked(df: DataFrame, group: String, key: String,
                     top: Column): DataFrame =
    df.groupBy(col(group))
      .agg(top.as("top"))
      .select(col(group), posexplode(col("top")))
      .select(
        col(group),
        col(s"col.$key").as(key),
        (col("pos") + 1).cast("int").as("rank"),
        col("col.score").as("score"))
}
