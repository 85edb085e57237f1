package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** K-minimum-values (KMV) distinct-count sketch — the bounded-state
  * cardinality estimator the profiler defaults to at corpus scale.
  *
  * Why not `count(DISTINCT c)` / melt+distinct: exact distinct counting
  * shuffles the full distinct set (for a multi-column profile, a
  * rows x cols copy of the corpus). Why not `approx_count_distinct`:
  * Spark's HLL++ is not bit-replicable in other engines, so the result
  * can't be oracle-checked. KMV is both: the sketch keeps only the k
  * smallest DISTINCT u32 hashes of the rendered values (k longs of
  * state per column, map-side partials, shuffle carries <=k values per
  * partition per column), and the estimate is a pure integer function
  * of that set —
  *
  *   n_distinct_est = n            (n < k distinct hashes seen: exact)
  *                  = (k-1)*2^32 DIV h_k    (h_k = k-th smallest hash)
  *
  * — so any engine with md5 replays it bit-for-bit (the repo's
  * md5-anchored determinism pattern; DuckDB oracle uses
  * `('0x'||substr(md5(v),1,8))::BIGINT` + a window rank). Standard KMV
  * error is ~1/sqrt(k-2) (~3% at k=1024). Hash collisions at u32 fold
  * identically in both engines, so cross-engine equality is exact even
  * when the estimate is not.
  */
object Kmv {

  /** u32 hash of a rendered value: first 8 hex chars of md5, as a long
    * in [0, 2^32). Null in -> null out (callers filter or sentinel,
    * matching SQL `count(DISTINCT)` null semantics). md5 is the
    * ANCHORED variant — any engine replays it — but costs ~1us/value;
    * [[u32Xx]] is the fast library default. */
  def u32(rendered: Column): Column =
    graft.expressions.Md5Hex.u32(rendered.cast("string"))

  /** Fast-path u32: xxhash64 folded into [0, 2^32) (codegen'd, no hex
    * round-trip). Spark-only — no cross-engine twin — so the declared
    * oracle query keeps [[u32]]; estimates differ from the md5 sketch
    * only within KMV error (different uniform hash family). Explicitly
    * null-gated: unlike md5, xxhash64 maps a null input to the seed
    * hash instead of null, which would count nulls as a value. */
  def u32Xx(rendered: Column): Column = {
    val r = rendered.cast("string")
    when(r.isNotNull, pmod(xxhash64(r), lit(4294967296L)))
  }

  /** KMV estimate from a finished sketch ATTRIBUTE (named column,
    * sorted ascending, <= k entries): exact below k, else
    * (k-1)*2^32 div h_k — the same integer arithmetic as the
    * [[graft.expressions.KmvAgg]] estimate, expressed over columns so
    * MERGED sketches can be estimated in-plan. */
  def estFromSketch(sketchName: String, k: Int): Column =
    when(size(col(sketchName)) < k, size(col(sketchName)).cast("long"))
      .otherwise(
        expr(s"${(k - 1).toLong * 4294967296L}L div " +
          s"greatest(element_at($sketchName, $k), 1L)"))

  /** Union of two finished sketches: the k smallest distinct of the
    * concatenation — a valid KMV sketch of the UNION of the underlying
    * sets (semilattice merge; no rescan of either input). */
  def unionSketch(a: Column, b: Column, k: Int): Column =
    slice(array_sort(array_distinct(concat(a, b))), 1, k)

  /** SLIDING-WINDOW distinct estimation from per-bucket sketches —
    * "trailing-7-day active users per day" at 100 TB, where the exact
    * answer (count(DISTINCT) per overlapping window) re-scans every
    * row `windowBuckets` times and holds per-window hash sets of
    * unbounded size. Here each bucket is sketched ONCE (k longs of
    * state), and every window's estimate is the semilattice union of
    * its buckets' sketches: the corpus is read once, the sliding part
    * touches only the tiny (buckets x k-longs) sketch table. The
    * window fan-out is an EXPLODE of each bucket's sketch to the
    * windows it serves — an equi-shuffle on the window key, never a
    * range join. Estimates are the [[estFromSketch]] integer
    * arithmetic: exact below k, within KMV error above, identical in
    * any engine.
    *
    * `tsCol` is epoch-ns; a window labeled b covers buckets
    * (b-windowBuckets, b]. Output: (bucket, n_events, est_distinct). */
  def slidingDistinctEstimate(df: org.apache.spark.sql.DataFrame,
                              tsCol: Column, hash: Column, k: Int,
                              windowBuckets: Int,
                              bucketNs: Long): org.apache.spark.sql.DataFrame = {
    require(k > 0 && windowBuckets > 0 && bucketNs > 0,
      "k, windowBuckets, bucketNs must be positive")
    // native typed-imperative sketch (r11): bit-identical sketches,
    // no per-value encoder boxing (VERDICT item 1)
    def agg(c: Column) = graft.expressions.KmvAgg.sketch(c, k)
    val bucketed = df.select(
      ((tsCol - pmod(tsCol, lit(bucketNs))) / lit(bucketNs.toDouble))
        .cast("long").as("bucket"),
      hash.as("__h"))
      .groupBy(col("bucket"))
      .agg(agg(col("__h")).as("sk"), count(lit(1)).as("n_events"))
    slidingFromBuckets(bucketed, k, windowBuckets)
  }

  /** The sliding-union tail over an ALREADY-SKETCHED bucket table
    * (bucket, sk, n_events) — shared by [[slidingDistinctEstimate]]
    * and the streaming twin, where the per-bucket sketches are the
    * stream's aggregation state and this composition runs over the
    * (tiny) snapshot a dashboard reads. */
  def slidingFromBuckets(bucketedRaw: org.apache.spark.sql.DataFrame,
                         k: Int, windowBuckets: Int)
      : org.apache.spark.sql.DataFrame = {
    val bucketed = bucketedRaw
      .localCheckpoint() // tiny; two consumers (contrib + bucket set)
    val contrib = bucketed.select(col("sk"),
      explode(sequence(col("bucket"),
        col("bucket") + (windowBuckets - 1))).as("bucket"))
    val unioned = contrib.groupBy(col("bucket"))
      .agg(slice(array_sort(array_distinct(
        flatten(collect_list(col("sk"))))), 1, k).as("sk"))
    // interior gap buckets (a day with zero events but prior activity
    // inside the window) still report trailing actives: LEFT-join the
    // event counts (coalesce 0) and bound at the last REAL bucket via
    // a single-row max broadcast, which is all that the old inner
    // join was legitimately dropping (phantom windows past the end)
    val maxB = bucketed.agg(max(col("bucket")).as("__max_bucket"))
    unioned
      .join(broadcast(maxB))
      .filter(col("bucket") <= col("__max_bucket"))
      .join(bucketed.select(col("bucket"), col("n_events")),
        Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        estFromSketch("sk", k).as("est_distinct"))
  }

  /** One-pass sketch-union profile: hashes flagged `inA` sketch into
    * side A, `inB` into side B (rows can be in both — overlapping
    * versions), then the union sketch and inclusion-exclusion
    * intersection estimate derive IN-PLAN from the two sketches. ONE
    * corpus scan, one single-row aggregate, no joins. Output row:
    * (k, est_a, est_b, est_union, est_intersect). */
  def sketchUnionEstimate(df: org.apache.spark.sql.DataFrame,
                          hash: Column, inA: Column, inB: Column,
                          k: Int): org.apache.spark.sql.DataFrame = {
    def agg(c: Column) = graft.expressions.KmvAgg.sketch(c, k)
    df.select(
        when(inA, hash).otherwise(lit(-1L)).as("__ha"),
        when(inB, hash).otherwise(lit(-1L)).as("__hb"))
      .agg(agg(col("__ha")).as("sk_a"), agg(col("__hb")).as("sk_b"))
      .withColumn("sk_u", unionSketch(col("sk_a"), col("sk_b"), k))
      .select(lit(k).as("k"),
        estFromSketch("sk_a", k).as("est_a"),
        estFromSketch("sk_b", k).as("est_b"),
        estFromSketch("sk_u", k).as("est_union"))
      .withColumn("est_intersect",
        greatest(col("est_a") + col("est_b") - col("est_union"), lit(0L)))
  }
}
