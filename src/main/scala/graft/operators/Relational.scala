package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Relational coverage queries (SURVEY §2.4): the reference has no
  * joins/sorts/windows/set-ops, so these come from Spark built-ins at
  * zero reimplementation cost — declared here so the engine demonstrably
  * covers every category, each with an exact DuckDB oracle.
  *
  * Scale notes are per query; the common themes: dimension tables are
  * explicitly `broadcast` (no shuffle of the fact table for dim joins),
  * aggregations are partial+final automatically, windows co-partition
  * with their groupBy so one exchange serves both.
  */
object Relational {

  /** Multi-join revenue rollup: lineitem ⋈ orders ⋈ customer ⋈ nation ⋈
    * region, filtered to finished orders. Fact-to-fact joins shuffle on
    * the join key; nation/region (and customer at these SFs) broadcast. */
  def revenueByRegion(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    val o = Tables(s, dir, "orders").filter(col("o_orderstatus") === "F")
    val c = Tables(s, dir, "customer")
    val n = Tables(s, dir, "nation")
    val r = Tables(s, dir, "region")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name").as("region_name"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"),
        count(lit(1)).as("n_lineitems"),
        countDistinct(col("o_orderkey")).as("n_orders"))
  }

  /** TPC-H Q1-shaped pricing summary: wide aggregate over lineitem with
    * distinct counts. Single shuffle, map-side partials. */
  def pricingSummary(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(avg(col("l_quantity")), 6).as("avg_qty"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("count_order"),
        countDistinct(col("l_orderkey")).as("n_orders"))

  /** Top-k with deterministic tie-break: 10 highest-value customers.
    * groupBy + orderBy + limit — Catalyst plans TakeOrderedAndProject
    * (no full sort of the aggregate output). */
  def topCustomers(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val o = Tables(s, dir, "orders")
    val c = Tables(s, dir, "customer")
    o.groupBy(col("o_custkey"))
      .agg(round(sum(col("o_totalprice")), 2).as("total_spent"),
        count(lit(1)).as("n_orders"))
      .join(c, col("o_custkey") === c("c_custkey"))
      .select(col("c_custkey").as("custkey"), col("c_name").as("name"),
        col("total_spent"), col("n_orders"))
      .orderBy(col("total_spent").desc, col("custkey"))
      .limit(k)
  }

  /** Semi/anti join coverage: per nation, customers with vs without
    * orders. Broadcast the distinct custkey set of orders?  No — it can
    * be large; Catalyst picks the join side. The per-nation counts (one
    * row per nation at most) are the broadcast build side of the two
    * nation-preserving outer joins: a left outer join can only build
    * its right side. */
  def customerOrderCoverage(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    val o = Tables(s, dir, "orders")
    val n = Tables(s, dir, "nation")
    val withOrders = broadcast(
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_with_orders")))
    val withoutOrders = broadcast(
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_without_orders")))
    n
      .join(withOrders, n("n_nationkey") === withOrders("c_nationkey"), "left")
      .drop("c_nationkey")
      .join(withoutOrders, n("n_nationkey") === withoutOrders("c_nationkey"), "left")
      .select(col("n_name").as("nation_name"),
        coalesce(col("n_with_orders"), lit(0L)).as("n_with_orders"),
        coalesce(col("n_without_orders"), lit(0L)).as("n_without_orders"))
  }

  /** Set-operation coverage: nations that have suppliers vs customers —
    * intersect and except (both DISTINCT set semantics, same as SQL). */
  def nationSetOps(s: SparkSession, dir: String): DataFrame = {
    val n = Tables(s, dir, "nation")
    val sup = Tables(s, dir, "supplier")
    val c = Tables(s, dir, "customer")
    val supplierNations = sup.join(broadcast(n),
      sup("s_nationkey") === n("n_nationkey")).select(col("n_name"))
    val customerNations = c.join(broadcast(n),
      c("c_nationkey") === n("n_nationkey")).select(col("n_name"))
    val both = supplierNations.intersect(customerNations)
      .withColumn("kind", lit("both"))
    val customerOnly = customerNations.except(supplierNations)
      .withColumn("kind", lit("customer_only"))
    both.unionByName(customerOnly)
      .select(col("n_name").as("nation_name"), col("kind"))
  }

  /** Window-function coverage: per-supplier running revenue and rank
    * over ship order. One shuffle on l_suppkey serves both window
    * functions (same partitioning). */
  def supplierRunningRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem").filter(col("l_suppkey") < 3)
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    val frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // running sums accumulate as exact decimals (per-item rounded to 4dp
    // first): double accumulation is order-dependent and DuckDB's
    // windowed sum uses a different order (segment tree), which flips
    // cents at rounding boundaries
    val itemRevenue = round(
      col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
      .cast("decimal(18,4)")
    li.select(
      col("l_suppkey").as("suppkey"),
      col("l_orderkey").as("orderkey"),
      col("l_linenumber").as("linenumber"),
      row_number().over(w).as("ship_seq"),
      // exact scaled integer (1e-4 units): immune to FP accumulation
      // order AND to double-cast rounding at the comparison boundary
      (sum(itemRevenue).over(frame) * 10000).cast("long")
        .as("running_revenue_e4"))
  }

  /** Statistical aggregation coverage: exact continuous-interpolation
    * percentiles (Spark `percentile` == DuckDB `quantile_cont`). */
  /** Exact interpolated percentiles, computed scale-safely: a direct
    * `percentile(col, p)` buffers EVERY row's value in the aggregation
    * state (per-group memory = group size — a 100 TB OOM). Instead,
    * melt the two measures and reduce to a (flag, measure, value) ->
    * count HISTOGRAM first — a normal hash aggregate with map-side
    * combine whose cardinality is bounded by the VALUE DOMAIN (money
    * cents / integer quantities), not the row count — then feed the
    * counts to `percentile(value, p, freq)`. Spark's percentile buffer
    * is a value->count map either way, so the result is bit-identical
    * to the direct formulation; only the state bound changes. */
  def priceQuantiles(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .select(col("l_returnflag"), posexplode(array(
        col("l_extendedprice"), col("l_quantity"))).as(Seq("m", "v")))
      .groupBy(col("l_returnflag"), col("m"), col("v"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(if(m = 0, v, null), 0.5, cnt)"), 4)
          .as("median_price"),
        round(expr("percentile(if(m = 0, v, null), 0.95, cnt)"), 4)
          .as("p95_price"),
        round(expr("percentile(if(m = 1, v, null), 0.25, cnt)"), 4)
          .as("q1_qty"))

  /** Multi-level aggregation coverage: ROLLUP over (returnflag,
    * linestatus) — subtotal and grand-total rows; null grouping keys are
    * rendered as 'ALL' so the oracle's text shape matches exactly. */
  def pricingRollup(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n"), col("sum_qty"))

  /** Pivot coverage: order counts per priority pivoted by status —
    * expressed in the oracle as conditional aggregation (the portable
    * SQL shape of PIVOT). */
  def ordersPivot(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .withColumnRenamed("F", "n_f")
      .withColumnRenamed("O", "n_o")
      .withColumnRenamed("P", "n_p")

  // ------------------------------------------------------------- events

  /** Semi-structured coverage: extract a typed field from the JSON
    * `props` payload and aggregate it per event type (`get_json_object`
    * — the schema-on-read path for property bags). */
  def eventsJsonProps(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n_with_k"),
        sum(col("k")).as("sum_k"),
        max(col("k")).as("max_k"))

  /** Tumbling 5-minute windows over the event stream (epoch-nanos long
    * `ts`): count + value rollup per (window, event_type). The batch
    * twin of the Structured Streaming tumbling-window pipeline in
    * graft.streaming. */
  def eventsTumbling(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "events")
    // exact integer division (long ns -> floor seconds -> window start);
    // a double-precision divide would round 2^63-scale nanos
    val winStart = (expr("ts DIV 1000000000 DIV 300") * 300L).as("window_start")
    e.groupBy(winStart, col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        exactValueSumE4.as("total_value_e4"))
  }

  /** SLIDING 10-minute windows every 5 minutes (event-time window
    * family completion beside tumbling/session): each event lands in
    * exactly two windows, generated as a width-2 integer explode off
    * the same exact `DIV` arithmetic as [[eventsTumbling]] — not
    * Spark's TimeWindow expand — so membership replays as integer SQL
    * and the aggregate carries the exact e4 value-sum idiom. Shape:
    * one projection (2 rows out per event), one map-combined hash
    * aggregation; the 2x row fan-out happens map-side, pre-combine, so
    * the shuffle still carries only (window, type) partials. */
  def eventsSliding(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "events")
    val s0 = expr("ts DIV 1000000000 DIV 300 * 300")
    e.select(col("event_type"), col("value"),
        explode(array(s0, s0 - lit(300L))).as("window_start"))
      .groupBy(col("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        exactValueSumE4.as("total_value_e4"))
  }

  /** Cohort retention matrix — the activation/retention readout: users
    * cohort by their FIRST active day; each later active day counts
    * into (cohort_day, day_offset). Shape: day-granular activity
    * distinct (one shuffle), first-day aggregate (map-combined,
    * user-sized), a user-keyed join both sides co-partition on, and a
    * matrix-sized final aggregate. No corpus-wide window. */
  def eventsRetentionCohorts(s: SparkSession, dir: String): DataFrame = {
    val days = Tables(s, dir, "events")
      .select(col("user_id"), expr("ts DIV 86400000000000").as("day"))
    val coh = days.groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort_day"))
    days.distinct()
      .join(coh, "user_id")
      .groupBy(col("cohort_day"),
        (col("day") - col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** Exact order-independent sum of the events `value` column, emitted as
    * a scaled integer (1e-4 units). `round(sum(double), 2)` is a latent
    * hash-FAIL: Spark's partial aggregation and DuckDB add in different
    * orders, which flips the rounded cent in final-ulp cases (this is
    * exactly what sank events_sessions_30min in round 1). Per-item round
    * to 4dp -> exact DECIMAL accumulation -> scaled long is immune to
    * both accumulation order and double-render differences; the same
    * pattern already passes the driver hash in supplierRunningRevenue.
    *
    * Precondition for cross-engine exactness: values carry at most 4
    * decimal digits (true of the driver events table), so the per-item
    * round is the identity. For inputs with longer mantissas near a
    * .xxxx5 tie, Spark rounds HALF_UP on the shortest-decimal rendering
    * while DuckDB rounds the binary double — pick the scale below the
    * data's actual precision if reusing this pattern elsewhere. */
  private[graft] def exactValueSumE4 =
    (sum(round(col("value"), 4).cast("decimal(18,4)")) * 10000).cast("long")

  /** Sessionization with a 30-minute inactivity gap (gaps-and-islands):
    * lag + cumulative-sum window per user, then per-session rollup.
    * Both windows and the final groupBy share the user_id partitioning.
    * The streaming twin uses `session_window` in graft.streaming. */
  def eventsSessions(s: SparkSession, dir: String,
                     gapSeconds: Long = 1800L): DataFrame = {
    val e = Tables(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        expr("ts DIV 1000000000").as("tsec"), col("value"))
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("tsec"), col("event_id"))
    val marked = e.withColumn("new_session",
      when(col("tsec") - lag(col("tsec"), 1).over(byUser) > gapSeconds, 1L)
        .otherwise(when(lag(col("tsec"), 1).over(byUser).isNull, 1L).otherwise(0L)))
    val sessioned = marked.withColumn("session_seq",
      sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sessioned.groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        min(col("tsec")).as("session_start"),
        max(col("tsec")).as("session_end"),
        exactValueSumE4.as("session_value_e4"))
  }

  /** Salted equi-join for skewed keys: the big side gets a
    * deterministic salt in [0, buckets) hashed from its OTHER columns
    * (so one hot key's rows spread over `buckets` reducers), and the
    * small side is replicated once per bucket — the join key becomes
    * (key, salt), turning one hot reducer into `buckets` even ones.
    * Result is exactly the plain join. AQE's skew-join split handles
    * the sort-merge case at runtime; explicit salting remains the tool
    * when the skew sits in a hash aggregate above the join or AQE's
    * post-shuffle stats miss it (brief-listed 100 TB technique, same
    * family as GroupCounts.salted). Salt derives from xxhash64 of
    * `saltCols`, so plans stay deterministic — no rand(). */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 saltCols: Seq[Column], buckets: Int = 8): DataFrame = {
    val salted = big.withColumn("__salt",
      pmod(xxhash64(saltCols: _*), lit(buckets.toLong)))
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0L), lit(buckets.toLong - 1))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** As-of (backward) join — for each left row, attach the payload of
    * the LATEST right row with the same key and right.time <= left.time
    * (strictly < when `strict`). Spark has no native as-of join; the
    * range-join formulation (join on key + inequality, then keep max)
    * explodes quadratically per key. This is the linear shape instead:
    * tag both sides, union, and run ONE running-`last(ignoreNulls)`
    * window over (key, time) — a single exchange + sort on the key, the
    * same plan a sessionization pays. That survives 100 TB: the shuffle
    * is |left| + |right| rows, state per task is one payload struct.
    *
    * Returns every left row plus a nullable `asof` struct holding ALL
    * non-key right columns (time included); no match => null. Tie rule:
    * at equal time the right row is visible unless `strict`.
    * Precondition: at most one right row per (keys, time) — otherwise
    * which same-timestamp payload wins is tie-order-dependent;
    * pre-aggregate the right side to that grain first. */
  /** Batch range (interval) join with NO equi-key: pair every left row
    * with the right rows whose `rightTime` falls inside
    * [leftTime + lowerNs, leftTime + upperNs] (inclusive, all values
    * epoch-nanosecond longs). Spark plans a bare inequality join as
    * BroadcastNestedLoopJoin — an all-pairs scan that is quadratic in
    * the table sizes and the classic 100 TB range-join failure mode.
    * The scalable shape instead quantizes time into bins of width
    * `binNs`: each RIGHT row lands in exactly one bin (so no pair is
    * produced twice), each LEFT row explodes over the
    * `(upper-lower)/bin + 1` bins its window can overlap (pick
    * binNs >= upperNs-lowerNs to make that a constant 2), and the pair
    * generation becomes an EQUI-join on the bin — hash-partitioned,
    * AQE-skew-splittable, never a nested loop. The exact interval
    * predicate filters the equi-join's output. Same binning trick
    * Structured Streaming's interval join state layout uses; this is
    * the batch twin of graft.streaming's stream-stream interval join.
    *
    * Inner join: left rows with no partner produce nothing (left-join
    * semantics = aggregate the pairs, then join back onto the left
    * roster). Column names of the two inputs must be disjoint.
    * Precondition: leftTime + lowerNs >= 0 (SQL DIV truncates toward
    * zero, so a negative shifted time would bin off-by-one). */
  def rangeJoinBinned(left: DataFrame, right: DataFrame,
                      leftTime: String, rightTime: String,
                      lowerNs: Long, upperNs: Long, binNs: Long): DataFrame = {
    require(binNs > 0, "binNs must be positive")
    require(lowerNs <= upperNs, s"empty interval [$lowerNs, $upperNs]")
    val l = left.withColumn("__bin", explode(sequence(
      expr(s"(`$leftTime` + ($lowerNs)) DIV $binNs"),
      expr(s"(`$leftTime` + ($upperNs)) DIV $binNs"))))
    val r = right.withColumn("__bin", expr(s"`$rightTime` DIV $binNs"))
    l.join(r, Seq("__bin"))
      .filter(col(rightTime) >= col(leftTime) + lowerNs &&
        col(rightTime) <= col(leftTime) + upperNs)
      .drop("__bin")
  }

  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               time: String, strict: Boolean = false): DataFrame = {
    val payloadCols = right.columns.filterNot(keys.contains).toSeq
    // inclusive: right sorts BEFORE left at equal time (visible);
    // strict: right sorts AFTER left (invisible)
    val (rightTag, leftTag) = if (strict) (1, 0) else (0, 1)
    val l = left.select(
      keys.map(col) ++ Seq(col(time).as("__t"), lit(leftTag).as("__side"),
        struct(left.columns.toIndexedSeq.map(col): _*).as("__l"),
        lit(null).cast(org.apache.spark.sql.types.StructType(
          payloadCols.map(c => org.apache.spark.sql.types.StructField(
            c, right.schema(c).dataType)))).as("__r")): _*)
    val r = right.select(
      keys.map(col) ++ Seq(col(time).as("__t"), lit(rightTag).as("__side"),
        lit(null).cast(l.schema("__l").dataType).as("__l"),
        struct(payloadCols.map(col): _*).as("__r")): _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("asof", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__side") === leftTag)
      .select(col("__l.*"), col("asof"))
  }
}
