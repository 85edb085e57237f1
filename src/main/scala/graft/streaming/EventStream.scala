package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.operators.Relational

/** Structured Streaming twins of the batch event-time operators in
  * graft.operators.Relational (SURVEY §2.4: streaming comes from Spark
  * built-ins). All transforms take an unbounded DataFrame from any
  * `readStream` source with columns (ts timestamp, user_id long,
  * event_type string, value double) and compose watermarks + windowed
  * aggregation / session windows / arbitrary keyed state.
  */
object EventStream {

  /** Tumbling 5-minute windows with a 10-minute watermark — the
    * streaming twin of Relational.eventsTumbling. Values accumulate as
    * DECIMAL and emit as scaled integers (1e-4 units) for the same
    * reason as the batch twin: double partial sums are addition-order
    * dependent, so a double output would differ run-to-run and
    * engine-to-engine in final-ulp cases. */
  def tumbling(events: DataFrame,
               windowDuration: String = "5 minutes",
               watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDuration), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        Relational.exactValueSumE4.as("total_value_e4"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("total_value_e4"))

  /** Session windows with a 30-minute inactivity gap — the built-in
    * `session_window` twin of Relational.eventsSessions. */
  def sessions(events: DataFrame,
               gap: String = "30 minutes",
               watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        Relational.exactValueSumE4.as("session_value_e4"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("session_value_e4"))

  /** Stream-STATIC broadcast enrichment — the most common production
    * streaming join: each micro-batch hash-joins the event stream
    * against a BROADCAST static dimension (here: user → segment). The
    * join itself holds NO streaming state (the static side is re-read
    * per batch, broadcast once per plan); only the downstream windowed
    * aggregation is stateful, watermark-bounded as usual. Contrast with
    * [[purchaseClickJoin]], where both sides stream and state buffers
    * the lookback horizon. */
  def staticEnriched(events: DataFrame, dim: DataFrame,
                     windowDuration: String = "5 minutes",
                     watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .join(broadcast(dim), "user_id")
      .groupBy(window(col("ts"), windowDuration), col("segment"))
      .agg(count(lit(1)).as("n_events"),
        Relational.exactValueSumE4.as("total_value_e4"))
      .select(col("window.start").as("window_start"),
        col("segment"), col("n_events"), col("total_value_e4"))

  /** Streaming exact dedup: drop events whose key columns repeat within
    * the watermark horizon (bounded state — the streaming twin of
    * Dedup.exact for at-least-once sources that can replay events). */
  def dedupWithinWatermark(events: DataFrame, keyCols: Seq[String],
                           watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stream-stream INTERVAL join: every purchase paired with the same
    * user's clicks from the preceding `lookbackSeconds`. Both inputs
    * carry watermarks and the join condition bounds click time from
    * BOTH ends relative to purchase time — that pair is what lets the
    * join state evict: a buffered click older than
    * watermark + lookback can never match a future purchase and is
    * dropped, so state stays proportional to the lookback horizon, not
    * the stream history. Append-mode only (rows emit once both
    * watermarks pass). Input columns: (ts, event_id, user_id,
    * event_type, value). */
  def purchaseClickJoin(events: DataFrame,
                        lookbackSeconds: Long = 1800L,
                        watermark: String = "1 hour",
                        joinType: String = "inner"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        (round(col("value"), 4).cast("decimal(18,4)") * 10000)
          .cast("long").as("click_value_e4"))
      .withWatermark("c_ts", watermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", watermark)
    // "left_outer": purchases with no qualifying click still emit
    // (null click columns) — but only when the left row's join state
    // evicts: the GLOBAL watermark (min across both sides' event-time
    // maxima, each minus the delay) must pass p_ts, since c_ts <=
    // p_ts means a future click could still match any p_ts at or
    // above it (pinned by the oracle at two scale factors: unmatched
    // rows inside the final min-watermark horizon stay in state,
    // unemitted). Emission happens in the trailing micro-batch
    // AvailableNow runs after the watermark advances (the state-flush
    // batch Trigger.Once never ran).
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $lookbackSeconds SECONDS"),
      joinType)
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("p_ts"), col("c_ts"), col("click_value_e4"))
  }

  /** Drive a streaming transform over its bounded source to completion
    * (Trigger.AvailableNow + a memory sink) and return the final table —
    * the harness that lets a streaming pipeline be a DECLARED,
    * oracle-checked query: the plan executed is the real micro-batch
    * streaming plan (stateful aggregation, watermarks), only the sink is
    * swapped for an in-memory table. Production replaces the sink, not
    * the transform. The memory sink materializes results on the driver —
    * fine for aggregated outputs; never point it at an unaggregated
    * 100 TB stream. Use a STABLE queryName per call site: the sink's
    * table lives for the session, so a fresh name per call accumulates
    * full result sets on the driver, while restarting under the same
    * name replaces the table. */
  def runToCompletion(out: DataFrame, queryName: String,
                      mode: OutputMode = OutputMode.Complete(),
                      statePartitions: Int = 8): DataFrame = {
    val spark = out.sparkSession
    // The state-store partition count is fixed from the session's
    // shuffle-partition conf when the stream FIRST starts, and every
    // micro-batch pays a per-partition open/commit regardless of state
    // volume — at 32 session partitions these bounded replays spend
    // more on state-store bookkeeping than on data. Pin stateful
    // exchanges to a bounded count for the declared queries; a real
    // deployment sizes this to state volume, not core count.
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      math.min(statePartitions, prev.toInt))
    val q =
      try out.writeStream
        .format("memory").queryName(queryName)
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .start()
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Open-session accumulator held in [[GroupState]] between batches. */
  final case class OpenSession(start_us: Long, end_us: Long,
                               n: Long, value_e4: Long)

  /** A closed session, in the batch twin's output shape. */
  final case class SessionOut(session_start: Long, user_id: Long,
                              n_events: Long, session_value_e4: Long)

  /** 30-minute-gap sessionization via ARBITRARY KEYED STATE
    * (flatMapGroupsWithState) — the custom-state twin of [[sessions]]:
    * same result, but session merge/close logic lives in user code with
    * an explicit per-user state value instead of the built-in
    * session_window operator. The state is one open session per user
    * (bounded); sessions emit when an event lands >= gap after the open
    * session's end. A session still open when the stream ends emits
    * only on a flush marker (event_type == "__flush", any row with ts
    * past every real event) — the declared query unions a time-shifted
    * flush copy of the source so every session closes; production
    * replays rely on the watermark horizon instead.
    *
    * Rows inside one micro-batch are buffered and sorted per user
    * before the walk (the group iterator has shuffle order, not time
    * order) — per-user-per-batch volume is watermark-bounded in a real
    * deployment. Values accumulate as exact 1e-4-scaled longs
    * (cross-engine-stable, like every money sum in this repo). */
  def sessionsCustomState(events: DataFrame,
                          gapSeconds: Long = 1800L): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    implicit val stateEnc = Encoders.product[OpenSession]
    implicit val outEnc = Encoders.product[SessionOut]
    val gapUs = gapSeconds * 1000000L
    events
      .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
        (round(col("value"), 4).cast("decimal(18,4)") * 10000)
          .cast("long").as("value_e4"),
        (col("event_type") === "__flush").as("is_flush"))
      .as[(Long, Long, Long, Boolean)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, SessionOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[(Long, Long, Long, Boolean)],
         state: GroupState[OpenSession]) =>
          val sorted = rows.toArray.sortBy(r => (r._2, r._4))
          val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
          var open = state.getOption
          def close(): Unit = open.foreach { s =>
            out += SessionOut(s.start_us / 1000000L, uid, s.n, s.value_e4)
            open = None
          }
          sorted.foreach { case (_, t, v, isFlush) =>
            if (isFlush) close()
            else open match {
              case Some(s) if t - s.end_us < gapUs =>
                open = Some(OpenSession(s.start_us, t, s.n + 1, s.value_e4 + v))
              case _ =>
                close()
                open = Some(OpenSession(t, t, 1L, v))
            }
          }
          open match {
            case Some(s) => state.update(s)
            case None    => if (state.exists) state.remove()
          }
          out.iterator
      }
      .toDF()
  }

  /** EXACTLY-ONCE keyed upsert sink via foreachBatch — the canonical
    * Structured Streaming pattern for sinks with no native transactional
    * writer: the sink function receives (batchDf, batchId) and uses the
    * batchId to make the write IDEMPOTENT, so at-least-once micro-batch
    * delivery (crash between write and checkpoint commit → batch
    * re-runs) still yields exactly-once table state.
    *
    * Protocol per batch:
    *  1. if `_commits/<batchId>` exists → the batch already applied
    *     fully; SKIP (this is what absorbs replays and retries);
    *  2. merge the batch's per-key partial aggregates into the latest
    *     committed snapshot (full-outer sum — an upsert);
    *  3. write the merged table to `snapshot_<batchId>` (overwrite: a
    *     torn write from a crashed attempt is clobbered on retry);
    *  4. create the `_commits/<batchId>` marker — the COMMIT POINT.
    *     Readers resolve the table as the snapshot of the max marker,
    *     so a crash anywhere before (4) leaves the previous snapshot
    *     live and the protocol re-runs from (2) with the same inputs.
    *
    * Scale notes: per-batch cost is O(|table| + |batch|) because plain
    * parquet can't rewrite in place — a transactional table format
    * (or partitioning the snapshot by key-bucket and rewriting only
    * touched buckets) bounds that to the touched keys; the exactly-once
    * protocol is unchanged. Paths go through the Hadoop FileSystem API,
    * so the same code runs on any DFS scheme. Aggregates are exact
    * integers (1e-4-scaled longs), so the final table is byte-identical
    * however the input was micro-batched. */
  def upsertTotalsRun(events: DataFrame, tableDir: String,
                      checkpointDir: String): Unit = {
    val q = events.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        upsertBatch(batch, batchId, tableDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  private def fs(spark: org.apache.spark.sql.SparkSession,
                 dir: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Apply one micro-batch to the keyed table (see protocol above).
    * Package-visible so specs can drive crash/replay cases directly. */
  private[graft] def upsertBatch(batch: DataFrame, batchId: Long,
                                 tableDir: String): Unit = {
    val spark = batch.sparkSession
    val hfs = fs(spark, tableDir)
    val marker = new org.apache.hadoop.fs.Path(s"$tableDir/_commits/$batchId")
    if (hfs.exists(marker)) return // replay/retry of an applied batch
    val partial = batch.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        Relational.exactValueSumE4.as("value_e4"))
    val merged = latestSnapshot(spark, tableDir) match {
      case Some(cur) => cur.unionByName(partial)
        .groupBy(col("user_id"))
        .agg(sum(col("n_events")).as("n_events"),
          sum(col("value_e4")).as("value_e4"))
      case None => partial
    }
    merged.write.mode("overwrite").parquet(s"$tableDir/snapshot_$batchId")
    hfs.mkdirs(marker.getParent)
    hfs.create(marker, true).close() // the commit point
  }

  /** The table as of the max COMMITTED batch (None before any commit). */
  def latestSnapshot(spark: org.apache.spark.sql.SparkSession,
                     tableDir: String): Option[DataFrame] = {
    val hfs = fs(spark, tableDir)
    val commits = new org.apache.hadoop.fs.Path(s"$tableDir/_commits")
    if (!hfs.exists(commits)) return None
    val ids = hfs.listStatus(commits).map(_.getPath.getName.toLong)
    if (ids.isEmpty) None
    else Some(spark.read.parquet(s"$tableDir/snapshot_${ids.max}"))
  }

  /** Streaming trending leaderboard — the incremental twin of
    * [[graft.operators.Retention.decayTotals]], maintained through the
    * same exactly-once foreachBatch snapshot protocol as
    * [[upsertTotalsRun]] (markers absorb replays; see that scaladoc).
    *
    * Decay uses CALENDAR half-life buckets (k = anchor_bucket -
    * ts_bucket with bucket = ts div h) instead of the batch twin's
    * sliding anchor: sliding floor((anchor-t)/h) is not additive across
    * state merges when the anchor moves, but per-(key, bucket) partial
    * sums are batching-INVARIANT — however the stream is micro-batched,
    * the final state is byte-identical, and the leaderboard derives
    * from the snapshot alone. Weights stay the exact power-of-two ppm
    * ladder (1e6 >> k, clamp at 20), values the e4-decimal longs, so
    * the leaderboard replays bit-for-bit in SQL.
    *
    * State size: |keys| x |live buckets| rows — bounded because buckets
    * older than 20 half-lives weigh 0 and could be compacted away (kept
    * here for the exact n_events census). */
  def decayTotalsRun(events: DataFrame, tableDir: String,
                     checkpointDir: String, halfLifeNs: Long): Unit = {
    require(halfLifeNs > 0, "half-life must be positive")
    val q = events.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        decayBatch(batch, batchId, tableDir, halfLifeNs)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Apply one micro-batch of (event_type, ts epoch-ns, value) to the
    * per-(key, bucket) decay state (same marker protocol as
    * [[upsertBatch]]; package-visible for crash/replay specs). */
  private[graft] def decayBatch(batch: DataFrame, batchId: Long,
                                tableDir: String, halfLifeNs: Long): Unit = {
    val spark = batch.sparkSession
    val hfs = fs(spark, tableDir)
    val marker = new org.apache.hadoop.fs.Path(s"$tableDir/_commits/$batchId")
    if (hfs.exists(marker)) return // replay/retry of an applied batch
    val partial = batch
      .select(col("event_type").as("key"),
        expr(s"ts div ${halfLifeNs}L").as("bucket"), col("value"))
      .groupBy(col("key"), col("bucket"))
      .agg(count(lit(1)).as("n_events"),
        (sum(round(col("value"), 4).cast("decimal(18,4)")) * 10000)
          .cast("long").as("value_e4"))
    val merged = latestSnapshot(spark, tableDir) match {
      case Some(cur) => cur.unionByName(partial)
        .groupBy(col("key"), col("bucket"))
        .agg(sum(col("n_events")).as("n_events"),
          sum(col("value_e4")).as("value_e4"))
      case None => partial
    }
    merged.write.mode("overwrite").parquet(s"$tableDir/snapshot_$batchId")
    hfs.mkdirs(marker.getParent)
    hfs.create(marker, true).close() // the commit point
  }

  /** The decayed leaderboard from the latest committed snapshot:
    * (key, n_events, decayed_value_e10) with the snapshot's own max
    * bucket as the decay anchor (driver-inlined literal — a joined
    * 1-row anchor would plan as a nested loop). */
  def decayedLeaderboard(spark: org.apache.spark.sql.SparkSession,
                         tableDir: String): DataFrame = {
    val snap = latestSnapshot(spark, tableDir).getOrElse(
      throw new IllegalStateException(s"no committed snapshot in $tableDir"))
    val row = snap.agg(max(col("bucket"))).head()
    val maxb = if (row.isNullAt(0)) 0L else row.getLong(0)
    snap.groupBy(col("key"))
      .agg(sum(col("n_events")).as("n_events"),
        sum(col("value_e4").cast("decimal(28,0)") *
          expr(s"case when ${maxb}L - bucket >= 20 then 0L " +
            s"else shiftright(1000000L, cast(${maxb}L - bucket as int)) end"))
          .cast("long").as("decayed_value_e10"))
  }

  final case class UserRunning(user_id: Long, n_events: Long, total: Double)

  /** Arbitrary keyed state via flatMapGroupsWithState: per-user running
    * totals across micro-batches (the reference's per-group custom
    * processing surface, SURVEY §2.5, in streaming form). */
  def runningTotals(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    implicit val stateEnc = Encoders.product[UserRunning]
    events
      .selectExpr("user_id", "value")
      .as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[UserRunning, UserRunning](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[(Long, Double)], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
          var n = prev.n_events
          var tot = prev.total
          rows.foreach { case (_, v) => n += 1; tot += v }
          val next = UserRunning(uid, n, tot)
          state.update(next)
          Iterator.single(next)
      }
      .toDF()
  }

  /** LIVE watermark drop-rate metric — the QueryProgress
    * `numRowsDroppedByWatermark` twin of the batch replay audit
    * (`Retention.watermarkLateness`). In production this metric comes
    * free from the live stream's progress events; here the bounded
    * testdata is staged into arrival-ordered slice files (ONE file =
    * ONE micro-batch under maxFilesPerTrigger=1, file modification
    * times set strictly ascending in slice order so the file source's
    * batch order is deterministic), the real micro-batch plan runs a
    * watermarked tumbling count, and the per-batch drop counts are
    * read back from the query's progress. Every step is
    * integer-deterministic, so unlike most live metrics this one
    * carries an EXACT replay oracle. The pinned semantics (both in
    * the DuckDB oracle and replayed row-by-row in StreamingSpec):
    *
    *  - batch boundaries are fixed arrival-time slices (each slice a
    *    directory of exactly P part files written by P tasks in ONE
    *    parallel stage, maxFilesPerTrigger=P — all P files of a slice
    *    share a mod-time strictly below the next slice's, so the file
    *    source's time-ordered pending list admits exactly one slice
    *    per micro-batch; the within-slice row-to-file split never
    *    reaches the metric, which only sees whole-batch contents);
    *  - the late-event filter uses the watermark lagged TWO batches
    *    in-run — (ms-floored event-time max through batch N-2) -
    *    delay. Eviction advances every batch, but Spark hands the
    *    late filter the PREVIOUS batch's pre-advancement value (a
    *    restart closes the gap to lag-1 — verified empirically);
    *  - `numRowsDroppedByWatermark` counts POST-MERGE rows at the
    *    stateful operator, i.e. distinct late (window, key) GROUPS
    *    per batch, not raw input rows — partitioning-independent,
    *    which is exactly what makes it replayable;
    *  - a group is late when its window END <= the watermark.
    *
    * Output: one row per non-empty micro-batch,
    * (batch_id, n_input, n_dropped_live). */
  def watermarkDropLive(events: DataFrame, arrival: Column,
                        tsCol: Column, scratch: String,
                        delayMs: Long = 900000L,
                        windowSec: Int = 300,
                        sliceNs: Long = 172800L * 1000000000L,
                        filesPerSlice: Int = 2)
      : DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val (src, nSlices) = stageSlicedSource(events, arrival,
      Seq(tsCol.as("__ts"), col("event_type")), scratch, sliceNs,
      filesPerSlice)
    val agg = src
      .withColumn("__event_time",
        timestamp_micros(expr("__ts DIV 1000")))
      .withWatermark("__event_time", s"$delayMs milliseconds")
      .groupBy(window(col("__event_time"), s"$windowSec seconds"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
    // 2 state partitions: the windowed agg holds a few hundred rows
    // of state, but EVERY micro-batch pays a per-partition state-store
    // open/commit x 18 batches — the dominant cost of this harness
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    // recentProgress is a ring buffer capped by
    // spark.sql.streaming.numRecentProgressUpdates (default 100): a run
    // with more micro-batches than the cap would SILENTLY drop the
    // earliest batches' rows and diverge from the exact oracle. Size
    // the buffer to this run (one batch per slice + scheduler slack)
    // and assert nothing could have scrolled off.
    val progKey = "spark.sql.streaming.numRecentProgressUpdates"
    val prevProg = spark.conf.get(progKey)
    val progCap = nSlices + 64
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    spark.conf.set(progKey, progCap.toString)
    // shuffle.partitions is captured at query creation, so it can be
    // restored right after start(); the progress-retention cap is read
    // DYNAMICALLY by ProgressReporter on every progress update, so it
    // must stay raised until the query terminates or the ring buffer
    // trims at the default mid-run while `progress.length < progCap`
    // passes vacuously.
    val q =
      try agg.writeStream.format("memory")
        .queryName("wm_drop_live")
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .start()
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    val progress =
      try { q.awaitTermination(); q.recentProgress.toSeq }
      finally spark.conf.set(progKey, prevProg)
    require(progress.length < progCap,
      s"progress buffer filled (${progress.length} >= cap $progCap): " +
        "earliest batches may have scrolled off; raise filesPerSlice " +
        "retention sizing")
    val rows = progress
      .filter(_.numInputRows > 0)
      .map { pr =>
        (pr.batchId, pr.numInputRows,
          pr.stateOperators.map(_.numRowsDroppedByWatermark).sum)
      }
    // slice->batch contract: each slice arrived as exactly one
    // non-empty micro-batch (the staging invariant above)
    require(rows.length == nSlices,
      s"expected $nSlices non-empty batches (one per slice), " +
        s"saw ${rows.length}")
    rows.toDF("batch_id", "n_input", "n_dropped_live")
  }

  /** Stage `events` into slice-ordered parquet dirs and open them as a
    * file stream whose batching contract is ONE micro-batch per slice,
    * in slice order — the harness that pins order-DEPENDENT streaming
    * semantics (watermark lag, conservative-update sketches) to an
    * exact replayable arrival sequence. Mechanics:
    *
    *  - rows slice by `arrival DIV sliceNs`; every slice is written as
    *    exactly P part files (P clamped to the smallest slice) via
    *    zipWithIndex + exact modulo partitioning — round-robin
    *    repartition picks random start offsets and can leave an empty
    *    (fileless) partition, which would shift a batch boundary;
    *  - all slices stage CONCURRENTLY as P-task write jobs (the former
    *    sequential coalesce(1) loop was the 100x-scale choke);
    *  - each FILE gets a strictly increasing mod-time in slice-major
    *    path order, so with maxFilesPerTrigger = P the time-ordered
    *    file source admits exactly one slice per micro-batch.
    *
    * Returns (streaming source over the payload columns, slice count). */
  private[graft] def stageSlicedSource(events: DataFrame, arrival: Column,
                                       payload: Seq[Column], scratch: String,
                                       sliceNs: Long, filesPerSlice: Int)
      : (DataFrame, Int) = {
    require(filesPerSlice >= 1, s"filesPerSlice must be >= 1")
    val spark = events.sparkSession
    import spark.implicits._
    val payloadNames = events.select(payload: _*).columns.toSeq
    val staged = events.select(arrival.as("__a") +: payload: _*)
      .withColumn("__slice",
        ((col("__a") - pmod(col("__a"), lit(sliceNs)))
          / lit(sliceNs.toDouble)).cast("long"))
      .localCheckpoint() // one read; the slice writes below reuse it
    val sliceCounts = staged.groupBy(col("__slice")).count()
      .orderBy(col("__slice"))
      .as[(Long, Long)].collect() // bounded: span/slice
    val slices = sliceCounts.map(_._1)
    val p = math.max(1L, math.min(filesPerSlice.toLong,
      sliceCounts.map(_._2).min)).toInt
    graft.DriverJobs.runAll(spark.sparkContext)(
      slices.toSeq.zipWithIndex.map { case (sl, i) => () => {
        val sliceDf = staged.filter(col("__slice") === sl)
          .select(payloadNames.map(col): _*)
        val spread = sliceDf.rdd.zipWithIndex()
          .map { case (r, idx) => (idx % p, r) }
          .partitionBy(new org.apache.spark.HashPartitioner(p))
          .values
        spark.createDataFrame(spread, sliceDf.schema)
          .write.mode("overwrite")
          .parquet(f"$scratch/s$i%04d")
      }})
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val files = fs.globStatus(
        new org.apache.hadoop.fs.Path(s"$scratch/s*/part-*.parquet"))
      .sortBy(_.getPath.toString)
    // batching-contract check, loud not silent: exactly P files per
    // slice, or the maxFilesPerTrigger=P batch would straddle slices
    val perDir = files.groupBy(_.getPath.getParent.getName)
      .map { case (d, fs0) => d -> fs0.length }
    val offDirs = perDir.filter(_._2 != p)
    require(offDirs.isEmpty && perDir.size == slices.length,
      s"every slice dir must hold exactly $p part files " +
        s"(maxFilesPerTrigger=$p batches straddle slices otherwise); " +
        s"off: $offDirs of ${perDir.size}/${slices.length} dirs")
    files.zipWithIndex.foreach { case (st, i) =>
      fs.setTimes(st.getPath, 1700000000000L + i * 60000L, -1)
    }
    val phys = spark.read.parquet(s"$scratch/s0000").schema
    val src = spark.readStream.schema(phys)
      .option("maxFilesPerTrigger", p.toString)
      .parquet(s"$scratch/s*")
    (src, slices.length)
  }

  /** Conservative-update Count-Min (CM-CU, Estan & Varghese SIGCOMM
    * 2002): on inserting term t with weight c, only cells still at the
    * term's current MIN estimate rise — each cell takes
    * max(cell, min_d(cells) + c) — giving strictly tighter estimates
    * than plain CMS for the same state, at the price of ORDER-DEPENDENT
    * semantics (plain CMS cell sums commute; CM-CU's max/min coupling
    * does not). The slice harness makes that order exact and
    * replayable:
    *
    *  - the stream arrives as one micro-batch per slice, in slice
    *    order ([[stageSlicedSource]]'s batching contract);
    *  - within a batch, updates apply per TERM-COUNT AGGREGATE in
    *    sorted term order — the batched-update discipline from the
    *    literature, which both engines can replay deterministically
    *    (per-ROW order inside a distributed batch is not a stable
    *    notion to pin);
    *  - the per-batch term counts aggregate DISTRIBUTED (the corpus-
    *    sized work); only the bounded per-slice roster reaches the
    *    driver fold, whose state is the depth x width matrix.
    *
    * Output: the batch-side exact top-`k` terms with their exact count,
    * plain-CMS estimate, and CM-CU estimate — exact <= cmcu <= cms by
    * construction, all three integer columns oracle-replayable (the
    * oracle folds the same sorted (slice, term) sequence through a
    * recursive CTE). */
  def cmcuHeavyUsers(events: DataFrame, tsCol: Column, termCol: Column,
                     scratch: String, depth: Int = 4, width: Int = 256,
                     k: Int = 50,
                     sliceNs: Long = 172800L * 1000000000L,
                     filesPerSlice: Int = 2): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val (src, nSlices) = stageSlicedSource(events, tsCol,
      Seq(termCol.cast("string").as("term")), scratch, sliceNs,
      filesPerSlice)
    // per-batch sorted term rosters, keyed by batchId; the fold below
    // runs AFTER termination in batch order, so callback scheduling
    // cannot perturb the pinned sequence
    val perBatch =
      new java.util.concurrent.ConcurrentHashMap[Long, Array[(String, Long)]]()
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // sort terms by UTF-8 unsigned-byte sequence (= codepoint
        // order = DuckDB's binary collation), not Scala's UTF-16
        // code-unit order — the two diverge on supplementary-plane
        // terms, and the oracle's ORDER BY term is the UTF-8 one
        val counts = batch.groupBy(col("term"))
          .agg(count(lit(1)).as("c"))
          .collect()
          .map(r => (r.getString(0), r.getLong(1),
            r.getString(0).getBytes("UTF-8"))) // encode ONCE, not per compare
          .sortWith((a, b) =>
            java.util.Arrays.compareUnsigned(a._3, b._3) < 0)
          .map(t => (t._1, t._2))
        perBatch.put(id, counts)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    require(perBatch.size == nSlices,
      s"expected $nSlices micro-batches (one per slice), saw ${perBatch.size}")
    // the deterministic fold: plain CMS (order-free) and CM-CU (order
    // pinned by slice-major, term-sorted sequence) over the same cells
    val cms = Array.fill(depth * width)(0L)
    val cmcu = Array.fill(depth * width)(0L)
    def cellsOf(t: String): Array[Int] =
      Array.tabulate(depth) { d =>
        val dig = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$d:$t".getBytes("UTF-8"))
        val v = ((dig(0) & 0xffL) << 24) | ((dig(1) & 0xffL) << 16) |
          ((dig(2) & 0xffL) << 8) | (dig(3) & 0xffL)
        d * width + (v % width).toInt
      }
    perBatch.keySet().toArray(Array.empty[java.lang.Long])
      .map(_.longValue).sorted
      .foreach { id =>
        perBatch.get(id).foreach { case (t, c) =>
          val cs = cellsOf(t)
          cs.foreach(ci => cms(ci) += c)
          val est = cs.map(cmcu).min
          cs.foreach(ci => cmcu(ci) = math.max(cmcu(ci), est + c))
        }
      }
    // batch-side exact top-k candidates; estimates are driver lookups
    // over the finished k-row roster (the sketch is the state, not the
    // corpus)
    val exact = events
      .select(termCol.cast("string").as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("term"))
      .limit(k)
      .as[(String, Long)].collect()
    exact.toSeq.map { case (t, n) =>
      val cs = cellsOf(t)
      (t, n, cs.map(cms).min, cs.map(cmcu).min)
    }.toDF("term", "exact_cnt", "cms_count", "cmcu_count")
  }
}
