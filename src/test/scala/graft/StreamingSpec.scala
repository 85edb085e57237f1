package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.EventStream

/** Structured Streaming pipelines driven through MemoryStream micro-
  * batches with a memory sink — the streaming twins must agree with
  * their batch counterparts on the same rows. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  private val rows = Seq(
    (ts(0), 1L, "click", 1.0),
    (ts(1), 1L, "click", 2.0),
    (ts(6), 2L, "view", 3.0),   // next 5-min window
    (ts(7), 1L, "click", 4.0),
    (ts(59), 2L, "view", 5.0))  // separate session for user 2

  test("tumbling windows over a micro-batched stream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String, Double)]
    val events = mem.toDF().toDF("ts", "user_id", "event_type", "value")
    val q = EventStream.tumbling(events)
      .writeStream.format("memory").queryName("tumbling_out")
      .outputMode(OutputMode.Complete()).start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("tumbling_out")
        .orderBy("window_start", "event_type")
        .select($"event_type", $"n_events", $"total_value_e4")
        .as[(String, Long, Long)].collect().toSeq
      // windows: [10:00,10:05) clicks@0,1; [10:05,10:10) view@6 + click@7;
      // [10:55,11:00) view@59 — values are exact 1e-4-scaled integers
      got shouldBe Seq(("click", 2L, 30000L), ("click", 1L, 40000L),
        ("view", 1L, 30000L), ("view", 1L, 50000L))
    } finally q.stop()
  }

  test("session windows (30-min gap) split user 2's events") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String, Double)]
    val events = mem.toDF().toDF("ts", "user_id", "event_type", "value")
    val q = EventStream.sessions(events)
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode(OutputMode.Complete()).start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("sessions_out")
        .orderBy("user_id", "session_start")
        .select($"user_id", $"n_events", $"session_value_e4")
        .as[(Long, Long, Long)].collect().toSeq
      // user 1: one session (0,1,7 min); user 2: 6min and 59min apart > 30min
      got shouldBe Seq((1L, 3L, 70000L), (2L, 1L, 30000L), (2L, 1L, 50000L))
    } finally q.stop()
  }

  test("flatMapGroupsWithState carries per-user state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String, Double)]
    val events = mem.toDF().toDF("ts", "user_id", "event_type", "value")
    val q = EventStream.runningTotals(events)
      .writeStream.format("memory").queryName("running_out")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(rows.take(2): _*) // batch 1: user1 x2
      q.processAllAvailable()
      mem.addData(rows.drop(2): _*) // batch 2: user2 x2 + user1 x1
      q.processAllAvailable()
      // state survived across batches: user1 total 3 events / 7.0
      spark.table("running_out").count() should be >= 3L
      val u1 = spark.table("running_out").filter($"user_id" === 1L)
        .orderBy($"n_events".desc).select($"n_events", $"total")
        .as[(Long, Double)].head()
      u1 shouldBe ((3L, 7.0))
    } finally q.stop()
  }

  test("watermark drops late data in append mode") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String, Double)]
    val events = mem.toDF().toDF("ts", "user_id", "event_type", "value")
    val q = EventStream.tumbling(events, watermark = "10 minutes")
      .writeStream.format("memory").queryName("wm_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1 advances the watermark to 10:20 (max 10:30 - 10m)
      mem.addData((ts(0), 1L, "click", 1.0), (ts(30), 1L, "click", 1.0))
      q.processAllAvailable()
      // batch 2: an event at 10:01 is behind the watermark -> dropped;
      // 10:41 advances the watermark to 10:31, closing the 10:00 window
      mem.addData((ts(1), 1L, "click", 99.0), (ts(41), 1L, "click", 1.0))
      q.processAllAvailable()
      mem.addData((ts(55), 1L, "click", 1.0)) // close remaining windows
      q.processAllAvailable()
      val w0 = spark.table("wm_out")
        .filter($"window_start" === Timestamp.valueOf("2024-01-01 10:00:00"))
        .select($"n_events", $"total_value_e4").as[(Long, Long)].collect()
      // the late 10:01 event (value 99.0) must NOT be in the closed window
      w0.toSeq shouldBe Seq((1L, 10000L))
    } finally q.stop()
  }

  test("custom-state sessionization: state merges sessions across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String, Double)]
    val events = mem.toDF().toDF("ts", "user_id", "event_type", "value")
    val q = EventStream.sessionsCustomState(events)
      .writeStream.format("memory").queryName("custom_sessions_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: user 1 opens a session (events at 10:00, 10:05)
      mem.addData((ts(0), 1L, "click", 1.0), (ts(5), 1L, "click", 2.0))
      q.processAllAvailable()
      spark.table("custom_sessions_out").count() shouldBe 0L // still open
      // batch 2: 10:20 EXTENDS the open session (gap 15 min < 30);
      // 11:30 is > 30 min later -> closes it and opens a new one
      mem.addData((ts(20), 1L, "click", 4.0), (ts(90), 1L, "click", 8.0))
      q.processAllAvailable()
      val closed = spark.table("custom_sessions_out")
        .select($"session_start", $"user_id", $"n_events", $"session_value_e4")
        .as[(Long, Long, Long, Long)].collect().toSeq
      // the merged 3-event session (value 1+2+4) emitted once
      closed shouldBe Seq((ts(0).getTime / 1000, 1L, 3L, 70000L))
      // flush marker closes the remaining open session
      mem.addData((ts(200), 1L, "__flush", 0.0))
      q.processAllAvailable()
      val all = spark.table("custom_sessions_out")
        .select($"session_start", $"n_events", $"session_value_e4")
        .as[(Long, Long, Long)].collect().toSeq.sorted
      all shouldBe Seq(
        (ts(0).getTime / 1000, 3L, 70000L),
        (ts(90).getTime / 1000, 1L, 80000L))
    } finally q.stop()
  }

  test("streaming dedup drops replayed events within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String, Double)]
    val events = mem.toDF().toDF("ts", "user_id", "event_type", "value")
    val q = EventStream.dedupWithinWatermark(events, Seq("user_id", "event_type"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData((ts(0), 1L, "click", 1.0), (ts(1), 1L, "click", 2.0))
      q.processAllAvailable()
      // replay of (1, click) in a later batch is still within the
      // watermark -> dropped; a new key passes
      mem.addData((ts(2), 1L, "click", 3.0), (ts(3), 2L, "view", 4.0))
      q.processAllAvailable()
      val got = spark.table("dedup_out")
        .select($"user_id", $"event_type").as[(Long, String)].collect().toSeq
      got.sorted shouldBe Seq((1L, "click"), (2L, "view"))
    } finally q.stop()
  }

  test("stream-stream interval join == batch range join on sf0.001") {
    val src = Tables.eventsStream(spark, sf0001)
    val events = src.select(
      timestamp_micros(expr("ts DIV 1000")).as("ts"),
      col("event_id"), col("user_id"), col("event_type"), col("value"))
    val got = EventStream.runToCompletion(
      EventStream.purchaseClickJoin(events), "spec_stream_join",
      OutputMode.Append())
    val ev = Tables(spark, sf0001, "events").select(
      timestamp_micros(expr("ts DIV 1000")).as("ts"),
      col("event_id"), col("user_id"), col("event_type"), col("value"))
    val p = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id".as("p_user"),
        $"ts".as("p_ts"))
    val c = ev.filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"ts".as("c_ts"),
        (round($"value", 4).cast("decimal(18,4)") * 10000)
          .cast("long").as("click_value_e4"))
    val want = p.join(c, $"p_user" === $"c_user" &&
        $"c_ts" <= $"p_ts" &&
        $"c_ts" >= $"p_ts" - expr("INTERVAL 1800 SECONDS"))
      .select($"purchase_id", $"p_user".as("user_id"), $"p_ts", $"c_ts",
        $"click_value_e4")
    got.count() should be > 0L
    got.exceptAll(want).count() shouldBe 0L
    want.exceptAll(got).count() shouldBe 0L
  }

  test("runToCompletion: file-source streaming tumbling == batch on full sf0.001") {
    // the declared-query harness: real file-source micro-batch execution
    // driven to completion, compared against the batch plan on all rows
    val batchE = Tables(spark, sf0001, "events")
    val src = Tables.eventsStream(spark, sf0001)
    def shape(df: org.apache.spark.sql.DataFrame) = df.select(
      timestamp_micros(expr("ts DIV 1000")).as("ts"),
      $"user_id", $"event_type", $"value")
    val got = EventStream.runToCompletion(
        EventStream.tumbling(shape(src)), "file_tumbling_out")
      .orderBy("window_start", "event_type").collect().toSeq
    val want = shape(batchE)
      .groupBy(window($"ts", "5 minutes"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
        graft.operators.Relational.exactValueSumE4.as("total_value_e4"))
      .select($"window.start".as("window_start"), $"event_type",
        $"n_events", $"total_value_e4")
      .orderBy("window_start", "event_type").collect().toSeq
    got shouldBe want
  }

  test("streaming tumbling == batch tumbling on the driver events table") {
    implicit val sqlCtx = spark.sqlContext
    // batch twin over real data, restricted to one hour for test speed
    val e = Tables(spark, sf0001, "events")
      .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      .filter($"event_id" < 200)
      .select($"ts", $"user_id", $"event_type", $"value")
    val batch = e.groupBy(window($"ts", "5 minutes"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
        graft.operators.Relational.exactValueSumE4.as("total_value_e4"))
      .select($"window.start".as("window_start"), $"event_type",
        $"n_events", $"total_value_e4")
    val mem = MemoryStream[(Timestamp, Long, String, Double)]
    val rowsIn = e.as[(Timestamp, Long, String, Double)].collect().toSeq
    val q = EventStream.tumbling(mem.toDF().toDF("ts", "user_id", "event_type", "value"))
      .writeStream.format("memory").queryName("twin_out")
      .outputMode(OutputMode.Complete()).start()
    try {
      mem.addData(rowsIn: _*)
      q.processAllAvailable()
      val stream = spark.table("twin_out")
      val a = batch.orderBy("window_start", "event_type").collect().toSeq
      val b = stream.orderBy("window_start", "event_type").collect().toSeq
      b shouldBe a
    } finally q.stop()
  }

  test("stream-static broadcast join == batch join+group on sf0.001") {
    implicit val sqlCtx = spark.sqlContext
    val e = Tables(spark, sf0001, "events")
      .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      .select($"ts", $"user_id", $"value")
    val dim = Tables(spark, sf0001, "customer")
      .select($"c_custkey".as("user_id"), $"c_mktsegment".as("segment"))
    val batch = e.join(dim, "user_id")
      .groupBy(window($"ts", "5 minutes"), $"segment")
      .agg(count(lit(1)).as("n_events"),
        graft.operators.Relational.exactValueSumE4.as("total_value_e4"))
      .select($"window.start".as("window_start"), $"segment",
        $"n_events", $"total_value_e4")
    val mem = MemoryStream[(Timestamp, Long, Double)]
    val rowsIn = e.as[(Timestamp, Long, Double)].collect().toSeq
    val q = EventStream.staticEnriched(
        mem.toDF().toDF("ts", "user_id", "value"), dim)
      .writeStream.format("memory").queryName("static_join_twin")
      .outputMode(OutputMode.Complete()).start()
    try {
      mem.addData(rowsIn: _*)
      q.processAllAvailable()
      val stream = spark.table("static_join_twin")
      val a = batch.orderBy("window_start", "segment").collect().toSeq
      val b = stream.orderBy("window_start", "segment").collect().toSeq
      a should not be empty
      b shouldBe a
    } finally q.stop()
  }

  private def tmpDir(tag: String): String = {
    val p = java.nio.file.Files.createTempDirectory(s"graft-$tag")
    p.toFile.deleteOnExit()
    p.toString
  }

  test("foreachBatch upsert: multi-batch merge equals the batch aggregate") {
    val e = Tables(spark, sf0001, "events")
      .select($"event_id", $"user_id", $"value")
    val files = tmpDir("upsert-src")
    e.repartition(4).write.mode("overwrite").parquet(files)
    val stream = spark.readStream.schema(e.schema)
      .option("maxFilesPerTrigger", 1).parquet(files)
    val table = tmpDir("upsert-table")
    EventStream.upsertTotalsRun(stream, table, tmpDir("upsert-cp"))
    // 4 files, 1 per trigger -> 4 committed batches (ignore the local
    // Hadoop ChecksumFileSystem's hidden .crc siblings)
    new java.io.File(s"$table/_commits").list()
      .count(!_.startsWith(".")) shouldBe 4
    val got = EventStream.latestSnapshot(spark, table).get
      .orderBy("user_id").collect().toSeq
    val want = e.groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        graft.operators.Relational.exactValueSumE4.as("value_e4"))
      .orderBy("user_id").collect().toSeq
    got should not be empty
    got shouldBe want
  }

  test("foreachBatch upsert: replays and retries are absorbed exactly-once") {
    val e = Tables(spark, sf0001, "events")
      .select($"event_id", $"user_id", $"value")
    val files = tmpDir("replay-src")
    e.repartition(2).write.mode("overwrite").parquet(files)
    def stream = spark.readStream.schema(e.schema)
      .option("maxFilesPerTrigger", 1).parquet(files)
    val table = tmpDir("replay-table")
    EventStream.upsertTotalsRun(stream, table, tmpDir("replay-cp1"))
    val once = EventStream.latestSnapshot(spark, table).get
      .orderBy("user_id").collect().toSeq
    // full replay under a FRESH checkpoint: same batchIds re-delivered,
    // every one must hit its commit marker and change nothing
    EventStream.upsertTotalsRun(stream, table, tmpDir("replay-cp2"))
    EventStream.latestSnapshot(spark, table).get
      .orderBy("user_id").collect().toSeq shouldBe once
    // crash-retry of a single already-committed batch: direct re-apply
    // with an applied batchId is a no-op
    EventStream.upsertBatch(e.limit(5), batchId = 1L, table)
    EventStream.latestSnapshot(spark, table).get
      .orderBy("user_id").collect().toSeq shouldBe once
    // a NEW batch still applies on top (the marker logic is per-batch,
    // not a global freeze)
    EventStream.upsertBatch(e.limit(5), batchId = 99L, table)
    val after = EventStream.latestSnapshot(spark, table).get
      .agg(sum($"n_events")).as[Long].head()
    after shouldBe once.map(_.getAs[Long]("n_events")).sum + 5
  }

  test("upsert table and slice staging use the path's FileSystem and the session conf") {
    // counting:// is known to the session's SQL conf ONLY: neither the
    // default FileSystem nor sparkContext.hadoopConfiguration has it
    spark.conf.set("fs.counting.impl", classOf[CountingFileSystem].getName)
    val local = java.nio.file.Files.createTempDirectory("graft-eventstream-fs")
    try {
      val dir = s"counting://$local"
      val before = CountingFileSystem.total.get
      val e = Tables(spark, sf0001, "events")
        .select($"event_id", $"user_id", $"value")
      EventStream.upsertBatch(e, batchId = 0L, s"$dir/table")
      EventStream.upsertBatch(e.limit(5), batchId = 1L, s"$dir/table")
      EventStream.latestSnapshot(spark, s"$dir/table").get
        .agg(sum($"n_events")).as[Long].head() shouldBe e.count() + 5
      // staging globs and re-stamps the slice files on the same scheme
      val (_, nSlices) = EventStream.stageSlicedSource(
        Tables(spark, sf0001, "events"), $"ts", Seq($"event_type"),
        s"$dir/slices", sliceNs = 172800L * 1000000000L, filesPerSlice = 2)
      nSlices should be > 1
      val slice0 = new org.apache.hadoop.fs.Path(s"$dir/slices/s0000")
      val stamped = slice0.getFileSystem(
          org.apache.spark.sql.GraftSql.hadoopConf(spark))
        .globStatus(new org.apache.hadoop.fs.Path(s"$slice0/part-*.parquet"))
        .map(_.getModificationTime).sorted.toSeq
      stamped.head shouldBe 1700000000000L
      stamped.distinct shouldBe stamped
      // the commit markers and snapshots went through counting://
      CountingFileSystem.total.get - before should be >= 2
      CountingFileSystem.open shouldBe empty
    } finally {
      spark.conf.unset("fs.counting.impl")
      org.apache.commons.io.FileUtils.deleteDirectory(local.toFile)
    }
  }

  test("foreachBatch decay: micro-batched state is batching-invariant") {
    val h = 259200L * 1000000000L
    val e = Tables(spark, sf0001, "events")
      .select($"event_type", $"ts", $"value")
    val files = tmpDir("decay-src")
    e.repartition(4).write.mode("overwrite").parquet(files)
    def stream = spark.readStream.schema(e.schema)
      .option("maxFilesPerTrigger", 1).parquet(files)
    val table = tmpDir("decay-table")
    EventStream.decayTotalsRun(stream, table, tmpDir("decay-cp1"), h)
    val board = EventStream.decayedLeaderboard(spark, table)
      .orderBy("key").collect().toSeq
    // the whole table applied as ONE batch into a fresh state dir must
    // produce the identical leaderboard (per-bucket sums are additive)
    val oneShot = tmpDir("decay-oneshot")
    EventStream.decayBatch(e, batchId = 0L, oneShot, h)
    EventStream.decayedLeaderboard(spark, oneShot)
      .orderBy("key").collect().toSeq shouldBe board
    // full replay under a fresh checkpoint changes nothing
    EventStream.decayTotalsRun(stream, table, tmpDir("decay-cp2"), h)
    EventStream.decayedLeaderboard(spark, table)
      .orderBy("key").collect().toSeq shouldBe board
  }

  test("decayedLeaderboard: power-of-two ppm ladder by hand") {
    val h = 10L
    // key a: bucket 2 (anchor) value 1.0, bucket 1 value 2.0 -> weight
    // 1e6 and 5e5; key b: bucket 2 only
    val e = Seq(
      ("a", 25L, 1.0), ("a", 14L, 2.0), ("b", 21L, 4.0))
      .toDF("event_type", "ts", "value")
    val table = tmpDir("decay-golden")
    EventStream.decayBatch(e, batchId = 0L, table, h)
    val got = EventStream.decayedLeaderboard(spark, table)
      .as[(String, Long, Long)].collect().sortBy(_._1)
    got shouldBe Array(
      ("a", 2L, 1L * 1000000L * 10000L + 2L * 500000L * 10000L),
      ("b", 1L, 4L * 1000000L * 10000L))
  }

  test("streaming KMV sketches land on the batch sliding-distinct result") {
    val batch = SparkEntry.queries("events_sliding_distinct_users")(
      spark, sf0001).as[(Long, Long, Long)].collect().sortBy(_._1)
    val stream = SparkEntry.queries("events_stream_distinct_users")(
      spark, sf0001).as[(Long, Long, Long)].collect().sortBy(_._1)
    batch.length should be > 0
    // micro-batch boundaries must be invisible: identical sketches ->
    // identical window estimates
    stream shouldBe batch
  }

  test("streaming window-topk lands on the batch leaderboard exactly") {
    val batch = SparkEntry.queries("events_window_topk_users")(
      spark, sf0001).as[(Long, Long, Int, Long)].collect().sorted
    val stream = SparkEntry.queries("events_stream_window_topk")(
      spark, sf0001).as[(Long, Long, Int, Long)].collect().sorted
    batch.length should be > 0
    // micro-batch boundaries must be invisible: identical per-user
    // running totals -> identical per-window ranks and values
    stream shouldBe batch
  }

  test("streaming anomaly windows land on the batch flag set exactly") {
    val batch = SparkEntry.queries("events_anomaly_windows")(
      spark, sf0001).as[(String, Long, Long, Double, Double)]
      .collect().sorted
    val stream = SparkEntry.queries("events_stream_anomaly_windows")(
      spark, sf0001).as[(String, Long, Long, Double, Double)]
      .collect().sorted
    batch.length should be > 0
    // identical window counts as stream state -> identical median/MAD
    // fences -> identical flagged windows
    stream shouldBe batch
  }

  test("streaming CMS heavy-users equals the batch sketch exactly") {
    import graft.functions.CountMin
    // batch twin assembled from the same primitives
    val events = Tables(spark, sf0001, "events")
    val sk = CountMin.sketch(events.select($"user_id".as("term")),
      $"term", depth = 4, width = 1024)
    val exact = events.groupBy($"user_id")
      .agg(count(lit(1)).as("exact_cnt"))
      .orderBy($"exact_cnt".desc, $"user_id").limit(50)
    val batch = CountMin.estimate(sk, exact, $"user_id",
        depth = 4, width = 1024)
      .as[(Long, Long, Long)].collect().sorted
    val stream = SparkEntry.queries("events_stream_heavy_users")(
      spark, sf0001).as[(Long, Long, Long)].collect().sorted
    batch.length should be > 0
    // CMS counters sum associatively -> micro-batch slicing invisible
    stream shouldBe batch
    // and the sketch never undercounts its candidates
    stream.foreach { case (_, ex, est) => est should be >= ex }
  }

  test("streaming funnel lands on the batch summary exactly") {
    val batch = SparkEntry.queries("events_funnel_ordered")(
      spark, sf0001).collect().toSeq
    val stream = SparkEntry.queries("events_stream_funnel_ordered")(
      spark, sf0001).collect().toSeq
    batch.length shouldBe 1
    stream shouldBe batch
  }

  test("funnel stage-time arrays: late earlier-stage arrivals can't be " +
      "lost (the case a min-only incremental state gets wrong)") {
    // user 1: click at t=5 arrives BEFORE the signup at t=3 — an
    // incremental 'earliest click >= current t1' state that saw the
    // click while t1 was unknown would discard it forever; the
    // array-state recursion recovers it. user 2: click precedes its
    // signup in EVENT time -> never converts.
    val ev = Seq(
      (1L, "click", 5L), (1L, "signup", 3L), (1L, "purchase", 9L),
      (2L, "click", 1L), (2L, "signup", 4L))
      .toDF("user_id", "event_type", "ts")
    val viaArrays = {
      val stages = Seq("signup", "click", "purchase")
      val aggs = stages.zipWithIndex.map { case (st, i) =>
        collect_list(when($"event_type" === st, $"ts"))
          .as(s"times_${i + 1}")
      }
      graft.operators.Funnel.orderedFromStageTimes(
        ev.groupBy($"user_id").agg(aggs.head, aggs.tail: _*), 3)
    }.as[(Long, Long, Long, Long, Long)].head()
    viaArrays shouldBe ((2L, 1L, 1L, 500000L, 1000000L))
    val viaBatch = graft.operators.Funnel.ordered(ev, $"user_id",
      $"event_type", $"ts", Seq("signup", "click", "purchase"))
      .as[(Long, Long, Long, Long, Long)].head()
    viaBatch shouldBe viaArrays
  }

  test("left-outer interval join: inner rows preserved, null rows bounded") {
    val inner = SparkEntry.queries("events_stream_interval_join")(
      spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toSet
    val left = SparkEntry.queries("events_stream_interval_left")(
      spark, sf0001).collect()
    val leftMatched = left.filter(!_.isNullAt(3))
      .map(r => (r.getLong(0), r.getLong(3))).toSet
    leftMatched shouldBe inner // outer adds rows, never changes matches
    val nulls = left.filter(_.isNullAt(3))
    nulls.length should be > 0
    // every null row's purchase is genuinely unmatched, and sits
    // below the final min-side watermark (the state-eviction horizon)
    val matchedPurchases = inner.map(_._1)
    nulls.foreach { r =>
      matchedPurchases should not contain r.getLong(0)
      r.isNullAt(4) shouldBe true
    }
  }

  test("LIVE watermark drops: lag-2 filter rule, group units, audit bound") {
    // the declared live metric, against an in-test replay of the
    // pinned semantics: Spark's in-run late-event filter uses the
    // watermark lagged TWO batches (eviction advances per batch; the
    // late filter sees the previous batch's pre-advancement value),
    // and numRowsDroppedByWatermark counts post-merge (window, type)
    // GROUPS, not raw rows
    val live = SparkEntry.queries("events_stream_watermark_drops")(
      spark, sf0001).as[(Long, Long, Long)].collect().sortBy(_._1)
    live.length should be > 2
    live.map(_._3).sum should be > 0L
    val jitter = pmod(
      graft.functions.Kmv.u32($"event_id"), lit(432000L)) *
      lit(1000000000L) + $"event_id"
    val sliceNs = 172800L * 1000000000L
    val rows = Tables(spark, sf0001, "events")
      .select(($"ts" + jitter).as("a"),
        expr("ts DIV 1000").as("tus"), $"event_type")
      .collect()
      .map(r => org.apache.spark.sql.Row(
        r.getLong(0) / sliceNs, r.getLong(1), r.getString(2)))
    val slices = rows.map(_.getLong(0)).distinct.sorted
    val bidOf = slices.zipWithIndex.toMap
    val byBid = rows.groupBy(r => bidOf(r.getLong(0)))
    val maxUs = byBid.view.mapValues(_.map(_.getLong(1)).max).toMap
    val replay = (0 until slices.length).map { bid =>
      val wm =
        if (bid < 2) None
        else Some(((0 to bid - 2).map(maxUs).max / 1000 - 900000L) * 1000)
      val grps = byBid(bid).map { r =>
        val ws = r.getLong(1) - r.getLong(1) % 300000000L
        (ws, r.getString(2))
      }.distinct
      val dropped = wm match {
        case None => 0L
        case Some(w) => grps.count(g => g._1 + 300000000L <= w).toLong
      }
      (bid.toLong, byBid(bid).length.toLong, dropped)
    }
    live.toSeq shouldBe replay
    // the batch-granular live metric can never exceed the per-event
    // replay audit run at the SAME jitter/delay (watermark only lags)
    val audit = graft.operators.Retention.watermarkLateness(
      Tables(spark, sf0001, "events"),
      arrivalCol = $"ts" + jitter, tsCol = $"ts",
      keyCol = $"event_type", delayNs = 900L * 1000000000L)
      .agg(sum($"n_late")).as[Long].head()
    live.map(_._3).sum should be <= audit
  }
}
