package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

class EventStreamsSpec extends SparkSpec {

  test("streaming windowed counts equal the batch aggregation") {
    val streamed = EventStreams.windowedCounts(spark, sf0001).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3)))).toMap
    val batch = graft.Tables.events(spark, sf0001)
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3)))).toMap
    assert(streamed == batch)
  }

  test("streaming HLL cube equals batch a17 exactly — merge is order-independent") {
    // HLL union is register-wise max: commutative and associative, so
    // the micro-batch insertion order cannot change the merged sketch —
    // the streamed cube must reproduce the batch rollup bit-for-bit
    val streamed = EventStreams.streamingHllRollup(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1)
    val batch = graft.SparkEntry.queries("a17_hll_rollup")(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1)
    assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq,
      s"stream/batch sketch drift:\n$streamed\nvs\n$batch")
  }

  test("checkpoint recovery: stop mid-stream, restart, exactly-once totals equal batch") {
    // the durability contract a production pipeline relies on: aggregation
    // state and source offsets live in the checkpoint, so a stopped query
    // resumes where it left off — input that arrived before the stop is
    // neither lost (state recovers) nor reprocessed (offsets recover)
    val events = graft.Tables.events(spark, sf0001)
      .select("ts", "event_type", "value")
    val schema = events.schema
    val rows = events.collect()
    val half = rows.length / 2
    val base = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val srcDir = s"$base/src"
    def deliver(slice: Array[org.apache.spark.sql.Row]): Unit =
      spark.createDataFrame(
        java.util.Arrays.asList(slice: _*), schema)
        .coalesce(1).write.mode("append").parquet(srcDir)

    val qname = "graft_ckpt_recovery"
    def start() = spark.readStream.schema(schema).parquet(srcDir)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .writeStream.outputMode("complete").format("memory").queryName(qname)
      .option("checkpointLocation", s"$base/ckpt")
      .start()

    deliver(rows.take(half))
    val q1 = start()
    q1.processAllAvailable(); q1.stop() // "crash" with half the input processed
    deliver(rows.drop(half)) // the rest arrives while the query is down

    val q2 = start()
    q2.processAllAvailable()
    val secondRun = q2.recentProgress.map(_.numInputRows).sum
    q2.stop()
    // offsets recovered: the restarted run read only the newly arrived half
    assert(secondRun == rows.length - half,
      s"restart read $secondRun rows, expected ${rows.length - half}")
    // state recovered: totals over BOTH halves equal the batch aggregation
    // (a lost first half under-counts; a re-read first half double-counts)
    val got = spark.table(qname)
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n"), col("sum_value"))
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3)))).toMap
    val want = graft.Tables.events(spark, sf0001)
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3)))).toMap
    assert(got == want)
  }

  test("stream-static enrichment equals the batch join+agg") {
    val streamed = EventStreams.streamStaticEnrich(spark, sf0001).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getDouble(2)))).toMap
    val batch = graft.Tables.events(spark, sf0001)
      .join(graft.Tables.customer(spark, sf0001),
        col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getDouble(2)))).toMap
    assert(streamed == batch)
  }

  test("session windows: per-user session counts equal batch sessionization") {
    val streamed = EventStreams.sessionWindows(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val batch = graft.ops.Relational.eventsSessionize(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(streamed == batch)
  }

  test("streaming dedup equals batch distinct; watermark variant evicts dedup state") {
    // declared-query side: full replay == batch distinct
    val streamed = EventStreams.streamDedup(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val batch = graft.Tables.events(spark, sf0001)
      .groupBy("event_type").agg(countDistinct("user_id").as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(streamed == batch)

    // bounded-state variant: duplicates within the watermark horizon are
    // dropped; once the watermark passes a key's horizon its state is
    // evicted, so the same key re-admits — the infinite-stream shape
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(java.sql.Timestamp, String)]
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    val deduped = src.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("k")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("graft_dedup_evict").start()
    try {
      src.addData((ts(0), "a"), (ts(5), "a")) // dup within horizon → dropped
      q.processAllAvailable()
      src.addData((ts(40), "b")) // watermark → 10:30, evicts a's state
      q.processAllAvailable()
      src.addData((ts(41), "a")) // same key after eviction → re-admitted
      q.processAllAvailable()
      val ks = spark.table("graft_dedup_evict").collect().map(_.getString(1))
      assert(ks.count(_ == "a") == 2, s"expected a re-admitted after eviction: ${ks.toSeq}")
      assert(ks.count(_ == "b") == 1)
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows <= 2, s"dedup state not evicted: $stateRows rows")
    } finally q.stop()
  }

  test("interval join: boundary views included/excluded; join state bounded") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    val clicks = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val views = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val c = clicks.toDF().toDF("c_user", "c_ts", "c_id").withWatermark("c_ts", "1 hour")
    val v = views.toDF().toDF("v_user", "v_ts", "v_id").withWatermark("v_ts", "1 hour")
    val joined = c.join(v,
      col("c_user") === col("v_user") &&
        col("v_ts") <= col("c_ts") &&
        col("v_ts") >= col("c_ts") - expr("INTERVAL 10 MINUTES"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("graft_ij").start()
    try {
      // click at 10:20 — views at 10:10 (boundary, in), 10:09 (out),
      // 10:20 (same instant, in), 10:21 (after click, out), other user (out)
      views.addData((1L, ts(10), 100L), (1L, ts(9), 101L),
        (1L, ts(20), 102L), (1L, ts(21), 103L), (2L, ts(15), 104L))
      clicks.addData((1L, ts(20), 900L))
      q.processAllAvailable()
      val got = spark.table("graft_ij").select("v_id").collect().map(_.getLong(0)).toSet
      assert(got == Set(100L, 102L), s"joined view ids: $got")
    } finally q.stop()
  }

  test("interval-join declared query equals batch interval join") {
    val streamed = EventStreams.streamIntervalJoin(spark, sf0001).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val e = graft.Tables.events(spark, sf0001)
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("cts"), col("event_id").as("cid"))
    val v = e.filter(col("event_type") === "view")
      .select(col("user_id").as("vu"), col("ts").as("vts"))
    val batch = c.join(v, col("cu") === col("vu") &&
        col("vts") <= col("cts") &&
        col("vts") >= col("cts") - expr("INTERVAL 10 MINUTES"))
      .groupBy(col("cu").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"), countDistinct("cid").as("n_clicks"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(streamed == batch)
  }

  test("append mode: watermark drops late data and bounds state size") {
    // Incremental semantics the complete-mode oracles can't show: a
    // window is emitted once (when the watermark passes its end) and
    // evicted from state; rows arriving behind the watermark are dropped
    // and counted in numRowsDroppedByWatermark.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(java.sql.Timestamp, Double)]
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    val windowed = src.toDF().toDF("ts", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n"))
    val q = windowed.writeStream.outputMode("append")
      .format("memory").queryName("graft_append_evict").start()
    try {
      src.addData((ts(0), 1.0), (ts(5), 1.0), (ts(25), 1.0))
      q.processAllAvailable() // watermark afterwards: 10:25 − 10m = 10:15
      // 10:02 is behind the 10:15 watermark → dropped, never re-opens the
      // already-closed [10:00,10:10) window; 10:40 advances the watermark
      src.addData((ts(2), 99.0), (ts(40), 1.0))
      q.processAllAvailable()
      src.addData((ts(59), 1.0))
      q.processAllAvailable()
      val dropped = q.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
      assert(dropped >= 1, "late event was not dropped by the watermark")
      val out = spark.table("graft_append_evict")
        .select(date_format(col("window.start"), "HH:mm").as("w"), col("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(out.get("10:00").contains(2L),
        s"closed window must hold exactly the 2 on-time events: $out")
      // eviction bounds state: only the still-open trailing windows remain
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows <= 3, s"state not bounded by eviction: $stateRows rows")
    } finally q.stop()
  }

  test("AvailableNow backfill: rate-limited multi-batch replay, batch-equal totals") {
    val (out, batches) = EventStreams.backfillImpl(spark, sf0001)
    // maxFilesPerTrigger=1 over an 8-file stage must actually gate
    // admission: one micro-batch per file (AvailableNow may add an empty
    // finalizer batch — only data-carrying batches are counted)
    assert(batches >= EventStreams.backfillFiles,
      s"expected ≥${EventStreams.backfillFiles} data micro-batches, saw $batches")
    // rate limiting is value-invisible: identical to the unthrottled st1
    val unthrottled = EventStreams.windowedCounts(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    assert(out.collect().map(_.toSeq).toSeq == unthrottled)
  }

  test("outer interval join: unmatched clicks emit null rows, equals batch left join") {
    val got = EventStreams.streamOuterIntervalJoin(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // batch twin of st9's aggregation under the same cutoff
    val ev = graft.Tables.events(spark, sf0001)
    val c = ev.filter(col("event_type") === "click"
        && col("ts") < lit("2024-01-28").cast("timestamp"))
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_id"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
    val want = c.join(v, col("c_user") === col("v_user")
        && col("v_ts") <= col("c_ts")
        && col("v_ts") >= col("c_ts") - expr("INTERVAL 10 MINUTES"), "left_outer")
      .groupBy(col("c_user").as("user_id"))
      .agg(countDistinct(col("c_id")).as("n_clicks"),
        countDistinct(when(col("v_ts").isNull, col("c_id"))).as("n_unviewed"),
        count(col("v_ts")).as("n_pairs"))
      .orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == want.toSeq)
    // the outer half genuinely exercised: some clicks must be view-less,
    // and they can only appear via watermark-driven null emission
    assert(want.map(_._3).sum > 0, "fixture has no unmatched clicks — outer path untested")
  }

  test("full-outer interval join: both unmatched sides emit; equals batch full join") {
    val got = EventStreams.streamFullOuterIntervalJoin(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val cut = lit("2024-01-28").cast("timestamp")
    val ev = graft.Tables.events(spark, sf0001)
    val c = ev.filter(col("event_type") === "click" && col("ts") < cut)
      .select(col("user_id").as("cu"), col("ts").as("cts"), col("event_id").as("cid"))
    val v = ev.filter(col("event_type") === "view" && col("ts") < cut)
      .select(col("user_id").as("vu"), col("ts").as("vts"), col("event_id").as("vid"))
    val want = c.join(v, col("cu") === col("vu")
        && col("vts") <= col("cts")
        && col("vts") >= col("cts") - expr("INTERVAL 10 MINUTES"), "full_outer")
      .groupBy(coalesce(col("cu"), col("vu")).as("user_id"))
      .agg(countDistinct(col("cid")).as("n_clicks"),
        countDistinct(when(col("vts").isNull, col("cid"))).as("n_unviewed"),
        countDistinct(when(col("cid").isNull, col("vid"))).as("n_orphan_views"),
        count(when(col("cid").isNotNull, col("vts"))).as("n_pairs"))
      .orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == want.toSeq)
    // BOTH outer halves genuinely exercised: view-less clicks and
    // click-less views must exist in the fixture, and they can only
    // reach the sink via watermark-driven null emission
    assert(want.map(_._3).sum > 0, "fixture has no unmatched clicks — left-outer path untested")
    assert(want.map(_._4).sum > 0, "fixture has no orphan views — right-outer path untested")
  }

  test("file sink: _spark_metadata ledger makes reruns exactly-once no-ops") {
    val (out, _) = EventStreams.fileSinkRun(spark, sf0001)
    assert(new java.io.File(s"$out/_spark_metadata").exists(),
      "file sink did not write its commit log")
    val once = spark.read.parquet(out).count()
    val batch = graft.Tables.events(spark, sf0001)
      .filter(col("event_type") === "click").count()
    assert(once == batch, s"sink rows $once != batch filter $batch")
    // identical query, same checkpoint: the ledger already has every
    // batch id, so the rerun must commit nothing
    EventStreams.fileSinkRunAgain(spark, sf0001)
    val twice = spark.read.parquet(out).count()
    assert(twice == once, s"rerun duplicated rows: $twice vs $once")
  }

  test("temporal join: as-of semantics on planted out-of-order data") {
    import spark.implicits._
    // user 1: views at 10:00 (v=1.0) and 11:00 (v=2.0); clicks at
    //   10:30 (→ 1.0), 11:00 (AT the view instant → 2.0), 10:00
    //   (AT the first view → 1.0)
    // user 2: click at 10:15 with NO prior view (view arrives 10:30,
    //   later than the click → unmatched)
    // rows deliberately written in non-event-time order: the operator
    // must match against event-time history, not arrival order
    val rows = Seq(
      (100L, "2024-01-10 11:00:00", 1L, "view", 2.0, ""),
      (101L, "2024-01-10 10:30:00", 1L, "click", 0.0, ""),
      (102L, "2024-01-10 10:00:00", 1L, "view", 1.0, ""),
      (103L, "2024-01-10 11:00:00", 1L, "click", 0.0, ""),
      (104L, "2024-01-10 10:00:00", 1L, "click", 0.0, ""),
      (105L, "2024-01-10 10:15:00", 2L, "click", 0.0, ""),
      (106L, "2024-01-10 10:30:00", 2L, "view", 9.0, ""))
    val src = java.nio.file.Files
      .createTempDirectory("graft_st16_fix").toString
    val df = rows
      .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .select(col("event_id"), col("ts_s").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    df.write.mode("overwrite").parquet(src)
    val got = EventStreams.temporalJoinOnSrc(spark, df.schema, src,
      java.time.Instant.parse("2024-02-01T00:00:00Z").toEpochMilli)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.toString.toDouble)))
      .toMap
    // user 1: 3 clicks, all matched; 1.0 + 2.0 + 1.0 = 4.0
    assert(got(1L) == ((3L, 3L, Some(4.0))), s"user 1 got ${got(1L)}")
    // user 2: 1 click, unmatched, null sum
    assert(got(2L) == ((1L, 0L, None)), s"user 2 got ${got(2L)}")
  }

  test("ingest ledger: full re-delivery under a fresh checkpoint is a byte-level no-op") {
    val (ledger, appended, snap1, snap2) =
      EventStreams.ingestLedgerRun(spark, sf0001)
    // first delivery ingests exactly the distinct key set, in pieces
    val distinctKeys = graft.Tables.events(spark, sf0001)
      .select("event_id").distinct().count()
    val half = appended.size / 2
    assert(half >= 2, s"re-delivery under-exercised: ${appended.size} batches")
    assert(appended.take(half).sum == distinctKeys,
      s"first delivery appended ${appended.take(half).sum} != $distinctKeys keys")
    // the second, fully-duplicate delivery appends nothing...
    assert(appended.drop(half).forall(_ == 0L),
      s"re-delivered batches appended rows: ${appended.drop(half)}")
    // ...and never rewrites a file: names, lengths AND mtimes identical
    assert(snap1.nonEmpty && snap1 == snap2,
      "ledger files changed across a fully-duplicate re-delivery")
    // ledger content equals the batch distinct-key table
    val inLedger = spark.read.parquet(ledger).select("event_id").distinct().count()
    assert(inLedger == distinctKeys)
    assert(spark.read.parquet(ledger).count() == distinctKeys)
  }

  test("st28 cdf tail: incremental states == full recompute per version; a commit gap dies loudly") {
    val got = EventStreams.streamingCdfTail(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    // every version reached, in order, and each incremental state equals
    // the full log-replay snapshot recompute
    assert(got.map(_._1).distinct == Seq(0L, 1L, 2L, 3L))
    val full = graft.ops.Mutations.timeTravelRollup(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == full,
      "tailed incremental states diverge from the full per-version recompute")
    // ordering guarantee: a missing commit must kill the consumer, never
    // fold deltas out of order
    val dir = graft.ops.Mutations.ttStore(spark, sf0001)
    assert(new java.io.File(s"$dir/_log/v2.txt").delete())
    val err = intercept[Exception] {
      EventStreams.streamingCdfTailOnStore(spark, dir).collect()
    }
    def gapMsg(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains("commit gap")) ||
        gapMsg(t.getCause))
    assert(gapMsg(err), s"wrong failure for a commit gap: $err")
  }

  test("st28 bootstraps from the newest checkpoint: tail starts at ckpt version, head matches batch") {
    import graft.ops.Mutations
    // the up19 many-commit store checkpoints at v4 and v8 — the tailer
    // must seed from ckpt8 (one live-set scan) and fold ONLY v9
    val dir = Mutations.ttManyCommitStore(spark, sf0001)
    val got = EventStreams.streamingCdfTailOnStore(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got.map(_._1).distinct == Seq(8L, 9L),
      s"expected versions 8,9 only, got ${got.map(_._1).distinct}")
    // both emitted states equal the batch AS-OF recompute
    (8 to 9).foreach { v =>
      val batch = Mutations.ttAsOf(spark, dir, v).groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("cents").as("c")).collect()
        .map(r => (v.toLong, r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._2).toSeq
      assert(got.filter(_._1 == v) == batch,
        s"bootstrapped state at v$v diverges from batch AS OF")
    }
    // the tailer works even when pre-checkpoint commit files are GONE
    // (aged-out history): delete v0..v7 commit entries and re-tail
    (0 to 7).foreach { v =>
      assert(new java.io.File(s"$dir/_log/v$v.txt").delete())
    }
    val again = EventStreams.streamingCdfTailOnStore(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(again == got, "tail after history age-out diverges")
  }

  test("st29: post-stream plan reads ONLY the maintained view; every fold equals full recompute") {
    import graft.ops.Mutations
    import graft.plans.MatViews
    val dir = Mutations.ttStore(spark, sf0001)
    val got = EventStreams.streamingViewMaintenanceOnStore(spark, dir)
    // THE pin: the declared rollup's plan scans the maintained view dir,
    // never the store — the cat tier answered it from the registered MV
    val read = got.inputFiles.toSeq
    assert(read.nonEmpty && read.forall(_.contains("graft_mv_tt")),
      s"post-stream plan read outside the view: $read")
    assert(read.forall(f => !f.contains("graft_up13_store") ||
      f.contains("graft_mv_tt")), s"plan touched the store: $read")
    // stream-maintained content equals the full head recompute
    val viaView = got.collect()
      .map(r => (r.getDate(0).toString, r.getString(1),
        r.getLong(2), r.getLong(3))).toSeq
    val full = MatViews.withoutRewrite {
      Mutations.ttAsOf(spark, dir, 3)
        .groupBy(to_date(col("day")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
        .orderBy("day", "event_type").collect()
        .map(r => (r.getDate(0).toString, r.getString(1),
          r.getLong(2), r.getLong(3))).toSeq
    }
    assert(viaView == full,
      "stream-maintained view diverges from the full v3 recompute")
    // delete-bearing maintenance WITHOUT re-staging: re-run the fold
    // sequence directly and pin each step — the v3 fold (the DELETE
    // commit) must read only the commit's net-changed files, the move
    // cat7's plain-dir manifest diff cannot make
    val dir2 = Mutations.ttStore(spark, sf0001)
    MatViews.stageTtDailyRollup(spark, dir2, 0)
    (1 to 3).foreach { v =>
      val mv = MatViews.maintainTtDailyRollup(spark, dir2, v)
      val maintained = MatViews.withoutRewrite {
        spark.read.parquet(mv).orderBy("day", "event_type").collect()
          .map(r => (r.getDate(0).toString, r.getString(1),
            r.getLong(2), r.getLong(3))).toSeq
      }
      val expect = MatViews.withoutRewrite {
        Mutations.ttAsOf(spark, dir2, v)
          .groupBy(to_date(col("day")).as("day"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
          .orderBy("day", "event_type").collect()
          .map(r => (r.getDate(0).toString, r.getString(1),
            r.getLong(2), r.getLong(3))).toSeq
      }
      assert(maintained == expect, s"maintained view wrong at v$v")
    }
    // the CDF the v3 fold consumed planned over ONLY the net-changed
    // files (the store-read bound that makes maintenance churn-cost)
    val (addedF, removedF) = Mutations.ttChangedFiles(spark, dir2, 2, 3)
    val planned = Mutations.ttChanges(spark, dir2, 2, 3).inputFiles
      .map(f => new org.apache.hadoop.fs.Path(f).toUri.getPath).toSet
    val allowed = (addedF ++ removedF).map(f =>
      new java.io.File(s"$dir2/$f").getAbsolutePath).toSet
    assert(planned.nonEmpty && planned.subsetOf(allowed),
      s"delete-commit maintenance read outside the CDF set: ${planned -- allowed}")
  }

  test("rangeSrc: its files in modification-time order have non-decreasing min(ts)") {
    val dir = EventStreams.rangeSrc(spark, sf0001)
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.lastModified).toSeq
    assert(files.size == EventStreams.backfillFiles, files.map(_.getName).toString)
    assert(files.map(_.lastModified).distinct.size == files.size, "two slices share an mtime")
    val lows = files.map(f => spark.read.parquet(f.getPath).agg(min("ts")).head.getTimestamp(0))
    assert(lows == lows.sortBy(_.getTime), s"slices out of ts order: ${files.map(_.getName).zip(lows)}")
  }

  test("update-merge sink: untouched day partitions keep byte-identical files") {
    // the st12 scaling claim made checkable: per-batch writes restate only
    // the day partitions containing changed keys, so a partition outside a
    // batch's key set must keep the SAME files (names, lengths, mtimes) —
    // dynamic partition overwrite writes fresh UUID names into anything it
    // restates, so file identity proves the partition was never rewritten
    val target = graft.Tables.scratchDir("graft_st12_spec", sf0001)
    val snaps = scala.collection.mutable.Buffer
      .empty[(Set[String], Map[String, Seq[(String, Long, Long)]])]
    EventStreams.runUpdateMerge(spark, sf0001,
      EventStreams.rangeSrc(spark, sf0001), target,
      (days, snap) => snaps += ((days, snap)))
    assert(snaps.size >= 3, s"merge path under-exercised: ${snaps.size} batches")
    var untouched = 0
    for (i <- 1 until snaps.size) {
      val (days, snap) = snaps(i)
      val prev = snaps(i - 1)._2
      for ((part, files) <- prev if !days.contains(part.stripPrefix("day="))) {
        assert(snap.get(part).contains(files),
          s"batch $i did not touch $part but its files changed")
        untouched += 1
      }
    }
    // vacuous-pass guard: the range staging must produce at least one
    // batch whose key set misses some existing partition
    assert(untouched > 0, "every batch touched every partition — locality unproven")
    val merged = spark.read.parquet(target)
      .select("hour", "event_type", "n", "sum_value").collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3)))).toMap
    val batch = graft.Tables.events(spark, sf0001)
      .groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3)))).toMap
    assert(merged == batch)
  }

  test("merge-store compaction cadence: file counts bounded across >=8 batches") {
    val target = graft.Tables.scratchDir("graft_st14_spec", sf0001)
    val snaps = scala.collection.mutable.Buffer
      .empty[Map[String, Seq[(String, Long, Long)]]]
    EventStreams.runUpdateMerge(spark, sf0001,
      EventStreams.rangeSrc(spark, sf0001), target,
      (_, snap) => snaps += snap,
      filesPerTrigger = 1, compactEvery = 3)
    assert(snaps.count(_.nonEmpty) >= 8,
      s"cadence under-exercised: ${snaps.size} batches")
    // the uncadenced regime must be reachable (some batch accumulates
    // multiple files) or the boundedness claim is vacuous...
    assert(snaps.exists(_.values.exists(_.length > 1)),
      "no partition ever accumulated multiple files")
    // ...and the file count stays bounded at EVERY point in the
    // stream's life by the per-restatement writer ceiling (the merge's
    // anti-join ∪ batch can spread one day over both union branches'
    // shuffle partitions), NEVER by stream length — dynamic partition
    // overwrite replaces a partition's files on restatement and the
    // cadence folds them back to one between merges
    val bound =
      2 * spark.conf.get("spark.sql.shuffle.partitions").toInt + 1
    snaps.foreach { snap =>
      snap.foreach { case (part, files) =>
        assert(files.length <= bound,
          s"$part grew to ${files.length} files — compaction cadence failed")
      }
    }
    val totalsBefore = spark.read.parquet(target)
      .groupBy("event_type").agg(count(lit(1)).as("n"), round(sum("sum_value"), 4).as("sv"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    // final pass: every partition at one file; compact ones untouched
    val before = EventStreams.partitionSnapshot(
      org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration),
      target)
    graft.ops.Mutations.compactRun(spark, target, maxFiles = 1)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val after = EventStreams.partitionSnapshot(fs, target)
    after.foreach { case (part, files) =>
      assert(files.length <= 1, s"$part still has ${files.length} files")
    }
    before.filter(_._2.length <= 1).foreach { case (part, files) =>
      assert(after.get(part).contains(files),
        s"already-compact $part was rewritten by the metadata-driven pass")
    }
    // compaction is layout-only: totals byte-identical
    val totalsAfter = spark.read.parquet(target)
      .groupBy("event_type").agg(count(lit(1)).as("n"), round(sum("sum_value"), 4).as("sv"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(totalsAfter == totalsBefore)
  }

  test("streaming funnel equals batch e9 attribution exactly") {
    // stream ≡ batch: the watermark-finalized two-level as-of chain must
    // reproduce e9's counts bit for bit
    val streamed = EventStreams.streamingFunnel(spark, sf0001).collect().head
    val batch = graft.ops.Behavior.timeBoundFunnel(spark, sf0001).collect().head
    assert((streamed.getLong(0), streamed.getLong(1), streamed.getLong(2)) ==
      ((batch.getLong(0), batch.getLong(1), batch.getLong(2))),
      s"stream $streamed vs batch $batch")
  }

  test("streaming session paths equal batch e18 row for row") {
    // stream ≡ batch (st17's discipline): session_window's gap merges
    // must reproduce e2/e18's >=30-min-gap rule exactly, path order
    // and top-k tie-breaks included
    val streamed = EventStreams.streamingSessionPaths(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val batch = graft.ops.Behavior.sessionPaths(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(streamed == batch,
      s"stream/batch session paths diverge:\n$streamed\nvs\n$batch")
  }

  test("streaming PSI drift equals batch dq10 row for row; state is the 20-row cube") {
    val streamed = EventStreams.streamingPsiDrift(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
    val batch = graft.ops.Quality.psiDrift(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
    assert(streamed == batch,
      s"stream/batch PSI diverge:\n$streamed\nvs\n$batch")
    // bins-not-data state: the whole cube is <= 2 halves x 10 bins
    assert(streamed.length == 10)
  }

  test("streaming A/B readout equals batch e20 bit for bit") {
    val streamed = EventStreams.streamingAbTest(spark, sf0001).collect().head
    val batch = graft.ops.Behavior.abTestReadout(spark, sf0001).collect().head
    assert(streamed.toSeq == batch.toSeq,
      s"stream/batch A/B readouts diverge:\n$streamed\nvs\n$batch")
  }

  test("streaming heavy hitters equal batch t12; MG state bounded; capacity contract throws") {
    import org.apache.spark.sql.functions._
    val minCount = 50L
    val streamed = EventStreams
      .streamingHeavyHitters(spark, sf0001, minCount = minCount).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val batch = graft.ops.TextAnalysis
      .heavyHitters(spark, sf0001, minCount = minCount).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(streamed.nonEmpty, "fixture yields no heavy hitters at this bar")
    assert(streamed == batch,
      s"stream/batch heavy hitters diverge:\n$streamed\nvs\n$batch")
    // the memory sink still holds the last run's emissions: state stayed
    // within capacity in EVERY batch, and the replay was genuinely
    // multi-batch (processed strictly grows per bucket emission)
    val emits = spark.table("graft_stream_mg")
      .select(col("bucket"), col("processed"), size(col("candidates")).as("nc"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2)))
    assert(emits.forall(_._3 <= 512), "MG summary exceeded its capacity")
    assert(emits.groupBy(_._1).values.exists(_.length >= 2),
      "replay collapsed to a single micro-batch — state carry untested")
    // guarantee contract: a capacity too small for the bar must refuse
    // to answer, never silently under-report
    intercept[IllegalArgumentException] {
      EventStreams.streamingHeavyHitters(spark, sf0001,
        minCount = minCount, capacity = 2)
    }
  }

  test("st25: every micro-batch maintains the MV in delta cost; the final query reads the maintained view") {
    import org.apache.spark.sql.functions._
    val (reports, store) = EventStreams.streamingMvIngest(spark, sf0001)
    assert(reports.size >= 2, s"stream collapsed to ${reports.size} batch(es)")
    // per-batch delta maintenance: never a restage, always new files
    reports.foreach { r =>
      assert(!r.restaged, s"a streamed batch forced a full restage: $r")
      assert(r.added > 0 && r.removed == 0, s"$r")
    }
    // successive maintenance versions: each batch produced a NEW view dir
    assert(reports.map(_.viewDir).distinct.size == reports.size)
    // the post-stream query is answered from the LAST maintained view
    val df = graft.plans.MatViews.naiveDailyRollup(spark, store)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains(new java.io.File(reports.last.viewDir).getName),
      s"query not answered from the maintained view:\n$plan")
    // stream ≡ batch: maintained partials equal the full recompute
    def key(r: org.apache.spark.sql.Row) =
      (r.getDate(0).toString, r.getString(1), r.getLong(2), r.getLong(3))
    val got = df.collect().map(key).sortBy(t => (t._1, t._2))
    val full = graft.plans.MatViews.withoutRewrite {
      graft.plans.MatViews.naiveDailyRollup(spark, store)
        .collect().map(key).sortBy(t => (t._1, t._2))
    }
    assert(got.toSeq == full.toSeq)
  }

  test("st27: streamed batches maintain the distinct view APPEND-ONLY; the DAU query reads the view") {
    import org.apache.spark.sql.functions._
    val (reports, store) = EventStreams.streamingDistinctIngest(spark, sf0001)
    assert(reports.size >= 2, s"stream collapsed to ${reports.size} batch(es)")
    reports.foreach { r =>
      assert(!r.restaged && r.added > 0 && r.removed == 0,
        s"a streamed batch broke append-only maintenance: $r")
    }
    // append-only means ONE stable view dir across all batches (st25's
    // merge rewrites into versioned dirs; a monotone distinct set never
    // needs to)
    assert(reports.map(_.viewDir).distinct.size == 1)
    val mv = reports.last.viewDir
    // the view IS the distinct tuple set of the post-stream store
    val viewRows = graft.plans.MatViews.withoutRewrite {
      spark.read.parquet(mv).count()
    }
    val rawDistinct = graft.plans.MatViews.withoutRewrite {
      graft.plans.MatViews.naiveDistinctUsers(spark, store).count()
    }
    assert(viewRows == rawDistinct, s"view $viewRows != raw $rawDistinct")
    // the post-stream DAU query answers FROM the maintained view (cat12)
    val df = graft.Tables.events(spark, store)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(countDistinct(col("user_id")).as("dau"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains(new java.io.File(mv).getName) &&
      !plan.contains("events.parquet"),
      s"DAU query not answered from the maintained view:\n$plan")
    val got = df.collect().map(r => (r.getDate(0).toString, r.getLong(1))).sorted
    // a FRESH plan inside the guard — reusing df would reuse its already
    // rewritten QueryExecution and compare the view with itself
    val raw = graft.plans.MatViews.withoutRewrite {
      graft.Tables.events(spark, store)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(countDistinct(col("user_id")).as("dau"))
        .collect().map(r => (r.getDate(0).toString, r.getLong(1))).sorted
    }
    assert(got.toSeq == raw.toSeq)
  }

  test("st26: the engine drops exactly the two-watermark late set; the metric confirms engine-side drops") {
    import org.apache.spark.sql.functions._
    val (_, droppedMetric) = EventStreams.lateAccountingRun(spark, sf0001)
    // the drop happened inside the ENGINE's stateful operator (the
    // metric is partial-row granularity, so > 0 is the honest pin)
    assert(droppedMetric > 0, "watermark filter dropped nothing")
    val df = EventStreams.lateDataAccounting(spark, sf0001)
    // replay the two-watermark rule batch-side: wm_late = max(slice-0
    // on-time ts) − 1 h; dropped ⟺ late ∧ window end <= wm_late
    val ev = graft.Tables.events(spark, sf0001)
    val late = pmod(col("event_id"), lit(5)) === 3
    val wmLate = new java.sql.Timestamp(
      ev.filter(!late && to_date(col("ts")) <= lit("2024-01-10").cast("date"))
        .agg(max("ts")).head.getTimestamp(0).getTime - 3600000L)
    val expectDropped = ev.filter(late &&
      (to_date(col("ts")).cast("timestamp") + expr("INTERVAL 1 DAY")) <= lit(wmLate))
      .count()
    val gotDropped = df.agg(sum("n_dropped")).head.getLong(0)
    assert(gotDropped == expectDropped && expectDropped > 0,
      s"ledger=$gotDropped model=$expectDropped")
    // same-day stragglers (window still open at the late watermark)
    // were counted, not dropped
    val lateKept = ev.filter(late).count() - expectDropped
    assert(lateKept > 0, "fixture left no straggler inside the watermark")
    val keptCheck = df.agg(sum("n_ontime")).head.getLong(0)
    assert(keptCheck == ev.count() - expectDropped)
  }
}
