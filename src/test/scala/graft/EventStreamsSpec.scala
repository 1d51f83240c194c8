package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventStreams
import graft.streaming.EventStreams.{Event, UserSessions}

/** Batch-equivalent checks of the streaming event operators: the
  * streaming results over a replayed finite input must equal the batch
  * query over the same rows. */
class EventStreamsSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestBase.spark

  private def ts(min: Long): Timestamp =
    new Timestamp(1704067200000L + min * 60000L) // 2024-01-01 00:00 UTC + min

  test("tumblingHourly matches the batch hourly aggregation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val events = Seq(
      Event(1, ts(5), 1, 1.0), Event(2, ts(20), 1, 2.0),
      Event(3, ts(65), 2, 3.0), Event(4, ts(70), 1, 4.0),
      Event(5, ts(130), 2, 5.0))
    input.addData(events: _*)
    EventStreams.runToMemory(spark,
      EventStreams.tumblingHourly(input.toDF()), "tumbling_out",
      OutputMode.Append())
    // Append mode only emits windows the watermark has passed; replaying
    // finite data the last window stays open, so compare the CLOSED ones.
    val got = spark.table("tumbling_out")
      .select("bucket", "n", "v").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getDouble(2)))
      .toSet
    val expAll = events.groupBy(e => e.ts.getTime / 3600000L).map {
      case (h, es) => (h * 3600000L, es.size.toLong,
        es.map(_.value).sum)
    }.toSet
    assert(got.subsetOf(expAll), s"got $got not within batch result $expAll")
    assert(got.nonEmpty, "watermark should have closed at least one window")
  }

  test("sessionWindows: native session_window splits on the gap, one row per closed session") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    input.addData(
      // user 1: two events 5 min apart (one session), then a 60-min
      // silence -> second session; a late high-ts event on user 2
      // advances the watermark far enough to close them all.
      Event(1, ts(0), 1, 1.0), Event(2, ts(5), 1, 2.0),
      Event(3, ts(65), 1, 4.0),
      Event(9, ts(600), 2, 0.5))
    EventStreams.runToMemory(spark,
      EventStreams.sessionWindows(input.toDF(), gap = "30 minutes"),
      "sess_win_out", OutputMode.Append())
    val rows = spark.table("sess_win_out")
      .select("user_id", "session_start", "n_events", "v")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime,
        r.getLong(2), r.getDouble(3))).toSet
    // user 1: [0,5] as one 2-event session, [65] alone; user 2's
    // session stays OPEN (nothing advances the watermark past it).
    assert(rows == Set(
      (1L, ts(0).getTime, 2L, 3.0),
      (1L, ts(65).getTime, 1L, 4.0)), s"got $rows")
  }

  test("intervalJoin pairs same-user events within the time bound, append mode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val views = MemoryStream[Event]
    clicks.addData(
      Event(1, ts(10), 1, 1.0),   // pairs with view 101 (5 min apart)
      Event(2, ts(100), 1, 1.0),  // no view within 10 min
      Event(3, ts(20), 2, 1.0))   // pairs with view 103 (same minute)
    views.addData(
      Event(101, ts(5), 1, 9.0),
      Event(102, ts(60), 1, 9.0), // 40 min from click 2: out of bound
      Event(103, ts(20), 2, 9.0),
      Event(104, ts(15), 3, 9.0)) // user 3 has no clicks
    EventStreams.runToMemory(spark,
      EventStreams.intervalJoin(clicks.toDF(), views.toDF()),
      "ssjoin_out", OutputMode.Append())
    val pairs = spark.table("ssjoin_out").select("event_id", "r_event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 101L), (3L, 103L)), s"got $pairs")
  }

  test("dedupWithinWatermark drops replayed ids, keeps distinct ones") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    input.addData(
      Event(1, ts(0), 1, 1.0), Event(1, ts(1), 1, 1.0), // dup id 1
      Event(2, ts(2), 1, 2.0), Event(3, ts(3), 2, 3.0),
      Event(2, ts(4), 1, 2.0)) // dup id 2
    EventStreams.runToMemory(spark,
      EventStreams.dedupWithinWatermark(input.toDF(), Seq("event_id")),
      "dedup_out", OutputMode.Append())
    val ids = spark.table("dedup_out").select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L))
  }

  /** Armed per-group timeouts make the engine schedule no-data
    * micro-batches forever (a busy loop under the default trigger, an
    * un-terminating query under AvailableNow — the round-2 hang). The
    * sessionize tests only need DATA batches: timeouts are evaluated at
    * the start of every executed batch anyway, so switching the no-data
    * batches off gives bounded tests without changing semantics. */
  private def withoutNoDataBatches[A](body: => A): A = {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, prev)
  }

  test("sessionize counts gap-separated sessions like the batch query") { withoutNoDataBatches {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    // user 1: 3 events, one >30min gap → 2 sessions
    // user 2: 2 events 5min apart → 1 session
    input.addData(
      Event(1, ts(0), 1, 1.0), Event(2, ts(10), 1, 1.0),
      Event(3, ts(50), 1, 1.0),
      Event(4, ts(0), 2, 1.0), Event(5, ts(5), 2, 1.0))
    val sessions = EventStreams.sessionize(input.toDS())
    // An armed ProcessingTimeTimeout keeps an AvailableNow query alive
    // waiting on the wall-clock timer — drain with processAllAvailable
    // + stop instead of awaitTermination, per the operator's scaladoc.
    val q = sessions.writeStream.format("memory").queryName("sessions_out")
      .outputMode(OutputMode.Update())
      .start()
    try {
      q.processAllAvailable()
      val got = spark.table("sessions_out").as[UserSessions].collect()
        .groupBy(_.user_id).map { case (u, rows) => u -> rows.last }
      assert(got(1L).n_sessions == 2 && got(1L).n_events == 3)
      assert(got(2L).n_sessions == 1 && got(2L).n_events == 2)

      // Incremental state: a later event within the gap doesn't open a
      // new session; one beyond the gap does.
      input.addData(Event(6, ts(60), 1, 1.0), Event(7, ts(200), 2, 1.0))
      q.processAllAvailable()
      val got2 = spark.table("sessions_out").as[UserSessions].collect()
        .groupBy(_.user_id).map { case (u, rows) => u -> rows.last }
      assert(got2(1L).n_sessions == 2 && got2(1L).n_events == 4)
      assert(got2(2L).n_sessions == 2 && got2(2L).n_events == 3)
    } finally q.stop()
  } }

  test("sessionizeEventTime matches batch counts and evicts on watermark") { withoutNoDataBatches {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val sessions = EventStreams.sessionizeEventTime(input.toDS())
    val q = sessions.writeStream.format("memory").queryName("sessions_et_out")
      .outputMode(OutputMode.Update())
      .start()
    try {
      // Batch 1: same shape as the processing-time test — counts agree.
      input.addData(
        Event(1, ts(0), 1, 1.0), Event(2, ts(10), 1, 1.0),
        Event(3, ts(50), 1, 1.0),
        Event(4, ts(0), 2, 1.0), Event(5, ts(5), 2, 1.0))
      q.processAllAvailable()
      val got = spark.table("sessions_et_out").as[UserSessions].collect()
        .groupBy(_.user_id).map { case (u, rows) => u -> rows.last }
      assert(got(1L).n_sessions == 2 && got(1L).n_events == 3)
      assert(got(2L).n_sessions == 1 && got(2L).n_events == 2)

      // Batch 2 advances the max event time to t=120min; after this
      // batch the watermark is 110min > (50min + 30min gap), so user 1
      // and 2 are due for eviction at the NEXT batch.
      input.addData(Event(6, ts(120), 3, 1.0))
      q.processAllAvailable()
      // Batch 3: data only for user 3 — the timed-out branch must fire
      // for users 1 and 2 (final emission + state removal).
      input.addData(Event(7, ts(125), 3, 1.0))
      q.processAllAvailable()
      // Batch 4: user 1 reappears AFTER eviction — counts restart from
      // zero, proving the state was actually removed, not retained.
      input.addData(Event(8, ts(126), 1, 1.0))
      q.processAllAvailable()
      val fin = spark.table("sessions_et_out").as[UserSessions].collect()
        .groupBy(_.user_id).map { case (u, rows) => u -> rows.last }
      assert(fin(1L).n_events == 1 && fin(1L).n_sessions == 1,
        s"user 1 state should have been evicted and restarted, got ${fin(1L)}")
      assert(fin(3L).n_events == 2 && fin(3L).n_sessions == 1)
    } finally q.stop()
  } }

  test("sessionRecords (flatMapGroupsWithState) emits one row per closed session") { withoutNoDataBatches {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val records = EventStreams.sessionRecords(input.toDS())
    val q = records.writeStream.format("memory").queryName("srec_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      // user 1: two sessions in ONE batch (gap between t=10 and t=50)
      // — the first must emit IMMEDIATELY (in-batch close), the second
      // stays open. user 2: one open session.
      input.addData(
        Event(1, ts(0), 1, 1.0), Event(2, ts(10), 1, 1.0),
        Event(3, ts(50), 1, 1.0),
        Event(4, ts(0), 2, 1.0), Event(5, ts(5), 2, 1.0))
      q.processAllAvailable()
      val batch1 = spark.table("srec_out").as[EventStreams.SessionRecord]
        .collect().toSeq
      assert(batch1.map(r => (r.user_id, r.session_start.getTime,
        r.session_end.getTime, r.n_events)).toSet ==
        Set((1L, ts(0).getTime, ts(10).getTime, 2L)),
        s"only user 1's first session is closed, got $batch1")

      // Advance the watermark past every open session's end + gap
      // (max event time 120min → watermark 110min > 50+30, > 5+30),
      // then run a data batch so the timeout branch fires.
      input.addData(Event(6, ts(120), 3, 1.0))
      q.processAllAvailable()
      input.addData(Event(7, ts(125), 3, 1.0))
      q.processAllAvailable()
      val all = spark.table("srec_out").as[EventStreams.SessionRecord]
        .collect().toSeq
        .map(r => (r.user_id, r.session_start.getTime, r.session_end.getTime,
          r.n_events)).toSet
      assert(all.contains((1L, ts(50).getTime, ts(50).getTime, 1L)),
        s"user 1's open session must close on watermark, got $all")
      assert(all.contains((2L, ts(0).getTime, ts(5).getTime, 2L)),
        s"user 2's session must close on watermark, got $all")
      // user 3's session (120..125) is still open: not emitted.
      assert(!all.exists(_._1 == 3L), s"user 3 must still be open, got $all")
    } finally q.stop()
  } }

  test("streaming contamination flag matches the batch ngramHits decision") {
    // The stateless decontamination form: collect the eval gram set
    // once, stamp every micro-batch map-only (no join/agg/watermark).
    // The flagged doc set must equal batch ngramHits over the same
    // split.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val train = docs.filter(col("doc_id") % 10 =!= 0)
    val evalSide = docs.filter(col("doc_id") % 10 === 0)
    val evalGrams = graft.operators.Decontaminate.collectEvalGrams(evalSide, w = 6)
    val batchHit = graft.operators.Decontaminate.ngramHits(train, evalSide, w = 6)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batchHit.nonEmpty, "fixture must contain contamination")
    val input = MemoryStream[(Long, String)]
    val flagged = input.toDF().toDF("doc_id", "text")
      .withColumn("contaminated", graft.operators.Decontaminate
        .contaminationFlag(col("text"), evalGrams, w = 6))
    val q = flagged.writeStream.format("memory").queryName("decon_out")
      .outputMode(OutputMode.Append()).start()
    try {
      val rows = train.collect().map(r => (r.getLong(0), r.getString(1)))
      input.addData(rows.take(rows.length / 2): _*)
      q.processAllAvailable()
      input.addData(rows.drop(rows.length / 2): _*)
      q.processAllAvailable()
      val streamed = spark.table("decon_out")
        .filter(col("contaminated")).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(streamed == batchHit,
        s"stream != batch: extra=${(streamed -- batchHit).take(5)} " +
          s"missing=${(batchHit -- streamed).take(5)}")
      assert(spark.table("decon_out").count() == rows.length,
        "every streamed doc must be stamped exactly once")
    } finally q.stop()
  }

  test("streaming bloom prefilter: superset of exact, exact when composed") {
    // The two-phase gate's streaming phase 1: the bloom flag is
    // stateless (map-only, no join/agg/watermark) so it drops into an
    // append stream like contaminationFlag; it may only OVER-flag
    // (no false negatives), and AND-ing the exact probe restores the
    // exact decision — both checked across a micro-batch split.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val train = docs.filter(col("doc_id") % 10 =!= 0)
    val evalSide = docs.filter(col("doc_id") % 10 === 0)
    val evalGrams = graft.operators.Decontaminate.collectEvalGrams(evalSide, w = 6)
    val bits = graft.operators.Decontaminate.bloomBits(evalGrams)
    val exactHit = train.filter(graft.operators.Decontaminate
        .contaminationFlag(col("text"), evalGrams, w = 6))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(exactHit.nonEmpty, "fixture must contain contamination")
    val input = MemoryStream[(Long, String)]
    val flagged = input.toDF().toDF("doc_id", "text")
      .withColumn("bloom_hit", graft.operators.Decontaminate
        .bloomCandidateFlag(col("text"), bits, w = 6))
      .withColumn("exact_hit", graft.operators.Decontaminate
        .contaminationFlag(col("text"), evalGrams, w = 6))
    val q = flagged.writeStream.format("memory").queryName("bloom_out")
      .outputMode(OutputMode.Append()).start()
    try {
      val rows = train.collect().map(r => (r.getLong(0), r.getString(1)))
      input.addData(rows.take(rows.length / 2): _*)
      q.processAllAvailable()
      input.addData(rows.drop(rows.length / 2): _*)
      q.processAllAvailable()
      val out = spark.table("bloom_out")
      val bloomSet = out.filter(col("bloom_hit")).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      val composed = out.filter(col("bloom_hit") && col("exact_hit"))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(exactHit.subsetOf(bloomSet),
        s"bloom missed exact hits: ${(exactHit -- bloomSet).take(5)}")
      assert(composed == exactHit,
        s"composition must be exact: extra=${(composed -- exactHit).take(5)}")
    } finally q.stop()
  }

  test("misra_gries_keys composes with streaming windowed aggregation") {
    // The native TypedImperativeAggregate must work under the streaming
    // stateful-agg operator (its buffer round-trips through the state
    // store between micro-batches) — proven by feeding two batches and
    // checking the heavy key survives the restored sketch.
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, window}
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val agg = input.toDF()
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.plans.GraftFunctions.misraGriesKeys(
        col("user_id").cast("string"), 4).as("heavy"))
      .select(col("window.start").as("w"), col("heavy"))
    val q = agg.writeStream.format("memory").queryName("mg_stream_out")
      .outputMode(OutputMode.Complete()).start()
    try {
      // user 1 dominates across BOTH batches; the tail users churn.
      input.addData((1 to 10).map(i =>
        Event(i, ts(i), if (i % 4 == 0) 100 + i else 1, 1.0)): _*)
      q.processAllAvailable()
      input.addData((11 to 20).map(i =>
        Event(i, ts(i), if (i % 4 == 0) 100 + i else 1, 1.0)): _*)
      q.processAllAvailable()
      val rows = spark.table("mg_stream_out").collect()
      assert(rows.length == 1, s"one open hour window, got ${rows.length}")
      val heavy = rows.head.getSeq[String](1).toSet
      assert(heavy.size <= 4, s"sketch must keep <= k keys: $heavy")
      assert(heavy.contains("1"),
        s"heavy user must survive the state-store round-trip: $heavy")
    } finally q.stop()
  }

  test("snapshot sink: streamed batches land exactly once, replay is a no-op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft-ssnk") + "/t"
    val ckpt = tempDir("graft-ssnk-ck")
    val input = MemoryStream[Long]
    val q = graft.streaming.SnapshotSink.start(
      input.toDF().toDF("id"), dir, ckpt, appId = "events-v1")
    try {
      input.addData(0L until 10L: _*); q.processAllAvailable()
      input.addData(10L until 25L: _*); q.processAllAvailable()
    } finally q.stop()
    def got() = graft.sources.SnapshotTable.read(spark, dir)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(got().sorted == (0L until 25L))
    // Simulate the foreachBatch replay a checkpoint recovery performs:
    // re-commit batch 0's data with its original batch id — must be a
    // manifest no-op, no duplicate rows.
    assert(graft.sources.SnapshotTable.transactionalAppend(
      (0L until 10L).toDF("id"), dir, "events-v1", 0L).isEmpty)
    assert(got().sorted == (0L until 25L), "replayed batch duplicated rows")
  }

  test("snapshot merge sink: streaming CDC upsert is last-write-wins and exactly-once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft-smrg") + "/t"
    val ckpt = tempDir("graft-smrg-ck")
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.SnapshotSink.startMerge(
      input.toDF().toDF("id", "v"), dir, ckpt, appId = "cdc-v1",
      keys = Seq("id"))
    try {
      // Batch 0 inserts; batch 1 overwrites id=1 and inserts id=5.
      input.addData((1L, "a"), (2L, "b")); q.processAllAvailable()
      input.addData((1L, "a2"), (5L, "e")); q.processAllAvailable()
    } finally q.stop()
    def got() = graft.sources.SnapshotTable.read(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got() == Map(1L -> "a2", 2L -> "b", 5L -> "e"))
    // Checkpoint-recovery replay of batch 1: manifest no-op — the
    // stale values must NOT overwrite, and no rows duplicate.
    assert(graft.sources.SnapshotTable.transactionalMerge(spark, dir,
      Seq((1L, "STALE"), (5L, "STALE")).toDF("id", "v"), Seq("id"),
      "cdc-v1", 1L).isEmpty)
    assert(got() == Map(1L -> "a2", 2L -> "b", 5L -> "e"))
  }

  test("ann-ingest: streamed IVF appends equal the batch index at any micro-batch split") {
    // Batch-split invariance of AnnIngest: appends are per-row pure
    // (vector, recorded quantizer), so streaming the delta in two
    // micro-batches must leave the index probe-identical to the
    // all-at-once build over base+delta.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = tempDir("graft-ann-idx") + "/idx"
    val ckpt = tempDir("graft-ann-ck")
    val base = emb.filter(col("vec_id") % 2 === 0)
    graft.operators.Similarity.writeIvfIndex(base, dir, cellBits = 4)
    val deltaRows = emb.filter(col("vec_id") % 2 === 1)
      .select("vec_id", "embedding").as[(Long, Array[Float])]
      .collect().sortBy(_._1)
    val (b1, b2) = deltaRows.splitAt(deltaRows.length / 2)
    val input = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.AnnIngest.start(
      input.toDF().toDF("vec_id", "embedding"), dir, ckpt)
    try {
      input.addData(b1.toSeq: _*); q.processAllAvailable()
      input.addData(b2.toSeq: _*); q.processAllAvailable()
    } finally q.stop()
    def rset(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "cand_id", "cos_sim", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSet
    val streamed = rset(graft.operators.Similarity.ivfTopKIndexed(
      spark, dir, col("vec_id") < 8, k = 5))
    val batch = rset(graft.operators.Similarity.ivfTopK(
      emb, col("vec_id") < 8, k = 5, cellBits = 4))
    assert(batch.nonEmpty && streamed == batch,
      s"streamed index probe != batch, e.g. ${(streamed -- batch).take(3)}")
  }

  test("curation stream: gates + dedup + exactly-once snapshot landing, split-invariant") {
    // The full streaming curation pipeline: gopher/quality gates +
    // incremental dedup against a base index, survivors landed
    // exactly-once in a SnapshotTable. The kept set must equal the
    // batch-computed expectation regardless of micro-batch split, and
    // a REPLAYED batch (same appId + txn version) must be a no-op.
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod}
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val isDelta = pmod(col("doc_id"), lit(5)) === 4
    val table = tempDir("graft-cur-t") + "/t"
    val ckpt = tempDir("graft-cur-ck")
    val reg = new graft.operators.CacheRegistry
    try {
      graft.operators.Dedup.writeMinhashIndex(docs.filter(!isDelta),
        "cur_idx", nBuckets = 4, registry = reg)
      val deltaRows = docs.filter(isDelta).select("doc_id", "text")
        .as[(Long, String)].collect().sortBy(_._1)
      val (b1, b2) = deltaRows.splitAt(deltaRows.length / 2)
      val input = MemoryStream[(Long, String)]
      val q = graft.streaming.CurationStream.start(spark,
        input.toDF().toDF("doc_id", "text"), "cur_idx", table, ckpt, "cur")
      try {
        input.addData(b1.toSeq: _*); q.processAllAvailable()
        input.addData(b2.toSeq: _*); q.processAllAvailable()
      } finally q.stop()
      val landed = graft.sources.SnapshotTable.read(spark, table)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val expect = graft.streaming.CurationStream.stampBatch(spark,
          docs.filter(isDelta), "cur_idx", registry = reg)
        .filter(col("keep")).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(expect.nonEmpty && expect.size < deltaRows.length,
        "fixture must exercise both keeps and rejects")
      assert(landed == expect,
        s"stream != batch keep set, e.g. ${(landed diff expect).take(3)} / " +
          s"${(expect diff landed).take(3)}")
      // Exactly-once: re-landing batch 1 under its already-committed
      // txn version is a manifest no-op.
      val vBefore = graft.sources.SnapshotTable.latestVersion(spark, table)
      val replay = graft.streaming.CurationStream.stampBatch(spark,
          b1.toSeq.toDF("doc_id", "text"), "cur_idx", registry = reg)
        .filter(col("keep")).select("doc_id", "text")
      assert(graft.sources.SnapshotTable.transactionalAppend(
        replay, table, "cur", 0L).isEmpty)
      assert(graft.sources.SnapshotTable.latestVersion(spark, table) == vBefore)
    } finally {
      reg.releaseAll()
      spark.sql("DROP TABLE IF EXISTS cur_idx")
      spark.sql("DROP TABLE IF EXISTS cur_idx_grams")
    }
  }

  test("dedup-on-ingest: streaming stamps equal the batch decision at any micro-batch split") {
    // The batch-split-invariance contract of DedupOnIngest: the
    // incremental decision is a per-row function of (doc, base index),
    // so two micro-batches must produce exactly the single-batch
    // stamps — including the dup hits against the base corpus.
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod}
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val isDelta = pmod(col("doc_id"), lit(5)) === 4
    val out = tempDir("graft-doi-out") + "/stamps"
    val ckpt = tempDir("graft-doi-ck")
    val reg = new graft.operators.CacheRegistry
    try {
      graft.operators.Dedup.writeMinhashIndex(docs.filter(!isDelta),
        "doi_idx", nBuckets = 4, registry = reg)
      val deltaRows = docs.filter(isDelta).select("doc_id", "text")
        .as[(Long, String)].collect().sortBy(_._1)
      val (b1, b2) = deltaRows.splitAt(deltaRows.length / 2)
      val input = MemoryStream[(Long, String)]
      val q = graft.streaming.DedupOnIngest.start(spark,
        input.toDF().toDF("doc_id", "text"), "doi_idx", out, ckpt)
      try {
        input.addData(b1.toSeq: _*); q.processAllAvailable()
        input.addData(b2.toSeq: _*); q.processAllAvailable()
      } finally q.stop()
      def key(r: org.apache.spark.sql.Row) = r.getLong(0) ->
        ((r.getBoolean(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getDouble(4))))
      val streamed = spark.read.parquet(out)
        .select("doc_id", "is_dup", "n_matches", "canonical", "best_jaccard")
        .collect().map(key).toMap
      val batch = graft.streaming.DedupOnIngest.stampBatch(spark,
          docs.filter(isDelta), "doi_idx", registry = reg)
        .collect().map(key).toMap
      assert(batch.values.exists(_._1), "fixture must have cross-split dups")
      assert(streamed.size == deltaRows.length,
        "every streamed doc stamped exactly once")
      assert(streamed == batch,
        s"stream != batch, e.g. ${(streamed.toSet -- batch.toSet).take(3)}")
    } finally {
      reg.releaseAll()
      spark.sql("DROP TABLE IF EXISTS doi_idx")
      spark.sql("DROP TABLE IF EXISTS doi_idx_grams")
    }
  }

  test("ann-ingest exactly-once: snapshot-ledgered IVF — replays are no-ops, probe exact") {
    // The streaming ANN index through the SnapshotTable transaction
    // ledger: micro-batches land exactly once (a replayed batchId is
    // a manifest no-op), and the multi-probe snapshot read over all
    // cells equals brute force over exactly the streamed vectors.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = tempDir("graft-ann-eo") + "/t"
    val ckpt = tempDir("graft-ann-eock")
    val cents = graft.operators.Kmeans.train(emb, 8, 2)
    graft.operators.Similarity.initIvfSnapshot(spark, dir, cents)
    val rows = emb.select("vec_id", "embedding").as[(Long, Array[Float])]
      .collect().sortBy(_._1)
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val input = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.AnnIngest.startExactlyOnce(
      input.toDF().toDF("vec_id", "embedding"), dir, "ann-eo", ckpt)
    try {
      input.addData(b1.toSeq: _*); q.processAllAvailable()
      input.addData(b2.toSeq: _*); q.processAllAvailable()
    } finally q.stop()
    val vBefore = graft.sources.SnapshotTable.latestVersion(spark, dir).get
    val nBefore = graft.sources.SnapshotTable.read(spark, dir).count()
    assert(nBefore == rows.length.toLong)
    // Checkpoint-recovery replay of micro-batch 0: manifest no-op.
    val replay = b1.toSeq.toDF("vec_id", "embedding")
    assert(graft.operators.Similarity
      .appendIvfSnapshot(replay, dir, "ann-eo", 0L).isEmpty)
    assert(graft.sources.SnapshotTable.latestVersion(spark, dir)
      .contains(vBefore))
    assert(graft.sources.SnapshotTable.read(spark, dir).count() == nBefore)
    // A NEW transaction version still lands (the ledger is per-app
    // monotone, not frozen) — and is itself replay-proof.
    val extra = Seq((5000000L, rows.head._2)).toDF("vec_id", "embedding")
    assert(graft.operators.Similarity
      .appendIvfSnapshot(extra, dir, "ann-eo", 99L).nonEmpty)
    assert(graft.operators.Similarity
      .appendIvfSnapshot(extra, dir, "ann-eo", 99L).isEmpty)
    // Probing every cell over the snapshot equals brute force over
    // exactly the landed vectors (streamed + the one extra).
    def rset(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "cand_id", "cos_sim", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSet
    val got = rset(graft.operators.Similarity.ivfTopKSnapshot(
      spark, dir, col("vec_id") < 8, k = 5, probes = cents.length))
    val want = rset(graft.operators.Similarity.bruteTopK(
      emb.select(col("vec_id"), col("embedding"))
        .unionByName(extra), col("vec_id") < 8, k = 5))
    assert(want.nonEmpty && got == want,
      s"snapshot probe != brute force, e.g. ${(got -- want).take(3)}")
    // Single-probe is manifest-pruned: strictly fewer files open than
    // the full table holds (hidden partitioning: min==max per file).
    val (sel, tot) = graft.sources.SnapshotTable.pruneFilesEq(
      spark, dir, "cell",
      graft.operators.Kmeans.assign(
        emb.limit(1).select(col("vec_id"),
          graft.operators.Kmeans.quantize(col("embedding")).as("qv")),
        cents).select("cid").head().getInt(0))
    assert(sel.size < tot, s"cell probe should prune files: $sel of $tot")
    // Id-resolved query lookup: same results as the predicate form,
    // and the query rows are found through vec_id stats/Bloom pruning
    // (strictly fewer files than the table holds), not a full scan.
    val gotIds = rset(graft.operators.Similarity.ivfTopKSnapshotIds(
      spark, dir, (0L until 8L).toSeq, k = 5, probes = cents.length))
    assert(gotIds == want, "id-resolved probe != predicate probe")
    val (qSel, qTot) = graft.sources.SnapshotTable.pruneFilesEq(
      spark, dir, "vec_id", 0L)
    assert(qSel.size < qTot,
      s"vec_id lookup should prune files: ${qSel.size} of $qTot")
  }

  test("pq-ingest exactly-once: snapshot-ledgered IVF-PQ codes — replays no-op, probe == plain index") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = graft.operators.Kmeans.train(emb, 8, 2)
    val cbs = graft.operators.Pq.trainResidual(emb, cents, m = 8, k = 8,
      iters = 2)
    val dir = tempDir("graft-pq-eo") + "/t"
    val ckpt = tempDir("graft-pq-eock")
    graft.operators.Pq.initIvfPqSnapshot(spark, dir, cents, cbs,
      residual = true)
    val rows = emb.select("vec_id", "embedding").as[(Long, Array[Float])]
      .collect().sortBy(_._1)
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val input = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.AnnIngest.startExactlyOncePq(
      input.toDF().toDF("vec_id", "embedding"), dir, "pq-eo", ckpt)
    try {
      input.addData(b1.toSeq: _*); q.processAllAvailable()
      input.addData(b2.toSeq: _*); q.processAllAvailable()
    } finally q.stop()
    val vBefore = graft.sources.SnapshotTable.latestVersion(spark, dir).get
    assert(graft.sources.SnapshotTable.read(spark, dir).count()
      == rows.length.toLong)
    // Replay of micro-batch 0 is a manifest no-op.
    assert(graft.operators.Pq.appendIvfPqSnapshot(
      b1.toSeq.toDF("vec_id", "embedding"), dir, "pq-eo", 0L).isEmpty)
    assert(graft.sources.SnapshotTable.latestVersion(spark, dir)
      .contains(vBefore))
    // All-cells snapshot probe == the plain writeIvfPqIndex probe over
    // the same vectors and quantizers (the streamed codes are
    // bit-identical to a batch build).
    val full = tempDir("graft-pq-eofl") + "/idx"
    graft.operators.Pq.writeIvfPqIndex(emb, full, cents, cbs,
      residual = true)
    def rset(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "cand_id", "adc_dist", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
    val got = rset(graft.operators.Pq.ivfPqTopKSnapshot(spark, dir,
      emb.filter(col("vec_id") < 8), k = 5, probes = cents.length))
    val want = rset(graft.operators.Pq.ivfPqTopK(spark, full, emb,
      col("vec_id") < 8, k = 5, probes = cents.length))
    assert(want.nonEmpty && got == want,
      "snapshot codes probe != plain index probe")
    // A single probed cell resolves through stats: fewer files open
    // than the table holds.
    val oneCell = graft.sources.SnapshotTable.pruneFilesEq(
      spark, dir, "cell",
      spark.read.parquet(full).select("cell").head().getInt(0))
    assert(oneCell._1.size < oneCell._2,
      s"cell probe should prune files: ${oneCell._1.size} of ${oneCell._2}")
    // Janitor pass: micro-batch appends accrete files per cell;
    // cell-clustered compaction must shrink the file count without
    // changing a single probe row (stats recomputed on the rewritten
    // files keep pruning range-exact).
    val filesBefore = oneCell._2
    assert(graft.sources.SnapshotTable.compact(spark, dir,
      clusterBy = Seq("cell")).nonEmpty)
    val afterProbe = rset(graft.operators.Pq.ivfPqTopKSnapshot(spark, dir,
      emb.filter(col("vec_id") < 8), k = 5, probes = cents.length))
    assert(afterProbe == want, "compaction changed probe results")
    val (_, filesAfter) = graft.sources.SnapshotTable.pruneFilesEq(
      spark, dir, "cell", 0)
    assert(filesAfter < filesBefore,
      s"compaction should shrink the file count: $filesAfter vs $filesBefore")
  }
}
