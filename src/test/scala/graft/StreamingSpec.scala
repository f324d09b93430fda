package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, count, date_trunc, expr, lit, sqrt, sum}
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Streams
import graft.streaming.Streams.{Event, Session}

/** Structured Streaming semantics over MemoryStream micro-batches. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  test("windowed counts with watermark aggregate per window × type") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val q = Streams.windowedCounts(input.toDF(), "30 minutes", "1 hour")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode(OutputMode.Update).start()
    try {
      input.addData(
        Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(10), 2, "click", 2.0),
        Event(3, ts(40), 1, "view", 5.0))
      q.processAllAvailable()
      val rows = spark.table("win_counts")
        .selectExpr("event_type", "n", "total_value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows == Set(("click", 2L, 3.0), ("view", 1L, 5.0)))
    } finally q.stop()
  }

  test("sessionization: gap closes a session, state carries across batches") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val q = Streams.sessionize(input.toDS(), gapMs = 15 * 60 * 1000L)
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: user 1 active 10:00–10:10; user 2 one event
      input.addData(
        Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(10), 1, "click", 2.0),
        Event(3, ts(5), 2, "view", 7.0))
      q.processAllAvailable()
      // batch 2: user 1 returns after a 30-min gap → first session closes
      input.addData(Event(4, ts(40), 1, "click", 4.0))
      q.processAllAvailable()
      val sessions = spark.table("sessions").as[Session].collect()
      val u1Closed = sessions.filter(_.user_id == 1)
      assert(u1Closed.length == 1)
      assert(u1Closed.head.n_events == 2)
      assert(u1Closed.head.total_value == 3.0)
      assert(u1Closed.head.started == ts(0) && u1Closed.head.ended == ts(10))
    } finally q.stop()
  }

  test("streaming dedup drops in-watermark duplicates across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    final case class Doc(ts: Timestamp, text: String)
    val input = MemoryStream[(Timestamp, String)]
    val q = Streams.streamingDedup(
        input.toDF().toDF("ts", "text"), "ts", "text", "1 hour")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((ts(0), "alpha"), (ts(1), "alpha"), (ts(2), "beta"))
      q.processAllAvailable()
      // second batch: duplicate of alpha arrives again within watermark
      input.addData((ts(5), "alpha"), (ts(6), "gamma"))
      q.processAllAvailable()
      val texts = spark.table("dedup_stream").select("text")
        .collect().map(_.getString(0)).sorted.toList
      assert(texts == List("alpha", "beta", "gamma"))
    } finally q.stop()
  }

  test("sessionize: a late in-gap arrival cannot rewind the frontier and split") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val q = Streams.sessionize(input.toDS(), gapMs = 15 * 60 * 1000L)
      .writeStream.format("memory").queryName("late_sessions")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(Event(1, ts(0), 1, "click", 1.0), Event(2, ts(10), 1, "click", 2.0))
      q.processAllAvailable()
      // late arrival at 10:05 (in gap, merged) must NOT move the
      // frontier back from 10:10 — otherwise the 10:22 event (12 min
      // after the true frontier) would spuriously open a new session
      input.addData(Event(3, ts(5), 1, "view", 4.0), Event(4, ts(22), 1, "click", 8.0))
      q.processAllAvailable()
      input.addData(Event(5, ts(50), 1, "click", 0.0)) // > gap: closes it
      q.processAllAvailable()
      val closed = spark.table("late_sessions").as[Session].collect()
      assert(closed.length == 1)
      assert(closed.head.n_events == 4)
      assert(closed.head.total_value == 15.0)
      assert(closed.head.started == ts(0) && closed.head.ended == ts(22))
    } finally q.stop()
  }

  test("sessionize: an arrival older than started - gap becomes a stale singleton") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val q = Streams.sessionize(input.toDS(), gapMs = 15 * 60 * 1000L)
      .writeStream.format("memory").queryName("stale_sessions")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(Event(1, ts(40), 1, "click", 1.0), Event(2, ts(50), 1, "click", 2.0))
      q.processAllAvailable()
      // 10:00 is 40 min before the open session's start (gap 15 min):
      // it can never belong to it — emitted as its own closed session,
      // NOT merged (merging would rewind started by 40 min)
      input.addData(Event(3, ts(0), 1, "view", 7.0))
      q.processAllAvailable()
      val sessions = spark.table("stale_sessions").as[Session].collect()
      assert(sessions.length == 1)
      assert(sessions.head.n_events == 1 && sessions.head.total_value == 7.0)
      assert(sessions.head.started == ts(0) && sessions.head.ended == ts(0))
    } finally q.stop()
  }

  test("sessionize: a stale run groups by the gap rule, not one singleton each") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val q = Streams.sessionize(input.toDS(), gapMs = 15 * 60 * 1000L)
      .writeStream.format("memory").queryName("stale_run_sessions")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(Event(1, ts(50), 1, "click", 1.0))
      q.processAllAvailable()
      // one late batch with three stale events (all older than
      // started - gap = 10:35): 10:00 and 10:05 are within gap of each
      // other → ONE merged closed session, exactly as batch q21 groups
      // them; 10:25 is beyond gap of 10:05 → its own closed session
      input.addData(
        Event(2, ts(0), 1, "view", 2.0),
        Event(3, ts(5), 1, "view", 3.0),
        Event(4, ts(25), 1, "view", 4.0))
      q.processAllAvailable()
      val sessions = spark.table("stale_run_sessions").as[Session].collect()
        .sortBy(_.started.getTime)
      assert(sessions.length == 2)
      assert(sessions(0).n_events == 2 && sessions(0).total_value == 5.0)
      assert(sessions(0).started == ts(0) && sessions(0).ended == ts(5))
      assert(sessions(1).n_events == 1 && sessions(1).total_value == 4.0)
      assert(sessions(1).started == ts(25) && sessions(1).ended == ts(25))
    } finally q.stop()
  }

  test("sessionize: a stale run bridged by an in-gap widening folds into the session") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val q = Streams.sessionize(input.toDS(), gapMs = 15 * 60 * 1000L)
      .writeStream.format("memory").queryName("bridge_sessions")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(Event(1, ts(50), 1, "click", 1.0))
      q.processAllAvailable()
      // one late batch: 10:30 is stale vs started 10:50 (gap 15), but
      // 10:36 merges and WIDENS started to 10:36, bringing 10:30 within
      // gap of it — batch q21 makes ONE session [10:30, 10:50]; nothing
      // was emitted yet, so streaming must fold the run in, not emit a
      // split singleton
      input.addData(
        Event(2, ts(30), 1, "view", 2.0),
        Event(3, ts(36), 1, "view", 3.0))
      q.processAllAvailable()
      assert(spark.table("bridge_sessions").as[Session].collect().isEmpty,
        "the bridged run must stay in the still-open session")
      // a later gap closes the whole merged session
      input.addData(Event(4, Timestamp.valueOf("2026-01-01 11:30:00"), 1, "click", 4.0))
      q.processAllAvailable()
      val sessions = spark.table("bridge_sessions").as[Session].collect()
      assert(sessions.length == 1)
      assert(sessions.head.n_events == 3 && sessions.head.total_value == 6.0)
      assert(sessions.head.started == ts(30) && sessions.head.ended == ts(50))
    } finally q.stop()
  }

  test("streaming sessionize equals batch q21 on the events fixture") {
    // the two sessionizers implement the same 30-min event-time gap rule
    // (µs math, (ts, event_id) tie-break, fixed-point value sums); this
    // pins them together so neither drifts. Sentinel far-future events
    // force every user's trailing open session to close, since the
    // event-time rule only emits a session when a later arrival proves
    // the gap.
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val ev = graft.queries.Tables.t(spark, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().toSeq
    val maxMs = ev.map(_.ts.getTime).max
    val input = MemoryStream[Event]
    val q = Streams.sessionize(input.toDS())
      .writeStream.format("memory").queryName("sessions_eq")
      .outputMode(OutputMode.Append).start()
    val got = try {
      input.addData(ev)
      q.processAllAvailable()
      val sentinels = ev.map(_.user_id).distinct.zipWithIndex.map {
        case (u, i) =>
          Event(-1L - i, new Timestamp(maxMs + 24L * 3600 * 1000), u, "flush", 0.0)
      }
      input.addData(sentinels)
      q.processAllAvailable()
      spark.table("sessions_eq").as[Session].collect()
        .map(x => (x.user_id, x.n_events.toLong, x.total_value,
          x.started.toString, x.ended.toString)).toSeq.sorted
    } finally q.stop()
    val want = SparkEntry.queries("q21_sessionize")(spark, dir)
      .select("user_id", "n_events", "total_value", "started", "ended")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getTimestamp(3).toString, r.getTimestamp(4).toString)).toSeq.sorted
    assert(got.size == want.size)
    assert(got == want)
  }

  test("streaming session sequences equal batch t93 on the events fixture") {
    // sessionizeSeq must reproduce batch t93's behavioral corpus rows
    // exactly: same sessions (q21's gap rule), same 50-capped
    // (us, event_id)-ordered '>'-joined event-type sequences. The stream
    // has no global session ordinal, so session_seq is assigned here by
    // per-user start order — valid because the gap rule makes session
    // starts strictly increasing per user.
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val ev = graft.queries.Tables.t(spark, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().toSeq
    val maxMs = ev.map(_.ts.getTime).max
    val input = MemoryStream[Event]
    val q = Streams.sessionizeSeq(input.toDS())
      .writeStream.format("memory").queryName("session_seqs_eq")
      .outputMode(OutputMode.Append).start()
    val got = try {
      // two batches split mid-stream so sequences must survive state
      // round trips, plus far-future sentinels to flush trailing sessions
      val (b0, b1) = ev.sortBy(e => (e.ts.getTime, e.event_id))
        .splitAt(ev.length / 2)
      input.addData(b0); q.processAllAvailable()
      input.addData(b1); q.processAllAvailable()
      val sentinels = ev.map(_.user_id).distinct.zipWithIndex.map {
        case (u, i) =>
          Event(-1L - i, new Timestamp(maxMs + 24L * 3600 * 1000), u, "flush", 0.0)
      }
      input.addData(sentinels)
      q.processAllAvailable()
      spark.table("session_seqs_eq").as[Streams.SessionSeq].collect()
        .groupBy(_.user_id).toSeq.flatMap { case (u, ss) =>
          ss.sortBy(_.started.getTime).zipWithIndex.map { case (x, i) =>
            val durUs = x.ended.toInstant.toEpochMilli * 1000 +
              x.ended.getNanos / 1000 % 1000 -
              (x.started.toInstant.toEpochMilli * 1000 +
                x.started.getNanos / 1000 % 1000)
            (u, (i + 1).toLong, x.n_events.toLong, durUs, x.seq)
          }
        }.sorted
    } finally q.stop()
    val want = SparkEntry.queries("t93_session_sequences")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toSeq.sorted
    assert(got.size == want.size)
    assert(got == want)
  }

  test("sessionizeSeq: a bridging stale run's events enter the sequence in event-time order") {
    // the capped buffer must merge correctly through the trickiest
    // state path: a stale run folding into the open session after an
    // in-gap arrival widened the session start downward
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val q = Streams.sessionizeSeq(input.toDS(), gapMs = 15 * 60 * 1000L)
      .writeStream.format("memory").queryName("stale_seq")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(Event(1, ts(30), 1, "c", 1.0), Event(2, ts(40), 1, "d", 1.0))
      q.processAllAvailable()
      // 10:02/10:06 are stale (older than started - gap = 10:15) and
      // form one run; 10:18 is in-gap and widens the session start to
      // 10:18. At batch end the run's end (10:06) sits within gap of
      // the widened start → the run FOLDS into the still-open session.
      // Final session: 10:02..10:40, sequence in (us, event_id) order.
      input.addData(
        Event(3, ts(2), 1, "a", 1.0),
        Event(4, ts(6), 1, "b", 1.0),
        Event(5, ts(18), 1, "cc", 1.0))
      q.processAllAvailable()
      input.addData(Event(6, ts(59), 1, "z", 0.0)) // > gap: closes it
      q.processAllAvailable()
      val got = spark.table("stale_seq").as[Streams.SessionSeq].collect()
      assert(got.length == 1)
      assert(got.head.n_events == 5)
      assert(got.head.seq == "a>b>cc>c>d",
        s"stale-run events must interleave by (us, event_id): ${got.head.seq}")
      assert(got.head.started == ts(2) && got.head.ended == ts(40))
    } finally q.stop()
  }

  test("streaming length sketch equals the batch t97 sketch bit-for-bit") {
    // counter addition is the merge law — two micro-batches must land on
    // exactly the histogram a single batch pass builds
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val docs = graft.queries.Tables.t(spark, dir, "documents")
      .select("source", "n_chars")
    val want = docs
      .select(col("source"), col("n_chars").cast("long").as("v"))
      .withColumn("idx", expr(graft.queries.TrainingData.hdrIdxExpr))
      .groupBy("source", "idx").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val rows = docs.collect().map(r =>
      (r.getString(0), r.getAs[Number](1).longValue()))
    val input = MemoryStream[(String, Long)]
    val q = Streams.streamingLengthSketch(
      input.toDF().toDF("source", "n_chars"), "source", "n_chars")
      .writeStream.format("memory").queryName("len_sketch")
      .outputMode(OutputMode.Complete).start()
    val got = try {
      val (b0, b1) = rows.partition(_._2 % 2 == 0)
      input.addData(b0.toSeq); q.processAllAvailable()
      input.addData(b1.toSeq); q.processAllAvailable()
      spark.table("len_sketch").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    } finally q.stop()
    assert(got == want)
  }

  test("sessionizeSeq: a degenerate never-gapping session caps at 50 sequence entries") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = 1700000000000L
    // 60 events, 1 min apart (never gapping), across two micro-batches
    val ev = (0 until 60).map(i => Event(i.toLong,
      new Timestamp(base + i * 60000L), 7L, s"e$i", 1.0))
    val input = MemoryStream[Event]
    val q = Streams.sessionizeSeq(input.toDS(), gapMs = 15 * 60 * 1000L)
      .writeStream.format("memory").queryName("seq_cap")
      .outputMode(OutputMode.Append).start()
    val got = try {
      input.addData(ev.take(30)); q.processAllAvailable()
      input.addData(ev.drop(30)); q.processAllAvailable()
      input.addData(Seq(Event(-1L,
        new Timestamp(base + 10L * 24 * 3600 * 1000), 7L, "flush", 0.0)))
      q.processAllAvailable()
      spark.table("seq_cap").as[Streams.SessionSeq].collect()
    } finally q.stop()
    assert(got.length == 1)
    assert(got.head.n_events == 60, "the count must NOT be capped")
    val seq = got.head.seq.split(">")
    assert(seq.length == 50, "the sequence must cap at 50")
    assert(seq.toSeq == (0 until 50).map(i => s"e$i"),
      "capped entries must be the FIRST 50 in event-time order")
  }

  test("streaming rate anomaly equals batch t68 on the events fixture") {
    // same 2σ rule, same arithmetic: the streamed hourly windows flagged
    // against batch-derived thresholds must reproduce exactly the batch
    // anomaly set (window.start ≡ date_trunc('hour') for tumbling 1h).
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val batch68 = SparkEntry.queries("t68_event_rate_anomaly")(spark, dir)
    val want = batch68.select("event_type", "hour", "c")
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toString, r.getLong(2)))
      .toSeq.sorted
    // thresholds exactly as a batch job would publish them: per-type
    // mean/std over the hourly counts
    val thresholds = graft.queries.Tables.t(spark, dir, "events")
      .groupBy(col("event_type"),
        date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("c"))
      .groupBy("event_type").agg(
        count(lit(1)).as("n"), sum("c").as("s1"),
        sum(col("c") * col("c")).as("s2"))
      .withColumn("mean", col("s1").cast("double") / col("n").cast("double"))
      .withColumn("std", sqrt(
        col("s2").cast("double") / col("n").cast("double")
          - col("mean") * col("mean")))
      .select("event_type", "mean", "std")
    val ev = graft.queries.Tables.t(spark, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().toSeq
    val input = MemoryStream[Event]
    val q = Streams.rateAnomaly(input.toDS().toDF(), thresholds)
      .writeStream.format("memory").queryName("rate_anomaly")
      .outputMode(OutputMode.Append).start()
    val got = try {
      input.addData(ev)
      q.processAllAvailable()
      // append mode only emits closed windows: push the event-time
      // frontier past every fixture window + watermark
      val maxMs = ev.map(_.ts.getTime).max
      input.addData(Seq(Event(-1L, new Timestamp(maxMs + 24L * 3600 * 1000),
        0L, "flush", 0.0)))
      q.processAllAvailable()
      spark.table("rate_anomaly")
        .select(col("event_type"), col("window.start").as("hour"), col("n"))
        .collect()
        .map(r => (r.getString(0), r.getTimestamp(1).toString, r.getLong(2)))
        .toSeq.sorted
    } finally q.stop()
    assert(got == want, s"stream ${got.size} rows vs batch ${want.size}")
  }

  test("file-source stream over the events fixture directory") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val batch = graft.queries.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts", "user_id", "event_type", "value")
    batch.limit(100).write.parquet(s"$dir/in")
    val stream = spark.readStream.schema(batch.schema).parquet(s"$dir/in")
    assert(stream.isStreaming)
    val q = Streams.windowedCounts(stream, "1 day", "1 day")
      .writeStream.format("memory").queryName("file_stream")
      .outputMode(OutputMode.Update).start()
    try {
      q.processAllAvailable()
      assert(spark.table("file_stream").count() > 0)
    } finally q.stop()
  }

  test("streaming decontamination drops 13-gram hits at ingest, " +
      "stream equals batch") {
    import spark.implicits._
    val E = (0 until 30).map(i => s"E$i")
    val eval_ = Seq(E.mkString(" ")).toDF("text")
    def filler(doc: Int, n: Int) =
      (0 until n).map(i => s"f${doc}x$i").mkString(" ")
    // doc 1 embeds 13 consecutive eval words → contaminated; docs 2/3
    // clean; doc 4 shorter than 13 words → trivially clean
    val docs = Seq(
      (1L, filler(1, 20) + " " + E.take(13).mkString(" ") + " " + filler(10, 20)),
      (2L, filler(2, 40)), (3L, filler(3, 25)), (4L, filler(4, 5)))
    val batchIn = docs.toDF("doc_id", "text")
    val expect = Streams.streamingDecontaminate(batchIn, "text", eval_, "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(expect == Seq(2L, 3L, 4L), "batch reference must drop doc 1")
    val dir = java.nio.file.Files.createTempDirectory("graft_decontam").toString
    batchIn.write.parquet(s"$dir/in")
    val stream = spark.readStream.schema(batchIn.schema).parquet(s"$dir/in")
    val q = Streams.streamingDecontaminate(stream, "text", eval_, "text")
      .writeStream.format("memory").queryName("decontam_stream")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val got = spark.table("decontam_stream")
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(got == expect, "stream must equal the batch reference")
    } finally q.stop()
  }

  test("streaming incremental dedup equals batch t36 on the fixture") {
    // old corpus (src0–src9) arrives as micro-batch 0, the new crawl
    // (src10–src19) as micro-batch 1: batch 0 must pass untouched (the
    // index is empty), batch 1's survivors must be EXACTLY the keep=true
    // ids of the batch t36 verdict — same md5 exact gate, same MinHash
    // band probe, now applied at the door with a persistent digest index.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val docs = graft.queries.Tables.t(spark, dir, "documents")
      .select("doc_id", "text", "source")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val (oldDocs, newDocs) = docs.partition(_._3.drop(3).toInt < 10)
    assert(oldDocs.nonEmpty && newDocs.nonEmpty)
    val tmp = java.nio.file.Files.createTempDirectory("graft_incdedup").toString
    val input = MemoryStream[(Long, String, String)]
    val q = Streams.incrementalDedup(
      input.toDF().toDF("doc_id", "text", "source"),
      s"$tmp/state", s"$tmp/out", s"$tmp/ckpt")
    try {
      input.addData(oldDocs.toSeq); q.processAllAvailable()
      input.addData(newDocs.toSeq); q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(s"$tmp/out")
    val got0 = out.where("batch = 0").select("doc_id")
      .as[Long].collect().toSet
    assert(got0 == oldDocs.map(_._1).toSet,
      "an empty index must keep the whole first batch")
    val got1 = out.where("batch = 1").select("doc_id")
      .as[Long].collect().toSet
    val want = SparkEntry.queries("t36_incremental_dedup")(spark, dir)
      .filter(col("keep")).select("doc_id")
      .as[Long].collect().toSet
    assert(got1 == want, "streamed gate must equal the batch t36 verdict")
  }

  test("streaming decontaminate gate equals batch t54's ANY-hit rule on the fixture") {
    // t54 grades contamination in spans (keep/redact/drop); the ingest
    // gate only knows ANY-hit. Same 13-gram xxhash64 rule, same eval
    // slice (doc_id % 50 == 0): the gate's survivors must be exactly
    // t54's n_hits == 0 documents.
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val docs = graft.queries.Tables.t(spark, dir, "documents")
      .select("doc_id", "text")
    val kept = Streams.streamingDecontaminate(
        docs.filter(col("doc_id") % 50 =!= 0), "text",
        docs.filter(col("doc_id") % 50 === 0), "text")
      .select("doc_id").as[Long].collect().toSet
    val t54 = SparkEntry.queries("t54_decontaminate_13gram")(spark, dir)
      .select("doc_id", "n_hits").collect()
    val want = t54.filter(_.getLong(1) == 0L).map(_.getLong(0)).toSet
    assert(t54.length > want.size, "fixture must contain contaminated docs")
    assert(kept == want)
  }

  test("incremental dedup index replay is idempotent (batch-id overwrite)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_idem").toString
    val b = Seq((1L, "alpha beta gamma delta eps"), (2L, "zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    Streams.extendIndex(b, s"$tmp/state", 7L)
    Streams.extendIndex(b, s"$tmp/state", 7L) // retry of the same batch
    val hashes = spark.read.parquet(s"$tmp/state/hashes")
    assert(hashes.count() == 2, "a replayed batch must overwrite, not double")
    // a LATER batch's probe drops exact copies arriving again
    val kept = Streams.dedupBatchAgainstIndex(
      Seq((3L, "alpha beta gamma delta eps"), (4L, "totally novel words here now"))
        .toDF("doc_id", "text"), s"$tmp/state", batchId = 8L)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(4L))
  }

  test("probing a pre-r21 hex-bucket index fails fast, not silently") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_hexix").toString
    // an index partition as a pre-r21 build wrote it: bucket = 32-char
    // hex STRING (r21 narrowed the column to its 16-byte binary; equality
    // across the two spellings never holds, so without the guard every
    // probe would miss every stored bucket and silently keep near-dups)
    Seq((0, "0123456789abcdef0123456789abcdef"))
      .toDF("band", "bucket")
      .write.parquet(s"$tmp/state/bands/batch=0")
    Seq("00" * 16).toDF("h")
      .write.parquet(s"$tmp/state/hashes/batch=0")
    val probe = Seq((1L, "alpha beta gamma delta eps")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Streams.dedupBatchAgainstIndex(probe, s"$tmp/state", batchId = 1L)
    }
    assert(e.getMessage.contains("BINARY"),
      s"guard must name the format mismatch, got: ${e.getMessage}")
  }

  test("streamingDedup state keys only the digest and evicts past the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, String)]
    val dedup = Streams.streamingDedup(
      input.toDF().toDF("ts", "text"), "ts", "text", "10 minutes")
    // state-size invariant #1: the dedup operator keys on the digest
    // column ONLY — a refactor that widens the key to the document body
    // would silently turn the bounded digest store into a body store
    val analyzed = dedup.queryExecution.analyzed.toString
    val dedupLine = analyzed.linesIterator
      .find(_.contains("DeduplicateWithinWatermark"))
      .getOrElse(fail(s"no dedup operator in plan:\n$analyzed"))
    assert(dedupLine.contains("__digest"), dedupLine)
    assert(!dedupLine.contains("text#"),
      s"state key must never include the document body: $dedupLine")
    val q = dedup.writeStream.format("memory").queryName("dedup_state")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((ts(0), "alpha"), (ts(1), "beta"))
      q.processAllAvailable()
      // jump event time 1 h ahead: watermark (max seen - 10 min) passes
      // the first batch's digests; the extra batch lets the lagged
      // watermark take effect and the store clean up
      input.addData((Timestamp.valueOf("2026-01-01 11:00:00"), "gamma"))
      q.processAllAvailable()
      input.addData((Timestamp.valueOf("2026-01-01 11:05:00"), "delta"))
      q.processAllAvailable()
      val state = q.recentProgress.flatMap(_.stateOperators).lastOption
        .getOrElse(fail("no state operator progress reported"))
      // invariant #2: expired digests are GONE from the store — only
      // gamma/delta (inside the current watermark) may remain
      assert(state.numRowsTotal <= 2,
        s"expected ≤2 in-watermark digests in state, got ${state.numRowsTotal}")
      assert(spark.table("dedup_state").count() == 4) // nothing deduped
    } finally q.stop()
  }

  test("bloom decontaminate gate equals the broadcast-set path and t54 " +
      "on the fixture, streamed in two batches") {
    // the t43-shaped corpus-scale path: Bloom prefilter map-side, exact
    // verify through the DISTRIBUTED eval gram table — same ANY-hit
    // rule, so the kept set must equal streamingDecontaminate's (and
    // via the existing pin, batch t54's n_hits == 0 set) exactly:
    // Bloom false positives must die in the verify join.
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val docs = graft.queries.Tables.t(spark, dir, "documents")
      .select("doc_id", "text")
    val train = docs.filter(col("doc_id") % 50 =!= 0)
    val eval_ = docs.filter(col("doc_id") % 50 === 0)
    val want = Streams.streamingDecontaminate(train, "text", eval_, "text")
      .select("doc_id").as[Long].collect().toSet
    // batch core first: pure function equality on one frame
    val (grams, bloom) = Streams.evalGramIndex(eval_, "text", 100000L)
    val gotBatch = Streams
      .decontaminateBatchBloom(train, "doc_id", "text", grams, bloom)
      .select("doc_id").as[Long].collect().toSet
    assert(gotBatch == want, "bloom batch core must equal the broadcast-set rule")
    // then streamed in two micro-batches through foreachBatch
    implicit val sqlCtx = spark.sqlContext
    val rows = train.select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val (b0, b1) = rows.partition(_._1 % 2 == 0)
    val tmp = java.nio.file.Files.createTempDirectory("graft_bloomdec").toString
    val input = MemoryStream[(Long, String)]
    val q = Streams.streamingDecontaminateBloom(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text",
      eval_, "text", s"$tmp/out", s"$tmp/ckpt", 100000L)
    try {
      input.addData(b0.toSeq); q.processAllAvailable()
      input.addData(b1.toSeq); q.processAllAvailable()
    } finally q.stop()
    val gotStream = spark.read.parquet(s"$tmp/out")
      .select("doc_id").as[Long].collect().toSet
    assert(gotStream == want, "streamed bloom gate must equal the batch rule")
  }

  test("index compaction preserves probe results and bounds the dir count") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val mk = (id: Long, txt: String) => (id, txt)
    (0L to 3L).foreach { b =>
      Streams.extendIndex(
        Seq(mk(b * 10, s"batch $b words alpha$b beta$b gamma$b delta$b"))
          .toDF("doc_id", "text"),
        s"$tmp/state", b)
    }
    val probe = Seq(
      mk(100L, "batch 1 words alpha1 beta1 gamma1 delta1"), // dup of batch 1
      mk(101L, "completely novel never seen before words")) // novel
      .toDF("doc_id", "text")
    val before = Streams.dedupBatchAgainstIndex(probe, s"$tmp/state", 4L)
      .select("doc_id").as[Long].collect().toSet
    // batches 0..3 committed; compact everything below the frontier
    Streams.compactIndex(spark, s"$tmp/state", uptoBatch = 4L)
    val after = Streams.dedupBatchAgainstIndex(probe, s"$tmp/state", 4L)
      .select("doc_id").as[Long].collect().toSet
    assert(before == Set(101L) && after == before,
      "compaction must not change any probe verdict")
    val dirs = new java.io.File(s"$tmp/state/hashes").listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSet
    assert(dirs == Set("batch=3"),
      s"absorbed partitions must be removed, got $dirs")
    // idempotent: a second run is a no-op, verdicts still stable
    Streams.compactIndex(spark, s"$tmp/state", uptoBatch = 4L)
    assert(Streams.dedupBatchAgainstIndex(probe, s"$tmp/state", 4L)
      .select("doc_id").as[Long].collect().toSet == before)
    // crash window: absorbed dirs deleted but the scratch survived —
    // the guarded merge body is skipped (only one batch dir remains),
    // yet the orphaned _compact_tmp must STILL be cleaned up
    val orphan = new java.io.File(s"$tmp/state/hashes/_compact_tmp")
    assert(orphan.mkdirs())
    java.nio.file.Files.writeString(
      orphan.toPath.resolve("leftover.parquet"), "junk")
    Streams.compactIndex(spark, s"$tmp/state", uptoBatch = 4L)
    assert(!orphan.exists(),
      "stale scratch must be removed even when no merge runs")
    assert(Streams.dedupBatchAgainstIndex(probe, s"$tmp/state", 4L)
      .select("doc_id").as[Long].collect().toSet == before)
  }

  test("compaction frontier is bounded by the marker checkpoint's commits") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_frontier").toString
    (0L to 3L).foreach { b =>
      Streams.extendIndex(
        Seq((b * 10, s"frontier batch $b tokens aa$b bb$b cc$b"))
          .toDF("doc_id", "text"),
        s"$tmp/state", b)
    }
    // stamp the index with a checkpoint whose commits log ends at 2:
    // batch 3 is written to the index but NOT committed, so it can
    // still replay — compacting past it must be refused
    val ckpt = new java.io.File(s"$tmp/ckpt/commits")
    assert(ckpt.mkdirs())
    Seq("0", "1", "2", "2.tmp.crc").foreach(n =>
      java.nio.file.Files.writeString(ckpt.toPath.resolve(n), "{}"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tmp/state/_run_marker"), s"$tmp/ckpt")
    val e = intercept[RuntimeException] {
      Streams.compactIndex(spark, s"$tmp/state", uptoBatch = 4L)
    }
    assert(e.getMessage.contains("commit frontier"))
    // nothing was touched by the refused call
    val dirs = new java.io.File(s"$tmp/state/hashes").listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSet
    assert(dirs == Set("batch=0", "batch=1", "batch=2", "batch=3"))
    // at the frontier (last committed 2 → uptoBatch 3) it proceeds
    Streams.compactIndex(spark, s"$tmp/state", uptoBatch = 3L)
    val after = new java.io.File(s"$tmp/state/hashes").listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSet
    assert(after == Set("batch=2", "batch=3"),
      s"committed batches must compact, replayable ones survive: $after")
  }

  test("a retained index with a fresh checkpoint fails fast, not silently") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_marker").toString
    def runOne(ckpt: String): Unit = {
      val input = MemoryStream[(Long, String)]
      val q = Streams.incrementalDedup(
        input.toDF().toDF("doc_id", "text"),
        s"$tmp/state", s"$tmp/out", ckpt)
      try {
        input.addData(Seq((1L, "alpha beta gamma delta eps")))
        q.processAllAvailable()
      } finally q.stop()
    }
    runOne(s"$tmp/ckptA")
    // same state, DIFFERENT checkpoint: batch ids restart at 0 and the
    // replay guard would silently mis-probe — must be an error instead
    val e = intercept[Exception] { runOne(s"$tmp/ckptB") }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("replay guard")),
      s"expected the run-marker error, got: ${msgs(e).mkString(" | ")}")
  }

  test("a replayed probe ignores its own batch's index partition") {
    // crash window: extendIndex(N) committed but the streaming
    // checkpoint did not — on restart batch N re-executes. The probe
    // must see only the PRE-N index, or every replayed doc would read
    // as a duplicate of itself and the batch's output would be
    // silently replaced with an empty frame.
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_replay").toString
    val b7 = Seq((1L, "alpha beta gamma delta eps"), (2L, "zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    Streams.extendIndex(b7, s"$tmp/state", 7L)
    val replayKept = Streams.dedupBatchAgainstIndex(b7, s"$tmp/state", batchId = 7L)
      .select("doc_id").as[Long].collect().toSet
    assert(replayKept == Set(1L, 2L),
      "replay of batch 7 must reproduce its original output, not empty")
  }
}
