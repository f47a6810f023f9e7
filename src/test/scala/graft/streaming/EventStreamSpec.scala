package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.SparkTestBase

case class Ev(ts: Timestamp, user_id: Long, event_type: String, value: Double, event_id: Long)

/** Structured Streaming semantics checks via MemoryStream: the
  * incremental plans produce the same aggregates as their batch twins
  * (which are themselves DuckDB-oracle-checked in queries.Events).
  */
class EventStreamSpec extends SparkTestBase with graft.TempCorpusDirs {
  import sqlImplicits._

  private def t(s: String) = Timestamp.valueOf(s)

  /** Canonical session 5-tuple (user, start_us, end_us, n, sum) for
    * stream-vs-batch comparisons. HALF_UP like Spark's round(), not
    * math.round (half-toward-+inf) — the two disagree on negative
    * midpoints. One definition for every comparison site, so a
    * rounding or shape change cannot leave the sites disagreeing.
    */
  private def canonSessions(
      rows: Array[org.apache.spark.sql.Row]): Seq[(Long, Long, Long, Long, Double)] =
    rows.map { r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        BigDecimal(r.getDouble(4)).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSeq.sorted

  private val batch1 = Seq(
    Ev(t("2024-01-01 00:05:00"), 1, "click", 1.0, 1),
    Ev(t("2024-01-01 00:45:00"), 1, "click", 2.0, 2),
    Ev(t("2024-01-01 01:10:00"), 2, "view", 3.0, 3),
    Ev(t("2024-01-01 01:10:00"), 2, "view", 3.0, 3), // exact duplicate
  )

  test("streaming tumbling counts match the batch plan on the same data") {
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[Ev]
    stream.addData(batch1: _*)
    val q = EventStream.tumblingCounts(stream.toDF())
      .writeStream.format("memory").queryName("tumbling")
      .outputMode(OutputMode.Complete).start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("tumbling")
      .orderBy("window_start", "event_type")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
    val batch = EventStream.tumblingCounts(batch1.toDF())
      .orderBy("window_start", "event_type")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
    assert(streamed.toSeq == batch.toSeq)
    assert(streamed.map(_._3).sum == 4)
  }

  test("streaming dedup drops exact duplicate events within the watermark") {
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[Ev]
    stream.addData(batch1: _*)
    val q = EventStream.dedupe(stream.toDF())
      .writeStream.format("memory").queryName("deduped")
      .outputMode(OutputMode.Append).start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("deduped").count() == 3)
  }

  test("streaming sessionization over the real corpus matches the oracle-checked batch query") {
    implicit val sc = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val events = graft.util.Tables.events(spark, sfDir)
      .select($"ts", $"user_id", $"event_type", $"value", $"event_id")
      .as[Ev].collect().toSeq
    val maxTs = events.map(_.ts.getTime).max

    val stream = MemoryStream[Ev]
    stream.addData(events: _*)
    // Sentinel far past every session's end: advances the watermark so
    // append mode emits ALL real sessions (its own stays in state).
    stream.addData(Ev(new Timestamp(maxTs + 48L * 3600 * 1000), -1L, "sentinel", 0.0, -1L))
    val q = EventStream.sessionAggregates(stream.toDF())
      .writeStream.format("memory").queryName("real_sessions")
      .outputMode(OutputMode.Append).start()
    try q.processAllAvailable() finally q.stop()

    val streamed = canonSessions(
      spark.table("real_sessions").filter($"user_id" >= 0)
        .selectExpr("user_id", "unix_micros(session_start)", "unix_micros(session_end)",
          "n_events", "sum_value")
        .collect())
    // q52 is the DuckDB-oracle-checked batch twin over the same corpus.
    val batch = canonSessions(
      graft.SparkEntry.queries("q52_session_window")(spark, sfDir)
        .select("user_id", "session_start_us", "session_end_us", "n_events", "sum_value")
        .collect())
    assert(streamed.size == batch.size, s"${streamed.size} streamed vs ${batch.size} batch")
    assert(streamed == batch)
  }

  test("stream-stream attribution joins views to preceding clicks within the window") {
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[Ev]
    stream.addData(
      Ev(t("2024-01-01 10:00:00"), 1, "click", 0.0, 1),
      Ev(t("2024-01-01 10:10:00"), 1, "view", 0.0, 2),  // attributed (10m after click)
      Ev(t("2024-01-01 10:50:00"), 1, "view", 0.0, 3),  // NOT attributed (50m > 30m)
      Ev(t("2024-01-01 09:55:00"), 2, "view", 0.0, 4),  // view before any click
      Ev(t("2024-01-01 11:00:00"), 2, "click", 0.0, 5), // click with no view after
    )
    val q = EventStream.attribution(stream.toDF())
      .writeStream.format("memory").queryName("attr")
      .outputMode(OutputMode.Append).start()
    try q.processAllAvailable() finally q.stop()

    val rows = spark.table("attr")
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("click_id"), r.getAs[Long]("view_id")))
    assert(rows.toSeq == Seq((1L, 1L, 2L)))

    // The same plan runs in batch — streaming/batch parity.
    val batchRows = EventStream.attribution(
      spark.table("attr").sparkSession.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          org.apache.spark.sql.Row(t("2024-01-01 10:00:00"), 1L, "click", 0.0, 1L),
          org.apache.spark.sql.Row(t("2024-01-01 10:10:00"), 1L, "view", 0.0, 2L),
        )),
        Seq(Ev(t("2024-01-01 00:00:00"), 0, "", 0.0, 0)).toDF().schema))
      .count()
    assert(batchRows == 1)
  }

  test("flatMapGroupsWithState sessionization matches session_window semantics") {
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[StreamEvent]
    val q = EventStream.sessionizeWithState(stream.toDS())
      .writeStream.format("memory").queryName("custom_sessions")
      .outputMode(OutputMode.Append).start()
    try {
      // Batch 1: two sessions for user 7 — the 70-minute gap closes the
      // first one immediately; the second stays open in state.
      stream.addData(
        StreamEvent(t("2024-01-01 00:00:00"), 7, "click", 1.0, 10),
        StreamEvent(t("2024-01-01 00:20:00"), 7, "click", 2.0, 11),
        StreamEvent(t("2024-01-01 01:30:00"), 7, "click", 4.0, 12),
      )
      q.processAllAvailable()
      // Batches 2-3: advance the watermark past the open session's
      // timeout (timeouts fire against the PREVIOUS batch's watermark).
      stream.addData(StreamEvent(t("2024-01-01 05:00:00"), 8, "view", 0.0, 13))
      q.processAllAvailable()
      stream.addData(StreamEvent(t("2024-01-01 06:00:00"), 8, "view", 0.0, 14))
      q.processAllAvailable()
    } finally q.stop()

    val u7 = spark.table("custom_sessions").filter($"user_id" === 7)
      .orderBy("session_start_us").collect()
    assert(u7.length == 2)
    // [start, last+gap) bounds and aggregates, q52 semantics exactly.
    val s1 = u7(0)
    assert(s1.getAs[Long]("n_events") == 2 && s1.getAs[Double]("sum_value") == 3.0)
    assert(s1.getAs[Long]("session_end_us") - s1.getAs[Long]("session_start_us")
      == (20 + 30) * 60L * 1000000L)
    val s2 = u7(1)
    assert(s2.getAs[Long]("n_events") == 1 && s2.getAs[Double]("sum_value") == 4.0)
  }

  private def runSessionize(batches: Seq[Seq[StreamEvent]],
      name: String): Seq[(Long, Long, Long, Long, Double)] = {
    implicit val sc = spark.sqlContext
    val maxTs = batches.flatten.map(_.ts.getTime).max
    val stream = MemoryStream[StreamEvent]
    val q = EventStream.sessionizeWithState(stream.toDS())
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    try {
      batches.foreach { b => stream.addData(b: _*); q.processAllAvailable() }
      stream.addData(StreamEvent(new Timestamp(maxTs + 48L * 3600 * 1000), -1L, "s", 0.0, -1L))
      q.processAllAvailable()
      stream.addData(StreamEvent(new Timestamp(maxTs + 96L * 3600 * 1000), -1L, "s", 0.0, -2L))
      q.processAllAvailable()
    } finally q.stop()
    canonSessions(spark.table(name).filter($"user_id" >= 0).collect())
  }

  test("stateful sessionization over the real corpus matches q52, through torn replays") {
    // The maturation-buffer rewrite's pin: session emission is a pure
    // function of the in-contract event set, not of arrival order or
    // batch placement. The pre-rewrite eager form mis-merged an
    // in-horizon event OLDER than the open session (no math.min on
    // the start; `us - last < gap` is vacuously true for any earlier
    // event) and could re-arm a stale below-watermark timeout that
    // Spark rejects with IllegalArgumentException — newest-first
    // cross-batch delivery exercises both.
    implicit val sc = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val events = graft.util.Tables.events(spark, sfDir)
      .select($"ts", $"user_id", $"event_type", $"value", $"event_id")
      .as[StreamEvent].collect().toSeq
    val batch = canonSessions(
      graft.SparkEntry.queries("q52_session_window")(spark, sfDir)
        .select("user_id", "session_start_us", "session_end_us", "n_events", "sum_value")
        .collect())

    val allAtOnce = runSessionize(Seq(events), "sess_real")
    assert(allAtOnce.nonEmpty && allAtOnce == batch,
      s"all-at-once: ${allAtOnce.size} streamed vs ${batch.size} batch")
    // Newest-first within the horizon: the whole corpus span is under
    // the 1h watermark horizon per batch boundary only if delivered
    // before the watermark moves — so replay newest-first in ONE
    // batch (within-horizon disorder) and per-event oldest-last.
    val newestFirst = runSessionize(Seq(events.sortBy(e => -e.ts.getTime)), "sess_torn")
    assert(newestFirst == allAtOnce, "newest-first delivery must converge")
    // Cross-batch split that stays IN-CONTRACT (the corpus spans many
    // hours, so an arbitrary split would make half the events late
    // beyond the 1h horizon): cut the time-SORTED list at its count
    // midpoint — the second batch's events are at-or-after the first
    // batch's max (a timestamp tie may span the cut), hence strictly
    // above the watermark it sets (max − 1h) — and deliver each half
    // newest-first.
    val byTime = events.sortBy(e => (e.ts.getTime, e.event_id))
    val (older, newer) = byTime.splitAt(byTime.length / 2)
    val twoBatches = runSessionize(
      Seq(older.reverse, newer.reverse), "sess_torn2")
    assert(twoBatches == allAtOnce, "batch placement must not change sessions")
  }

  test("torn replay (sessionization): shuffled per-event dribble converges") {
    // The as-of/scd2/attribution dribble standard on the session
    // operator: a fixture spanning UNDER the 1h horizon (so no shuffle
    // can make any delivery late-beyond-watermark), replayed one event
    // per micro-batch in seeded-shuffled order, must emit exactly the
    // all-at-once sessions. Two users, two sessions each (the 40-min
    // gaps split), boundary events at exactly gap−1 and gap.
    def tsOf(us: Long) = {
      val x = new Timestamp(us / 1000L); x.setNanos((us % 1000000L).toInt * 1000); x
    }
    val base = 1704067200000000L
    val min = 60L * 1000000L
    val fixture = Seq(
      StreamEvent(tsOf(base + 0 * min), 1, "click", 1.0, 1),
      StreamEvent(tsOf(base + 29 * min), 1, "click", 2.0, 2), // gap−1: same session
      StreamEvent(tsOf(base + 59 * min), 1, "click", 3.0, 3), // gap 30: NEW session
      StreamEvent(tsOf(base + 10 * min), 2, "view", 4.0, 4),
      StreamEvent(tsOf(base + 10 * min), 2, "view", 5.0, 5), // duplicate instant
      StreamEvent(tsOf(base + 55 * min), 2, "view", 6.0, 6), // 45-min gap: NEW session
    )
    val allAtOnce = runSessionize(Seq(fixture), "sess_fix_whole")
    assert(allAtOnce.map(_._1).distinct == Seq(1L, 2L) && allAtOnce.size == 4,
      s"fixture must yield two sessions per user: $allAtOnce")
    val dribble = new scala.util.Random(11).shuffle(fixture).map(Seq(_))
    assert(runSessionize(dribble, "sess_fix_dribble") == allAtOnce,
      "per-event shuffled replay must converge to the same sessions")
  }

  test("file-source incremental pipeline: parquet drops → windowed aggregates → parquet out") {
    val dir = tempCorpusDir("graft_stream")
    val (src, out, ckpt) = (s"$dir/src", s"$dir/out", s"$dir/ckpt")
    val schema = batch1.toDF().schema

    // Drop 1 lands before the stream starts; drop 2 arrives mid-stream.
    batch1.toDF().write.mode("append").parquet(src)
    val q = EventStream.runFileStream(spark, src, out, ckpt, schema)
    try {
      q.processAllAvailable()
      Seq(Ev(t("2024-01-01 06:00:00"), 9, "late", 1.0, 99)) // advances watermark
        .toDF().write.mode("append").parquet(src)
      q.processAllAvailable()
    } finally q.stop()

    // Append mode emits windows the watermark has passed: batch1's
    // 00:00 and 01:00 windows close once the 06:00 event arrives.
    val emitted = spark.read.parquet(out)
      .orderBy("window_start", "event_type")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
    assert(emitted.map(_._2).toSet == Set("click", "view"))
    assert(emitted.map(_._3).sum == 4) // all batch1 events accounted once
  }

  test("streaming anomaly monitor emits exactly the batch q115 rows on the same data") {
    implicit val sc = spark.sqlContext
    // The EventsQualitySpec series: 41 minutes of 'click' at 10 + m%3
    // events/minute, except minute 40 carries a 100-event spike.
    val baseUs = 1704067200000000L // 2024-01-01T00:00:00Z
    val minuteUs = 60L * 1000000L
    def tsOf(us: Long) = { val t = new Timestamp(us / 1000L); t.setNanos((us % 1000000L).toInt * 1000); t }
    val events = (0 to 40).flatMap { m =>
      val n = if (m == 40) 100 else 10 + m % 3
      (0 until n).map { i =>
        val us = baseUs + m * minuteUs + i * 100000L
        StreamEvent(tsOf(us), m.toLong, "click", 1.0, m * 1000L + i)
      }
    }

    val stream = MemoryStream[StreamEvent]
    val q = EventStream.anomaliesWithState(stream.toDS())
      .writeStream.format("memory").queryName("anomalies")
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData(events: _*)
      q.processAllAvailable()
      // Sentinel far in the future: advances the watermark past every
      // click minute so all of them close and emit.
      stream.addData(StreamEvent(tsOf(baseUs + 3L * 24 * 3600 * 1000000L), -1L, "sentinel", 0.0, -1L))
      q.processAllAvailable()
      stream.addData(StreamEvent(tsOf(baseUs + 4L * 24 * 3600 * 1000000L), -1L, "sentinel", 0.0, -2L))
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("anomalies")
      .select("event_type", "minute_us", "n", "z", "spike").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4)))
      .sortBy(_._2)

    // Batch twin: the SAME rows through the oracle-gated q115 (the
    // parquet dir carries ts as int64 nanos, the events-table layout).
    val dir = tempCorpusDir("graft_stream_anomaly")
    events.map(e => (e.event_id, e.user_id, e.event_type,
        (e.ts.getTime / 1000L * 1000000L + e.ts.getNanos / 1000L) * 1000L, e.value))
      .toDF("event_id", "user_id", "event_type", "ts", "value")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val batch = graft.SparkEntry.queries("q115_event_anomaly")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4)))
      .sortBy(_._2)

    assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq,
      s"streamed=${streamed.toSeq}\nbatch=${batch.toSeq}")
    assert(streamed.count(_._5 == 1) == 1 && streamed.last._5 == 1,
      "exactly the planted spike must flag")
  }

  test("streaming anomaly monitor over the real corpus matches the oracle-checked q115") {
    // The real-corpus convergence standard (scd2/attribution/drift/
    // sessionization/as-of) applied to the monitoring operator: the
    // full sf0.01 event stream through the stateful z-score monitor
    // must reproduce the DuckDB-gated batch q115 row-for-row — same
    // observed-minute baselines, same full-ring and positive-variance
    // emission rule, same HALF_UP rounding. All events land in one
    // batch; sentinels (their own event_type — 2 buckets can never
    // fill a 30-minute ring, so the sentinel type emits nothing)
    // advance the watermark to close every minute. sf0.01, not the
    // other real-corpus tests' sf0.001: there every (type, minute)
    // count is exactly 1, so the positive-variance rule filters every
    // row and both sides emit an unfalsifiable 0; at sf0.01 the batch
    // emits ~4.5k z-scored rows.
    implicit val sc = spark.sqlContext
    val sfDir = "/root/testdata/sf0.01"
    val events = graft.util.Tables.events(spark, sfDir)
      .select($"ts", $"user_id", $"event_type", $"value", $"event_id")
      .as[StreamEvent].collect().toSeq
    val maxTs = events.map(_.ts.getTime).max
    def sentinel(id: Long, plusH: Long) =
      StreamEvent(new Timestamp(maxTs + plusH * 3600 * 1000), -1L, "sentinel", 0.0, id)

    val stream = MemoryStream[StreamEvent]
    val q = EventStream.anomaliesWithState(stream.toDS())
      .writeStream.format("memory").queryName("real_anomalies")
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData(events: _*); q.processAllAvailable()
      stream.addData(sentinel(-1, 48)); q.processAllAvailable()
      stream.addData(sentinel(-2, 96)); q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("real_anomalies")
      .select("event_type", "minute_us", "n", "z", "spike").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4)))
      .sortBy(x => (x._1, x._2)).toSeq
    val batch = graft.SparkEntry.queries("q115_event_anomaly")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4)))
      .sortBy(x => (x._1, x._2)).toSeq
    assert(streamed.nonEmpty && streamed == batch,
      s"streamed ${streamed.size} rows != batch ${batch.size}")
  }

  test("sessionization and anomaly monitor drop beyond-watermark arrivals") {
    // The operator family's late-drop contract (scd2/attribution/
    // drift/as-of) applied to the remaining two stateful operators. A
    // late event would otherwise (a) re-create an already-closed-and-
    // emitted minute bucket with only the late count — a duplicate
    // (type, minute) anomaly row with a wrong n — or (b) start a new
    // session INSIDE an already-flushed session's span.
    implicit val sc = spark.sqlContext
    val baseUs = 1704067200000000L
    val minuteUs = 60L * 1000000L
    def tsOf(us: Long) = {
      val x = new Timestamp(us / 1000L); x.setNanos((us % 1000000L).toInt * 1000); x
    }

    // Anomalies: 41 planted minutes, matured; then one late event into
    // minute 35 (long closed). Every (type, minute) must appear at most
    // once and minute 35's count must be the original, not 1.
    val series = (0 to 40).flatMap { m =>
      val n = if (m == 40) 100 else 10 + m % 3
      (0 until n).map { i =>
        StreamEvent(tsOf(baseUs + m * minuteUs + i * 100000L), m.toLong, "click", 1.0, m * 1000L + i)
      }
    }
    // Sentinel 1 lands 30 SECONDS past a whole hour so the watermark
    // it sets is NOT minute-aligned — which makes a genuine
    // borderline-late case constructible (an event under the watermark
    // whose own minute bucket is still open; with an aligned watermark
    // every sub-watermark event's bucket end is ≤ wm, i.e. closed).
    val sent1Us = baseUs + 3L * 24 * 3600 * 1000000L + 30L * 1000000L
    val wmAfterSent1 = sent1Us - 3600L * 1000000L
    def runAnomaly(name: String, lateBatches: Seq[Seq[StreamEvent]]): Seq[(String, Long, Long)] = {
      val s = MemoryStream[StreamEvent]
      val q = EventStream.anomaliesWithState(s.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append).start()
      try {
        s.addData(series: _*); q.processAllAvailable()
        s.addData(StreamEvent(tsOf(sent1Us), -1L, "sentinel", 0.0, -1L))
        q.processAllAvailable()
        lateBatches.foreach { b => s.addData(b: _*); q.processAllAvailable() }
        s.addData(StreamEvent(tsOf(baseUs + 4L * 24 * 3600 * 1000000L), -1L, "sentinel", 0.0, -2L))
        q.processAllAvailable()
      } finally q.stop()
      spark.table(name)
        .select("event_type", "minute_us", "n").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(x => (x._1, x._2)).toSeq
    }
    val reference = runAnomaly("anomalies_ref", Nil)
    // Two late deliveries after sentinel 1 (watermark = sentinel − 1h,
    // far past the whole series): one into long-closed minute 35, and
    // one BORDERLINE-late event 1s under the watermark whose own
    // minute bucket is still open (bucket end = wm + 30s) — the family
    // contract (us > wm, Spark's own stateful-aggregation rule) drops
    // BOTH; output equality with the no-late reference pins it (a kept
    // minute-35 event would duplicate that row; a kept borderline
    // event would emit a fresh far-future bucket into the ring).
    val withLate = runAnomaly("anomalies_latedrop", Seq(Seq(
      StreamEvent(tsOf(baseUs + 35 * minuteUs), 999L, "click", 1.0, -99L),
      StreamEvent(tsOf(wmAfterSent1 - 1000000L), 998L, "click", 1.0, -98L),
    )))
    assert(reference.nonEmpty && withLate == reference,
      s"late arrivals must not change the emitted rows:\nwith=$withLate\nref=$reference")
    assert(withLate.map(r => (r._1, r._2)).distinct.length == withLate.length,
      s"duplicate (type, minute) emission from a late arrival: $withLate")

    // Sessions: one session flushed by timeout; a late event inside
    // its span must not open an overlapping second session.
    val sStream = MemoryStream[StreamEvent]
    val sq = EventStream.sessionizeWithState(sStream.toDS())
      .writeStream.format("memory").queryName("sessions_latedrop")
      .outputMode(OutputMode.Append).start()
    try {
      sStream.addData(
        StreamEvent(tsOf(baseUs), 1, "click", 1.0, 1),
        StreamEvent(tsOf(baseUs + 5 * minuteUs), 1, "click", 2.0, 2))
      sq.processAllAvailable()
      // Sentinel advances the watermark; the timeout flushes user 1's
      // open session [base, base+35min).
      sStream.addData(StreamEvent(tsOf(baseUs + 3L * 24 * 3600 * 1000000L), -1L, "click", 0.0, -1L))
      sq.processAllAvailable()
      // Late: inside the flushed session's span.
      sStream.addData(StreamEvent(tsOf(baseUs + 2 * minuteUs), 1, "click", 9.0, 3))
      sq.processAllAvailable()
      sStream.addData(StreamEvent(tsOf(baseUs + 4L * 24 * 3600 * 1000000L), -1L, "click", 0.0, -2L))
      sq.processAllAvailable()
    } finally sq.stop()
    val sRows = spark.table("sessions_latedrop")
      .filter($"user_id" === 1L).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(sRows.toSeq == Seq((baseUs, baseUs + 35 * minuteUs, 2L)),
      s"late arrival must not open an overlapping session: ${sRows.toSeq}")
  }

  // -------------------------------------------------------------------
  // Streaming as-of join.

  /** Clicks/purchases over 3 users in one hour: interleaved matches,
    * an out-of-tolerance purchase, a purchase with no prior click, and
    * duplicate click timestamps — the q109 edge set.
    */
  private def asOfEvents: Seq[StreamEvent] = {
    def tsOf(us: Long) = {
      val x = new Timestamp(us / 1000L); x.setNanos((us % 1000000L).toInt * 1000); x
    }
    val base = 1704067200000000L // 2024-01-01T00:00:00Z
    val min = 60L * 1000000L
    Seq(
      StreamEvent(tsOf(base + 1 * min), 1, "click", 1.0, 101),
      StreamEvent(tsOf(base + 5 * min), 1, "purchase", 9.0, 102), // → click@1
      StreamEvent(tsOf(base + 6 * min), 1, "click", 1.0, 103),
      StreamEvent(tsOf(base + 6 * min), 1, "click", 1.0, 104), // dup ts
      StreamEvent(tsOf(base + 7 * min), 1, "purchase", 9.0, 105), // → click@6
      StreamEvent(tsOf(base + 2 * min), 2, "purchase", 9.0, 201), // no prior click
      StreamEvent(tsOf(base + 3 * min), 2, "click", 1.0, 202),
      StreamEvent(tsOf(base + 3 * min), 2, "purchase", 9.0, 203), // exact-tie → click@3
      StreamEvent(tsOf(base + 10 * min), 3, "click", 1.0, 301),
      StreamEvent(tsOf(base + 55 * min), 3, "purchase", 9.0, 302), // 45min gap ≤ 10min tol? no
    )
  }

  private val asOfSentinels = {
    def tsOf(us: Long) = {
      val x = new Timestamp(us / 1000L); x.setNanos((us % 1000000L).toInt * 1000); x
    }
    val base = 1704067200000000L
    // Clicks for a user that never purchases: they advance the
    // watermark through any plan shape (Catalyst may push the type
    // filter below the watermark node) and join nothing.
    Seq(
      StreamEvent(tsOf(base + 3L * 24 * 3600 * 1000000L), -1L, "click", 0.0, -1L),
      StreamEvent(tsOf(base + 4L * 24 * 3600 * 1000000L), -1L, "click", 0.0, -2L),
    )
  }

  private def runAsOf(batches: Seq[Seq[StreamEvent]],
      toleranceUs: Long, name: String): Seq[(Long, Long, Long, Option[Long], Option[Long])] = {
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[StreamEvent]
    val q = EventStream.asOfJoinWithState(stream.toDS(), toleranceUs)
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    try {
      batches.foreach { b => stream.addData(b: _*); q.processAllAvailable() }
      asOfSentinels.foreach { s => stream.addData(s); q.processAllAvailable() }
    } finally q.stop()
    spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4))))
      .sortBy(x => (x._1, x._2)).toSeq
  }

  test("streaming as-of join emits exactly the batch q109 rows on the same data") {
    val tolUs = 10L * 60 * 1000000L
    val streamed = runAsOf(Seq(asOfEvents), tolUs, "asof_allatonce")

    // Expected per the q109 contract (latest click at-or-before,
    // within tolerance, null otherwise).
    val base = 1704067200000000L
    val min = 60L * 1000000L
    assert(streamed == Seq(
      (1L, 102L, base + 5 * min, Some(base + 1 * min), Some(4 * min)),
      (1L, 105L, base + 7 * min, Some(base + 6 * min), Some(1 * min)),
      (2L, 201L, base + 2 * min, None, None),
      (2L, 203L, base + 3 * min, Some(base + 3 * min), Some(0L)),
      (3L, 302L, base + 55 * min, None, None),
    ), s"got $streamed")

    // And row-for-row against the oracle-gated batch operator on the
    // same rows written as an events corpus (q109 uses the 1h
    // tolerance, so re-run the stream at 1h for the comparison).
    val streamed1h = runAsOf(Seq(asOfEvents), 3600L * 1000000L, "asof_1h")
    val dir = tempCorpusDir("graft_stream_asof")
    asOfEvents.map(e => (e.event_id, e.user_id, e.event_type,
        (e.ts.getTime / 1000L * 1000000L + e.ts.getNanos / 1000L) * 1000L, e.value))
      .toDF("event_id", "user_id", "event_type", "ts", "value")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val batch = graft.SparkEntry.queries("q109_asof_join_native")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4))))
      .sortBy(x => (x._1, x._2)).toSeq
    assert(streamed1h == batch, s"streamed=$streamed1h\nbatch=$batch")
  }

  test("torn replay: late out-of-order clicks within the watermark converge to the all-at-once result") {
    val tolUs = 10L * 60 * 1000000L
    val allAtOnce = runAsOf(Seq(asOfEvents), tolUs, "asof_whole")
    // Adversarial drop: every purchase arrives FIRST, then the clicks
    // land in a later micro-batch, newest first — the watermark (1h
    // behind max event time) hasn't passed any purchase yet, so
    // nothing may emit unmatched in between.
    val purchasesFirst = Seq(
      asOfEvents.filter(_.event_type == "purchase"),
      asOfEvents.filter(_.event_type == "click").reverse,
    )
    assert(runAsOf(purchasesFirst, tolUs, "asof_torn") == allAtOnce,
      "batch-boundary placement must not change the joined output")
    // One event per micro-batch, shuffled deterministically: same rows.
    val oneByOne = new scala.util.Random(5).shuffle(asOfEvents).map(Seq(_))
    assert(runAsOf(oneByOne, tolUs, "asof_dribble") == allAtOnce,
      "per-event replay must converge to the same joined output")
  }

  private def runAsOfFwd(batches: Seq[Seq[StreamEvent]],
      toleranceUs: Long, name: String): Seq[(Long, Long, Long, Option[Long], Option[Long])] = {
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[StreamEvent]
    val q = EventStream.asOfForwardWithState(stream.toDS(), toleranceUs)
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    try {
      batches.foreach { b => stream.addData(b: _*); q.processAllAvailable() }
      asOfSentinels.foreach { s => stream.addData(s); q.processAllAvailable() }
    } finally q.stop()
    spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4))))
      // The watermark sentinels are clicks, and clicks drive FORWARD
      // output — drop the sentinel user's own (correct) null rows.
      .filter(_._1 >= 0)
      .sortBy(x => (x._1, x._2)).toSeq
  }

  test("streaming forward as-of join emits exactly the batch q117 rows on the same data") {
    val streamed = runAsOfFwd(Seq(asOfEvents), 3600L * 1000000L, "asof_fwd")
    val dir = tempCorpusDir("graft_stream_asof_fwd")
    asOfEvents.map(e => (e.event_id, e.user_id, e.event_type,
        (e.ts.getTime / 1000L * 1000000L + e.ts.getNanos / 1000L) * 1000L, e.value))
      .toDF("event_id", "user_id", "event_type", "ts", "value")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val batch = graft.SparkEntry.queries("q117_asof_forward")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4))))
      .sortBy(x => (x._1, x._2)).toSeq
    assert(streamed.nonEmpty && streamed == batch, s"streamed=$streamed\nbatch=$batch")
    assert(streamed.exists(_._4.isDefined))
  }

  test("torn replay (forward): purchase-first and shuffled dribble converge") {
    val tolUs = 10L * 60 * 1000000L
    val allAtOnce = runAsOfFwd(Seq(asOfEvents), tolUs, "asof_fwd_whole")
    // At the tight tolerance the unmatched (final-null) arm fires too.
    assert(allAtOnce.exists(_._4.isEmpty), s"expected a final null: $allAtOnce")
    val purchasesFirst = Seq(
      asOfEvents.filter(_.event_type == "purchase"),
      asOfEvents.filter(_.event_type == "click").reverse,
    )
    assert(runAsOfFwd(purchasesFirst, tolUs, "asof_fwd_torn") == allAtOnce)
    val oneByOne = new scala.util.Random(7).shuffle(asOfEvents).map(Seq(_))
    assert(runAsOfFwd(oneByOne, tolUs, "asof_fwd_dribble") == allAtOnce)
  }

  test("streaming as-of joins over the real corpus match the oracle-checked q109/q117") {
    // The scd2/attribution/drift operators each carry a real-corpus
    // stream-vs-batch equality proof; this extends the standard to the
    // as-of pair. All events land in ONE batch (everything buffers
    // before any maturation — the corpus's full ts span cannot trip
    // the watermark-horizon late-drop), then far-future CLICK
    // sentinels advance the watermark so every purchase/click matures.
    implicit val sc = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val events = graft.util.Tables.events(spark, sfDir)
      .select($"ts", $"user_id", $"event_type", $"value", $"event_id")
      .as[StreamEvent].collect().toSeq
    val maxTs = events.map(_.ts.getTime).max
    def sentinel(id: Long, plusH: Long) =
      StreamEvent(new Timestamp(maxTs + plusH * 3600 * 1000), -1L, "click", 0.0, id)

    def collectRows(table: String) = spark.table(table).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4))))
      .filter(_._1 >= 0) // the sentinel user's own rows are not the corpus's
      .sortBy(x => (x._1, x._2)).toSeq

    def runReal(name: String,
        op: org.apache.spark.sql.Dataset[StreamEvent] =>
          org.apache.spark.sql.Dataset[_]): Seq[(Long, Long, Long, Option[Long], Option[Long])] = {
      val stream = MemoryStream[StreamEvent]
      val q = op(stream.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append).start()
      try {
        stream.addData(events: _*); q.processAllAvailable()
        stream.addData(sentinel(-1, 48)); q.processAllAvailable()
        stream.addData(sentinel(-2, 96)); q.processAllAvailable()
      } finally q.stop()
      collectRows(name)
    }

    def batchRows(qname: String) =
      graft.SparkEntry.queries(qname)(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4))))
        .sortBy(x => (x._1, x._2)).toSeq

    val bwd = runReal("real_asof", EventStream.asOfJoinWithState(_))
    val bwdBatch = batchRows("q109_asof_join_native")
    assert(bwd.nonEmpty && bwd == bwdBatch,
      s"backward: streamed ${bwd.size} rows != batch ${bwdBatch.size}")

    val fwd = runReal("real_asof_fwd", EventStream.asOfForwardWithState(_))
    val fwdBatch = batchRows("q117_asof_forward")
    assert(fwd.nonEmpty && fwd == fwdBatch,
      s"forward: streamed ${fwd.size} rows != batch ${fwdBatch.size}")
    // Both matched and unmatched arms must actually fire on the corpus.
    assert(bwd.exists(_._4.isDefined) && bwd.exists(_._4.isEmpty))
    assert(fwd.exists(_._4.isDefined))
  }

  test("as-of joins drop beyond-watermark arrivals instead of emitting wrong rows") {
    // The watermark contract the operators' correctness rests on —
    // "once the watermark passes t, every event at-or-before t has
    // arrived" — is NOT enforced by flatMapGroupsWithState itself. A
    // purchase arriving AFTER the watermark passed its event time
    // matures instantly against a click buffer already pruned of its
    // true predecessors (backward), and a late click finds its
    // answering purchases already GC'd (forward) — both would emit a
    // confidently wrong row. The operators drop such rows explicitly
    // (the scd2/attribution/drift contract); this drill pins it.
    def tsOf(us: Long) = {
      val x = new Timestamp(us / 1000L); x.setNanos((us % 1000000L).toInt * 1000); x
    }
    val base = 1704067200000000L
    val min = 60L * 1000000L
    val tolUs = 10L * min

    // Backward: mature a normal pair, advance the watermark far past
    // it, then deliver a purchase whose event time is long gone.
    val bwd = runAsOf(Seq(
      Seq(StreamEvent(tsOf(base + 1 * min), 5, "click", 1.0, 501),
        StreamEvent(tsOf(base + 5 * min), 5, "purchase", 9.0, 502)),
      asOfSentinels.take(1), // watermark jumps ~3 days ahead
      Seq(StreamEvent(tsOf(base + 6 * min), 5, "purchase", 9.0, 503)), // late
    ), tolUs, "asof_latedrop")
    assert(bwd.exists(r => r._2 == 502L && r._4 == Some(base + 1 * min)),
      s"in-contract purchase must still match: $bwd")
    assert(!bwd.exists(_._2 == 503L),
      s"beyond-watermark purchase must be dropped, not emitted: $bwd")

    // Forward: the purchase that would answer the late click is GC'd
    // once the watermark passes; the late click must drop rather than
    // emit a final NULL.
    val fwd = runAsOfFwd(Seq(
      Seq(StreamEvent(tsOf(base + 1 * min), 6, "click", 1.0, 601),
        StreamEvent(tsOf(base + 3 * min), 6, "purchase", 9.0, 602)),
      asOfSentinels.take(1),
      Seq(StreamEvent(tsOf(base + 2 * min), 6, "click", 1.0, 603)), // late
    ), tolUs, "asof_fwd_latedrop")
    assert(fwd.exists(r => r._2 == 601L && r._4 == Some(base + 3 * min)),
      s"in-contract click must still match: $fwd")
    assert(!fwd.exists(_._2 == 603L),
      s"beyond-watermark click must be dropped, not emitted: $fwd")
  }

  // ---- streaming SCD2 twin ------------------------------------------
  // Four users, twelve events each (4-minute cadence, per-user phase:
  // the whole span stays inside the 1h watermark horizon, so NO arrival
  // order can make a row late-beyond-watermark and the replays below
  // must converge exactly), state patterns with runs so both the
  // collapse arm and the change arm fire repeatedly.
  private val scd2BaseUs = 1704067200000000L // 2024-01-01T00:00:00Z
  private val scd2Events: Seq[StreamEvent] = {
    def tsOf(us: Long) = { val t = new Timestamp(us / 1000L); t.setNanos((us % 1000000L).toInt * 1000); t }
    val pattern = Vector("A", "A", "B", "C", "C", "C", "A", "B", "B", "A", "C", "A")
    (1 to 4).flatMap { u =>
      pattern.indices.map { i =>
        val us = scd2BaseUs + (i * 4L * 60 + u * 13L) * 1000000L
        StreamEvent(tsOf(us), u.toLong, pattern((i + u) % pattern.length), 1.0, u * 100L + i)
      }
    }
  }

  private def runScd2(batches: Seq[Seq[StreamEvent]],
      name: String): Seq[(Long, String, Long, Long, Int)] = {
    implicit val sc = spark.sqlContext
    def tsOf(us: Long) = { val t = new Timestamp(us / 1000L); t.setNanos((us % 1000000L).toInt * 1000); t }
    val stream = MemoryStream[StreamEvent]
    val q = EventStream.scd2WithState(stream.toDS())
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    try {
      batches.foreach { b => stream.addData(b: _*); q.processAllAvailable() }
      // Two far-future sentinels: the first advances the watermark past
      // every planted event, the second lets event-time timeouts fire
      // against it (timeouts see the PREVIOUS batch's watermark).
      stream.addData(StreamEvent(tsOf(scd2BaseUs + 3L * 24 * 3600 * 1000000L), -1L, "sentinel", 0.0, -1L))
      q.processAllAvailable()
      stream.addData(StreamEvent(tsOf(scd2BaseUs + 4L * 24 * 3600 * 1000000L), -1L, "sentinel", 0.0, -2L))
      q.processAllAvailable()
    } finally q.stop()
    spark.table(name).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getInt(4)))
      .filter(_._1 >= 0) // the sentinel user never closes an interval
      .sortBy(x => (x._1, x._5)).toSeq
  }

  test("streaming SCD2 emits exactly the batch q142 closed intervals on the same data") {
    val streamed = runScd2(Seq(scd2Events), "scd2_whole")
    val dir = tempCorpusDir("graft_stream_scd2")
    scd2Events.map(e => (e.event_id, e.user_id, e.event_type,
        (e.ts.getTime / 1000L * 1000000L + e.ts.getNanos / 1000L) * 1000L, e.value))
      .toDF("event_id", "user_id", "event_type", "ts", "value")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val batchClosed = graft.SparkEntry.queries("q142_scd2_history")(spark, dir)
      .collect()
      .filter(!_.isNullAt(3))
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getInt(4)))
      .sortBy(x => (x._1, x._5)).toSeq
    assert(streamed.nonEmpty && streamed == batchClosed,
      s"streamed=$streamed\nbatch=$batchClosed")
    // The open (current) interval is state, not output: the stream must
    // emit exactly one fewer interval per user than the batch history.
    assert(streamed.groupBy(_._1).forall { case (_, h) => h.length >= 2 })
  }

  test("torn replay (SCD2): reversed batches and shuffled dribble converge") {
    val allAtOnce = runScd2(Seq(scd2Events), "scd2_ref")
    // Newest-first in one batch: every event is within the 1h watermark
    // horizon of the max, so nothing may fold before maturing in order.
    assert(runScd2(Seq(scd2Events.reverse), "scd2_torn") == allAtOnce,
      "arrival order within a batch must not change the history")
    val oneByOne = new scala.util.Random(11).shuffle(scd2Events).map(Seq(_))
    assert(runScd2(oneByOne, "scd2_dribble") == allAtOnce,
      "per-event replay must converge to the same history")
  }

  // ---- streaming attribution twin -----------------------------------
  // Span 2..45 min — inside the 1h watermark horizon, so no arrival
  // order can drop a row and the replays must converge. user 1: two
  // one-click channels; user 2: a 3-click channel plus an out-of-window
  // click; user 3: a clickless purchase (emits nothing).
  private val attrBaseUs = 1704067200000000L
  private val attrEvents: Seq[AttrEvent] = {
    def tsOf(us: Long) = { val t = new Timestamp(us / 1000L); t.setNanos((us % 1000000L).toInt * 1000); t }
    def m(min: Long) = attrBaseUs + min * 60L * 1000000L
    Seq(
      AttrEvent(tsOf(m(10)), 1, "click", "ch0", 1),
      AttrEvent(tsOf(m(20)), 1, "click", "ch1", 2),
      AttrEvent(tsOf(m(25)), 1, "purchase", "", 3),
      AttrEvent(tsOf(m(30)), 2, "click", "ch2", 4),
      AttrEvent(tsOf(m(35)), 2, "click", "ch2", 5),
      AttrEvent(tsOf(m(38)), 2, "click", "ch2", 6),
      AttrEvent(tsOf(m(2)), 2, "click", "ch3", 7), // 38 min before the purchase: outside
      AttrEvent(tsOf(m(40)), 2, "purchase", "", 8),
      AttrEvent(tsOf(m(45)), 3, "purchase", "", 9),
    )
  }

  private def runAttr(batches: Seq[Seq[AttrEvent]],
      name: String): Seq[(String, Long, Long, Long)] = {
    implicit val sc = spark.sqlContext
    def tsOf(us: Long) = { val t = new Timestamp(us / 1000L); t.setNanos((us % 1000000L).toInt * 1000); t }
    val stream = MemoryStream[AttrEvent]
    val q = EventStream.attributionWithState(stream.toDS())
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    try {
      batches.foreach { b => stream.addData(b: _*); q.processAllAvailable() }
      stream.addData(AttrEvent(tsOf(attrBaseUs + 3L * 24 * 3600 * 1000000L), -1L, "click", "chS", -1L))
      q.processAllAvailable()
      stream.addData(AttrEvent(tsOf(attrBaseUs + 4L * 24 * 3600 * 1000000L), -1L, "click", "chS", -2L))
      q.processAllAvailable()
    } finally q.stop()
    // Aggregate the per-(purchase, channel) splits to q147's grain.
    spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4)))
      .filter(_._1 >= 0)
      .groupBy(_._3).toSeq.map { case (ch, rs) =>
        (ch, rs.map(_._4).sum, rs.map(_._2).distinct.length.toLong, rs.map(_._5).sum)
      }.sortBy(_._1)
  }

  test("streaming attribution reproduces the batch q147 rows on the same data") {
    val streamed = runAttr(Seq(attrEvents), "attr_whole")
    val dir = tempCorpusDir("graft_stream_attr")
    attrEvents.map { e =>
      val k = if (e.channel.startsWith("ch")) e.channel.drop(2) else "0"
      (e.event_id, e.user_id, e.event_type,
        (e.ts.getTime / 1000L * 1000000L + e.ts.getNanos / 1000L) * 1000L, 0.0,
        s"""{"k": $k}""")
    }.toDF("event_id", "user_id", "event_type", "ts", "value", "props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val batch = graft.SparkEntry.queries("q147_multitouch_attribution")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(streamed.nonEmpty && streamed == batch, s"streamed=$streamed\nbatch=$batch")
    assert(streamed == Seq(
      ("ch0", 1L, 1L, 500000L), ("ch1", 1L, 1L, 500000L), ("ch2", 3L, 1L, 1000000L),
    ), streamed.mkString("\n"))
  }

  test("torn replay (attribution): purchase-first and shuffled dribble converge") {
    val allAtOnce = runAttr(Seq(attrEvents), "attr_ref")
    val purchasesFirst = Seq(
      attrEvents.filter(_.event_type == "purchase"),
      attrEvents.filter(_.event_type == "click").reverse,
    )
    assert(runAttr(purchasesFirst, "attr_torn") == allAtOnce)
    val oneByOne = new scala.util.Random(13).shuffle(attrEvents).map(Seq(_))
    assert(runAttr(oneByOne, "attr_dribble") == allAtOnce)
  }

  test("streaming SCD2 over the real corpus matches the batch history's closed rows") {
    implicit val sc = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val events = graft.util.Tables.events(spark, sfDir)
      .select($"ts", $"user_id", $"event_type", $"value", $"event_id")
      .as[StreamEvent].collect().toSeq
    val maxTs = events.map(_.ts.getTime).max
    def sentinel(id: Long, plusH: Long) =
      StreamEvent(new Timestamp(maxTs + plusH * 3600 * 1000), -1L, "sentinel", 0.0, id)

    // All real events in ONE batch: everything buffers before any
    // maturation, so the corpus's full ts span cannot trip the
    // watermark-horizon late-drop; the sentinels then mature it all.
    val stream = MemoryStream[StreamEvent]
    val q = EventStream.scd2WithState(stream.toDS())
      .writeStream.format("memory").queryName("real_scd2")
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData(events: _*)
      q.processAllAvailable()
      stream.addData(sentinel(-1, 48)); q.processAllAvailable()
      stream.addData(sentinel(-2, 96)); q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("real_scd2").filter($"user_id" >= 0).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getInt(4)))
      .sortBy(x => (x._1, x._5)).toSeq
    val batchClosed = graft.SparkEntry.queries("q142_scd2_history")(spark, sfDir)
      .collect().filter(!_.isNullAt(3))
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getInt(4)))
      .sortBy(x => (x._1, x._5)).toSeq
    assert(streamed.size == batchClosed.size && streamed == batchClosed,
      s"streamed ${streamed.size} rows != batch ${batchClosed.size} closed rows")
  }

  test("streaming attribution over the real corpus matches the oracle-checked q147") {
    implicit val sc = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    // Same channel derivation as the batch query's select (k mod 4).
    val events = graft.util.Tables.events(spark, sfDir)
      .selectExpr("ts", "user_id", "event_type",
        "concat('ch', coalesce(try_cast(get_json_object(props, '$.k') AS BIGINT) % 4, -1)) AS channel",
        "event_id")
      .as[AttrEvent].collect().toSeq
    val maxTs = events.map(_.ts.getTime).max

    val stream = MemoryStream[AttrEvent]
    val q = EventStream.attributionWithState(stream.toDS())
      .writeStream.format("memory").queryName("real_attr")
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData(events: _*)
      q.processAllAvailable()
      stream.addData(AttrEvent(new Timestamp(maxTs + 48L * 3600 * 1000), -1L, "click", "chS", -1L))
      q.processAllAvailable()
      stream.addData(AttrEvent(new Timestamp(maxTs + 96L * 3600 * 1000), -1L, "click", "chS", -2L))
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("real_attr").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4)))
      .filter(_._1 >= 0)
      .groupBy(_._3).toSeq.map { case (ch, rs) =>
        (ch, rs.map(_._4).sum, rs.map(_._2).distinct.length.toLong, rs.map(_._5).sum)
      }.sortBy(_._1)
    val batch = graft.SparkEntry.queries("q147_multitouch_attribution")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(streamed.nonEmpty && streamed == batch,
      s"streamed=$streamed\nbatch=$batch")
  }

  // ---- streaming drift-monitor twin ---------------------------------
  private def runDrift(batches: Seq[Seq[StreamEvent]], baseline: Map[String, Long],
      name: String): Seq[(String, Long, Long, Long)] = {
    implicit val sc = spark.sqlContext
    def tsOf(us: Long) = new Timestamp(us / 1000L)
    val maxUs = batches.flatten.map(e => e.ts.getTime * 1000L).max
    val stream = MemoryStream[StreamEvent]
    val q = EventStream.driftWithState(stream.toDS(), baseline)
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    try {
      batches.foreach { b => stream.addData(b: _*); q.processAllAvailable() }
      // Far-future sentinels: advance the watermark past every planted
      // bucket end, then let event-time timeouts fire against it.
      stream.addData(StreamEvent(tsOf(maxUs + 48L * 3600 * 1000000L), -1L, "sentinel", 0.0, -1L))
      q.processAllAvailable()
      stream.addData(StreamEvent(tsOf(maxUs + 96L * 3600 * 1000000L), -1L, "sentinel", 0.0, -2L))
      q.processAllAvailable()
    } finally q.stop()
    spark.table(name).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .filter(_._1 != "sentinel")
      .sortBy(x => (x._1, x._2)).toSeq
  }

  test("streaming drift monitor emits exact per-minute new-batch counts with the baseline attached") {
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def at(tpe: String, sec: Long, id: Long) =
      StreamEvent(new Timestamp(base + sec * 1000L), 9L, tpe, 0.0, id)
    val events = Seq(
      at("A", 10, 1), at("A", 30, 2), // minute 0: two A's
      at("A", 70, 3), //                 minute 1: one A
      at("B", 5, 4), //                  minute 0: one B — absent from base
    )
    val baseline = Map("A" -> 3L) // B missing: q148's n_base = 0 arm
    val got = runDrift(Seq(events), baseline, "drift_planted")
    val m0 = base * 1000L - base * 1000L % 60000000L
    assert(got == Seq(
      ("A", m0, 2L, 3L), ("A", m0 + 60000000L, 1L, 3L), ("B", m0, 1L, 0L)),
      got.mkString("\n"))
  }

  test("torn replay (drift): reversed batches and shuffled dribble converge") {
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def at(tpe: String, sec: Long, id: Long) =
      StreamEvent(new Timestamp(base + sec * 1000L), 9L, tpe, 0.0, id)
    // Span ≤ 50 min: inside the 1h watermark horizon, so no arrival
    // order can drop a row and every replay must converge exactly.
    val events = (0 until 40).map(i => at(if (i % 3 == 0) "A" else "B", i * 73L % 3000L, i.toLong))
    val baseline = Map("A" -> 5L, "B" -> 2L)
    val allAtOnce = runDrift(Seq(events), baseline, "drift_ref")
    assert(allAtOnce.nonEmpty)
    assert(runDrift(Seq(events.reverse), baseline, "drift_torn") == allAtOnce,
      "arrival order within a batch must not change the drift rows")
    val oneByOne = new scala.util.Random(29).shuffle(events).map(Seq(_))
    assert(runDrift(oneByOne, baseline, "drift_dribble") == allAtOnce,
      "per-event replay must converge to the same drift rows")
  }

  test("streaming drift monitor over the real corpus reproduces the oracle-checked q148 report") {
    val sfDir = "/root/testdata/sf0.001"
    // The same hwm derivation as q148's oracle: 80% of the ts span.
    val us = graft.util.Tables.events(spark, sfDir)
      .selectExpr("unix_micros(ts) AS us", "event_type", "user_id", "value", "event_id")
    val mm = us.selectExpr("min(us)", "max(us)").head()
    val cutoff = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) * 8 / 10
    // At-rest baseline: per-type counts of the base slice (bounded map).
    val baseline = us.where(s"us < $cutoff").groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // Stream ONLY the new batch — the slice a production monitor sees.
    val newBatch = us.where(s"us >= $cutoff")
      .selectExpr("timestamp_micros(us) AS ts", "user_id", "event_type", "value", "event_id")
      .as[StreamEvent].collect().toSeq
    val rows = runDrift(Seq(newBatch), baseline, "drift_real")

    // Assemble the report with q148's exact arithmetic (HALF_UP round
    // at 4 is what Spark's round does on doubles) over the bounded
    // emitted rows + baseline — the monitor's cheap final fold.
    val nNew = rows.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val types = (baseline.keySet ++ nNew.keySet).toSeq.sorted
    val tb = baseline.values.sum.toDouble
    val tn = nNew.values.sum.toDouble
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val assembled = types.map { tpe =>
      val nb = baseline.getOrElse(tpe, 0L); val nn = nNew.getOrElse(tpe, 0L)
      val sb = if (tb == 0) None else Some(nb / tb)
      val sn = nn / tn
      val ratio = sb.filter(_ != 0.0).map(s => sn / s)
      val drifted =
        if (nb == 0) (if (nn > 0) 1 else 0)
        else if (ratio.exists(r => math.abs(r - 1.0) > 0.25)) 1 else 0
      (tpe, nb, nn, sb.map(r4), r4(sn), ratio.map(r4), drifted)
    }
    val batch = graft.SparkEntry.queries("q148_snapshot_drift")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getDouble(4),
        if (r.isNullAt(5)) None else Some(r.getDouble(5)), r.getInt(6))).toSeq
    assert(assembled.nonEmpty && assembled == batch,
      s"assembled=$assembled\nbatch=$batch")
  }

  test("session aggregation merges events within the 30-minute gap") {
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[Ev]
    stream.addData(
      Ev(t("2024-01-01 00:00:00"), 7, "click", 1.0, 10),
      Ev(t("2024-01-01 00:20:00"), 7, "click", 1.0, 11), // same session (gap 20m)
      Ev(t("2024-01-01 01:30:00"), 7, "click", 1.0, 12), // new session (gap 70m)
      // advance watermark far enough to emit both sessions
      Ev(t("2024-01-01 05:00:00"), 8, "view", 0.0, 13),
    )
    val q = EventStream.sessionAggregates(stream.toDF())
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append).start()
    try q.processAllAvailable() finally q.stop()
    val u7 = spark.table("sessions").filter($"user_id" === 7)
      .orderBy("session_start").collect()
    assert(u7.length == 2)
    assert(u7(0).getAs[Long]("n_events") == 2)
    assert(u7(1).getAs[Long]("n_events") == 1)
  }
}
