package graft.queries


import graft.{SparkEntry, SparkTestBase}

/** Quality-level validation of q115's anomaly gate on a planted event
  * series: a spike an order of magnitude above its trailing baseline
  * must flag, ordinary baseline wiggle must not, and minutes without a
  * full (or non-degenerate) baseline must not appear at all.
  */
class EventsQualitySpec extends SparkTestBase with graft.TempCorpusDirs {
  import sqlImplicits._

  private val BaseUs = 1704067200000000L // 2024-01-01T00:00:00Z
  private val MinuteUs = 60L * 1000000L

  /** Write an events fixture whose BIGINT-micros `ts` column becomes
    * NTZ micros — the live corpus's encoding (the loader's footer guard
    * rightly rejects plain-BIGINT nanos at 1970-era magnitudes;
    * encoding adaptivity has its own suite, EventsLoaderSpec).
    */
  private def writeEvents(dir: String, df: org.apache.spark.sql.DataFrame): Unit =
    df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
      org.apache.spark.sql.functions.col("ts")).cast("timestamp_ntz"))
      .coalesce(1).write.parquet(s"$dir/events.parquet")

  test("q115 flags a planted order-of-magnitude spike and nothing else") {
    // Minutes 0..40 of 'click': 10 + (m % 3) events per minute (small
    // deterministic wiggle so no baseline is degenerate), except minute
    // 40 carries 100 events — the spike. Only minutes 30..40 have the
    // full 30-minute baseline, so exactly 11 rows come back.
    val rows = (0 to 40).flatMap { m =>
      val n = if (m == 40) 100 else 10 + m % 3
      (0 until n).map { i =>
        val tsUs = BaseUs + m * MinuteUs + i * 100000L
        (m * 1000L + i, m.toLong, "click", tsUs, 1.0)
      }
    }
    val dir = tempCorpusDir("graft_event_anomaly")
    writeEvents(dir, rows.toDF("event_id", "user_id", "event_type", "ts", "value"))

    val out = SparkEntry.queries("q115_event_anomaly")(spark, dir)
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4)))
    assert(out.length == 11, s"expected 11 full-baseline minutes, got ${out.length}")
    val spikeMinute = BaseUs + 40 * MinuteUs
    out.foreach { case (minuteUs, n, z, spike) =>
      if (minuteUs == spikeMinute) {
        assert(spike == 1 && z > 3 && n == 100, s"planted spike not flagged: z=$z n=$n")
      } else {
        assert(spike == 0 && math.abs(z) < 3, s"baseline minute $minuteUs flagged: z=$z")
      }
    }
  }

  test("q142 collapses planted state runs into exact SCD2 intervals") {
    // user 1 emits A A B B A at us 1..5s, user 2 a single C: the
    // history must be the three A/B/A intervals (contiguous, half-open,
    // versions dense) and one open C interval.
    def ev(id: Long, user: Long, tpe: String, sec: Long) =
      (id, user, tpe, sec * 1000000L, 0.0)
    val rows = Seq(
      ev(1, 1, "A", 1), ev(2, 1, "A", 2), ev(3, 1, "B", 3),
      ev(4, 1, "B", 4), ev(5, 1, "A", 5),
      ev(6, 2, "C", 10),
    )
    val dir = tempCorpusDir("graft_scd2")
    writeEvents(dir, rows.toDF("event_id", "user_id", "event_type", "ts", "value"))

    val out = SparkEntry.queries("q142_scd2_history")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getInt(4)))
      .toSeq
    val s = 1000000L
    assert(out == Seq(
      (1L, "A", 1 * s, Some(3 * s), 1),
      (1L, "B", 3 * s, Some(5 * s), 2),
      (1L, "A", 5 * s, None, 3),
      (2L, "C", 10 * s, None, 1),
    ), out.mkString("\n"))
  }

  test("q142 history invariants hold on the real corpus") {
    // Per user: versions dense from 1, intervals chain exactly
    // (valid_to == next valid_from), no zero-length interval, states
    // actually change at every boundary, and exactly one open interval
    // (the current state) per user.
    val rows = SparkEntry.queries("q142_scd2_history")(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getInt(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (user, h0) =>
      val h = h0.sortBy(_._5)
      assert(h.map(_._5).toSeq == (1 to h.length), s"user $user versions not dense")
      h.sliding(2).foreach {
        case Array((_, s1, _, to1, _), (_, s2, from2, _, _)) =>
          assert(to1.contains(from2), s"user $user interval chain broken")
          assert(s1 != s2, s"user $user run not collapsed: $s1 repeated")
        case _ => ()
      }
      h.init.foreach { case (_, _, from, to, _) =>
        assert(to.exists(_ > from), s"user $user zero-length interval")
      }
      assert(h.last._4.isEmpty, s"user $user has no open current interval")
      assert(h.init.forall(_._4.nonEmpty), s"user $user open interval not last")
    }
  }

  test("q145 merges every boundary case and reconstructs the recompute") {
    // ts span 0..100 s → the at-rest hwm sits at 80 s. One user per
    // merge geometry: same-state boundary (absorption, the open
    // interval must NOT close), changed boundary (closes at the first
    // new event), brand-new user (versions from 1), untouched user
    // (open row passes through), and a multi-change new batch on top
    // of an open run (versions rebase densely).
    def ev(id: Long, user: Long, tpe: String, sec: Long) =
      (id, user, tpe, sec * 1000000L, 0.0)
    val rows = Seq(
      ev(1, 1, "A", 0), ev(2, 1, "A", 90), // absorption
      ev(3, 2, "A", 20), ev(4, 2, "B", 85), // change at the boundary
      ev(5, 3, "C", 95), // new user, no base history
      ev(6, 4, "D", 30), // untouched
      ev(7, 5, "E", 40), ev(8, 5, "E", 100), // absorption (span anchor)
      ev(9, 6, "A", 50), ev(10, 6, "B", 82), ev(11, 6, "C", 88), ev(12, 6, "B", 93),
    )
    val dir = tempCorpusDir("graft_scd2_merge")
    writeEvents(dir, rows.toDF("event_id", "user_id", "event_type", "ts", "value"))

    def collect(q: String) = SparkEntry.queries(q)(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getInt(4)))
      .toSeq
    val merged = collect("q145_scd2_merge")
    val s = 1000000L
    assert(merged == Seq(
      (1L, "A", 0 * s, None, 1),
      (2L, "A", 20 * s, Some(85 * s), 1), (2L, "B", 85 * s, None, 2),
      (3L, "C", 95 * s, None, 1),
      (4L, "D", 30 * s, None, 1),
      (5L, "E", 40 * s, None, 1),
      (6L, "A", 50 * s, Some(82 * s), 1), (6L, "B", 82 * s, Some(88 * s), 2),
      (6L, "C", 88 * s, Some(93 * s), 3), (6L, "B", 93 * s, None, 4),
    ), merged.mkString("\n"))
    // And the incremental path IS the recompute, row for row.
    assert(merged == collect("q142_scd2_history"), "merge != full recompute")
  }

  test("q147 splits purchase credit equally across in-window clicks, exact micro-credit") {
    // props {"k":N} → channel chN%4. user 1: two clicks (ch0, ch1) in
    // the 30-min window → 500000 ppm each. user 2: three ch2 clicks in
    // window + one ch3 click OUTSIDE it → ch2 gets the full 1000000,
    // ch3 nothing. user 3: purchase with no clicks → unattributed.
    def ev(id: Long, user: Long, tpe: String, sec: Long, k: Int) =
      (id, user, tpe, sec * 1000000L, 0.0, s"""{"k": $k}""")
    val m = 60L
    val rows = Seq(
      ev(1, 1, "click", 10 * m, 0), ev(2, 1, "click", 20 * m, 1),
      ev(3, 1, "purchase", 25 * m, 0),
      ev(4, 2, "click", 100 * m, 2), ev(5, 2, "click", 110 * m, 2),
      ev(6, 2, "click", 115 * m, 2), ev(7, 2, "click", 60 * m, 3), // 58 min before → outside
      ev(8, 2, "purchase", 118 * m, 0),
      ev(9, 3, "purchase", 500 * m, 0),
    )
    val dir = tempCorpusDir("graft_multitouch")
    writeEvents(dir,
      rows.toDF("event_id", "user_id", "event_type", "ts", "value", "props"))
    val out = SparkEntry.queries("q147_multitouch_attribution")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out == Seq(
      ("ch0", 1L, 1L, 500000L),
      ("ch1", 1L, 1L, 500000L),
      ("ch2", 3L, 1L, 1000000L),
    ), out.mkString("\n"))
  }

  test("q149 attaches to each purchase the dimension version valid at its timestamp") {
    // user 1's state stream (purchases are events too, so a purchase
    // opens its own 'purchase' state run): A@1 A@2 B@3 purchase@4 A@5 →
    // versions A[1,3) B[3,4) purchase[4,5) A[5,∞). The purchase at 4
    // must land in ITS OWN version-3 interval (valid_from ≤ ts). user 2
    // buys mid-run: C@10 purchase@12 C@14 → purchase[12,14) version 2.
    def ev(id: Long, user: Long, tpe: String, sec: Long) =
      (id, user, tpe, sec * 1000000L, 0.0)
    val rows = Seq(
      ev(1, 1, "A", 1), ev(2, 1, "A", 2), ev(3, 1, "B", 3),
      ev(4, 1, "purchase", 4), ev(5, 1, "A", 5),
      ev(6, 2, "C", 10), ev(7, 2, "purchase", 12), ev(8, 2, "C", 14),
    )
    val dir = tempCorpusDir("graft_scd2_lookup")
    writeEvents(dir, rows.toDF("event_id", "user_id", "event_type", "ts", "value"))
    val out = SparkEntry.queries("q149_scd2_lookup")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(3), r.getInt(4))).toSeq
    assert(out == Seq(
      (4L, 1L, "purchase", 3),
      (7L, 2L, "purchase", 2),
    ), out.mkString("\n"))
  }

  test("q148 flags exactly the planted share shifts between snapshot and batch") {
    // ts span 0..100 s → hwm at 80 s. Base: a×30 b×10 c×8 e×5
    // (tb=53); new: a×12 b×2 c×6 d×3 (tn=23). Ratios: a 0.92 (in
    // band), b 0.46 and c 1.73 (drifted), d is NEW-ONLY (n_base=0 —
    // ratio undefined/NULL, flag must be 1 and the query must not
    // raise ANSI DIVIDE_BY_ZERO), e vanishes (ratio 0, flag 1).
    def ev(id: Long, tpe: String, sec: Long) =
      (id, id % 7, tpe, sec * 1000000L, 0.0, """{"k": 1}""")
    var id = 0L
    def burst(tpe: String, n: Int, fromSec: Long, toSec: Long) =
      (0 until n).map { i =>
        id += 1; ev(id, tpe, fromSec + (toSec - fromSec) * i / math.max(n - 1, 1))
      }
    val rows = burst("a", 30, 0, 79) ++ burst("b", 10, 1, 79) ++ burst("c", 8, 2, 79) ++
      burst("e", 5, 3, 78) ++
      burst("a", 12, 80, 100) ++ burst("b", 2, 81, 99) ++ burst("c", 6, 82, 99) ++
      burst("d", 3, 83, 98)
    val dir = tempCorpusDir("graft_drift")
    writeEvents(dir,
      rows.toDF("event_id", "user_id", "event_type", "ts", "value", "props"))
    val collected = SparkEntry.queries("q148_snapshot_drift")(spark, dir).collect()
    val out = collected.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(6))).toSeq
    assert(out == Seq(
      ("a", 30L, 12L, 0), ("b", 10L, 2L, 1), ("c", 8L, 6L, 1),
      ("d", 0L, 3L, 1), ("e", 5L, 0L, 1),
    ), out.mkString("\n"))
    // The new-only type's ratio is NULL (undefined), not an error.
    assert(collected.find(_.getString(0) == "d").exists(_.isNullAt(5)))
  }
}
