package graft.queries

import scala.util.Random

import graft.{SparkEntry, SparkTestBase}

/** Property-style fuzz (seeded loops, the Scd2PropertySpec pattern) for
  * the multi-touch attribution family: on random click/purchase streams
  * q147 must equal an independent O(purchases × clicks) in-memory
  * credit-splitter. The generator grazes every semantic edge on
  * purpose: timestamps on a coarse 300 s grid so the half-open window
  * boundary (tc ≥ tp − 1800 s inclusive, tc < tp exclusive) is hit
  * exactly, clicks sharing a purchase's timestamp (must NOT attribute),
  * negative channel keys (pins sign-of-dividend `%` on both sides),
  * missing/malformed props (the coalesce → ch-1 path), purchases with
  * zero in-window clicks (no row, not a zero row), and the integer
  * micro-credit division (1e6·a div np) whose per-purchase remainders
  * must match the reference exactly, not just sum close.
  */
class AttributionPropertySpec extends SparkTestBase with graft.TempCorpusDirs {
  import sqlImplicits._

  private val rng = new Random(147)
  private val HalfHourUs = 1800L * 1000000L

  private case class Ev(id: Long, user: Long, tpe: String, tsUs: Long, k: Option[Long])

  /** Naive quadratic reference: for each purchase, scan every click. */
  private def reference(rows: Seq[Ev]): Seq[(String, Long, Long, Long)] = {
    val purchases = rows.filter(_.tpe == "purchase")
    val clicks = rows.filter(_.tpe == "click")
    // (pid, channel) → in-window click count a
    val a = scala.collection.mutable.Map.empty[(Long, String), Long]
    for (p <- purchases; c <- clicks)
      if (c.user == p.user && c.tsUs < p.tsUs && c.tsUs >= p.tsUs - HalfHourUs) {
        val key = (p.id, "ch" + c.k.map(_ % 4).getOrElse(-1L))
        a(key) = a.getOrElse(key, 0L) + 1L
      }
    val np = a.toSeq.groupBy(_._1._1).map { case (pid, es) => pid -> es.map(_._2).sum }
    a.toSeq.groupBy(_._1._2).toSeq.map { case (ch, es) =>
      (ch,
        es.map(_._2).sum,
        es.map(_._1._1).distinct.size.toLong,
        es.map { case ((pid, _), cnt) => (1000000L * cnt) / np(pid) }.sum)
    }.sortBy(_._1)
  }

  test("q147 matches the quadratic reference splitter on fuzzed event streams") {
    (1 to 6).foreach { round =>
      val nUsers = 2 + rng.nextInt(4)
      var id = 0L
      val rows = (1 to nUsers).flatMap { u =>
        (0 until (5 + rng.nextInt(36))).map { _ =>
          id += 1
          val tpe = rng.nextInt(10) match {
            // round 5: a purchase-free stream must yield an EMPTY result
            case n if n < 3 && round != 5 => "purchase"
            case n if n < 9               => "click"
            case _                        => "view" // noise the scan filter must drop
          }
          // 300 s grid over 0..5100 s: the 1800 s window edge lands on
          // grid points, so inclusive-start/exclusive-end is load-bearing.
          val sec = rng.nextInt(18) * 300L
          // k: mostly small naturals, some negatives (sign-of-dividend %),
          // None → missing key, and round 6 forces the malformed path.
          val k =
            if (rng.nextInt(5) == 0) None
            else Some(rng.nextInt(10).toLong - 2L)
          Ev(id, u.toLong, tpe, sec * 1000000L, k)
        }
      }
      val dir = tempCorpusDir(s"graft_attr_fuzz$round")
      rows.map { e =>
        val props = e.k match {
          case Some(v) if round == 6 && v == 0L => """{"k": "oops"}""" // try_cast → null → ch-1
          case Some(v)                          => s"""{"k": $v}"""
          case None                             => "{}"
        }
        (e.id, e.user, e.tpe, e.tsUs, 0.0, props)
      }.toDF("event_id", "user_id", "event_type", "ts", "value", "props")
        // NTZ micros — the live corpus's encoding (the loader's footer
        // guard rightly rejects plain-BIGINT nanos at 1970-era
        // magnitudes; encoding adaptivity has its own suite).
        .withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.col("ts")).cast("timestamp_ntz"))
        .coalesce(1).write.parquet(s"$dir/events.parquet")

      val got = SparkEntry.queries("q147_multitouch_attribution")(spark, dir)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
      // The malformed-k round re-labels those clicks ch-1 in the reference too.
      val ref = reference(rows.map(e =>
        if (round == 6 && e.k.contains(0L)) e.copy(k = None) else e))
      assert(got == ref, s"round $round:\n got=${got.mkString(", ")}\n ref=${ref.mkString(", ")}")
      if (round == 5) assert(got.isEmpty, "purchase-free stream must be empty")
    }
  }
}
