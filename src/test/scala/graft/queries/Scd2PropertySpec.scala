package graft.queries

import scala.util.Random

import graft.{SparkEntry, SparkTestBase}

/** Property-style fuzz (seeded loops, same §5.3 stand-in as
  * OpsPropertySpec) for the SCD2 family: on random event streams —
  * including same-timestamp collisions where only the event_id
  * tiebreak orders the stream — q142 must equal an independent
  * in-memory reference collapse, and q145's incremental merge must
  * equal q142 whatever the random base/batch split looks like
  * (empty new batches, single-run users, all-changes users).
  */
class Scd2PropertySpec extends SparkTestBase with graft.TempCorpusDirs {
  import sqlImplicits._

  private val rng = new Random(173)

  /** (event_id, user_id, event_type, ts_us) → expected q142 rows. */
  private def reference(
      rows: Seq[(Long, Long, String, Long)]): Seq[(Long, String, Long, Option[Long], Int)] =
    rows.groupBy(_._2).toSeq.flatMap { case (u, evs) =>
      val sorted = evs.sortBy(e => (e._4, e._1))
      val runs = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      var last: Option[String] = None
      sorted.foreach { e =>
        if (!last.contains(e._3)) { runs += ((e._3, e._4)); last = Some(e._3) }
      }
      runs.zipWithIndex.map { case ((st, from), i) =>
        val to = if (i + 1 < runs.length) Some(runs(i + 1)._2) else None
        (u, st, from, to, i + 1)
      }
    }.sortBy(r => (r._1, r._5))

  test("q142 matches the reference collapse and q145 matches q142 on fuzzed streams") {
    (1 to 5).foreach { round =>
      val nUsers = 2 + rng.nextInt(4)
      var id = 0L
      val rows = (1 to nUsers).flatMap { u =>
        (0 until (3 + rng.nextInt(25))).map { _ =>
          id += 1
          // ts from a SMALL second range: collisions are likely, so the
          // event_id tiebreak is genuinely load-bearing.
          (id, u.toLong, s"S${rng.nextInt(3)}", rng.nextInt(16) * 1000000L)
        }
      }
      val dir = tempCorpusDir(s"graft_scd2_fuzz$round")
      rows.map { case (e, u, t, us) => (e, u, t, us, 0.0) }
        .toDF("event_id", "user_id", "event_type", "ts", "value")
        // NTZ micros — the live corpus's encoding (the loader's footer
        // guard rightly rejects plain-BIGINT nanos at 1970-era
        // magnitudes; encoding adaptivity has its own suite).
        .withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.col("ts")).cast("timestamp_ntz"))
        .coalesce(1).write.parquet(s"$dir/events.parquet")

      def collect(q: String) = SparkEntry.queries(q)(spark, dir)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getInt(4)))
        .toSeq
      val got142 = collect("q142_scd2_history")
      assert(got142 == reference(rows), s"round $round: q142 != reference")
      assert(collect("q145_scd2_merge") == got142, s"round $round: merge != recompute")
    }
  }

  /** (partkey, suppkey, quantity, price) → expected q151 grain rows.
    * Availqty sums the integral-double quantities exactly; supplycost
    * is the min of per-row IEEE divisions over non-zero quantities
    * (None when a pair has only zero-quantity lines — the nullif
    * path). JVM double division IS Spark's and DuckDB's division, so
    * exact == comparison is the honest check.
    */
  private def psReference(
      rows: Seq[(Long, Long, Double, Double)]): Seq[(Long, Long, Long, Option[Double])] =
    rows.groupBy(r => (r._1, r._2)).toSeq.map { case ((pk, sk), ls) =>
      val costs = ls.filter(_._3 != 0.0).map(l => l._4 / l._3)
      (pk, sk, ls.map(_._3).sum.toLong,
        if (costs.isEmpty) None else Some(costs.min))
    }.sortBy(r => (r._1, r._2))

  test("q151 partsupp merge matches a full re-aggregation on fuzzed fact batches") {
    // The query derives its own 80% hwm from the ship-date span, so
    // random spans fuzz the base/batch split too: pairs entirely in
    // base, entirely in the new batch, straddling the hwm, zero-
    // quantity lines (NULL-division guard) on either side, NULL ship
    // dates (which land in NEITHER null-rejecting split predicate and
    // must ride with the batch, not vanish), and a degenerate round
    // where every line shares one ship date (hwm = min → the whole
    // table is the batch, base grain empty).
    (1 to 5).foreach { round =>
      val tsSpanSec = if (round == 3) 1 else 1 + rng.nextInt(2000)
      val rows = (0 until (20 + rng.nextInt(200))).map { _ =>
        (rng.nextInt(8).toLong, rng.nextInt(5).toLong,
          rng.nextInt(6).toDouble, (100 + rng.nextInt(900)) / 10.0,
          if (rng.nextInt(10) == 0) None
          else Some(rng.nextInt(tsSpanSec).toLong * 1000000L))
      }
      val dir = tempCorpusDir(s"graft_ps_fuzz$round")
      rows.map { case (pk, sk, q, pr, us) =>
        (pk, sk, q, pr, us.map(u => java.time.LocalDateTime.ofEpochSecond(
          u / 1000000L, 0, java.time.ZoneOffset.UTC)).orNull)
      }.toDF("l_partkey", "l_suppkey", "l_quantity", "l_extendedprice", "l_shipdate")
        .coalesce(1).write.parquet(s"$dir/lineitem.parquet")

      val got = SparkEntry.queries("q151_partsupp_merge")(spark, dir)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))
        .toSeq
      assert(got == psReference(rows.map(r => (r._1, r._2, r._3, r._4))),
        s"round $round: merge != full re-aggregation")
    }
  }
}
