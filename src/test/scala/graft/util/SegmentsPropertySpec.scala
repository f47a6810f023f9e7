package graft.util

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Seeded fuzz of the segment-append lifecycle (the OpsPropertySpec
  * idiom — plain seeded loops, scalatestplus bridge not in the offline
  * cache): random batch splits, empty batches, and NULL boundary
  * values, folded through append → read → compact (and random
  * segment counts through one bucketed build), must always preserve
  * the multiset and keep the boundary scan correct. The
  * directed SegmentAppendSpec proves the geometry (pruning metrics,
  * co-location); this spec proves the lifecycle has no
  * split-shape-dependent correctness edges.
  */
class SegmentsPropertySpec extends SparkTestBase with graft.TempCorpusDirs {
  import sqlImplicits._

  private val rng = new Random(1031)
  private val baseUs = java.time.LocalDate.parse("1996-01-01").toEpochDay * 86400000000L

  test("random multi-segment sd-log appends + compaction preserve rows and boundary answers") {
    (1 to 4).foreach { trial =>
      val n = 2000 + rng.nextInt(3000)
      val nullEvery = 17 + rng.nextInt(30) // some rows get NULL ship dates
      val rows = (0 until n).map { i =>
        val d =
          if (i % nullEvery == 0) None
          else Some(baseUs + rng.nextInt(n) * 1000000L)
        (i.toLong, d)
      }
      val li = rows.toDF("l_orderkey", "us")
        .withColumn("l_shipdate",
          timestamp_micros(col("us")).cast("timestamp_ntz"))
        .drop("us")
      val root = s"${tempCorpusDir(s"graft_segfuzz$trial")}/log"
      ManifestLog.create(spark, root)
      // Random number of batches with random (possibly empty) spans,
      // split on orderkey so date ranges overlap across segments.
      val nBatches = 2 + rng.nextInt(4)
      val cuts = (Seq(0, n) ++ Seq.fill(nBatches - 1)(rng.nextInt(n + 1))).sorted
      cuts.sliding(2).foreach { case Seq(lo, hi) =>
        graft.queries.Relational.appendLineitemSdLogSegment(
          spark, root,
          li.filter(col("l_orderkey") >= lo && col("l_orderkey") < hi))
      }
      val log = ManifestLog.read(spark, root)
      def canon(df: org.apache.spark.sql.DataFrame): Seq[(Long, Option[Long])] =
        df.select("l_orderkey", "l_shipdate_us").as[(Long, Option[Long])]
          .collect().toSeq.sorted
      val expectAll = rows.sorted
      assert(canon(log) == expectAll, s"trial $trial: append lost or altered rows")
      // Boundary query answers match a reference filter, nulls riding
      // along (the q151 batch semantics).
      val cutoff = baseUs + rng.nextInt(n) * 1000000L
      val since = log.filter(col("l_shipdate_us") >= cutoff || col("l_shipdate_us").isNull)
      val expectSince = rows.filter { case (_, d) => d.forall(_ >= cutoff) }.sorted
      assert(canon(since) == expectSince, s"trial $trial: boundary read diverged")
      // A random grain compaction never changes any answer.
      val glo = baseUs + rng.nextInt(n / 2) * 1000000L
      val ghi = glo + (1 + rng.nextInt(n)) * 1000000L
      ManifestLog.compactRange(spark, root, "", "l_shipdate_us", glo, ghi)
      val compacted = ManifestLog.read(spark, root)
      assert(canon(compacted) == expectAll, s"trial $trial: compaction altered the multiset")
      assert(canon(compacted.filter(
        col("l_shipdate_us") >= cutoff || col("l_shipdate_us").isNull)) == expectSince,
        s"trial $trial: boundary read diverged after compaction")
    }
  }

  test("random bucket-segment appends preserve the multiset and the co-located join") {
    (1 to 3).foreach { trial =>
      val n = 1000 + rng.nextInt(2000)
      val li = (0 until n).map(i => (i.toLong, (i % 97).toDouble))
        .toDF("l_orderkey", "l_quantity")
      val orders = (0 until n / 2).map(i => (i.toLong, s"p${i % 5}"))
        .toDF("o_orderkey", "o_flag")
      // Random segment count, all committed by one bucketed build;
      // the lineitem side adds an empty segment (an ingest tick with
      // no matching rows must be harmless).
      val nBatches = 1 + rng.nextInt(4)
      def layout(df: org.apache.spark.sql.DataFrame, key: String, name: String,
          extra: Seq[org.apache.spark.sql.DataFrame] = Nil): String = {
        val root = s"${tempCorpusDir(s"graft_fuzz_$name$trial")}/t"
        BucketedManifest.build(
          (0 until nBatches).map(b => df.filter(col(key) % nBatches === b)) ++ extra,
          root, Seq(key), 8)
        root
      }
      val liRoot = layout(li, "l_orderkey", "li", Seq(li.filter(lit(false))))
      val ordRoot = layout(orders, "o_orderkey", "ord")
      val bl = BucketedManifest.read(spark, liRoot)
      assert(bl.count() == n, s"trial $trial: a bucket segment lost rows")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val j = bl.join(BucketedManifest.read(spark, ordRoot),
          col("l_orderkey") === col("o_orderkey"))
        assert(!j.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning"),
          s"trial $trial: co-location broken")
        assert(j.count() ==
          li.join(orders, col("l_orderkey") === col("o_orderkey")).count())
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }
}
