package graft.util

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Restatement — the CORRECTION primitive for the sorted-log layouts:
  * upstream restates a date range (late fixes, recomputed amounts) and
  * exactly that grain's files are superseded in one manifest commit.
  * The properties that matter: corrected == (out-of-grain history,
  * untouched) ∪ (corrected batch); a non-segment-aligned grain throws
  * instead of leaving stale rows beside their corrections; and the
  * loud-input contracts (empty batch, out-of-grain rows) hold. The
  * crash windows are drilled in ManifestLogSpec.
  */
class SegmentRestatementSpec extends SparkTestBase with graft.TempCorpusDirs {
  import sqlImplicits._

  /** Two overlapping sorted segments of (k, ts); each [0,1M)/[1M,2M)
    * grain holds two files — the multi-append shape restatement meets
    * in production. Files are written grain-ALIGNED (explicit range
    * split, one file per (segment, grain)): restatement's contract is
    * segment-aligned grains, which the recipe-clustered append path
    * produces by construction. Grain edge at ts = 1,000,000. */
  private def freshLog(): (String, Seq[(Long, Long)]) = {
    val root = s"${tempCorpusDir("graft_restate")}/log"
    val rows = (0 until 2000).map(i => (i.toLong, i.toLong * 1000L))
    val df = rows.toDF("k", "ts")
    Seq(0, 1).foreach { par =>
      Seq((0L, 1000000L), (1000000L, 2000000L)).foreach { case (lo, hi) =>
        df.filter(col("k") % 2 === par && col("ts") >= lo && col("ts") < hi)
          .coalesce(1).sortWithinPartitions("ts")
          .write.mode("append").parquet(root)
      }
    }
    ManifestLog.adopt(spark, root)
    (root, rows)
  }

  private def canon(root: String): Seq[(Long, Long)] =
    ManifestLog.read(spark, root).as[(Long, Long)].collect().toSeq.sorted

  /** The corrected batch for the [0, 1M) grain: same timestamps,
    * corrected keys (k + 1,000,000 marks a row as restated). */
  private def corrected(rows: Seq[(Long, Long)]): Seq[(Long, Long)] =
    rows.filter(_._2 < 1000000L).map { case (k, ts) => (k + 1000000L, ts) }

  private def restate(root: String, batch: org.apache.spark.sql.DataFrame): Unit =
    ManifestLog.restateRange(spark, root, "", "ts", 0L, 1000000L, batch)

  test("restating a grain replaces exactly that grain's rows and leaves history untouched") {
    val (root, rows) = freshLog()
    val fix = corrected(rows)
    val before = ManifestLog.read(spark, root).inputFiles.toSet
    restate(root, fix.toDF("k", "ts"))
    val expected = (rows.filter(_._2 >= 1000000L) ++ fix).sorted
    assert(canon(root) == expected, "restated read != untouched history ∪ corrected batch")
    // The out-of-grain files were not rewritten (same physical files).
    val after = ManifestLog.read(spark, root).inputFiles.toSet
    assert(before.filter(f => after.contains(f)).nonEmpty, "history files were rewritten")
    // The grain is one tight file now: a boundary scan over it reads
    // no history file (footer pruning proof via the input_file_name set).
    val grainFiles = ManifestLog.read(spark, root).filter(col("ts") < 1000000L)
      .select(input_file_name()).distinct().collect().map(_.getString(0)).toSet
    assert(grainFiles.size == 1, s"restated grain spans ${grainFiles.size} files")
    // Restating the same grain again with the same batch is idempotent.
    restate(root, fix.toDF("k", "ts"))
    assert(canon(root) == expected)
  }

  test("a non-segment-aligned grain throws instead of leaving stale rows") {
    val (root, _) = freshLog()
    // A straddling segment: one file spanning both grains.
    ManifestLog.appendSorted(
      Seq((9999L, 500000L), (9998L, 1500000L)).toDF("k", "ts").coalesce(1), root)
    val fix = Seq((1L, 10L)).toDF("k", "ts")
    val e = intercept[IllegalStateException] {
      restate(root, fix)
    }
    assert(e.getMessage.contains("not segment-aligned"))
  }

  test("all-null leading files are outside every grain and survive a restatement") {
    val (root, rows) = freshLog()
    ManifestLog.appendSorted(
      Seq((7777L, Option.empty[Long]), (7778L, Option.empty[Long]))
        .toDF("k", "ts").coalesce(1), root)
    val fix = corrected(rows)
    restate(root, fix.toDF("k", "ts"))
    val got = ManifestLog.read(spark, root).as[(Long, Option[Long])].collect().toSeq.sorted
    val expected = (rows.filter(_._2 >= 1000000L).map { case (k, ts) => (k, Some(ts): Option[Long]) }
      ++ fix.map { case (k, ts) => (k, Some(ts): Option[Long]) }
      ++ Seq((7777L, None), (7778L, None))).sorted
    assert(got == expected, "null-boundary rows lost or duplicated by restatement")
  }

  test("loud input contracts: empty batch and out-of-grain rows are rejected") {
    val (root, _) = freshLog()
    intercept[IllegalArgumentException] {
      restate(root, Seq.empty[(Long, Long)].toDF("k", "ts"))
    }
    intercept[IllegalArgumentException] {
      restate(root, Seq((1L, 1500000L)).toDF("k", "ts")) // beyond the grain
    }
    intercept[IllegalArgumentException] {
      restate(root, Seq((1L, Option.empty[Long])).toDF("k", "ts")) // null boundary
    }
  }
}
