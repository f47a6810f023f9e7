package graft.util

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The self-driving maintenance tick: grains are DERIVED from live
  * file ranges (interval components), only over-fragmented components
  * are rewritten, compacted history is never touched, and the tick
  * works per partition directory of a partitioned root.
  */
class SegmentsMaintainSpec extends SparkTestBase with graft.TempCorpusDirs {
  import sqlImplicits._

  private def seg(root: String, lo: Int, hi: Int): Unit = {
    if (!ManifestLog.isManifested(spark, root)) ManifestLog.create(spark, root)
    ManifestLog.appendSorted(
      (lo until hi).map(i => (i.toLong, i.toLong * 1000L)).toDF("k", "ts")
        .coalesce(1).sortWithinPartitions("ts"), root)
  }

  test("the tick compacts only the fragmented component and leaves settled history alone") {
    val root = s"${tempCorpusDir("graft_maint")}/log"
    // Settled history: one already-compact file over [2M, 3M).
    seg(root, 2000, 3000)
    val historyFile = ManifestLog.read(spark, root).inputFiles.head
    // A hot ingest range: 5 overlapping segments over [0, 1M).
    (0 until 5).foreach(_ => seg(root, 0, 1000))
    val compacted = ManifestLog.maintainSorted(spark, root, "ts", maxFiles = 3)
    // Exactly one grain compacted, spanning the hot component only.
    assert(compacted == Seq(("", 0L, 999001L)),
      s"unexpected grains: $compacted")
    val files = ManifestLog.read(spark, root).inputFiles
    assert(files.length == 2, s"expected hot-grain file + history file: ${files.toSeq}")
    assert(files.contains(historyFile),
      "the tick rewrote an already-compact history grain")
    // Row fidelity: 5× the hot rows plus history.
    assert(ManifestLog.read(spark, root).count() == 5 * 1000 + 1000)
    // A second tick finds nothing over the bound.
    assert(ManifestLog.maintainSorted(spark, root, "ts", maxFiles = 3).isEmpty)
  }

  test("overlap chaining merges transitive segments into one grain") {
    val root = s"${tempCorpusDir("graft_maint_chain")}/log"
    // Four segments where consecutive ones overlap but the ends do
    // not: [0,500), [400,900), [800,1300), [1200,1700) — one component.
    Seq((0, 500), (400, 900), (800, 1300), (1200, 1700)).foreach {
      case (lo, hi) => seg(root, lo, hi)
    }
    val compacted = ManifestLog.maintainSorted(spark, root, "ts", maxFiles = 3)
    assert(compacted == Seq(("", 0L, 1699001L)), s"got: $compacted")
    assert(ManifestLog.read(spark, root).inputFiles.length == 1)
    assert(ManifestLog.read(spark, root).count() == 500 + 500 + 500 + 500)
  }

  test("the tick composes with a manifested partitioned root, per partition directory") {
    val root = s"${tempCorpusDir("graft_maint_m")}/log"
    def psegDf(lo: Int, hi: Int) =
      (lo until hi).map(i => (i.toLong, i.toLong * 1000L, 1990 + (i % 2)))
        .toDF("k", "ts", "year")
        .repartition(1).sortWithinPartitions("ts")
    psegDf(0, 500).write.partitionBy("year").parquet(root)
    ManifestLog.adopt(spark, root)
    (0 until 4).foreach(_ => ManifestLog.appendSorted(psegDf(0, 500), root, Seq("year")))
    val compacted = ManifestLog.maintainSorted(spark, root, "ts", maxFiles = 3)
    assert(compacted.map(_._1).sorted == Seq("year=1990", "year=1991"),
      s"expected one grain per year dir: $compacted")
    val live = ManifestLog.read(spark, root)
    assert(live.inputFiles.length == 2, "each year should hold one compacted file")
    assert(live.count() == 5 * 500)
    // Pre-tick generation still readable (retire-don't-delete).
    assert(ManifestLog.readAt(spark, root, 2L).count() == 2 * 500)
    assert(ManifestLog.maintainSorted(spark, root, "ts", maxFiles = 3).isEmpty)
  }
}
