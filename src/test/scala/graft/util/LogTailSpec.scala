package graft.util

import graft.SparkTestBase
import graft.streaming.LogStream

/** The changes feed over a manifested log: tails return exactly the
  * rows appended after a version cursor, compaction never re-emits, an
  * outrun cursor and an op the protocol does not know demand a loud
  * resync, and every tailed file is readable under the pinned-reader
  * vacuum contract.
  */
class LogTailSpec extends SparkTestBase with graft.TempCorpusDirs {
  import sqlImplicits._

  private def batchDf(lo: Int, hi: Int) =
    (lo until hi).map(i => (i.toLong, i.toLong * 1000L)).toDF("k", "ts")

  private def expect(lo: Int, hi: Int): Seq[(Long, Long)] =
    (lo until hi).map(i => (i.toLong, i.toLong * 1000L)).sorted

  private def canonTail(t: ManifestLog.Tail, root: String): Seq[(Long, Long)] =
    t match {
      case a: ManifestLog.TailAppended =>
        ManifestLog.readTail(spark, root, a)
          .map(_.select("k", "ts").as[(Long, Long)].collect().toSeq.sorted)
          .getOrElse(Nil)
      case r: ManifestLog.TailResync => fail(s"unexpected resync: ${r.reason}")
    }

  test("tails carry exactly the appended rows; a current cursor tails empty") {
    val root = s"${tempCorpusDir("graft_tail")}/log"
    LogStream.ingestBatch(batchDf(0, 500), 0L, root, "ts")     // v1 create, v2 batch
    LogStream.ingestBatch(batchDf(500, 800), 1L, root, "ts")   // v3
    // A from-zero cursor sees everything ever appended.
    val t0 = ManifestLog.tailSince(spark, root, 0L)
    assert(canonTail(t0, root) == expect(0, 800))
    assert(t0.toVersion == 3L)
    // Advancing the cursor, the next tail is empty …
    assert(canonTail(ManifestLog.tailSince(spark, root, t0.toVersion), root).isEmpty)
    // … until the next batch, which is delivered alone.
    LogStream.ingestBatch(batchDf(800, 1000), 2L, root, "ts")
    val t1 = ManifestLog.tailSince(spark, root, t0.toVersion)
    assert(canonTail(t1, root) == expect(800, 1000))
  }

  test("an adopted one-shot layout tails its first generation from a zero cursor") {
    val root = s"${tempCorpusDir("graft_tail_adopt")}/log"
    batchDf(0, 400).coalesce(1).sortWithinPartitions("ts").write.parquet(root)
    ManifestLog.adopt(spark, root, boundCol = Some("ts"))
    val t = ManifestLog.tailSince(spark, root, 0L)
    assert(canonTail(t, root) == expect(0, 400))
    assert(t.toVersion == 1L)
  }

  test("compaction is row-neutral: nothing re-emits, and superseded tail files stay readable") {
    val root = s"${tempCorpusDir("graft_tail_compact")}/log"
    LogStream.ingestBatch(batchDf(0, 500), 0L, root, "ts")
    val cursor = ManifestLog.tailSince(spark, root, 0L).toVersion
    LogStream.ingestBatch(batchDf(500, 800), 1L, root, "ts")
    ManifestLog.compactRange(spark, root, "", "ts", 0L, 1000000L)
    assert(ManifestLog.read(spark, root).inputFiles.length == 1)
    // The tail across append+compact carries ONLY the append's rows —
    // re-emitting the compacted rewrite would double every row the
    // consumer already folded.
    val t = ManifestLog.tailSince(spark, root, cursor)
    assert(canonTail(t, root) == expect(500, 800),
      "compaction leaked rewritten rows into the changes feed")
    // The tailed file was superseded by the compaction, but
    // retire-don't-delete keeps it readable until vacuum — the
    // consumer's grace window is the pinned readers'.
    assert(t.asInstanceOf[ManifestLog.TailAppended].files
      .forall(f => java.nio.file.Files.exists(
        java.nio.file.Paths.get(new java.net.URI(f).getPath))))
  }

  test("a vacuum-outrun cursor resyncs; the current cursor tails cleanly after vacuum") {
    val root = s"${tempCorpusDir("graft_tail_vacuum")}/log"
    LogStream.ingestBatch(batchDf(0, 500), 0L, root, "ts")
    val cursor = ManifestLog.tailSince(spark, root, 0L).toVersion
    LogStream.ingestBatch(batchDf(500, 800), 1L, root, "ts")
    // Vacuum to the current generation only: the old cursor's manifests
    // are gone — the feed must refuse, not guess.
    ManifestLog.vacuum(spark, root)
    ManifestLog.tailSince(spark, root, cursor) match {
      case r: ManifestLog.TailResync => assert(r.reason.contains("vacuum"), r.reason)
      case a => fail(s"an outrun cursor must resync, got $a")
    }
    val cur = ManifestLog.currentVersion(spark, root)
    LogStream.ingestBatch(batchDf(800, 900), 2L, root, "ts")
    assert(canonTail(ManifestLog.tailSince(spark, root, cur), root) == expect(800, 900))
  }

  test("a generation committed with op expire resyncs as an op unknown to the tail protocol") {
    // Roots committed by older builds can carry retention generations:
    // op `expire`, the files wholly below a cutoff dropped from the
    // list. The protocol no longer knows the op, so it must not guess.
    val root = s"${tempCorpusDir("graft_tail_expire")}/log"
    LogStream.ingestBatch(batchDf(0, 500), 0L, root, "ts")
    val cursor = ManifestLog.tailSince(spark, root, 0L).toVersion
    LogStream.ingestBatch(batchDf(500, 800), 1L, root, "ts")
    val (p, fs) = ManifestLog.hadoop(spark, root)
    val v = ManifestLog.currentVersion(spark, root)
    val m = ManifestLog.readRaw(fs, p, v)
    val expired = ManifestLog.readRaw(fs, p, cursor).entries
    assert(expired.nonEmpty)
    ManifestLog.commit(fs, p, v + 1, m.entries.diff(expired), "expire", m.batchHwm)
    assert(ManifestLog.describe(spark, root).last._2 == "expire")
    ManifestLog.tailSince(spark, root, cursor) match {
      case r: ManifestLog.TailResync =>
        assert(r.reason.contains("unknown to the tail protocol"), r.reason)
        assert(r.toVersion == v + 1)
      case a => fail(s"an expire generation must resync, got $a")
    }
  }
}
