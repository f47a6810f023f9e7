package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.streaming.LogStream
import graft.util.{ManifestLog, Tables}

/** The manifest changes feed driving REAL artifact maintenance: a
  * consumer that folds each tail into the at-rest tf table (the
  * append-geometry representative from TextMaintenanceSpec) must end
  * bit-identical to the one-shot rebuild — through interleaved
  * compaction (row-neutral for the feed) and through a keyed
  * deletion, where the protocol is rebuild-from-current then resume
  * tailing.
  * This closes the loop the streaming sink opened: documents land via
  * [[LogStream]], derived artifacts follow via [[ManifestLog.tailSince]],
  * and no step rescans history except the explicitly-demanded resync.
  */
class TailMaintenanceSpec extends SparkTestBase with graft.ArtifactSpecHelpers {

  private val sf = "/root/testdata/sf0.001"

  private lazy val docs = Tables.tbl(spark, sf, "documents")

  /** The corpus as 3 contiguous doc_id stripes — ingest ticks. */
  private lazy val batches: Seq[DataFrame] = {
    val r = docs.agg(min("doc_id"), max("doc_id")).head()
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val span = hi - lo + 1
    (0 until 3).map { i =>
      docs.filter(col("doc_id") >= lo + span * i / 3 &&
        col("doc_id") < lo + span * (i + 1) / 3)
    }
  }

  private def foldTail(root: String, cursor: Long, tf: Option[DataFrame],
      tick: String): (Long, Option[DataFrame]) =
    ManifestLog.tailSince(spark, root, cursor) match {
      case a: ManifestLog.TailAppended =>
        val next = ManifestLog.readTail(spark, root, a).map { batchDocs =>
          atRest(tf match {
            case Some(base) => TextOps.mergeTermFrequencies(base, batchDocs)
            case None => TextOps.termFrequenciesOf(batchDocs)
          }, s"tail-tf-$tick")
        }.orElse(tf)
        (a.toVersion, next)
      case r: ManifestLog.TailResync => fail(s"unexpected resync at $tick: ${r.reason}")
    }

  test("tail-folded tf over the streamed corpus equals the rebuild, through compaction") {
    val root = s"${tempCorpusDir("graft_tailmaint")}/docs-log"
    var cursor = 0L
    var tf: Option[DataFrame] = None
    batches.zipWithIndex.foreach { case (b, i) =>
      LogStream.ingestBatch(b, i.toLong, root, "doc_id", filesPerBatch = 2)
      val (c2, tf2) = foldTail(root, cursor, tf, s"t$i")
      cursor = c2; tf = tf2
      if (i == 1) {
        // Maintenance between ticks: collapse the whole log to one
        // file. The next tail must deliver ONLY batch 2.
        val r = docs.agg(min("doc_id"), max("doc_id")).head()
        ManifestLog.compactRange(spark, root, "", "doc_id",
          r.getLong(0), r.getLong(1) + 1L)
        assert(ManifestLog.read(spark, root).inputFiles.length == 1)
      }
    }
    // Drained: the final tail is empty.
    val (c3, tf3) = foldTail(root, cursor, tf, "drain")
    assert(tf3.exists(_ eq tf.get), "an empty tail must not touch the artifact")
    assert(c3 == ManifestLog.currentVersion(spark, root))
    // Exactly-once, end to end: the folded artifact equals the rebuild
    // from the SOURCE table — rows and schema both.
    val rebuild = atRest(TextOps.termFrequenciesOf(docs), "tail-tf-rebuild")
    assert(tf.get.schema == rebuild.schema,
      "tail folding drifted the artifact schema")
    assert(rows(tf.get) == rows(rebuild),
      "tail-folded tf diverged from the one-shot rebuild")
  }

  test("a keyed deletion mid-stream forces rebuild-from-current, then tailing resumes clean") {
    val root = s"${tempCorpusDir("graft_tailmaint_del")}/docs-log"
    var cursor = 0L
    var tf: Option[DataFrame] = None
    LogStream.ingestBatch(batches(0), 0L, root, "doc_id", filesPerBatch = 1)
    LogStream.ingestBatch(batches(1), 1L, root, "doc_id", filesPerBatch = 1)
    locally { val (c, t) = foldTail(root, cursor, tf, "pre"); cursor = c; tf = t }

    // A takedown deletes every third doc of batch 0 — the derived tf
    // rows for those docs are now WRONG at rest.
    val gone = batches(0).filter(col("doc_id") % 3 === 0).select("doc_id")
    val res = ManifestLog.deleteKeys(spark, root, "doc_id", gone, Some("doc_id"))
    assert(res.rowsDeleted > 0, s"the takedown deleted nothing: $res")

    ManifestLog.tailSince(spark, root, cursor) match {
      case rs: ManifestLog.TailResync =>
        // The documented protocol: re-derive from the current
        // generation, resume the cursor at its version.
        tf = Some(atRest(TextOps.termFrequenciesOf(
          ManifestLog.read(spark, root)), "tail-tf-resync"))
        cursor = rs.toVersion
      case a => fail(s"a keyed deletion must invalidate the tail, got $a")
    }
    // Tailing resumes incrementally on the pruned log.
    LogStream.ingestBatch(batches(2), 2L, root, "doc_id", filesPerBatch = 1)
    locally { val (c, t) = foldTail(root, cursor, tf, "post"); cursor = c; tf = t }

    val kept = batches(0).filter(col("doc_id") % 3 =!= 0)
      .unionByName(batches(1)).unionByName(batches(2))
    assert(rows(tf.get) == rows(TextOps.termFrequenciesOf(kept)),
      "the resync protocol did not converge on the pruned corpus")
  }
}
