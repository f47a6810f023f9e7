package graft.streaming


import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Mid-commit crash drill for the StagedCommit two-table transaction
  * (r11 verdict item 6). The existing torn-replay proofs RECONSTRUCT
  * the torn state by hand; this drill produces it by KILLING the real
  * transaction at an exact step via the [[StagedCommit.failpoint]]
  * seam — between table A's and table B's publish, and after both
  * publishes but before the marker — then proves exactly-once
  * visibility: the replayed stream converges to the byte-equivalent
  * clean-run state with no duplicates, and a committed batch never
  * re-runs.
  */
class StagedCommitDrillSpec extends SparkTestBase with graft.TempCorpusDirs {
  import sqlImplicits._

  private final class InjectedCrash extends RuntimeException("injected crash")

  /** Install a hook that throws at `step` for `batchId`, run `body`,
    * assert the crash fired, restore the no-op hook.
    */
  private def killAt(step: String, batchId: Long)(body: => Unit): Unit = {
    StagedCommit.failpoint = (s, b) =>
      if (s == step && b == batchId) throw new InjectedCrash
    try {
      intercept[InjectedCrash](body)
    } finally StagedCommit.failpoint = (_, _) => ()
  }

  // ---- DocStream fixtures (the DocStreamSpec corpus) ----
  private val goodA = (1 to 60).map(i => s"alpha$i").mkString(" ")
  private val goodC = (1 to 60).map(i => s"gamma$i").mkString(" ")

  private def docs(rows: (Long, String)*) =
    rows.map { case (id, text) => (id, text, "en", s"src${id % 3}", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  private def curatedRows(dir: String): Set[(Long, String)] =
    spark.read.parquet(dir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSet

  private def digests(dir: String): Set[String] =
    spark.read.parquet(dir).select("h").collect().map(_.getString(0)).toSet

  /** Clean-run reference: the same two batches with no fault. */
  private def docReference(): (Set[(Long, String)], Set[String]) = {
    val root = tempCorpusDir("graft_drill_ref")
    val (curated, index) = (s"$root/curated", s"$root/index")
    DocStream.curateBatch(docs(1L -> goodA), 0L, curated, index)
    DocStream.curateBatch(docs(10L -> goodA, 11L -> goodC), 1L, curated, index)
    (curatedRows(curated), digests(index))
  }

  private def drillDocStream(step: String => String): Unit = {
    val (refCurated, refDigests) = docReference()
    val root = tempCorpusDir("graft_drill")
    val (curated, index) = (s"$root/curated", s"$root/index")
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

    DocStream.curateBatch(docs(1L -> goodA), 0L, curated, index)
    // The REAL transaction dies at the injected step.
    killAt(step(index), 1L) {
      DocStream.curateBatch(docs(10L -> goodA, 11L -> goodC), 1L, curated, index)
    }
    // Whatever the torn state holds, the commit contract must: marker
    // absent (the batch is not committed)...
    assert(!fs.exists(StagedCommit.commitMarker(index, 1L)),
      "marker must not exist after a mid-commit crash")
    // ...and the replay (what the checkpoint re-delivers) converges to
    // exactly the clean-run state — no duplicates, no lost rows.
    DocStream.curateBatch(docs(10L -> goodA, 11L -> goodC), 1L, curated, index)
    assert(curatedRows(curated) == refCurated, "curated table diverged from the clean run")
    val ds = spark.read.parquet(index).select("h").collect().map(_.getString(0)).toSeq
    assert(ds.toSet == refDigests, "digest index diverged from the clean run")
    assert(ds.size == ds.toSet.size, "digest index holds duplicates after replay")
    assert(fs.exists(StagedCommit.commitMarker(index, 1L)))
    // Exactly-once: a further replay of the committed batch is a no-op
    // (same files, same mtimes).
    def listing = fs.listStatus(new Path(curated))
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime)).toSet
    val before = listing
    DocStream.curateBatch(docs(10L -> goodA, 11L -> goodC), 1L, curated, index)
    assert(listing == before, "committed batch replayed non-idempotently")
  }

  test("DocStream: a kill between the curated and index publishes replays to the clean run") {
    // Table A (curated) publishes first; killing at the INDEX publish
    // entry dies exactly between the two tables. Verify the drill
    // produced the genuine torn geometry before replaying.
    val (refCurated, _) = docReference()
    val root = tempCorpusDir("graft_drill_geo")
    val (curated, index) = (s"$root/curated", s"$root/index")
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    DocStream.curateBatch(docs(1L -> goodA), 0L, curated, index)
    killAt(s"publish:$index", 1L) {
      DocStream.curateBatch(docs(10L -> goodA, 11L -> goodC), 1L, curated, index)
    }
    // Genuine torn state: table A holds the batch's stamped files,
    // table B holds none.
    assert(fs.listStatus(new Path(curated))
      .exists(_.getPath.getName.startsWith("batch-1-")),
      "crash after table A's publish should leave its stamped files")
    assert(!fs.listStatus(new Path(index))
      .exists(_.getPath.getName.startsWith("batch-1-")),
      "crash before table B's publish must leave no index files")
    DocStream.curateBatch(docs(10L -> goodA, 11L -> goodC), 1L, curated, index)
    assert(curatedRows(curated) == refCurated)
    // And the full drill (torn state + convergence + idempotence):
    drillDocStream(idx => s"publish:$idx")
  }

  test("DocStream: a kill after both publishes but before the marker replays to the clean run") {
    drillDocStream(idx => s"commit:$idx")
  }

  // ---- VecStream drill (the second user of the protocol) ----
  private val Dim = 8
  private def spike(d: Int, eps: Float = 0f): Seq[Float] =
    Seq.tabulate(Dim)(i => (if (i == d) 1f else 0f) + (if (i == (d + 1) % Dim) eps else 0f))
  private def vecs(rows: (Long, Seq[Float])*) = rows.toDF("vec_id", "embedding")
  private def writeCentroids(dir: String): Unit =
    Seq(
      (0L, Seq.tabulate(Dim)(i => if (i == 0) 1.0 else 0.0), 1.0),
      (1L, Seq.tabulate(Dim)(i => if (i == 4) 1.0 else 0.0), 1.0),
    ).toDF("cid", "c_emb", "c_nrm").coalesce(1).write.parquet(dir)

  test("VecStream: a kill between the assigned and index publishes replays to the clean run") {
    def run(root: String, kill: Boolean): (Set[(Long, Long)], Set[String]) = {
      val (cents, assigned, index) = (s"$root/cents", s"$root/assigned", s"$root/index")
      writeCentroids(cents)
      VecStream.ingestBatch(vecs(1L -> spike(0, 0.1f)), 0L, cents, assigned, index)
      def batch1() = VecStream.ingestBatch(
        vecs(10L -> spike(0, 0.1f), 11L -> spike(4, 0.2f)), 1L, cents, assigned, index)
      if (kill) { killAt(s"publish:$index", 1L)(batch1()) }
      batch1()
      val asg = spark.read.parquet(assigned).select("vec_id", "cluster").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSet
      (asg, digests(index))
    }
    val ref = run(tempCorpusDir("graft_vdrill_ref"), kill = false)
    val got = run(tempCorpusDir("graft_vdrill"), kill = true)
    assert(got == ref, "VecStream crash replay diverged from the clean run")
  }
}
