package graft.streaming


import graft.SparkTestBase
import graft.functions.TextFunctions.qualityScore
import org.apache.spark.sql.functions._

/** The streaming curation transaction across micro-batches: quality
  * gating, within-batch dedup, and cross-batch dedup against the
  * digest index the stream itself maintains.
  */
class DocStreamSpec extends SparkTestBase with graft.TempCorpusDirs {
  import sqlImplicits._

  // Long diverse sentences pass the q63/q77 quality floor (0.6 needs
  // length × diversity); a short repeated token fails it.
  private val goodA = (1 to 60).map(i => s"alpha$i").mkString(" ")
  private val goodB = (1 to 60).map(i => s"beta$i").mkString(" ")
  private val goodC = (1 to 60).map(i => s"gamma$i").mkString(" ")
  private val junk = "spam spam spam"

  private def docs(rows: (Long, String)*) =
    rows.map { case (id, text) => (id, text, "en", s"src${id % 3}", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("micro-batches gate quality, dedup within the batch, and dedup against prior batches") {
    val root = tempCorpusDir("graft_docstream")
    val (src, curated, index, ckpt) =
      (s"$root/src", s"$root/curated", s"$root/index", s"$root/ckpt")
    // Seed batch 1 before the stream starts.
    docs(1L -> goodA, 2L -> goodA, 3L -> goodB, 4L -> junk)
      .write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    val q = DocStream.runCurationStream(spark, src, curated, index, ckpt, schema)
    try {
      q.processAllAvailable()
      // Batch 2: an exact copy of goodA (cross-batch dup), a fresh doc,
      // more junk.
      docs(10L -> goodA, 11L -> goodC, 12L -> junk)
        .write.mode("append").parquet(src)
      q.processAllAvailable()
    } finally q.stop()

    val out = spark.read.parquet(curated).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    // Quality gate: junk (8, 12) never lands.
    assert(!out.map(_._1).toSet.exists(Set(4L, 12L)), s"junk passed the gate: $out")
    // Within-batch dedup: goodA survives once from batch 1 as doc 1.
    // Cross-batch dedup: doc 10 (same text) is filtered by the index.
    assert(out.count(_._2 == goodA) == 1, s"goodA duplicated: $out")
    assert(out.map(_._1).toSet == Set(1L, 3L, 11L), s"unexpected survivors: $out")
    // The index holds exactly the distinct curated digests.
    val idx = spark.read.parquet(index).select("h").distinct().count()
    assert(idx == 3, s"index should hold 3 digests, has $idx")
    // And everything curated clears the quality floor.
    val flo = spark.read.parquet(curated)
      .filter(qualityScore(col("text")) < graft.pipeline.TextPipeline.QualityFloor).count()
    assert(flo == 0)
  }

  test("a crash between the curated and index publishes replays to the clean-run corpus") {
    // The torn-append window: curated rows published, digests not, no
    // commit marker. Structured Streaming replays the same batchId
    // after the crash; the staged-publish protocol must wipe the half
    // batch and converge to exactly the clean-run state instead of
    // duplicating survivors.
    val root = tempCorpusDir("graft_docstream_torn")
    val (curated, index) = (s"$root/curated", s"$root/index")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    DocStream.curateBatch(docs(1L -> goodA, 2L -> goodB), 0L, curated, index)
    val cleanCurated = spark.read.parquet(curated)
      .select("doc_id").collect().map(_.getLong(0)).toSet

    // Batch 1 commits fully first so we know its expected output …
    DocStream.curateBatch(docs(10L -> goodA, 11L -> goodC), 1L, curated, index)
    // … then reconstruct the exact torn state a crash between the two
    // publishes leaves behind: batch 1's index files and marker gone,
    // its curated files still live.
    fs.listStatus(new org.apache.hadoop.fs.Path(index))
      .filter(_.getPath.getName.startsWith("batch-1-"))
      .foreach(st => fs.delete(st.getPath, false))
    fs.delete(new org.apache.hadoop.fs.Path(s"$index/_commits/1"), true)
    assert(spark.read.parquet(index).select("h").distinct().count() == 2,
      "torn state should hold only batch 0's digests")

    // Replay of batch 1 (same batchId, same data — what the checkpoint
    // re-delivers after the crash).
    DocStream.curateBatch(docs(10L -> goodA, 11L -> goodC), 1L, curated, index)
    val out = spark.read.parquet(curated).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    // Converged: batch 0's survivors + exactly one copy of goodC; the
    // cross-batch dup (10L, goodA) stays filtered; nothing duplicated.
    assert(out.map(_._1).toSet == cleanCurated + 11L, s"replay diverged: ${out.toSeq}")
    assert(out.length == out.map(_._1).toSet.size, s"duplicate rows after replay: ${out.toSeq}")
    assert(spark.read.parquet(index).select("h").distinct().count() == 3)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$index/_commits/1")))

    // A second replay AFTER the commit marker landed is a pure no-op:
    // same files, same mtimes.
    def listing = fs.listStatus(new org.apache.hadoop.fs.Path(curated))
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime)).toSet
    val before = listing
    DocStream.curateBatch(docs(10L -> goodA, 11L -> goodC), 1L, curated, index)
    assert(listing == before, "committed batch replayed non-idempotently")
  }
}
