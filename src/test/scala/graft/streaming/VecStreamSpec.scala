package graft.streaming


import graft.SparkTestBase

/** The streaming vector-ingest transaction: within-batch exact dedup,
  * cross-batch dedup against the content-digest index the stream
  * maintains, and assignment to a FROZEN quantizer — plus the same
  * torn-replay convergence guarantee DocStream proves for documents.
  */
class VecStreamSpec extends SparkTestBase with graft.TempCorpusDirs {
  import sqlImplicits._

  private val Dim = 8

  /** A unit spike on dimension d, optionally with a small deterministic
    * perturbation so distinct vectors near the same centroid differ.
    */
  private def spike(d: Int, eps: Float = 0f): Seq[Float] =
    Seq.tabulate(Dim)(i => (if (i == d) 1f else 0f) + (if (i == (d + 1) % Dim) eps else 0f))

  private def vecs(rows: (Long, Seq[Float])*) =
    rows.toDF("vec_id", "embedding")

  /** Frozen quantizer: two orthogonal unit centroids (cid 0 → dim 0,
    * cid 1 → dim 4).
    */
  private def writeCentroids(dir: String): Unit =
    Seq(
      (0L, Seq.tabulate(Dim)(i => if (i == 0) 1.0 else 0.0), 1.0),
      (1L, Seq.tabulate(Dim)(i => if (i == 4) 1.0 else 0.0), 1.0),
    ).toDF("cid", "c_emb", "c_nrm").coalesce(1).write.parquet(dir)

  test("micro-batches dedup within and across batches and assign to the frozen centroids") {
    val root = tempCorpusDir("graft_vecstream")
    val (src, cents, assigned, index, ckpt) =
      (s"$root/src", s"$root/cents", s"$root/assigned", s"$root/index", s"$root/ckpt")
    writeCentroids(cents)
    // Batch 1: 1 and 2 are EXACT duplicates (same content digest) near
    // centroid 0; 3 is near centroid 1.
    vecs(1L -> spike(0, 0.1f), 2L -> spike(0, 0.1f), 3L -> spike(4, 0.1f))
      .write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    val q = VecStream.runIngestStream(spark, src, cents, assigned, index, ckpt, schema)
    try {
      q.processAllAvailable()
      // Batch 2: 10 re-delivers batch 1's duplicate content (must be
      // filtered by the index); 11 is fresh near centroid 1.
      vecs(10L -> spike(0, 0.1f), 11L -> spike(4, 0.2f))
        .write.mode("append").parquet(src)
      q.processAllAvailable()
    } finally q.stop()

    val out = spark.read.parquet(assigned).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Survivors: 1 (lowest id of the in-batch dup pair), 3, 11 — and
    // each sits in its spike's centroid cell.
    assert(out == Map(1L -> 0L, 3L -> 1L, 11L -> 1L), s"unexpected assignment: $out")
    val idx = spark.read.parquet(index).select("h").distinct().count()
    assert(idx == 3, s"index should hold 3 content digests, has $idx")
  }

  test("a crash between the assignment and index publishes replays to the clean-run state") {
    val root = tempCorpusDir("graft_vecstream_torn")
    val (cents, assigned, index) = (s"$root/cents", s"$root/assigned", s"$root/index")
    writeCentroids(cents)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    VecStream.ingestBatch(vecs(1L -> spike(0, 0.1f)), 0L, cents, assigned, index)
    // Batch 1 commits fully first so its expected output is known …
    VecStream.ingestBatch(
      vecs(10L -> spike(0, 0.1f), 11L -> spike(4, 0.3f)), 1L, cents, assigned, index)
    // … then reconstruct the torn state a crash between the two
    // publishes leaves: batch 1's index files and marker gone, its
    // assignment rows still live.
    fs.listStatus(new org.apache.hadoop.fs.Path(index))
      .filter(_.getPath.getName.startsWith("batch-1-"))
      .foreach(st => fs.delete(st.getPath, false))
    fs.delete(new org.apache.hadoop.fs.Path(s"$index/_commits/1"), true)

    // Replay (same batchId, same data — what the checkpoint re-delivers).
    VecStream.ingestBatch(
      vecs(10L -> spike(0, 0.1f), 11L -> spike(4, 0.3f)), 1L, cents, assigned, index)
    val out = spark.read.parquet(assigned).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Converged: the cross-batch dup (10) stays filtered, 11 lands
    // exactly once, nothing duplicated.
    assert(out == Map(1L -> 0L, 11L -> 1L), s"replay diverged: $out")
    assert(spark.read.parquet(index).select("h").distinct().count() == 2)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$index/_commits/1")))
  }
}
