package graft.pipeline


import graft.SparkTestBase

/** End-to-end run of the curation pipeline on the driver corpus:
  * stage counts must be monotone non-increasing, the at-rest curated
  * corpus must agree with the returned accounting, reruns must be
  * byte-deterministic, and the stage rules must agree with the
  * declared queries they share formulas with.
  */
class TextPipelineSpec extends SparkTestBase with graft.TempCorpusDirs {

  private val sf = "/root/testdata/sf0.001"

  test("pipeline runs end to end with monotone stage counts and a consistent at-rest corpus") {
    val out = tempCorpusDir("graft_text_pipeline")
    val c = TextPipeline.run(spark, sf, out)
    assert(c.total > 0)
    assert(c.total >= c.kept && c.kept >= c.deduped && c.deduped >= c.mixed,
      s"stage counts not monotone: $c")
    assert(c.mixed == c.train + c.`val`, s"split does not partition the mix: $c")
    // The curated corpus is split-partitioned at rest: a split filter
    // must prune to exactly the accounted rows.
    val train = spark.read.parquet(s"$out/curated")
      .filter(org.apache.spark.sql.functions.col("split") === "train").count()
    assert(train == c.train)
  }

  test("reruns are deterministic: same corpus, same counts, same survivor ids") {
    val out1 = tempCorpusDir("graft_text_pipeline_a")
    val out2 = tempCorpusDir("graft_text_pipeline_b")
    val c1 = TextPipeline.run(spark, sf, out1)
    val c2 = TextPipeline.run(spark, sf, out2)
    assert(c1 == c2)
    def ids(out: String): Seq[Long] =
      spark.read.parquet(s"$out/curated")
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(out1) == ids(out2))
  }

  test("the gate stage agrees with the declared q77 accounting") {
    val out = tempCorpusDir("graft_text_pipeline_q")
    val c = TextPipeline.run(spark, sf, out)
    val keptPerQ77 = graft.SparkEntry.queries("q77_quality_gate")(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("n_kept")).collect()(0).getLong(0)
    assert(c.kept == keptPerQ77,
      s"pipeline gate kept ${c.kept}, q77 accounts $keptPerQ77")
  }
}
