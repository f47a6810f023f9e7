package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.util.Tables

/** Multi-batch convergence for the text-artifact maintenance family
  * (r11 verdict item 3): TextMaintenanceSpec proves ONE append batch
  * == rebuild; production appends arrive as MANY small batches, so the
  * claim that actually matters is fold associativity — N sequential
  * merges, each tick's result materialized to parquet and read back
  * (exactly what an ingest pipeline persists between ticks), must
  * still equal the one-shot rebuild. The parquet round-trip per tick
  * is load-bearing: it also proves the merged SCHEMA is stable
  * tick-over-tick (a nullability drift between merge and rebuild
  * would accumulate into a schema-merge conflict by tick 3 — the r11
  * advice item closed by pinning merge nullability to the rebuild's).
  *
  * One representative per maintenance geometry:
  *   append  — term-frequencies (per-doc grain, pure union)
  *   fold    — term-stats (counts add, min folds) + shingle-df
  *   insert  — digest-index (anti-join set insert)
  *   append  — minhash-sigs (per-doc signature grain)
  *
  * Compaction policy for the append-geometry artifacts lives with the
  * layout maintenance primitive ([[graft.util.ManifestLog]],
  * `CompactAfterSegments`): each tick's materialization adds files at
  * the artifact root, and the same per-grain file-count bound applies.
  * Fold-geometry artifacts (df/stats/grams) are vocabulary-sized and
  * rewritten whole per tick — no compaction needed by construction.
  */
class TextMultiBatchSpec extends SparkTestBase with graft.ArtifactSpecHelpers {

  private val sf = "/root/testdata/sf0.001"
  private val NumBatches = 4

  /** The corpus split into NumBatches doc_id stripes — "years of
    * ingest ticks" in miniature. Quartile stripes (not modulo) so each
    * batch is a contiguous arrival window like production.
    */
  private lazy val batches: Seq[DataFrame] = {
    val docs = Tables.tbl(spark, sf, "documents")
    val r = docs.agg(min("doc_id"), max("doc_id")).head()
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val span = hi - lo + 1
    (0 until NumBatches).map { i =>
      val from = lo + span * i / NumBatches
      val until = lo + span * (i + 1) / NumBatches
      docs.filter(col("doc_id") >= from && col("doc_id") < until)
    }
  }

  private def atRest(df: DataFrame, name: String, tick: Int): DataFrame =
    atRest(df, s"$name-t$tick")

  /** Fold batches 1..N-1 into build(batch 0), materializing each tick;
    * assert the final at-rest state equals the one-shot rebuild in
    * ROWS and SCHEMA (nullability included).
    */
  private def converges(
      name: String,
      build: DataFrame => DataFrame,
      merge: (DataFrame, DataFrame) => DataFrame,
      rebuild: => DataFrame): Unit = {
    val base0 = atRest(build(batches.head), name, 0)
    val finalState = batches.tail.zipWithIndex.foldLeft(base0) {
      case (base, (batch, i)) => atRest(merge(base, batch), name, i + 1)
    }
    val expect = rebuild
    assert(rows(finalState) == rows(expect),
      s"$name: ${NumBatches} sequential merges diverged from the rebuild")
    // Schema stability through the ticks: the final at-rest schema is
    // exactly the rebuild's (names, types, nullability).
    assert(finalState.schema == atRest(expect, s"$name-rebuild", 99).schema,
      s"$name: merged at-rest schema drifted from the rebuild's")
    // Every batch contributed (the stripes are all non-trivial).
    batches.foreach(b => assert(b.limit(1).count() == 1, s"$name: empty batch stripe"))
  }

  private lazy val allDocs = Tables.tbl(spark, sf, "documents")

  test("term-frequencies (append): 4 sequential merges == rebuild") {
    converges("tf",
      TextOps.termFrequenciesOf,
      (base, batch) => TextOps.mergeTermFrequencies(base, batch),
      TextOps.termFrequenciesOf(allDocs))
  }

  test("term-stats (additive fold): 4 sequential merges == rebuild") {
    converges("term-stats",
      docs => TextOps.termStatsOf(TextOps.termFrequenciesOf(docs)),
      (base, batch) => TextOps.mergeTermStats(base, TextOps.termFrequenciesOf(batch)),
      TextOps.termStatsOf(TextOps.termFrequenciesOf(allDocs)))
  }

  test("shingle-df (additive fold): 4 sequential merges == rebuild") {
    converges("shingle-df-k4",
      docs => TextOps.shingleDfOf(docs, 4),
      (base, batch) => TextOps.mergeShingleDf(base, batch, 4),
      TextOps.shingleDfOf(allDocs, 4))
  }

  test("digest-index (set insert): 4 sequential merges == rebuild") {
    converges("digests",
      TextOps.digestsOf,
      (base, batch) => TextOps.mergeDigestIndex(base, batch),
      TextOps.digestsOf(allDocs))
  }

  test("bench-shingle-set (set insert): 4 sequential merges == rebuild") {
    converges("bench-shingles-k4",
      TextOps.benchShinglesOf,
      (base, batch) => TextOps.mergeBenchShingles(base, batch),
      TextOps.benchShinglesOf(allDocs))
  }

  test("minhash-sigs (append): 4 sequential merges == rebuild") {
    converges("minhash-sigs",
      TextOps.minhashSigsOf,
      (base, batch) => TextOps.mergeMinhashSigs(base, batch),
      TextOps.minhashSigsOf(allDocs))
  }

  test("bigram-frequencies (additive fold): 4 sequential merges == rebuild") {
    converges("bigrams",
      TextOps.bigramFrequenciesOf,
      (base, batch) => TextOps.mergeBigramFrequencies(base, batch),
      TextOps.bigramFrequenciesOf(allDocs))
  }

  test("lsh-cluster-labels (seeded component merge): sequential ticks == rebuild") {
    // The hardest maintenance geometry under the multi-batch lens: the
    // label merge READS two other at-rest artifacts (band index,
    // doc-set table), so each tick maintains all three — labels via
    // the contracted-graph merge, signatures and doc-sets via their
    // append merges — exactly the artifact state an ingest pipeline
    // carries between ticks. Clusters that grow across several ticks
    // (batch doc bridging into a component formed two ticks earlier)
    // only converge if contraction composes, which is what this pins.
    var labels = atRest(TextOps.lshClusterLabelsOf(batches.head), "lsh-labels", 0)
    var sigs = atRest(TextOps.minhashSigsOf(batches.head), "lsh-sigs", 0)
    var sets = atRest(TextOps.docShingleSetsOf(batches.head, 3), "lsh-sets", 0)
    batches.tail.zipWithIndex.foreach { case (batch, i) =>
      labels = atRest(
        TextOps.mergeLshClusterLabels(labels, TextOps.bandKeysOf(sigs), sets, batch),
        "lsh-labels", i + 1)
      sigs = atRest(TextOps.mergeMinhashSigs(sigs, batch), "lsh-sigs", i + 1)
      sets = atRest(TextOps.mergeDocShingleSets(sets, batch, 3), "lsh-sets", i + 1)
    }
    val rebuild = TextOps.lshClusterLabelsOf(allDocs)
    assert(rows(labels) == rows(rebuild),
      s"$NumBatches sequential label merges diverged from the rebuild")
  }
}
