package graft.queries

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkTestBase}

/** Quantizer refresh policy (r11 verdict item 4): the IVF family
  * freezes its quantizer for incremental ingest (q112 + the
  * cell-sizes fold), and `ivf-cell-sizes` exists precisely as the
  * re-train signal. This spec closes the loop on a planted drift
  * scenario:
  *   1. a corpus whose arriving batch concentrates in ONE cell trips
  *      the stated occupancy threshold
  *      ([[Similarity.quantizerDrifted]]) while the balanced base
  *      does not;
  *   2. [[Similarity.retrainIndex]] re-trains on the full corpus and
  *      rebuilds assignment / cell-means / cell-sizes / PQ codebooks
  *      / PQ codes consistently (derived artifacts match the new
  *      assignment, not any stale memo), REPLACING deliberately
  *      poisoned frozen-regime state under the standard keys;
  *   3. after refresh, q69/q88/q111 answer row-identically to a
  *      from-scratch build on a byte-identical corpus copy — the
  *      merge==rebuild discipline applied to the refresh path.
  */
class QuantizerRefreshSpec extends SparkTestBase with graft.TempCorpusDirs {
  import sqlImplicits._

  private val Dim = 64
  private val Clusters = 8
  private val BaseN = 64L
  private val DriftN = 64L

  private def noisyBasis(rng: Random, c: Int): Seq[Float] =
    Seq.tabulate(Dim)(d =>
      (if (d == c) 1f else 0f) + (rng.nextFloat() - 0.5f) * 0.1f)

  /** Base ids 0..63: one vector per cluster for ids 0..7 (the Lloyd
    * seeds), round-robin after; drift ids 64..127: ALL in cluster 0's
    * direction — the arriving batch a frozen quantizer funnels into a
    * single cell.
    */
  private lazy val rows: Seq[(Long, Seq[Float])] = {
    val rng = new Random(11)
    val base = (0L until BaseN).map(i =>
      (i, noisyBasis(rng, (if (i < Clusters) i else (i - Clusters) % Clusters).toInt)))
    val drift = (BaseN until BaseN + DriftN).map(i => (i, noisyBasis(rng, 0)))
    base ++ drift
  }

  private def writeCorpus(): String = {
    val dir = tempCorpusDir("graft_qrefresh")
    rows.toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  private lazy val unionDir = writeCorpus()
  private lazy val copyDir = writeCorpus() // byte-identical content, own artifact keys

  private def strRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  test("concentrated drift trips the occupancy canary; the balanced base does not") {
    // Frozen regime: centroids trained on the first half (= the base),
    // the at-rest occupancy folded with the arriving batch's partials.
    val frozenCents = Similarity.halfIndexCentroids(spark, unionDir)
    val baseAssigned = Similarity.halfIndexAssigned(spark, unionDir)
    val baseSizes = Similarity.cellSizesOf(baseAssigned)
    val nlist = Similarity.nlistFor(BaseN)
    assert(!Similarity.quantizerDrifted(baseSizes, BaseN, nlist),
      "balanced base must NOT trip the re-train canary")
    val batch = spark.read.parquet(s"$unionDir/embeddings.parquet")
      .filter(col("vec_id") >= BaseN)
      .select(col("vec_id"), col("embedding"))
      .withColumn("nrm", graft.functions.VectorFunctions.l2Norm(col("embedding")))
    val batchAssigned = Similarity.assign(batch, frozenCents)
    val merged = Similarity.mergeCellSizes(baseSizes, batchAssigned)
    assert(Similarity.quantizerDrifted(merged, BaseN + DriftN, nlist),
      "a batch concentrated in one cell must trip the re-train canary")
    // The drift is genuinely one-cell: the hottest cell holds the
    // whole batch plus its base members.
    val hot = merged.agg(max("cell_n")).head().getLong(0)
    assert(hot >= DriftN, s"expected the drift batch in one cell, max occupancy $hot")
  }

  test("retrain rebuilds assignment/means/sizes/PQ codes consistently and q69/q88/q111 equal a fresh build") {
    val queries = Seq("q69_knn_ivf", "q88_knn_ivf_multiprobe", "q111_ivfpq_ann")
    // Expected: from-scratch builds on the byte-identical copy.
    val expected = queries.map(q => strRows(SparkEntry.queries(q)(spark, copyDir)))

    // Poison unionDir's standard artifact keys with frozen-regime
    // state (what years of incremental operation leave at rest): the
    // half-trained assignment extended by the batch under the FROZEN
    // centroids, and its derived occupancy.
    val frozenCents = Similarity.halfIndexCentroids(spark, unionDir)
    val all = spark.read.parquet(s"$unionDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .withColumn("nrm", graft.functions.VectorFunctions.l2Norm(col("embedding")))
    val frozenAssigned = Similarity.assign(all, frozenCents)
      .select("vec_id", "embedding", "nrm", "cluster")
    val stale = s"${tempCorpusDir("graft_qstale")}/stale-assigned"
    frozenAssigned.write.parquet(stale)
    graft.util.Snapshots.install(spark, unionDir, "ivf-assigned-i2", stale)
    val mergedBefore = Similarity.cellSizesOf(frozenAssigned)
      .agg(max("cell_n")).head().getLong(0)

    // The refresh: re-train on the full corpus, rebuild the chain.
    Similarity.retrainIndex(spark, unionDir)

    // Consistency by construction: the at-rest derived artifacts match
    // re-derivation from the at-rest assignment.
    val assigned = Similarity.assignedVectors(spark, unionDir)
    val atRestSizes = graft.util.Snapshots(spark, unionDir, "ivf-cell-sizes") {
      sys.error("cell-sizes must already be at rest after retrain")
    }
    assert(strRows(atRestSizes) == strRows(Similarity.cellSizesOf(assigned)),
      "refreshed occupancy table diverges from the refreshed assignment")
    // The refresh genuinely dissolved the hot cell: the retrained
    // quantizer spreads the dense direction across multiple centroids.
    val maxAfter = atRestSizes.agg(max("cell_n")).head().getLong(0)
    assert(maxAfter < mergedBefore,
      s"retrain left the hottest cell at $maxAfter (frozen regime: $mergedBefore)")

    // Query-level refresh == rebuild.
    queries.zip(expected).foreach { case (q, exp) =>
      val got = strRows(SparkEntry.queries(q)(spark, unionDir))
      assert(got == exp, s"$q diverged between refreshed and from-scratch index")
    }
  }
}
