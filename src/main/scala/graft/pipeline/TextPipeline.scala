package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Operational training-data curation pipeline — the end-to-end run
  * the declared queries q63/q77 (score/gate), q78 (exact dedup),
  * q76 (deterministic mix) and q86 (stratified split) each express as
  * a single checkable stage. Stage rules are shared with those
  * queries (same formulas/helpers), so the oracle gate that checks
  * them checks this pipeline's semantics too; what this adds is the
  * operational shape: one pass per stage, curated parquet at rest
  * partitioned by split, and per-stage accounting for the release
  * log.
  *
  * Scale posture: every stage is map-side or keyed on a digest/hash —
  * gate (map), dedup (window over md5(text), 16-byte shuffle key),
  * mix (hash-of-id filter, map), split (hash-of-id bucket, map). The
  * curated write partitions by split so downstream training jobs
  * prune directories. Nothing collects to the driver; the accounting
  * is one tiny aggregate per stage.
  *
  * Determinism: gates and buckets are pure functions of document
  * content/id (no rand()), so reruns over the same corpus produce
  * byte-identical curation decisions at any parallelism — the
  * property a reproducible data recipe needs (cf. q76's rationale).
  */
object TextPipeline {

  /** Per-source keep rates (percent) for the mix stage — the same
    * recipe q76 declares.
    */
  val HeadSources: Seq[String] = Seq("src0", "src1", "src2")
  val HeadKeepPct = 80
  val TailKeepPct = 30

  val QualityFloor = 0.6

  final case class Counts(
      total: Long,
      kept: Long,     // after quality gate
      deduped: Long,  // after exact dedup (canonical survivors)
      mixed: Long,    // after deterministic mixing
      train: Long,
      `val`: Long,
  )

  /** Quality gate: drop documents scoring below the floor. */
  def gate(docs: DataFrame): DataFrame =
    docs.filter(qualityScore(col("text")) >= QualityFloor)

  /** Exact dedup, q78's canonical-survivor rule: one row per distinct
    * text, the lowest doc_id in each group.
    */
  def dedup(docs: DataFrame): DataFrame = {
    val byText = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text"))).orderBy(asc("doc_id"))
    docs.withColumn("__rk", row_number().over(byText))
      .filter(col("__rk") === 1)
      .drop("__rk")
  }

  /** Deterministic mix, q76's rule: hash-of-id bucket under the
    * per-source keep rate.
    */
  def mix(docs: DataFrame): DataFrame = {
    val bucket = stringHash60(col("doc_id").cast("string")) % 100
    val rate = when(col("source").isInCollection(HeadSources), HeadKeepPct)
      .otherwise(TailKeepPct)
    docs.filter(bucket < rate)
  }

  /** Stratified split, q86's rule: 90/10 by doc_id hash bucket. */
  def withSplit(docs: DataFrame): DataFrame =
    docs.withColumn(
      "split",
      when(stringHash60(col("doc_id").cast("string")) % 10 < 9, "train")
        .otherwise("val"),
    )

  /** Run score → gate → dedup → mix → split, write the curated corpus
    * partitioned by split, and return per-stage accounting.
    */
  def run(spark: SparkSession, corpusDir: String, outDir: String): Counts = {
    val docs = spark.read.parquet(s"$corpusDir/documents.parquet")
    val kept = gate(docs)
    val unique = dedup(kept)
    val mixed = mix(unique)
    val split = withSplit(mixed)
    split.write.mode("overwrite").partitionBy("split").parquet(s"$outDir/curated")
    val back = spark.read.parquet(s"$outDir/curated")
    val bySplit = back.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Counts(
      total = docs.count(),
      kept = kept.count(),
      deduped = unique.count(),
      mixed = mixed.count(),
      train = bySplit.getOrElse("train", 0L),
      `val` = bySplit.getOrElse("val", 0L),
    )
  }

  /** Runnable entry: runMain graft.pipeline.TextPipeline <corpusDir> <outDir> */
  def main(args: Array[String]): Unit = {
    val Array(corpusDir, outDir) = args
    val spark = graft.util.Tables.localSession()
    try {
      val c = run(spark, corpusDir, outDir)
      println(s"[text-pipeline] total=${c.total} kept=${c.kept} deduped=${c.deduped} " +
        s"mixed=${c.mixed} train=${c.train} val=${c.`val`}")
    } finally spark.stop()
  }
}
