package graft.ext

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Scale techniques the 100 TB design point requires (SURVEY.md §4
  * "Scale posture"): salted joins for skewed keys and partitioned-at-rest
  * layouts (bucketed co-located layouts are [[graft.util.BucketedManifest]]
  * roots). Each is a small composable helper whose effect is asserted at
  * the PLAN level in ScaleSpec — a shuffle that silently reappears is a
  * regression, not a style issue.
  */
object Scale {

  /** Write a frame partitioned at rest by a column (e.g. release_year,
    * event date, IVF cluster id): queries filtering on it scan only the
    * matching directories (partition pruning — `PartitionFilters` in
    * the scan node), the difference between reading 100 TB and reading
    * one day of it.
    */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCol).parquet(path)

  /** Incremental refresh of a partitioned table: overwrite ONLY the
    * partitions present in `df`, leaving every other partition
    * untouched (dynamic partition overwrite). This is how a 100 TB
    * partitioned table is maintained — recompute one day/year and swap
    * it in; static overwrite mode (the default) would truncate the
    * whole table first. The mode is set per-write here, not globally.
    */
  def overwritePartitions(df: DataFrame, path: String, partitionCol: String): Unit = {
    val spark = df.sparkSession
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try df.write.mode(SaveMode.Overwrite).partitionBy(partitionCol).parquet(path)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Salted equi-join for skewed keys: the fact side gets a uniform
    * salt in [0, salts), the dim side is replicated once per salt
    * value, and the join key becomes (key, salt) — a single hot key's
    * rows now land on `salts` reducers instead of one. Result is
    * row-identical to the plain join (the salt is a join-local
    * artifact, dropped on output). AQE's skew-join handles moderate
    * skew adaptively; explicit salting is for the pathological head
    * key that exceeds what split-and-replicate can absorb.
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String, salts: Int): DataFrame = {
    require(salts > 0, "salts must be positive")
    val saltedFact = fact.withColumn("__salt", (rand(42) * salts).cast("int"))
    val repDim = dim.withColumn("__salt", explode(sequence(lit(0), lit(salts - 1))))
    saltedFact
      .join(repDim, fact(key) === repDim(key) && saltedFact("__salt") === repDim("__salt"))
      .drop("__salt")
      .drop(repDim(key))
  }
}
