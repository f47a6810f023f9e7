package graft.ext


import graft.SparkTestBase

/** Plan-level assertions for the scale layouts: bucketing must remove
  * the shuffle, partitioning must prune at the scan, salting must not
  * change results. String-matching executed plans is deliberate — these
  * properties regress silently otherwise.
  */
class ScaleSpec extends SparkTestBase with graft.TempCorpusDirs {

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // materialize so AQE finalizes the plan
    df.queryExecution.executedPlan.toString
  }

  test("bucketed co-located join plans with no shuffle exchange") {
    import sqlImplicits._
    val facts = (1L to 1000L).map(i => (i % 100, i, i * 1.5)).toDF("k", "id", "v")
    val dims = (0L until 100L).map(i => (i, s"dim$i")).toDF("k", "name")
    val dir = tempCorpusDir("graft_bktest")
    graft.util.BucketedManifest.build(Seq(facts), s"$dir/facts", Seq("k"), 8)
    graft.util.BucketedManifest.build(Seq(dims), s"$dir/dims", Seq("k"), 8)

    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ, not broadcast
    try {
      val joined = graft.util.BucketedManifest.read(spark, s"$dir/facts")
        .join(graft.util.BucketedManifest.read(spark, s"$dir/dims"), "k")
      val plan = executedPlan(joined)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() == 1000)

      // Control: the same join over unbucketed data DOES shuffle.
      val unbucketed = facts.join(dims, "k")
      assert(executedPlan(unbucketed).contains("Exchange hashpartitioning"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("partitioned-at-rest layout prunes partitions at the scan") {
    import sqlImplicits._
    val dir = tempCorpusDir("graft_part")
    val df = (1 to 300).map(i => (i.toLong, 2000 + i % 3, s"t$i")).toDF("id", "year", "title")
    Scale.writePartitioned(df, s"$dir/facts", "year")

    val pruned = spark.read.parquet(s"$dir/facts").filter($"year" === 2001)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.contains("year"), plan)
    assert(pruned.count() == 100)
    // The pruned scan must touch 1 of the 3 year directories.
    assert(pruned.select("year").distinct().collect().map(_.getInt(0)).toSeq == Seq(2001))
  }

  test("dynamic partition overwrite refreshes one partition, leaves the rest intact") {
    import sqlImplicits._
    val dir = tempCorpusDir("graft_dpo")
    val full = (1 to 300).map(i => (i.toLong, 2000 + i % 3, s"v$i")).toDF("id", "year", "v")
    Scale.writePartitioned(full, s"$dir/t", "year")
    assert(spark.read.parquet(s"$dir/t").count() == 300)

    // Recompute ONLY year=2001 with different content.
    val patch = (1 to 10).map(i => (1000L + i, 2001, "patched")).toDF("id", "year", "v")
    Scale.overwritePartitions(patch, s"$dir/t", "year")

    val after = spark.read.parquet(s"$dir/t")
    assert(after.filter($"year" === 2001).count() == 10) // replaced
    assert(after.filter($"year" === 2000).count() == 100) // untouched
    assert(after.filter($"year" === 2002).count() == 100) // untouched
    assert(after.filter($"year" === 2001 && $"v" === "patched").count() == 10)
    // The write didn't leave the session in dynamic mode.
    assert(!spark.conf.getOption("spark.sql.sources.partitionOverwriteMode").contains("dynamic"))
  }

  test("salted join equals the plain join on pathologically skewed data") {
    import sqlImplicits._
    // 10k rows of one hot key + a uniform tail.
    val fact = ((1 to 10000).map(_ => 7L) ++ (1 to 500).map(i => (i % 50).toLong))
      .zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("k", "id")
    val dim = (0L until 50L).map(i => (i, s"d$i")).toDF("k", "name")

    val plain = fact.join(dim, "k")
    val salted = Scale.saltedJoin(fact, dim, "k", salts = 8)
    assert(salted.count() == plain.count())
    assert(salted.columns.sorted.toSeq == plain.columns.sorted.toSeq)
    val plainAgg = plain.groupBy("k").count().orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val saltedAgg = salted.groupBy("k").count().orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(saltedAgg == plainAgg)
  }
}
