package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Manifested bucketed co-location pairs: the manifest-backed
  * FileIndex plans exchange-free joins exactly like the catalog path,
  * while maintenance gets the full snapshot-isolation contract —
  * pinned readers through bucket compaction, retire-don't-delete,
  * crash-window convergence, time travel.
  */
class BucketedManifestSpec extends SparkTestBase with graft.TempCorpusDirs {
  import sqlImplicits._

  private final class InjectedCrash extends RuntimeException("injected crash")

  private def killAt(step: String)(body: => Unit): Unit = {
    ManifestLog.failpoint = s => if (s.startsWith(step)) throw new InjectedCrash
    try intercept[InjectedCrash](body)
    finally ManifestLog.failpoint = _ => ()
  }

  private val Buckets = 4

  /** A co-located fact/dim pair as manifested bucketed layouts. */
  private def freshPair(tag: String): (String, String) = {
    val dir = tempCorpusDir(s"graft_bman_$tag")
    def build(name: String, df: DataFrame): String = {
      BucketedManifest.build(Seq(df), s"$dir/$name", Seq("k"), Buckets)
      s"$dir/$name"
    }
    val fact = build("fact",
      (0 until 4000).map(i => (i.toLong % 400, i.toLong)).toDF("k", "v"))
    val dim = build("dim",
      (0 until 400).map(i => (i.toLong, s"d$i")).toDF("k", "w"))
    (fact, dim)
  }

  private def coAgg(fact: DataFrame, dim: DataFrame): DataFrame =
    fact.join(dim, "k").groupBy("k").agg(sum("v").as("sv"), count(lit(1)).as("n"))

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  private def assertCoLocated(df: DataFrame): Unit = {
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("Bucketed: true"), s"bucketed scan not in play:\n$p")
    val keyEx = p.linesIterator.count(l =>
      l.contains("Arguments: hashpartitioning(") && l.contains("k#"))
    assert(keyEx == 0, s"co-located join must not re-shuffle on k:\n$p")
  }

  test("the manifested pair joins exchange-free and answers like the shuffle join") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (fact, dim) = freshPair("base")
      val got = coAgg(BucketedManifest.read(spark, fact),
        BucketedManifest.read(spark, dim))
      assertCoLocated(got)
      // Answers: identical to the plain shuffle join over the same files.
      val raw = coAgg(spark.read.parquet(fact), spark.read.parquet(dim))
      assert(canon(got) == canon(raw))
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("appends add one file per bucket, validate the spec, and keep co-location") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (fact, dim) = freshPair("app")
      val before = ManifestLog.liveFileCount(spark, fact)
      BucketedManifest.appendBucketed(
        (4000 until 4400).map(i => (i.toLong % 400, i.toLong)).toDF("k", "v"), fact)
      assert(ManifestLog.liveFileCount(spark, fact) == before + Buckets,
        "a segment append must add one file per non-empty bucket")
      val got = coAgg(BucketedManifest.read(spark, fact),
        BucketedManifest.read(spark, dim))
      assertCoLocated(got)
      assert(got.agg(sum("n")).as[Long].head() == 4400L)
      // A segment without the recorded key fails before any write.
      intercept[IllegalArgumentException] {
        BucketedManifest.appendBucketed(
          Seq((1L, 1L)).toDF("wrong", "v"), fact)
      }
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("bucket compaction is snapshot-isolated: pinned readers keep retired files") {
    val (fact, _) = freshPair("cmp")
    BucketedManifest.appendBucketed(
      (4000 until 4400).map(i => (i.toLong % 400, i.toLong)).toDF("k", "v"), fact)
    val pinned = BucketedManifest.read(spark, fact) // 2 files per bucket
    val expect = canon(pinned.groupBy("k").agg(sum("v").as("sv")))
    // The tick compacts every over-fragmented bucket grain.
    assert(BucketedManifest.maintain(spark, fact, maxFiles = 1).length == Buckets)
    val after = BucketedManifest.read(spark, fact)
    assert(ManifestLog.liveFileCount(spark, fact) == Buckets)
    assert(canon(after.groupBy("k").agg(sum("v").as("sv"))) == expect)
    // The pinned plan still answers from the retired files …
    assert(canon(pinned.groupBy("k").agg(sum("v").as("sv"))) == expect,
      "compaction deleted files a pinned reader references")
    // … and time travel reaches the pre-compaction generation.
    val v = ManifestLog.currentVersion(spark, fact)
    assert(canon(BucketedManifest.readAt(spark, fact, v - Buckets)
      .groupBy("k").agg(sum("v").as("sv"))) == expect)
    // Vacuum (pins released) drops the retired grain files.
    assert(ManifestLog.vacuum(spark, fact).count(_.endsWith(".parquet")) == 2 * Buckets)
    assert(canon(BucketedManifest.read(spark, fact)
      .groupBy("k").agg(sum("v").as("sv"))) == expect)
    // Idempotent tick.
    assert(BucketedManifest.maintain(spark, fact, maxFiles = 1).isEmpty)
  }

  test("bucket pruning: a key-equality filter scans one bucket's files") {
    // Auto-bucketed-scan turns bucketed reads off for plans with no
    // exchange to save (identical treatment to a catalog table); pin
    // the pruning behavior itself with the heuristic disabled.
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val (fact, _) = freshPair("prune")
      val df = BucketedManifest.read(spark, fact)
      val qe = df.filter(col("k") === 7L).queryExecution
      assert(qe.executedPlan.execute().count() == 10) // 4000 rows / 400 keys
      val p = qe.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(p.contains(s"SelectedBucketsCount: 1 out of $Buckets"),
        s"bucket pruning not in play:\n$p")
    } finally
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
  }

  test("the streamed bucketed batch is exactly-once; the layout stays tailable") {
    val (fact, _) = freshPair("batch")
    val cursor = ManifestLog.currentVersion(spark, fact)
    val seg = (4000 until 4400).map(i => (i.toLong % 400, i.toLong)).toDF("k", "v")
    assert(BucketedManifest.appendBucketedBatch(seg, fact, 0L))
    assert(!BucketedManifest.appendBucketedBatch(seg, fact, 0L),
      "a committed batch must replay as a no-op")
    assert(BucketedManifest.read(spark, fact).count() == 4400)
    // Maintenance carries the mark; the replay stays refused after it.
    BucketedManifest.maintain(spark, fact, maxFiles = 1)
    assert(!BucketedManifest.appendBucketedBatch(seg, fact, 0L))
    assert(ManifestLog.batchHwm(spark, fact) == 0L)
    // The changes feed works unchanged over the bucketed layout: the
    // batch's files alone, compaction contributing nothing.
    ManifestLog.tailSince(spark, fact, cursor) match {
      case a: ManifestLog.TailAppended =>
        val t = ManifestLog.readTail(spark, fact, a).get
        assert(t.count() == 400, "the tail must carry exactly the batch")
      case r: ManifestLog.TailResync => fail(r.reason)
    }
  }

  test("crash windows converge: torn append stays invisible, torn compaction retries") {
    val (fact, _) = freshPair("crash")
    val expect = canon(BucketedManifest.read(spark, fact))
    val seg = (4000 until 4400).map(i => (i.toLong % 400, i.toLong)).toDF("k", "v")
    killAt("written:append-bucketed") {
      BucketedManifest.appendBucketed(seg, fact)
    }
    assert(canon(BucketedManifest.read(spark, fact)) == expect,
      "a crashed append leaked into the current generation")
    ManifestLog.vacuum(spark, fact) // orphaned bucket files
    BucketedManifest.appendBucketed(seg, fact)
    assert(BucketedManifest.read(spark, fact).count() == 4400,
      "retry duplicated or lost the segment")
    killAt("written:compact-bucket") {
      BucketedManifest.compactBucket(spark, fact, 0)
    }
    assert(BucketedManifest.read(spark, fact).count() == 4400)
    BucketedManifest.compactBucket(spark, fact, 0)
    assert(BucketedManifest.read(spark, fact).count() == 4400)
    assert(ManifestLog.currentEntries(spark, fact)
      .count(_.path.matches(""".*_0{4}0(?:\..*)?$""")) == 1,
      "bucket 0's grain did not collapse")
  }

  /** Every file the current generation lists holds only rows whose
    * `pmod(hash(keys), Buckets)` is the bucket id its name carries. */
  private def assertPlacement(root: String, keys: Seq[String]): Unit = {
    val files = ManifestLog.currentEntries(spark, root).map(_.path)
    assert(files.nonEmpty, s"$root lists no files")
    files.foreach { f =>
      val id = """_(\d{5})\.""".r.findFirstMatchIn(f).map(_.group(1).toInt)
        .getOrElse(fail(s"$root/$f carries no bucket id"))
      val got = spark.read.parquet(s"$root/$f")
        .select(pmod(hash(keys.map(col): _*), lit(Buckets))).distinct().as[Int].collect().toSet
      assert(got == Set(id), s"$root/$f is named bucket $id but holds rows of buckets $got")
    }
  }

  test("every write path stages files that hold exactly their bucket's rows, with no catalog table") {
    val dir = tempCorpusDir("graft_bman_writer")
    val (single, composite) = (s"$dir/single", s"$dir/composite")
    def rows(lo: Int, hi: Int) =
      (lo until hi).map(i => (i.toLong % 300, i.toLong % 7, i.toLong)).toDF("k1", "k2", "v")
    val tablesBefore = spark.catalog.listTables().collect().map(_.name).toSet
    val executions = executionsOf {
      BucketedManifest.build(Seq(rows(0, 2000).drop("k2").withColumnRenamed("k1", "k")),
        single, Seq("k"), Buckets)
      BucketedManifest.appendBucketed(
        rows(2000, 2400).drop("k2").withColumnRenamed("k1", "k"), single)
      BucketedManifest.compactBucket(spark, single, 0)
      val del = BucketedManifest.deleteKeys(spark, single, Seq(1L, 2L, 3L, 4L).toDF("k"))
      assert(del.rowsDeleted == 32L, s"four keys of eight rows each: $del")
      BucketedManifest.build(Seq(rows(0, 2000)), composite, Seq("k1", "k2"), Buckets)
      BucketedManifest.appendBucketed(rows(2000, 2400), composite)
      BucketedManifest.compactBucket(spark, composite, 0)
    }
    assert(ManifestLog.currentEntries(spark, single)
      .count(_.path.matches(""".*_0{5}(?:\..*)?$""")) == 1, "bucket 0 did not compact")
    assert(BucketedManifest.read(spark, single).count() == 2400L - 4L * 8L)
    assert(BucketedManifest.read(spark, composite).count() == 2400L)
    assertPlacement(single, Seq("k"))
    assertPlacement(composite, Seq("k1", "k2"))
    val nodes = executions.flatMap(_.analyzed.collect { case n => n.getClass.getSimpleName }).toSet
    val catalogWrites = nodes.intersect(
      Set("CreateDataSourceTableAsSelectCommand", "DropTable", "DropTableCommand"))
    assert(catalogWrites.isEmpty, s"the bucketed writes went through the catalog: $catalogWrites")
    assert(spark.catalog.listTables().collect().map(_.name).toSet == tablesBefore)
  }

  test("a composite-key build records every key, plans its full BucketSpec and refuses keyed deletion") {
    val root = s"${tempCorpusDir("graft_bman_composite")}/grain"
    val grain = (0 until 400).map(i => (i.toLong % 20, i.toLong % 7, i.toLong)).toDF("a", "b", "v")
    BucketedManifest.build(Seq(grain), root, Seq("a", "b"), Buckets)
    val s = BucketedManifest.spec(spark, root)
    assert(s.keys == Seq("a", "b") && s.buckets == Buckets && s.keyType.isEmpty, s"spec: $s")
    val agg = BucketedManifest.read(spark, root).groupBy("a", "b").agg(sum("v").as("sv"))
    val scan = agg.queryExecution.sparkPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scan.map(_.relation.bucketSpec) == Seq(Some(
      org.apache.spark.sql.catalyst.catalog.BucketSpec(Buckets, Seq("a", "b"), Seq("a", "b")))))
    val p = agg.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("Arguments: hashpartitioning("),
      s"the composite-key aggregate must not re-shuffle:\n$p")
    assert(canon(agg) == canon(grain.groupBy("a", "b").agg(sum("v").as("sv"))))
    // hash(a) cannot find rows placed by hash(a, b): refused before
    // anything is read or written.
    val v = ManifestLog.currentVersion(spark, root)
    val e = intercept[IllegalArgumentException] {
      BucketedManifest.deleteKeys(spark, root, Seq(1L).toDF("a"))
    }
    assert(e.getMessage.contains("single-key"), e.getMessage)
    assert(ManifestLog.currentVersion(spark, root) == v)
  }

  test("a build onto a root that records another bucket spec fails and keeps the recorded spec") {
    val root = s"${tempCorpusDir("graft_bman_spec_clash")}/grain"
    val df = (0 until 40).map(i => (i.toLong, i.toLong)).toDF("k", "v")
    BucketedManifest.build(Seq(df), root, Seq("k"), Buckets)
    val recorded = BucketedManifest.spec(spark, root)
    val e = intercept[IllegalArgumentException] {
      BucketedManifest.build(Seq(df), root, Seq("k"), Buckets * 2)
    }
    assert(e.getMessage.contains("already records bucket spec"), e.getMessage)
    assert(BucketedManifest.spec(spark, root) == recorded)
    assert(canon(BucketedManifest.read(spark, root)) == canon(df))
  }

  test("mergeSchema widens the bucketed read across schema-drifted appends") {
    val (fact, _) = freshPair("drift")
    // A later producer adds a column; the bucketed append takes the
    // segment's own schema (parquet is self-describing per file).
    BucketedManifest.appendBucketed(
      (400 until 410).map(i => (i.toLong, i.toLong, s"n$i"))
        .toDF("k", "v", "note"), fact)
    val merged = BucketedManifest.read(spark, fact,
      Map("mergeSchema" -> "true"))
    assert(merged.columns.toSet == Set("k", "v", "note"),
      s"merged schema lost columns: ${merged.columns.mkString(",")}")
    assert(merged.where(col("note").isNotNull).count() == 10L)
    assert(merged.count() == 4010L)
    // And the widened relation still joins exchange-free on k.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try assertCoLocated(coAgg(merged,
      BucketedManifest.read(spark, freshPair("driftdim")._2)))
    finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  /** Executed-scan file count (the LogStreamSpec idiom): pruning that
    * matters is what the EXECUTED plan reads, not what the logical
    * plan mentions. */
  private def scannedFiles(df: DataFrame): Long = {
    val qe = df.queryExecution
    qe.executedPlan.execute().count()
    qe.executedPlan.collectLeaves().map(_.metrics("numFiles").value).sum
  }

  test("declared stat columns prune files at PLAN time through the manifest index") {
    val root = s"${tempCorpusDir("graft_bman_stats")}/fact"
    def rows(lo: Int, hi: Int) =
      (lo until hi).map(i => (i.toLong % 100, i.toLong, i.toLong))
        .toDF("k", "v", "ts")
    BucketedManifest.build(Seq(rows(0, 1000)), root, Seq("k"), Buckets)
    // Declaration AFTER the build: the initial generation is stats-less
    // and must stay a permanent candidate; only later appends record.
    BucketedManifest.declareStats(spark, root, Seq("ts"))
    BucketedManifest.appendBucketed(rows(1000, 2000), root)
    BucketedManifest.appendBucketed(rows(2000, 3000), root)
    val df = BucketedManifest.read(spark, root)
    val total = df.inputFiles.length
    assert(total == 3 * Buckets)
    // A ts window inside the SECOND batch: the stats-less build files
    // stay admitted (conservative), batch 1's files prune — through
    // the ordinary .filter, no special read API.
    val q = df.filter(col("ts") >= 2000L && col("ts") < 2500L)
    assert(scannedFiles(q) == 2L * Buckets,
      "pushed ts bounds did not prune the disjoint batch's files")
    assert(canon(q.select("k", "v", "ts")) ==
      canon(spark.read.parquet(root)
        .filter(col("ts") >= 2000L && col("ts") < 2500L)
        .select("k", "v", "ts")))
    // Point predicate prunes the same way.
    assert(scannedFiles(df.filter(col("ts") === 1500L)) == 2L * Buckets)
    // A filter on an UNDECLARED column prunes nothing (conservative).
    assert(scannedFiles(df.filter(col("v") >= 2000L)) == total.toLong)
    // The filtered co-located join still plans with zero key exchanges
    // and answers exactly.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (_, dim) = freshPair("statsdim")
      val j = coAgg(df.filter(col("ts") >= 2000L),
        BucketedManifest.read(spark, dim))
      assertCoLocated(j)
      assert(canon(j) == canon(coAgg(
        spark.read.parquet(root).filter(col("ts") >= 2000L),
        spark.read.parquet(dim))))
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    // Maintenance keeps recording: a bucket compaction's replacement
    // carries merged ts stats, so the window filter keeps pruning the
    // OTHER batch after the rewrite.
    BucketedManifest.maintain(spark, root, maxFiles = 1)
    ManifestLog.vacuum(spark, root) // a raw dir read must not see retired files
    val dfc = BucketedManifest.read(spark, root)
    assert(dfc.inputFiles.length == Buckets, "compaction should leave 1 file/bucket")
    assert(canon(dfc.filter(col("ts") >= 2000L && col("ts") < 2500L)
      .select("k", "v", "ts")) ==
      canon(spark.read.parquet(root).filter(col("ts") >= 2000L && col("ts") < 2500L)
        .select("k", "v", "ts")))
  }
}
