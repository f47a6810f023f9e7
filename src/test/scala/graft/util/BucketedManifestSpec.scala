package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Manifested bucketed co-location pairs: a build commits one file per
  * bucket per segment with no catalog table, and the manifest-backed
  * FileIndex plans exchange-free joins, bucket pruning and stats-based
  * file pruning exactly like the catalog path.
  */
class BucketedManifestSpec extends SparkTestBase with graft.TempCorpusDirs {
  import sqlImplicits._

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
      BucketedManifest.build(
        Seq(rows(0, 2000), rows(2000, 2400)).map(_.drop("k2").withColumnRenamed("k1", "k")),
        single, Seq("k"), Buckets)
      BucketedManifest.build(Seq(rows(0, 2000), rows(2000, 2400)), composite,
        Seq("k1", "k2"), Buckets)
    }
    // Both segments reach every bucket: one file per bucket per segment.
    assert(ManifestLog.liveFileCount(spark, single) == 2 * Buckets)
    assert(ManifestLog.liveFileCount(spark, composite) == 2 * Buckets)
    assert(BucketedManifest.read(spark, single).count() == 2400L)
    assert(BucketedManifest.read(spark, composite).count() == 2400L)
    assertPlacement(single, Seq("k"))
    assertPlacement(composite, Seq("k1", "k2"))
    val nodes = executions.flatMap(_.analyzed.collect { case n => n.getClass.getSimpleName }).toSet
    val catalogWrites = nodes.intersect(
      Set("CreateDataSourceTableAsSelectCommand", "DropTable", "DropTableCommand"))
    assert(catalogWrites.isEmpty, s"the bucketed writes went through the catalog: $catalogWrites")
    assert(spark.catalog.listTables().collect().map(_.name).toSet == tablesBefore)
  }

  test("a composite-key build records every key and plans its full BucketSpec") {
    val root = s"${tempCorpusDir("graft_bman_composite")}/grain"
    val grain = (0 until 400).map(i => (i.toLong % 20, i.toLong % 7, i.toLong)).toDF("a", "b", "v")
    BucketedManifest.build(Seq(grain), root, Seq("a", "b"), Buckets)
    val s = BucketedManifest.spec(spark, root)
    assert(s == BucketedManifest.Spec(Seq("a", "b"), Buckets), s"spec: $s")
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

  /** Executed-scan file count (the LogStreamSpec idiom): pruning that
    * matters is what the EXECUTED plan reads, not what the logical
    * plan mentions. */
  private def scannedFiles(df: DataFrame): Long = {
    val qe = df.queryExecution
    qe.executedPlan.execute().count()
    qe.executedPlan.collectLeaves().map(_.metrics("numFiles").value).sum
  }

  test("declared stat columns prune files at PLAN time through the manifest index") {
    val dir = tempCorpusDir("graft_bman_stats")
    val (root, plain) = (s"$dir/fact", s"$dir/plain")
    def rows(lo: Int, hi: Int) =
      (lo until hi).map(i => (i.toLong % 100, i.toLong, i.toLong))
        .toDF("k", "v", "ts")
    val segments = Seq(rows(0, 1000), rows(1000, 2000), rows(2000, 3000))
    // Three ts-disjoint segments: each bucket holds one file per
    // segment, and every file records its ts range in the manifest.
    BucketedManifest.build(segments, root, Seq("k"), Buckets, statCols = Seq("ts"))
    val df = BucketedManifest.read(spark, root)
    val total = df.inputFiles.length
    assert(total == 3 * Buckets)
    // A ts window inside the LAST segment scans only its files —
    // through the ordinary .filter, no special read API.
    val q = df.filter(col("ts") >= 2000L && col("ts") < 2500L)
    assert(scannedFiles(q) == Buckets.toLong,
      "pushed ts bounds did not prune the disjoint segments' files")
    assert(canon(q.select("k", "v", "ts")) ==
      canon(spark.read.parquet(root)
        .filter(col("ts") >= 2000L && col("ts") < 2500L)
        .select("k", "v", "ts")))
    // Point predicate prunes the same way.
    assert(scannedFiles(df.filter(col("ts") === 1500L)) == Buckets.toLong)
    // A filter on an UNDECLARED column prunes nothing (conservative).
    assert(scannedFiles(df.filter(col("v") >= 2000L)) == total.toLong)
    // Nor does a build that records no stat column: stats-less files
    // stay candidates for every filter.
    BucketedManifest.build(segments, plain, Seq("k"), Buckets)
    assert(scannedFiles(BucketedManifest.read(spark, plain)
      .filter(col("ts") >= 2000L && col("ts") < 2500L)) == total.toLong)
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
  }

  test("a spec line that also records the key type reads as the same spec") {
    // Older builds wrote `keys<TAB>buckets<TAB>type-json`; committed
    // roots of fixed corpora outlive the build that wrote them.
    val root = s"${tempCorpusDir("graft_bman_spec3")}/grain"
    val df = (0 until 400).map(i => (i.toLong % 40, i.toLong)).toDF("k", "v")
    BucketedManifest.build(Seq(df), root, Seq("k"), Buckets)
    val f = java.nio.file.Paths.get(root, "_manifests", "bucket-spec")
    assert(new String(java.nio.file.Files.readAllBytes(f), "UTF-8") == s"k\t$Buckets\n")
    // The local filesystem checksums what it writes; drop the stale sum.
    java.nio.file.Files.deleteIfExists(f.getParent.resolve(".bucket-spec.crc"))
    java.nio.file.Files.write(f,
      s"k\t$Buckets\t${org.apache.spark.sql.types.LongType.json}\n".getBytes("UTF-8"))
    assert(BucketedManifest.spec(spark, root) == BucketedManifest.Spec(Seq("k"), Buckets))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (_, dim) = freshPair("spec3dim")
      val got = coAgg(BucketedManifest.read(spark, root), BucketedManifest.read(spark, dim))
      assertCoLocated(got)
      assert(canon(got) == canon(coAgg(df, spark.read.parquet(dim))))
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }
}
