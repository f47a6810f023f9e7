package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Segment-append lifecycle for the sorted/bucketed fact layouts — the
  * r11 verdict's top item: `lineitem-sd-log`, `orders-by-year`,
  * `events-us-log`, and the orderkey co-location pair were the last
  * artifacts whose maintenance story implied a full-layout rewrite per
  * corpus append. Proof obligations, per the TextMaintenanceSpec
  * discipline:
  *   (a) GEOMETRY holds across segments — the boundary literal still
  *       prunes row groups of a 2-segment sorted log (scan metrics,
  *       not PushedFilters faith), year-directory pruning still holds
  *       on a 2-segment partitioned layout, and the bucket pair still
  *       joins with ZERO hash exchange when every bucket has one file
  *       per segment;
  *   (b) merged read == rebuild read at the QUERY level: q46/q47/
  *       q151 answer row-identically over one-shot and
  *       segment-appended layouts (the `Snapshots.install` seam — the
  *       query path consumes whatever is at rest).
  * Every segmented root is manifested (created empty, or a one-shot
  * write adopted), so reads go through `ManifestLog.read`: a directory
  * listing would also see files a compaction retired.
  */
class SegmentAppendSpec extends SparkTestBase with graft.TempCorpusDirs {

  private val baseUs = java.time.LocalDate.parse("1996-01-01").toEpochDay * 86400000000L

  private def shufflePartitions: Int =
    spark.conf.get("spark.sql.shuffle.partitions").toInt

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  /** Synthetic NTZ-dated lineitem frame (the LineitemLayoutSpec shape). */
  private def syntheticLineitem(n: Long): DataFrame =
    spark.range(n).toDF("l_orderkey")
      .withColumn("l_partkey", col("l_orderkey") % 200)
      .withColumn("l_suppkey", col("l_orderkey") % 50)
      .withColumn("l_quantity", (col("l_orderkey") % 7).cast("double"))
      .withColumn("l_extendedprice", lit(10.5))
      .withColumn("l_shipdate",
        timestamp_micros(lit(baseUs) + col("l_orderkey") * 1000000L)
          .cast("timestamp_ntz"))

  test("sd-log boundary pruning survives a segment append (scan metrics)") {
    val n = 50000L
    val li = syntheticLineitem(n)
    val splitUs = baseUs + (n * 8 / 10) * 1000000L
    val splitTs = timestamp_micros(lit(splitUs))
    val root = s"${tempCorpusDir("graft_seg_sdlog")}/lineitem-sd-log"
    // Two ingest ticks on an empty manifested root.
    graft.util.ManifestLog.create(spark, root)
    Relational.appendLineitemSdLogSegment(
      spark, root, li.filter(col("l_shipdate") < splitTs))
    Relational.appendLineitemSdLogSegment(
      spark, root, li.filter(col("l_shipdate") >= splitTs))
    val log = graft.util.ManifestLog.read(spark, root)
    // The layout is genuinely multi-segment: more files than one
    // range-partitioned write could produce.
    assert(log.inputFiles.length > shufflePartitions,
      s"expected 2 segments' files, got ${log.inputFiles.length}")
    // Boundary in the LAST 10% — inside the second segment's span, so
    // pruning must skip the first segment wholesale by its stats and
    // most of the second by its per-file sort.
    val cutoff = baseUs + (n * 9 / 10) * 1000000L
    val qe = log.filter(col("l_shipdate_us") >= cutoff).queryExecution
    assert(qe.executedPlan.execute().count() == n / 10)
    val scanRows = qe.executedPlan.collectLeaves()
      .map(_.metrics("numOutputRows").value).sum
    assert(scanRows < n / 2,
      s"scan emitted $scanRows of $n rows — segment append broke row-group pruning")
    val pushed = qe.executedPlan.toString.linesIterator
      .find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate_us"),
      s"cutoff not pushed into the segmented log scan: $pushed")
  }

  test("sorted-log grain compaction merges only fully-in-range files and keeps pruning") {
    // Two orderkey-parity segments spanning the SAME date range → every
    // date quarter holds one file per segment. Compacting the grain
    // [lo, lo+60%) must merge exactly the files whose footer stats lie
    // fully inside (straddlers stay), preserve the multiset, and leave
    // boundary pruning intact.
    val n = 50000L
    val li = syntheticLineitem(n)
    val root = s"${tempCorpusDir("graft_seg_compact")}/lineitem-sd-log"
    graft.util.ManifestLog.create(spark, root)
    Relational.appendLineitemSdLogSegment(spark, root, li.filter(col("l_orderkey") % 2 === 0))
    Relational.appendLineitemSdLogSegment(spark, root, li.filter(col("l_orderkey") % 2 === 1))
    val before = graft.util.ManifestLog.read(spark, root)
    val filesBefore = before.inputFiles.length
    assert(filesBefore > shufflePartitions, "fixture must be multi-segment")
    val rowsBefore = rows(before.select("l_orderkey", "l_shipdate_us"))

    graft.util.ManifestLog.compactRange(
      spark, root, "", "l_shipdate_us", baseUs, baseUs + (n * 6 / 10) * 1000000L)
    val after = graft.util.ManifestLog.read(spark, root)
    assert(after.inputFiles.length < filesBefore - 1,
      s"compaction merged nothing: $filesBefore -> ${after.inputFiles.length} files")
    assert(rows(after.select("l_orderkey", "l_shipdate_us")) == rowsBefore,
      "grain compaction is not a row-exact rewrite")
    // Boundary pruning still holds over the compacted layout.
    val cutoff = baseUs + (n * 9 / 10) * 1000000L
    val qe = after.filter(col("l_shipdate_us") >= cutoff).queryExecution
    assert(qe.executedPlan.execute().count() == n / 10)
    val scanRows = qe.executedPlan.collectLeaves()
      .map(_.metrics("numOutputRows").value).sum
    assert(scanRows < n / 2,
      s"scan emitted $scanRows of $n rows — compaction broke row-group pruning")
    // Idempotent: the grain is compact now.
    val files2 = after.inputFiles.length
    graft.util.ManifestLog.compactRange(
      spark, root, "", "l_shipdate_us", baseUs, baseUs + (n * 6 / 10) * 1000000L)
    assert(graft.util.ManifestLog.read(spark, root).inputFiles.length == files2)
  }

  test("orders-by-year keeps directory pruning across segments (shared year dirs)") {
    val years = 4
    val perYear = 5000L
    val orders = spark.range(years * perYear).toDF("o_orderkey")
      .withColumn("o_custkey", col("o_orderkey") % 300)
      .withColumn("o_orderdate",
        timestamp_micros(lit(baseUs)
          // ~366-day year stride keeps every synthetic order inside a
          // distinct calendar year: o_orderkey / perYear picks the year.
          + expr(s"o_orderkey div $perYear") * 31622400000000L
          + (col("o_orderkey") % perYear) * 1000000L)
          .cast("timestamp_ntz"))
    val root = s"${tempCorpusDir("graft_seg_oby")}/orders-by-year"
    graft.util.ManifestLog.create(spark, root)
    // Split ACROSS years (even/odd orderkey): both segments write into
    // the SAME year directories — the shared-dir claim, not just
    // "new year, new dir".
    Relational.appendOrdersByYearSegment(
      spark, root, orders.filter(col("o_orderkey") % 2 === 0))
    Relational.appendOrdersByYearSegment(
      spark, root, orders.filter(col("o_orderkey") % 2 === 1))
    val layout = graft.util.ManifestLog.read(spark, root)
    assert(layout.inputFiles.length > years,
      s"expected multi-segment files across year dirs, got ${layout.inputFiles.length}")
    // One-year slice: directory pruning must drop the other years'
    // files before the scan (inputFiles is the full layout; the
    // executed scan's row metric sees one year only).
    val y1997 = layout.filter(col("order_year") === 1997)
    val qe = y1997.queryExecution
    assert(qe.executedPlan.execute().count() == perYear)
    val scanRows = qe.executedPlan.collectLeaves()
      .map(_.metrics("numOutputRows").value).sum
    assert(scanRows == perYear,
      s"scan emitted $scanRows rows for a $perYear-row year — partition pruning lost across segments")
    // Both segments contributed to the year (the dirs are genuinely shared).
    assert(y1997.filter(col("o_orderkey") % 2 === 0).count() > 0)
    assert(y1997.filter(col("o_orderkey") % 2 === 1).count() > 0)

    // Per-grain compaction of the partitioned layout: a year DIRECTORY
    // is the grain, and compactRange over it (full micros range)
    // merges that year's segment files without touching other years.
    def yearFiles(): Int = graft.util.ManifestLog.read(spark, root).inputFiles
      .count(_.contains("/order_year=1997/"))
    val filesBefore = yearFiles()
    assert(filesBefore > 1, "year dir must be multi-segment for the compaction check")
    graft.util.ManifestLog.compactRange(
      spark, root, "order_year=1997", "o_orderdate_us", Long.MinValue, Long.MaxValue)
    val yAfter = graft.util.ManifestLog.read(spark, root).filter(col("order_year") === 1997)
    assert(yearFiles() < filesBefore,
      "year-dir compaction merged nothing")
    assert(yAfter.count() == perYear, "year-dir compaction lost rows")
    val othersAfter = graft.util.ManifestLog.read(spark, root)
      .filter(col("order_year") =!= 1997)
    assert(othersAfter.count() == (years - 1) * perYear, "compaction touched other years")
  }

  test("the bucket pair stays exchange-free and row-exact with multi-file buckets") {
    val li = syntheticLineitem(5000L)
    val orders = spark.range(2000L).toDF("o_orderkey")
      .withColumn("o_custkey", col("o_orderkey") % 300)
      .withColumn("o_orderstatus",
        when(col("o_orderkey") % 3 === 0, "F").otherwise("O"))
      .withColumn("o_orderdate",
        timestamp_micros(lit(baseUs) + col("o_orderkey") * 86400000000L)
          .cast("timestamp_ntz"))
      .withColumn("o_totalprice", col("o_orderkey").cast("double") * 1.5)
      // r22: the orderkey projection grew o_orderpriority (q137).
      .withColumn("o_orderpriority",
        when(col("o_orderkey") % 5 === 0, "1-URGENT").otherwise("3-MEDIUM"))
    // Two segments per layout, split so both segments hit EVERY bucket
    // (key mod 2 is independent of the bucket hash) — the one-shot
    // bucketed build (the orderkey pair's 32 buckets) commits one file
    // per bucket per segment, as the li-ok-pair layout does per year.
    def pair(df: DataFrame, key: String, name: String): String = {
      val root = s"${tempCorpusDir(s"graft_seg_$name")}/t"
      graft.util.BucketedManifest.build(
        Seq(df.filter(col(key) % 2 === 0), df.filter(col(key) % 2 === 1)), root, Seq(key), 32)
      root
    }
    val liRoot = pair(li, "l_orderkey", "li")
    val bktLi = graft.util.BucketedManifest.read(spark, liRoot)
    val bktOrd = graft.util.BucketedManifest.read(spark, pair(orders, "o_orderkey", "ord"))
    // Multi-file buckets genuinely exercised: more files than buckets.
    assert(bktLi.inputFiles.length > 32,
      s"lineitem buckets are single-file (${bktLi.inputFiles.length}) — the build wrote no second segment")
    // Row fidelity: the segmented table is a re-clustering of the union.
    assert(rows(bktLi) == rows(li))
    assert(bktOrd.count() == orders.count())
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = bktLi.join(bktOrd, col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"multi-file buckets broke co-location:\n$plan")
      // A row landing in the WRONG bucket file would silently drop join
      // matches here — count equality proves the name-suffix mapping.
      assert(joined.count() ==
        li.join(orders, col("l_orderkey") === col("o_orderkey")).count())
      // The q49 shape: a keyed aggregation must also consume the
      // multi-file bucketed scan's distribution with no exchange.
      val agg = bktLi.groupBy("l_orderkey").agg(sum("l_quantity"))
      assert(!agg.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning"),
        "multi-file buckets broke the exchange-free keyed aggregation")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("events-us-log boundary pruning survives a segment append") {
    val n = 40000L
    val ev = spark.range(n).toDF("event_id")
      .withColumn("user_id", col("event_id") % 500)
      .withColumn("ts_us", lit(baseUs) + col("event_id") * 1000000L)
      .withColumn("event_type",
        when(col("event_id") % 2 === 0, "view").otherwise("click"))
      .select("user_id", "ts_us", "event_id", "event_type")
    val splitUs = baseUs + (n * 8 / 10) * 1000000L
    val root = s"${tempCorpusDir("graft_seg_evlog")}/events-us-log"
    graft.util.ManifestLog.create(spark, root)
    Events.appendEventsUsLogSegment(spark, root, ev.filter(col("ts_us") < splitUs))
    Events.appendEventsUsLogSegment(spark, root, ev.filter(col("ts_us") >= splitUs))
    val log = graft.util.ManifestLog.read(spark, root)
    assert(log.inputFiles.length > shufflePartitions)
    val cutoff = baseUs + (n * 9 / 10) * 1000000L
    val qe = log.filter(col("ts_us") >= cutoff).queryExecution
    assert(qe.executedPlan.execute().count() == n / 10)
    val scanRows = qe.executedPlan.collectLeaves()
      .map(_.metrics("numOutputRows").value).sum
    assert(scanRows < n / 2,
      s"scan emitted $scanRows of $n rows — segment append broke ts pruning")
  }

  test("q46/q47/q151 answer identically over one-shot and segment-appended layouts") {
    val sf = "/root/testdata/sf0.001"
    val queries = Seq("q46_tpch_q6", "q47_tpch_q3", "q151_partsupp_merge")
    // Expected: the one-shot artifact path on the pristine corpus.
    val expected = queries.map(q => q -> rows(graft.SparkEntry.queries(q)(spark, sf)))
    // A byte-identical corpus COPY gets its layouts built by
    // segment-append (80%/20% date split), installed over the copy's
    // artifact keys — then the same queries run against it. Copying
    // keeps the pristine dir's memoized one-shot artifacts intact for
    // every other suite in this JVM.
    val dir = tempCorpusDir("graft_seg_corpus")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    Seq("lineitem", "orders", "customer").foreach { t =>
      org.apache.hadoop.fs.FileUtil.copy(
        fs, new org.apache.hadoop.fs.Path(s"$sf/$t.parquet"),
        fs, new org.apache.hadoop.fs.Path(s"$dir/$t.parquet"),
        false, spark.sparkContext.hadoopConfiguration)
    }
    val n = shufflePartitions
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val orders = spark.read.parquet(s"$dir/orders.parquet")

    // lineitem-sd-log: 80/20 ship-date split, nulls ride the base.
    val liSplit = li.agg(
      min(unix_micros(col("l_shipdate").cast("timestamp"))),
      max(unix_micros(col("l_shipdate").cast("timestamp")))).head()
    val liCut = timestamp_micros(
      lit(liSplit.getLong(0) + (liSplit.getLong(1) - liSplit.getLong(0)) * 8 / 10))
    val sdRoot = s"${tempCorpusDir("graft_seg_sd")}/lineitem-sd-log"
    graft.util.ManifestLog.create(spark, sdRoot)
    Relational.appendLineitemSdLogSegment(
      spark, sdRoot, li.filter(coalesce(col("l_shipdate") < liCut, lit(true))))
    Relational.appendLineitemSdLogSegment(
      spark, sdRoot, li.filter(col("l_shipdate") >= liCut))
    assert(graft.util.ManifestLog.read(spark, sdRoot).inputFiles.length > n,
      "sd-log is not multi-segment")
    graft.util.Snapshots.install(spark, dir, s"lineitem-sd-log-n$n", sdRoot)

    // orders-by-year: 80/20 order-date split.
    val oSplit = orders.agg(
      min(unix_micros(col("o_orderdate").cast("timestamp"))),
      max(unix_micros(col("o_orderdate").cast("timestamp")))).head()
    val oCut = timestamp_micros(
      lit(oSplit.getLong(0) + (oSplit.getLong(1) - oSplit.getLong(0)) * 8 / 10))
    val obyRoot = s"${tempCorpusDir("graft_seg_ob")}/orders-by-year"
    graft.util.ManifestLog.create(spark, obyRoot)
    Relational.appendOrdersByYearSegment(
      spark, obyRoot, orders.filter(coalesce(col("o_orderdate") < oCut, lit(true))))
    Relational.appendOrdersByYearSegment(
      spark, obyRoot, orders.filter(col("o_orderdate") >= oCut))
    graft.util.Snapshots.install(spark, dir, s"orders-by-year-n$n", obyRoot)

    queries.zip(expected).foreach { case (q, (_, exp)) =>
      val got = rows(graft.SparkEntry.queries(q)(spark, dir))
      assert(got == exp, s"$q diverged between one-shot and segmented layouts")
    }
  }

  test("q46/q47 hold over a MANIFEST-committed sd-log through compaction and vacuum") {
    val sf = "/root/testdata/sf0.001"
    val queries = Seq("q46_tpch_q6", "q47_tpch_q3")
    val expected = queries.map(q => q -> rows(graft.SparkEntry.queries(q)(spark, sf)))
    val dir = tempCorpusDir("graft_mseg_corpus")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    Seq("lineitem", "orders", "customer").foreach { t =>
      org.apache.hadoop.fs.FileUtil.copy(
        fs, new org.apache.hadoop.fs.Path(s"$sf/$t.parquet"),
        fs, new org.apache.hadoop.fs.Path(s"$dir/$t.parquet"),
        false, spark.sparkContext.hadoopConfiguration)
    }
    val n = shufflePartitions
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val liSplit = li.agg(
      min(unix_micros(col("l_shipdate").cast("timestamp"))),
      max(unix_micros(col("l_shipdate").cast("timestamp")))).head()
    val liCut = timestamp_micros(
      lit(liSplit.getLong(0) + (liSplit.getLong(1) - liSplit.getLong(0)) * 8 / 10))
    val sdRoot = s"${tempCorpusDir("graft_mseg_sd")}/lineitem-sd-log"
    // The first segment is a one-shot build; ADOPTING it turns every
    // later maintenance call into a manifest commit (the path an
    // in-production layout takes).
    Relational.sdLogFrame(li.filter(coalesce(col("l_shipdate") < liCut, lit(true))), n)
      .write.parquet(sdRoot)
    graft.util.ManifestLog.adopt(spark, sdRoot)
    Relational.appendLineitemSdLogSegment(
      spark, sdRoot, li.filter(col("l_shipdate") >= liCut))
    assert(graft.util.ManifestLog.currentVersion(spark, sdRoot) == 2L)
    graft.util.Snapshots.install(spark, dir, s"lineitem-sd-log-n$n", sdRoot)

    // Queries built NOW pin generation v2's exact file set.
    val pinned = queries.map(q => q -> graft.SparkEntry.queries(q)(spark, dir))
    pinned.zip(expected).foreach { case ((q, df), (_, exp)) =>
      assert(rows(df) == exp, s"$q diverged over the manifested sd-log")
    }
    // Maintenance runs UNDER the pinned readers: compact the whole
    // span, then vacuum keeping the pinned generation readable.
    graft.util.ManifestLog.compactRange(spark, sdRoot, "", "l_shipdate_us",
      liSplit.getLong(0), liSplit.getLong(1) + 1L)
    graft.util.ManifestLog.vacuum(spark, sdRoot, keepLast = 2)
    pinned.zip(expected).foreach { case ((q, df), (_, exp)) =>
      assert(rows(df) == exp,
        s"$q: a reader pinned pre-compaction lost its generation")
    }
    // Fresh plans resolve the compacted generation and still agree.
    queries.zip(expected).foreach { case (q, (_, exp)) =>
      assert(rows(graft.SparkEntry.queries(q)(spark, dir)) == exp,
        s"$q diverged after compaction+vacuum of the manifested sd-log")
    }
  }

  test("the incremental boundary read plans only a manifested log's overlapping files") {
    val sf = "/root/testdata/sf0.001"
    val dir = tempCorpusDir("graft_mslice_corpus")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new org.apache.hadoop.fs.Path(s"$sf/lineitem.parquet"),
      fs, new org.apache.hadoop.fs.Path(s"$dir/lineitem.parquet"),
      false, spark.sparkContext.hadoopConfiguration)
    val n = shufflePartitions
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val liSplit = li.agg(
      min(unix_micros(col("l_shipdate").cast("timestamp"))),
      max(unix_micros(col("l_shipdate").cast("timestamp")))).head()
    val cutUs = liSplit.getLong(0) + (liSplit.getLong(1) - liSplit.getLong(0)) * 8 / 10
    val liCut = timestamp_micros(lit(cutUs))
    val sdRoot = s"${tempCorpusDir("graft_mslice_sd")}/lineitem-sd-log"
    Relational.sdLogFrame(li.filter(coalesce(col("l_shipdate") < liCut, lit(true))), n)
      .write.parquet(sdRoot)
    graft.util.ManifestLog.adopt(spark, sdRoot, boundCol = Some("l_shipdate_us"))
    Relational.appendLineitemSdLogSegment(
      spark, sdRoot, li.filter(col("l_shipdate") >= liCut))
    graft.util.Snapshots.install(spark, dir, s"lineitem-sd-log-n$n", sdRoot)
    val total = graft.util.ManifestLog.read(spark, sdRoot).inputFiles.length
    val since = Relational.lineitemSince(spark, dir, cutUs)
    // Plan-time file pruning: the first segment's stats-bearing files
    // (wholly below the cutoff) never reach the scan. Null-ship-date
    // files are stats-less and always ride along.
    assert(since.inputFiles.length < total,
      s"boundary read planned all $total files of the manifested log")
    // Row fidelity against the unsliced read's filter.
    val expect = graft.util.ManifestLog.read(spark, sdRoot)
      .filter(col("l_shipdate_us") >= cutUs || col("l_shipdate_us").isNull)
      .count()
    assert(since.count() == expect, "the sliced boundary read lost rows")
  }

  test("the SCD2 family answers identically over a segment-appended events log") {
    // events-us-log is the UPSTREAM of derived artifacts (scd2-hwm,
    // scd2-base build FROM it), so installing a segmented log on a
    // corpus copy exercises the whole derivation chain over segments.
    val sf = "/root/testdata/sf0.001"
    val queries = Seq("q145_scd2_merge", "q148_snapshot_drift", "q149_scd2_lookup")
    val expected = queries.map(q => rows(graft.SparkEntry.queries(q)(spark, sf)))
    val dir = tempCorpusDir("graft_seg_events")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new org.apache.hadoop.fs.Path(s"$sf/events.parquet"),
      fs, new org.apache.hadoop.fs.Path(s"$dir/events.parquet"),
      false, spark.sparkContext.hadoopConfiguration)
    val ev = Events.eventsUs(spark, dir)
    val span = ev.agg(min("ts_us"), max("ts_us")).head()
    val cut = span.getLong(0) + (span.getLong(1) - span.getLong(0)) * 8 / 10
    val root = s"${tempCorpusDir("graft_seg_evroot")}/events-us-log"
    graft.util.ManifestLog.create(spark, root)
    Events.appendEventsUsLogSegment(spark, root, ev.filter(col("ts_us") < cut))
    Events.appendEventsUsLogSegment(spark, root, ev.filter(col("ts_us") >= cut))
    assert(graft.util.ManifestLog.read(spark, root).inputFiles.length > shufflePartitions,
      "events log is not multi-segment")
    graft.util.Snapshots.install(spark, dir, s"events-us-log-n$shufflePartitions", root)
    queries.zip(expected).foreach { case (q, exp) =>
      val got = rows(graft.SparkEntry.queries(q)(spark, dir))
      assert(got == exp, s"$q diverged over the segmented events log")
    }
  }

  test("the SCD2 family holds over a MANIFESTED events log through an identity restatement") {
    val sf = "/root/testdata/sf0.001"
    val queries = Seq("q145_scd2_merge", "q148_snapshot_drift", "q149_scd2_lookup")
    val expected = queries.map(q => rows(graft.SparkEntry.queries(q)(spark, sf)))
    val dir = tempCorpusDir("graft_mseg_events")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new org.apache.hadoop.fs.Path(s"$sf/events.parquet"),
      fs, new org.apache.hadoop.fs.Path(s"$dir/events.parquet"),
      false, spark.sparkContext.hadoopConfiguration)
    val ev = Events.eventsUs(spark, dir)
    val span = ev.agg(min("ts_us"), max("ts_us")).head()
    val cut = span.getLong(0) + (span.getLong(1) - span.getLong(0)) * 8 / 10
    val root = s"${tempCorpusDir("graft_mseg_evroot")}/events-us-log"
    Events.usLogFrame(ev.filter(col("ts_us") < cut), shufflePartitions).write.parquet(root)
    graft.util.ManifestLog.adopt(spark, root)
    Events.appendEventsUsLogSegment(spark, root, ev.filter(col("ts_us") >= cut))
    graft.util.Snapshots.install(spark, dir, s"events-us-log-n$shufflePartitions", root)
    // SCD2's derived artifacts (hwm, base) build FROM the manifested
    // log — the whole derivation chain reads through the manifest.
    val pinned = queries.map(q => graft.SparkEntry.queries(q)(spark, dir))
    pinned.zip(expected).foreach { case (df, exp) =>
      assert(rows(df) == exp, "SCD2 diverged over the manifested events log")
    }
    // The second segment's grain is rewritten with identical content
    // (the equality-preserving probe): a compaction restages exactly
    // that grain's rows as new files and supersedes its old ones.
    val v = graft.util.ManifestLog.currentVersion(spark, root)
    graft.util.ManifestLog.compactRange(spark, root, "", "ts_us",
      cut, span.getLong(1) + 1L)
    assert(graft.util.ManifestLog.currentVersion(spark, root) == v + 1,
      "the grain rewrite committed no generation")
    graft.util.ManifestLog.vacuum(spark, root, keepLast = 2)
    pinned.zip(expected).foreach { case (df, exp) =>
      assert(rows(df) == exp,
        "a reader pinned before the rewrite lost its generation")
    }
    queries.zip(expected).foreach { case (q, exp) =>
      assert(rows(graft.SparkEntry.queries(q)(spark, dir)) == exp,
        s"$q diverged after a manifest-committed grain rewrite")
    }
  }

  test("q47/q48 hold over a MANIFESTED orders-by-year layout with per-year compaction") {
    val sf = "/root/testdata/sf0.001"
    val queries = Seq("q47_tpch_q3", "q48_partition_pruned")
    val expected = queries.map(q => rows(graft.SparkEntry.queries(q)(spark, sf)))
    val dir = tempCorpusDir("graft_mseg_orders")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    Seq("lineitem", "orders", "customer").foreach { t =>
      org.apache.hadoop.fs.FileUtil.copy(
        fs, new org.apache.hadoop.fs.Path(s"$sf/$t.parquet"),
        fs, new org.apache.hadoop.fs.Path(s"$dir/$t.parquet"),
        false, spark.sparkContext.hadoopConfiguration)
    }
    val n = shufflePartitions
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val oSplit = orders.agg(
      min(unix_micros(col("o_orderdate").cast("timestamp"))),
      max(unix_micros(col("o_orderdate").cast("timestamp")))).head()
    val oCut = timestamp_micros(
      lit(oSplit.getLong(0) + (oSplit.getLong(1) - oSplit.getLong(0)) * 8 / 10))
    val root = s"${tempCorpusDir("graft_mseg_oroot")}/orders-by-year"
    Relational.ordersYearFrame(
        orders.filter(coalesce(col("o_orderdate") < oCut, lit(true))), n)
      .write.partitionBy("order_year").parquet(root)
    graft.util.ManifestLog.adopt(spark, root)
    Relational.appendOrdersByYearSegment(
      spark, root, orders.filter(col("o_orderdate") >= oCut))
    graft.util.Snapshots.install(spark, dir, s"orders-by-year-n$n", root)
    queries.zip(expected).foreach { case (q, exp) =>
      assert(rows(graft.SparkEntry.queries(q)(spark, dir)) == exp,
        s"$q diverged over the manifested orders-by-year layout")
    }
    // Compact every year directory the two segments both wrote into,
    // through the manifest-native per-partition API, then vacuum.
    val years = graft.util.ManifestLog.read(spark, root).inputFiles
      .flatMap(_.split('/').find(_.startsWith("order_year="))).distinct
    years.foreach { y =>
      graft.util.ManifestLog.compactRange(spark, root, y, "o_orderdate_us",
        Long.MinValue, Long.MaxValue)
    }
    graft.util.ManifestLog.vacuum(spark, root)
    queries.zip(expected).foreach { case (q, exp) =>
      assert(rows(graft.SparkEntry.queries(q)(spark, dir)) == exp,
        s"$q diverged after per-year compaction of the manifested layout")
    }
  }
}
