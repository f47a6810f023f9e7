package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Scan-metrics proof for the ship-date-sorted lineitem layout — the
  * EventsLoaderSpec row-group test applied to the fact table.
  * "PushedFilters" in the plan proves the source ACCEPTED a predicate;
  * this proves it PRUNES. It cannot be taken on faith: measured on this
  * exact Spark, a date-boundary filter on the raw TIMESTAMP_NTZ
  * l_shipdate is accepted yet NEVER becomes a parquet row-group
  * predicate (ParquetFilters converts only UTC-adjusted annotations),
  * so the raw scan decodes all of history to drop 80% of it. The
  * at-rest ship-date-sorted BIGINT-micros log exists precisely to close
  * that hole for the date-bounded lineitem family (q46/q120/q151's
  * batch read and the partsupp-hwm/base ingest chain).
  */
class LineitemLayoutSpec extends SparkTestBase with graft.TempCorpusDirs {

  private val baseUs = java.time.LocalDate.parse("1996-01-01").toEpochDay * 86400000000L

  /** One NTZ-dated synthetic fact table: 50k rows, one second apart. */
  private def writeCorpus(dir: String, n: Long): Unit =
    spark.range(n).toDF("l_orderkey")
      .withColumn("l_partkey", col("l_orderkey") % 200)
      .withColumn("l_suppkey", col("l_orderkey") % 50)
      .withColumn("l_quantity", (col("l_orderkey") % 7).cast("double"))
      .withColumn("l_extendedprice", lit(10.5))
      .withColumn("l_shipdate",
        timestamp_micros(lit(baseUs) + col("l_orderkey") * 1000000L)
          .cast("timestamp_ntz"))
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")

  test("the ship-date boundary actually prunes row groups of the sorted log") {
    // Filtered to the last ~20% of the ship-date span, the scan must
    // emit far fewer rows than the corpus holds — ≈full-count means the
    // boundary silently stopped pruning (fine at sf0.01, melts on
    // 100 TB). The log's N range-partitioned files each cover a tight
    // disjoint date range, so the BIGINT cutoff skips every group
    // entirely below it.
    val n = 50000L
    val dir = tempCorpusDir("graft_li_rg")
    writeCorpus(dir, n)
    val cutoff = baseUs + (n * 8 / 10) * 1000000L
    val qe = Relational.lineitemSince(spark, dir, cutoff).queryExecution
    // Drive THIS plan instance so its metrics accumulate (a fresh
    // count() would execute a different plan object).
    assert(qe.executedPlan.execute().count() == n / 5)
    val scanRows = qe.executedPlan.collectLeaves()
      .map(_.metrics("numOutputRows").value).sum
    assert(scanRows < n / 2,
      s"scan emitted $scanRows of $n rows — the boundary literal is not pruning row groups")
    // And the boundary really is the convertible BIGINT form (inside
    // the null-keeping Or — see q151's batch semantics).
    val pushed = qe.executedPlan.toString.linesIterator
      .find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate_us"),
      s"cutoff not pushed into the log scan: $pushed")
  }

  test("the log holds the same rows as the raw table, ship date exact to the micro") {
    // The layout is a re-clustering, not a transformation: every row
    // survives with l_shipdate_us equal to the NTZ instant's micros
    // (UTC session), including the null-date rows q151's batch keeps.
    val dir = tempCorpusDir("graft_li_roundtrip")
    val rows = Seq(
      (1L, Some("1996-03-15")), (2L, Some("1997-11-30")),
      (3L, None), (4L, Some("1996-03-15")),
    )
    import sqlImplicits._
    rows.toDF("l_orderkey", "d")
      .withColumn("l_shipdate", to_timestamp(col("d")).cast("timestamp_ntz"))
      .drop("d")
      .write.parquet(s"$dir/lineitem.parquet")
    val got = Relational.lineitemSdLog(spark, dir)
      .select("l_orderkey", "l_shipdate_us")
      .as[(Long, Option[Long])].collect().toSeq.sortBy(_._1)
    def us(d: String) = java.time.LocalDate.parse(d).toEpochDay * 86400000000L
    assert(got == Seq(
      1L -> Some(us("1996-03-15")), 2L -> Some(us("1997-11-30")),
      3L -> None, 4L -> Some(us("1996-03-15"))))
  }

  test("the orderkey co-location pair preserves every row and joins with no key exchange") {
    // The bucketed layouts are re-clusterings too: full-width lineitem
    // and the orders projection must hold exactly the raw rows
    // (duplicates included — a lost or doubled row here corrupts every
    // co-located query silently). And the pair must actually co-locate:
    // joined on the bucket key with broadcasts disabled, the plan may
    // not hash-repartition either side.
    val dir = tempCorpusDir("graft_li_bkt")
    // writeCorpus's rows are range-derived and therefore all UNIQUE —
    // append an exact copy of every 50th row so the multiset check
    // below really can catch a deduplicating re-clustering.
    val base = spark.range(5000L).toDF("l_orderkey")
      .withColumn("l_partkey", col("l_orderkey") % 200)
      .withColumn("l_suppkey", col("l_orderkey") % 50)
      .withColumn("l_quantity", (col("l_orderkey") % 7).cast("double"))
      .withColumn("l_extendedprice", lit(10.5))
      .withColumn("l_shipdate",
        timestamp_micros(lit(baseUs) + col("l_orderkey") * 1000000L)
          .cast("timestamp_ntz"))
    base.unionAll(base.filter(col("l_orderkey") % 50 === 0))
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    spark.range(2000L).toDF("o_orderkey")
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
      .coalesce(1).write.parquet(s"$dir/orders.parquet")

    val rawLi = spark.read.parquet(s"$dir/lineitem.parquet")
    val bktLi = Relational.lineitemBucketed(spark, dir)
    assert(bktLi.columns.sorted.toSeq == rawLi.columns.sorted.toSeq)
    assert(rawLi.exceptAll(bktLi.select(rawLi.columns.map(col).toSeq: _*)).isEmpty
      && bktLi.select(rawLi.columns.map(col).toSeq: _*).exceptAll(rawLi).isEmpty,
      "bucketed lineitem is not a row-exact re-clustering")

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = bktLi.join(Relational.ordersBucketed(spark, dir),
        col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"co-located join repartitioned a side:\n$plan")
      // Same answer as the raw-vs-raw join.
      val expected = rawLi.join(spark.read.parquet(s"$dir/orders.parquet"),
        col("l_orderkey") === col("o_orderkey")).count()
      assert(joined.count() == expected)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("the adopted sd-log skips whole FILES at plan time from pushed bounds") {
    // The r15 ask, now the default read path: the memoized one-shot
    // build self-adopts (a ManifestLog manifest recording per-file
    // l_shipdate_us ranges — one footer pass at build time) and flat
    // manifested artifacts read through the stats-aware FileIndex, so
    // a consumer's ORDINARY .filter bounds prune whole files at PLAN
    // time — the file-level layer above the row-group pruning the
    // older spec proves. The log is exactly N range-disjoint files
    // (N = shuffle partitions), and a bound selecting the last ~20%
    // of the span must plan strictly fewer than N.
    val n = 50000L
    val dir = tempCorpusDir("graft_li_fileskip")
    writeCorpus(dir, n)
    val cutoff = baseUs + (n * 8 / 10) * 1000000L
    val sliced = Relational.lineitemSdLog(spark, dir)
      .filter(col("l_shipdate_us") >= cutoff)
    val qe = sliced.queryExecution
    assert(qe.executedPlan.execute().count() == n / 5)
    val scans = qe.executedPlan.collectLeaves().collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty, "no file scan in the sliced plan")
    val totalFiles = spark.sessionState.conf
      .getConf(org.apache.spark.sql.internal.SQLConf.SHUFFLE_PARTITIONS)
    val planned = scans.map(_.metrics("numFiles").value).sum
    assert(planned < totalFiles,
      s"planned $planned of $totalFiles log files — manifest stats are not file-skipping")
  }

  test("the manifested pair layout survives corpus drift and marks completion") {
    // Two r16 ADVICE defects pinned at once: (1) ship years straddling
    // far outside the classic 1995–2001 window, plus a null date — the
    // pre-r17 hard-coded year loop silently DROPPED the drifted rows;
    // bounds now derive from the corpus ship years, and the build
    // checks staged == source rows before it commits. (2) The whole
    // build is ONE generation-1 commit: a build made of per-year
    // commits could leave a prefix that a later session accepted as
    // complete, under-counting q157 forever after.
    val dir = tempCorpusDir("graft_li_pair_drift")
    import sqlImplicits._
    Seq(
      (1L, 101.01, 0.05, "N", Some("1992-06-01")),
      (2L, 202.02, 0.00, "R", Some("2005-12-31")),
      (3L, 303.03, 0.10, "A", None),
      (4L, 404.04, 0.02, "N", Some("1998-01-01")),
      (5L, 404.04, 0.02, "N", Some("1998-01-01")), // duplicate-row content
    ).toDF("l_orderkey", "l_extendedprice", "l_discount", "l_returnflag", "d")
      .withColumn("l_shipdate", to_timestamp(col("d")).cast("timestamp_ntz"))
      .drop("d").coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    val root = Relational.lineitemPairManifested(spark, dir)
    val got = graft.util.BucketedManifest.read(spark, root)
    assert(got.count() == 5,
      "year loop dropped drifted or null-dated rows from the pair layout")
    assert(got.filter(col("l_shipdate").isNull).count() == 1)
    assert(graft.util.ManifestLog.versions(spark, root) == Seq(1L),
      "the build is not one committed generation — a torn build could be reused as complete")
  }

  test("a 9999-12-31 sentinel ship date costs one extra batch, not a crash") {
    // r18 advice: the distinct-year iteration exists precisely to make
    // an SCD-style open-ended sentinel date cheap (one extra batch
    // instead of thousands of empty year segments) — but its y+1
    // boundary went through a string parse, and ISO-8601 rejects
    // "10000-01-01" without a leading '+', so the very sentinel the
    // design advertises crashed the build. Boundaries are numeric now
    // ([[Relational.yearStartUs]]); this drill plants the sentinel.
    assert(Relational.yearStartUs(10000) > Relational.yearStartUs(9999),
      "year-10000 boundary must compute numerically, not parse")
    val dir = tempCorpusDir("graft_li_pair_sentinel")
    import sqlImplicits._
    Seq(
      (1L, 101.01, 0.05, "N", "1997-06-01"),
      (2L, 202.02, 0.00, "R", "9999-12-31"), // SCD open-ended sentinel
      (3L, 303.03, 0.10, "A", "1997-07-04"),
    ).toDF("l_orderkey", "l_extendedprice", "l_discount", "l_returnflag", "d")
      .withColumn("l_shipdate", to_timestamp(col("d")).cast("timestamp_ntz"))
      .drop("d").coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    val root = Relational.lineitemPairManifested(spark, dir)
    val got = graft.util.BucketedManifest.read(spark, root)
    assert(got.count() == 3, "sentinel-dated row lost from the pair layout")
    assert(got.filter(year(col("l_shipdate")) === 9999).count() == 1)
    assert(graft.util.ManifestLog.versions(spark, root) == Seq(1L))
  }

  test("a pair build whose staged rows fall short of the source throws and commits nothing") {
    // The row check runs on the staged files' footer counts BEFORE the
    // commit: segments that miss a year (a wrong year predicate) must
    // never become a committed layout that under-counts q157.
    val dir = tempCorpusDir("graft_li_pair_short")
    import sqlImplicits._
    val li = Seq(
      (1L, 101.01, 0.05, "N", "1997-06-01"),
      (2L, 202.02, 0.00, "R", "1998-03-01"),
      (3L, 303.03, 0.10, "A", "1998-07-04"),
    ).toDF("l_orderkey", "l_extendedprice", "l_discount", "l_returnflag", "d")
      .withColumn("l_shipdate", to_timestamp(col("d")).cast("timestamp_ntz"))
      .drop("d")
    val root = s"$dir/pair"
    val e = intercept[IllegalArgumentException] {
      graft.util.BucketedManifest.build(Seq(li.where(year(col("l_shipdate")) === 1998)),
        root, Seq("l_orderkey"), 4, Seq("l_shipdate"), Some(li.count()))
    }
    assert(e.getMessage.contains("staged 2 of 3 source rows"), e.getMessage)
    assert(graft.util.ManifestLog.versions(spark, root).isEmpty,
      "a short build committed a generation")
  }
}
