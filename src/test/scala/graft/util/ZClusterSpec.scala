package graft.util

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Multi-dimensional data skipping: [[ManifestLog.cluster]] (Z-order
  * rewrite with per-column manifest stats) and [[ManifestLog.readSliceN]]
  * (conjunctive slice planning). The fixture is the shape the feature
  * exists for — an event grid spanning a time dimension AND a tenant
  * dimension, where a time-sorted layout answers time slices from few
  * files but scans everything for a tenant-constrained slice.
  */
class ZClusterSpec extends SparkTestBase with graft.TempCorpusDirs {
  import sqlImplicits._

  /** 64k-row grid: ts 0..65535, uid cycles 0..255 — every file of a
    * ts-sorted layout spans the whole uid domain. Built as a manifested
    * log of 8 ts-sorted segments.
    */
  private def freshGrid(): (String, Long) = {
    val root = s"${tempCorpusDir("graft_zc")}/log"
    ManifestLog.create(spark, root)
    (0 until 8).foreach { i =>
      ManifestLog.appendSorted(
        spark.range(i * 8192L, (i + 1) * 8192L)
          .select(col("id").as("ts"), (col("id") % 256L).as("uid"),
            (col("id") * 31L % 997L).as("v"))
          .coalesce(1).sortWithinPartitions("ts"),
        root, Nil, Some("ts"))
    }
    (root, 65536L)
  }

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("ts", "uid", "v").collect().map(_.mkString("|")).toSeq.sorted

  test("cluster() is row-neutral and records per-file stats for every cluster column") {
    val (root, n) = freshGrid()
    val before = canon(ManifestLog.read(spark, root))
    ManifestLog.cluster(spark, root, Seq("ts", "uid"), targetFileRows = 4096L)
    assert(canon(ManifestLog.read(spark, root)) == before,
      "clustering changed the row multiset")
    val entries = ManifestLog.currentEntries(spark, root)
    assert(entries.length == (n / 4096L).toInt,
      s"targetFileRows should size the output: got ${entries.length} files")
    entries.foreach { e =>
      assert(e.statFor("ts").isDefined && e.statFor("uid").isDefined,
        s"entry ${e.path} is missing a cluster column's stats: ${e.stats}")
    }
    val (_, op, _) = ManifestLog.describe(spark, root).last
    assert(op == "cluster")
  }

  test("multi-stat manifest lines round-trip and stay v1-compatible for single stats") {
    val (root, _) = freshGrid()
    ManifestLog.cluster(spark, root, Seq("ts", "uid"), targetFileRows = 8192L)
    // Re-read through a fresh parse (currentEntries re-reads the file):
    // every entry must carry BOTH columns after the disk round-trip.
    val entries = ManifestLog.currentEntries(spark, root)
    assert(entries.forall(e => e.stats.map(_._1).toSet == Set("ts", "uid")))
    // And the single-stat append path still emits parseable v1 lines:
    // appending a ts-only segment after clustering mixes line arities
    // in ONE manifest.
    ManifestLog.appendSorted(
      Seq((100000L, 1L, 1L)).toDF("ts", "uid", "v")
        .coalesce(1).sortWithinPartitions("ts"),
      root, Nil, Some("ts"))
    val mixed = ManifestLog.currentEntries(spark, root)
    assert(mixed.exists(_.stats.length == 2) && mixed.exists(_.stats.length == 1),
      "expected mixed stat arities in one manifest")
  }

  test("readSliceN prunes on every clustered dimension, and the slice answers exactly") {
    val (root, _) = freshGrid()
    ManifestLog.cluster(spark, root, Seq("ts", "uid"), targetFileRows = 4096L)
    val total = ManifestLog.currentEntries(spark, root).length
    val full = ManifestLog.read(spark, root)
      .where(col("ts") >= 10000L && col("ts") < 20000L &&
        col("uid") >= 32L && col("uid") < 64L)
    // 2-D box: both predicates prune files (the Z property); a
    // 1-D-sorted layout could prune on at most one of them.
    val sliced = ManifestLog.readSliceN(spark, root,
      Seq(("ts", 10000L, 20000L), ("uid", 32L, 64L)))
      .where(col("ts") >= 10000L && col("ts") < 20000L &&
        col("uid") >= 32L && col("uid") < 64L)
    assert(sliced.inputFiles.length < total,
      s"2-D slice planned every file ($total) — no pruning")
    assert(canon(sliced) == canon(full))
    // Each single dimension prunes on its own too.
    val tsOnly = ManifestLog.readSliceN(spark, root, Seq(("ts", 0L, 8192L)))
    assert(tsOnly.inputFiles.length < total, "ts-only slice did not prune")
    val uidOnly = ManifestLog.readSliceN(spark, root, Seq(("uid", 0L, 32L)))
    assert(uidOnly.inputFiles.length < total, "uid-only slice did not prune")
  }

  test("pruned files are never touched: a parked file outside the slice does not fail the read") {
    val (root, _) = freshGrid()
    ManifestLog.cluster(spark, root, Seq("ts", "uid"), targetFileRows = 4096L)
    val (p, fs) = ManifestLog.hadoop(spark, root)
    val picked = ManifestLog.currentEntries(spark, root)
      .filter(e => Seq(("ts", 0L, 8192L), ("uid", 0L, 32L))
        .forall { case (c, lo, hi) => e.mayOverlap(c, lo, hi) })
      .map(_.path).toSet
    val parked = ManifestLog.currentEntries(spark, root)
      .map(_.path).filterNot(picked)
    assert(parked.nonEmpty, "fixture must have prunable files")
    // Park every non-picked file: if the slice read ever touched one,
    // the scan would fail loudly.
    parked.foreach { rel =>
      val f = new org.apache.hadoop.fs.Path(p, rel)
      fs.rename(f, new org.apache.hadoop.fs.Path(p, s".parked-$rel"))
    }
    try {
      val got = ManifestLog.readSliceN(spark, root,
          Seq(("ts", 0L, 8192L), ("uid", 0L, 32L)))
        .where(col("ts") < 8192L && col("uid") < 32L)
      assert(got.count() == 8192L / 256L * 32L) // 32 uids × 32 hits/uid
    } finally parked.foreach { rel =>
      fs.rename(new org.apache.hadoop.fs.Path(p, s".parked-$rel"),
        new org.apache.hadoop.fs.Path(p, rel))
    }
  }

  test("pinned readers and time travel survive a cluster(); vacuum disposes the old layout") {
    val (root, _) = freshGrid()
    val pinned = ManifestLog.read(spark, root)
    val v0 = ManifestLog.currentVersion(spark, root)
    ManifestLog.cluster(spark, root, Seq("ts", "uid"), targetFileRows = 8192L)
    assert(pinned.count() == 65536L,
      "a plan built before cluster() must keep answering")
    assert(canon(ManifestLog.readAt(spark, root, v0)) ==
      canon(ManifestLog.read(spark, root)))
    val deleted = ManifestLog.vacuum(spark, root)
    assert(deleted.exists(_.endsWith(".parquet")),
      "vacuum should remove the superseded pre-cluster files")
    assert(ManifestLog.read(spark, root).count() == 65536L)
  }

  test("a crash before the cluster commit leaves the generation untouched; the retry converges") {
    val (root, _) = freshGrid()
    val v0 = ManifestLog.currentVersion(spark, root)
    val before = canon(ManifestLog.read(spark, root))
    ManifestLog.failpoint = {
      case "written:cluster" => throw new RuntimeException("chaos: die pre-commit")
      case _ => ()
    }
    try intercept[RuntimeException] {
      ManifestLog.cluster(spark, root, Seq("ts", "uid"))
    } finally ManifestLog.failpoint = _ => ()
    assert(ManifestLog.currentVersion(spark, root) == v0)
    assert(canon(ManifestLog.read(spark, root)) == before)
    // The strands are orphans; the retry commits one clustered state.
    ManifestLog.cluster(spark, root, Seq("ts", "uid"), targetFileRows = 8192L)
    assert(canon(ManifestLog.read(spark, root)) == before)
    ManifestLog.vacuum(spark, root)
    assert(canon(ManifestLog.read(spark, root)) == before)
  }

  test("cluster() is single-maintainer: a commit that loses the rename aborts loudly") {
    val (root, _) = freshGrid()
    // Simulate a concurrent append winning the race: at the cluster's
    // pre-commit failpoint, publish a competing manifest version.
    ManifestLog.failpoint = {
      case "written:cluster" =>
        ManifestLog.failpoint = _ => () // the inner append must not recurse
        ManifestLog.appendSorted(
          Seq((70000L, 5L, 5L)).toDF("ts", "uid", "v")
            .coalesce(1).sortWithinPartitions("ts"),
          root, Nil, Some("ts"))
      case _ => ()
    }
    try intercept[ManifestLog.CommitConflict] {
      ManifestLog.cluster(spark, root, Seq("ts", "uid"))
    } finally ManifestLog.failpoint = _ => ()
    // The competing append's row is live; re-invoking converges.
    ManifestLog.cluster(spark, root, Seq("ts", "uid"), targetFileRows = 8192L)
    assert(ManifestLog.read(spark, root).count() == 65537L)
  }

  test("an appender retries through a concurrent cluster commit (OCC race drill)") {
    // The other half of the race: the APPEND is mid-flight (files
    // staged, commit not yet attempted) when a cluster tick publishes
    // a competing generation. Appends are guard-free OCC — the commit
    // loop must re-read the moved version and land on top of the
    // cluster's generation, losing neither its own batch nor the
    // rewrite.
    val (root, _) = freshGrid()
    val v0 = ManifestLog.currentVersion(spark, root)
    ManifestLog.failpoint = {
      case "written:append" =>
        ManifestLog.failpoint = _ => () // the inner cluster must not recurse
        ManifestLog.cluster(spark, root, Seq("ts", "uid"), targetFileRows = 8192L)
      case _ => ()
    }
    try ManifestLog.appendSorted(
      Seq((70000L, 5L, 5L)).toDF("ts", "uid", "v")
        .coalesce(1).sortWithinPartitions("ts"),
      root, Nil, Some("ts"))
    finally ManifestLog.failpoint = _ => ()
    // Both commits landed, in order: the cluster's, then the append's.
    assert(ManifestLog.currentVersion(spark, root) == v0 + 2,
      "the appender must commit ON TOP of the concurrent cluster, not instead of it")
    assert(ManifestLog.read(spark, root).count() == 65537L)
    assert(ManifestLog.read(spark, root).where(col("ts") === 70000L).count() == 1L)
  }

  test("maintainClustered's tick loses loudly to a mid-tick append; re-invoking converges") {
    // The r15 drill: the MAINTENANCE tick (newcomers-only re-cluster)
    // computes its stale-file selection against one generation; an
    // append that wins the commit race makes that selection stale, so
    // the tick must abort with CommitConflict — never publish — and a
    // re-invocation against the new state must converge, sweeping the
    // racing append's (stats-less) file into the clustered layout.
    val (root, _) = freshGrid()
    ManifestLog.failpoint = {
      case "written:cluster" =>
        ManifestLog.failpoint = _ => ()
        ManifestLog.appendSorted(
          Seq((70000L, 5L, 5L)).toDF("ts", "uid", "v")
            .coalesce(1).sortWithinPartitions("ts"),
          root, Nil, Some("ts"))
      case _ => ()
    }
    try intercept[ManifestLog.CommitConflict] {
      ManifestLog.maintainClustered(spark, root, Seq("ts", "uid"),
        targetFileRows = 8192L, minNewFiles = 1)
    } finally ManifestLog.failpoint = _ => ()
    assert(ManifestLog.maintainClustered(spark, root, Seq("ts", "uid"),
      targetFileRows = 8192L, minNewFiles = 1),
      "the re-invoked tick found nothing to do — the racing append was lost")
    assert(ManifestLog.read(spark, root).count() == 65537L)
    // Convergence is total: every live file now carries stats for
    // every cluster column (nothing stat-less left behind).
    ManifestLog.currentEntries(spark, root).foreach { e =>
      assert(Seq("ts", "uid").forall(c => e.statFor(c).isDefined),
        s"stat-less survivor after convergence: ${e.path}")
    }
  }

  test("tailSince treats cluster like compaction: row-neutral, nothing re-emits") {
    val (root, _) = freshGrid()
    val cursor = ManifestLog.currentVersion(spark, root)
    ManifestLog.cluster(spark, root, Seq("ts", "uid"), targetFileRows = 8192L)
    ManifestLog.tailSince(spark, root, cursor) match {
      case ManifestLog.TailAppended(to, files) =>
        assert(files.isEmpty, s"cluster() re-emitted ${files.length} files to a tail consumer")
        assert(to == cursor + 1L)
      case other => fail(s"expected a quiet TailAppended, got $other")
    }
    // New appends after the cluster still flow.
    ManifestLog.appendSorted(
      Seq((70000L, 5L, 5L)).toDF("ts", "uid", "v")
        .coalesce(1).sortWithinPartitions("ts"),
      root, Nil, Some("ts"))
    ManifestLog.tailSince(spark, root, cursor + 1L) match {
      case ManifestLog.TailAppended(_, files) => assert(files.length == 1)
      case other => fail(s"expected the appended file, got $other")
    }
  }

  test("appends after a cluster stay correct: stats-less newcomers are admitted by every slice") {
    val (root, _) = freshGrid()
    ManifestLog.cluster(spark, root, Seq("ts", "uid"), targetFileRows = 4096L)
    // A new segment lands with ts-only stats (the append recipe).
    ManifestLog.appendSorted(
      spark.range(100000L, 100500L)
        .select(col("id").as("ts"), (col("id") % 256L).as("uid"),
          lit(1L).as("v"))
        .coalesce(1).sortWithinPartitions("ts"),
      root, Nil, Some("ts"))
    // A uid-only slice cannot prune the newcomer (no uid stats) — it
    // must be admitted and its matching rows answered.
    val got = ManifestLog.readSliceN(spark, root, Seq(("uid", 0L, 4L)))
      .where(col("uid") < 4L)
    val expect = ManifestLog.read(spark, root).where(col("uid") < 4L)
    assert(canon(got) == canon(expect))
  }

  test("maintainClustered re-clusters ONLY the newcomers; history passes by reference") {
    val (root, _) = freshGrid()
    ManifestLog.cluster(spark, root, Seq("ts", "uid"), targetFileRows = 4096L)
    val history = ManifestLog.currentEntries(spark, root).map(_.line).toSet
    // Below the threshold: no-op, no commit.
    ManifestLog.appendSorted(
      spark.range(100000L, 100100L)
        .select(col("id").as("ts"), (col("id") % 256L).as("uid"), lit(1L).as("v"))
        .coalesce(1).sortWithinPartitions("ts"),
      root, Nil, Some("ts"))
    val vBefore = ManifestLog.currentVersion(spark, root)
    assert(!ManifestLog.maintainClustered(spark, root, Seq("ts", "uid"),
      targetFileRows = 4096L, minNewFiles = 4))
    assert(ManifestLog.currentVersion(spark, root) == vBefore)
    // Three more stats-less segments cross the threshold.
    (1 to 3).foreach { i =>
      ManifestLog.appendSorted(
        spark.range(100000L + i * 1000L, 100100L + i * 1000L)
          .select(col("id").as("ts"), (col("id") % 256L).as("uid"), lit(1L).as("v"))
          .coalesce(1).sortWithinPartitions("ts"),
        root, Nil, Some("ts"))
    }
    val before = canon(ManifestLog.read(spark, root))
    assert(ManifestLog.maintainClustered(spark, root, Seq("ts", "uid"),
      targetFileRows = 4096L, minNewFiles = 4))
    val after = ManifestLog.currentEntries(spark, root)
    // Row-neutral, history lines byte-identical, newcomers now fully
    // statted (uid slices prune them again), and the tick is
    // idempotent — nothing left to cluster.
    assert(canon(ManifestLog.read(spark, root)) == before)
    assert(history.subsetOf(after.map(_.line).toSet),
      "maintenance rewrote already-clustered history")
    assert(after.forall(e =>
      e.statFor("ts").isDefined && e.statFor("uid").isDefined))
    assert(!ManifestLog.maintainClustered(spark, root, Seq("ts", "uid"),
      targetFileRows = 4096L, minNewFiles = 1))
  }

  test("negative-valued cluster columns bucket exactly (the generated SQL survives a negative min)") {
    val root = s"${tempCorpusDir("graft_zc_neg")}/log"
    ManifestLog.create(spark, root)
    ManifestLog.appendSorted(
      spark.range(0L, 4096L)
        .select((col("id") - 2048L).as("ts"), (col("id") % 64L - 32L).as("uid"),
          col("id").as("v"))
        .coalesce(1).sortWithinPartitions("ts"),
      root, Nil, Some("ts"))
    val before = canon(ManifestLog.read(spark, root))
    ManifestLog.cluster(spark, root, Seq("ts", "uid"), targetFileRows = 512L)
    assert(canon(ManifestLog.read(spark, root)) == before)
    val got = ManifestLog.readSliceN(spark, root,
        Seq(("ts", -1024L, 0L), ("uid", -32L, -16L)))
      .where(col("ts") >= -1024L && col("ts") < 0L &&
        col("uid") >= -32L && col("uid") < -16L)
    val expect = ManifestLog.read(spark, root)
      .where(col("ts") >= -1024L && col("ts") < 0L &&
        col("uid") >= -32L && col("uid") < -16L)
    assert(canon(got) == canon(expect))
    assert(got.inputFiles.length <
      ManifestLog.read(spark, root).inputFiles.length)
  }

  test("keyed deletion composes with clustering: delete rewrites stay correct, the tick restores stats") {
    val (root, _) = freshGrid()
    ManifestLog.cluster(spark, root, Seq("ts", "uid"), targetFileRows = 4096L)
    // Forget two uids. The delete's survivor rewrite restores the
    // boundCol clustering only (ts), so rewritten files lose their uid
    // stats — readSliceN must stay EXACT (conservative admission), and
    // the maintenance tick must re-cluster exactly the rewritten files.
    val res = ManifestLog.deleteKeys(spark, root, "uid",
      Seq(7L, 200L).toDF("uid"), boundCol = Some("ts"))
    assert(res.rowsDeleted == 2 * 256L) // 256 rows per uid in the grid
    val expect = ManifestLog.read(spark, root).where(col("uid") < 8L)
    val got = ManifestLog.readSliceN(spark, root, Seq(("uid", 0L, 8L)))
      .where(col("uid") < 8L)
    assert(canon(got) == canon(expect))
    assert(!got.select("uid").distinct().as[Long].collect().contains(7L))
    // The tick re-clusters the delete's replacements; stats return.
    assert(ManifestLog.maintainClustered(spark, root, Seq("ts", "uid"),
      targetFileRows = 4096L, minNewFiles = 1))
    val after = ManifestLog.readSliceN(spark, root, Seq(("uid", 0L, 8L)))
    assert(after.inputFiles.length <
      ManifestLog.read(spark, root).inputFiles.length,
      "uid pruning did not come back after the tick")
    assert(canon(after.where(col("uid") < 8L)) == canon(expect))
  }

  test("three-dimension clustering: every lane prunes, rows exact") {
    val root = s"${tempCorpusDir("graft_zc3")}/log"
    ManifestLog.create(spark, root)
    ManifestLog.appendSorted(
      spark.range(0L, 32768L)
        .select(col("id").as("ts"), (col("id") % 64L).as("uid"),
          (col("id") % 7L).as("shard"))
        .coalesce(1).sortWithinPartitions("ts"),
      root, Nil, Some("ts"))
    val before = canon(ManifestLog.read(spark, root)
      .withColumnRenamed("shard", "v")) // reuse the 3-col canon shape
    ManifestLog.cluster(spark, root, Seq("ts", "uid", "shard"),
      targetFileRows = 1024L)
    assert(canon(ManifestLog.read(spark, root)
      .withColumnRenamed("shard", "v")) == before)
    val total = ManifestLog.read(spark, root).inputFiles.length
    Seq(
      Seq(("ts", 0L, 4096L)),
      Seq(("uid", 0L, 8L)),
      Seq(("shard", 0L, 1L)),
      Seq(("ts", 0L, 8192L), ("uid", 0L, 16L), ("shard", 0L, 2L)),
    ).foreach { preds =>
      val sliced = ManifestLog.readSliceN(spark, root, preds)
      assert(sliced.inputFiles.length < total,
        s"slice $preds planned every file")
      val filt = preds.map { case (c, lo, hi) =>
        col(c) >= lo && col(c) < hi
      }.reduce(_ && _)
      assert(canon(sliced.where(filt).withColumnRenamed("shard", "v")) ==
        canon(ManifestLog.read(spark, root).where(filt)
          .withColumnRenamed("shard", "v")))
    }
  }

  test("partitioned layouts cluster within their directories") {
    val root = s"${tempCorpusDir("graft_zc_part")}/log"
    ManifestLog.create(spark, root)
    (0 until 2).foreach { y =>
      ManifestLog.appendBatch(
        spark.range(y * 1000L, (y + 1) * 1000L)
          .select(col("id").as("ts"), (col("id") % 16L).as("uid"),
            lit(2020 + y).as("year")),
        root, batchId = y.toLong, partitionDirs = Seq("year"), Some("ts"))
    }
    val rowsBefore = ManifestLog.read(spark, root)
      .select("ts", "uid", "year").collect().map(_.mkString("|")).toSeq.sorted
    ManifestLog.cluster(spark, root, Seq("ts", "uid"), targetFileRows = 500L)
    val after = ManifestLog.read(spark, root)
      .select("ts", "uid", "year").collect().map(_.mkString("|")).toSeq.sorted
    assert(after == rowsBefore)
    // Every rewritten file stays under its partition directory.
    ManifestLog.currentEntries(spark, root).foreach { e =>
      assert(e.path.startsWith("year="), s"replacement escaped its partition dir: ${e.path}")
    }
  }

  test("an empty slice selection answers zero rows WITHOUT planning the generation") {
    // The r16 ADVICE defect: when stats rule out every file, the old
    // fallback planned the ENTIRE generation — correct (callers
    // re-filter) but the most selective slice degenerated into a full
    // scan. Now one file is planned purely as the schema carrier under
    // a lit(false) guard: zero rows, right schema, right columns.
    val (root, n) = freshGrid()
    ManifestLog.cluster(spark, root, Seq("ts", "uid"), targetFileRows = 8192L)
    val total = ManifestLog.read(spark, root).inputFiles.length
    val out = ManifestLog.readSliceN(spark, root,
      Seq(("ts", n * 2, n * 3), ("uid", 0L, 256L))) // wholly above the domain
    assert(out.columns.toSeq == Seq("ts", "uid", "v"), "schema must survive")
    assert(out.count() == 0L)
    assert(out.inputFiles.length < total,
      s"empty selection planned all $total files of the generation")
    // readSlice (single-bound form) shares the idiom.
    val out1 = ManifestLog.readSlice(spark, root, "ts", n * 2, n * 3)
    assert(out1.count() == 0L && out1.inputFiles.length < total)
    // And a NON-empty selection still answers exactly (the guard must
    // never leak into the normal path).
    val hit = ManifestLog.readSliceN(spark, root, Seq(("ts", 0L, 100L)))
      .where(col("ts") < 100L)
    assert(hit.count() == 100L)
  }
}
