package graft.util

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The manifest contract: visibility is ONE atomic rename; readers pin
  * a generation and stay consistent through concurrent maintenance;
  * vacuum is the only deleter; every crash window converges because no
  * window contains a visible intermediate state.
  */
class ManifestLogSpec extends SparkTestBase with graft.TempCorpusDirs {
  import sqlImplicits._

  private final class InjectedCrash extends RuntimeException("injected crash")

  private def killAt(step: String)(body: => Unit): Unit = {
    ManifestLog.failpoint = s => if (s.startsWith(step)) throw new InjectedCrash
    try intercept[InjectedCrash](body)
    finally ManifestLog.failpoint = _ => ()
  }

  private def freshLog(): (String, Seq[(Long, Long)]) = {
    val root = s"${tempCorpusDir("graft_mlog")}/log"
    val rows = (0 until 2000).map(i => (i.toLong, i.toLong * 1000L))
    // Two files with EXACT ranges [0, 1M) and [1M, 2M) — a grain edge
    // at 1M must not depend on a range partitioner's sampled boundary.
    rows.toDF("k", "ts").filter(col("ts") < 1000000L)
      .coalesce(1).sortWithinPartitions("ts").write.mode("append").parquet(root)
    rows.toDF("k", "ts").filter(col("ts") >= 1000000L)
      .coalesce(1).sortWithinPartitions("ts").write.mode("append").parquet(root)
    ManifestLog.adopt(spark, root)
    (root, rows)
  }

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.select("k", "ts").as[(Long, Long)].collect().toSeq.sorted

  /** Every file under `root`, recursively, with its size. */
  private def filesUnder(root: String): Seq[(String, Long)] = {
    val base = java.nio.file.Paths.get(root)
    val walk = java.nio.file.Files.walk(base)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => (base.relativize(f).toString, java.nio.file.Files.size(f)))
        .toSeq.sorted
    } finally walk.close()
  }

  test("adopt + append: reader pinned before the append never sees the batch; the next read does") {
    val (root, rows) = freshLog()
    val pinned = ManifestLog.read(spark, root) // resolves v1's file list now
    val batch = (2000 until 2500).map(i => (i.toLong, i.toLong * 1000L))
    ManifestLog.appendSorted(
      batch.toDF("k", "ts").repartitionByRange(1, col("ts")).sortWithinPartitions("ts"),
      root)
    assert(ManifestLog.currentVersion(spark, root) == 2L)
    assert(canon(pinned) == rows.sorted, "pinned reader saw a concurrent append")
    assert(canon(ManifestLog.read(spark, root)) == (rows ++ batch).sorted)
    assert(canon(ManifestLog.readAt(spark, root, 1L)) == rows.sorted, "time travel to v1")
  }

  test("compaction retires the grain without deleting it: pinned readers keep their files") {
    val (root, rows) = freshLog()
    val batch = (2000 until 2500).map(i => (i.toLong, i.toLong * 1000L))
    ManifestLog.appendSorted(
      batch.toDF("k", "ts").repartitionByRange(1, col("ts")).sortWithinPartitions("ts"),
      root)
    val pinned = ManifestLog.read(spark, root) // v2: 3 files
    ManifestLog.compactRange(spark, root, "", "ts", 0L, 3000000L)
    val compacted = ManifestLog.read(spark, root)
    assert(compacted.inputFiles.length == 1, "grain not collapsed to one file")
    assert(canon(compacted) == (rows ++ batch).sorted)
    // The retired files are still on disk: the pinned plan scans them.
    assert(canon(pinned) == (rows ++ batch).sorted,
      "compaction deleted files a pinned reader references")
    // Idempotent: a second call is a no-op on the version counter.
    val v = ManifestLog.currentVersion(spark, root)
    ManifestLog.compactRange(spark, root, "", "ts", 0L, 3000000L)
    assert(ManifestLog.currentVersion(spark, root) == v)
  }

  test("every crash window leaves the current generation untouched; vacuum removes the orphans") {
    val compact = (root: String) =>
      ManifestLog.compactRange(spark, root, "", "ts", 0L, 3000000L)
    Seq("written:", "staged:manifest").foreach { window =>
      val (root, rows) = freshLog()
      killAt(window) { compact(root) }
      // No torn state: v1 is still current and complete.
      assert(ManifestLog.currentVersion(spark, root) == 1L, s"window '$window'")
      assert(canon(ManifestLog.read(spark, root)) == rows.sorted, s"window '$window'")
      // The stranded replacement (and any stage dir) is vacuumable.
      ManifestLog.vacuum(spark, root)
      assert(canon(ManifestLog.read(spark, root)) == rows.sorted,
        s"window '$window': vacuum touched a live file")
      // Retry converges.
      compact(root)
      assert(canon(ManifestLog.read(spark, root)) == rows.sorted, s"window '$window'")
      assert(ManifestLog.read(spark, root).inputFiles.length == 1, s"window '$window'")
    }
  }

  test("a layout root without a manifest is refused before anything is written") {
    val root = s"${tempCorpusDir("graft_mlog_bare")}/log"
    val rows = (0 until 2000).map(i => (i.toLong, i.toLong * 1000L))
    Seq((0L, 1000000L), (1000000L, 2000000L)).foreach { case (lo, hi) =>
      rows.toDF("k", "ts").filter(col("ts") >= lo && col("ts") < hi)
        .coalesce(1).sortWithinPartitions("ts").write.mode("append").parquet(root)
    }
    def listing(): Seq[(String, Long)] = filesUnder(root)
    val before = listing()
    assert(before.count(_._1.endsWith(".parquet")) == 2)
    val batch = (2000 until 2500).map(i => (i.toLong, i.toLong * 1000L)).toDF("k", "ts")
    Seq[(String, () => Unit)](
      "appendSorted" -> (() => ManifestLog.appendSorted(batch.coalesce(1), root)),
      "compactRange" -> (() =>
        ManifestLog.compactRange(spark, root, "", "ts", 0L, 3000000L)),
      "maintainSorted" -> (() =>
        ManifestLog.maintainSorted(spark, root, "ts", maxFiles = 1))
    ).foreach { case (op, call) =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("no committed manifest"), s"$op: ${e.getMessage}")
      assert(listing() == before, s"$op wrote into a root without a manifest")
    }
  }

  test("a crashed append is invisible and the retry commits exactly one batch copy") {
    val (root, rows) = freshLog()
    val batchDf = (2000 until 2500).map(i => (i.toLong, i.toLong * 1000L))
      .toDF("k", "ts").repartitionByRange(1, col("ts")).sortWithinPartitions("ts")
    killAt("written:append") { ManifestLog.appendSorted(batchDf, root) }
    assert(canon(ManifestLog.read(spark, root)) == rows.sorted,
      "a crashed append leaked rows into the current generation")
    ManifestLog.vacuum(spark, root) // drop the orphaned batch files
    ManifestLog.appendSorted(batchDf, root)
    assert(ManifestLog.read(spark, root).filter(col("k") >= 2000).count() == 500,
      "retry duplicated or lost the batch")
  }

  test("vacuum deletes retired files and old manifests, keeps the pinned window") {
    val (root, rows) = freshLog()
    val batch = (2000 until 2500).map(i => (i.toLong, i.toLong * 1000L))
    ManifestLog.appendSorted(
      batch.toDF("k", "ts").repartitionByRange(1, col("ts")).sortWithinPartitions("ts"),
      root)
    ManifestLog.compactRange(spark, root, "", "ts", 0L, 3000000L) // v3
    // keepLast=2: v2 still readable, v1's manifest goes; data files of
    // v2 (= superset incl. v1's) are all still referenced.
    val deleted2 = ManifestLog.vacuum(spark, root, keepLast = 2)
    assert(ManifestLog.versions(spark, root) == Seq(2L, 3L))
    assert(canon(ManifestLog.readAt(spark, root, 2L)) == (rows ++ batch).sorted)
    assert(deleted2.exists(_.endsWith("v000000001.manifest")))
    assert(!deleted2.exists(_.endsWith(".parquet")),
      "keepLast=2 must not delete files v2 references")
    // keepLast=1: the three retired segment files go; the live read is intact.
    val deleted1 = ManifestLog.vacuum(spark, root)
    assert(deleted1.count(_.endsWith(".parquet")) == 3)
    assert(canon(ManifestLog.read(spark, root)) == (rows ++ batch).sorted)
    // Nothing left to vacuum: idempotent.
    assert(ManifestLog.vacuum(spark, root).isEmpty)
  }

  test("partitioned layout: shared partition dirs, per-partition compaction, partition pruning") {
    val root = s"${tempCorpusDir("graft_mlog_part")}/log"
    def seg(lo: Int, hi: Int) = (lo until hi)
      .map(i => (i.toLong, i.toLong * 1000L, 1990 + (i % 2)))
      .toDF("k", "ts", "year")
      .repartitionByRange(2, col("year"), col("ts")).sortWithinPartitions("ts")
    seg(0, 1000).write.partitionBy("year").parquet(root)
    ManifestLog.adopt(spark, root)
    ManifestLog.appendSorted(seg(1000, 2000), root, Seq("year"))
    val df = ManifestLog.read(spark, root)
    assert(df.count() == 2000)
    assert(df.columns.contains("year"), "basePath read lost the partition column")
    // Partition pruning: a year filter SCANS only that directory's
    // files (inputFiles lists the whole relation — pruning is a
    // physical-planning fact, so read it off the executed scan).
    val total1990 = df.inputFiles.count(_.contains("year=1990"))
    val qe = df.filter(col("year") === 1990).queryExecution
    assert(qe.executedPlan.execute().count() == 1000)
    val scanned = qe.executedPlan.collectLeaves()
      .map(_.metrics("numFiles").value).sum
    assert(scanned == total1990,
      s"manifest read broke partition pruning: scanned $scanned files, " +
        s"year=1990 holds $total1990 of ${df.inputFiles.length}")
    // Per-partition compaction through the manifest-native API.
    ManifestLog.compactRange(spark, root, "year=1990", "ts", 0L, 3000000L)
    val after = ManifestLog.read(spark, root)
    assert(after.inputFiles.count(_.contains("year=1990")) == 1,
      "year=1990's grain did not collapse to one file")
    assert(after.count() == 2000)
    // A compaction aimed at the year SUBDIR must refuse: it would
    // commit nothing the root's manifest lists.
    intercept[IllegalStateException] {
      ManifestLog.compactRange(spark, s"$root/year=1991", "", "ts", 0L, 3000000L)
    }
  }

  test("write-time stats in the manifest drive plan-time file pruning (readSlice)") {
    val root = s"${tempCorpusDir("graft_mlog_stats")}/log"
    val rows = (0 until 2000).map(i => (i.toLong, i.toLong * 1000L))
    rows.toDF("k", "ts").filter(col("ts") < 1000000L)
      .coalesce(1).sortWithinPartitions("ts").write.mode("append").parquet(root)
    ManifestLog.adopt(spark, root, boundCol = Some("ts"))
    ManifestLog.appendSorted(
      rows.toDF("k", "ts").filter(col("ts") >= 1000000L)
        .coalesce(1).sortWithinPartitions("ts"),
      root, boundCol = Some("ts"))
    // The manifest itself records each file's range: stats lines are
    // path<TAB>col<TAB>min<TAB>max.
    val mdir = java.nio.file.Paths.get(root, "_manifests")
    val lines = java.nio.file.Files.readAllLines(
      mdir.resolve("v000000002.manifest")).toArray.map(_.toString)
    assert(lines.count(_.contains("\tts\t")) == 2,
      s"expected 2 stats-bearing lines: ${lines.toSeq}")
    // A slice inside the second file's range plans ONE file — without
    // opening any footer (the file list comes from the manifest).
    val slice = ManifestLog.readSlice(spark, root, "ts", 1500000L, 1600000L)
    assert(slice.inputFiles.length == 1,
      s"slice planned ${slice.inputFiles.length} files instead of 1")
    assert(slice.filter(col("ts") >= 1500000L && col("ts") < 1600000L).count() == 100)
    // Proof the pruned file is never touched: remove it from disk; the
    // slice still answers (a full read would need the missing file).
    val pruned = ManifestLog.read(spark, root).inputFiles
      .filterNot(slice.inputFiles.toSet).head
    java.nio.file.Files.delete(java.nio.file.Paths.get(new java.net.URI(pruned)))
    assert(ManifestLog.readSlice(spark, root, "ts", 1500000L, 1600000L)
      .filter(col("ts") >= 1500000L && col("ts") < 1600000L).count() == 100,
      "the slice touched a file its stats had excluded")
    // The maintenance tick classifies from the same stats: nothing to
    // compact here (each file its own component).
    assert(ManifestLog.maintainSorted(spark, root, "ts", maxFiles = 1).isEmpty)
  }

  test("maintainKeyed: unfoldable files never arm the trigger (no rewrite livelock)") {
    // A file with NULLS in the key column is permanently
    // un-containable — compactRange can never fold it. If such files
    // counted toward the depth trigger, a layout holding maxDepth+1 of
    // them would full-rewrite its foldable files on EVERY tick without
    // the measured depth ever dropping: an unbounded rewrite livelock.
    val root = s"${tempCorpusDir("graft_mkeyed")}/log"
    // Three overlapping stat-ful segments + three null-key files.
    (0 until 3).foreach { _ =>
      (0 until 100).map(i => (Some(i.toLong), s"v$i")).toDF("k", "v")
        .coalesce(1).sortWithinPartitions("k").write.mode("append").parquet(root)
    }
    (0 until 3).foreach { j =>
      Seq((Option.empty[Long], s"null$j")).toDF("k", "v")
        .coalesce(1).write.mode("append").parquet(root)
    }
    ManifestLog.adopt(spark, root, Some("k"))
    assert(ManifestLog.liveFileCount(spark, root) == 6)
    // overlapDepth reports admission honestly (3 stacked + 3 statless)…
    assert(ManifestLog.overlapDepth(spark, root, "k") == 6)
    // …but the tick triggers on the FOLDABLE depth (3): bound 4 → no-op.
    assert(!ManifestLog.maintainKeyed(spark, root, "k", maxDepth = 4))
    // Bound 2 → one fold of the 3 stat-ful files; the null files pass
    // through untouched and the NEXT tick is a no-op, not a re-fold.
    assert(ManifestLog.maintainKeyed(spark, root, "k", maxDepth = 2, nOut = 2))
    val after = ManifestLog.liveFileCount(spark, root)
    assert(after == 5, s"expected 2 folded + 3 null files, got $after")
    assert(!ManifestLog.maintainKeyed(spark, root, "k", maxDepth = 2, nOut = 2),
      "tick re-folded an already-folded layout — livelock")
    assert(ManifestLog.read(spark, root).count() == 303)
    // Partition-dir layouts are refused loudly, never silently un-folded.
    val pRoot = s"${tempCorpusDir("graft_mkeyed_part")}/log"
    (0 until 10).map(i => (i.toLong, i % 2)).toDF("k", "p")
      .write.partitionBy("p").mode("append").parquet(pRoot)
    ManifestLog.adopt(spark, pRoot, Some("k"))
    val e = intercept[IllegalArgumentException] {
      ManifestLog.maintainKeyed(spark, pRoot, "k")
    }
    assert(e.getMessage.contains("flat"))
  }

  test("maintainKeyed folds each over-depth key slice independently; settled slices pass by reference") {
    // Two hot key slices stack 3 files each; a settled file sits
    // between them. One tick at bound 2 must fold BOTH slices (each to
    // one mass-derived file) while the settled file passes to the new
    // generation by reference — the fold sets are seeded from the
    // over-depth points, so neither slice's rewrite touches the other.
    val root = s"${tempCorpusDir("graft_mkeyed_shard")}/log"
    def seg(lo: Int, n: Int, tag: String): Unit =
      (0 until n).map(i => (lo + i.toLong, s"$tag$i")).toDF("k", "v")
        .coalesce(1).sortWithinPartitions("k").write.mode("append").parquet(root)
    (0 until 3).foreach(j => seg(0, 10, s"a$j"))   // slice A: [0,9] ×3
    seg(20, 10, "mid")                             // settled: [20,29] ×1
    (0 until 3).foreach(j => seg(40, 10, s"b$j"))  // slice B: [40,49] ×3
    ManifestLog.adopt(spark, root, Some("k"))
    assert(ManifestLog.liveFileCount(spark, root) == 7)
    val settled = ManifestLog.readKeyed(spark, root, "k", Seq(25L)).inputFiles
    assert(settled.length == 1)
    assert(ManifestLog.maintainKeyed(spark, root, "k", maxDepth = 2))
    // 2 folded slices (tiny mass → 1 file each) + the untouched middle.
    assert(ManifestLog.liveFileCount(spark, root) == 3,
      s"expected 3 files, got ${ManifestLog.liveFileCount(spark, root)}")
    assert(ManifestLog.readKeyed(spark, root, "k", Seq(25L)).inputFiles
        .sameElements(settled),
      "the settled slice's file must pass by reference, not rewrite")
    assert(ManifestLog.read(spark, root).count() == 70)
    assert(ManifestLog.readKeyed(spark, root, "k", Seq(5L)).count() == 3)
    // Converged: the next tick is a manifest-parse no-op.
    assert(!ManifestLog.maintainKeyed(spark, root, "k", maxDepth = 2))
  }

  test("a stats-less manifest slices conservatively: every file is selected") {
    val (root, rows) = freshLog() // adopted WITHOUT a bound column
    val slice = ManifestLog.readSlice(spark, root, "ts", 1500000L, 1600000L)
    assert(slice.inputFiles.length == 2,
      "stats-less entries must never be pruned")
    assert(slice.filter(col("ts") >= 1500000L && col("ts") < 1600000L).count() == 100)
    assert(canon(slice) == rows.sorted)
  }

  test("describe narrates the lifecycle from the manifest directory alone") {
    val (root, _) = freshLog()
    ManifestLog.appendSorted(
      Seq((5000L, 2500000L)).toDF("k", "ts").coalesce(1), root)
    ManifestLog.compactRange(spark, root, "", "ts", 1000000L, 3000000L)
    val trail = ManifestLog.describe(spark, root)
    assert(trail.map(_._2) == Seq("adopt", "append", "compact"),
      s"unexpected audit trail: $trail")
    assert(trail.map(_._1) == Seq(1L, 2L, 3L))
    // File counts narrate the shape: 2 → 3 → 2.
    assert(trail.map(_._3) == Seq(2, 3, 2), s"unexpected live counts: $trail")
  }

  test("a truncated manifest is refused, never served as a shrunken table") {
    val (root, rows) = freshLog()
    ManifestLog.appendSorted(
      Seq((9999L, 2500000L)).toDF("k", "ts").coalesce(1), root)
    val f = java.nio.file.Paths.get(root, "_manifests", "v000000002.manifest")
    val lines = java.nio.file.Files.readAllLines(f)
    // Simulate a partial write surfacing: drop the last entry line.
    // (Remove the local filesystem's checksum sidecar so the test
    // exercises the manifest's OWN integrity check — object stores
    // and plain file:// deployments have no such sidecar.)
    java.nio.file.Files.write(f,
      String.join("\n", lines.subList(0, lines.size - 1)).concat("\n")
        .getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(
      f.getParent.resolve(s".${f.getFileName}.crc"))
    val e = intercept[IllegalArgumentException] {
      ManifestLog.read(spark, root).count()
    }
    assert(e.getMessage.contains("truncated"), e.getMessage)
    // The prior generation is intact — recovery is readAt/restore, not
    // silently serving a shorter file list.
    assert(canon(ManifestLog.readAt(spark, root, 1L)) == rows.sorted)
  }

  test("layoutFanout floors at the session parallelism and grows with mass") {
    val src = s"${tempCorpusDir("graft_mlog_fanout")}/src.parquet"
    (0 until 2000).map(i => (i.toLong, i.toLong)).toDF("k", "v")
      .coalesce(1).write.parquet(src)
    // Small corpus: the parallelism floor (test sessions pin
    // shuffle.partitions=4) dominates the mass-derived 1 — a full
    // scan still spreads across the cores.
    assert(ManifestLog.layoutFanout(spark, src) == 4)
    // Big corpus (simulated by a tiny rows target): mass dominates
    // the floor — files stay target-sized instead of inheriting all
    // growth under a pinned count.
    assert(ManifestLog.layoutFanout(spark, src, targetRows = 100L) == 20)
  }

  test("a corrupt manifest entry line is refused, never parsed as a stats-less path") {
    val (root, rows) = freshLog()
    // boundCol records ts stats, so the new entry line carries
    // tab-separated (col, min, max) triples — the shape to garble.
    ManifestLog.appendSorted(
      Seq((9999L, 2500000L)).toDF("k", "ts").coalesce(1), root,
      boundCol = Some("ts"))
    val f = java.nio.file.Paths.get(root, "_manifests", "v000000002.manifest")
    val lines = java.nio.file.Files.readAllLines(f)
    // Garble one ENTRY line to a wrong token count (drop the max
    // stat): the line count — and so the entries= truncation check —
    // stays intact. The old lenient parse returned
    // Entry("<whole tab-bearing line>", Nil): a bogus path in the
    // referenced set and the REAL data file missing from it — vacuum
    // would then delete live data. Corruption must refuse the read.
    val i = (1 until lines.size).find(j => lines.get(j).contains("\t")).get
    val garbled = lines.get(i).split('\t').dropRight(1).mkString("\t")
    lines.set(i, garbled)
    java.nio.file.Files.write(f,
      (String.join("\n", lines) + "\n").getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(
      f.getParent.resolve(s".${f.getFileName}.crc"))
    val e = intercept[IllegalStateException] {
      ManifestLog.read(spark, root).count()
    }
    assert(e.getMessage.contains("corrupt manifest entry"), e.getMessage)
    // Prior generation intact — recovery is readAt/restore.
    assert(canon(ManifestLog.readAt(spark, root, 1L)) == rows.sorted)
  }

  test("a bare append into a partition directory of a manifested log is refused") {
    val root = s"${tempCorpusDir("graft_mlog_partguard")}/log"
    ManifestLog.create(spark, root)
    ManifestLog.appendSorted(
      Seq((1L, 1000L, 1990)).toDF("k", "ts", "year")
        .repartitionByRange(1, col("ts")).sortWithinPartitions("ts"),
      root, partitionDirs = Seq("year"))
    // The misuse: appending at the year-dir level writes files no
    // manifest generation lists — invisible to readers, deleted as
    // orphans by the next vacuum. Must refuse loudly (the range ops
    // already do; this pins the append path's guard).
    val e = intercept[IllegalStateException] {
      ManifestLog.appendSorted(
        Seq((2L, 2000L)).toDF("k", "ts").coalesce(1), s"$root/year=1990")
    }
    assert(e.getMessage.contains("partition directory"), e.getMessage)
    assert(ManifestLog.read(spark, root).count() == 1L)
  }

  test("an append retries through a concurrent commit; a grain mutation aborts loudly") {
    val (root, rows) = freshLog()
    val dir = java.nio.file.Paths.get(root, "_manifests")
    // A second writer publishes the next version AFTER this writer
    // resolved current and staged its own commit — the exact
    // lost-update race. The competitor's manifest carries the current
    // file set (a realistic concurrent commit), injected ONCE so the
    // retry sees a clean window.
    def injectOnce(src: Long, dst: Long): Unit = {
      var fired = false
      ManifestLog.failpoint = s => if (s == "staged:manifest" && !fired) {
        fired = true
        java.nio.file.Files.copy(
          dir.resolve(f"v$src%09d.manifest"), dir.resolve(f"v$dst%09d.manifest"))
      }
    }
    // Appends commute: the union retries against the competitor's
    // generation and BOTH writers' states land.
    injectOnce(1L, 2L)
    try ManifestLog.appendSorted(
      Seq((9999L, 9999000L)).toDF("k", "ts").coalesce(1), root)
    finally ManifestLog.failpoint = _ => ()
    assert(ManifestLog.currentVersion(spark, root) == 3L,
      "the retried append must commit ON TOP of the concurrent commit")
    assert(canon(ManifestLog.read(spark, root)) ==
      (rows :+ ((9999L, 9999000L))).sorted,
      "the lost-update race dropped a writer's rows")
    // A grain mutation losing the same race must ABORT: its file
    // selection was computed against the superseded generation.
    injectOnce(3L, 4L)
    try intercept[ManifestLog.CommitConflict] {
      ManifestLog.compactRange(spark, root, "", "ts", 0L, 20000000L)
    } finally ManifestLog.failpoint = _ => ()
    // The abort left no torn state: re-invoking against current
    // converges (CompactAfterSegments-style idempotence).
    ManifestLog.compactRange(spark, root, "", "ts", 0L, 20000000L)
    assert(canon(ManifestLog.read(spark, root)) ==
      (rows :+ ((9999L, 9999000L))).sorted)
    assert(ManifestLog.read(spark, root).inputFiles.length == 1)
  }
}
