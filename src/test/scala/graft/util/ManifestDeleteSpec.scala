package graft.util

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Keyed deletion ([[ManifestLog.deleteKeys]]) — the
  * right-to-be-forgotten primitive. The contract under test: only
  * files that actually hold a tombstoned row are rewritten (manifest
  * stats prune the rest without opening them), the survivor state
  * equals the rebuild-on-survivors row-for-row, pre-delete
  * generations stay auditable until vacuum (which is where the bytes
  * actually leave the disk), and every crash/replay/concurrency
  * window behaves like the other grain mutations.
  */
class ManifestDeleteSpec extends SparkTestBase with graft.TempCorpusDirs {
  import sqlImplicits._

  private final class InjectedCrash extends RuntimeException("injected crash")

  private def killAt(step: String)(body: => Unit): Unit = {
    ManifestLog.failpoint = s => if (s.startsWith(step)) throw new InjectedCrash
    try intercept[InjectedCrash](body)
    finally ManifestLog.failpoint = _ => ()
  }

  /** A 4-file log sorted and stats-recorded on `k`: exact disjoint
    * ranges [0,500) [500,1000) [1000,1500) [1500,2000) — the doc-log
    * shape where the sort column IS the identity column, so deletion's
    * stats pruning is exact per file.
    */
  private def freshKeyedLog(): (String, Seq[(Long, String)]) = {
    val root = s"${tempCorpusDir("graft_mdel")}/log"
    val rows = (0 until 2000).map(i => (i.toLong, s"doc-$i"))
    Seq(0, 500, 1000, 1500).foreach { lo =>
      rows.toDF("k", "body")
        .filter(col("k") >= lo && col("k") < lo + 500)
        .coalesce(1).sortWithinPartitions("k")
        .write.mode("append").parquet(root)
    }
    ManifestLog.adopt(spark, root, Some("k"))
    (root, rows)
  }

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
    df.select("k", "body").as[(Long, String)].collect().toSeq.sorted

  private def tombs(ids: Seq[Long]) = ids.toDF("k")

  test("delete == rebuild-on-survivors; untouched files pass through by reference, unopened") {
    val (root, rows) = freshKeyedLog()
    // Order by recorded range, not by (UUID-bearing) file name.
    val before = ManifestLog.currentEntries(spark, root).sortBy(_.stats.head._2)
    assert(before.length == 4 && before.forall(_.stats.exists(_._1 == "k")))
    val deleted = ((600L to 649L) :+ 1700L).toSet
    // Files 1 and 3 hold every tombstone; prove files 0 and 2 are
    // never OPENED by parking them outside the root for the delete.
    val (p, fs) = ManifestLog.hadoop(spark, root)
    val parked = Seq(before(0), before(2)).map { e =>
      val src = new org.apache.hadoop.fs.Path(p, e.path)
      val dst = new org.apache.hadoop.fs.Path(s"$root.parked-${e.path.hashCode}")
      assert(fs.rename(src, dst)); (src, dst)
    }
    val res = try ManifestLog.deleteKeys(spark, root, "k",
      tombs(deleted.toSeq), Some("k"))
    finally parked.foreach { case (src, dst) => assert(fs.rename(dst, src)) }
    assert(res == ManifestLog.DeleteResult(2, 0, 51L), s"got $res")
    val after = ManifestLog.currentEntries(spark, root).sortBy(_.path)
    // Untouched manifest lines are byte-identical (path AND stats).
    assert(after.map(_.line).contains(before(0).line) &&
      after.map(_.line).contains(before(2).line),
      "untouched files were not passed through by reference")
    assert(canon(ManifestLog.read(spark, root)) ==
      rows.filterNot { case (k, _) => deleted(k) }.sorted)
    // Replacements carry fresh stats: every live line remains prunable.
    assert(after.forall(_.stats.exists(_._1 == "k")))
    // Idempotence: the delete is complete, so the re-run is a no-op
    // with no commit.
    val v = ManifestLog.currentVersion(spark, root)
    assert(ManifestLog.deleteKeys(spark, root, "k", tombs(deleted.toSeq), Some("k")) ==
      ManifestLog.DeleteResult(0, 0, 0L))
    assert(ManifestLog.currentVersion(spark, root) == v)
  }

  test("a fully-tombstoned file retires without replacement; deleting everything refuses") {
    val (root, rows) = freshKeyedLog()
    val res = ManifestLog.deleteKeys(spark, root, "k",
      tombs((500L until 1000L) :+ 1200L), Some("k"))
    assert(res == ManifestLog.DeleteResult(1, 1, 501L), s"got $res")
    // 2 untouched + 1 replacement; the retired file has no successor.
    assert(ManifestLog.currentEntries(spark, root).length == 3,
      s"expected 3 live files, got ${ManifestLog.liveFileCount(spark, root)}")
    assert(canon(ManifestLog.read(spark, root)) ==
      rows.filterNot { case (k, _) => (k >= 500 && k < 1000) || k == 1200 }.sorted)
    intercept[IllegalArgumentException] {
      ManifestLog.deleteKeys(spark, root, "k", tombs(0L until 2000L), Some("k"))
    }
  }

  test("pinned readers, time travel, and vacuum disposal: served vs destroyed are separate steps") {
    val (root, rows) = freshKeyedLog()
    val pinned = ManifestLog.read(spark, root)
    val deleted = (100L to 120L).toSet
    ManifestLog.deleteKeys(spark, root, "k", tombs(deleted.toSeq), Some("k"))
    // The pre-delete world stays served to pinned plans and audits.
    assert(canon(pinned) == rows.sorted,
      "a pinned reader lost rows to a concurrent delete")
    assert(canon(ManifestLog.readAt(spark, root, 1L)) == rows.sorted)
    // Vacuum is the disposal step: afterwards no file under the root —
    // live, retired, or orphaned — holds a tombstoned key.
    assert(ManifestLog.vacuum(spark, root).nonEmpty)
    intercept[Exception](ManifestLog.readAt(spark, root, 1L).collect())
    val residual = spark.read.parquet(root)
      .where(col("k").isin(deleted.toSeq: _*)).count()
    assert(residual == 0L, s"$residual tombstoned row(s) survived vacuum on disk")
  }

  test("crash before the commit leaves the generation untouched; the retry converges") {
    val (root, rows) = freshKeyedLog()
    val v = ManifestLog.currentVersion(spark, root)
    killAt("written:delete") {
      ManifestLog.deleteKeys(spark, root, "k", tombs(Seq(42L, 43L)), Some("k"))
    }
    assert(ManifestLog.currentVersion(spark, root) == v)
    assert(canon(ManifestLog.read(spark, root)) == rows.sorted)
    val res = ManifestLog.deleteKeys(spark, root, "k", tombs(Seq(42L, 43L)), Some("k"))
    assert(res.rowsDeleted == 2L)
    assert(canon(ManifestLog.read(spark, root)) ==
      rows.filterNot { case (k, _) => k == 42L || k == 43L }.sorted)
    // The crashed attempt's staged files are orphans vacuum removes.
    ManifestLog.vacuum(spark, root)
    assert(spark.read.parquet(root).where(col("k") === 42L).count() == 0L)
  }

  test("tailSince across a delete demands a loud resync — replacement files must not re-fold") {
    val (root, _) = freshKeyedLog()
    val cursor = ManifestLog.currentVersion(spark, root)
    ManifestLog.deleteKeys(spark, root, "k", tombs(Seq(7L)), Some("k"))
    ManifestLog.tailSince(spark, root, cursor) match {
      case ManifestLog.TailResync(to, reason) =>
        assert(to == ManifestLog.currentVersion(spark, root))
        assert(reason.contains("deleted"), reason)
      case other => fail(s"expected TailResync across a delete, got $other")
    }
  }

  test("tombstones may derive from the log itself; null keys are not identities") {
    val (root, rows) = freshKeyedLog()
    val fromLog = ManifestLog.read(spark, root)
      .where(col("body").endsWith("99")).select("k")
      .union(Seq[Option[Long]](None).toDF("k"))
    val res = ManifestLog.deleteKeys(spark, root, "k", fromLog, Some("k"))
    assert(res.rowsDeleted == 20L, s"got $res") // 99, 199, ..., 1999
    assert(canon(ManifestLog.read(spark, root)) ==
      rows.filterNot(_._2.endsWith("99")).sorted)
  }

  test("partitioned layouts delete within their directories; partition columns are not keys") {
    val root = s"${tempCorpusDir("graft_mdelp")}/log"
    val rows = (0 until 1000).map(i => (i.toLong, 2020 + i % 2, s"e-$i"))
    ManifestLog.create(spark, root)
    ManifestLog.appendSorted(
      rows.toDF("k", "year", "tag").repartition(col("year"))
        .sortWithinPartitions("k"),
      root, partitionDirs = Seq("year"), boundCol = Some("k"))
    val deleted = Set(10L, 11L, 501L)
    val res = ManifestLog.deleteKeys(spark, root, "k", tombs(deleted.toSeq), Some("k"))
    assert(res.rowsDeleted == 3L)
    val after = ManifestLog.read(spark, root)
    assert(after.columns.contains("year"), "partition column lost by the rewrite")
    assert(after.select("k", "year", "tag").as[(Long, Int, String)].collect().toSeq.sorted ==
      rows.filterNot(r => deleted(r._1)).sorted)
    // Replacement files live under their own partition dirs.
    assert(ManifestLog.currentEntries(spark, root).forall(_.path.contains("year=")))
    // The partition-dir column is not a physical key: refused loudly.
    intercept[IllegalArgumentException] {
      ManifestLog.deleteKeys(spark, root, "year", Seq(2020).toDF("year"))
    }
  }

  test("a delete preserves the streaming batch high-water mark") {
    val (root, _) = freshKeyedLog()
    val batch = Seq((5000L, "doc-5000")).toDF("k", "body")
      .coalesce(1).sortWithinPartitions("k")
    assert(ManifestLog.appendBatch(batch, root, 5L, boundCol = Some("k")))
    ManifestLog.deleteKeys(spark, root, "k", tombs(Seq(1L)), Some("k"))
    assert(ManifestLog.batchHwm(spark, root) == 5L,
      "delete dropped the batch HWM — a replayed batch would double-commit")
    assert(!ManifestLog.appendBatch(batch, root, 5L, boundCol = Some("k")))
  }
}
