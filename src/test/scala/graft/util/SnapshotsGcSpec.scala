package graft.util

import java.nio.file.Files

import graft.SparkTestBase

/** Disposal end of the artifact lifecycle: when a corpus dir is
  * rewritten, the previous fingerprint's artifact roots (plain and
  * bucketed manifested roots alike) become unreachable under the new
  * content fingerprint but stay on disk forever. [[Snapshots.gc]] must
  * remove exactly that stale generation — and nothing else: not the
  * current generation, not other corpus dirs' artifacts — and vacuum
  * what a rebuild retired within the current fingerprint.
  */
class SnapshotsGcSpec extends SparkTestBase with graft.TempCorpusDirs {
  import sqlImplicits._

  private def writeCorpus(dir: String, n: Int): Unit =
    (1 to n).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/t.parquet")

  /** The artifact root a frame reads: every artifact is flat, so it is
    * the parent dir of any of its files. */
  private def rootOf(df: org.apache.spark.sql.DataFrame): java.io.File =
    new java.io.File(new java.net.URI(df.inputFiles.head).getPath).getParentFile

  private def onDisk(f: String): Boolean =
    new java.io.File(new java.net.URI(f).getPath).exists

  test("gc removes exactly the superseded generation's snapshots and tables") {
    val dir = tempCorpusDir("graft_gc")
    writeCorpus(dir, 10)
    def build() = (
      Snapshots(spark, dir, "gc-probe")(spark.read.parquet(s"$dir/t.parquet")),
      Snapshots.bucketedTable(spark, dir, "gc-probe-b", "k", 2)(
        spark.read.parquet(s"$dir/t.parquet")))
    val (plain1, bkt1) = build()
    val gen1 = Seq(rootOf(plain1), rootOf(bkt1))
    // Nothing stale yet: gc on a single-generation corpus is a no-op.
    assert(Snapshots.gc(spark, dir).isEmpty, "gc removed something from a fresh corpus")

    // A bystander tmp entry that merely shares the name shape must
    // survive (it belongs to a different corpus-dir hash).
    val bystander = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft-snap-000000000000-fff-bystander")
    Files.createDirectories(bystander)

    // The corpus is rewritten → new fingerprint → generation 2 builds.
    writeCorpus(dir, 25)
    val (plain2, bkt2) = build()
    val removed = Snapshots.gc(spark, dir)
    val removedPaths = removed.collect { case s if s.startsWith("path:") => s.stripPrefix("path:") }
    def collected(root: java.io.File) =
      removedPaths.exists(p => new org.apache.hadoop.fs.Path(p).getName == root.getName)
    assert(collected(gen1(0)), s"gen-1 snapshot root not collected: $removed")
    assert(collected(gen1(1)), s"gen-1 bucketed root not collected: $removed")
    gen1.foreach(r => assert(!r.exists, s"removed root still on disk: $r"))
    assert(Files.exists(bystander), "gc deleted another corpus dir's artifact")
    Files.deleteIfExists(bystander)
    Seq(plain2, bkt2).foreach(df => assert(rootOf(df).exists, "gc removed a current root"))

    // The CURRENT generation survived: the memoized snapshot serves
    // without rebuilding (a throwing builder proves the memo is warm)
    // and holds generation-2 content.
    val probe = Snapshots(spark, dir, "gc-probe")(sys.error("gen-2 memo must be warm"))
    assert(probe.count() == 25, "gc damaged the current generation")
    assert(Snapshots.bucketedTable(spark, dir, "gc-probe-b", "k", 2)(
      sys.error("gen-2 bucketed memo must be warm")).count() == 25)
    // And a second gc finds nothing left to do.
    assert(Snapshots.gc(spark, dir).isEmpty, "gc is not idempotent")
  }

  test("rebuild writes a new generation: pinned readers keep their files; gc collects the old one") {
    val dir = tempCorpusDir("graft_gc_gen")
    writeCorpus(dir, 10)
    val v1 = Snapshots(spark, dir, "gen-probe")(spark.read.parquet(s"$dir/t.parquet"))
    val v1Files = v1.inputFiles.toSeq
    assert(v1.count() == 10)
    // Refresh (the quantizer-retrain shape): the corpus is UNCHANGED —
    // same fingerprint — but the artifact is re-derived. The rebuild
    // must not overwrite v1's files: `v1` is a pinned reader.
    val v2 = Snapshots.rebuild(spark, dir, "gen-probe")(
      spark.read.parquet(s"$dir/t.parquet").filter($"k" <= 5))
    assert(v2.count() == 5)
    assert(v2.inputFiles.toSeq.intersect(v1Files).isEmpty,
      "rebuild reused the old generation's files")
    assert(v1.count() == 10,
      "rebuild deleted files a pinned reader references")
    // One root, two generations: the rebuild committed on the
    // artifact's own root instead of a new directory.
    val root = rootOf(v1)
    assert(rootOf(v2) == root, s"rebuild left the root ${root.getName}")
    assert(ManifestLog.versions(spark, root.toString) == Seq(1L, 2L))
    // The memo serves the refreshed generation from now on.
    assert(Snapshots(spark, dir, "gen-probe")(
      sys.error("memo must be warm")).count() == 5)
    // gc vacuums the retired generation's files, keeps the current.
    val removed = Snapshots.gc(spark, dir)
    assert(removed.exists(_.contains("gen-probe")),
      s"superseded base generation not collected: $removed")
    v1Files.foreach(f => assert(!onDisk(f), s"retired file survived gc: $f"))
    assert(Snapshots(spark, dir, "gen-probe")(
      sys.error("memo must still be warm")).count() == 5,
      "gc damaged the live rebuilt generation")
    assert(Snapshots.gc(spark, dir).isEmpty, "gen gc is not idempotent")
  }
}
