package graft.util

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

import graft.SparkTestBase

/** Several builders of one corpus that do not share a memo — another
  * JVM on the same box, simulated by [[Snapshots.resetMemo]]. Every
  * artifact is a manifested root: a committed root is reused as it
  * stands, never rewritten under a reader, and builders racing on an
  * uncommitted root converge on ONE generation.
  */
class SnapshotBuildersSpec extends SparkTestBase with graft.TempCorpusDirs {
  import sqlImplicits._

  private def writeCorpus(dir: String, n: Int): Unit =
    (1 to n).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/t.parquet")

  /** The li-ok-pair layout's source: `n` lineitem rows over three ship
    * years plus one null ship date. */
  private def writeLineitem(dir: String, n: Int): Unit =
    (1 to n).map(i => (i.toLong, i * 1.5, 0.01 * (i % 5), if (i % 2 == 0) "N" else "R",
        if (i == n) None else Some(s"${1995 + i % 3}-0${1 + i % 9}-1${i % 10}")))
      .toDF("l_orderkey", "l_extendedprice", "l_discount", "l_returnflag", "d")
      .withColumn("l_shipdate",
        org.apache.spark.sql.functions.to_timestamp(col("d")).cast("timestamp_ntz"))
      .drop("d").coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

  /** The li-ok-pair layout of corpus `dir`, read back. */
  private def pair(dir: String): DataFrame =
    BucketedManifest.read(spark, graft.queries.Relational.lineitemPairManifested(spark, dir))

  /** A manifested log with a bloom column, read back. */
  private def mlog(dir: String, name: String)(build: => DataFrame): DataFrame =
    ManifestLog.read(spark, Snapshots.manifestedLog(spark, dir, name, "k", Seq("v"))(build))

  /** A Z-clustered log over (k, u), read back as the source's (k, v). */
  private def zlog(dir: String, name: String)(build: => DataFrame): DataFrame =
    ManifestLog.read(spark, Snapshots.clusteredLog(spark, dir, name, Seq("k", "u"), 16L)(
      build.withColumn("u", col("k") % 7L))).select("k", "v")

  private def rootOf(df: DataFrame): String =
    new java.io.File(new java.net.URI(df.inputFiles.head).getPath).getParent

  /** Recursive (relative path, length, mtime) listing of a root. */
  private def listing(root: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val base = java.nio.file.Paths.get(root)
    java.nio.file.Files.walk(base).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(f => s"${base.relativize(f)}:${f.toFile.length}:${f.toFile.lastModified}")
      .toSeq.sorted
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  /** Data files a root holds beside the manifests (no `_`/`.` names). */
  private def dataFiles(root: String): Set[String] =
    Option(new java.io.File(root).list()).getOrElse(Array.empty[String])
      .filter(n => n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_"))
      .toSet

  test("a second builder reuses every committed root: listing, version and pinned rows unchanged") {
    val dir = tempCorpusDir("graft_two_builders")
    writeCorpus(dir, 40)
    writeLineitem(dir, 40)
    var builds = 0
    def src = { builds += 1; spark.read.parquet(s"$dir/t.parquet") }
    def three() = Seq(
      Snapshots(spark, dir, "tb-plain")(src),
      Snapshots.slice(spark, dir, "tb-slice", "k", 10L, 30L)(
        src.repartitionByRange(4, col("k")).sortWithinPartitions("k"))
        .filter(col("k") >= 10L && col("k") < 30L),
      Snapshots.bucketedTable(spark, dir, "tb-bkt", "k", 4)(src),
      mlog(dir, "tb-mlog")(src.repartition(3)),
      zlog(dir, "tb-zlog")(src),
      pair(dir))

    val pinned = three()
    assert(builds == 5)
    val roots = pinned.map(rootOf)
    val before = roots.map(r => (listing(r), ManifestLog.versions(spark, r)))
    val rowsBefore = pinned.map(rows)
    assert(rowsBefore.map(_.size) == Seq(40, 20, 40, 40, 40, 40))

    assert(before.forall(_._2 == Seq(1L)), s"not one committed generation each: $before")
    Snapshots.resetMemo()
    val second = three()
    roots.zip(before).foreach { case (r, (files, vs)) =>
      assert(listing(r) == files, s"the second builder changed the files of $r")
      assert(ManifestLog.versions(spark, r) == vs, s"the second builder committed on $r")
    }
    assert(builds == 5, "the second builder re-ran a build over committed roots")
    assert(second.map(rootOf) == roots, "the second builder read another root")
    assert(pinned.map(rows) == rowsBefore, "a pinned frame lost or changed rows")
    assert(second.map(rows) == rowsBefore)
  }

  test("two builders racing on an uncommitted root both return and commit one full generation") {
    val dir = tempCorpusDir("graft_race_builders")
    writeCorpus(dir, 30)
    writeLineitem(dir, 30)
    val corpus = rows(spark.read.parquet(s"$dir/t.parquet"))
    /** `ask(building)` asks for one artifact whose build counts
      * `building` down — the proof that the first builder holds its
      * memo cell before the memo is reset for the second. A build that
      * takes no closure (the pair layout) counts it down on reaching
      * its commit. */
    def race(full: Seq[String])(ask: CountDownLatch => DataFrame): Unit = {
      // Both builders stage their files, then both try to commit v1.
      val staged = new CountDownLatch(2)
      val building = new CountDownLatch(1)
      ManifestLog.failpoint = {
        case "staged:generation" =>
          building.countDown()
          staged.countDown()
          assert(staged.await(60, TimeUnit.SECONDS), "the other builder never staged")
        case _ => ()
      }
      try {
        val first = Future(ask(building))
        assert(building.await(60, TimeUnit.SECONDS), "the first builder never started")
        Snapshots.resetMemo() // the second builder shares no memo cell
        val second = Future(ask(building))
        val got = Await.result(Future.sequence(Seq(first, second)), 5.minutes)
        val root = rootOf(got.head)
        assert(rootOf(got(1)) == root)
        assert(ManifestLog.versions(spark, root) == Seq(1L), "not exactly one generation")
        assert(dataFiles(root) ==
          ManifestLog.currentEntries(spark, root).map(_.path).toSet,
          "the losing builder left its staged files in the root")
        got.foreach(df => assert(rows(df) == full, "a builder read a partial generation"))
      } finally ManifestLog.failpoint = _ => ()
    }
    def src(building: CountDownLatch) = {
      building.countDown()
      spark.read.parquet(s"$dir/t.parquet")
    }
    race(corpus)(b => Snapshots(spark, dir, "race-plain")(src(b).repartition(3)))
    race(corpus)(b => Snapshots.bucketedTable(spark, dir, "race-bkt", "k", 4)(src(b)))
    race(corpus)(b => mlog(dir, "race-mlog")(src(b).repartition(3)))
    race(corpus)(b => zlog(dir, "race-zlog")(src(b)))
    race(rows(spark.read.parquet(s"$dir/lineitem.parquet")))(_ => pair(dir))
  }

  test("two JVMs committing generation 1 at once leave one readable generation; a lost rebuild throws") {
    val dir = tempCorpusDir("graft_cross_jvm")
    writeCorpus(dir, 30)
    val full = rows(spark.read.parquet(s"$dir/t.parquet"))
    val root = s"$dir/gen"
    // The in-JVM commit lock is keyed by the root's spelling, so the
    // `file:` spelling of the same directory commits the way another
    // JVM does: no lock keeps the two commits apart. A writes its
    // manifest temp, B writes its own, A renames, then B tries.
    val aWritten, bWritten, aDone = new CountDownLatch(1)
    var arrivals = 0
    ManifestLog.failpoint = {
      case "staged:manifest" =>
        val n = synchronized { arrivals += 1; arrivals }
        if (n == 1) {
          aWritten.countDown()
          assert(bWritten.await(60, TimeUnit.SECONDS), "B never wrote its temp")
        } else if (n == 2) {
          bWritten.countDown()
          assert(aDone.await(60, TimeUnit.SECONDS), "A never committed")
        }
      case _ => ()
    }
    def gen1(at: String) =
      ManifestLog.commitGeneration(spark.read.parquet(s"$dir/t.parquet").repartition(2),
        at, 1L, Nil, None)
    try {
      val a = Future { gen1(root); aDone.countDown() }
      assert(aWritten.await(60, TimeUnit.SECONDS), "A never wrote its temp")
      val b = Future(gen1(s"file:$root"))
      Await.result(Future.sequence(Seq(a, b)), 5.minutes)
    } finally ManifestLog.failpoint = _ => ()
    assert(ManifestLog.versions(spark, root) == Seq(1L))
    val listed = ManifestLog.currentEntries(spark, root).map(_.path).toSet
    assert(listed.forall(dataFiles(root)), "the committed generation lists a missing file")
    assert(dataFiles(root) == listed, "the losing builder left its staged files in the root")
    assert(rows(ManifestLog.read(spark, root)) == full)

    // A refresh that loses its version does not pass for a success.
    ManifestLog.commitGeneration(spark.read.parquet(s"$dir/t.parquet"), root, 2L, Nil, None)
    intercept[ManifestLog.CommitConflict] {
      ManifestLog.commitGeneration(spark.read.parquet(s"$dir/t.parquet").limit(3),
        root, 2L, Nil, None)
    }
    assert(rows(ManifestLog.read(spark, root)) == full)
  }

  test("an empty build commits its part file and reads back empty with the build's schema") {
    val dir = tempCorpusDir("graft_empty_builds")
    writeCorpus(dir, 5)
    def empty = spark.read.parquet(s"$dir/t.parquet").where(lit(false))
    val schema = empty.schema.map(f => (f.name, f.dataType))
    def check(df: DataFrame, what: String): Unit = {
      assert(df.count() == 0, s"$what: rows from an empty build")
      assert(df.schema.map(f => (f.name, f.dataType)) == schema, s"$what: schema lost")
    }
    def both() = Seq(
      Snapshots(spark, dir, "empty-plain")(empty),
      Snapshots.bucketedTable(spark, dir, "empty-bkt", "k", 4)(empty))
    val first = both()
    first.zip(Seq("plain", "bucketed")).foreach { case (df, what) =>
      check(df, what)
      val root = rootOf(df)
      assert(ManifestLog.versions(spark, root) == Seq(1L), s"$what: no committed generation")
      assert(ManifestLog.liveFileCount(spark, root) == 1,
        s"$what: the staged part file is not listed")
    }
    Snapshots.resetMemo()
    val again = Seq(
      Snapshots(spark, dir, "empty-plain")(sys.error("committed: must not rebuild")),
      Snapshots.bucketedTable(spark, dir, "empty-bkt", "k", 4)(
        sys.error("committed: must not rebuild")))
    again.zip(Seq("plain (second builder)", "bucketed (second builder)"))
      .foreach { case (df, what) => check(df, what) }
  }

  test("a build torn before its commit leaves no generation; the next builder commits it whole") {
    val dir = tempCorpusDir("graft_torn_builds")
    writeCorpus(dir, 30)
    writeLineitem(dir, 30)
    def src = spark.read.parquet(s"$dir/t.parquet")
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    /** The one root of corpus `dir` whose name ends with `name`. */
    def rootNamed(name: String): String = {
      val hits = Option(tmp.listFiles()).toSeq.flatten.filter(f =>
        f.getName.startsWith(Snapshots.rootPrefix(dir)) && f.getName.endsWith(s"-$name"))
      assert(hits.length == 1, s"expected one root named $name, got $hits")
      hits.head.getPath
    }
    def drill(name: String, full: Seq[String])(ask: => DataFrame): Unit = {
      ManifestLog.failpoint = {
        case "staged:generation" => throw new IllegalStateException("torn before the commit")
        case _ => ()
      }
      try intercept[IllegalStateException](ask)
      finally ManifestLog.failpoint = _ => ()
      val root = rootNamed(name)
      assert(ManifestLog.versions(spark, root).isEmpty, s"$name: the torn build committed")
      val torn = dataFiles(root)
      assert(torn.nonEmpty, s"$name: the torn build staged no file")
      Snapshots.resetMemo()
      val df = ask
      assert(rootOf(df) == root)
      assert(ManifestLog.versions(spark, root) == Seq(1L), s"$name: not one generation")
      assert(rows(df) == full, s"$name: the rebuilt generation lost or changed rows")
      val live = ManifestLog.currentEntries(spark, root).map(_.path).toSet
      assert(live.intersect(torn).isEmpty, s"$name: the rebuild listed a torn file")
      ManifestLog.vacuum(spark, root)
      assert(dataFiles(root) == live, s"$name: vacuum left the torn build's files")
      assert(rows(df) == full)
    }
    val corpus = rows(src)
    drill("log-torn-mlog", corpus)(mlog(dir, "torn-mlog")(src.repartition(3)))
    assert(ParquetBlooms.declared(spark, rootNamed("log-torn-mlog")).map(_._1) == Seq("v"))
    drill("zorder-torn-zlog", corpus)(zlog(dir, "torn-zlog")(src))
    drill("bkt-li-ok-pair-b32", rows(spark.read.parquet(s"$dir/lineitem.parquet")))(pair(dir))
  }
}
