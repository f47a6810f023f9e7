package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Keyed deletion over the manifested bucketed pairs
  * ([[BucketedManifest.deleteKeys]]): candidate buckets come from the
  * layout's OWN hash of the tombstone keys — exact pruning with no
  * stats — a touched bucket's rewrite keeps the `_NNNNN` bucket-name
  * contract (so co-located joins stay exchange-free through deletes),
  * and the equality assertions double as the hash-contract proof: a
  * wrong bucket hash would probe the wrong files and fail them.
  */
class BucketedDeleteSpec extends SparkTestBase with graft.TempCorpusDirs {
  import sqlImplicits._

  private final class InjectedCrash extends RuntimeException("injected crash")

  private def killAt(step: String)(body: => Unit): Unit = {
    ManifestLog.failpoint = s => if (s.startsWith(step)) throw new InjectedCrash
    try intercept[InjectedCrash](body)
    finally ManifestLog.failpoint = _ => ()
  }

  private val Buckets = 4

  private def freshPair(tag: String): (String, String) = {
    val dir = tempCorpusDir(s"graft_bdel_$tag")
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

  private def bucketsOf(ks: Seq[Long]): Set[Int] =
    ks.toDF("k").select(pmod(hash(col("k")), lit(Buckets)).as("b"))
      .distinct().as[Int].collect().toSet

  test("delete rewrites only the keys' buckets (proven by parking the rest) and keeps co-location") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (fact, dim) = freshPair("base")
      val deleted = Seq(3L, 7L, 250L)
      val cand = bucketsOf(deleted)
      assert(cand.size < Buckets, "pick keys that leave at least one bucket untouched")
      // Park every non-candidate bucket file: the delete must not open them.
      val (p, fs) = ManifestLog.hadoop(spark, fact)
      val before = ManifestLog.currentEntries(spark, fact)
      val bucketRe = """_(\d+)\.""".r
      def bucketOf(path: String): Int =
        bucketRe.findFirstMatchIn(path).map(_.group(1).toInt).getOrElse(-1)
      val parked = before.filterNot(e => cand(bucketOf(e.path)))
      val moves = parked.map { e =>
        val src = new org.apache.hadoop.fs.Path(p, e.path)
        val dst = new org.apache.hadoop.fs.Path(s"$fact.parked-${e.path.hashCode}")
        assert(fs.rename(src, dst)); (src, dst)
      }
      val res = try BucketedManifest.deleteKeys(spark, fact, deleted.toDF("k"))
      finally moves.foreach { case (src, dst) => assert(fs.rename(dst, src)) }
      assert(res.rowsDeleted == 30L, s"got $res") // 10 rows per key value
      assert(res.filesRetired == 0 && res.filesRewritten == cand.size)
      // Untouched buckets pass through by reference (identical lines).
      val after = ManifestLog.currentEntries(spark, fact).map(_.line).toSet
      assert(parked.forall(e => after(e.line)),
        "an untouched bucket's manifest line changed across the delete")
      val got = BucketedManifest.read(spark, fact).join(
        BucketedManifest.read(spark, dim), "k")
        .groupBy("k").agg(sum("v").as("sv"))
      assertCoLocated(got)
      // Expectation reads the PRE-delete generation (time travel) —
      // a raw parquet read of the root would see both the retired
      // files and their replacements until vacuum.
      val expect = ManifestLog.readAt(spark, fact, 1L)
        .where(!col("k").isin(deleted: _*))
        .join(BucketedManifest.read(spark, dim), "k")
        .groupBy("k").agg(sum("v").as("sv"))
      assert(canon(got) == canon(expect))
      // Completed delete: the re-run no-ops without a commit.
      val v = ManifestLog.currentVersion(spark, fact)
      assert(BucketedManifest.deleteKeys(spark, fact, deleted.toDF("k")) ==
        ManifestLog.DeleteResult(0, 0, 0L))
      assert(ManifestLog.currentVersion(spark, fact) == v)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("a fully-tombstoned bucket retires; the layout still joins with the bucket absent") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (fact, dim) = freshPair("ret")
      val target = bucketsOf(Seq(0L)).head
      val keys = (0L until 400L).filter(k => bucketsOf(Seq(k)).head == target)
      val res = BucketedManifest.deleteKeys(spark, fact, keys.toDF("k"))
      assert(res.filesRetired == 1 && res.filesRewritten == 0, s"got $res")
      assert(res.rowsDeleted == keys.length * 10L)
      assert(ManifestLog.liveFileCount(spark, fact) == Buckets - 1)
      val got = BucketedManifest.read(spark, fact).join(
        BucketedManifest.read(spark, dim), "k")
        .groupBy("k").agg(sum("v").as("sv"))
      assertCoLocated(got)
      assert(got.count() == 400L - keys.length)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("an int-typed tombstone feed casts to the key type before hashing") {
    val (fact, _) = freshPair("cast")
    // k is LONG in the layout; feed ints — a raw int hash would probe
    // the wrong buckets and delete nothing.
    val res = BucketedManifest.deleteKeys(spark, fact, Seq(5, 6).toDF("id"))
    assert(res.rowsDeleted == 20L, s"got $res")
    assert(BucketedManifest.read(spark, fact)
      .where(col("k").isin(5L, 6L)).count() == 0L)
  }

  test("crash before the commit leaves the generation intact; retry converges; vacuum disposes") {
    val (fact, _) = freshPair("crash")
    val v = ManifestLog.currentVersion(spark, fact)
    killAt("written:delete-bucket") {
      BucketedManifest.deleteKeys(spark, fact, Seq(42L).toDF("k"))
    }
    assert(ManifestLog.currentVersion(spark, fact) == v)
    assert(BucketedManifest.read(spark, fact).where(col("k") === 42L).count() == 10L)
    val res = BucketedManifest.deleteKeys(spark, fact, Seq(42L).toDF("k"))
    assert(res.rowsDeleted == 10L)
    ManifestLog.vacuum(spark, fact)
    assert(spark.read.parquet(fact).where(col("k") === 42L).count() == 0L,
      "tombstoned rows survived vacuum on disk")
  }
}
