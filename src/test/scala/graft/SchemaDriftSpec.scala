package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Schema drift — the third year-two lifecycle event after appends and
  * corrections: upstream ADDS a column to a source table (producers
  * widen schemas across writer versions; a 100 TB table accumulates
  * years of them). The engine's contract:
  *
  *  1. Queries are DRIFT-INSENSITIVE: every query projects explicitly,
  *     so an added column never changes results — proven by running a
  *     representative query per source table on a widened copy of the
  *     corpus (junk column injected FIRST, the adversarial position
  *     for any positional assumption) and comparing row-for-row.
  *  2. The sorted-log append path survives widening: a widened batch
  *     lands as a new segment and a mergeSchema read sees one table —
  *     old rows null-filled, boundary stats intact. (In-place corpus
  *     rewrites re-keying the at-rest artifacts is SnapshotsSpec's
  *     "rewriting the corpus at the same path" proof.)
  */
class SchemaDriftSpec extends SparkTestBase with TempCorpusDirs {
  import sqlImplicits._

  private val sf = "/root/testdata/sf0.001"

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The corpus with every table widened by a leading junk column. */
  private lazy val driftDir: String = {
    val dir = tempCorpusDir("graft_drift")
    tables.foreach { t =>
      val base = spark.read.parquet(s"$sf/$t.parquet")
      base.select((lit("v2").as("_drift_extra") +: base.columns.map(col)): _*)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  test("a representative query per source table is insensitive to an added column") {
    val qs = Seq(
      "q60_exact_dedup",    // documents
      "q61_token_stats",    // documents (tokenizer path)
      "q120_tpch_q1",       // lineitem
      "q118_tpch_q5",       // region+nation+customer+supplier+orders+lineitem
      "q55_event_distinct", // events (timestamp loader path)
      "q68_knn_bruteforce", // embeddings (vector path)
      "q82_tfidf_topterms", // documents via the at-rest tf artifact
    )
    qs.foreach { name =>
      val q = SparkEntry.queries(name)
      val expected = rows(q(spark, sf))
      val got = rows(q(spark, driftDir))
      assert(got == expected, s"$name changed results under an added source column")
    }
  }

  test("a widened batch appends as a segment; a mergeSchema read sees one null-filled table") {
    val root = s"${tempCorpusDir("graft_drift_log")}/log"
    graft.util.ManifestLog.create(spark, root)
    val v1 = (0 until 1000).map(i => (i.toLong, i.toLong * 1000L)).toDF("k", "ts")
    graft.util.ManifestLog.appendSorted(
      v1.repartitionByRange(2, col("ts")).sortWithinPartitions("ts"), root)
    val v2 = (1000 until 2000).map(i => (i.toLong, i.toLong * 1000L, s"attr$i"))
      .toDF("k", "ts", "attr")
    graft.util.ManifestLog.appendSorted(
      v2.repartitionByRange(2, col("ts")).sortWithinPartitions("ts"), root)
    val merged = graft.util.ManifestLog.read(spark, root, Map("mergeSchema" -> "true"))
    assert(merged.columns.toSet == Set("k", "ts", "attr"))
    assert(merged.count() == 2000)
    assert(merged.filter(col("attr").isNull).count() == 1000, "v1 rows must read null-filled")
    assert(merged.filter(col("attr").isNotNull).count() == 1000)
    // Boundary pruning still holds across the schema generations: a
    // v1-range scan reads no v2 file and vice versa.
    def filesOf(df: DataFrame): Set[String] =
      df.select(input_file_name()).distinct().collect().map(_.getString(0)).toSet
    val v1Files = filesOf(merged.filter(col("ts") < 1000000L))
    val v2Files = filesOf(merged.filter(col("ts") >= 1000000L))
    assert(v1Files.intersect(v2Files).isEmpty, "schema generations share scan files — stats lost")
  }

  test("the widened-segment contract holds on a MANIFESTED log, slices included") {
    val root = s"${tempCorpusDir("graft_drift_mlog")}/log"
    val v1 = (0 until 1000).map(i => (i.toLong, i.toLong * 1000L)).toDF("k", "ts")
    v1.repartitionByRange(2, col("ts")).sortWithinPartitions("ts")
      .write.parquet(root)
    graft.util.ManifestLog.adopt(spark, root, boundCol = Some("ts"))
    val v2 = (1000 until 2000).map(i => (i.toLong, i.toLong * 1000L, s"attr$i"))
      .toDF("k", "ts", "attr")
    graft.util.ManifestLog.appendSorted(
      v2.repartitionByRange(2, col("ts")).sortWithinPartitions("ts"), root,
      boundCol = Some("ts"))
    val merged = graft.util.ManifestLog.read(spark, root,
      Map("mergeSchema" -> "true"))
    assert(merged.columns.toSet == Set("k", "ts", "attr"))
    assert(merged.count() == 2000)
    assert(merged.filter(col("attr").isNull).count() == 1000, "v1 rows must read null-filled")
    // Stats-driven slice planning works ACROSS schema generations: a
    // v2-range slice plans only v2's files (and still reads the wide
    // schema when asked).
    val slice = graft.util.ManifestLog.readSlice(spark, root, "ts",
      1500000L, 1600000L)
    assert(slice.inputFiles.length < merged.inputFiles.length,
      "slice planned every schema generation's files")
    assert(slice.filter(col("ts") >= 1500000L && col("ts") < 1600000L).count() == 100)
  }
}
