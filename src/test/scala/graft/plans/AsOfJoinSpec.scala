package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** The native as-of join (AsOfJoinExec) against (a) hand-computed
  * expectations on a tiny fixture and (b) the composed union+window
  * construction on seeded random data with null keys and null
  * on-values — the two implementations must agree row-for-row, with
  * and without tolerance. Also pins the physical plan: the custom
  * operator must actually be what runs.
  */
class AsOfJoinSpec extends SparkTestBase with graft.TempCorpusDirs {
  import sqlImplicits._

  private def leftDf(rows: Seq[(Option[Long], Option[Long], Long)]): DataFrame =
    rows.toDF("k", "t", "lid")

  private def rightDf(rows: Seq[(Option[Long], Option[Long], String)]): DataFrame =
    rows.toDF("rk", "rt", "payload")

  private def native(left: DataFrame, right: DataFrame, tol: Option[Long]): DataFrame =
    AsOfJoin.join(left, right,
      leftBy = Seq("k"), rightBy = Seq("rk"),
      leftOn = "t", rightOn = "rt", toleranceUs = tol)

  /** Reference: the q57-style composed form — window the union of both
    * streams, running max of the right timestamps, right rows ordered
    * before left at equal instants (exact matches allowed).
    */
  private def composed(left: DataFrame, right: DataFrame, tol: Option[Long]): DataFrame = {
    val l = left.select(col("k"), col("t"), col("lid"), lit(1).as("side"))
    val r = right.select(col("rk").as("k"), col("rt").as("t"),
      lit(null).cast("long").as("lid"), lit(0).as("side"))
    val w = Window.partitionBy("k")
      .orderBy(col("t").asc_nulls_first, col("side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inTol = tol.map(tv => col("t") - col("last_rt") <= tv).getOrElse(lit(true))
    l.unionByName(r)
      .withColumn("last_rt", max(when(col("side") === 0, col("t"))).over(w))
      .filter(col("side") === 1)
      .select(col("k"), col("t"), col("lid"),
        when(col("t").isNotNull && inTol, col("last_rt")).as("m_rt"))
  }

  private val fixtureLeft = leftDf(Seq(
    (Some(1L), Some(10L), 1L),  // exact match allowed -> rt=10
    (Some(1L), Some(9L), 2L),   // -> rt=5
    (Some(1L), Some(4L), 3L),   // before all clicks -> null
    (Some(1L), None, 4L),       // null on never matches
    (Some(2L), Some(50L), 5L),  // key without right rows -> null
    (None, Some(7L), 6L),       // null key matches the null-key series
  ))
  private val fixtureRight = rightDf(Seq(
    (Some(1L), Some(5L), "r5"),
    (Some(1L), Some(10L), "r10"),
    (Some(1L), Some(30L), "r30"),   // after every left row
    (Some(1L), None, "rnull"),      // null on: never a candidate
    (Some(3L), Some(1L), "other"),  // key without left rows
    (None, Some(6L), "rnullkey"),
  ))

  test("fixture: matches, exact-match, unmatched, null on, null key") {
    val got = native(fixtureLeft, fixtureRight, tol = None)
      .select("lid", "rt", "payload")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        Option(r.getString(2)))).toSet
    assert(got === Set(
      (1L, Some(10L), Some("r10")),
      (2L, Some(5L), Some("r5")),
      (3L, None, None),
      (4L, None, None),
      (5L, None, None),
      (6L, Some(6L), Some("rnullkey")),
    ))
  }

  test("fixture: tolerance nulls out stale matches instead of backing off") {
    val got = native(fixtureLeft, fixtureRight, tol = Some(3L))
      .select("lid", "rt")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    // lid=2 (t=9): last click rt=5, gap 4 > 3 -> null, NOT an earlier row.
    assert(got === Set(
      (1L, Some(10L)), (2L, None), (3L, None),
      (4L, None), (5L, None), (6L, Some(6L)),
    ))
  }

  test("ties on (key, on): the matched on-value is the tie instant") {
    val left = leftDf(Seq((Some(1L), Some(9L), 1L)))
    val right = rightDf(Seq(
      (Some(1L), Some(5L), "a"), (Some(1L), Some(5L), "b")))
    val rows = native(left, right, None).select("rt").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(5L))
  }

  test("empty right side: all left rows emitted unmatched") {
    val left = leftDf(Seq((Some(1L), Some(1L), 1L), (Some(2L), Some(2L), 2L)))
    val right = rightDf(Nil)
    val got = native(left, right, None).collect()
    assert(got.length === 2 && got.forall(_.isNullAt(got.head.fieldIndex("rt"))))
  }

  test("seeded random equivalence with the composed union+window form") {
    val rnd = new scala.util.Random(42)
    def optKey() = if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(6).toLong)
    def optT() = if (rnd.nextInt(20) == 0) None else Some(rnd.nextInt(500).toLong)
    val left = leftDf((0 until 400).map(i => (optKey(), optT(), i.toLong)))
    val right = rightDf((0 until 400).map(i => (optKey(), optT(), s"p$i")))
    for (tol <- Seq(None, Some(40L), Some(0L))) {
      val a = native(left, right, tol)
        .select(col("k"), col("t"), col("lid"), col("rt").as("m_rt"))
        .orderBy(asc_nulls_first("lid")).collect().toSeq
      val b = composed(left, right, tol)
        .orderBy(asc_nulls_first("lid")).collect().toSeq
      assert(a === b, s"tolerance=$tol")
    }
  }

  private def nativeFwd(left: DataFrame, right: DataFrame, tol: Option[Long]): DataFrame =
    AsOfJoin.join(left, right,
      leftBy = Seq("k"), rightBy = Seq("rk"),
      leftOn = "t", rightOn = "rt", toleranceUs = tol, direction = "forward")

  /** Composed reference for the FORWARD direction: running min of the
    * right timestamps over the FOLLOWING frame, right rows ordered
    * after left at equal instants so an exact match is inside the
    * frame (mirror image of [[composed]]).
    */
  private def composedFwd(left: DataFrame, right: DataFrame, tol: Option[Long]): DataFrame = {
    val l = left.select(col("k"), col("t"), col("lid"), lit(0).as("side"))
    val r = right.select(col("rk").as("k"), col("rt").as("t"),
      lit(null).cast("long").as("lid"), lit(1).as("side"))
    val w = Window.partitionBy("k")
      .orderBy(col("t").asc_nulls_last, col("side"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val inTol = tol.map(tv => col("next_rt") - col("t") <= tv).getOrElse(lit(true))
    l.unionByName(r)
      .withColumn("next_rt", min(when(col("side") === 1, col("t"))).over(w))
      .filter(col("side") === 0)
      .select(col("k"), col("t"), col("lid"),
        when(col("t").isNotNull && inTol, col("next_rt")).as("m_rt"))
  }

  test("forward fixture: earliest at-or-after match, unmatched, null on, null key") {
    val got = nativeFwd(fixtureLeft, fixtureRight, tol = None)
      .select("lid", "rt", "payload")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        Option(r.getString(2)))).toSet
    assert(got === Set(
      (1L, Some(10L), Some("r10")), // exact match is inclusive
      (2L, Some(10L), Some("r10")), // t=9 -> next right is 10
      (3L, Some(5L), Some("r5")),   // t=4 -> next right is 5
      (4L, None, None),             // null on never matches
      (5L, None, None),             // key without right rows
      (6L, None, None),             // null-key series has no rt >= 7
    ))
  }

  test("forward tolerance nulls out far-future matches instead of backing off") {
    val got = nativeFwd(fixtureLeft, fixtureRight, tol = Some(1L))
      .select("lid", "rt")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    // lid=2 (t=9): next right rt=10, gap 1 <= 1 -> match; lid=3 (t=4):
    // next rt=5, gap 1 -> match; lid=1 exact (gap 0) -> match.
    assert(got === Set(
      (1L, Some(10L)), (2L, Some(10L)), (3L, Some(5L)),
      (4L, None), (5L, None), (6L, None),
    ))
  }

  test("forward seeded random equivalence with the composed union+window form") {
    val rnd = new scala.util.Random(77)
    def optKey() = if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(6).toLong)
    def optT() = if (rnd.nextInt(20) == 0) None else Some(rnd.nextInt(500).toLong)
    val left = leftDf((0 until 400).map(i => (optKey(), optT(), i.toLong)))
    val right = rightDf((0 until 400).map(i => (optKey(), optT(), s"p$i")))
    for (tol <- Seq(None, Some(40L), Some(0L))) {
      val a = nativeFwd(left, right, tol)
        .select(col("k"), col("t"), col("lid"), col("rt").as("m_rt"))
        .orderBy(asc_nulls_first("lid")).collect().toSeq
      val b = composedFwd(left, right, tol)
        .orderBy(asc_nulls_first("lid")).collect().toSeq
      assert(a === b, s"tolerance=$tol")
    }
  }

  test("physical plan runs AsOfJoinExec with one exchange+sort per side") {
    val df = native(fixtureLeft, fixtureRight, None)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), plan)
    assert(!plan.contains("Window"), plan) // native, not the composition
  }

  /** The operator's headline at-rest claim, proven rather than stated:
    * when both sides are bucketed on their keys with the same bucket
    * count, the scans' HashPartitioning already satisfies the declared
    * ClusteredDistribution, so EnsureRequirements inserts NO exchange
    * on either side — only the (key, on) sorts. On a plain parquet
    * input the same plan carries two exchanges; that pair is exactly
    * what a 100 TB deployment pre-pays at ingest by bucketing.
    */
  test("bucketed inputs elide both exchanges; plain inputs pay two") {
    val warehouse = tempCorpusDir("graft_asof_bkt")
    def bucketed(df: org.apache.spark.sql.DataFrame, table: String, key: String) = {
      df.write.mode("overwrite")
        .option("path", s"$warehouse/$table")
        .bucketBy(4, key).sortBy(key)
        .saveAsTable(table)
      spark.table(table)
    }
    val l = bucketed(leftDf((0 until 64).map(i =>
      (Some((i % 8).toLong), Some(i.toLong), i.toLong))), "asof_left_b", "k")
    val r = bucketed(rightDf((0 until 64).map(i =>
      (Some((i % 8).toLong), Some(i.toLong), s"p$i"))), "asof_right_b", "rk")

    val bucketedPlan = native(l, r, None).queryExecution.executedPlan.toString
    assert(bucketedPlan.contains("AsOfJoin"), bucketedPlan)
    assert(!bucketedPlan.contains("Exchange"),
      s"bucketed as-of must not shuffle either side:\n$bucketedPlan")

    val plainPlan = native(
      leftDf(Seq((Some(1L), Some(1L), 1L))),
      rightDf(Seq((Some(1L), Some(1L), "p"))), None)
      .queryExecution.executedPlan.toString
    assert(plainPlan.linesIterator.count(_.contains("Exchange hashpartitioning")) == 2,
      s"plain inputs should exchange both sides:\n$plainPlan")

    // And the bucketed plan still computes the right answer.
    val got = native(l, r, None).select("lid", "rt").collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    // Left row i (key i%8, t=i) matches the latest right row with the
    // same key and rt <= i — which is right row i itself (rt=i).
    assert(got(63L) == 63L && got(7L) == 7L && got(8L) == 8L, s"$got")
  }
}
