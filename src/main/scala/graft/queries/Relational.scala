package graft.queries

import org.apache.spark.sql.functions._
import graft.util.{QueryDef, Tables}

/** Relational extensions beyond the reference's surface (SURVEY.md §2.5,
  * §2.8 note zero joins / set ops in the reference): broadcast + shuffle
  * joins, semi/anti, outer, window functions, rollup, distinct
  * aggregates, set operations, and the statistics the reference's five
  * business questions need (Q2 budget↔revenue correlation, Q3 per-year
  * counts, Q5 runtime↔rating relationship — README.md:16-20).
  *
  * Scale notes are inline: every join states its strategy choice and why
  * it survives 100 TB.
  */
object Relational {

  import Tables.tbl

  /** The canonical at-rest orders layout: partitioned by order_year
    * (directory-level pruning — q48's path) AND date-sorted within
    * partitions with the date as BIGINT micros (row-group pruning for
    * arbitrary date ranges — the lineitem-sd-log recipe). Every
    * date-bounded orders read slices THIS via [[ordersSlice]]: the
    * year bounds drop whole directories before listing, the micros
    * bounds skip row groups inside the boundary years — the raw NTZ
    * o_orderdate column rides along untouched for outputs and
    * expressions, it just never carries the boundary predicate (this
    * Spark accepts but never converts NTZ predicates to row-group
    * filters). Partition count pinned and folded into the name, as
    * with the other sorted logs.
    */
  private def ordersByYear(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val n = graft.util.ManifestLog.layoutFanout(s, s"$dir/orders.parquet")
    graft.util.Snapshots(s, dir, s"orders-by-year-n$n",
      partitionBy = Seq("order_year"), adoptBound = Some("o_orderdate_us")) {
      ordersYearFrame(tbl(s, dir, "orders"), n)
    }
  }

  /** The year-partitioned date-clustering recipe — shared verbatim by
    * the one-shot snapshot build above and the segment-append
    * maintenance path ([[appendOrdersByYearSegment]]), so a layout
    * built by N appends is file-for-file the same KIND of object as a
    * rebuild: same columns, same per-file sort, same stats tightness.
    */
  private[graft] def ordersYearFrame(
      orders: org.apache.spark.sql.DataFrame, n: Int): org.apache.spark.sql.DataFrame =
    orders
      .withColumn("order_year", year(col("o_orderdate").cast("date")))
      .withColumn("o_orderdate_us", unix_micros(col("o_orderdate").cast("timestamp")))
      .repartitionByRange(n, col("order_year"), col("o_orderdate_us"))
      .sortWithinPartitions("order_year", "o_orderdate_us")

  /** Segment-append for the orders-by-year layout: the arriving orders
    * batch lands as new files INSIDE the existing year directories
    * (directories are shared between segments —
    * [[graft.util.ManifestLog.appendSorted]] for the geometry argument
    * and the compaction bound). O(batch) per ingest tick; history files
    * untouched.
    */
  private[graft] def appendOrdersByYearSegment(
      s: org.apache.spark.sql.SparkSession, root: String,
      batchOrders: org.apache.spark.sql.DataFrame): Unit = {
    val n = s.conf.get("spark.sql.shuffle.partitions").toInt
    graft.util.ManifestLog.appendSorted(
      ordersYearFrame(batchOrders, n), root, partitionDirs = Seq("order_year"),
      boundCol = Some("o_orderdate_us"))
  }

  /** A date slice of [[ordersByYear]] with both pruning predicates
    * derived from the bounds: order_year (directory prune) and
    * o_orderdate_us (row-group prune). Bounds are YYYY-MM-DD literals,
    * from inclusive, until exclusive; either side open.
    */
  private def ordersSlice(
      s: org.apache.spark.sql.SparkSession, dir: String,
      fromIncl: Option[String], untilExcl: Option[String]): org.apache.spark.sql.DataFrame = {
    // Boundary hint for a manifested layout: plan only the files whose
    // manifest-recorded date range may overlap the slice (directory
    // and row-group pruning then narrow within them, as always).
    // Same n derivation as the build — the two must name ONE layout.
    val n = graft.util.ManifestLog.layoutFanout(s, s"$dir/orders.parquet")
    val base = graft.util.Snapshots.slice(s, dir, s"orders-by-year-n$n",
        "o_orderdate_us",
        fromIncl.map(dateUs).getOrElse(Long.MinValue),
        untilExcl.map(dateUs).getOrElse(Long.MaxValue),
        partitionBy = Seq("order_year")) {
      ordersYearFrame(tbl(s, dir, "orders"), n)
    }
    val lower = fromIncl.map { f =>
      col("order_year") >= f.take(4).toInt && col("o_orderdate_us") >= dateUs(f)
    }
    val upper = untilExcl.map { u =>
      // Max included year = the year of the last included day.
      val maxYear = java.time.LocalDate.parse(u).minusDays(1).getYear
      col("order_year") <= maxYear && col("o_orderdate_us") < dateUs(u)
    }
    (lower.toSeq ++ upper.toSeq).reduceOption(_ && _).fold(base)(base.filter)
  }

  /** Bucket count of the orderkey co-location pair. A CONSTANT, not a
    * session setting (the layout must not depend on who built it —
    * the events-us-log lesson), and shared by BOTH tables: co-located
    * joins require identical bucketing. At 100 TB the constant scales
    * to O(thousands); what matters is that it is a property of the
    * corpus, pinned once at ingest.
    */
  private val OrderkeyBuckets = 32

  /** Full-width lineitem bucketed+sorted by l_orderkey — one half of
    * the orderkey co-location pair (the other is [[ordersBucketed]]).
    * Lineitem keeps exactly TWO at-rest layouts, both full-width, and
    * queries pick by access pattern: [[lineitemSdLog]] (date-clustered
    * — date-bounded scans prune row groups) and this one (the hot join
    * key — keyed joins/aggregates/windows consume the scan's hash
    * distribution). Column pruning narrows every individual scan, so
    * full width costs storage, not read bandwidth. The pre-write
    * repartition on the bucket key puts each bucket's rows in exactly
    * one task — one file per bucket, so the scan reports its sort
    * order and co-located merge joins skip even the local sort.
    *
    * Skew: co-located plans have no query-time exchange, so AQE skew
    * splitting never sees them — the layout must carry its own story.
    * A hot key hashes to exactly ONE bucket (bucketing cannot split a
    * key; that is the co-location contract) and the uniform remainder
    * stays balanced, so skew concentrates rather than contaminates;
    * TPC-H's orderkey grain is additionally schema-bounded (≤7 lines
    * per order), so no orderkey can be hot here. For corpora whose key
    * grain IS unbounded, the escape hatch is a local query rewrite,
    * never a re-layout: two-phase salted aggregation over this same
    * scan — partials on (key, salt), merge on key — splits a hot key's
    * grain across tasks with bit-identical results. All three claims
    * (skew-blind correctness, one-hot-bucket geometry, salted-rewrite
    * equivalence) are pinned by BucketSkewSpec on a corpus where one
    * orderkey owns ~83% of the fact rows.
    */
  private[graft] def lineitemBucketed(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    graft.util.Snapshots.bucketedTable(
      s, dir, "lineitem-by-orderkey", "l_orderkey", buckets = OrderkeyBuckets) {
      tbl(s, dir, "lineitem")
        .repartition(OrderkeyBuckets, col("l_orderkey"))
    }

  /** Orders bucketed+sorted by o_orderkey — the co-located twin of
    * [[lineitemBucketed]]. The lineitem⋈orders equi-join on orderkey
    * is the single largest shuffle in the TPC-H family at 100 TB
    * (both sides are fact-scaled); with both tables bucketed on the
    * join key the shuffle is paid ONCE at ingest and every keyed join
    * and per-order window thereafter consumes the scan's hash
    * distribution directly. Queries that need orders DATE pruning
    * instead ride [[ordersByYear]] — a warehouse keeps both: clustering
    * serves scans, co-location serves joins.
    */
  /** The orderkey family's orders projection — shared by the one-shot
    * build and the segment-append path so a batch lands with exactly
    * the at-rest columns. */
  private val OrdersOrderkeyCols =
    Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate", "o_totalprice",
      // r22 column-add: Q12's priority split rides the orderkey pair
      // (the lineitem slice shuffles to the at-rest buckets; orders
      // itself never crosses the wire).
      "o_orderpriority")

  private[graft] def ordersBucketed(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    graft.util.Snapshots.bucketedTable(
      s, dir, "orders-by-orderkey", "o_orderkey", buckets = OrderkeyBuckets) {
      tbl(s, dir, "orders")
        .select(OrdersOrderkeyCols.map(col): _*)
        .repartition(OrderkeyBuckets, col("o_orderkey"))
    }

  /** Bucket count of the custkey pair — its OWN constant: the two
    * pairs are independent layouts, and co-location holds only while
    * both tables of ONE pair share a count. Retuning the orderkey
    * family must not silently re-bucket this one (or vice versa).
    */
  private val CustkeyBuckets = 32

  /** Orders projection bucketed+sorted by o_custkey — the fact half of
    * the CUSTKEY co-location pair (the dim half is
    * [[customerByCustkey]]). Q13's customer⋈orders hop groups the full
    * orders table by customer; without co-location that is a
    * fact-scaled shuffle on every run. A warehouse keeps one
    * projection per hot join key (the C-Store/Vertica projection
    * model): orders already has a year-partitioned clustering for date
    * slices and an orderkey bucketing for the lineitem hop — this is
    * the third and last hot key. Carries exactly the custkey family's
    * columns; growing the family is a column-add here.
    */
  /** The custkey family's columns (r22 column-add: the per-customer
    * window family q30–q32 and the custkey aggregates q43/q45 ride
    * this projection — their partitionBy/groupBy consumes the bucket
    * distribution with NO exchange, and the scan parallelizes across
    * the bucket files where the raw upload is one row group).
    */
  private val OrdersCustkeyCols = Seq(
    "o_custkey", "o_orderkey", "o_orderpriority",
    "o_orderstatus", "o_totalprice", "o_orderdate")

  private[graft] def ordersByCustkey(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    graft.util.Snapshots.bucketedTable(
      s, dir, "orders-by-custkey", "o_custkey", buckets = CustkeyBuckets) {
      tbl(s, dir, "orders")
        .select(OrdersCustkeyCols.map(col): _*)
        .repartition(CustkeyBuckets, col("o_custkey"))
    }

  /** Customer keyed projection co-bucketed with [[ordersByCustkey]]:
    * the dimension side of the custkey pair. Dim-scaled, so the
    * at-rest copy is cheap — and with it the Q13 shape touches the
    * wire only for its final bounded histogram.
    */
  private[graft] def customerByCustkey(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    graft.util.Snapshots.bucketedTable(
      s, dir, "customer-by-custkey", "c_custkey", buckets = CustkeyBuckets) {
      tbl(s, dir, "customer")
        .select("c_custkey")
        .repartition(CustkeyBuckets, col("c_custkey"))
    }

  /** Partsupp-shaped at-rest artifact (supplier×part grain): this corpus
    * ships no partsupp table, so the four TPC-H shapes that need one
    * (Q2/Q9/Q11/Q20) had no home through round 6. The artifact derives
    * the grain from lineitem at ingest — one groupBy per corpus
    * snapshot, exactly how a warehouse materializes a relationship
    * table from its fact history:
    *   ps_availqty   = total quantity ever moved for the pair (integral
    *                   double sum → exact → BIGINT in both engines),
    *   ps_supplycost = cheapest observed unit price
    *                   (min over per-row IEEE divisions — each division
    *                   is bit-deterministic and min is order-independent,
    *                   so both engines hold identical doubles and the
    *                   Q2 min-cost EQUALITY cannot flip; the divisor is
    *                   nullif-guarded because Spark's default ANSI mode
    *                   throws DIVIDE_BY_ZERO on a zero-quantity line
    *                   where DuckDB yields NULL — min skips NULL in
    *                   both engines, so the guard is value-neutral).
    * The DuckDB oracles derive the identical table inline ([[psCte]]).
    */
  /** Bucket count of the partsupp grain — its own constant (the
    * co-location-constant rule: one constant per layout family). */
  private val PartkeyBuckets = 32

  private def partsupp(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    // Bucketed by ps_partkey at build: the grain's hot consumers key
    // on the part — Q2's min-cost window and Q11's two per-part
    // aggregates consume the scan's distribution with no exchange.
    // (The composite-key joins in Q9/Q20 are indifferent: Spark
    // shuffles both sides on the full (partkey, suppkey) pair, so a
    // partkey-only bucketing neither helps nor hurts them.)
    graft.util.Snapshots.bucketedTable(
      s, dir, "partsupp", "ps_partkey", buckets = PartkeyBuckets) {
      partsuppAggOf(tbl(s, dir, "lineitem"))
        .repartition(PartkeyBuckets, col("ps_partkey"))
    }

  /** The partsupp aggregate recipe over an arbitrary lineitem frame —
    * factored so the at-rest build and the retraction's per-group
    * refresh share one definition and cannot drift. */
  private[queries] def partsuppAggOf(li: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    li.groupBy(col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"))
      .agg(
        sum("l_quantity").cast("bigint").as("ps_availqty"),
        min(col("l_extendedprice") / nullif(col("l_quantity"), lit(0.0)))
          .as("ps_supplycost"),
      )

  /** Retraction for the partsupp grain — the PARTITIONED REFRESH
    * geometry: ps_availqty is an invertible sum but ps_supplycost is a
    * MIN, so instead of tracking which row held each group's minimum,
    * the groups the deleted rows touch re-aggregate from their
    * surviving lineitem rows (two semi-joins bound the work by the
    * deleted batch's groups) and every other group passes through
    * verbatim. Groups that lose their last row leave the grain, like a
    * survivors rebuild's.
    */
  private[queries] def retractPartsupp(base: org.apache.spark.sql.DataFrame,
      survivingLi: org.apache.spark.sql.DataFrame,
      deletedLi: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val touched = deletedLi
      .select(col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"))
      .distinct()
    val untouched = base.join(touched, Seq("ps_partkey", "ps_suppkey"), "left_anti")
    val keys = touched
      .select(col("ps_partkey").as("l_partkey"), col("ps_suppkey").as("l_suppkey"))
    val refreshed = partsuppAggOf(
      survivingLi.join(keys, Seq("l_partkey", "l_suppkey"), "left_semi"))
    untouched.unionByName(refreshed)
      .select(base.columns.map(col).toIndexedSeq: _*)
  }

  /** Oracle-side twin of the [[partsupp]] artifact, spliced into each
    * partsupp query's WITH clause (declared above `defs` — the strict
    * Seq interpolates it at object construction). */
  private val psCte: String = """partsupp AS (
          SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                 CAST(sum(l_quantity) AS BIGINT) AS ps_availqty,
                 min(l_extendedprice / nullif(l_quantity, 0)) AS ps_supplycost
          FROM lineitem
          GROUP BY l_partkey, l_suppkey)"""

  /** 1-row at-rest companion for the incremental partsupp merge
    * (q151): the l_shipdate high-water mark the base grain was built
    * to — 80% of the fact table's ship-date span in exact integer
    * microsecond arithmetic (the q145/scd2-hwm geometry applied to the
    * fact table). Queries read THIS one row on the driver (the same
    * bounded read as scd2-hwm) so the boundary becomes a scan-pushable
    * literal; the min/max corpus scan runs once at build time.
    * l_shipdate is parquet TIMESTAMP_NTZ;
    * the cast to TIMESTAMP interprets it in the session's pinned UTC,
    * the same instant DuckDB's epoch_us reads from the naive value.
    */
  private def psHwm(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    graft.util.Hwm.artifact(s, dir, "partsupp-hwm")(
      col("l_shipdate_us"), lineitemSdLog(s, dir))

  /** Exact micros for a UTC midnight date literal — the BIGINT boundary
    * form the [[lineitemSdLog]] layout prunes on. */
  private def dateUs(d: String): Long =
    java.time.LocalDate.parse(d).toEpochDay * 86400000000L

  /** Exact micros of Jan 1 of `year`, computed NUMERICALLY — the pair
    * layout's per-year segment boundaries. Not via [[dateUs]]'s string
    * parse: `LocalDate.parse("10000-01-01")` throws (ISO-8601 demands
    * a leading '+' on 5-digit years), so the y+1 boundary of a
    * 9999-12-31 SCD-style sentinel ship date — exactly the outlier the
    * distinct-year iteration exists to absorb cheaply — would crash
    * the build instead of costing one extra batch (r18 advice).
    * `LocalDate.of` is valid to year 999999999, but the MICROS wrap
    * Long past year ~292,278 — and Spark's own TimestampNTZ max sits
    * at year 294,247 (Long.MaxValue micros), so the y+1 boundary of a
    * max-year sentinel date would silently wrap negative and drop the
    * row from every segment. A boundary past the representable range
    * clamps to the open end instead: NTZ values below the absolute
    * maximum stay inside their year's segment, and the one
    * unrepresentable edge (a timestamp at exactly Long.MaxValue
    * micros, which `< hi` cannot include) trips the build's
    * manifested==source count check LOUDLY instead of losing rows
    * silently. Sentinel-year drill: LineitemLayoutSpec.
    */
  private[queries] def yearStartUs(year: Int): Long =
    try Math.multiplyExact(java.time.LocalDate.of(year, 1, 1).toEpochDay,
      86400000000L)
    catch { case _: ArithmeticException => Long.MaxValue }

  /** At-rest ship-date-clustered lineitem: the full fact table
    * materialized once per corpus snapshot, globally SORTED by
    * `l_shipdate_us` (BIGINT micros replacing the NTZ `l_shipdate`;
    * nulls sort first). This is the events-us-log recipe applied to the
    * fact table — and it exists for the same measured reason: on this
    * Spark a date-boundary filter on the raw NTZ column is ACCEPTED by
    * the source yet never becomes a parquet row-group predicate
    * (ParquetFilters converts only UTC-adjusted timestamp annotations),
    * so every date-bounded read decodes all of history to drop most of
    * it. Integer predicates convert in every Spark version, and the
    * sort gives each row group a tight disjoint date range — the
    * boundary scan becomes O(selected), metrics-proven in
    * LineitemLayoutSpec.
    *
    * Scope: ALL eleven columns, unlike the four-column events log —
    * ship-date clustering is the fact table's canonical at-rest order
    * (TPC-H warehouses cluster lineitem exactly this way), the
    * date-bounded query family touches 10 of the 11 columns between
    * them, and column pruning still narrows every individual scan. At
    * 100 TB this rewrite is the one-time ingest cost that makes every
    * later date-bounded read skip the history it doesn't want.
    *
    * The partition count N is explicit (a bare sort's range shuffle is
    * AQE-coalescible — the layout would depend on box size),
    * mass-derived with a parallelism floor
    * ([[graft.util.ManifestLog.layoutFanout]] — target-sized files at
    * corpus scale, core-count spread on a small one), and folded into
    * the artifact name: the Snapshots memo keys on (dir, name,
    * fingerprint) only, so two sessions with different settings must
    * not share a layout.
    */
  private[graft] def lineitemSdLog(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val n = graft.util.ManifestLog.layoutFanout(s, s"$dir/lineitem.parquet")
    graft.util.Snapshots(s, dir, s"lineitem-sd-log-n$n",
      adoptBound = Some("l_shipdate_us")) {
      sdLogFrame(tbl(s, dir, "lineitem"), n)
    }
  }

  /** The ship-date clustering recipe — shared verbatim by the one-shot
    * snapshot build above and the segment-append maintenance path
    * ([[appendLineitemSdLogSegment]]): BIGINT-micros boundary column,
    * range-partitioned and sorted within partitions, so every file a
    * segment writes carries tight disjoint l_shipdate_us stats over
    * its span.
    */
  private[graft] def sdLogFrame(
      li: org.apache.spark.sql.DataFrame, n: Int): org.apache.spark.sql.DataFrame =
    li.withColumn("l_shipdate_us", unix_micros(col("l_shipdate").cast("timestamp")))
      .drop("l_shipdate")
      .repartitionByRange(n, col("l_shipdate_us"))
      .sortWithinPartitions("l_shipdate_us")

  /** Segment-append for the ship-date-sorted lineitem log: the
    * arriving fact batch is clustered by the shared recipe and lands
    * as new files under the layout root — O(batch) per ingest tick,
    * history files untouched, boundary pruning intact across segments
    * ([[graft.util.ManifestLog.appendSorted]]; measured in
    * SegmentAppendSpec).
    */
  private[graft] def appendLineitemSdLogSegment(
      s: org.apache.spark.sql.SparkSession, root: String,
      batchLi: org.apache.spark.sql.DataFrame): Unit = {
    val n = s.conf.get("spark.sql.shuffle.partitions").toInt
    graft.util.ManifestLog.appendSorted(sdLogFrame(batchLi, n), root,
      boundCol = Some("l_shipdate_us"))
  }

  /** The lineitem batch shipped at-or-after a micros cutoff (NULL ship
    * dates ride along — see q151), read from the ship-date-sorted log
    * so the boundary prunes row groups instead of decoding history.
    * Or(GtEq, IsNull) still converts to a parquet row-group predicate:
    * a group skips when its max is below the cutoff AND its null count
    * is zero.
    */
  private[graft] def lineitemSince(
      s: org.apache.spark.sql.SparkSession, dir: String,
      cutoffUs: Long): org.apache.spark.sql.DataFrame = {
    // The boundary hint: a manifested log plans only the files whose
    // recorded stats may hold rows at-or-after the cutoff. Null ship
    // dates ride along regardless — stats are recorded only for
    // null-free files, and stats-less files are never pruned.
    // Same n derivation as the build — the two must name ONE layout.
    val n = graft.util.ManifestLog.layoutFanout(s, s"$dir/lineitem.parquet")
    graft.util.Snapshots.slice(s, dir, s"lineitem-sd-log-n$n",
        "l_shipdate_us", cutoffUs, Long.MaxValue) {
      sdLogFrame(tbl(s, dir, "lineitem"), n)
    }.filter(col("l_shipdate_us") >= cutoffUs || col("l_shipdate_us").isNull)
  }

  /** Orderkey-sorted MANIFESTED lineitem log — the keyed-read twin of
    * [[lineitemSdLog]] (same recipe, the join key as the boundary
    * column), existing for the dynamic-file-pruning path: a filtered
    * dimension's keys resolve to the few files whose recorded orderkey
    * range holds any of them ([[graft.util.ManifestLog.readForKeys]]),
    * so a selective dim filter narrows the FACT scan at plan time. No
    * blooms needed — the key IS the sort column, so manifest range
    * stats answer exactly.
    */
  private[graft] def lineitemOkLog(
      s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val n = graft.util.ManifestLog.layoutFanout(s, s"$dir/lineitem.parquet")
    graft.util.Snapshots.manifestedLog(s, dir, s"lineitem-ok-log-n$n",
      "l_orderkey", Nil) {
      tbl(s, dir, "lineitem")
        .repartitionByRange(n, col("l_orderkey"))
        .sortWithinPartitions("l_orderkey")
    }
  }

  /** MANIFESTED bucketed lineitem for the co-location pair, built as
    * one SEGMENT per ship-date year
    * ([[graft.util.Snapshots.bucketedSegments]]): each bucket gets
    * per-YEAR files — the incremental-ingest geometry a 100 TB fact
    * actually has — whose `l_shipdate` stats are tight and disjoint.
    * Reads get BOTH wins at once: the bucket spec keeps orderkey joins
    * exchange-free, and the stats-aware manifest FileIndex skips whole
    * files for a pushed date bound at PLAN time — notably on the raw
    * NTZ column, where this Spark's ParquetFilters cannot even form a
    * row-group predicate: manifest skipping sits ABOVE the parquet
    * filter seam, so it prunes where footer predicates cannot. NULL ship dates ride with the first year's
    * segment (their file stays stats-less — never pruned, the
    * recording contract).
    *
    * The whole build is ONE generation-1 commit, so a crash at any
    * point leaves no committed generation and the next session builds
    * the layout again. The year set derives from the corpus's DISTINCT
    * ship years — corpus drift outside a hard-coded window cannot drop
    * rows, and a lone sentinel year (9999-12-31) costs one extra
    * segment instead of thousands of empty range iterations — and the
    * staged files must hold every source row (footer counts, checked
    * before the commit), which backstops the year predicates
    * themselves.
    */
  private[graft] def lineitemPairManifested(
      s: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.util.Snapshots.bucketedSegments(s, dir, s"li-ok-pair-b$OrderkeyBuckets",
      Seq("l_orderkey"), OrderkeyBuckets, Seq("l_shipdate")) {
      val cols = Seq("l_orderkey", "l_extendedprice", "l_discount",
        "l_returnflag", "l_shipdate")
      val li = tbl(s, dir, "lineitem").select(cols.map(col): _*)
      // Iterate the DISTINCT ship years actually present, not the
      // contiguous min..max range (r17 advice): one outlier/sentinel
      // date (9999-12-31 is common in SCD-style data) would otherwise
      // turn the build into thousands of empty bucketed segment
      // writes. The collect is bounded by the year domain (a fact
      // table spans decades, not thousands of distinct years).
      val years = li.select(year(col("l_shipdate")).as("y"))
        .where(col("y").isNotNull).distinct()
        .collect().map(_.getInt(0)).sorted
      val segments =
        // No non-null ship dates: the (possibly empty) null segment is
        // the whole fact.
        if (years.isEmpty) Seq(li.where(col("l_shipdate").isNull))
        else years.toSeq.map { y =>
          val lo = graft.util.Tables.ntzUs(yearStartUs(y))
          val hi = graft.util.Tables.ntzUs(yearStartUs(y + 1))
          val inYear = col("l_shipdate") >= lit(lo) && col("l_shipdate") < lit(hi)
          li.where(if (y == years.head) inYear || col("l_shipdate").isNull else inYear)
        }
      (segments, li.count())
    }

  /** The at-rest partsupp grain a previous incremental run left
    * behind: the [[partsupp]] aggregate over only the lineitem rows
    * shipped BEFORE the hwm. Both aggregates are algebraic — a BIGINT
    * sum of integral-double quantities and a min of bit-deterministic
    * per-row unit prices — so folding a batch's partials into these
    * partials reconstructs the full-history aggregate exactly.
    */
  /** Bucket count of the merge grain's composite key — its own
    * constant (one per layout family). */
  private val PsGrainBuckets = 32

  private def psBase(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    // Bucketed+sorted on the composite key (r22): the q151 merge folds
    // the batch INTO this grain — with the grain at rest in key
    // buckets, the fold joins against it with no exchange on the
    // grain side (the batch alone shuffles — the O(batch) wire bill
    // incremental maintenance exists to have).
    graft.util.Snapshots.bucketedTableKeys(
      s, dir, "partsupp-base", Seq("ps_partkey", "ps_suppkey"),
      buckets = PsGrainBuckets) {
      val c = psHwm(s, dir).head().getLong(0)
      // Built from the ship-date-sorted log (the ingest chain
      // log → hwm → base, same shape as events): the strict-below
      // boundary is a BIGINT predicate, so even this one-time build
      // reads only the history side's row groups.
      lineitemSdLog(s, dir)
        .filter(col("l_shipdate_us") < c)
        .groupBy(col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"))
        .agg(
          sum("l_quantity").cast("bigint").as("ps_availqty"),
          min(col("l_extendedprice") / nullif(col("l_quantity"), lit(0.0)))
            .as("ps_supplycost"),
        )
        // One file per bucket: without this the bucketed write splits
        // EVERY agg task's output across all buckets (tasks × buckets
        // files).
        .repartition(PsGrainBuckets, col("ps_partkey"), col("ps_suppkey"))
    }

  /** Force-build this module's per-corpus at-rest artifacts (partitioned
    * orders, bucketed lineitem, the derived partsupp grain and its
    * incremental-merge companions). Building a
    * table layout is ingest-time work, paid once per corpus — Bench
    * builds them here, untimed but reported, so per-query numbers
    * measure query evaluation rather than whichever query first touched
    * the artifact. */
  private[graft] def prebuildIndexes(
      s: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    // Independent artifact chains build CONCURRENTLY (the TextOps
    // pattern): this module was the bench's prepare CRITICAL PATH —
    // r17 measured index_build_modules.relational ≈ the whole
    // index_build_sec, because eleven builds (several of them repeated
    // scans of the same lineitem source) ran back to back while the
    // other three modules overlapped inside them. Each chain's
    // snapshots are distinct memo keys (same-key races serialize
    // inside Snapshots' computeIfAbsent), and dependent artifacts stay
    // ordered WITHIN their chain (sd-log → hwm → base is the ingest
    // lineage; the two catalog-table twins of the orderkey pair).
    // The barrier is [[graft.util.Chains.runAll]]: it waits for EVERY
    // chain (no detached orphan builds on a failure) and rethrows
    // fatals instead of hanging (r18 advice).
    val chains: Seq[(String, () => Any)] = Seq(
      "orders-by-year" -> (() => ordersByYear(s, dir)),
      "bucketed-pair" -> (() => { lineitemBucketed(s, dir); ordersBucketed(s, dir) }),
      "orders-by-custkey" -> (() => ordersByCustkey(s, dir)),
      "customer-by-custkey" -> (() => customerByCustkey(s, dir)),
      "sd-log-chain" -> (() => { lineitemSdLog(s, dir); psHwm(s, dir); psBase(s, dir) }),
      "ok-log" -> (() => lineitemOkLog(s, dir)),
      "ok-pair" -> (() => lineitemPairManifested(s, dir)),
      "partsupp" -> (() => partsupp(s, dir)),
    )
    graft.util.Chains.runLabeled("relational", chains)
  }

  val defs: Seq[QueryDef] = Seq(
    // ------------------------------------------------------------------
    // Broadcast join: part (2k rows/SF, dimension) broadcast to every
    // executor; lineitem (fact) never shuffles. At 100 TB the fact side
    // stays shuffle-free as long as the dim fits the broadcast threshold.
    QueryDef(
      "q20_join_broadcast",
      Some("""
        SELECT p_brand,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue,
               count(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
        ORDER BY p_brand
      """),
    ) { (s, dir) =>
      // Full-table consumers read the clustered fact log, not the raw
      // single-file upload: same rows, engine-owned fanout, so the scan
      // parallelizes across the layout's files (r22; raw lineitem is
      // one row group — its decode serializes onto one task no matter
      // the split count). l_shipdate is unused here.
      lineitemSdLog(s, dir)
        .join(broadcast(tbl(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(
          round(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1) - col("l_discount")).cast("decimal(18,2)")), 2).cast("double")
            .as("revenue"),
          count(lit(1)).as("n_items"),
        )
        .orderBy("p_brand")
    },

    // ------------------------------------------------------------------
    // Multi-way join (TPC-H Q5 shape): two small dims broadcast; the
    // customer⨝orders⨝lineitem chain shuffles on its keys. Catalyst +
    // AQE pick broadcast for nation/region automatically; we hint the
    // intent explicitly for plan stability.
    QueryDef(
      "q21_join_multi",
      Some("""
        SELECT n_name,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue,
               count(*) AS n_items
        FROM customer
          JOIN orders   ON c_custkey = o_custkey
          JOIN lineitem ON o_orderkey = l_orderkey
          JOIN nation   ON c_nationkey = n_nationkey
          JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
      """),
    ) { (s, dir) =>
      // Join order chosen for the 100 TB wire bill: the two
      // fact-scaled sides meet FIRST on the co-bucketed orderkey pair
      // (zero shuffle), and only the joined fact then crosses the wire
      // once for the customer hop — versus the naive
      // customer→orders→lineitem order, which shuffles orders AND the
      // c⋈o result AND lineitem. (Catalyst keeps the declared join
      // order without CBO; at these SFs customer broadcasts and even
      // that one shuffle disappears.)
      lineitemBucketed(s, dir)
        .join(ordersBucketed(s, dir), col("o_orderkey") === col("l_orderkey"))
        .join(tbl(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
        .join(broadcast(tbl(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(tbl(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy("n_name")
        .agg(
          round(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1) - col("l_discount")).cast("decimal(18,2)")), 2).cast("double")
            .as("revenue"),
          count(lit(1)).as("n_items"),
        )
        .orderBy(desc("revenue"), asc("n_name"))
    },

    // ------------------------------------------------------------------
    // Semi + anti join: EXISTS / NOT EXISTS without materializing the
    // right side — both sides shuffle only their join key columns.
    QueryDef(
      "q22_join_semi_anti",
      Some("""
        SELECT c_mktsegment, 'with_orders' AS kind, count(*) AS n
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        GROUP BY c_mktsegment
        UNION ALL
        SELECT c_mktsegment, 'no_orders' AS kind, count(*) AS n
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment, kind
      """),
    ) { (s, dir) =>
      val cust = tbl(s, dir, "customer")
      val ords = tbl(s, dir, "orders")
      val semi = cust
        .join(ords, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"))
        .withColumn("kind", lit("with_orders"))
      val anti = cust
        .join(ords, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"))
        .withColumn("kind", lit("no_orders"))
      semi.unionByName(anti)
        .select("c_mktsegment", "kind", "n")
        .orderBy("c_mktsegment", "kind")
    },

    // ------------------------------------------------------------------
    // Outer join with null-aware aggregation: nations with zero
    // customers keep a row (count of a null column = 0, H5 semantics).
    QueryDef(
      "q23_outer_join",
      Some("""
        SELECT n_name, count(c_custkey) AS n_customers,
               round(coalesce(sum(c_acctbal), 0), 2) AS total_acctbal
        FROM nation LEFT JOIN customer ON n_nationkey = c_nationkey
        GROUP BY n_name
        ORDER BY n_name
      """),
    ) { (s, dir) =>
      tbl(s, dir, "nation")
        .join(tbl(s, dir, "customer"), col("n_nationkey") === col("c_nationkey"), "left")
        .groupBy("n_name")
        .agg(
          count(col("c_custkey")).as("n_customers"),
          round(coalesce(sum("c_acctbal"), lit(0)), 2).as("total_acctbal"),
        )
        .orderBy("n_name")
    },

    // ------------------------------------------------------------------
    // Window: top-k per group via row_number — the scalable "top N per
    // key" pattern (one shuffle on the partition key; no global sort).
    QueryDef(
      "q30_window_topk",
      Some("""
        SELECT * FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders)
        WHERE rn <= 3
        ORDER BY o_custkey, rn
      """),
    ) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      // Custkey-bucketed projection (r22): the window's partitionBy
      // consumes the bucket distribution — no exchange — and the scan
      // fans out across the bucket files instead of one row group.
      ordersByCustkey(s, dir)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    },

    // ------------------------------------------------------------------
    // Window: running (cumulative) sum per key, ordered by time.
    QueryDef(
      "q31_window_running",
      Some("""
        SELECT o_custkey, o_orderkey,
               round(sum(o_totalprice) OVER (
                 PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
        FROM orders
        ORDER BY o_custkey, o_orderkey
      """),
    ) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(asc("o_orderdate"), asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ordersByCustkey(s, dir) // bucketed read — no window exchange (see q30)
        .select(
          col("o_custkey"),
          col("o_orderkey"),
          round(sum("o_totalprice").over(w), 2).as("running_total"),
        )
        .orderBy("o_custkey", "o_orderkey")
    },

    // ------------------------------------------------------------------
    // Window: lag — days between consecutive orders of a customer.
    QueryDef(
      "q32_window_lag",
      Some("""
        SELECT o_custkey, o_orderkey,
               datediff('day',
                 lag(CAST(o_orderdate AS DATE)) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                 CAST(o_orderdate AS DATE)) AS days_since_prev
        FROM orders
        ORDER BY o_custkey, o_orderkey
      """),
    ) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(asc("o_orderdate"), asc("o_orderkey"))
      val d = col("o_orderdate").cast("date")
      ordersByCustkey(s, dir) // bucketed read — no window exchange (see q30)
        .select(
          col("o_custkey"),
          col("o_orderkey"),
          datediff(d, lag(d, 1).over(w)).as("days_since_prev"),
        )
        .orderBy("o_custkey", "o_orderkey")
    },

    // ------------------------------------------------------------------
    // Ranking-function family: rank / dense_rank / ntile / percent_rank
    // / cume_dist over (PARTITION BY o_orderstatus ORDER BY price DESC,
    // key). o_orderstatus has ≤3 values, so the naive WindowExec plan
    // funnels ~1/3 of the table through single tasks — a straggler by
    // construction at 100×. TwoPhaseRank (balanced range slices, local
    // ranks, broadcast offset merge — see its scaladoc) supplies the
    // scale-safe rank + group total; everything else is closed-form:
    //
    // The window ordering is TOTAL (o_orderkey is the table's key), so
    // rank = dense_rank = row_number by construction — not a data
    // accident — and:
    //   ntile(4)  = closed form from (rank, group_total): the first
    //               n%4 buckets hold n div 4 + 1 rows, the rest n div 4
    //   pct_rank  = (rank-1)/(n-1), cume_dist = rank/n — same double
    //               divisions the builtin evaluates, so bit-identical.
    QueryDef(
      "q33_ranking_functions",
      Some("""
        SELECT o_orderstatus, o_orderkey,
               rank() OVER w AS rnk,
               dense_rank() OVER w AS drnk,
               ntile(4) OVER w AS quartile,
               round(percent_rank() OVER w, 6) AS pct_rank,
               round(cume_dist() OVER w, 6) AS cdist
        FROM orders
        WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
        ORDER BY o_orderstatus, rnk
      """),
    ) { (s, dir) =>
      // Total ordering (o_orderkey unique) → the one-shuffle
      // rowNumberAndTotal variant: ranks are offset arithmetic over
      // the sorted slices, no ranking window anywhere in the plan.
      graft.util.TwoPhaseRank.rowNumberAndTotal(
        s,
        // Parallel at-rest read (r22): any orders projection carrying
        // these columns serves; the custkey buckets fan the scan out.
        ordersByCustkey(s, dir).select("o_orderstatus", "o_orderkey", "o_totalprice"),
        Seq("o_orderstatus"),
        Seq(desc("o_totalprice"), asc("o_orderkey")),
      )
        .select(
          col("o_orderstatus"),
          col("o_orderkey"),
          // .cast(long): DuckDB ranking functions return BIGINT —
          // equal values must serialize at equal widths (the q61 seam).
          col("rnk"),
          col("rnk").as("drnk"),
          expr("""CASE WHEN rnk <= (n_g % 4) * ((n_g div 4) + 1)
                  THEN (rnk - 1) div ((n_g div 4) + 1) + 1
                  ELSE (n_g % 4) + (rnk - (n_g % 4) * ((n_g div 4) + 1) - 1) div (n_g div 4) + 1
                  END""").cast("long").as("quartile"),
          when(col("n_g") > 1,
            round((col("rnk") - 1).cast("double") / (col("n_g") - 1), 6))
            .otherwise(lit(0.0)).as("pct_rank"),
          round(col("rnk").cast("double") / col("n_g"), 6).as("cdist"),
        )
        .orderBy("o_orderstatus", "rnk")
    },

    // ------------------------------------------------------------------
    // Rollup (grouping sets): subtotal rows per status, grand total.
    QueryDef(
      "q34_rollup",
      Some("""
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               count(*) AS n, round(sum(o_totalprice), 2) AS total
        FROM orders
        GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        ORDER BY status, priority
      """),
    ) { (s, dir) =>
      tbl(s, dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"),
          col("total"),
        )
        .orderBy("status", "priority")
    },

    // ------------------------------------------------------------------
    // Arbitrary grouping sets with grouping_id: the general form rollup
    // and cube specialize — here (status, priority), (status), (), i.e.
    // a rollup minus nothing plus an explicit shape, tagged by
    // grouping_id so downstream can tell subtotal levels apart without
    // sentinel values. One Expand + one aggregate pass.
    QueryDef(
      "q44_grouping_sets",
      Some("""
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT)
                 AS gid,
               count(*) AS n,
               round(sum(o_totalprice), 2) AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        ORDER BY gid, status, priority
      """),
    ) { (s, dir) =>
      tbl(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql("""
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT)
                 AS gid,
               count(*) AS n,
               round(sum(o_totalprice), 2) AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        ORDER BY gid, status, priority
      """)
    },

    // ------------------------------------------------------------------
    // Distinct aggregates: Catalyst plans these as a two-phase expand +
    // aggregate; at scale prefer approx_count_distinct when exactness
    // isn't required (kept exact here to stay oracle-comparable).
    QueryDef(
      "q35_distinct_agg",
      Some("""
        SELECT l_returnflag,
               count(DISTINCT l_suppkey) AS n_supp,
               count(DISTINCT l_partkey) AS n_part,
               round(avg(l_quantity), 4) AS avg_qty
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
      """),
    ) { (s, dir) =>
      // Exact multi-distinct WITHOUT Expand: Catalyst plans two
      // count(DISTINCT x) in one agg as Expand×3 (every input row
      // triplicated before the shuffle). Three independent aggregates
      // joined on the 3-row group key shuffle strictly less: each
      // distinct pass map-side-dedups to its distinct pairs, and the
      // final join is over a handful of rows. Same exact results.
      // Deliberately the RAW single-file read, not the clustered log
      // (r22): the two distinct passes' map-side dedup keeps one
      // near-total copy of the (flag, key) space per map task, so a
      // 32-file scan shuffles ~32× the partial rows (measured 0.44 →
      // 3.9 MB, q35b probe 1.09 → 1.37 s). At cluster scale the scan
      // is partitioned either way — the raw read only decides the
      // local regime, where the single-task dedup wins.
      val li = tbl(s, dir, "lineitem")
      // isNotNull filter: count(DISTINCT c) ignores NULLs, but a
      // distinct() of the pair keeps a (flag, NULL) row that count(1)
      // would then count — latent off-by-one on null-bearing corpora.
      def nDistinct(c: String, as: String) =
        li.select(col("l_returnflag"), col(c)).filter(col(c).isNotNull).distinct()
          .groupBy("l_returnflag").agg(count(lit(1)).as(as))
      nDistinct("l_suppkey", "n_supp")
        .join(nDistinct("l_partkey", "n_part"), "l_returnflag")
        .join(
          li.groupBy("l_returnflag").agg(round(avg("l_quantity"), 4).as("avg_qty")),
          "l_returnflag",
        )
        .select("l_returnflag", "n_supp", "n_part", "avg_qty")
        .orderBy("l_returnflag")
    },

    // ------------------------------------------------------------------
    // Pivot: one column per order status, counts + revenue sums per
    // priority row. The value list is EXPLICIT — at scale an implicit
    // pivot first runs a distinct scan to discover values, and the
    // result schema becomes data-dependent; pinning the values keeps
    // the plan one aggregate pass and the schema stable. Oracle uses
    // portable FILTER aggregation (DuckDB PIVOT would reorder columns).
    QueryDef(
      "q42_pivot",
      Some("""
        SELECT o_orderpriority,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS f_n,
               count(*) FILTER (WHERE o_orderstatus = 'O') AS o_n,
               count(*) FILTER (WHERE o_orderstatus = 'P') AS p_n,
               round(coalesce(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 0), 2) AS f_total,
               round(coalesce(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'O'), 0), 2) AS o_total,
               round(coalesce(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'P'), 0), 2) AS p_total
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
      """),
    ) { (s, dir) =>
      tbl(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)).as("n"), round(coalesce(sum("o_totalprice"), lit(0)), 2).as("total"))
        .select(
          col("o_orderpriority"),
          // Spark pivot cells for absent (priority, status) combos are
          // null; the oracle's FILTER counts yield 0 — coalesce so the
          // two agree on corpora where a combination is missing.
          coalesce(col("F_n"), lit(0L)).as("f_n"),
          coalesce(col("O_n"), lit(0L)).as("o_n"),
          coalesce(col("P_n"), lit(0L)).as("p_n"),
          coalesce(col("F_total"), lit(0.0)).as("f_total"),
          coalesce(col("O_total"), lit(0.0)).as("o_total"),
          coalesce(col("P_total"), lit(0.0)).as("p_total"),
        )
        .orderBy("o_orderpriority")
    },

    // ------------------------------------------------------------------
    // TPC-H Q6 verbatim shape (forecast revenue change): pure
    // filter-and-sum — every predicate pushes into the parquet scan,
    // the aggregate is one partial+final pass, zero shuffles beyond
    // the single-row reduce. The canonical scan-efficiency benchmark —
    // which is exactly why it reads the ship-date-sorted at-rest log:
    // on the raw NTZ table the date bounds are accepted but decode all
    // of history; on the log they are BIGINT row-group predicates and
    // the scan touches only the selected year (metrics-proven in
    // LineitemLayoutSpec). The year's worth of rows is decided by the
    // sort, the remaining predicates by parquet column stats.
    QueryDef(
      "q46_tpch_q6",
      Some("""
        SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
        FROM lineitem
        WHERE l_shipdate >= CAST('1996-01-01' AS TIMESTAMP)
          AND l_shipdate < CAST('1997-01-01' AS TIMESTAMP)
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
      """),
    ) { (s, dir) =>
      lineitemSdLog(s, dir)
        .filter(col("l_shipdate_us") >= dateUs("1996-01-01")
          && col("l_shipdate_us") < dateUs("1997-01-01")
          && col("l_discount").between(0.05, 0.07)
          && col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,2)") *
          col("l_discount").cast("decimal(18,2)")), 2)
          .cast("double").as("revenue"))
    },

    // ------------------------------------------------------------------
    // TPC-H Q3 shape (top unshipped orders by revenue): segment-filtered
    // customer dim joins the fact chain, top-10 by revenue — the
    // classic join + aggregate + top-k pipeline; Catalyst plans the
    // final sort+limit as TakeOrderedAndProject.
    QueryDef(
      "q47_tpch_q3",
      Some("""
        SELECT l_orderkey,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
        FROM customer
          JOIN orders ON c_custkey = o_custkey
          JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < CAST('1998-03-15' AS TIMESTAMP)
          AND l_shipdate > CAST('1998-03-15' AS TIMESTAMP)
        GROUP BY l_orderkey
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
      """),
    ) { (s, dir) =>
      // Both date bounds ride the engine-owned layouts: the unshipped
      // filter (l_shipdate strictly after the cutoff) keeps a vanishing
      // tail of the fact, so row-group pruning on the ship-date-sorted
      // log is the whole game; the orders bound slices the year-
      // partitioned layout.
      tbl(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .join(ordersSlice(s, dir, None, Some("1998-03-15")),
          col("c_custkey") === col("o_custkey"))
        .join(
          lineitemSdLog(s, dir).filter(col("l_shipdate_us") > dateUs("1998-03-15")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1) - col("l_discount")).cast("decimal(18,2)")), 2).cast("double").as("revenue"))
        .orderBy(desc("revenue"), asc("l_orderkey"))
        .limit(10)
    },

    // ------------------------------------------------------------------
    // TPC-H Q5 (local supplier volume): the classic 6-way join —
    // fact chain (lineitem ⋈ orders ⋈ customer) with three dimension
    // hops (supplier → nation → region) plus the locality predicate
    // c_nationkey = s_nationkey folded into the supplier join. The
    // three dims broadcast (they are tiny at every scale factor —
    // nation/region are CONSTANT-sized, supplier grows but stays dim-
    // scaled), so the fact side shuffles only for the o/c key joins
    // and the final small aggregate; the date range prunes orders at
    // the scan. DataFrame-API form — Catalyst picks the join order.
    QueryDef(
      "q118_tpch_q5",
      Some("""
        SELECT n_name,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
        FROM customer
          JOIN orders ON c_custkey = o_custkey
          JOIN lineitem ON l_orderkey = o_orderkey
          JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= CAST('1996-01-01' AS TIMESTAMP)
          AND o_orderdate < CAST('1997-01-01' AS TIMESTAMP)
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
      """),
    ) { (s, dir) =>
      // Asymmetric co-location: the fact side reads the orderkey-
      // bucketed layout (no shuffle), the year's orders slice — pruned
      // at the scan by the year-partitioned layout — shuffles to the
      // fact's at-rest buckets. Pruned-scan + small-shuffle beats both
      // alternatives (full-orders co-location reads every year;
      // raw-vs-raw shuffles the whole fact).
      lineitemBucketed(s, dir)
        .join(
          ordersSlice(s, dir, Some("1996-01-01"), Some("1997-01-01")),
          col("l_orderkey") === col("o_orderkey"))
        .join(tbl(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(
          broadcast(tbl(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey")
            && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(tbl(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(
          broadcast(tbl(s, dir, "region").filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1) - col("l_discount")).cast("decimal(18,2)")), 2).cast("double")
          .as("revenue"))
        .orderBy(desc("revenue"), asc("n_name"))
    },

    // ------------------------------------------------------------------
    // TPC-H Q10 (returned-item reporting): top-20 customers by revenue
    // lost to returns in a quarter. The return-flag and date predicates
    // both push to their scans (lineitem prunes on l_returnflag at the
    // parquet level, orders on the quarter); the aggregate keys on the
    // customer so the top-20 is TakeOrderedAndProject over a
    // customer-sized frame, never a global sort of line items.
    QueryDef(
      "q119_tpch_q10",
      Some("""
        SELECT c_custkey, c_name,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue,
               round(c_acctbal, 2) AS acctbal,
               n_name
        FROM customer
          JOIN orders ON c_custkey = o_custkey
          JOIN lineitem ON l_orderkey = o_orderkey
          JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= CAST('1996-07-01' AS TIMESTAMP)
          AND o_orderdate < CAST('1996-10-01' AS TIMESTAMP)
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
      """),
    ) { (s, dir) =>
      // Same asymmetric co-location as q118: bucketed fact in place,
      // the pruned quarter slice shuffles to it.
      lineitemBucketed(s, dir)
        .filter(col("l_returnflag") === "R")
        .join(
          ordersSlice(s, dir, Some("1996-07-01"), Some("1996-10-01")),
          col("l_orderkey") === col("o_orderkey"))
        .join(tbl(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(tbl(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1) - col("l_discount")).cast("decimal(18,2)")), 2).cast("double")
          .as("revenue"))
        .select(
          col("c_custkey"), col("c_name"), col("revenue"),
          round(col("c_acctbal"), 2).as("acctbal"), col("n_name"),
        )
        .orderBy(desc("revenue"), asc("c_custkey"))
        .limit(20)
    },

    // ------------------------------------------------------------------
    // TPC-H Q1 (pricing summary report): the canonical wide-aggregate
    // scan — one pass over lineitem computing eight aggregates for a
    // handful of groups. Everything partial-aggregates map-side (the
    // exchange carries ~4 groups × 8 accumulators per task, not rows),
    // the date predicate pushes to the parquet scan, and the scan prunes
    // to the seven referenced columns. Every money factor is a true
    // 2-dp value, so the q154 factor-cast convention applies: cast each
    // FACTOR to an exact 2-dp decimal before multiplying, sum the exact
    // products, round in the decimal domain — both engines compute the
    // identical arithmetic by construction, and merge order (partitions,
    // AQE coalescing) can never move the rounded result. sum_charge's
    // THREE-factor product uses DECIMAL(12,2) factors so its exact
    // scale-6 product stays inside BOTH engines' 38-digit cap
    // (DuckDB widths add on multiply: 12+12+12=36 ≤ 38; 18s would
    // overflow there). Averages divide the exact sums cast to double
    // by the count — identical doubles in, identical quotient out.
    QueryDef(
      "q120_tpch_q1",
      Some("""
        SELECT l_returnflag, l_linestatus,
               CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_base_price,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_disc_price,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(12,2)) * CAST(1 + l_tax AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_charge,
               round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_qty,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_price,
               round(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= CAST('1998-09-02' AS TIMESTAMP)
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
      """),
    ) { (s, dir) =>
      def d2(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")
      def c12(c: org.apache.spark.sql.Column) = c.cast("decimal(12,2)")
      // Ship-date-sorted log: the <= bound is a BIGINT row-group
      // predicate (the raw NTZ column accepts but never prunes it).
      lineitemSdLog(s, dir)
        .filter(col("l_shipdate_us") <= dateUs("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum(d2(col("l_quantity"))), 2).cast("double").as("sum_qty"),
          round(sum(d2(col("l_extendedprice"))), 2).cast("double")
            .as("sum_base_price"),
          round(sum(d2(col("l_extendedprice")) *
            d2(lit(1) - col("l_discount"))), 2).cast("double")
            .as("sum_disc_price"),
          round(sum(c12(col("l_extendedprice")) *
            c12(lit(1) - col("l_discount")) *
            c12(lit(1) + col("l_tax"))), 2).cast("double").as("sum_charge"),
          round(sum(d2(col("l_quantity"))).cast("double")
            / count(lit(1)), 4).as("avg_qty"),
          round(sum(d2(col("l_extendedprice"))).cast("double")
            / count(lit(1)), 4).as("avg_price"),
          round(sum(d2(col("l_discount"))).cast("double")
            / count(lit(1)), 4).as("avg_disc"),
          count(lit(1)).as("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    },

    // ------------------------------------------------------------------
    // TPC-H Q18 (large-volume customers): group-by-HAVING over the
    // largest table feeding a join. The efficient shape — and the one
    // PlanSpec pins — aggregates lineitem by l_orderkey ONCE and reuses
    // that aggregate as both the HAVING filter and the output column,
    // instead of the literal transcription (an IN-subquery that plans a
    // second lineitem scan + re-aggregation). The >300 survivors are a
    // vanishing fraction of orders, so the join after the aggregate is
    // tiny; top-100 plans as TakeOrderedAndProject.
    QueryDef(
      "q121_tpch_q18",
      Some("""
        WITH big AS (
          SELECT l_orderkey,
                 CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_qty
          FROM lineitem
          GROUP BY l_orderkey
          HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 300
        )
        SELECT c_name, c_custkey, o_orderkey, o_orderdate,
               round(o_totalprice, 2) AS totalprice, total_qty
        FROM big
          JOIN orders ON o_orderkey = l_orderkey
          JOIN customer ON c_custkey = o_custkey
        ORDER BY totalprice DESC, o_orderkey
        LIMIT 100
      """),
    ) { (s, dir) =>
      // Both fact-scaled sides ride the orderkey co-location pair: the
      // per-order quantity rollup consumes the bucketed scan's hash
      // distribution (zero exchange — the q49 shape), and the join
      // against orders is bucket-co-located, so no orderkey shuffle
      // exists anywhere in the plan. The post-HAVING survivor set is a
      // vanishing fraction at every scale, so the customer hop stays
      // broadcast-sized.
      val big = lineitemBucketed(s, dir)
        .groupBy("l_orderkey")
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("tq"))
        .filter(col("tq") > 300)
        .select(col("l_orderkey"), round(col("tq").cast("double"), 2).as("total_qty"))
      big
        .join(ordersBucketed(s, dir), col("o_orderkey") === col("l_orderkey"))
        .join(tbl(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
        .select(
          col("c_name"), col("c_custkey"), col("o_orderkey"), col("o_orderdate"),
          round(col("o_totalprice"), 2).as("totalprice"), col("total_qty"),
        )
        .orderBy(desc("totalprice"), asc("o_orderkey"))
        .limit(100)
    },

    // ------------------------------------------------------------------
    // TPC-H Q21 shape (suppliers who kept orders waiting): the double
    // correlated EXISTS / NOT EXISTS. This corpus has no
    // l_commitdate/l_receiptdate, so "late" is adapted to l_shipdate >
    // o_orderdate + 90 days; the join topology is Q21's. The oracle
    // states the literal EXISTS form; the Spark side reformulates both
    // correlated subqueries as window aggregates over l_orderkey — per
    // order, the distinct-supplier and distinct-LATE-supplier sets —
    // then a supplier "waited" iff it is late, the order is
    // multi-supplier, and it is the ONLY late supplier. Equivalent by
    // construction (l1 late ⇒ its supplier is in the late set;
    // nlate = 1 ⇔ no other late supplier). The window runs on the SAME
    // key the lineitem⋈orders join just hash-partitioned on, so the
    // whole thing is ONE lineitem scan and ONE fact shuffle (PlanSpec
    // pins both) vs the literal transcription's three lineitem scans.
    // Per-order sets are bounded (≤ lines per order), so window state
    // is O(1) per key at any corpus size.
    QueryDef(
      "q122_tpch_q21",
      Some("""
        SELECT s_name, count(*) AS numwait
        FROM supplier
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
          JOIN orders ON o_orderkey = l1.l_orderkey
        WHERE r_name = 'EUROPE'
          AND o_orderstatus = 'F'
          AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 100
      """),
    ) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("l_orderkey")
      val euSuppliers = tbl(s, dir, "supplier")
        .join(broadcast(tbl(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(
          broadcast(tbl(s, dir, "region").filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select("s_suppkey", "s_name")
      // The fact⋈fact hop rides the orderkey co-location pair: the
      // join meets both bucketed scans in place, and the per-order
      // windows run on the SAME key distribution the scans already
      // hold — so the whole correlated-EXISTS reformulation touches
      // the wire only for the final tiny s_name aggregate.
      lineitemBucketed(s, dir)
        .join(
          ordersBucketed(s, dir).filter(col("o_orderstatus") === "F"),
          col("l_orderkey") === col("o_orderkey"))
        .select(
          col("l_orderkey"), col("l_suppkey"),
          (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAY"))
            .as("is_late"),
        )
        .withColumn("nsupp", size(collect_set(col("l_suppkey")).over(w)))
        .withColumn("nlate",
          size(collect_set(when(col("is_late"), col("l_suppkey"))).over(w)))
        .filter(col("is_late") && col("nsupp") >= 2 && col("nlate") === 1)
        .join(broadcast(euSuppliers), col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(desc("numwait"), asc("s_name"))
        .limit(100)
    },

    // ------------------------------------------------------------------
    // TPC-H Q4 (order-priority checking): EXISTS with a correlated
    // inequality — a semi join that carries a non-equi condition
    // (l_shipdate vs the outer row's o_orderdate) on top of the
    // orderkey equality. "Late" adapts to shipped >60 days after order
    // date (no commitdate/receiptdate in this corpus). The date range
    // prunes orders at the scan; the semi join shuffles only join-key
    // + condition columns and the aggregate is a handful of groups.
    QueryDef(
      "q123_tpch_q4",
      Some("""
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= CAST('1996-07-01' AS TIMESTAMP)
          AND o_orderdate < CAST('1996-10-01' AS TIMESTAMP)
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey
                        AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
      """),
    ) { (s, dir) =>
      // The probe side reads the orderkey-bucketed lineitem projection:
      // at 100 TB the quarter's orders slice (the small side) shuffles
      // to the fact's at-rest bucket layout — the fact itself never
      // crosses the wire for this semi join.
      ordersSlice(s, dir, Some("1996-07-01"), Some("1996-10-01"))
        .join(
          lineitemBucketed(s, dir).select("l_orderkey", "l_shipdate"),
          col("l_orderkey") === col("o_orderkey")
            && col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAY"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },

    // ------------------------------------------------------------------
    // TPC-H Q14 (promotion effect): ratio of conditional sums — the
    // CASE lives INSIDE the aggregate, so one joined pass computes both
    // numerator and denominator; no second scan, no self-join. The
    // month filter pushes to the lineitem scan; part broadcasts. Both
    // sums run exact via the q154 factor-cast convention (each 2-dp
    // factor to DECIMAL(18,2) before multiplying) so the two engines
    // hold identical doubles going into the deterministic division.
    QueryDef(
      "q124_tpch_q14",
      Some("""
        SELECT round(
                 100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                     THEN CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                 / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE), 4) AS promo_revenue_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= CAST('1996-09-01' AS TIMESTAMP)
          AND l_shipdate < CAST('1996-10-01' AS TIMESTAMP)
      """),
    ) { (s, dir) =>
      val rev = col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1) - col("l_discount")).cast("decimal(18,2)")
      // One-month slice of the ship-date-sorted log: the BIGINT bounds
      // row-group-prune (raw NTZ accepts but never prunes).
      lineitemSdLog(s, dir)
        .filter(col("l_shipdate_us") >= dateUs("1996-09-01")
          && col("l_shipdate_us") < dateUs("1996-10-01"))
        .join(broadcast(tbl(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .agg(round(
          lit(100.0) * sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0).cast("decimal(18,2)"))).cast("double")
            / sum(rev).cast("double"), 4).as("promo_revenue_pct"))
    },

    // ------------------------------------------------------------------
    // TPC-H Q19 (discounted revenue, disjunctive predicate): an OR of
    // three conjunctive brackets spanning BOTH join sides. The
    // part-side disjunction (brand × size) is a single-source predicate,
    // so it pushes into the part parquet scan as an Or filter
    // (PlanSpec pins it); the mixed l_quantity terms evaluate post-join.
    // The join stays a broadcast hash join — the disjunction is a
    // filter, never a join condition, so no nested-loop degeneration.
    QueryDef(
      "q125_tpch_q19",
      Some("""
        SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue,
               count(*) AS n_items
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
               AND l_quantity >= 1 AND l_quantity <= 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
               AND l_quantity >= 10 AND l_quantity <= 20)
           OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
               AND l_quantity >= 20 AND l_quantity <= 30)
      """),
    ) { (s, dir) =>
      def bracket(brand: String, sizeHi: Int, qLo: Int, qHi: Int) =
        col("p_brand") === brand &&
          col("p_size").between(1, sizeHi) &&
          col("l_quantity") >= qLo && col("l_quantity") <= qHi
      tbl(s, dir, "lineitem")
        .join(broadcast(tbl(s, dir, "part")), col("p_partkey") === col("l_partkey"))
        .filter(bracket("Brand#12", 15, 1, 11)
          || bracket("Brand#23", 25, 10, 20)
          || bracket("Brand#34", 35, 20, 30))
        .agg(
          round(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1) - col("l_discount")).cast("decimal(18,2)")), 2).cast("double").as("revenue"),
          count(lit(1)).as("n_items"),
        )
    },

    // ------------------------------------------------------------------
    // TPC-H Q22 (global sales opportunity): a scalar subquery (the
    // corpus-wide positive-balance average) feeding a filter, plus an
    // anti join against recent orders. The scalar rides in as a
    // broadcast 1-row frame (the IVF-centroid pattern — map-side only);
    // the anti join shuffles only c_custkey/o_custkey. "No orders"
    // adapts to "no orders since 1999" (every customer in this corpus
    // has SOME order); grouping keys on c_nationkey (no phone column).
    // The average divides exact-DECIMAL sum by count — deterministic —
    // so the threshold row-membership can't flip between engines.
    QueryDef(
      "q126_tpch_q22",
      Some("""
        WITH pos AS (
          SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                   / count(*) AS avgbal
          FROM customer WHERE c_acctbal > 0)
        SELECT c_nationkey AS nation, count(*) AS numcust,
               CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
                 AS totacctbal
        FROM customer, pos
        WHERE c_acctbal > avgbal
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderdate >= CAST('1999-01-01' AS TIMESTAMP))
        GROUP BY c_nationkey
        ORDER BY c_nationkey
      """),
    ) { (s, dir) =>
      val avgbal = tbl(s, dir, "customer")
        .filter(col("c_acctbal") > 0)
        .agg((sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
          / count(lit(1))).as("avgbal"))
      tbl(s, dir, "customer")
        .crossJoin(broadcast(avgbal))
        .filter(col("c_acctbal") > col("avgbal"))
        .join(
          ordersSlice(s, dir, Some("1999-01-01"), None),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .groupBy(col("c_nationkey").as("nation"))
        .agg(
          count(lit(1)).as("numcust"),
          round(sum(col("c_acctbal").cast("decimal(18,2)")), 2).cast("double")
            .as("totacctbal"),
        )
        .orderBy("nation")
    },

    // ------------------------------------------------------------------
    // TPC-H Q13 (customer distribution): LEFT OUTER join with a
    // predicate INSIDE the join (not a post-filter — customers with
    // only urgent orders must still appear with count 0), then a
    // histogram of the grouped counts. Two cascaded aggregates, both
    // map-side partial; the outer join shuffles only the key and the
    // filtered right side.
    QueryDef(
      "q127_tpch_q13",
      Some("""
        WITH co AS (
          SELECT c_custkey, count(o_orderkey) AS c_count
          FROM customer LEFT JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey)
        SELECT c_count, count(*) AS custdist
        FROM co
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
      """),
    ) { (s, dir) =>
      // Both sides ride the custkey co-location pair: the outer join
      // meets the co-bucketed scans in place and the per-customer
      // count consumes that same distribution, so the only wire
      // crossing is the bounded c_count histogram at the end.
      customerByCustkey(s, dir)
        .join(
          ordersByCustkey(s, dir).filter(col("o_orderpriority") =!= "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))
    },

    // ------------------------------------------------------------------
    // TPC-H Q17 (small-quantity-order revenue): the correlated
    // per-part average subquery. The literal transcription re-scans
    // lineitem once per outer row; the Spark side instead broadcasts
    // the brand's parts (shrinking lineitem to their lines — the
    // correlation key set) and computes the per-part average as a
    // WINDOW over the join key, so the whole query is ONE lineitem
    // scan and one partkey shuffle (PlanSpec pins it). The window
    // average equals the subquery's (the brand filter selects PARTS,
    // never lines, so every line of a selected part is in the frame).
    // l_quantity is integral, so its double sum/avg is exact and the
    // 0.2·avg threshold can't flip between engines; the revenue sum
    // runs in DECIMAL as usual.
    QueryDef(
      "q128_tpch_q17",
      Some("""
        SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 2)
                 AS avg_yearly
        FROM lineitem l JOIN part p ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#12'
          AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                            FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
      """),
    ) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      tbl(s, dir, "lineitem")
        .join(
          broadcast(tbl(s, dir, "part").filter(col("p_brand") === "Brand#12")),
          col("p_partkey") === col("l_partkey"))
        .withColumn("avg_qty",
          avg(col("l_quantity")).over(Window.partitionBy("l_partkey")))
        .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          / 7.0, 2).as("avg_yearly"))
    },

    // ------------------------------------------------------------------
    // TPC-H Q15 (top supplier): a derived revenue view referenced
    // twice — once as the probe, once reduced to its max — with an
    // EQUALITY on the aggregated revenue. That equality is exactly the
    // place FP accumulation order breaks engines apart, so
    // total_revenue aggregates exact 2-dp factor products (the q154
    // convention): exact, hence the max
    // and the tie-set are engine-independent. The max rides a
    // broadcast 1-row frame; the quarter filter pushes to both scans
    // of the (self-referenced) revenue subtree.
    QueryDef(
      "q129_tpch_q15",
      Some("""
        WITH rev AS (
          SELECT l_suppkey AS supplier_no,
                 sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2)))
                   AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= CAST('1996-01-01' AS TIMESTAMP)
            AND l_shipdate < CAST('1996-04-01' AS TIMESTAMP)
          GROUP BY l_suppkey)
        SELECT s_suppkey, s_name,
               CAST(round(total_revenue, 2) AS DOUBLE) AS total_revenue
        FROM supplier JOIN rev ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        ORDER BY s_suppkey
      """),
    ) { (s, dir) =>
      // Both rev branches read the quarter slice of the sorted log —
      // the BIGINT bounds row-group-prune on each.
      def rev = lineitemSdLog(s, dir)
        .filter(col("l_shipdate_us") >= dateUs("1996-01-01")
          && col("l_shipdate_us") < dateUs("1996-04-01"))
        .groupBy(col("l_suppkey").as("supplier_no"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1) - col("l_discount")).cast("decimal(18,2)")).as("total_revenue"))
      val mx = rev.agg(max(col("total_revenue")).as("mx"))
      rev
        .join(broadcast(mx), col("total_revenue") === col("mx"))
        .join(broadcast(tbl(s, dir, "supplier")), col("s_suppkey") === col("supplier_no"))
        .select(
          col("s_suppkey"), col("s_name"),
          round(col("total_revenue"), 2).cast("double").as("total_revenue"),
        )
        .orderBy("s_suppkey")
    },

    // ------------------------------------------------------------------
    // TPC-H Q7 (volume shipping): the nation dimension joins TWICE
    // (supplier side and customer side) under a disjunctive
    // cross-dimension predicate — trade in either direction between two
    // named nations — grouped by both nation roles and the shipment
    // year. Both nation copies broadcast; the disjunction is a
    // post-join filter over two broadcast columns (never a join
    // degeneration); the date range pushes to the lineitem scan; sums
    // run exact as usual.
    QueryDef(
      "q133_tpch_q7",
      Some("""
        SELECT supp_nation, cust_nation, l_year,
               CAST(round(sum(volume), 2) AS DOUBLE) AS revenue,
               count(*) AS n_items
        FROM (
          SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 year(l_shipdate) AS l_year,
                 CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2)) AS volume
          FROM supplier
            JOIN lineitem ON s_suppkey = l_suppkey
            JOIN orders ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
          WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
              OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
            AND l_shipdate >= CAST('1996-01-01' AS TIMESTAMP)
            AND l_shipdate < CAST('1998-01-01' AS TIMESTAMP))
        GROUP BY supp_nation, cust_nation, l_year
        ORDER BY supp_nation, cust_nation, l_year
      """),
    ) { (s, dir) =>
      val n1 = tbl(s, dir, "nation")
        .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
      val n2 = tbl(s, dir, "nation")
        .select(col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation"))
      lineitemSdLog(s, dir)
        .filter(col("l_shipdate_us") >= dateUs("1996-01-01")
          && col("l_shipdate_us") < dateUs("1998-01-01"))
        .join(broadcast(tbl(s, dir, "supplier")), col("s_suppkey") === col("l_suppkey"))
        .join(tbl(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
        .join(tbl(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nkey"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nkey"))
        .filter((col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7")
          || (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3"))
        .groupBy(
          col("supp_nation"), col("cust_nation"),
          // UTC session: the micros-rebuilt instant has the NTZ year.
          year(timestamp_micros(col("l_shipdate_us"))).as("l_year"),
        )
        .agg(
          round(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1) - col("l_discount")).cast("decimal(18,2)")), 2).cast("double").as("revenue"),
          count(lit(1)).as("n_items"),
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    },

    // ------------------------------------------------------------------
    // TPC-H Q8 (national market share): the widest join in the spine —
    // part, supplier, lineitem, orders, customer, nation×2, region —
    // feeding a per-year ratio of conditional sums (the focal nation's
    // volume share). The CASE lives inside the aggregate (one pass, as
    // Q14); part/supplier/nation/region broadcast; the p_type and date
    // predicates push to their scans. Both sums exact-DECIMAL before
    // the deterministic double division.
    QueryDef(
      "q134_tpch_q8",
      Some("""
        SELECT o_year,
               round(CAST(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                   / CAST(sum(volume) AS DOUBLE), 4) AS mkt_share,
               count(*) AS n_items
        FROM (
          SELECT year(o_orderdate) AS o_year,
                 CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2)) AS volume,
                 n2.n_name AS nation
          FROM part
            JOIN lineitem ON p_partkey = l_partkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN region ON n1.n_regionkey = r_regionkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
          WHERE r_name = 'ASIA'
            AND p_type = 'PROMO'
            AND o_orderdate >= CAST('1996-01-01' AS TIMESTAMP)
            AND o_orderdate < CAST('1998-01-01' AS TIMESTAMP))
        GROUP BY o_year
        ORDER BY o_year
      """),
    ) { (s, dir) =>
      val n1 = tbl(s, dir, "nation")
        .select(col("n_nationkey").as("c_nkey"), col("n_regionkey"))
      val n2 = tbl(s, dir, "nation")
        .select(col("n_nationkey").as("s_nkey"), col("n_name").as("nation"))
      val volume = col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1) - col("l_discount")).cast("decimal(18,2)")
      lineitemSdLog(s, dir) // clustered-log read (see q20)
        .join(broadcast(tbl(s, dir, "part").filter(col("p_type") === "PROMO")),
          col("p_partkey") === col("l_partkey"))
        .join(broadcast(tbl(s, dir, "supplier")), col("s_suppkey") === col("l_suppkey"))
        .join(
          ordersSlice(s, dir, Some("1996-01-01"), Some("1998-01-01")),
          col("l_orderkey") === col("o_orderkey"))
        .join(tbl(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("c_nationkey") === col("c_nkey"))
        .join(
          broadcast(tbl(s, dir, "region").filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .join(broadcast(n2), col("s_nationkey") === col("s_nkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(
          round(
            sum(when(col("nation") === "NATION_3", volume)
              .otherwise(lit(0).cast("decimal(18,2)"))).cast("double")
              / sum(volume).cast("double"), 4).as("mkt_share"),
          count(lit(1)).as("n_items"),
        )
        .orderBy("o_year")
    },

    // ------------------------------------------------------------------
    // TPC-H Q16 shape (parts/supplier relationship): grouped
    // COUNT(DISTINCT) over a join, with an IN-list + inequality pushed
    // to the part scan and a NOT IN supplier subquery planned as an
    // anti join (negative-balance suppliers stand in for Q16's
    // complaints filter; lineitem stands in for partsupp — this corpus
    // has no partsupp table). The distinct-agg is two-phase
    // (partial-distinct map-side); the anti join's build side is the
    // filtered supplier dim.
    QueryDef(
      "q136_tpch_q16",
      Some("""
        SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem
          JOIN part ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#45'
          AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p_brand, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_size
        LIMIT 40
      """),
    ) { (s, dir) =>
      val badSuppliers = tbl(s, dir, "supplier")
        .filter(col("s_acctbal") < 0)
        .select("s_suppkey")
      lineitemSdLog(s, dir) // clustered-log read (see q20)
        .join(
          broadcast(tbl(s, dir, "part")
            .filter(col("p_brand") =!= "Brand#45"
              && col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49))),
          col("p_partkey") === col("l_partkey"))
        .join(broadcast(badSuppliers), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(desc("supplier_cnt"), asc("p_brand"), asc("p_size"))
        .limit(40)
    },

    // ------------------------------------------------------------------
    // TPC-H Q12 shape (shipping-priority audit): per group, TWO
    // conditional counts in one pass — urgent-class vs other-class
    // line counts among late shipments. This corpus has no l_shipmode,
    // so groups key on l_returnflag and "late" adapts as elsewhere
    // (shipped >90 days after order date). The classic Q12 plan
    // properties hold: one lineitem⋈orders join, the date bounds
    // pushed, both counts CASE-inside-aggregate (never two scans).
    QueryDef(
      "q137_tpch_q12",
      Some("""
        SELECT l_returnflag,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
          AND l_shipdate >= CAST('1996-01-01' AS TIMESTAMP)
          AND l_shipdate < CAST('1997-01-01' AS TIMESTAMP)
        GROUP BY l_returnflag
        ORDER BY l_returnflag
      """),
    ) { (s, dir) =>
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      lineitemSdLog(s, dir)
        .filter(col("l_shipdate_us") >= dateUs("1996-01-01")
          && col("l_shipdate_us") < dateUs("1997-01-01"))
        // Asymmetric co-location (the q140 recipe, r22): orders stays
        // at rest in its orderkey buckets — no exchange, parallel scan
        // — and only the year's lineitem slice shuffles to them.
        .join(ordersBucketed(s, dir).select("o_orderkey", "o_orderdate", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        // The late predicate needs the instant back (vs o_orderdate);
        // UTC session makes the micros rebuild NTZ-identical. It is a
        // post-join row filter either way — never a pushed bound.
        .filter(timestamp_micros(col("l_shipdate_us")).cast("timestamp_ntz")
          > col("o_orderdate") + expr("INTERVAL 90 DAY"))
        .groupBy("l_returnflag")
        .agg(
          sum(when(high, 1).otherwise(0)).as("high_line_count"),
          sum(when(!high, 1).otherwise(0)).as("low_line_count"),
        )
        .orderBy("l_returnflag")
    },

    // ------------------------------------------------------------------
    // TPC-H Q2 shape (min-cost supplier): the classic correlated
    // MIN subquery over a join — for each selected part, the
    // region's suppliers offering it at the lowest cost. The oracle
    // keeps the textbook correlated form; the Spark side folds it to
    // ONE partsupp scan: broadcast-join the filtered part dim (drops
    // whole ps_partkey partitions, so the fold is exact), broadcast-
    // join the region's supplier dim (the correlation's region
    // restriction), then a MIN window over ps_partkey and an equality
    // filter — the q128 pattern (PlanSpec pins the single-scan shape).
    // The equality compares doubles, but both sides come from the SAME
    // at-rest artifact's per-row divisions, so the min-cost tie-set is
    // engine-independent (see [[partsupp]]).
    QueryDef(
      "q138_tpch_q2",
      Some(s"""
        WITH $psCte,
        region_ps AS (
          SELECT ps_partkey, ps_supplycost, s_acctbal, s_name, n_name
          FROM partsupp
            JOIN supplier ON s_suppkey = ps_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
          WHERE r_name = 'EUROPE')
        SELECT round(s_acctbal, 2) AS s_acctbal, s_name, n_name,
               p_partkey, p_name, round(ps_supplycost, 4) AS min_cost
        FROM part JOIN region_ps ON p_partkey = ps_partkey
        WHERE p_type = 'LARGE' AND p_size BETWEEN 10 AND 19
          AND ps_supplycost = (SELECT min(r2.ps_supplycost)
                               FROM region_ps r2
                               WHERE r2.ps_partkey = p_partkey)
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        LIMIT 100
      """),
    ) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val wantedParts = tbl(s, dir, "part")
        .filter(col("p_type") === "LARGE" && col("p_size").between(10, 19))
        .select("p_partkey", "p_name")
      val regionSupp = tbl(s, dir, "supplier")
        .join(broadcast(tbl(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(tbl(s, dir, "region").filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_acctbal"), col("s_name"), col("n_name"))
      partsupp(s, dir)
        .join(broadcast(wantedParts), col("p_partkey") === col("ps_partkey"))
        .join(broadcast(regionSupp), col("ps_suppkey") === col("s_suppkey"))
        .withColumn("min_cost_w",
          min(col("ps_supplycost")).over(Window.partitionBy("ps_partkey")))
        .filter(col("ps_supplycost") === col("min_cost_w"))
        .select(
          round(col("s_acctbal"), 2).as("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_name"),
          round(col("ps_supplycost"), 4).as("min_cost"),
        )
        .orderBy(desc("s_acctbal"), asc("n_name"), asc("s_name"), asc("p_partkey"))
        .limit(100)
    },

    // ------------------------------------------------------------------
    // TPC-H Q11 shape (important stock): per-group value filtered
    // against a GLOBAL scalar derived from the same relation — the
    // group-vs-global-scalar geometry no other query exercises.
    // ps_supplycost is a full-precision double quotient (min of
    // price/qty — see [[partsupp]]), so the q154 factor-cast
    // convention CANNOT apply here: casting the quotient to a 2-dp
    // decimal ties exactly at .xx5 for terminating quotients
    // (odd-cent price / 2, cents≡25 mod 50 / 50, …) where Spark's
    // shortest-repr HALF_UP and DuckDB's binary rounding are
    // GUARANTEED to disagree. Instead each pair's stock value is
    // quantized to integer CENTS in the double domain — the per-row
    // product is the identical IEEE double in both engines, and
    // round(double) at scale 0 is engine-identical for |v| < 2^52
    // (every x.5 tie is exactly representable, so no boundary can
    // straddle a double and its shortest decimal repr) — then summed
    // as exact BIGINTs: order-independent and bit-identical across
    // engines by construction, no decimal cast anywhere.
    // The comparison then runs in double off those
    // identical cent totals (the q126 pattern). The threshold is
    // SCALE-FREE — 2× the average per-part value, not TPC-H's fixed
    // fraction, whose SF-dependence (0.0001/SF in the spec) would
    // otherwise empty the result as the part count grows. The scalar
    // rides in as a broadcast 1-row frame; the two aggregation passes
    // scan the SMALL at-rest partsupp artifact (supplier×part grain),
    // not lineitem — at 100 TB that is two scans of a relationship
    // table, never two scans of the fact history, and far cheaper than
    // funneling the per-part frame through a single-partition global
    // window.
    QueryDef(
      "q139_tpch_q11",
      Some(s"""
        WITH $psCte,
        nat_ps AS (
          SELECT ps_partkey,
                 sum(CAST(round(ps_supplycost * ps_availqty * 100) AS BIGINT))
                   AS value_c
          FROM partsupp
            JOIN supplier ON s_suppkey = ps_suppkey
            JOIN nation ON s_nationkey = n_nationkey
          WHERE n_name = 'NATION_7'
          GROUP BY ps_partkey)
        SELECT ps_partkey, CAST(value_c AS DOUBLE) / 100 AS value
        FROM nat_ps,
             (SELECT CAST(sum(value_c) AS DOUBLE) AS tot,
                     count(*) AS nparts FROM nat_ps) t
        WHERE CAST(value_c AS DOUBLE) > 2.0 * tot / nparts
        ORDER BY value DESC, ps_partkey
      """),
    ) { (s, dir) =>
      val natSupp = tbl(s, dir, "supplier")
        .join(broadcast(tbl(s, dir, "nation").filter(col("n_name") === "NATION_7")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey")
      val perPart = partsupp(s, dir)
        .join(broadcast(natSupp), col("ps_suppkey") === col("s_suppkey"))
        .groupBy("ps_partkey")
        // Per-pair stock value quantized to cents while still a
        // bit-identical double (see the header comment), then an exact
        // BIGINT sum — order-independent, engine-identical.
        .agg(sum(round(col("ps_supplycost") * col("ps_availqty") * lit(100.0))
          .cast("bigint")).as("value_c"))
      val total = perPart.agg(
        sum(col("value_c")).cast("double").as("tot"),
        count(lit(1)).as("nparts"))
      perPart
        .crossJoin(broadcast(total))
        .filter(col("value_c").cast("double") > lit(2.0) * col("tot") / col("nparts"))
        .select(col("ps_partkey"),
          (col("value_c").cast("double") / lit(100)).as("value"))
        .orderBy(desc("value"), asc("ps_partkey"))
    },

    // ------------------------------------------------------------------
    // TPC-H Q9 shape (product-type profit): profit = revenue minus
    // sourcing cost, where the cost joins the fact BACK to the derived
    // partsupp grain on the COMPOSITE (partkey, suppkey) key — the one
    // join geometry no other query has. The part-name filter broadcasts
    // to BOTH the lineitem scan (inner broadcast join) and the partsupp
    // side (semi join), so each shuffle carries only the selected
    // parts' rows; supplier/nation broadcast; orders contributes only
    // its date and joins on o_orderkey (the one genuine fact-fact
    // shuffle). Cross-engine exactness: the revenue term's factors are
    // true 2-dp values, but the cost term multiplies ps_supplycost — a
    // full-precision double quotient (see [[partsupp]] and the q139
    // header for why a 2-dp factor cast on it is unsound) — so the
    // whole amount is computed per row in integer DECIMICENTS
    // (1e-4 dollars): revenue as an exact integer product of
    // cents × discount-percent units, cost quantized from the
    // bit-identical IEEE double via the engine-identical scale-0
    // round (|v| < 2^52 — see q139). The per-group sum is then an
    // exact integer (Spark sums in DECIMAL(38,0), DuckDB in HUGEINT —
    // overflow-free at any scale), and the decimicents→cents rounding
    // stays in the EXACT INTEGER domain (r17 advice closed): add the
    // half-unit (±50) on the sign-matched side, then integer-divide by
    // 100 — the division only ever sees a non-negative operand, where
    // Spark's `div` (truncating) and DuckDB's `//` agree regardless of
    // their negative-operand conventions. Both engines then cast the
    // IDENTICAL exact integer cents to double, so they agree bit-for-
    // bit at ANY group magnitude; the only residual bounds are
    // representational, not comparative — above 2^53 cents
    // (~$9×10^13/group) the double output itself cannot carry cent
    // resolution, and above Long.Max cents (~$9.2×10^16/group) Spark's
    // `div` overflows — both far past the old 2^52-DECIMICENT
    // (~$4.5×10^11) exactness cliff this replaces.
    QueryDef(
      "q140_tpch_q9",
      Some(s"""
        WITH $psCte
        SELECT nation, o_year,
               CAST(CASE WHEN sum(amount_dm) >= 0
                         THEN (sum(amount_dm) + 50) // 100
                         ELSE -((50 - sum(amount_dm)) // 100) END
                    AS DOUBLE) / 100 AS sum_profit
        FROM (
          SELECT n_name AS nation,
                 year(CAST(o_orderdate AS DATE)) AS o_year,
                 CAST(round(l_extendedprice * 100) AS BIGINT)
                   * CAST(round((1 - l_discount) * 100) AS BIGINT)
                   - CAST(round(ps_supplycost * l_quantity * 10000) AS BIGINT)
                   AS amount_dm
          FROM lineitem
            JOIN part ON p_partkey = l_partkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN partsupp ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
            JOIN orders ON o_orderkey = l_orderkey
          WHERE p_name LIKE '%bolt%') profit
        GROUP BY nation, o_year
        ORDER BY nation, o_year DESC
      """),
    ) { (s, dir) =>
      val boltParts = tbl(s, dir, "part")
        .filter(col("p_name").like("%bolt%"))
        .select("p_partkey")
      val ps = partsupp(s, dir)
        .join(broadcast(boltParts), col("ps_partkey") === col("p_partkey"), "left_semi")
      // RAW fact read on purpose (r22): q140 is ×10/×100-gated, and the
      // A/B at ×100 measured the clustered logs 2–3× slower for a FULL
      // scan there (raw arrives pre-split into ~17 MB PLAIN-encoded
      // files — the lightest decode; the re-clustered logs re-encode
      // dictionary/RLE, trading decode CPU for bytes). The sd-log read
      // pays off only for ship-date-FILTERED consumers (file skipping),
      // which q140 is not.
      tbl(s, dir, "lineitem")
        .join(broadcast(boltParts), col("l_partkey") === col("p_partkey"))
        .join(broadcast(tbl(s, dir, "supplier")), col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(tbl(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(ps, col("ps_partkey") === col("l_partkey")
          && col("ps_suppkey") === col("l_suppkey"))
        // Asymmetric co-location, reversed roles: here ORDERS is the
        // side that stays at rest (bucketed layout, no shuffle) and
        // the part-reduced lineitem stream — a vanishing fraction
        // after the %bolt% semi-reduction — shuffles to its buckets.
        .join(ordersBucketed(s, dir).select("o_orderkey", "o_orderdate"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(
          col("n_name").as("nation"),
          year(col("o_orderdate").cast("date")).as("o_year"))
        // Integer-decimicent amount (see the header comment): exact
        // revenue product minus the cent-quantized cost, summed in
        // DECIMAL(38,0) so the integer sum can never overflow, then
        // rounded to cents in the exact integer domain (sign-split so
        // the truncating `div` only sees non-negative operands) before
        // the one final cast to double.
        .agg(sum(
          (round(col("l_extendedprice") * lit(100.0)).cast("bigint")
            * round((lit(1) - col("l_discount")) * lit(100.0)).cast("bigint")
            - round(col("ps_supplycost") * col("l_quantity") * lit(10000.0))
              .cast("bigint")).cast("decimal(38,0)")).as("dm"))
        .select(col("nation"), col("o_year"),
          (when(col("dm") >= 0, expr("(dm + 50) div 100"))
            .otherwise(-expr("(50 - dm) div 100"))
            .cast("double") / lit(100)).as("sum_profit"))
        .orderBy(asc("nation"), desc("o_year"))
    },

    // ------------------------------------------------------------------
    // TPC-H Q20 shape (excess stock): suppliers whose at-rest availqty
    // exceeds a MULTIPLE of a correlated per-(part,supplier) aggregate
    // from the fact table — the correlated-aggregate-threshold
    // geometry. Adapted to this corpus: availqty is all-time quantity
    // (see [[partsupp]]), so the classic 0.5× of one year is trivially
    // true; 4× the 1996 shipments instead selects pairs whose 1996
    // share was under a quarter — a real per-pair predicate. All
    // quantities are exact BIGINTs, so the threshold cannot flip.
    // Plan: the part-name filter broadcasts to both sides, the
    // per-pair 1996 aggregate is map-side partial before its composite-
    // key shuffle, and the supplier list arrives via semi joins — no
    // row multiplication anywhere.
    QueryDef(
      "q141_tpch_q20",
      Some(s"""
        WITH $psCte,
        shipped AS (
          SELECT l_partkey, l_suppkey,
                 CAST(sum(l_quantity) AS BIGINT) AS qty_1996
          FROM lineitem
          WHERE l_shipdate >= CAST('1996-01-01' AS TIMESTAMP)
            AND l_shipdate < CAST('1997-01-01' AS TIMESTAMP)
          GROUP BY l_partkey, l_suppkey)
        SELECT s_name, round(s_acctbal, 2) AS s_acctbal
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_3'
          AND s_suppkey IN (
            SELECT ps_suppkey FROM partsupp
              JOIN shipped ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
            WHERE ps_partkey IN (SELECT p_partkey FROM part
                                 WHERE p_name LIKE 'red%')
              AND ps_availqty > 4 * qty_1996)
        ORDER BY s_name
      """),
    ) { (s, dir) =>
      val redParts = tbl(s, dir, "part")
        .filter(col("p_name").like("red%"))
        .select("p_partkey")
      val shipped = lineitemSdLog(s, dir)
        .filter(col("l_shipdate_us") >= dateUs("1996-01-01")
          && col("l_shipdate_us") < dateUs("1997-01-01"))
        .join(broadcast(redParts), col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(sum("l_quantity").cast("bigint").as("qty_1996"))
      val excess = partsupp(s, dir)
        .join(broadcast(redParts), col("ps_partkey") === col("p_partkey"), "left_semi")
        .join(shipped, col("ps_partkey") === col("l_partkey")
          && col("ps_suppkey") === col("l_suppkey"))
        .filter(col("ps_availqty") > lit(4) * col("qty_1996"))
        .select("ps_suppkey")
      tbl(s, dir, "supplier")
        .join(broadcast(tbl(s, dir, "nation").filter(col("n_name") === "NATION_3")),
          col("s_nationkey") === col("n_nationkey"))
        .join(excess, col("s_suppkey") === col("ps_suppkey"), "left_semi")
        .select(col("s_name"), round(col("s_acctbal"), 2).as("s_acctbal"))
        .orderBy("s_name")
    },

    // ------------------------------------------------------------------
    // Array aggregation: collect the distinct order statuses per
    // customer. collect_list is order-nondeterministic (arrival order
    // across partitions), so the result is canonicalized — distinct →
    // sort → join — before leaving the query; emitting it as a string
    // also sidesteps engine-specific list hashing in the compare.
    QueryDef(
      "q45_array_agg",
      Some("""
        SELECT o_custkey,
               array_to_string(list_sort(list_distinct(list(o_orderstatus))), ',')
                 AS statuses,
               count(*) AS n_orders
        FROM orders
        GROUP BY o_custkey
        ORDER BY o_custkey
        LIMIT 1000
      """),
    ) { (s, dir) =>
      ordersByCustkey(s, dir) // bucketed read — groupBy(custkey) no exchange
        .groupBy("o_custkey")
        .agg(
          array_join(sort_array(array_distinct(collect_list(col("o_orderstatus")))), ",")
            .as("statuses"),
          count(lit(1)).as("n_orders"),
        )
        .orderBy("o_custkey")
        .limit(1000)
    },

    // ------------------------------------------------------------------
    // Correlated scalar subquery, submitted as SQL TEXT (spark.sql over
    // a temp view — the reference's users write SQL, so the engine's
    // SQL entry path is part of parity): orders priced above their
    // customer's average. Catalyst decorrelates the subquery into an
    // aggregate + join (RewriteCorrelatedScalarSubquery) — no
    // per-row re-execution, which is what makes the shape survive
    // scale; the oracle runs the identical text.
    QueryDef(
      "q43_correlated_subquery",
      Some("""
        SELECT o_custkey, count(*) AS n_above_avg,
               round(max(o_totalprice), 2) AS max_price
        FROM orders o
        WHERE o_totalprice > (SELECT avg(o2.o_totalprice)
                              FROM orders o2
                              WHERE o2.o_custkey = o.o_custkey)
        GROUP BY o_custkey
        ORDER BY o_custkey
        LIMIT 500
      """),
    ) { (s, dir) =>
      tbl(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql("""
        SELECT o_custkey, count(*) AS n_above_avg,
               round(max(o_totalprice), 2) AS max_price
        FROM orders o
        WHERE o_totalprice > (SELECT avg(o2.o_totalprice)
                              FROM orders o2
                              WHERE o2.o_custkey = o.o_custkey)
        GROUP BY o_custkey
        ORDER BY o_custkey
        LIMIT 500
      """)
    },

    // ------------------------------------------------------------------
    // Approximate-distinct twin of q35: HyperLogLog++ sketches — one
    // partial+final aggregate pass, constant state per group, the shape
    // that survives 100 TB. The raw estimate is engine-specific (no
    // DuckDB twin exists), so through round 6 this ran oracle-less; now
    // the DECLARED row is the hashable reformulation: the exact counts
    // plus a within-bound boolean |approx/exact − 1| ≤ 5·rsd (the
    // ApproxQualitySpec bound, >5σ — see that spec for the derivation).
    // DuckDB computes the exact side and asserts the boolean TRUE, so a
    // drifting sketch (an rsd loosening, a Spark default change) now
    // fails the driver's HASH gate, not just the local spec. The exact
    // counts ride along only for verification; the production path is
    // the sketch aggregate alone — which also means the BENCHED time of
    // this declared query includes the exact twin's cost and is NOT a
    // sketch-path measurement (the sketch-only form is q35 minus the
    // distinct passes; its scale claim rests on the aggregate's
    // constant per-group state, not on this gate query's timing).
    QueryDef(
      "q35b_approx_distinct",
      Some("""
        SELECT l_returnflag,
               CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
               CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_part,
               round(avg(l_quantity), 4) AS avg_qty,
               TRUE AS supp_in_bound,
               TRUE AS part_in_bound
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
      """),
    ) { (s, dir) =>
      val bound = 5 * 0.02 // 5× the sketch's 2% target rsd
      val li = tbl(s, dir, "lineitem") // raw read on purpose — see q35
      // The sketch pass is the production path: ONE aggregate, no
      // Expand. The exact side reuses q35's Expand-free multi-distinct
      // (independent map-side-deduped passes joined on the tiny group
      // key) — mixing countDistinct INTO the sketch agg would replan
      // the whole input through Expand×3 and cost 4× (measured 2.7 s
      // vs 0.7 s at sf0.1).
      def nDistinct(c: String, as: String) =
        li.select(col("l_returnflag"), col(c)).filter(col(c).isNotNull).distinct()
          .groupBy("l_returnflag").agg(count(lit(1)).as(as))
      li.groupBy("l_returnflag")
        .agg(
          approx_count_distinct(col("l_suppkey"), 0.02).as("a_supp"),
          approx_count_distinct(col("l_partkey"), 0.02).as("a_part"),
          round(avg("l_quantity"), 4).as("avg_qty"),
        )
        .join(nDistinct("l_suppkey", "n_supp"), "l_returnflag")
        .join(nDistinct("l_partkey", "n_part"), "l_returnflag")
        .select(
          col("l_returnflag"), col("n_supp"), col("n_part"), col("avg_qty"),
          (abs(col("a_supp") / col("n_supp") - 1) <= bound).as("supp_in_bound"),
          (abs(col("a_part") / col("n_part") - 1) <= bound).as("part_in_bound"),
        )
        .orderBy("l_returnflag")
    },

    // ------------------------------------------------------------------
    // Set operations: INTERSECT / EXCEPT (both distinct-semantics).
    QueryDef(
      "q36_setops",
      Some("""
        SELECT 'both' AS kind, count(*) AS n FROM (
          SELECT c_custkey FROM customer
          INTERSECT SELECT o_custkey FROM orders)
        UNION ALL
        SELECT 'customer_only' AS kind, count(*) AS n FROM (
          SELECT c_custkey FROM customer
          EXCEPT SELECT o_custkey FROM orders)
        UNION ALL
        SELECT 'orders_only' AS kind, count(*) AS n FROM (
          SELECT o_custkey FROM orders
          EXCEPT SELECT c_custkey FROM customer)
        ORDER BY kind
      """),
    ) { (s, dir) =>
      val ck = tbl(s, dir, "customer").select(col("c_custkey").as("k"))
      val ok = tbl(s, dir, "orders").select(col("o_custkey").as("k"))
      val both = ck.intersect(ok).agg(count(lit(1)).as("n"))
        .withColumn("kind", lit("both"))
      val custOnly = ck.except(ok).agg(count(lit(1)).as("n"))
        .withColumn("kind", lit("customer_only"))
      val ordOnly = ok.except(ck).agg(count(lit(1)).as("n"))
        .withColumn("kind", lit("orders_only"))
      both.unionByName(custOnly).unionByName(ordOnly)
        .select("kind", "n")
        .orderBy("kind")
    },

    // ------------------------------------------------------------------
    // Statistics (business Q2: budget↔revenue correlation analog):
    // corr / stddev / variance / covariance per group, single pass.
    QueryDef(
      "q37_stats",
      Some("""
        SELECT l_returnflag,
               round(corr(l_extendedprice, l_quantity), 4) AS price_qty_corr,
               round(stddev_samp(l_extendedprice), 4) AS price_stddev,
               round(var_samp(l_quantity), 4) AS qty_var,
               round(covar_samp(l_extendedprice, l_quantity), 4) AS price_qty_covar
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
      """),
    ) { (s, dir) =>
      lineitemSdLog(s, dir) // clustered-log read (see q20)
        .groupBy("l_returnflag")
        .agg(
          round(corr("l_extendedprice", "l_quantity"), 4).as("price_qty_corr"),
          round(stddev_samp("l_extendedprice"), 4).as("price_stddev"),
          round(var_samp("l_quantity"), 4).as("qty_var"),
          round(covar_samp("l_extendedprice", "l_quantity"), 4).as("price_qty_covar"),
        )
        .orderBy("l_returnflag")
    },

    // ------------------------------------------------------------------
    // Exact percentiles (linear interpolation in both engines).
    QueryDef(
      "q38_percentiles",
      Some("""
        SELECT o_orderstatus,
               round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
               round(quantile_cont(o_totalprice, 0.50), 4) AS p50,
               round(quantile_cont(o_totalprice, 0.75), 4) AS p75
        FROM orders
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
      """),
    ) { (s, dir) =>
      // ONE exact-percentile counts digest evaluated at all three
      // points (r22, the q38b array form): three scalar percentile
      // calls each build their OWN per-group digest — 3× the partial
      // state, 3× the shuffle, 3× the final merge+sort — for the same
      // linear-interpolation values element_at reads from one buffer.
      ordersByCustkey(s, dir) // parallel at-rest read (see q33)
        .groupBy("o_orderstatus")
        .agg(percentile(col("o_totalprice"),
          array(lit(0.25), lit(0.50), lit(0.75))).as("ps"))
        .select(
          col("o_orderstatus"),
          round(element_at(col("ps"), 1), 4).as("p25"),
          round(element_at(col("ps"), 2), 4).as("p50"),
          round(element_at(col("ps"), 3), 4).as("p75"),
        )
        .orderBy("o_orderstatus")
    },

    // ------------------------------------------------------------------
    // Approximate-percentile twin of q38: one-pass mergeable quantile
    // sketches instead of exact percentile's per-group sort — the
    // at-scale path. Same hashable reformulation as q35b: the declared
    // row carries the exact percentiles plus a boolean pinning each
    // approx value inside the exact-quantile envelope at q ± 5/accuracy
    // (5× the sketch's guaranteed rank error — the ApproxQualitySpec
    // bound); DuckDB computes the exact side and asserts TRUE, so the
    // sketch quality is now under the driver's hash gate. As with
    // q35b, the benched time of this gate query includes the exact
    // twin (a full per-group digest) — the at-scale claim belongs to
    // the sketch aggregate alone, not to this query's timing.
    QueryDef(
      "q38b_approx_percentiles",
      Some("""
        SELECT o_orderstatus,
               round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
               round(quantile_cont(o_totalprice, 0.50), 4) AS p50,
               round(quantile_cont(o_totalprice, 0.75), 4) AS p75,
               TRUE AS p25_in_bound,
               TRUE AS p50_in_bound,
               TRUE AS p75_in_bound
        FROM orders
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
      """),
    ) { (s, dir) =>
      val slack = 5.0 / 1000 // 5× percentile_approx(…, 1000)'s rank-error bound
      val qs = Seq(0.25, 0.50, 0.75)
      // ONE exact-percentile buffer evaluated at all 9 points
      // (lo, exact, hi per quantile) and ONE sketch evaluated at the 3
      // query points — the array forms share a single counts digest /
      // sketch per group, where 12 scalar aggregate calls would each
      // build their own (measured 2.4 s vs 0.8 s at sf0.1).
      val exactPts = array(qs.flatMap(q =>
        Seq(math.max(0.0, q - slack), q, math.min(1.0, q + slack))).map(lit): _*)
      val approxPts = array(qs.map(lit): _*)
      val out = col("o_orderstatus") +:
        (qs.zipWithIndex.map { case (q, i) =>
          round(element_at(col("ex"), 3 * i + 2), 4).as(s"p${(q * 100).toInt}")
        } ++
          qs.zipWithIndex.map { case (q, i) =>
            (element_at(col("ap"), i + 1) >= element_at(col("ex"), 3 * i + 1)
              && element_at(col("ap"), i + 1) <= element_at(col("ex"), 3 * i + 3))
              .as(s"p${(q * 100).toInt}_in_bound")
          })
      ordersByCustkey(s, dir) // parallel at-rest read (see q33)
        .groupBy("o_orderstatus")
        .agg(
          percentile(col("o_totalprice"), exactPts).as("ex"),
          percentile_approx(col("o_totalprice"), approxPts, lit(1000)).as("ap"),
        )
        .select(out: _*)
        .orderBy("o_orderstatus")
    },

    // ------------------------------------------------------------------
    // Business Q3 analog: entities produced per year (movies per year →
    // orders per year). Derivation + group-by on the derived key.
    QueryDef(
      "q39_per_year",
      Some("""
        SELECT year(CAST(o_orderdate AS DATE)) AS order_year,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders
        GROUP BY order_year
        ORDER BY order_year
      """),
    ) { (s, dir) =>
      tbl(s, dir, "orders")
        .groupBy(year(col("o_orderdate").cast("date")).as("order_year"))
        .agg(
          count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("total_price"),
        )
        .orderBy("order_year")
    },

    // ------------------------------------------------------------------
    // Business Q5 analog: relationship via bucketing (runtime↔rating →
    // quantity-bucket↔price): integer bucket + per-bucket aggregate.
    QueryDef(
      "q40_bucket_relation",
      Some("""
        SELECT CAST(floor(l_quantity / 10) * 10 AS BIGINT) AS qty_bucket,
               round(avg(l_extendedprice), 4) AS avg_price,
               count(*) AS n
        FROM lineitem
        GROUP BY qty_bucket
        ORDER BY qty_bucket
      """),
    ) { (s, dir) =>
      tbl(s, dir, "lineitem")
        .groupBy(
          (floor(col("l_quantity") / 10) * 10).try_cast("bigint").as("qty_bucket")
        )
        .agg(
          round(avg("l_extendedprice"), 4).as("avg_price"),
          count(lit(1)).as("n"),
        )
        .orderBy("qty_bucket")
    },

    // ------------------------------------------------------------------
    // Partition pruning over an at-rest layout: orders materialized once
    // per corpus partitioned by order_year (Scale.writePartitioned's
    // layout, via the Snapshots artifact path), then a year-range query
    // reads ONLY the matching partition directories — `PartitionFilters`
    // in the scan, zero rows decoded outside 1996-1997. At 100 TB this
    // is the difference between scanning two years and scanning the
    // table; PlanSpec pins the pruned plan shape. The oracle computes
    // the same result from the raw table (DuckDB sees no partitioning —
    // the layout is a physical detail the result must be invariant to).
    QueryDef(
      "q48_partition_pruned",
      Some("""
        SELECT year(CAST(o_orderdate AS DATE)) AS order_year,
               o_orderstatus,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders
        WHERE year(CAST(o_orderdate AS DATE)) BETWEEN 1996 AND 1997
        GROUP BY order_year, o_orderstatus
        ORDER BY order_year, o_orderstatus
      """),
    ) { (s, dir) =>
      ordersByYear(s, dir)
        .filter(col("order_year").between(1996, 1997))
        .groupBy("order_year", "o_orderstatus")
        .agg(
          count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("total_price"),
        )
        .orderBy("order_year", "o_orderstatus")
    },

    // ------------------------------------------------------------------
    // Shuffle-free aggregation over a bucketed-at-rest fact table: the
    // lineitem projection is materialized once per corpus as a catalog
    // table bucketed by l_orderkey, so the per-order aggregate consumes
    // the scan's hash distribution directly — zero Exchange
    // hashpartitioning in the plan (PlanSpec pins this; the only
    // exchange left is the final presentation sort). The write-time
    // shuffle is paid once and amortized over every keyed query; at
    // 100 TB this is the layout that turns the hottest join/agg key
    // from a per-query shuffle into a property of the table.
    // Aggregates chosen to be summation-order-independent (whole-number
    // quantity sum, max): with 15k groups a float revenue sum hits
    // half-ulp divergence vs the oracle's different reduction order.
    QueryDef(
      "q49_bucketed_agg",
      Some("""
        SELECT l_orderkey,
               count(*) AS n_lines,
               round(sum(l_quantity), 1) AS total_qty,
               round(max(l_extendedprice), 2) AS max_price
        FROM lineitem
        GROUP BY l_orderkey
        ORDER BY l_orderkey
      """),
    ) { (s, dir) =>
      lineitemBucketed(s, dir)
        .groupBy("l_orderkey")
        .agg(
          count(lit(1)).as("n_lines"),
          round(sum("l_quantity"), 1).as("total_qty"),
          round(max("l_extendedprice"), 2).as("max_price"),
        )
        .orderBy("l_orderkey")
    },

    // ------------------------------------------------------------------
    // Unpivot / melt — the inverse reshape of q42's pivot, via the
    // first-class Dataset.unpivot operator (Spark's UNPIVOT): the
    // per-priority metric columns melt into (priority, metric, value)
    // long form, the shape BI/feature-store consumers ingest. The melt
    // runs ABOVE the aggregate, so the Expand it plans multiplies the
    // |priorities| summary rows, never the fact table (contrast q35's
    // no-Expand pin, which guards pre-aggregation row multiplication).
    // All melted values are doubles of exact quantities (count cast,
    // exact DECIMAL(18,2)-summed total, max) — no order-dependent FP. The
    // oracle spells the melt dialect-neutrally as UNION ALL.
    QueryDef(
      "q150_unpivot",
      Some("""
        WITH w AS (
          SELECT o_orderpriority,
                 CAST(count(*) AS DOUBLE) AS n_orders,
                 CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_price,
                 round(max(o_totalprice), 2) AS max_price
          FROM orders GROUP BY o_orderpriority)
        SELECT o_orderpriority, 'n_orders' AS metric, n_orders AS value FROM w
        UNION ALL
        SELECT o_orderpriority, 'total_price', total_price FROM w
        UNION ALL
        SELECT o_orderpriority, 'max_price', max_price FROM w
        ORDER BY o_orderpriority, metric
      """),
    ) { (s, dir) =>
      tbl(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).cast("double").as("n_orders"),
          // Decimal-domain round (then ONE cast to double) — the same
          // tie-divergence guard as q139/q140: rounding after the cast
          // leaves the half-way decision to a double's binary
          // approximation, which Spark and DuckDB can settle
          // differently.
          round(sum(col("o_totalprice").cast("decimal(18,2)")), 2).cast("double")
            .as("total_price"),
          round(max("o_totalprice"), 2).as("max_price"),
        )
        .unpivot(
          Array(col("o_orderpriority")),
          Array(col("n_orders"), col("total_price"), col("max_price")),
          "metric", "value")
        .orderBy("o_orderpriority", "metric")
    },

    // ------------------------------------------------------------------
    // Incremental AGGREGATE maintenance — the q145 view-maintenance
    // geometry applied to the partsupp grain: fold "the lineitem batch
    // shipped since the last run" (rows past the at-rest hwm) into the
    // at-rest supplier×part aggregate WITHOUT re-reading base history.
    // Both measures are algebraic, so merge = combine the two partials
    // per key (a full-outer join of the ≤1-row-per-key sides — r22;
    // equivalently, re-aggregating their union): BIGINT availqty
    // partials add (integral-double sums are exact, so
    // partial-then-total equals total), and supplycost partials take
    // min (per-row IEEE division is bit-deterministic and min is
    // associative/order-free). DECLARED output: the full updated
    // grain — the oracle derives partsupp from the WHOLE fact table
    // (the shared psCte, verbatim), so the hash gate proves the
    // O(batch + grain) path reconstructs the O(history) rebuild
    // bit-for-bit. Scale shape: ONE lineitem scan (the new batch; a
    // production run reads the batch as its own input), one pass over
    // the at-rest grain, base history never rescanned [PlanSpec-
    // pinned]. ps_supplycost ships RAW: each engine's min selects the
    // same bit-identical per-row IEEE division, so the doubles agree
    // exactly — whereas a round(…, 4) would hand half-way ties to each
    // engine's own double-rounding (measured: 125 fourth-decimal
    // flips at sf0.01), the very divergence the decimal-domain rule
    // exists to avoid. No accumulation happens in this column, so the
    // rounded-floats rule for FP reductions does not apply.
    QueryDef(
      "q151_partsupp_merge",
      Some(s"""
        WITH $psCte
        SELECT ps_partkey, ps_suppkey, ps_availqty, ps_supplycost
        FROM partsupp
        ORDER BY ps_partkey, ps_suppkey
      """),
    ) { (s, dir) =>
      // The hwm arrives from its 1-row at-rest artifact via the same
      // bounded driver read as scd2-hwm: as a LITERAL the batch
      // boundary pushes into the scan of the ship-date-sorted log,
      // where the BIGINT comparison genuinely prunes row groups
      // (metrics-proven in LineitemLayoutSpec) — the r9 honesty note
      // about accepted-but-not-pruned NTZ predicates no longer applies
      // to this path because the engine owns the layout.
      val cutoffUs = psHwm(s, dir).head().getLong(0)
      // NULL ship dates ride with the batch: both split predicates are
      // otherwise null-rejecting, and a row landing in NEITHER partial
      // would silently vanish from the merged grain the oracle derives
      // over the WHOLE table (fuzz-covered). Or(≥, IsNull) still
      // converts to a row-group predicate (skip = max below cutoff and
      // zero nulls).
      val batch = lineitemSince(s, dir, cutoffUs)
        .groupBy(col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"))
        .agg(
          sum("l_quantity").cast("bigint").as("b_availqty"),
          min(col("l_extendedprice") / nullif(col("l_quantity"), lit(0.0)))
            .as("b_supplycost"),
        )
      // Merge as a FULL OUTER join on the grain key (r22; was
      // union + re-aggregate): each side holds ≤1 row per key (both
      // are aggregates), so the fold is a per-key 2-row combine — and
      // with the base grain at rest in composite-key buckets the join
      // consumes its distribution with NO exchange on the grain side;
      // only the batch partials shuffle. The combine reproduces
      // union-aggregate null semantics: sum skips NULLs and is NULL
      // only when every input is (both-null guard); min skips NULLs
      // (the when-chain). Plain equi-join keys on purpose — null-safe
      // <=> keys defeat the bucket distribution (measured: an extra
      // exchange on BOTH sides); the grain keys are non-null by
      // construction (both sides group the same non-null fact keys),
      // so the USING form is value-identical here.
      val base = psBase(s, dir).select(
        col("ps_partkey"), col("ps_suppkey"),
        col("ps_availqty").as("a_availqty"), col("ps_supplycost").as("a_supplycost"))
      base
        .join(batch, Seq("ps_partkey", "ps_suppkey"), "full_outer")
        .select(
          col("ps_partkey"),
          col("ps_suppkey"),
          when(col("a_availqty").isNull && col("b_availqty").isNull, lit(null))
            .otherwise(coalesce(col("a_availqty"), lit(0L)) +
              coalesce(col("b_availqty"), lit(0L)))
            .cast("bigint").as("ps_availqty"),
          when(col("a_supplycost").isNull, col("b_supplycost"))
            .when(col("b_supplycost").isNull, col("a_supplycost"))
            .otherwise(least(col("a_supplycost"), col("b_supplycost")))
            .as("ps_supplycost"),
        )
        .orderBy("ps_partkey", "ps_suppkey")
    },

    // ------------------------------------------------------------------
    // Dynamic file pruning: a selective dimension filter (urgent,
    // top-price orders) resolves to join keys FIRST, and the fact read
    // plans only the orderkey-log files whose manifest range holds any
    // of them (ManifestLog.readForKeys) — the fact side narrows at
    // plan time instead of scanning history into the join. The dim is
    // broadcast (small by construction); the fact side never shuffles
    // until the aggregate. The oracle is the plain join — proving the
    // pruned plan answers identically.
    QueryDef(
      "q154_dfp_join",
      Some("""
        SELECT l_orderkey, count(*) AS n_items,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderpriority = '1-URGENT' AND o_totalprice >= 450000
        GROUP BY l_orderkey
        ORDER BY l_orderkey
      """),
    ) { (s, dir) =>
      val dim = tbl(s, dir, "orders")
        .where(col("o_orderpriority") === "1-URGENT" &&
          col("o_totalprice") >= 450000.0)
        .select("o_orderkey")
      val fact = graft.util.ManifestLog.readForKeys(
        s, lineitemOkLog(s, dir), "l_orderkey",
        dim.select(col("o_orderkey").as("l_orderkey")))
      fact.join(broadcast(dim), col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(
          count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1) - col("l_discount")).cast("decimal(18,2)")), 2)
            .cast("double").as("revenue"),
        )
        .orderBy("l_orderkey")
    },

    // ------------------------------------------------------------------
    // The round-15 layout thesis in one query: a date-bounded orderkey
    // join over the MANIFESTED bucketed fact. The pushed l_shipdate
    // bounds skip whole per-year files at plan time through the
    // stats-aware manifest FileIndex (on the raw NTZ column, which
    // this Spark's parquet row-group predicates cannot even express —
    // the r9 measured gap), and the bucket spec keeps the orderkey
    // join exchange-free at the scale where orders stops broadcasting.
    // Exact-decimal revenue factors (the q154 convention).
    QueryDef(
      "q157_colocated_dfp",
      Some("""
        SELECT l_returnflag, count(*) AS n_items,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1999-01-01'
          AND l_shipdate <  TIMESTAMP '2000-01-01'
          AND o_orderstatus = 'F'
        GROUP BY l_returnflag
        ORDER BY l_returnflag
      """),
    ) { (s, dir) =>
      val fact = graft.util.BucketedManifest.read(s, lineitemPairManifested(s, dir))
        .where(col("l_shipdate") >= lit(graft.util.Tables.ntzUs(dateUs("1999-01-01"))) &&
          col("l_shipdate") < lit(graft.util.Tables.ntzUs(dateUs("2000-01-01"))))
      val dim = ordersBucketed(s, dir).where(col("o_orderstatus") === "F")
      fact.join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1) - col("l_discount")).cast("decimal(18,2)")), 2)
            .cast("double").as("revenue"),
        )
        .orderBy("l_returnflag")
    },
  )
}
