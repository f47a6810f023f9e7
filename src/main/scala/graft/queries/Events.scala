package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.util.{QueryDef, Tables}

/** Event-time analytics over the `events` table — the batch expressions
  * of the streaming surface (SURVEY.md §2.11: the reference is purely
  * batch; these are the north-star extensions). The same windowing
  * semantics run incrementally in graft.streaming via Structured
  * Streaming; here they are declared as batch plans so the DuckDB
  * oracle can check them.
  *
  * Timestamps are compared as epoch-microsecond longs — exact integer
  * arithmetic on both engines, no format/timezone seams (§7.4 H7).
  */
object Events {

  import Tables.tbl

  private val HourUs = 3600L * 1000000L
  private val HalfHourUs = 1800L * 1000000L
  private val MinuteUs = 60L * 1000000L

  /** Trailing-baseline length (minutes) for q115's anomaly frame. */
  private val BaselineMinutes = 30

  /** Oracle-side SCD2 dimension as a shared WITH-fragment (the psCte
    * pattern): ONE definition of the run-collapse feeds q142's and
    * q145's full-history oracles AND q149's lookup oracle, so a future
    * semantics change cannot leave one gate checking a stale
    * dimension. (Declared above `defs`: a val below it would still be
    * null when the strict Seq is built.)
    */
  private val Scd2DimCte = """e AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
      FROM events),
    c AS (
      SELECT user_id, ts_us, event_id, event_type,
             lag(event_type) OVER
               (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev
      FROM e),
    ch AS (
      SELECT user_id, ts_us, event_id, event_type
      FROM c WHERE prev IS NULL OR prev <> event_type),
    d AS (
      SELECT user_id, event_type AS state, ts_us AS valid_from_us,
             lead(ts_us) OVER
               (PARTITION BY user_id ORDER BY ts_us, event_id) AS valid_to_us,
             row_number() OVER
               (PARTITION BY user_id ORDER BY ts_us, event_id) AS version
      FROM ch)"""

  /** Shared oracle for q142 (full SCD2 recompute) and q145 (incremental
    * merge) — the merge DECLARES the full updated history, so the same
    * SQL gates both: equality proves the incremental path reconstructs
    * the recompute exactly.
    */
  private val Scd2OracleSql = s"""
    WITH $Scd2DimCte
    SELECT user_id, state, valid_from_us, valid_to_us, version
    FROM d
    ORDER BY user_id, version
  """

  /** Run-collapse of a (user_id, ts_us, event_id, event_type) relation
    * into SCD2 validity intervals — the shared core of q142 (full
    * recompute), the at-rest dimension build, and q145's merge. Both
    * windows share one (user_id) partitioning and one sort.
    */
  private[queries] def collapseRuns(e: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    e.withColumn("prev", lag("event_type", 1).over(byUser))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .select(
        col("user_id"), col("event_type").as("state"),
        col("ts_us").as("valid_from_us"),
        lead("ts_us", 1).over(byUser).as("valid_to_us"),
        row_number().over(byUser).as("version"),
      )
  }

  private[graft] def eventsUs(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("user_id"), unix_micros(col("ts")).as("ts_us"),
      col("event_id"), col("event_type"))

  /** At-rest micro-normalized event log: [[eventsUs]] materialized once
    * per corpus snapshot, globally SORTED by ts_us (each parquet row
    * group covers a tight, disjoint time range) with the timestamp as
    * plain BIGINT micros. This layout exists because "PushedFilters in
    * the plan" is NOT pruning — measured via scan metrics
    * (EventsLoaderSpec) after the corpus moved to TIMESTAMP_NTZ: Spark
    * 4's parquet predicate conversion only matches UTC-adjusted
    * timestamp annotations (ParquetFilters' ParquetTimestampMicrosType
    * is `timestampType(true, MICROS)`), so a boundary filter on a raw
    * NTZ column is accepted by the source yet never becomes a
    * row-group predicate — the scan decodes ALL of history to drop
    * 80% of it. Integer predicates convert in every Spark version;
    * the one-time ingest sort+rewrite is exactly what a 100 TB events
    * table pays to make every later time-boundary read O(batch).
    *
    * Scope: deliberately only the four boundary-path columns. The
    * full-corpus queries (windows, funnels, attribution) read every
    * row regardless, so routing them through a wider log would
    * duplicate value/props at rest for zero pruning gain — the log is
    * the engine's time-clustered index of the event stream, not a
    * second copy of the table.
    */
  private def eventsUsLog(s: SparkSession, dir: String): DataFrame = {
    // Explicit partition count: a bare sort()'s range shuffle is
    // AQE-coalescible, so the file layout (and therefore how many
    // row groups a boundary scan can skip) would depend on adaptive
    // heuristics and box size. With N explicit, the log is N files of
    // disjoint sorted ts ranges on every config — deterministic for
    // the pruning spec. N is MASS-DERIVED with the session's
    // parallelism as a floor ([[graft.util.ManifestLog.layoutFanout]]):
    // at corpus scale files stay target-sized instead of inheriting
    // all growth under a pinned count; on a small corpus the floor
    // keeps a full scan spread across the cores. N is part of the
    // artifact NAME: the Snapshots memo keys on (dir, name, corpus
    // fingerprint) only, so two sessions with different settings in
    // one JVM would otherwise share whichever layout built first —
    // quietly breaking the deterministic-N-files claim.
    val n = graft.util.ManifestLog.layoutFanout(s, s"$dir/events.parquet")
    graft.util.Snapshots(s, dir, s"events-us-log-n$n",
      adoptBound = Some("ts_us")) {
      usLogFrame(eventsUs(s, dir), n)
    }
  }

  /** The ts-clustering recipe — shared verbatim by the one-shot
    * snapshot build above and the segment-append maintenance path
    * ([[appendEventsUsLogSegment]]), the lineitem-sd-log discipline on
    * the event stream: every segment's files carry tight disjoint
    * ts_us stats over the batch's span.
    */
  private[graft] def usLogFrame(e: DataFrame, n: Int): DataFrame =
    e.repartitionByRange(n, col("ts_us")).sortWithinPartitions("ts_us")

  /** Segment-append for the events µs log: an arriving event batch
    * (raw events shape — ts in whatever encoding the producer wrote;
    * normalization is the batch frame's own `unix_micros` projection)
    * lands as new sorted files under the layout root. O(batch) per
    * ingest tick; boundary pruning holds across segments
    * ([[graft.util.ManifestLog.appendSorted]]; measured in
    * SegmentAppendSpec). Event
    * streams are append-only by nature, so this is the layout's ONLY
    * maintenance operation — there is no update path to design for.
    */
  private[graft] def appendEventsUsLogSegment(
      s: SparkSession, root: String, batchEventsUs: DataFrame): Unit = {
    val n = s.conf.get("spark.sql.shuffle.partitions").toInt
    graft.util.ManifestLog.appendSorted(usLogFrame(batchEventsUs, n), root,
      boundCol = Some("ts_us"))
  }

  /** The events at-or-after a micros cutoff, read from the ts-sorted
    * at-rest log so the boundary literal prunes row groups
    * (metrics-proven in EventsLoaderSpec) instead of decoding all of
    * history — and encoding drift in the raw corpus never reaches this
    * path: whatever [[Tables.events]] adapted to, the log is always
    * sorted BIGINT micros.
    */
  private[graft] def eventsUsSince(s: SparkSession, dir: String, cutoffUs: Long): DataFrame = {
    // Boundary hint for a manifested log: the batch read plans only
    // the files whose manifest-recorded ts range reaches the cutoff.
    // Same n derivation as the build — the two must name ONE layout.
    val n = graft.util.ManifestLog.layoutFanout(s, s"$dir/events.parquet")
    graft.util.Snapshots.slice(s, dir, s"events-us-log-n$n",
        "ts_us", cutoffUs, Long.MaxValue) {
      usLogFrame(eventsUs(s, dir), n)
    }.filter(col("ts_us") >= cutoffUs)
  }

  /** Point-lookup key set for q152 — fixed small user ids, present at
    * every test SF (user_id is dense from 0). A point operation's keys
    * come from outside the corpus (a request, a deletion order), so a
    * literal set is the honest shape.
    */
  private[graft] val LookupUserIds: Seq[Long] = Seq(3L, 7L, 11L)

  /** USER-key-clustered manifested replica of the event log — the
    * point-lookup twin of the ts-sorted [[eventsUsLog]], closing the
    * r18-measured honest negative: a TIME-sorted log probed on user
    * ids that span all of time admits every file at every corpus size
    * (31/31 at ×1/×10/×100, e=0.51, 7.43 s at ×100 — even footer
    * blooms only cut row groups, not the file population), while the
    * key-clustered layouts (q156's digest log, q157's bucket pair)
    * plan O(1) files flat. Same recipe applied to the probe key:
    * sorted by (user_id, ts_us) — ts second, so one user's history
    * reads in time order — with per-file user_id range stats in the
    * manifest; [[graft.util.ManifestLog.readKeyed]] then admits only
    * the file(s) whose user range can hold a probed id. The
    * repartition ranges over BOTH columns: a whale user larger than
    * one file splits across neighbors instead of skewing a task,
    * costing that one key an extra admitted file and nothing else.
    *
    * The time-sliced consumers keep the ts-sorted log; this replica
    * serves the keyed ones (fetch-a-user, forget-a-user). Appends:
    * [[appendEventsByUserSegment]] — a batch lands as ONE user-sorted
    * file whose keyed reads stay O(segments); the
    * [[graft.util.ManifestLog.maintainSorted]] tick re-compacts a grain
    * only when >16 segments overlap it (tiered-compaction
    * amortization, drilled in EventsQualitySpec and TickBench).
    *
    * File count is DERIVED from the source's mass
    * ([[graft.util.ManifestLog.sourceFanout]] over the raw events
    * parquet — bytes from file statuses, rows from footers), not
    * pinned to the partition count: a pinned denominator keeps the
    * count at 32 while bytes grow 100×, so the one file a point
    * lookup admits inherits all the growth (the r19 ×100 residual).
    * Mass-derived counts keep the admitted file bounded by the
    * bytes/rows targets instead; the snapshot name carries the
    * derived n, so a corpus whose mass crosses a target boundary
    * builds fresh rather than reusing a stale-shaped layout.
    */
  private[graft] def eventsByUserLog(s: SparkSession, dir: String,
      targetFileBytes: Long = -1L, targetFileRows: Long = -1L): String = {
    val n = graft.util.ManifestLog.sourceFanout(
      s, s"$dir/events.parquet", targetFileBytes, targetFileRows)
    graft.util.Snapshots.manifestedLog(s, dir, s"events-byuser-n$n",
      "user_id", Nil) {
      byUserFrame(eventsUs(s, dir), n)
    }
  }

  /** The user-clustering recipe — shared by the one-shot replica build
    * and the segment-append maintenance path, like [[usLogFrame]] for
    * the ts-sorted log: range-partitioned and sorted on (user_id,
    * ts_us), so every file carries a tight user_id range.
    */
  private[graft] def byUserFrame(e: DataFrame, n: Int): DataFrame =
    e.repartitionByRange(n, col("user_id"), col("ts_us"))
      .sortWithinPartitions("user_id", "ts_us")

  /** Segment-append for the by-user replica: the arriving batch lands
    * as ONE user-sorted file (a key-clustered replica's batches span
    * the whole key domain by nature — unlike the ts log's naturally
    * disjoint time segments — so appending it range-partitioned would
    * scatter N domain-overlapping files per tick). Keyed reads then
    * admit O(1) files per at-rest segment; once >16 segments overlap
    * a grain, the [[graft.util.ManifestLog.maintainSorted]] tick folds
    * them back into the sorted history — O(grain) every 16 batches,
    * O(batch) otherwise, the standard tiered-compaction trade.
    */
  private[graft] def appendEventsByUserSegment(
      s: SparkSession, root: String, batchEventsUs: DataFrame): Unit =
    graft.util.ManifestLog.appendSorted(
      byUserFrame(batchEventsUs, 1), root, boundCol = Some("user_id"))

  /** Maintenance tick for the by-user replica — the depth-triggered
    * RANGE-SHARDED fold, [[graft.util.ManifestLog.maintainKeyed]] (see
    * there for the why: a key-replica's every segment spans the whole
    * key domain, so `maintainSorted`'s component-size trigger would
    * full-rewrite on the first tick; the honest trigger is the read
    * amplification itself, the steady-state tick is a driver-side
    * manifest sweep, and a fold touches only the over-depth key
    * ranges). Returns whether a fold committed.
    */
  private[graft] def maintainEventsByUser(s: SparkSession, root: String,
      maxDepth: Int = graft.util.ManifestLog.CompactAfterSegments,
      targetFileBytes: Long = -1L, targetFileRows: Long = -1L): Boolean =
    graft.util.ManifestLog.maintainKeyed(s, root, "user_id", maxDepth,
      secondarySort = Seq("ts_us"), // the layout's documented within-user order
      targetFileBytes = targetFileBytes, targetFileRows = targetFileRows)

  /** Z-clustered manifested twin of the events log, ordered by the
    * bit-interleaving of (ts_us, user_id) with BOTH columns'
    * per-file ranges in the manifest ([[graft.util.ManifestLog.cluster]]).
    * The time-sorted log answers "a day" from few files but scans
    * every file for "a day × a tenant" — uid ranges span the domain
    * in every time-sorted file. The Z layout gives both columns
    * ~√files-tight ranges, so a conjunctive slice prunes
    * multiplicatively ([[graft.util.ManifestLog.readSliceN]]); at
    * 100 TB that is the difference between a tenant-scoped audit
    * reading a tenant's share of a day and it reading the whole day.
    */
  private[graft] def eventsZLog(s: SparkSession, dir: String): String =
    graft.util.Snapshots.clusteredLog(s, dir, "events-z",
      Seq("ts_us", "user_id"), targetFileRows = 4096L) {
      Tables.events(s, dir).select(
        unix_micros(col("ts")).as("ts_us"), col("user_id"),
        col("event_id"), col("event_type"), col("value"))
    }

  /** Corpus event-time span, as a 1-row at-rest artifact (the Hwm
    * discipline: the min/max scan runs once at build; queries read one
    * row and push exact integer-micros literals).
    */
  private def eventsTsSpan(s: SparkSession, dir: String): (Long, Long) = {
    val r = graft.util.Snapshots(s, dir, "events-ts-span") {
      eventsUs(s, dir).agg(
        min("ts_us").as("mn_us"), max("ts_us").as("mx_us"))
    }.head()
    (r.getLong(0), r.getLong(1))
  }

  /** 1-row at-rest hwm companion: the dimension covers the first 80%
    * of the corpus ts span, the rest is "the new batch since the last
    * run" — the shared [[graft.util.Hwm]] convention (one definition
    * with the partsupp grain's hwm). Queries read THIS (broadcast),
    * never re-deriving the cutoff with a corpus scan at query time.
    */
  private def scd2Hwm(s: SparkSession, dir: String): DataFrame =
    graft.util.Hwm.artifact(s, dir, "scd2-hwm")(col("ts_us"), eventsUsLog(s, dir))

  /** The at-rest SCD2 dimension: history collapsed from every event
    * before the hwm — what the previous incremental run left behind.
    * The cutoff comes from the already-built hwm artifact (a 1-row
    * driver read at build time), so the corpus min/max scan runs once
    * per corpus, not once per artifact.
    */
  private def scd2Base(s: SparkSession, dir: String): DataFrame =
    graft.util.Snapshots(s, dir, "scd2-base") {
      val c = scd2Hwm(s, dir).head().getLong(0)
      collapseRuns(eventsUsLog(s, dir).filter(col("ts_us") < c))
    }

  /** Retraction for the SCD2 dimension, whole-user grain — the
    * right-to-be-forgotten case an events dimension actually receives:
    * the dimension is per-user-independent (every window partitions by
    * user_id), so forgetting users is one anti-join, the
    * append-geometry inverse of the TextOps retraction family. Zero
    * event scans.
    */
  private[queries] def forgetUsersScd2(base: DataFrame, userIds: DataFrame): DataFrame =
    base.join(userIds.select("user_id"), Seq("user_id"), "left_anti")

  /** Event-level retraction for the SCD2 dimension — the PARTITIONED
    * REFRESH geometry (the linkage-blocks discipline on the time
    * dimension): deleting an event can merge two adjacent runs of the
    * same state and renumbers versions, but only within the deleted
    * events' own users. Untouched users pass through verbatim; touched
    * users re-collapse from their surviving events — read from the
    * at-rest µs log restricted by one semi-join, never all of history.
    */
  private[queries] def retractScd2Events(base: DataFrame, eventsUs: DataFrame,
      deletedEventIds: DataFrame): DataFrame = {
    val ids = deletedEventIds.select("event_id")
    val touched = eventsUs.join(ids, Seq("event_id"), "left_semi")
      .select("user_id").distinct()
    val untouched = base.join(touched, Seq("user_id"), "left_anti")
    val surv = eventsUs
      .join(touched, Seq("user_id"), "left_semi")
      .join(ids, Seq("event_id"), "left_anti")
    untouched.unionByName(collapseRuns(surv))
      .select(base.columns.map(col).toIndexedSeq: _*)
  }

  /** Force the events at-rest artifacts (called from
    * SparkEntry.prepareIndexes with the other module chains). Four
    * independent chains build concurrently through the fatal-safe
    * barrier; the SCD2 lineage (log → hwm → base) stays ordered within
    * its chain, and the three log layouts (ts-sorted, by-user, Z) are
    * independent whole-corpus rewrites that underfill the scheduler
    * individually.
    */
  private[graft] def prebuildIndexes(s: SparkSession, dir: String): Unit = {
    val chains: Seq[(String, () => Any)] = Seq(
      "scd2-chain" -> (() => {
        eventsUsLog(s, dir); scd2Hwm(s, dir); scd2Base(s, dir)
      }),
      "byuser-log" -> (() => eventsByUserLog(s, dir)),
      "z-log" -> (() => eventsZLog(s, dir)),
      "ts-span" -> (() => eventsTsSpan(s, dir)),
    )
    graft.util.Chains.runLabeled("events", chains)
  }

  val defs: Seq[QueryDef] = Seq(
    // ------------------------------------------------------------------
    // Tumbling window: 1-hour buckets per event type. Spark's window()
    // is epoch-aligned; the oracle mirrors with integer bucket math.
    QueryDef(
      "q50_tumbling_window",
      Some(s"""
        SELECT epoch_us(ts) - epoch_us(ts) % $HourUs AS window_start_us,
               event_type, count(*) AS n,
               round(sum(value), 2) AS sum_value
        FROM events
        GROUP BY window_start_us, event_type
        ORDER BY window_start_us, event_type
      """),
    ) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(
          window(col("ts"), "1 hour").as("w"),
          col("event_type"),
        )
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .select(
          unix_micros(col("w.start")).as("window_start_us"),
          col("event_type"),
          col("n"),
          col("sum_value"),
        )
        .orderBy("window_start_us", "event_type")
    },

    // ------------------------------------------------------------------
    // Sliding window: 1-hour length, 30-minute slide — every event lands
    // in exactly two windows. Spark's window() emits both; the oracle
    // unnests the two epoch-aligned candidate starts.
    QueryDef(
      "q51_sliding_window",
      Some(s"""
        WITH e AS (
          SELECT epoch_us(ts) - epoch_us(ts) % $HalfHourUs AS b, value
          FROM events),
        w AS (
          SELECT unnest([b, b - $HalfHourUs]) AS window_start_us, value
          FROM e)
        SELECT window_start_us, count(*) AS n, round(sum(value), 2) AS sum_value
        FROM w
        GROUP BY window_start_us
        ORDER BY window_start_us
      """),
    ) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .select(
          unix_micros(col("w.start")).as("window_start_us"),
          col("n"),
          col("sum_value"),
        )
        .orderBy("window_start_us")
    },

    // ------------------------------------------------------------------
    // Session window (30-min gap): Spark's native session_window —
    // the same operator Structured Streaming uses for stateful
    // sessionization. Oracle: classic lag/cumsum gap-and-island SQL.
    // Both define a new session at gap >= 30 min (session_window's
    // interval is [start, last+gap)).
    QueryDef(
      "q52_session_window",
      Some(s"""
        WITH flagged AS (
          SELECT user_id, epoch_us(ts) AS t, event_id, value,
                 CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id)
                      >= $HalfHourUs THEN 1 ELSE 0 END AS is_new
          FROM events),
        sessions AS (
          SELECT user_id, t, value,
                 sum(is_new) OVER (PARTITION BY user_id ORDER BY t, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM flagged)
        SELECT user_id, min(t) AS session_start_us,
               max(t) + $HalfHourUs AS session_end_us,
               count(*) AS n_events, round(sum(value), 2) AS sum_value
        FROM sessions
        GROUP BY user_id, sid
        ORDER BY user_id, session_start_us
      """),
    ) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
        .select(
          col("user_id"),
          unix_micros(col("w.start")).as("session_start_us"),
          unix_micros(col("w.end")).as("session_end_us"),
          col("n_events"),
          col("sum_value"),
        )
        .orderBy("user_id", "session_start_us")
    },

    // ------------------------------------------------------------------
    // Sessionization via window functions (gaps-and-islands): the
    // hand-rolled equivalent of q52 aggregated to per-user stats —
    // demonstrates lag + conditional cumsum as reusable primitives.
    QueryDef(
      "q53_sessionization_stats",
      Some(s"""
        WITH flagged AS (
          SELECT user_id, epoch_us(ts) AS t, event_id,
                 CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id)
                      >= $HalfHourUs THEN 1 ELSE 0 END AS is_new
          FROM events),
        sessions AS (
          SELECT user_id, t,
                 sum(is_new) OVER (PARTITION BY user_id ORDER BY t, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM flagged),
        per_session AS (
          SELECT user_id, sid, count(*) AS n_events,
                 (max(t) - min(t)) / 1000000 AS duration_s
          FROM sessions GROUP BY user_id, sid)
        -- CAST: DuckDB sum(BIGINT) returns HUGEINT (int128), Spark sum
        -- returns BIGINT — equal values, different hash serialization.
        SELECT user_id, count(*) AS n_sessions,
               CAST(sum(n_events) AS BIGINT) AS total_events,
               round(avg(n_events), 4) AS avg_events_per_session,
               max(duration_s) AS max_duration_s
        FROM per_session
        GROUP BY user_id
        ORDER BY user_id
      """),
    ) { (s, dir) =>
      val byUser = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
      val cum = Window.partitionBy("user_id").orderBy(asc("t"), asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val t = unix_micros(col("ts"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"), t.as("t"))
        .withColumn(
          "is_new",
          when(col("t") - lag(col("t"), 1).over(byUser) >= HalfHourUs, 1).otherwise(0),
        )
        .withColumn("sid", sum("is_new").over(cum))
        .groupBy("user_id", "sid")
        .agg(
          count(lit(1)).as("n_events"),
          ((max("t") - min("t")) / 1000000).as("duration_s"),
        )
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_sessions"),
          sum("n_events").as("total_events"),
          round(avg("n_events"), 4).as("avg_events_per_session"),
          max("duration_s").as("max_duration_s"),
        )
        .orderBy("user_id")
    },

    // ------------------------------------------------------------------
    // Semi-structured extraction: JSON path into the props column —
    // get_json_object stays inside codegen; no UDF.
    QueryDef(
      "q54_json_extract",
      Some("""
        SELECT event_type,
               count(try_cast(json_extract_string(props, '$.k') AS BIGINT)) AS n_k,
               round(avg(try_cast(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
               max(try_cast(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        FROM events
        GROUP BY event_type
        ORDER BY event_type
      """),
    ) { (s, dir) =>
      val k = get_json_object(col("props"), "$.k").try_cast("bigint")
      Tables.events(s, dir)
        .select(col("event_type"), k.as("k"))
        .groupBy("event_type")
        .agg(
          count(col("k")).as("n_k"),
          round(avg("k"), 4).as("avg_k"),
          max("k").as("max_k"),
        )
        .orderBy("event_type")
    },

    // ------------------------------------------------------------------
    // Schema-projected JSON parsing: from_json with an explicit schema
    // parses the document ONCE into a struct — the right call when a
    // query touches multiple fields (per-path get_json_object, q54,
    // re-parses per path); malformed documents become null structs,
    // the lenient-cast posture (X3) applied to JSON.
    QueryDef(
      "q58_json_struct",
      Some("""
        SELECT event_type,
               count(try_cast(json_extract_string(props, '$.k') AS INT)) AS n_parsed,
               CAST(sum(try_cast(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
                 AS sum_k,
               CAST(count(*) FILTER (WHERE try_cast(json_extract_string(props, '$.k') AS INT) >= 50)
                 AS BIGINT) AS n_high
        FROM events
        GROUP BY event_type
        ORDER BY event_type
      """),
    ) { (s, dir) =>
      // Field extracted as STRING then try_cast: a quoted "42" parses
      // on both engines this way, whereas from_json straight to int
      // nulls the whole struct on quoted numerics while the oracle's
      // json_extract_string + try_cast accepts them — keep both sides
      // string-lenient (X3 posture).
      val parsed = from_json(col("props"), org.apache.spark.sql.types.StructType(
        Seq(org.apache.spark.sql.types.StructField(
          "k", org.apache.spark.sql.types.StringType))))
      Tables.events(s, dir)
        .select(col("event_type"), parsed.getField("k").try_cast("int").as("k"))
        .groupBy("event_type")
        .agg(
          count(col("k")).as("n_parsed"),
          sum(col("k")).as("sum_k"),
          count(when(col("k") >= 50, 1)).as("n_high"),
        )
        .orderBy("event_type")
    },

    // ------------------------------------------------------------------
    // Range join via BANDING — the scale-safe construction for interval
    // predicates: bucket both sides by a 60s band, join each event to
    // its own and the adjacent band (every |Δt| ≤ 60s pair must share
    // or straddle a boundary), then apply the exact range filter. The
    // naive |t1−t2| ≤ 60s join is an unbounded cross product at scale;
    // banding bounds candidates to O(events per 2 bands) per event.
    // Oracle: the naive inequality join — same result, feasible at
    // oracle scale only.
    QueryDef(
      "q56_range_join_banded",
      Some(s"""
        WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS t FROM events)
        SELECT a.event_type AS type1, b.event_type AS type2, count(*) AS n_pairs
        FROM e a JOIN e b
          ON a.user_id < b.user_id
          AND abs(a.t - b.t) <= 60000000
        GROUP BY type1, type2
        ORDER BY type1, type2
      """),
    ) { (s, dir) =>
      val bandUs = 60000000L
      val e = Tables.events(s, dir)
        .select(
          col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("t"),
        )
        .withColumn("band", (col("t") / bandUs).cast("long"))
      // The pair's roles are fixed by user_id ordering (not symmetric),
      // so the left side must probe the previous, own, and next band:
      // |Δt| ≤ band width ⇒ |Δband| ≤ 1, and each qualifying pair
      // matches exactly one (probe = b.band) value — no dedup needed.
      val left = e.withColumn(
        "probe",
        explode(array(col("band") - 1, col("band"), col("band") + 1)),
      )
      left.as("a")
        .join(
          e.as("b"),
          col("a.probe") === col("b.band")
            && col("a.user_id") < col("b.user_id")
            && abs(col("a.t") - col("b.t")) <= bandUs,
        )
        .groupBy(col("a.event_type").as("type1"), col("b.event_type").as("type2"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("type1", "type2")
    },

    // ------------------------------------------------------------------
    // As-of association via window (the single-table as-of join): for
    // every event, the timestamp of the user's most recent 'click' at
    // or before it — one partition-ordered pass, no join, the shape
    // that replaces a sort-merge as-of join when both sides share the
    // partition key. Aggregated per event type for a stable result.
    QueryDef(
      "q57_asof_last_click",
      Some("""
        WITH w AS (
          SELECT event_type, epoch_us(ts) AS t,
                 max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_us
          FROM events)
        SELECT event_type,
               count(last_click_us) AS n_with_click,
               count(*) - count(last_click_us) AS n_without,
               -- integer µs, no division: DuckDB's double→bigint cast
               -- ROUNDS while Spark's truncates (dialect seam), so
               -- summed gaps stay in exact integer microseconds.
               CAST(sum(t - last_click_us) AS BIGINT) AS total_gap_us
        FROM w
        GROUP BY event_type
        ORDER BY event_type
      """),
    ) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val t = unix_micros(col("ts"))
      Tables.events(s, dir)
        .select(col("event_type"), col("user_id"), col("event_id"), col("ts"), t.as("t"))
        .withColumn(
          "last_click_us",
          max(when(col("event_type") === "click", col("t"))).over(w),
        )
        .groupBy("event_type")
        .agg(
          count(col("last_click_us")).as("n_with_click"),
          (count(lit(1)) - count(col("last_click_us"))).as("n_without"),
          sum(col("t") - col("last_click_us")).as("total_gap_us"),
        )
        .orderBy("event_type")
    },

    // ------------------------------------------------------------------
    // Funnel analysis: users who progressed click → purchase in event-
    // time order, per cohort of first activity. One aggregate over
    // conditional mins — no joins, no per-step passes; the standard
    // way a funnel survives arbitrary event volume.
    QueryDef(
      "q59_funnel",
      Some("""
        WITH u AS (
          SELECT user_id,
                 min(epoch_us(ts)) AS first_seen_us,
                 min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS first_click_us,
                 min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS first_purchase_us
          FROM events GROUP BY user_id)
        SELECT count(*) AS n_users,
               count(first_click_us) AS n_clicked,
               CAST(count(*) FILTER (WHERE first_purchase_us > first_click_us) AS BIGINT)
                 AS n_converted,
               round(CAST(count(*) FILTER (WHERE first_purchase_us > first_click_us) AS DOUBLE) /
                     greatest(count(first_click_us), 1), 4) AS conversion
        FROM u
      """),
    ) { (s, dir) =>
      val t = unix_micros(col("ts"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), t.as("t"))
        .groupBy("user_id")
        .agg(
          min(col("t")).as("first_seen_us"),
          min(when(col("event_type") === "click", col("t"))).as("first_click_us"),
          min(when(col("event_type") === "purchase", col("t"))).as("first_purchase_us"),
        )
        .agg(
          count(lit(1)).as("n_users"),
          count(col("first_click_us")).as("n_clicked"),
          count(when(col("first_purchase_us") > col("first_click_us"), 1)).as("n_converted"),
          round(
            count(when(col("first_purchase_us") > col("first_click_us"), 1)).cast("double") /
              greatest(count(col("first_click_us")), lit(1)),
            4,
          ).as("conversion"),
        )
    },

    // ------------------------------------------------------------------
    // Cohort retention: users grouped by first-activity week, counted
    // by how many distinct weeks they returned. Two aggregates — per
    // (user, week) activity, then per cohort — never a user × week
    // matrix materialized row-per-cell; the retention curve falls out
    // of the distinct-week counts.
    QueryDef(
      "q79_cohort_retention",
      Some(s"""
        WITH uw AS (
          SELECT user_id, epoch_us(ts) // ${7 * 24 * 3600L * 1000000L} AS week
          FROM events GROUP BY user_id, week),
        u AS (
          SELECT user_id, min(week) AS cohort_week,
                 count(*) AS n_active_weeks
          FROM uw GROUP BY user_id)
        SELECT cohort_week, count(*) AS cohort_size,
               CAST(count(*) FILTER (WHERE n_active_weeks >= 2) AS BIGINT) AS retained_2w,
               CAST(count(*) FILTER (WHERE n_active_weeks >= 4) AS BIGINT) AS retained_4w,
               round(avg(n_active_weeks), 4) AS avg_active_weeks
        FROM u
        GROUP BY cohort_week
        ORDER BY cohort_week
      """),
    ) { (s, dir) =>
      val weekUs = 7 * 24 * 3600L * 1000000L
      // `div`, not `/`: integer division like DuckDB's `//` — double
      // division + cast could round across a week boundary.
      val uw = Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("t"))
        .selectExpr("user_id", s"t div ${weekUs}L AS week")
        .distinct()
      uw.groupBy("user_id")
        .agg(min("week").as("cohort_week"), count(lit(1)).as("n_active_weeks"))
        .groupBy("cohort_week")
        .agg(
          count(lit(1)).as("cohort_size"),
          count(when(col("n_active_weeks") >= 2, 1)).as("retained_2w"),
          count(when(col("n_active_weeks") >= 4, 1)).as("retained_4w"),
          round(avg("n_active_weeks"), 4).as("avg_active_weeks"),
        )
        .orderBy("cohort_week")
    },

    // ------------------------------------------------------------------
    // Exact deduplication on a projected key set (distinct = the
    // deterministic form of dropDuplicates; one shuffle on the key).
    QueryDef(
      "q55_event_distinct",
      Some("""
        SELECT DISTINCT user_id, event_type
        FROM events
        ORDER BY user_id, event_type
      """),
    ) { (s, dir) =>
      Tables.events(s, dir)
        .select("user_id", "event_type")
        .distinct()
        .orderBy("user_id", "event_type")
    },

    // ------------------------------------------------------------------
    // Skew-mitigated fact⋈dim join on the declared path: the events
    // fact joins the customer dim through Scale.saltedJoin — the fact
    // side gets a random salt in [0, 16), the dim is replicated per
    // salt, and the join key becomes (user_id, salt), so one hot user
    // lands on 16 reducers instead of one. The salt is join-local:
    // the result is row-identical to the plain join (which is exactly
    // what the oracle checks — the oracle is the UNSALTED join, so
    // this query proves the rewrite is semantics-preserving). AQE's
    // skew-join handles moderate skew adaptively; explicit salting is
    // the tool for the pathological head key a 100 TB events table
    // always has.
    QueryDef(
      "q83_salted_skew_join",
      Some("""
        SELECT c_mktsegment, count(*) AS n_events,
               count(DISTINCT user_id) AS n_users,
               round(sum(value), 2) AS sum_value
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
      """),
    ) { (s, dir) =>
      val fact = Tables.events(s, dir).select("user_id", "value")
      val dim = tbl(s, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      graft.ext.Scale.saltedJoin(fact, dim, "user_id", salts = 16)
        .groupBy("c_mktsegment")
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(fact("user_id")).as("n_users"),
          round(sum("value"), 2).as("sum_value"),
        )
        .orderBy("c_mktsegment")
    },

    // ------------------------------------------------------------------
    // Native as-of join (graft.plans.AsOfJoinExec): every purchase
    // matched to the user's latest click at-or-before it, within a
    // 1-hour tolerance. q57 answers a similar question by windowing
    // over the UNION of both streams — correct, but the window shuffles
    // and sorts click+purchase rows together and drags every purchase
    // column through the frame. The custom operator plans each side as
    // its own exchange+sort (sort-merge-join shape) and merges in one
    // forward pass with O(1) state — at 100 TB the win is that neither
    // stream's payload columns ever enter a window buffer, and a
    // bucketed at-rest layout on user_id would elide both exchanges.
    // The oracle is the composed ANSI window form — the two
    // constructions must agree row-for-row; output projects the matched
    // click's TIMESTAMP (not an id), so exact-duplicate click rows —
    // which the events table contains — cannot make tie-breaking
    // observable.
    QueryDef(
      "q109_asof_join_native",
      Some(s"""
        WITH ev AS (
          SELECT user_id, event_id, event_type, epoch_us(ts) AS t
          FROM events WHERE event_type IN ('click', 'purchase')),
        w AS (
          SELECT user_id, event_id, event_type, t,
                 max(CASE WHEN event_type = 'click' THEN t END) OVER (
                   PARTITION BY user_id
                   ORDER BY t, CASE WHEN event_type = 'click' THEN 0 ELSE 1 END
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_t
          FROM ev)
        SELECT user_id, event_id AS purchase_event_id, t AS t_purchase_us,
               CASE WHEN t - last_click_t <= $HourUs THEN last_click_t END AS t_click_us,
               CASE WHEN t - last_click_t <= $HourUs THEN t - last_click_t END AS gap_us
        FROM w
        WHERE event_type = 'purchase'
        ORDER BY user_id, purchase_event_id, t_purchase_us
      """),
    ) { (s, dir) =>
      val ev = Tables.events(s, dir).select(
        col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("t"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "event_id", "t")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("t").as("c_t"))
      graft.plans.AsOfJoin.join(
          purchases, clicks,
          leftBy = Seq("user_id"), rightBy = Seq("c_user"),
          leftOn = "t", rightOn = "c_t",
          toleranceUs = Some(HourUs))
        .select(
          col("user_id"),
          col("event_id").as("purchase_event_id"),
          col("t").as("t_purchase_us"),
          col("c_t").as("t_click_us"),
          (col("t") - col("c_t")).as("gap_us"),
        )
        .orderBy("user_id", "purchase_event_id", "t_purchase_us")
    },

    // ------------------------------------------------------------------
    // Forward as-of join on the native operator — time-to-conversion:
    // each click attaches the EARLIEST purchase at-or-after it (within
    // 1 hour), the mirror image of q109's last-click attribution. Same
    // native single-pass merge (the forward cursor parks on the first
    // qualifying right row and is never copied); the oracle is the
    // composed window-over-union form with purchases ordered AFTER
    // clicks at equal instants so exact matches stay inside the
    // FOLLOWING frame. Output projects the matched TIMESTAMP, not an
    // id, so exact-duplicate purchase rows can't make tie-breaking
    // observable (q109's rule).
    QueryDef(
      "q117_asof_forward",
      Some(s"""
        WITH ev AS (
          SELECT user_id, event_id, event_type, epoch_us(ts) AS t
          FROM events WHERE event_type IN ('click', 'purchase')),
        w AS (
          SELECT user_id, event_id, event_type, t,
                 min(CASE WHEN event_type = 'purchase' THEN t END) OVER (
                   PARTITION BY user_id
                   ORDER BY t, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_p_t
          FROM ev)
        SELECT user_id, event_id AS click_event_id, t AS t_click_us,
               CASE WHEN next_p_t - t <= $HourUs THEN next_p_t END AS t_purchase_us,
               CASE WHEN next_p_t - t <= $HourUs THEN next_p_t - t END AS gap_us
        FROM w
        WHERE event_type = 'click'
        ORDER BY user_id, click_event_id, t_click_us
      """),
    ) { (s, dir) =>
      val ev = Tables.events(s, dir).select(
        col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("t"))
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "event_id", "t")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("t").as("p_t"))
      graft.plans.AsOfJoin.join(
          clicks, purchases,
          leftBy = Seq("user_id"), rightBy = Seq("p_user"),
          leftOn = "t", rightOn = "p_t",
          toleranceUs = Some(HourUs), direction = "forward")
        .select(
          col("user_id"),
          col("event_id").as("click_event_id"),
          col("t").as("t_click_us"),
          col("p_t").as("t_purchase_us"),
          (col("p_t") - col("t")).as("gap_us"),
        )
        .orderBy("user_id", "click_event_id", "t_click_us")
    },

    // ------------------------------------------------------------------
    // Windowed anomaly detection — the pipeline-monitoring shape: each
    // (event_type, minute) count is z-scored against its own trailing
    // 30-minute baseline, spikes gated at z > 3. Determinism follows
    // q113's recipe: the frame statistics are EXACT integer sums
    // (sum, sum-of-squares, count over a ROWS frame — identical frame
    // semantics in both engines under the total (type, minute) order),
    // and mean/variance/z are the same fixed IEEE operation sequence on
    // those integers; rows without a full baseline or with a degenerate
    // (zero-variance) frame are filtered, not NULL-juggled. Scale
    // shape: the heavy reduction (events → per-minute counts) is a
    // map-side-combined hash aggregate; the frame window then runs over
    // minutes × types — rows bounded by TIME, not by data volume, so
    // one task per type holds a day of minutes, never a day of events.
    QueryDef(
      "q115_event_anomaly",
      Some(s"""
        WITH pm AS (
          SELECT event_type,
                 epoch_us(ts) - epoch_us(ts) % $MinuteUs AS minute_us,
                 count(*) AS n
          FROM events
          GROUP BY event_type, minute_us),
        fr AS (
          SELECT event_type, minute_us, n,
                 CAST(sum(n) OVER w AS BIGINT) AS s,
                 CAST(sum(n * n) OVER w AS BIGINT) AS q,
                 count(n) OVER w AS k
          FROM pm
          WINDOW w AS (PARTITION BY event_type ORDER BY minute_us
                       ROWS BETWEEN $BaselineMinutes PRECEDING AND 1 PRECEDING))
        SELECT event_type, minute_us, n,
               round((n - CAST(s AS DOUBLE) / k) /
                     sqrt(CAST(q AS DOUBLE) / k
                          - (CAST(s AS DOUBLE) / k) * (CAST(s AS DOUBLE) / k)), 4) AS z,
               CASE WHEN (n - CAST(s AS DOUBLE) / k) /
                         sqrt(CAST(q AS DOUBLE) / k
                              - (CAST(s AS DOUBLE) / k) * (CAST(s AS DOUBLE) / k)) > 3
                    THEN 1 ELSE 0 END AS spike
        FROM fr
        WHERE k = $BaselineMinutes
          AND CAST(q AS DOUBLE) / k
              - (CAST(s AS DOUBLE) / k) * (CAST(s AS DOUBLE) / k) > 0
        ORDER BY event_type, minute_us
      """),
    ) { (s, dir) =>
      val pm = Tables.events(s, dir)
        .groupBy(
          col("event_type"),
          (unix_micros(col("ts")) - unix_micros(col("ts")) % MinuteUs).as("minute_us"),
        )
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("minute_us")
        .rowsBetween(-BaselineMinutes, -1)
      val fr = pm.select(
        col("event_type"), col("minute_us"), col("n"),
        sum(col("n")).over(w).as("s"),
        sum(col("n") * col("n")).over(w).as("q"),
        count(col("n")).over(w).as("k"),
      )
      val mean = col("s").cast("double") / col("k")
      val variance = col("q").cast("double") / col("k") - mean * mean
      val z = (col("n") - mean) / sqrt(variance)
      fr.filter(col("k") === BaselineMinutes && variance > 0)
        .select(
          col("event_type"), col("minute_us"), col("n"),
          round(z, 4).as("z"),
          when(z > 3, 1).otherwise(0).as("spike"),
        )
        .orderBy("event_type", "minute_us")
    },

    // ------------------------------------------------------------------
    // SCD Type-2 history build — the change-data-capture → temporal-
    // dimension shape: per user, collapse the event_type stream into
    // versioned validity intervals [valid_from_us, valid_to_us), one
    // row per state CHANGE. This is the warehouse "merge into dimension
    // keeping history" operator a training-data pipeline uses to track
    // document/source attributes over snapshots; no other query has the
    // run-collapse geometry. Determinism: the per-user order is total
    // (ts_us, event_id tiebreak) so lag/lead/row_number agree across
    // engines, and every interval bound is an exact epoch-microsecond
    // integer. Scale shape: ONE hash exchange on user_id — the change
    // filter preserves the first window's partitioning AND ordering, so
    // the second window (lead + version) sorts nothing new [PlanSpec
    // pins the single hash exchange]; per-key state is a sort run, not
    // a buffered per-user list.
    QueryDef(
      "q142_scd2_history",
      Some(Scd2OracleSql),
    ) { (s, dir) =>
      collapseRuns(eventsUs(s, dir)).orderBy("user_id", "version")
    },

    // ------------------------------------------------------------------
    // Incremental SCD2 merge — the view-maintenance geometry: fold "the
    // new batch since the last run" (events past the at-rest hwm) into
    // the at-rest dimension WITHOUT re-reading base events. Closed base
    // intervals pass through untouched; each user's OPEN interval is
    // replayed as one pseudo-event (its state at its valid_from,
    // carrying its version) in front of the new batch, so the shared
    // run-collapse naturally absorbs a same-state boundary, closes the
    // open interval at a changed boundary, starts brand-new users at
    // version 1 (no pseudo row), and leaves untouched users' open rows
    // open (their pseudo-event is the only row). Versions rebase by the
    // carried v0: row_number + max(v0 over the user) − 1 (exactly one
    // non-null v0 per user, so max is deterministic and order-free).
    // DECLARED output: the full updated history — the oracle is q142's
    // recompute SQL verbatim, so the gate proves the O(batch + open
    // rows) path reconstructs the O(history) recompute bit-for-bit.
    // Scale shape: ONE scan of the sorted at-rest log, row-group-pruned
    // to the new batch (a production run reads the batch as its own
    // input), one pass over the at-rest open rows, closed history never
    // enters a shuffle or window [PlanSpec pins the single pruned log
    // scan and the window input].
    QueryDef(
      "q145_scd2_merge",
      Some(Scd2OracleSql),
    ) { (s, dir) =>
      val base = scd2Base(s, dir)
      // The hwm via its bounded 1-row driver read: as a BIGINT literal
      // the batch boundary prunes the sorted log's row groups (see
      // eventsUsSince) instead of decoding history to drop 80% of it.
      val newBatch = eventsUsSince(s, dir, scd2Hwm(s, dir).head().getLong(0))
        .withColumn("v0", lit(null).cast("int"))
      // The open interval as a pseudo-event: its ts is valid_from
      // (< hwm <= every new ts, so it always sorts first; event_id -1
      // is a tiebreak that can never collide with real ids).
      val pseudo = base.filter(col("valid_to_us").isNull)
        .select(col("user_id"), col("valid_from_us").as("ts_us"),
          lit(-1L).as("event_id"), col("state").as("event_type"),
          col("version").as("v0"))
      val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val wholeUser = Window.partitionBy("user_id")
      val merged = pseudo.unionByName(newBatch)
        .withColumn("prev", lag("event_type", 1).over(byUser))
        .withColumn("vbase", max("v0").over(wholeUser))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
        .select(
          col("user_id"), col("event_type").as("state"),
          col("ts_us").as("valid_from_us"),
          lead("ts_us", 1).over(byUser).as("valid_to_us"),
          (row_number().over(byUser) + coalesce(col("vbase"), lit(1)) - 1)
            .as("version"),
        )
      base.filter(col("valid_to_us").isNotNull)
        .select("user_id", "state", "valid_from_us", "valid_to_us", "version")
        .unionByName(merged)
        .orderBy("user_id", "version")
    },

    // ------------------------------------------------------------------
    // Multi-touch attribution — each purchase splits ONE unit of credit
    // equally across all its user's clicks in the preceding 30 minutes,
    // reported per click channel (k mod 4 from the props JSON). Last-
    // touch is q57/q109; this is the fractional-credit-split geometry.
    // Credit is integer MICRO-credit: (1e6·a) div n_p per (purchase,
    // channel) — exact BIGINT everywhere, so the aggregation is
    // order-independent (a double 1/n sum would make the hash depend on
    // reduction order). Scale shape: both sides shuffle once on
    // user_id; the per-purchase normalizer is a window over ≤ 4
    // channel rows per purchase, bounded by the channel alphabet, not
    // the data.
    QueryDef(
      "q147_multitouch_attribution",
      Some(s"""
        WITH p AS (
          SELECT event_id AS pid, user_id, epoch_us(ts) AS tp
          FROM events WHERE event_type = 'purchase'),
        c AS (
          SELECT user_id, epoch_us(ts) AS tc,
                 concat('ch', coalesce(try_cast(json_extract_string(props, '$$.k') AS BIGINT) % 4, -1)) AS channel
          FROM events WHERE event_type = 'click'),
        m AS (
          SELECT pid, channel, count(*) AS a
          FROM p JOIN c ON p.user_id = c.user_id
                       AND c.tc < p.tp AND c.tc >= p.tp - $HalfHourUs
          GROUP BY pid, channel),
        w AS (
          SELECT pid, channel, a,
                 CAST(sum(a) OVER (PARTITION BY pid) AS BIGINT) AS np
          FROM m)
        SELECT channel,
               CAST(sum(a) AS BIGINT) AS touches,
               count(DISTINCT pid) AS purchases_touched,
               CAST(sum((1000000 * a) // np) AS BIGINT) AS credit_ppm
        FROM w
        GROUP BY channel
        ORDER BY channel
      """),
    ) { (s, dir) =>
      val kCol = get_json_object(col("props"), "$.k").try_cast("bigint")
      val p = Tables.events(s, dir).filter(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("user_id"),
          unix_micros(col("ts")).as("tp"))
      val c = Tables.events(s, dir).filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("tc"),
          concat(lit("ch"), coalesce(kCol % 4, lit(-1L))).as("channel"))
      val m = p.join(c, Seq("user_id"))
        .filter(col("tc") < col("tp") && col("tc") >= col("tp") - HalfHourUs)
        .groupBy("pid", "channel").agg(count(lit(1)).as("a"))
      val perPurchase = Window.partitionBy("pid")
      m.withColumn("np", sum("a").over(perPurchase))
        .groupBy("channel")
        .agg(
          sum("a").as("touches"),
          countDistinct(col("pid")).as("purchases_touched"),
          sum(expr("(1000000 * a) div np")).as("credit_ppm"),
        )
        .orderBy("channel")
    },

    // ------------------------------------------------------------------
    // Temporal dimension lookup — the standard CONSUMER of the SCD2
    // dimension: enrich each purchase with the state version valid at
    // its event time (valid_from ≤ ts < valid_to, the open interval
    // unbounded). Intervals partition each user's timeline from their
    // first event, so every purchase matches exactly one version — the
    // equi join on user_id carries the interval predicate as a join
    // filter, and per-user histories are bounded by that user's change
    // count, never the corpus. Completes the SCD2 story: build (q142),
    // merge (q145), stream (scd2WithState), LOOKUP (here).
    QueryDef(
      "q149_scd2_lookup",
      Some(s"""
        WITH $Scd2DimCte,
        p AS (
          SELECT event_id, user_id, epoch_us(ts) AS ts_us
          FROM events WHERE event_type = 'purchase')
        SELECT p.event_id, p.user_id, p.ts_us, d.state, d.version
        FROM p JOIN d ON p.user_id = d.user_id
                     AND d.valid_from_us <= p.ts_us
                     AND (d.valid_to_us IS NULL OR p.ts_us < d.valid_to_us)
        ORDER BY p.event_id
      """),
    ) { (s, dir) =>
      val dim = collapseRuns(eventsUs(s, dir)).as("d")
      val p = Tables.events(s, dir).filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
        .as("p")
      p.join(dim,
          col("p.user_id") === col("d.user_id") &&
            col("d.valid_from_us") <= col("p.ts_us") &&
            (col("d.valid_to_us").isNull || col("p.ts_us") < col("d.valid_to_us")))
        .select(col("p.event_id"), col("p.user_id"), col("p.ts_us"),
          col("d.state"), col("d.version"))
        .orderBy("event_id")
    },

    // ------------------------------------------------------------------
    // Snapshot-vs-batch drift report — the data-validation gate every
    // production training pipeline runs before accepting an increment:
    // per event_type, base (before the at-rest hwm) vs new-batch counts
    // and share shift, flagged at |ratio − 1| > 0.25. ONE conditional-
    // aggregation pass over events (not two filtered scans); the hwm
    // rides the same 1-row at-rest snapshot as q145, broadcast; totals
    // are a window over the |event-type| rows. All counts exact BIGINT,
    // shares/ratios per-row IEEE on those exact integers — determinate
    // in both engines.
    QueryDef(
      "q148_snapshot_drift",
      Some("""
        WITH n AS (SELECT epoch_us(ts) AS ts_us, event_type FROM events),
        hw AS (SELECT min(ts_us) + (max(ts_us) - min(ts_us)) * 8 // 10 AS cutoff FROM n),
        g AS (
          SELECT event_type,
                 CAST(sum(CASE WHEN ts_us < (SELECT cutoff FROM hw) THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
                 CAST(sum(CASE WHEN ts_us >= (SELECT cutoff FROM hw) THEN 1 ELSE 0 END) AS BIGINT) AS n_new
          FROM n GROUP BY event_type),
        t AS (
          SELECT event_type, n_base, n_new,
                 CAST(sum(n_base) OVER () AS BIGINT) AS tb,
                 CAST(sum(n_new) OVER () AS BIGINT) AS tn
          FROM g)
        SELECT event_type, n_base, n_new,
               round(CAST(n_base AS DOUBLE) / nullif(tb, 0), 4) AS share_base,
               round(CAST(n_new AS DOUBLE) / tn, 4) AS share_new,
               round((CAST(n_new AS DOUBLE) / tn)
                     / nullif(CAST(n_base AS DOUBLE) / nullif(tb, 0), 0), 4) AS shift_ratio,
               CASE WHEN n_base = 0 THEN CASE WHEN n_new > 0 THEN 1 ELSE 0 END
                    WHEN abs((CAST(n_new AS DOUBLE) / tn)
                             / nullif(CAST(n_base AS DOUBLE) / nullif(tb, 0), 0) - 1.0) > 0.25
                    THEN 1 ELSE 0 END AS drifted
        FROM t
        ORDER BY event_type
      """),
    ) { (s, dir) =>
      val g = eventsUs(s, dir)
        .crossJoin(broadcast(scd2Hwm(s, dir))) // 1-row at-rest hwm
        .groupBy("event_type")
        .agg(
          sum(when(col("ts_us") < col("cutoff_us"), 1L).otherwise(0L)).as("n_base"),
          sum(when(col("ts_us") >= col("cutoff_us"), 1L).otherwise(0L)).as("n_new"),
        )
      // A type with NO base presence is the clearest drift of all —
      // the ratio is undefined (NULL, via nullif so ANSI mode cannot
      // throw DIVIDE_BY_ZERO) and the flag is decided explicitly.
      // nullif(tb) additionally guards the degenerate empty-base
      // corpus (all events at one timestamp put the hwm at min ts).
      val whole = Window.partitionBy()
      val shareBase = col("n_base").cast("double") / expr("nullif(tb, 0)")
      val shareNew = col("n_new").cast("double") / col("tn")
      val ratio = shareNew / nullif(shareBase, lit(0.0))
      g.withColumn("tb", sum("n_base").over(whole))
        .withColumn("tn", sum("n_new").over(whole))
        .select(
          col("event_type"), col("n_base"), col("n_new"),
          round(shareBase, 4).as("share_base"),
          round(shareNew, 4).as("share_new"),
          round(ratio, 4).as("shift_ratio"),
          when(col("n_base") === 0, when(col("n_new") > 0, 1).otherwise(0))
            .otherwise(when(abs(ratio - 1.0) > 0.25, 1).otherwise(0))
            .as("drifted"),
        )
        .orderBy("event_type")
    },

    // ------------------------------------------------------------------
    // Keyed point lookup over the USER-clustered replica: fetch a
    // handful of users' events, planning only the file(s) whose
    // manifest-recorded user_id range can hold a probed id — O(1)
    // files at every corpus size (the q156/q157 layout answer to the
    // r18-measured honest negative: the same probe against the
    // ts-sorted log admitted 31/31 files at ×1/×10/×100 because
    // time-sorted files all span the user domain). The isin predicate
    // still pushes into the admitted scan for row-group pruning.
    // The oracle is the plain filter over the raw table — proving the
    // pruned read returns exactly the unpruned answer.
    QueryDef(
      "q152_point_lookup",
      Some(s"""
        SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
        FROM events
        WHERE user_id IN (${LookupUserIds.mkString(", ")})
        ORDER BY user_id, ts_us, event_id
      """),
    ) { (s, dir) =>
      graft.util.ManifestLog.readKeyed(
          s, eventsByUserLog(s, dir), "user_id", LookupUserIds)
        .select("user_id", "ts_us", "event_id", "event_type")
        .orderBy("user_id", "ts_us", "event_id")
    },

    // ------------------------------------------------------------------
    // 2-D boundary slice over the Z-CLUSTERED manifested log: a time
    // window × a tenant band, planned via readSliceN from per-file
    // (ts_us, user_id) manifest stats — both predicates prune files
    // multiplicatively (ZClusterSpec proves the pruning by parking
    // non-selected files). The literal bounds come from the 1-row
    // span artifact (exact integer micros, no query-time corpus
    // scan); the oracle recomputes them with DuckDB's floor division
    // over the raw table, proving the clustered read returns exactly
    // the plain filter's answer.
    QueryDef(
      "q153_zslice_2d",
      Some("""
        WITH b AS (
          SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx
          FROM events)
        SELECT user_id, count(*) AS n_events,
               round(sum(value), 2) AS sum_value
        FROM events, b
        WHERE epoch_us(ts) >= mn + (mx - mn) // 4
          AND epoch_us(ts) <  mn + (mx - mn) // 2
          AND user_id >= 0 AND user_id < 8
        GROUP BY user_id
        ORDER BY user_id
      """),
    ) { (s, dir) =>
      val (mn, mx) = eventsTsSpan(s, dir)
      val lo = mn + (mx - mn) / 4
      val hi = mn + (mx - mn) / 2
      graft.util.ManifestLog.readSliceN(s, eventsZLog(s, dir),
          Seq(("ts_us", lo, hi), ("user_id", 0L, 8L)))
        .where(col("ts_us") >= lo && col("ts_us") < hi &&
          col("user_id") >= 0L && col("user_id") < 8L)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 2).as("sum_value"))
        .orderBy("user_id")
    },
  )
}
