package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.util.ManifestLog

/** Streaming ingest into a manifested sorted log: exactly-once across
  * checkpointed restarts via the manifest's batch high-water mark,
  * crash-window convergence, and composition with the maintenance
  * family running between micro-batches.
  */
class LogStreamSpec extends SparkTestBase with graft.TempCorpusDirs {
  import sqlImplicits._

  private final class InjectedCrash extends RuntimeException("injected crash")

  private def killAt(step: String)(body: => Unit): Unit = {
    ManifestLog.failpoint = s => if (s.startsWith(step)) throw new InjectedCrash
    try intercept[InjectedCrash](body)
    finally ManifestLog.failpoint = _ => ()
  }

  private def batchDf(lo: Int, hi: Int) =
    (lo until hi).map(i => (i.toLong, i.toLong * 1000L)).toDF("k", "ts")

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.select("k", "ts").as[(Long, Long)].collect().toSeq.sorted

  private def expect(lo: Int, hi: Int): Seq[(Long, Long)] =
    (lo until hi).map(i => (i.toLong, i.toLong * 1000L)).sorted

  test("a checkpointed file stream lands each drop exactly once, across a restart") {
    val dir = tempCorpusDir("graft_logstream")
    val (src, root, ckpt) = (s"$dir/src", s"$dir/log", s"$dir/ckpt")
    // coalesce(1): each drop is ONE part file, published by one rename,
    // so the file source can never list half a drop and split it
    // across two micro-batches (whose files would both overlap the
    // slice asserted at the end).
    batchDf(0, 1000).coalesce(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema

    val q1 = LogStream.runLogStream(spark, src, root, ckpt, schema, "ts")
    try {
      q1.processAllAvailable()
      batchDf(1000, 1500).coalesce(1).write.mode("append").parquet(src)
      q1.processAllAvailable()
    } finally q1.stop()
    assert(canon(ManifestLog.read(spark, root)) == expect(0, 1500))

    // Restart on the same checkpoint: nothing replays into the log,
    // and the next drop lands exactly once.
    val q2 = LogStream.runLogStream(spark, src, root, ckpt, schema, "ts")
    try {
      q2.processAllAvailable()
      assert(canon(ManifestLog.read(spark, root)) == expect(0, 1500),
        "restart replayed a committed batch into the log")
      batchDf(1500, 2000).coalesce(1).write.mode("append").parquet(src)
      q2.processAllAvailable()
    } finally q2.stop()
    assert(canon(ManifestLog.read(spark, root)) == expect(0, 2000))

    // The lifecycle reads off the manifest: bootstrap + one commit per
    // NON-EMPTY batch (a restart's no-data batch commits nothing), the
    // high-water mark at the last data-bearing batch id. How many
    // micro-batches the file source cuts the three drops into is ITS
    // business — the contract is the op shapes, at least one commit
    // per drop, and no replay (row-exactness above).
    val trail = ManifestLog.describe(spark, root)
    val ops = trail.map(_._2)
    assert(ops.head == "create" && ops.tail.nonEmpty &&
        ops.tail.forall(_ == "append-batch") && ops.tail.length >= 3,
      s"unexpected audit trail: $trail")
    assert(ManifestLog.batchHwm(spark, root) >= 2L)

    // Each batch carried tight write-time stats: a slice inside the
    // last drop's range plans ONE of the three files.
    val slice = ManifestLog.readSlice(spark, root, "ts", 1600000L, 1700000L)
    assert(slice.inputFiles.length == 1,
      s"slice planned ${slice.inputFiles.length} files instead of 1")
    assert(slice.filter(col("ts") >= 1600000L && col("ts") < 1700000L).count() == 100)
  }

  test("a torn ingest converges on replay: one batch copy, orphans vacuumable, pins stable") {
    val dir = tempCorpusDir("graft_logstream_torn")
    val root = s"$dir/log"
    assert(LogStream.ingestBatch(batchDf(0, 1000), 0L, root, "ts"))
    val pinned = ManifestLog.read(spark, root) // resolves batch 0's files now

    // Crash AFTER batch 1's data write, BEFORE its manifest commit —
    // the files exist but no generation lists them.
    killAt("written:append-batch") {
      LogStream.ingestBatch(batchDf(1000, 1500), 1L, root, "ts")
    }
    assert(canon(ManifestLog.read(spark, root)) == expect(0, 1000),
      "a torn batch leaked into the current generation")
    assert(ManifestLog.batchHwm(spark, root) == 0L)

    // The checkpointed replay re-delivers batch 1: exactly one copy.
    assert(LogStream.ingestBatch(batchDf(1000, 1500), 1L, root, "ts"))
    assert(canon(ManifestLog.read(spark, root)) == expect(0, 1500),
      "replay duplicated or lost the torn batch")

    // The crashed attempt's files are orphans — vacuum removes them
    // without touching the live read or the pinned reader.
    val deleted = ManifestLog.vacuum(spark, root, keepLast = 3)
    assert(deleted.exists(_.endsWith(".parquet")),
      "the torn attempt left no orphan for vacuum — diff adopted its files?")
    assert(canon(ManifestLog.read(spark, root)) == expect(0, 1500))
    assert(canon(pinned) == expect(0, 1000), "the pinned reader drifted")
  }

  test("a committed batch replays as a no-op, even across interleaved maintenance") {
    val dir = tempCorpusDir("graft_logstream_replay")
    val root = s"$dir/log"
    assert(LogStream.ingestBatch(batchDf(0, 1000), 0L, root, "ts"))
    assert(LogStream.ingestBatch(batchDf(1000, 1500), 1L, root, "ts"))

    // Maintenance between micro-batches: compaction commits a new
    // generation and must CARRY the high-water mark.
    ManifestLog.compactRange(spark, root, "", "ts", 0L, 2000000L)
    assert(ManifestLog.read(spark, root).inputFiles.length == 1)
    assert(ManifestLog.batchHwm(spark, root) == 1L,
      "maintenance dropped the batch high-water mark")

    // Replays of both committed batches refuse: no rows, no version.
    val v = ManifestLog.currentVersion(spark, root)
    assert(!LogStream.ingestBatch(batchDf(0, 1000), 0L, root, "ts"))
    assert(!LogStream.ingestBatch(batchDf(1000, 1500), 1L, root, "ts"))
    assert(ManifestLog.currentVersion(spark, root) == v)
    assert(canon(ManifestLog.read(spark, root)) == expect(0, 1500))

    // The mark survives vacuum of the whole manifest history.
    ManifestLog.vacuum(spark, root)
    assert(!LogStream.ingestBatch(batchDf(1000, 1500), 1L, root, "ts"))
    assert(canon(ManifestLog.read(spark, root)) == expect(0, 1500))

    // The next REAL batch still lands.
    assert(LogStream.ingestBatch(batchDf(1500, 2000), 2L, root, "ts"))
    assert(canon(ManifestLog.read(spark, root)) == expect(0, 2000))
  }

  test("a self-maintaining stream bounds file count while ingesting, rows exact") {
    val dir = tempCorpusDir("graft_logstream_tick")
    val (src, root, ckpt) = (s"$dir/src", s"$dir/log", s"$dir/ckpt")
    // Overlapping-range drops: every batch spans the same ts window,
    // so untreated fragmentation grows one overlapping component.
    def drop(i: Int) = (0 until 100)
      .map(j => ((i * 100 + j).toLong, j.toLong * 1000L)).toDF("k", "ts")
    drop(0).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    val q = LogStream.runLogStream(spark, src, root, ckpt, schema, "ts",
      maintainEveryBatches = 2, maintainMaxFiles = 2)
    try (1 until 6).foreach { i =>
      q.processAllAvailable()
      drop(i).write.mode("append").parquet(src)
    } finally { q.processAllAvailable(); q.stop() }
    // Six 1-file batches with a tick every 2: the live set stays at
    // or under the bound + the since-last-tick segments.
    val live = ManifestLog.liveFileCount(spark, root)
    assert(live <= 3, s"self-maintenance left $live live files")
    assert(ManifestLog.read(spark, root).count() == 600)
    assert(ManifestLog.describe(spark, root).map(_._2).contains("compact"),
      "the in-sink tick never ran")
    // The high-water mark survived every tick: a replayed drop would
    // still be refused.
    assert(ManifestLog.batchHwm(spark, root) >= 5L)
  }

  test("a self-CLUSTERING stream keeps 2-D pruning current with ingest, rows exact") {
    val dir = tempCorpusDir("graft_logstream_zcluster")
    val (src, root, ckpt) = (s"$dir/src", s"$dir/log", s"$dir/ckpt")
    // Each drop spans the full uid domain within its own ts window —
    // the shape where a plain ts-sorted layout cannot prune a
    // uid-constrained read.
    def drop(i: Int) = (0 until 512)
      .map(j => ((i * 512 + j).toLong, (j % 64).toLong)).toDF("ts", "uid")
    drop(0).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    val q = LogStream.runLogStream(spark, src, root, ckpt, schema, "ts",
      filesPerBatch = 2, maintainEveryBatches = 2, maintainMaxFiles = 2,
      clusterCols = Seq("ts", "uid"), clusterTargetRows = 256L)
    try (1 until 6).foreach { i =>
      q.processAllAvailable()
      drop(i).write.mode("append").parquet(src)
    } finally { q.processAllAvailable(); q.stop() }
    // Rows exact through every tick, hwm intact.
    assert(ManifestLog.read(spark, root).count() == 6 * 512L)
    assert(ManifestLog.batchHwm(spark, root) >= 5L)
    assert(ManifestLog.describe(spark, root).map(_._2).contains("cluster"),
      "the in-sink clustering tick never ran")
    // The tick caught pruning up with ingest: a uid slice plans fewer
    // files than the full generation (a never-clustered ts-stream
    // could not prune on uid at all), and answers exactly.
    val total = ManifestLog.read(spark, root).inputFiles.length
    val sliced = ManifestLog.readSliceN(spark, root, Seq(("uid", 0L, 8L)))
    assert(sliced.inputFiles.length < total,
      "a uid slice planned the whole streamed layout")
    assert(sliced.where(col("uid") < 8L).count() == 6 * 512L / 8L)
  }

  test("a KEY-clustered streamed replica: keyed reads exact, depth-tick folds in-sink") {
    val dir = tempCorpusDir("graft_logstream_keyed")
    val (src, root, ckpt) = (s"$dir/src", s"$dir/log", s"$dir/ckpt")
    // Every drop spans the WHOLE key domain (the key-replica's hard
    // case — a time-ordered producer's batch touches all users), so a
    // component-size tick would full-rewrite on the first drop; the
    // depth tick must stay a no-op until the stack exceeds the bound,
    // then fold.
    // coalesce(1): each drop arrives as ONE source file, so with the
    // keyed path's filesPerBatch=1 the run is a deterministic 6
    // micro-batches — without it the file source may chunk a drop's
    // part files across triggers and the fold-cadence count below
    // would depend on scheduling.
    def drop(i: Int) = (0 until 256)
      .map(j => (j.toLong, (i * 256 + j).toLong)).toDF("uid", "seq")
      .coalesce(1)
    drop(0).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    val q = LogStream.runLogStream(spark, src, root, ckpt, schema, "uid",
      maintainEveryBatches = 2, maintainMaxFiles = 2, keyedDepth = true,
      keyedSecondarySort = Seq("seq"))
    try (1 until 6).foreach { i =>
      q.processAllAvailable()
      drop(i).write.mode("append").parquet(src)
    } finally { q.processAllAvailable(); q.stop() }
    // Rows exact through every fold; the in-sink tick really folded
    // (depth capped at 2 ⇒ some compact generation committed) and the
    // replay guard survived it.
    assert(ManifestLog.read(spark, root).count() == 6 * 256L)
    val ops = ManifestLog.describe(spark, root).map(_._2)
    assert(ops.contains("compact"), "the in-sink depth tick never folded")
    // The fold's micro-batch latency bound (r19 verdict item 6),
    // asserted structurally: foreachBatch is sequential, so a fold
    // stalls exactly the batch that runs it — the contract is that
    // folds are AMORTIZED, at most one per maintainEveryBatches
    // committed batches (6 batches / every 2 = ≤ 3 here, and only the
    // over-depth ticks among those commit), never per-batch. The
    // per-fold stall itself is bounded by the over-depth fold sets'
    // mass, not the layout (maintainKeyed's sharding) — O(layout) only
    // in the domain-spanning worst case TickBench measures.
    val folds = ops.count(_ == "compact")
    // Bound derived from the OBSERVED batch count (hwm + 1), not a
    // hard-coded 6: the tick runs on every maintainEveryBatches-th
    // commit, and whole-domain drops make each over-depth tick a
    // single fold set, so compacts ≤ tick opportunities.
    val nBatches = ManifestLog.batchHwm(spark, root) + 1
    assert(folds >= 1 && folds <= (nBatches + 1) / 2,
      s"fold cadence broke the amortization bound: $folds folds over " +
        s"$nBatches batches with maintainEveryBatches=2")
    assert(ManifestLog.batchHwm(spark, root) >= 5L)
    assert(ManifestLog.overlapDepth(spark, root, "uid") <= 3,
      "read amplification left unbounded under streaming ingest")
    // The keyed read answers exactly across at-rest + unfolded
    // segments: every drop contributed one row for uid 7.
    val got = ManifestLog.readKeyed(spark, root, "uid", Seq(7L))
    assert(got.select("seq").as[Long].collect().toSet ==
      (0 until 6).map(i => i * 256L + 7L).toSet,
      "keyed read lost or duplicated rows across folds")
    // keyedSecondarySort threads the within-key order through the
    // in-sink folds (the by-user replica's contract): settle the
    // layout to depth 1 (a no-op when the last in-sink tick already
    // folded everything — hence the unchecked return), then the
    // single admitted file must read uid 7's history in seq order.
    ManifestLog.maintainKeyed(spark, root, "uid", 1,
      secondarySort = Seq("seq"))
    val one = ManifestLog.readKeyed(spark, root, "uid", Seq(7L))
    assert(one.inputFiles.length == 1)
    val seqs = one.select("seq").as[Long].collect().toSeq
    assert(seqs == seqs.sorted,
      "fold dropped the within-key order keyedSecondarySort declares")
  }

  test("a partitioned streamed log keeps partition pruning, stats slicing, and tailing") {
    val dir = tempCorpusDir("graft_logstream_part")
    val root = s"$dir/log"
    def part(lo: Int, hi: Int) = (lo until hi)
      .map(i => (i.toLong, i.toLong * 1000L, 1990 + (i % 2)))
      .toDF("k", "ts", "year")
    assert(LogStream.ingestBatch(part(0, 1000), 0L, root, "ts",
      filesPerBatch = 2, partitionDirs = Seq("year")))
    val cursor = ManifestLog.tailSince(spark, root, 0L).toVersion
    assert(LogStream.ingestBatch(part(1000, 1600), 1L, root, "ts",
      filesPerBatch = 2, partitionDirs = Seq("year")))
    val df = ManifestLog.read(spark, root)
    assert(df.count() == 1600)
    assert(df.columns.contains("year"), "basePath read lost the partition column")
    // Partition pruning holds on the streamed layout (executed-scan
    // file count, the ManifestLogSpec idiom).
    val total1990 = df.inputFiles.count(_.contains("year=1990"))
    val qe = df.filter(col("year") === 1990).queryExecution
    assert(qe.executedPlan.execute().count() == 800)
    val scanned = qe.executedPlan.collectLeaves()
      .map(_.metrics("numFiles").value).sum
    assert(scanned == total1990,
      s"streamed partitioned read broke pruning: $scanned of ${df.inputFiles.length}")
    // Write-time stats recorded per partitioned file: a slice inside
    // batch 1's range plans only batch 1's files.
    val slice = ManifestLog.readSlice(spark, root, "ts", 1200000L, 1300000L)
    assert(slice.inputFiles.length < df.inputFiles.length)
    assert(slice.filter(col("ts") >= 1200000L && col("ts") < 1300000L).count() == 100)
    // The tail sees batch 1 alone, partition column included.
    ManifestLog.tailSince(spark, root, cursor) match {
      case a: ManifestLog.TailAppended =>
        val t = ManifestLog.readTail(spark, root, a).get
        assert(t.columns.contains("year"))
        assert(t.count() == 600)
        assert(t.agg(min("k"), max("k")).as[(Long, Long)].head() == ((1000L, 1599L)))
      case r: ManifestLog.TailResync => fail(r.reason)
    }
  }

  test("two replicas racing the same batch commit it exactly once") {
    val dir = tempCorpusDir("graft_logstream_race")
    val root = s"$dir/log"
    assert(LogStream.ingestBatch(batchDf(0, 1000), 0L, root, "ts"))
    // Replica B runs the SAME batch to completion in the window after
    // replica A staged its files but before A's commit — the
    // two-replicas-of-one-pipeline race.
    ManifestLog.failpoint = s => if (s.startsWith("written:append-batch")) {
      ManifestLog.failpoint = _ => () // B itself must not re-trigger
      assert(LogStream.ingestBatch(batchDf(1000, 1500), 1L, root, "ts"),
        "replica B's commit should win")
    }
    val aCommitted =
      try LogStream.ingestBatch(batchDf(1000, 1500), 1L, root, "ts")
      finally ManifestLog.failpoint = _ => ()
    assert(!aCommitted, "replica A must observe B's commit and report no-op")
    assert(canon(ManifestLog.read(spark, root)) == expect(0, 1500),
      "the replica race duplicated or lost the batch")
    // A's staged files are orphans; vacuum clears them harmlessly.
    val deleted = ManifestLog.vacuum(spark, root, keepLast = 3)
    assert(deleted.exists(_.endsWith(".parquet")))
    assert(canon(ManifestLog.read(spark, root)) == expect(0, 1500))
  }

  test("bootstrap crash windows converge: half-created root, then torn first batch") {
    val dir = tempCorpusDir("graft_logstream_boot")
    val root = s"$dir/log"
    // Window 1: create staged its manifest but the rename never ran —
    // a manifest dir with no committed version.
    killAt("staged:manifest") {
      LogStream.ingestBatch(batchDf(0, 500), 0L, root, "ts")
    }
    assert(ManifestLog.versions(spark, root).isEmpty)

    // Window 2 (on retry): create commits, batch 0's data lands, the
    // append commit dies.
    killAt("written:append-batch") {
      LogStream.ingestBatch(batchDf(0, 500), 0L, root, "ts")
    }
    assert(ManifestLog.versions(spark, root) == Seq(1L))
    assert(ManifestLog.batchHwm(spark, root) == -1L)

    // The replay converges to exactly one copy of batch 0.
    assert(LogStream.ingestBatch(batchDf(0, 500), 0L, root, "ts"))
    assert(canon(ManifestLog.read(spark, root)) == expect(0, 500))
    assert(ManifestLog.describe(spark, root).map(_._2) ==
      Seq("create", "append-batch"))
  }
}
