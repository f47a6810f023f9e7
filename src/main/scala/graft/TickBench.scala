package graft

import org.apache.spark.sql.functions._

/** Dev probe: the maintenance-tick cost of the events log's at-rest
  * layouts at a given corpus size. Two sections:
  *
  *  - Z-clustered log: appends a ~1 % synthetic batch (the log's own
  *    rows, time-shifted past the high-water mark) and times the
  *    newcomers-only `maintainClustered` tick (the round-17 curve).
  *  - By-user replica (r19, q152's layout): appends a ~1 % batch as
  *    one user-sorted segment and times the depth-triggered
  *    `maintainEventsByUser` tick — a manifest parse while read
  *    amplification is bounded — PLUS the forced whole-layout fold
  *    (`maxDepth=1`), reported separately so the every-16-batches
  *    amortized rewrite cannot hide behind the cheap steady-state
  *    tick.
  *
  * Runs against THROWAWAY COPIES of the at-rest roots: the memoized
  * artifacts are shared by every later session on the same corpus
  * fingerprint, so mutating them here would poison q152/q153's
  * correctness gates with synthetic rows. Copies are deleted on exit.
  *
  * Usage: runMain graft.TickBench [sfDir]
  * Prints one line:
  *   {"metric":"tick","sf":…,"batch_rows":…,"append_sec":…,
  *    "tick_sec":…,"files_before":…,"files_after":…,
  *    "byuser_batch_rows":…,"byuser_append_sec":…,"byuser_tick_sec":…,
  *    "byuser_fold_sec":…,"byuser_files_before":…,"byuser_files_after":…,
  *    "byuser_shard_fold_sec":…,"byuser_shard_files_rewritten":…,
  *    "byuser_shard_files_kept":…}
  */
object TickBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.util.Tables.localSession()

    val src = graft.queries.Events.eventsZLog(spark, sfDir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(src).getFileSystem(conf)
    val root = src + "-tickprobe"
    val cleanup = scala.collection.mutable.ArrayBuffer(root)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new org.apache.hadoop.fs.Path(src),
      fs, new org.apache.hadoop.fs.Path(root), false, conf)
    try {
      val log = graft.util.ManifestLog.read(spark, root)
      val hwm = log.agg(max("ts_us")).head().getLong(0)
      // ~1 % of the corpus, shifted wholly past the high-water mark so
      // the appended file is a genuine newcomer segment.
      val batch = log.where(col("user_id") % 97 === 0)
        .withColumn("ts_us", col("ts_us") + lit(hwm + 1L))
        .repartitionByRange(1, col("ts_us"))
        .sortWithinPartitions("ts_us")
      val nBatch = batch.count()
      val before = graft.util.ManifestLog.liveFileCount(spark, root)
      val tA = System.nanoTime()
      graft.util.ManifestLog.appendSorted(batch, root, Nil, Some("ts_us"))
      val appendSec = (System.nanoTime() - tA) / 1e9
      val tT = System.nanoTime()
      val ticked = graft.util.ManifestLog.maintainClustered(
        spark, root, Seq("ts_us", "user_id"),
        targetFileRows = 4096L, minNewFiles = 1)
      val tickSec = (System.nanoTime() - tT) / 1e9
      require(ticked, "tick found no newcomers — probe batch never landed")
      val after = graft.util.ManifestLog.liveFileCount(spark, root)

      // ---- by-user replica section (same throwaway-copy protocol;
      // uRoot is registered for the outer finally BEFORE the copy, so
      // a failing probe cannot leak a corpus-scale replica copy) ----
      val uSrc = graft.queries.Events.eventsByUserLog(spark, sfDir)
      val uRoot = uSrc + "-tickprobe"
      cleanup += uRoot
      fs.delete(new org.apache.hadoop.fs.Path(uRoot), true)
      org.apache.hadoop.fs.FileUtil.copy(
        fs, new org.apache.hadoop.fs.Path(uSrc),
        fs, new org.apache.hadoop.fs.Path(uRoot), false, conf)
      val uLog = graft.util.ManifestLog.read(spark, uRoot)
      val uMaxId = uLog.agg(max("event_id")).head().getLong(0)
      // ~1 % of the corpus arriving for the SAME user domain (the
      // key-replica's hard case: every batch overlaps all of history).
      val uBatch = uLog.where(col("event_id") % 97 === 0)
        .withColumn("event_id", col("event_id") + lit(uMaxId + 1L))
        .withColumn("ts_us", col("ts_us") + lit(1000000L))
      val uN = uBatch.count()
      val uBefore = graft.util.ManifestLog.liveFileCount(spark, uRoot)
      val tUA = System.nanoTime()
      graft.queries.Events.appendEventsByUserSegment(spark, uRoot, uBatch)
      val uAppendSec = (System.nanoTime() - tUA) / 1e9
      // Steady-state tick: depth 2 ≤ bound → a manifest parse, no IO.
      val tUT = System.nanoTime()
      val folded = graft.queries.Events.maintainEventsByUser(spark, uRoot)
      val uTickSec = (System.nanoTime() - tUT) / 1e9
      require(!folded,
        "steady-state tick folded at depth 2 — the amplification bound broke")
      // Forced fold: the amortized every-16-batches rewrite, measured.
      val tUF = System.nanoTime()
      val didFold = graft.queries.Events.maintainEventsByUser(
        spark, uRoot, maxDepth = 1)
      val uFoldSec = (System.nanoTime() - tUF) / 1e9
      require(didFold, "forced fold found nothing to fold")
      val uAfter = graft.util.ManifestLog.liveFileCount(spark, uRoot)

      // ---- sharded-fold section (r20): fold cost must track the
      // OVER-DEPTH SHARE, not layout bytes. On the now-settled layout,
      // three NARROW segments land on the bottom slice of the user
      // domain (a hot-key burst); the depth fold then rewrites only
      // that slice's component while every other settled file passes
      // by reference — reported as rewritten/kept so the 100 TB
      // write-amplification claim is measured, not prose. At small
      // corpora the mass-derived layout is a single file and the
      // "slice" is degenerate (kept = 0); the x10/x100 rows are where
      // the sharding shows.
      val uStats = graft.util.ManifestLog.read(spark, uRoot)
        .agg(min("user_id"), max("user_id"), max("event_id")).head()
      val (loU, hiU, topId) =
        (uStats.getLong(0), uStats.getLong(1), uStats.getLong(2))
      val sliceHi = loU + math.max(1L, (hiU - loU) / 32L)
      (1 to 3).foreach { t =>
        val narrow = uLog
          .where(col("user_id").between(loU, sliceHi))
          .withColumn("event_id", col("event_id") + lit(topId + t * 1000000L))
          .withColumn("ts_us", col("ts_us") + lit(2000000L * t))
        graft.queries.Events.appendEventsByUserSegment(spark, uRoot, narrow)
      }
      val preShard = graft.util.ManifestLog.read(spark, uRoot).inputFiles.toSet
      val tUS = System.nanoTime()
      val didShard = graft.queries.Events.maintainEventsByUser(
        spark, uRoot, maxDepth = 2)
      val uShardSec = (System.nanoTime() - tUS) / 1e9
      require(didShard, "sharded fold found nothing to fold")
      val postShard = graft.util.ManifestLog.read(spark, uRoot).inputFiles.toSet
      val uShardKept = preShard.intersect(postShard).size
      val uShardRewritten = preShard.size - uShardKept
      fs.delete(new org.apache.hadoop.fs.Path(uRoot), true)

      println(
        f"""{"metric":"tick","sf":"$sfDir","batch_rows":$nBatch,""" +
          f""""append_sec":$appendSec%.2f,"tick_sec":$tickSec%.2f,""" +
          s""""files_before":$before,"files_after":$after,""" +
          f""""byuser_batch_rows":$uN,"byuser_append_sec":$uAppendSec%.2f,""" +
          f""""byuser_tick_sec":$uTickSec%.2f,"byuser_fold_sec":$uFoldSec%.2f,""" +
          s""""byuser_files_before":$uBefore,"byuser_files_after":$uAfter,""" +
          f""""byuser_shard_fold_sec":$uShardSec%.2f,""" +
          s""""byuser_shard_files_rewritten":$uShardRewritten,""" +
          s""""byuser_shard_files_kept":$uShardKept}""")
    } finally {
      cleanup.foreach(r =>
        scala.util.Try(fs.delete(new org.apache.hadoop.fs.Path(r), true)))
      spark.stop()
    }
  }
}
