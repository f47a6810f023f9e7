package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.util.ManifestLog

/** Streaming ingest into a MANIFESTED sorted log — the incremental
  * writer for the layouts [[graft.util.ManifestLog]] maintains. Where
  * [[DocStream]]/[[VecStream]] need the staged-marker protocol for
  * multi-TABLE atomicity (payload + digest index per batch), a single
  * sorted log's exactly-once collapses to the manifest's own commit:
  * each micro-batch is one [[ManifestLog.appendBatch]], idempotent
  * under foreachBatch's at-least-once replay because every manifest
  * header carries the batch high-water mark.
  *
  * What the manifest buys a STREAMING writer specifically:
  *  - readers pinned at any generation never observe a half batch —
  *    visibility is one rename, so there is no marker/undo machinery
  *    and no batch-stamped file names to reason about;
  *  - maintenance composes: compaction / clustering / keyed deletion
  *    can run BETWEEN micro-batches on the same log (they propagate the
  *    high-water mark), so the log stays query-shaped while it ingests;
  *  - each batch is clustered on the log's boundary column before the
  *    write, so its manifest entries carry tight write-time stats and
  *    the since/slice query family prunes to the batches it needs.
  *
  * Scale shape: a micro-batch writes `filesPerBatch` sorted files and
  * one manifest line apiece — O(batch) work, history untouched; the
  * self-driving tick ([[ManifestLog.maintainSorted]]) bounds
  * file-count growth the same way it does for batch appends.
  */
object LogStream {

  /** One micro-batch of the ingest transaction — factored out so the
    * batch semantics (bootstrap, crash replay, maintenance
    * interleaving) are testable without a streaming harness. Returns
    * whether the batch committed (false = replay of a committed batch).
    */
  def ingestBatch(batch: DataFrame, batchId: Long, root: String,
      boundCol: String, filesPerBatch: Int = 1,
      partitionDirs: Seq[String] = Nil,
      secondarySort: Seq[String] = Nil): Boolean = {
    val spark = batch.sparkSession
    // A no-data micro-batch (a restart's state-reestablishing batch,
    // or an empty trigger) commits nothing: it has no rows to deliver
    // exactly-once, and staging it would put an empty file into the
    // layout. Its id is simply never recorded — the guard only needs
    // ids monotone, not dense.
    if (batch.isEmpty) return false
    // Bootstrap: the first batch finds no manifest chain to append to.
    // create() is crash-convergent — a retry of a half-created root
    // (manifest dir present, no committed version) completes it, and
    // the empty generation anchors the replay guard before any data
    // file exists.
    if (ManifestLog.versions(spark, root).isEmpty)
      ManifestLog.create(spark, root)
    // Cluster on (partition dirs, boundary[, secondary]): each
    // partition directory gets contiguous boundary ranges, so
    // write-time stats stay tight per file even when one micro-batch
    // spans partition values; a keyed replica's secondary sort (the
    // within-key order its folds preserve) lands in the batch too.
    val clusterCols = (partitionDirs ++ (boundCol +: secondarySort)).map(col)
    ManifestLog.appendBatch(
      batch.repartitionByRange(filesPerBatch, clusterCols: _*)
        .sortWithinPartitions(clusterCols: _*),
      root, batchId, partitionDirs, boundCol = Some(boundCol))
  }

  /** Watch `srcDir` for parquet drops and append each micro-batch to
    * the manifested log at `root`, clustered on `boundCol`. The
    * checkpoint gives at-least-once batch replay; the manifest's batch
    * high-water mark turns that into exactly-once.
    */
  /** [[runLogStream]]'s maintenance cadence: after every
    * `maintainEveryBatches` committed batches the sink runs the
    * self-driving tick on its own log — [[ManifestLog.maintainSorted]]
    * for a plain sorted log, [[ManifestLog.maintainClustered]] when
    * `clusterCols` declares a Z-layout (new batches land boundCol-
    * sorted with single-column stats; the tick z-rewrites ONLY the
    * accumulated newcomers, so multi-dimension pruning catches up with
    * ingest at O(new data), history untouched), or
    * [[ManifestLog.maintainKeyed]] when `keyedDepth` is set (a
    * KEY-clustered replica: every batch spans the whole key domain, so
    * the tick is the depth-triggered fold — `maintainMaxFiles` then
    * bounds the read amplification rather than a grain's file count).
    * foreachBatch is sequential, so the tick never races the writer,
    * and the tick's commits are manifest-atomic, so pinned readers and
    * the batch high-water mark are untouched. 0 disables (an external
    * maintenance owner).
    *
    * LATENCY BOUND of the in-sink keyed fold: foreachBatch is
    * sequential, so a fold stalls exactly the micro-batch that runs
    * it. The bound is (a) CADENCE — at most one fold per
    * `maintainEveryBatches × maxDepth`-ish committed batches, since
    * between folds the depth tick is a driver-side manifest parse that
    * commits nothing (LogStreamSpec asserts folds ≤ ticks); and
    * (b) PER-FOLD COST — O(the over-depth fold sets' mass)
    * ([[ManifestLog.maintainKeyed]]'s range sharding), which
    * degenerates to O(layout) only when every batch spans the whole
    * key domain (TickBench's byuser_fold_sec measures that worst case;
    * ~2.4 s at the ×100 corpus). A pipeline that cannot absorb that
    * stall in-line sets `maintainEveryBatches = 0` and runs the tick
    * from an external maintenance owner — the manifest's commit
    * protocol makes that safe next to a live writer only for APPENDS,
    * so the external owner must be the sole grain-mutator, exactly as
    * [[graft.util.ManifestLog]]'s concurrency contract spells out.
    */
  def runLogStream(spark: SparkSession, srcDir: String, root: String,
      checkpointDir: String, schema: org.apache.spark.sql.types.StructType,
      boundCol: String, filesPerBatch: Int = 1,
      partitionDirs: Seq[String] = Nil,
      maintainEveryBatches: Int = 0,
      maintainMaxFiles: Int = ManifestLog.CompactAfterSegments,
      clusterCols: Seq[String] = Nil,
      clusterTargetRows: Long = 1L << 20,
      keyedDepth: Boolean = false,
      keyedSecondarySort: Seq[String] = Nil): StreamingQuery = {
    require(clusterCols.isEmpty || clusterCols.contains(boundCol),
      s"clusterCols $clusterCols must include the boundary column " +
        s"'$boundCol' — the since/slice paths prune on it")
    // Validate the Z-layout's arity AT STREAM START, not at the first
    // tick: clusterCols == Seq(boundCol) passes the include-check
    // above but is not a Z-layout — every ingested file already
    // carries boundCol stats, so maintainClustered's stale count stays
    // 0 forever (unbounded file growth, no warning), and if stats-less
    // files ever accumulate the 2..4-column require would instead kill
    // the stream MID-INGEST inside foreachBatch. A single-column log
    // is the plain sorted layout — drop clusterCols for it.
    require(clusterCols.isEmpty ||
        (clusterCols.length >= 2 && clusterCols.length <= 4),
      s"clusterCols $clusterCols is not a Z-layout (2..4 columns) — a " +
        "single-column log is the plain sorted layout; drop clusterCols")
    require(keyedSecondarySort.isEmpty || keyedDepth,
      "keyedSecondarySort declares a keyed replica's within-key order " +
        "— it is only meaningful with keyedDepth")
    require(!keyedDepth || clusterCols.isEmpty,
      "keyedDepth and clusterCols are different layouts — pick one tick")
    require(!keyedDepth || filesPerBatch == 1,
      s"keyedDepth with filesPerBatch=$filesPerBatch: a key-clustered " +
        "replica's every batch spans the whole key domain, so N files " +
        "per batch raise the measured overlap depth by N per batch — " +
        "the O(layout) fold would fire every ~maxDepth/N batches " +
        "instead of every maxDepth, silently degrading the " +
        "amortization (Events.appendEventsByUserSegment forces one " +
        "file per batch for the same reason)")
    require(!keyedDepth || partitionDirs.isEmpty,
      "keyedDepth folds a FLAT key-clustered replica; a partitioned " +
        "log's files live under partition dirs where the fold cannot " +
        "see them (maintainKeyed would also refuse) — drop " +
        "partitionDirs or use the per-directory ticks")
    spark.readStream.schema(schema).parquet(srcDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val committed = ingestBatch(batch, batchId, root, boundCol,
          filesPerBatch, partitionDirs, keyedSecondarySort)
        if (committed && maintainEveryBatches > 0 &&
          (batchId + 1) % maintainEveryBatches == 0) {
          if (clusterCols.nonEmpty)
            ManifestLog.maintainClustered(spark, root, clusterCols,
              clusterTargetRows, minNewFiles = maintainMaxFiles)
          else if (keyedDepth)
            // Without the secondary sort the fold would silently drop
            // the replica's within-key order AND the two-column range
            // partitioning that splits a whale key across files
            // (maintainKeyed's own contract) — thread it through.
            ManifestLog.maintainKeyed(spark, root, boundCol,
              maintainMaxFiles, secondarySort = keyedSecondarySort)
          else
            ManifestLog.maintainSorted(spark, root, boundCol, maintainMaxFiles)
          ()
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .start()
  }
}
