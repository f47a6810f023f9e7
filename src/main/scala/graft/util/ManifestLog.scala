package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Manifest-committed generations for the sorted-log layouts — the
  * one commit protocol for the engine's segment-appended at-rest
  * layouts (the public Iceberg/Delta idea reduced to what a parquet
  * log needs; [[BucketedManifest]] applies it to the bucketed pairs).
  *
  * A bare parquet directory equates "visible" with "listed": the
  * directory listing IS the table state, so any maintenance that
  * deletes or replaces files (compaction, keyed deletion) has a window
  * where a concurrent reader's listing sees a gap or a double, and
  * every mutation would need a single-writer, no-concurrent-readers
  * contract. A manifested log separates the two:
  * the live state is the highest `_manifests/vNNNNNNNNN.manifest`
  * (one relative data-file path per line), and every mutation is
  * (1) write new files nobody can see yet, then (2) publish ONE new
  * manifest via the filesystem's atomic single-file rename. Readers
  * resolve the current manifest once at DataFrame construction and
  * scan exactly that file set; superseded files are RETIRED, not
  * deleted — [[vacuum]] is the only deleter, so a reader pinned at any
  * kept generation stays consistent through any number of concurrent
  * appends/compactions/deletions. Crash-safety collapses to one
  * argument: no crash window contains a visible intermediate state,
  * because visibility is a single rename; everything a crash strands
  * is an orphan [[vacuum]] removes.
  *
  * What this costs at 100 TB: one small text file per commit and a
  * vacuum pass amortized over maintenance — against which it buys
  * lock-free readers, O(1) atomic commits regardless of grain size,
  * and time travel ([[readAt]]) for audits and reproducible training
  * runs. The bucketed co-location pairs get the same contract through
  * [[BucketedManifest]], which swaps the catalog's listing-based file
  * index for a manifest-backed `FileIndex` under the same bucketed
  * relation shape.
  *
  * Concurrency contract: APPENDS are multi-writer-safe — a writer
  * stages its files (invisible until a manifest lists them), and if
  * the single-rename commit loses to a concurrent commit it re-reads
  * the new current manifest and retries the union (appends commute;
  * the staged files were never part of any other writer's state).
  * The GRAIN mutations (compaction, clustering, keyed deletion) stay
  * single-maintainer: their file selection is computed against one
  * generation, so losing the rename means the selection is stale and
  * the op aborts loudly ([[CommitConflict]]) — safe to re-invoke,
  * since each is convergent from the new state.
  *
  * Manifest lines optionally carry the file's min/max for the layout's
  * boundary column (`path<TAB>col<TAB>min<TAB>max`), recorded from ONE
  * footer read at ingest — the write-time-stats idea table formats use.
  * At 100 TB a sorted log is hundreds of thousands of files; stats in
  * the manifest let [[readSlice]] pick a date slice's files at plan
  * time without opening a single footer, and let the maintenance tick
  * ([[maintainSorted]]) classify grains from the manifest alone.
  * Stats are recorded only when trustworthy (non-null, decidable
  * footer statistics); a stats-less line is always selected — pruning
  * may only ever widen, never drop.
  */
object ManifestLog {

  private val ManifestDirName = "_manifests"
  private val Header = "graft-manifest-v1"
  private val VersionFile = """^v(\d{9})\.manifest$""".r
  private val MaxCommitRetries = 20

  /** The atomic rename lost to a concurrent commit of the same
    * version. The append family absorbs this internally (re-read,
    * re-union, retry); the grain mutations surface it — their file
    * selection was computed against a superseded generation, so the
    * caller must re-invoke against current state.
    */
  final class CommitConflict(msg: String) extends java.io.IOException(msg)

  /** Outcome of a [[deleteKeys]] call: how many live files held at
    * least one tombstoned row and were rewritten without those rows,
    * how many were retired outright (every row deleted — no
    * replacement), and how many rows left the live generation.
    * `DeleteResult(0, 0, 0)` means no live file held any key and no
    * generation was committed — re-running a completed delete is a
    * metadata-cost no-op.
    */
  final case class DeleteResult(
      filesRewritten: Int, filesRetired: Int, rowsDeleted: Long)

  /** One live data file: its root-relative path, plus min/max of each
    * stat-recorded column when a trustworthy footer provided them at
    * write time (absence of a column means "cannot prune by this
    * file's range on that column", never "empty"). Single-column
    * entries serialize exactly as the v1 `path\tcol\tmn\tmx` line, so
    * pre-multi-stat manifests parse unchanged and a single-stat layout
    * round-trips byte-identically; a [[cluster]]ed layout appends
    * further `col\tmn\tmx` triples on the same line. */
  private[util] final case class Entry(
      path: String, stats: Seq[(String, Long, Long)]) {
    def line: String =
      (path +: stats.map { case (c, mn, mx) => s"$c\t$mn\t$mx" }).mkString("\t")
    /** Recorded [min, max] for `col`, when this file carries one. */
    def statFor(col: String): Option[(Long, Long)] =
      stats.collectFirst { case (c, mn, mx) if c == col => (mn, mx) }
    /** Whether a [loIncl, hiExcl) slice may need this file.
      * `hiExcl == Long.MaxValue` reads as UNBOUNDED above: the
      * since-paths pass it to mean ">= loIncl with no upper edge", and
      * a file whose recorded min is the MaxValue sentinel timestamp
      * (which maintainSorted deliberately preserves) must stay
      * admissible — `mn < hiExcl` alone would prune it. */
    def mayOverlap(col: String, loIncl: Long, hiExcl: Long): Boolean =
      statFor(col) match {
        case Some((mn, mx)) =>
          mx >= loIncl && (hiExcl == Long.MaxValue || mn < hiExcl)
        case None => true
      }
    /** Whether this file lies WHOLLY inside [loIncl, hiExcl) by its
      * recorded stats (false when stats are absent — conservative both
      * ways: never prune, never claim containment). */
    def within(col: String, loIncl: Long, hiExcl: Long): Boolean =
      statFor(col).exists { case (mn, mx) => mn >= loIncl && mx < hiExcl }
  }

  private def parseEntry(line: String): Entry = {
    // No tab = a stats-less entry (Entry.line writes bare paths that
    // way). A tab-bearing line MUST parse as path + (col, min, max)
    // triples: treating a garbled one as "the whole line is a path"
    // would satisfy the entries= count check while dropping the REAL
    // path from the referenced set — and vacuum would then delete the
    // live data file a corrupt metadata line pointed at. Corruption
    // must refuse the read, never convert into data loss.
    if (!line.contains('\t')) return Entry(line, Nil)
    val parts = line.split('\t')
    if (parts.length < 4 || (parts.length - 1) % 3 != 0)
      throw new IllegalStateException(
        s"corrupt manifest entry (token count ${parts.length}): $line")
    try Entry(parts.head, parts.tail.grouped(3).map {
      case Array(c, mn, mx) => (c, mn.toLong, mx.toLong)
    }.toSeq)
    catch {
      case e: NumberFormatException => throw new IllegalStateException(
        s"corrupt manifest entry (non-numeric stat): $line", e)
    }
  }

  /** One committed manifest, parsed: the operation that produced it,
    * the batch high-water mark it carries (see [[appendBatch]]; -1 =
    * no streaming batch has ever committed), and the live entries.
    */
  private[util] final case class Manifest(
      op: String, batchHwm: Long, entries: Seq[Entry])

  /** Crash-drill seam: invoked with a step tag at each mutation step;
    * identity in production. The specs install a throwing hook to kill
    * a mutation at an exact step.
    */
  @volatile private[graft] var failpoint: String => Unit = _ => ()

  private[util] def hadoop(spark: SparkSession, root: String) = {
    val p = new org.apache.hadoop.fs.Path(root)
    (p, p.getFileSystem(spark.sessionState.newHadoopConf()))
  }

  private[util] def manifestDir(root: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(root, ManifestDirName)

  /** Record a sidecar file beside the manifests (the bucket spec, the
    * bloom column declaration): written under a unique `.tmp-` name
    * ([[vacuum]] sweeps one a crash strands) and renamed onto `name`,
    * so a reader never sees a partial file. A sidecar already recorded
    * (an earlier or concurrent builder's) is kept and must hold this
    * `body`. The check runs before the rename as well as after a
    * refused one, because some filesystems' rename replaces its
    * destination (POSIX rename(2), Hadoop's raw local filesystem):
    * there, two builders that both find no sidecar both rename, and
    * the later one stands.
    */
  private[util] def recordSidecar(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, name: String, what: String, body: String): Unit = {
    val dir = manifestDir(p)
    val dst = new org.apache.hadoop.fs.Path(dir, name)
    def agree(): Unit = {
      val in = fs.open(dst)
      val recorded = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      require(recorded == body,
        s"$p already records $what '${recorded.trim}', not '${body.trim}'")
    }
    if (fs.exists(dst)) return agree()
    val tmp = new org.apache.hadoop.fs.Path(dir, s".tmp-$name-${java.util.UUID.randomUUID}")
    val out = fs.create(tmp, false)
    try out.write(body.getBytes("UTF-8"))
    finally out.close()
    if (!fs.rename(tmp, dst)) {
      fs.delete(tmp, false)
      agree()
    }
  }

  /** Whether `root` is a manifested log (holds a manifest directory). */
  private[util] def isManifested(spark: SparkSession, root: String): Boolean = {
    val (p, fs) = hadoop(spark, root)
    fs.exists(manifestDir(p))
  }

  /** All committed versions, ascending (empty when not manifested). */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    val (p, fs) = hadoop(spark, root)
    versionsOf(fs, p)
  }

  private[util] def versionsOf(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Seq[Long] = {
    val dir = manifestDir(p)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.flatMap(_.getPath.getName match {
      case VersionFile(v) => Some(v.toLong)
      case _ => None
    }).sorted
  }

  /** The append family's commit loop: read the current manifest,
    * apply the guard (a replay check), commit current ∪ `newEntries`;
    * on a lost rename re-read and retry — appends commute with every
    * concurrent commit, because `newEntries` were staged invisibly
    * and belong to no other writer's state. Returns false when the
    * guard rejects (the staged files become vacuumable orphans).
    */
  private[util] def commitAppend(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, newEntries: Seq[Entry], op: String,
      guard: Manifest => Boolean, hwmFor: Manifest => Long): Boolean = {
    var attempts = 0
    while (true) {
      val vs = versionsOf(fs, p)
      require(vs.nonEmpty, s"$p has no committed manifest — adopt() it first")
      val v = vs.max
      val m = readRaw(fs, p, v)
      if (!guard(m)) return false
      try {
        commit(fs, p, v + 1, m.entries ++ newEntries, op, hwmFor(m))
        return true
      } catch {
        case e: CommitConflict =>
          attempts += 1
          if (attempts >= MaxCommitRetries) throw e
      }
    }
    false // unreachable
  }

  /** Adopt an existing parquet log root: commit v1 = the current
    * recursive data-file listing. The one-shot build IS the first
    * generation; every later mutation goes through manifest commits.
    * Pass the layout's boundary column to record each file's min/max
    * in the manifest (one footer read per file, once — every later
    * slice read and maintenance tick then classifies files without
    * touching a footer).
    */
  def adopt(spark: SparkSession, root: String,
      boundCol: Option[String] = None): Unit = {
    val (p, fs) = hadoop(spark, root)
    require(!fs.exists(manifestDir(p)), s"$root is already manifested")
    fs.mkdirs(manifestDir(p))
    commit(fs, p, 1L, entriesFor(spark, p, listDataFiles(fs, p), boundCol.toSeq),
      "adopt", -1L)
  }

  /** Bootstrap an EMPTY manifested log (the streaming-sink path, where
    * generation 1 must exist before the first batch lands so that a
    * crash between "layout exists" and "first batch committed" has a
    * recoverable state to converge onto). The empty generation is
    * deliberately not readable — [[read]] refuses a fileless manifest —
    * it exists only as the commit chain's anchor. Safe to call on a
    * half-created root (manifest dir present, no version committed):
    * the retry completes the bootstrap.
    */
  def create(spark: SparkSession, root: String): Unit = {
    val (p, fs) = hadoop(spark, root)
    require(versions(spark, root).isEmpty,
      s"$root already has committed manifests — create() is only for bootstrap")
    fs.mkdirs(manifestDir(p))
    require(listDataFiles(fs, p).isEmpty,
      s"$root holds data files — adopt() an existing layout instead")
    commit(fs, p, 1L, Nil, "create", -1L)
  }

  /** Commit `df` as the WHOLE generation `v` of `root`, in one commit
    * listing exactly the files this call staged ([[stageAppend]]'s
    * path), with per-file `boundCol` stats. Generation 1 is op
    * `snapshot` ([[tailSince]] reads it like `adopt`); a later one
    * replaces the current generation as op `rebuild` ([[tailSince]]
    * resyncs on it), and the replaced files stay for pinned readers
    * until [[vacuum]].
    */
  private[util] def commitGeneration(df: DataFrame, root: String, v: Long,
      partitionDirs: Seq[String], boundCol: Option[String]): Unit = {
    val spark = df.sparkSession
    val (p, fs) = hadoop(spark, root)
    val staged = stageAppend(p, fs, df, partitionDirs)
    commitStaged(fs, p, v, staged, entriesFor(spark, p, staged, boundCol.toSeq))
  }

  /** [[commitGeneration]]'s commit, shared with the bucketed build. A
    * builder that loses the race for generation 1 (a concurrent
    * builder of the same root committed it first) leaves the winner's
    * generation standing and deletes only those of its staged files
    * the winning manifest does not list. A lost `rebuild` (v > 1)
    * throws [[CommitConflict]]: the refresh did not land.
    */
  private[util] def commitStaged(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, v: Long, staged: Seq[String],
      entries: Seq[Entry]): Unit = {
    failpoint("staged:generation")
    try commit(fs, p, v, entries, if (v == 1L) "snapshot" else "rebuild", -1L)
    catch {
      case _: CommitConflict if v == 1L =>
        val listed = readRaw(fs, p, v).entries.map(_.path).toSet
        staged.filterNot(listed).foreach(rel =>
          fs.delete(new org.apache.hadoop.fs.Path(p, rel), false))
    }
  }

  /** The batch high-water mark: the highest streaming batch id any
    * [[appendBatch]] has committed to this log (-1 before the first).
    * Read from the CURRENT manifest header alone — every commit
    * propagates it — so the replay guard needs no scan of manifest
    * history and survives [[vacuum]].
    */
  def batchHwm(spark: SparkSession, root: String): Long = {
    val (p, fs) = hadoop(spark, root)
    readRaw(fs, p, currentVersion(spark, root)).batchHwm
  }

  /** Idempotent, batch-stamped segment append — the streaming sink's
    * exactly-once building block. A Structured Streaming foreachBatch
    * replay re-runs a batch with the SAME batchId whenever the crash
    * preceded the checkpoint's commit record; this entry point makes
    * that replay safe: a batchId at or under the log's high-water mark
    * already committed (the crash happened AFTER our manifest rename),
    * so the call is a no-op; a batchId above it runs as a normal
    * append whose commit advances the mark. A crash BEFORE the rename
    * leaves the current generation untouched and the attempt's files
    * as vacuumable orphans — the replay writes fresh files and the
    * before/after listing diff (which includes the orphans in
    * "before") commits exactly the fresh set, so no crash window can
    * double a batch. Returns whether the batch committed (false = a
    * replay of an already-committed batch).
    */
  def appendBatch(segment: DataFrame, root: String, batchId: Long,
      partitionDirs: Seq[String] = Nil,
      boundCol: Option[String] = None): Boolean = {
    require(batchId >= 0L, s"batch ids are non-negative, got $batchId")
    val spark = segment.sparkSession
    val (p, fs) = hadoop(spark, root)
    val m0 = readRaw(fs, p, currentVersion(spark, root))
    if (batchId <= m0.batchHwm) return false // committed — replay is a no-op
    val added = stageAppend(p, fs, segment, partitionDirs)
    failpoint("written:append-batch")
    // The guard re-checks under the commit loop: if a concurrent
    // replica committed this batch while we staged, the staged files
    // become vacuumable orphans and the replay reports no-op.
    commitAppend(fs, p, entriesFor(spark, p, added, boundCol.toSeq), "append-batch",
      m => batchId > m.batchHwm, m => math.max(m.batchHwm, batchId))
  }

  /** Stats-recorded entries for a set of new relative paths: one footer
    * read per (file, column) when `statCols` are given and trustworthy
    * (columns with nulls or undecidable stats stay stats-less for that
    * file — never prunable).
    */
  private[util] def entriesFor(spark: SparkSession, p: org.apache.hadoop.fs.Path,
      files: Seq[String], statCols: Seq[String]): Seq[Entry] =
    if (statCols.isEmpty) files.map(Entry(_, Nil))
    else footersFor(spark, p, files, statCols).map(_._1)

  /** [[entriesFor]]'s entry plus the file's footer row count, for every
    * file: ONE footer read per file regardless of how many columns the
    * layout records — at a z-layout's 3-4 cluster columns the
    * per-column variant would triple the maintenance metadata IO.
    */
  private[util] def footersFor(spark: SparkSession, p: org.apache.hadoop.fs.Path,
      files: Seq[String], statCols: Seq[String]): Seq[(Entry, Long)] = {
    val conf = spark.sessionState.newHadoopConf()
    files.map { rel =>
      val (rows, ranges) = fileFooter(new org.apache.hadoop.fs.Path(p, rel), statCols, conf)
      (Entry(rel, statCols.flatMap(c => ranges.get(c).map { case (mn, mx) => (c, mn, mx) })),
        rows)
    }
  }

  /** The current generation as a DataFrame: resolve the highest
    * manifest ONCE, scan exactly its files. `basePath` keeps partition
    * directory columns (the orders-by-year layout) visible and
    * prunable exactly as a directory read would.
    */
  def read(spark: SparkSession, root: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    // Relation-cached per generation (r22; see BucketedManifest.read):
    // a generation is immutable, so repeated full reads skip the
    // per-call datasource re-resolution. Keyed reads stay uncached —
    // their file subsets vary per probe.
    val v = currentVersion(spark, root)
    graft.util.Tables.relationCached(
      spark, s"ml:$root:v$v:${options.toSeq.sorted.mkString(",")}")(
      readAt(spark, root, v, options))
  }

  /** Time travel: the log exactly as generation `version` committed it
    * — valid as long as the generation is within [[vacuum]]'s kept
    * window (audits, repro of a training run against the corpus state
    * it actually saw). `options` passes reader options through (e.g.
    * `mergeSchema` for a log whose segments span schema generations —
    * the SchemaDriftSpec contract holds for manifested logs too).
    */
  def readAt(spark: SparkSession, root: String, version: Long,
      options: Map[String, String] = Map.empty): DataFrame = {
    val (p, fs) = hadoop(spark, root)
    val files = readManifest(fs, p, version).map(_.path)
    require(files.nonEmpty, s"manifest v$version of $root lists no files")
    spark.read.options(options).option("basePath", root)
      .parquet(files.map(f => new org.apache.hadoop.fs.Path(p, f).toString): _*)
  }

  /** A [loIncl, hiExcl) boundary slice resolved from MANIFEST stats:
    * only files whose recorded range may overlap the slice reach the
    * scan — zero footer reads, zero data reads for everything outside.
    * This is the 100 TB planning path: a day's boundary read over a
    * years-long log plans against the day's files, not a listing of
    * the whole history. File selection is a SUPERSET of the matching
    * rows (stats-less files are always included), so callers apply
    * their row predicate as usual; with no selectable file the full
    * generation is returned and the predicate does the work.
    */
  def readSlice(spark: SparkSession, root: String, boundCol: String,
      loIncl: Long, hiExcl: Long): DataFrame = {
    // Relation-cached per (generation, bound window) — r22, the
    // Tables.cachedParquet seam: boundary consumers ask for the SAME
    // literal window every execution (a query's slice bounds are part
    // of its text), and a generation is immutable, so the resolved
    // file subset cannot drift under the key. Distinct windows get
    // distinct entries; appends commit a new version → new key.
    val ver = currentVersion(spark, root)
    graft.util.Tables.relationCached(
      spark, s"sl:$root:v$ver:$boundCol:$loIncl:$hiExcl")(
      readSliceAt(spark, root, ver, boundCol, loIncl, hiExcl))
  }

  private def readSliceAt(spark: SparkSession, root: String, ver: Long,
      boundCol: String, loIncl: Long, hiExcl: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val (p, fs) = hadoop(spark, root)
    val entries = readManifest(fs, p, ver)
    require(entries.nonEmpty, s"$root lists no files")
    val picked = entries.filter(_.mayOverlap(boundCol, loIncl, hiExcl))
    // Stats ruling out EVERY file answers zero rows with the schema
    // (one file planned purely as the carrier — the readKeyed idiom);
    // the pre-r17 fallback planned the whole generation, degenerating
    // the MOST selective slice into a full scan.
    val files = (if (picked.nonEmpty) picked else entries.take(1)).map(_.path)
    val out = spark.read.option("basePath", root)
      .parquet(files.map(f => new org.apache.hadoop.fs.Path(p, f).toString): _*)
    if (picked.isEmpty) out.where(lit(false)) else out
  }

  /** Multi-dimensional boundary slice: the conjunction of [loIncl,
    * hiExcl) predicates, each resolved against the entries' recorded
    * per-column stats — the read side of [[cluster]]. A file is
    * planned unless SOME predicate's recorded range rules it out
    * (absent stats for a column always keep the file), so selection
    * stays a conservative superset per column and their intersection
    * is a superset of the matching rows; callers apply the row
    * predicates as usual. On a Z-clustered layout every predicate
    * prunes multiplicatively; on a single-sorted layout the extra
    * predicates simply prune nothing — never wrong, only wider.
    */
  def readSliceN(spark: SparkSession, root: String,
      preds: Seq[(String, Long, Long)]): DataFrame = {
    require(preds.nonEmpty, "readSliceN needs at least one predicate")
    // Same per-(generation, window) relation cache as [[readSlice]].
    val ver = currentVersion(spark, root)
    graft.util.Tables.relationCached(
      spark,
      s"slN:$root:v$ver:${preds.map(p => s"${p._1}:${p._2}:${p._3}").mkString(",")}")(
      readSliceNAt(spark, root, ver, preds))
  }

  private def readSliceNAt(spark: SparkSession, root: String, ver: Long,
      preds: Seq[(String, Long, Long)]): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val (p, fs) = hadoop(spark, root)
    val entries = readManifest(fs, p, ver)
    require(entries.nonEmpty, s"$root lists no files")
    val picked = entries.filter(e =>
      preds.forall { case (c, lo, hi) => e.mayOverlap(c, lo, hi) })
    // Empty selection → zero rows with the schema (see [[readSlice]]).
    val files = (if (picked.nonEmpty) picked else entries.take(1)).map(_.path)
    val out = spark.read.option("basePath", root)
      .parquet(files.map(f => new org.apache.hadoop.fs.Path(p, f).toString): _*)
    if (picked.isEmpty) out.where(lit(false)) else out
  }

  /** Multi-dimensional re-clustering — the public OPTIMIZE ZORDER idea
    * (Delta/Iceberg) reduced to what a manifested parquet log needs:
    * rewrite each partition directory's live files ordered by the
    * bit-interleaving of the cluster columns' range-normalized values,
    * and record per-file min/max for EVERY cluster column in the
    * manifest. A lexicographic sort gives one column tight per-file
    * ranges and leaves the rest spanning the whole domain; the Z-curve
    * gives every cluster column ranges ~√file-count tight (at 2 dims),
    * so [[readSliceN]] prunes multiplicatively on any conjunction of
    * them. At 100 TB this is the difference between "a day × one
    * tenant" planning a day's files and it planning the tenant-blind
    * whole day.
    *
    * Contract mirrors the other grain mutations: single-maintainer
    * ([[CommitConflict]] on a lost rename — re-invoke), row-neutral
    * (op `cluster` contributes nothing to [[tailSince]], exactly like
    * compaction), superseded files stay readable for pinned readers
    * and [[readAt]] until [[vacuum]]. Include the layout's original
    * boundary column in `cols` to keep its [[readSlice]] paths
    * pruning — clustering REPLACES the previous sort order.
    *
    * Cluster columns must be long-castable (ids, epoch micros, bucket
    * codes); values are normalized by driver-known min/max into
    * `63 / cols.length`-bit lanes (capped at 16 — file-level pruning
    * needs far fewer distinct buckets than there are files). Nulls
    * sort into the zero bucket; a file holding nulls in a cluster
    * column stays stats-less on that column (never prunable — the
    * recording contract [[entriesFor]] already enforces).
    */
  def cluster(spark: SparkSession, root: String, cols: Seq[String],
      targetFileRows: Long = 1L << 20): Unit = {
    val committed = clusterGrain(spark, root, cols, targetFileRows, _ => true)
    assert(committed, "full cluster() always selects the live generation")
  }

  /** Incremental clustering maintenance — the tick that keeps a
    * z-layout useful under appends WITHOUT layout rewrites. New
    * segments land sorted by their own boundary column and carry at
    * most that one column's stats, so [[readSliceN]] admits them for
    * every slice (correct, conservative, increasingly wasteful as they
    * accumulate). Once `minNewFiles` such files exist, re-cluster ONLY
    * them: per-file stat boxes need no globally consistent curve —
    * z-locality within the batch is what bounds each new file's box —
    * so the tick costs O(new data) and the already-clustered history
    * is never rewritten (its manifest lines pass through
    * byte-identical). Returns whether a generation committed.
    *
    * The unclustered set is "entries missing stats for some cluster
    * column". A file with NULLS in a cluster column can never gain
    * that column's stats and would re-qualify every tick — keep
    * cluster columns non-null by construction (ids, event times), as
    * the threshold only bounds churn, it cannot remove it.
    */
  def maintainClustered(spark: SparkSession, root: String, cols: Seq[String],
      targetFileRows: Long = 1L << 20, minNewFiles: Int = 8): Boolean = {
    require(minNewFiles >= 1, s"minNewFiles must be positive, got $minNewFiles")
    val stale = currentEntries(spark, root)
      .count(e => cols.exists(c => e.statFor(c).isEmpty))
    if (stale < minNewFiles) false
    else clusterGrain(spark, root, cols, targetFileRows,
      e => cols.exists(c => e.statFor(c).isEmpty))
  }

  /** The clustering engine behind [[cluster]] (grain = everything) and
    * [[maintainClustered]] (grain = stat-less newcomers): rewrite the
    * selected live files per partition directory in Z-order
    * ([[stageZOrdered]]), commit unselected entries BY REFERENCE (path
    * and stats byte-identical). Returns false (no commit) when the
    * selection is empty.
    */
  private def clusterGrain(spark: SparkSession, root: String, cols: Seq[String],
      targetFileRows: Long, select: Entry => Boolean): Boolean = {
    requireClusterable(cols, targetFileRows)
    val (p, fs) = hadoop(spark, root)
    val v = currentVersion(spark, root)
    val m = readRaw(fs, p, v)
    val live = m.entries
    require(live.nonEmpty, s"$root lists no live files at v$v")
    val grain = live.filter(select)
    if (grain.isEmpty) return false
    val staged = grain.groupBy(e => dirOf(e.path)).toSeq.sortBy(_._1)
      .flatMap { case (relDir, es) =>
        stageZOrdered(p, fs, relDir, spark.read.parquet(
          es.map(e => new org.apache.hadoop.fs.Path(p, e.path).toString): _*),
          cols, targetFileRows)
      }
    failpoint("written:cluster")
    commit(fs, p, v + 1,
      live.diff(grain) ++ entriesFor(spark, p, staged, cols),
      "cluster", m.batchHwm)
    true
  }

  /** A Z-clustered layout built in ONE commit: `df` staged in Z-order
    * over `cols` ([[stageZOrdered]]) and committed as generation 1
    * ([[commitStaged]]) with every cluster column's per-file stats —
    * the files and manifest lines a [[cluster]] pass over the same rows
    * commits.
    */
  private[util] def commitClustered(df: DataFrame, root: String, cols: Seq[String],
      targetFileRows: Long): Unit = {
    requireClusterable(cols, targetFileRows)
    val spark = df.sparkSession
    val (p, fs) = hadoop(spark, root)
    val staged = stageZOrdered(p, fs, "", df, cols, targetFileRows)
    commitStaged(fs, p, 1L, staged, entriesFor(spark, p, staged, cols))
  }

  private def requireClusterable(cols: Seq[String], targetFileRows: Long): Unit = {
    require(cols.length >= 2 && cols.length <= 4,
      s"cluster on 2..4 columns (got ${cols.length}) — one column is a " +
        "plain sort (compactRange), more than 4 dilutes every lane " +
        "below useful pruning")
    require(cols.distinct.length == cols.length, s"duplicate cluster column in $cols")
    require(targetFileRows > 0L, s"targetFileRows must be positive, got $targetFileRows")
  }

  /** Stage `df` into `relDir` in Z-order over `cols`, as
    * ceil(rows / targetFileRows) range-partitioned files: one
    * lightweight agg finds the row count and each lane's
    * normalization range, and the write range-partitions and sorts on
    * the bit-interleaved lane buckets.
    */
  private def stageZOrdered(p: org.apache.hadoop.fs.Path,
      fs: org.apache.hadoop.fs.FileSystem, relDir: String, df: DataFrame,
      cols: Seq[String], targetFileRows: Long): Seq[String] = {
    import org.apache.spark.sql.functions.{coalesce, col, count, expr, lit, max, min, shiftleft, shiftright}
    cols.foreach { c =>
      require(df.columns.contains(c), s"'$c' is not a physical column of $p/$relDir")
    }
    val nb = math.min(16, 63 / cols.length) // bits per lane
    val aggs = cols.flatMap(c => Seq(min(col(c).cast("long")), max(col(c).cast("long"))))
    val mm = df.agg(count(lit(1)), aggs: _*).head()
    val rows = mm.getLong(0)
    val nOut = math.max(1L, (rows + targetFileRows - 1L) / targetFileRows).toInt
    val lanes = cols.zipWithIndex.map { case (c, i) =>
      if (mm.isNullAt(2 * i + 1)) lit(0L) // all-null column: one bucket
      else {
        val (mn, mx) = (mm.getLong(2 * i + 1), mm.getLong(2 * i + 2))
        // Exact integer bucketing, overflow-guarded: step sized so
        // (v - mn) / step < 2^nb. Math.subtractExact rejects a
        // pathological span that wraps Long (cluster columns are
        // ids/micros in practice; refusing beats mis-bucketing).
        val span =
          try Math.subtractExact(mx, mn)
          catch {
            case _: ArithmeticException => throw new IllegalArgumentException(
              s"cluster column '$c' spans more than Long range " +
                s"[$mn, $mx] — normalize it before clustering")
          }
        val step = span / (1L << nb) + 1L
        // LEFT-ALIGN the lane: a narrow domain (256 tenants, say)
        // fills only the low bits of its bucket, and a curve built
        // from right-aligned lanes degenerates to "sort by the
        // widest column" — the wide column's high bits sit above
        // every bit of the narrow one, so file boundaries never
        // split on the narrow dimension. Shifting each lane's
        // buckets to the lane's top bit gives every column equal
        // weight at every level of the curve, which is what makes
        // the per-dimension pruning multiplicative.
        val maxBucket = span / step
        val align =
          if (maxBucket <= 0L) 0
          else nb - (64 - java.lang.Long.numberOfLeadingZeros(maxBucket))
        shiftleft(coalesce(
          expr(s"(CAST(`$c` AS BIGINT) - ${mn}L) DIV ${step}L"), lit(0L)),
          align)
      }
    }
    val z = lanes.zipWithIndex.map { case (b, i) =>
      (0 until nb).map { j =>
        shiftleft(shiftright(b, j).bitwiseAND(lit(1L)), j * cols.length + i)
      }.reduce(_ bitwiseOR _)
    }.reduce(_ bitwiseOR _)
    stageAppend(p, fs,
      df.withColumn("_gf_z", z)
        .repartitionByRange(nOut, col("_gf_z"))
        .sortWithinPartitions("_gf_z")
        .drop("_gf_z"), Nil, relDir)
  }

  /** Point lookup: the current generation's rows whose `keyCol` is in
    * `keys`, planning only the files that may hold one — manifest
    * stats prune by recorded range when the key IS the boundary
    * column, and a declared bloom filter ([[ParquetBlooms.declare]])
    * prunes by footer probe when it is not. Both prunings are
    * conservative supersets; the row predicate applies regardless (and
    * pushes down to the scan, so admitted files read only matching
    * row groups). At 100 TB this is "fetch these documents by id"
    * costing O(files that may hold them), not a log scan.
    */
  def readKeyed(spark: SparkSession, root: String, keyCol: String,
      keys: Seq[Any]): DataFrame = {
    require(keys.nonEmpty, "readKeyed needs at least one key")
    require(keys.length <= ParquetBlooms.MaxProbeKeys,
      s"${keys.length} keys exceed MaxProbeKeys=${ParquetBlooms.MaxProbeKeys} — " +
        "semi-join against read() for bulk key sets")
    // Relation-cached per (generation, key set) — r22: the probed file
    // subset is a pure function of the immutable generation and the
    // key list, so repeated probes with the same keys (a query's
    // literal ids, a bench's re-executions) skip the footer probes and
    // the datasource re-resolution. The key list is content-hashed
    // (md5, not hashCode — a collision here would alias RELATIONS);
    // relationCached's size cap keeps unbounded distinct probes from
    // leaking plans.
    val ver = currentVersion(spark, root)
    val keySig = java.security.MessageDigest.getInstance("MD5")
      .digest(keys.map(String.valueOf).sorted.mkString(" ").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    graft.util.Tables.relationCached(
      spark, s"kv:$root:v$ver:$keyCol:${keys.length}:$keySig")(
      readKeyedAt(spark, root, ver, keyCol, keys))
  }

  private def readKeyedAt(spark: SparkSession, root: String, ver: Long,
      keyCol: String, keys: Seq[Any]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val (p, fs) = hadoop(spark, root)
    val entries = readManifest(fs, p, ver)
    require(entries.nonEmpty, s"$root lists no files")
    def abs(e: Entry) = new org.apache.hadoop.fs.Path(p, e.path).toString
    val longs = keys.collect { case l: Long => l; case i: Int => i.toLong }
    // Sorted once, each file's admission is one binary search (first
    // key >= the file's min, admitted iff it is <= the max) — O(F log K)
    // instead of O(F × K), which is what a 100k-file × 100k-key probe
    // needs to stay a driver-side metadata operation.
    val sorted = longs.sorted.toArray
    def anyInRange(mn: Long, mx: Long): Boolean = {
      var lo = 0; var hi = sorted.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (sorted(mid) < mn) lo = mid + 1 else hi = mid
      }
      lo < sorted.length && sorted(lo) <= mx
    }
    val ranged =
      if (longs.length != keys.length) entries
      else entries.filter(_.statFor(keyCol) match {
        case Some((mn, mx)) => anyInRange(mn, mx)
        case None => true
      })
    val admitted =
      if (!ParquetBlooms.declaredOf(fs, p).exists(_._1 == keyCol)) ranged
      else {
        val ok = ParquetBlooms.mayContainAny(
          spark, ranged.map(abs), keyCol, keys).toSet
        ranged.filter(e => ok(abs(e)))
      }
    // No admissible file still answers — with the schema, zero rows
    // (one file planned purely as the schema carrier).
    val files = (if (admitted.nonEmpty) admitted else entries.take(1)).map(abs)
    val out = spark.read.option("basePath", root).parquet(files: _*)
      .where(col(keyCol).isin(keys: _*))
    if (admitted.isEmpty) out.where(lit(false)) else out
  }

  /** Dynamic file pruning for a keyed join: read the current
    * generation narrowed to the files that may hold any key the DIM
    * SIDE actually produced — the runtime companion to [[readKeyed]]'s
    * literal-key point lookup. The key frame (typically a filtered
    * dimension's join column) collects to the driver when small
    * enough to probe; an empty key set answers zero rows without a
    * scan, and a key set above [[ParquetBlooms.MaxProbeKeys]] falls
    * back to the full generation — the join itself then does the
    * filtering, exactly as an undeclared layout would. Selection is
    * conservative either way, so `fact JOIN dim` over this read equals
    * the join over [[read]]. At 100 TB this is the "selective dim
    * filter → fact scan skips almost everything" plan table formats
    * sell as dynamic file pruning, answered from manifest stats and
    * footer blooms instead of a partition-column convention.
    */
  def readForKeys(spark: SparkSession, root: String, keyCol: String,
      keys: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val sample = keys.select(col(keyCol)).where(col(keyCol).isNotNull)
      .distinct().limit(ParquetBlooms.MaxProbeKeys + 1)
      .collect().map(_.get(0)).toSeq
    if (sample.isEmpty) read(spark, root).where(lit(false))
    else if (sample.length > ParquetBlooms.MaxProbeKeys) read(spark, root)
    else readKeyed(spark, root, keyCol, sample)
  }

  /** The current generation's entries (the maintenance tick's view of
    * what is live — orphans and retired files never appear here). */
  private[util] def currentEntries(spark: SparkSession, root: String): Seq[Entry] = {
    val (p, fs) = hadoop(spark, root)
    readManifest(fs, p, currentVersion(spark, root))
  }

  /** How many data files the current generation lists (0 = a
    * [[create]]d-but-never-appended log, which [[read]] refuses — the
    * caller substitutes its own empty frame with the right schema).
    */
  def liveFileCount(spark: SparkSession, root: String): Int =
    currentEntries(spark, root).length

  /** Max number of live files whose recorded `col` ranges stack over
    * any single key — a keyed read's worst-case file admission, and
    * therefore THE maintenance trigger for a key-clustered replica
    * (whose appended segments overlap all of history by nature, so
    * [[maintainSorted]]'s component-size trigger would fold
    * on every tick). Driver-side sweep of the manifest's per-file
    * stats: +1 at each min, −1 past each max, openings before closings
    * at equal coordinates (inclusive intervals); no data or footer IO.
    * Files without stats for `col` admit everywhere and add to the
    * depth at every point.
    */
  def overlapDepth(spark: SparkSession, root: String, col: String): Int = {
    val entries = currentEntries(spark, root)
    val ranges = entries.flatMap(_.statFor(col))
    val statless = entries.length - ranges.length
    val marks = ranges.flatMap { case (mn, mx) => Seq((mn, 1), (mx, -1)) }
      .sortBy { case (c, d) => (c, -d) }
    var depth = 0
    var worst = 0
    marks.foreach { case (_, d) => depth += d; worst = math.max(worst, depth) }
    worst + statless
  }

  /** Per-file mass targets for a DERIVED fold fan-out (see
    * [[foldFanout]]). Two caps because they bound different costs:
    * bytes bound a scan task's input (the 128–256 MB table-format
    * convention); rows bound a POINT LOOKUP's decode — the admitted
    * file is read whole, so on a heavily RLE/dictionary-compressed
    * corpus (the synthetic events table packs ~12 bytes/row) a
    * bytes-only target would let one "small" file hold tens of
    * millions of rows and the probe latency would grow with the
    * layout anyway. Both overridable per session
    * (`spark.graft.fold.targetFileBytes` / `.targetFileRows`) and per
    * call.
    */
  val TargetFoldBytes: Long = 256L << 20
  val TargetFoldRows: Long = 256L << 10

  private def confLong(spark: SparkSession, key: String, dflt: Long): Long =
    scala.util.Try(spark.conf.get(key).toLong).getOrElse(dflt)

  private[util] def targetFoldBytes(spark: SparkSession, explicit: Long): Long =
    if (explicit > 0) explicit
    else confLong(spark, "spark.graft.fold.targetFileBytes", TargetFoldBytes)

  private[util] def targetFoldRows(spark: SparkSession, explicit: Long): Long =
    if (explicit > 0) explicit
    else confLong(spark, "spark.graft.fold.targetFileRows", TargetFoldRows)

  /** Output file count for a fold over `bytes`/`rows` of input: enough
    * files that no output file exceeds EITHER mass target — the
    * finer-grained of the two constraints wins. This is what replaces
    * the r19 layout's partition-count pin (nOut = 32 at every corpus
    * size): a pinned denominator keeps file COUNT constant while bytes
    * grow 100×, so the single file a point lookup admits carries the
    * growth — at 100 TB that is a 3 TB file. Deriving from mass keeps
    * the admitted file bounded instead, and the file count grows with
    * the layout (file-level admission stays a driver-side manifest
    * sweep; at real scale the metadata itself shards — manifest trees
    * — which is out of scope here).
    */
  private[util] def foldFanout(bytes: Long, rows: Long,
      targetBytes: Long, targetRows: Long): Int = {
    def ceilDiv(a: Long, b: Long): Long = if (b <= 0L) 1L else (a + b - 1L) / b
    math.min(1L << 20, math.max(1L,
      math.max(ceilDiv(bytes, targetBytes), ceilDiv(rows, targetRows)))).toInt
  }

  /** [[foldFanout]] for a ONE-SHOT build, derived from the SOURCE
    * parquet's file statuses and footer record counts (driver-side
    * metadata only — the build reads the data anyway). The re-sorted
    * layout's bytes differ from the source's, but only by a
    * compression-ratio factor; rows are exact, and on the corpora
    * where the distinction matters the rows cap is the binding one.
    */
  def sourceFanout(spark: SparkSession, srcPath: String,
      targetBytes: Long = -1L, targetRows: Long = -1L): Int = {
    val (p, fs) = hadoop(spark, srcPath)
    val conf = spark.sessionState.newHadoopConf()
    val files = fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val bytes = files.map(_.getLen).sum
    // The footer sweep (one serial open per source file) is the only
    // non-trivial cost here, and the resolvers call this on EVERY keyed
    // read — including inside timed point-lookup bodies. Memoize the
    // row total on the listing's (name, len, mtime) signature: repeat
    // calls cost one listStatus; a rewritten source changes the
    // signature and recomputes. ONE entry per path (compute replaces a
    // stale signature's cell) — keying the map BY signature would leak
    // a full-listing-sized dead entry on every source rewrite.
    val sig = files.map(s => (s.getPath.getName, s.getLen, s.getModificationTime))
    val rows = fanoutRows.compute(srcPath, (_, old) =>
      if (old != null && old._1 == sig) old
      else (sig, files.map(s => fileRowCount(s.getPath, conf)).sum))._2
    foldFanout(bytes, rows,
      targetFoldBytes(spark, targetBytes), targetFoldRows(spark, targetRows))
  }
  private val fanoutRows = new java.util.concurrent.ConcurrentHashMap[
    String, (Seq[(String, Long, Long)], Long)]

  /** [[sourceFanout]] with the session's shuffle parallelism as a
    * FLOOR — the fan-out for the SCAN-SERVING sorted logs (ship-date /
    * ts / orders-date clustering), whose consumers full-scan or
    * range-scan rather than fetch single files. At corpus scale the
    * mass targets dominate (a 100 TB log gets ~target-sized files, not
    * 32 × 3 TB — the same critique the keyed layouts' r20 derivation
    * answers); on a small corpus the floor keeps the layout spread
    * across the cores so a full scan is not serialized onto a handful
    * of files (FileSourceScanExec only SPLITS files larger than
    * maxPartitionBytes — it cannot manufacture parallelism from one
    * small file). The floor only ever ADDS files, so the per-file mass
    * bound holds unconditionally. Deterministic for a given (corpus,
    * session conf) — the derived n stays part of the artifact name.
    */
  def layoutFanout(spark: SparkSession, srcPath: String,
      targetBytes: Long = -1L, targetRows: Long = -1L): Int =
    math.max(sourceFanout(spark, srcPath, targetBytes, targetRows),
      spark.conf.get("spark.sql.shuffle.partitions").toInt)

  /** One fold set of a sharded keyed fold: the files to rewrite, the
    * hull [lo, hi] of their key ranges, the worst pre-fold stack over
    * any over-depth point inside it, and the set's total mass.
    */
  private[util] final case class KeyComponent(
      entries: Seq[Entry], lo: Long, hi: Long, depth: Int,
      bytes: Long, rows: Long)

  /** The minimal fold sets that restore `depth ≤ maxDepth` everywhere —
    * [[maintainSorted]]'s component idea transposed to key
    * space, but seeded from the OVER-DEPTH points rather than from
    * range connectivity: two-column range partitioning deliberately
    * splits a whale key across neighboring files, so adjacent settled
    * files share one boundary key and a connectivity merge would chain
    * the whole layout into one component, defeating the sharding.
    *
    * Construction (driver-side manifest sweep, no IO until mass):
    *  1. sweep the foldable ranges for the maximal intervals where the
    *     stack exceeds `maxDepth`;
    *  2. seed each fold set with every file overlapping such an
    *     interval (all of an over-depth point's stack folds, so that
    *     point drops to depth 1);
    *  3. close over the seeds' hull: any foldable file fully CONTAINED
    *     in it joins (the [[compactRange]] grain would sweep it in
    *     anyway — containment cannot extend the hull, so this
    *     terminates in one pass); files merely STRADDLING the hull
    *     stay out and keep their boundary overlap of ≤ maxDepth;
    *  4. merge fold sets whose hulls intersect (their grains would
    *     collide).
    *
    * Post-fold depth at any key k: if k was over-depth, its whole
    * stack was seeded, so only the (range-disjoint) replacement covers
    * it; otherwise the replacement's 1 replaces ≥ 1 folded file, so
    * the stack never grows. Settled ranges outside every hull pass to
    * the new generation BY REFERENCE. Mass (bytes from file status,
    * rows from footers) is collected only for the returned fold sets —
    * the steady-state tick stays a pure manifest parse.
    */
  private[util] def overDepthFoldSets(spark: SparkSession, root: String,
      keyCol: String, maxDepth: Int): Seq[KeyComponent] = {
    val entries = currentEntries(spark, root)
    require(entries.forall(!_.path.contains("/")),
      s"$root holds partition-dir entries — maintainKeyed folds flat " +
        "key-clustered layouts; partitioned logs take maintainSorted/" +
        "maintainClustered per directory")
    val foldable = entries
      .flatMap(e => e.statFor(keyCol).map { case (mn, mx) => (mn, mx, e) })
      .filter { case (_, mx, _) => mx < Long.MaxValue }
    val sets = foldSetsOf(foldable, maxDepth)
    if (sets.isEmpty) return Nil
    val (p, fs) = hadoop(spark, root)
    val conf = spark.sessionState.newHadoopConf()
    sets.map { case (all, lo, hi, worst) =>
      val paths = all.map(t => new org.apache.hadoop.fs.Path(p, t._3.path))
      KeyComponent(all.map(_._3), lo, hi, worst,
        paths.map(fs.getFileStatus(_).getLen).sum,
        paths.map(fileRowCount(_, conf)).sum)
    }
  }

  /** Pure core of [[overDepthFoldSets]] — the sweep/seed/closure/merge
    * over (min, max, entry) triples, separated from the manifest read
    * and the mass collection so FoldSetPropertySpec can fuzz it
    * against brute-force references. Returns one (files, hullLo,
    * hullHi, worstPreFoldStack) per fold set.
    */
  private[util] def foldSetsOf(foldable: Seq[(Long, Long, Entry)],
      maxDepth: Int): Seq[(Seq[(Long, Long, Entry)], Long, Long, Int)] = {
    if (foldable.isEmpty) return Nil
    // 1. Maximal over-depth intervals: openings before closings at
    // equal coordinates (inclusive ranges), interval open while the
    // stack exceeds the bound.
    val marks = foldable.flatMap { case (mn, mx, _) => Seq((mn, 1), (mx, -1)) }
      .sortBy { case (c, d) => (c, -d) }
    val over = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var depth = 0
    var start = 0L
    var inOver = false
    marks.foreach { case (c, d) =>
      val nd = depth + d
      if (!inOver && nd > maxDepth) { inOver = true; start = c }
      else if (inOver && d < 0 && nd <= maxDepth) {
        inOver = false; over += ((start, c))
      }
      depth = nd
    }
    if (over.isEmpty) return Nil
    // 2-4. Seed, merge colliding hulls, close over containment.
    final case class Set0(files: Seq[(Long, Long, Entry)], lo: Long, hi: Long)
    val seeded = over.toSeq.map { case (lo, hi) =>
      val seeds = foldable.filter { case (mn, mx, _) => mx >= lo && mn <= hi }
      Set0(seeds, seeds.map(_._1).min, seeds.map(_._2).max)
    }
    val merged = scala.collection.mutable.ArrayBuffer.empty[Set0]
    seeded.sortBy(_.lo).foreach { s =>
      if (merged.nonEmpty && s.lo <= merged.last.hi) {
        val prev = merged.remove(merged.length - 1)
        val files = (prev.files ++ s.files).distinctBy(_._3.path)
        merged += Set0(files, math.min(prev.lo, s.lo), math.max(prev.hi, s.hi))
      } else merged += s
    }
    merged.toSeq.map { s =>
      val inSet = s.files.map(_._3.path).toSet
      val all = s.files ++ foldable.filter { case (mn, mx, e) =>
        !inSet(e.path) && mn >= s.lo && mx <= s.hi
      }
      // Worst stack inside the hull, for telemetry and the spec.
      val ms = all.flatMap { case (mn, mx, _) => Seq((mn, 1), (mx, -1)) }
        .sortBy { case (c, d) => (c, -d) }
      var d = 0; var worst = 0
      ms.foreach { case (_, dd) => d += dd; worst = math.max(worst, d) }
      (all, s.lo, s.hi, worst)
    }
  }

  /** Maintenance tick for a KEY-clustered layout — the depth-triggered
    * RANGE-SHARDED fold ([[overlapDepth]]'s rationale: every appended
    * segment of a key-sorted replica spans the whole key domain, so
    * component-size triggers would full-rewrite on the first tick; the
    * honest trigger is the read amplification itself). While no key
    * range stacks more than `maxDepth` files the tick is a manifest
    * parse and commits nothing. Past it, the fold is sharded by key
    * range: [[overDepthFoldSets]] seeds minimal fold sets from the
    * over-depth key intervals (NOT range connectivity — adjacent
    * settled files share a whale key's split boundary, so a
    * connectivity merge would chain the whole layout), and ONLY those
    * fold sets are rewritten —
    * settled ranges pass to the new generation by reference, untouched
    * on disk. When appends are domain-spanning (the by-user replica's
    * steady state) every file is one component and the fold is the
    * whole layout — the honest tiered-compaction amortization, O(layout)
    * every maxDepth batches; when they are NARROW (a hot key slice, a
    * backfill, post-[[deleteKeys]] churn) the fold touches only the
    * over-depth slice and its cost tracks that slice's mass, not the
    * layout's (TickBench's byuser_shard section measures exactly this).
    *
    * Each folded component comes back as range-disjoint files sized by
    * [[foldFanout]] — per-file mass bounded by the bytes/rows targets
    * (session confs `spark.graft.fold.targetFileBytes` / `.targetFileRows`
    * or the call's overrides), so the file a point lookup admits stays
    * bounded as the layout grows instead of inheriting the growth
    * (`nOut > 0` forces a fixed per-component count — a test hook and
    * an escape hatch). `secondarySort` threads the layout's within-key
    * order through the fold (the by-user replica's (user_id, ts_us)):
    * without it a fold would silently drop the documented
    * read-in-time-order property AND the two-column range partitioning
    * that splits a whale key across files instead of into one
    * oversized task. Returns whether any fold committed.
    *
    * The trigger counts only FOLDABLE files — those [[compactRange]]
    * can actually rewrite. A stat-less file (nulls in the key column)
    * or one whose max is Long.MaxValue is permanently un-containable:
    * counting it would arm the trigger forever once such files exceed
    * the bound, and every tick would then full-rewrite the foldable
    * set without ever reducing the measured depth — an unbounded
    * rewrite livelock. Such files still admit on every keyed read
    * ([[overlapDepth]] reports them honestly); keep key columns
    * non-null by construction, as [[maintainClustered]]'s contract
    * already demands.
    *
    * Flat layouts only: entries under partition directories would be
    * invisible to the relDir="" fold while still arming the trigger —
    * refused loudly rather than ticking forever.
    */
  def maintainKeyed(spark: SparkSession, root: String, keyCol: String,
      maxDepth: Int = CompactAfterSegments, nOut: Int = -1,
      secondarySort: Seq[String] = Nil,
      targetFileBytes: Long = -1L, targetFileRows: Long = -1L): Boolean = {
    require(maxDepth >= 1, s"maxDepth must be positive, got $maxDepth")
    val tb = targetFoldBytes(spark, targetFileBytes)
    val tr = targetFoldRows(spark, targetFileRows)
    val over = overDepthFoldSets(spark, root, keyCol, maxDepth)
    over.foreach { c =>
      val n = if (nOut > 0) nOut else foldFanout(c.bytes, c.rows, tb, tr)
      // The hull captures exactly the fold set (containment-closed in
      // overDepthFoldSets; hulls of distinct sets are disjoint, so no
      // other foldable file is contained in [lo, hi]; hi <
      // Long.MaxValue by the foldable filter, so the exclusive bound
      // never overflows). Straddlers stay, by compactRange's contract.
      compactRange(spark, root, "", keyCol, c.lo, c.hi + 1L,
        nOut = n, secondarySort = secondarySort)
    }
    over.nonEmpty
  }

  /** Metadata-only batch acknowledgement: advance the batch high-water
    * mark to `batchId` WITHOUT adding files — the commit for a batch
    * whose processed output is empty (every row deduplicated away,
    * say). Without it a replay would re-derive the empty result on
    * every restart; with it the replay guard answers directly. Same
    * idempotence contract as [[appendBatch]].
    */
  def recordBatch(spark: SparkSession, root: String, batchId: Long): Boolean = {
    require(batchId >= 0L, s"batch ids are non-negative, got $batchId")
    val (p, fs) = hadoop(spark, root)
    commitAppend(fs, p, Nil, "append-batch",
      m => batchId > m.batchHwm, m => math.max(m.batchHwm, batchId))
  }

  def currentVersion(spark: SparkSession, root: String): Long = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"$root has no committed manifest — adopt() it first")
    vs.max
  }

  /** Segment files per grain (a sorted log's date range, a year
    * partition, a key slice) above which the maintenance ticks
    * ([[maintainSorted]], [[maintainKeyed]]) rewrite THAT grain — the
    * LSM bound applied at the layout grain, never the whole table.
    * Every append adds ≤ N files (N = the layout's partition count),
    * and scan task setup plus footer reads grow with file count even
    * when pruning is perfect; 16 keeps scan setup O(ideal) while a
    * compaction amortizes over many appends.
    */
  val CompactAfterSegments = 16

  /** Segment append, manifest-committed. `segment` must already carry
    * the layout's clustering (the caller applies its recipe function:
    * range-partitioned and sorted within partitions on the boundary
    * column), so every file it writes has tight disjoint min/max stats
    * over the batch's span — parquet stats are per file, so a boundary
    * scan prunes old segments by theirs and new segments by theirs.
    * `partitionDirs` writes the batch's rows as new files inside the
    * layout's SHARED partition directories (the orders-by-year
    * layout), so directory pruning still sees one tree.
    *
    * The batch is staged into the root (invisible — the current
    * manifest does not list it, and the staged file set is tracked
    * EXACTLY, never derived from a listing diff, so a concurrent
    * writer's files and a crashed attempt's orphans can never enter
    * this commit), then prev ∪ new is published as one atomic commit,
    * retrying the union if a concurrent commit wins the rename. A crash
    * before the commit leaves the current generation untouched and the
    * staged files as vacuumable orphans; there is no torn state to
    * recover. A root without a committed manifest is refused before
    * any write ([[create]] or [[adopt]] it first).
    */
  def appendSorted(segment: DataFrame, root: String,
      partitionDirs: Seq[String] = Nil,
      boundCol: Option[String] = None): Unit = {
    val spark = segment.sparkSession
    val (p, fs) = hadoop(spark, root)
    guardNotPartitionDir(spark, root)
    currentVersion(spark, root) // fail fast before any data is written
    val added = stageAppend(p, fs, segment, partitionDirs)
    failpoint("written:append")
    commitAppend(fs, p, entriesFor(spark, p, added, boundCol.toSeq), "append",
      _ => true, _.batchHwm)
    ()
  }

  /** An op aimed at a partition directory OF a manifested log would
    * write or retire files no manifest generation lists — invisible to
    * every reader and deleted as orphans by the next vacuum. Refuse
    * loudly toward the root-level API (`partitionDirs` for appends,
    * `relDir` for compaction). One parent level is the layout
    * family's nesting depth (root/year=YYYY).
    */
  private def guardNotPartitionDir(spark: SparkSession, root: String): Unit = {
    val parent = new org.apache.hadoop.fs.Path(root).getParent
    if (parent != null && isManifested(spark, parent.toString))
      throw new IllegalStateException(
        s"$root is a partition directory of the manifested log $parent — " +
          "an op here is invisible to the manifest and its files vacuumed " +
          "as orphans; append with partitionDirs or compact with " +
          "relDir at the log root instead")
  }

  /** Per-grain compaction, manifest-committed: the grain is the LIVE
    * (manifest-listed) files of `relDir` whose footer stats lie fully
    * inside [loIncl, hiExcl) — straddling files and files holding NULL
    * boundary values stay (compacting them would widen some grain's
    * stats; the null rows live in the log's leading files by the
    * recipe's nulls-first sort). The key-sorted replacement lands under a unique name, the commit swaps grain →
    * replacement in the file LIST, and the grain's files stay on disk
    * for pinned readers until [[vacuum]]. `relDir` selects a partition
    * directory of the year-partitioned layout ("" for flat logs).
    */
  def compactRange(spark: SparkSession, root: String, relDir: String,
      boundCol: String, loIncl: Long, hiExcl: Long, nOut: Int = 1,
      secondarySort: Seq[String] = Nil): Unit = {
    require(nOut >= 1, s"nOut must be positive, got $nOut")
    guardNotPartitionDir(spark, root)
    val (p, fs) = hadoop(spark, root)
    val conf = spark.sessionState.newHadoopConf()
    val v = currentVersion(spark, root)
    val m = readRaw(fs, p, v)
    val live = m.entries
    val grain = live.filter { e =>
      dirOf(e.path) == relDir &&
        classify(p, e, boundCol, loIncl, hiExcl, conf) ==
          Containment.Contained
    }
    if (grain.length <= 1) return // already compact
    // nOut > 1 is the whole-domain fold of a KEY-clustered replica
    // (its segments overlap all of history, so the grain can be the
    // entire layout): the replacement must come back as target-sized
    // range-disjoint files, not one monolith — at 100 TB a 1-file
    // rewrite of a domain-wide grain would also serialize the write.
    // secondarySort preserves a layout's within-key order and its
    // whale-splitting range partitioning (see [[maintainKeyed]]).
    val sortCols = (boundCol +: secondarySort)
      .map(org.apache.spark.sql.functions.col)
    val replacement = stageAppend(p, fs,
      spark.read.parquet(
          grain.map(e => new org.apache.hadoop.fs.Path(p, e.path).toString): _*)
        .repartitionByRange(nOut, sortCols: _*)
        .sortWithinPartitions(sortCols: _*), Nil, relDir)
    failpoint("written:compact")
    commit(fs, p, v + 1,
      live.diff(grain) ++ entriesFor(spark, p, replacement, Seq(boundCol)),
      "compact", m.batchHwm)
  }

  /** [[containment]] answered from manifest stats when the
    * entry carries them for this column (stats are recorded only when
    * the footer was trustworthy and null-free, so a stats straddle is
    * genuinely Unknown-for-this-grain), with a footer read as the
    * fallback for stats-less entries or other columns.
    */
  private def classify(p: org.apache.hadoop.fs.Path, e: Entry, col: String,
      loIncl: Long, hiExcl: Long,
      conf: org.apache.hadoop.conf.Configuration): Containment =
    e.statFor(col) match {
      case Some((mn, mx)) =>
        if (mx < loIncl || mn >= hiExcl) Containment.Disjoint
        else if (mn >= loIncl && mx < hiExcl) Containment.Contained
        else Containment.Unknown
      case None =>
        containment(new org.apache.hadoop.fs.Path(p, e.path), col,
          loIncl, hiExcl, conf)
    }

  /** The self-driving end of the [[CompactAfterSegments]] policy: ONE
    * maintenance-tick call that finds every over-fragmented grain and
    * compacts it, instead of leaving grain selection to the operator.
    * Grains are DERIVED from the live files' ranges, per partition
    * directory of the CURRENT manifest: files whose [min,max] intervals
    * overlap form a connected component (appends over the same span
    * always land in one component), and a component holding more than
    * `maxFiles` files is compacted over its exact span through
    * [[compactRange]]. Components of ≤ maxFiles files — including every
    * already-compacted history grain — are untouched, so a tick over a
    * year of history costs a manifest parse plus only the fragmented
    * grains' rewrites. Files without trustworthy stats (or with null
    * boundary values) belong to no component and are never touched.
    * Returns the compacted grains as (relDir, lo, hiExcl) for the
    * caller's ledger.
    */
  def maintainSorted(spark: SparkSession, root: String,
      boundCol: String,
      maxFiles: Int = CompactAfterSegments): Seq[(String, Long, Long)] = {
    require(maxFiles >= 1, "maxFiles must admit at least one file per grain")
    val conf = spark.sessionState.newHadoopConf()
    val rootPath = new org.apache.hadoop.fs.Path(root)
    // (relDir, recorded-or-footer range). Manifest entries carrying
    // stats for the bound column classify WITHOUT a footer read — at
    // 100k files the tick's discovery pass is then a manifest parse.
    val byDir: Map[String, Seq[Option[(Long, Long)]]] =
      currentEntries(spark, root)
        .map { e =>
          (dirOf(e.path), e.statFor(boundCol).orElse(fileRange(
            new org.apache.hadoop.fs.Path(rootPath, e.path), boundCol, conf)))
        }
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val done = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
    byDir.toSeq.sortBy(_._1).foreach { case (relDir, fileRanges) =>
      // Interval components over the files with usable stats.
      val ranged = fileRanges.flatten.sortBy(_._1)
      var i = 0
      while (i < ranged.length) {
        var (lo, hi) = ranged(i)
        var count = 1
        var j = i + 1
        while (j < ranged.length && ranged(j)._1 <= hi) {
          hi = math.max(hi, ranged(j)._2)
          count += 1
          j += 1
        }
        // hi == Long.MaxValue cannot be expressed as an exclusive
        // bound; such a grain (a sentinel timestamp) stays fragmented
        // rather than silently widening into a neighbor.
        if (count > maxFiles && hi < Long.MaxValue) {
          compactRange(spark, root, relDir, boundCol, lo, hi + 1)
          done += ((relDir, lo, hi + 1))
        }
        i = j
      }
    }
    done.toSeq
  }

  /** Keyed row deletion (the right-to-be-forgotten primitive),
    * manifest-committed. Given a tombstone set — the ids a regulator,
    * an opt-out feed, or a curation pass says must leave the corpus —
    * rewrite ONLY the live files that actually contain a tombstoned
    * row, retire files whose every row is tombstoned, and publish the
    * survivor state as one atomic generation. Untouched files pass
    * through by reference: their manifest lines (path AND stats) are
    * byte-identical across the commit, so at 100 TB a delete of one
    * user's documents costs O(files containing that user), never a
    * layout rewrite.
    *
    * Two phases, the standard copy-on-write DELETE shape:
    *
    *  1. '''Find.''' Candidate files narrow twice before any data page
    *     is read: entries whose manifest stats cover `keyCol` are kept
    *     only if some key falls inside their recorded [min, max] (an
    *     exact per-file range check via one broadcast of the file-range
    *     table — zero footer IO, zero data IO for everything outside);
    *     stats-less entries and other-column stats are always
    *     candidates. One scan of the candidates then left-joins the
    *     (deduplicated, null-free) key set and aggregates per file —
    *     total rows, tombstoned rows — so "touched", "retired", and
    *     `rowsDeleted` all come from that single pass.
    *  2. '''Rewrite.''' Per partition directory, the touched files'
    *     survivors restage as a key-clustered replacement
    *     (`repartitionByRange` over `boundCol` when given — deletion
    *     RESTORES intra-grain disjointness as a side effect, like a
    *     compaction), sized at one output file per touched input file.
    *     Files whose every row was tombstoned simply leave the list.
    *
    * The commit carries op `delete`: a grain mutation (single
    * maintainer, [[CommitConflict]] on a lost race — re-invoke and the
    * re-run converges, finding only whatever keys still remain), and a
    * loud [[TailResync]] for incremental consumers — a delete rewrites
    * committed history, so a path-diff tail would re-fold the
    * replacement files' rows as if they were new. Derived artifacts
    * follow through their own retraction family (see the TextOps
    * retraction section), driven by the same tombstone set.
    *
    * Disposal semantics match the rest of the layer: the pre-delete
    * generations remain readable ([[readAt]]) until [[vacuum]], which
    * is where the tombstoned bytes actually leave the disk — "no
    * longer served" and "destroyed" are separate, auditable steps.
    *
    * `keyCol` must be a physical column of the data files (footer
    * stats and the survivor rewrite both live below the partition-dir
    * encoding; a partition value is not a key).
    * Tombstone rows with a null key are ignored — null is not an
    * identity.
    */
  def deleteKeys(spark: SparkSession, root: String, keyCol: String,
      keys: DataFrame, boundCol: Option[String] = None): DeleteResult = {
    import org.apache.spark.sql.functions.{broadcast, col, count, input_file_name, lit}
    val (p, fs) = hadoop(spark, root)
    val v = currentVersion(spark, root)
    val m = readRaw(fs, p, v)
    val live = m.entries
    require(live.nonEmpty, s"$root lists no live files at v$v")
    // Pin the tombstone set: it is typically DERIVED from this very
    // log (a filter over read(root)), and it feeds one find pass plus
    // one rewrite per directory — recomputing the derivation per use
    // would also race our own commit.
    val tomb = keys.select(col(keyCol)).where(col(keyCol).isNotNull)
      .distinct().localCheckpoint()
    // Stats-exact candidate pruning: a stats-covered file is a
    // candidate iff some key lands in its recorded range. The range
    // table is O(live files) rows — broadcast it under the streamed
    // key set; collect returns at most one path per file.
    val (statted, statless) = live.partition(_.statFor(keyCol).isDefined)
    val statsCandidates: Seq[Entry] =
      if (statted.isEmpty) Nil
      else {
        val ranges = spark.createDataFrame(
          statted.map { e =>
            val (mn, mx) = e.statFor(keyCol).get
            (e.path, mn, mx)
          })
          .toDF("_gf_path", "_gf_mn", "_gf_mx")
        val hit = tomb.join(broadcast(ranges),
            col(keyCol).cast("long").between(col("_gf_mn"), col("_gf_mx")), "inner")
          .select("_gf_path").distinct().collect().map(_.getString(0)).toSet
        statted.filter(e => hit(e.path))
      }
    val rangeCandidates = statsCandidates ++ statless
    if (rangeCandidates.isEmpty) return DeleteResult(0, 0, 0L)
    // Bloom pruning closes the stats gap: for a layout NOT sorted by
    // the key (an events log sorted by time, deleted by user), every
    // file's key range covers the domain and stats prune nothing —
    // but a declared per-file bloom filter rejects the files that
    // cannot hold any tombstoned key from their footers alone. Keys
    // above the probe cap fall back to the scan deciding.
    val candidates: Seq[Entry] =
      if (!ParquetBlooms.declaredOf(fs, p).exists(_._1 == keyCol)) rangeCandidates
      else {
        val keyVals = tomb.limit(ParquetBlooms.MaxProbeKeys + 1)
          .collect().map(_.get(0)).toSeq
        if (keyVals.length > ParquetBlooms.MaxProbeKeys) rangeCandidates
        else {
          val admitted = ParquetBlooms.mayContainAny(spark,
            rangeCandidates.map(e =>
              new org.apache.hadoop.fs.Path(p, e.path).toString),
            keyCol, keyVals).toSet
          rangeCandidates.filter(e =>
            admitted(new org.apache.hadoop.fs.Path(p, e.path).toString))
        }
      }
    if (candidates.isEmpty) return DeleteResult(0, 0, 0L)
    val byAbs: Map[String, Entry] = candidates.map { e =>
      new org.apache.hadoop.fs.Path(p, e.path).toUri.getPath -> e
    }.toMap
    // One pass over the candidates decides everything: per-file totals
    // and tombstone hits (the key set is distinct, so the left join
    // cannot multiply rows). Reading WITHOUT basePath keeps the frame
    // to physical columns — exactly what the replacement files must
    // hold, with partition values staying encoded in directory names.
    val scan = spark.read.parquet(
      candidates.map(e => new org.apache.hadoop.fs.Path(p, e.path).toString): _*)
    require(scan.columns.contains(keyCol),
      s"'$keyCol' is not a physical column of $root — keyed deletion works " +
        "below the partition-dir encoding")
    val perFile = scan.select(col(keyCol), input_file_name().as("_gf_file"))
      .join(tomb.withColumn("_gf_hit", lit(1)), Seq(keyCol), "left")
      .groupBy("_gf_file")
      .agg(count(lit(1)).as("_gf_total"), count(col("_gf_hit")).as("_gf_hits"))
      .where(col("_gf_hits") > 0)
      .collect()
      .map { r =>
        val abs = new org.apache.hadoop.fs.Path(r.getString(0)).toUri.getPath
        (byAbs.getOrElse(abs, throw new IllegalStateException(
          s"scan returned a file outside the candidate set: ${r.getString(0)}")),
          r.getLong(1), r.getLong(2))
      }
    if (perFile.isEmpty) return DeleteResult(0, 0, 0L)
    val touched = perFile.map(_._1).toSeq
    val retired = perFile.count { case (_, total, hits) => hits == total }
    val rowsDeleted = perFile.map(_._3).sum
    // Rewrite survivors per partition directory, one output file per
    // touched input file (bounded file sizes; boundCol restores the
    // sorted-log clustering recipe on the replacement).
    val conf = spark.sessionState.newHadoopConf()
    val staged = perFile.toSeq.groupBy(t => dirOf(t._1.path)).toSeq.flatMap {
      case (relDir, ts) =>
        val es = ts.map(_._1)
        // Replacement splits = touched files that still HOLD rows; a
        // fully-tombstoned file retires and must not widen the range
        // partitioning into sub-sized output files.
        val nOut = math.max(1, ts.count { case (_, total, hits) => hits < total })
        val survivors = spark.read.parquet(
            es.map(e => new org.apache.hadoop.fs.Path(p, e.path).toString): _*)
          .join(tomb, Seq(keyCol), "left_anti")
        val clustered = boundCol match {
          case Some(bc) => survivors
            .repartitionByRange(nOut, col(bc)).sortWithinPartitions(bc)
          case None => survivors
        }
        // A fully-tombstoned grain may still stage one schema-only
        // empty part; dropping it here is what makes "retired without
        // replacement" literal in the manifest.
        stageAppend(p, fs, clustered, Nil, relDir).filter { rel =>
          val f = new org.apache.hadoop.fs.Path(p, rel)
          fileRowCount(f, conf) > 0L || { fs.delete(f, false); false }
        }
    }
    val remaining = live.diff(touched)
    require(remaining.nonEmpty || staged.nonEmpty,
      s"this tombstone set deletes EVERY live row of $root — an empty layout " +
        "is indistinguishable from a torn one; drop the layout explicitly " +
        "instead")
    failpoint("written:delete")
    commit(fs, p, v + 1, remaining ++ entriesFor(spark, p, staged, boundCol.toSeq),
      "delete", m.batchHwm)
    DeleteResult(touched.length - retired, retired, rowsDeleted)
  }

  /** The disposal end: delete data files no KEPT generation references
    * (retired grains, crash orphans, stranded stage dirs) and the
    * superseded manifests themselves, keeping the newest `keepLast`
    * generations readable. Two grace policies, both explicit:
    * readers — run vacuum only when no reader pins a generation older
    * than the kept window; writers — an IN-FLIGHT append's files are
    * unreferenced until its manifest commits, so either quiesce all
    * writers before a `graceMs = 0` vacuum, or pass a `graceMs` above
    * the longest stage→commit latency and concurrent appenders are
    * safe (only unreferenced files/stage dirs whose modification time
    * is older than the window are touched — the Delta VACUUM
    * retention pattern). Returns the deleted paths (the specs' audit
    * trail).
    */
  def vacuum(spark: SparkSession, root: String, keepLast: Int = 1,
      graceMs: Long = 0L): Seq[String] = {
    require(keepLast >= 1, "vacuum must keep at least the current generation")
    require(graceMs >= 0L, s"graceMs must be non-negative, got $graceMs")
    val (p, fs) = hadoop(spark, root)
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"$root has no committed manifest")
    val kept = vs.takeRight(keepLast)
    val referenced = kept.flatMap(readManifest(fs, p, _)).map(_.path).toSet
    val horizon = System.currentTimeMillis() - graceMs
    def aged(st: org.apache.hadoop.fs.FileStatus): Boolean =
      st.getModificationTime <= horizon
    val deleted = scala.collection.mutable.ArrayBuffer[String]()
    // Orphan/retired data files (inside the grace window = possibly a
    // concurrent appender's staged-and-renamed, not-yet-committed
    // batch — left alone; the next vacuum gets them if truly orphaned).
    listDataFiles(fs, p).filterNot(referenced).foreach { rel =>
      val f = new org.apache.hadoop.fs.Path(p, rel)
      if (graceMs == 0L || aged(fs.getFileStatus(f))) {
        fs.delete(f, false)
        deleted += rel
      }
    }
    // Stranded stage dirs (a crash between stage and publish); a young
    // one may be an append mid-write.
    fs.listStatus(p).filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(".stage-") &&
        (graceMs == 0L || aged(st))).foreach { st =>
      fs.delete(st.getPath, true)
      deleted += st.getPath.getName
    }
    // Superseded manifests, plus any crash-stranded commit or sidecar
    // temp.
    vs.dropRight(keepLast).foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(manifestDir(p), manifestName(v)), false)
      deleted += s"$ManifestDirName/${manifestName(v)}"
    }
    // A young .tmp- may be a concurrent commit between write and
    // rename — same grace window as the data side.
    fs.listStatus(manifestDir(p))
      .filter(st => st.getPath.getName.startsWith(".tmp-") &&
        (graceMs == 0L || aged(st))).foreach { st =>
        fs.delete(st.getPath, false)
        deleted += s"$ManifestDirName/${st.getPath.getName}"
      }
    deleted.toSeq
  }

  // ---- internals ----

  private[util] sealed trait Containment
  private[util] object Containment {
    case object Contained extends Containment
    case object Disjoint extends Containment
    case object Unknown extends Containment
  }

  /** Footer classification of one file against a value grain: fully
    * inside, fully outside (all-null files count as outside — null
    * boundaries sort into the log's leading files and belong to no
    * value range), or not decidable from trustworthy stats. One footer
    * read, no data pages.
    */
  private[util] def containment(file: org.apache.hadoop.fs.Path, column: String,
      lo: Long, hi: Long,
      conf: org.apache.hadoop.conf.Configuration): Containment = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    try {
      import scala.jdk.CollectionConverters._
      var nulls = 0L
      var mn = Long.MaxValue
      var mx = Long.MinValue
      var anyValue = false
      var unusable = false
      reader.getFooter.getBlocks.asScala.foreach { b =>
        b.getColumns.asScala.find(_.getPath.toDotString == column)
          .flatMap(c => Option(c.getStatistics)) match {
          case Some(s) if s.getNumNulls >= 0 =>
            nulls += s.getNumNulls
            if (s.hasNonNullValue) (s.genericGetMin, s.genericGetMax) match {
              case (a: java.lang.Long, z: java.lang.Long) =>
                anyValue = true
                mn = math.min(mn, a.toLong)
                mx = math.max(mx, z.toLong)
              case _ => unusable = true
            }
          case _ => unusable = true
        }
      }
      if (unusable) Containment.Unknown
      else if (!anyValue) Containment.Disjoint
      else if (mx < lo || mn >= hi) Containment.Disjoint
      else if (mn >= lo && mx < hi && nulls == 0) Containment.Contained
      else Containment.Unknown
    } finally reader.close()
  }

  /** Footer min/max of a BIGINT column in one parquet file — None when
    * any row group lacks usable stats or holds nulls (the conservative
    * answer: such a file is never selected for compaction). One footer
    * read, no data pages.
    */
  private[util] def fileRange(file: org.apache.hadoop.fs.Path, column: String,
      conf: org.apache.hadoop.conf.Configuration): Option[(Long, Long)] =
    fileFooter(file, Seq(column), conf)._2.get(column)

  /** The row count and the trustworthy [min, max] per requested column
    * of one parquet file, from ONE footer read (no data pages) — the
    * multi-stat manifest recording path would otherwise open the same
    * footer once per cluster column. A column is present in the ranges
    * only when EVERY row group carries null-free, long-decodable
    * statistics for it (the single-column contract, unchanged).
    */
  private def fileFooter(file: org.apache.hadoop.fs.Path,
      columns: Seq[String],
      conf: org.apache.hadoop.conf.Configuration): (Long, Map[String, (Long, Long)]) = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    try {
      import scala.jdk.CollectionConverters._
      val blocks = reader.getFooter.getBlocks.asScala
      reader.getRecordCount -> columns.flatMap { column =>
        val perBlock = blocks.map { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == column)
            .flatMap(c => Option(c.getStatistics))
            .filter(s => !s.isEmpty && s.hasNonNullValue && s.getNumNulls == 0)
            .flatMap(s => (s.genericGetMin, s.genericGetMax) match {
              case (mn: java.lang.Long, mx: java.lang.Long) => Some((mn.toLong, mx.toLong))
              case _ => None
            })
        }
        if (perBlock.isEmpty || perBlock.exists(_.isEmpty)) None
        else Some(column ->
          (perBlock.flatten.map(_._1).min, perBlock.flatten.map(_._2).max))
      }.toMap
    } finally reader.close()
  }

  /** Footer row count of one parquet file — one footer read, no data
    * pages. The delete paths use it to drop schema-only empty parts a
    * fully-tombstoned grain's write may leave behind.
    */
  private[util] def fileRowCount(file: org.apache.hadoop.fs.Path,
      conf: org.apache.hadoop.conf.Configuration): Long =
    fileFooter(file, Nil, conf)._1

  private[util] def manifestName(v: Long) = f"v$v%09d.manifest"

  private def dirOf(rel: String): String = {
    val i = rel.lastIndexOf('/')
    if (i < 0) "" else rel.take(i)
  }

  /** Stage-write `df`: it lands under a hidden stage dir (optionally
    * partitioned by `partitionDirs`), with the declared bloom writer
    * options, then every data file renames to its place under
    * `relDir` ("" = the root), keeping its partition dirs. The renamed
    * files are INVISIBLE until a manifest lists them, and the returned
    * root-relative set is tracked exactly from the stage walk — never
    * from a root listing — which is what makes concurrent writers and
    * crash replays unable to adopt each other's files. Part names
    * carry a job UUID, so collisions cannot occur.
    */
  private def stageAppend(p: org.apache.hadoop.fs.Path,
      fs: org.apache.hadoop.fs.FileSystem, df: DataFrame,
      partitionDirs: Seq[String], relDir: String = ""): Seq[String] = {
    val stage = new org.apache.hadoop.fs.Path(p, s".stage-${java.util.UUID.randomUUID}")
    val w = df.write.mode("overwrite")
      .options(ParquetBlooms.writerOptions(fs, p))
    (if (partitionDirs.nonEmpty) w.partitionBy(partitionDirs: _*) else w)
      .parquet(stage.toString)
    val out = listDataFiles(fs, stage).map { rel =>
      val dstRel = if (relDir.isEmpty) rel else s"$relDir/$rel"
      val dst = new org.apache.hadoop.fs.Path(p, dstRel)
      fs.mkdirs(dst.getParent)
      if (!fs.rename(new org.apache.hadoop.fs.Path(stage, rel), dst))
        throw new java.io.IOException(s"stage rename failed: $rel under $stage")
      dstRel
    }
    fs.delete(stage, true)
    out
  }

  /** Recursive relative data-file listing (skips `_`/`.`-prefixed
    * names at every level — committer markers, manifest dir, stage
    * dirs).
    */
  private def listDataFiles(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[String] = {
    def walk(dir: org.apache.hadoop.fs.Path, prefix: String): Seq[String] =
      fs.listStatus(dir).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Nil
        else if (st.isDirectory) walk(st.getPath, s"$prefix$n/")
        else if (n.endsWith(".parquet")) Seq(s"$prefix$n")
        else Nil
      }
    if (fs.exists(root)) walk(root, "") else Nil
  }

  private def readManifest(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, v: Long): Seq[Entry] =
    readRaw(fs, root, v).entries

  /** One committed manifest, parsed. The header is space-separated
    * `graft-manifest-v1 op=<tag> batch-hwm=<id>`; a bare header
    * (earlier manifests) reads as op "unknown", and an absent
    * `batch-hwm` token reads as -1 (no batch ever committed).
    */
  private[util] def readRaw(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, v: Long): Manifest = {
    val f = new org.apache.hadoop.fs.Path(manifestDir(root), manifestName(v))
    val in = fs.open(f)
    try {
      val lines = scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      require(lines.headOption.exists(_.startsWith(Header)),
        s"$f is not a ${Header} manifest")
      val tokens = lines.head.split(' ')
      def tagged(prefix: String): Option[String] =
        tokens.find(_.startsWith(prefix)).map(_.drop(prefix.length))
      val entries = lines.tail.filter(_.nonEmpty).map(parseEntry)
      // Truncation check: a manifest that declares its entry count
      // must deliver exactly that many lines (older manifests without
      // the token parse as before).
      tagged("entries=").map(_.toInt).foreach { n =>
        require(entries.length == n,
          s"$f is truncated or corrupt: header declares $n entries, " +
            s"parsed ${entries.length} — refusing to serve a shrunken table")
      }
      Manifest(
        tagged("op=").getOrElse("unknown"),
        tagged("batch-hwm=").map(_.toLong).getOrElse(-1L),
        entries)
    } finally in.close()
  }

  /** A [[tailSince]] result: either the appended files since the
    * cursor (possibly none — compaction and clustering commit versions
    * without new rows), or the instruction to resync from a full read.
    */
  sealed trait Tail { def toVersion: Long }

  /** Files holding exactly the rows appended in (fromVersion,
    * toVersion]; advance the cursor to `toVersion` after processing.
    */
  final case class TailAppended(toVersion: Long, files: Seq[String]) extends Tail

  /** Incremental consumption is invalid over this range — the consumer
    * must rebuild its derived state from the current generation (and
    * resume tailing from `toVersion`). The causes: a commit rewrote or
    * deleted committed history (a keyed deletion, a whole-generation
    * rebuild, or an op the tail protocol does not know), or the cursor
    * fell out of [[vacuum]]'s kept-manifest window.
    */
  final case class TailResync(toVersion: Long, reason: String) extends Tail

  /** The changes feed — what a table format exposes as a streaming
    * source, reduced to what a parquet log's manifest chain can answer
    * without any extra bookkeeping: the files committed AFTER a
    * consumer's version cursor that carry genuinely new rows. Each
    * commit's op tag decides its contribution: append/append-batch
    * (and the adopting or snapshot first generation, for a cursor of
    * 0) contribute their added files; compaction contributes NOTHING
    * (it rewrites rows the consumer already has — re-emitting them is
    * exactly the bug this feed exists to avoid); a keyed deletion and
    * a whole-generation rebuild invalidate incremental reading and
    * demand a loud resync, as do an op the protocol does not know and
    * a cursor older than the oldest kept manifest.
    * Files referenced by kept manifests are vacuum-safe by the same
    * contract that protects pinned readers, so every returned file is
    * readable until the consumer's grace window closes.
    *
    * At 100 TB this is the downstream-maintenance primitive: a derived
    * artifact (digest index, tf table, signature table) folds in
    * O(new data) per poll instead of rescanning the log, and the
    * manifest chain—not file mtimes or naming conventions—defines
    * "new".
    */
  def tailSince(spark: SparkSession, root: String, fromVersion: Long): Tail = {
    require(fromVersion >= 0L, s"version cursors are non-negative, got $fromVersion")
    val (p, fs) = hadoop(spark, root)
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"$root has no committed manifest — adopt() it first")
    val cur = vs.max
    if (fromVersion >= cur) return TailAppended(cur, Nil)
    // The diff needs every manifest in [max(fromVersion,1), cur]; commits
    // are dense (+1 each), so a vacuumed-away base shows as min > that.
    if (vs.min > math.max(fromVersion, 1L))
      return TailResync(cur,
        s"cursor v$fromVersion is older than the oldest kept manifest " +
          s"v${vs.min} — vacuum outran this consumer; rebuild from v$cur")
    var prevPaths: Set[String] =
      if (fromVersion == 0L) Set.empty
      else readManifest(fs, p, fromVersion).map(_.path).toSet
    val added = Seq.newBuilder[String]
    ((fromVersion + 1L) to cur).foreach { v =>
      val m = readRaw(fs, p, v)
      m.op match {
        case "append" | "append-batch" | "adopt" | "create" | "snapshot" =>
          added ++= m.entries.map(_.path).filterNot(prevPaths)
        case "compact" | "cluster" => () // rewrites of rows the consumer already has
        case "rebuild" =>
          return TailResync(cur,
            s"v$v replaced the whole generation — rebuild derived state from v$cur")
        case "delete" =>
          // A delete's replacement files HOLD rows the consumer already
          // folded — emitting them would double those rows, and the
          // tombstoned rows cannot be expressed as appends at all.
          return TailResync(cur,
            s"v$v deleted keyed rows from committed history — rebuild " +
              s"derived state from v$cur (and retract through the " +
              "artifact-level retraction family)")
        case other =>
          return TailResync(cur,
            s"v$v carries op '$other' unknown to the tail protocol — " +
              s"refusing to guess its row semantics; rebuild from v$cur")
      }
      prevPaths = m.entries.map(_.path).toSet
    }
    TailAppended(cur,
      added.result().map(f => new org.apache.hadoop.fs.Path(p, f).toString))
  }

  /** The rows behind a [[TailAppended]], as one DataFrame (None when
    * the tail carried no new files). `basePath` keeps partition-dir
    * columns visible, exactly as [[read]] does.
    */
  def readTail(spark: SparkSession, root: String, tail: TailAppended,
      options: Map[String, String] = Map.empty): Option[DataFrame] =
    if (tail.files.isEmpty) None
    else Some(spark.read.options(options).option("basePath", root)
      .parquet(tail.files: _*))

  /** The audit trail: (version, operation, live-file count) per kept
    * generation — what happened to this layout and when, answerable
    * from the manifest directory alone.
    */
  def describe(spark: SparkSession, root: String): Seq[(Long, String, Int)] = {
    val (p, fs) = hadoop(spark, root)
    versions(spark, root).map { v =>
      val m = readRaw(fs, p, v)
      (v, m.op, m.entries.length)
    }
  }

  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]

  /** The ONE visibility step every mutation funnels through: write the
    * manifest body to a dot-tmp sibling named for this commit alone
    * (version plus a random id, so no other writer, in this JVM or
    * another, can rewrite it before the rename), fsync-close, then a
    * single atomic rename to its final version name. Rename-onto-existing
    * fails, so a duplicate version (a second writer, or a replayed
    * crash) is loud, never a silent overwrite; the loser deletes its
    * own temp. Every commit carries the
    * batch high-water mark forward (`batchHwm` < 0 = never seen a
    * batch), so the CURRENT manifest alone answers [[appendBatch]]'s
    * replay guard — the guard survives [[vacuum]] of old manifests and
    * any interleaved maintenance commit.
    *
    * `entries=<n>` makes truncation detectable: visibility is one
    * rename, but a filesystem without atomic rename semantics (or
    * plain bit rot) could surface a partial manifest — and a SHORT
    * file list silently shrinks the table. Parse verifies the count.
    *
    * One commit at a time per root WITHIN this JVM. The exists+rename
    * conflict check is atomic only on filesystems whose rename refuses
    * an existing destination (HDFS and the object-store committers
    * honor this); POSIX rename(2) — what RawLocalFileSystem's
    * File.renameTo compiles to — REPLACES an existing destination, so
    * two unserialized local-FS commits of the same version could both
    * "win" the race with one manifest silently overwritten. Every
    * concurrent writer this engine actually runs (prepare chains,
    * streaming sinks, maintenance ticks) lives in one driver JVM, so
    * the mutex closes the real race; cross-PROCESS writers keep the
    * documented filesystem requirement (atomic no-overwrite rename).
    * Without it, the later of two racing renames replaces the earlier
    * manifest whole: the version lists one writer's files, and the
    * other writer's staged files become unreferenced orphans.
    */
  private[util] def commit(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, v: Long, entries: Seq[Entry],
      op: String, batchHwm: Long): Unit = {
    val lock = commitLocks.computeIfAbsent(root.toString, _ => new Object)
    lock.synchronized {
      val dir = manifestDir(root)
      val tmp = new org.apache.hadoop.fs.Path(dir,
        s".tmp-${manifestName(v)}-${java.util.UUID.randomUUID}")
      val dst = new org.apache.hadoop.fs.Path(dir, manifestName(v))
      val header =
        s"$Header op=$op entries=${entries.length}" +
          (if (batchHwm >= 0L) s" batch-hwm=$batchHwm" else "")
      val out = fs.create(tmp, false)
      try out.write((header +: entries.sortBy(_.path).map(_.line))
        .mkString("", "\n", "\n").getBytes("UTF-8"))
      finally out.close()
      failpoint("staged:manifest")
      if (fs.exists(dst) || !fs.rename(tmp, dst)) {
        fs.delete(tmp, false)
        throw new CommitConflict(
          s"manifest commit lost the race: v$v already exists ($tmp -> $dst) " +
            "— a concurrent commit published first")
      }
    }
  }
}
