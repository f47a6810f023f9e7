package graft.util

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.execution.datasources.{DataSource, FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Manifest-committed generations for the BUCKETED co-location pairs —
  * the bucketed twin of [[ManifestLog]], with no catalog anywhere.
  *
  * Both halves go through Spark's file-source layer directly. Writes
  * run Spark's own bucketed file writer ([[stageBucketed]]), which
  * names each file with its `_NNNNN` bucket id. Reads put a
  * manifest-backed `FileIndex` (the planner's file-discovery seam)
  * inside a `HadoopFsRelation` carrying the layout's `BucketSpec`, so
  * the scan maps files to buckets by that name: `Bucketed: true`
  * scans and zero key exchanges on co-located joins, while the file
  * SET comes from one committed manifest generation. Readers pin a
  * generation, maintenance retires-never-deletes, vacuum is the only
  * deleter: the full [[ManifestLog]] contract, for bucket grains.
  *
  * The bucket spec (keys, count) is recorded next to the manifests at
  * the build and validated on every append, so a mismatched segment
  * fails loudly before any write.
  *
  * Scale shape: K appends leave K files per bucket, [[maintain]]
  * compacts per bucket grain, and a join on the bucket key never
  * shuffles either side. The cost is the manifest read at plan build;
  * the gain is snapshot isolation — appends and compactions run under
  * concurrent readers.
  */
object BucketedManifest {

  /** The layout's recorded bucket spec: the full bucketing key list
    * (a composite grain plans with its full `BucketSpec`) and the
    * bucket count. `keyType` (a single key column's Catalyst type)
    * lets [[deleteKeys]] hash tombstones with the exact bucketing type
    * without opening any data file; spec files written before the
    * field read as None and fall back to one footer read.
    */
  final case class Spec(keys: Seq[String], buckets: Int,
      keyType: Option[org.apache.spark.sql.types.DataType] = None)

  private val SpecFile = "bucket-spec"

  /** Build a bucketed layout at `root` in ONE commit: record its spec
    * (and `statCols`, the stat columns later appends record), stage
    * each segment as one file per non-empty bucket, and commit exactly
    * those files, with per-file `statCols` stats, as generation 1
    * ([[ManifestLog.commitStaged]]: a builder that loses the v1 race
    * drops its staged files and the winner's generation stands).
    * Several segments leave each bucket one file per segment — the
    * per-year files whose disjoint date stats the li-ok-pair layout
    * prunes on. With `sourceRows`, the staged files' footer row counts
    * must add up to it, or the build throws before the commit. When
    * no segment has a row, one schema-only file is staged in bucket 0,
    * so the generation still reads back with the build's schema.
    */
  def build(segments: Seq[DataFrame], root: String, keys: Seq[String], buckets: Int,
      statCols: Seq[String] = Nil, sourceRows: Option[Long] = None): Unit = {
    require(segments.nonEmpty, s"no segment to build $root from")
    val spark = segments.head.sparkSession
    val (p, fs) = ManifestLog.hadoop(spark, root)
    val s = recordSpec(spark, root, segments.head.schema, keys, buckets)
    if (statCols.nonEmpty) declareStats(spark, root, statCols)
    val staged = segments.flatMap(stageBucketed(p, fs, _, s)) match {
      // The bucketed writer writes no file for no rows; the plain
      // writer's one schema-only part is named into bucket 0.
      case Nil => stage(p, fs, segments.head.limit(0), None, bucketNamed(_, 0))
      case files => files
    }
    val entries = sourceRows match {
      case None => ManifestLog.entriesFor(spark, p, staged, statCols)
      case Some(n) =>
        // The stats' footer read gives each staged file's row count too.
        val footers = ManifestLog.footersFor(spark, p, staged, statCols)
        val got = footers.map(_._2).sum
        require(got == n, s"$root staged $got of $n source rows — refusing to commit")
        footers.map(_._1)
    }
    ManifestLog.commitStaged(fs, p, 1L, staged, entries)
  }

  private def recordSpec(spark: SparkSession, root: String, schema: StructType,
      keys: Seq[String], buckets: Int): Spec = {
    require(keys.nonEmpty && keys.forall(schema.fieldNames.contains),
      s"bucket keys $keys must be columns of ${schema.fieldNames.mkString(",")}")
    val s = Spec(keys, buckets,
      if (keys.length == 1) Some(schema(keys.head).dataType) else None)
    val (p, fs) = ManifestLog.hadoop(spark, root)
    val tail = s.keyType.map(t => s"\t${t.json}").getOrElse("")
    ManifestLog.recordSidecar(fs, p, SpecFile, "bucket spec",
      s"${s.keys.mkString(",")}\t${s.buckets}$tail\n")
    s
  }

  /** The layout's recorded bucket spec. */
  def spec(spark: SparkSession, root: String): Spec = {
    val (p, fs) = ManifestLog.hadoop(spark, root)
    val f = new Path(ManifestLog.manifestDir(p), SpecFile)
    val in = fs.open(f)
    val line = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().next()
    finally in.close()
    line.split('\t') match {
      case Array(k, n) => Spec(k.split(',').toSeq, n.toInt)
      case Array(k, n, tj) => Spec(k.split(',').toSeq, n.toInt,
        Some(org.apache.spark.sql.types.DataType.fromJson(tj)))
      case _ => throw new IllegalStateException(s"unparseable bucket spec at $f")
    }
  }

  private val StatColsFile = "stat-cols"

  /** Declare columns whose per-file [min, max] every later staged
    * write records in the manifest (the [[ParquetBlooms.declare]]
    * pattern). The bucket KEY hashes across files, so its range is
    * useless — the columns worth declaring are the ones ingest
    * naturally clusters per batch (event time, ship date): K appends
    * leave K files per bucket with tight disjoint ranges, and a
    * pushed boundary filter then prunes whole FILES at plan time
    * through the manifest index ([[ManifestFileIndex.listFiles]]) —
    * on top of the row-group pruning inside admitted files. Files
    * written before the declaration stay stats-less (never pruned).
    * A root records ONE declaration ([[ManifestLog.recordSidecar]]).
    */
  def declareStats(spark: SparkSession, root: String, cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "declare at least one stat column")
    val (p, fs) = ManifestLog.hadoop(spark, root)
    ManifestLog.recordSidecar(fs, p, StatColsFile, "stat columns",
      cols.mkString("", "\n", "\n"))
  }

  private def declaredStats(fs: org.apache.hadoop.fs.FileSystem,
      p: Path): Seq[String] = {
    val f = new Path(ManifestLog.manifestDir(p), StatColsFile)
    if (!fs.exists(f)) return Nil
    val in = fs.open(f)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).toList
    finally in.close()
  }

  /** The current generation as a BUCKETED DataFrame: the manifest's
    * exact file set behind a [[FileIndex]], inside a
    * [[HadoopFsRelation]] carrying the recorded [[BucketSpec]] — the
    * same relation shape the catalog read path plans, so co-located
    * joins and aggregations on the key add no exchange.
    */
  def read(spark: SparkSession, root: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    // Relation-cached per generation (r22, the Tables.cachedParquet
    // seam): a generation is an immutable commit, so (root, version,
    // options) pins the relation exactly — repeated reads skip the
    // per-call schema re-resolution (~100 ms of ResolveDataSource per
    // consumer execution). Appends commit a new version → new key.
    val v = ManifestLog.currentVersion(spark, root)
    graft.util.Tables.relationCached(
      spark, s"bm:$root:v$v:${options.toSeq.sorted.mkString(",")}")(
      readAt(spark, root, v, options))
  }

  /** Time travel over the bucketed layout ([[ManifestLog.readAt]]'s
    * contract: any generation inside vacuum's kept window). `options`
    * passes reader options through exactly as [[ManifestLog.readAt]]
    * does; `mergeSchema -> true` additionally widens the relation
    * schema across the generation's WHOLE file set (a parallel footer
    * job, no data pages) — without it the schema comes from one
    * arbitrary file and columns added by later appends would silently
    * drop.
    */
  def readAt(spark: SparkSession, root: String, version: Long,
      options: Map[String, String] = Map.empty): DataFrame = {
    val (p, fs) = ManifestLog.hadoop(spark, root)
    val s = spec(spark, root)
    val entries = ManifestLog.readRaw(fs, p, version).entries
    require(entries.nonEmpty, s"manifest v$version of $root lists no files")
    val statused: Array[(FileStatus, ManifestLog.Entry)] =
      entries.map(e => (fs.getFileStatus(new Path(p, e.path)), e)).toArray
    val merge = options.get("mergeSchema").exists(_.toBoolean)
    val schema =
      if (merge) spark.read.options(options)
        .parquet(statused.map(_._1.getPath.toString).toIndexedSeq: _*).schema
      else spark.read.parquet(statused.head._1.getPath.toString).schema
    val index = new ManifestFileIndex(p, statused)
    spark.baseRelationToDataFrame(HadoopFsRelation(
      index, StructType(Nil), schema,
      Some(BucketSpec(s.buckets, s.keys, s.keys)),
      new ParquetFileFormat, options)(spark))
  }

  /** Stats-aware UNBUCKETED read of a FLAT manifested root: the
    * manifest's exact file set behind the same pruning
    * [[ManifestFileIndex]] the co-location pairs use, minus the bucket
    * spec. Pushed comparisons between a plain column and an integral
    * literal skip whole files at PLAN time from the manifest-recorded
    * stats — no special read API, the consumer's ordinary `.filter`
    * bounds do the skipping. This is how the memoized one-shot slice
    * artifacts (the ship-date-sorted lineitem log) serve the benched
    * TPC-H date family once [[ManifestLog.adopt]] has recorded their
    * per-file ranges. Flat roots only (files in partition directories
    * carry dir-encoded columns this relation cannot reconstruct —
    * those keep the basePath read).
    */
  def readIndexed(spark: SparkSession, root: String): DataFrame = {
    val ver = ManifestLog.currentVersion(spark, root)
    // Same per-generation relation cache as [[read]] (r22).
    graft.util.Tables.relationCached(spark, s"mi:$root:v$ver")(
      readIndexedAt(spark, root, ver))
  }

  private def readIndexedAt(
      spark: SparkSession, root: String, ver: Long): DataFrame = {
    val (p, fs) = ManifestLog.hadoop(spark, root)
    val entries = ManifestLog.readRaw(fs, p, ver).entries
    require(entries.nonEmpty, s"manifest of $root lists no files")
    require(entries.forall(!_.path.contains("/")),
      s"$root holds partition directories — readIndexed serves flat roots only")
    val statused: Array[(FileStatus, ManifestLog.Entry)] =
      entries.map(e => (fs.getFileStatus(new Path(p, e.path)), e)).toArray
    val schema = spark.read.parquet(statused.head._1.getPath.toString).schema
    val index = new ManifestFileIndex(p, statused)
    spark.baseRelationToDataFrame(HadoopFsRelation(
      index, StructType(Nil), schema, None,
      new ParquetFileFormat, Map.empty[String, String])(spark))
  }

  /** The planner's file-discovery seam, answered from one committed
    * manifest generation instead of a directory listing. Flat (the
    * co-location pairs carry no partition dirs), immutable by
    * construction — refresh is a no-op because the file set IS the
    * pinned generation.
    *
    * `listFiles` additionally SKIPS files whose manifest-recorded
    * stats contradict the pushed data filters — the automatic half of
    * data skipping: declared stat columns ([[declareStats]]) prune at
    * PLAN time through the standard planner seam, with no special read
    * API. Recognition is deliberately narrow (a comparison between a
    * plain attribute and an integral literal); anything else keeps
    * every file — pruning may only ever widen, never drop.
    */
  private final class ManifestFileIndex(
      root: Path, statused: Array[(FileStatus, ManifestLog.Entry)])
    extends FileIndex {
    override def rootPaths: Seq[Path] = Seq(root)
    override def listFiles(
        partitionFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
        dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[PartitionDirectory] = {
      val preds = dataFilters.flatMap(statBounds)
      val kept =
        if (preds.isEmpty) statused
        else statused.filter { case (_, e) =>
          preds.forall { case (c, lo, hi) => e.mayOverlap(c, lo, hi) }
        }
      Seq(PartitionDirectory(InternalRow.empty, kept.map(_._1)))
    }
    override def inputFiles: Array[String] = statused.map(_._1.getPath.toString)
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = statused.map(_._1.getLen).sum
    override def partitionSchema: StructType = StructType(Nil)
  }

  /** [loIncl, hiExcl) bounds a pushed filter implies for recorded stat
    * columns — `hiExcl == Long.MaxValue` means unbounded above, the
    * [[ManifestLog.Entry.mayOverlap]] sentinel. Unrecognized shapes
    * contribute nothing (conservative).
    */
  private def statBounds(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
    : Seq[(String, Long, Long)] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types._
    def longOf(l: Literal): Option[Long] = (l.dataType, l.value) match {
      case (_, null) => None
      case (LongType, v: Long) => Some(v)
      case (IntegerType, v: Int) => Some(v.toLong)
      case (ShortType, v: Short) => Some(v.toLong)
      case (ByteType, v: Byte) => Some(v.toLong)
      case (DateType, v: Int) => Some(v.toLong)
      case (TimestampType, v: Long) => Some(v)
      case (TimestampNTZType, v: Long) => Some(v)
      case _ => None
    }
    def geq(a: AttributeReference, v: Long) = Seq((a.name, v, Long.MaxValue))
    def gt(a: AttributeReference, v: Long) =
      if (v == Long.MaxValue) Nil else Seq((a.name, v + 1L, Long.MaxValue))
    def lt(a: AttributeReference, v: Long) = Seq((a.name, Long.MinValue, v))
    def leq(a: AttributeReference, v: Long) =
      // v == MaxValue: unbounded above — nothing to prune on.
      if (v == Long.MaxValue) Nil else Seq((a.name, Long.MinValue, v + 1L))
    e match {
      case And(l, r) => statBounds(l) ++ statBounds(r)
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
        longOf(l).toSeq.flatMap(geq(a, _))
      case GreaterThan(a: AttributeReference, l: Literal) =>
        longOf(l).toSeq.flatMap(gt(a, _))
      case LessThan(a: AttributeReference, l: Literal) =>
        longOf(l).toSeq.flatMap(lt(a, _))
      case LessThanOrEqual(a: AttributeReference, l: Literal) =>
        longOf(l).toSeq.flatMap(leq(a, _))
      case EqualTo(a: AttributeReference, l: Literal) =>
        longOf(l).toSeq.flatMap(v =>
          if (v == Long.MaxValue) geq(a, v) else Seq((a.name, v, v + 1L)))
      // Mirrored literal-on-left forms.
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
        longOf(l).toSeq.flatMap(leq(a, _))
      case GreaterThan(l: Literal, a: AttributeReference) =>
        longOf(l).toSeq.flatMap(lt(a, _))
      case LessThan(l: Literal, a: AttributeReference) =>
        longOf(l).toSeq.flatMap(gt(a, _))
      case LessThanOrEqual(l: Literal, a: AttributeReference) =>
        longOf(l).toSeq.flatMap(geq(a, _))
      case EqualTo(l: Literal, a: AttributeReference) =>
        longOf(l).toSeq.flatMap(v =>
          if (v == Long.MaxValue) geq(a, v) else Seq((a.name, v, v + 1L)))
      case _ => Nil
    }
  }

  /** Append one segment: ONE new file per non-empty bucket, staged by
    * [[stageBucketed]] (the files carry Spark's own `_NNNNN` bucket-id
    * names, the contract the scan maps files by), then
    * manifest-committed with the append family's optimistic retry.
    * The segment must carry the recorded bucket keys; a mismatched
    * segment fails loudly before any write.
    */
  def appendBucketed(segment: DataFrame, root: String): Unit = {
    val spark = segment.sparkSession
    val (p, fs) = ManifestLog.hadoop(spark, root)
    ManifestLog.currentVersion(spark, root) // fail fast
    val s = spec(spark, root)
    require(s.keys.forall(segment.columns.contains),
      s"segment lacks a bucket key of ${s.keys} recorded for $root")
    val staged = stageBucketed(p, fs, segment, s)
    ManifestLog.failpoint("written:append-bucketed")
    ManifestLog.commitAppend(fs, p,
      ManifestLog.entriesFor(spark, p, staged, declaredStats(fs, p)),
      "append", _ => true, _.batchHwm)
    ()
  }

  /** Stage `df` as one file per non-empty bucket of `s`: Spark's own
    * bucketed file writer (the write a bucketed catalog table runs,
    * here with no table) names each file with its `_NNNNN` bucket id
    * and sorts it by the keys. Hash-partitioning by the keys first
    * gives each bucket one writer task, so one file.
    */
  private def stageBucketed(p: Path, fs: FileSystem, df: DataFrame,
      s: Spec): Seq[String] =
    stage(p, fs, df.repartition(s.buckets, s.keys.map(col): _*),
      Some(BucketSpec(s.buckets, s.keys, s.keys)), identity)

  /** Write `df` as parquet into a hidden dir under the root, with the
    * bloom writer options, and rename each data file into the root
    * under `name(part)`: invisible until a manifest lists it. Returns
    * the root-relative names.
    */
  private def stage(p: Path, fs: FileSystem, df: DataFrame,
      bucketSpec: Option[BucketSpec], name: String => String): Seq[String] = {
    val spark = df.sparkSession
    val dir = new Path(p, s".stage-${java.util.UUID.randomUUID}")
    val write = DataSource(spark, "parquet", bucketSpec = bucketSpec,
      options = ParquetBlooms.writerOptions(fs, p) + ("path" -> dir.toString))
      .planForWriting(SaveMode.ErrorIfExists, df.queryExecution.analyzed)
    spark.sessionState.executePlan(write).commandExecuted
    val out = fs.listStatus(dir).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      .map { st =>
        val rel = name(st.getPath.getName)
        if (!fs.rename(st.getPath, new Path(p, rel)))
          throw new java.io.IOException(s"stage rename failed: ${st.getPath}")
        rel
      }
    fs.delete(dir, true)
    out
  }

  /** [[appendBucketed]] with the streaming replay guard — the
    * bucketed twin of [[ManifestLog.appendBatch]]: a batchId at or
    * under the layout's high-water mark already committed and the
    * call no-ops; the guard re-checks inside the commit loop, so two
    * replicas racing the same batch commit it exactly once (the
    * loser's staged bucket files become vacuumable orphans). Returns
    * whether the batch committed.
    */
  def appendBucketedBatch(segment: DataFrame, root: String,
      batchId: Long): Boolean = {
    require(batchId >= 0L, s"batch ids are non-negative, got $batchId")
    val spark = segment.sparkSession
    val (p, fs) = ManifestLog.hadoop(spark, root)
    val m0 = ManifestLog.readRaw(fs, p, ManifestLog.currentVersion(spark, root))
    if (batchId <= m0.batchHwm) return false
    val s = spec(spark, root)
    require(s.keys.forall(segment.columns.contains),
      s"segment lacks a bucket key of ${s.keys} recorded for $root")
    val staged = stageBucketed(p, fs, segment, s)
    ManifestLog.failpoint("written:append-bucketed")
    ManifestLog.commitAppend(fs, p,
      ManifestLog.entriesFor(spark, p, staged, declaredStats(fs, p)),
      "append-batch",
      m => batchId > m.batchHwm, m => math.max(m.batchHwm, batchId))
  }

  /** Compact ONE bucket grain back to a single file, manifest-
    * committed: the grain is the LIVE files whose name parses to
    * `bucketId`; every row of it hashes to that bucket, so the bucketed
    * writer stages one key-sorted file carrying the same bucket id
    * before the commit swaps grain → replacement in the list. Retired
    * files stay for pinned readers until [[ManifestLog.vacuum]]. A lost
    * commit race aborts loudly ([[ManifestLog.CommitConflict]]) — grain
    * selection was stale.
    */
  def compactBucket(spark: SparkSession, root: String, bucketId: Int): Unit = {
    val (p, fs) = ManifestLog.hadoop(spark, root)
    val s = spec(spark, root)
    val v = ManifestLog.currentVersion(spark, root)
    val m = ManifestLog.readRaw(fs, p, v)
    val grain = m.entries.filter(e => bucketIdOf(e.path).contains(bucketId))
    if (grain.length <= 1) return // already compact
    val staged = stageBucketed(p, fs,
      spark.read.parquet(grain.map(e => new Path(p, e.path).toString): _*), s)
    if (staged.map(bucketIdOf) != Seq(Some(bucketId)))
      throw new IllegalStateException(
        s"compacting bucket $bucketId of $root staged $staged, not one file of that bucket")
    ManifestLog.failpoint("written:compact-bucket")
    ManifestLog.commit(fs, p, v + 1,
      m.entries.diff(grain) ++
        ManifestLog.entriesFor(spark, p, staged, declaredStats(fs, p)),
      "compact", m.batchHwm)
  }

  /** Keyed deletion over the bucketed layout — the
    * [[ManifestLog.deleteKeys]] contract with a stronger pruning
    * story: the layout's OWN hash places every key, so the candidate
    * buckets are computed from the tombstone set alone
    * (`pmod(hash(key), buckets)` — `functions.hash` is the same
    * seed-42 Murmur3 `HashPartitioning` buckets by), no stats needed.
    * One scan of the candidate buckets' files then finds the files
    * actually holding tombstoned rows; each touched bucket's touched
    * files rewrite as ONE survivor file carrying the bucket's
    * `_NNNNN` name (a delete doubles as that bucket's compaction),
    * untouched files — including same-bucket siblings — pass through
    * by reference, and a fully-tombstoned grain retires without
    * replacement. The commit carries op `delete`: pre-delete
    * generations stay auditable until [[ManifestLog.vacuum]], and
    * [[ManifestLog.tailSince]] resyncs loudly across it.
    *
    * Keys are cast to the table's key type BEFORE hashing — a LONG
    * column bucket-hashes its long values, so an INT-typed tombstone
    * feed would otherwise probe the wrong buckets and silently delete
    * nothing. A composite-key layout is refused loudly before anything
    * is read.
    */
  def deleteKeys(spark: SparkSession, root: String,
      keys: DataFrame): ManifestLog.DeleteResult = {
    import org.apache.spark.sql.functions.{count, hash, input_file_name, lit, pmod}
    val (p, fs) = ManifestLog.hadoop(spark, root)
    val s = spec(spark, root)
    // A tombstone key set names single-key rows: hash(one column)
    // cannot find rows a composite key placed.
    require(s.keys.length == 1,
      s"$root buckets on ${s.keys} — keyed deletion needs a single-key layout")
    val key = s.keys.head
    val v = ManifestLog.currentVersion(spark, root)
    val m = ManifestLog.readRaw(fs, p, v)
    require(m.entries.nonEmpty, s"$root lists no live files at v$v")
    val keyType = s.keyType.getOrElse(
      // Legacy spec file without the recorded type: one footer read.
      spark.read.parquet(
        new Path(p, m.entries.head.path).toString).schema(key).dataType)
    val keyCol = keys.columns.headOption.getOrElse(
      throw new IllegalArgumentException("tombstone frame has no columns"))
    val tomb = keys.select(col(keyCol).cast(keyType).as(key))
      .where(col(key).isNotNull).distinct().localCheckpoint()
    val candBuckets = tomb
      .select(pmod(hash(col(key)), lit(s.buckets)).as("_gf_b"))
      .distinct().collect().map(_.getInt(0)).toSet
    val bucketCandidates = m.entries.filter(
      e => bucketIdOf(e.path).exists(candBuckets))
    if (bucketCandidates.isEmpty) return ManifestLog.DeleteResult(0, 0, 0L)
    // Within a candidate bucket, K appends leave K files and the key
    // may live in any subset of them; a declared bloom filter
    // ([[ParquetBlooms.declare]]) rejects the append files that cannot
    // hold any tombstoned key from their footers, so the find scan
    // reads only the files that may actually rewrite.
    val candidates: Seq[ManifestLog.Entry] =
      if (!ParquetBlooms.declaredOf(fs, p).exists(_._1 == key)) bucketCandidates
      else {
        val keyVals = tomb.limit(ParquetBlooms.MaxProbeKeys + 1)
          .collect().map(_.get(0)).toSeq
        if (keyVals.length > ParquetBlooms.MaxProbeKeys) bucketCandidates
        else {
          val admitted = ParquetBlooms.mayContainAny(spark,
            bucketCandidates.map(e => new Path(p, e.path).toString),
            key, keyVals).toSet
          bucketCandidates.filter(e => admitted(new Path(p, e.path).toString))
        }
      }
    if (candidates.isEmpty) return ManifestLog.DeleteResult(0, 0, 0L)
    val byName = candidates.map(e => e.path -> e).toMap
    val perFile = spark.read.parquet(
        candidates.map(e => new Path(p, e.path).toString): _*)
      .select(col(key), input_file_name().as("_gf_file"))
      .join(tomb.withColumn("_gf_hit", lit(1)), Seq(key), "left")
      .groupBy("_gf_file")
      .agg(count(lit(1)).as("_gf_total"), count(col("_gf_hit")).as("_gf_hits"))
      .where(col("_gf_hits") > 0)
      .collect()
      .map { r =>
        val name = new Path(r.getString(0)).getName
        (byName.getOrElse(name, throw new IllegalStateException(
          s"scan returned a file outside the candidate set: ${r.getString(0)}")),
          r.getLong(1), r.getLong(2))
      }
    if (perFile.isEmpty) return ManifestLog.DeleteResult(0, 0, 0L)
    val touched = perFile.map(_._1).toSeq
    val retired = perFile.count { case (_, total, hits) => hits == total }
    val rowsDeleted = perFile.map(_._3).sum
    // One write stages every touched bucket's survivors, one file per
    // bucket; a fully tombstoned grain has none, so it retires.
    val replacements = stageBucketed(p, fs,
      spark.read.parquet(touched.map(e => new Path(p, e.path).toString): _*)
        .join(tomb, Seq(key), "left_anti"), s)
    val remaining = m.entries.diff(touched)
    require(remaining.nonEmpty || replacements.nonEmpty,
      s"this tombstone set deletes EVERY live row of $root — drop the " +
        "layout explicitly instead")
    ManifestLog.failpoint("written:delete-bucket")
    ManifestLog.commit(fs, p, v + 1,
      remaining ++
        ManifestLog.entriesFor(spark, p, replacements, declaredStats(fs, p)),
      "delete", m.batchHwm)
    ManifestLog.DeleteResult(touched.length - retired, retired, rowsDeleted)
  }

  /** The self-driving tick: compact every bucket whose live file
    * count exceeds `maxFiles` (K appends leave K files per bucket).
    * Returns the compacted bucket ids.
    */
  def maintain(spark: SparkSession, root: String,
      maxFiles: Int = ManifestLog.CompactAfterSegments): Seq[Int] = {
    require(maxFiles >= 1, "maxFiles must admit at least one file per bucket")
    val counts = ManifestLog.currentEntries(spark, root)
      .flatMap(e => bucketIdOf(e.path))
      .groupBy(identity).view.mapValues(_.size)
    val targets = counts.filter(_._2 > maxFiles).keys.toSeq.sorted
    targets.foreach(compactBucket(spark, root, _))
    targets
  }

  /** Spark maps a data file to its bucket by NAME — the trailing
    * `_NNNNN` id before the extensions (BucketingUtils' contract; the
    * bucketed file writer in [[stageBucketed]] names its files by it).
    */
  private val BucketFileName = """.*_(\d+)(?:\..*)?$""".r

  /** The bucket id a data file's name parses to, if any. */
  private def bucketIdOf(name: String): Option[Int] = name match {
    case BucketFileName(id) => Some(id.toInt)
    case _ => None
  }

  /** Splice a bucket id between a plain part name's stem and its
    * extensions ("part-...-c000" + "_00000" + ".snappy.parquet"), so
    * an empty build's schema-only file parses to a bucket.
    */
  private def bucketNamed(partName: String, bucketId: Int): String = {
    val dot = partName.indexOf('.')
    val (stem, ext) = partName.splitAt(if (dot < 0) partName.length else dot)
    f"$stem%s_$bucketId%05d$ext%s"
  }
}
