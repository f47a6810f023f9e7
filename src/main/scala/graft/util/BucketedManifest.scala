package graft.util

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.execution.datasources.{DataSource, FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Manifest-committed bucketed layouts — the co-location pairs — with
  * no catalog anywhere: built once, committed as generation 1, then
  * read.
  *
  * Both halves go through Spark's file-source layer directly. The
  * build runs Spark's own bucketed file writer ([[stageBucketed]]),
  * which names each file with its `_NNNNN` bucket id. Reads put a
  * manifest-backed `FileIndex` (the planner's file-discovery seam)
  * inside a `HadoopFsRelation` carrying the layout's `BucketSpec`, so
  * the scan maps files to buckets by that name: `Bucketed: true`
  * scans and zero key exchanges on co-located joins, while the file
  * SET comes from one committed manifest generation.
  *
  * The bucket spec (keys, count) is recorded next to the manifests
  * before the build stages anything, so a second build of the same
  * root with another spec fails loudly instead of mixing layouts.
  *
  * Scale shape: a build from several segments leaves each bucket one
  * file per segment (the li-ok-pair layout's per-year files), a join
  * on the bucket key never shuffles either side, and per-file stats
  * recorded at the build prune whole files at plan time
  * ([[ManifestFileIndex]]). The cost is the manifest read at plan
  * build.
  */
object BucketedManifest {

  /** The layout's recorded bucket spec: the full bucketing key list
    * (a composite grain plans with its full `BucketSpec`) and the
    * bucket count.
    */
  final case class Spec(keys: Seq[String], buckets: Int)

  private val SpecFile = "bucket-spec"

  /** Build a bucketed layout at `root` in ONE commit: record its spec,
    * stage each segment as one file per non-empty bucket, and commit
    * exactly those files, with per-file `statCols` stats, as
    * generation 1 ([[ManifestLog.commitStaged]]: a builder that loses
    * the v1 race drops its staged files and the winner's generation
    * stands). Several segments leave each bucket one file per segment
    * — the per-year files whose disjoint date stats the li-ok-pair
    * layout prunes on. With `sourceRows`, the staged files' footer row
    * counts must add up to it, or the build throws before the commit.
    * When no segment has a row, one schema-only file is staged in
    * bucket 0, so the generation still reads back with the build's
    * schema.
    */
  def build(segments: Seq[DataFrame], root: String, keys: Seq[String], buckets: Int,
      statCols: Seq[String] = Nil, sourceRows: Option[Long] = None): Unit = {
    require(segments.nonEmpty, s"no segment to build $root from")
    val spark = segments.head.sparkSession
    val (p, fs) = ManifestLog.hadoop(spark, root)
    val s = recordSpec(fs, p, segments.head.schema, keys, buckets)
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

  private def recordSpec(fs: FileSystem, p: Path, schema: StructType,
      keys: Seq[String], buckets: Int): Spec = {
    require(keys.nonEmpty && keys.forall(schema.fieldNames.contains),
      s"bucket keys $keys must be columns of ${schema.fieldNames.mkString(",")}")
    ManifestLog.recordSidecar(fs, p, SpecFile, "bucket spec",
      s"${keys.mkString(",")}\t$buckets\n")
    Spec(keys, buckets)
  }

  /** The layout's recorded bucket spec. A spec line with a third
    * field (the single key's type, which older builds recorded) reads
    * the same: the type is ignored.
    */
  def spec(spark: SparkSession, root: String): Spec = {
    val (p, fs) = ManifestLog.hadoop(spark, root)
    val f = new Path(ManifestLog.manifestDir(p), SpecFile)
    val in = fs.open(f)
    val line = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().next()
    finally in.close()
    line.split('\t') match {
      case Array(k, n) => Spec(k.split(',').toSeq, n.toInt)
      case Array(k, n, _) => Spec(k.split(',').toSeq, n.toInt)
      case _ => throw new IllegalStateException(s"unparseable bucket spec at $f")
    }
  }

  /** The current generation as a BUCKETED DataFrame: the manifest's
    * exact file set behind a [[FileIndex]], inside a
    * [[HadoopFsRelation]] carrying the recorded [[BucketSpec]] — the
    * same relation shape the catalog read path plans, so co-located
    * joins and aggregations on the key add no exchange.
    */
  def read(spark: SparkSession, root: String): DataFrame = {
    // Relation-cached per generation (the Tables.cachedParquet seam):
    // a generation is an immutable commit, so (root, version) pins the
    // relation exactly — repeated reads skip the per-call schema
    // re-resolution (~100 ms of ResolveDataSource per consumer
    // execution).
    val v = ManifestLog.currentVersion(spark, root)
    graft.util.Tables.relationCached(spark, s"bm:$root:v$v") {
      val s = spec(spark, root)
      relationAt(spark, root, v, Some(BucketSpec(s.buckets, s.keys, s.keys)))
    }
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
    * per-file ranges.
    */
  def readIndexed(spark: SparkSession, root: String): DataFrame = {
    val ver = ManifestLog.currentVersion(spark, root)
    // Same per-generation relation cache as [[read]].
    graft.util.Tables.relationCached(spark, s"mi:$root:v$ver")(
      relationAt(spark, root, ver, None))
  }

  /** Generation `ver` of a flat root as a [[ManifestFileIndex]]
    * relation. Flat roots only: files in partition directories carry
    * dir-encoded columns this relation cannot reconstruct (those keep
    * the basePath read of [[ManifestLog.read]]). The schema comes from
    * one file's footer.
    */
  private def relationAt(spark: SparkSession, root: String, ver: Long,
      bucketSpec: Option[BucketSpec]): DataFrame = {
    val (p, fs) = ManifestLog.hadoop(spark, root)
    val entries = ManifestLog.readRaw(fs, p, ver).entries
    require(entries.nonEmpty, s"manifest v$ver of $root lists no files")
    require(entries.forall(!_.path.contains("/")),
      s"$root holds partition directories — a manifest relation serves flat roots only")
    val statused: Array[(FileStatus, ManifestLog.Entry)] =
      entries.map(e => (fs.getFileStatus(new Path(p, e.path)), e)).toArray
    val schema = spark.read.parquet(statused.head._1.getPath.toString).schema
    spark.baseRelationToDataFrame(HadoopFsRelation(
      new ManifestFileIndex(p, statused), StructType(Nil), schema, bucketSpec,
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
    * data skipping: the stat columns a commit records (`statCols` of
    * [[build]], a [[ManifestLog]] commit's bound column) prune at
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
