package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Table access for the driver-generated test corpus (TESTDATA.md).
  *
  * All declared queries receive a scale-factor directory and read the
  * parquet tables lazily — Catalyst prunes columns and pushes filters
  * into the scan, so a query that touches 2 of lineitem's 11 columns
  * only decodes 2 column chunks. At cluster scale the same code reads
  * a partitioned table root instead of a single file; nothing here
  * assumes single-file layout.
  */
object Tables {
  def tbl(spark: SparkSession, sfDir: String, name: String): DataFrame =
    cachedParquet(spark, s"$sfDir/$name.parquet")

  // ------------------------------------------------------------------
  // Resolved-relation cache (r21; guide §1 / §7.3 driver-side cost).
  // `spark.read.parquet` re-resolves its relation on EVERY call — path
  // listing, footer schema inference (often as a one-task Spark job),
  // options validation — measured 80-130 ms per call on the bench box,
  // and RuleExecutor attributes 370-490 ms of the multi-join queries'
  // per-build planning time to ResolveDataSource alone. Spark already
  // memoizes resolved relations for CATALOG tables (spark.table's
  // relation cache); bare-path reads lack that seam, so this provides
  // it: METADATA-only caching of the analyzed read DataFrame, scoped
  // per SparkSession (WeakHashMap — entries die with the session),
  // validated by a top-level file signature (name:length:mtime of the
  // path's direct entries) so an in-place corpus rewrite invalidates
  // and re-resolves. Manifest-generation reads key on root+version (or
  // the exact file list) — generations are immutable commits; vacuum
  // only deletes files no kept manifest references. No row data is
  // ever cached: every execution still scans parquet from disk; only
  // the re-resolution of an UNCHANGED relation is skipped — the same
  // service a catalog gives a long-lived production session.

  private val relCaches =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, (String, DataFrame)]]()

  private def relCacheOf(spark: SparkSession) = relCaches.synchronized {
    relCaches.computeIfAbsent(
      spark,
      _ => new java.util.concurrent.ConcurrentHashMap[String, (String, DataFrame)]())
  }

  /** Top-level content signature of `path`: the direct children's
    * (name, length, mtime) — catches in-place rewrites (parquet writers
    * emit fresh part-file names and mtimes) at ~0.1 ms instead of the
    * full re-resolution. Only the raw corpus tables read through here
    * (artifacts read their manifest generation), and those are single
    * files or flat directories, so no deeper mutation can hide from it.
    */
  private def pathSig(path: String): String = {
    val f = new java.io.File(path)
    if (f.isFile) s"f:${f.length}:${f.lastModified}"
    else {
      val kids = f.listFiles()
      if (kids == null) "absent"
      else
        kids.sortBy(_.getName)
          .map(k => s"${k.getName}:${k.length}:${k.lastModified}")
          .mkString("d:", ",", "")
    }
  }

  /** Cached, signature-validated `spark.read.parquet(path)`. */
  private[graft] def cachedParquet(spark: SparkSession, path: String): DataFrame =
    relationCached(spark, s"p:$path", pathSig(path))(spark.read.parquet(path))

  /** Generic relation memo: `key` identifies the relation, `sig` its
    * expected content signature ("" = the key itself pins immutable
    * content, e.g. a manifest generation's exact file list). A lost
    * race re-resolves on both threads and keeps the last — idempotent,
    * metadata-only.
    */
  private[graft] def relationCached(spark: SparkSession, key: String,
      sig: String = "")(mk: => DataFrame): DataFrame = {
    val cache = relCacheOf(spark)
    val hit = cache.get(key)
    if (hit != null && hit._1 == sig) hit._2
    else {
      val df = mk
      // Size cap: keyed-probe entries (readKeyed) vary per key set, so
      // a long-lived session issuing unbounded distinct probes must
      // not leak analyzed plans — past the cap new relations resolve
      // uncached (correct, just unmemoized).
      if (cache.size < 4096) cache.put(key, (sig, df))
      df
    }
  }

  /** Session config every graft entry point needs:
    * `nanosAsLong` so a TIMESTAMP(NANOS) events file — one historical
    * encoding of the corpus — reads as long instead of failing outright
    * ([PARQUET_TYPE_ILLEGAL] in Spark 4); [[events]] then adapts to
    * whatever type actually came off disk, so the flag is harmless for
    * µs-encoded files and load-bearing only if a producer writes nanos.
    * Applied once at session build (Verify/Bench/RunPipeline/tests) —
    * NOT inside query functions, so no hidden global side effects.
    */
  val sessionConf: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    // Engine extensions: registers native expressions (graft_dot_f)
    // with the SQL function registry via SparkSessionExtensions.
    "spark.sql.extensions" -> "graft.plans.GraftSparkExtensions",
    // Whole-stage-codegen class cache (STATIC conf — must be set at
    // session build). The default is 100 entries, sized for a handful
    // of hot queries; a session running this library's 144-query
    // surface holds far more distinct codegen stages, so at 100 the
    // cache THRASHES and every query re-compiles (Janino) every stage
    // on every execution. Measured r18 on the full roster at sf0.1:
    // per-query min-of-3 sum 97.8 s → 58.1 s with the cache at 10k;
    // q49_bucketed_agg alone 0.94 s → 0.45 s — the "persistent
    // elevation" two rounds of quiet-box bisection chased was exactly
    // this recompilation, which is why it showed on every box and grew
    // with the roster. A long-lived analytics session (the 100 TB
    // deployment shape: one driver serving many repeated query shapes)
    // wants the same headroom; ~10k compiled stages is tens of MB of
    // class metadata — negligible against an 8 GiB driver.
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    // Scan-split open-cost charge (default 4 MB). The default floors
    // maxSplitBytes at 4 MB, so a 10 MB fact file scans as 3 tasks no
    // matter how many cores are idle — measured r21: q20's whole
    // runtime was one 3-task scan+join+agg stage (721 task-ms, 240 ms
    // wall each) on a 32-core box. 256 KB keeps the many-small-files
    // task-explosion guard (a split still absorbs ≤ maxPartitionBytes/
    // 256 KB files) while letting bytesPerCore set the split size, so
    // scan parallelism derives from input mass / available cores — the
    // scale-adaptive rule. At cluster scale splits are
    // maxPartitionBytes-bound (128 MB files ≫ open cost) and this knob
    // is inert; it only governs small-input parallelism, where decode
    // cost dominates file-open cost by orders of magnitude.
    "spark.sql.files.openCostInBytes" -> (256 * 1024).toString,
    // AQE post-shuffle coalescing floor (default 1 MB). Coalescing is
    // BYTE-targeted, but the shuffles feeding this library's heavy
    // operators carry compact keys/digests with high per-row CPU
    // downstream (explode+pair-generation, array_intersect
    // verification, regex): at 1 MB the whole reduce side of q74
    // coalesces to ONE task (879 ms measured, single-threaded) while
    // 31 cores idle. 128 KB keeps the parallelism-first contract
    // meaningful at small shuffle mass: target size stays
    // max(total/parallelism, 128 KB), so a genuinely tiny shuffle
    // still collapses to one or two tasks, a CPU-heavy medium one fans
    // out toward the core count, and at cluster scale (multi-GB
    // shuffles) the advisory 64 MB target governs exactly as before —
    // the floor is inert there. 128 KB and not less: an r21 sweep
    // (16/64/128/256 KB over the eight heaviest shuffle consumers)
    // showed ~100 ms of fixed per-task cost in these stage shapes, so
    // fanning a sub-128 KB-per-task shuffle wider pays more overhead
    // than the row work it spreads (q113 0.93 s at 16 KB vs 0.53 s at
    // 128 KB), while 256 KB re-serializes the pair-explosion stages
    // (q67 1.19 → 1.77 s).
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "131072",
    // Shuffle writer selection (core conf — context-creation time).
    // SQL shuffles carry no RDD-level map-side combine, so with reduce
    // partitions ≤ the default threshold (200) every map task takes
    // the BYPASS writer: one spill file + 32 KB buffer PER REDUCE
    // PARTITION per map task. At shuffle.partitions = cores = 32 that
    // is 32 file create/write/close/merge cycles per map task —
    // measured r21 (MicroProbe shapes, 100 k rows): the map stage of a
    // plain hash aggregate spent 4.1 s of task time at threshold 200
    // vs 1.5 s with the serialized (Unsafe) writer, and a window
    // query's map stage 5.2 s → 0.4 s; identical results. 8 keeps the
    // bypass path for genuinely tiny fan-outs (where its simplicity
    // wins) and routes everything else to the single-file serialized
    // sorter — which is already the only writer used at cluster scale
    // (partitions ≫ 200), so production behavior is unchanged.
    "spark.shuffle.sort.bypassMergeThreshold" -> "8",
  )

  /** Fold [[sessionConf]] into a session builder, then overlay any
    * `SPARK_GRAFT_CONF` env pairs (`k=v,k=v`) — the ops seam that
    * keeps scale-dependent settings parameterisable per deployment
    * (and lets a dev A/B a conf without recompiling). Env wins over
    * the in-code defaults.
    */
  def withSessionConf(b: SparkSession.Builder): SparkSession.Builder = {
    val overlay = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.contains('='))
      .map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }
    (sessionConf.toSeq ++ overlay).foldLeft(b) {
      case (bb, (k, v)) => bb.config(k, v)
    }
  }

  /** The one session every main in this library starts: `local[cpus]`,
    * shuffle partitions sized to the cores, no UI, [[withSessionConf]]
    * folded in, log level WARN. `cpus` defaults to `SPARK_GRAFT_CPUS`
    * (4 when unset).
    */
  def localSession(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val spark = withSessionConf(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Canonical events frame: `ts` as a microsecond TimestampType column
    * regardless of the file's physical encoding. Producers upgrade
    * timestamp encodings across writer versions (the corpus itself moved
    * ns→µs between rounds), so the loader branches on the OBSERVED
    * type instead of hard-coding one historical layout — exactly the
    * schema-at-read adaptivity a 100 TB table with years of writer
    * drift requires:
    *  - nanos-as-long (TIMESTAMP(NANOS) under [[sessionConf]]'s
    *    `nanosAsLong`): integer `div 1000` truncates exactly like
    *    DuckDB's ns→µs read, so both engines see identical instants;
    *  - TIMESTAMP_MICROS `isAdjustedToUTC=false` (reads as
    *    TimestampNTZ): cast to TimestampType — the session is pinned
    *    UTC, so the cast is micros-identity;
    *  - TIMESTAMP_MICROS UTC-adjusted (reads as TimestampType): as-is.
    * Anything else fails loudly — silently misreading time data is the
    * one non-option.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = tbl(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        // A LongType ts is not ALWAYS nanos: a producer writing plain
        // BIGINT micros reads as the same Spark type, and `div 1000`
        // would silently shift every instant ×1000 — violating the
        // fails-loudly contract below. Verify against the parquet
        // footer (logical-type annotation, else column stats range)
        // before trusting the nanos interpretation.
        requireNanosTs(spark, sfDir)
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast(TimestampType))
      case TimestampType => raw
      case other => throw new IllegalStateException(
        s"events.ts: unsupported parquet encoding $other " +
          "(expected nanos-as-long, TIMESTAMP_NTZ, or TIMESTAMP)")
    }
  }

  /** Footer-level plausibility check that a LongType `ts` really holds
    * epoch NANOS, without scanning any data: one parquet footer read of
    * the first data file. Two accepted proofs, in order:
    *   1. the column's logical-type annotation is TIMESTAMP(NANOS) —
    *      the one encoding `nanosAsLong` exists for; definitive;
    *   2. no usable annotation (a plain INT64 column): the footer's
    *      row-group statistics must land in a sane epoch-nanos range
    *      (~1973..2140). Micros/millis/seconds land 3/6/9 orders of
    *      magnitude below the floor, so a mis-unit producer fails here
    *      by construction rather than shifting every instant ×1000.
    * Anything else (missing stats, out-of-range values) throws — the
    * physical schema alone cannot distinguish the units, and guessing
    * time units is the one non-option.
    */
  private def requireNanosTs(spark: SparkSession, sfDir: String): Unit = {
    val nanosFloor = 100000000000000000L // ~1973-03 in ns; µs values are 1000× below
    val nanosCeil = 5400000000000000000L // ~2141-02 in ns
    val root = new org.apache.hadoop.fs.Path(s"$sfDir/events.parquet")
    val conf = spark.sessionState.newHadoopConf()
    val fs = root.getFileSystem(conf)
    // Recursive listing (the Snapshots.fingerprint pattern): a
    // partitioned table root keeps its data files under partition
    // subdirectories — a top-level-only listing would reject a layout
    // the loader otherwise reads fine.
    val dataFile =
      if (fs.getFileStatus(root).isFile) root
      else {
        val it = fs.listFiles(root, true)
        var best: Option[org.apache.hadoop.fs.Path] = None
        while (it.hasNext) {
          val p = it.next().getPath
          if (p.getName.endsWith(".parquet") && !p.getName.startsWith("_")
            && best.forall(_.toString > p.toString)) best = Some(p)
        }
        best.getOrElse(
          throw new IllegalStateException(s"events.ts: no data files under $root"))
      }
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(dataFile, conf))
    try {
      val md = reader.getFooter
      val schema = md.getFileMetaData.getSchema
      val prim = schema.getType(schema.getFieldIndex("ts")).asPrimitiveType()
      val isNanosAnnotated = prim.getLogicalTypeAnnotation match {
        case t: org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          t.getUnit == org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.NANOS
        case _ => false
      }
      if (!isNanosAnnotated) {
        import scala.jdk.CollectionConverters._
        val stats = md.getBlocks.asScala
          .flatMap(_.getColumns.asScala.find(_.getPath.toDotString == "ts"))
          .flatMap(c => Option(c.getStatistics))
          .filter(s => !s.isEmpty && s.hasNonNullValue)
        val inRange = stats.nonEmpty && stats.forall { s =>
          (s.genericGetMin, s.genericGetMax) match {
            case (mn: java.lang.Long, mx: java.lang.Long) =>
              mn >= nanosFloor && mx <= nanosCeil
            case _ => false
          }
        }
        if (!inRange) throw new IllegalStateException(
          s"events.ts: BIGINT column in $dataFile is not plausibly epoch NANOS " +
            "(no TIMESTAMP(NANOS) annotation and footer stats outside the " +
            "~1973..2140 nanos range) — refusing to guess the time unit")
      }
    } finally reader.close()
  }

  /** Exact-micros NTZ literal for comparisons against a raw
    * TIMESTAMP_NTZ column. The bare-column-vs-literal form is the only
    * one the parquet source even ACCEPTS as a pushed filter (wrapping
    * the column in unix_micros/cast blocks pushdown outright); in UTC
    * the two forms select identical rows. Measured honesty (r9):
    * accepted ≠ pruned — this Spark's ParquetFilters converts only
    * UTC-adjusted timestamp annotations to row-group predicates, so on
    * raw NTZ data the accepted filter evaluates post-decode. Keep the
    * literal form anyway: it prunes the day upstream learns NTZ, and
    * already prunes on UTC-adjusted files; where the engine owns the
    * layout, sorted BIGINT-micros at-rest tables close the hole for
    * good (the events-us-log pattern, metrics-proven).
    */
  def ntzUs(us: Long): java.time.LocalDateTime =
    java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(us, 1000000L),
      (Math.floorMod(us, 1000000L) * 1000L).toInt,
      java.time.ZoneOffset.UTC)

}

/** Derived-artifact materialization: build once per (corpus, name),
  * commit it as a manifested parquet root, read it back for every
  * subsequent use in the session. This replaces `.cache()` for
  * artifacts referenced from multiple plan branches or queries
  * (Catalyst does not share subplans between self-join branches, and
  * caches squat on executor storage for the session's lifetime): no
  * storage residency, columnar scans thereafter — exactly what a
  * cluster pipeline does with shingle/signature/cluster tables,
  * persisted once per corpus snapshot.
  *
  * Keyed by (corpus dir, artifact name, corpus CONTENT fingerprint):
  * if the corpus parquet at a path is rewritten mid-session, the
  * fingerprint (sorted recursive file listing: path + length + mtime)
  * changes and the artifact rebuilds instead of silently serving the
  * stale snapshot. The mtime listing is the filesystem-generic stand-in
  * for what a table format gives as a snapshot id; its granularity is
  * the filesystem's mtime resolution.
  *
  * Every artifact is a [[ManifestLog]] root (bucketed ones through
  * [[BucketedManifest]]), so one crash-safety argument covers them
  * all: every kind stages its whole build and commits it as
  * generation 1 in ONE manifest commit, so "complete" means
  * "committed". A committed root is reused by every later builder
  * (this JVM or another on the same corpus) and never rewritten; a
  * root without a committed generation is never deleted (it may be
  * another builder's staging in flight), and a crashed build leaves
  * only staged files [[ManifestLog.vacuum]] removes. [[rebuild]]
  * commits a replacing generation on the same root.
  */
object Snapshots {
  // Concurrency: prepareIndexes builds independent artifact chains on
  // parallel threads, and artifacts NEST (pq-codes builds pq-codebooks;
  // the half-index assignment builds its centroids). TrieMap
  // .getOrElseUpdate may evaluate a racing key's builder twice, and
  // running the builder INSIDE ConcurrentHashMap.computeIfAbsent throws
  // IllegalStateException ("Recursive update") when a nested build
  // touches the map mid-resize. So computeIfAbsent only allocates a
  // cheap memo cell, and the build runs in the cell's lazy val:
  // exactly-once per key, same-key callers block on the cell's monitor,
  // nested different-key builds never mutate the map while a mapping
  // function is on the stack. The dependency graph is a DAG, so
  // cell-monitor deadlock cannot occur.
  private final class Cell(build: () => String) {
    @volatile private var done = false
    lazy val value: String = { val v = build(); done = true; v }
    /** The path if the build already ran — NEVER forces it (gc walks
      * the memo; forcing a lazy cell there would build artifacts as a
      * side effect of garbage collection). */
    def valueIfBuilt: Option[String] = if (done) Some(value) else None
  }
  @volatile private var paths =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), Cell]

  /** Forget every memo cell, so the next ask of each artifact behaves
    * like a second builder on the same corpus (another JVM). A test
    * seam, like [[ManifestLog.failpoint]]. */
  private[util] def resetMemo(): Unit =
    paths = new java.util.concurrent.ConcurrentHashMap

  private def rootOf(dir: String, fp: String, name: String): String =
    s"${System.getProperty("java.io.tmpdir")}/${rootPrefix(dir)}$fp-$name"

  /** The name prefix of every artifact root built from corpus `dir`
    * under `java.io.tmpdir`. md5 of the corpus dir, not hashCode:
    * hashCode collisions between two corpus dirs would silently serve
    * wrong-corpus artifacts (and abs(Int.MinValue) is negative).
    */
  private[graft] def rootPrefix(dir: String): String =
    s"graft-snap-${md5Hex(dir).take(12)}-"

  /** The one memo every artifact kind goes through: `build(root)` runs
    * at most once per (corpus, name, fingerprint) in this JVM, and only
    * when the root has no committed generation (no other builder
    * finished it). `build` stages its files and commits generation 1.
    */
  private def artifact(spark: SparkSession, dir: String, name: String)(
      build: String => Unit): String = {
    val fp = fingerprint(spark, dir)
    paths.computeIfAbsent((dir, name, fp), _ => new Cell(() => {
      val out = rootOf(dir, fp, name)
      if (ManifestLog.versions(spark, out).isEmpty) build(out)
      out
    })).value
  }

  private def plain(spark: SparkSession, dir: String, name: String,
      partitionBy: Seq[String], bound: Option[String])(build: => DataFrame): String =
    artifact(spark, dir, name)(
      ManifestLog.commitGeneration(build, _, 1L, partitionBy, bound))

  /** `adoptBound` records each file's min/max of that column in the
    * manifest, for the slice and file-skipping reads. */
  def apply(spark: SparkSession, dir: String, name: String,
      partitionBy: Seq[String] = Nil,
      adoptBound: Option[String] = None)(
      build: => DataFrame): DataFrame =
    readArtifact(spark, plain(spark, dir, name, partitionBy, adoptBound)(build))

  /** Every full artifact read funnels here: the CURRENT manifest's
    * exact file set, so queries built mid-maintenance see one committed
    * generation, never a directory listing's torn in-between. FLAT
    * roots read through the stats-aware FileIndex
    * ([[BucketedManifest.readIndexed]]): a consumer's ordinary pushed
    * integral-literal filters then skip whole files at PLAN time from
    * the manifest-recorded per-file ranges. Partition-dir layouts keep
    * the basePath read (their dir-encoded columns live in path names
    * the flat relation cannot reconstruct); directory pruning and the
    * readSlice hints cover them.
    */
  private def readArtifact(spark: SparkSession, root: String): DataFrame =
    if (ManifestLog.currentEntries(spark, root).forall(!_.path.contains("/")))
      BucketedManifest.readIndexed(spark, root)
    else ManifestLog.read(spark, root)

  /** [[apply]] with a boundary hint: the incremental query paths (the
    * since/slice boundary reads) declare the [loIncl, hiExcl) window
    * they will filter to, and the artifact then plans only the files
    * whose manifest-recorded stats may overlap it
    * ([[ManifestLog.readSlice]] — stats-less files always included, so
    * selection is a row superset and the caller's filter stays
    * load-bearing). This is how a manifested 100 TB deployment keeps a
    * day's boundary read from planning a listing of years of history.
    */
  def slice(spark: SparkSession, dir: String, name: String,
      boundCol: String, loIncl: Long, hiExcl: Long,
      partitionBy: Seq[String] = Nil)(
      build: => DataFrame): DataFrame =
    ManifestLog.readSlice(spark,
      plain(spark, dir, name, partitionBy, Some(boundCol))(build),
      boundCol, loIncl, hiExcl)

  /** Unconditional REBUILD of an artifact — the refresh half of the
    * maintenance lifecycle ([[install]] is the append half): when an
    * incremental regime's validity condition breaks (the IVF
    * quantizer-drift canary is the canonical case), the owning module
    * re-derives the artifact from the current corpus and every later
    * consumer reads the refreshed state. The rebuild commits a
    * replacing generation on the artifact's own root: a reader holding
    * a plan over the old generation (a query built before the canary
    * tripped) keeps its files until [[gc]] vacuums them. A concurrent
    * rebuild that commits the same generation first makes this one
    * throw [[ManifestLog.CommitConflict]].
    */
  private[graft] def rebuild(spark: SparkSession, dir: String, name: String,
      partitionBy: Seq[String] = Nil)(
      build: => DataFrame): DataFrame = {
    val fp = fingerprint(spark, dir)
    val root = rootOf(dir, fp, name)
    ManifestLog.commitGeneration(build, root,
      ManifestLog.versions(spark, root).lastOption.getOrElse(0L) + 1L, partitionBy, None)
    val cell = new Cell(() => root)
    cell.value
    paths.put((dir, name, fp), cell)
    readArtifact(spark, root)
  }

  /** Bucketed variant: materialize the artifact as a
    * [[BucketedManifest]] root bucketed (and sorted) by `key`. Joins
    * and aggregations keyed on the bucket column then plan with NO
    * hash-partitioning Exchange — the shuffle is paid once at write
    * time, the at-rest layout a 100 TB fact table repeatedly
    * joined/aggregated on one key wants. Same (dir, name, content
    * fingerprint) keying as parquet snapshots.
    */
  def bucketedTable(spark: SparkSession, dir: String, name: String,
      key: String, buckets: Int)(build: => DataFrame): DataFrame =
    bucketedTableKeys(spark, dir, name, Seq(key), buckets)(build)

  /** Composite-key variant: a grain keyed on more than one column
    * (the partsupp (partkey, suppkey) merge grain) buckets+sorts on
    * the full key list, so composite-key joins/aggregations consume
    * the at-rest distribution with no exchange.
    */
  def bucketedTableKeys(spark: SparkSession, dir: String, name: String,
      keys: Seq[String], buckets: Int)(build: => DataFrame): DataFrame =
    BucketedManifest.read(spark, artifact(spark, dir, s"bkt-$name")(
      BucketedManifest.build(Seq(build), _, keys, buckets)))

  /** Bucketed layout built from SEVERAL segments in one commit
    * ([[BucketedManifest.build]]): each bucket gets one file per
    * non-empty segment, with per-file `statCols` stats — the per-year
    * files of the li-ok-pair layout, whose disjoint date stats let a
    * pushed date bound skip files at plan time. `build` returns the
    * segments and the source row count they must add up to; a short
    * stage throws before anything commits. Returns the ROOT.
    */
  private[graft] def bucketedSegments(spark: SparkSession, dir: String, name: String,
      keys: Seq[String], buckets: Int, statCols: Seq[String])(
      build: => (Seq[DataFrame], Long)): String =
    artifact(spark, dir, s"bkt-$name") { root =>
      val (segments, sourceRows) = build
      BucketedManifest.build(segments, root, keys, buckets, statCols, Some(sourceRows))
    }

  /** Manifested-log artifact: build once per (corpus, name) as a
    * [[ManifestLog]] root — the lookup-key bloom columns declared
    * FIRST ([[ParquetBlooms.declare]]), then the build frame staged
    * and committed as generation 1 with per-file `boundCol` stats, so
    * every data file carries boundary stats in the manifest AND a key
    * bloom filter in its footer from birth. Returns the ROOT (the
    * keyed entry points — [[ManifestLog.readKeyed]],
    * [[ManifestLog.deleteKeys]] — take a root, not a frame). This is
    * the at-rest shape of "fetch/forget by id on a log sorted by
    * something else": range stats answer the boundary reads, blooms
    * answer the keyed ones, one layout pays for both.
    */
  def manifestedLog(spark: SparkSession, dir: String, name: String,
      boundCol: String, bloomCols: Seq[String])(build: => DataFrame): String =
    // `log-`/`zorder-`: names no multi-commit build of these kinds
    // wrote, so an old root (whose v1 is a fileless `create`) is never
    // taken for a committed build.
    artifact(spark, dir, s"log-$name") { out =>
      if (bloomCols.nonEmpty) ParquetBlooms.declare(spark, out, bloomCols)
      ManifestLog.commitGeneration(build, out, 1L, Nil, Some(boundCol))
    }

  /** Z-clustered manifested-log artifact: [[manifestedLog]] with the
    * build frame staged in Z-order over `cols` and every cluster
    * column's per-file stats recorded ([[ManifestLog.commitClustered]]
    * — the layout a [[ManifestLog.cluster]] pass leaves), so the
    * at-rest layout answers conjunctive boundary slices over EVERY
    * cluster column from a manifest parse ([[ManifestLog.readSliceN]])
    * — the multi-tenant / multi-dimension read pattern a time-only
    * sort cannot prune.
    */
  def clusteredLog(spark: SparkSession, dir: String, name: String,
      cols: Seq[String], targetFileRows: Long,
      bloomCols: Seq[String] = Nil)(build: => DataFrame): String =
    artifact(spark, dir, s"zorder-$name") { out =>
      if (bloomCols.nonEmpty) ParquetBlooms.declare(spark, out, bloomCols)
      ManifestLog.commitClustered(build, out, cols, targetFileRows)
    }

  /** Ingest-pipeline seam: register an externally maintained at-rest
    * layout (e.g. a SEGMENT-APPENDED manifested root — [[ManifestLog]]) as
    * the artifact for (dir, name), replacing any memoized build. This
    * is how the maintenance path and the query path compose: queries
    * consume whatever is at rest under the artifact's key, so an
    * ingest pipeline that appends segments installs the layout root
    * once and no query ever triggers a rebuild. SegmentAppendSpec
    * drives the round-trip: one-shot build and segmented layout answer
    * the TPC-H family hash-identically.
    */
  private[graft] def install(spark: SparkSession, dir: String, name: String,
      path: String): Unit =
    paths.put((dir, name, fingerprint(spark, dir)), new Cell(() => path))

  /** Garbage-collect a corpus dir's artifacts — the disposal end of the
    * lifecycle (build → [[install]] append → [[rebuild]] refresh →
    * gc). When the corpus at `dir` is rewritten, its content
    * fingerprint changes, every artifact rebuilds under the new
    * fingerprint, and the previous fingerprint's roots become
    * unreachable (the memo keys on the current fingerprint) yet occupy
    * disk forever: gc deletes the tmpdir roots whose name carries this
    * dir's hash but a different fingerprint, plus their memo entries.
    * Within the current fingerprint it runs [[ManifestLog.vacuum]] on
    * the roots this memo has built, so generations a [[rebuild]] or a
    * maintenance commit retired leave the disk. Other corpus dirs'
    * artifacts are untouched by construction (the dir hash prefixes
    * every root). Like compaction, gc is an ingest-pipeline operation:
    * it must not run concurrently with a session still reading a
    * superseded generation. Returns what it removed, for the caller's
    * ledger.
    */
  private[graft] def gc(spark: SparkSession, dir: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val fp = fingerprint(spark, dir)
    val tmp = new org.apache.hadoop.fs.Path(System.getProperty("java.io.tmpdir"))
    val fs = tmp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pPrefix = rootPrefix(dir)
    val pKeep = s"$pPrefix$fp-"
    val stale = if (!fs.exists(tmp)) Nil else fs.listStatus(tmp).toSeq
      .map(_.getPath)
      .filter(p => p.getName.startsWith(pPrefix) && !p.getName.startsWith(pKeep))
    stale.foreach(fs.delete(_, true))
    // Only EVALUATED cells count — forcing a lazy cell here would build
    // artifacts as a side effect of gc.
    val built = paths.entrySet().asScala.toSeq
      .filter(e => e.getKey._1 == dir && e.getKey._3 == fp)
      .flatMap(_.getValue.valueIfBuilt).distinct
      .filter(r => new org.apache.hadoop.fs.Path(r).getName.startsWith(pKeep))
    val vacuumed = built.flatMap(r => ManifestLog.vacuum(spark, r).map(f => s"path:$r/$f"))
    // Stale memo cells (same dir, superseded fingerprint) — without
    // this, a session that GCs and then touches a stale-fingerprint
    // key would read a deleted path instead of rebuilding.
    paths.keySet().removeIf { case (d, _, f) => d == dir && f != fp }
    stale.map(p => s"path:$p") ++ vacuumed
  }

  /** Content fingerprint of the corpus dir: md5 over the sorted
    * recursive (path, length, mtime) listing. Cheap relative to any
    * build (one namenode/dirent sweep, no data read).
    */
  private def fingerprint(spark: SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    if (fs.exists(p)) {
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val st = it.next()
        entries += s"${st.getPath}:${st.getLen}:${st.getModificationTime}"
      }
    }
    md5Hex(entries.sorted.mkString("\n")).take(12)
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}

/** One declared query: a Spark implementation plus (when the semantics
  * are ANSI-SQL-expressible) an equivalent DuckDB oracle query over the
  * same tables. Queries with `oracle = None` get a weaker rows-only
  * check from the driver (SURVEY.md §5).
  */
final case class QueryDef(
    name: String,
    oracle: Option[String],
)(val run: (SparkSession, String) => DataFrame)

object QueryDef {
  /** Merge query modules into the SparkEntry contract maps. */
  def toMaps(
      defs: Seq[QueryDef]
  ): (Map[String, (SparkSession, String) => DataFrame], Map[String, String]) = {
    val qs = defs.map(d => d.name -> d.run).toMap
    require(qs.size == defs.size, "duplicate query names")
    val os = defs.collect { case QueryDef(n, Some(sql)) => n -> sql }.toMap
    (qs, os)
  }
}
