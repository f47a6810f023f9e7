package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.util.QueryDef

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are declared in graft.queries.* modules as QueryDefs (Spark
  * implementation + DuckDB oracle SQL); this object just flattens them
  * into the two maps the driver consumes.
  */
object SparkEntry {

  private val allDefs: Seq[QueryDef] =
    _root_.graft.queries.Parity.defs ++
      _root_.graft.queries.Relational.defs ++
      _root_.graft.queries.Events.defs ++
      _root_.graft.queries.TextOps.defs ++
      _root_.graft.queries.Similarity.defs

  private val (queryMap, oracleMap) = QueryDef.toMaps(allDefs)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The movie-KPI pipeline: parse → explode → filter → aggregate → sort
    * (reference transform.py:177-197).
    */
  def entry(spark: SparkSession): DataFrame =
    queryMap("q01_genre_avg_revenue")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = queryMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = oracleMap

  /** Materialize every per-corpus at-rest index artifact the declared
    * queries share: shingle tables, MinHash signatures, the trained IVF
    * assignment, the partitioned/bucketed fact layouts. These are
    * ingest-time constructions a production pipeline pays once per
    * corpus snapshot; building them up front keeps per-query timings
    * comparable (otherwise whichever query sorts first absorbs the
    * build). Queries are correct without this — artifacts lazily build
    * on first use.
    *
    * `only` non-empty restricts the build to those module names — the
    * x10 heavy-slice bench prepares just the modules its roster reads
    * (a derived scale corpus has no embeddings table, and building the
    * similarity family there would be wasted ingest anyway).
    *
    * Returns the names of modules whose prebuild FAILED (empty =
    * healthy) so callers can surface degradation machine-readably —
    * Bench reports it as `index_build_failed` in the JSON line; a
    * stderr-only record disappears in the driver's stdout-tail capture
    * and a degraded build then masquerades as a fast one (the r8
    * signature).
    */
  def prepareIndexes(spark: SparkSession, sfDir: String,
      only: Set[String] = Set.empty): Seq[String] =
    prepareIndexModules(spark, sfDir, Seq(
      "textops" -> (() => _root_.graft.queries.TextOps.prebuildIndexes(spark, sfDir)),
      "similarity" -> (() => _root_.graft.queries.Similarity.prebuildIndexes(spark, sfDir)),
      "relational" -> (() => _root_.graft.queries.Relational.prebuildIndexes(spark, sfDir)),
      "events" -> (() => _root_.graft.queries.Events.prebuildIndexes(spark, sfDir)),
    ).filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, build) =>
      // Chaos hook: -Dgraft.test.poison-module=<name> makes exactly
      // that module's prebuild throw, so the end-to-end degradation
      // path (fault isolation → index_build_failed in the bench JSON →
      // the family's lazy rebuild) can be exercised by a spec against
      // the REAL bench pipeline. The r8 incident was precisely a
      // degraded build masquerading as a fast one; this keeps that
      // signature regression-tested at the harness level, not only in
      // unit isolation.
      if (sys.props.get("graft.test.poison-module").contains(name))
        name -> { () =>
          throw new IllegalStateException(s"chaos: poisoned prebuild module '$name'")
        }
      else name -> build
    })

  /** Run the modules' prebuilds concurrently (the artifact sets are
    * disjoint; each module fans out its own independent chains too),
    * FAULT-ISOLATED per module: one module's broken table must degrade
    * that one family — its queries build lazily or fail individually —
    * not abort every other module's prebuild and poison the whole
    * bench's run-1 timings (the r8 failure mode, where a single
    * events-loader error zeroed index_build_sec for all four modules).
    * Returns the names of modules whose prebuild failed.
    */
  private[graft] def prepareIndexModules(
      spark: SparkSession, sfDir: String,
      modules: Seq[(String, () => Unit)]): Seq[String] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // Fatal throwables (OOM-class) must neither be swallowed NOR hang
    // the barrier: a fatal error escaping a Future body never completes
    // its promise in Scala 2.13 — the thread dies and Await.result
    // parks forever. So every Throwable is caught to keep the barrier
    // live, and the first fatal one is rethrown after it.
    val fatal = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val timings = new java.util.concurrent.ConcurrentHashMap[String, Double]
    val failed = Await.result(
      Future.sequence(modules.map { case (name, build) =>
        Future {
          val t0 = System.nanoTime()
          try {
            try { build(); None }
            finally timings.put(name, (System.nanoTime() - t0) / 1e9)
          }
          catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(
                s"[graft] prebuild '$name' failed — its family degrades, " +
                  s"others proceed: $e")
              Some(name)
            case t: Throwable =>
              System.err.println(s"[graft] prebuild '$name' died FATALLY: $t")
              // Later fatals must not vanish: attach them to the one
              // that will be rethrown (addSuppressed is synchronized).
              if (!fatal.compareAndSet(null, t)) fatal.get().addSuppressed(t)
              Some(name)
          }
        }
      }),
      Duration.Inf).flatten
    if (fatal.get() != null) throw fatal.get()
    // Per-module wall seconds (modules overlap — these are NOT
    // additive), published for the bench JSON so a prepare-phase
    // regression is attributable to its module across rounds.
    import scala.jdk.CollectionConverters._
    lastModuleSeconds = timings.asScala.toMap
    failed
  }

  /** Per-module prepare wall times of the LAST prepareIndexModules
    * call on this JVM — observability only (see above). */
  @volatile private[graft] var lastModuleSeconds: Map[String, Double] = Map.empty
}
