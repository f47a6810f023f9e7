package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.perfbench.{Cost, SparkTrace}
import graft.SparkEntry
import graft.perfbench.Harness._

/** `catalog_sf0.1`: the declared queries on a seeded corpus, after
  * `SparkEntry.prepareIndexes`.
  *
  * Setup prepares the configured modules' at-rest artifacts. The warm-up
  * pass runs every roster query once and dumps its result (exactly as
  * `graft.Verify` does) for the DuckDB oracle check that `run.py` runs
  * after this JVM exits. Timed passes then run the roster in a
  * seed-shuffled order, each query forced by a `noop` write, and time the
  * query function (`build`) and the action (`exec`) separately.
  */
final class CatalogWorkload(ctx: Ctx) {
  import ctx._

  private val corpus = conf("corpus")
  private val dumps = conf("dumps")
  private val prepare = conf("prepare").split(",").filter(_.nonEmpty).toSet
  private def lines(path: String) =
    Files.readAllLines(Paths.get(path)).asScala.map(_.trim).filter(_.nonEmpty).toSeq
  private val roster = lines(conf("roster"))
  private val declared = SparkEntry.queries

  val moduleOf: Map[String, String] = Seq(
    "parity" -> graft.queries.Parity.defs,
    "relational" -> graft.queries.Relational.defs,
    "events" -> graft.queries.Events.defs,
    "textops" -> graft.queries.TextOps.defs,
    "similarity" -> graft.queries.Similarity.defs,
  ).flatMap { case (m, defs) => defs.map(_.name -> m) }.toMap

  /** One query execution: build = inside the query function, exec = the
    * forcing action; times in epoch ms. */
  final case class QueryRun(name: String, buildStart: Double, buildEnd: Double,
      execStart: Double, execEnd: Double) {
    def buildS: Double = (buildEnd - buildStart) / 1e3
    def execS: Double = (execEnd - execStart) / 1e3
    def latencyS: Double = buildS + execS
  }

  final case class Pass(index: Int, traced: Boolean, wallS: Double, runs: Seq[QueryRun])

  def run(): Outcome = {
    val (failedModules, prepareS) = spans.timed("setup:prepare") {
      val start = Clock.now()
      val failed = SparkEntry.prepareIndexes(spark, corpus, prepare)
      SparkEntry.lastModuleSeconds.foreach { case (m, s) =>
        spans.add(s"setup:prepare.$m", start, start + s * 1e3, spans.current)
      }
      failed
    }
    val moduleS = SparkEntry.lastModuleSeconds
    prepare.foreach(m => op(!failedModules.contains(m), s"prepare of module $m failed"))
    val readyMs = Clock.now()

    Files.createDirectories(Paths.get(dumps))
    Files.writeString(Paths.get(s"$dumps/oracle_sql.json"), Json(
      roster.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap))
    val warmup = pass(0, traced = listener.isDefined, dump = true)

    // Two passes at least: a third would not fit the run budget on a slow box.
    val passes = timedLoop(2)((i, traced) => pass(i, traced, dump = false))
    val untraced = passes.filter(p => baseline(p.index))
    val tracedPasses = passes.filter(_.traced)
    val layers =
      if (listener.isEmpty) Map.empty[String, Double]
      else medianOf(tracedPasses.map(passLayers)) ++ Map(
        "trace.overhead_s" -> (median(tracedPasses.map(_.wallS)) - median(untraced.map(_.wallS))),
        "setup.corpus_gen_s" -> conf("gen_s").toDouble,
        "setup.prepare_s" -> prepareS,
        "setup.index_build_failed" -> failedModules.size.toDouble,
      ) ++ moduleS.map { case (m, s) => s"setup.prepare.${m}_s" -> s }
    Outcome(readyMs, warmup.wallS, untraced.map(_.wallS),
      untraced.flatMap(_.runs.map(_.latencyS)), layers, traceDetail(warmup +: passes))
  }

  private def pass(i: Int, traced: Boolean, dump: Boolean): Pass = {
    val order = new scala.util.Random(seed * 1000003L + i).shuffle(roster)
    val (runs, wallS) = spans.timed(s"pass:$i") { order.flatMap(runQuery(i, _, traced, dump)) }
    Pass(i, traced, wallS, runs)
  }

  private def runQuery(i: Int, name: String, traced: Boolean, dump: Boolean): Option[QueryRun] =
    declared.get(name) match {
      case None =>
        op(false, s"pinned query $name is not declared")
        None
      case Some(fn) =>
        spans.timed(s"query:$name") {
          try {
            var b0, b1, e0, e1 = 0.0
            val df = scoped(s"p$i/$name/build", traced) {
              spans.timed("build") {
                b0 = Clock.now()
                try fn(spark, corpus) finally b1 = Clock.now()
              }._1
            }
            scoped(s"p$i/$name/exec", traced) {
              spans.timed("exec") {
                e0 = Clock.now()
                try {
                  if (dump) df.coalesce(1).write.mode("overwrite").parquet(s"$dumps/$name")
                  else df.write.format("noop").mode("overwrite").save()
                } finally e1 = Clock.now()
              }
            }
            op(true, "")
            Some(QueryRun(name, b0, b1, e0, e1))
          } catch {
            case NonFatal(e) =>
              op(false, s"$name (pass $i): ${e.getMessage}")
              None
          }
        }._1
    }

  private def costOf(i: Int, runs: Seq[QueryRun], phase: String): Cost = {
    val scopes = runs.map(r => s"p$i/${r.name}/$phase").toSet
    listener.get.total(scopes)
  }

  private def gapS(i: Int, r: QueryRun): Double = {
    val c = costOf(i, Seq(r), "exec")
    SparkTrace.uncovered(r.execStart.toLong, r.execEnd.toLong, c.taskIntervals.toSeq) / 1e3
  }

  /** Per-layer metrics of one traced pass: per query module, and the
    * Spark runtime over the whole pass. */
  private def passLayers(p: Pass): Map[String, Double] = {
    val byModule = p.runs.groupBy(r => moduleOf.getOrElse(r.name, "undeclared"))
    val modules = byModule.flatMap { case (m, runs) =>
      val build = costOf(p.index, runs, "build")
      val exec = costOf(p.index, runs, "exec")
      val pre = s"queries.$m"
      Map(
        s"$pre.build_s" -> runs.map(_.buildS).sum,
        s"$pre.build_jobs" -> build.jobs.toDouble,
        s"$pre.plan_s" -> (build.planMs + exec.planMs) / 1e3,
        s"$pre.exec_s" -> runs.map(_.execS).sum,
        s"$pre.driver_gap_s" -> runs.map(gapS(p.index, _)).sum,
        s"$pre.stages" -> (build.stages + exec.stages).toDouble,
        s"$pre.tasks" -> (build.tasks + exec.tasks).toDouble,
        s"$pre.task_cpu_s" -> (build.cpuNs + exec.cpuNs) / 1e9,
        s"$pre.shuffle_bytes" -> (build.shuffleWrite + exec.shuffleWrite).toDouble,
        s"$pre.scan_files_read" -> (build.filesRead + exec.filesRead).toDouble,
      )
    }
    val all = costOf(p.index, p.runs, "build")
    all.add(costOf(p.index, p.runs, "exec"))
    modules ++ sparkLayer("spark", all, p.runs.map(gapS(p.index, _)).sum)
  }

  /** Per query and traced pass: latency and task count. A result cached
    * across passes shows as a task count that drops after warm-up. */
  private def traceDetail(passes: Seq[Pass]): Any =
    if (listener.isEmpty) Map.empty
    else passes.filter(_.traced).flatMap { p =>
      p.runs.map { r =>
        val c = costOf(p.index, Seq(r), "build")
        c.add(costOf(p.index, Seq(r), "exec"))
        Map("pass" -> p.index, "query" -> r.name, "module" -> moduleOf.getOrElse(r.name, ""),
          "build_s" -> r.buildS, "exec_s" -> r.execS, "tasks" -> c.tasks,
          "stages" -> c.stages, "plan_s" -> c.planMs / 1e3, "driver_gap_s" -> gapS(p.index, r))
      }
    }
}
