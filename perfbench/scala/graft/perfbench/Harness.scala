package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbench.{Cost, SparkTrace}

/** JVM side of the benchmark: one workload, one seed, one process.
  *
  * Usage (normally via `perfbench/run.py`):
  * `Harness workload=<name> seed=<n> seconds=<s> trace=<0|1> run=<dir> out=<file> cpus=<n> ...`
  *
  * A single client drives the program in a closed loop: an untimed
  * warm-up pass, then timed passes until `seconds` have elapsed. With
  * `trace=1` a [[SparkTrace]] listener is registered and the timed passes
  * alternate untraced/traced (U T T U ...), so the same JVM measures the
  * tracing overhead; per-layer metrics come from the traced passes only.
  * The result (timings, operation counts, per-layer metrics) is written
  * as JSON to `out`, the spans to `spans`.
  */
object Harness {

  final class Ctx(val conf: Map[String, String], val spark: SparkSession,
      val spans: Spans, val listener: Option[SparkTrace]) {
    val seed: Long = conf("seed").toLong
    val seconds: Double = conf("seconds").toDouble
    val runDir: String = conf("run")
    var attempted = 0L
    var failed = 0L
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]

    def op(ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; failures += what }
    }

    /** The timed loop: passes 1, 2, ... until `seconds` have elapsed, and
      * at least `minPasses`. With tracing on, pass 1 only settles the JVM
      * (it still pays for JIT compilation) and the rest alternate
      * untraced/traced in the ABBA order U T T U U T ..., which cancels a
      * linear drift between the two kinds; at least one ABBA block is
      * run. `body` gets the pass index and whether that pass is traced. */
    def timedLoop[T](minPasses: Int)(body: (Int, Boolean) => T): Seq[T] = {
      val start = Clock.now()
      val min = if (listener.isDefined) 5 else minPasses
      val out = scala.collection.mutable.ArrayBuffer.empty[T]
      while (out.size < min || (Clock.now() - start) / 1e3 < seconds)
        out += body(out.size + 1, traced(out.size + 1))
      out.toSeq
    }

    def traced(i: Int): Boolean = listener.isDefined && i > 1 && (i % 4 == 3 || i % 4 == 0)

    /** Untraced passes that serve as the tracing-overhead baseline. */
    def baseline(i: Int): Boolean = !traced(i) && (listener.isEmpty || i > 1)

    /** Run `body` with Spark work attributed to `scope`. The listener bus
      * is drained before and after, so no event of earlier (untraced) work
      * lands in this scope and none of this scope leaks into the next. */
    def scoped[T](scope: String, on: Boolean)(body: => T): T = listener match {
      case Some(l) if on =>
        SparkTrace.drain(spark.sparkContext)
        l.scope = scope; l.enabled = true
        try body finally {
          SparkTrace.drain(spark.sparkContext)
          l.enabled = false; l.scope = "unscoped"
        }
      case _ => body
    }
  }

  def main(args: Array[String]): Unit = {
    val conf = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spans = new Spans(conf("trace") == "1")
    val cpus = conf("cpus")
    val (spark, sessionS) = spans.timed("setup:session") {
      graft.util.Tables.withSessionConf(
        SparkSession.builder()
          .master(s"local[$cpus]")
          .appName("graft-perfbench")
          .config("spark.sql.shuffle.partitions", cpus)
          .config("spark.ui.enabled", "false")
          .config("spark.local.dir", s"${conf("run")}/spark-local")
      ).getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    val listener = if (spans.enabled) {
      val l = new SparkTrace
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    val ctx = new Ctx(conf, spark, spans, listener)
    val calibStart = if (spans.enabled) calibrate(cpus.toInt) else 0.0
    val result =
      try conf("workload") match {
        case "movie_pipeline" => new PipelineWorkload(ctx).run()
        case "catalog_sf0.1" => new CatalogWorkload(ctx).run()
      } finally spark.stop()
    val calibEnd = if (spans.enabled) calibrate(cpus.toInt) else 0.0

    val gcS = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
    val layers = result.layers ++ (if (spans.enabled) Map(
      "setup.session_s" -> sessionS,
      "jvm.gc_s" -> gcS,
      "jvm.peak_rss_mb" -> peakRssMb,
      "box.calib_s" -> (calibStart + calibEnd) / 2,
    ) else Map.empty)
    val out = Map(
      "jvm_to_ready_s" -> (result.readyMs - jvmStart) / 1e3,
      "warmup_s" -> result.warmupS,
      "passes_s" -> result.passesS,
      "latencies_s" -> result.latenciesS,
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "failures" -> ctx.failures,
      "declared" -> graft.SparkEntry.queries.keys.toSeq.sorted,
      "layers" -> layers,
    )
    Files.writeString(Paths.get(conf("out")), Json(out))
    if (spans.enabled) {
      val selfS = spans.selfSeconds
      Files.writeString(Paths.get(conf("spans")), Json(Map(
        "run" -> s"${conf("workload")}-${conf("seed")}",
        "spans" -> spans.all.map(s => Map(
          "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "start_ms" -> s.start, "end_ms" -> s.end)),
        "self_s" -> selfS.map { case (s, v) => Map("id" -> s.id, "name" -> s.name, "self_s" -> v) },
        "detail" -> result.traceDetail,
      )))
    }
  }

  /** Wall seconds of a fixed CPU job on `threads` threads, outside Spark,
    * run at the start and the end of a traced run. It tracks the box's
    * speed, so a slow run on a busy box can be told from a slow plan. */
  private def calibrate(threads: Int): Double = {
    val sink = new java.util.concurrent.atomic.AtomicLong
    val t0 = System.nanoTime()
    val workers = (1 to threads).map { k =>
      val t = new Thread(() => {
        var x = k.toLong
        var i = 0
        while (i < 200000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
        sink.addAndGet(x)
      })
      t.start()
      t
    }
    workers.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  private def peakRssMb: Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    catch { case scala.util.control.NonFatal(_) => 0.0 }

  /** What a workload hands back to [[main]]. */
  final case class Outcome(readyMs: Double, warmupS: Double, passesS: Seq[Double],
      latenciesS: Seq[Double], layers: Map[String, Double], traceDetail: Any)

  /** Median of a non-empty sample; 0 for an empty one. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Spark runtime metrics of one span of work, under `prefix`. */
  def sparkLayer(prefix: String, c: Cost, gapS: Double): Map[String, Double] = Map(
    s"$prefix.jobs" -> c.jobs.toDouble,
    s"$prefix.stages" -> c.stages.toDouble,
    s"$prefix.tasks" -> c.tasks.toDouble,
    s"$prefix.plan_s" -> c.planMs / 1e3,
    s"$prefix.driver_gap_s" -> gapS,
    s"$prefix.task_run_s" -> c.runMs / 1e3,
    s"$prefix.task_cpu_s" -> c.cpuNs / 1e9,
    s"$prefix.task_gc_s" -> c.gcMs / 1e3,
    s"$prefix.shuffle_write_bytes" -> c.shuffleWrite.toDouble,
    s"$prefix.shuffle_read_bytes" -> c.shuffleRead.toDouble,
    s"$prefix.spill_bytes" -> c.spill.toDouble,
    s"$prefix.input_bytes" -> c.input.toDouble,
    s"$prefix.output_bytes" -> c.output.toDouble,
    s"$prefix.scan_files_read" -> c.filesRead.toDouble,
    s"$prefix.scan_files_total" -> c.filesTotal.toDouble,
  )

  /** Per-key median over several maps of the same keys. */
  def medianOf(maps: Seq[Map[String, Double]]): Map[String, Double] =
    maps.flatMap(_.keys).distinct.map(k => k -> median(maps.flatMap(_.get(k)))).toMap
}
