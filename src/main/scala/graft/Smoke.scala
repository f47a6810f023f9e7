package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The dev main. With no args it is the entry contract's smoke check:
  * runs SparkEntry.entry on sf0.001 and asserts rows > 0. The other
  * modes measure or inspect declared queries on any corpus dir; every
  * mode's arguments are checked before a session starts, and a bad
  * invocation throws `IllegalArgumentException(usage)`.
  *
  * A session conf A/B is `SPARK_GRAFT_CONF=k=v,… runMain graft.Smoke
  * --time …` against the same line without the variable.
  */
object Smoke {
  val usage: String =
    """usage: Smoke                                       entry smoke on sf0.001
      |       Smoke <query> [sfDir]                       explain + show one query
      |       Smoke --time <sfDir> <query...>             cold pass, min of 2 warm passes, files planned
      |       Smoke --plan <sfDir> <query...>             executed (post-AQE) plan
      |       Smoke --stages <sfDir> <outDir> <query...>  explain file + per-stage table of a warm pass
      |       Smoke --prepare <sfDir> [module...]         prepare phase only, per-module seconds""".stripMargin

  def main(args: Array[String]): Unit = {
    val run = parse(args)
    val spark = graft.util.Tables.localSession()
    try run(spark) finally spark.stop()
  }

  /** Resolve `args` to the mode to run, without touching Spark: every
    * query name is checked here, before a closure is returned. */
  private[graft] def parse(args: Array[String]): SparkSession => Unit = args.toList match {
    case Nil => entrySmoke
    case "--time" :: dir :: (qs @ _ :: _) => known(qs); time(_, dir, qs)
    case "--plan" :: dir :: (qs @ _ :: _) => known(qs); plan(_, dir, qs)
    case "--stages" :: dir :: out :: (qs @ _ :: _) => known(qs); stages(_, dir, out, qs)
    case "--prepare" :: dir :: modules => prepare(_, dir, modules.toSet)
    case flag :: _ if flag.startsWith("--") => throw new IllegalArgumentException(usage)
    case name :: rest =>
      known(Seq(name)); show(_, name, rest.headOption.getOrElse("/root/testdata/sf0.001"))
  }

  private def known(names: Seq[String]): Unit =
    names.find(n => !SparkEntry.queries.contains(n)).foreach { n =>
      throw new IllegalArgumentException(
        s"unknown query '$n' — see SparkEntry.queries.keys\n$usage")
    }

  private def noop(spark: SparkSession, name: String, sfDir: String): Double = {
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  private def entrySmoke(spark: SparkSession): Unit = {
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"[smoke] entry rows=$n")
    assert(n > 0, "entry returned 0 rows")
    df.show(5, truncate = false)
  }

  private def show(spark: SparkSession, name: String, sfDir: String): Unit = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.explain("formatted")
    df.show(20, truncate = false)
  }

  /** Focused scale measurement, per query: one cold pass (artifact
    * builds + JIT land here, mirroring Bench's prepareIndexes split),
    * then the min of two timed noop-sink evaluations (Bench's
    * full-evaluation + min-of-2 methodology, without dragging the whole
    * roster through a ×k corpus), then the planned-vs-total file counts
    * of the final adaptive plan — an untimed extra execution, since the
    * metrics live on that plan instance.
    */
  private def time(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    names.foreach { name =>
      val cold = noop(spark, name, sfDir)
      println(f"[time] $name cold $cold%.3f sec")
      val sec = math.min(noop(spark, name, sfDir), noop(spark, name, sfDir))
      println(f"[time] $name $sec%.3f sec $sfDir")
      try {
        val (planned, total) =
          graft.util.PlanFiles.filesPlanned(SparkEntry.queries(name)(spark, sfDir))
        println(s"[time] $name files=$planned/$total")
      } catch { case scala.util.control.NonFatal(e) =>
        println(s"[time] $name files=? ($e)")
      }
    }

  /** The EXECUTED (post-AQE) plan: the committed sf0.1 plans say
    * nothing about AQE's strategy picks at ×10/×100. */
  private def plan(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    names.foreach { name =>
      val qe = graft.util.PlanFiles.executeFinal(SparkEntry.queries(name)(spark, sfDir))
      println(s"==== $name (executed, $sfDir) ====")
      println(qe.executedPlan.toString.take(8000))
    }

  /** Only the prepare phase (every module's at-rest artifact fan-out,
    * or just `modules`): the per-module wall seconds here, the
    * per-chain breakdown on stderr from [[graft.util.Chains.runLabeled]]. */
  private def prepare(spark: SparkSession, sfDir: String, modules: Set[String]): Unit = {
    val t0 = System.nanoTime()
    val failed = SparkEntry.prepareIndexes(spark, sfDir, modules)
    val total = (System.nanoTime() - t0) / 1e9
    val mods = SparkEntry.lastModuleSeconds.toSeq.sortBy(-_._2)
      .map { case (m, t) => f"$m=$t%.2f" }.mkString(",")
    println(f"[prep] total $total%.2f s failed=${failed.mkString(",")} modules{$mods}")
  }

  /** A stage's label: the outermost RDD operation scope of each RDD it
    * runs (`Exchange`, `WholeStageCodegen (n)`, `Scan parquet …`), in
    * RDD order. The stage NAME is its call site, which for every
    * AQE-submitted stage is the same submission frame inside
    * `CompletableFuture`, so it cannot tie a row to an operator.
    */
  private def operators(si: org.apache.spark.scheduler.StageInfo): String = {
    val names = si.rddInfos.sortBy(_.id).flatMap(_.scope).map { inner =>
      var s = inner
      while (s.parent.isDefined) s = s.parent.get
      s.name.trim
    }.distinct
    if (names.isEmpty) si.name.takeWhile(_ != '\n') else names.mkString(" / ")
  }

  /** Stage attribution after prepareIndexes, per query:
    *
    *   1. writes `df.explain("formatted")` to `<outDir>/<name>.txt`
    *      (the committed plans/r{N}/ evidence format),
    *   2. runs the query twice through the noop sink (pass 1 warms
    *      JIT/artifacts; pass 2 is the measured run) with a stage
    *      listener attached, and
    *   3. prints a `[stage]` row per stage of the measured run — wall
    *      time, summed task time, executor CPU, input bytes, shuffle
    *      read/write bytes, spill, task count, the stage's operators
    *      ([[operators]]) — plus a `[tasks]`
    *      distribution for stages over 200 task-ms, so the dominant
    *      stage and its cost class (compute vs fetch vs scheduling) is
    *      attributable without the UI.
    */
  private def stages(spark: SparkSession, sfDir: String, out: String, names: Seq[String]): Unit = {
    val outDir = java.nio.file.Paths.get(out)
    java.nio.file.Files.createDirectories(outDir)
    val failed = SparkEntry.prepareIndexes(spark, sfDir)
    if (failed.nonEmpty) System.err.println(s"[probe] prepare FAILED: $failed")

    // Cleared between passes so the rows are exactly the measured run's.
    final case class StageRow(
        id: Int, name: String, tasks: Int, wallMs: Long, taskMs: Long,
        cpuMs: Long, inputMB: Double, shReadMB: Double, shWriteMB: Double,
        spillMB: Double)
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[StageRow]
    // Per-task (stageId, runMs, cpuMs, deserMs, gcMs) rows — the
    // distribution separates "one task compiles / works, rest wait"
    // from "every task pays a fixed cost".
    val taskRows = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, Long, Long)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) taskRows.add((te.stageId, m.executorRunTime,
          m.executorCpuTime / 1000000L, m.executorDeserializeTime, m.jvmGCTime))
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val wall = (for {
          s <- si.submissionTime; c <- si.completionTime
        } yield c - s).getOrElse(-1L)
        rows.add(StageRow(
          si.stageId,
          operators(si).take(90),
          si.numTasks, wall,
          m.executorRunTime, m.executorCpuTime / 1000000L,
          m.inputMetrics.bytesRead / 1e6,
          m.shuffleReadMetrics.remoteBytesRead / 1e6 +
            m.shuffleReadMetrics.localBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6))
      }
    })

    import scala.jdk.CollectionConverters._
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val explained = {
        val buf = new java.io.ByteArrayOutputStream()
        Console.withOut(new java.io.PrintStream(buf)) { df.explain("formatted") }
        buf.toString("UTF-8")
      }
      java.nio.file.Files.write(outDir.resolve(s"$name.txt"),
        explained.getBytes(java.nio.charset.StandardCharsets.UTF_8))

      spark.sparkContext.setJobDescription(s"probe:$name warm")
      val warmSec = noop(spark, name, sfDir)
      rows.clear()
      taskRows.clear()
      spark.sparkContext.setJobDescription(s"probe:$name measured")
      val sec = noop(spark, name, sfDir)
      // Listener events are posted asynchronously; a short sleep lets
      // the bus drain (listenerBus is private[spark]; stage-completed
      // events for a finished job arrive within milliseconds).
      Thread.sleep(400)
      spark.sparkContext.setJobDescription(null)
      val rs = rows.asScala.toSeq.sortBy(-_.taskMs)
      println(f"[probe] $name measured=$sec%.3f s (warm pass $warmSec%.3f s), ${rs.size} stages")
      val byStage = taskRows.asScala.toSeq.groupBy(_._1)
      rs.foreach { r =>
        println(f"[stage] ${r.taskMs}%7d taskMs ${r.cpuMs}%7d cpuMs " +
          f"${r.wallMs}%6d wallMs ${r.tasks}%4d tasks " +
          f"${r.inputMB}%8.1f inMB ${r.shReadMB}%7.2f shrMB ${r.shWriteMB}%7.2f shwMB " +
          f"${r.spillMB}%6.1f spillMB  s${r.id} ${r.name}")
        byStage.get(r.id).filter(_ => r.taskMs > 200).foreach { ts =>
          val run = ts.map(_._2).sorted
          val cpu = ts.map(_._3).sorted
          val gc = ts.map(_._5).sum
          val deser = ts.map(_._4).sum
          def pct(xs: Seq[Long], p: Double) = xs((p * (xs.size - 1)).toInt)
          println(f"[tasks]   s${r.id} run(min/med/max)=${pct(run, 0)}/${pct(run, 0.5)}/${pct(run, 1.0)} " +
            f"cpu=${pct(cpu, 0)}/${pct(cpu, 0.5)}/${pct(cpu, 1.0)} gcSum=$gc deserSum=$deser")
        }
      }
    }
  }
}
