package org.apache.spark.sql.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Work Spark did for one scope or one SQL execution: job, stage and
  * task counts, summed task metrics, and the task intervals that
  * driver-gap arithmetic subtracts from a wall-clock span.
  */
final class Cost {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, input, output = 0L
  var planMs, filesRead, filesTotal = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(o: Cost): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; input += o.input; output += o.output
    planMs += o.planMs; filesRead += o.filesRead; filesTotal += o.filesTotal
    taskIntervals ++= o.taskIntervals
  }
}

/** One SQL execution as the listener bus reports it. `description` is
  * Spark's call-site label (e.g. `count at MoviePipeline.scala:57`);
  * with the written path and the scanned roots of its final plan it
  * classifies pipeline actions from outside the program.
  */
final class Execution(val id: Long, val scope: String, val description: String,
    val startMs: Long) {
  var endMs: Long = startMs
  var writePath: Option[String] = None
  var scanRoots: Seq[String] = Nil
  val cost = new Cost
}

/** Listener that attributes Spark work to the benchmark's current scope.
  *
  * The benchmark is a single sequential client: it sets [[scope]] before
  * each call into the program and [[drain]]s the listener bus after it,
  * so every event processed while a scope is set belongs to that scope.
  * Planning time comes from each execution's `QueryPlanningTracker`
  * (analysis + optimization + planning) and scan file counts from the
  * `numFiles` metric of the final (post-AQE) plan's file scans.
  */
final class SparkTrace extends SparkListener {
  @volatile var enabled = false
  @volatile var scope = "unscoped"

  val scopes = mutable.LinkedHashMap.empty[String, Cost]
  val executions = mutable.LinkedHashMap.empty[Long, Execution]
  private val stageOwner = mutable.HashMap.empty[Int, (Cost, Option[Execution])]

  private def scopeCost(s: String) = scopes.getOrElseUpdate(s, new Cost)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val sc = scopeCost(scope)
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => executions.get(id.toLong))
    sc.jobs += 1
    exec.foreach(_.cost.jobs += 1)
    e.stageIds.foreach(stageOwner(_) = (sc, exec))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (enabled) stageOwner.get(e.stageInfo.stageId).foreach { case (sc, exec) =>
      sc.stages += 1
      exec.foreach(_.cost.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
    val owner = stageOwner.getOrElse(e.stageId, (scopeCost(scope), None))
    val m = e.taskMetrics
    (owner._1 +: owner._2.map(_.cost).toSeq).foreach { c =>
      c.tasks += 1
      c.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        c.spill += m.diskBytesSpilled
        c.input += m.inputMetrics.bytesRead
        c.output += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = if (enabled) e match {
    case s: SparkListenerSQLExecutionStart =>
      executions(s.executionId) =
        new Execution(s.executionId, scope, s.description, s.time)
    case end: SparkListenerSQLExecutionEnd =>
      executions.get(end.executionId).foreach { x =>
        x.endMs = end.time
        Option(end.qe).foreach { qe =>
          val phases = qe.tracker.phases
          val plan = Seq("analysis", "optimization", "planning")
            .flatMap(phases.get).map(_.durationMs).sum
          val all = nodes(qe.executedPlan)
          val scans = all.collect { case s: FileSourceScanExec => s }
          val read = scans.flatMap(_.metrics.get("numFiles").map(_.value)).sum
          val total = scans.map(_.relation.location.inputFiles.length.toLong).sum
          x.scanRoots = scans.flatMap(_.relation.location.rootPaths.map(_.toString))
          x.writePath = all.collectFirst {
            case DataWritingCommandExec(i: InsertIntoHadoopFsRelationCommand, _) => i.outputPath.toString
          }
          for (c <- Seq(x.cost, scopeCost(x.scope))) {
            c.planMs += plan; c.filesRead += read; c.filesTotal += total
          }
        }
      }
    case _ =>
  }

  /** Every node of an executed plan, through AQE stages and subqueries
    * (a query stage holds its plan as a member, not a child). */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: ((p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other.children.flatMap(nodes)
  }) ++ p.subqueries.flatMap(nodes))

  /** Sum of the costs of every scope the predicate accepts. */
  def total(pred: String => Boolean): Cost = {
    val c = new Cost
    scopes.collect { case (s, v) if pred(s) => c.add(v) }
    c
  }

  def executionsIn(pred: String => Boolean): Seq[Execution] =
    executions.values.filter(x => pred(x.scope)).toSeq.sortBy(_.startMs)
}

object SparkTrace {
  /** Block until every posted event has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Milliseconds of [from, to] not covered by any of the intervals. */
  def uncovered(from: Long, to: Long, intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = from
    intervals.map { case (a, b) => (a max from, b min to) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - (a max reach); reach = b }
      }
    (to - from) - covered
  }
}
