package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** The executed (final adaptive) plan of a query, shared by the mains
  * that inspect one: `Smoke --plan/--time`, the bench's scale sections
  * (planned-vs-total file counts of the parquet scans) and
  * `PlanAudit exec` (node counts). The walk must recurse through AQE
  * wrappers explicitly: `QueryStageExec` holds its plan as a MEMBER,
  * not a child, so a children-only traversal stops dead at every stage
  * boundary and reports zero scans.
  */
object PlanFiles {

  /** Run `df`'s OWN plan instance to completion, discarding its rows,
    * and return that instance: its adaptive plan is then final
    * (`isFinalPlan=true`, AQE's stage reuse and re-plans visible) and
    * its SQL metrics are populated. A `df.write` would plan and run a
    * separate instance, leaving this one at its initial plan.
    */
  def executeFinal(df: DataFrame): QueryExecution = {
    val qe = df.queryExecution
    qe.executedPlan.execute().foreachPartition(
      (_: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => ())
    qe
  }

  /** Execute `df` (untimed — metrics live on the executed plan
    * instance) and return (files planned, files in the scanned
    * relations). "Total" counts the relations' own file listings: for
    * a driver-narrowed read (readKeyed) the admission already happened
    * before the relation was built, so callers citing a layout-wide
    * denominator should pair this with the layout's live file count.
    */
  def filesPlanned(df: DataFrame): (Long, Long) = {
    val ss = finalNodes(executeFinal(df).executedPlan)
      .collect { case sc: FileSourceScanExec => sc }
    val planned = ss.flatMap(_.metrics.get("numFiles").map(_.value)).sum
    val total = ss.map(_.relation.location.inputFiles.length.toLong).sum
    (planned, total)
  }

  /** Every node of an executed plan, each once: an adaptive plan
    * contributes its current physical plan (the final one, once run —
    * its tree string would also print the initial plan), a query stage
    * the plan it ran, and every node its subqueries. A reused exchange
    * is a leaf, so a reused subtree is not walked twice.
    */
  def finalNodes(pl: SparkPlan): Seq[SparkPlan] = (pl match {
    case a: AdaptiveSparkPlanExec => finalNodes(a.executedPlan)
    case q: QueryStageExec => q +: finalNodes(q.plan)
    case other => other +: other.children.flatMap(finalNodes)
  }) ++ pl.subqueries.flatMap(finalNodes)
}
